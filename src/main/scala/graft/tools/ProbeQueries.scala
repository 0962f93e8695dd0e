package graft.tools

/** PERMANENT perf-attribution tool (the successor to the round-11
  * throwaway ProbeQ): times named [[graft.SparkEntry.queries]] entries in a
  * fresh JVM, isolated from the bench harness's ordering and cache effects.
  * Each query runs `runs` times (default 3), with the bench's per-run
  * isolation (scoped-cache release + SQL cache clear) between runs;
  * `GRAFT_PROBE_TIMING=1` additionally prints the SUBPROBE stage lines
  * from [[graft.ProbeTiming]] hooks, fed with a per-JVM Spark job counter
  * registered here.
  *
  * The session is [[graft.Bench.session]], so probe floors are admissible
  * §8.4 evidence against bench medians. One difference remains, and it
  * biases probes SLOWER, never faster: the probe materializes to parquet
  * (so `tools/check_oracle.py <sfDir> <outDir>` can verify the dump — the
  * tool's second job) where the bench uses a noop sink. A probe floor at or
  * below the prior official median is conclusive; a floor ABOVE it may
  * still be the write path.
  *
  * Usage: `sbt "runMain graft.tools.ProbeQueries <sfDir> <outDir> q1 [q2 …]"`
  * — output dirs are named WITHOUT a .parquet suffix so
  * tools/check_oracle.py can verify the dumps when pointed at outDir.
  */
object ProbeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    // unknown names fail BEFORE minutes of valid queries run (Map.apply
    // mid-loop killed the whole probe after the typo's predecessors ran)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"ProbeQueries: unknown queries ${unknown.mkString(", ")} — valid names " +
        s"are in SparkEntry.queries (e.g. ${graft.SparkEntry.queries.keys.take(3).mkString(", ")})")
    val runs = sys.env.getOrElse("GRAFT_PROBE_RUNS", "3").toInt
    val spark = graft.Bench.session()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        graft.ProbeTiming.jobs.incrementAndGet(); ()
      }
    })
    // exact job attribution: flush the async listener bus before each
    // SUBPROBE counter read (see ProbeTiming.drain). listenerBus is
    // private[spark]; resolved reflectively, degrading to no-drain
    // (approximate counts) if a Spark upgrade moves it.
    graft.ProbeTiming.drain =
      try {
        val sc = spark.sparkContext
        val busM = sc.getClass.getMethod("listenerBus")
        val bus = busM.invoke(sc)
        val wait = bus.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        wait match {
          case Some(m) => () => { try m.invoke(bus) catch { case _: Exception => () }; () }
          case None => () => ()
        }
      } catch { case _: Throwable => () => () }
    try {
      // the filtered oracle dump makes the output directory directly
      // verifiable: python3 tools/check_oracle.py <sfDir> <outDir>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.createObjectNode()
      names.foreach(n => graft.SparkEntry.oracleSql.get(n).foreach(node.put(n, _)))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, "oracle_sql.json"), node.toString)
      names.foreach { n =>
        (1 to runs).foreach { run =>
          // the bench's per-run isolation: no run inherits another's
          // scoped persists or SQL cache (warm runs otherwise flatter the
          // probe relative to the bench's fully isolated runs)
          graft.Caching.release(spark)
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(n)(spark, sfDir)
            .write.mode("overwrite").parquet(s"$outDir/$n")
          println(f"PROBE $n run$run ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        graft.Caching.release(spark)
      }
    } finally spark.stop()
  }
}
