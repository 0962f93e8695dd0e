package graft.tools

/** PERMANENT perf-attribution tool (the successor to the round-11
  * throwaway ProbeQ): times named [[graft.SparkEntry.queries]] entries in a
  * fresh JVM, isolated from the bench harness's ordering and cache effects.
  * Each query runs `runs` times (default 3), with the bench's per-run
  * isolation (scoped-cache release + SQL cache clear) between runs.
  * Each run is wrapped in [[graft.ProbeTiming.measure]], and one `STAGE`
  * line is printed per tag the run touched, with the run's share of each
  * [[graft.ProbeTiming.Fields]] counter.
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
    try {
      // the filtered oracle dump makes the output directory directly
      // verifiable: python3 tools/check_oracle.py <sfDir> <outDir>
      graft.Verify.writeOracleSql(outDir, names)
      names.foreach { n =>
        (1 to runs).foreach { run =>
          // the bench's per-run isolation: no run inherits another's
          // scoped persists or SQL cache (warm runs otherwise flatter the
          // probe relative to the bench's fully isolated runs)
          graft.Caching.release(spark)
          spark.catalog.clearCache()
          val (_, moved) = graft.ProbeTiming.measure(spark) {
            val t0 = System.nanoTime()
            graft.SparkEntry.queries(n)(spark, sfDir)
              .write.mode("overwrite").parquet(s"$outDir/$n")
            println(f"PROBE $n run$run ${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
          moved.toSeq.sortBy(_._1).foreach { case (tag, d) =>
            println(f"STAGE $n run$run $tag%-22s " + d.map { case (k, v) => s"$k=$v" }.mkString(" "))
          }
        }
        graft.Caching.release(spark)
      }
    } finally spark.stop()
  }
}
