package graft.tools

/** Dump `.explain("formatted")` for named [[graft.SparkEntry.queries]]
  * entries to text files — the optimization rounds' plan-evidence artifact
  * (`plans/r{N}/<query>_{before,after}.txt`). The session is
  * [[graft.Bench.session]], so the captured plan is the plan the bench
  * times.
  *
  * Usage: `runMain graft.tools.DumpPlans <sfDir> <outDir> <suffix> q1 [q2 …]`
  * writes `<outDir>/<q>_<suffix>.txt` per query.
  *
  * Queries whose declared body runs a stateful protocol and returns a
  * scratch-parquet read-back (x30/x31/x33/x39/x49/x50/x72…) would dump a
  * bare scan here; their internal plan shapes are pinned by PlanSpec and
  * their cost is split per stage by the [[graft.ProbeTiming]] collector
  * (`ProbeQueries` prints it), so this tool is most useful for the pure
  * batch queries.
  *
  * A cached relation prints as its initial plan while the cache is empty
  * and as its finished adaptive plan (query-stage nodes, AQE-reoptimised
  * joins) once a job has filled it. A change that runs a job ahead of the
  * final plan therefore reads as a plan change in `tools/plan_diff.py`
  * even where the query's own operators are unchanged.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    // arity check BEFORE indexing (r17 ADVICE): too few args must print the
    // documented usage, not an ArrayIndexOutOfBoundsException
    require(args.length >= 4,
      "usage: runMain graft.tools.DumpPlans <sfDir> <outDir> <suffix> q1 [q2 …]")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"DumpPlans: unknown queries ${unknown.mkString(", ")}")
    val spark = graft.Bench.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    try names.foreach { n =>
      graft.Caching.release(spark)
      spark.catalog.clearCache()
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), plan)
      println(s"DUMPED $n -> $outDir/${n}_$suffix.txt")
    } finally {
      graft.Caching.release(spark)
      spark.stop()
    }
  }
}
