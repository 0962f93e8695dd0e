package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** Offline IVF codebook trainer — emits the frozen-centroid fixture
  * [[graft.ext.Similarity.frozenCentroids]] loads (TSV: `cluster <TAB>
  * space-separated Double.toString components`, ids 0..k-1 in order).
  *
  * Training is [[Similarity.trainCodebook]] verbatim (deterministic
  * lowest-id init + fixed Lloyd iterations over the id-hash-bounded
  * sample), run once here and committed, never at query time — the
  * production IVF deployment shape (codebooks are trained offline and
  * served frozen; appends never retrain). Freezing is also what makes the
  * partial-probe x67 oracle possible: with centroid LITERALS, assignment,
  * probe selection, and the exact re-rank are pure arithmetic both Spark
  * and DuckDB can compute bit-identically, where a query-time-trained
  * codebook is only verifiable in the full-probe ≡ brute-force
  * configuration. `Double.toString` is the shortest round-trip decimal,
  * so the loader (and the SQL literal) reconstructs the exact trained
  * doubles.
  *
  * Usage: runMain graft.tools.IvfCentroidsTrain <sfDir> <outFile> <k> <iters>
  */
object IvfCentroidsTrain {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: IvfCentroidsTrain <sfDir> <outFile> <k> <iters>")
    val Array(sfDir, outFile, kS, itersS) = args
    val (k, iters) = (kS.toInt, itersS.toInt)
    val spark = graft.GraftSession.local("graft-ivf-train")
    import spark.implicits._
    // the ivfBuild input contract: integral id, defined-cosine vectors only
    val vecs = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
      .filter(Similarity.norm(col("v")) > 0 &&
        Similarity.norm(col("v")) < lit(Double.PositiveInfinity))
      .as[(Long, Array[Float])]
    val cents = Similarity.trainCodebook(vecs, k, iters)
    val out = new java.io.PrintWriter(outFile, "UTF-8")
    try cents.zipWithIndex.foreach { case (c, i) =>
      out.println(s"$i\t${c.map(_.toString).mkString(" ")}")
    } finally out.close()
    println(s"wrote ${cents.length} centroids of dim ${cents(0).length} to $outFile")
    spark.stop()
  }
}
