package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** Straight-line reference models for the similarity specs: the exact
  * definitions the production scale paths are checked against. No query
  * runs them, so they live in the test tree.
  */
object SimilarityReference {

  /** One verified pair: (d1, d2, inter_cnt, union_cnt, jaccard), the row
    * shape of every Dedup pair operator.
    */
  type Pair = (Long, Long, Long, Long, Double)

  /** MinHash-LSH over an (id, shingle) frame. Each id's shingles merge into
    * ONE set (duplicate ids union), which the production scalar
    * `graft_minhash_bands` bands; candidates and the verify then run in
    * plain Scala collections. A pair is a candidate when it shares any
    * (band, band_key) and is kept when its exact Jaccard meets `threshold`.
    * Pairs come out with d1 < d2.
    */
  def minHashPairs(shingles: DataFrame, threshold: Double,
                   numHashes: Int = 64, bandSize: Int = 2): Set[Pair] = {
    val sets = bandedSets(shingles, numHashes, bandSize)
    verify(sets, sets, threshold).filter(p => p._1 < p._2)
  }

  /** [[minHashPairs]] between two frames: (corpus_id, ref_id, ...) with no
    * canonicalization, because the two id spaces are separate.
    */
  def minHashCrossPairs(corpusShingles: DataFrame, refShingles: DataFrame,
                        threshold: Double, numHashes: Int = 64,
                        bandSize: Int = 2): Set[Pair] =
    verify(bandedSets(corpusShingles, numHashes, bandSize),
      bandedSets(refShingles, numHashes, bandSize), threshold)

  /** id → (shingle set, band keys). */
  private def bandedSets(shingles: DataFrame, numHashes: Int,
                         bandSize: Int): Map[Long, (Set[String], Seq[Long])] = {
    graft.functions.GraftFunctions.register(shingles.sparkSession)
    shingles.groupBy("id").agg(array_distinct(collect_list(col("shingle"))).as("ss"))
      .select(col("id"), col("ss"),
        call_function("graft_minhash_bands", col("ss"), lit(numHashes), lit(bandSize)))
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[String](1).toSet, r.getSeq[Long](2)))
      .toMap
  }

  private def verify(a: Map[Long, (Set[String], Seq[Long])],
                     b: Map[Long, (Set[String], Seq[Long])],
                     threshold: Double): Set[Pair] = {
    def keyed(sets: Map[Long, (Set[String], Seq[Long])]): Seq[((Int, Long), Long)] =
      sets.toSeq.flatMap { case (id, (_, bk)) =>
        bk.zipWithIndex.map { case (key, band) => (band, key) -> id } }
    val byKey = keyed(b).groupMap(_._1)(_._2)
    val candidates = keyed(a).flatMap { case (key, x) =>
      byKey.getOrElse(key, Nil).map(y => (x, y)) }.toSet
    candidates.flatMap { case (x, y) =>
      val (sx, sy) = (a(x)._1, b(y)._1)
      val inter = sx.intersect(sy).size.toLong
      val union = sx.size + sy.size - inter
      if (inter.toDouble >= threshold * union)
        Some((x, y, inter, union, inter.toDouble / union))
      else None
    }
  }

  /** All pairs with cosine >= threshold, ids only: (vec_id_a, vec_id_b)
    * with a < b. The O(n²/2) exact baseline for the cosine LSH and IVF
    * paths. Vectors without a positive finite norm drop, like every
    * production cosine path: `dot >= t*na*nb` would pass a zero-norm
    * vector (0 >= 0) where a cosine division yields NaN.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    import Similarity.{dot, norm}
    graft.functions.GraftFunctions.register(df.sparkSession)
    val withNorm = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
      .filter(col("nrm") > 0 && col("nrm") < lit(Double.PositiveInfinity))
    val a = withNorm.toDF("id_a", "va", "na")
    val b = withNorm.toDF("id_b", "vb", "nb")
    a.join(b, col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) >= lit(threshold) * col("na") * col("nb"))
      .select(col("id_a").as("vec_id_a"), col("id_b").as("vec_id_b"))
  }

  /** `Similarity.ivfPqQuery` as the two passes it used to run: the
    * `graft_topk` ADC shortlist of `overfetch` ids per query over the same
    * candidate rows, exploded and joined back to a second scan of the
    * assignments' (id, v, nrm), exact cosine against the query vector
    * (norm computed in Spark), and `graft_topk` down to k with ranks.
    */
  def ivfPqTwoPass(queries: DataFrame, idCol: String, vecCol: String,
                   index: Similarity.IvfPqIndex, k: Int, nProbe: Int,
                   overfetch: Int): DataFrame = {
    import Similarity.{dot, norm}
    val spark = queries.sparkSession
    val shortlist = Similarity.ivfPqCandidates(queries, idCol, vecCol, index, nProbe)
      .select(col("query_id"), col("id").as("nbr_id"),
        (call_function("graft_pq_adc", col("lut"), col("codes")) /
          (col("qnrm") * col("nrm"))).as("adc_cos"))
      .groupBy("query_id")
      .agg(call_function("graft_topk", col("adc_cos"), col("nbr_id"), lit(overfetch)).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("s"))
      .select(col("query_id"), col("s.nbr_id").as("nbr_id"))
    val cv = spark.table(index.assignmentsTable)
      .select(col("id").as("nbr_id"), col("v").as("cv"), col("nrm").as("cn"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"))
      .filter(col("qn") > 0 && col("qn") < lit(Double.PositiveInfinity))
    shortlist.join(cv, Seq("nbr_id")).join(broadcast(qv), Seq("query_id"))
      .groupBy("query_id")
      .agg(call_function("graft_topk", dot(col("qv"), col("cv")) / (col("qn") * col("cn")),
        col("nbr_id"), lit(k)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("s.nbr_id").as("nbr_id"), col("s.cos").as("cos"))
  }
}
