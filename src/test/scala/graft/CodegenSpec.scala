package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every custom scalar expression with a `doGenCode` must actually COMPILE
  * under janino — Spark's default CODEGEN_AND_FALLBACK silently drops to
  * the interpreted path on a compile error, so a codegen bug costs an
  * order of magnitude on the hot path while every result-only test stays
  * green (exactly how BloomMightContain's mis-referenced mutable state —
  * addMutableState freshens and RETURNS the field name; we referenced a
  * separately-freshened one — survived five rounds). fallback=false turns
  * that silent downgrade into a test failure, and the NO_CODEGEN
  * comparison pins that both paths agree value-for-value.
  *
  * The rows come from spark.range, NOT a local Seq: ConvertToLocalRelation
  * folds Project-over-LocalRelation with an INTERPRETED projection at
  * optimization time, so a Seq-sourced test never reaches codegen at all
  * (measured — the broken bloom state passed such a test).
  */
class CodegenSpec extends SparkSpec {

  /** One row set wide enough to exercise every registered scalar kernel:
    * id-derived text (with repetition and multi-byte chars) and a
    * 3-dim float vector.
    */
  private lazy val base: DataFrame =
    spark.range(1, 5).select(
      col("id"),
      concat(lit("the quick brown fox fox fox ääkköset tok"), col("id"),
        lit(" jumps over the lazy dog")).as("text"),
      array((col("id") * 0.5d).cast("float"), lit(-1.25f),
        (col("id") * col("id")).cast("float")).as("vec"))

  /** All scalar graft expressions in one projection; the bloom blob and
    * PQ/NCM model columns are literals, the intended plan shape.
    */
  private def kernels(df: DataFrame): DataFrame = {
    val blob = {
      import spark.implicits._
      Seq(1L, 2L, 3L).toDF("h")
        .select(call_function("graft_bloom", col("h"), lit(256), lit(4)))
        .head().getAs[Array[Byte]](0)
    }
    df.select(
      col("id"),
      call_function("graft_dot", col("vec"), col("vec")).as("dot"),
      call_function("kafka_murmur2", col("text").cast("binary")).as("m2"),
      call_function("graft_srp_sig", col("vec"), lit(16)).as("srp"),
      call_function("graft_minhash_bands",
        split(col("text"), " "), lit(8), lit(2)).as("bands"),
      call_function("graft_simhash", col("text"), lit(48)).as("sim"),
      call_function("graft_fingerprints", col("text"), lit(3), lit(4)).as("fp"),
      call_function("graft_repetition", col("text")).as("rep"),
      call_function("graft_bloom_contains", lit(blob), col("id")).as("bloom"),
      call_function("graft_pq_adc",
        array((0 until 512).map(i => lit(i * 0.25)): _*),
        lit(Array[Byte](3, 7))).as("adc"),
      call_function("graft_ncm_argmax", col("vec"),
        array(lit(0), lit(1)),
        array((0 until 6).map(i => lit(i.toDouble)): _*)).as("ncm"),
      call_function("graft_bpe_count", col("text"), lit("graft/bpe")).as("bpec"),
      call_function("graft_bpe_ids", col("text"), lit("graft/bpe")).as("bpei"))
  }

  private def withCodegenConf[A](factoryMode: String, wholeStage: Boolean)(f: => A): A = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback",
      "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set(keys(0), factoryMode)
    spark.conf.set(keys(1), "false")
    spark.conf.set(keys(2), wholeStage.toString)
    try f finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("every custom scalar kernel compiles under codegen and matches the interpreted path") {
    val generated = withCodegenConf("CODEGEN_ONLY", wholeStage = true)(runAll())
    val interpreted = withCodegenConf("NO_CODEGEN", wholeStage = false)(runAll())
    assert(generated.nonEmpty)
    assert(generated == interpreted)
  }

  private def runAll(): Seq[String] = {
    val df = kernels(base)
    val filtered = df.filter(col("bloom") || col("id") > 2L)
    filtered.orderBy("id").collect().toSeq.map(_.toString)
  }

  test("kernel guards: NULL model slots raise by name, never silently read as zero") {
    // UnsafeArrayData.getDouble/getInt have NO null checks — a NULL slot
    // reads as 0.0/0 and silently deflates an ADC score or misclassifies
    def run(c: org.apache.spark.sql.Column): Unit = {
      base.select(c.as("out")).collect(); ()
    }
    // NULL lut slot in pq_adc
    val eAdc = intercept[Exception](run(call_function("graft_pq_adc",
      array((0 until 511).map(i => lit(i * 0.25)) :+ lit(null).cast("double"): _*),
      lit(Array[Byte](3, 255.toByte)))))
    assert(eAdc.toString.contains("NULL lut entry") ||
      Option(eAdc.getCause).exists(_.toString.contains("NULL lut entry")), eAdc.toString)
    // NULL centroid component / NULL label in ncm_argmax
    val eCent = intercept[Exception](run(call_function("graft_ncm_argmax", col("vec"),
      array(lit(0), lit(1)),
      array((0 until 5).map(i => lit(i.toDouble)) :+ lit(null).cast("double"): _*))))
    assert(eCent.toString.contains("NULL centroid") ||
      Option(eCent.getCause).exists(_.toString.contains("NULL centroid")), eCent.toString)
    val eLab = intercept[Exception](run(call_function("graft_ncm_argmax", col("vec"),
      array(lit(0), lit(null).cast("int")),
      array((0 until 6).map(i => lit(i.toDouble)): _*))))
    assert(eLab.toString.contains("NULL label") ||
      Option(eLab.getCause).exists(_.toString.contains("NULL label")), eLab.toString)
    // a NULL shingle in the minhash scalar is skipped: the keys equal
    // those of the same array without it
    val scalar = base.limit(1).select(call_function("graft_minhash_bands",
      array(lit("a"), lit(null).cast("string"), lit("b")), lit(8), lit(2)).as("k"))
      .collect().head.getSeq[Long](0)
    val plain = base.limit(1).select(call_function("graft_minhash_bands",
      array(lit("a"), lit("b")), lit(8), lit(2)).as("k"))
      .collect().head.getSeq[Long](0)
    assert(scalar == plain, "NULL shingles must be skipped")
  }

  test("graft_bloom rejects an invalid shape at ANALYSIS time, not per task") {
    import spark.implicits._
    // non-power-of-two bits / out-of-range hashes used to pass analysis
    // and throw from the first update() hours into a scan
    val df = Seq(1L).toDF("h")
    val e1 = intercept[Exception](
      df.select(call_function("graft_bloom", col("h"), lit(1000), lit(7))))
    assert(e1.toString.contains("power of two"), e1.toString)
    val e2 = intercept[Exception](
      df.select(call_function("graft_bloom", col("h"), lit(1024), lit(17))))
    assert(e2.toString.contains("numHashes"), e2.toString)
  }

  test("function arity is checked: extra args raise instead of silently dropping") {
    graft.functions.GraftFunctions.register(spark)
    // graft_dot(a, b, c) used to silently compute dot(a, b)
    val e = intercept[Exception](
      base.select(call_function("graft_dot", col("vec"), col("vec"), col("id"))))
    assert(e.toString.contains("wrong number of arguments"), e.toString)
    val e2 = intercept[Exception](
      base.select(call_function("graft_topk", col("id"), col("id"))))
    assert(e2.toString.contains("wrong number of arguments"), e2.toString)
  }
}
