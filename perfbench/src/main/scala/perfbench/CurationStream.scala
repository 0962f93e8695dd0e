package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{CurationPipeline, TableChecks}

/** Continuous curation: id-ordered micro-batches through
  * `CurationPipeline.streamIncrement`, closed loop, one batch at a time, with
  * the library's declared pipeline configuration (`Queries.X18Config`
  * without the whole-corpus gram-df cap, which a stream cannot know).
  *
  * The corpus is a seeded base corpus cloned by vocabulary rotation
  * ([[Gen.rotate]]), so its near-duplicate structure repeats in every clone;
  * seeded exact and near duplicates of earlier batches are then injected
  * into later ones, so the cross-batch index probes find real work.
  */
final class CurationStream extends Workload {
  import CurationStream._

  private var spark: SparkSession = _
  private var docs: DataFrame = _
  private var holdout: DataFrame = _
  private var round = 0
  /** State of the last timed region and how many batches it ingested. */
  private var last: (CurationPipeline.StreamState, Int) = _
  private val cfg = graft.Queries.X18Config.copy(maxGramDf = None)
  val opSpans = Set("ext.curation.increment")

  def setup(ctx: Ctx): Seq[(String, Any)] = {
    spark = ctx.spark
    val session = spark; import session.implicits._
    val r = ctx.rng(3)
    val zipf = new Zipf(Gen.Vocab.length, 0.6)
    def len() = 10 + r.nextInt(91)
    // base corpus with its own duplicate structure
    val base = mutable.ArrayBuffer.empty[String]
    (0 until BaseDocs).foreach { _ =>
      val u = r.nextDouble()
      base += (if (base.nonEmpty && u < BaseExact) base(r.nextInt(base.size))
        else if (base.nonEmpty && u < BaseExact + BaseNear) Gen.nearCopy(r, base(r.nextInt(base.size)), 1 + r.nextInt(2))
        else Gen.text(r, len(), zipf))
    }
    val holdoutTexts = Array.fill(HoldoutDocs)(Gen.text(r, 30 + r.nextInt(40), zipf))
    val n = Batches * BatchDocs
    var exact, near, contaminated = 0
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until n).foreach { i =>
      val b = i / BatchDocs
      val u = r.nextDouble()
      val clone = Gen.rotate(base(i % BaseDocs), i / BaseDocs)
      texts += (
        if (b > 0 && u < CrossExact) { exact += 1; texts(r.nextInt(b * BatchDocs)) }
        else if (b > 0 && u < CrossExact + CrossNear) {
          near += 1; Gen.nearCopy(r, texts(r.nextInt(b * BatchDocs)), 1 + r.nextInt(2))
        } else if (u > 1 - Contaminated) {
          // a holdout 13-gram span inside a train doc
          contaminated += 1
          val h = holdoutTexts(r.nextInt(HoldoutDocs)).split(" ")
          val from = r.nextInt(h.length - 14)
          clone + " " + h.slice(from, from + 15).mkString(" ")
        } else clone)
    }
    val dir = ctx.dir("corpus")
    def frame(ts: Seq[(String, Long)]): DataFrame = ts.map { case (t, id) =>
      (id, t, Seq("en", "de", "fr")(math.floorMod(id, 3L).toInt), s"src${id % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    frame(texts.toSeq.zipWithIndex.map { case (t, i) => (t, i.toLong) })
      .repartition(4).write.mode("overwrite").parquet(dir.resolve("docs").toString)
    frame(holdoutTexts.toSeq.zipWithIndex.map { case (t, i) => (t, HoldoutIdBase + i) })
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("holdout").toString)
    docs = spark.read.parquet(dir.resolve("docs").toString)
    holdout = spark.read.parquet(dir.resolve("holdout").toString)
    Seq("docs" -> n, "batch_docs" -> BatchDocs, "batches" -> Batches, "base_docs" -> BaseDocs,
      "rotation_clones" -> math.ceil(n.toDouble / BaseDocs).toInt, "holdout_docs" -> HoldoutDocs,
      "cross_batch_exact_dup_share" -> exact.toDouble / n, "cross_batch_near_dup_share" -> near.toDouble / n,
      "contaminated_share" -> contaminated.toDouble / n,
      "base_exact_dup_share" -> BaseExact, "base_near_dup_share" -> BaseNear)
  }




  private def batch(b: Int): DataFrame =
    docs.filter(col("doc_id") >= b.toLong * BatchDocs && col("doc_id") < (b + 1).toLong * BatchDocs)

  /** One timed region on fresh state: the holdout gram set and
    * [[WarmBatches]] untimed increments, then the closed loop.
    */
  def measure(ctx: Ctx, tr: Tracer): Measured = {
    round += 1
    val state = CurationPipeline.StreamState(s"cur$round", ctx.dir(s"curation_$round").toString,
      numBuckets = 4)
    val hg = tr.span("ext.curation.holdout") {
      val g = CurationPipeline.holdoutGramSet(holdout, "doc_id", "text", cfg)
      g.count()
      g
    }
    val checks = new TableChecks
    tr.span("setup.curation.warmup")((0 until WarmBatches).foreach(b => CurationPipeline.streamIncrement(
      batch(b), "doc_id", "text", Some(hg), cfg, state, b.toLong, checks = checks)))
    val failures = mutable.ArrayBuffer.empty[String]
    val walls = mutable.ArrayBuffer.empty[Double]
    var stateBytes, stateFiles = 0L
    val steps = Main.loop(ctx, MinBatches, Batches - WarmBatches) { i =>
      val b = WarmBatches + i
      val t = System.nanoTime()
      if (Main.attempt(failures, s"increment $b")(tr.span("ext.curation.increment", b) {
        CurationPipeline.streamIncrement(batch(b), "doc_id", "text", Some(hg), cfg, state, b.toLong,
          checks = checks)
      })) walls += (System.nanoTime() - t) / 1e9
      if (tr.enabled) {
        val dirs = java.nio.file.Paths.get(state.stateDir) +:
          Seq(state.hashTable, state.lshIndex.bandsTable, state.lshIndex.shinglesTable)
            .map(t => ctx.work.resolve("spark-warehouse").resolve(t))
        val sizes = dirs.map(Main.du)
        stateBytes = sizes.map(_._1).sum; stateFiles = sizes.map(_._2).sum
      }
    }
    graft.Caching.release(spark) // the holdout gram set
    if (last != null) last._1.dropTables(spark)
    last = (state, WarmBatches + steps)
    Measured(walls.toSeq.map(_ * 1000), walls.size * BatchDocs / walls.sum, steps.toLong, failures.toSeq,
      Map("curation_state_bytes" -> stateBytes.toDouble, "curation_state_files" -> stateFiles.toDouble))
  }

  /** The x33 invariant: the union of curated partitions equals the batch
    * pipeline (`CurationPipeline.run`) over the same documents.
    */
  def check(ctx: Ctx): Seq[(String, Option[String])] = {
    val (state, b) = last
    val cols = Seq("doc_id", "n_tokens", "bucket", "shard", "split")
    val streamed = spark.read.parquet(state.outDir).select(cols.map(col): _*)
    val ingested = docs.filter(col("doc_id") < b.toLong * BatchDocs)
    val batchRun = CurationPipeline.run(ingested, "doc_id", "text", Some(holdout), cfg).select(cols.map(col): _*)
    val extra = streamed.exceptAll(batchRun).count()
    val missing = batchRun.exceptAll(streamed).count()
    val kept = streamed.count()
    graft.Caching.release(spark)
    Seq("streamed union equals CurationPipeline.run" -> Option.when(extra + missing > 0 || kept == 0)(
      s"$extra extra and $missing missing rows ($kept curated of ${b * BatchDocs} docs)"))
  }
}

object CurationStream {
  val BaseDocs = 600
  val BatchDocs = 100
  val Batches = 8
  val WarmBatches = 1
  val MinBatches = 3
  val HoldoutDocs = 200
  val HoldoutIdBase = 1000000000L
  val BaseExact = 0.02
  val BaseNear = 0.04
  val CrossExact = 0.03
  val CrossNear = 0.05
  val Contaminated = 0.02
}
