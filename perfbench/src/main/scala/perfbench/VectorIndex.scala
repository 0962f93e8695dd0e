package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Similarity, TableChecks}

/** An IVF-PQ index (`Similarity.ivfPqBuild`) over seeded Gaussian-mixture
  * vectors, then a closed loop with one client: each cycle appends a batch
  * (`ivfPqAppend`) and probes a query batch (`ivfPqQuery`, nProbe below the
  * cluster count); every [[CompactEvery]] appends it compacts
  * (`ivfPqCompact`).
  */
final class VectorIndex extends Workload {
  import VectorIndex._

  private var spark: SparkSession = _
  private var vecs: DataFrame = _
  private var queries: DataFrame = _
  private var round = 0
  /** The index of the last timed region and how many batches it holds. */
  private var last: (Similarity.IvfPqIndex, Int) = _
  val opSpans = Set("ext.vector.append", "ext.vector.compact", "ext.vector.query")

  def setup(ctx: Ctx): Seq[(String, Any)] = {
    spark = ctx.spark
    val session = spark; import session.implicits._
    val r = ctx.rng(4)
    val centers = Array.fill(Components, Dim)(r.gaussian())
    def point(): Array[Float] = {
      val c = centers(r.nextInt(Components))
      Array.tabulate(Dim)(j => (c(j) + Spread * r.gaussian()).toFloat)
    }
    val dir = ctx.dir("vectors")
    val corpus = (0 until BuildVectors + Batches * AppendVectors).map(i => (i.toLong, point()))
    val qs = (0 until QueryBatch * QueryBatches).map(i => (QueryIdBase + i, point()))
    corpus.toDF("vec_id", "embedding").write.parquet(dir.resolve("corpus").toString)
    qs.toDF("vec_id", "embedding").write.parquet(dir.resolve("queries").toString)
    vecs = spark.read.parquet(dir.resolve("corpus").toString)
    queries = spark.read.parquet(dir.resolve("queries").toString)
    Seq("dim" -> Dim, "mixture_components" -> Components, "spread" -> Spread,
      "build_vectors" -> BuildVectors, "append_vectors" -> AppendVectors, "batches" -> Batches,
      "query_batch" -> QueryBatch, "clusters" -> Clusters, "n_probe" -> NProbe, "k" -> K,
      "compact_every" -> CompactEvery)
  }

  private def batch(i: Int): DataFrame = {
    val lo = BuildVectors + i.toLong * AppendVectors
    vecs.filter(col("vec_id") >= lo && col("vec_id") < lo + AppendVectors)
  }

  private def queryBatch(i: Int): DataFrame = {
    val lo = QueryIdBase + (i % QueryBatches).toLong * QueryBatch
    queries.filter(col("vec_id") >= lo && col("vec_id") < lo + QueryBatch)
  }

  private def probe(idx: Similarity.IvfPqIndex, i: Int, nProbe: Int = NProbe,
                    overfetch: Int = Overfetch): DataFrame =
    Similarity.ivfPqQuery(queryBatch(i), "vec_id", "embedding", idx, k = K, nProbe = nProbe,
      overfetch = overfetch)

  private def drop(idx: Similarity.IvfPqIndex): Unit =
    Seq(idx.assignmentsTable, idx.codebookTable, idx.pqTable, idx.assignmentsTable + "__compact")
      .foreach(graft.sinks.Sinks.dropTableAndLocation(spark, _))

  /** One timed region on a fresh index: build, [[WarmCycles]] untimed
    * cycles, then the closed loop.
    */
  def measure(ctx: Ctx, tr: Tracer): Measured = {
    round += 1
    val idx = Similarity.IvfPqIndex(s"vec_assign_$round", s"vec_codebook_$round", s"vec_pq_$round",
      numBuckets = 4)
    tr.span("setup.vector.build")(Similarity.ivfPqBuild(vecs.filter(col("vec_id") < BuildVectors),
      "vec_id", "embedding", idx, nClusters = Clusters, m = 8, ksub = 16, iters = 5))
    val checks = new TableChecks
    val failures = mutable.ArrayBuffer.empty[String]
    val appendS = mutable.ArrayBuffer.empty[Double]
    val queryMs = mutable.ArrayBuffer.empty[Double]
    var ops = 0L
    var i = 0
    /** Appends batch i, compacts on cadence, probes; a timed cycle records
      * one span and one sample per call.
      */
    def cycle(timed: Boolean): Unit = {
      def call(what: String)(body: => Unit): Option[Double] =
        if (!timed) { body; None }
        else {
          ops += 1
          val t = System.nanoTime()
          if (Main.attempt(failures, s"$what $i")(tr.span(s"ext.vector.$what", i)(body)))
            Some((System.nanoTime() - t) / 1e9)
          else None
        }
      appendS ++= call("append")(Similarity.ivfPqAppend(batch(i), "vec_id", "embedding", idx, checks))
      if (i % CompactEvery == 0) call("compact")(Similarity.ivfPqCompact(spark, idx))
      (0 until ProbesPerCycle).foreach { p =>
        queryMs ++= call("query")(probe(idx, i * ProbesPerCycle + p).collect()).map(_ * 1000)
      }
      i += 1
    }
    tr.span("setup.vector.warmup")((0 until WarmCycles).foreach(_ => cycle(timed = false)))
    Main.loop(ctx, MinCycles, Batches - WarmCycles)(_ => cycle(timed = true))
    if (last != null) drop(last._1)
    last = (idx, i)
    val (bytes, files) = Main.du(ctx.work.resolve("spark-warehouse").resolve(idx.assignmentsTable))
    Measured(queryMs.toSeq, AppendVectors / Stats.median(appendS.toSeq), ops, failures.toSeq,
      Map("vector_index_bytes" -> bytes.toDouble, "vector_index_files" -> files.toDouble,
        "recall_at10" -> (if (tr.enabled) tr.span("check.vector.recall")(recall()) else 0.0)))
  }

  /** Brute-force top-k over everything the last index holds. */
  private def exact(i: Int): DataFrame =
    Similarity.bruteForceTopK(vecs.filter(col("vec_id") < BuildVectors + last._2.toLong * AppendVectors),
      queryBatch(i), "vec_id", "embedding", K)

  /** recall@K of the timed configuration (nProbe < clusters) against
    * brute force, over one query batch.
    */
  private def recall(): Double = {
    def pairs(df: DataFrame) = df.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pairs(exact(1))
    pairs(probe(last._1, 1)).intersect(want).size.toDouble / math.max(1, want.size)
  }

  def check(ctx: Ctx): Seq[(String, Option[String])] = {
    def rows(df: DataFrame) = df.select("query_id", "rank", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val full = rows(probe(last._1, 0, nProbe = Clusters, overfetch = BuildVectors + Batches * AppendVectors))
    val want = rows(exact(0))
    val diff = (full -- want).size + (want -- full).size
    Seq("full-probe query equals bruteForceTopK" -> Option.when(diff > 0 || want.isEmpty)(
      s"$diff of ${want.size} (query, rank, neighbour) rows differ"))
  }
}

object VectorIndex {
  val Dim = 64
  val Components = 64
  val Spread = 0.6
  val Clusters = 32
  val NProbe = 8
  val ProbesPerCycle = 2
  val K = 10
  val Overfetch = 100
  val BuildVectors = 4000
  val AppendVectors = 250
  val Batches = 20
  val WarmCycles = 5
  val MinCycles = 4
  val QueryBatch = 32
  val QueryBatches = 8
  val CompactEvery = 4
  val QueryIdBase = 1000000000L
}
