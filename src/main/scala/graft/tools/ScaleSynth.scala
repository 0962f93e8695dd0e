package graft.tools

import org.apache.spark.sql.functions._

/** One-off ~10× scale corpus for the SURVEY §9 empirical scale probe
  * (never touches /root/testdata): clones `documents` and `embeddings`
  * from a source sf dir into `outDir` with structure-preserving
  * perturbations, so per-query cost SHOULD scale ≈ linearly and any
  * super-linear query indicts its plan, not the data:
  *
  *  - documents: clone k rewrites every token through a ROTATION of the
  *    corpus vocabulary (a bijection — shingle sets, exact-equality
  *    classes, and Jaccard similarities inside a clone are IDENTICAL to
  *    the original corpus, so near-dup pair counts and component sizes
  *    scale exactly ×clones), while different clones' rotations disagree
  *    everywhere, so cross-clone texts are as unrelated as random pairs.
  *    A naive text copy would instead put every doc in a 10-member exact/
  *    near-dup clique — pair counts ×100, components ×10 size — and the
  *    probe would misread data design as plan failure.
  *  - embeddings: clone k multiplies components by a deterministic ±1
  *    diagonal (orthogonal — within-clone cosines are bit-preserved;
  *    cross-clone cosines decorrelate like random vectors).
  *
  * doc_id/vec_id offsets are multiples of 10 so id-derived slices
  * (holdout = id%10, media routing = id%5) keep their original densities
  * in every clone. Usage:
  * `runMain graft.tools.ScaleSynth <srcSfDir> <outDir> [clones=10]`
  */
object ScaleSynth {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val clones = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local("graft-scale-synth")
    try {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val vocab = docs
        .select(explode(split(coalesce(col("text"), lit("")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0).distinct()
        .collect().map(_.getString(0)).sorted
      val v = vocab.length
      val wordIdx = vocab.zipWithIndex.toMap
      println(s"ScaleSynth: vocab $v words, clones $clones")
      // Per-clone rotation step k·g with g coprime to the vocab size: g
      // invertible mod v makes k·g mod v injective over k ∈ [0, v), so no
      // clone's rotation is the identity and no two clones share one —
      // the fixed k·7 step degenerated to the identity whenever v | 7k
      // (any vocab of ≤ 63 words at the default 10 clones), silently
      // recreating the cross-clone exact/near-dup cliques this tool
      // exists to avoid. v ≤ clones can't admit distinct rotations at
      // all: fail fast rather than synthesize a poisoned probe corpus.
      require(v > clones, s"ScaleSynth: vocab has $v distinct words but " +
        s"$clones clones need $clones distinct non-identity rotations — " +
        "use a larger source corpus or fewer clones")
      val step: Int = {
        def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)
        Iterator.from(7).find(g => gcd(g, v) == 1).get % v
      }
      val rotate = udf { (text: String, k: Int) =>
        if (text == null) null
        else if (k == 0) text
        else text.split("\\s+").filter(_.nonEmpty).map { w =>
          wordIdx.get(w) match {
            case Some(i) => vocab((i + k * step) % v)
            case None => w
          }
        }.mkString(" ")
      }
      val docOffset = 1000000L // multiple of 10: id-derived slices keep density
      val allDocs = (0 until clones).map { k =>
        docs.select(
          (col("doc_id") + lit(k.toLong * docOffset)).as("doc_id"),
          rotate(col("text"), lit(k)).as("text"),
          col("lang"), col("source"),
          length(coalesce(rotate(col("text"), lit(k)), lit(""))).cast("long").as("n_chars"))
      }.reduce(_ unionByName _)
      allDocs.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")

      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val flip = udf { (e: Seq[Float], k: Int) =>
        if (e == null) null
        else if (k == 0) e
        else e.zipWithIndex.map { case (x, i) =>
          var z = (k.toLong * 0x9E3779B97F4A7C15L) + i.toLong * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 30)) * 0x94D049BB133111EBL
          if (((z >>> 17) & 1L) == 0L) x else -x
        }
      }
      val vecOffset = 1000000L
      val allEmb = (0 until clones).map { k =>
        emb.select(
          (col("vec_id") + lit(k.toLong * vecOffset)).as("vec_id"),
          flip(col("embedding"), lit(k)).as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
      allEmb.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

      // events: clone k shifts user_id/event_id by multiples of 20 and 10^9
      // — per-user event sequences (sessions, as-of lookups, token-bucket
      // replays) are IDENTICAL inside each clone, and the id-derived
      // slices (user_id % 4 segments, event_type groups) keep their
      // original densities, so per-user operators scale by user count and
      // keyed aggregates scale rows-per-group ×clones into the same groups
      val ev = spark.read.parquet(s"$src/events.parquet")
      val userOffset = 1000000L // multiple of 4 (x61 segments) and 10
      val eventOffset = 1000000000L
      val allEv = (0 until clones).map { k =>
        ev.select(
          (col("event_id") + lit(k.toLong * eventOffset)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k.toLong * userOffset)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
      allEv.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      // count the WRITTEN parquet, not the build plans — re-counting the
      // unions would re-run every clone transform just for the log line,
      // and what lands on disk is the number that matters
      def written(name: String): Long = spark.read.parquet(s"$out/$name").count()
      println(s"ScaleSynth: wrote ${written("documents.parquet")} docs, " +
        s"${written("embeddings.parquet")} vectors, " +
        s"${written("events.parquet")} events to $out")
    } finally spark.stop()
  }
}
