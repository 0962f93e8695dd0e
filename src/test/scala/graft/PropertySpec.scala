package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ext.Sampling
import graft.functions.Hashing
import graft.ops.{Changelog, RateLimit}

/** Model-based randomized tests: each distributed operator is replayed
  * against a straight-line sequential Scala model of the reference
  * semantics on ScalaCheck-generated workloads (fixed seeds — failures
  * reproduce). Complements the transcribed reference-sequence goldens:
  * goldens pin the exact documented cases, these sweep the space around
  * them (out-of-order timestamps, ties, duplicate keys, empty groups).
  */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val events: Gen[List[(Long, Long, Long)]] = // (key, ts_ms, event_id)
    Gen.listOfN(300, for {
      k <- Gen.choose(0L, 6L)
      ts <- Gen.choose(0L, 3L * 86400000L)
    } yield (k, ts)).map(_.zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) })

  test("rate limiter replay matches the sequential token-bucket model on random workloads") {
    import spark.implicits._
    val (capacity, ageMs) = (3L, 86400000L)
    for (seed <- 1L to 4L) {
      val evs = sample(events, seed)
      val df = evs.toDF("user_id", "ts_ms", "event_id")
      val got = RateLimit.replay(df, Seq("user_id"), "ts_ms", Seq("event_id"), capacity, ageMs)
        .select("event_id", "admitted").as[(Long, Boolean)].collect().toMap
      // model: per key in (ts, event_id) order, the reference bucket math
      val want = evs.groupBy(_._1).flatMap { case (_, ks) =>
        var tokens = capacity
        var tstamp = 0L
        ks.sortBy(e => (e._2, e._3)).map { case (_, ts, id) =>
          val delta = ((ts - tstamp) * capacity) / ageMs
          if (delta > 0) { tstamp = ts; tokens = math.min(capacity, tokens + delta) }
          val admitted = tokens > 0
          if (admitted) tokens -= 1
          id -> admitted
        }
      }
      assert(got == want, s"seed $seed: ${got.count(_._2)} admitted vs model ${want.count(_._2)}")
    }
  }

  test("refillTokens equals the exact BigInt model across random magnitudes incl. overflow") {
    val rnd = new scala.util.Random(7)
    def draw(maxPow: Int): Long = {
      val v = math.abs(rnd.nextLong()) % (1L << rnd.nextInt(maxPow))
      math.max(1L, v)
    }
    (1 to 2000).foreach { i =>
      val elapsed = (if (rnd.nextInt(10) == 0) -draw(40) else draw(62))
      val capacity = draw(62)
      val age = draw(48)
      val got = RateLimit.refillTokens(elapsed, capacity, age)
      // exact model, clamped at capacity like every caller's min()
      val want =
        if (elapsed <= 0) 0L
        else (BigInt(elapsed) * capacity / age).min(BigInt(capacity)).toLong
      assert(got == want,
        s"case $i: refillTokens($elapsed, $capacity, $age) = $got, model $want")
    }
  }

  test("deepRender is content-stable for values embedding byte arrays") {
    // the rateLimiter retry-determinism tiebreak: two structurally equal
    // values must render identically across JVM object identities — a
    // fresh Array[Byte] per attempt must NOT change the rendering
    def bytes() = Array[Byte](1, -2, 3)
    assert(RateLimit.deepRender(bytes()) == RateLimit.deepRender(bytes()))
    assert(RateLimit.deepRender(("topic", bytes(), 7L)) ==
      RateLimit.deepRender(("topic", bytes(), 7L)))
    case class Payload(name: String, data: Array[Byte], tags: Array[String])
    assert(RateLimit.deepRender(Payload("a", bytes(), Array("x", "y"))) ==
      RateLimit.deepRender(Payload("a", bytes(), Array("x", "y"))))
    assert(RateLimit.deepRender(Some(bytes())) == RateLimit.deepRender(Some(bytes())))
    assert(RateLimit.deepRender(Option.empty[Array[Byte]]) == "None")
    assert(RateLimit.deepRender(null) == "null")
    // and DIFFERENT content renders differently (it is a tiebreak, not a hash)
    assert(RateLimit.deepRender(("t", Array[Byte](1))) !=
      RateLimit.deepRender(("t", Array[Byte](2))))
    // a long List value renders ITERATIVELY: the Product branch would
    // recurse one frame pair per cons cell and blow the stack
    val longList = List.fill(200000)(7)
    assert(RateLimit.deepRender(longList) == RateLimit.deepRender(List.fill(200000)(7)))
    // nested arrays (array<binary> payloads) recurse too
    assert(RateLimit.deepRender(Array(bytes(), bytes())) ==
      RateLimit.deepRender(Array(bytes(), bytes())))
  }

  test("latestByKey snapshot matches the sequential LWW model on random workloads") {
    import spark.implicits._
    for (seed <- 10L to 13L) {
      val evs = sample(events, seed)
      val df = evs.toDF("user_id", "ts", "event_id").withColumn("payload", col("event_id") * 7)
      val got = Changelog.latestByKey(df, Seq("user_id"), "ts", Seq("event_id"))
        .select("user_id", "event_id").as[(Long, Long)].collect().toMap
      val want = evs.groupBy(_._1).map { case (k, ks) => k -> ks.maxBy(e => (e._2, e._3))._3 }
      assert(got == want, s"seed $seed")
    }
  }

  test("wordNGrams matches tokens.sliding(n) on random token lists, including short docs") {
    import spark.implicits._
    val docs: Gen[List[String]] = Gen.listOfN(60,
      Gen.choose(0, 20).flatMap(len => Gen.listOfN(len, Gen.oneOf("a", "b", "cd", "efg"))
        .map(_.mkString(" "))))
    for (seed <- 20L to 22L; n <- Seq(2, 5)) {
      val texts = sample(docs, seed + n)
      val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        .select(col("id"), graft.ext.TextAnalysis.wordNGrams(
          graft.ext.TextAnalysis.tokens(col("text")), n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
        val want = if (toks.size < n) Seq.empty else toks.sliding(n).map(_.mkString(" ")).toSeq
        assert(got(i.toLong) == want, s"seed $seed n=$n doc '$t'")
      }
    }
  }

  test("hashSplit buckets equal the md5Hash60 model and assignment is total") {
    import spark.implicits._
    for (seed <- 30L to 31L) {
      val ids = sample(Gen.listOfN(200, Gen.choose(0L, 1000000L)), seed).distinct
      val got = Sampling.hashSplit(ids.toDF("id"), "id", s"seed$seed",
          Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
        .select("id", "bucket", "split").as[(Long, Long, String)].collect()
      assert(got.length == ids.length)
      got.foreach { case (id, bucket, split) =>
        assert(bucket == Hashing.md5Hash60(s"seed$seed:$id") % Sampling.Buckets)
        val want = if (bucket < 5000) "a" else if (bucket < 8000) "b" else "c"
        assert(split == want, s"id $id bucket $bucket")
      }
    }
  }

  test("graft_topk equals the row_number window formulation on random score tables") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // force ties, signed zeros, and NaN — the inputs where a naive
    // comparator diverges from Spark's sort order (NaN greatest,
    // -0.0 == 0.0); nulls are deliberately absent (the aggregate excludes
    // them by contract, a NULLS LAST window would not)
    val scoresGen: Gen[List[(Long, Long, Double)]] = Gen.listOfN(400, for {
      q <- Gen.choose(0L, 9L)
      n <- Gen.choose(0L, 60L)
      s <- Gen.oneOf(Gen.choose(-1.0, 1.0),
        Gen.oneOf(0.5, -0.25, 1.0, 0.0, -0.0, Double.NaN))
    } yield (q, n, s))
    for (seed <- 50L to 52L; k <- Seq(1, 7)) {
      val rows = sample(scoresGen, seed + k).distinctBy(r => (r._1, r._2))
      val df = rows.toDF("query_id", "nbr_id", "cos")
      // stringify the score: Scala numeric-box equality says NaN != NaN,
      // so a raw tuple Set comparison would fail on identical results
      def canon(rows: Array[(Long, Int, Long, Double)]) =
        rows.map { case (q, r, n, s) => (q, r, n, s.toString) }.toSet
      def aggOf(in: org.apache.spark.sql.DataFrame) = canon(in.groupBy("query_id")
        .agg(call_function("graft_topk", col("cos"), col("nbr_id"), lit(k)).as("tk"))
        .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
        .select(col("query_id"), (col("pos") + 1).as("rank"), col("s.nbr_id"), col("s.cos"))
        .as[(Long, Int, Long, Double)].collect())
      val agg = aggOf(df)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("nbr_id").asc)
      val win = canon(df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "cos")
        .as[(Long, Int, Long, Double)].collect())
      assert(agg == win, s"seed $seed k=$k")
      // replay-duplicated candidates (exact row copies, the at-least-once
      // streaming-append artifact) must be invisible: the aggregate
      // collapses equal (score, id) pairs before truncation, so a
      // duplicate never displaces a distinct item from the top k
      val extra = sample(Gen.someOf(rows), seed * 3 + k).toList
      val aggDup = aggOf((rows ++ extra).toDF("query_id", "nbr_id", "cos"))
      assert(aggDup == win, s"duplicated rows must not change ranks: seed $seed k=$k")
    }
  }

  test("graft_topk's exact second cut equals windowing the approximate shortlist by exact score") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    // ties, signed zeros, NaN and null exact scores; enough rows per query
    // that the partial buffers saturate and reject before the merge
    val rowsGen: Gen[List[(Long, Long, Double, Option[Double])]] = Gen.listOfN(800, for {
      q <- Gen.choose(0L, 9L)
      n <- Gen.choose(0L, 200L)
      s <- Gen.oneOf(Gen.choose(-1.0, 1.0), Gen.oneOf(0.5, 0.0, -0.0, Double.NaN))
      e <- Gen.option(Gen.oneOf(Gen.choose(-1.0, 1.0), Gen.oneOf(0.25, 0.0, -0.0, Double.NaN)))
    } yield (q, n, s, e))
    def canon(rows: Array[(Long, Int, Long, Double)]) =
      rows.map { case (q, r, n, s) => (q, r, n, s.toString) }.toSet
    for (seed <- 70L to 72L; (k, kExact) <- Seq((5, 2), (12, 7))) {
      val rows = sample(rowsGen, seed + k).distinctBy(r => (r._1, r._2))
      def aggOf(in: org.apache.spark.sql.DataFrame) = canon(in.repartition(4).groupBy("query_id")
        .agg(call_function("graft_topk", col("approx"), col("nbr_id"), lit(k),
          col("exact"), lit(kExact)).as("tk"))
        .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
        .select(col("query_id"), (col("pos") + 1).as("rank"), col("s.nbr_id"), col("s.cos"))
        .as[(Long, Int, Long, Double)].collect())
      val df = rows.toDF("query_id", "nbr_id", "approx", "exact")
      val byApprox = Window.partitionBy("query_id").orderBy(col("approx").desc, col("nbr_id").asc)
      val byExact = Window.partitionBy("query_id").orderBy(col("exact").desc, col("nbr_id").asc)
      val want = canon(df.withColumn("r", row_number().over(byApprox)).filter(col("r") <= k)
        .filter(col("exact").isNotNull)
        .withColumn("rank", row_number().over(byExact)).filter(col("rank") <= kExact)
        .select("query_id", "rank", "nbr_id", "exact").as[(Long, Int, Long, Double)].collect())
      assert(want.nonEmpty && aggOf(df) == want, s"seed $seed k=$k kExact=$kExact")
      val extra = sample(Gen.someOf(rows), seed * 3 + k).toList
      assert(aggOf((rows ++ extra).toDF("query_id", "nbr_id", "approx", "exact")) == want,
        s"duplicated rows must not change ranks: seed $seed k=$k kExact=$kExact")
    }
  }

  test("repetition kernel matches the sequential model on random token soups") {
    import spark.implicits._
    val docs: Gen[List[String]] = Gen.listOfN(80,
      Gen.choose(0, 30).flatMap(len => Gen.listOfN(len, Gen.oneOf("a", "b", "c", "dd"))
        .map(_.mkString(" "))))
    for (seed <- 60L to 62L) {
      val texts = sample(docs, seed)
      val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        .transform(graft.ext.TextAnalysis.repetitionMetrics(_, "id", "text"))
        .as[(Long, Double, Double)].collect().map { case (k, d, t) => k -> (d, t) }.toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val toks = t.split("\\s+").filter(_.nonEmpty)
        val dup = if (toks.nonEmpty) 1.0 - toks.distinct.length.toDouble / toks.length else 0.0
        val bigrams = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
        val topb = if (bigrams.nonEmpty)
          bigrams.groupBy(identity).values.map(_.size).max.toDouble / bigrams.size else 0.0
        assert(got(i.toLong) == (dup, topb), s"seed $seed doc '$t': ${got(i.toLong)} vs ($dup, $topb)")
      }
    }
  }

  test("quantileSketch equals the sequential hash-min-sample model on random groups") {
    import spark.implicits._
    val rowsGen: Gen[List[(Long, Long, Double)]] = Gen.listOfN(300, for {
      g <- Gen.choose(0L, 4L)
      v <- Gen.oneOf(Gen.choose(-100.0, 100.0), Gen.oneOf(0.0, -0.0, 7.5))
    } yield (g, v)).map(_.zipWithIndex.map { case ((g, v), i) => (g, i.toLong, v) })
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    for (seed <- 70L to 72L; k <- Seq(4, 64)) {
      val rows = sample(rowsGen, seed + k)
      // random partitioning: the sample must be partition-invariant
      val df = rows.toDF("grp", "id", "v").repartition(7)
      val got = graft.ext.Sketches.quantileSketch(df, Seq("grp"), "v", "id", k = k, quantiles = qs)
        .as[(Long, Long, Double, Double, Double, Double)].collect()
        .map(r => r._1 -> r).toMap
      rows.groupBy(_._1).foreach { case (g, members) =>
        // model: k smallest by (md5-60 of 'qs:'||id, value), values sorted,
        // quantile = sorted(floor(q*(n-1))) with the same -0.0 folding
        val sampleVals = members
          .map { case (_, id, v) => (Hashing.md5Hash60(s"qs:$id"), v + 0.0) }
          .sortBy(identity).take(k).map(_._2).sorted
        val n = sampleVals.length
        def quant(q: Double) = sampleVals(math.floor(q * (n - 1)).toInt)
        val (gotG, gotN, p25, p50, p75, p90) = got(g)
        assert(gotG == g && gotN == n.toLong, s"seed $seed k=$k grp $g n")
        assert((p25, p50, p75, p90) == ((quant(0.25), quant(0.5), quant(0.75), quant(0.9))),
          s"seed $seed k=$k grp $g")
      }
    }
  }

  test("connectedComponents equals a union-find model on random graphs") {
    import spark.implicits._
    // dense node range forces cycles, duplicate edges (both directions),
    // self-loops, and several components per draw
    val edgesGen: Gen[List[(Long, Long)]] = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
    for (seed <- 80L to 83L) {
      val edges = sample(edgesGen, seed)
      val got = graft.ext.Dedup.connectedComponents(edges.toDF("d1", "d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // model: path-compressing union-find, then min id per root
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val nodes = scala.collection.mutable.Set.empty[Long]
      edges.foreach { case (a, b) =>
        if (a != b) { nodes += a; nodes += b; parent(find(a)) = find(b) }
      }
      val minOfRoot = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
      val want = nodes.map(n => n -> minOfRoot(find(n))).toMap
      assert(got == want, s"seed $seed: ${got.size} vs ${want.size} mapped nodes")
      Caching.release(spark)
    }
  }

  test("collapseBest equals the union-find max-rank model on random graphs and double ranks") {
    import spark.implicits._
    val edgesGen: Gen[List[(Long, Long)]] = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 25L)))
    // ranks in [0, 1) — exactly the quality-score family the pre-fix long
    // cast truncated to a universal 0; a couple of exact ties per draw
    val rankGen: Gen[List[Double]] = Gen.listOfN(26,
      Gen.oneOf(0.0, 0.25, 0.25, 0.5, 0.75, 0.99))
    for (seed <- 90L to 93L) {
      val edges = sample(edgesGen, seed).filter { case (a, b) => a != b }
      val ranks = sample(rankGen, seed + 1000).zipWithIndex
        .map { case (r, i) => (i.toLong, r) }
      val docs = ranks.toDF("doc_id", "quality")
      val got = graft.ext.Dedup.collapseBest(docs, "doc_id",
          edges.toDF("d1", "d2"), "quality")
        .collect().map(_.getLong(0)).toSet
      // model: union-find components; per component the max-rank member
      // survives, ties to the smallest id; nodes in no edge survive as-is
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val nodes = scala.collection.mutable.Set.empty[Long]
      edges.foreach { case (a, b) => nodes += a; nodes += b; parent(find(a)) = find(b) }
      val rankOf = ranks.toMap
      val byComp = nodes.groupBy(find)
      val survivors = byComp.values.map(ns =>
        ns.toSeq.map(n => (rankOf(n), n)).sortBy { case (r, n) => (-r, n) }.head._2).toSet
      val want = survivors ++ ranks.map(_._1).filterNot(nodes)
      assert(got == want, s"seed $seed: got ${got.size}, want ${want.size}")
      Caching.release(spark)
    }
  }

  test("streamed curation equals the batch pipeline on random corpora and batch splits") {
    import spark.implicits._
    import graft.ext.CurationPipeline
    // small vocab forces exact and near duplicates; stopword-heavy so the
    // language gate keeps docs; random ordered split points exercise
    // cross-batch hash-index, LSH-probe and offsets-ledger paths
    val docGen: Gen[String] = for {
      len <- Gen.choose(0, 40)
      ws <- Gen.listOfN(len, Gen.oneOf("the", "of", "and", "to", "in",
        "w1", "w2", "w3", "w4", "w5", "w6", "w7"))
    } yield ws.mkString(" ")
    val cfg = CurationPipeline.Config(minTokens = 5L, langs = Set("en"),
      maxGramDf = None, decontamN = 8, tokensPerShard = 40L, shardBuckets = 2)
    for (seed <- 50L to 51L) {
      val rows = sample(Gen.listOfN(80, docGen), seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val holdout = rows.filter(_._1 % 7 == 6).toDF("doc_id", "text")
      val train = rows.filter(_._1 % 7 != 6)
      val want = CurationPipeline.run(train.toDF("doc_id", "text"), "doc_id", "text",
          Some(holdout), cfg)
        .select("doc_id", "n_tokens", "bucket", "shard", "split").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSet
      Caching.release(spark)
      val cuts = sample(Gen.listOfN(2, Gen.choose(1, 79)), seed * 7 + 1).distinct.sorted
      val chunkBounds = (0 +: cuts :+ 80).distinct.sliding(2).toList
      val state = CurationPipeline.StreamState(s"pstream_$seed",
        java.nio.file.Files.createTempDirectory(s"graft_pstream_$seed").toString,
        numBuckets = 4)
      state.dropTables(spark)
      val hg = CurationPipeline.holdoutGramSet(holdout, "doc_id", "text", cfg)
      chunkBounds.zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        CurationPipeline.streamIncrement(
          train.filter(r => r._1 >= lo && r._1 < hi).toDF("doc_id", "text"),
          "doc_id", "text", Some(hg), cfg, state, batchId = i.toLong)
        // routine maintenance after the first batch: later batches run
        // against the compacted index — results must not move
        if (i == 0) CurationPipeline.compactState(spark, state)
      }
      val got = spark.read.parquet(state.outDir)
        .select("doc_id", "n_tokens", "bucket", "shard", "split").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSet
      Caching.release(spark)
      state.dropTables(spark)
      assert(got == want, s"seed $seed (cuts $cuts): ${got.size} streamed vs ${want.size} batch")
    }
  }

  test("incremental cluster registry equals batch components on random edge streams") {
    import spark.implicits._
    import graft.ext.Dedup
    // random sparse graphs over a small id space force chains, merges of
    // previously-separate components across chunk boundaries, self-pairs,
    // and re-seen edges; random 3-way ordered splits exercise the
    // endpoint-probe + member-expansion paths on every shape
    val edgeGen: Gen[List[(Long, Long)]] = Gen.listOfN(25, for {
      a <- Gen.choose(0L, 29L)
      b <- Gen.choose(0L, 29L)
    } yield (math.min(a, b), math.max(a, b)))
    for (seed <- 70L to 72L) {
      val edges = sample(edgeGen, seed)
      val cuts = sample(Gen.listOfN(2, Gen.choose(1, 24)), seed * 5 + 3).distinct.sorted
      val chunks = (0 +: cuts :+ 25).distinct.sliding(2).toList
      val state = Dedup.ClusterState(s"pclus_$seed", numBuckets = 4)
      state.dropTables(spark)
      chunks.zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        Dedup.clusterIncrement(edges.slice(lo, hi).toDF("d1", "d2"), state, i.toLong)
        // fold history mid-stream on the first boundary: later increments
        // must see the same mapping through the compacted tables
        if (i == 0) Dedup.clusterCompact(spark, state, uptoBatch = 0L)
      }
      val got = Dedup.clusterMapping(spark, state)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = Dedup.connectedComponents(edges.toDF("d1", "d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.Caching.release(spark)
      state.dropTables(spark)
      assert(got == want, s"seed $seed (cuts $cuts): incremental $got != batch $want")

      // the streaming path: ONE shared TableChecks with the registry
      // mapping cache on (what clusterStream/runStream create) — cache
      // hits, the mid-stream compaction invalidation, AND a deliberate
      // cache-miss restart (fresh caching instance on an existing
      // registry, the seed-from-table path) must all reproduce the same
      // mapping as batch CC
      val state2 = Dedup.ClusterState(s"pclusc_$seed", numBuckets = 4)
      state2.dropTables(spark)
      val shared = new graft.ext.TableChecks(cacheRegistryMapping = true)
      chunks.zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        Dedup.clusterIncrement(edges.slice(lo, hi).toDF("d1", "d2"), state2,
          i.toLong, checks = shared)
        if (i == 0) {
          Dedup.clusterCompact(spark, state2, uptoBatch = 0L)
          shared.invalidateRegistryMapping() // the clusterStream rule
          // chunk 1 then misses (table re-seed); chunks >= 2 hit the cache
        }
      }
      // restart on an existing registry: a FRESH caching instance misses,
      // serves the increment off the table, and seeds from it — replaying
      // the last chunk's (idempotent) edges must not move the mapping
      val (rlo, rhi) = (chunks.last.head, chunks.last.last)
      Dedup.clusterIncrement(edges.slice(rlo, rhi).toDF("d1", "d2"), state2,
        chunks.length.toLong,
        checks = new graft.ext.TableChecks(cacheRegistryMapping = true))
      val got2 = Dedup.clusterMapping(spark, state2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.Caching.release(spark)
      state2.dropTables(spark)
      assert(got2 == want, s"seed $seed (cuts $cuts): cached-path $got2 != batch $want")
    }
  }

  test("ImageIO codecs round-trip on random dimensions and pixel content") {
    import graft.ext.Multimodal.ImageCodecs
    val dims = Gen.zip(Gen.choose(1, 40), Gen.choose(1, 40), Gen.choose(0L, 1000000L))
    for (seed <- 50L to 53L) {
      val (w, h, s) = sample(dims, seed)
      // probe reports the true dims of a real encode, no pixel decode
      val png = ImageCodecs.syntheticPng(w, h, s)
      assert(ImageCodecs.probe(png) === Some(("png", w, h, 3)), s"seed $seed ($w x $h)")
      // resize obeys the declared floor formula at any dims
      val maxDim = 16
      val m = math.max(w, h)
      val resized = ImageCodecs.resize(png, maxDim)
      val expect =
        if (m <= maxDim) (w, h)
        else (math.max(1, w * maxDim / m), math.max(1, h * maxDim / m))
      assert(ImageCodecs.probe(resized).map(p => (p._2, p._3)) === Some(expect),
        s"seed $seed ($w x $h -> $expect)")
      // random gray pixels survive encode->decode->grid bit-exactly
      val px = sample(Gen.listOfN(66, Gen.choose(0, 255)), seed).toArray
      val grid = ImageCodecs.luminanceGrid(
        ImageCodecs.decode(ImageCodecs.grayPng(px, 11, 6)).get, 11, 6)
      assert(grid.sameElements(px), s"seed $seed gray round-trip")
    }
  }

  test("capPerGroup equals the sequential hash-rank model on random groups") {
    import spark.implicits._
    for (seed <- 40L to 41L) {
      val rows = sample(Gen.listOfN(250, Gen.zip(Gen.choose(0L, 8L), Gen.choose(0L, 100000L))), seed)
        .map(_.swap).distinctBy(_._1) // unique ids, random groups
      val df = rows.toDF("id", "grp")
      val got = Sampling.capPerGroup(df, "id", "grp", 7, "s")
        .select("id").as[Long].collect().toSet
      val want = rows.groupBy(_._2).values.flatMap(g =>
        g.sortBy { case (id, _) => (Hashing.md5Hash60(s"s:$id"), id) }.take(7).map(_._1)).toSet
      assert(got == want, s"seed $seed")
    }
  }

  test("temperatureSample equals the closed-form threshold model; larger targets nest") {
    import spark.implicits._
    val rowsGen: Gen[List[(Long, String, Long)]] = Gen.listOfN(200, for {
      s <- Gen.oneOf("a", "b", "c", "d")
      m <- Gen.choose(1L, 500L)
    } yield (s, m)).map(_.zipWithIndex.map { case ((s, m), i) => (i.toLong, s, m) })
    for (seed <- 90L to 92L) {
      val rows = sample(rowsGen, seed)
      val df = rows.toDF("doc_id", "source", "mass")
      val got = Sampling.temperatureSample(df, "doc_id", "source", col("mass"),
          alpha = 0.5, targetFrac = 0.4, seed = s"t$seed")
        .select("doc_id").as[Long].collect().toSet
      // model: the documented closed form, replayed sequentially
      val masses = rows.groupBy(_._2).map { case (s, g) => s -> g.map(_._3).sum }
      val mTot = masses.values.sum
      val sPow = masses.toSeq.sortBy(_._1).foldLeft(0.0) { case (acc, (_, m)) =>
        acc + math.sqrt(m.toDouble) }
      val thr = masses.map { case (s, m) =>
        val md = m.toDouble
        s -> math.min(10000.0, 0.4 * mTot * (math.sqrt(md) / sPow) / md * Sampling.Buckets)
      }
      val want = rows.filter { case (id, s, _) =>
        (Hashing.md5Hash60(s"t$seed:$id") % Sampling.Buckets).toDouble < thr(s)
      }.map(_._1).toSet
      assert(got == want, s"seed $seed: ${got.size} vs ${want.size}")
      // thresholds are monotone in targetFrac ⇒ a larger target keeps a superset
      val bigger = Sampling.temperatureSample(df, "doc_id", "source", col("mass"),
          alpha = 0.5, targetFrac = 0.7, seed = s"t$seed")
        .select("doc_id").as[Long].collect().toSet
      assert(got.subsetOf(bigger), s"seed $seed: target 0.4 not nested in 0.7")
    }
  }

  test("splitByComponent equals hashSplit-of-union-find-root on random graphs") {
    import spark.implicits._
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val edgesGen: Gen[List[(Long, Long)]] = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 60L), Gen.choose(0L, 60L)))
    for (seed <- 95L to 96L) {
      val edges = sample(edgesGen, seed).filter { case (a, b) => a != b }
      val docs = (0L to 60L).toDF("doc_id")
      val got = Sampling.splitByComponent(docs, "doc_id", edges.toDF("d1", "d2"),
          s"c$seed", splits)
        .select("doc_id", "root_id", "split").as[(Long, Long, String)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
      Caching.release(spark)
      // model: union-find component min as root, then the hashSplit rule on it
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
      val minOfRoot = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
      (0L to 60L).foreach { id =>
        val root = if (nodes(id)) minOfRoot(find(id)) else id
        val bucket = Hashing.md5Hash60(s"c$seed:$root") % Sampling.Buckets
        val split = if (bucket < 8000) "train" else if (bucket < 9000) "val" else "test"
        assert(got(id) == ((root, split)), s"seed $seed doc $id")
      }
    }
  }

  test("dedupSpans equals the sequential winner model on random constrained-vocab corpora") {
    import spark.implicits._
    val k = 3
    // tiny vocab forces genuine cross-doc and within-doc window repeats
    val docsGen: Gen[List[(Long, String)]] =
      Gen.listOfN(40, Gen.choose(0, 30).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0, 7)).map(_.map(v => s"v$v").mkString(" "))))
        .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    for (seed <- 1L to 3L) {
      val docs = sample(docsGen, seed)
      val wins = docs.flatMap { case (id, text) =>
        text.split("\\s+").filter(_.nonEmpty).sliding(k).filter(_.length == k).zipWithIndex
          .map { case (w, p) => (id, p, Hashing.md5Hash60(w.mkString(" "))) }.toSeq
      }
      val byHash = wins.groupBy(_._3)
      val expected = docs.map { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty)
        val losers = wins.filter(_._1 == id).collect {
          case (_, p, h) if byHash(h).length > 1 &&
            byHash(h).map(o => (o._1, o._2)).min != ((id, p)) => p
        }
        val covered = losers.flatMap(s => s until s + k).toSet
        val kept = toks.indices.filterNot(covered)
        (id, (toks.length.toLong, (toks.length - kept.length).toLong,
          kept.map(toks).mkString(" ")))
      }.toMap
      val got = graft.ext.Dedup.dedupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      graft.Caching.release(spark)
      assert(got == expected, s"seed $seed")
      assert(expected.values.exists(_._2 > 0), s"seed $seed produced no repeats — weak gen")
    }
  }

  test("bm25Join equals the sequential posting model on random constrained-vocab corpora") {
    import spark.implicits._
    def flog2(v: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(v)
    // token-LESS docs included (n = 0 ⇒ ""): they carry no posting but DO
    // count toward the corpus size n and thus avgdl — the r18 stats
    // derivation (n from a corpus count, l/maxDl from the postings) must
    // keep treating them exactly as the former tokenize-and-aggregate
    // stats pass did, and this model counts them in `n` below
    val docsGen: Gen[List[(Long, String)]] =
      Gen.listOfN(25, Gen.choose(0, 20).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0, 11)).map(_.map(v => s"t$v").mkString(" "))))
        .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    var sawEmptyDoc = false
    for (seed <- 1L to 3L) {
      val docs = sample(docsGen, seed)
      sawEmptyDoc ||= docs.exists(_._2.isEmpty)
      val queries = docs.filter(_._1 % 5 == 0)
      val toks = docs.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty) }.toMap
      val n = docs.length.toLong
      val l = toks.values.map(_.length.toLong).sum
      val av = 1000L * l / n
      val dfc = toks.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val k = 4
      val expected = queries.flatMap { case (qid, qt) =>
        val terms = qt.split("\\s+").filter(_.nonEmpty).distinct
        val present = toks.toSeq.flatMap { case (doc, tk) =>
          val matched = terms.filter(tk.contains)
          if (matched.isEmpty) None
          else Some((doc, matched.map { t =>
            val tf = tk.count(_ == t).toLong
            (22000L * av * (flog2(n + 1) - flog2(dfc(t) + 1)) * tf) /
              (10L * av * tf + 3L * av + 9000L * tk.length)
          }.sum))
        }
        present.sortBy { case (doc, s) => (-s, doc) }.take(k).zipWithIndex
          .map { case ((doc, _), i) => (qid, i + 1, doc) }
      }.toSet
      val got = graft.ext.TextAnalysis.bm25Join(
          docs.toDF("doc_id", "text"), queries.toDF("doc_id", "text"),
          "doc_id", "text", "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      graft.Caching.release(spark)
      assert(got == expected, s"seed $seed")
      assert(expected.nonEmpty, s"seed $seed retrieved nothing — weak gen")
    }
    assert(sawEmptyDoc, "no seed drew a token-less doc — the avgdl-counts-empty-docs edge went unexercised")
  }

  test("chunkByTokens invariants hold on random docs; disjoint chunks reconstruct the doc") {
    import spark.implicits._
    val docsGen: Gen[List[(Long, String)]] =
      Gen.listOfN(60, Gen.choose(0, 120)).map(_.zipWithIndex.map { case (n, i) =>
        (i.toLong, (0 until n).map(j => s"w${(i * 31 + j * 7) % 50}").mkString(" "))
      })
    for (seed <- 1L to 3L) {
      val docs = sample(docsGen, seed)
      val d = docs.toDF("doc_id", "text")
      for ((window, stride) <- Seq((16, 16), (16, 7), (5, 1))) {
        val chunks = graft.ext.Sharding.chunkByTokens(d, "doc_id", "text", window, stride)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        docs.foreach { case (id, text) =>
          val toks = text.split("\\s+").filter(_.nonEmpty)
          val mine = chunks.filter(_._1 == id).sortBy(_._2)
          if (toks.isEmpty) assert(mine.isEmpty, s"seed $seed doc $id")
          else {
            // coverage: first chunk starts at 0, last covers the final token,
            // successive chunk ends strictly increase (no contained chunk)
            assert(mine.head._3 == 0L)
            assert(mine.last._3 + mine.last._4 == toks.length)
            mine.map(c => c._3 + c._4).sliding(2).foreach {
              case Array(a, b) => assert(b > a, s"seed $seed doc $id")
              case _ => ()
            }
            // every chunk's text is the exact token slice
            mine.foreach { case (_, _, s, n, txt) =>
              assert(txt == toks.slice(s.toInt, (s + n).toInt).mkString(" "))
            }
            // stride == window: disjoint chunks concatenate back to the doc
            if (window == stride)
              assert(mine.map(_._5).mkString(" ") == toks.mkString(" "), s"seed $seed doc $id")
          }
        }
      }
    }
  }

  test("MJPEG-AVI container round-trips on random frame counts and sizes; any truncation parses as non-AVI") {
    import graft.ext.Multimodal.VideoCodecs
    // random REAL JPEG payload sizes are exercised by the ExtensionsSpec
    // golden; here the CONTAINER walk is fuzzed: arbitrary frame byte
    // strings (the walk never inspects frame content), odd sizes forcing
    // chunk padding, and frame counts from 1 to 40
    (1 to 30).foreach { trial =>
      val rnd = new scala.util.Random(0xA51D00D + trial)
      val n = 1 + rnd.nextInt(40)
      val frames = (0 until n).map { _ =>
        val b = new Array[Byte](1 + rnd.nextInt(600)) // odd sizes included
        rnd.nextBytes(b); b
      }
      val avi = VideoCodecs.mjpegAvi(frames, width = 32, height = 16)
      val parsed = VideoCodecs.aviFrames(1L, avi)
      assert(parsed.isDefined, s"trial $trial must parse")
      val got = parsed.get
      assert(got.size == n, s"trial $trial: ${got.size} != $n frames")
      got.zip(frames).zipWithIndex.foreach { case ((f, expect), i) =>
        assert(f.frame_idx == i.toLong)
        val slice = avi.slice(f.byte_offset.toInt, f.byte_offset.toInt + expect.length)
        assert(slice.sameElements(expect), s"trial $trial frame $i offset ${f.byte_offset}")
      }
      // ANY truncation must read as not-an-AVI (strict walk), never as a
      // container with silently fewer frames
      val cut = 12 + rnd.nextInt(avi.length - 13)
      assert(VideoCodecs.aviFrames(1L, avi.take(cut)).isEmpty,
        s"trial $trial: truncation at $cut must fail the walk")
    }
  }

  test("compactOffsets edges: no-op without a dir or with uptoBatch < 0; folding twice is idempotent; gaps fold") {
    import graft.ext.CurationPipeline
    val state = CurationPipeline.StreamState("tco",
      java.nio.file.Files.createTempDirectory("graft_co").toString, numBuckets = 2)
    // missing dir / negative uptoBatch: both no-ops, no throw
    CurationPipeline.compactOffsets(spark, state, uptoBatch = 3L)
    CurationPipeline.compactOffsets(spark, state, uptoBatch = -1L)
    // a ledger with a batch GAP (batch 1 emitted no offsets) and several
    // buckets; fold <= 2 must keep per-bucket latest and leave batch 4
    import spark.implicits._
    Seq((0L, 10L, 0L), (1L, 5L, 0L), (0L, 25L, 2L), (0L, 40L, 4L), (1L, 9L, 4L))
      .toDF("bucket", "cum", "batch_id")
      .write.partitionBy("batch_id").parquet(state.offsetsDir)
    def read() = spark.read.parquet(state.offsetsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.get(2).toString.toLong)).toSet
    CurationPipeline.compactOffsets(spark, state, uptoBatch = 2L)
    val want = Set((0L, 25L, 2L), (1L, 5L, 2L), (0L, 40L, 4L), (1L, 9L, 4L))
    assert(read() === want, s"fold <= 2: ${read()}")
    // idempotent
    CurationPipeline.compactOffsets(spark, state, uptoBatch = 2L)
    assert(read() === want)
    // and a reader of batch_id < 3 (a replay of batch 3) sees the same
    // per-bucket base as the unfolded ledger would have given it
    val base = spark.read.parquet(state.offsetsDir)
      .filter(col("batch_id") < 3)
      .groupBy("bucket").agg(expr("max_by(cum, batch_id)").as("cum"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(base === Map(0L -> 25L, 1L -> 5L))
  }

  // --- k-means trainer equivalence ---------------------------------------
  //
  // The round-11 rewrite (per-partition [cluster][dim+1] partial sums merged
  // driver-side; joint m-subspace PQ training) must evolve EXACTLY the Lloyd
  // trajectory of the straight-line sequential model. Exact comparison is
  // sound because the inputs are integer-VALUED floats: partial sums of
  // small integers are exact in doubles under ANY accumulation order, so
  // each iteration's centroids are bitwise equal to the model's (means =
  // exact-int sum / exact count), and the per-(centroid, vector) distance
  // loops run in identical j-order on identical operands — assignments,
  // including first-wins ties (forced by the tiny value range), can never
  // diverge. This holds through LATER iterations too: centroids become
  // non-integer rationals, but both sides hold the same bit patterns.

  /** Sequential Lloyd on one coordinate slice [off, off+dsub): the model for
    * every slice of the one trainer (IVF is the off=0, dsub=dim case).
    */
  private def lloydModel(rows: Seq[(Long, Array[Float])], k: Int, iters: Int,
                         off: Int, dsub: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = rows.sortBy(_._1).take(k)
      .map(_._2.slice(off, off + dsub).map(_.toDouble)).toArray
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dsub))
      val counts = new Array[Long](cents.length)
      rows.foreach { case (_, v) =>
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < cents.length) {
          var d = 0.0; var j = 0
          while (j < dsub) { val t = cents(ci)(j) - v(off + j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = ci } // strict <: first wins ties
          ci += 1
        }
        var j = 0
        while (j < dsub) { sums(best)(j) += v(off + j); j += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (c, ci) =>
        if (counts(ci) > 0) Array.tabulate(dsub)(j => sums(ci)(j) / counts(ci))
        else c // empty cluster keeps its centroid
      }
    }
    cents
  }

  test("ivfCentroids equals the sequential Lloyd model on integer-valued vectors") {
    import spark.implicits._
    for (seed <- Seq(7L, 8L, 9L)) {
      val dim = 6
      val rows = sample(Gen.listOfN(80,
        Gen.listOfN(dim, Gen.choose(0, 3)).map(_.map(_.toFloat).toArray)), seed)
        .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      // shuffle ids so lowest-id init is not just "the first k generated"
      val shuffled = new scala.util.Random(seed).shuffle(rows)
        .zipWithIndex.map { case ((_, v), i) => ((i * 37L) % 1000L, v) }
        .groupBy(_._1).map(_._2.head).toSeq // unique ids
      val ds = shuffled.toDF("id", "v").as[(Long, Array[Float])].repartition(7)
      val got = graft.ext.Similarity.ivfCentroids(ds, nClusters = 5, iters = 4, "PropertySpec")
      val want = lloydModel(shuffled, k = 5, iters = 4, off = 0, dsub = dim)
      assert(got.length == want.length)
      got.zip(want).zipWithIndex.foreach { case ((g, w), ci) =>
        assert(java.util.Arrays.equals(g, w), s"seed=$seed centroid $ci: " +
          s"${g.toSeq} != ${w.toSeq}")
      }
    }
  }

  test("pqTrain with a training sample smaller than ksub trains the shorter valid codebook") {
    import spark.implicits._
    // 5 vectors, ksub=16: init collects only 5 centroids, so the joint
    // Lloyd loop must size by the ACTUAL codebook (the IVF codebook's
    // init-length-bounded behavior) — sizing by the requested ksub
    // indexed past the init array on the empty-cluster branch
    val dim = 4; val m = 2; val iters = 3
    val rows = (1L to 5L).map(i =>
      (i, Array.tabulate(dim)(j => (i * 2 + j).toFloat)))
    val df = rows.toDF("vec_id", "embedding").repartition(3)
    val model = graft.ext.Similarity.pqTrain(df, "vec_id", "embedding",
      m = m, ksub = 16, iters = iters)
    assert(model.ksub == 5 && model.m == m && model.dim == dim)
    val dsub = dim / m
    for (sub <- 0 until m) {
      val want = lloydModel(rows, 16, iters, off = sub * dsub, dsub = dsub)
      assert(want.length == 5)
      model.codebooks(sub).zip(want).zipWithIndex.foreach { case ((g, w), ci) =>
        assert(java.util.Arrays.equals(g, w),
          s"sub=$sub centroid $ci: ${g.toSeq} != ${w.toSeq}")
      }
    }
  }

  test("pqTrain's joint subspace training equals per-subspace sequential Lloyd") {
    import spark.implicits._
    for (seed <- Seq(11L, 12L)) {
      val dim = 8; val m = 2; val ksub = 4; val iters = 3
      val rows = sample(Gen.listOfN(60,
        Gen.listOfN(dim, Gen.choose(0, 3)).map(_.map(_.toFloat).toArray)), seed)
        .zipWithIndex.map { case (v, i) => (i.toLong * 13L % 997L, v) }
        .groupBy(_._1).map(_._2.head).toSeq
        .filter(_._2.exists(_ != 0f)) // pqTrain drops zero-norm vectors
      val df = rows.toDF("vec_id", "embedding").repartition(5)
      val model = graft.ext.Similarity.pqTrain(df, "vec_id", "embedding",
        m = m, ksub = ksub, iters = iters)
      assert(model.m == m && model.ksub == ksub && model.dim == dim)
      val dsub = dim / m
      for (sub <- 0 until m) {
        val want = lloydModel(rows, ksub, iters, off = sub * dsub, dsub = dsub)
        model.codebooks(sub).zip(want).zipWithIndex.foreach { case ((g, w), ci) =>
          assert(java.util.Arrays.equals(g, w),
            s"seed=$seed sub=$sub centroid $ci: ${g.toSeq} != ${w.toSeq}")
        }
      }
    }
  }

  test("ivfPqBuild trains its IVF and PQ codebooks jointly, each equal to the sequential Lloyd model") {
    import spark.implicits._
    val dim = 8; val m = 2; val nClusters = 5; val ksub = 4; val iters = 3
    val rows = sample(Gen.listOfN(70,
      Gen.listOfN(dim, Gen.choose(0, 3)).map(_.map(_.toFloat).toArray)), 21L)
      .zipWithIndex.map { case (v, i) => (i.toLong * 17L % 991L, v) }
      .groupBy(_._1).map(_._2.head).toSeq // unique ids
      .filter(_._2.exists(_ != 0f)) // the build drops zero-norm vectors
    val suffix = java.lang.Long.toHexString(System.nanoTime())
    val index = graft.ext.Similarity.IvfPqIndex(s"joint_assign_$suffix",
      s"joint_codebook_$suffix", s"joint_pq_$suffix", numBuckets = 2)
    try {
      // nClusters != ksub: the two families size their codebooks apart
      val (_, jobs) = jobsRunBy(graft.ext.Similarity.ivfPqBuild(
        rows.toDF("vec_id", "embedding").repartition(4), "vec_id", "embedding", index,
        nClusters = nClusters, m = m, ksub = ksub, iters = iters))
      info(s"ivfPqBuild ran $jobs Spark jobs")
      def same(got: Seq[Array[Double]], want: Seq[Array[Double]], what: String): Unit = {
        assert(got.length == want.length, what)
        got.zip(want).zipWithIndex.foreach { case ((g, w), ci) =>
          assert(java.util.Arrays.equals(g, w), s"$what centroid $ci: ${g.toSeq} != ${w.toSeq}")
        }
      }
      same(spark.table(index.codebookTable).as[(Int, Array[Double])].collect()
        .sortBy(_._1).map(_._2).toSeq,
        lloydModel(rows, nClusters, iters, off = 0, dsub = dim).toSeq, "ivf")
      val pq = spark.table(index.pqTable).as[(Int, Int, Array[Double])].collect()
      val dsub = dim / m
      for (sub <- 0 until m)
        same(pq.filter(_._1 == sub).sortBy(_._2).map(_._3).toSeq,
          lloydModel(rows, ksub, iters, off = sub * dsub, dsub = dsub).toSeq, s"pq sub=$sub")
    } finally Seq(index.assignmentsTable, index.codebookTable, index.pqTable)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
