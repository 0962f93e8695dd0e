package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

/** Extension-operator invariants on the sf0.001 driver tables. */
class ExtensionsSpec extends SparkSpec {

  private def docs = Tables.load(spark, sf(), "documents")
  private def emb = Tables.load(spark, sf(), "embeddings")

  private def pairRows(df: org.apache.spark.sql.DataFrame): Set[SimilarityReference.Pair] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4))).toSet

  test("minhash LSH finds exactly the exact-jaccard pairs at threshold 0.5") {
    val exact = Dedup.jaccardPairs(Dedup.wordShingles(docs, "doc_id", "text", 3), 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshDocs(docs, "doc_id", "text", 0.5).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caching.release(spark)
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("minHashLshDocs is row-identical to the grouped-set reference model") {
    // one narrow in-row pass for sets+bands+sizes must not move a single
    // pair, count or jaccard value against the straight-line definition
    val model = SimilarityReference.minHashPairs(
      Dedup.wordShingles(docs, "doc_id", "text", 3), 0.5)
    val viaDocs = pairRows(Dedup.minHashLshDocs(docs, "doc_id", "text", 0.5))
    graft.Caching.release(spark)
    assert(model.nonEmpty)
    assert(viaDocs == model,
      s"set-based path diverged: docs=${viaDocs.size} model=${model.size}")
  }

  test("minHashLshCrossDocs is row-identical to the grouped-set reference model") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val ref = docs.filter(col("doc_id") % 2 =!= 0)
    val model = SimilarityReference.minHashCrossPairs(
      Dedup.wordShingles(corpus, "doc_id", "text", 3),
      Dedup.wordShingles(ref, "doc_id", "text", 3), 0.5)
    val viaDocs = pairRows(Dedup.minHashLshCrossDocs(corpus, ref, "doc_id", "text", 0.5))
    graft.Caching.release(spark)
    assert(model.nonEmpty)
    assert(viaDocs == model,
      s"set-based cross path diverged: docs=${viaDocs.size} model=${model.size}")
  }

  test("cross-corpus LSH pairs equal the exact cross-Jaccard; only between-side pairs emit") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val ref = docs.filter(col("doc_id") % 2 =!= 0)
    // the exact answer: the proven self-join path on the full corpus,
    // filtered to cross-parity pairs and re-oriented (corpus side first)
    val exact = Dedup.jaccardPairs(Dedup.wordShingles(docs, "doc_id", "text", 3), 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 2 == 0) != (b % 2 == 0) }
      .map { case (a, b) => if (a % 2 == 0) (a, b) else (b, a) }.toSet
    val cross = Dedup.minHashLshCrossDocs(corpus, ref, "doc_id", "text", 0.5)
      .select("corpus_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caching.release(spark)
    assert(cross == exact, s"cross=${cross.size} exact=${exact.size}")
    assert(cross.forall { case (c, r) => c % 2 == 0 && r % 2 != 0 },
      "a within-side pair leaked through the cross band join")
  }

  test("dedupAgainst drops exactly the cross-paired corpus docs; shingle-less and same-id docs follow the contract") {
    import spark.implicits._
    val corpus = Seq(
      0L -> "alpha beta gamma delta epsilon", // pairs with ref 1
      2L -> "alpha beta gamma delta epsilon", // within-side dup of 0 — must NOT pair with it, drops only via ref 1
      4L -> "totally different corpus words entirely here",
      6L -> "xx", // < 3 tokens: no shingles, never pairs, always survives
      8L -> "same id lives in both frames") // identical text as ref id 8 — a CROSS pair, not a self-pair
      .toDF("doc_id", "text")
    val ref = Seq(
      1L -> "alpha beta gamma delta epsilon",
      3L -> "unrelated reference text goes here",
      8L -> "same id lives in both frames")
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashLshCrossDocs(corpus, ref, "doc_id", "text", 0.5)
      .select("corpus_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caching.release(spark)
    // 0 and 2 are identical to each other AND to ref 1: each pairs with 1
    // only (no within-corpus pair); id 8 pairs ACROSS despite equal ids
    assert(pairs == Set((0L, 1L), (2L, 1L), (8L, 8L)), pairs.toString)
    val survivors = Dedup.dedupAgainst(corpus, ref, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    assert(survivors == Set(4L, 6L), survivors.toString)
  }

  test("index-backed cross dedup equals the frame path; missing-index and contract cases hold") {
    import spark.implicits._
    val suffix = java.lang.Long.toHexString(System.nanoTime())
    val idx = Dedup.LshIndex(s"xi_bands_$suffix", s"xi_shingles_$suffix", numBuckets = 4)
    // probing an unbuilt index fails loudly, naming the tables to build
    val e = intercept[IllegalArgumentException] {
      Dedup.minHashLshCrossIndex(docs, "doc_id", "text", idx, 0.5)
    }
    assert(e.getMessage.contains(idx.bandsTable), e.getMessage)
    try {
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val ref = docs.filter(col("doc_id") % 2 =!= 0)
      Dedup.buildLshIndex(ref, "doc_id", "text", idx)
      val viaIndex = Dedup.minHashLshCrossIndex(corpus, "doc_id", "text", idx, 0.5)
        .select("corpus_id", "ref_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.Caching.release(spark)
      val viaFrames = Dedup.minHashLshCrossDocs(corpus, ref, "doc_id", "text", 0.5)
        .select("corpus_id", "ref_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.Caching.release(spark)
      assert(viaIndex == viaFrames,
        s"index path diverged: viaIndex=${viaIndex.size} viaFrames=${viaFrames.size}")
      // the same-id-both-frames and shingle-less contracts ride the
      // indexed drop decision too
      val c2 = Seq(8L -> "same id lives in both frames", 6L -> "xx").toDF("doc_id", "text")
      val r2 = Seq(8L -> "same id lives in both frames").toDF("doc_id", "text")
      val idx2 = Dedup.LshIndex(s"xi2_bands_$suffix", s"xi2_shingles_$suffix", numBuckets = 2)
      try {
        Dedup.buildLshIndex(r2, "doc_id", "text", idx2)
        val surv = Dedup.dedupAgainstIndex(c2, "doc_id", "text", idx2, 0.5)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        graft.Caching.release(spark)
        assert(surv == Set(6L), surv.toString)
      } finally Seq(idx2.bandsTable, idx2.shinglesTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally Seq(idx.bandsTable, idx.shinglesTable)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("armed maxSliceRows caps the per-id merged shingle-set growth, raising by name (r17 VERDICT item 5)") {
    import spark.implicits._
    val suffix = java.lang.Long.toHexString(System.nanoTime())
    val idx = Dedup.LshIndex(s"cap_bands_$suffix", s"cap_shingles_$suffix", numBuckets = 2)
    val conf = graft.streaming.StatefulOps.MaxSliceRowsConf
    try {
      Dedup.buildLshIndex(
        Seq(1L -> "alpha beta gamma delta epsilon").toDF("doc_id", "text"),
        "doc_id", "text", idx)
      // a pathological id re-arriving with new text: THREE same-id corpus
      // rows, all near-dups of ref 1 — the per-id set union merges 3 rows
      val hotId = Seq(
        7L -> "alpha beta gamma delta epsilon",
        7L -> "alpha beta gamma delta zeta",
        7L -> "alpha beta gamma delta eta").toDF("doc_id", "text")
      // unarmed: the merge is unbounded (documented) and pairs emit
      val unarmed = Dedup.minHashLshCrossIndex(hotId, "doc_id", "text", idx, 0.5)
        .select("corpus_id").collect().map(_.getLong(0)).toSet
      graft.Caching.release(spark)
      assert(unarmed == Set(7L), unarmed.toString)
      // armed below the 3-row merge: the query fails NAMING the id, the
      // cap, and the conf — never a silent ever-fatter array on one task
      spark.conf.set(conf, "2")
      try {
        val e = intercept[Exception] {
          Dedup.minHashLshCrossIndex(hotId, "doc_id", "text", idx, 0.5).collect()
        }
        def msgs(t: Throwable): String =
          if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
        val msg = msgs(e)
        assert(msg.contains("minHashLshCrossIndex") && msg.contains("7") &&
          msg.contains("maxSliceRows"), msg.take(500))
        graft.Caching.release(spark)
        // armed ABOVE the merge size: results identical to unarmed
        spark.conf.set(conf, "8")
        val armedOk = Dedup.minHashLshCrossIndex(hotId, "doc_id", "text", idx, 0.5)
          .select("corpus_id").collect().map(_.getLong(0)).toSet
        graft.Caching.release(spark)
        assert(armedOk == Set(7L), armedOk.toString)
      } finally spark.conf.unset(conf)
    } finally Seq(idx.bandsTable, idx.shinglesTable)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a malformed maxSliceRows raises the same named error from every consumer") {
    import spark.implicits._
    import graft.ext.CurationPipeline
    import graft.model.KRecord
    import graft.streaming.StatefulOps
    val suffix = java.lang.Long.toHexString(System.nanoTime())
    val idx = Dedup.LshIndex(s"bad_bands_$suffix", s"bad_shingles_$suffix", numBuckets = 2)
    val conf = StatefulOps.MaxSliceRowsConf
    val text = "alpha beta gamma delta epsilon"
    val cfg = CurationPipeline.Config(minTokens = 1L, langs = Set("en"),
      nearDupThreshold = 0.5, maxGramDf = None,
      splits = Seq("train" -> 1.0), tokensPerShard = 25L, shardBuckets = 2)
    val state = CurationPipeline.StreamState("bad_cap_" + suffix,
      java.nio.file.Files.createTempDirectory("graft_bad_cap").toString, numBuckets = 2)
    try {
      Dedup.buildLshIndex(Seq(1L -> text).toDF("doc_id", "text"), "doc_id", "text", idx)
      // a long-sized value the Int reader rejects, like any other junk
      spark.conf.set(conf, "3000000000")
      val consumers: Seq[(String, () => Any)] = Seq(
        "StatefulOps" -> (() => StatefulOps.latestByKey(Seq(KRecord.of(7, "v", 1L)).toDS())),
        "Dedup" -> (() => Dedup.minHashLshCrossIndex(
          Seq(7L -> text).toDF("doc_id", "text"), "doc_id", "text", idx, 0.5)),
        "CurationPipeline" -> (() => CurationPipeline.streamIncrement(
          Seq(7L -> text).toDF("doc_id", "text"), "doc_id", "text", None, cfg,
          state, batchId = 0L)))
      consumers.foreach { case (name, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage === s"$conf must be a positive int, got '3000000000'", name)
      }
    } finally {
      spark.conf.unset(conf)
      graft.Caching.release(spark)
      state.dropTables(spark)
      Seq(idx.bandsTable, idx.shinglesTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("connectedComponents collapses chains to min-id clusters; keepListCollapsed keeps one per chain") {
    import spark.implicits._
    // two components: the chain 1-2-3-4 (transitive only — (1,4) is not a
    // pair) and the island 10-11; doc 20 is unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("d1", "d2")
    val shuffleBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // the adaptive loop-parallelism override must restore the session
    // setting on the way out — success path here, failure path below
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shuffleBefore,
      "CC must restore the session shuffle partitions after adapting")
    // non-convergence (maxIters too small) raises AFTER the restore
    intercept[IllegalArgumentException](
      Dedup.connectedComponents(pairs, maxIters = 1).collect())
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shuffleBefore,
      "CC must restore the session shuffle partitions on the failure path too")
    graft.Caching.release(spark)

    val all = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val collapsed = Dedup.keepListCollapsed(all, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(collapsed === Set(1L, 10L, 20L), "one survivor per component + unpaired")
    // contrast with the per-pair rule: 3 appears as a d2, but 1,2 both survive
    val perPair = Dedup.keepList(all, "doc_id", Seq((1L, 3L), (2L, 3L)).toDF("d1", "d2"))
      .collect().map(_.getLong(0)).toSet
    assert(perPair === Set(1L, 2L, 4L, 10L, 11L, 20L))
    graft.Caching.release(spark)
  }

  test("NULL text equals empty text in exact dedup and profile sketches; simhash/slice guards") {
    import spark.implicits._
    val d = Seq((1L, null: String), (2L, ""), (3L, "words here")).toDF("doc_id", "text")
    // md5(NULL) is NULL — ungrouped from md5('') without the coalesce,
    // splitting what every other operator treats as ONE text value
    val ex = Dedup.exact(d, "doc_id", "text").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(ex === Set((1L, 2L), (3L, 1L)),
      s"NULL and '' must share one hash group (survivor 1, count 2): $ex")
    // the KMV hash skips NULL inputs: an un-coalesced NULL text would
    // vanish from est_distinct_texts and inflate the duplicate mass
    val p = graft.ext.Profile.bySlice(d.withColumn("src", lit("s")),
        "doc_id", "text", "src")
      .select("n_docs", "est_distinct_texts").collect().head
    graft.Caching.release(spark)
    assert(p.getLong(0) === 3L && p.getDouble(1) === 2.0,
      s"NULL text must sketch as the empty text: $p")
    // simHashPairs bounds: 60 would band at width 0 (all-pairs cross
    // join), negatives silently returned nothing
    val sims = Dedup.simHash(d, "doc_id", "text")
    intercept[IllegalArgumentException] { Dedup.simHashPairs(sims, 60) }
    intercept[IllegalArgumentException] { Dedup.simHashPairs(sims, -2) }
    // a slice column named like an output stat would emit duplicate
    // column names through the closing rename
    intercept[IllegalArgumentException] {
      graft.ext.Profile.bySlice(d.withColumn("n_docs", lit("s")),
        "doc_id", "text", "n_docs")
    }
    // graft_srp_sig numBits caps at 64: plane 64's 1L << 64 would WRAP
    // onto bit 0 and silently corrupt every signature — analysis-time
    // failure instead (the graft_simhash 1..60 precedent)
    graft.functions.GraftFunctions.register(spark)
    val vecs = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "v")
    intercept[org.apache.spark.sql.AnalysisException] {
      vecs.select(call_function("graft_srp_sig", col("v"), lit(65))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      vecs.select(call_function("graft_srp_sig", col("v"), lit(0))).collect()
    }
    assert(vecs.select(call_function("graft_srp_sig", col("v"), lit(64)))
      .collect().length === 1, "64 planes is the legal maximum")
  }

  test("collapseBest keeps the max-rank member per component (ties min id); null ranks lose; constant rank = min id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("d1", "d2")
    val ranked = Seq(1L -> 5L, 2L -> 9L, 3L -> 9L, 4L -> 1L, 10L -> 7L, 11L -> 3L, 20L -> 2L)
      .toDF("doc_id", "quality")
    val best = Dedup.collapseBest(ranked, "doc_id", pairs, "quality")
      .collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    assert(best === Set(2L, 10L, 20L),
      "chain keeps rank-9 tie-min-id 2; island keeps rank-7 10; unpaired 20 survives")

    // a NULL rank loses to any ranked member of its component
    val withNull = Seq(1L -> Some(5L), 2L -> Some(9L), 3L -> Some(9L), 4L -> Some(1L),
      10L -> None, 11L -> Some(3L), 20L -> Some(2L))
      .toDF("doc_id", "quality")
    val nullBest = Dedup.collapseBest(withNull, "doc_id", pairs, "quality")
      .collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    assert(nullBest === Set(2L, 11L, 20L))

    // constant rank degenerates to keepListCollapsed's min-id rule
    val const = ranked.withColumn("quality", lit(1L))
    val constBest = Dedup.collapseBest(const, "doc_id", pairs, "quality")
      .collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    val minId = Dedup.keepListCollapsed(const, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    assert(constBest === minId && constBest === Set(1L, 10L, 20L))

    // DOUBLE ranks compare as doubles: quality scores in [0, 1) must not
    // truncate to a universal 0 (which silently degenerated the survivor
    // rule to min-id); NaN is garbage and must not win its cluster
    val dblRanked = Seq(1L -> 0.03, 2L -> 0.97, 3L -> 0.52, 4L -> 0.01,
      10L -> Double.NaN, 11L -> 0.2, 20L -> 0.5)
      .toDF("doc_id", "quality")
    val dblBest = Dedup.collapseBest(dblRanked, "doc_id", pairs, "quality")
      .collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    assert(dblBest === Set(2L, 11L, 20L),
      s"fractional ranks must rank, and NaN must lose: $dblBest")
    // non-numeric ranks fail loudly instead of silently casting
    intercept[IllegalArgumentException] {
      Dedup.collapseBest(dblRanked.withColumn("quality", lit("hi")),
        "doc_id", pairs, "quality")
    }

    // DECIMAL ranks are numeric and compare exactly in their own family —
    // a DECIMAL(38,0) id-like rank one apart past 2^53 would collapse to
    // the same double, and a [0,1) decimal score must not truncate; NULL
    // loses as in every other family
    val bigA = BigDecimal("9007199254740993") // 2^53 + 1
    val bigB = BigDecimal("9007199254740992") // 2^53 — same double as bigA
    val decRanked = Seq(1L -> Option(BigDecimal("0.03")), 2L -> Option(bigA),
      3L -> Option(bigB), 4L -> Option(BigDecimal("0.01")),
      10L -> None, 11L -> Option(BigDecimal("0.2")),
      20L -> Option(BigDecimal("0.5")))
      .toDF("doc_id", "quality")
    val decBest = Dedup.collapseBest(decRanked, "doc_id", pairs, "quality")
      .collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    assert(decBest === Set(2L, 11L, 20L),
      s"decimal ranks must compare exactly (2^53+1 beats 2^53) and NULL must lose: $decBest")
  }

  test("unigramQuality scores hand-computed NLLs; vocab cap floors the tail and is exact when V covers the vocab") {
    import spark.implicits._
    val docs = Seq(
      1L -> "the the cat",
      2L -> "The dog",       // lowercased before counting
      3L -> "   ",           // token-less: n_tokens 0, NULL score
      4L -> "cat cat cat cat"
    ).toDF("doc_id", "text")
    // counts: the=3, cat=5, dog=1, N=9; floor-log2: N->3, the->1, cat->2, dog->0
    def collectScores(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Option[Double])] =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val full = collectScores(TextAnalysis.unigramQuality(docs, "doc_id", "text"))
    graft.Caching.release(spark)
    assert(full === Map(
      1L -> (3L, Some((3 * 3 - 4).toDouble / 3)),  // s = 2*1(the) + 1*2(cat)
      2L -> (2L, Some(2.5)),                       // s = 1*1(the) + 1*0(dog)
      3L -> (0L, None),
      4L -> (4L, Some(1.0))))                      // s = 4*2(cat)

    // V=1 keeps only 'cat' (count desc); 'the'/'dog' floor to count 1
    val capped = collectScores(
      TextAnalysis.unigramQuality(docs, "doc_id", "text", vocabSize = Some(1)))
    graft.Caching.release(spark)
    assert(capped === Map(
      1L -> (3L, Some((3 * 3 - 2).toDouble / 3)),
      2L -> (2L, Some(3.0)),
      3L -> (0L, None),
      4L -> (4L, Some(1.0))))

    // V >= |vocab|: identical to the full path, bit for bit
    val wide = collectScores(
      TextAnalysis.unigramQuality(docs, "doc_id", "text", vocabSize = Some(10)))
    graft.Caching.release(spark)
    assert(wide === full)
  }

  test("bigramQuality scores hand-computed conditional NLLs (x51)") {
    import spark.implicits._
    val docs = Seq(
      1L -> "a b a b",  // pairs (a,b)x2, (b,a)x1
      2L -> "a b",      // (a,b)
      3L -> "x",        // < 2 tokens: n_pairs 0, NULL score
      4L -> "b c a"     // (b,c), (c,a)
    ).toDF("doc_id", "text")
    // corpus: C(a,b)=3 C(b,a)=1 C(b,c)=1 C(c,a)=1; contexts: a->3 b->2 c->1
    // fl2 diffs: (a,b): 1-1=0, (b,a): 1-0=1, (b,c): 1-0=1, (c,a): 0-0=0
    val got = TextAnalysis.bigramQuality(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    graft.Caching.release(spark)
    assert(got === Map(
      1L -> (3L, Some(1.0 / 3)), // s = 2*0 + 1*1
      2L -> (1L, Some(0.0)),
      3L -> (0L, None),
      4L -> (2L, Some(0.5))))    // s = 1 + 0
  }

  test("gopherFilter applies each published rule; metrics are exact") {
    import spark.implicits._
    val goodWords = Seq("the", "and", "that", "have", "with",
      "quick", "brown", "foxes", "jumps", "barns")
    val good = (1 to 5).flatMap(_ => goodWords).mkString(" ")  // 50 words, mean len 4.3
    val bulletLines = (1 to 10).map(_ => "- the and that have with words").mkString("\n")
    val ellipsisLines = ((1 to 6).map(_ => "the and that have with words") ++
      (1 to 4).map(_ => "the and that have with words...")).mkString("\n")
    val symbols = good + " ####### #######"
    val numeric = ((1 to 5).flatMap(_ => Seq("the", "and", "that", "have", "with",
      "acorn", "baker")) ++ (1 to 15).map(_ => "12345")).mkString(" ")
    val noStop = (1 to 10).flatMap(_ => Seq("alpha", "bravo", "delta", "gamma", "omega")).mkString(" ")
    val docs = Seq(1L -> good, 2L -> "the cat", 3L -> bulletLines, 4L -> ellipsisLines,
      5L -> symbols, 6L -> numeric, 7L -> noStop).toDF("doc_id", "text")
    val rows = TextAnalysis.gopherFilter(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[Boolean]("keep"), "all rules pass")
    assert(rows(1L).getAs[Double]("mean_word_len") === 4.3)
    assert(rows(1L).getAs[Long]("n_stop") === 25L)
    assert(!rows(2L).getAs[Boolean]("keep") && rows(2L).getAs[Long]("n_words") === 2L,
      "rule 1: word count")
    assert(!rows(3L).getAs[Boolean]("keep") &&
      rows(3L).getAs[Double]("bullet_ratio") === 1.0, "rule 4: bullet lines")
    assert(!rows(4L).getAs[Boolean]("keep") &&
      rows(4L).getAs[Double]("ellipsis_ratio") === 0.4, "rule 5: ellipsis lines")
    assert(!rows(5L).getAs[Boolean]("keep") &&
      rows(5L).getAs[Double]("symbol_ratio") > 0.1, "rule 3: symbol ratio")
    // rule 3 thresholds EACH symbol ("either … greater than 0.1" removes,
    // Rae et al. A1): 3 hashes and 3 ellipses over 64 words score
    // max(3/64, 3/64), though their SUM would read 6/64
    val mixed = ((1 to 6).flatMap(_ => goodWords) ++ Seq("###", "...", "...", "..."))
      .mkString(" ")
    val mrow = TextAnalysis.gopherFilter(
      Seq(8L -> mixed).toDF("doc_id", "text"), "doc_id", "text").collect().head
    assert(mrow.getAs[Double]("symbol_ratio") === 3.0 / 64,
      "symbol_ratio must be the max per-symbol ratio, not the sum")
    assert(!rows(6L).getAs[Boolean]("keep") &&
      rows(6L).getAs[Double]("alpha_ratio") === 0.7, "rule 6: alpha words")
    assert(!rows(7L).getAs[Boolean]("keep") &&
      rows(7L).getAs[Long]("n_stop") === 0L, "rule 7: stopwords")
    // a trailing newline is an artifact, not a line: 9 all-bullet lines +
    // trailing \n must read bullet_ratio 1.0 (9/9), not 9/10 = 0.9 slipping
    // UNDER Rae et al.'s 0.9 removal threshold
    val trailing = (1 to 9).map(_ => "- the and that have with words").mkString("\n") + "\n"
    val trow = TextAnalysis.gopherFilter(
      Seq(10L -> trailing).toDF("doc_id", "text"), "doc_id", "text").collect().head
    assert(trow.getAs[Double]("bullet_ratio") === 1.0,
      s"trailing newline must not dilute the line count: $trow")
    // token-less doc: NULL ratios, keep = false (never NULL)
    val empty = TextAnalysis.gopherFilter(Seq(8L -> "  ").toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert(!empty.getAs[Boolean]("keep") && empty.isNullAt(empty.fieldIndex("mean_word_len")))
    // NULL text measures as EMPTY: bullet/ellipsis ratios read 0.0, not the
    // -1/-1 = 1.0 garbage raw size(NULL) produced under non-ANSI SQL
    val nullRow = TextAnalysis.gopherFilter(
      Seq((9L, Option.empty[String])).toDF("doc_id", "text"), "doc_id", "text").collect().head
    assert(!nullRow.getAs[Boolean]("keep") &&
      nullRow.getAs[Double]("bullet_ratio") === 0.0 &&
      nullRow.getAs[Double]("ellipsis_ratio") === 0.0, s"got $nullRow")
    // the A1 symbol rule removes at "GREATER than 0.1": a doc at exactly
    // 0.1 keeps. 50 words, five '#' chars → symbol_ratio == 0.1 exactly
    val boundary = (("the of " * 10).trim + " " +
      (1 to 25).map(i => if (i <= 5) s"word$i#" else s"word$i").mkString(" ") + " " +
      (1 to 5).map(i => s"tail$i").mkString(" "))
    val bRow = TextAnalysis.gopherFilter(
      Seq(10L -> boundary).toDF("doc_id", "text"), "doc_id", "text").collect().head
    assert(bRow.getAs[Double]("symbol_ratio") === 0.1, s"fixture drift: $bRow")
    assert(bRow.getAs[Boolean]("keep"),
      s"symbol_ratio exactly 0.1 must keep (remove is strictly greater): $bRow")
  }

  test("fingerprintPairs finds copied passages and respects minShared/df cap") {
    import spark.implicits._
    val passage = (1 to 30).map(i => s"tok$i").mkString(" ")
    // identical but non-periodic: a periodic text collapses to ONE distinct
    // fingerprint under winnowing and could never reach minShared = 2
    val boiler = (1 to 40).map(i => s"b$i").mkString(" ")
    val rows = Seq(
      1L -> s"$passage unique tail one two three four five",
      2L -> s"prefix words go here $passage",              // shares the passage with 1
      3L -> (1 to 40).map(i => s"other$i").mkString(" "),  // disjoint
      4L -> boiler, 5L -> boiler, 6L -> boiler             // identical boilerplate
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.fingerprintPairs(rows, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caching.release(spark)
    assert(got.contains((1L, 2L)), s"copied passage must pair: $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), s"disjoint doc paired: $got")
    assert(got.contains((4L, 5L)) && got.contains((5L, 6L)), got.toString)
    // a df cap of 2 drops every fingerprint shared by the 3 boilerplate
    // docs, removing those pairs while the 2-doc passage pair survives
    val capped = graft.ext.Dedup.fingerprintPairs(rows, "doc_id", "text",
        maxFingerprintDf = Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caching.release(spark)
    assert(capped.contains((1L, 2L)) && !capped.exists(p => p._1 >= 4L), capped.toString)
  }

  test("connectedComponents collapses a 200-link chain within the log-round budget") {
    import spark.implicits._
    // a path graph is the adversarial diameter case: plain min-label
    // propagation needs one round per hop (200 here); alternating
    // large/small-star must finish inside the default maxIters = 20 —
    // the require() inside the operator enforces it, so mere completion
    // proves the O(log²) round bound holds where naive propagation dies
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("d1", "d2")
    val comp = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 201)
    assert(comp.values.forall(_ == 0L), "whole chain is one component rooted at 0")
    graft.Caching.release(spark)
  }

  test("incremental cluster registry: cross-batch merges, replay, compaction fold") {
    import spark.implicits._
    val state = Dedup.ClusterState("tclus", numBuckets = 4)
    state.dropTables(spark)
    def mapping() = Dedup.clusterMapping(spark, state)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      // batch 0: two separate clusters {1,2} and {5,6}, island {10,11}
      Dedup.clusterIncrement(Seq((1L, 2L), (5L, 6L), (10L, 11L)).toDF("d1", "d2"),
        state, batchId = 0L)
      assert(mapping() === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
        10L -> 10L, 11L -> 10L))
      // batch 1: pair (2,5) must MERGE the two clusters through their
      // members — docs 1 and 6 are only reachable via the member expansion
      Dedup.clusterIncrement(Seq((2L, 5L)).toDF("d1", "d2"), state, batchId = 1L)
      val merged = Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L,
        10L -> 10L, 11L -> 10L)
      assert(mapping() === merged, "merge must re-root every member of both clusters")
      // at-least-once replay of batch 1: reads filter batch_id < 1, appended
      // rows are exact duplicates — the mapping must not move
      Dedup.clusterIncrement(Seq((2L, 5L)).toDF("d1", "d2"), state, batchId = 1L)
      assert(mapping() === merged, "replay must be idempotent")
      // compaction folds history (4 appends x <=4 buckets) to latest rows;
      // the mapping and subsequent increments must not move
      val before = Seq(state.byDocTable, state.byClusterTable)
        .map(t => spark.table(t).inputFiles.length)
      Dedup.clusterCompact(spark, state)
      Seq(state.byDocTable, state.byClusterTable).zip(before).foreach { case (t, b) =>
        val after = spark.table(t).inputFiles.length
        assert(after <= 4 && after < b, s"$t: $b -> $after files")
        assert(spark.table(t).count() === 6L, s"$t must fold to one row per doc")
      }
      assert(mapping() === merged, "mapping must survive compaction")
      // a post-compaction batch joining the island through doc 11
      Dedup.clusterIncrement(Seq((11L, 3L)).toDF("d1", "d2"), state, batchId = 2L)
      assert(mapping() === merged ++ Map(3L -> 3L, 10L -> 3L, 11L -> 3L),
        "post-compaction merges must still reach the folded members")
      // equivalence with the batch operator over ALL pairs at once
      val batch = Dedup.connectedComponents(Seq((1L, 2L), (5L, 6L), (10L, 11L),
          (2L, 5L), (11L, 3L)).toDF("d1", "d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.Caching.release(spark)
      assert(mapping() === batch, "incremental must equal the batch closure")
      // rejects non-integral ids like the batch operator
      intercept[IllegalArgumentException] {
        Dedup.clusterIncrement(Seq(("a", "b")).toDF("d1", "d2"), state, batchId = 3L)
      }
    } finally state.dropTables(spark)
  }

  test("a first-batch crash between the two registry writes recovers on replay") {
    import spark.implicits._
    val state = Dedup.ClusterState("tclus2", numBuckets = 4)
    state.dropTables(spark)
    // simulate the crash window: byDoc committed, byCluster never written —
    // the replay must treat the half-created state as a fresh registry
    // (reads would see batch_id < 0 = nothing anyway) instead of throwing
    // on the missing table forever
    Seq((1L, 1L, 0L)).toDF("doc_id", "cluster_id", "batch_id")
      .write.format("parquet").bucketBy(4, "doc_id").saveAsTable(state.byDocTable)
    Dedup.clusterIncrement(Seq((1L, 2L)).toDF("d1", "d2"), state, batchId = 0L)
    val m = Dedup.clusterMapping(spark, state)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    state.dropTables(spark)
    assert(m === Map(1L -> 1L, 2L -> 1L), s"replay after partial create: $m")
  }

  test("connectedComponents handles empty pair sets and self-pairs") {
    import spark.implicits._
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("d1", "d2")).count() === 0L)
    val selfy = Dedup.connectedComponents(Seq((5L, 5L), (5L, 6L)).toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(selfy === Map(5L -> 5L, 6L -> 5L))
    graft.Caching.release(spark)
  }

  test("streaming minHash LSH finds cross-batch pairs and equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val p30 = (1 to 30).map(i => s"p$i").mkString(" ")
    val all = Seq(
      1L -> s"$p30 one",                             // batch 1
      2L -> (1 to 20).map(i => s"u$i").mkString(" "), // batch 1, no dup
      3L -> s"$p30 two",                             // batch 2: near-dup of 1 ACROSS batches
      4L -> s"$p30 two three")                       // batch 2: near-dup of 3 IN batch
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_stream")
    val idx = Dedup.LshIndex("t30_bands", "t30_shingles", numBuckets = 4)
    dropTableHard(idx.bandsTable)
    dropTableHard(idx.shinglesTable)
    val pairsDir = tmp.resolve("pairs").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // compactEvery = 1: batch 1 compacts after its increment — the final
    // streamed ≡ batch equality then also covers the self-maintenance path
    val q = Dedup.minHashLshStream(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", 0.5, pairsDir, idx, compactEvery = 1)
      .option("checkpointLocation", tmp.resolve("ckpt").toString).start()
    try {
      input.addData(all.take(2): _*); q.processAllAvailable()
      input.addData(all.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(pairsDir)
      .select("d1", "d2", "inter_cnt", "union_cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = Dedup.minHashLshDocs(all.toDF("doc_id", "text"), "doc_id", "text", 0.5)
      .select("d1", "d2", "inter_cnt", "union_cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    graft.Caching.release(spark)
    dropTableHard(idx.bandsTable)
    dropTableHard(idx.shinglesTable)
    assert(streamed.exists(p => p._1 == 1L && p._2 == 3L),
      s"cross-batch pair (1,3) must come from the index probe: $streamed")
    assert(streamed.exists(p => p._1 == 3L && p._2 == 4L),
      s"in-batch pair (3,4) must come from the batch self-join: $streamed")
    assert(streamed === batch, s"streamed $streamed != batch $batch")
  }

  test("minHashLshStream default lease cadence is EVERY batch: a mid-stream external lease stops the next increment (round 16)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_lease_cadence")
    val idx = Dedup.LshIndex("t16lc_bands", "t16lc_shingles", numBuckets = 2)
    dropTableHard(idx.bandsTable); dropTableHard(idx.shinglesTable)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = Dedup.minHashLshStream(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", 0.5, tmp.resolve("pairs").toString, idx)
      .option("checkpointLocation", tmp.resolve("ckpt").toString).start()
    try {
      input.addData(1L -> "a b c d e f"); q.processAllAvailable()
      // an out-of-process compaction acquires the lease BETWEEN batches:
      // under the old revalidateEvery=8 default the next SEVEN increments
      // would have appended into a table about to be swapped away — the
      // index-bearing-stream default (1) must stop the very next batch
      graft.ext.StateLease.acquire(spark, idx.bandsTable, "external compaction")
      try {
        input.addData(2L -> "g h i j k l")
        val e = intercept[Exception](q.processAllAvailable())
        def chain(t: Throwable): Seq[Throwable] =
          if (t == null) Nil else t +: chain(t.getCause)
        assert(chain(e).exists(_.getMessage != null) &&
          chain(e).exists(t => Option(t.getMessage).exists(_.contains("lease"))),
          s"expected a lease failure on the very next batch, got $e")
      } finally graft.ext.StateLease.release(spark, idx.bandsTable)
    } finally {
      q.stop()
      graft.Caching.release(spark)
      dropTableHard(idx.bandsTable); dropTableHard(idx.shinglesTable)
    }
  }

  test("duplicate ids in one increment batch verify against the merged shingle set (batch-path union semantics)") {
    import spark.implicits._
    // two id-7 rows with DISJOINT shingle sets plus an id-8 copy of the
    // first: verification must score jaccard(7,8) on the UNION of id 7's
    // sets (29/58 = exactly the 0.5 threshold), the batch path's
    // groupBy-merge semantics. An arbitrary-row pick made this pair
    // appear or vanish run-to-run depending on which id-7 row survived.
    val pA = (1 to 31).map(i => s"a$i").mkString(" ") // 29 shingles
    val pB = (1 to 31).map(i => s"b$i").mkString(" ") // 29 disjoint shingles
    val idx = Dedup.LshIndex("t_dupid_bands", "t_dupid_shingles", numBuckets = 4)
    dropTableHard(idx.bandsTable)
    dropTableHard(idx.shinglesTable)
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_dupid")
    val pairsDir = tmp.resolve("pairs").toString
    val b = Seq(7L -> pA, 7L -> pB, 8L -> pA).toDF("doc_id", "text")
    Dedup.minHashLshIncrement(b, "doc_id", "text", 0.5, idx, pairsDir, 0L)
    val got = spark.read.parquet(pairsDir)
      .select("d1", "d2", "inter_cnt", "union_cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((7L, 8L, 29L, 58L)), got.toSeq.toString)
  }

  test("a crash AFTER the index appends but BEFORE the deferred pairs dump replays to identical pairs (round 16)") {
    import spark.implicits._
    // the r16 deferral opened a new crash window: the verify materializes
    // against the PRE-append index, the three writes then run
    // concurrently — a batch can die with both index appends committed
    // and the pairs partition missing. The replay re-runs the whole
    // increment against an index that now CONTAINS the batch; the
    // least/greatest pair ordering + the distinct'd candidate set + the
    // set-merged verify must fold the batch meeting itself in the index
    // into exactly the first attempt's pairs.
    val p30 = (1 to 30).map(i => s"c$i").mkString(" ")
    val b1 = Seq(21L -> s"$p30 one").toDF("doc_id", "text")
    val b2 = Seq(22L -> s"$p30 two", 23L -> s"$p30 two three").toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_crash16")
    val idx = Dedup.LshIndex("t16c_bands", "t16c_shingles", numBuckets = 4)
    dropTableHard(idx.bandsTable); dropTableHard(idx.shinglesTable)
    val pairsDir = tmp.resolve("pairs").toString
    Dedup.minHashLshIncrement(b1, "doc_id", "text", 0.5, idx, pairsDir, 0L)
    // batch 1, first attempt: run ONLY the two index-append thunks (the
    // dump thunk is element 0 — the order the Deferred doc declares),
    // then "crash" before the pairs dump
    val (_, appends, cleanup) = Dedup.minHashLshIncrementDeferred(
      b2, "doc_id", "text", 0.5, idx, pairsDir, 1L)
    try appends.drop(1).foreach(_.apply()) finally cleanup()
    assert(!new java.io.File(s"$pairsDir/batch_id=1").exists(),
      "fixture: the crash window requires the pairs partition to be missing")
    // the replay: full increment, same batch id, index already contains
    // batch 1's rows from the crashed attempt
    Dedup.minHashLshIncrement(b2, "doc_id", "text", 0.5, idx, pairsDir, 1L)
    val got = spark.read.parquet(pairsDir)
      .select("d1", "d2", "inter_cnt", "union_cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // clean-run expectation (computed on a fresh index elsewhere in this
    // suite's shapes): cross-batch (21,22),(21,23) and in-batch (22,23);
    // duplicated index rows must inflate nothing
    val clean = Dedup.minHashLshDocs(b1.union(b2), "doc_id", "text", 0.5)
      .select("d1", "d2", "inter_cnt", "union_cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    graft.Caching.release(spark)
    dropTableHard(idx.bandsTable); dropTableHard(idx.shinglesTable)
    assert(got === clean, s"replayed pairs $got != clean-run pairs $clean")
  }

  test("every crash window of the deferred write set replays to identical pairs and a probe-identical index (round-17 sweep)") {
    import spark.implicits._
    // the three deferred writes run CONCURRENTLY, so a crash can leave any
    // completed-subset behind: r16 pinned {bands, shingles} (dump missing)
    // and the full set (plain replay); this drives the remaining windows —
    // dump-only, bands-only, shingles-only, dump+shingles — plus the
    // FIRST-batch half-created index (one table exists, the other
    // doesn't), which the exists-check treats as a fresh stream. After
    // each replay, a follow-on batch must produce the same pairs as on a
    // never-crashed index — the probe-identical bar, not row-identity
    // (replayed appends legally duplicate index rows).
    val p30 = (1 to 30).map(i => s"w$i").mkString(" ")
    val b1 = Seq(41L -> s"$p30 one").toDF("doc_id", "text")
    val b2 = Seq(42L -> s"$p30 two", 43L -> s"$p30 two three").toDF("doc_id", "text")
    val b3 = Seq(44L -> s"$p30 four").toDF("doc_id", "text")
    val cleanAll = Dedup.minHashLshDocs(b1.union(b2).union(b3), "doc_id", "text", 0.5)
      .select("d1", "d2", "inter_cnt", "union_cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // crash-after-batch-2 windows: subsets of (0=dump, 1=bands, 2=shingles)
    for ((ran, tag) <- Seq(Seq(0) -> "dump", Seq(1) -> "bands",
        Seq(2) -> "shingles", Seq(0, 2) -> "dump+shingles")) {
      val idx = Dedup.LshIndex(s"t17cw_${tag.replace("+", "_")}_b",
        s"t17cw_${tag.replace("+", "_")}_s", numBuckets = 2)
      dropTableHard(idx.bandsTable); dropTableHard(idx.shinglesTable)
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_cw_$tag")
      val pairsDir = tmp.resolve("pairs").toString
      Dedup.minHashLshIncrement(b1, "doc_id", "text", 0.5, idx, pairsDir, 0L)
      val (_, appends, cleanup) = Dedup.minHashLshIncrementDeferred(
        b2, "doc_id", "text", 0.5, idx, pairsDir, 1L)
      try ran.foreach(i => appends(i).apply()) finally cleanup()
      // the replay, then the follow-on batch on the recovered state
      Dedup.minHashLshIncrement(b2, "doc_id", "text", 0.5, idx, pairsDir, 1L)
      Dedup.minHashLshIncrement(b3, "doc_id", "text", 0.5, idx, pairsDir, 2L)
      val got = spark.read.parquet(pairsDir)
        .select("d1", "d2", "inter_cnt", "union_cnt")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      graft.Caching.release(spark)
      dropTableHard(idx.bandsTable); dropTableHard(idx.shinglesTable)
      assert(got === cleanAll, s"window '$tag': $got != clean $cleanAll")
    }
    // FIRST-batch half-created index: only the bands append committed,
    // then crash. The exists-check requires BOTH tables, so the replay
    // rebuilds from scratch (overwrite mode) — trusting the half state
    // would throw on the missing shingles table forever.
    locally {
      val idx = Dedup.LshIndex("t17cw_first_b", "t17cw_first_s", numBuckets = 2)
      dropTableHard(idx.bandsTable); dropTableHard(idx.shinglesTable)
      val tmp = java.nio.file.Files.createTempDirectory("graft_cw_first")
      val pairsDir = tmp.resolve("pairs").toString
      val (_, appends, cleanup) = Dedup.minHashLshIncrementDeferred(
        b1, "doc_id", "text", 0.5, idx, pairsDir, 0L)
      try appends(1).apply() finally cleanup()
      assert(spark.catalog.tableExists(idx.bandsTable) &&
        !spark.catalog.tableExists(idx.shinglesTable),
        "fixture: the half-created window requires exactly one table")
      Dedup.minHashLshIncrement(b1, "doc_id", "text", 0.5, idx, pairsDir, 0L)
      Dedup.minHashLshIncrement(b2, "doc_id", "text", 0.5, idx, pairsDir, 1L)
      Dedup.minHashLshIncrement(b3, "doc_id", "text", 0.5, idx, pairsDir, 2L)
      val got = spark.read.parquet(pairsDir)
        .select("d1", "d2", "inter_cnt", "union_cnt")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      graft.Caching.release(spark)
      dropTableHard(idx.bandsTable); dropTableHard(idx.shinglesTable)
      assert(got === cleanAll, s"half-created first batch: $got != clean $cleanAll")
    }
  }

  test("minHashLshIncrement replay is idempotent: pairs rewrite their batch partition") {
    import spark.implicits._
    val p30 = (1 to 30).map(i => s"q$i").mkString(" ")
    val b1 = Seq(11L -> s"$p30 one").toDF("doc_id", "text")
    val b2 = Seq(12L -> s"$p30 two").toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_replay")
    val idx = Dedup.LshIndex("t31_bands", "t31_shingles", numBuckets = 4)
    dropTableHard(idx.bandsTable)
    dropTableHard(idx.shinglesTable)
    val pairsDir = tmp.resolve("pairs").toString
    Dedup.minHashLshIncrement(b1, "doc_id", "text", 0.5, idx, pairsDir, 0L)
    Dedup.minHashLshIncrement(b2, "doc_id", "text", 0.5, idx, pairsDir, 1L)
    // an at-least-once replay of batch 1: its pairs partition is REWRITTEN
    // (not appended) and the duplicated index rows cannot inflate the
    // distinct-counted verification
    Dedup.minHashLshIncrement(b2, "doc_id", "text", 0.5, idx, pairsDir, 1L)
    val got = spark.read.parquet(pairsDir)
      .select("d1", "d2", "inter_cnt", "union_cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 1, s"replay must not duplicate the pair: ${got.toSeq}")
    // 31 tokens each => 29 shingles, 28 shared (the two (p29,p30,*) tails
    // differ): inter 28, union 30 — and the replayed index rows must not
    // inflate either count
    assert(got.head === ((11L, 12L, 28L, 30L)), got.head.toString)
    // compaction: 3 appends (2 batches + 1 replay) × 4 buckets collapse to
    // exactly numBuckets files per table, the replay's duplicated rows are
    // shed, and the index still detects future near-dups identically
    val tables = Seq(idx.bandsTable, idx.shinglesTable)
    val before = tables.map(t =>
      (spark.table(t).collect().map(_.toSeq).toSet, spark.table(t).inputFiles.length))
    assert(spark.table(idx.shinglesTable).count() >
      spark.table(idx.shinglesTable).distinct().count(),
      "precondition: the replay must have appended duplicate index rows")
    Dedup.compactIndex(spark, idx)
    tables.zip(before).foreach { case (t, (want, files)) =>
      // one file per POPULATED bucket (empty buckets write nothing), so
      // <= numBuckets — and strictly fewer than the 3-append accumulation
      val compacted = spark.table(t).inputFiles.length
      assert(compacted <= 4 && compacted < files,
        s"$t must compact to <= numBuckets files, got $compacted (was $files)")
      assert(spark.table(t).collect().map(_.toSeq).toSet === want,
        s"$t distinct row set must survive compaction")
      assert(spark.table(t).count() === want.size.toLong,
        s"$t must hold no duplicate rows after compaction")
    }
    val b3 = Seq(13L -> s"$p30 three").toDF("doc_id", "text")
    Dedup.minHashLshIncrement(b3, "doc_id", "text", 0.5, idx, pairsDir, 2L)
    val streamed = spark.read.parquet(pairsDir)
      .select("d1", "d2", "inter_cnt", "union_cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = Dedup.minHashLshDocs(Seq(11L -> s"$p30 one", 12L -> s"$p30 two",
          13L -> s"$p30 three").toDF("doc_id", "text"), "doc_id", "text", 0.5)
      .select("d1", "d2", "inter_cnt", "union_cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    dropTableHard(idx.bandsTable)
    dropTableHard(idx.shinglesTable)
    assert(streamed === batch,
      s"post-compaction increment must equal the batch operator: $streamed != $batch")
  }

  test("empty and all-too-short micro-batches pass through the LSH increment without corrupting state") {
    import spark.implicits._
    // a stream WILL deliver batches with nothing to index (an empty
    // trigger, or every doc below the shingle length) — they must neither
    // crash nor make later cross-batch pairs unreachable
    val p30 = (1 to 30).map(i => s"s$i").mkString(" ")
    val idx = Dedup.LshIndex("t34_bands", "t34_shingles", numBuckets = 4)
    Seq(idx.bandsTable, idx.shinglesTable).foreach(dropTableHard)
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_empty")
    val pairsDir = tmp.resolve("pairs").toString
    try {
      Dedup.minHashLshIncrement(Seq(41L -> s"$p30 one").toDF("doc_id", "text"),
        "doc_id", "text", 0.5, idx, pairsDir, 0L)
      // batch 1: zero rows; batch 2: a doc too short to shingle (n=3)
      Dedup.minHashLshIncrement(
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text", 0.5, idx, pairsDir, 1L)
      Dedup.minHashLshIncrement(Seq(42L -> "just two").toDF("doc_id", "text"),
        "doc_id", "text", 0.5, idx, pairsDir, 2L)
      // batch 3: the cross-batch near-dup of batch 0 must still be found
      // through the index the empty batches left intact
      Dedup.minHashLshIncrement(Seq(43L -> s"$p30 two").toDF("doc_id", "text"),
        "doc_id", "text", 0.5, idx, pairsDir, 3L)
      val got = spark.read.parquet(pairsDir).select("d1", "d2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((41L, 43L)), s"cross-batch pair must survive empty batches: $got")
    } finally Seq(idx.bandsTable, idx.shinglesTable).foreach(dropTableHard)
  }

  test("a compaction swap crash (table dropped, __compact live) is recovered by the next increment") {
    import spark.implicits._
    val p30 = (1 to 30).map(i => s"r$i").mkString(" ")
    val idx = Dedup.LshIndex("t32_bands", "t32_shingles", numBuckets = 4)
    Seq(idx.bandsTable, idx.shinglesTable)
      .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_crash")
    val pairsDir = tmp.resolve("pairs").toString
    Dedup.minHashLshIncrement(Seq(21L -> s"$p30 one").toDF("doc_id", "text"),
      "doc_id", "text", 0.5, idx, pairsDir, 0L)
    // simulate the crash window inside compactBucketedTable: the swap
    // dropped the live table but died before renaming the sibling — the
    // accumulated corpus now lives ONLY under <table>__compact
    Seq(idx.bandsTable, idx.shinglesTable).foreach { t =>
      spark.sql(s"ALTER TABLE $t RENAME TO ${t}__compact")
    }
    // the next increment must finish the swap first; misreading the state
    // as a fresh stream would miss this cross-batch pair forever
    Dedup.minHashLshIncrement(Seq(22L -> s"$p30 two").toDF("doc_id", "text"),
      "doc_id", "text", 0.5, idx, pairsDir, 1L)
    val got = spark.read.parquet(pairsDir).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(idx.bandsTable, idx.shinglesTable)
      .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    assert(got === Set((21L, 22L)),
      s"cross-batch pair must survive a crashed compaction swap: $got")
  }

  test("connectedComponents rejects non-integral doc ids instead of silently dropping them") {
    import spark.implicits._
    // a silent cast turns string ids into nulls (every edge dropped ⇒ empty
    // mapping ⇒ keepListCollapsed keeps ALL near-dups) and truncates
    // fractional ids (spuriously merging docs) — both must fail loudly
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(Seq(("a", "b")).toDF("d1", "d2"))
    }
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(Seq((1.5, 2.5)).toDF("d1", "d2"))
    }
    // and keepListCollapsed propagates the same guard for string-id corpora
    intercept[IllegalArgumentException] {
      Dedup.keepListCollapsed(Seq("a", "b").toDF("doc_id"), "doc_id",
        Seq(("a", "b")).toDF("d1", "d2"))
    }
    // int ids remain accepted (lossless widening)
    val ok = Dedup.connectedComponents(Seq((1, 2), (2, 3)).toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    graft.Caching.release(spark)
  }

  test("connectedComponents on the real LSH pairs refines keepList consistently") {
    val pairs = Dedup.minHashLshDocs(docs, "doc_id", "text", 0.5)
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rawPairs = pairs.select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.nonEmpty)
    // every paired doc is mapped, pair endpoints share a cluster, and the
    // cluster id is a member of the component (its min)
    rawPairs.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across clusters")
      assert(comp(a) <= math.min(a, b))
    }
    assert(comp.values.toSet.subsetOf(comp.keySet), "cluster ids must be member docs")
    assert(comp.values.forall(c => comp(c) == c), "cluster min maps to itself")
    graft.Caching.release(spark)
  }

  test("connectedComponents frees retired rounds: at most one reliable-checkpoint dir survives") {
    import spark.implicits._
    // NOTE: setCheckpointDir is session-wide and cannot be unset; later CC
    // tests then take the reliable path, which is semantically identical
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("d1", "d2")
    val comp = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.forall(_ == 0L))
    // every retired round's rdd-* dir was deleted; only the final round's
    // checkpoint (which backs the returned plan) remains
    val rddDirs = java.nio.file.Files.walk(ckpt).iterator()
    val survivors = scala.jdk.CollectionConverters.IteratorHasAsScala(rddDirs).asScala
      .filter(p => p.getFileName.toString.startsWith("rdd-")).toSeq
    assert(survivors.size <= 1, s"leaked checkpoint dirs: $survivors")
  }

  test("streaming exact dedup keeps first arrival per content hash across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    val ded = graft.ext.Dedup.exactStream(
      input.toDF().toDF("doc_id", "ms", "text")
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis($"ms")).drop("ms"),
      "text", "ts", "10 seconds")
    val q = ded.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      input.addData((1L, 100000L, "aaa"), (2L, 101000L, "bbb"))
      q.processAllAvailable()
      // cross-batch duplicate within the horizon is dropped; new text passes
      input.addData((3L, 102000L, "aaa"), (4L, 103000L, "ccc"))
      q.processAllAvailable()
      val out = spark.table("dedup_stream")
      // the surviving row passes through whole: payload columns intact
      assert(out.columns.toSet == Set("doc_id", "text", "ts", "text_hash"), s"cols: ${out.columns.mkString(",")}")
      val ids = out.select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 2L, 4L), s"survivors: $ids")
      val texts = out.select("text").as[String].collect().toSet
      assert(texts == Set("aaa", "bbb", "ccc"), s"payloads: $texts")
    } finally q.stop()
  }

  test("jaccard hot-shingle cap: generous cap is exact, tight cap still finds planted dups") {
    val shingles = Dedup.wordShingles(docs, "doc_id", "text", 3)
    val exact = Dedup.jaccardPairs(shingles, 0.5).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val generous = Dedup.jaccardPairs(shingles, 0.5, maxShingleDf = Some(1000000L))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(generous == exact)
    // near-dup docs share mostly rare shingles, so a tight df cap keeps recall
    val capped = Dedup.jaccardPairs(shingles, 0.5, maxShingleDf = Some(5L))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact intersect capped).size >= (exact.size * 9) / 10, s"capped lost too much: $capped vs $exact")
  }

  test("simhash pairs: identical docs collide, hamming bounded") {
    val sim = Dedup.simHash(docs, "doc_id", "text")
    val pairs = Dedup.simHashPairs(sim, maxHamming = 3).collect()
    assert(pairs.forall(_.getInt(2) <= 3))
  }

  test("IVF top-k recall >= 0.6 vs brute force") {
    val brute = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 10)
      .select("query_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", 10)
      .select("query_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall $recall")
  }

  test("persisted IVF index: build once, full probe equals brute force, partial probe recalls") {
    val idx = Similarity.IvfIndex("tivf_assign", "tivf_codebook", numBuckets = 4)
    dropTableHard(idx.assignmentsTable)
    dropTableHard(idx.codebookTable)
    try {
      Similarity.ivfBuild(emb, "vec_id", "embedding", idx, nClusters = 16, iters = 5)
      // one build serves many query batches: full corpus AND a subset
      val brute = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 10)
        .select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val full = Similarity.ivfQuery(emb, "vec_id", "embedding", idx, k = 10, nProbe = 16)
        .select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(full === brute, "nProbe = nClusters must equal brute force, ranks included")
      val partial = Similarity.ivfQuery(emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          idx, k = 10, nProbe = 6)
        .select("query_id", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bruteSub = brute.filter(_._1 < 20).map(t => (t._1, t._3))
      val recall = (bruteSub intersect partial).size.toDouble / bruteSub.size
      assert(recall >= 0.6, s"partial-probe recall $recall")
      graft.Caching.release(spark)
    } finally {
      dropTableHard(idx.assignmentsTable)
      dropTableHard(idx.codebookTable)
    }
  }

  test("persisted IVF+PQ index: full probe+overfetch equals brute force; partial settings recall (x49)") {
    val idx = Similarity.IvfPqIndex("tivfpq_assign", "tivfpq_cb", "tivfpq_pq", numBuckets = 4)
    Seq(idx.assignmentsTable, idx.codebookTable, idx.pqTable).foreach(dropTableHard)
    try {
      Similarity.ivfPqBuild(emb, "vec_id", "embedding", idx,
        nClusters = 8, m = 8, ksub = 16, iters = 2)
      val brute = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 10)
        .select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val full = Similarity.ivfPqQuery(emb, "vec_id", "embedding", idx,
          k = 10, nProbe = 8, overfetch = 4096)
        .select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(full === brute,
        "full probe + full overfetch must equal brute force, ranks included")
      // production settings: routed candidates + ADC shortlist, exact re-rank
      val partial = Similarity.ivfPqQuery(emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          idx, k = 10, nProbe = 4, overfetch = 50)
        .select("query_id", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bruteSub = brute.filter(_._1 < 20).map(t => (t._1, t._3))
      val recall = (bruteSub intersect partial).size.toDouble / bruteSub.size
      assert(recall >= 0.5, s"IVF+PQ recall at nProbe 4/8, overfetch 5x: $recall")
      graft.Caching.release(spark)
    } finally {
      Seq(idx.assignmentsTable, idx.codebookTable, idx.pqTable).foreach(dropTableHard)
    }
  }

  test("IVF+PQ append: frozen codebooks route+encode; compaction and replay invisible (x50)") {
    val idx = Similarity.IvfPqIndex("tivfpqa_assign", "tivfpqa_cb", "tivfpqa_pq",
      numBuckets = 4)
    val all = Seq(idx.assignmentsTable, idx.codebookTable, idx.pqTable,
      idx.assignmentsTable + "__compact")
    all.foreach(dropTableHard)
    try {
      val mx = emb.agg(org.apache.spark.sql.functions.max("vec_id")).head().getLong(0)
      Similarity.ivfPqBuild(emb.filter(col("vec_id") <= mx * 3 / 5), "vec_id", "embedding",
        idx, nClusters = 8, m = 8, ksub = 16, iters = 2)
      val b1 = emb.filter(col("vec_id") > mx * 3 / 5 && col("vec_id") <= mx * 4 / 5)
      val b2 = emb.filter(col("vec_id") > mx * 4 / 5)
      Similarity.ivfPqAppend(b1, "vec_id", "embedding", idx)
      Similarity.ivfPqCompact(spark, idx)
      Similarity.ivfPqAppend(b2, "vec_id", "embedding", idx)
      Similarity.ivfPqAppend(b2, "vec_id", "embedding", idx) // replay
      val got = Similarity.ivfPqQuery(emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          idx, k = 10, nProbe = 8, overfetch = 4096)
        .select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", 10)
        .select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got === brute,
        "append+compact+replay at full probe/overfetch must still equal brute force")
      graft.Caching.release(spark)
    } finally all.foreach(dropTableHard)
  }

  test("IVF+PQ query re-ranks inside its one scan: row for row the two-pass reference (x49/x50)") {
    val idx = Similarity.IvfPqIndex("tivfpqr_assign", "tivfpqr_cb", "tivfpqr_pq", numBuckets = 4)
    val all = Seq(idx.assignmentsTable, idx.codebookTable, idx.pqTable,
      idx.assignmentsTable + "__compact")
    all.foreach(dropTableHard)
    // outside queries: reversed vectors under fresh ids; corpus queries
    // are indexed rows, whose self-pair must stay excluded
    val outside = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), reverse(col("embedding")).as("embedding"))
    val inCorpus = emb.filter(col("vec_id") % 7 === 0 && col("vec_id") < 250)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "nbr_id", "cos").collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
        .sorted
    // production settings: nProbe 3 of 8 clusters, a 15-candidate shortlist
    // out of roughly 100-230 probed rows per query, k 5
    def same(state: String, qs: org.apache.spark.sql.DataFrame): Unit = {
      val got = rows(Similarity.ivfPqQuery(qs, "vec_id", "embedding", idx,
        k = 5, nProbe = 3, overfetch = 15))
      val want = rows(SimilarityReference.ivfPqTwoPass(qs, "vec_id", "embedding", idx,
        k = 5, nProbe = 3, overfetch = 15))
      assert(want.nonEmpty && got == want, s"$state: the one-scan re-rank differs from the two-pass reference")
      assert(got.forall(r => r._1 != r._3), s"$state: a self-pair ranked")
    }
    try {
      val mx = emb.agg(max("vec_id")).head().getLong(0)
      Similarity.ivfPqBuild(emb.filter(col("vec_id") <= mx * 3 / 5), "vec_id", "embedding",
        idx, nClusters = 8, m = 8, ksub = 16, iters = 2)
      same("after a build", outside)
      same("after a build, corpus queries", inCorpus)
      val b1 = emb.filter(col("vec_id") > mx * 3 / 5 && col("vec_id") <= mx * 4 / 5)
      val b2 = emb.filter(col("vec_id") > mx * 4 / 5)
      Similarity.ivfPqAppend(b1, "vec_id", "embedding", idx)
      Similarity.ivfPqCompact(spark, idx)
      Similarity.ivfPqAppend(b2, "vec_id", "embedding", idx)
      same("after appends", outside)
      val before = spark.table(idx.assignmentsTable).count()
      Similarity.ivfPqAppend(b2, "vec_id", "embedding", idx) // replay, not compacted
      assert(spark.table(idx.assignmentsTable).count() === before + b2.count(),
        "the replay must leave duplicate assignment rows")
      same("after a replayed append", outside)
      same("after a replayed append, corpus queries", inCorpus)
      graft.Caching.release(spark)
    } finally all.foreach(dropTableHard)
  }

  test("streaming IVF ingest: appends route via the codebook, replays collapse, compaction serves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = Similarity.IvfIndex("tivfs_assign", "tivfs_codebook", numBuckets = 4)
    Seq(idx.assignmentsTable, idx.codebookTable)
      .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    try {
      val mx = emb.agg(max("vec_id")).head().getLong(0)
      // train on the 60% prefix; the rest arrives as a 2-batch stream with
      // per-batch compaction, then batch 2 is REPLAYED (at-least-once) and
      // its duplicate assignment rows left live for the query
      Similarity.ivfBuild(emb.filter(col("vec_id") <= mx * 3 / 5),
        "vec_id", "embedding", idx, nClusters = 16, iters = 5)
      val rest = emb.filter(col("vec_id") > mx * 3 / 5)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val cut = mx * 4 / 5
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ivfs")
      val q = Similarity.ivfStream(input.toDF().toDF("vec_id", "embedding"),
          "vec_id", "embedding", idx, compactEvery = 1)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        input.addData(rest.filter(_._1 <= cut).toSeq: _*); q.processAllAvailable()
        input.addData(rest.filter(_._1 > cut).toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      Similarity.ivfAppend(rest.filter(_._1 > cut).toSeq.toDF("vec_id", "embedding"),
        "vec_id", "embedding", idx) // the replay
      assert(spark.table(idx.assignmentsTable).count() >
        spark.table(idx.assignmentsTable).distinct().count(),
        "precondition: the replay must have appended duplicate rows")
      val brute = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 10)
        .select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val got = Similarity.ivfQuery(emb, "vec_id", "embedding", idx, k = 10, nProbe = 16)
        .select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      graft.Caching.release(spark)
      assert(got === brute,
        "full probe over build+stream+replay must equal brute force, ranks included")
    } finally {
      Seq(idx.assignmentsTable, idx.codebookTable)
        .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    }
  }

  test("an injected crash between an append's write and its checkpoint commit replays cleanly (ivf + ivfpq)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the at-least-once crash window the replay contract exists for: the
    // assignments append COMMITTED, the streaming checkpoint did not — the
    // restarted stream re-delivers the batch, the duplicate rows must be
    // absorbed by graft_topk's equal-(score,id) collapse, and compaction
    // must shed them durably. Parameterized over BOTH append paths (the
    // LSH-index precedent: the minhash/cosine streams have these goldens).
    val mx = emb.agg(max("vec_id")).head().getLong(0)
    val train = emb.filter(col("vec_id") <= mx * 3 / 5)
    val rest = emb.filter(col("vec_id") > mx * 3 / 5)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cut = mx * 4 / 5
    val brute = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 10)
      .select("query_id", "rank", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ivfIdx = Similarity.IvfIndex("tcrash_ivf_assign", "tcrash_ivf_cb", numBuckets = 4)
    val pqIdx = Similarity.IvfPqIndex("tcrash_pq_assign", "tcrash_pq_cb",
      "tcrash_pq_pq", numBuckets = 4)
    // (name, tables, build, per-batch append, compact, full-probe query)
    val paths: Seq[(String, Seq[String], () => Unit,
        org.apache.spark.sql.DataFrame => Unit, () => Unit,
        () => org.apache.spark.sql.DataFrame)] = Seq(
      ("ivf", Seq(ivfIdx.assignmentsTable, ivfIdx.codebookTable),
        () => Similarity.ivfBuild(train, "vec_id", "embedding", ivfIdx,
          nClusters = 16, iters = 5),
        b => Similarity.ivfAppend(b, "vec_id", "embedding", ivfIdx),
        () => Similarity.ivfCompact(spark, ivfIdx),
        () => Similarity.ivfQuery(emb, "vec_id", "embedding", ivfIdx,
          k = 10, nProbe = 16)),
      ("ivfpq", Seq(pqIdx.assignmentsTable, pqIdx.codebookTable, pqIdx.pqTable),
        () => Similarity.ivfPqBuild(train, "vec_id", "embedding", pqIdx,
          nClusters = 16, iters = 5),
        b => Similarity.ivfPqAppend(b, "vec_id", "embedding", pqIdx),
        () => Similarity.ivfPqCompact(spark, pqIdx),
        () => Similarity.ivfPqQuery(emb, "vec_id", "embedding", pqIdx,
          k = 10, nProbe = 16, overfetch = 100000)))
    paths.foreach { case (name, tables, build, append, compact, query) =>
      tables.foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
      try {
        build()
        val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
        val ckpt = java.nio.file.Files.createTempDirectory(s"graft_crash_$name").toString
        @volatile var injected = false
        def writer() = input.toDF().toDF("vec_id", "embedding").writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            append(b.toDF())
            if (id == 1L && !injected) {
              injected = true
              throw new RuntimeException(s"injected crash: $name batch 1 appended, not committed")
            }
          }
          .option("checkpointLocation", ckpt)
        val q1 = writer().start()
        input.addData(rest.filter(_._1 <= cut).toSeq: _*)
        q1.processAllAvailable()
        input.addData(rest.filter(_._1 > cut).toSeq: _*)
        // the injected crash kills the query mid-commit
        intercept[Exception](q1.processAllAvailable())
        q1.stop()
        assert(injected, s"$name: the crash must have fired")
        // restart from the same checkpoint: batch 1 re-delivers (its append
        // landed; its commit did not) and double-appends its rows
        val q2 = writer().start()
        try q2.processAllAvailable() finally q2.stop()
        val assignments = tables.head
        assert(spark.table(assignments).count() >
          spark.table(assignments).distinct().count(),
          s"$name precondition: the replayed batch must have appended duplicates")
        def got() = {
          val g = query().select("query_id", "rank", "nbr_id")
            .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
          graft.Caching.release(spark)
          g
        }
        assert(got() === brute,
          s"$name: full probe over the crashed-and-replayed index must equal brute force")
        compact()
        assert(spark.table(assignments).count() ===
          spark.table(assignments).distinct().count(),
          s"$name: compaction must shed the replay duplicates")
        assert(got() === brute, s"$name: equality must survive compaction")
      } finally tables.foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    }
  }

  /** `ids` seeded Gaussian vectors of dimension `dim` as (vec_id, embedding). */
  private def gaussianVecs(seed: Long, dim: Int, ids: Range): Seq[(Long, Array[Float])] = {
    val r = new java.util.Random(seed)
    ids.map(i => (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
  }

  test("nearest on an offset slice and pqEncode's codes match the explicit first-minimum argmin") {
    import spark.implicits._
    val r = new java.util.Random(11)
    // left-to-right squared distance, ties to the lowest centroid index
    def ref(c: Array[Array[Double]], s: Array[Float]): Int = c.indices.minBy { ci =>
      c(ci).indices.foldLeft(0.0) { (d, j) => val t = c(ci)(j) - s(j); d + t * t }
    }
    (0 until 200).foreach { _ =>
      val dsub = 1 + r.nextInt(6)
      val m = 1 + r.nextInt(4)
      val c = Array.fill(1 + r.nextInt(9), dsub)(r.nextGaussian())
      val v = Array.fill(dsub * m)(r.nextGaussian().toFloat)
      (0 until m).foreach { sub =>
        assert(Similarity.nearest(c, v, sub * dsub) === ref(c, v.slice(sub * dsub, (sub + 1) * dsub)))
      }
    }
    val (m, dsub) = (4, 3)
    val books = Array.fill(m, 5, dsub)(r.nextGaussian())
    val vecs = gaussianVecs(12, m * dsub, 0 until 50)
    val codes = Similarity.pqEncode(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
        Similarity.PqModel(m * dsub, m, 5, books))
      .select("id", "codes").as[(Long, Array[Byte])].collect().toMap
    vecs.foreach { case (id, v) =>
      assert(codes(id).toSeq === (0 until m).map(sub =>
        ref(books(sub), v.slice(sub * dsub, (sub + 1) * dsub)).toByte), s"id=$id")
    }
  }

  test("frozen IVF-PQ models load once per build: a later append is 1 job, a later query plans with none") {
    val idx = Similarity.IvfPqIndex("tfrozen_assign", "tfrozen_cb", "tfrozen_pq", numBuckets = 4)
    val all = Seq(idx.assignmentsTable, idx.codebookTable, idx.pqTable,
      idx.assignmentsTable + "__compact")
    all.foreach(dropTableHard)
    try {
      val mx = emb.agg(max("vec_id")).head().getLong(0)
      Similarity.ivfPqBuild(emb.filter(col("vec_id") <= mx * 3 / 5), "vec_id", "embedding",
        idx, nClusters = 8, m = 8, ksub = 16, iters = 2)
      val b1 = emb.filter(col("vec_id") > mx * 3 / 5 && col("vec_id") <= mx * 4 / 5)
      val b2 = emb.filter(col("vec_id") > mx * 4 / 5)
      val qs = emb.filter(col("vec_id") < 20)
      val checks = new graft.ext.TableChecks
      // the first call after a build loads both codebook tables (one
      // collect each); every later one finds them cached
      val (_, first) = jobsRunBy(Similarity.ivfPqAppend(b1, "vec_id", "embedding", idx, checks))
      val (_, later) = jobsRunBy(Similarity.ivfPqAppend(b2, "vec_id", "embedding", idx, checks))
      assert(later === 1, s"a later append must be its write job alone, ran $later")
      assert(first - later === 2, s"the first append loads the two models, ran $first")
      val (q, planJobs) = jobsRunBy(Similarity.ivfPqQuery(qs, "vec_id", "embedding", idx,
        k = 10, nProbe = 8, overfetch = 4096))
      assert(planJobs === 0, "building a query against a cached model must run no job")
      // one scan of the assignments: the probe broadcast, the ADC map stage
      // and the result stage. The batch is already spread over the
      // session's cores; a narrow one adds widenIfNarrow's repartition job.
      val wide = spark.createDataFrame(java.util.Arrays.asList(qs.collect(): _*), qs.schema)
      val (collected, runJobs) = jobsRunBy(Similarity.ivfPqQuery(wide, "vec_id", "embedding",
        idx, k = 10, nProbe = 8, overfetch = 4096).collect())
      assert(runJobs === 3, s"a warm query must run 3 jobs, ran $runJobs")
      assert(collected.toSet === q.collect().toSet)
      val got = collected.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val brute = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 10)
        .select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got === brute, "full probe over the cached model must equal brute force")
      graft.Caching.release(spark)
    } finally all.foreach(dropTableHard)
  }

  test("a rebuild under the same table names reaches the next query, append and running stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = Similarity.IvfPqIndex("trebuild_assign", "trebuild_cb", "trebuild_pq",
      numBuckets = 4)
    val all = Seq(idx.assignmentsTable, idx.codebookTable, idx.pqTable,
      idx.assignmentsTable + "__compact")
    all.foreach(dropTableHard)
    // the second build differs in dimension AND cluster count, so a stale
    // model cannot pass silently: it would raise the per-row dimension
    // gate, or route into clusters the new codebook does not have
    val first = gaussianVecs(1, 8, 0 until 200)
    val rebuilt = gaussianVecs(2, 16, 0 until 200)
    val streamed = gaussianVecs(3, 16, 200 until 260)
    val appended = gaussianVecs(4, 16, 260 until 300)
    def build(vs: Seq[(Long, Array[Float])], nClusters: Int): Unit =
      Similarity.ivfPqBuild(vs.toDF("vec_id", "embedding"), "vec_id", "embedding", idx,
        nClusters = nClusters, m = 4, ksub = 8, iters = 2)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivfpq_rebuild")
    try {
      build(first, nClusters = 4)
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
      val stream = Similarity.ivfPqStream(input.toDF().toDF("vec_id", "embedding"),
          "vec_id", "embedding", idx)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        // the stream and the query path both cache the first build's models
        input.addData(gaussianVecs(5, 8, 500 until 520): _*); stream.processAllAvailable()
        Similarity.ivfPqQuery(first.take(5).toDF("vec_id", "embedding"), "vec_id", "embedding",
          idx, k = 3, nProbe = 4).collect()
        build(rebuilt, nClusters = 6)
        input.addData(streamed: _*); stream.processAllAvailable()
      } finally stream.stop()
      Similarity.ivfPqAppend(appended.toDF("vec_id", "embedding"), "vec_id", "embedding", idx)
      val corpus = (rebuilt ++ streamed ++ appended).toDF("vec_id", "embedding")
      val qs = corpus.filter(col("vec_id") % 10 === 0)
      def rows(df: org.apache.spark.sql.DataFrame) = df.select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val got = rows(Similarity.ivfPqQuery(qs, "vec_id", "embedding", idx, k = 10, nProbe = 6,
        overfetch = 1000))
      val brute = rows(Similarity.bruteForceTopK(corpus, qs, "vec_id", "embedding", 10))
      assert(got === brute, "full probe after the rebuild must equal brute force")
      // the streamed and appended rows are routed by the NEW codebook
      val cents = spark.table(idx.codebookTable).as[(Int, Array[Double])].collect()
        .sortBy(_._1).map(_._2)
      assert(cents.length === 6 && cents(0).length === 16)
      val routed = spark.table(idx.assignmentsTable).filter(col("id") >= 200)
        .select("id", "v", "cluster").as[(Long, Array[Float], Int)].collect()
      assert(routed.length === streamed.length + appended.length)
      routed.foreach { case (id, v, cluster) =>
        assert(cluster === Similarity.nearest(cents, v), s"id=$id routed by a stale codebook")
      }
      graft.Caching.release(spark)
    } finally all.foreach(dropTableHard)
  }

  test("a dropped index fails appends and queries with the named build-first message") {
    import spark.implicits._
    val pq = Similarity.IvfPqIndex("tdropped_assign", "tdropped_cb", "tdropped_pq", numBuckets = 2)
    val ivf = Similarity.IvfIndex("tdropped_ivf_assign", "tdropped_ivf_cb", numBuckets = 2)
    val all = Seq(pq.assignmentsTable, pq.codebookTable, pq.pqTable,
      ivf.assignmentsTable, ivf.codebookTable)
    all.foreach(dropTableHard)
    try {
      val base = gaussianVecs(6, 8, 0 until 100).toDF("vec_id", "embedding")
      val batch = gaussianVecs(7, 8, 100 until 120).toDF("vec_id", "embedding")
      Similarity.ivfPqBuild(base, "vec_id", "embedding", pq, nClusters = 4, m = 4, ksub = 8,
        iters = 2)
      Similarity.ivfBuild(base, "vec_id", "embedding", ivf, nClusters = 4, iters = 2)
      // a stream-style memo that already saw the tables exist, and cached models
      val pqChecks = new graft.ext.TableChecks
      val ivfChecks = new graft.ext.TableChecks
      Similarity.ivfPqAppend(batch, "vec_id", "embedding", pq, pqChecks)
      Similarity.ivfAppend(batch, "vec_id", "embedding", ivf, ivfChecks)
      all.foreach(dropTableHard)
      def fails(context: String)(body: => Unit): Unit = {
        val e = intercept[IllegalArgumentException](body)
        assert(e.getMessage.contains(s"$context: build the index first"), e.getMessage)
      }
      fails("ivfPqAppend")(Similarity.ivfPqAppend(batch, "vec_id", "embedding", pq, pqChecks))
      fails("ivfPqAppend")(Similarity.ivfPqAppend(batch, "vec_id", "embedding", pq))
      fails("ivfPqQuery")(Similarity.ivfPqQuery(batch, "vec_id", "embedding", pq, k = 3))
      fails("ivfAppend")(Similarity.ivfAppend(batch, "vec_id", "embedding", ivf, ivfChecks))
      fails("ivfAppend")(Similarity.ivfAppend(batch, "vec_id", "embedding", ivf))
      fails("ivfQuery")(Similarity.ivfQuery(batch, "vec_id", "embedding", ivf, k = 3))
    } finally all.foreach(dropTableHard)
  }

  test("streaming cosine LSH finds cross-batch pairs and equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 1-3 near-dup ACROSS batches (the index probe), 3-4 IN batch (the
    // self-join), 2 unrelated; exact values so both engines agree
    val all = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0.99f, 0.05f, 0f, 0f)),
      (4L, Array(0.98f, 0.08f, 0f, 0f)))
    val idx = Similarity.CosineLshIndex("t33_ebands", "t33_evecs", numBuckets = 4)
    Seq(idx.bandsTable, idx.vecsTable)
      .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    val tmp = java.nio.file.Files.createTempDirectory("graft_clsh_stream")
    val pairsDir = tmp.resolve("pairs").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = Similarity.cosineLshStream(input.toDF().toDF("vec_id", "emb"),
        "vec_id", "emb", 0.9, pairsDir, idx, compactEvery = 1)
      .option("checkpointLocation", tmp.resolve("ckpt").toString).start()
    try {
      input.addData(all.take(2): _*); q.processAllAvailable()
      input.addData(all.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(pairsDir).select("vec_id_a", "vec_id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Similarity.cosineLshPairs(all.toDF("vec_id", "emb"), "vec_id", "emb", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caching.release(spark)
    Seq(idx.bandsTable, idx.vecsTable)
      .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    assert(streamed.contains((1L, 3L)), s"cross-batch pair must come from the probe: $streamed")
    assert(streamed.contains((3L, 4L)), s"in-batch pair must come from the self-join: $streamed")
    assert(streamed === batch, s"streamed $streamed != batch $batch")
  }

  test("bandSize 64 keeps the full signature as the band value — no mask wrap to a constant bucket") {
    import spark.implicits._
    // (1L << 64) - 1 is 0 (Long shifts are mod 64): an unmasked wrap
    // would constant-fold every bv to 0, putting ALL vectors in one band
    // bucket and degenerating the banded equi-join into a cross product
    val idx = Similarity.CosineLshIndex("t_b64_bands", "t_b64_vecs", numBuckets = 2)
    Seq(idx.bandsTable, idx.vecsTable)
      .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    val tmp = java.nio.file.Files.createTempDirectory("graft_b64")
    Similarity.cosineLshIncrement(
      Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "emb"),
      "vec_id", "emb", 0.9, idx, tmp.resolve("p").toString, 0L,
      numBits = 64, bandSize = 64)
    val bvs = spark.table(idx.bandsTable).select("bv")
      .collect().map(_.getLong(0)).toSet
    Seq(idx.bandsTable, idx.vecsTable)
      .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    assert(bvs.size == 2, s"orthogonal vectors must land in distinct band buckets: $bvs")
  }

  test("conflicting same-id vectors in a cosine increment resolve to the (nrm, v)-max winner deterministically") {
    import spark.implicits._
    // id 7 arrives twice in one batch with different vectors; the
    // nrm-larger one (0.8 > 0.6) must win verification. If an
    // arbitrary-row pick kept (0.6, 0), cosine(7, 8) would be 0 and the
    // pair would vanish — run-to-run nondeterminism on a public API.
    val idx = Similarity.CosineLshIndex("t_dupvec_bands", "t_dupvec_vecs", numBuckets = 4)
    Seq(idx.bandsTable, idx.vecsTable)
      .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    val tmp = java.nio.file.Files.createTempDirectory("graft_clsh_dupid")
    val pairsDir = tmp.resolve("pairs").toString
    val b = Seq(
      (7L, Array(0.6f, 0f)),
      (7L, Array(0f, 0.8f)),
      (8L, Array(0f, 0.8f))).toDF("vec_id", "emb")
    Similarity.cosineLshIncrement(b, "vec_id", "emb", 0.9, idx, pairsDir, 0L)
    val got = spark.read.parquet(pairsDir).select("vec_id_a", "vec_id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(idx.bandsTable, idx.vecsTable)
      .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    assert(got === Set((7L, 8L)), s"the (nrm, v)-max row must verify the pair: $got")
  }

  test("line dedup keeps first occurrences, preserves empty lines and document order") {
    import spark.implicits._
    val rows = Seq(
      1L -> "alpha line\n\ncommon boilerplate\nunique to one",
      2L -> "common boilerplate\nbeta line\n\nbeta tail",
      3L -> "common boilerplate",        // whole doc deduped away -> dropped
      4L -> "gamma\ngamma\ngamma line")  // in-doc repeat: first pos survives
      .toDF("doc_id", "text")
    val out = Dedup.dedupLines(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // doc 1 arrives first: keeps everything including the boilerplate
    assert(out(1L) === (("alpha line\n\ncommon boilerplate\nunique to one", 4L)))
    // doc 2 loses the boilerplate but keeps its empty line and order
    assert(out(2L) === (("beta line\n\nbeta tail", 3L)))
    // doc 3 was only boilerplate -> fully removed
    assert(!out.contains(3L))
    // in-doc duplicate: position 0 survives, position 1 goes
    assert(out(4L) === (("gamma\ngamma line", 2L)))
    // minLineLen exempts short lines from dedup (kept everywhere)
    val short = Dedup.dedupLines(Seq(1L -> "ok\nzz", 2L -> "ok\nzz").toDF("doc_id", "text"),
        "doc_id", "text", minLineLen = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(short === Map(1L -> "ok\nzz", 2L -> "ok\nzz"))
    graft.Caching.release(spark)

    // duplicate ids are legal on this API family: two DIFFERENT texts
    // sharing an id must come out as two rows, never interleaved into one
    // corrupted document; identical same-id twins collapse to ONE row
    // (they are exact duplicates) with un-doubled lines and counts
    val dup = Seq(7L -> "aa x\nbb x", 7L -> "cc y\ndd y", 8L -> "ee\nff", 8L -> "ee\nff")
      .toDF("doc_id", "text")
    val dupOut = Dedup.dedupLines(dup, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    graft.Caching.release(spark)
    assert(dupOut === Set((7L, "aa x\nbb x", 2L), (7L, "cc y\ndd y", 2L),
      (8L, "ee\nff", 2L)), s"got $dupOut")

    // span stats report each doc's OWN window count on twin rows, not the
    // summed occurrences across the twin class
    val twinStats = Dedup.duplicateSpanStats(
      Seq(1L -> "a b c d e f", 1L -> "a b c d e f").toDF("doc_id", "text"), "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    graft.Caching.release(spark)
    // 6 tokens, k=5 → 2 windows per doc; each window occurs twice in the
    // corpus (the twin), so both are duplicated — but n_windows stays 2
    assert(twinStats.toSeq == Seq((2L, 2L), (2L, 2L)), s"got ${twinStats.toSeq}")

    // exactStream refuses an input already carrying text_hash
    val e = intercept[IllegalArgumentException](Dedup.exactStream(
      Seq((1L, "x", "h")).toDF("doc_id", "text", "text_hash")
        .withColumn("ts", timestamp_millis(lit(0L))), "text", "ts", "1 minute"))
    assert(e.getMessage.contains("text_hash"), e.getMessage)
  }

  test("simHashPairs maxBandDf caps a degenerate signature class without losing other pairs") {
    import spark.implicits._
    // 6 empty docs all sign to 0 (a quadratic hot band value) plus one real
    // near-dup pair; the cap drops the degenerate class's bands while the
    // real pair still surfaces through its (rare) agreeing bands
    val docs = (1L to 6L).map(_ -> "") ++
      Seq(10L -> "the quick brown fox jumps over the lazy dog",
          11L -> "the quick brown fox jumps over the lazy cat")
    val sim = Dedup.simHash(docs.toDF("doc_id", "text"), "doc_id", "text")
    val capped = Dedup.simHashPairs(sim, maxHamming = 3, maxBandDf = Some(5L))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caching.release(spark)
    assert(!capped.exists(p => p._1 <= 6L && p._2 <= 6L),
      s"degenerate empty-doc pairs must be capped away: $capped")
    // the default (None) keeps exact semantics: all 15 empty pairs emit
    val full = Dedup.simHashPairs(sim, maxHamming = 3)
      .filter(col("d1") <= 6L && col("d2") <= 6L).count()
    graft.Caching.release(spark)
    assert(full == 15L, s"uncapped all-pairs among the 6 empties: $full")
  }

  test("pHash image dedup: identical media collide, in-range edits stay local, bands are exact") {
    import spark.implicits._
    import graft.ext.Multimodal
    val base = "w " * 250 // 500 chars — past the 66-window sample range (463)
    val rows = Seq(
      1L -> base,
      2L -> base,                                     // identical media
      3L -> (base + "x"),                             // tail append BEYOND the sample range
      4L -> (base.substring(0, 457) + "Q" + base.substring(458)), // 1-char edit IN range
      5L -> (1 to 80).map(i => s"z$i").mkString(" ")) // unrelated
      .toDF("doc_id", "text")
    val media = rows.select(col("doc_id").as("id"), col("text").cast("binary").as("payload"))
    val pairs = Multimodal.pHashPairs(media)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) === 0, "identical payloads must hash identically")
    assert(pairs((1L, 3L)) === 0,
      "a change beyond the sampled resolution is invisible — the resize contract")
    assert(pairs.get((1L, 4L)).exists(h => h >= 1 && h <= 3),
      s"an in-range edit moves only its windows' bits: ${pairs.get((1L, 4L))}")
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L),
      s"unrelated media must not pair: $pairs")
    // the pigeonhole band search is exact: equals brute-force Hamming
    val hashes = Multimodal.pHash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      h = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if h <= 3
    } yield (a, b) -> h).toMap
    assert(pairs === brute)
  }

  test("an increment racing a compaction fails loudly (single-writer lease)") {
    import spark.implicits._
    import graft.ext.StateLease
    val state = Dedup.ClusterState("tlease", numBuckets = 2)
    state.dropTables(spark)
    try {
      Dedup.clusterIncrement(Seq((1L, 2L)).toDF("d1", "d2"), state, batchId = 0L)
      // simulate an in-flight compaction of the registry
      StateLease.acquire(spark, state.byDocTable, "compaction-in-test")
      val boom = intercept[IllegalStateException] {
        Dedup.clusterIncrement(Seq((2L, 3L)).toDF("d1", "d2"), state, batchId = 1L)
      }
      assert(boom.getMessage.contains("maintenance") &&
        boom.getMessage.contains("compaction-in-test"), boom.getMessage)
      // a second compaction is excluded just like an increment
      val boom2 = intercept[IllegalStateException] {
        Dedup.clusterCompact(spark, state)
      }
      assert(boom2.getMessage.contains("maintenance"), boom2.getMessage)
      // release (the crashed-JVM operator path is breakLease) and both
      // the increment and a real compaction proceed — which must leave the
      // lease free again on the way out
      StateLease.release(spark, state.byDocTable)
      Dedup.clusterIncrement(Seq((2L, 3L)).toDF("d1", "d2"), state, batchId = 1L)
      Dedup.clusterCompact(spark, state)
      StateLease.assertFree(spark, state.byDocTable)
      StateLease.assertFree(spark, state.byClusterTable)
      val mapping = Dedup.clusterMapping(spark, state)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(mapping === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      // a lease stranded by a crashed compaction (simulated) is superseded
      // by the state-RESET path: dropTables must clear it, so a rebuilt
      // state is not blocked by the ghost of the one it replaced
      StateLease.acquire(spark, state.byDocTable, "crashed-compaction")
      state.dropTables(spark)
      StateLease.assertFree(spark, state.byDocTable)
      Dedup.clusterIncrement(Seq((5L, 6L)).toDF("d1", "d2"), state, batchId = 0L)
    } finally state.dropTables(spark)
  }

  test("lease paths live on the warehouse's own filesystem and are locale-stable") {
    import graft.ext.StateLease
    // scheme + authority must survive into the lease dir: stripped (the
    // old URI.getPath construction), an s3a/hdfs warehouse's lease lands
    // on the DEFAULT filesystem — two drivers with different defaults
    // would both "acquire", which is no mutual exclusion at all
    assert(StateLease.leaseDirFor("s3a://bucket/wh").toString ==
      "s3a://bucket/wh/.graft_leases")
    assert(StateLease.leaseDirFor("hdfs://nn:8020/warehouse").toString ==
      "hdfs://nn:8020/warehouse/.graft_leases")
    assert(StateLease.leaseDirFor("file:/tmp/wh").toString ==
      "file:/tmp/wh/.graft_leases")
    // schemeless local paths keep working (the test-session default)
    assert(StateLease.leaseDirFor("/tmp/wh").toString == "/tmp/wh/.graft_leases")
    // Locale stability: a Turkish-locale JVM lowercases "INDEX" → "ındex",
    // so acquire/assertFree across differently-configured JVMs would guard
    // different files — the lease name must use the root locale
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      StateLease.acquire(spark, "TLEASE_INDEX", "locale-test")
      val boom = intercept[IllegalStateException](
        StateLease.assertFree(spark, "tlease_index"))
      assert(boom.getMessage.contains("locale-test"), boom.getMessage)
    } finally {
      java.util.Locale.setDefault(prev)
      StateLease.releaseQuiet(spark, "TLEASE_INDEX")
    }
  }

  test("a mid-stream failure cannot strand x30-style state tables in the warehouse") {
    // the x30 shape: a file stream feeds minHashLshStream, whose index
    // tables live only for the run — Queries wraps the run in
    // withStateTables, so an exception AFTER the stream has created and
    // populated the tables must still drop them on the way out
    val tmp = java.nio.file.Files.createTempDirectory("graft_x30_failspec")
    val staged = tmp.resolve("docs").toString
    docs.limit(50).coalesce(1).write.mode("overwrite").parquet(staged)
    val idx = Dedup.LshIndex("x30fail_bands", "x30fail_shingles", numBuckets = 2)
    val boom = intercept[RuntimeException] {
      Queries.withStateTables(spark, idx.bandsTable, idx.shinglesTable) {
        val stream = spark.readStream.schema(docs.schema).parquet(staged)
        val q = Dedup.minHashLshStream(stream, "doc_id", "text", 0.5,
            tmp.resolve("pairs").toString, idx)
          .option("checkpointLocation", tmp.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
        // the tables exist mid-run — this is the state a crash would strand
        assert(spark.catalog.tableExists(idx.bandsTable))
        throw new RuntimeException("injected mid-stream failure")
      }
    }
    assert(boom.getMessage === "injected mid-stream failure",
      "the body's own exception must propagate, not be masked by cleanup")
    assert(!spark.catalog.tableExists(idx.bandsTable))
    assert(!spark.catalog.tableExists(idx.shinglesTable))
  }

  test("ImageIO decode is real: header probe, resize floor math, stub fallback") {
    import graft.ext.Multimodal
    import graft.ext.Multimodal.ImageCodecs
    val png = ImageCodecs.syntheticPng(20, 10, 42L)
    assert(ImageCodecs.probe(png) === Some(("png", 20, 10, 3)))
    assert(Multimodal.ImageCodecs.imageMeta(1L, png) ===
      Multimodal.MediaMeta(1L, png.length.toLong, 20, 10, 3, "png"))
    // downscale: ow = max(1, w*maxDim/max(w,h)) floor — 30x20 @ 16 -> 16x10
    val resized = ImageCodecs.resize(ImageCodecs.syntheticPng(30, 20, 1L), 16)
    assert(ImageCodecs.probe(resized) === Some(("png", 16, 10, 3)))
    // already-small image passes through byte-identical
    val small = ImageCodecs.syntheticPng(5, 4, 2L)
    assert(ImageCodecs.resize(small, 16) eq small)
    // non-image bytes: probe rejects, meta falls back to the stub formulas
    val text = "just some text".getBytes("UTF-8")
    assert(ImageCodecs.probe(text).isEmpty)
    assert(ImageCodecs.imageMeta(2L, text) === Multimodal.StubCodecs.imageMeta(2L, text))
    // a NULL payload rides the stub path as empty bytes — never an NPE out
    // of a UDF, and simhash 0 like the SQL formulas give NULL text
    assert(Multimodal.pHash60(null) === 0L)
    assert(ImageCodecs.imageMeta(3L, null) ===
      Multimodal.StubCodecs.imageMeta(3L, Array.emptyByteArray))
    assert(ImageCodecs.resize(null, 16).sameElements(Array.emptyByteArray))
    // text that BEGINS with GIF's printable ASCII magic must not steal the
    // row from the stub path (the header would parse garbage dimensions) —
    // GIF/BMP are trusted only after their pixels actually decode
    val gifText = "GIF89a and then just prose, no real image data here at all".getBytes("UTF-8")
    assert(ImageCodecs.probe(gifText).isEmpty)
    assert(ImageCodecs.imageMeta(4L, gifText) === Multimodal.StubCodecs.imageMeta(4L, gifText))
  }

  test("AudioSystem decode is real: PCM round-trips exact, RIFF-prefixed text stubs (x52)") {
    import graft.ext.Multimodal.AudioCodecs
    val rnd = new scala.util.Random(3)
    // 8-bit unsigned mono: energy = sum of centered squares
    val s8 = Array.fill(500)(rnd.nextInt(256).toByte)
    val m8 = AudioCodecs.audioMeta(1L, AudioCodecs.pcmWav(8000, 1, 8, s8))
    assert(m8.format == "wav" && m8.sample_rate == 8000L && m8.channels == 1L && m8.bits == 8L)
    assert(m8.n_samples == 500L && m8.n_bytes == 544L)
    val e8 = s8.map { b => val c = (b & 0xff) - 128; c.toLong * c }.sum
    assert(m8.energy.contains(e8))
    // 16-bit signed LE stereo: per-channel frame count, energy over all samples
    val shorts = Array.fill(300)(rnd.nextInt(65536) - 32768)
    val b16 = new Array[Byte](600)
    shorts.indices.foreach { i =>
      b16(2 * i) = (shorts(i) & 0xff).toByte
      b16(2 * i + 1) = ((shorts(i) >> 8) & 0xff).toByte
    }
    val m16 = AudioCodecs.audioMeta(2L, AudioCodecs.pcmWav(44100, 2, 16, b16))
    assert(m16.format == "wav" && m16.sample_rate == 44100L && m16.channels == 2L && m16.bits == 16L)
    assert(m16.n_samples == 150L)
    assert(m16.energy.contains(shorts.map(s => s.toLong * s).sum))
    // the "RIFF" magic is printable ASCII text can begin with: the reader
    // must reject it into the stub, not crash or fake a decode
    val riffText = ("RIFF" + "x" * 60).getBytes("US-ASCII")
    val g = AudioCodecs.audioMeta(3L, riffText)
    assert(g.format == "stub" && g.energy.isEmpty && g.n_samples == 64L)
    val plain = AudioCodecs.audioMeta(4L, "plain text".getBytes("US-ASCII"))
    assert(plain.format == "stub" && plain.n_samples == 10L && plain.sample_rate == 0L)
  }

  test("MP3 header walk: CBR/VBR/ID3-wrapped streams report exact frame metadata; truncation stubs") {
    import graft.ext.Multimodal.AudioCodecs
    // CBR: 5 MPEG1 Layer III frames at 128 kbps / 44.1 kHz stereo —
    // duration math is frames × 1152 samples, bits 0 (compressed), no
    // energy without a real decoder
    val cbr = AudioCodecs.mp3Frames(Seq.fill(5)(9))
    val m = AudioCodecs.audioMeta(1L, cbr)
    assert(m.format == "mp3" && m.sample_rate == 44100L && m.channels == 2L,
      s"got $m")
    assert(m.bits == 0L && m.n_samples == 5L * 1152 && m.energy.isEmpty)
    // VBR (per-frame bitrate) + ID3v2 front tag + ID3v1 trailer: the walk
    // must skip both wrappers and still land frame-exact
    val vbr = AudioCodecs.mp3Frames(Seq(1, 9, 14, 5), id3v2Pad = 37, id3v1 = true)
    val mv = AudioCodecs.audioMeta(2L, vbr)
    assert(mv.format == "mp3" && mv.n_samples == 4L * 1152, s"got $mv")
    // MPEG2 mono: 576 samples per frame at the half rates
    val m2 = AudioCodecs.audioMeta(3L,
      AudioCodecs.mp3Frames(Seq(3, 3), mpeg1 = false, srIdx = 0, stereo = false))
    assert(m2.format == "mp3" && m2.sample_rate == 22050L &&
      m2.channels == 1L && m2.n_samples == 2L * 576, s"got $m2")
    // STRICT walk: any truncation breaks the exact frame tiling → stub,
    // never a partial count (the VideoCodecs fuzz stance)
    (1 to 40).foreach { cut =>
      val t = AudioCodecs.audioMeta(4L, cbr.take(cbr.length - cut))
      assert(t.format == "stub", s"cut $cut must stub, got ${t.format}")
    }
    // sync-shaped garbage and a free-format bitrate (index 0) reject
    assert(AudioCodecs.audioMeta(5L,
      Array(0xff, 0xfb, 0x02, 0x00, 1, 2, 3).map(_.toByte)).format == "stub")
    val free = cbr.clone(); free(2) = ((0 << 4) | (0 << 2)).toByte
    assert(AudioCodecs.audioMeta(6L, free).format == "stub")
    // total on arbitrary bytes: random payloads (including ID3/sync-byte
    // prefixes) flow to SOME row, never an exception
    val rnd2 = new scala.util.Random(11)
    (0 until 200).foreach { i =>
      val len = rnd2.nextInt(300)
      val p = Array.fill(len)(rnd2.nextInt(256).toByte)
      if (len > 3 && i % 3 == 0) { p(0) = 'I'; p(1) = 'D'; p(2) = '3' }
      if (len > 1 && i % 3 == 1) { p(0) = 0xff.toByte; p(1) = 0xfb.toByte }
      val r = AudioCodecs.audioMeta(i.toLong, p)
      assert(r.format == "stub" || r.format == "mp3")
    }
  }

  test("AAC ADTS walk: frame-length-tiled streams report exact sample metadata; truncation stubs") {
    import graft.ext.Multimodal.AudioCodecs
    // 3 ADTS frames, AAC-LC 44.1 kHz stereo, one raw data block each →
    // 1024 samples per frame, bits 0 (compressed), energy absent
    val adts = AudioCodecs.aacFrames(Seq(50, 0, 137))
    val m = AudioCodecs.audioMeta(1L, adts)
    assert(m.format == "aac" && m.sample_rate == 44100L && m.channels == 2L, s"got $m")
    assert(m.bits == 0L && m.n_samples == 3L * 1024 && m.energy.isEmpty)
    assert(m.n_bytes == 3L * 7 + 50 + 0 + 137)
    // multiple raw data blocks per frame multiply the sample count; 8 kHz
    // mono exercises the far end of the rate table; chCfg 7 maps to 8 ch
    val m2 = AudioCodecs.audioMeta(2L,
      AudioCodecs.aacFrames(Seq(10, 20), srIdx = 11, chCfg = 1, rdbm1 = 3))
    assert(m2.format == "aac" && m2.sample_rate == 8000L &&
      m2.channels == 1L && m2.n_samples == 2L * 4 * 1024, s"got $m2")
    assert(AudioCodecs.audioMeta(3L,
      AudioCodecs.aacFrames(Seq(5), chCfg = 7)).channels == 8L)
    // STRICT walk: any truncation breaks the exact frame tiling → stub
    (1 to 30).foreach { cut =>
      val t = AudioCodecs.audioMeta(4L, adts.take(adts.length - cut))
      assert(t.format == "stub", s"cut $cut must stub, got ${t.format}")
    }
    // sync-shaped garbage, reserved rate index, and PCE channel config 0
    // all reject (metadata would be a guess, not a parse)
    assert(AudioCodecs.audioMeta(5L,
      Array(0xff, 0xf1, 0x50, 0x80, 0x00, 0x3f, 0xfc).map(_.toByte)).format == "stub")
    val badSr = adts.clone(); badSr(2) = ((1 << 6) | (13 << 2)).toByte
    assert(AudioCodecs.audioMeta(6L, badSr).format == "stub")
    val pce = AudioCodecs.aacFrames(Seq(50)).clone()
    pce(2) = (pce(2) & ~1).toByte; pce(3) = (pce(3) & 0x3f).toByte
    assert(AudioCodecs.audioMeta(7L, pce).format == "stub")
    // an MP3 stream is never claimed by the AAC walk and vice versa (the
    // layer bits are disjoint): formats stay stable when both parsers run
    assert(AudioCodecs.audioMeta(8L, AudioCodecs.mp3Frames(Seq(9))).format == "mp3")
    // total on arbitrary bytes: random payloads flow to SOME row
    val rnd3 = new scala.util.Random(17)
    (0 until 200).foreach { i =>
      val len = rnd3.nextInt(300)
      val p = Array.fill(len)(rnd3.nextInt(256).toByte)
      if (len > 1 && i % 2 == 0) { p(0) = 0xff.toByte; p(1) = 0xf1.toByte }
      val r = AudioCodecs.audioMeta(i.toLong, p)
      assert(r.format == "stub" || r.format == "aac" || r.format == "mp3")
    }
  }

  test("audio walk property: random valid MP3/AAC fixtures round-trip frame-exact") {
    import graft.ext.Multimodal.AudioCodecs
    // the fixture writers and the strict walks implement the same
    // published header arithmetic from opposite ends; random parameters
    // across the whole space pin that they agree everywhere, not just on
    // the handful of fixed examples above
    val rnd = new scala.util.Random(29)
    (0 until 150).foreach { trial =>
      if (trial % 2 == 0) {
        val mpeg1 = rnd.nextBoolean()
        val k = 1 + rnd.nextInt(6)
        val idxs = Seq.fill(k)(1 + rnd.nextInt(14))
        val srIdx = rnd.nextInt(3)
        val stereo = rnd.nextBoolean()
        val pad = if (rnd.nextBoolean()) rnd.nextInt(100) else -1
        val v1 = rnd.nextBoolean()
        val bytes = AudioCodecs.mp3Frames(idxs, mpeg1, srIdx, stereo, pad, v1)
        val m = AudioCodecs.audioMeta(trial.toLong, bytes)
        val rates = if (mpeg1) Seq(44100, 48000, 32000) else Seq(22050, 24000, 16000)
        assert(m.format == "mp3" && m.sample_rate == rates(srIdx).toLong &&
          m.channels == (if (stereo) 2L else 1L) &&
          m.n_samples == k.toLong * (if (mpeg1) 1152 else 576) &&
          m.n_bytes == bytes.length.toLong,
          s"trial $trial mpeg1=$mpeg1 idxs=$idxs srIdx=$srIdx pad=$pad v1=$v1: $m")
      } else {
        val k = 1 + rnd.nextInt(5)
        val bodies = Seq.fill(k)(rnd.nextInt(500))
        val srIdx = rnd.nextInt(13)
        val chCfg = 1 + rnd.nextInt(7)
        val rdbm1 = rnd.nextInt(4)
        val bytes = AudioCodecs.aacFrames(bodies, srIdx, chCfg, rdbm1)
        val m = AudioCodecs.audioMeta(trial.toLong, bytes)
        val rates = Seq(96000, 88200, 64000, 48000, 44100, 32000, 24000,
          22050, 16000, 12000, 11025, 8000, 7350)
        assert(m.format == "aac" && m.sample_rate == rates(srIdx).toLong &&
          m.channels == (if (chCfg == 7) 8L else chCfg.toLong) &&
          m.n_samples == k.toLong * 1024 * (rdbm1 + 1) &&
          m.n_bytes == (7L * k + bodies.sum),
          s"trial $trial bodies=$bodies srIdx=$srIdx chCfg=$chCfg rdbm1=$rdbm1: $m")
      }
    }
  }

  test("pHash text fallback matches DuckDB's substr transcription on multi-byte text") {
    import graft.ext.Multimodal
    // goldens computed in DuckDB with the exact x32 oracle formula (66
    // 8-char stride-7 windows, first md5 byte each, dHash bits) — pins the
    // CODE-POINT windowing claim: SQL substr counts characters, so a UTF-16
    // or byte-offset windowing in the Scala fallback would diverge on
    // exactly these inputs
    val goldens = Seq(
      "héllo wörld 你好世界 " * 40 -> 961040981731088732L,
      "ascii only text repeated here " * 20 -> 276326840914062727L,
      "短 文" -> 1L)
    for ((text, expected) <- goldens)
      assert(Multimodal.pHash60(text.getBytes("UTF-8")) === expected,
        s"fallback hash diverged from the DuckDB oracle for: ${text.take(20)}")
  }

  test("pHash survives lossless re-encoding: PNG vs BMP of the same pixels hash identically") {
    import graft.ext.Multimodal
    import graft.ext.Multimodal.ImageCodecs
    val png = ImageCodecs.syntheticPng(64, 48, 7L)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(ImageCodecs.decode(png).get, "bmp", bos))
    val bmp = bos.toByteArray
    // different bytes (exact dedup misses it), same perceptual hash
    assert(!java.util.Arrays.equals(png, bmp))
    assert(Multimodal.pHash60(png) === Multimodal.pHash60(bmp))
    // an unrelated image does NOT collide
    assert(Multimodal.pHash60(png) !== Multimodal.pHash60(ImageCodecs.syntheticPng(64, 48, 8L)))
    // gray-PNG sample round-trip is bit-exact — the x32 oracle's premise
    val px = Array.tabulate(66)(i => (i * 37 + 11) % 256)
    val grid = ImageCodecs.luminanceGrid(ImageCodecs.decode(ImageCodecs.grayPng(px, 11, 6)).get, 11, 6)
    assert(grid.sameElements(px))
  }

  test("cosine LSH pairs equal brute-force pairs at threshold 0.35 (x05 recall = 1)") {
    val brute = SimilarityReference.cosinePairs(emb, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineLshPairs(emb, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(lsh == brute)
  }

  test("firstBandOnly emits each colliding sig pair exactly once, from its first band") {
    import spark.implicits._
    // random 64-bit signature pairs, biased toward collisions by copying
    // random slices; every (pair, band) row checked against the sequential
    // model — across band sizes incl. the 1-bit and full-64-bit edges
    for ((bandSize, nBands) <- Seq((2, 24), (2, 32), (1, 64), (4, 12), (8, 6))) {
      val rnd = new scala.util.Random(1234 + bandSize)
      def slice(sig: Long, k: Int): Long =
        (sig >>> (k * bandSize)) & (if (bandSize == 64) -1L else (1L << bandSize) - 1)
      val pairs = Seq.fill(300) {
        val a = rnd.nextLong()
        var b = rnd.nextLong()
        (0 until nBands).foreach { k =>
          if (rnd.nextInt(3) == 0)
            b = (b & ~(((1L << bandSize) - 1) << (k * bandSize))) | (slice(a, k) << (k * bandSize))
        }
        (a, b)
      }
      val rows = for { ((a, b), i) <- pairs.zipWithIndex; band <- 0 until nBands }
        yield (i.toLong, a, b, band)
      val df = rows.toDF("pid", "sig_a", "sig_b", "band")
      val got = df
        .filter(Similarity.firstBandOnly(col("band"), col("sig_a"), col("sig_b"), bandSize, nBands))
        .select("pid", "band").as[(Long, Int)].collect().toSet
      // model emission set: (pair, first colliding band) — nothing else. In
      // production only rows whose OWN band collides reach the filter (they
      // come out of the band equi-join), so restrict the comparison to those.
      val wantSet = (for {
        ((a, b), i) <- pairs.zipWithIndex
        f <- (0 until nBands).find(k => slice(a, k) == slice(b, k))
      } yield (i.toLong, f)).toSet
      val collidingGot = got.filter { case (pid, band) =>
        val (a, b) = pairs(pid.toInt); slice(a, band) == slice(b, band)
      }
      assert(collidingGot == wantSet, s"bandSize=$bandSize nBands=$nBands")
      assert(wantSet.nonEmpty, s"bandSize=$bandSize nBands=$nBands")
    }
  }

  test("md5Hash60 matches the DuckDB transcription (15-hex-digit prefix of md5)") {
    import graft.functions.Hashing
    // md5("abc") = 900150983cd24fb0... ⇒ first 15 hex digits
    assert(Hashing.md5Hash60("abc") == java.lang.Long.parseLong("900150983cd24fb", 16))
    // md5("") = d41d8cd98f00b204...
    assert(Hashing.md5Hash60("") == java.lang.Long.parseLong("d41d8cd98f00b20", 16))
    // multi-byte UTF-8 goes through the same bytes both engines hash
    assert(Hashing.md5Hash60("héllo 的") >= 0L)
  }

  test("throughputLimit rejects batch use instead of silently no-oping") {
    import graft.api.GStream
    intercept[UnsupportedOperationException] {
      GStream(docs).throughputLimit(100.0)
    }
  }

  test("cosine pairs are consistent with the codegen dot expression") {
    import spark.implicits._
    val n = Similarity.norm(col("embedding"))
    val norms = emb.select(n.as[Double]).collect()
    assert(norms.forall(v => v > 0 && !v.isNaN))
    // self-cosine == 1
    val self = emb.select((Similarity.dot(col("embedding"), col("embedding"))
      / (n * n)).as[Double]).collect()
    assert(self.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("language ID is deterministic and in-profile") {
    val out = TextAnalysis.langId(docs, "doc_id", "text").collect()
    assert(out.length == docs.count())
    val langs = TextAnalysis.langProfiles.keySet
    assert(out.forall(r => langs.contains(r.getString(1))))
  }

  test("fingerprints: near-dup docs share fingerprints") {
    val fp = TextAnalysis.fingerprints(docs, "doc_id", "text")
    // the 25 planted near-dup pairs (jaccard >= 0.5) must share >= 1 fingerprint
    val shingles = Dedup.wordShingles(docs, "doc_id", "text", 3)
    val nearDups = Dedup.jaccardPairs(shingles, 0.5).select("d1", "d2").collect()
    val byDoc = fp.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    nearDups.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert((byDoc(a) intersect byDoc(b)).nonEmpty, s"pair ($a,$b) shares no fingerprint")
    }
  }

  test("kafka murmur2 matches Apache Kafka reference vectors") {
    import graft.functions.KafkaMurmur2
    // vectors from org.apache.kafka.common.utils.UtilsTest#testMurmur2
    assert(KafkaMurmur2.hash("21".getBytes("UTF-8")) == -973932308)
    assert(KafkaMurmur2.hash("foobar".getBytes("UTF-8")) == -790332482)
    assert(KafkaMurmur2.hash("a-little-bit-long-string".getBytes("UTF-8")) == -985981536)
    assert(KafkaMurmur2.hash("a-little-bit-longer-string".getBytes("UTF-8")) == -1486304829)
    assert(KafkaMurmur2.hash("lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8".getBytes("UTF-8")) == -58897971)
    assert(KafkaMurmur2.hash(Array[Byte]('a', 'b', 'c')) == 479470107)
  }

  test("kafka partition column routes keys exactly like the reference producer") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.KafkaMurmur2
    graft.functions.GraftFunctions.register(spark)
    val keys = Seq("user-1", "user-2", "", "another-key", "42")
    val got = keys.toDF("k")
      .select(col("k"), graft.sinks.Sinks.kafkaPartition(col("k").cast("binary"), 12).as("p"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    keys.foreach { k =>
      val expected = (KafkaMurmur2.hash(k.getBytes("UTF-8")) & 0x7fffffff) % 12
      assert(got(k) == expected, s"key $k routed to ${got(k)}, producer would use $expected")
    }
  }

  test("multimodal stub decode is pure and 1->N frame sampling explodes") {
    import graft.ext.Multimodal
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val meta = Multimodal.decodeImageMeta(media).collect()
    assert(meta.forall(m => m.width >= 1 && m.width <= 640 && m.height >= 1 && m.height <= 480))
    val frames = Multimodal.sampleFrames(media).collect()
    assert(frames.length > meta.length) // at least one frame per doc, many docs > 256 bytes
  }

  test("MJPEG-AVI frame sampling is real: chunk-walk offsets, ImageIO-decodable frames, stub fallback") {
    import graft.ext.Multimodal
    import graft.ext.Multimodal.{Frame, MediaRow, VideoCodecs}
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    // three solid-color JPEG frames of distinct sizes, real ImageIO encodes
    val jpegs = Seq(0xff0000, 0x00ff00, 0x0000ff).zipWithIndex.map { case (rgb, i) =>
      val img = new BufferedImage(16 + 4 * i, 8 + 2 * i, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, img.getWidth, img.getHeight)
      g.dispose()
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "jpeg", out)
      out.toByteArray
    }
    val avi = VideoCodecs.mjpegAvi(jpegs, width = 24, height = 12, fps = 10)
    val parsed = VideoCodecs.aviFrames(7L, avi)
    assert(parsed.isDefined, "a well-formed MJPEG AVI must parse as real video")
    val frames = parsed.get
    assert(frames.map(_.frame_idx) == Seq(0L, 1L, 2L))
    // each frame offset must point at the EXACT embedded JPEG, and that
    // payload slice must decode through the production ImageIO path
    frames.zip(jpegs).foreach { case (f, jpeg) =>
      val slice = avi.slice(f.byte_offset.toInt, f.byte_offset.toInt + jpeg.length)
      assert(slice.sameElements(jpeg), s"frame ${f.frame_idx} offset ${f.byte_offset}")
      val img = ImageIO.read(new java.io.ByteArrayInputStream(slice))
      assert(img != null && img.getWidth == 16 + 4 * f.frame_idx,
        s"frame ${f.frame_idx} must be a decodable JPEG")
    }
    // Dataset path: the AVI row samples its real frames, a text row falls
    // back to the deterministic stub (the x12 oracle path) — strict walk,
    // so "RIFF"-prefixed text cannot steal rows from the stub
    import spark.implicits._
    val textBytes = "RIFFxxxxAVI not actually a container, just text".getBytes("UTF-8")
    val media = spark.createDataset(Seq(
      MediaRow(7L, avi), MediaRow(8L, textBytes)))(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val got = Multimodal.sampleFrames(media).collect().groupBy(_.id)
    assert(got(7L).map(f => (f.frame_idx, f.byte_offset)).toSeq.sorted ==
      frames.map(f => (f.frame_idx, f.byte_offset)).sorted)
    assert(got(8L).toSeq == Multimodal.StubCodecs.frames(8L, textBytes).toSeq)
    // truncated container: the walk overruns -> not an AVI -> stub fallback
    assert(VideoCodecs.aviFrames(9L, avi.take(avi.length - 10)).isEmpty)

    // interleaved (CD-ROM-style) layout: frames grouped one level deeper
    // in LIST('rec ' …) alongside audio chunks must still be found — the
    // spec-legal layout a top-level-only walk silently undercounts
    val recAvi = {
      def pad(n: Int): Int = n + (n & 1)
      val audio = Array.fill[Byte](6)(0x55)
      val recs = jpegs.map { j => 12 + (8 + pad(j.length)) + (8 + pad(audio.length)) }
      val moviSz = 4 + recs.sum
      val riffSz = 4 + 8 + moviSz
      val buf = java.nio.ByteBuffer.allocate(8 + riffSz)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def cc(s: String): Unit = { buf.put(s.getBytes("US-ASCII")); () }
      cc("RIFF"); buf.putInt(riffSz); cc("AVI ")
      cc("LIST"); buf.putInt(moviSz); cc("movi")
      jpegs.foreach { j =>
        cc("LIST"); buf.putInt(4 + (8 + pad(j.length)) + (8 + pad(audio.length)))
        cc("rec ")
        cc("00dc"); buf.putInt(j.length); buf.put(j)
        if ((j.length & 1) == 1) buf.put(0.toByte)
        cc("01wb"); buf.putInt(audio.length); buf.put(audio)
      }
      buf.array()
    }
    val recParsed = VideoCodecs.aviFrames(13L, recAvi)
    assert(recParsed.isDefined, "a rec-list AVI must parse as real video")
    val recFrames = recParsed.get
    assert(recFrames.map(_.frame_idx) == Seq(0L, 1L, 2L),
      s"all rec-wrapped frames must be found: $recFrames")
    recFrames.zip(jpegs).foreach { case (f, jpeg) =>
      val slice = recAvi.slice(f.byte_offset.toInt, f.byte_offset.toInt + jpeg.length)
      assert(slice.sameElements(jpeg), s"rec frame ${f.frame_idx} offset ${f.byte_offset}")
      assert(ImageIO.read(new java.io.ByteArrayInputStream(slice)) != null)
    }
    // a chunk overrunning its rec list still rejects the whole container
    // (same containment rule as top level): outer sizes consistent, inner
    // 00dc declares 100 bytes the 12-byte rec list cannot hold
    val badRec = {
      val buf = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def cc(s: String): Unit = { buf.put(s.getBytes("US-ASCII")); () }
      cc("RIFF"); buf.putInt(36); cc("AVI ")
      cc("LIST"); buf.putInt(24); cc("movi")
      cc("LIST"); buf.putInt(12); cc("rec ")
      cc("00dc"); buf.putInt(100)
      buf.array()
    }
    assert(VideoCodecs.aviFrames(14L, badRec).isEmpty,
      "an inner-rec overrun must reject the container, not undercount")

    // NULL payload rides the stub path as the empty payload instead of
    // NPE-ing the stage (the imageMeta/resize convention)
    val withNull = spark.createDataset(Seq(MediaRow(21L, null)))(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val nullFrames = Multimodal.sampleFrames(withNull).collect()
    assert(nullFrames.toSeq == Seq(Multimodal.Frame(21L, 0L, 0L)),
      s"null payload must stub one zero-offset frame row: ${nullFrames.toSeq}")
    val nullEmb = Multimodal.extractFeatures(withNull, dim = 8).collect()
    assert(nullEmb.length == 1 && nullEmb.head.embedding.length == 8)
  }

  test("REAL image features: decoded grid L2-normalized exactly, stub only off the image path") {
    import graft.ext.Multimodal
    import graft.ext.Multimodal.{ImageCodecs, MediaRow, StubCodecs}
    // grid factorization: largest divisor <= sqrt, exact cover of dim
    assert(ImageCodecs.gridDims(64) == ((8, 8)))
    assert(ImageCodecs.gridDims(32) == ((8, 4)))
    assert(ImageCodecs.gridDims(8) == ((4, 2)))
    assert(ImageCodecs.gridDims(7) == ((7, 1)))
    intercept[IllegalArgumentException](ImageCodecs.gridDims(0))
    // matching-dims gray PNG: the descriptor is EXACTLY the pixel bytes
    // L2-normalized in double then cast to float (the x63 oracle contract)
    val px = Array.tabulate(64)(i => (i * 37 + 11) % 256)
    val png = ImageCodecs.grayPng(px, 8, 8)
    val norm = math.sqrt(px.foldLeft(0.0)((a, v) => a + v.toDouble * v))
    val expected = px.map(v => (v / norm).toFloat)
    assert(ImageCodecs.features(png, 64).get.sameElements(expected),
      "matching-dims decode must hand back the normalized samples bitwise")
    // non-matching dims area-pool deterministically; unit norm either way
    val pooled = ImageCodecs.features(ImageCodecs.grayPng(px, 8, 8), 16).get
    assert(pooled.length == 16 &&
      math.abs(pooled.map(x => x.toDouble * x).sum - 1.0) < 1e-6)
    // an all-black image has no direction: zero vector, never NaN
    val black = ImageCodecs.features(ImageCodecs.grayPng(new Array[Int](64), 8, 8), 64).get
    assert(black.forall(_ == 0.0f), "zero-norm grid must stay the zero vector")
    // non-image bytes: None from the real kernel (callers choose the stub)
    assert(ImageCodecs.features("just text".getBytes, 64).isEmpty)
    // extractFeatures routes per row: image rows real, text rows stub
    val mixed = spark.createDataset(Seq(
      MediaRow(1L, png), MediaRow(2L, "just text".getBytes)))(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val byId = Multimodal.extractFeatures(mixed, dim = 64).collect()
      .map(r => r.id -> r.embedding).toMap
    assert(byId(1L).sameElements(expected), "image row must take the real path")
    assert(byId(2L).sameElements(StubCodecs.features("just text".getBytes, 64)),
      "non-image row must take the stub path")
  }

  test("REAL audio features: PCM energy envelope L2-normalized exactly, stub only off the audio path") {
    import graft.ext.Multimodal
    import graft.ext.Multimodal.{AudioCodecs, MediaRow, StubCodecs}
    // 8-bit mono: descriptor is EXACTLY the per-bin Σ(s−128)² envelope
    // L2-normalized in double then cast to float (the x64 oracle contract)
    val n = 237
    val samples = Array.tabulate(n)(i => ((i * 31 + 17) % 256).toByte)
    val wav = AudioCodecs.pcmWav(8000, 1, 8, samples)
    val bins = 16
    val acc = new Array[Long](bins)
    samples.zipWithIndex.foreach { case (b, i) =>
      val c = (b & 0xff) - 128
      acc((i.toLong * bins / n).toInt) += c.toLong * c
    }
    val norm = math.sqrt(acc.foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble))
    val expected = acc.map(v => (v.toDouble / norm).toFloat)
    assert(AudioCodecs.waveformFeatures(wav, bins).get.sameElements(expected),
      "8-bit decode must hand back the normalized bin energies bitwise")
    // 16-bit signed LE path: negative samples square positive, exact
    val pcm16 = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq[Short](1000, -2000, 3000, -32768).foreach(s => { pcm16.putShort(s); () })
    val wav16 = AudioCodecs.pcmWav(16000, 1, 16, pcm16.array())
    val f16 = AudioCodecs.waveformFeatures(wav16, 4).get
    val e16 = Array(1000L * 1000, 2000L * 2000, 3000L * 3000, 32768L * 32768)
    val n16 = math.sqrt(e16.foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble))
    assert(f16.sameElements(e16.map(v => (v.toDouble / n16).toFloat)))
    // all-silence (centered zeros) has no direction: zero vector, never NaN
    val silent = AudioCodecs.pcmWav(8000, 1, 8, Array.fill(100)(128.toByte))
    assert(AudioCodecs.waveformFeatures(silent, 8).get.forall(_ == 0.0f))
    // an empty data chunk must not divide by zero
    assert(AudioCodecs.waveformFeatures(AudioCodecs.pcmWav(8000, 1, 8,
      Array.emptyByteArray), 8).get.forall(_ == 0.0f))
    // non-audio bytes: None from the real kernel (callers choose the stub)
    assert(AudioCodecs.waveformFeatures("just text".getBytes, 16).isEmpty)
    intercept[IllegalArgumentException](AudioCodecs.waveformFeatures(wav, 0))
    // extractFeatures routes per row: WAV rows real-audio, image rows
    // real-visual, text rows stub — no path steals another's rows
    val px = Array.tabulate(16)(i => (i * 37 + 11) % 256)
    val png = Multimodal.ImageCodecs.grayPng(px, 4, 4)
    val pnorm = math.sqrt(px.foldLeft(0.0)((a, v) => a + v.toDouble * v))
    val mixed = spark.createDataset(Seq(
      MediaRow(1L, wav), MediaRow(2L, png), MediaRow(3L, "just text".getBytes)))(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val byId = Multimodal.extractFeatures(mixed, dim = 16).collect()
      .map(r => r.id -> r.embedding).toMap
    assert(byId(1L).sameElements(expected), "WAV row must take the audio path")
    assert(byId(2L).sameElements(px.map(v => (v / pnorm).toFloat)),
      "image row must take the visual path")
    assert(byId(3L).sameElements(StubCodecs.features("just text".getBytes, 16)),
      "text row must take the stub path")
  }

  test("REAL video features: per-frame grids mean-pooled and L2-normalized exactly, stub only off the video path") {
    import graft.ext.Multimodal
    import graft.ext.Multimodal.{ImageCodecs, MediaRow, StubCodecs, VideoCodecs}
    // three 8×8 gray PNG frames with known pixels: the pooled descriptor
    // is EXACTLY the per-cell integer pixel sums L2-normalized in double
    // then cast to float (the x65 oracle contract — the mean's 1/n
    // cancels in the normalization)
    val frames = (0 until 3).map(j => Array.tabulate(64)(i => (i * 37 + j * 101 + 11) % 256))
    val avi = VideoCodecs.mjpegAvi(frames.map(ImageCodecs.grayPng(_, 8, 8)), 8, 8)
    val sums = Array.tabulate(64)(i => frames.map(_(i).toLong).sum)
    val norm = math.sqrt(sums.foldLeft(0.0)((a, v) => a + v.toDouble * v))
    val expected = sums.map(v => (v / norm).toFloat)
    assert(VideoCodecs.videoFeatures(avi, 64).get.sameElements(expected),
      "pooled decode must hand back the normalized pixel sums bitwise")
    // an all-black video has no direction: zero vector, never NaN
    val black = VideoCodecs.mjpegAvi(
      Seq(ImageCodecs.grayPng(new Array[Int](64), 8, 8)), 8, 8)
    assert(VideoCodecs.videoFeatures(black, 64).get.forall(_ == 0.0f))
    // non-AVI bytes and a truncated container: None (callers choose the stub)
    assert(VideoCodecs.videoFeatures("just text".getBytes, 64).isEmpty)
    assert(VideoCodecs.videoFeatures(avi.take(avi.length - 10), 64).isEmpty)
    // a container whose frames are NOT decodable images must not be
    // silently half-pooled: the whole payload falls back
    val junkFrames = VideoCodecs.mjpegAvi(Seq(Array.fill[Byte](32)(0x7f)), 8, 8)
    assert(VideoCodecs.videoFeatures(junkFrames, 64).isEmpty,
      "undecodable frames must reject the container, not pool a subset")
    intercept[IllegalArgumentException](VideoCodecs.videoFeatures(avi, 0))
    // extractFeatures routes per row: AVI rows real-video, image rows
    // real-visual, text rows stub — no path steals another's rows (and
    // the strict walk keeps "RIFF"-prefixed text on the stub)
    val px = Array.tabulate(64)(i => (i * 53 + 7) % 256)
    val png = ImageCodecs.grayPng(px, 8, 8)
    val pnorm = math.sqrt(px.foldLeft(0.0)((a, v) => a + v.toDouble * v))
    val riffText = "RIFFxxxxAVI not actually a container, just text".getBytes("UTF-8")
    val mixed = spark.createDataset(Seq(
      MediaRow(1L, avi), MediaRow(2L, png), MediaRow(3L, riffText)))(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val byVid = Multimodal.extractFeatures(mixed, dim = 64).collect()
      .map(r => r.id -> r.embedding).toMap
    assert(byVid(1L).sameElements(expected), "AVI row must take the video path")
    assert(byVid(2L).sameElements(px.map(v => (v / pnorm).toFloat)),
      "image row must take the visual path")
    assert(byVid(3L).sameElements(StubCodecs.features(riffText, 64)),
      "RIFF-prefixed text must take the stub path")
  }

  test("multimodal feature extraction feeds the ANN operators end to end") {
    import graft.ext.Multimodal
    val media = Multimodal.asMedia(docs.limit(50), "doc_id", "text")
    val emb = Multimodal.extractFeatures(media, dim = 32)
    val rows = emb.collect()
    assert(rows.forall(_.embedding.length == 32))
    // stub encoder emits unit-norm vectors — cosine machinery applies directly
    assert(rows.forall(r => math.abs(r.embedding.map(x => x.toDouble * x).sum - 1.0) < 1e-5))
    // determinism: same payload → same vector
    val again = Multimodal.extractFeatures(media, dim = 32).collect()
    assert(rows.sortBy(_.id).zip(again.sortBy(_.id)).forall { case (a, b) =>
      a.embedding.sameElements(b.embedding) })
    // plumb into brute-force top-k over the extracted embeddings
    val df = emb.toDF()
    val topk = Similarity.bruteForceTopK(df, df.filter(col("id") < 5), "id", "embedding", 3)
    assert(topk.count() == df.filter(col("id") < 5).count() * 3)
  }

  test("NULL ids raise in the score-and-join-back and decontamination operators") {
    import spark.implicits._
    def rootMsg(t: Throwable): String = {
      var cur = t
      while (cur.getCause != null) cur = cur.getCause
      String.valueOf(cur.getMessage)
    }
    // groupBy aggregates a NULL id as a real group, but the closing
    // null-unsafe join can never match it back: a 1000-token NULL-id doc
    // would come out (0, NULL) with its true score silently discarded —
    // and a contaminated NULL-id train doc would ESCAPE the anti-join
    val docs = Seq((Some(1L), "the quick brown fox jumps the lazy dog again"),
      (Option.empty[Long], "the quick brown fox jumps the lazy dog again"))
      .toDF("doc_id", "text")
    for ((name, run) <- Seq[(String, () => Unit)](
      ("unigramQuality", () => { TextAnalysis.unigramQuality(docs, "doc_id", "text").collect(); () }),
      ("bigramQuality", () => { TextAnalysis.bigramQuality(docs, "doc_id", "text").collect(); () }),
      ("hashedLogOdds", () => { TextAnalysis.hashedLogOdds(docs, "doc_id", "text",
        col("doc_id") === 1L, dim = 64).collect(); () }),
      ("decontaminate", () => { graft.ext.Decontaminate.docGrams(docs, "doc_id", "text", 3)
        .collect(); () }))) {
      val e = intercept[Throwable](run())
      assert(rootMsg(e).contains("NULL doc_id"), s"$name: ${rootMsg(e)}")
      graft.Caching.release(spark)
    }
    val vecs = Seq((Some(1L), Array(1f, 0f)), (Option.empty[Long], Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Throwable](graft.ext.Decontaminate.semanticDecontaminate(
      vecs, vecs.filter(col("vec_id").isNotNull), "vec_id", "embedding", 0.9).collect())
    assert(rootMsg(e).contains("NULL vec_id"), rootMsg(e))
    graft.Caching.release(spark)
    // the HOLDOUT side raises too: a NULL-id holdout row would silently
    // stop detecting leaks (its candidates vanish in the hid equi-join)
    val eh = intercept[Throwable](graft.ext.Decontaminate.semanticDecontaminate(
      vecs.filter(col("vec_id").isNotNull), vecs, "vec_id", "embedding", 0.9).collect())
    assert(rootMsg(eh).contains("NULL vec_id"), rootMsg(eh))
    graft.Caching.release(spark)
  }

  test("silent-no-op knobs fail loudly: maxGramDf < 2, vocabSize <= 0, maxTermDf < 1") {
    import spark.implicits._
    val docs2 = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    // union df of any JOINABLE gram is >= 2: a cap of 1 empties every sweep
    // and a contaminated corpus passes as clean
    val e1 = intercept[IllegalArgumentException](graft.ext.Decontaminate.ngramOverlap(
      docs2, docs2, "doc_id", "text", n = 2, maxGramDf = Some(1L)))
    assert(e1.getMessage.contains("maxGramDf"), e1.getMessage)
    // vocabSize 0 floors every token to count 1: nll_bits the same constant
    // for every doc
    val e2 = intercept[IllegalArgumentException](
      TextAnalysis.unigramQuality(docs2, "doc_id", "text", vocabSize = Some(0)))
    assert(e2.getMessage.contains("vocabSize"), e2.getMessage)
    // maxTermDf 0 keeps no term: every query silently gets zero results
    val e3 = intercept[IllegalArgumentException](TextAnalysis.bm25Join(
      docs2, docs2, "doc_id", "text", "doc_id", "text", k = 5, maxTermDf = Some(0L)))
    assert(e3.getMessage.contains("maxTermDf"), e3.getMessage)
  }

  test("semanticDecontaminate drops exactly the brute-force cosine leaks (x40)") {
    val train = emb.filter(col("vec_id") % 10 =!= 7)
    val hold = emb.filter(col("vec_id") % 10 === 7)
    val got = graft.ext.Decontaminate
      .semanticDecontaminate(train, hold, "vec_id", "embedding", 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    // expected from the engine-verified brute-force pair set: a train doc
    // leaks iff it pairs with a holdout doc at cosine >= 0.35
    val pairs = SimilarityReference.cosinePairs(emb, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val leaked = pairs.flatMap { case (a, b) =>
      Seq(a, b).filter(x => x % 10 != 7 && (if (x == a) b else a) % 10 == 7)
    }.toSet
    val trainIds = train.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(leaked.nonEmpty, "test data must contain at least one semantic leak")
    assert(got == trainIds -- leaked)
  }

  test("corrupt vectors (Inf/NaN components) are dropped, never NaN-ranked as top neighbors") {
    import spark.implicits._
    val good = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f)), (4L, Array(0f, 0.9f, 0.1f)))
    // an Inf component (float32 overflow upstream) makes EVERY cosine
    // against the vector NaN; graft_topk is NaN-greatest, so without the
    // finite-norm gate id 9 would be the #1 neighbor of every query
    val corrupt = Seq(
      (9L, Array(Float.PositiveInfinity, 0f, 0f)),
      (10L, Array(Float.NaN, 1f, 0f)),
      (11L, Array(0f, 0f, 0f))) // zero-norm, the long-standing drop
    val df = (good ++ corrupt).toDF("vec_id", "embedding")
    val topk = Similarity.bruteForceTopK(df, df, "vec_id", "embedding", 2).collect()
    assert(topk.nonEmpty)
    val nbrs = topk.map(_.getLong(2)).toSet
    assert(!nbrs.exists(_ >= 9L), s"corrupt/zero vectors must never be neighbors: $nbrs")
    assert(!topk.map(_.getLong(0)).exists(_ >= 9L), "corrupt queries must drop too")
    assert(topk.forall(r => !r.getDouble(3).isNaN), "no NaN score may survive")
    // the pair path shares the gate: only the two genuine near-pairs emit
    val pairs = SimilarityReference.cosinePairs(df, "vec_id", "embedding", 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)), s"got $pairs")
    // and the SRP path (its srpBase feeds cosineLshPairs): corrupt rows drop
    val lsh = Similarity.cosineLshPairs(df, "vec_id", "embedding", 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caching.release(spark)
    assert(lsh.subsetOf(Set((1L, 2L), (3L, 4L))), s"got $lsh")
  }

  test("PQ/IVF corpus-side dimension gates raise loudly per row (no silent truncation)") {
    import spark.implicits._
    def rootMsg(t: Throwable): String = {
      var cur = t
      while (cur.getCause != null) cur = cur.getCause
      String.valueOf(cur.getMessage)
    }
    val base = (0L until 32L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 7 + j) % 5).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val model = Similarity.pqTrain(base, "vec_id", "embedding", m = 4, ksub = 4, iters = 2)
    graft.Caching.release(spark)
    // a 4-dim row among 8-dim: copyOfRange would zero-pad it into
    // well-formed WRONG codes; pqTrain's raise only covers the sample
    val mixed = base.union(Seq((99L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding"))
    val e1 = intercept[Throwable](
      Similarity.pqEncode(mixed, "vec_id", "embedding", model).collect())
    assert(rootMsg(e1).contains("pq encode") && rootMsg(e1).contains("id=99"), rootMsg(e1))
    // IVF assignment: nearest() would silently compute prefix distances
    val idx = Similarity.IvfIndex("tdimgate_assign", "tdimgate_code", numBuckets = 2)
    dropTableHard(idx.assignmentsTable); dropTableHard(idx.codebookTable)
    try {
      Similarity.ivfBuild(base, "vec_id", "embedding", idx, nClusters = 4, iters = 1)
      val e2 = intercept[Throwable](Similarity.ivfAppend(
        Seq((99L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", idx))
      assert(rootMsg(e2).contains("ivfAppend") && rootMsg(e2).contains("id=99"), rootMsg(e2))
    } finally {
      dropTableHard(idx.assignmentsTable); dropTableHard(idx.codebookTable)
    }
  }

  test("trainCentroids raises on NULL/NaN/Inf vector components (train/score consistency)") {
    import spark.implicits._
    // Ncm.argmax raises on these at SCORING; a model trained over them
    // would be silently skewed (null quantized components deflate sums
    // while the count still ticks; NaN/Inf floor-cast to 0 long)
    val nan = Seq((1L, Array(1f, Float.NaN), 0), (2L, Array(1f, 2f), 1))
      .toDF("vec_id", "embedding", "label")
    val e1 = intercept[IllegalArgumentException](
      Similarity.trainCentroids(nan, "embedding", "label"))
    assert(e1.getMessage.contains("NULL/NaN/Inf components"), e1.getMessage)
    val inf = Seq((1L, Array(1f, Float.NegativeInfinity), 0), (2L, Array(1f, 2f), 1))
      .toDF("vec_id", "embedding", "label")
    intercept[IllegalArgumentException](
      Similarity.trainCentroids(inf, "embedding", "label"))
    val withNullElem = Seq((1L, 0), (2L, 1)).toDF("vec_id", "label")
      .withColumn("embedding",
        when(col("vec_id") === 1L, array(lit(1f), lit(null).cast("float")))
          .otherwise(array(lit(1f), lit(2f))))
    val e3 = intercept[IllegalArgumentException](
      Similarity.trainCentroids(withNullElem, "embedding", "label"))
    assert(e3.getMessage.contains("NULL/NaN/Inf components"), e3.getMessage)
    // clean input still trains (the guard must not false-positive)
    val ok = Seq((1L, Array(1f, 0f), 0), (2L, Array(0f, 2f), 1))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.trainCentroids(ok, "embedding", "label").centroids.size == 2)
  }

  test("eager Similarity entry points self-register graft functions on a bare session") {
    // a fresh session has no graft temp functions (GraftSession.tune never
    // ran on it); ivfBuild/pqTrain previously died with UNRESOLVED_ROUTINE
    // 'graft_dot' deep inside the training loop
    val s2 = spark.newSession()
    import s2.implicits._
    val df = (0L until 24L)
      .map(i => (i, Array.tabulate(4)(j => ((i + j) % 5).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val model = Similarity.pqTrain(df, "vec_id", "embedding", m = 2, ksub = 4, iters = 1)
    assert(Similarity.pqEncode(df, "vec_id", "embedding", model).count() == 24)
    val idx = Similarity.IvfIndex("tselfreg_assign", "tselfreg_code", numBuckets = 2)
    dropTableHard(idx.assignmentsTable); dropTableHard(idx.codebookTable)
    try {
      Similarity.ivfBuild(df, "vec_id", "embedding", idx, nClusters = 2, iters = 1)
      assert(s2.table(idx.assignmentsTable).count() == 24)
    } finally {
      dropTableHard(idx.assignmentsTable); dropTableHard(idx.codebookTable)
    }
  }

  test("pqTopK at full overfetch equals bruteForceTopK bit-for-bit (x47)") {
    val queries = emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "rank", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding", k = 10,
        m = 8, ksub = 16, overfetch = 4096)
      .select("query_id", "rank", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    graft.Caching.release(spark)
    assert(brute.nonEmpty && pq == brute)
  }

  test("pqTopK at production overfetch keeps high recall, and re-rank makes precision exact") {
    val queries = emb.filter(col("vec_id") < 20)
    def sets(df: org.apache.spark.sql.DataFrame) = df.select("query_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = sets(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10))
    val pq = sets(Similarity.pqTopK(emb, queries, "vec_id", "embedding", k = 10,
      m = 8, ksub = 16, overfetch = 50))
    graft.Caching.release(spark)
    val (hit, tot) = brute.foldLeft((0, 0)) { case ((h, t), (q, nbrs)) =>
      (h + pq.getOrElse(q, Set.empty[Long]).count(nbrs), t + nbrs.size)
    }
    val recall = hit.toDouble / tot
    assert(recall >= 0.7, s"recall@10 with 5x overfetch dropped to $recall")
    // every returned neighbor is exactly ranked: the pq top-1..k are a
    // prefix-of-brute whenever recall for that query is total
    pq.foreach { case (q, nbrs) => assert(nbrs.size <= 10) }
  }

  test("graft_pq_adc sums the per-subspace LUT entries, bytes read unsigned") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // m=2, ksub=4: codes (3, 1) pick lut[3] and lut[4+1]
    val lut = (0 until 8).map(_ * 0.5).toArray
    val got = Seq((lut, Array[Byte](3, 1))).toDF("lut", "codes")
      .select(call_function("graft_pq_adc", col("lut"), col("codes")).as("s"))
      .head.getDouble(0)
    assert(got == lut(3) + lut(5), s"got $got")
    // code byte 200 (negative as a JVM byte) must index 200, not -56
    val lut256 = (0 until 256).map(_.toDouble).toArray
    val hi = Seq((lut256, Array[Byte](200.toByte))).toDF("lut", "codes")
      .select(call_function("graft_pq_adc", col("lut"), col("codes")).as("s"))
      .head.getDouble(0)
    assert(hi == 200.0, s"got $hi")
  }

  test("centroidClassify assigns clustered vectors to their cluster's label, not their own") {
    import spark.implicits._
    // two tight clusters in orthogonal corners; vec 99 carries label 7 but
    // sits in cluster 0's corner — NCM must assign it 0 (it's a classifier,
    // not an identity map). Labels deliberately non-contiguous.
    def v(base: Array[Float], j: Int): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + (if (i == j % 4) 0.01f else 0f) }
    val c0 = Array(1f, 0f, 0f, 0f)
    val c7 = Array(0f, 0f, 1f, 0f)
    val rows = (0 until 6).map(i => (i.toLong, v(c0, i), 0)) ++
      (10 until 16).map(i => (i.toLong, v(c7, i), 7)) :+
      ((99L, v(c0, 1), 7))
    val out = Similarity.centroidClassify(
        rows.toDF("vec_id", "embedding", "label"), "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    (0 until 6).foreach(i => assert(out(i.toLong) == 0))
    (10 until 16).foreach(i => assert(out(i.toLong) == 7))
    assert(out(99L) == 0, "mislabeled vector must follow its cluster")
  }

  test("centroidClassify equals the sequential NCM model on the real embeddings; beats chance") {
    val rows = emb.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val dim = rows.head._2.length
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * Similarity.CentroidQuantScale).toLong)
    val byLabel = rows.groupBy(_._3)
    val centroids = byLabel.toSeq.sortBy(_._1).map { case (l, vs) =>
      val s = Array.ofDim[Long](dim)
      vs.foreach(r => quant(r._2).zipWithIndex.foreach { case (q, i) => s(i) += q })
      l -> s.map(_.toDouble / vs.length)
    }
    val expected = rows.map { case (id, v, _) =>
      val qv = quant(v)
      // left-to-right fold, the declared summation order
      val scored = centroids.map { case (l, c) =>
        (l, (0 until dim).map(i => qv(i).toDouble * c(i)).reduceLeft(_ + _))
      }
      id -> scored.maxBy { case (l, s) => (s, -l) }._1
    }.toMap
    val got = Similarity.centroidClassify(emb, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == expected)
    val acc = rows.count(r => got(r._1) == r._3).toDouble / rows.length
    assert(acc > 0.2, s"NCM should beat 10-class chance, got $acc")
  }

  test("frozen centroid model classifies a stream statelessly, matching the batch predictions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = Similarity.trainCentroids(emb, "embedding", "label")
    val batchPred = Similarity.classifyCentroids(emb, "embedding", model)
      .select("vec_id", "pred_label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = emb.select("vec_id", "embedding").limit(20)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = Similarity.classifyCentroids(
        input.toDF().toDF("vec_id", "embedding"), "embedding", model)
      .select("vec_id", "pred_label")
      .writeStream.format("memory").queryName("ncm_preds").outputMode("append").start()
    try {
      input.addData(rows.take(10).toSeq: _*)
      q.processAllAvailable()
      input.addData(rows.drop(10).toSeq: _*) // second batch: no state carried
      q.processAllAvailable()
      val streamed = spark.table("ncm_preds").as[(Long, Int)].collect().toMap
      assert(streamed == rows.map(r => r._1 -> batchPred(r._1)).toMap)
      assert(q.recentProgress.forall(_.stateOperators.isEmpty),
        "frozen classification must be stateless")
    } finally q.stop()
  }

  test("centroidClassify rejects mixed-dimension input loudly") {
    import spark.implicits._
    val bad = Seq((1L, Array(1f, 2f), 0), (2L, Array(1f, 2f, 3f), 1))
      .toDF("vec_id", "embedding", "label")
    intercept[IllegalArgumentException](
      Similarity.centroidClassify(bad, "vec_id", "embedding", "label"))
  }

  test("classifyCentroids label-sorts a hand-built model: exact ties predict the smaller label in any centroid order") {
    import spark.implicits._
    // identical centroids under labels (5, 2), deliberately UNSORTED:
    // the kernel's first-wins tie rule equals the documented
    // smaller-label rule only because classifyCentroids sorts the
    // literals — raw array order would predict 5 here
    val model = Similarity.CentroidModel(2,
      Seq(5 -> Array(1.0, 0.0), 2 -> Array(1.0, 0.0)))
    val got = Similarity.classifyCentroids(
        Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding"),
        "embedding", model)
      .select("pred_label").collect().head.getInt(0)
    assert(got == 2, s"tie must go to the smaller label, got $got")
  }

  test("classifyCentroids: NULL vector predicts NULL; non-finite or NULL components raise") {
    import spark.implicits._
    val model = Similarity.trainCentroids(
      Seq((Array(1f, 0f), 0), (Array(0f, 1f), 7)).toDF("embedding", "label"),
      "embedding", "label")
    // whole-vector NULL propagates to a NULL prediction (the when-chain's
    // isNull branch; the kernel's null-propagation)
    val nullVec = Seq((1L, Option.empty[Array[Float]])).toDF("vec_id", "embedding")
    assert(Similarity.classifyCentroids(nullVec, "embedding", model)
      .select("pred_label").head.isNullAt(0))
    // a NaN/Inf/null COMPONENT must raise, not silently quantize to 0 and
    // classify the corrupt embedding as whichever label sorts first (the
    // replaced literal formulation threw out of its ANSI long cast)
    for (bad <- Seq(Array(Float.NaN, 0f), Array(Float.PositiveInfinity, 0f))) {
      val e = intercept[Exception](
        Similarity.classifyCentroids(Seq((1L, bad)).toDF("vec_id", "embedding"),
          "embedding", model).collect())
      assert(exceptionChain(e).exists(_.getMessage != null) &&
        exceptionChain(e).exists(m => m.getMessage != null &&
          m.getMessage.contains("non-finite")), s"got: ${e.getMessage}")
    }
    val nullComp = Seq((1L, Seq(Option.empty[Float], Some(0f))))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val e = intercept[Exception](
      Similarity.classifyCentroids(nullComp, "embedding", model).collect())
    assert(exceptionChain(e).exists(m => m.getMessage != null &&
      m.getMessage.contains("NULL vector component")), s"got: ${e.getMessage}")
  }

  private def exceptionChain(e: Throwable): List[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toList

  test("trainCentroids accepts int-valued LONG labels losslessly; overflow and fractional types raise") {
    import spark.implicits._
    // derived labels like `user_id % k` are naturally LONG — accepted with a
    // lossless int cast, bit-identical to training on the INT column
    val longLab = Seq((Array(1f, 2f), 0L), (Array(3f, 4f), 1L), (Array(5f, 6f), 0L))
      .toDF("embedding", "label")
    val intLab = longLab.withColumn("label", col("label").cast("int"))
    val a = Similarity.trainCentroids(longLab, "embedding", "label")
    val b = Similarity.trainCentroids(intLab, "embedding", "label")
    assert(a.dim == b.dim &&
      a.centroids.map { case (l, c) => (l, c.toSeq) } ==
        b.centroids.map { case (l, c) => (l, c.toSeq) })
    // a label past Int.MaxValue would wrap under a silent cast and merge
    // unrelated classes — must raise per row instead
    val over = Seq((Array(1f, 2f), Int.MaxValue.toLong + 1L)).toDF("embedding", "label")
    val e = intercept[Exception](Similarity.trainCentroids(over, "embedding", "label"))
    assert(e.getMessage != null && e.getMessage.contains("overflows INT"),
      s"got: ${e.getMessage}")
    // fractional/string labels are not integral classes — reject up front
    intercept[IllegalArgumentException](Similarity.trainCentroids(
      Seq((Array(1f, 2f), 0.5)).toDF("embedding", "label"), "embedding", "label"))
  }

  test("k-means and PQ trainers raise on mixed vector dimensions, naming the row") {
    import spark.implicits._
    // the Lloyd partial-sum kernels stride their accumulators by the FIRST
    // dimension seen; without the per-row check a longer vector silently
    // trains on a prefix (PQ) or adds into wrong [cluster][dim] slots
    // (IVF) — corrupt centroids, not an error
    val mixed = Seq((1L, Array(1f, 2f, 3f, 4f)), (2L, Array(5f, 6f, 7f, 8f)),
      (3L, Array(9f, 1f))).toDF("vec_id", "embedding")
    val e1 = intercept[Exception](
      Similarity.ivfTopK(mixed, "vec_id", "embedding", k = 2, nClusters = 2).collect())
    assert(exceptionChain(e1).exists(m => m.getMessage != null &&
      m.getMessage.contains("dimension")), s"got: ${e1.getMessage}")
    val e2 = intercept[Exception](
      Similarity.pqTrain(mixed, "vec_id", "embedding", m = 2, ksub = 2))
    assert(exceptionChain(e2).exists(m => m.getMessage != null &&
      m.getMessage.contains("dimension")), s"got: ${e2.getMessage}")
    graft.Caching.release(spark)
  }

  test("sampling/sessionize guards: NULL ids, NULL timestamps, corrupt masses raise by name") {
    import spark.implicits._
    import graft.ext.{Sampling, Sessionize}
    // a NULL id would hash to one constant bucket — same split for every
    // null-id row, silently
    val nullId = Seq((Some(1L), "a"), (None, "b")).toDF("doc_id", "text")
    val e1 = intercept[Exception](Sampling.hashSplit(nullId, "doc_id", "s",
      Seq("train" -> 1.0)).collect())
    assert(exceptionChain(e1).exists(m => m.getMessage != null &&
      m.getMessage.contains("NULL id")), s"got: ${e1.getMessage}")
    // NaN / fractional masses truncated silently under the old long cast
    val nanMass = Seq((1L, "a", 5.0), (2L, "a", Double.NaN)).toDF("doc_id", "src", "m")
    val e2 = intercept[Exception](Sampling.temperatureSample(nanMass, "doc_id", "src",
      col("m"), alpha = 0.5, targetFrac = 0.5, seed = "s").collect())
    assert(exceptionChain(e2).exists(m => m.getMessage != null &&
      m.getMessage.contains("non-integral mass")), s"got: ${e2.getMessage}")
    // a payload column named like the temp column must not silently vanish
    val e3 = intercept[IllegalArgumentException](Sampling.temperatureResample(
      Seq((1L, "a", 5L)).toDF("doc_id", "src", "m").withColumn("__graft_epochs", lit(1)),
      "doc_id", "src", col("m"), alpha = 0.5, targetFrac = 1.0, seed = "s"))
    assert(e3.getMessage.contains("__graft_epochs"), e3.getMessage)
    // a NULL timestamp would silently start its own singleton session
    val nullTs = Seq((1L, Some(1000L), 1L), (1L, None, 2L)).toDF("user_id", "ms", "event_id")
      .withColumn("ts", timestamp_millis(col("ms")))
    val e4 = intercept[Exception](Sessionize.assign(nullTs, Seq("user_id"), "ts",
      gapMs = 100L, tieBreakCols = Seq("event_id")).collect())
    assert(exceptionChain(e4).exists(m => m.getMessage != null &&
      m.getMessage.contains("NULL ts")), s"got: ${e4.getMessage}")
    // pmod(hash, 0) is NULL: the salt misconfiguration must raise
    val e5 = intercept[IllegalArgumentException](graft.ops.Salt.saltCol(col("x"), 0))
    assert(e5.getMessage.contains("buckets"), e5.getMessage)
  }

  test("shuffleOrder composite keys spread resample replicas; single-col form unchanged") {
    import spark.implicits._
    import graft.ext.Sampling
    val docs = (1L to 20L).map(i => (i, "src", 10L)).toDF("doc_id", "src", "m")
    // targetFrac 3.0 over one source → 3 epochs per doc
    val rep = Sampling.temperatureResample(docs, "doc_id", "src", col("m"),
      alpha = 1.0, targetFrac = 3.0, seed = "s")
    val ordered = Sampling.shuffleOrder(rep, Seq("epoch", "doc_id"), "s", nBuckets = 8)
    val byDoc = ordered.select("doc_id", "epoch", "shuffle_pos")
      .collect().groupBy(_.getLong(0))
    // replicas of one doc must NOT sit at consecutive positions for every
    // doc (the single-col hash gave all replicas one bucket + tied ranks)
    val consecutive = byDoc.values.count { rows =>
      val ps = rows.map(_.getLong(2)).sorted
      ps.zip(ps.tail).forall { case (a, b) => b == a + 1 }
    }
    assert(consecutive < byDoc.size,
      s"all $consecutive/${byDoc.size} docs have consecutive replicas — no interleave")
    // positions are distinct and deterministic across reruns
    val all = ordered.select("shuffle_pos").collect().map(_.getLong(0)).toSeq
    assert(all.distinct.size == all.size, "positions must be unique")
    val again = Sampling.shuffleOrder(rep, Seq("epoch", "doc_id"), "s", nBuckets = 8)
      .select("doc_id", "epoch", "shuffle_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val first = ordered.select("doc_id", "epoch", "shuffle_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == first, "composite shuffle must be rerun-identical")
    // the single-column form routes through the same hash as before: equal
    // to the Seq(one) form by construction
    val a = Sampling.shuffleOrder(docs, "doc_id", "s", nBuckets = 8)
      .select("doc_id", "shuffle_pos").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Sampling.shuffleOrder(docs, Seq("doc_id"), "s", nBuckets = 8)
      .select("doc_id", "shuffle_pos").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("similarity kernels reject corrupt inputs: dim mismatch, NULLs, foreign PQ models") {
    import spark.implicits._
    val two = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
    // mismatched dimensions raise — the old math.min truncation summed a
    // short corrupt vector's prefix and returned a plausible wrong score
    val e1 = intercept[Exception](two.select(
      call_function("graft_dot", col("a"), col("b"))).collect())
    assert(exceptionChain(e1).exists(m => m.getMessage != null &&
      m.getMessage.contains("dimensions differ")), s"got: ${e1.getMessage}")
    // NULL components raise (getFloat silently reads a null slot as 0.0)
    val withNull = Seq(Tuple1(Seq(Some(1f), None, Some(3f)))).toDF("v")
    val e2 = intercept[Exception](withNull.select(
      call_function("graft_dot", col("v"), col("v"))).collect())
    assert(exceptionChain(e2).exists(m => m.getMessage != null &&
      m.getMessage.contains("NULL vector component")), s"got: ${e2.getMessage}")
    val e3 = intercept[Exception](withNull.select(
      call_function("graft_srp_sig", col("v"), lit(16))).collect())
    assert(exceptionChain(e3).exists(m => m.getMessage != null &&
      m.getMessage.contains("NULL vector component")), s"got: ${e3.getMessage}")
    // graft_pq_adc: a lut/codes pair from different models would read
    // out-of-bounds unsafe memory (garbage scores) — raise on a ragged
    // layout, an out-of-codebook code, and empty codes
    val lut8 = array((0 until 8).map(i => lit(i.toDouble)): _*) // rectangle over 2 codes: ksub=4
    val one = spark.range(1)
    val ragged = intercept[Exception](one.select(call_function("graft_pq_adc",
      array((0 until 7).map(i => lit(i.toDouble)): _*), lit(Array[Byte](0, 1)))).collect())
    assert(exceptionChain(ragged).exists(m => m.getMessage != null &&
      m.getMessage.contains("not a rectangle")), s"got: ${ragged.getMessage}")
    val oob = intercept[Exception](one.select(call_function("graft_pq_adc",
      lut8, lit(Array[Byte](0, 5)))).collect())
    assert(exceptionChain(oob).exists(m => m.getMessage != null &&
      m.getMessage.contains("exceeds ksub")), s"got: ${oob.getMessage}")
    val emptyC = intercept[Exception](one.select(call_function("graft_pq_adc",
      lut8, lit(Array.empty[Byte]))).collect())
    assert(exceptionChain(emptyC).exists(m => m.getMessage != null &&
      m.getMessage.contains("not a rectangle")), s"got: ${emptyC.getMessage}")
    // valid shape still scores: lut[0*4+0] + lut[1*4+3] = 0 + 7
    assert(one.select(call_function("graft_pq_adc", lut8, lit(Array[Byte](0, 3))))
      .head.getDouble(0) == 7.0)
    // a foldable NULL literal parameter produces the analysis message, not
    // an NPE out of the analyzer; non-positive k is rejected up front
    val doc = Seq(Tuple1("hello world")).toDF("text")
    val a1 = intercept[org.apache.spark.sql.AnalysisException](doc.select(
      call_function("graft_simhash", col("text"), lit(null).cast("int"))).collect())
    assert(a1.getMessage.contains("literal int bits"), a1.getMessage)
    val a2 = intercept[org.apache.spark.sql.AnalysisException](
      Seq(1L).toDF("h").agg(call_function("graft_kmv", col("h"), lit(0))).collect())
    assert(a2.getMessage.contains("literal int k > 0"), a2.getMessage)
  }

  test("winnowing deque equals the naive sliding-window minima (order and distinct)") {
    import graft.functions.{Hashing, TextHash}
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(41)
    for (_ <- 0 until 120) {
      val n = 1 + rnd.nextInt(60)
      val k = 1 + rnd.nextInt(4)
      val w = 1 + rnd.nextInt(8)
      // tiny vocab so window minima repeat and the distinct pass matters
      val toks = Seq.fill(n)("w" + rnd.nextInt(6))
      val text = toks.mkString(" ")
      val got = TextHash.fingerprints(UTF8String.fromString(text), k, w)
        .toLongArray().toSeq
      val want: Seq[Long] =
        if (toks.length < k) Seq.empty
        else {
          val hs = toks.sliding(k).map(g => Hashing.md5Hash60(g.mkString(" "))).toArray
          if (hs.length <= w) Seq(hs.min) else hs.sliding(w).map(_.min).toSeq.distinct
        }
      assert(got == want, s"n=$n k=$k w=$w toks=$toks")
    }
  }

  test("ANN entry points reject non-integral ids, dim-mismatched queries, and NULL labels by name") {
    import spark.implicits._
    // a string id silently casts to NULL under non-ANSI SQL and every
    // candidate filter then drops every row — the whole IVF/PQ family
    // guards like cosineLshIncrement now
    val strIds = Seq(("doc-1", Array(1f, 2f)), ("doc-2", Array(3f, 4f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException](
      Similarity.ivfTopK(strIds, "vec_id", "embedding", k = 1))
    assert(e1.getMessage.contains("integral ids"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Similarity.pqTrain(strIds, "vec_id", "embedding", m = 2, ksub = 2))
    assert(e2.getMessage.contains("integral ids"), e2.getMessage)
    // pqTrain on an all-zero-norm corpus raises the named empty-set error,
    // not head()'s bare NoSuchElementException
    val zeros = Seq((1L, Array(0f, 0f))).toDF("vec_id", "embedding")
    val e3 = intercept[IllegalArgumentException](
      Similarity.pqTrain(zeros, "vec_id", "embedding", m = 2, ksub = 2))
    assert(e3.getMessage.contains("non-empty training set"), e3.getMessage)
    // a dim-mismatched QUERY raises per row instead of building the ADC
    // lookup table from its prefix (plausible wrong shortlist)
    val corpus = (1L to 8L).map(i => (i, Array(i.toFloat, 1f, 2f, 3f)))
      .toDF("vec_id", "embedding")
    val wideQ = Seq((100L, Array(1f, 2f, 3f, 4f, 5f, 6f))).toDF("vec_id", "embedding")
    val e4 = intercept[Exception](Similarity.pqTopK(corpus, wideQ, "vec_id", "embedding",
      k = 2, m = 2, ksub = 2, overfetch = 4).collect())
    assert(exceptionChain(e4).exists(m => m.getMessage != null &&
      m.getMessage.contains("expected model dim")), s"got: ${e4.getMessage}")
    graft.Caching.release(spark)
    // a NULL label raises by name, not 'Value at index 0 in null'
    val nullLab = Seq((Array(1f, 2f), Some(0)), (Array(3f, 4f), None))
      .toDF("embedding", "label")
    val e5 = intercept[IllegalArgumentException](
      Similarity.trainCentroids(nullLab, "embedding", "label"))
    assert(e5.getMessage.contains("NULL label labels"), e5.getMessage)
  }

  test("trainCodebook raises a named error on an empty training set, not an index crash") {
    import spark.implicits._
    // an empty corpus (or one the zero-norm filter empties) used to reach
    // the stride computation and die with a bare ArrayIndexOutOfBounds
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Similarity.ivfTopK(empty, "vec_id", "embedding", k = 2, nClusters = 2).collect())
    assert(exceptionChain(e).exists(m => m.getMessage != null &&
      m.getMessage.contains("non-empty training set")), s"got: ${e.getMessage}")
    graft.Caching.release(spark)
  }

  test("graft_ncm_argmax rejects ragged and empty centroid models instead of misclassifying") {
    import spark.implicits._
    val df = Seq(Tuple1(Array(1f, 2f))).toDF("v")
    // 5 doubles over 2 labels is not a labels×dim rectangle: floor
    // division would shift every label's offset and silently flip
    // predictions — must raise naming the shape
    val ragged = intercept[Exception](df.select(call_function("graft_ncm_argmax",
      col("v"), array(lit(0), lit(1)),
      array(Seq(1d, 2d, 3d, 4d, 5d).map(lit(_)): _*))).collect())
    assert(exceptionChain(ragged).exists(m => m.getMessage != null &&
      m.getMessage.contains("not a rectangle")), s"got: ${ragged.getMessage}")
    // zero labels used to die with a bare '/ by zero'
    val emptyM = intercept[Exception](df.select(call_function("graft_ncm_argmax",
      col("v"), array().cast("array<int>"),
      array().cast("array<double>"))).collect())
    assert(exceptionChain(emptyM).exists(m => m.getMessage != null &&
      m.getMessage.contains("not a rectangle")), s"got: ${emptyM.getMessage}")
  }

  test("frozenCentroids fuzz: every malformed committed-fixture shape raises naming the defect (round-17 sweep)") {
    // the clean fixture parses bit-exact
    val ok = Similarity.frozenCentroids("/graft/ivf_fuzz/ok.tsv")
    assert(ok.length == 2 && ok(0).toSeq == Seq(0.5, 1.5) && ok(1).toSeq == Seq(2.5, 3.5))
    // each mutation raises with an actionable message — the loader stands
    // between a corrupt committed artifact and a silently wrong index
    val expect = Seq(
      "gap_ids" -> "0..k-1",          // id 2 where 1 expected
      "out_of_order" -> "0..k-1",     // ids reversed
      "ragged" -> "ragged",           // dim mismatch
      "nan" -> "non-finite",
      "inf" -> "non-finite",
      "no_tab" -> "malformed line",
      "bad_id" -> "unparseable number",
      "bad_component" -> "unparseable number",
      "double_space" -> "unparseable number", // "" between the spaces
      "blank" -> "is empty",
      "empty_components" -> "malformed line", // ".trim" eats the trailing tab
      "missing" -> "not found")
    for ((name, needle) <- expect) {
      val e = intercept[Exception](
        Similarity.frozenCentroids(s"/graft/ivf_fuzz/$name.tsv"))
      assert(e.getMessage != null && e.getMessage.contains(needle),
        s"$name.tsv: expected '$needle' in: ${e.getMessage}")
    }
  }
}
