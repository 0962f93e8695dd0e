package graft

import org.apache.spark.sql.functions._

import graft.ext.{CurationPipeline, Decontaminate, Dedup, Sampling, Sharding}
import graft.functions.Hashing
import graft.sources.Tables

/** Corpus-curation operators: decontamination and deterministic sampling. */
class CurationSpec extends SparkSpec {

  private def docs = Tables.load(spark, sf(), "documents")

  import scala.jdk.CollectionConverters._

  private def df(rows: (Long, String)*) =
    spark.createDataFrame(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))

  test("gramHash column equals Hashing.md5Hash60 on real text") {
    val rows = docs.limit(50)
      .select(col("text"), Decontaminate.gramHash(col("text")).as("h"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) == Hashing.md5Hash60(r.getString(0)), r.getString(0)))
  }

  test("ngramOverlap flags exactly the planted 13-gram leaks with the shared count") {
    val leak = (1 to 13).map(i => s"w$i").mkString(" ") // one 13-gram
    val train = df(
      1L -> s"$leak tail tokens here", // shares grams with eval doc 10
      2L -> (1 to 20).map(i => s"clean$i").mkString(" "), // disjoint
      3L -> "short doc") // < 13 tokens: no grams
    val eval_ = df(10L -> s"prefix $leak")
    val out = Decontaminate.ngramOverlap(train, eval_, "doc_id", "text", n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1 and doc 10 share exactly the one leaked 13-gram
    assert(out == Set((1L, 10L, 1L)), s"got $out")

    val clean = Decontaminate.cleanTrainSet(train, "doc_id",
        Decontaminate.ngramOverlap(train, eval_, "doc_id", "text", n = 13))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 3L))
  }

  test("ngramOverlap df cap drops boilerplate grams symmetrically") {
    val boiler = (1 to 13).map(i => s"b$i").mkString(" ")
    // boilerplate gram in every doc on both sides; one real leak besides
    val real = (1 to 13).map(i => s"r$i").mkString(" ")
    // pad between boiler and real on the eval side so the grams spanning
    // the boundary differ between docs 3 and 11 — only the boilerplate
    // gram and the real-leak gram are shared
    val train = df(1L -> s"$boiler", 2L -> s"$boiler", 3L -> s"$boiler $real")
    val eval_ = df(10L -> s"$boiler", 11L -> s"$boiler pad $real")
    val uncapped = Decontaminate.ngramOverlap(train, eval_, "doc_id", "text", n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 6, s"3 train x 2 eval via boilerplate: $uncapped")
    val capped = Decontaminate.ngramOverlap(train, eval_, "doc_id", "text", n = 13,
        maxGramDf = Some(4L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the df-5 boilerplate gram is dropped everywhere; the boundary-spanning
    // grams differ between docs 3 and 11, so exactly the real-leak gram
    // remains shared
    assert(capped == Set((3L, 11L, 1L)), s"got $capped")
  }

  test("hashSplit is a deterministic total assignment consistent with bucket bounds") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.hashSplit(docs, "doc_id", "graft", splits)
      .select("doc_id", "bucket", "split").collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      val (b, s) = (r.getLong(1), r.getString(2))
      assert(b >= 0 && b < Sampling.Buckets)
      val expected = if (b < 8000) "train" else if (b < 9000) "val" else "test"
      assert(s == expected, s"bucket $b -> $s")
    }
    // rerun is bit-identical (pure function of seed+id)
    val again = Sampling.hashSplit(docs, "doc_id", "graft", splits)
      .select("doc_id", "bucket", "split").collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // a different seed reassigns (at least one of 500 docs moves)
    val reseeded = Sampling.hashSplit(docs, "doc_id", "other", splits)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = out.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(first != reseeded)
    // per-fraction bounds, not just the sum: (1.1, -0.1) sums to 1 but
    // would leave 'test' silently empty
    val e = intercept[IllegalArgumentException] {
      Sampling.hashSplit(docs, "doc_id", "graft", Seq("train" -> 1.1, "test" -> -0.1))
    }
    assert(e.getMessage.contains("[0, 1]"), e.getMessage)
  }

  test("sampleByHash is nested: smaller fractions are subsets of larger ones") {
    val s30 = Sampling.sampleByHash(docs, "doc_id", 0.3, "s").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val s60 = Sampling.sampleByHash(docs, "doc_id", 0.6, "s").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s30.nonEmpty && s30.size < s60.size)
    assert(s30.subsetOf(s60))
    // deterministic fraction lands near the target (binomial, 500 docs)
    val n = docs.count().toDouble
    assert(math.abs(s60.size / n - 0.6) < 0.15, s"${s60.size} of $n")
  }

  test("capPerGroup keeps at most k per group, deterministically, nested in k") {
    val grouped = docs.withColumn("domain", col("doc_id") % 5)
    val c10 = Sampling.capPerGroup(grouped, "doc_id", "domain", 10, "s")
      .select("doc_id", "domain").collect().map(r => (r.getLong(0), r.getLong(1)))
    c10.groupBy(_._2).foreach { case (d, rows) => assert(rows.length <= 10, s"domain $d") }
    // groups smaller than k keep everything
    val sizes = grouped.groupBy("domain").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    c10.groupBy(_._2).foreach { case (d, rows) =>
      assert(rows.length == math.min(10L, sizes(d)), s"domain $d")
    }
    // deterministic and nested: the k=5 selection is a subset of k=10's
    val c5 = Sampling.capPerGroup(grouped, "doc_id", "domain", 5, "s")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(c5.subsetOf(c10.map(_._1).toSet))
    // duplicate-id rows count as ONE identity toward the cap: without the
    // aggregate's equal-pair collapse a duplicated id occupied two of the
    // k slots and silently displaced a distinct survivor
    val withDups = grouped.union(grouped) // every id twice
    val d5 = Sampling.capPerGroup(withDups, "doc_id", "domain", 5, "s")
      .select("doc_id").collect().map(_.getLong(0))
    assert(d5.toSet == c5, "duplicated ids changed the surviving identity set")
    assert(d5.length == c5.size * 2, "every row of a surviving id passes the semi join")
  }

  test("stratifiedSampleByHash keeps per-stratum fractions and drops unlisted strata") {
    val strat = docs.withColumn("stratum",
      when(col("doc_id") % 2 === 0, "even").otherwise("odd"))
    val out = Sampling.stratifiedSampleByHash(strat, "doc_id", "stratum",
        Map("even" -> 1.0), "s")
      .select("doc_id").collect().map(_.getLong(0))
    assert(out.nonEmpty)
    assert(out.forall(_ % 2 == 0), "odd stratum must be dropped (frac 0)")
    assert(out.length == strat.filter(col("stratum") === "even").count())
  }

  test("packByTokens implements two-level offset packing exactly") {
    val out = Sharding.packByTokens(docs, "doc_id", "text",
        tokensPerShard = 500L, nBuckets = 4, seed = "s")
      .select("doc_id", "n_tokens", "bucket", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == docs.count())
    // recompute the packing sequentially per bucket and compare shard ids
    out.groupBy(_._3).foreach { case (bucket, ds) =>
      var cum = 0L
      ds.sortBy(_._1).foreach { case (id, n, _, shard) =>
        val expected = bucket * Sharding.ShardsPerBucket + cum / 500L
        assert(shard == expected, s"doc $id in bucket $bucket: $shard != $expected")
        cum += n
      }
    }
    // every shard's doc start-offsets stay inside one 500-token span: total
    // tokens minus the straddling tail never exceeds the budget
    out.groupBy(_._4).foreach { case (shard, ds) =>
      val tokens = ds.map(_._2).sum
      val maxDoc = ds.map(_._2).max
      assert(tokens - maxDoc < 500L, s"shard $shard packed $tokens tokens")
    }
  }

  test("packing is deterministic under duplicate ids; chunkByTokens guards reserved names") {
    import spark.implicits._
    // two rows share id 1 with DIFFERENT token counts: an id-only window
    // sort gives them arbitrary relative order per run, moving the shard
    // boundary between runs — the (n_tokens, text-hash) tiebreak pins it
    val dup = Seq(
      (1L, Array.fill(100)("w").mkString(" ")),
      (1L, Array.fill(400)("w").mkString(" ")),
      (2L, Array.fill(300)("w").mkString(" "))).toDF("doc_id", "text")
    def run() = Sharding.packByTokens(dup, "doc_id", "text",
        tokensPerShard = 450L, nBuckets = 1, seed = "s")
      .select("n_tokens", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val first = run()
    (1 to 3).foreach(_ => assert(run() == first, "rerun moved a doc"))
    // deterministic law: within the bucket the order is id, then count —
    // (1,100) offset 0 → shard 0; (1,400) offset 100 → shard 0;
    // (2,300) offset 500 → shard 1 (rows here sorted by n_tokens)
    assert(first == Seq((100L, 0L), (300L, 1L), (400L, 0L)), first.toString)
    val seq1 = Sharding.packSequences(dup, "doc_id", "text", seqLen = 450L,
      nBuckets = 1, seed = "s").select("n_tokens", "seq", "tok_start", "tok_end")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    (1 to 2).foreach(_ => assert(Sharding.packSequences(dup, "doc_id", "text", 450L, 1, "s")
      .select("n_tokens", "seq", "tok_start", "tok_end")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet == seq1))
    // chunkByTokens: an idCol named like an intermediate was silently
    // REPLACED by the token count (every chunk then carried the count as
    // its id) — reserved names fail loudly now
    for (bad <- Seq("__n", "__t", "chunk_id", "chunk_text")) {
      val e = intercept[IllegalArgumentException](
        Sharding.chunkByTokens(dup.withColumnRenamed("doc_id", bad), bad, "text", 10, 5))
      assert(e.getMessage.contains(bad), e.getMessage)
    }
  }

  test("chunkByTokenIds windows exact token ids with the chunkByTokens placement contract") {
    import spark.implicits._
    val rows = Seq(
      (1L, (1 to 40).toArray),           // 40 tokens: starts 0, 16 kept; 32 dropped (32+16 !< 40)
      (2L, (1 to 10).toArray),           // shorter than the window: one chunk
      (3L, Array.empty[Int]),            // zero tokens: no rows
      (4L, null.asInstanceOf[Array[Int]])) // NULL ids ≡ empty
      .toDF("doc_id", "ids")
    val out = Sharding.chunkByTokenIds(rows, "doc_id", "ids", window = 32, stride = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 32L, (1 to 32).mkString(",")),
      (1L, 1L, 16L, 24L, (17 to 40).mkString(",")),
      (2L, 0L, 0L, 10L, (1 to 10).mkString(","))), out.toString)
    // reserved-name stance (the chunkByTokens rule)
    for (bad <- Seq("__n", "__t", "chunk_id", "chunk_ids")) {
      val e = intercept[IllegalArgumentException](
        Sharding.chunkByTokenIds(rows.withColumnRenamed("doc_id", bad), bad, "ids", 10, 5))
      assert(e.getMessage.contains(bad), e.getMessage)
    }
    // knob guards
    intercept[IllegalArgumentException](Sharding.chunkByTokenIds(rows, "doc_id", "ids", 0, 1))
    intercept[IllegalArgumentException](Sharding.chunkByTokenIds(rows, "doc_id", "ids", 8, 9))
  }

  test("chunkByTokenIds adversarial shapes: window > doc, window = doc, stride = window, NULL element raises") {
    import spark.implicits._
    // window far beyond the longest doc: exactly one full-coverage chunk
    val shorts = Seq((1L, Array(7, 8, 9)), (2L, Array(5)))
      .toDF("doc_id", "ids")
    val wide = Sharding.chunkByTokenIds(shorts, "doc_id", "ids", window = 1000, stride = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(wide == Seq((1L, 0L, 0L, 3L, "7,8,9"), (2L, 0L, 0L, 1L, "5")), wide.toString)
    // stride = window (no overlap): exact tiling, remainder tail kept
    // (start 4 covers the final token: 4 + (4-4) < 5)
    val tiled = Sharding.chunkByTokenIds(Seq((3L, (1 to 5).toArray)).toDF("doc_id", "ids"),
        "doc_id", "ids", window = 4, stride = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(tiled == Seq((0L, 0L, 4L, "1,2,3,4"), (1L, 4L, 1L, "5")), tiled.toString)
    // window = doc length exactly: one chunk, no empty tail chunk
    val exact = Sharding.chunkByTokenIds(Seq((4L, (1 to 16).toArray)).toDF("doc_id", "ids"),
        "doc_id", "ids", window = 16, stride = 8)
      .collect().map(r => (r.getLong(2), r.getString(4))).toSeq
    assert(exact == Seq((0L, (1 to 16).mkString(","))), exact.toString)
    // a NULL ELEMENT (corrupt tokenizer output) raises naming the doc —
    // concat_ws would otherwise silently shrink chunk_ids while
    // n_chunk_tokens still counted the slot (round-16 sweep)
    val nullElem = Seq((9L, Array[java.lang.Integer](1, null, 3)))
      .toDF("doc_id", "ids")
    val e = intercept[Exception](
      Sharding.chunkByTokenIds(nullElem, "doc_id", "ids", 2, 1).collect())
    assert(e.getMessage.contains("NULL token id") && e.getMessage.contains("9"),
      e.getMessage)
  }

  test("packByTokens accepts a precomputed token-count column (BPE budgets)") {
    // pretend a tokenizer pass materialized real model-token counts: 3x the
    // whitespace count — shard budgets must follow the provided column
    val withBpe = docs.withColumn("bpe_tokens",
      size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long") * 3)
    val out = Sharding.packByTokens(withBpe, "doc_id", "text",
        tokensPerShard = 1500L, nBuckets = 4, seed = "s",
        tokenCountCol = Some("bpe_tokens"))
      .select("doc_id", "n_tokens", "bucket", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bpe = withBpe.select("doc_id", "bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, n, _, _) => assert(n == bpe(id), s"doc $id") }
    // identical packing law as the default path, over the plugged counts
    out.groupBy(_._3).foreach { case (bucket, ds) =>
      var cum = 0L
      ds.sortBy(_._1).foreach { case (id, n, _, shard) =>
        assert(shard == bucket * Sharding.ShardsPerBucket + cum / 1500L, s"doc $id")
        cum += n
      }
    }
    // a missing column is rejected up front
    val e = intercept[IllegalArgumentException] {
      Sharding.packByTokens(docs, "doc_id", "text", 1500L, 4, "s", Some("nope"))
    }
    assert(e.getMessage.contains("token count column"))
    // null or negative counts fail loudly instead of silently corrupting
    // every later doc's running offset in the bucket
    val bad = docs.withColumn("bpe_tokens",
      when(col("doc_id") === 7, lit(null).cast("long")).otherwise(lit(5L)))
    val err = intercept[Exception] {
      Sharding.packByTokens(bad, "doc_id", "text", 1500L, 4, "s", Some("bpe_tokens"))
        .collect()
    }
    assert(err.getMessage.contains("packByTokens"), err.getMessage)
    // NaN / infinite / fractional floating-point counts corrupt the same
    // way (NaN would cast to 0, 3.7 silently truncates) — rejected per
    // row; whole-valued doubles pass losslessly
    for (v <- Seq(Double.NaN, Double.PositiveInfinity, 3.7)) {
      val badD = docs.withColumn("bpe_tokens",
        when(col("doc_id") === 7, lit(v)).otherwise(lit(5.0)))
      val e2 = intercept[Exception] {
        Sharding.packByTokens(badD, "doc_id", "text", 1500L, 4, "s",
          Some("bpe_tokens")).collect()
      }
      assert(e2.getMessage.contains("packByTokens"), s"$v: ${e2.getMessage}")
    }
    val whole = Sharding.packByTokens(docs.withColumn("bpe_tokens", lit(5.0)),
        "doc_id", "text", 1500L, 4, "s", Some("bpe_tokens"))
      .select("n_tokens").distinct().collect().map(_.getLong(0)).toSeq
    assert(whole == Seq(5L))
    // a token-count column NAMED after packing bookkeeping would be
    // overwritten mid-plan — rejected up front (only 'n_tokens' itself
    // may double as the input)
    intercept[IllegalArgumentException] {
      Sharding.packByTokens(docs.withColumn("shard", lit(5L)),
        "doc_id", "text", 1500L, 4, "s", Some("shard"))
    }
  }

  test("streaming decontamination: stream-static gram join is stateless and append-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val leak = (1 to 13).map(i => s"w$i").mkString(" ")
    val holdout = df(10L -> s"prefix $leak")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = Decontaminate.ngramOverlapStream(
        input.toDF().toDF("doc_id", "text"), holdout, "doc_id", "text")
      .writeStream.format("memory").queryName("leaks").outputMode("append").start()
    try {
      input.addData(1L -> s"$leak and tail", 2L -> "totally clean document text here")
      q.processAllAvailable()
      input.addData(3L -> s"also has $leak inside") // second batch, no state carried
      q.processAllAvailable()
      val rows = spark.table("leaks").select("train_id", "eval_id")
        .as[(Long, Long)].collect().toSet
      assert(rows == Set((1L, 10L), (3L, 10L)), s"got $rows")
      // stateless: the stream-static join reports no state operator rows
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("curation pipeline end-to-end: survivors unique, leak-free, fully annotated") {
    val holdout = docs.filter(col("doc_id") % 10 === 7)
    val out = CurationPipeline.run(
        docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text", Some(holdout),
        CurationPipeline.Config(minTokens = 20L, langs = Set("en", "zh"),
          tokensPerShard = 2000L, shardBuckets = 8))
      .cache()
    assert(out.count() > 0)
    // stage 3: no two survivors share a text
    val texts = out.select("text").collect().map(_.getString(0))
    assert(texts.distinct.length == texts.length, "exact dups survived")
    // stage 5: no survivor shares a 13-gram with the holdout
    assert(Decontaminate.ngramOverlap(out, holdout, "doc_id", "text").count() == 0,
      "contaminated docs survived")
    // stages 6+7: every survivor is annotated and consistently bucketed
    out.select("split", "shard", "bucket", "n_tokens").collect().foreach { r =>
      assert(Set("train", "val", "test")(r.getString(0)))
      assert(r.getLong(1) / Sharding.ShardsPerBucket == r.getLong(2), r.toString)
      assert(r.getLong(3) >= 20L, "quality filter lower bound violated")
    }
    out.unpersist()
  }

  test("exact dedup keeps every row of a kept id: a shared id survives stage 3 twice") {
    val a = "that was the day we all went to the market for apples"
    val b = "but nobody could have known the storm was coming that night"
    // id 1 carries text a twice; id 2's copy of a loses to id 1; id 3
    // carries two different texts
    val d = df(1L -> a, 1L -> a, 2L -> a, 3L -> b, 3L -> s"$b so we stayed home")
    val cfg = CurationPipeline.Config(minTokens = 3L, maxTokens = 1000L,
      langs = Set("en"), tokensPerShard = 100L, shardBuckets = 2)
    val stages = CurationPipeline.stageOutputs(d, "doc_id", "text", None, cfg).toMap
    def ids(stage: String) =
      stages(stage).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val (exactIds, outIds) = (ids("exact_dedup"), ids("shards"))
    graft.Caching.release(spark)
    assert(exactIds == Seq(1L, 1L, 3L, 3L))
    assert(outIds == Seq(1L, 1L, 3L, 3L))
  }

  test("pipeline with decontamBloomBits keeps exactly the same survivors") {
    val holdout = docs.filter(col("doc_id") % 10 === 7)
    val train = docs.filter(col("doc_id") % 10 =!= 7)
    val cfg = CurationPipeline.Config(minTokens = 20L, langs = Set("en", "zh"),
      tokensPerShard = 2000L, shardBuckets = 8)
    val plain = CurationPipeline.run(train, "doc_id", "text", Some(holdout), cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    // adversarially tiny bloom: high FP rate, yet result-identical because
    // the exact join still runs behind it
    val bloomed = CurationPipeline.run(train, "doc_id", "text", Some(holdout),
        cfg.copy(decontamBloomBits = Some(1 << 10)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    assert(plain.nonEmpty && bloomed == plain)
  }

  test("curation pipeline collapseClusters keeps a subset: one survivor per near-dup component") {
    val cfgBase = CurationPipeline.Config(minTokens = 20L, langs = Set("en", "zh"),
      tokensPerShard = 2000L, shardBuckets = 8)
    val train = docs.filter(col("doc_id") % 10 =!= 7)
    val perPair = CurationPipeline.run(train, "doc_id", "text", None, cfgBase)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val collapsed = CurationPipeline.run(train, "doc_id", "text", None,
        cfgBase.copy(collapseClusters = true))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    assert(collapsed.nonEmpty && collapsed.subsetOf(perPair),
      s"collapse must only remove survivors: ${collapsed -- perPair}")
    // the collapsed set carries no near-dup pair at all
    val survivors = train.join(
      spark.createDataFrame(collapsed.toSeq.map(org.apache.spark.sql.Row(_)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType)))),
      Seq("doc_id"), "left_semi")
    val residual = graft.ext.Dedup.minHashLshDocs(survivors, "doc_id", "text", 0.5).count()
    graft.Caching.release(spark)
    assert(residual == 0L, s"$residual near-dup pairs survived the collapse")
  }

  test("writeTrainingShards lays out split=/shard= dirs with one file per shard") {
    val out = CurationPipeline.run(
      docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text", None,
      CurationPipeline.Config(minTokens = 20L, langs = Set("en", "zh"),
        tokensPerShard = 500L, shardBuckets = 4))
    val dir = java.nio.file.Files.createTempDirectory("graft_shards")
    try {
      graft.sinks.Sinks.writeTrainingShards(out, dir.toString)
      val shardDirs = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("shard=")).toSeq
      assert(shardDirs.nonEmpty)
      // exactly one data file per shard directory (no small-files explosion)
      shardDirs.foreach { sd =>
        val files = java.nio.file.Files.list(sd).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq
        assert(files.size == 1, s"$sd has ${files.size} part files")
        assert(sd.getParent.getFileName.toString.startsWith("split="), sd.toString)
      }
      // round-trip: the partition columns reconstruct and rows survive
      val back = spark.read.parquet(dir.toString)
      assert(back.count() == out.count())
      assert(back.select("doc_id", "shard", "split").except(
        out.select("doc_id", "shard", "split")).count() == 0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("narrow curation stages run unchanged on a stream with zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // quality metrics + langId + split are pure Column expressions, so the
    // same code path drives continuous ingest with no stateful operator
    val annotated = Sampling.hashSplit(
      graft.ext.TextAnalysis.withLangId(
        graft.ext.TextAnalysis.withQualityMetrics(
          input.toDF().toDF("doc_id", "text"), "text"), "text"),
      "doc_id", "graft", Seq("train" -> 0.9, "val" -> 0.1))
    val q = annotated.writeStream.format("memory").queryName("curation_stream")
      .outputMode("append").start()
    try {
      input.addData(1L -> "the quick brown fox jumps over the lazy dog",
        2L -> "el perro grande de la casa es un buen perro")
      q.processAllAvailable()
      val rows = spark.table("curation_stream")
        .select("doc_id", "lang_pred", "n_tokens", "split").collect()
      assert(rows.length == 2)
      assert(rows.forall(r => Set("train", "val")(r.getString(3))))
      assert(q.lastProgress.stateOperators.isEmpty, "narrow stages must add no state")
      // same inputs through the batch path give identical annotations
      val batch = Sampling.hashSplit(
        graft.ext.TextAnalysis.withLangId(
          graft.ext.TextAnalysis.withQualityMetrics(
            df(1L -> "the quick brown fox jumps over the lazy dog",
               2L -> "el perro grande de la casa es un buen perro"), "text"), "text"),
        "doc_id", "graft", Seq("train" -> 0.9, "val" -> 0.1))
        .select("doc_id", "lang_pred", "n_tokens", "split").collect()
      assert(rows.map(_.toString).sorted.sameElements(batch.map(_.toString).sorted))
    } finally q.stop()
  }

  test("gopherRules config gates stage 1 on the published verdict; off by default") {
    val keepable = (1 to 5).flatMap(_ => Seq("the", "and", "that", "have", "with",
      "quick", "brown", "foxes", "jumps", "barns")).mkString(" ")
    // passes the default thresholds (>= 10 tokens, en, low punct) but
    // fails Gopher rule 1 (< 50 words); vocabulary mostly disjoint from
    // doc 1 so the near-dup stage cannot pair them
    val twentyWords = (1 to 2).flatMap(_ => Seq("little", "green", "houses", "stand",
      "alone", "the", "nearby", "and", "quite", "still")).mkString(" ")
    val docs = df(1L -> keepable, 2L -> twentyWords)
    val cfg = CurationPipeline.Config(minTokens = 10L)
    def survivors(c: CurationPipeline.Config) = {
      val ids = CurationPipeline.run(docs, "doc_id", "text", None, c)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      graft.Caching.release(spark)
      ids
    }
    assert(survivors(cfg) === Set(1L, 2L), "default config keeps both")
    assert(survivors(cfg.copy(gopherRules = true)) === Set(1L),
      "gopher rules drop the 20-word doc")
  }

  test("gopher filter runs unchanged on a stream with zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val keepable = (1 to 5).flatMap(_ => Seq("the", "and", "that", "have", "with",
      "quick", "brown", "foxes", "jumps", "barns")).mkString(" ")
    val scored = graft.ext.TextAnalysis.withGopherMetrics(input.toDF().toDF("doc_id", "text"), "text")
    val q = scored.writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    try {
      input.addData(1L -> keepable, 2L -> "too short")
      q.processAllAvailable()
      val rows = spark.table("gopher_stream").select("doc_id", "keep")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(rows === Map(1L -> true, 2L -> false))
      assert(q.lastProgress.stateOperators.isEmpty, "all seven rules are narrow")
    } finally q.stop()
  }

  test("repetition metrics score planted spam high and clean text low") {
    val rows = df(
      1L -> "spam spam spam spam spam spam",                 // one token repeated
      2L -> "buy now buy now buy now buy now",               // looping bigram
      3L -> "each word here appears exactly once today",     // clean
      4L -> "",                                              // degenerate
      5L -> "solo")                                          // no bigrams
    val out = graft.ext.TextAnalysis.repetitionMetrics(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 > 0.8 && out(1L)._2 == 1.0, out(1L).toString) // 5/6 dup, all bigrams equal
    assert(out(2L)._2 > 0.5, out(2L).toString)  // "now buy"/"buy now" dominate
    assert(out(3L)._1 == 0.0 && out(3L)._2 < 0.2, out(3L).toString)
    assert(out(4L) == (0.0, 0.0) && out(5L) == (0.0, 0.0))
  }

  test("operator persists are scoped: Caching.release leaves no cached RDDs behind") {
    // other suites share the session, so assert relative to a baseline
    Caching.release(spark)
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val out = CurationPipeline.run(
      docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text",
      Some(docs.filter(col("doc_id") % 10 === 7)),
      CurationPipeline.Config(minTokens = 20L, langs = Set("en", "zh"),
        tokensPerShard = 2000L, shardBuckets = 8))
    assert(out.count() > 0)
    // the pipeline registered its internal persists...
    assert(Caching.registered(spark) > 0, "pipeline should persist via Caching.scoped")
    assert(spark.sparkContext.getPersistentRDDs.size > baseline,
      "materializing the pipeline should have cached intermediates")
    // ...and release drops every one of them (no session-lifetime leak)
    val released = Caching.release(spark)
    assert(released > 0)
    assert(Caching.registered(spark) == 0)
    assert(spark.sparkContext.getPersistentRDDs.size <= baseline,
      s"leaked persists: ${spark.sparkContext.getPersistentRDDs.size} > $baseline")
    // releasing is idempotent and safe on a clean registry
    assert(Caching.release(spark) == 0)
  }

  test("pipeline tokenCountCol drives the token gate and the shard budgets") {
    import scala.jdk.CollectionConverters._
    // synthetic BPE-ish counts: doc_id 1 has few whitespace tokens but a
    // large configured count; doc 2 the reverse — the gate must follow the
    // configured column, and shard offsets must accumulate it
    val text40 = (1 to 40).map(i => s"the of and to in is it that for with w$i").take(40)
      .mkString(" ") // plenty of en stopwords, 40+ whitespace tokens
    val rows = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, "the of and to in is short", 5000L), // 7 ws tokens, big BPE
      org.apache.spark.sql.Row(2L, text40, 3L),                         // many ws tokens, tiny BPE
      org.apache.spark.sql.Row(3L, text40, 900L)
    ).asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bpe_tokens", org.apache.spark.sql.types.LongType))))
    val cfg = CurationPipeline.Config(minTokens = 100L, maxTokens = 100000L,
      langs = Set("en"), tokensPerShard = 1000L, shardBuckets = 1,
      tokenCountCol = Some("bpe_tokens"))
    val out = CurationPipeline.run(rows, "doc_id", "text", None, cfg)
      .select("doc_id", "n_tokens", "shard").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    graft.Caching.release(spark)
    // doc 2 (3 BPE tokens) fails the >=100 gate despite 40+ whitespace
    // tokens; docs 1 and 3 pass on their BPE counts
    assert(out.keySet === Set(1L, 3L), s"gate must use bpe_tokens: $out")
    // n_tokens output carries the configured counts, and the bucket's
    // running 5000-token offset pushes doc 3 into shard offset 5
    assert(out(1L)._1 === 5000L && out(3L)._1 === 900L)
    assert(out(3L)._2 - out(1L)._2 === 5L, s"shard offset must accumulate BPE counts: $out")
    // unknown column fails loudly
    intercept[IllegalArgumentException] {
      CurationPipeline.run(rows, "doc_id", "text", None,
        cfg.copy(tokenCountCol = Some("nope")))
    }
  }

  test("reserved metric/packing column names in pipeline input fail loudly instead of being clobbered") {
    import spark.implicits._
    val rows = Seq(1L -> "the of and to in is that for with plenty of words here")
      .toDF("doc_id", "text")
    // batch path: the metric stages' withColumns silently REPLACE a
    // same-named payload column and the closing select re-emits the
    // replaced values — must raise instead
    intercept[IllegalArgumentException] {
      CurationPipeline.run(rows.withColumn("punct_ratio", lit(0.5)),
        "doc_id", "text", None, CurationPipeline.Config())
    }
    // a name is only reserved while its stage is ON: 'keep' is Gopher's
    // verdict column, untouched (and carried through) with gopherRules off
    val cols = CurationPipeline.run(rows.withColumn("keep", lit("payload")),
      "doc_id", "text", None, CurationPipeline.Config(minTokens = 1L)).columns
    graft.Caching.release(spark)
    assert(cols.contains("keep"))
    intercept[IllegalArgumentException] {
      CurationPipeline.run(rows.withColumn("keep", lit("payload")),
        "doc_id", "text", None, CurationPipeline.Config(gopherRules = true))
    }
    // a configured token count may not hide behind a metric name the
    // quality stage overwrites before the gate reads it
    intercept[IllegalArgumentException] {
      CurationPipeline.run(rows.withColumn("n_tokens", lit(42L)),
        "doc_id", "text", None,
        CurationPipeline.Config(tokenCountCol = Some("n_tokens")))
    }
    // stream path inlines the packing stage, so it must carry the same
    // guards the batch path gets from packByTokens' requires
    val state = CurationPipeline.StreamState("tguard",
      java.nio.file.Files.createTempDirectory("graft_cur_guard").toString,
      numBuckets = 2)
    state.dropTables(spark)
    intercept[IllegalArgumentException] {
      CurationPipeline.streamIncrement(rows, "doc_id", "text", None,
        CurationPipeline.Config(tokensPerShard = 0L), state, 0L)
    }
    intercept[IllegalArgumentException] {
      CurationPipeline.streamIncrement(rows.withColumn("shard", lit(1L)),
        "doc_id", "text", None, CurationPipeline.Config(), state, 0L)
    }
    // tokenCountCol = "n_tokens" gets NO stream-side exemption: the metric
    // stage reserves that name unconditionally (it would overwrite the
    // precomputed count before the gate reads it), so the entry guard
    // must raise the same way the batch path does — not advertise a
    // configuration the pipeline always rejects two calls later
    intercept[IllegalArgumentException] {
      CurationPipeline.streamIncrement(rows.withColumn("n_tokens", lit(42L)),
        "doc_id", "text", None,
        CurationPipeline.Config(tokenCountCol = Some("n_tokens")), state, 0L)
    }
    state.dropTables(spark)
  }

  test("Caching.scope releases its own registrations without touching the global set") {
    Caching.release(spark)
    val globalDs = Caching.scoped(docs.limit(10)) // session-global registration
    assert(Caching.registered(spark) == 1)
    var scopedRan = 0
    Caching.scope {
      Caching.onRelease(spark)(() => scopedRan += 1)
      val ds = Caching.scoped(docs.limit(5))
      assert(ds.count() == 5)
      // scope registrations never land in the session-global set
      assert(Caching.registered(spark) == 1)
    }
    assert(scopedRan == 1, "scope exit must run its registrations")
    // the scoped dataset was unpersisted at scope exit; the global one survives
    assert(Caching.registered(spark) == 1)
    assert(globalDs.storageLevel.useMemory || globalDs.storageLevel.useDisk)
    assert(Caching.release(spark) == 1)
  }

  test("Caching runs EVERY cleanup when one throws (release and scope)") {
    // cleanups include IO (checkpoint-file deletes): an abort on the first
    // failure would orphan the rest — pinned blocks for the session
    // lifetime, the exact leak this class exists to prevent
    Caching.release(spark)
    var ran = Set.empty[Int]
    Caching.onRelease(spark)(() => { ran += 1; throw new RuntimeException("io-1") })
    Caching.onRelease(spark)(() => ran += 2)
    Caching.onRelease(spark)(() => { ran += 3; throw new RuntimeException("io-3") })
    val e = intercept[RuntimeException](Caching.release(spark))
    assert(ran == Set(1, 2, 3), s"all cleanups must run: $ran")
    // both failures surface: the first thrown, the other suppressed
    val msgs = (e.getMessage +: e.getSuppressed.map(_.getMessage).toSeq).toSet
    assert(msgs == Set("io-1", "io-3"), msgs.toString)
    assert(Caching.registered(spark) == 0)
    // same aggregation on scope exit
    var scopedRan = Set.empty[Int]
    val e2 = intercept[RuntimeException](Caching.scope {
      Caching.onRelease(spark)(() => { scopedRan += 1; throw new RuntimeException("s-1") })
      Caching.onRelease(spark)(() => scopedRan += 2)
    })
    assert(scopedRan == Set(1, 2) && e2.getMessage == "s-1")
  }

  test("a scope cleanup failure never replaces the body's own exception") {
    // the unwind CAUSE is the diagnostic that matters; a cleanup IO failure
    // in the finally path rides along as suppressed instead of replacing it
    val e = intercept[RuntimeException](Caching.scope {
      Caching.onRelease(spark)(() => throw new RuntimeException("cleanup-io"))
      throw new RuntimeException("body-failure")
    })
    assert(e.getMessage == "body-failure", s"primary must be the body's: $e")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("cleanup-io"))
    // body succeeded → the cleanup failure IS the primary (unchanged)
    val e2 = intercept[RuntimeException](Caching.scope {
      Caching.onRelease(spark)(() => throw new RuntimeException("cleanup-only"))
    })
    assert(e2.getMessage == "cleanup-only")
  }

  test("shuffleOrder is a deterministic permutation, dense per bucket, partition-invariant") {
    val out = Sampling.shuffleOrder(docs, "doc_id", "graft", nBuckets = 4)
      .select("doc_id", "shuffle_bucket", "shuffle_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === docs.count())
    assert(out.map(_._3).distinct.length === out.length, "positions must be unique")
    // within each bucket, positions are dense 0..n-1 on top of the bucket base
    out.groupBy(_._2).foreach { case (b, rows) =>
      val offs = rows.map(_._3 - b * Sharding.ShardsPerBucket).sorted
      assert(offs.toSeq === (0L until rows.length).toSeq, s"bucket $b not dense: $offs")
    }
    // pure function of (seed, id): identical under a different partitioning
    val repart = Sampling.shuffleOrder(docs.repartition(13), "doc_id", "graft", nBuckets = 4)
      .select("doc_id", "shuffle_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall { case (id, _, pos) => repart(id) == pos })
    // and it actually shuffles: within-bucket rank order is not id order
    val anyBucket = out.groupBy(_._2).values.maxBy(_.length)
    val byPos = anyBucket.sortBy(_._3).map(_._1).toSeq
    assert(byPos !== byPos.sorted, "shuffle must not preserve id order")
  }

  test("pipeline embedding stage drops semantic near-dups the shingle stage cannot see") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val en = "the of and to in is it that for with"
    // docs 1 and 2: lexically DISJOINT tails (no shared shingles beyond the
    // below-threshold prefix) but identical embeddings = paraphrases; doc 3
    // orthogonal embedding
    def txt(p: String) = en + " " + (1 to 15).map(i => s"$p$i").mkString(" ")
    val e1 = Array(1f, 0f, 0f, 0f)
    val e3 = Array(0f, 1f, 0f, 0f)
    val rows = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, txt("alpha"), e1),
      org.apache.spark.sql.Row(2L, txt("beta"), e1),
      org.apache.spark.sql.Row(3L, txt("gamma"), e3)
    ).asJava, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("embedding", ArrayType(FloatType)))))
    val cfg = CurationPipeline.Config(minTokens = 20L, langs = Set("en"),
      embeddingCol = Some("embedding"), embedCosineThreshold = 0.9,
      tokensPerShard = 2000L, shardBuckets = 2)
    val kept = CurationPipeline.run(rows, "doc_id", "text", None, cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    assert(kept === Set(1L, 3L), s"doc 2 is a semantic dup of 1: $kept")
    // stage listing carries the extra stage only when the column is set
    val stages = CurationPipeline.stageOutputs(rows, "doc_id", "text", None, cfg).map(_._1)
    assert(stages === Seq("filter", "exact_dedup", "near_dedup", "embed_dedup",
      "decontaminate", "split", "shards"))
    graft.Caching.release(spark)
    intercept[IllegalArgumentException] {
      CurationPipeline.run(rows, "doc_id", "text", None,
        cfg.copy(embeddingCol = Some("nope")))
    }
  }

  test("corpus profile slices by language: counts reconcile, quantiles ordered, small-slice dup estimate exact") {
    val prof = graft.ext.Profile.byLanguage(docs, "doc_id", "text").collect()
    graft.Caching.release(spark)
    assert(prof.nonEmpty)
    assert(prof.map(_.getLong(1)).sum === docs.count(), "slice doc counts must reconcile")
    prof.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(5)
        && r.getDouble(5) <= r.getDouble(6), s"quantiles out of order: $r")
    }
    // below the sketch bound the KMV estimate IS the exact distinct count
    val exact = graft.ext.TextAnalysis.langId(docs, "doc_id", "text")
      .join(docs, "doc_id").groupBy("lang_pred")
      .agg(countDistinct("text").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wide = graft.ext.Profile.byLanguage(docs, "doc_id", "text", distinctK = 1024)
      .collect().map(r => r.getString(0) -> r.getDouble(7)).toMap
    graft.Caching.release(spark)
    exact.foreach { case (l, nd) =>
      assert(wide(l) === nd.toDouble, s"slice $l: est ${wide(l)} != exact $nd")
    }
    // and at the default k the estimate stays within KMV error bounds
    val est = prof.map(r => r.getString(0) -> r.getDouble(7)).toMap
    exact.foreach { case (l, nd) =>
      assert(math.abs(est(l) - nd) / nd < 0.35, s"slice $l: est ${est(l)} vs exact $nd")
    }
  }

  test("bySlice profiles an existing column: counts exact, dup mass visible, missing column loud") {
    val prof = graft.ext.Profile.bySlice(docs, "doc_id", "text", "source")
      .collect()
    graft.Caching.release(spark)
    val exactCounts = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prof.map(_.getString(0)).toSet == exactCounts.keySet)
    prof.foreach { r =>
      assert(r.getLong(1) == exactCounts(r.getString(0)), s"counts must be exact: $r")
      assert(r.getDouble(3) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(6),
        s"quantiles out of order: $r")
    }
    // planted exact dups inside one slice show up as n_docs - est_distinct
    val exact = docs.groupBy("source").agg(countDistinct("text").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wide = graft.ext.Profile.bySlice(docs, "doc_id", "text", "source", distinctK = 1024)
      .collect().map(r => r.getString(0) -> r.getDouble(7)).toMap
    graft.Caching.release(spark)
    exact.foreach { case (s, nd) => assert(wide(s) === nd.toDouble, s"slice $s") }
    intercept[IllegalArgumentException](
      graft.ext.Profile.bySlice(docs, "doc_id", "text", "no_such_column"))
    // NULL slices must not silently vanish through the slice-key joins
    import scala.jdk.CollectionConverters._
    val withNull = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(1L, "a b c", "s1"),
        org.apache.spark.sql.Row(2L, "d e f g", null)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("src", org.apache.spark.sql.types.StringType))))
    val nulled = graft.ext.Profile.bySlice(withNull, "doc_id", "text", "src")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.Caching.release(spark)
    assert(nulled == Map("s1" -> 1L, "<null>" -> 1L), s"got $nulled")
    // a GENUINE '<null>' slice value would silently merge with the NULL
    // population — the sentinel collision raises instead
    import spark.implicits._
    val collide = Seq((1L, "a b", "<null>")).toDF("doc_id", "text", "src")
    val ce = intercept[Throwable] {
      try graft.ext.Profile.bySlice(collide, "doc_id", "text", "src").collect()
      finally graft.Caching.release(spark)
    }
    def rootMsg(t: Throwable): String = {
      var cur = t; while (cur.getCause != null) cur = cur.getCause
      String.valueOf(cur.getMessage)
    }
    assert(rootMsg(ce).contains("sentinel"), rootMsg(ce))
  }

  test("sharding guards: non-castable counts raise by doc, __s is reserved, k literals are exact ints") {
    import spark.implicits._
    def rootMsg(t: Throwable): String = {
      var cur = t; while (cur.getCause != null) cur = cur.getCause
      String.valueOf(cur.getMessage)
    }
    // a STRING count column with a non-castable value: every guard
    // predicate evaluates NULL under non-ANSI SQL, so without the
    // cast-null check the row packed with a silent NULL count
    val bad = Seq((1L, "a b c", "3"), (2L, "d e", "N/A")).toDF("doc_id", "text", "bpe")
    val e1 = intercept[Throwable](Sharding.packByTokens(bad, "doc_id", "text",
      tokensPerShard = 10L, nBuckets = 2, tokenCountCol = Some("bpe")).collect())
    assert(rootMsg(e1).contains("doc_id=2"), rootMsg(e1))
    // integral counts above 2^53 pass EXACTLY (the guard's double lens
    // rounds, but the emitted value must be the original long)
    val big = Seq((1L, "a", 9007199254740993L)).toDF("doc_id", "text", "bpe")
    val got = Sharding.packByTokens(big, "doc_id", "text",
      tokensPerShard = Long.MaxValue, nBuckets = 1, tokenCountCol = Some("bpe"))
      .select("n_tokens").collect().head.getLong(0)
    assert(got == 9007199254740993L, s"got $got")
    // a scale-0 DECIMAL is integral by type: the same >2^53 value must
    // survive exactly (it used to fall to the double lens and silently
    // round to ...992 — the off-by-one the guard's own comment rejects)
    val bigDec = big.withColumn("bpe",
      col("bpe").cast(org.apache.spark.sql.types.DecimalType(20, 0)))
    val gotDec = Sharding.packByTokens(bigDec, "doc_id", "text",
      tokensPerShard = Long.MaxValue, nBuckets = 1, tokenCountCol = Some("bpe"))
      .select("n_tokens").collect().head.getLong(0)
    assert(gotDec == 9007199254740993L, s"decimal(20,0) must emit exactly, got $gotDec")
    // a non-integral-TYPED count above 2^53 must RAISE, not emit the
    // rounded double (the lens cannot represent it exactly); 2^53 + 2 is
    // the smallest representable double strictly above the bound
    val bigDouble = Seq((7L, "a", 9007199254740994.0)).toDF("doc_id", "text", "bpe")
    val e3 = intercept[Throwable](Sharding.packByTokens(bigDouble, "doc_id", "text",
      tokensPerShard = Long.MaxValue, nBuckets = 1, tokenCountCol = Some("bpe")).collect())
    assert(rootMsg(e3).contains("doc_id=7"), rootMsg(e3))
    // packSequences' own intermediate '__s' is reserved like its siblings
    val clash = Seq((1L, "a b c", 9L)).toDF("doc_id", "text", "__s")
    val e2 = intercept[IllegalArgumentException](Sharding.packSequences(
      clash, "doc_id", "text", seqLen = 4L))
    assert(e2.getMessage.contains("__s"), e2.getMessage)
    // k literals must be EXACT ints: Number.intValue() would silently
    // truncate 2.5 to top-2 / a >2^31 long to its low bits
    val scored = Seq((0.9, 1L), (0.8, 2L)).toDF("s", "id")
    intercept[org.apache.spark.sql.AnalysisException](
      scored.selectExpr("graft_topk(s, id, 2.5)").collect())
    intercept[org.apache.spark.sql.AnalysisException](
      scored.selectExpr("graft_topk(s, id, 4294967301)").collect())
    // and a plain int literal still works
    assert(scored.agg(expr("graft_topk(s, id, 1)")).collect().head.getSeq[Any](0).size == 1)
  }

  test("pipeline rejects spanRemovalK combined with a precomputed token count") {
    val e = intercept[IllegalArgumentException](
      CurationPipeline.stageOutputs(
        docs.withColumn("bpe", col("n_chars")), "doc_id", "text", None,
        CurationPipeline.Config(spanRemovalK = Some(5), tokenCountCol = Some("bpe"))))
    assert(e.getMessage.contains("spanRemovalK"))
  }

  test("packSequences lays docs back-to-back and splits exactly at sequence boundaries") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    // 3 docs with known counts in ONE bucket, seqLen 10:
    //   A(7) -> seq0[0,7); B(6) -> seq0[0,3) + seq1[3,6); C(10) -> seq1[0,7) + seq2[7,10)
    val rows = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, "t", 7L),
      org.apache.spark.sql.Row(2L, "t", 6L),
      org.apache.spark.sql.Row(3L, "t", 10L),
      org.apache.spark.sql.Row(4L, "t", 0L) // zero tokens: no sequence row, no offset shift
    ).asJava, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("cnt", LongType))))
    val out = Sharding.packSequences(rows, "doc_id", "text", seqLen = 10L,
        nBuckets = 1, tokenCountCol = Some("cnt"))
      .select("doc_id", "seq", "tok_start", "tok_end")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set(
      (1L, 0L, 0L, 7L),
      (2L, 0L, 0L, 3L), (2L, 1L, 3L, 6L),
      (3L, 1L, 0L, 7L), (3L, 2L, 7L, 10L)))
    // invariants on real text: per-doc spans sum to n_tokens; every
    // sequence except each bucket's last is filled to exactly seqLen
    val real = Sharding.packSequences(docs, "doc_id", "text", seqLen = 512L, nBuckets = 4)
      .select("doc_id", "n_tokens", "bucket", "seq", "tok_start", "tok_end")
    val perDoc = real.groupBy("doc_id").agg(
        sum(col("tok_end") - col("tok_start")).as("covered"), max("n_tokens").as("n"))
      .filter(col("covered") =!= col("n")).count()
    assert(perDoc === 0L, "every token of every doc lands in exactly one sequence")
    val lastSeqs = real.groupBy("bucket").agg(max("seq").as("seq"))
    val unfilled = real.groupBy("bucket", "seq")
      .agg(sum(col("tok_end") - col("tok_start")).as("filled"))
      .join(lastSeqs, Seq("bucket", "seq"), "left_anti")
      .filter(col("filled") =!= 512L).count()
    assert(unfilled === 0L, "non-tail sequences must be packed to exactly seqLen")
  }

  test("a boilerplate-dominated micro-batch hits the armed maxSliceRows guard by name; unarmed it passes") {
    import spark.implicits._
    val k = graft.streaming.StatefulOps.MaxSliceRowsConf
    def withCap[A](v: Option[String])(f: => A): A = {
      val saved = spark.conf.getOption(k)
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      try f finally { spark.conf.unset(k); saved.foreach(spark.conf.set(k, _)) }
    }
    val en20 = "the of and to in is it that for with the of and to in is it that for with"
    val boiler = en20 + " " + (1 to 15).map(i => s"boiler$i").mkString(" ")
    // 9 copies of one text + 1 distinct doc: the window-min ships all 9
    // rows of the hot group to one task — the documented micro-batch-
    // bounded skew point this guard names
    val hot = ((1 to 9).map(i => i.toLong -> boiler) :+
      (100L -> (en20 + " " + (1 to 15).map(i => s"solo$i").mkString(" "))))
      .toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(minTokens = 20L, langs = Set("en"),
      nearDupThreshold = 0.5, maxGramDf = None,
      splits = Seq("train" -> 1.0), tokensPerShard = 25L, shardBuckets = 2)
    def freshState() = {
      val st = CurationPipeline.StreamState("tguard_" + System.nanoTime(),
        java.nio.file.Files.createTempDirectory("graft_cur_guard").toString, numBuckets = 2)
      st.dropTables(spark); st
    }
    // armed below the group size: raises naming the conf and the stage
    withCap(Some("8")) {
      val e = intercept[Exception] {
        CurationPipeline.streamIncrement(hot, "doc_id", "text", None, cfg,
          freshState(), batchId = 0L)
      }
      graft.Caching.release(spark)
      def msgs(t: Throwable): String =
        if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
      val m = msgs(e)
      assert(m.contains(k) && m.contains("exact-dedup"), m)
    }
    // armed at the group size: passes, min-id survivor kept
    withCap(Some("9")) {
      val st = freshState()
      CurationPipeline.streamIncrement(hot, "doc_id", "text", None, cfg,
        st, batchId = 0L)
      graft.Caching.release(spark)
      val ids = spark.read.parquet(st.outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 100L), s"min-id dedup semantics unchanged: $ids")
    }
    // unarmed (default): same batch just processes
    locally {
      val st = freshState()
      CurationPipeline.streamIncrement(hot, "doc_id", "text", None, cfg,
        st, batchId = 0L)
      graft.Caching.release(spark)
      val ids = spark.read.parquet(st.outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 100L), s"min-id dedup semantics unchanged: $ids")
    }
    // the guard's zero-extra-exchange claim: the armed shape (count + min
    // over the SAME window spec, the count consumed inside a when) plans
    // as ONE Window operator behind ONE hash exchange — Spark collapses
    // same-spec window expressions; if it ever stops, the armed guard
    // would silently double the dedup shuffle
    locally {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("__h"))
      val armed = spark.range(100).select(col("id"), (col("id") % 5).as("__h"))
        .withColumn("__minid",
          when(count(lit(1)).over(w) > 1000000L,
            raise_error(lit("cap")).cast("long"))
            .otherwise(min(col("id")).over(w)))
      val p = armed.queryExecution.executedPlan.toString
      val windowOps = p.linesIterator.count(_.matches(""".*[\s\-+:]Window \[.*"""))
      assert(windowOps === 1, s"armed guard must plan ONE Window operator, got $windowOps: $p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
        s"armed guard must keep the single dedup exchange: $p")
    }
  }

  test("streaming curation equals the batch pipeline across ordered micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val en20 = "the of and to in is it that for with the of and to in is it that for with"
    // distinct 15-word tails keep unrelated docs below the 0.5 jaccard
    // threshold (shared en20 shingles: 18 of ~48 union)
    def tail(p: String) = (1 to 15).map(i => s"$p$i").mkString(" ")
    val body1 = en20 + " " + tail("alpha")
    val body4 = en20 + " " + tail("delta")
    val leak13 = (1 to 13).map(i => s"leak$i").mkString(" ")
    val batch1 = Seq(
      1L -> body1,                         // survives
      2L -> body1,                         // exact dup IN batch -> min id 1 kept
      3L -> "too short",                   // quality fail
      4L -> body4)                         // survives
    val batch2 = Seq(
      11L -> body1,                        // exact dup ACROSS batches -> dropped
      12L -> (body4 + " changed"),         // near-dup of 4 across batches -> dropped
      13L -> (en20 + " " + leak13 + " xx yy"), // leaks a 13-gram into the holdout -> dropped
      14L -> (en20 + " " + tail("omega"))) // survives
    val holdout = Seq(100L -> ("prefix words " + leak13)).toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(minTokens = 20L, langs = Set("en"),
      nearDupThreshold = 0.5, maxGramDf = None,
      splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      tokensPerShard = 25L, shardBuckets = 2)
    val state = CurationPipeline.StreamState("tstream",
      java.nio.file.Files.createTempDirectory("graft_cur_stream").toString, numBuckets = 4)
    state.dropTables(spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cur_ckpt")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // compactEvery = 1: batch 1 compacts after its increment — the
    // streamed ≡ batch equality then also covers the self-maintenance path
    val q = CurationPipeline.runStream(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", Some(holdout), cfg, state, compactEvery = 1)
      .option("checkpointLocation", ckpt.toString).start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    def outSet() = spark.read.parquet(state.outDir)
      .select("doc_id", "n_tokens", "bucket", "shard", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSet
    val streamed = outSet()
    val batchRun = CurationPipeline.run((batch1 ++ batch2).toDF("doc_id", "text"),
        "doc_id", "text", Some(holdout), cfg)
      .select("doc_id", "n_tokens", "bucket", "shard", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSet
    graft.Caching.release(spark)
    assert(streamed.map(_._1) === Set(1L, 4L, 14L),
      s"exact/near/leak dups and quality fails must drop: $streamed")
    assert(streamed === batchRun,
      s"streamed $streamed != batch $batchRun — shard offsets must carry across batches")
    // at-least-once replay of the last micro-batch: all state reads see
    // batch_id < 1, all writes rewrite their own partitions — no change
    val hg = CurationPipeline.holdoutGramSet(holdout, "doc_id", "text", cfg)
    CurationPipeline.streamIncrement(batch2.toDF("doc_id", "text"),
      "doc_id", "text", Some(hg), cfg, state, batchId = 1L)
    graft.Caching.release(spark)
    assert(outSet() === streamed, "replay must be idempotent")
    // routine maintenance between micro-batches: compact the three index
    // tables (2 batches + 1 replay appended 3×4 files each) back to
    // numBuckets files, then a third batch must still see every hash and
    // signature — its exact/near dups hinge entirely on the compacted state
    CurationPipeline.compactState(spark, state)
    Seq(state.hashTable, state.lshIndex.bandsTable, state.lshIndex.shinglesTable)
      .foreach { t =>
        // one file per POPULATED bucket — <= numBuckets
        assert(spark.table(t).inputFiles.length <= 4,
          s"$t must compact to <= numBuckets files, got ${spark.table(t).inputFiles.length}")
      }
    // the offsets ledger folds too (one partition per batch otherwise
    // accretes forever): ids {0, 1} collapse into batch_id=1, and the
    // post-fold batch below proves shard offsets continue through the fold
    CurationPipeline.compactOffsets(spark, state, uptoBatch = 1L)
    locally {
      val parts = new java.io.File(state.offsetsDir).listFiles()
        .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet
      assert(parts === Set("batch_id=1"), s"ledger must fold to one partition: $parts")
    }
    val batch3 = Seq(
      21L -> body1,                          // exact dup of compacted hash -> dropped
      22L -> (en20 + " " + tail("omega") + " changed"), // near-dup of 14 via compacted index -> dropped
      23L -> (en20 + " " + tail("zeta")))    // survives
    CurationPipeline.streamIncrement(batch3.toDF("doc_id", "text"),
      "doc_id", "text", Some(hg), cfg, state, batchId = 2L)
    val batchRun3 = CurationPipeline.run(
        (batch1 ++ batch2 ++ batch3).toDF("doc_id", "text"),
        "doc_id", "text", Some(holdout), cfg)
      .select("doc_id", "n_tokens", "bucket", "shard", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSet
    graft.Caching.release(spark)
    assert(outSet() === batchRun3,
      "post-compaction batches must still equal the batch pipeline")
    // simulate a compactState crash window (tables dropped, __compact
    // siblings live): the next increment must finish the swaps — treating
    // the state as a fresh stream would let 31's exact dup of body1 through
    Seq(state.hashTable, state.lshIndex.bandsTable, state.lshIndex.shinglesTable)
      .foreach(t => spark.sql(s"ALTER TABLE $t RENAME TO ${t}__compact"))
    val batch4 = Seq(31L -> body1, 32L -> (en20 + " " + tail("eta")))
    CurationPipeline.streamIncrement(batch4.toDF("doc_id", "text"),
      "doc_id", "text", Some(hg), cfg, state, batchId = 3L)
    val batchRun4 = CurationPipeline.run(
        (batch1 ++ batch2 ++ batch3 ++ batch4).toDF("doc_id", "text"),
        "doc_id", "text", Some(holdout), cfg)
      .select("doc_id", "n_tokens", "bucket", "shard", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSet
    graft.Caching.release(spark)
    assert(outSet() === batchRun4,
      "a crashed compaction swap must be recovered, not misread as an empty corpus")
    state.dropTables(spark)
  }

  test("streaming curation maintains the cluster registry; batch-only config fails loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val en20 = "the of and to in is it that for with the of and to in is it that for with"
    def tail(p: String) = (1 to 15).map(i => s"$p$i").mkString(" ")
    val body = en20 + " " + tail("kappa")
    // 1-2 near-dup in batch 0; 11 chains onto 2 in batch 1 (cross-batch
    // merge through the registry's member expansion)
    val batch1 = Seq(1L -> body, 2L -> (body + " changed"))
    val batch2 = Seq(11L -> (body + " changed more"),
      12L -> (en20 + " " + tail("rho")))
    val cfg = CurationPipeline.Config(minTokens = 20L, langs = Set("en"),
      nearDupThreshold = 0.5, maxGramDf = None, tokensPerShard = 25L, shardBuckets = 2)
    val state = CurationPipeline.StreamState("tclreg",
      java.nio.file.Files.createTempDirectory("graft_cur_clus").toString, numBuckets = 4)
    state.dropTables(spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cur_clus_ckpt")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = CurationPipeline.runStream(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", None, cfg, state, compactEvery = 1, maintainClusters = true)
      .option("checkpointLocation", ckpt.toString).start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val mapping = Dedup.clusterMapping(spark, state.clusterState)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allPairs = spark.read.parquet(state.pairsDir).select("d1", "d2")
    val batchCc = Dedup.connectedComponents(allPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.Caching.release(spark)
    assert(mapping === batchCc,
      s"registry $mapping must equal the batch closure $batchCc over all emitted pairs")
    assert(mapping === Map(1L -> 1L, 2L -> 1L, 11L -> 1L),
      s"cross-batch chain 1-2-11 must collapse to one cluster: $mapping")
    // retroactive collapse: streamed output minus registry non-roots must
    // equal the batch pipeline run WITH collapseClusters (the decision the
    // stream could not apply in place)
    val collapsed = CurationPipeline.collapsedOutput(spark, state, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchCollapsed = CurationPipeline.run(
        (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text", None,
        cfg.copy(collapseClusters = true))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    assert(collapsed === batchCollapsed,
      s"retro-collapse $collapsed != batch collapse $batchCollapsed")
    // batch-only config must fail loudly, not silently diverge
    intercept[IllegalArgumentException] {
      CurationPipeline.streamIncrement(batch1.toDF("doc_id", "text"), "doc_id",
        "text", None, cfg.copy(collapseClusters = true), state, batchId = 9L)
    }
    intercept[IllegalArgumentException] {
      CurationPipeline.streamIncrement(batch1.toDF("doc_id", "text"), "doc_id",
        "text", None, cfg.copy(embeddingCol = Some("emb")), state, batchId = 9L)
    }
    intercept[IllegalArgumentException] {
      CurationPipeline.streamIncrement(batch1.toDF("doc_id", "text"), "doc_id",
        "text", None, cfg.copy(decontamBloomBits = Some(1 << 20)), state, batchId = 9L)
    }
    state.dropTables(spark)
  }

  test("streaming curation with a semantic stage equals the batch pipeline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val en20 = "the of and to in is it that for with the of and to in is it that for with"
    def tail(p: String) = (1 to 15).map(i => s"$p$i").mkString(" ")
    // lexically DISTINCT docs (shared en20 stopword prefix stays under the
    // 0.5 shingle threshold); the paraphrase is planted in the embeddings:
    // doc 11 is a semantic near-dup of doc 1 ACROSS batches, so the drop
    // must come from the embedding index probe, not the batch self-join
    val e1 = Array(1f, 0f, 0f); val e2 = Array(0f, 1f, 0f)
    val e11 = Array(0.99f, 0.1f, 0f); val e12 = Array(0f, 0f, 1f)
    val batch1 = Seq((1L, en20 + " " + tail("alpha"), e1),
      (2L, en20 + " " + tail("beta"), e2))
    val batch2 = Seq((11L, en20 + " " + tail("gamma"), e11),
      (12L, en20 + " " + tail("delta"), e12))
    val cfg = CurationPipeline.Config(minTokens = 20L, langs = Set("en"),
      nearDupThreshold = 0.5, maxGramDf = None, embeddingCol = Some("emb"),
      embedCosineThreshold = 0.9, tokensPerShard = 25L, shardBuckets = 2)
    val state = CurationPipeline.StreamState("tsem",
      java.nio.file.Files.createTempDirectory("graft_cur_sem").toString, numBuckets = 4)
    state.dropTables(spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cur_sem_ckpt")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Array[Float])]
    val q = CurationPipeline.runStream(input.toDF().toDF("doc_id", "text", "emb"),
        "doc_id", "text", None, cfg, state, compactEvery = 1, maintainClusters = true)
      .option("checkpointLocation", ckpt.toString).start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    def fields(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
    val streamed = spark.read.parquet(state.outDir)
      .select("doc_id", "n_tokens", "bucket", "shard", "split")
      .collect().map(fields).toSet
    val batchRun = CurationPipeline.run((batch1 ++ batch2).toDF("doc_id", "text", "emb"),
        "doc_id", "text", None, cfg)
      .select("doc_id", "n_tokens", "bucket", "shard", "split")
      .collect().map(fields).toSet
    val mapping = Dedup.clusterMapping(spark, state.clusterState)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.Caching.release(spark)
    assert(streamed.map(_._1) === Set(1L, 2L, 12L),
      s"the cross-batch semantic dup (11) must drop: $streamed")
    assert(streamed === batchRun, s"streamed $streamed != batch $batchRun")
    assert(mapping === Map(1L -> 1L, 11L -> 1L),
      s"the registry must hold the semantic pair's cluster: $mapping")
    state.dropTables(spark)
  }

  test("collapsedOutput survives a stream whose every doc was filtered (zero data files)") {
    // an all-filtered batch writes NO parquet files under outDir, so schema
    // inference has nothing to read — collapsedOutput must fall back to the
    // schema snapshot streamIncrement records and yield the empty corpus
    val cfg = CurationPipeline.Config(minTokens = 10L, langs = Set("en"), maxGramDf = None)
    val state = CurationPipeline.StreamState("tzero",
      java.nio.file.Files.createTempDirectory("graft_cur_zero").toString, numBuckets = 2)
    state.dropTables(spark)
    try {
      CurationPipeline.streamIncrement(df(1L -> "too short", 2L -> "also short"),
        "doc_id", "text", None, cfg, state, batchId = 0L, maintainClusters = true)
      // a literally zero-ROW micro-batch (an empty trigger) must also pass
      // through every stage and state write without corrupting anything
      CurationPipeline.streamIncrement(df(),
        "doc_id", "text", None, cfg, state, batchId = 1L, maintainClusters = true)
      val collapsed = CurationPipeline.collapsedOutput(spark, state, "doc_id")
      assert(collapsed.count() === 0L)
      // the declared schema carries the curated-output shape, not a stub
      assert(collapsed.columns.toSet ===
        Set("doc_id", "text", "n_tokens", "split", "bucket", "shard", "batch_id"))
    } finally state.dropTables(spark)
  }

  test("dropTableAndLocation resolves a custom table LOCATION from the catalog") {
    import graft.sinks.Sinks
    val loc = java.nio.file.Files.createTempDirectory("graft_droploc").resolve("tbl")
    spark.sql(s"CREATE TABLE tdroploc (id BIGINT) USING parquet LOCATION '${loc.toUri}'")
    spark.sql("INSERT INTO tdroploc VALUES (1), (2)")
    assert(java.nio.file.Files.exists(loc), "table data must land at the custom location")
    Sinks.dropTableAndLocation(spark, "tdroploc")
    assert(!spark.catalog.tableExists("tdroploc"))
    assert(!java.nio.file.Files.exists(loc),
      "the drop must delete the CATALOG-resolved location, not a <warehouse>/<table> guess")
  }

  test("packSequences rejects a tokenCountCol named after a non-n_tokens reserved column") {
    val in = df(1L -> "one two three four five six seven eight nine ten")
      .withColumn("bucket", lit(7L))
    val boom = intercept[IllegalArgumentException] {
      Sharding.packSequences(in, "doc_id", "text", seqLen = 10L,
        tokenCountCol = Some("bucket"))
    }
    assert(boom.getMessage.contains("bucket"))
    // the one legitimate exemption still works: a pre-existing n_tokens
    // column that IS the declared token-count input
    val ok = Sharding.packSequences(
      df(1L -> "one two three four five").withColumn("n_tokens", lit(5L)),
      "doc_id", "text", seqLen = 10L, tokenCountCol = Some("n_tokens"))
    assert(ok.count() >= 1L)
  }

  test("ngramOverlapBloom matches ngramOverlap bit-for-bit on the real corpus (x46)") {
    // real corpus slices + one planted cross-side leak, so the compared
    // pair set is non-empty at any SF
    val d = docs.select("doc_id", "text")
    val leak = (1 to Queries.BloomDecontamN).map(i => s"leak$i").mkString(" ")
    val train = d.filter(col("doc_id") % 10 =!= 3)
      .unionByName(df(1000003L -> s"$leak and some tail"))
    val hold = d.filter(col("doc_id") % 10 === 3)
      .unionByName(df(1000013L -> s"prefix $leak"))
    val exact = Decontaminate.ngramOverlap(train, hold, "doc_id", "text",
        n = Queries.BloomDecontamN, maxGramDf = Some(Queries.DecontamGramDfCap))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // tiny, adversarial bloom (2^10 bits for thousands of grams => high FP
    // rate): the exact join must still kill every false positive
    val bloomed = Decontaminate.ngramOverlapBloom(train, hold, "doc_id", "text",
        n = Queries.BloomDecontamN, maxGramDf = Some(Queries.DecontamGramDfCap),
        bloomBits = 1 << 10, bloomHashes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.Caching.release(spark)
    assert(exact.nonEmpty, "fixture must produce at least one leaked pair")
    assert(bloomed == exact)
  }

  test("bloom aggregate+probe: no false negatives; FP rate near the analytic bound") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val inserted = Array.fill(2000)(rnd.nextLong() >>> 4)
    val others = Array.fill(4000)(rnd.nextLong() >>> 4).filterNot(inserted.toSet)
    // m = 2^15 bits, k = 5, n = 2000 => FP ~ (1 - e^{-kn/m})^k ~ 0.17%
    val blob = inserted.toSeq.toDF("h")
      .agg(call_function("graft_bloom", col("h"), lit(1 << 15), lit(5)).as("b"))
      .head.getAs[Array[Byte]](0)
    val (words, k) = graft.functions.Bloom.fromBytes(blob)
    def probe(h: Long): Boolean = graft.functions.Bloom.mightContain(words, k, h)
    inserted.foreach(h => assert(probe(h), s"false negative on $h"))
    val fp = others.count(probe)
    assert(fp <= 40, s"FP count $fp of ${others.length} far above the ~0.17% analytic rate")
    // the probe expression agrees with the direct probe on every hash
    val viaExpr = (inserted ++ others).toSeq.toDF("h")
      .filter(call_function("graft_bloom_contains", lit(blob), col("h")))
      .collect().map(_.getLong(0)).toSet
    assert(viaExpr == (inserted ++ others.filter(probe)).toSet)
  }

  test("bloom pre-filter sits on the train scan side, and the plan stays equi-join-only") {
    val d = docs
    val plan = Decontaminate.ngramOverlapBloom(
        d.filter(col("doc_id") % 10 =!= 3), d.filter(col("doc_id") % 10 === 3),
        "doc_id", "text", n = Queries.BloomDecontamN,
        maxGramDf = Some(Queries.DecontamGramDfCap))
      .queryExecution.executedPlan.toString
    graft.Caching.release(spark)
    assert(plan.contains("graft_bloom_contains"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("decontamination join plan is an equi-join, no cartesian/NLJ") {
    val d = docs
    val plan = Decontaminate.ngramOverlap(
      d.filter(col("doc_id") % 10 =!= 7), d.filter(col("doc_id") % 10 === 7),
      "doc_id", "text", n = Queries.DecontamN,
      maxGramDf = Some(Queries.DecontamGramDfCap))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("temperatureSample flattens the source mix; α=1 is proportional; caps at 1") {
    import spark.implicits._
    // source A: 90 docs x 100 tokens, source B: 10 docs x 100 tokens
    // (m_A=9000, m_B=1000). At α=0.5, target 0.5: w=(0.75, 0.25), T=5000
    // ⇒ f_A = 5000·0.75/9000 ≈ 0.417, f_B = 5000·0.25/1000 = 1.25 → 1.
    val docs = ((1L to 90L).map((_, "A", 100L)) ++ (101L to 110L).map((_, "B", 100L)))
      .toDF("doc_id", "source", "mass")
    val kept = Sampling.temperatureSample(docs, "doc_id", "source", col("mass"),
        alpha = 0.5, targetFrac = 0.5, seed = "s")
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("B") == 10, s"small source must keep everything (f capped at 1): $kept")
    assert(kept("A") > 20 && kept("A") < 65, s"large source must downsample to ~42%: $kept")
    // α=1 is proportional sampling: every source keeps ~targetFrac
    val prop = Sampling.temperatureSample(docs, "doc_id", "source", col("mass"),
        alpha = 1.0, targetFrac = 0.5, seed = "s")
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prop("A") > 25 && prop("A") < 65, s"α=1 keeps ~half of A: $prop")
    assert(prop.getOrElse("B", 0L) >= 2 && prop("B") <= 9, s"α=1 keeps ~half of B: $prop")
    // deterministic and a subset of the input
    val again = Sampling.temperatureSample(docs, "doc_id", "source", col("mass"),
        alpha = 0.5, targetFrac = 0.5, seed = "s")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val first = Sampling.temperatureSample(docs, "doc_id", "source", col("mass"),
        alpha = 0.5, targetFrac = 0.5, seed = "s")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == first)
    // null-source rows are dropped (no defined weight)
    val withNull = docs.union(Seq((900L, null.asInstanceOf[String], 100L))
      .toDF("doc_id", "source", "mass"))
    val keptNull = Sampling.temperatureSample(withNull, "doc_id", "source", col("mass"),
        alpha = 0.5, targetFrac = 0.5, seed = "s")
      .filter(col("doc_id") === 900L).count()
    assert(keptNull == 0L)
  }

  test("temperatureResample upsamples small sources by epochs and hits the target mass (x48)") {
    import spark.implicits._
    // m_A=9000, m_B=1000; α=0.5, target 1.0: w=(0.75,0.25), M=10000
    // ⇒ f_A = 10000·0.75/9000 ≈ 0.833, f_B = 10000·0.25/1000 = 2.5:
    // B docs appear 2 or 3 times, A docs 0 or 1 times.
    val docs = ((1L to 90L).map((_, "A", 100L)) ++ (101L to 110L).map((_, "B", 100L)))
      .toDF("doc_id", "source", "mass")
    val out = Sampling.temperatureResample(docs, "doc_id", "source", col("mass"),
      alpha = 0.5, targetFrac = 1.0, seed = "s")
    val perDoc = out.groupBy("doc_id", "source").count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    perDoc.foreach {
      case (_, "A", n) => assert(n == 1L, s"A copies must be 0/1, got $n")
      case (_, "B", n) => assert(n == 2L || n == 3L, s"B copies must be 2/3, got $n")
      case other => fail(other.toString)
    }
    val bCopies = perDoc.filter(_._2 == "B").map(_._3).sum
    assert(bCopies >= 21L && bCopies <= 29L, s"10 B docs at f=2.5 emit ~25 copies: $bCopies")
    // epochs are dense 0..n-1 per doc
    val epochs = out.filter(col("source") === "B").groupBy("doc_id")
      .agg(sort_array(collect_list("epoch")).as("e")).collect()
    epochs.foreach(r => assert(r.getSeq[Long](1) == (0L until r.getSeq[Long](1).size).toSeq))
    // with every f <= 1 it degenerates to temperatureSample + epoch 0
    val down = Sampling.temperatureResample(docs, "doc_id", "source", col("mass"),
        alpha = 1.0, targetFrac = 0.5, seed = "s")
    assert(down.select(max("epoch")).head.getLong(0) == 0L)
    val downIds = down.select("doc_id").collect().map(_.getLong(0)).toSet
    val sampleIds = Sampling.temperatureSample(docs, "doc_id", "source", col("mass"),
        alpha = 1.0, targetFrac = 0.5, seed = "s")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(downIds == sampleIds)
  }

  test("splitByComponent keeps every near-dup chain in ONE split; unpaired docs match hashSplit") {
    import spark.implicits._
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    // synthetic chain 1-2-3 (transitive) + island (10,11) + unpaired 20..40:
    // all chain members inherit root 1's split, whatever it is
    val sdocs = ((1L to 3L) ++ Seq(10L, 11L) ++ (20L to 40L)).toDF("doc_id")
    val spairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val out = Sampling.splitByComponent(sdocs, "doc_id", spairs, "s", splits)
      .select("doc_id", "root_id", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    graft.Caching.release(spark)
    assert(Seq(1L, 2L, 3L).map(out(_)).distinct.size == 1, "chain must share root AND split")
    assert(Seq(10L, 11L).map(out(_)).distinct.size == 1)
    assert(out(1L)._1 == 1L && out(10L)._1 == 10L)
    // unpaired docs: root at themselves, split identical to plain hashSplit
    val hs = Sampling.hashSplit((20L to 40L).toDF("doc_id"), "doc_id", "s", splits)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (20L to 40L).foreach { id =>
      assert(out(id)._1 == id && out(id)._2 == hs(id), s"doc $id")
    }
    // the real corpus: no x03 near-dup pair may straddle splits
    val d = docs
    val pairs = Dedup.minHashLshDocs(d, "doc_id", "text", 0.5)
      .select("d1", "d2")
    val real = Sampling.splitByComponent(d, "doc_id", pairs, Queries.SplitSeed, splits)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.Caching.release(spark)
    assert(pairRows.nonEmpty)
    // a non-integral id column would silently null through the unpaired
    // fallback cast and collapse every unpaired doc into one bucket
    intercept[IllegalArgumentException] {
      Sampling.splitByComponent(sdocs.withColumn("doc_id", col("doc_id").cast("string")),
        "doc_id", spairs, "s", splits)
    }
    pairRows.foreach { case (a, b) =>
      assert(real(a) == real(b), s"pair ($a,$b) straddles splits")
    }
  }

  private def wsTokens(s: String): Array[String] =
    s.trim.split("\\s+").filter(_.nonEmpty)

  test("text operators treat NULL text as empty, not as a row-dropping/NULL-row wildcard") {
    import scala.jdk.CollectionConverters._
    val d = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(1L, "alpha beta gamma delta epsilon zeta"),
        org.apache.spark.sql.Row(2L, null)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
    val stats = Dedup.duplicateSpanStats(d, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    graft.Caching.release(spark)
    assert(stats(2L) == ((0L, 0L)), "null text: zero windows, present row")
    val spans = Dedup.dedupSpans(d, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    graft.Caching.release(spark)
    assert(spans(2L) == ((0L, "")), "null text: zero tokens, empty dedup text")
    assert(Sharding.chunkByTokens(d, "doc_id", "text", 8, 4)
      .filter(col("doc_id") === 2L).count() == 0, "null text: no chunks")
    val lo = graft.ext.TextAnalysis.hashedLogOdds(d, "doc_id", "text",
        col("doc_id") === 1L, 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.Caching.release(spark)
    assert(lo(2L) == 0L, "null text: zero tokens in the one-pass scorer")
    val model = graft.ext.TextAnalysis.trainLogOdds(d, "doc_id", "text",
      col("doc_id") === 1L, 32)
    val frozen = graft.ext.TextAnalysis.scoreLogOdds(d, "text", model)
      .select("doc_id", "n_tokens").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frozen(2L) == 0L, "null text: zero tokens in the frozen scorer")
  }

  test("chunkByTokens equals the sequential window model on real docs; covers every token") {
    val window = 7
    val stride = 3
    val texts = docs.limit(120).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = texts.toSeq.flatMap { case (id, text) =>
      val toks = wsTokens(text)
      if (toks.isEmpty) Seq.empty
      else {
        val starts = (0 until toks.length by stride)
          .filter(s => s == 0 || s + window - stride < toks.length)
        starts.zipWithIndex.map { case (s, ci) =>
          (id, ci.toLong, s.toLong,
            math.min(window, toks.length - s).toLong,
            toks.slice(s, s + window).mkString(" "))
        }
      }
    }.toSet
    val got = Sharding.chunkByTokens(
        docs.filter(col("doc_id").isin(texts.keys.toSeq: _*)), "doc_id", "text", window, stride)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // coverage + no-containment invariants on the model itself
    expected.groupBy(_._1).foreach { case (id, chunks) =>
      val n = wsTokens(texts(id)).length
      val ends = chunks.toSeq.sortBy(_._2).map(c => c._3 + c._4)
      assert(ends.last == n, s"doc $id: last token uncovered")
      ends.sliding(2).foreach {
        case Seq(a, b) => assert(b > a, s"doc $id: chunk contained in predecessor")
        case _ => ()
      }
    }
  }

  test("chunkByTokens edges: empty docs emit nothing, short docs emit one whole-doc chunk") {
    val d = df(1L -> "   ", 2L -> "a b c", 3L -> "")
    val out = Sharding.chunkByTokens(d, "doc_id", "text", window = 32, stride = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq((2L, 0L, 0L, 3L, "a b c")))
    intercept[IllegalArgumentException](
      Sharding.chunkByTokens(d, "doc_id", "text", window = 4, stride = 5))
  }

  test("duplicateSpanStats counts planted cross-doc and within-doc window repeats exactly") {
    val span = "alpha beta gamma delta epsilon" // one 5-token window
    val d = df(
      1L -> s"$span one two three four", // shares the span with doc 2
      2L -> s"zero $span",
      3L -> s"$span x $span", // within-doc repeat: windows at 0 and 6 duplicated
      4L -> "totally distinct words only here now",
      5L -> "tiny doc") // < 5 tokens: no windows
    val out = Dedup.duplicateSpanStats(d, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_ => r.getDouble(3))))).toMap
    graft.Caching.release(spark)
    // doc1: 5 windows, 1 dup (the span); doc2: 2 windows, 1 dup
    assert(out(1L) == ((5L, 1L, Some(0.2))))
    assert(out(2L) == ((2L, 1L, Some(0.5))))
    // doc3: 7 windows; the two span occurrences dup; the 5 bridging windows
    // (containing 'x') appear nowhere else
    assert(out(3L) == ((7L, 2L, Some(2.0 / 7))))
    assert(out(4L)._2 == 0L)
    assert(out(5L) == ((0L, 0L, None)), "short doc: zero windows, NULL fraction")
  }

  test("span operators keep duplicate-id rows independent (per-row stats, no cross-doc cuts)") {
    import spark.implicits._
    // two id-7 rows with unrelated texts plus an id-8 copy of the first:
    // an id-only rollup merged both rows' windows/loser positions and
    // applied them to each — doc B's text cut at doc A's offsets
    val span = "alpha beta gamma delta epsilon"
    val d = Seq(7L -> span, 7L -> "uno dos tres quatro cinco seis",
      8L -> span).toDF("doc_id", "text")
    val stats = Dedup.duplicateSpanStats(d, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.Caching.release(spark)
    assert(stats === Set((7L, 1L, 1L), (7L, 2L, 0L), (8L, 1L, 1L)),
      s"each row must carry ITS OWN window counts: $stats")
    val spans = Dedup.dedupSpans(d, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    graft.Caching.release(spark)
    // global first occurrence (min (id, pos)) keeps id 7's span copy; the
    // second id-7 row is untouched; id 8's copy is cut entirely
    assert(spans === Set((7L, span), (7L, "uno dos tres quatro cinco seis"),
      (8L, "")), s"losers must cut only their own row: $spans")
  }

  test("duplicateSpanStats equals the sequential model on real docs") {
    val k = 5
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val wins = texts.flatMap { case (id, text) =>
      wsTokens(text).sliding(k).filter(_.length == k)
        .map(w => id -> Hashing.md5Hash60(w.mkString(" "))).toSeq
    }
    val counts = wins.groupBy(_._2).view.mapValues(_.length).toMap
    val expected = texts.map { case (id, text) =>
      val ws = wins.filter(_._1 == id)
      id -> ((ws.length.toLong, ws.count(w => counts(w._2) > 1).toLong))
    }.toMap
    val got = Dedup.duplicateSpanStats(docs, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    graft.Caching.release(spark)
    assert(got == expected)
    assert(expected.values.exists(_._2 > 0), "corpus should contain duplicated spans")
  }

  test("dedupSpans cuts every duplicated span except the global first occurrence") {
    val span = "alpha beta gamma delta epsilon"
    val d = df(
      1L -> s"$span one two three four", // global first occurrence: survives
      2L -> s"zero $span", // loser: the span's 5 tokens are cut
      3L -> s"$span x $span", // loser twice: both occurrences cut (doc 1 won)
      4L -> "totally distinct words only here now",
      5L -> "tiny doc") // < 5 tokens: untouched
    val out = Dedup.dedupSpans(d, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    graft.Caching.release(spark)
    assert(out(1L) == ((9L, 0L, s"$span one two three four")))
    assert(out(2L) == ((6L, 5L, "zero")))
    // doc 3: both span occurrences lose; the bridging windows around 'x'
    // are unique but their tokens lie inside the cut spans — only 'x' has
    // covered-by-loser windows too (every window containing x is unique,
    // but x sits in NO losing window? positions 0-4 and 6-10 are the span
    // occurrences; 'x' at 5 is covered by windows starting 1..5, all
    // unique — so 'x' survives)
    assert(out(3L) == ((11L, 10L, "x")))
    assert(out(4L) == ((6L, 0L, "totally distinct words only here now")))
    assert(out(5L) == ((2L, 0L, "tiny doc")))
  }

  test("dedupSpans equals the sequential winner model on real docs and removes something") {
    val k = 5
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val wins = texts.flatMap { case (id, text) =>
      wsTokens(text).sliding(k).filter(_.length == k).zipWithIndex
        .map { case (w, p) => (id, p, Hashing.md5Hash60(w.mkString(" "))) }.toSeq
    }
    val byHash = wins.groupBy(_._3)
    val expected = texts.map { case (id, text) =>
      val toks = wsTokens(text)
      val loserStarts = wins.filter(_._1 == id).collect {
        case (_, p, h) if byHash(h).length > 1 &&
          byHash(h).map(o => (o._1, o._2)).min != ((id, p)) => p
      }
      val covered = loserStarts.flatMap(s => s until s + k).toSet
      val kept = toks.indices.filterNot(covered)
      (id, (toks.length.toLong, (toks.length - kept.length).toLong,
        kept.map(toks).mkString(" ")))
    }.toMap
    val got = Dedup.dedupSpans(docs, "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    graft.Caching.release(spark)
    assert(got == expected)
    assert(expected.values.exists(_._2 > 0), "corpus should lose some duplicated spans")
  }

  test("bm25TopK equals the sequential Okapi model and ranks denser matches first") {
    val terms = Seq("spark", "join")
    val d = df(
      1L -> "spark join spark join spark", // dense in both terms, short
      2L -> ("spark " + (1 to 40).map(i => s"pad$i").mkString(" ")), // one hit, long
      3L -> "join alpha beta", // one hit, short
      4L -> "nothing relevant here at all", // no hits: excluded
      5L -> "spark join extras padding words beyond")
    val got = graft.ext.TextAnalysis.bm25TopK(d, "doc_id", "text", terms, k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // sequential Okapi model with the declared quantizations
    def flog2(v: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(v)
    val docs5 = Map(
      1L -> "spark join spark join spark", 2L -> ("spark " + (1 to 40).map(i => s"pad$i").mkString(" ")),
      3L -> "join alpha beta", 4L -> "nothing relevant here at all",
      5L -> "spark join extras padding words beyond")
    val toks = docs5.view.mapValues(t => wsTokens(t.toLowerCase)).toMap
    val n = toks.size.toLong
    val l = toks.values.map(_.length.toLong).sum
    val av = 1000L * l / n
    val idf = terms.map(t => t ->
      (flog2(n + 1) - flog2(toks.values.count(_.contains(t)) + 1L))).toMap
    val scored = toks.toSeq.map { case (id, tk) =>
      val s = terms.map { t =>
        val tf = tk.count(_ == t).toLong
        (22L * av * idf(t) * tf).toDouble /
          (10L * av * tf + 3L * av + 9000L * tk.length).toDouble
      }.reduceLeft(_ + _)
      (id, s, terms.map(t => tk.count(_ == t)).sum)
    }.filter(_._3 > 0).sortBy { case (id, s, _) => (-s, id) }
    val expected = scored.take(3).zipWithIndex.map { case ((id, _, _), i) => (i + 1, id) }
    assert(got.toSeq == expected, s"got ${got.toSeq} want $expected")
    // invariants: the dense short doc wins; the no-hit doc never appears
    assert(got.head._2 == 1L)
    assert(!got.map(_._2).contains(4L))
  }

  test("bm25 guards: non-integral ids, fixed-point overflow, and degenerate gram n fail loudly") {
    import spark.implicits._
    val d = Seq(1L -> "the quick brown fox").toDF("doc_id", "text")
    // graft_topk carries ids as LONG: string ids get a descriptive
    // require, not the kernel's opaque type error
    val e1 = intercept[IllegalArgumentException] {
      graft.ext.TextAnalysis.bm25TopK(d.withColumn("doc_id", col("doc_id").cast("string")),
        "doc_id", "text", Seq("fox"), k = 3)
    }
    assert(e1.getMessage.contains("integral"), e1.getMessage)
    intercept[IllegalArgumentException] {
      graft.ext.TextAnalysis.bm25Join(
        d.withColumn("doc_id", col("doc_id").cast("string")), d.toDF("query_id", "text"),
        "doc_id", "text", "query_id", "text", k = 3)
    }
    // a million-token document pushes 22000·avgdlMilli·idf·tf past Long
    // range — the millitoken fixed-point must refuse at plan time (ANSI
    // would otherwise kill the job mid-scan; non-ANSI would misrank)
    val huge = Seq(1L -> Array.fill(1000000)("a").mkString(" ")).toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      graft.ext.TextAnalysis.bm25Join(huge, d.toDF("query_id", "text"),
        "doc_id", "text", "query_id", "text", k = 3)
    }
    assert(e2.getMessage.contains("overflow"), e2.getMessage)
    // n = 0 grams would mark every train doc contaminated via one
    // universal empty gram — rejected up front
    intercept[IllegalArgumentException] {
      graft.ext.Decontaminate.docGrams(d, "doc_id", "text", 0)
    }
  }

  test("bm25TopK on the real corpus matches the full-ranking model at k=50") {
    val terms = Seq("dup", "spark", "window") // the declared x58 mix: one rare term, two stopwords
    def flog2(v: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(v)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> wsTokens(r.getString(1).toLowerCase))
    val n = texts.length.toLong
    val l = texts.map(_._2.length.toLong).sum
    val av = 1000L * l / n
    val idf = terms.map(t => t ->
      (flog2(n + 1) - flog2(texts.count(_._2.contains(t)) + 1L))).toMap
    val expected = texts.map { case (id, tk) =>
      val s = terms.map { t =>
        val tf = tk.count(_ == t).toLong
        (22L * av * idf(t) * tf).toDouble /
          (10L * av * tf + 3L * av + 9000L * tk.length).toDouble
      }.reduceLeft(_ + _)
      (id, s, terms.map(t => tk.count(_ == t)).sum)
    }.filter(_._3 > 0).sortBy { case (id, s, _) => (-s, id) }
      .take(50).zipWithIndex.map { case ((id, _, _), i) => ((i + 1), id) }
    val got = graft.ext.TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, k = 50)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == expected.toSeq)
    assert(got.size == 50)
  }

  test("chunkByTokens composes with bm25TopK: chunk-level retrieval localizes the hit") {
    // the RAG shape end-to-end: chunk the corpus, rank CHUNKS for the
    // query — the winning chunk must be the one containing the dense
    // match, not merely the right document
    val filler = (1 to 40).map(i => s"filler$i").mkString(" ")
    val d = df(
      1L -> s"$filler spark join spark join spark", // hit lives in the 2nd window
      2L -> s"$filler $filler")
    val chunks = Sharding.chunkByTokens(d, "doc_id", "text", window = 32, stride = 16)
      .withColumn("chunk_uid", col("doc_id") * 1024 + col("chunk_id"))
    val top = graft.ext.TextAnalysis.bm25TopK(chunks, "chunk_uid", "chunk_text",
        Seq("spark", "join"), k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // doc 1 has 45 tokens -> chunks at starts 0, 16 (covering 16..44);
    // only chunks of doc 1 match at all, and the start-16 chunk (uid
    // 1*1024+1) carries all five hits
    assert(top.head == ((1, 1L * 1024 + 1)), s"got ${top.toSeq}")
    assert(top.forall(_._2 / 1024 == 1L), "only doc 1's chunks may match")
  }

  test("bm25Join equals the sequential posting model; the df cap drops stopword-only matches") {
    val corpus = df(
      1L -> "spark join fast engine",
      2L -> "spark spark spark common words",
      3L -> "join the common words club today",
      4L -> "unrelated text entirely elsewhere",
      5L -> "common common common common")
    val queries = df(10L -> "spark join", 11L -> "common", 12L -> "absent-term")
    def model(cap: Option[Long], k: Int): Seq[(Long, Int, Long)] = {
      def flog2(v: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(v)
      val toks = Map(1L -> "spark join fast engine", 2L -> "spark spark spark common words",
        3L -> "join the common words club today", 4L -> "unrelated text entirely elsewhere",
        5L -> "common common common common").view.mapValues(t => wsTokens(t.toLowerCase)).toMap
      val n = toks.size.toLong
      val av = 1000L * toks.values.map(_.length.toLong).sum / n
      val dfc = toks.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val qs = Map(10L -> Seq("spark", "join"), 11L -> Seq("common"), 12L -> Seq("absent-term"))
      qs.toSeq.flatMap { case (qid, terms) =>
        val present = toks.toSeq.flatMap { case (doc, tk) =>
          val matchedTerms = terms.filter(t => dfc.get(t).exists(d => cap.forall(_ >= d)) && tk.contains(t))
          if (matchedTerms.isEmpty) None
          else Some((doc, matchedTerms.map { t =>
            val tf = tk.count(_ == t).toLong
            (22000L * av * (flog2(n + 1) - flog2(dfc(t) + 1)) * tf) /
              (10L * av * tf + 3L * av + 9000L * tk.length)
          }.sum))
        }
        present.sortBy { case (doc, s) => (-s, doc) }.take(k).zipWithIndex
          .map { case ((doc, _), i) => (qid, i + 1, doc) }
      }.sortBy(r => (r._1, r._2))
    }
    val got = graft.ext.TextAnalysis.bm25Join(corpus, queries,
        "doc_id", "text", "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      .sortBy(r => (r._1, r._2))
    graft.Caching.release(spark)
    assert(got == model(None, 3), s"got $got want ${model(None, 3)}")
    // query 12's term exists nowhere: no rows for it
    assert(!got.exists(_._1 == 12L))
    // cap at df <= 2 drops 'common' (df 3): query 11 loses ALL its matches
    val capped = graft.ext.TextAnalysis.bm25Join(corpus, queries,
        "doc_id", "text", "doc_id", "text", k = 3, maxTermDf = Some(2L))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    graft.Caching.release(spark)
    assert(!capped.exists(_._1 == 11L), s"capped: $capped")
    assert(capped.exists(_._1 == 10L), "uncapped terms keep retrieving")
  }

  test("pipeline spanRemovalK: boilerplate cut before near-dup, hollowed docs re-gated out") {
    val boiler = "the cat and the dog have fun with that hat" // 10 tokens, en
    val body2 = "that was the day we all went to the market for apples"
    val body3 = "but nobody could have known the storm was coming that night"
    val d = df(
      1L -> s"$boiler and so the story begins with a happy note",
      2L -> s"$boiler $body2",
      3L -> s"$boiler $body3",
      4L -> boiler) // hollowed to zero tokens by span removal
    val cfg = CurationPipeline.Config(minTokens = 3L, maxTokens = 1000L,
      langs = Set("en"), tokensPerShard = 100L, shardBuckets = 2,
      spanRemovalK = Some(5))
    val stages = CurationPipeline.stageOutputs(d, "doc_id", "text", None, cfg)
    assert(stages.map(_._1).contains("span_removal"))
    val span = stages.find(_._1 == "span_removal").get._2
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = CurationPipeline.run(d, "doc_id", "text", None, cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    // doc 1 owns the boilerplate's first occurrence: text intact
    assert(span(1L) == s"$boiler and so the story begins with a happy note")
    // docs 2/3 lose exactly the boilerplate prefix
    assert(span(2L) == body2, s"got '${span(2L)}'")
    assert(span(3L) == body3)
    // doc 4 was ONLY boilerplate: hollowed below minTokens, re-gated away
    assert(!span.contains(4L))
    assert(out == Set(1L, 2L, 3L))
  }

  test("pipeline logOddsPositive: gate keeps exactly the docs scoring >= the threshold") {
    val stop = "the be to of and that have with"
    // per-doc-unique content vocab so the near-dup stage cannot pair docs;
    // the stopword prefix alone is below the 0.5 Jaccard threshold
    val ref = (1L to 8L).map(i =>
      i -> s"$stop ${(1 to 10).map(j => s"good${i}_$j").mkString(" ")}")
    val crawl = (100L to 115L).map(i =>
      i -> s"$stop ${(1 to 10).map(j => s"bad${i}_$j").mkString(" ")}")
    val d = df(ref ++ crawl: _*)
    val cfg0 = CurationPipeline.Config(minTokens = 3L, maxTokens = 1000L,
      langs = Set("en"), tokensPerShard = 100L, shardBuckets = 2)
    // all docs pass the narrow filters, so training happens on the full set
    val narrowPass = CurationPipeline.run(d, "doc_id", "text", None, cfg0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(narrowPass == (ref ++ crawl).map(_._1).toSet, s"narrow filters interfered: $narrowPass")
    val scores = graft.ext.TextAnalysis.hashedLogOdds(d, "doc_id", "text",
        expr("doc_id <= 8"), 4096)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    graft.Caching.release(spark)
    val refMin = ref.map(r => scores(r._1)).min
    val crawlMax = crawl.map(c => scores(c._1)).max
    assert(refMin > crawlMax, "vocab-disjoint corpora must separate")
    val tau = (refMin + crawlMax) / 2
    val kept = CurationPipeline.run(d, "doc_id", "text", None,
        cfg0.copy(logOddsPositive = Some("doc_id <= 8"), minLogOddsBits = tau))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Caching.release(spark)
    assert(kept == ref.map(_._1).toSet, s"got $kept")
  }

  test("streamIncrement rejects the batch-only span-removal and log-odds config loudly") {
    import spark.implicits._
    val state = CurationPipeline.StreamState("tsr_reject", "/tmp/tsr_reject", 2)
    val batch = Seq((1L, "some text here")).toDF("doc_id", "text")
    val base = CurationPipeline.Config(maxGramDf = None)
    val e1 = intercept[IllegalArgumentException](
      CurationPipeline.streamIncrement(batch, "doc_id", "text", None,
        base.copy(spanRemovalK = Some(5)), state, 0L))
    assert(e1.getMessage.contains("spanRemovalK"))
    val e2 = intercept[IllegalArgumentException](
      CurationPipeline.streamIncrement(batch, "doc_id", "text", None,
        base.copy(logOddsPositive = Some("doc_id < 0")), state, 0L))
    assert(e2.getMessage.contains("logOddsPositive"))
  }

  test("trainLogOdds + scoreLogOdds equals hashedLogOdds bit-for-bit; scores a stream unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = (1L to 8L).map(i =>
      i -> (1 to 30).map(j => s"good${(i + j) % 40}").mkString(" "))
    val crawl = (100L to 115L).map(i =>
      i -> (1 to 30).map(j => s"bad${(i + j) % 80}").mkString(" "))
    val d = df((ref ++ crawl) :+ (200L -> " "): _*)
    val dim = 64
    val trained = graft.ext.TextAnalysis.hashedLogOdds(d, "doc_id", "text",
        col("doc_id") <= 8L, dim)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), Option(r.get(2)).map(_ => r.getDouble(2))))).toMap
    graft.Caching.release(spark)
    val model = graft.ext.TextAnalysis.trainLogOdds(d, "doc_id", "text",
      col("doc_id") <= 8L, dim)
    val frozen = graft.ext.TextAnalysis.scoreLogOdds(d, "text", model)
      .select("doc_id", "n_tokens", "logodds_bits")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), Option(r.get(2)).map(_ => r.getDouble(2))))).toMap
    assert(frozen == trained, "frozen scoring must be bit-identical to train-and-score")
    // the SAME projection runs as an append-mode stream with no state
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.ext.TextAnalysis.scoreLogOdds(
        input.toDF().toDF("doc_id", "text"), "text", model)
      .writeStream.format("memory").queryName("lo_scores").outputMode("append").start()
    try {
      input.addData(1L -> ref.head._2, 2L -> crawl.head._2)
      q.processAllAvailable()
      input.addData(3L -> ref(1)._2) // second batch: no state carried
      q.processAllAvailable()
      val rows = spark.table("lo_scores").select("doc_id", "logodds_bits")
        .as[(Long, Double)].collect().toMap
      assert(rows(1L) == trained(1L)._2.get && rows(3L) == trained(2L)._2.get)
      assert(rows(2L) == trained(100L)._2.get)
      assert(q.lastProgress == null ||
        q.recentProgress.forall(_.stateOperators.isEmpty),
        "frozen scoring must be stateless")
    } finally q.stop()
  }

  test("hashedLogOdds separates vocabulary-distinct corpora and matches the sequential model") {
    val dim = 64
    val ref = (1L to 8L).map(i =>
      i -> (1 to 30).map(j => s"good${(i + j) % 40}").mkString(" "))
    val crawl = (100L to 115L).map(i =>
      i -> (1 to 30).map(j => s"bad${(i + j) % 80}").mkString(" "))
    val d = df((ref ++ crawl) :+ (200L -> "   "): _*)
    val got = graft.ext.TextAnalysis.hashedLogOdds(d, "doc_id", "text",
        positive = col("doc_id") <= 8L, dim = dim)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), Option(r.get(2)).map(_ => r.getDouble(2))))).toMap
    graft.Caching.release(spark)
    // sequential model: bucket counts, add-one floor-log2 log-odds, prior
    def flog2(v: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(v)
    def bucket(tok: String): Long = Hashing.md5Hash60(tok) % dim
    val all = (ref.map(r => (r._1, r._2, true)) ++ crawl.map(c => (c._1, c._2, false)))
    val cp = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val cn = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    all.foreach { case (_, text, pos) =>
      wsTokens(text.toLowerCase).foreach { t =>
        if (pos) cp(bucket(t)) += 1 else cn(bucket(t)) += 1
      }
    }
    val prior = flog2(cp.values.sum + dim) - flog2(cn.values.sum + dim)
    all.foreach { case (id, text, _) =>
      val toks = wsTokens(text.toLowerCase)
      val s = toks.map(t => flog2(cp(bucket(t)) + 1) - flog2(cn(bucket(t)) + 1)).sum
      val exp = (s - toks.length * prior).toDouble / toks.length
      assert(got(id) == ((toks.length.toLong, Some(exp))), s"doc $id")
    }
    assert(got(200L) == ((0L, None)), "token-less doc: n_tokens 0, NULL score")
    // the classifier's point: every reference doc outscores every crawl doc
    val refScores = ref.map(r => got(r._1)._2.get)
    val crawlScores = crawl.map(c => got(c._1)._2.get)
    assert(refScores.min > crawlScores.max,
      s"ref ${refScores.min} must outscore crawl ${crawlScores.max}")
  }

  test("actions per streaming increment are pinned: they cannot silently grow") {
    // the r11 overhead work holds only while the per-micro-batch ACTION
    // count stays fixed (pairs write, two concurrent index appends,
    // curated + offsets writes, hash append = 6; the LSH increment alone =
    // 3). A stray .count()/debug collect or a split write would re-grow
    // the per-batch fixed cost the bench just paid down — pin the exact
    // counts via a QueryExecutionListener (every top-level action fires
    // one onSuccess; broadcasts/persists ride their parent action).
    val en20 = (1 to 20).map(i => s"word$i").mkString(" ")
    def body(tag: String) = en20 + " the quick brown fox " + tag
    val cfg = CurationPipeline.Config(minTokens = 20L, langs = Set("en"),
      nearDupThreshold = 0.5, maxGramDf = None,
      splits = Seq("train" -> 1.0), tokensPerShard = 25L, shardBuckets = 2)
    val hg = CurationPipeline.holdoutGramSet(
      df(100L -> body("holdout")), "doc_id", "text", cfg)
    hg.write.format("noop").mode("overwrite").save() // materialize outside the window
    val state = CurationPipeline.StreamState("tactions",
      java.nio.file.Files.createTempDirectory("graft_cur_actions").toString, numBuckets = 2)
    state.dropTables(spark)
    val counter = new java.util.concurrent.atomic.AtomicInteger
    // count PHYSICAL file-insert commands only: a saveAsTable fires a
    // nest of listener events (SaveAsV1Table > CreateDataSourceTableAsSelect
    // > InsertIntoHadoopFsRelation) but bottoms out in exactly ONE insert,
    // and a plain dir write IS one insert — so inserts == writes
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (qe.logical.getClass.getSimpleName == "InsertIntoHadoopFsRelationCommand")
          { counter.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // the listener bus is async: poll until the count is stable for 1.5 s
    // (generous — a loaded box can lag the bus; a short window would
    // undercount and flake)
    def settled(): Int = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var last = -1
      var lastChange = System.nanoTime()
      while (System.nanoTime() < deadline &&
        (counter.get() != last || System.nanoTime() - lastChange < 1500L * 1000 * 1000)) {
        if (counter.get() != last) { last = counter.get(); lastChange = System.nanoTime() }
        Thread.sleep(50)
      }
      counter.get()
    }
    spark.listenerManager.register(listener)
    try {
      val checks = new graft.ext.TableChecks
      Seq(0L, 1L).foreach { i =>
        counter.set(0)
        CurationPipeline.streamIncrement(
          df((10 * i + 1) -> body(s"a$i"), (10 * i + 2) -> body(s"b$i")),
          "doc_id", "text", Some(hg), cfg, state, batchId = i, checks = checks)
        val n = settled()
        assert(n == 6,
          s"streamIncrement batch $i ran $n write actions, pinned at 6 " +
            "(pairs, bands append, shingles append, curated, offsets, hash)")
      }
      val idx = Dedup.LshIndex("tactions_bands", "tactions_shingles", numBuckets = 2)
      Seq(idx.bandsTable, idx.shinglesTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val pairsDir = java.nio.file.Files.createTempDirectory("graft_lsh_actions")
        .resolve("pairs").toString
      val lshChecks = new graft.ext.TableChecks
      Seq(0L, 1L).foreach { i =>
        counter.set(0)
        Dedup.minHashLshIncrement(
          df((10 * i + 1) -> body(s"a$i"), (10 * i + 2) -> body(s"b$i")),
          "doc_id", "text", 0.5, idx, pairsDir, batchId = i, checks = lshChecks)
        val n = settled()
        assert(n == 3,
          s"minHashLshIncrement batch $i ran $n write actions, pinned at 3 " +
            "(pairs write + two index appends)")
      }
      Seq(idx.bandsTable, idx.shinglesTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally {
      spark.listenerManager.unregister(listener)
      graft.Caching.release(spark)
      state.dropTables(spark)
    }
  }
}
