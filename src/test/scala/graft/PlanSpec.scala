package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, posexplode, sum}

import graft.sinks.Sinks

/** Physical-plan regression tests: the properties that make the declared
  * queries scale — filter/projection pushdown into the parquet scan,
  * broadcast of dimension tables, and the absence of nested-loop/cartesian
  * operators on the similarity paths — asserted so a refactor that silently
  * degrades a plan fails CI, not the 100 TB run.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    Queries.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  private def run(name: String): DataFrame = Queries.queries(name)(spark, sf())

  test("q01 filter reaches the parquet scan as a pushed filter") {
    val p = plan("q01_filter")
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThan(l_quantity"), p)
  }

  test("q03 projection prunes the orders scan to two columns") {
    val p = plan("q03_transform_value")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"), p)
  }

  test("stream-table joins broadcast the dimension side (q08/q09)") {
    assert(plan("q08_stream_table_inner").contains("BroadcastHashJoin"), "q08")
    assert(plan("q09_stream_table_left").contains("BroadcastHashJoin"), "q09")
  }

  test("similarity paths have no nested-loop or cartesian operator (x03/x05)") {
    Seq("x03_dedup_minhash_lsh", "x05_ann_cosine_pairs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has BroadcastNestedLoopJoin")
      assert(!p.contains("CartesianProduct"), s"$q has CartesianProduct")
    }
  }

  test("x05 candidate pairs are deduped in-row, not by a corpus-scale distinct") {
    // a pair colliding in several SRP bands is emitted once by its first
    // colliding band (Similarity.firstBandOnly — bit arithmetic on the two
    // signatures the join row carries); a regression back to
    // .distinct() would shuffle the band-join output at up to nBands x the
    // candidate count. The only aggregate keyed on the pair ids would be
    // that distinct — pin its absence.
    val p = plan("x05_ann_cosine_pairs")
    assert(!p.contains("HashAggregate(keys=[id_a"),
      "candidate distinct reappeared: " + p.take(2000))
    assert(!p.contains("HashAggregate(keys=[id_b"),
      "candidate distinct reappeared: " + p.take(2000))
  }

  test("x34 line dedup: partial-aggregated survivor min, never a per-line window sort") {
    val p = plan("x34_line_dedup")
    // the survivor decision must combine map-side: a boilerplate line in a
    // billion docs is one hot key, and a window formulation would sort all
    // its occurrences inside one task
    assert(p.contains("partial_min"), p.take(2000))
    assert(!p.contains("Window"), "hot lines must not window-sort: " + p.take(2000))
    assert(!p.contains("ScalaUDF") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("x32 phash pairs: codegen kernel, band equi-join, no cartesian/NLJ/UDF") {
    val p = plan("x32_mm_phash_pairs")
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pairs must come from the pigeonhole band equi-join: " + p.take(2000))
  }

  test("signature stages run as native expressions, not Scala UDFs (x03/x04/x05/x10)") {
    // the MinHash band keys, SRP signatures, SimHash and winnowing
    // fingerprints all moved from UDFs into codegen Catalyst expressions; a
    // regression back to ScalaUDF would silently reintroduce per-row boxing
    // on the dedup/similarity/fingerprint scans
    Seq("x03_dedup_minhash_lsh", "x04_dedup_simhash", "x05_ann_cosine_pairs",
      "x10_fingerprints").foreach { q =>
      assert(!plan(q).contains("ScalaUDF"), q)
    }
    // the MinHash signature is the scalar in-row kernel over each doc's
    // distinct shingle set (r17 set-based path — no signature aggregate
    // exchange, no explode+distinct exchange) and no collect_list of a
    // document's whole shingle set ever appears
    val p = plan("x03_dedup_minhash_lsh")
    assert(p.contains("minhashbands"), p.take(2000))
    assert(!p.contains("collect_list"), "shingle lists must never materialize: " + p.take(2000))
  }

  test("x03 reads its shingle-set frame from cache: every reference scans the persist, not parquet") {
    // minHashLshDocs references the per-doc set frame 6 times (both band
    // self-join sides, both verify-join sides, both size projections); the
    // scoped persist makes the tokenize+shingle+minhash scan run once —
    // relying on ReusedExchange instead is plan luck, and a missed reuse
    // rescans the whole corpus up to 6×
    val p = plan("x03_dedup_minhash_lsh")
    // >= 6, the documented reference count (r17 ADVICE: the former >= 4
    // floor let two references silently fall off the cache)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 6,
      "set-frame references must hit the scoped cache: " + p.take(2000))
    // the r17 restructure's point: the former explode+distinct and
    // signature-aggregate exchanges are gone — the only aggregates left in
    // the pair plan are the candidate distinct and the verify count
    assert(!p.contains("partial_minhashbandsagg"),
      "set-based path must band in-row, not re-aggregate: " + p.take(2000))
    Caching.release(spark)
  }

  test("x70 cross dedup: band equi-join with in-row signature kernels, no NLJ/cartesian/UDF") {
    // candidates must come from the between-side (band, band_key) equi-join
    // — n_corpus × n_ref never materializes — and both sides band via the
    // scalar in-row kernel (r17 set-based path: no signature aggregate
    // exchange; no collect_list of a document's shingles)
    val p = plan("x70_cross_dedup_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert("minhashbands".r.findAllIn(p).size >= 2,
      "both corpora must band via the shared in-row kernel: " + p.take(2000))
    // "minhashbands" is a substring of the old aggregate's plan name too
    // (r17 ADVICE): a regression back to the aggregate path must fail here,
    // not just in the x03 test
    assert(!p.contains("minhashbandsagg"),
      "set-based path must band in-row, not re-aggregate: " + p.take(2000))
    assert(!p.contains("collect_list"), p.take(2000))
    Caching.release(spark)
  }

  test("aggregations are hash aggregates with map-side partial merge (q05/q06)") {
    Seq("q05_count_by_key", "q06_sum_by_key").foreach { q =>
      val p = plan(q)
      assert(p.contains("HashAggregate"), s"$q not hash agg")
      // partial_* before the exchange = the reference's RocksDB merge-operator
      // aggregation pushdown, supplied by Spark's partial aggregation
      assert(p.contains("partial_count") || p.contains("partial_sum"), s"$q lacks partial agg")
    }
  }

  test("rate limiter plan is one shuffle + in-partition sort (no global sort, no collect)") {
    val p = plan("q15_rate_limiter")
    assert(p.contains("Exchange hashpartitioning"), p)
    // sortWithinPartitions: Sort with global=false
    assert(p.contains("Sort [") && p.contains("false, 0"), p)
    assert(!p.contains("Exchange rangepartitioning"), "global sort would be a scale bug: " + p)
  }

  test("x02's declared plan carries the shingle-df cap as an anti-join") {
    // the skew guard: without it one hot shingle shared by k docs creates k²
    // join rows on a single key; the declared query must never lose the cap
    val p = plan("x02_dedup_jaccard")
    assert(p.contains("LeftAnti"), p.take(2000))
  }

  test("x15 decontamination carries its df cap as an anti-join, no cartesian") {
    val p = plan("x15_decontaminate")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("x16 hash split is pure projection: zero exchanges, zero UDFs") {
    val p = plan("x16_hash_split")
    assert(!p.contains("Exchange"), "split must not shuffle: " + p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x40 semantic decontamination: banded equi-joins only, no cartesian/NLJ/UDF") {
    val p = plan("x40_semantic_decontaminate")
    graft.Caching.release(spark)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the SRP band equi-join: " + p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x41 temperature sample decision is a pure codegen filter: zero exchanges/joins/UDFs") {
    // the per-source aggregate runs once at build time (bounded by source
    // count); the returned KEPT/DROPPED decision itself must be narrow
    val p = plan("x41_temperature_sample")
    assert(!p.contains("Exchange"), "the keep decision must not shuffle: " + p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x48 resample decision is codegen + one narrow explode: zero exchanges/joins/UDFs") {
    val p = plan("x48_temperature_resample")
    assert(!p.contains("Exchange"), "the copy decision must not shuffle: " + p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert(p.contains("Generate"), "epoch expansion must be an explode: " + p.take(2000))
  }

  test("x42 component split: equi-joins only, no cartesian/NLJ/UDF") {
    val p = plan("x42_component_split")
    graft.Caching.release(spark)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x51 bigram quality: equi-joins + map-side-combined aggregates, no cartesian/NLJ/UDF") {
    val p = plan("x51_bigram_quality")
    graft.Caching.release(spark)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "pre-counts must combine map-side: " + p.take(2000))
  }

  test("x43 unigram quality: equi-joins + map-side-combined aggregates, no cartesian/NLJ/UDF") {
    val p = plan("x43_unigram_quality")
    graft.Caching.release(spark)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "frequency lookup must be an equi-join: " + p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "token aggregation must map-side combine: " + p.take(2000))
  }

  test("x44 gopher filter is pure per-row projection: zero shuffle, zero UDFs") {
    val p = plan("x44_gopher_filter")
    assert(!p.contains("Exchange"), "all seven rules are narrow: " + p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x63/x64/x65 feature extraction is a fully narrow scan: zero shuffle") {
    // decode → grid/envelope/pool → L2-normalize → posexplode is per-row
    // end to end (the fixture-synthesis UDF is the one allowed ScalaUDF);
    // an Exchange here would mean the multimodal stage started shuffling
    // payload bytes — the scale bug for a 100 TB binary-column corpus
    Seq("x63_mm_features", "x64_mm_audio_features", "x65_mm_video_features").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must stay narrow: " + p.take(2000))
    }
  }

  test("x66/x69 exact-BPE tokenize + chunk are fully narrow codegen scans: zero shuffle, no UDF") {
    // the tokenizer rides as a native expression (graft_bpe_count/_ids with
    // the frozen model as a plan literal); an Exchange or ScalaUDF here
    // means a 100 TB tokenize pass started shuffling text or boxing rows
    Seq("x66_bpe_token_count", "x69_bpe_chunks").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must stay narrow: " + p.take(2000))
      assert(!p.contains("ScalaUDF"), s"$q must stay native: " + p.take(2000))
      assert(p.contains("graft_bpe_"), s"$q must tokenize via the native expression: " + p.take(2000))
    }
  }

  test("x68 bounded BM25 rider: posting-list equi-join with the df cap, never a cartesian/NLJ") {
    val p = plan("x68_bm25_bounded")
    graft.Caching.release(spark)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      "retrieval must not global-sort the candidate set: " + p.take(2000))
  }

  test("x45 quality-ranked collapse: argmax via hash aggregate, no window sort, no cartesian/NLJ") {
    val p = plan("x45_collapse_best")
    graft.Caching.release(spark)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Window"),
      "survivor selection must be a struct-max aggregate, not a window: " + p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x17 sharding windows per bucket: hash exchange only, no global range sort") {
    val p = plan("x17_token_shards")
    assert(p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      "a global-sort window would serialize the corpus through one partition: " + p.take(2000))
    // the window sort is within partitions (global=false)
    assert(p.contains("Sort [") && p.contains("false, 0"), p.take(2000))
  }

  test("x37 shuffle order windows per bucket: hash exchange only, no global range sort") {
    val p = plan("x37_shuffle_order")
    assert(p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      "a global rank would serialize the corpus through one partition: " + p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x35 sequence packing windows per bucket: hash exchange only, no global range sort") {
    val p = plan("x35_sequence_pack")
    assert(p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      "a global-sort window would serialize the corpus through one partition: " + p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x18 pipeline plan: no cartesian/NLJ anywhere, no rangepartitioning, UDF-free") {
    val p = plan("x18_curation_pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x20 repetition metrics run as one codegen kernel, no interpreted lambdas") {
    val p = plan("x20_repetition")
    assert(p.contains("repetitionstats") || p.contains("graft_repetition"), p.take(2000))
    assert(!p.contains("lambdafunction"),
      "interpreted higher-order lambdas regressed the kernel 1000x once: " + p.take(2000))
  }

  test("ktable snapshot aggregates with map-side partial max_by, no window sort (q07)") {
    val p = plan("q07_ktable_latest")
    assert(p.contains("partial_max_by"), p.take(2000))
    assert(!p.contains("Window"), "LWW must not window-sort the changelog: " + p.take(2000))
  }

  test("x19 per-group cap selects via bounded partial aggregation + semi join, no window") {
    val p = plan("x19_cap_per_group")
    assert(p.contains("partial_bottomkidsbylong"), p.take(2000))
    assert(!p.contains("Window"), "a hot group must not sort inside one task: " + p.take(2000))
    assert(p.contains("LeftSemi"), p.take(2000))
  }

  test("top-k paths reduce via bounded partial aggregation, never a full per-group sort (x06/x07)") {
    for (q <- Seq("x06_ann_ivf_topk", "x07_ann_topk")) {
      val p = plan(q)
      assert(p.contains("ObjectHashAggregate") && p.contains("partial_topkbyscore"),
        s"$q lacks the map-side partial top-k: " + p.take(2000))
      assert(!p.contains("Window"), s"$q still window-sorts every candidate: " + p.take(2000))
    }
  }

  test("x47 pq plan: codegen ADC scoring into a bounded partial top-k, no per-group sort") {
    val p = plan("x47_pq_topk")
    graft.Caching.release(spark)
    assert(p.contains("graft_pq_adc"),
      "ADC scoring must be the codegen expression: " + p.take(2000))
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_topkbyscore"),
      "ADC shortlist must reduce via map-side partial top-k: " + p.take(2000))
    assert(!p.contains("Window"), "pq path must never window-sort candidates: " + p.take(2000))
    // the query LUT side broadcasts; the corpus codes side must not be
    // exchanged before the scoring join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query LUTs must broadcast: " + p.take(2000))
  }

  test("x46 bloom pre-filter is a scan-side filter, not a join") {
    val p = plan("x46_bloom_decontaminate")
    graft.Caching.release(spark)
    assert(p.toLowerCase.contains("bloommightcontain") || p.contains("graft_bloom_contains"),
      "bloom probe missing from the train-side filter: " + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("codegen dot product appears in the x05 verification filter") {
    val p = plan("x05_ann_cosine_pairs")
    assert(p.contains("floatvectordot"), p.take(2000))
  }

  test("Bench.session is GraftSession.local with Spark's default broadcast threshold") {
    import org.apache.spark.sql.internal.SQLConf
    import graft.streaming.LocalCheckpointFileManager
    val threshold = SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key
    val partitions = SQLConf.SHUFFLE_PARTITIONS.key
    val (prevThreshold, prevPartitions, prevManager) = (spark.conf.get(threshold),
      spark.conf.get(partitions), spark.conf.get(LocalCheckpointFileManager.ConfKey))
    // builder confs land on the shared session, so these must come from the call
    spark.conf.set(threshold, "1")
    spark.conf.unset(LocalCheckpointFileManager.ConfKey)
    try {
      val bench = Bench.session()
      assert(bench.sessionState.conf.autoBroadcastJoinThreshold ==
        SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.defaultValue.get)
      assert(bench.conf.get(LocalCheckpointFileManager.ConfKey) ==
        classOf[LocalCheckpointFileManager].getName)
      assert(bench.catalog.functionExists("graft_dot"))
      assert(GraftSession.local().sessionState.conf.autoBroadcastJoinThreshold == 64L * 1024 * 1024)
    } finally {
      spark.conf.set(threshold, prevThreshold)
      spark.conf.set(partitions, prevPartitions)
      spark.conf.set(LocalCheckpointFileManager.ConfKey, prevManager)
      spark.sparkContext.setLogLevel("ERROR")
    }
  }

  test("bucketed tables join and aggregate with NO exchange (co-located join path)") {
    import graft.sources.Tables
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable broadcast so the test exercises the big-big join shape the
    // bucketing exists for (at 100 TB neither side broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Sinks.bucketedTable(Tables.load(spark, sf(), "customer"),
        "bkt_customer", 4, Seq("c_custkey"))
      Sinks.bucketedTable(Tables.load(spark, sf(), "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"),
        "bkt_orders", 4, Seq("o_custkey"))
      val joined = spark.table("bkt_orders").join(spark.table("bkt_customer"),
        col("o_custkey") === col("c_custkey"))
        .groupBy("o_custkey").agg(count(lit(1)).as("n"), sum("o_totalprice").as("tp"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(1500))
      assert(!p.contains("Exchange"),
        "bucketed join must be exchange-free: " + p.take(1500))
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      dropTableHard("bkt_customer")
      dropTableHard("bkt_orders")
    }
  }

  test("flagship entry plan broadcasts dims and aggregates pre-shuffle (partial agg)") {
    val p = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("x21 as-of join is union+window — no join operator, no range/NLJ fallback") {
    val p = plan("x21_asof_join")
    // the as-of itself must not plan as a join: an inequality join would
    // fall back to BroadcastNestedLoopJoin and die at scale (the only join
    // allowed here is none — the right side arrives via the union)
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("Window") && p.contains("Union"), p.take(2000))
  }

  test("x22 sessionize is one hash exchange + in-partition sort, no global sort") {
    val p = plan("x22_sessionize")
    assert(p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
  }

  test("x28 session rollup reuses the window's hash partitioning: exactly one exchange") {
    // hashpartitioning(user_id) already clusters (user_id, session_idx), so
    // the rollup aggregate must not add a second shuffle on top of the
    // sessionization window
    val p = plan("x28_session_rollup")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
  }

  test("x23 kmv sketch aggregates with map-side partials (bounded k-set per partition)") {
    val p = plan("x23_kmv_distinct")
    assert(p.contains("partial_kminvalues"), p.take(2000))
    assert(!p.contains("Expand"), "must not expand like count-distinct: " + p.take(2000))
  }

  test("x29 fingerprint pairs carry the df cap as an anti-join, no cartesian/NLJ") {
    val p = plan("x29_fingerprint_pairs")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
    Caching.release(spark)
  }

  test("x30 probe join reads the band index bucketed: only the batch side shuffles") {
    import spark.implicits._
    import graft.ext.Dedup
    val idx = Dedup.LshIndex("pin_bands", "pin_shingles", numBuckets = 4)
    dropTableHard(idx.bandsTable)
    dropTableHard(idx.shinglesTable)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // at 100 TB the corpus index broadcasts nowhere: pin the big-big shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p30 = (1 to 30).map(i => s"w$i").mkString(" ")
      Dedup.minHashLshIncrement(Seq(1L -> s"$p30 a").toDF("doc_id", "text"),
        "doc_id", "text", 0.5, idx, java.nio.file.Files
          .createTempDirectory("graft_pin").resolve("pairs").toString, 0L)
      // the production band shape: posexplode of the in-row band keys
      val batchBands = Dedup.shingleSetsWithBands(Seq(2L -> s"$p30 b").toDF("doc_id", "text"),
          "doc_id", "text", 3, 64, 2)
        .select(col("id"), posexplode(col("bk")).as(Seq("band", "band_key")))
      val p = Dedup.crossCandidates(batchBands, idx)
        .queryExecution.executedPlan.toString
      // the stored corpus side is bucketed on the join keys and must be
      // read pre-partitioned — the probe join adds exactly ONE exchange
      // (the micro-batch side) on top of the batch pipeline's own shuffles,
      // so probe cost scales with the batch, never the corpus
      val batchOwn = "Exchange hashpartitioning".r
        .findAllIn(batchBands.queryExecution.executedPlan.toString).size
      assert(p.contains("Bucketed: true"), "index scan must be bucketed: " + p.take(2000))
      assert("Exchange hashpartitioning".r.findAllIn(p).size === batchOwn + 1,
        "only the batch side may shuffle: " + p.take(2000))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
      // compaction rewrites with the same bucket spec — the exchange-free
      // contract must hold on the compacted table too
      Dedup.compactIndex(spark, idx)
      val pc = Dedup.crossCandidates(batchBands, idx)
        .queryExecution.executedPlan.toString
      assert(pc.contains("Bucketed: true"),
        "compacted index scan must stay bucketed: " + pc.take(2000))
      assert("Exchange hashpartitioning".r.findAllIn(pc).size === batchOwn + 1,
        "compaction must not reintroduce an index-side shuffle: " + pc.take(2000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      dropTableHard(idx.bandsTable)
      dropTableHard(idx.shinglesTable)
    }
  }

  test("x72 index probe reads the stored index bucketed, no cartesian/NLJ/UDF") {
    import spark.implicits._
    import graft.ext.Dedup
    val suffix = java.lang.Long.toHexString(System.nanoTime())
    val idx = Dedup.LshIndex(s"pin72_bands_$suffix", s"pin72_shingles_$suffix",
      numBuckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // at 100 TB the reference index broadcasts nowhere: pin the big-big shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p30 = (1 to 30).map(i => s"w$i").mkString(" ")
      Dedup.buildLshIndex(Seq(1L -> s"$p30 a").toDF("doc_id", "text"),
        "doc_id", "text", idx)
      val p = Dedup.minHashLshCrossIndex(Seq(2L -> s"$p30 b").toDF("doc_id", "text"),
        "doc_id", "text", idx, 0.5).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        p.take(2000))
      assert(!p.contains("ScalaUDF"), p.take(2000))
      // the shingles-table scan (outside the cached candidate subtree) must
      // read bucketed — its semi-join and set-merge group on the bucket key
      assert(p.contains("Bucketed: true"),
        "index scans must be bucketed: " + p.take(2000))
      Caching.release(spark)
      // the candidate probe join itself: stored bands side pre-partitioned,
      // only the corpus side shuffles (the crossCandidates pin, oriented)
      val corpusBands = Dedup.shingleSetsWithBands(Seq(2L -> s"$p30 b").toDF("doc_id", "text"),
          "doc_id", "text", 3, 64, 2)
        .select(col("id"), posexplode(col("bk")).as(Seq("band", "band_key")))
      val probe = spark.table(idx.bandsTable).toDF("ref_id", "band", "band_key")
        .join(corpusBands.toDF("corpus_id", "band", "band_key"),
          Seq("band", "band_key"))
      val pp = probe.queryExecution.executedPlan.toString
      val corpusOwn = "Exchange hashpartitioning".r
        .findAllIn(corpusBands.queryExecution.executedPlan.toString).size
      assert(pp.contains("Bucketed: true"), "bands scan must be bucketed: " + pp.take(2000))
      assert("Exchange hashpartitioning".r.findAllIn(pp).size === corpusOwn + 1,
        "only the corpus side may shuffle: " + pp.take(2000))
      Caching.release(spark)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      dropTableHard(idx.bandsTable)
      dropTableHard(idx.shinglesTable)
    }
  }

  test("x39 cluster-registry probes read both tables bucketed, no cartesian/NLJ") {
    import spark.implicits._
    import graft.ext.Dedup
    val state = Dedup.ClusterState("pin_clus", numBuckets = 4)
    state.dropTables(spark)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // at 100 TB the registry broadcasts nowhere: pin the big-big shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Dedup.clusterIncrement(Seq((1L, 2L), (5L, 6L)).toDF("d1", "d2"), state, 0L)
      // the second increment's plan is where both probes appear; capture it
      // through the mapping read after it runs (same table shapes)
      Dedup.clusterIncrement(Seq((2L, 5L)).toDF("d1", "d2"), state, 1L)
      val p = Dedup.clusterMapping(spark, state).queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"),
        "registry scan must be bucketed: " + p.take(2000))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        p.take(2000))
      // the by-doc latest-row aggregate must reuse the bucket partitioning:
      // doc_id-bucketed scan ⇒ zero exchanges in the whole mapping read
      assert(!p.contains("Exchange"),
        "latest-per-doc must aggregate within the doc_id buckets: " + p.take(2000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      state.dropTables(spark)
    }
  }

  test("semantic-stream probe reads the embedding band index bucketed") {
    import spark.implicits._
    import graft.ext.Similarity
    val idx = Similarity.CosineLshIndex("pin_ebands", "pin_evecs", numBuckets = 4)
    Seq(idx.bandsTable, idx.vecsTable)
      .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_pin_clsh")
      Similarity.cosineLshIncrement(Seq((1L, Array(1f, 0f))).toDF("vec_id", "emb"),
        "vec_id", "emb", 0.9, idx, tmp.resolve("pairs").toString, 0L)
      // the probe side of a subsequent increment reads the stored bands
      // bucketed — no exchange on the corpus side of the candidate join
      val p = spark.table(idx.bandsTable).toDF("stored_id", "band", "bv")
        .join(Seq((2L, 0, 1L)).toDF("new_id", "band", "bv"), Seq("band", "bv"))
        .queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), "band index scan must be bucketed: " + p.take(2000))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Seq(idx.bandsTable, idx.vecsTable)
        .foreach { t => dropTableHard(t); dropTableHard(t + "__compact") }
    }
  }

  test("x49 ivf+pq query: one bucketed scan of the assignments re-ranks in place") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import graft.ext.Similarity
    import graft.sources.Tables
    object Plans extends AdaptiveSparkPlanHelper
    val idx = Similarity.IvfPqIndex("pin_ivfpq_assign", "pin_ivfpq_cb", "pin_ivfpq_pq",
      numBuckets = 4)
    Seq(idx.assignmentsTable, idx.codebookTable, idx.pqTable).foreach(dropTableHard)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def assignmentScans(p: SparkPlan): Seq[FileSourceScanExec] = Plans.collect(p) {
      case s: FileSourceScanExec if s.tableIdentifier.exists(_.table == idx.assignmentsTable) => s
    }
    try {
      val emb = Tables.load(spark, sf(), "embeddings")
      Similarity.ivfPqBuild(emb, "vec_id", "embedding", idx, nClusters = 8, m = 8,
        ksub = 16, iters = 2)
      // a small local query batch against the larger corpus, the serving
      // shape: at -1 nothing broadcasts, at the session default the probes
      // do. (A filtered file scan of the queries is sized by the planner
      // above this 500-vector corpus, which then broadcasts instead.)
      val qs = spark.createDataFrame(
        java.util.Arrays.asList(emb.filter(col("vec_id") < 5).collect(): _*), emb.schema)
      Seq("-1", prevThreshold).foreach { threshold =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        val q = Similarity.ivfPqQuery(qs, "vec_id", "embedding",
          idx, k = 5, nProbe = 2, overfetch = 20)
        q.collect()
        val plan = q.queryExecution.executedPlan // AQE's final plan
        val p = plan.toString
        val scans = assignmentScans(plan)
        assert(scans.size == 1, s"threshold $threshold: one scan of the assignments: " + p.take(4000))
        assert(scans.head.bucketedScan && scans.head.toString.contains("Bucketed: true"),
          s"threshold $threshold: the assignments scan must be bucketed: " + p.take(4000))
        assert(scans.head.requiredSchema.fieldNames.contains("v"),
          s"threshold $threshold: the ADC scan reads the exact vectors: " + p.take(4000))
        assert(p.contains("graft_pq_adc"), "candidates must score via codegen ADC: " + p.take(4000))
        val idKeyed = Plans.collect(plan) {
          case ShuffleExchangeExec(h: HashPartitioning, _, _, _)
              if h.references.exists(a => a.name == "id" || a.name == "nbr_id") => h
        }
        assert(idKeyed.isEmpty, s"threshold $threshold: an exchange keys on the candidate id: " + p.take(4000))
        val corpusBroadcast = Plans.collect(plan) {
          case b: BroadcastExchangeExec if assignmentScans(b).nonEmpty => b
        }
        assert(corpusBroadcast.isEmpty,
          s"threshold $threshold: the assignments must not broadcast: " + p.take(4000))
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Seq(idx.assignmentsTable, idx.codebookTable, idx.pqTable).foreach(dropTableHard)
    }
  }

  test("x31 ivf probe join reads the assignments bucketed: only the query side shuffles") {
    import graft.ext.Similarity
    import graft.sources.Tables
    val idx = Similarity.IvfIndex("pin_ivf_assign", "pin_ivf_codebook", numBuckets = 4)
    dropTableHard(idx.assignmentsTable)
    dropTableHard(idx.codebookTable)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = Tables.load(spark, sf(), "embeddings")
      Similarity.ivfBuild(emb, "vec_id", "embedding", idx, nClusters = 8, iters = 2)
      val scored = Similarity.ivfProbeScores(emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", idx, nProbe = 2)
      val p = scored.queryExecution.executedPlan.toString
      // the corpus assignments are bucketed on the join key: the probe join
      // adds exactly one exchange (the query fan-out side), so query cost
      // scales with the query batch, never the corpus
      assert(p.contains("Bucketed: true"), "assignments scan must be bucketed: " + p.take(2000))
      assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
        "only the query side may shuffle: " + p.take(2000))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      dropTableHard(idx.assignmentsTable)
      dropTableHard(idx.codebookTable)
    }
  }

  test("ivf query-side widening is conditional: narrow batch widens, wide batch pays no extra exchange") {
    import graft.ext.Similarity
    import graft.sources.Tables
    val idx = Similarity.IvfIndex("pin_ivfw_assign", "pin_ivfw_codebook", numBuckets = 4)
    dropTableHard(idx.assignmentsTable)
    dropTableHard(idx.codebookTable)
    try {
      val emb = Tables.load(spark, sf(), "embeddings")
      Similarity.ivfBuild(emb, "vec_id", "embedding", idx, nClusters = 8, iters = 2)
      val par = spark.sparkContext.defaultParallelism
      def rr(p: String) = "Exchange RoundRobinPartitioning".r.findAllIn(p).size
      // NARROW: a one-partition bounded batch must be widened — exactly one
      // round-robin exchange (the r16 single-task-scoring fix)
      val narrow = Similarity.ivfProbeScores(emb.filter(col("vec_id") < 5).coalesce(1),
        "vec_id", "embedding", idx, nProbe = 2)
      assert(rr(narrow.queryExecution.executedPlan.toString) === 1,
        "a 1-partition query batch must widen before the fan-out: " +
          narrow.queryExecution.executedPlan.toString.take(2000))
      // WIDE: a query side already at session parallelism (the x38 shape —
      // probing with the whole corpus) must NOT pay a second gratuitous
      // round-robin exchange; the only one in the plan is ours below
      val wide = Similarity.ivfProbeScores(emb.repartition(par),
        "vec_id", "embedding", idx, nProbe = 2)
      assert(rr(wide.queryExecution.executedPlan.toString) === 1,
        "an already-wide query side must not re-exchange: " +
          wide.queryExecution.executedPlan.toString.take(2000))
    } finally {
      dropTableHard(idx.assignmentsTable)
      dropTableHard(idx.codebookTable)
    }
  }

  test("widenIfNarrow never executes query stages while planning: an upstream-exchange side returns untouched, jobs=0") {
    import graft.ext.Similarity
    import graft.sources.Tables
    // r17 VERDICT item 3: under AQE, .rdd on a plan containing exchanges
    // materializes every upstream query stage — and widenIfNarrow then threw
    // the result away when the side was already wide (a silent double
    // execution for any future shuffled query side). The fix probes the
    // physical plan instead; this pin fails if an RDD probe ever fires on
    // an exchange-ful side again.
    val emb = Tables.load(spark, sf(), "embeddings")
    val par = spark.sparkContext.defaultParallelism
    val shuffled = emb.repartition(par).select(col("vec_id"), col("embedding"))
    val (out, jobs) = jobsRunBy(Similarity.widenIfNarrow(shuffled))
    assert(jobs === 0, "widenIfNarrow ran query-stage jobs while planning")
    // identity: an already-shuffled, session-wide side needs no extra exchange
    assert(out eq shuffled, "exchange-ful side must return untouched")
    // a side whose last exchange is narrow widens too — read off the
    // exchange's partitioning, still without running a job
    val shuffledNarrow = emb.repartition(1).select(col("vec_id"), col("embedding"))
    val (widened, narrowJobs) = jobsRunBy(Similarity.widenIfNarrow(shuffledNarrow))
    assert(narrowJobs === 0, "widenIfNarrow ran query-stage jobs while planning a narrow shuffled side")
    assert(!(widened eq shuffledNarrow) && widened.rdd.getNumPartitions === par,
      "a narrow side behind an exchange must widen")
    // and the shuffle-free narrow direction still widens (the r16 single-task fix)
    val narrowIn = emb.coalesce(1)
    val narrow = Similarity.widenIfNarrow(narrowIn)
    assert(!(narrow eq narrowIn) && narrow.rdd.getNumPartitions === par,
      "narrow side must still widen")
  }

  test("x25 connected components: iterative equi-joins only, no cartesian/NLJ/UDF") {
    val p = plan("x25_dedup_components")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
    // the iteration checkpointed its fixpoint: the final plan scans the
    // truncated edge RDD instead of replaying every round's lineage (a
    // per-round ~5x plan blow-up measured as exponential analyzer time)
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p.take(2000))
    Caching.release(spark)
  }

  test("x26 quantile sketch aggregates with map-side partials, never a global sort") {
    val p = plan("x26_quantile_sketch")
    assert(p.contains("partial_samplebyminhash"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning") && !p.contains("Window"),
      "quantiles must come from the bounded sample, not a sort: " + p.take(2000))
  }

  test("x24 pii redaction is pure codegen projection: no shuffle, no UDFs") {
    val p = plan("x24_pii_redact")
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x53 chunking is fully narrow: zero exchange, no UDF — chunk structs built in-row") {
    val p = plan("x53_chunk_windows")
    assert(!p.contains("Exchange"), "chunking must not shuffle: " + p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x54 span dedup: equi-join on window hashes with partial counts, no cartesian/NLJ/UDF") {
    val p = plan("x54_span_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert(p.contains("partial_count"), "occurrence counts must combine map-side: " + p.take(2000))
    Caching.release(spark)
  }

  test("x55 centroid probe is zero-shuffle codegen: centroids are literals, no join, no HOF lambda") {
    val p = plan("x55_centroid_classify")
    assert(!p.contains("Exchange"), "the scoring pass must not shuffle: " + p.take(2000))
    assert(!p.contains("Join"), "centroids must fold into literals, not a join: " + p.take(2000))
    assert(!p.contains("ScalaUDF") && !p.contains("LambdaFunction"), p.take(2000))
  }

  test("x58 bm25: zero-shuffle scoring scan into the bounded partial top-k, no window sort") {
    val p = plan("x58_bm25_topk")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_topkbyscore"),
      "top-k must be the bounded partial aggregate: " + p.take(2000))
    assert(!p.contains("Window"), "nothing may sort the corpus: " + p.take(2000))
    assert(!p.contains("ScalaUDF") && !p.contains("Join"), p.take(2000))
  }

  test("x59 bm25 join: term equi-joins into the bounded partial top-k, no cartesian/window") {
    val p = plan("x59_bm25_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "retrieval must probe posting lists by equi-join: " + p.take(2000))
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_topkbyscore"),
      "per-query top-k must be the bounded partial aggregate: " + p.take(2000))
    assert(!p.contains("Window") && !p.contains("ScalaUDF"), p.take(2000))
    Caching.release(spark)
  }

  test("x61 interval join probes by grain equi-join: no theta-join fallback") {
    val p = plan("x61_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "containment must filter grain-equi-join candidates, not drive a theta join: " + p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x62 LEFT interval join stays a grain equi-join with no anti-join second pass") {
    val p = plan("x62_interval_join_left")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "left containment must ride the grain equi-join condition: " + p.take(2000))
    assert(!p.contains("LeftAnti"),
      "unmatched facts must come from the left join itself, not an anti-join pass: " + p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("x57 span removal: winner decided by one partial-min aggregate, no window sort") {
    val p = plan("x57_span_removal")
    assert(p.contains("partial_min"), "winner must combine map-side: " + p.take(2000))
    assert(!p.contains("Window"), "hot spans must not window-sort: " + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
    Caching.release(spark)
  }

  test("x56 hashed log-odds: the dim-bounded weight table broadcasts to the probe join") {
    val p = plan("x56_hashed_logodds")
    assert(p.contains("BroadcastHashJoin"), "weights must broadcast: " + p.take(2000))
    assert(!p.contains("ScalaUDF") && !p.contains("CartesianProduct"), p.take(2000))
    Caching.release(spark)
  }
}
