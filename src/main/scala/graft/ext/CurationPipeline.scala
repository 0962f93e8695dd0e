package graft.ext

import org.apache.spark.sql.{expressions, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation pipeline — the composition every
  * large-scale pre-training run executes, each stage one of this package's
  * operators, in the canonical order (cheap narrow filters first, joins
  * last, so the expensive stages see the smallest corpus):
  *
  *  1. quality filter     — narrow Column thresholds ([[TextAnalysis]])
  *  2. language filter    — narrow stopword-profile ID ([[TextAnalysis]])
  *  3. exact dedup        — one hash aggregate + semi join ([[Dedup.exact]])
  *  4. near-dup dedup     — MinHash LSH pairs + keep-list ([[Dedup]])
  *  5. decontamination    — n-gram overlap vs holdout ([[Decontaminate]])
  *  6. split assignment   — deterministic hash split ([[Sampling]])
  *  7. shard packing      — token-budget shards ([[Sharding]])
  *
  * Output: the surviving documents, annotated with (n_tokens, bucket,
  * shard, split) — ready for `write.partitionBy("split")` into training
  * shards. Every stage is deterministic, so the whole pipeline is
  * reproducible from (corpus, holdout, config).
  */
object CurationPipeline {

  /** Tunables with the values a first curation pass typically starts from.
    * `maxGramDf` is the decontamination skew guard — keep it set at scale
    * (see [[Decontaminate.ngramOverlap]]; the near-dup stage needs no cap
    * because LSH candidates join on band keys, not raw shingles).
    */
  final case class Config(
      minTokens: Long = 10L,
      maxTokens: Long = 100000L,
      maxPunctRatio: Double = 0.3,
      maxDupTokenFrac: Double = 1.0, // 1.0 = repetition filters off
      maxTopBigramFrac: Double = 1.0,
      langs: Set[String] = Set("en"),
      nearDupThreshold: Double = 0.5,
      shingleN: Int = 3,
      // true ⇒ collapse whole near-dup CHAINS to one survivor per connected
      // component ([[Dedup.keepListCollapsed]] — costs the log-round
      // component iteration); false ⇒ the single-anti-join per-pair rule
      // ([[Dedup.keepList]] — a chain's min survives but other members may
      // too)
      collapseClusters: Boolean = false,
      decontamN: Int = 13,
      maxGramDf: Option[Long] = Some(10000L),
      splitSeed: String = "graft",
      splits: Seq[(String, Double)] = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      tokensPerShard: Long = 100000L,
      shardBuckets: Int = 256,
      // name of a precomputed token-count column on the input (e.g. real
      // BPE counts materialized by a tokenizer pass upstream): when set,
      // BOTH the quality filter's min/max-token thresholds (stage 1) and
      // the shard token budgets (stage 7) measure model tokens instead of
      // the whitespace default — the two places a whitespace count biases
      // a real training-data run
      tokenCountCol: Option[String] = None,
      // name of an array<float> embedding column on the input: when set, a
      // SEMANTIC near-dup stage runs after the lexical one — cosine-LSH
      // pairs at `embedCosineThreshold` ([[Similarity.cosineLshPairs]]:
      // banded equi-join + exact verify, never all-pairs), dropped by the
      // same per-pair/collapse rule as stage 4. Catches paraphrases and
      // translations that share no shingles; costs one more banded join.
      embeddingCol: Option[String] = None,
      embedCosineThreshold: Double = 0.9,
      // true ⇒ stage 1 additionally requires the published Gopher rule-set
      // verdict ([[TextAnalysis.withGopherMetrics]] — word-count bounds,
      // mean word length, symbol/bullet/ellipsis ratios, alpha-word
      // fraction, stopword floor). Narrow Column expressions like the rest
      // of stage 1, so the flag works unchanged in [[streamIncrement]].
      gopherRules: Boolean = false,
      // bloom pre-filter for stage 5 ([[Decontaminate.ngramOverlapBloom]]):
      // Some(bits) folds the holdout gram set into a bits-size bloom
      // literal that drops cannot-match train grams BEFORE the contamination
      // join's exchange. Result-invisible (no false negatives; FPs die in
      // the exact join) — set it when the holdout outgrows a broadcast hash
      // relation, the join's scale ceiling. Batch-only: [[streamIncrement]]
      // already decontaminates via a stateless stream-static join against
      // the static gram set and rejects the flag loudly (the maxGramDf
      // precedent — silently ignoring a scale knob is how configs rot).
      decontamBloomBits: Option[Int] = None,
      // Some(k) ⇒ an ExactSubstr span-removal stage runs after exact
      // dedup ([[Dedup.dedupSpans]]): duplicated k-token windows are cut
      // from all but their globally-first occurrence and the min-token
      // gate RE-APPLIES to the shortened text (a doc hollowed out to
      // boilerplate must not survive on its pre-removal length). Runs
      // before shingling, so the near-dup/decontamination stages see the
      // cleaned text. ONLY the text column is rewritten: any other
      // text-derived payload column (a precomputed n_chars, an embedding)
      // keeps its pre-removal value — recompute such columns downstream
      // of the pipeline if they must reflect the cut text (the one the
      // pipeline itself consumes, tokenCountCol, is rejected below for
      // exactly this staleness). Batch-only: the window occurrence counts
      // are a whole-corpus statistic (the maxGramDf stance) —
      // [[streamIncrement]] rejects it loudly.
      spanRemovalK: Option[Int] = None,
      // Some(sql) ⇒ an in-domain quality gate runs after the narrow
      // filters: [[TextAnalysis.hashedLogOdds]] trains against the
      // reference sub-corpus this SQL predicate selects (over the INPUT
      // columns, e.g. "source = 'wiki'") and only docs scoring
      // >= minLogOddsBits survive — the CCNet reference-vs-crawl gate.
      // Batch-only: the weight training aggregates the whole corpus
      // eagerly; [[streamIncrement]] rejects it loudly (score a stream
      // against frozen weights downstream instead).
      logOddsPositive: Option[String] = None,
      minLogOddsBits: Double = 0.0,
      logOddsDim: Int = 4096)

  /** Runs the full pipeline over `docs`; `holdout` is the eval corpus to
    * decontaminate against (None skips stage 5).
    */
  def run(docs: DataFrame, idCol: String, textCol: String,
          holdout: Option[DataFrame], cfg: Config = Config()): DataFrame =
    stageOutputs(docs, idCol, textCol, holdout, cfg).last._2

  /** Stages 1+2 — the narrow quality + language filter, shared verbatim by
    * the batch pipeline and [[streamIncrement]] (pure Column expressions:
    * zero state on a stream). The repetition kernel only runs when a
    * threshold is actually set — at the 1.0 'off' defaults the pass (and
    * its two always-true predicates) would be pure waste.
    */
  private def qualityLanguageFilter(docs: DataFrame, idCol: String,
                                    textCol: String, cfg: Config): DataFrame = {
    val repetitionOn = cfg.maxDupTokenFrac < 1.0 || cfg.maxTopBigramFrac < 1.0
    cfg.tokenCountCol.foreach(c => require(docs.columns.contains(c),
      s"CurationPipeline: tokenCountCol '$c' not in input (${docs.columns.mkString(", ")})"))
    // the metric stages write via withColumn(s), which silently REPLACES a
    // same-named input column — and the closing select re-emits the
    // replaced values as payload. Fail loudly instead (packByTokens'
    // stance); only the names the ENABLED stages actually write are
    // reserved. tokenCountCol gets no exemption: a configured count named
    // like a metric (e.g. 'n_tokens') would be overwritten by the
    // whitespace metric BEFORE the gate reads it.
    val reserved =
      Seq("n_chars_m", "n_tokens", "n_bpeish", "avg_token_len",
        "stopword_ratio", "punct_ratio", "__t", "lang_pred", "lang_score") ++
      (if (repetitionOn) Seq("dup_token_frac", "top_bigram_frac") else Nil) ++
      (if (cfg.gopherRules) Seq("n_words", "mean_word_len", "symbol_ratio",
        "bullet_ratio", "ellipsis_ratio", "alpha_ratio", "n_stop", "keep") else Nil)
    reserved.foreach(c => require(!docs.columns.contains(c),
      s"CurationPipeline writes metric column '$c' — input already has " +
        "one; rename or drop it first"))
    val base = TextAnalysis.withLangId(
      TextAnalysis.withQualityMetrics(docs, textCol), textCol)
    val repScored =
      if (repetitionOn) TextAnalysis.withRepetitionMetrics(base, textCol) else base
    val scored =
      if (cfg.gopherRules) TextAnalysis.withGopherMetrics(repScored, textCol) else repScored
    val gopherOk = if (cfg.gopherRules) col("keep") else lit(true)
    val repetitionOk =
      if (repetitionOn)
        col("dup_token_frac") <= cfg.maxDupTokenFrac &&
          col("top_bigram_frac") <= cfg.maxTopBigramFrac
      else lit(true)
    // the min/max-token gate measures the configured token count (BPE when
    // provided); the other quality ratios stay whitespace-token-derived.
    // A null/negative configured count is an upstream tokenizer BUG, not a
    // quality failure — the shared [[Sharding.tokenCountOrRaise]] gate
    // raises, naming the document, instead of letting the null gate
    // silently delete it
    val gateTokens = cfg.tokenCountCol
      .map(Sharding.tokenCountOrRaise(docs, _, idCol, "CurationPipeline"))
      .getOrElse(col("n_tokens"))
    scored
      .filter(gateTokens.between(cfg.minTokens, cfg.maxTokens) &&
        col("punct_ratio") <= cfg.maxPunctRatio &&
        repetitionOk &&
        gopherOk &&
        col("lang_pred").isInCollection(cfg.langs))
      .select(docs.columns.map(col): _*)
  }

  /** The pipeline's cumulative stage outputs, in order — each entry is the
    * corpus as of that stage, the last being [[run]]'s result. Exists for
    * attribution: the bench (and any operator of a 100 TB run) times each
    * stage's materialization so a regression names a stage, not "the
    * pipeline". Building the Seq registers the same scoped persists as
    * [[run]]; callers release via [[graft.Caching.release]].
    */
  def stageOutputs(docs: DataFrame, idCol: String, textCol: String,
                   holdout: Option[DataFrame], cfg: Config = Config()): Seq[(String, DataFrame)] = {
    val narrowed = graft.ProbeTiming("build_filter")(
      qualityLanguageFilter(docs, idCol, textCol, cfg))

    // 1b (optional): in-domain log-odds gate — trained on the
    // already-narrowed corpus (cleaner training signal), applied as one
    // semi join on the score table
    val filtered = cfg.logOddsPositive match {
      case Some(pred) =>
        val keep = TextAnalysis.hashedLogOdds(narrowed, idCol, textCol,
            expr(pred), cfg.logOddsDim)
          .filter(col("logodds_bits") >= cfg.minLogOddsBits)
          .select(col(idCol))
        narrowed.join(keep, Seq(idCol), "left_semi")
      case None => narrowed
    }

    // 3: exact dedup — keep the smallest id of each identical text.
    // `filtered` carries the regex-heavy quality/language subtree and
    // feeds BOTH sides of the self-referencing dedup join (plus the
    // log-odds passes when enabled): persist it FIRST — the persist on the
    // join result below cannot dedupe a subtree running twice inside the
    // same job. exactKept then also persists: it feeds the shingle
    // extraction AND the keep-list anti-join. Both registered with
    // graft.Caching — callers release with Caching.release(spark) after
    // materializing the result.
    val filteredC = graft.ProbeTiming("build_cacheF")(graft.Caching.scoped(filtered))
    val exactKeptRaw = graft.ProbeTiming("build_exact")(graft.Caching.scoped(filteredC.join(
      Dedup.exact(filteredC, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")))

    // 3b (optional): ExactSubstr span removal — duplicated windows cut
    // from all but their first occurrence, text REPLACED for every later
    // stage, min-token gate re-applied to the shortened text. A
    // precomputed BPE count CANNOT survive this stage: it measured the
    // ORIGINAL text, and packing shards with stale counts would silently
    // misbudget every shard containing a cut doc — fail loudly instead
    // (re-tokenize downstream of the removal, then re-enter).
    require(cfg.spanRemovalK.isEmpty || cfg.tokenCountCol.isEmpty,
      "CurationPipeline: spanRemovalK rewrites the text, invalidating the " +
        "precomputed tokenCountCol counts - re-tokenize after span removal " +
        "instead of combining the two flags")
    val exactKept = cfg.spanRemovalK match {
      case Some(sk) =>
        val cleaned = Dedup.dedupSpans(exactKeptRaw, idCol, textCol, sk)
          .filter(col("n_tokens") - col("n_removed") >= cfg.minTokens)
          .select(col(idCol), col("text_dedup"))
        graft.Caching.scoped(exactKeptRaw.drop(textCol)
          .join(cleaned, Seq(idCol))
          .withColumnRenamed("text_dedup", textCol)
          .select(docs.columns.map(col): _*))
      case None => exactKeptRaw
    }

    // 4: near-dup dedup — LSH pairs, then either the per-pair drop or the
    // full cluster collapse (one survivor per connected component).
    // [[Dedup.minHashLshDocs]] builds shingle sets + bands in one narrow
    // pass; it needs unique ids, which exactKept has by construction
    // (stage 3 keeps one doc per text hash)
    val pairs = graft.ProbeTiming("build_pairs")(Dedup.minHashLshDocs(exactKept, idCol, textCol,
      cfg.nearDupThreshold, cfg.shingleN))
    val lexKept = graft.ProbeTiming("build_keep")(
      if (cfg.collapseClusters) Dedup.keepListCollapsed(exactKept, idCol, pairs)
      else Dedup.keepList(exactKept, idCol, pairs))

    // 4b (optional): SEMANTIC near-dup dedup over a precomputed embedding
    // column — cosine-LSH pairs, dropped by the same per-pair/collapse
    // rule; catches paraphrases the shingle stage cannot
    val nearKept = cfg.embeddingCol match {
      case Some(ec) =>
        require(docs.columns.contains(ec),
          s"CurationPipeline: embeddingCol '$ec' not in input (${docs.columns.mkString(", ")})")
        // lexKept's subtree is the whole MinHash-LSH pair generation +
        // verify + anti-join — referenced here by BOTH the SRP pair
        // derivation and the keep-list's left side; without the scoped
        // persist the costliest stage of the pipeline executes twice
        val lk = graft.Caching.scoped(lexKept)
        val ePairs = Similarity.cosineLshPairs(lk, idCol, ec, cfg.embedCosineThreshold)
          .select(col("vec_id_a").as("d1"), col("vec_id_b").as("d2"))
        if (cfg.collapseClusters) Dedup.keepListCollapsed(lk, idCol, ePairs)
        else Dedup.keepList(lk, idCol, ePairs)
      case None => lexKept
    }

    // 5: decontamination against the holdout. nearKept is referenced up to
    // three times (gram df union, anti-join probe, clean train side) — the
    // persist stops the LSH verification joins from re-executing per use.
    val clean = graft.ProbeTiming("build_clean")(holdout match {
      case Some(h) =>
        val nk = graft.Caching.scoped(nearKept)
        val overlap = cfg.decontamBloomBits match {
          case Some(bits) => Decontaminate.ngramOverlapBloom(nk, h, idCol, textCol,
            cfg.decontamN, cfg.maxGramDf, bloomBits = bits)
          case None => Decontaminate.ngramOverlap(nk, h, idCol, textCol,
            cfg.decontamN, cfg.maxGramDf)
        }
        Decontaminate.cleanTrainSet(nk, idCol, overlap)
      case None => nearKept
    })

    // 6+7: split assignment, then shard packing (narrow + one window).
    // hashSplit's diagnostic bucket column is dropped: packByTokens appends
    // its own (differently-seeded) bucket and must not silently shadow it.
    val split = graft.ProbeTiming("build_split")(
      Sampling.hashSplit(clean, idCol, cfg.splitSeed, cfg.splits).drop("bucket"))
    val packed = graft.ProbeTiming("build_pack")(Sharding.packByTokens(split, idCol, textCol,
      cfg.tokensPerShard, cfg.shardBuckets, tokenCountCol = cfg.tokenCountCol))
    Seq("filter" -> filtered, "exact_dedup" -> exactKeptRaw) ++
      cfg.spanRemovalK.map(_ => "span_removal" -> exactKept).toSeq ++
      Seq("near_dedup" -> lexKept) ++
      cfg.embeddingCol.map(_ => "embed_dedup" -> nearKept).toSeq ++
      Seq("decontaminate" -> clean, "split" -> split, "shards" -> packed)
  }

  // ------------------------------------------------------------- streaming

  /** The persistent state behind [[streamIncrement]] — what continuous
    * curation must remember about everything already ingested:
    *
    *  - `hashTable` (text_hash, batch_id), bucketed by hash: exact-dedup
    *    membership — an arriving doc whose hash is already present is a
    *    re-arrival and is dropped (one anti-join, batch side only shuffles);
    *  - the [[Dedup.LshIndex]] pair of tables: near-dup signatures;
    *  - `offsetsDir`: per-bucket cumulative token offsets, one row set per
    *    batch — shard packing continues where the previous batch stopped;
    *  - `pairsDir` / `outDir`: the emitted near-dup pairs and the curated
    *    documents, one `batch_id=` partition per micro-batch.
    */
  final case class StreamState(tablePrefix: String, stateDir: String,
                               numBuckets: Int = 32) {
    def hashTable: String = s"${tablePrefix}_hashes"
    def lshIndex: Dedup.LshIndex =
      Dedup.LshIndex(s"${tablePrefix}_bands", s"${tablePrefix}_shingles", numBuckets)
    /** The near-dup cluster registry fed by `maintainClusters = true`. */
    def clusterState: Dedup.ClusterState =
      Dedup.ClusterState(s"${tablePrefix}_clusters", numBuckets)
    /** The semantic (embedding) near-dup index, used when
      * `Config.embeddingCol` is set.
      */
    def embedIndex: Similarity.CosineLshIndex =
      Similarity.CosineLshIndex(s"${tablePrefix}_ebands", s"${tablePrefix}_evecs", numBuckets)
    def ePairsDir: String = s"$stateDir/epairs"
    def pairsDir: String = s"$stateDir/pairs"
    def offsetsDir: String = s"$stateDir/offsets"
    def outDir: String = s"$stateDir/curated"
    /** Drops the catalog tables AND their warehouse locations (including
      * `__compact` siblings a crashed compaction may have left) via
      * [[graft.sinks.Sinks.dropTableAndLocation]].
      */
    def dropTables(spark: org.apache.spark.sql.SparkSession): Unit = {
      Seq(hashTable, lshIndex.bandsTable, lshIndex.shinglesTable,
          embedIndex.bandsTable, embedIndex.vecsTable)
        .flatMap(t => Seq(t, t + "__compact"))
        .foreach(graft.sinks.Sinks.dropTableAndLocation(spark, _))
      clusterState.dropTables(spark)
    }
  }

  /** Routine maintenance for a long-running [[StreamState]]: compacts the
    * three index tables (exact-dedup hashes + the LSH band/shingle pair)
    * back to `numBuckets` files each via [[Dedup.compactBucketedTable]] —
    * the append-per-micro-batch pattern otherwise accumulates
    * batches × numBuckets files per table, and at production batch counts
    * every membership anti-join / probe join pays that file-listing and
    * open cost. Row-level semantics are unchanged (duplicate rows from
    * at-least-once replays are shed; membership joins never counted them).
    * Call between micro-batches — e.g. every N batches inside
    * `foreachBatch`, after [[streamIncrement]] returns — or on a stopped
    * stream. The `batch_id=`-partitioned dirs (pairs/curated/offsets) are
    * deliberately NOT rewritten: their partition layout is the replay
    * contract.
    */
  def compactState(spark: org.apache.spark.sql.SparkSession, state: StreamState): Unit = {
    Dedup.compactBucketedTable(spark, state.hashTable, state.numBuckets, Seq("text_hash"))
    Dedup.compactIndex(spark, state.lshIndex)
    // present only when the pipeline runs with an embedding column — its
    // absence is a no-semantic-stage run, not a misconfiguration
    if (spark.catalog.tableExists(state.embedIndex.bandsTable) ||
        spark.catalog.tableExists(state.embedIndex.bandsTable + "__compact"))
      Similarity.cosineLshCompact(spark, state.embedIndex)
  }

  /** Folds the shard-offsets ledger's history: every `batch_id <=
    * uptoBatch` partition collapses to ONE partition (per-bucket latest
    * cumulative, `max_by(cum, batch_id)`) written under `batch_id =
    * uptoBatch`. Without this a long-running stream accretes one ledger
    * partition per micro-batch and EVERY batch's base-offsets read lists
    * and scans all of them — O(batches) per batch, the one remaining
    * unbounded-growth path after [[compactState]]'s table folds.
    *
    * Replay safety is the [[Dedup.clusterCompact]] uptoBatch contract:
    * call with the batch BEFORE the in-flight one (`runStream`'s hook
    * passes `id - 1`), so a replay of batch `id` still reads
    * `batch_id < id` ⊇ the folded partition. Crash safety: the fold is
    * materialized driver-side (≤ one row per bucket), THEN written
    * (dynamic overwrite of its own partition — readers' `max_by` picks it
    * over any surviving older rows either way), and the folded-away
    * partition dirs are deleted last; a crash between the steps leaves
    * redundant rows that change no read and are re-deleted by the next
    * fold.
    */
  def compactOffsets(spark: org.apache.spark.sql.SparkSession,
                     state: StreamState, uptoBatch: Long): Unit = {
    if (uptoBatch < 0 || !dirExists(spark, state.offsetsDir)) return
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ledger = spark.read.schema(StructType(Seq(
        StructField("bucket", LongType), StructField("cum", LongType),
        StructField("batch_id", LongType))))
      .parquet(state.offsetsDir)
      .filter(col("batch_id") <= uptoBatch)
    val folded = ledger.groupBy("bucket")
      .agg(expr("max_by(cum, batch_id)").as("cum"))
      .withColumn("batch_id", lit(uptoBatch))
    // The dynamic overwrite replaces the batch_id=uptoBatch partition of
    // the SAME root the fold reads. Lazily that makes the job's input
    // overlap its output — safe only while the committer stages everything
    // and commits after every read task finishes; a task retry racing the
    // commit could drop ledger rows and silently rewind shard offsets. The
    // fold is ≤ one row per bucket (numBuckets-bounded), so materialize it
    // driver-side FIRST, then write from the local rows: the write plan
    // reads nothing.
    val foldedRows = folded.collect()
    spark.createDataFrame(java.util.Arrays.asList(foldedRows: _*), folded.schema)
      .coalesce(1)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(state.offsetsDir)
    val root = new org.apache.hadoop.fs.Path(state.offsetsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("batch_id=")) {
        val id = try name.stripPrefix("batch_id=").toLong catch { case _: NumberFormatException => Long.MaxValue }
        if (id < uptoBatch) { fs.delete(st.getPath, true); () }
      }
    }
  }

  /** The retroactive whole-chain collapse the per-batch stream cannot
    * apply in place: the curated output under `state.outDir`, minus every
    * doc the cluster registry maps to a cluster it does not root — i.e.
    * exactly the docs `Config.collapseClusters = true` would have dropped,
    * applied AFTER the fact with the full pair history. Requires the
    * stream to have run with `maintainClusters = true`. One anti-join
    * against the (already latest-per-doc) mapping; the caller writes the
    * result wherever the collapsed corpus should live (rewriting
    * `state.outDir` in place would fight the stream's own partitions).
    */
  def collapsedOutput(spark: org.apache.spark.sql.SparkSession,
                      state: StreamState, idCol: String): DataFrame = {
    val drop = Dedup.clusterMapping(spark, state.clusterState)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as(idCol))
    // read with the schema the stream recorded at its first batch
    // ([[outSchemaPath]]): a stream whose every doc was filtered leaves
    // outDir with no data files, where inference throws but a declared
    // schema correctly yields the empty corpus (and at any size, a declared
    // schema also skips the footer-sampling inference pass)
    val curated = readOutSchema(spark, state) match {
      case Some(schema) => spark.read.schema(schema).parquet(state.outDir)
      case None         => spark.read.parquet(state.outDir)
    }
    curated.join(drop, Seq(idCol), "left_anti")
  }

  /** Where [[streamIncrement]] records the curated-output schema (Spark DDL
    * text, written once at the first batch). The curated schema is
    * input-dependent — every batch column rides through — so it cannot be
    * statically declared the way the x30 pairs schema is.
    */
  private def outSchemaPath(state: StreamState) =
    new org.apache.hadoop.fs.Path(state.stateDir, "out_schema.ddl")

  private def readOutSchema(spark: org.apache.spark.sql.SparkSession,
                            state: StreamState): Option[org.apache.spark.sql.types.StructType] =
    try {
      val p = outSchemaPath(state)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        val in = fs.open(p)
        try {
          in.readFully(0, buf)
          Some(org.apache.spark.sql.types.StructType.fromDDL(
            new String(buf, java.nio.charset.StandardCharsets.UTF_8)))
        } finally in.close()
      }
    } catch { case _: Exception => None }

  private def writeOutSchemaOnce(spark: org.apache.spark.sql.SparkSession,
                                 state: StreamState, schema: org.apache.spark.sql.types.StructType): Unit =
    try {
      val p = outSchemaPath(state)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) {
        val out = fs.create(p, true)
        try out.write(schema.toDDL.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    } catch { case _: Exception => () }

  /** The static holdout gram set [[streamIncrement]] decontaminates
    * against, derived once and scoped-persisted (it is re-joined every
    * micro-batch; release via [[graft.Caching.release]] after the stream
    * stops).
    */
  def holdoutGramSet(holdout: DataFrame, idCol: String, textCol: String,
                     cfg: Config): DataFrame =
    graft.Caching.scoped(
      Decontaminate.docGrams(holdout, idCol, textCol, cfg.decontamN)
        .select(col("gram_h")))

  private def dirExists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** One micro-batch of CONTINUOUS curation — every batch stage run
    * incrementally against [[StreamState]]:
    *
    *  1. quality + language filter (the shared narrow stage — zero state);
    *  2. exact dedup: keep the min-id copy of each in-batch hash, drop
    *     hashes already in `hashTable` (first arrival survives; with
    *     id-ordered arrival this IS the batch pipeline's min-id rule);
    *  3. near-dup dedup: [[Dedup.minHashLshIncrement]] against the LSH
    *     index, then drop this batch's docs appearing as the d2 (larger)
    *     side of any emitted pair — [[Dedup.keepList]]'s rule, and dropped
    *     docs still enter the index as detectors, exactly like the batch
    *     path where pairs are found among ALL exact-dedup survivors;
    *  3b. (when `Config.embeddingCol` is set) SEMANTIC near-dup: the
    *     lexical survivors stream into the embedding index the same way
    *     ([[Similarity.cosineLshIncrement]]), and this batch's vec_id_b
    *     sides drop;
    *  4. decontamination: stateless anti-join against the static holdout
    *     gram set (UNCAPPED — the batch cap is a df statistic over the
    *     whole train corpus, which a stream cannot know prospectively;
    *     configure the batch run with `maxGramDf = None` when comparing);
    *  5. split assignment (narrow);
    *  6. shard packing: the per-bucket in-batch running sum continues from
    *     the previous batch's offsets ledger ([[Sharding.packByTokens]]'s
    *     math with a carried base), and the updated offsets are written
    *     for the next batch.
    *
    * Replay safety (at-least-once `foreachBatch`): every read of mutable
    * state filters to `batch_id <` this batch (a replay sees exactly the
    * state the first attempt saw) and every write either dynamic-overwrites
    * its own `batch_id=` partition (pairs, curated output, offsets) or is
    * duplicate-tolerant (hash/signature index appends — membership
    * anti-joins and distinct-counted verification absorb duplicates).
    *
    * Given arrival ordered by doc id, the union of curated partitions over
    * any prefix of the stream hash-matches [[run]] on the same documents
    * with `maxGramDf = None` — the x33 oracle and the CurationSpec golden.
    */
  def streamIncrement(batch: DataFrame, idCol: String, textCol: String,
                      holdoutGrams: Option[DataFrame], cfg: Config,
                      state: StreamState, batchId: Long,
                      maintainClusters: Boolean = false,
                      checks: TableChecks = new TableChecks): Unit = {
    val spark = batch.sparkSession
    // the batch cap is a df statistic over the WHOLE train corpus, which a
    // stream cannot know prospectively — a silently ignored cap would
    // over-delete vs the equivalently-configured batch run (one hot
    // boilerplate gram leaks everything containing it), so fail loudly
    require(cfg.maxGramDf.isEmpty,
      "streamIncrement: maxGramDf is a whole-corpus statistic unavailable to " +
        "a stream - set Config(maxGramDf = None) for streaming curation")
    // the stream decontaminates via a stateless join against the static
    // gram set already — a bloom pre-filter of a different corpus shape
    // would be a silently dead knob, so reject it (the maxGramDf stance)
    require(cfg.decontamBloomBits.isEmpty,
      "streamIncrement: decontamBloomBits is the BATCH join's pre-filter; " +
        "the stream's stream-static decontamination does not use it - set " +
        "Config(decontamBloomBits = None) for streaming curation")
    // span-removal winners are decided by whole-corpus window counts a
    // stream cannot know prospectively (the maxGramDf stance)
    require(cfg.spanRemovalK.isEmpty,
      "streamIncrement: spanRemovalK needs whole-corpus window occurrence " +
        "counts a stream cannot know - set Config(spanRemovalK = None) and run " +
        "Dedup.dedupSpans as a batch compaction pass instead")
    // the log-odds gate TRAINS on the whole corpus eagerly; a stream can
    // only score against frozen weights, which is a different operator
    require(cfg.logOddsPositive.isEmpty,
      "streamIncrement: logOddsPositive trains on the whole corpus eagerly - " +
        "set Config(logOddsPositive = None); train once with " +
        "TextAnalysis.trainLogOdds and gate the stream with the narrow " +
        "TextAnalysis.scoreLogOdds projection instead")
    // collapse is a whole-HISTORY decision a stream cannot honor
    // retroactively: when a later pair merges two clusters, the batch rule
    // drops the larger root — but that root was already emitted in an
    // earlier partition. Silently ignoring the flag would diverge from the
    // equivalently-configured batch run, so fail loudly; the streaming
    // answer is maintainClusters = true (the continuously-updated registry,
    // [[Dedup.clusterMapping]]) + downstream retro-collapse
    require(!cfg.collapseClusters,
      "streamIncrement: collapseClusters is a whole-history decision a stream " +
        "cannot apply retroactively - set Config(collapseClusters = false) and " +
        "use maintainClusters = true for the continuously-updated cluster registry")
    cfg.embeddingCol.foreach(ec => require(batch.columns.contains(ec),
      s"streamIncrement: embeddingCol '$ec' not in input (${batch.columns.mkString(", ")})"))
    // single-writer contract: no increment while compactState rewrites the
    // hash index ([[StateLease]]; the LSH/cluster/embed tables get their
    // own asserts inside their increment entry points), plus the
    // crashed-swap finish BEFORE the tableExists checks below. Memoized per
    // stream ([[TableChecks]] — a fresh default instance per standalone
    // call keeps the old per-call behavior).
    graft.ProbeTiming("ensureWritable")(checks.ensureWritable(spark, state.hashTable))
    // the packing/output stage below is INLINED (packByTokens' ledger
    // continuation), so its guards must be too: a zero divisor would
    // yield NULL shards under non-ANSI SQL instead of the batch path's
    // plan-time raise, and a reserved-named payload column would be
    // silently replaced where the batch path fails loudly
    require(cfg.tokensPerShard > 0,
      s"tokensPerShard must be positive: ${cfg.tokensPerShard}")
    require(cfg.shardBuckets > 0,
      s"shardBuckets must be positive: ${cfg.shardBuckets}")
    // no tokenCountCol exemption for "n_tokens" here: qualityLanguageFilter
    // reserves it unconditionally (the whitespace metric would overwrite a
    // precomputed count named like a metric BEFORE the gate reads it), so
    // an exemption would only delay the same raise to a worse message —
    // name a precomputed count anything but the metric names
    Seq("n_tokens", "bucket", "shard", "cum_before", "__h", "__local",
      "batch_id").foreach(c => require(!batch.columns.contains(c),
      s"streamIncrement writes column '$c' — input already has one; " +
        "rename or drop it first"))
    val filtered = qualityLanguageFilter(batch, idCol, textCol, cfg)

    // 2: exact dedup. The hash-index append runs on its own driver thread
    // overlapped with the MinHash verify (below): every read of the table
    // filters `batch_id < batchId`, so materializations racing the append
    // still see only prior batches, eviction or not.
    // The min-id rule as a WINDOW aggregate (round 16): min(id) OVER
    // (PARTITION BY __h) then keep rows whose id equals it — identical
    // semantics to the former groupBy-min + semi-join (duplicated min-id
    // rows ALL survive, the batch path's rule), but one shuffle instead
    // of an aggregate exchange plus a join, and crucially ONE consumer of
    // the quality/md5 subtree — the batch-lifetime `hashed` persist (a
    // second full materialization of the batch text) goes away, and the
    // whole exact stage executes inside exactKept's checkpoint job.
    //
    // SKEW BOUND (round 17): a window aggregate has no map-side partials —
    // every row of one duplicate-text group lands on ONE task, so a
    // micro-batch dominated by a single boilerplate text serializes that
    // group on one core. The bound is the micro-batch size (trigger
    // sizing), the SAME per-key-per-trigger contract StatefulOps enforces
    // — so the same opt-in conf arms it here: with
    // spark.graft.streaming.maxSliceRows set, a duplicate-text group
    // larger than the cap raises a NAMED error (text hash + cap +
    // remediation) instead of silently serializing. The count rides the
    // same window spec as the min — Spark collapses both into one Window
    // operator, so the armed guard costs zero extra exchanges.
    val hashed = filtered.withColumn("__h", md5(coalesce(col(textCol), lit("")))) // NULL≡empty, the Dedup.exact rule
    val winH = expressions.Window.partitionBy(col("__h"))
    val minId = graft.streaming.StatefulOps.maxSliceRows(spark) match {
      case Some(cap) =>
        when(count(lit(1)).over(winH) > cap, raise_error(concat(
          lit("streamIncrement: exact-dedup text-hash group "), col("__h"),
          lit(s" exceeds $cap rows in one micro-batch " +
            s"(${graft.streaming.StatefulOps.MaxSliceRowsConf}) — the " +
            "window-min ships the whole group to one task; shrink the " +
            "trigger, pre-filter the boilerplate text, or raise the cap"))
          ).cast("long"))
          .otherwise(min(col(idCol)).over(winH))
      case None => min(col(idCol)).over(winH)
    }
    val inBatch = hashed
      .withColumn("__minid", minId)
      .filter(col(idCol) === col("__minid"))
      .drop("__minid")
    // batch-lifetime blocks (released in the finally below, NOT
    // Caching.scoped — a long-running stream would otherwise accumulate one
    // registration per micro-batch until the caller's next release).
    // materialize exactKept WITH TRUNCATED LINEAGE (eager localCheckpoint,
    // constraint snapshot stripped — the refreshMappingCache pattern), not
    // a plain persist: the hash append below commits into the hash table's
    // path, and Spark's cache manager invalidates every CACHED plan that
    // reads a refreshed path — a persisted exactKept (whose plan reads the
    // hash table) was thrown away by its own append's commit and silently
    // recomputed by every downstream consumer (measured: batch wall 3×
    // when the append moved off the batch tail). Truncated, the blocks
    // carry no path reference and survive the commit; a lost executor
    // fails the batch cleanly and the stream replays it (the stateful-
    // operator recovery story, as for the registry mapping cache).
    val exactKept = graft.ProbeTiming("exact_ckpt")(Dedup.stripOriginConstraints((
      if (checks.exists(spark, state.hashTable))
        inBatch.join(
          spark.table(state.hashTable).filter(col("batch_id") < batchId)
            .select("text_hash"),
          col("__h") === col("text_hash"), "left_anti")
      else inBatch
    ).localCheckpoint(eager = true)))
    val freeExactKept: () => Unit = () => exactKept.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
    // every batch-lifetime persist lands here and unpersists in the finally
    // (a failed ledger/index write must not leak a cached subtree per retry);
    // the deferred LSH increment's own caches release through its cleanup
    var caches: List[DataFrame] = Nil
    var lshCleanup: () => Unit = () => ()
    // the hash-index append OVERLAPS the MinHash verify below on its own
    // driver thread: it reads only the persisted exactKept subtree and
    // writes a table NOTHING in this batch reads — every hash-table read
    // filters `batch_id < batchId`, so even an eviction-driven recompute
    // of exactKept racing the append sees exactly the prior batches (the
    // first batch's plan was built on the inBatch branch and reads no
    // table at all), and a replay re-runs it against duplicate-tolerant
    // reads. It must NOT run concurrently with any OTHER saveAsTable (a
    // third concurrent saveAsTable corrupted exact-dedup state in the
    // r13 ordered-micro-batch spec — only proven concurrency ships), so
    // the join lands right after the LSH increment's eager verify,
    // BEFORE the semantic/cluster increments and the end-of-batch
    // concurrent action set, all of which saveAsTable.
    val hashMode = if (checks.exists(spark, state.hashTable)) "append" else "overwrite"
    var hashJoined = false
    val joinHashAppend = ConcurrentActions.startOne { () =>
      graft.ProbeTiming("hash_append")(locally {
        exactKept.select(col("__h").as("text_hash"), lit(batchId).as("batch_id"))
          .write.mode(hashMode).format("parquet")
          .bucketBy(state.numBuckets, "text_hash").saveAsTable(state.hashTable)
      })
    }
    try {

    // 3: near-dup — the increment verifies this batch's pairs here
    // (checkpoint-materialized against the pre-append index) and returns
    // EVERY write deferred: the pairs dump plus the signature appends
    // (survivors AND dropped docs: both remain detectors for future
    // arrivals, as in the batch path) run inside the end-of-batch
    // concurrent action set below — they are read by nothing else this
    // batch (the drop set below reads the returned checkpointed frame
    // directly), so their fixed costs hide under the curated/offsets
    // writes instead of serializing in front of them
    val (verifiedLexPairs, lshAppends) = {
      val (verified, appends, cleanup) = graft.ProbeTiming("lsh_increment")(
        Dedup.minHashLshIncrementDeferred(exactKept.drop("__h"), idCol, textCol,
          cfg.nearDupThreshold, state.lshIndex, state.pairsDir, batchId,
          cfg.shingleN, checks = checks))
      lshCleanup = cleanup
      (verified, appends)
    }
    // join the overlapped hash append HERE (see the start-site comment):
    // its ~0.3-0.7 s fixed cost hid under the verify compute, and
    // everything from this point on may saveAsTable
    graft.ProbeTiming("hash_append_join")(joinHashAppend())
    hashJoined = true
    checks.markExists(state.hashTable)
    // a batch with zero verified pairs writes no partition — the dir can be
    // missing OR exist with no data files (an empty dynamic-overwrite still
    // creates the base dir), so reads declare their schemas instead of
    // inferring from footers that may not exist. The read targets THIS
    // batch's `batch_id=` directory directly: a whole-dir read with a
    // partition filter still LISTS every accumulated partition during
    // discovery — O(batches-so-far) driver work on every micro-batch of a
    // long-running stream, for a read that only ever wants one partition.
    // One reader serves both the drop sets and the registry; column types
    // are passed explicitly (the lexical pairs carry the input id type,
    // the semantic pairs are written as longs by cosineLshIncrement).
    import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
    val idType = batch.schema(idCol).dataType
    def pairsOf(dir: String, aCol: String, bCol: String, t: DataType): DataFrame = {
      val part = s"$dir/batch_id=$batchId"
      if (dirExists(spark, part))
        spark.read.schema(StructType(Seq(
            StructField(aCol, t), StructField(bCol, t))))
          .parquet(part)
          .select(col(aCol).as("d1"), col(bCol).as("d2"))
      else spark.range(0).select(col("id").cast(t).as("d1"), col("id").cast(t).as("d2"))
    }
    // lexical pairs come straight off the increment's checkpointed frame —
    // the parquet dump is one of the deferred end-of-batch writes, so a
    // read-back here would race it (and re-list the partition for rows
    // already sitting in local blocks). The SEMANTIC pairs below still
    // read their batch partition: cosineLshIncrement writes before
    // returning.
    val lexPairs = verifiedLexPairs.select(col("d1"), col("d2"))
    val batchDrops = lexPairs.select(col("d2").as(idCol)).distinct()
    val lexKept = exactKept.drop("__h").join(batchDrops, Seq(idCol), "left_anti")

    // 3b (optional): SEMANTIC near-dup — the lexical survivors stream into
    // the embedding index exactly like the shingle stage ([[Similarity
    // .cosineLshIncrement]] — in-batch self-join ∪ index probe, exact
    // verify, pairs per batch_id partition, survivors AND dropped docs
    // index as detectors); this batch's vec_id_b side drops, the batch
    // pipeline's per-pair rule
    val ePairs = cfg.embeddingCol.map { ec =>
      Similarity.cosineLshIncrement(lexKept.select(col(idCol), col(ec)),
        idCol, ec, cfg.embedCosineThreshold, state.embedIndex,
        state.ePairsDir, batchId, checks = checks)
      pairsOf(state.ePairsDir, "vec_id_a", "vec_id_b", LongType)
    }
    val nearKept = ePairs match {
      case Some(ep) =>
        val eDrops = ep.select(col("d2").cast(idType).as(idCol)).distinct()
        lexKept.join(eDrops, Seq(idCol), "left_anti")
      case None => lexKept
    }

    // optional: merge this batch's emitted pairs into the cluster registry
    // ([[Dedup.clusterIncrement]] — replay-safe like every other state
    // write here). The registry is the streaming stand-in for the batch
    // collapseClusters rule: the per-batch keep decision stays per-pair,
    // and [[Dedup.clusterMapping]] supports retroactive whole-chain
    // collapse downstream. ONE increment per batch — lexical AND semantic
    // pairs union into it (two same-batch_id increments would break the
    // `batch_id <` replay reads). clusterIncrement's own integral-id guard
    // sees the PRE-cast lexical pair type, so a non-integral id fails
    // loudly instead of silently nulling into an empty registry.
    if (maintainClusters) {
      val batchPairs = lexPairs
        .union(ePairs.map(_.select(col("d1").cast(idType), col("d2").cast(idType)))
          .getOrElse(lexPairs.limit(0)))
      Dedup.clusterIncrement(batchPairs, state.clusterState, batchId,
        checks = checks)
    }

    // 4: decontamination (stateless stream-static)
    val clean = holdoutGrams match {
      case Some(hg) =>
        val leaked = Decontaminate.docGrams(nearKept, idCol, textCol, cfg.decontamN)
          .join(hg.select("gram_h"), Seq("gram_h"), "left_semi")
          .select(col("id").as(idCol)).distinct()
        nearKept.join(leaked, Seq(idCol), "left_anti")
      case None => nearKept
    }

    // 5: split; 6: shard packing continued from the offsets ledger
    val split = Sampling.hashSplit(clean, idCol, cfg.splitSeed, cfg.splits).drop("bucket")
    // null/negative configured counts raise — the shared
    // [[Sharding.tokenCountOrRaise]] gate, same error surface as the
    // batch path
    val nTokens = cfg.tokenCountCol
      .map(Sharding.tokenCountOrRaise(batch, _, idCol, "streamIncrement"))
      .getOrElse(size(TextAnalysis.tokens(col(textCol))).cast("long"))
    val w = expressions.Window.partitionBy("bucket").orderBy(col(idCol))
      .rowsBetween(expressions.Window.unboundedPreceding, -1)
    // batch-lifetime persist: the curated-output write AND the offsets
    // write both consume this subtree — without it the decontamination
    // anti-join and the packing window execute twice per micro-batch
    val withBucket = split
      .withColumn("n_tokens", nTokens)
      .withColumn("bucket", Sampling.hash60(col(idCol), "shard") % cfg.shardBuckets)
      .withColumn("__local", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    caches ::= withBucket
    // batch-lifetime persist (≤ one row per bucket): the curated write
    // AND the ledger write below both join this — without it every
    // micro-batch lists and aggregates the O(batches-so-far) ledger
    // partitions TWICE, concurrently, exactly the per-batch listing
    // overhead the path-scoped pairs read and compactOffsets exist to cut
    val baseOffsets = (
      if (dirExists(spark, state.offsetsDir))
        spark.read.schema(StructType(Seq(
            StructField("bucket", LongType), StructField("cum", LongType),
            StructField("batch_id", LongType))))
          .parquet(state.offsetsDir)
          .filter(col("batch_id") < batchId)
          .groupBy("bucket").agg(expr("max_by(cum, batch_id)").as("__base"))
      else spark.range(0).select(col("id").cast("long").as("bucket"),
        col("id").as("__base"))
    ).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    caches ::= baseOffsets
    val packed = withBucket
      .join(baseOffsets, Seq("bucket"), "left")
      .withColumn("cum_before", col("__local") + coalesce(col("__base"), lit(0L)))
      .withColumn("shard",
        col("bucket") * Sharding.ShardsPerBucket + expr(s"cum_before div ${cfg.tokensPerShard}"))
      .drop("__local", "__base", "cum_before")

    // curated output + the updated ledger (the hash index already landed,
    // overlapped with the verify above). The schema snapshot must land
    // even for an all-filtered batch (zero rows write no parquet files —
    // the snapshot is then the ONLY schema record [[collapsedOutput]] can
    // read).
    val curatedOut = packed.withColumn("batch_id", lit(batchId))
    writeOutSchemaOnce(spark, state, curatedOut.schema)
    // ONE concurrent end-of-batch action set of FIVE actions (five fixed
    // per-action costs become one max): the curated output and the
    // offsets ledger consume the persisted withBucket subtree and write
    // to distinct dirs; the deferred LSH writes (pairs dump + two index
    // appends) read only their own persisted/checkpointed batch state
    // and are read by nothing until the next batch. Never more than two
    // concurrent saveAsTable (the r13 proven-concurrency bound — the
    // other three are path writes). A replayed batch re-runs everything;
    // dynamic partition overwrite and the `batch_id <` reads absorb the
    // duplicates.
    graft.ProbeTiming("curated+offsets")(ConcurrentActions.run(Seq[() => Unit](
      () => curatedOut
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(state.outDir),
      () => withBucket.groupBy("bucket").agg(sum(col("n_tokens")).as("__batch_tokens"))
        .join(baseOffsets, Seq("bucket"), "left")
        .select(col("bucket"),
          (coalesce(col("__base"), lit(0L)) + col("__batch_tokens")).as("cum"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(state.offsetsDir)) ++ lshAppends))
    } finally {
      // a batch failing BEFORE the hash join must still wait for the
      // in-flight append (its replay would otherwise race the thread's
      // write to the same table); the batch's own failure stays primary
      if (!hashJoined) { try joinHashAppend() catch { case _: Throwable => () } }
      lshCleanup()
      freeExactKept()
      caches.foreach(_.unpersist(blocking = false))
    }
  }

  /** Continuous curation: [[streamIncrement]] wired into `foreachBatch`.
    * Caller sets trigger/checkpoint and starts; curated documents
    * accumulate under `state.outDir` (`batch_id` is bookkeeping). Release
    * [[graft.Caching]] after the stream stops (the holdout gram set stays
    * persisted across batches).
    *
    * `compactEvery = N` runs [[compactState]] after every Nth batch (the
    * between-batches maintenance window), keeping the three index tables
    * at ≤ numBuckets files each on an unattended stream (0 = caller
    * manages compaction).
    */
  def runStream(docs: DataFrame, idCol: String, textCol: String,
                holdout: Option[DataFrame], cfg: Config, state: StreamState,
                compactEvery: Int = 0, maintainClusters: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val hg = holdout.map(h => holdoutGramSet(h, idCol, textCol, cfg))
    // one maintenance-check memo per stream ([[TableChecks]]); sequential
    // batch ids on one instance make the registry mapping cache valid
    val checks = new TableChecks(cacheRegistryMapping = maintainClusters)
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        streamIncrement(batch.toDF(), idCol, textCol, hg, cfg, state, id,
          maintainClusters, checks)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0) {
          compactState(batch.sparkSession, state)
          // id - 1: a replay of the in-flight batch id reads batch_id < id
          // and must still see every folded row (the clusterCompact rule)
          compactOffsets(batch.sparkSession, state, uptoBatch = id - 1)
          if (maintainClusters) {
            Dedup.clusterCompact(batch.sparkSession, state.clusterState,
              uptoBatch = id - 1)
            // cached-mapping lineage read the pre-compaction files
            checks.invalidateRegistryMapping()
          }
        }
    }
  }
}
