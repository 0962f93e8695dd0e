package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. Embedding-cosine near-dup lives in
  * [[Similarity]].
  *
  * Scale design: exact dedup is a single hash-aggregate; MinHash/SimHash are
  * the linear-scale paths (signature = narrow per-doc work, candidate
  * generation = equi-join on band keys, verification only on candidates).
  * Exact pairwise Jaccard is kept as the small-data oracle/verifier.
  */
object Dedup {

  /** Exact dedup by content hash: one row per distinct text with the
    * surviving doc id (smallest) and the duplicate count. One shuffle.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // NULL text hashes as the EMPTY text (the TextAnalysis.tokens rule):
    // md5(NULL) is NULL, which would group NULL-text docs apart from
    // empty-text docs — the cross-operator row-set disagreement the
    // NULL≡empty convention exists to prevent
    df.groupBy(md5(coalesce(col(textCol), lit(""))).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Streaming exact dedup for continuous ingest: emits the FIRST arrival
    * of each content hash, drops re-arrivals within the watermark horizon.
    * Built on `dropDuplicatesWithinWatermark`, the scale path for unbounded
    * streams — per-key state is bounded by the horizon instead of growing
    * with all history (an unbounded `dropDuplicates` would eventually hold
    * every hash ever seen). `eventTimeCol` must be a timestamp column;
    * duplicates arriving later than `horizon` re-emit (the standard
    * watermark-dedup contract — size state for the duplication window the
    * pipeline actually has). The surviving row passes through WHOLE (all
    * payload columns plus `text_hash`): dedup state stores only the key +
    * timestamp regardless of row width, so keeping the document costs
    * nothing and saves the caller a stream-stream join back to the source.
    */
  def exactStream(df: DataFrame, textCol: String,
                  eventTimeCol: String, horizon: String): DataFrame = {
    // withColumn silently REPLACES a same-named payload column; an
    // upstream checksum named text_hash would be destroyed and downstream
    // readers would see a different hash family (the reserved-column rule)
    require(!df.columns.contains("text_hash"),
      "exactStream writes column 'text_hash' — input already has one; rename or drop it first")
    df.withColumn("text_hash", md5(coalesce(col(textCol), lit("")))) // NULL≡empty, the exact() rule
      .withWatermark(eventTimeCol, horizon)
      .dropDuplicatesWithinWatermark("text_hash")
  }

  /** Distinct word n-gram shingles per document: (id, shingle). Narrow
    * per-row generation, then a distinct (one shuffle).
    */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    // per-doc dedup is IN-ROW (array_distinct before the explode — the
    // docGrams shape): one document's n-grams live in one row already, so
    // the former global .distinct() exchange bought nothing for unique-id
    // corpora — it shuffled the fattest table of the whole dedup family
    // (every (id, shingle) string pair) to deduplicate within groups that
    // never span rows. Contract: one row per document id (the corpus-table
    // key); feeding several rows with the SAME id now keeps each row's set
    // separately (the streaming increment's per-row stance) where the old
    // exchange silently unioned them.
    df.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("id"),
        explode(array_distinct(TextAnalysis.wordNGrams(col("__t"), n))).as("shingle"))

  /** Exact pairwise Jaccard over shingle sets, emitting pairs with
    * `jaccard >= threshold`. Output: (d1, d2, inter_cnt, union_cnt, jaccard)
    * with d1 < d2. O(pairs-sharing-a-shingle) — the verifier/oracle path;
    * use [[minHashLshDocs]] at scale.
    *
    * `maxShingleDf` caps the self-join's skew: a shingle appearing in k docs
    * contributes k² candidate rows on one join key, so one boilerplate
    * shingle shared by 1M docs is a 10¹²-row partition. With the cap, every
    * shingle with document frequency > maxShingleDf is dropped from the
    * *whole* computation (intersections AND set sizes — the two engines'
    * results stay comparable because the filtered shingle table is the
    * input to both). Near-dup pairs lose only their least-discriminating
    * features; the default (None) keeps exact semantics for the oracle.
    */
  def jaccardPairs(shingles: DataFrame, threshold: Double,
                   maxShingleDf: Option[Long] = None): DataFrame = {
    // the shingle set feeds the self-join twice plus the size aggregate;
    // cache it so the upstream explode+distinct shuffle runs once, not 3×
    // (MEMORY_AND_DISK: at scale the shingle table exceeds executor memory).
    // Scoped: callers release via graft.Caching.release after materializing.
    val cached = graft.Caching.scoped(shingles)
    val filtered = maxShingleDf match {
      case Some(cap) =>
        val hot = cached.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("shingle")
        // no broadcast hint: with a low cap over web-scale text the hot set
        // is itself large (every boilerplate shingle in the corpus), and a
        // forced broadcast would collect it to the driver; AQE broadcasts
        // it anyway whenever it is actually small
        // the capped table feeds the size aggregate plus both self-join
        // sides: persist it too, or the df-count shuffle and anti-join run
        // 3x (exchange reuse is plan luck, not contract)
        graft.Caching.scoped(
          cached.join(hot, Seq("shingle"), "left_anti").select("id", "shingle"))
      case None => cached
    }
    val sizes = filtered.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val a = filtered.toDF("d1", "s")
    val b = filtered.toDF("d2", "s")
    val inter = a.join(b, Seq("s"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter_cnt"))
    emitVerifiedPairs(
      inter
        .join(sizes.toDF("d1", "n1"), "d1")
        .join(sizes.toDF("d2", "n2"), "d2"),
      threshold)
  }

  /** ONE narrow pass building the per-document row shape of every MinHash
    * path: token array → distinct shingle SET (in-row, no explode+distinct
    * exchange) → band keys via the scalar graft_minhash_bands (`numHashes`
    * Kirsch–Mitzenmacher min-hashes over murmur3, banded into rows of
    * `bandSize`; [[graft.functions.Lsh.minHashBands]]). Embarrassingly
    * parallel; only band keys ever shuffle downstream. Output: (id, ss,
    * bk). Shared by the batch entries, the streaming increment,
    * [[buildLshIndex]] and [[minHashLshCrossIndex]], so every producer and
    * prober bands identically.
    */
  private[graft] def shingleSetsWithBands(df: DataFrame, idCol: String,
                                          textCol: String, shingleN: Int,
                                          numHashes: Int, bandSize: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= shingleN)
      .select(col("id"),
        array_distinct(TextAnalysis.wordNGrams(col("__t"), shingleN)).as("ss"))
      .withColumn("bk", call_function("graft_minhash_bands",
        col("ss"), lit(numHashes), lit(bandSize)))
  }

  /** MinHash + banded LSH near-dup detection over a documents frame — the
    * 100 TB path. [[shingleSetsWithBands]] builds each document's distinct
    * shingle set and band keys in one narrow in-row pass; candidate pairs
    * share any (band, band_key) (equi-join, no O(n²)); candidates are then
    * verified with exact Jaccard, so output has no false positives and
    * matches [[jaccardPairs]] whenever LSH recall is 1. Set sizes are
    * in-row (`size(ss)`), not an aggregate exchange.
    *
    * P(miss) for a pair at similarity s = (1 - s^bandSize)^numBands;
    * defaults (64 hashes, bands of 2) give P(miss at 0.5) ≈ 7e-5.
    *
    * The VERIFY is an exploded equi-join — per-doc set ROWS never ship
    * through the candidate join, so the biggest document costs exploded
    * rows, not a million-element array per candidate pair (the 100 TB
    * argument in [[minHashLshIncrement]]'s verify note, which faces
    * micro-batch-bounded candidates; a batch corpus' candidate set is
    * corpus-scale). Output: (d1, d2, inter_cnt, union_cnt, jaccard) with
    * d1 < d2 (spec-pinned against exact [[jaccardPairs]] + the DuckDB
    * oracle); ids must be unique per row — the corpus-table contract.
    */
  def minHashLshDocs(docs: DataFrame, idCol: String, textCol: String,
                     threshold: Double, shingleN: Int = 3,
                     numHashes: Int = 64, bandSize: Int = 2): DataFrame = {
    require(numHashes % bandSize == 0)
    // one row per doc: (id, ss, bk) — feeds the band self-join (2 uses),
    // both verify sides and both size projections; the scoped persist
    // stops the tokenize+shingle+minhash scan running 6× (callers release
    // via graft.Caching.release after materializing)
    val sets = graft.Caching.scoped(shingleSetsWithBands(docs, idCol,
      textCol, shingleN, numHashes, bandSize))
    val bands = sets.select(col("id"),
      posexplode(col("bk")).as(Seq("band", "band_key")))
    val cand = bands.toDF("d1", "band", "band_key")
      .join(bands.toDF("d2", "band", "band_key"), Seq("band", "band_key"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    // exploded verify off the cached set rows: ss is already distinct, so
    // no distinct exchange re-appears here
    val sh = sets.select(col("id"), explode(col("ss")).as("s"))
    val sizes = sets.select(col("id"), size(col("ss")).cast("long").as("n"))
    emitVerifiedPairs(
      cand
        .join(sh.toDF("d1", "s"), "d1")
        .join(sh.toDF("d2", "s2"), "d2")
        .filter(col("s") === col("s2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("inter_cnt"))
        .join(sizes.toDF("d1", "n1"), "d1")
        .join(sizes.toDF("d2", "n2"), "d2"),
      threshold)
  }

  /** Cross-corpus near-dup pairs — "dedup this dump against the previous
    * one" at the fuzzy level: MinHash-banded candidates BETWEEN the corpus
    * and reference documents only, verified with exact Jaccard (no false
    * positives; equals the exact cross-corpus Jaccard whenever LSH recall
    * is 1). Output: (corpus_id, ref_id, inter_cnt, union_cnt, jaccard) —
    * the two ids are SEPARATE namespaces (a new dump vs its predecessor),
    * so unlike [[minHashLshDocs]] there is no d1 < d2 canonicalization: the
    * column names carry which side each doc came from, and the same id
    * value on both sides means two different documents, never a self-pair.
    *
    * This is the lexical sibling of [[Decontaminate.semanticDecontaminate]]
    * (embedding-space cross-frame near-dup); [[minHashLshCrossIndex]] is
    * the same answer against a persisted reference index.
    *
    * Scale: each side builds its distinct shingle set + band keys in ONE
    * narrow in-row pass ([[shingleSetsWithBands]], so the two corpora band
    * identically) and set sizes come in-row; candidates are ONE equi-join
    * between the two band sets, so n_corpus × n_ref never materializes —
    * and vs running [[minHashLshDocs]] over a tagged union and filtering,
    * neither side pays its own within-side candidate half (for a dump
    * re-crawled at 90% overlap that half is most of the join). Verify is
    * the exploded between-side equi-join ([[minHashLshDocs]]' corpus-scale
    * verify shape). Ids must be unique per row within each side; callers
    * release the scoped persists via [[graft.Caching.release]].
    */
  def minHashLshCrossDocs(corpus: DataFrame, reference: DataFrame,
                          idCol: String, textCol: String, threshold: Double,
                          shingleN: Int = 3, numHashes: Int = 64,
                          bandSize: Int = 2): DataFrame = {
    require(numHashes % bandSize == 0)
    // each side feeds its band exploder, one verify side and one size
    // projection (3 uses) — scoped persists, released by the caller
    val c = graft.Caching.scoped(shingleSetsWithBands(corpus, idCol,
      textCol, shingleN, numHashes, bandSize))
    val r = graft.Caching.scoped(shingleSetsWithBands(reference, idCol,
      textCol, shingleN, numHashes, bandSize))
    val cand = c.select(col("id").as("corpus_id"),
        posexplode(col("bk")).as(Seq("band", "band_key")))
      .join(r.select(col("id").as("ref_id"),
        posexplode(col("bk")).as(Seq("band", "band_key"))),
        Seq("band", "band_key"))
      .select("corpus_id", "ref_id").distinct()
    emitVerifiedPairs(
      cand
        .join(c.select(col("id").as("corpus_id"), explode(col("ss")).as("s")),
          "corpus_id")
        .join(r.select(col("id").as("ref_id"), explode(col("ss")).as("s2")),
          "ref_id")
        .filter(col("s") === col("s2"))
        .groupBy("corpus_id", "ref_id").agg(count(lit(1)).as("inter_cnt"))
        .join(c.select(col("id").as("corpus_id"),
          size(col("ss")).cast("long").as("n1")), "corpus_id")
        .join(r.select(col("id").as("ref_id"),
          size(col("ss")).cast("long").as("n2")), "ref_id")
        .select(col("corpus_id").as("d1"), col("ref_id").as("d2"),
          col("inter_cnt"), col("n1"), col("n2")),
      threshold)
      .withColumnRenamed("d1", "corpus_id")
      .withColumnRenamed("d2", "ref_id")
  }

  /** The drop DECISION over [[minHashLshCrossDocs]]: corpus documents that
    * near-dup ANY reference document are removed; everything else survives,
    * including sub-`shingleN`-token documents that produce no shingles (the
    * [[keepList]] contract — a doc with no features never pairs). The
    * reference side is never dropped: the already-shipped dump is
    * immutable, this filters the NEW one. One anti-join on the skinny
    * dropped-id set; NULL-id rows survive (an anti-join's NULL key matches
    * nothing), the [[keepList]] rule.
    */
  def dedupAgainst(corpus: DataFrame, reference: DataFrame, idCol: String,
                   textCol: String, threshold: Double, shingleN: Int = 3,
                   numHashes: Int = 64, bandSize: Int = 2): DataFrame =
    corpus.join(
      minHashLshCrossDocs(corpus, reference, idCol, textCol, threshold,
        shingleN, numHashes, bandSize)
        .select(col("corpus_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** One-shot [[LshIndex]] build from a batch reference corpus — the
    * persisted index of an already-shipped dump, so each LATER dump can
    * [[minHashLshCrossIndex]] against it without re-banding the reference
    * every run (a stream accumulates the same index incrementally via
    * [[minHashLshIncrement]]; the two producers write the identical row
    * shapes through the shared [[shingleSetsWithBands]] pass, so an index
    * is probe-compatible regardless of which built it). OVERWRITES both
    * tables — rebuilding for a new reference replaces the old one; use the
    * streaming increment to grow an index instead. Same single-writer
    * contract as the increment ([[TableChecks.ensureWritable]]).
    */
  def buildLshIndex(reference: DataFrame, idCol: String, textCol: String,
                    index: LshIndex, shingleN: Int = 3, numHashes: Int = 64,
                    bandSize: Int = 2,
                    checks: TableChecks = new TableChecks): Unit = {
    val spark = reference.sparkSession
    checks.ensureWritable(spark, index.bandsTable)
    checks.ensureWritable(spark, index.shinglesTable)
    // one narrow pass feeds both table writes — persist for the build's
    // lifetime only (not Caching.scoped: the scope is this build)
    val docs = shingleSetsWithBands(reference, idCol, textCol, shingleN,
        numHashes, bandSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      docs.select(col("id"), posexplode(col("bk")).as(Seq("band", "band_key")))
        .write.mode("overwrite").format("parquet")
        .bucketBy(index.numBuckets, "band", "band_key")
        .saveAsTable(index.bandsTable)
      checks.markExists(index.bandsTable)
      docs.select("id", "ss").write.mode("overwrite").format("parquet")
        .bucketBy(index.numBuckets, "id").saveAsTable(index.shinglesTable)
      checks.markExists(index.shinglesTable)
    } finally { docs.unpersist(blocking = false); () }
  }

  /** [[minHashLshCrossDocs]] against a PERSISTED reference index instead of a
    * reference frame — the production re-crawl shape: the previous dump's
    * index is built once ([[buildLshIndex]], or accumulated by the
    * streaming increment) and every new dump probes it with ONE bucketed
    * band join — the stored side is read pre-partitioned on (band,
    * band_key), NO exchange, so probe cost scales with the NEW dump, not
    * the indexed corpus. Candidate orientation is preserved (corpus_id →
    * ref_id; the namespaces are separate, so no least/greatest
    * canonicalization and a same-valued id on both sides is a legitimate
    * cross pair — the [[minHashLshCrossDocs]] contract, NOT
    * [[crossCandidates]]' same-stream dedup). Verification is in-row
    * (array_intersect over the two docs' stored shingle sets, the
    * streaming verify shape — per-pair cost ~ the two documents' set
    * sizes, same work as the exploded join minus ~4 exchanges); both
    * sides' same-id rows set-merge first, so duplicate ids in the corpus
    * frame and replay-duplicated index rows both fold into one set union
    * per id. Output and threshold semantics are exactly
    * [[minHashLshCrossDocs]]' — equal results when the index holds the
    * same unique-id reference corpus (spec-pinned).
    */
  def minHashLshCrossIndex(corpus: DataFrame, idCol: String, textCol: String,
                           index: LshIndex, threshold: Double,
                           shingleN: Int = 3, numHashes: Int = 64,
                           bandSize: Int = 2,
                           checks: TableChecks = new TableChecks): DataFrame = {
    val spark = corpus.sparkSession
    require(checks.exists(spark, index.bandsTable) &&
      checks.exists(spark, index.shinglesTable),
      s"minHashLshCrossIndex: index tables ${index.bandsTable} / " +
        s"${index.shinglesTable} not found — build the reference index with " +
        "buildLshIndex (batch) or minHashLshIncrement (stream) first")
    // feeds the band probe + the corpus-side verify set build (2 uses)
    val corpusDocs = graft.Caching.scoped(shingleSetsWithBands(corpus, idCol,
      textCol, shingleN, numHashes, bandSize))
    // the candidate set feeds both semi-joins and the verify join (3 uses)
    val cand = graft.Caching.scoped(
      spark.table(index.bandsTable).toDF("ref_id", "band", "band_key")
        .join(corpusDocs
          .select(col("id").as("corpus_id"),
            posexplode(col("bk")).as(Seq("band", "band_key"))),
          Seq("band", "band_key"))
        .select("corpus_id", "ref_id").distinct())
    val cArr = mergedCandidateSets(corpusDocs.select("id", "ss"),
      cand.select(col("corpus_id").as("id")), "minHashLshCrossIndex")
    val rArr = mergedCandidateSets(spark.table(index.shinglesTable).select("id", "ss"),
      cand.select(col("ref_id").as("id")), "minHashLshCrossIndex")
    emitVerifiedPairs(
      cand
        .join(cArr.select(col("id").as("corpus_id"), col("ss").as("s1")), "corpus_id")
        .join(rArr.select(col("id").as("ref_id"), col("ss").as("s2")), "ref_id")
        .select(col("corpus_id").as("d1"), col("ref_id").as("d2"),
          size(array_intersect(col("s1"), col("s2"))).cast("long").as("inter_cnt"),
          size(col("s1")).cast("long").as("n1"),
          size(col("s2")).cast("long").as("n2")),
      threshold)
      .withColumnRenamed("d1", "corpus_id")
      .withColumnRenamed("d2", "ref_id")
  }

  /** [[dedupAgainst]] against a persisted index: the corpus survivors
    * after dropping every doc that [[minHashLshCrossIndex]] pairs with the
    * indexed reference. Same contracts (shingle-less and NULL-id docs
    * survive; the index is never modified).
    */
  def dedupAgainstIndex(corpus: DataFrame, idCol: String, textCol: String,
                        index: LshIndex, threshold: Double, shingleN: Int = 3,
                        numHashes: Int = 64, bandSize: Int = 2,
                        checks: TableChecks = new TableChecks): DataFrame =
    corpus.join(
      minHashLshCrossIndex(corpus, idCol, textCol, index, threshold, shingleN,
        numHashes, bandSize, checks)
        .select(col("corpus_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** The persisted corpus index behind [[minHashLshStream]]: two bucketed
    * catalog tables.
    *
    *  - `bandsTable` (id, band, band_key), bucketed by (band, band_key):
    *    each micro-batch's signature bands probe it with a bucketed join —
    *    the stored corpus side is read pre-partitioned, NO exchange, so
    *    probe cost scales with the BATCH, not the corpus.
    *  - `shinglesTable` (id, ss array<string>), bucketed by id — ONE row
    *    per doc holding its distinct shingle set in-row: serves the exact-
    *    Jaccard verification of candidate pairs (only candidate ids are
    *    semi-joined out of it; intersection/sizes then run in-row, no
    *    per-shingle explosion ever shuffles).
    *
    * Both tables grow by one append per micro-batch (numBuckets files
    * each); [[compactIndex]] is the routine table maintenance that folds
    * them back to one file per bucket at high batch counts (wire it in
    * with `minHashLshStream(..., compactEvery = N)`).
    */
  final case class LshIndex(bandsTable: String, shinglesTable: String,
                            numBuckets: Int = 32)

  /** The micro-batch probe join of [[minHashLshIncrement]]: this batch's
    * signature bands against the stored corpus index — candidates are ids
    * sharing any (band, band_key), exactly [[minHashLshDocs]]' criterion, but
    * only the batch side shuffles (the index side is bucketed on the join
    * keys; PlanSpec pins the exchange-free scan). Emitted as (d1 < d2).
    */
  private[graft] def crossCandidates(batchBands: DataFrame, index: LshIndex): DataFrame =
    batchBands.sparkSession.table(index.bandsTable)
      .toDF("stored_id", "band", "band_key")
      .join(batchBands.toDF("new_id", "band", "band_key"), Seq("band", "band_key"))
      .filter(col("stored_id") =!= col("new_id"))
      .select(least(col("stored_id"), col("new_id")).as("d1"),
        greatest(col("stored_id"), col("new_id")).as("d2"))

  /** The shared Jaccard verify-and-emit tail: given per-pair exact counts
    * (d1, d2, inter_cnt, n1, n2), keep pairs meeting `threshold` and emit
    * the (d1, d2, inter_cnt, union_cnt, jaccard) contract. ONE definition
    * — [[jaccardPairs]], [[minHashLshDocs]], and the streaming verify all
    * feed it, so the batch ≡ stream bit-for-bit equality (spec-pinned)
    * cannot drift through a threshold-semantics fix applied to only one
    * copy.
    */
  private def emitVerifiedPairs(cnts: DataFrame, threshold: Double): DataFrame =
    cnts
      .withColumn("union_cnt", col("n1") + col("n2") - col("inter_cnt"))
      .filter(col("inter_cnt").cast("double") >= lit(threshold) * col("union_cnt"))
      .select(col("d1"), col("d2"), col("inter_cnt"), col("union_cnt"),
        (col("inter_cnt").cast("double") / col("union_cnt")).as("jaccard"))

  /** The per-candidate-id merged shingle-set build shared by the streaming
    * verify and the cross-index probe: same-id rows (replay-duplicated index
    * rows, duplicate ids within a batch, an id re-arriving with new text)
    * union into ONE deterministic set (one set union per id).
    *
    * SKEW/GROWTH BOUND: the union array grows with every distinct same-id
    * row, and a pathological id re-arriving with new text each batch grows
    * it without bound — the family's one remaining unguarded skew point
    * (r17 VERDICT item 5). Armed via the same opt-in conf as the window-min
    * guard (`spark.graft.streaming.maxSliceRows`): a candidate id merging
    * more than the cap's same-id set ROWS raises a named error instead of
    * silently serializing an ever-fatter array on one task. Unarmed, the
    * aggregate is byte-identical to the unguarded form (zero extra
    * exchanges either way — the count rides the same aggregate).
    */
  private def mergedCandidateSets(sets: DataFrame, ids: DataFrame,
                                  context: String): DataFrame = {
    val base = sets.join(ids, Seq("id"), "left_semi").groupBy("id")
    graft.streaming.StatefulOps.maxSliceRows(sets.sparkSession) match {
      case Some(cap) =>
        base.agg(array_distinct(flatten(collect_list(col("ss")))).as("__ss"),
            count(lit(1)).as("__nrows"))
          .select(col("id"),
            when(col("__nrows") > cap, raise_error(concat(
              lit(s"$context: candidate id "), col("id").cast("string"),
              lit(s" merges more than $cap same-id shingle-set rows " +
                s"(${graft.streaming.StatefulOps.MaxSliceRowsConf}) — the " +
                "per-id set union grows on one task; dedup the id upstream, " +
                "compact the index, or raise the cap"))).cast("array<string>"))
              .otherwise(col("__ss")).as("ss"))
      case None =>
        base.agg(array_distinct(flatten(collect_list(col("ss")))).as("ss"))
    }
  }

  /** Exact-Jaccard verification for streaming candidates. Counts are
    * DISTINCT-counted so an at-least-once replay that duplicated index rows
    * (a retried micro-batch re-appending its shingles) cannot inflate
    * intersections or set sizes — `array_distinct` sheds the duplicates in
    * the per-doc set build, so on clean input the result still matches
    * [[minHashLshDocs]] bit-for-bit.
    *
    * `arr` is the per-CANDIDATE-doc shingle-set table (id, ss) — the caller
    * persists it (micro-batch-bounded: only docs that appear in a pair).
    * Intersection and sizes are computed IN-ROW (`array_intersect`/`size`)
    * after joining each pair to its two set rows. vs the exploded
    * (pair × shingle) join + groupBy + two sizes joins this drops ~4
    * exchanges per micro-batch, and both small sides broadcast under AQE —
    * the per-batch fixed-latency budget is the whole game at a 100 TB
    * stream's batch cadence. Batch [[minHashLshDocs]] deliberately keeps the
    * exploded verify: its candidate set is corpus-scale, and a row per doc
    * shingle SET there would hold million-element arrays on the biggest
    * docs, where the stream's arrays are bounded by what one micro-batch's
    * bands collide with.
    */
  private def verifyStreamCandidates(cand: DataFrame, arr: DataFrame,
                                     threshold: Double): DataFrame = {
    emitVerifiedPairs(
      cand
        .join(arr.toDF("d1", "s1"), "d1")
        .join(arr.toDF("d2", "s2"), "d2")
        .withColumn("inter_cnt", size(array_intersect(col("s1"), col("s2"))).cast("long"))
        .withColumn("n1", size(col("s1")).cast("long"))
        .withColumn("n2", size(col("s2")).cast("long"))
        .drop("s1", "s2"),
      threshold)
  }

  /** One micro-batch of incremental near-dup detection against the corpus
    * index — the continuous-ingest answer to "is this new document a
    * near-dup of anything already ingested?" without a batch re-run.
    *
    * Steps, in an order that keeps the emission exactly-once per pair:
    *
    *  1. shingle + band the batch ([[shingleSetsWithBands]] — the kernel
    *     every batch and index path uses);
    *  2. candidates = batch×index bucketed band join ([[crossCandidates]])
    *     ∪ batch-internal band self-join (pairs arriving together);
    *  3. exact-Jaccard verify (no false positives — same contract as
    *     [[minHashLshDocs]]), emit verified pairs into `pairsDir` under a
    *     `batch_id=<id>` partition with DYNAMIC partition overwrite: a
    *     replayed micro-batch rewrites its own partition instead of
    *     appending duplicates;
    *  4. only then append the batch's bands and shingles to the index —
    *     a pair is found exactly once, when its LATER document arrives
    *     (or in-batch when both arrive together).
    *
    * Replay safety: pairs are idempotent via the partition overwrite; a
    * replayed index append can duplicate index rows, which candidates
    * absorb via distinct and verification via distinct-counts (and a
    * compaction rewrite removes). Doc ids must be unique across the
    * stream (the usual changelog contract). The streamed pair set over
    * any prefix of the stream equals [[minHashLshDocs]] on the union of those
    * documents — golden-tested, and declared as x30 against the batch
    * oracle.
    */
  def minHashLshIncrement(batch: DataFrame, idCol: String, textCol: String,
                          threshold: Double, index: LshIndex, pairsDir: String,
                          batchId: Long, shingleN: Int = 3,
                          numHashes: Int = 64, bandSize: Int = 2,
                          checks: TableChecks = new TableChecks): Unit = {
    val (_, appends, cleanup) = minHashLshIncrementDeferred(batch, idCol,
      textCol, threshold, index, pairsDir, batchId, shingleN, numHashes,
      bandSize, checks)
    try graft.ProbeTiming("lsh_appends")(ConcurrentActions.run(appends))
    finally cleanup()
  }

  /** [[minHashLshIncrement]] with every write DEFERRED: the candidate
    * build + exact verify runs here (steps 1-3, materialized via an eager
    * local checkpoint while the index still holds only prior batches —
    * exactly-once semantics unchanged), and the three write thunks
    * (pairs dump + two index appends) are returned for the caller to run
    * — alone, or folded into its own concurrent end-of-batch action set
    * ([[graft.ext.CurationPipeline.streamIncrement]]). The first element
    * is this batch's verified-pairs frame (checkpointed — downstream
    * reads cost no recompute and no partition re-listing). The caller
    * MUST run every thunk (or fail the batch: a replay re-runs all
    * steps) and MUST invoke the returned cleanup after they finish — it
    * releases the batch-lifetime persisted subtrees the thunks read.
    *
    * Durability note (vs the pre-r16 eager parquet dump): the verified
    * pairs exist only as checkpoint blocks until the deferred dump runs.
    * Without a configured checkpoint dir that is a LOCAL checkpoint —
    * executor loss (dynamic allocation, preemption) between the
    * materialization and the dump fails the batch, and the stream replays
    * it (recomputing identical pairs — correctness is unaffected, the
    * cost is one batch retry). Clusters running with executor churn
    * should set a checkpoint dir: the materialization then upgrades to a
    * reliable checkpoint automatically (same barrier, loss-proof blocks,
    * files deleted by the cleanup).
    */
  private[graft] def minHashLshIncrementDeferred(
      batch: DataFrame, idCol: String, textCol: String,
      threshold: Double, index: LshIndex, pairsDir: String,
      batchId: Long, shingleN: Int = 3,
      numHashes: Int = 64, bandSize: Int = 2,
      checks: TableChecks = new TableChecks)
      : (DataFrame, Seq[() => Unit], () => Unit) = {
    val spark = batch.sparkSession
    // single-writer contract: fail loudly if a compaction is rewriting the
    // index right now (appends to the pre-snapshot table would be dropped
    // by its swap); includes finishing a compaction swap that crashed
    // between DROP and RENAME BEFORE the tableExists checks below — a
    // missing table with a __compact sibling is the accumulated corpus,
    // not a fresh stream. Memoized per stream via [[TableChecks]].
    checks.ensureWritable(spark, index.bandsTable)
    checks.ensureWritable(spark, index.shinglesTable)
    graft.functions.GraftFunctions.register(spark)
    // ONE narrow pass builds everything per-row (see [[shingleSetsWithBands]]).
    // Duplicate ids within a batch (legal on this
    // public API — nothing upstream enforces uniqueness) keep one row EACH
    // here: every row's bands probe for candidates, and the verify stage
    // below set-merges same-id shingle sets, so verified pairs stay
    // deterministic: one set union per id
    // (candidate recall follows the per-row signatures, not the
    // merged-set signature — LSH recall is probabilistic either way).
    // Local persist (batch-lifetime, released in finally — not Caching
    // .scoped: the scope here is this increment, not the caller's query).
    val batchDocs = shingleSetsWithBands(batch, idCol, textCol, shingleN,
        numHashes, bandSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var caches: List[DataFrame] = List(batchDocs)
    try {
      val batchBands = batchDocs
        .select(col("id"), posexplode(col("bk")).as(Seq("band", "band_key")))
      // BOTH tables, not just one: a first-batch crash between the two
      // appends leaves only the bands table, and a replay that trusted it
      // alone would throw reading the missing shingles table forever —
      // treating half-created state as a fresh stream re-creates both
      // (the replay's reads see no prior batches either way)
      val exists = checks.exists(spark, index.bandsTable) &&
        checks.exists(spark, index.shinglesTable)
      val inBatch = batchBands.toDF("d1", "band", "band_key")
        .join(batchBands.toDF("d2", "band", "band_key"), Seq("band", "band_key"))
        .filter(col("d1") < col("d2"))
        .select("d1", "d2")
      // the candidate pairs feed the verify chain AND both legs of the
      // candIds union — persist (micro-batch-bounded: pairs sharing a
      // band) so the band self-join + index probe run once per increment,
      // not three times. That recomputation was ~half of x33's per-batch
      // wall before round 11.
      val cand = ((if (exists) inBatch.union(crossCandidates(batchBands, index))
                   else inBatch).distinct())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      caches ::= cand
      val allSets =
        if (exists) spark.table(index.shinglesTable).select("id", "ss")
          .union(batchDocs.select("id", "ss"))
        else batchDocs.select("id", "ss")
      // no .distinct(): left-semi dedups against its right side for free
      val candIds = cand.select(col("d1").as("id"))
        .union(cand.select(col("d2").as("id")))
      // per-candidate-doc shingle sets: the semi-join pulls only candidate
      // ids out of the bucketed corpus table (candIds broadcasts under
      // AQE). The set-merge aggregate (same one exchange a dropDuplicates
      // would cost) folds replay-duplicated index rows AND genuinely
      // different same-id rows — duplicate ids within a batch, or an id
      // re-arriving with new text — into one deterministic UNION set per
      // id; an arbitrary-row pick here made
      // verified pairs run-to-run nondeterministic. Verification is
      // order-insensitive (array_intersect + size), so collect_list's
      // nondeterministic row order cannot leak into results. The per-id
      // growth bound lives in [[mergedCandidateSets]] (opt-in maxSliceRows).
      val arr = mergedCandidateSets(allSets, candIds, "minHashLshIncrement")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      caches ::= arr
      // MATERIALIZE the candidates/verification plan while the index still
      // holds only PRIOR batches (an eager local checkpoint — executing the
      // verify after an append started could list a table mid-commit). The
      // parquet DUMP of the already-materialized rows reads only local
      // blocks, so it defers into the same concurrent action set as the
      // index appends instead of serializing in front of them — one fewer
      // blocking write on the micro-batch critical path, and the caller
      // reads this batch's pairs straight from the returned frame instead
      // of re-listing the partition it just wrote. A replay that finds the
      // appends committed but the pairs dump missing recomputes IDENTICAL
      // pairs: crossCandidates orders with least/greatest and `cand` is
      // distinct'd, so the batch meeting itself in the index folds into
      // the in-batch pairs, and the set-merge above absorbs the
      // duplicated index rows (the documented at-least-once stance).
      // DURABILITY of the deferral (r16 ADVICE): until the deferred dump
      // runs, the verified pairs live only in checkpoint blocks. A LOCAL
      // checkpoint pins them to executor storage — on a cluster, losing
      // any holding executor (dynamic allocation, preemption) fails the
      // batch unrecoverably mid-flight (the stream replay then recomputes
      // identical pairs, so correctness holds, but the batch pays a full
      // retry). When the session has a checkpoint dir configured, use a
      // RELIABLE checkpoint instead — same eager materialization barrier,
      // executor-loss-proof blocks — mirroring [[connectedComponents]]'s
      // truncate; its files are deleted by the cleanup below once the
      // dump thunks have run.
      val reliableCkpt = spark.sparkContext.getCheckpointDir.isDefined
      val verified = graft.ProbeTiming("lsh_verify_ckpt")(
        Dedup.stripOriginConstraints {
          val v = verifyStreamCandidates(cand, arr, threshold)
          if (reliableCkpt) v.checkpoint(eager = true)
          else v.localCheckpoint(eager = true)
        })
      val freeVerified: () => Unit = () => verified.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          val rdd = lr.rdd
          val checkpointFile = rdd.getCheckpointFile
          rdd.unpersist(blocking = false)
          checkpointFile.foreach { f =>
            try {
              val p = new org.apache.hadoop.fs.Path(f)
              p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .delete(p, true)
            } catch { case _: java.io.IOException => () }
          }
        case _ => ()
      }
      val mode = if (exists) "append" else "overwrite"
      // the three writes are independent of each other, read only the
      // persisted/checkpointed batch state, and are read by NOTHING else
      // this batch — so they can run concurrently with each other AND with
      // any later same-batch writes the caller wants to overlap them with
      // ([[graft.ext.CurationPipeline.streamIncrement]] folds them into
      // its curated+offsets action set: five fixed per-action costs become
      // one max). Never more than TWO of them are saveAsTable (the r13
      // proven-concurrency bound — the pairs dump is a path write). Each
      // append marks its table existent on success; the persisted caches
      // they read release only after they ran (the returned cleanup).
      val appends = Seq[() => Unit](
        () => verified
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(pairsDir),
        () => {
          batchBands.write.mode(mode).format("parquet")
            .bucketBy(index.numBuckets, "band", "band_key").saveAsTable(index.bandsTable)
          checks.markExists(index.bandsTable)
        },
        () => {
          batchDocs.select("id", "ss").write.mode(mode).format("parquet")
            .bucketBy(index.numBuckets, "id").saveAsTable(index.shinglesTable)
          checks.markExists(index.shinglesTable)
        })
      val held = caches
      caches = Nil // success: the caller's cleanup owns the releases now
      (verified, appends,
        () => { held.foreach(_.unpersist(blocking = false)); freeVerified() })
    } finally caches.foreach(_.unpersist(blocking = false))
  }

  /** Streaming near-dup dedup: [[minHashLshIncrement]] wired into
    * `foreachBatch`. Caller sets trigger/checkpoint and starts; verified
    * pairs accumulate under `pairsDir` (read with
    * `spark.read.parquet(pairsDir)`; `batch_id` is bookkeeping). The
    * reference is a continuous-processing engine first (processors/
    * filter.h:39-57) — this closes the one curation stage (near-dup) that
    * previously required a batch re-run on ingest.
    *
    * `compactEvery = N` runs [[compactIndex]] after every Nth batch — the
    * between-batches maintenance window, so an unattended stream keeps its
    * index at ≤ numBuckets files per table instead of batches × numBuckets
    * (0 = caller manages compaction).
    */
  def minHashLshStream(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, pairsDir: String, index: LshIndex,
                       shingleN: Int = 3, numHashes: Int = 64,
                       bandSize: Int = 2, compactEvery: Int = 0): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // one maintenance-check memo per STREAM: crashed-swap/existence run on
    // the first batch, not every batch; the lease re-validates on every
    // batch ([[TableChecks]])
    val checks = new TableChecks
    docs.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      minHashLshIncrement(batch.toDF(), idCol, textCol, threshold, index,
        pairsDir, batchId, shingleN, numHashes, bandSize, checks)
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        compactIndex(batch.sparkSession, index)
    }
  }

  /** Finishes a [[compactBucketedTable]] swap that crashed between its
    * DROP and RENAME — the data then lives only in `<table>__compact`.
    * EVERY state-reading path (the increments as well as compaction
    * itself) must call this before its `tableExists` check: a missing
    * table with a live `__compact` sibling is a half-finished swap, NOT
    * an empty corpus. An increment that misread it as empty would skip
    * the prior-corpus probe (dups sail through undetected), re-create
    * the table in overwrite mode, and the next compaction's tmp cleanup
    * would then delete the only copy of the accumulated index.
    */
  private[graft] def finishCrashedSwap(spark: org.apache.spark.sql.SparkSession,
                                       table: String): Unit =
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(table + "__compact"))
      spark.sql(s"ALTER TABLE ${table}__compact RENAME TO $table")

  /** Compacts one bucketed index table back to `numBuckets` files: the
    * append-per-micro-batch growth pattern ([[minHashLshIncrement]] adds
    * `numBuckets` files per batch) is rewritten as ONE file per bucket,
    * dropping the duplicate rows an at-least-once replay may have appended.
    * The rewrite goes to a sibling `<table>__compact` with the SAME bucket
    * spec, then swaps names — so the no-exchange probe-join contract
    * (PlanSpec's `Bucketed: true` pin) holds before, during, and after.
    *
    * The `repartition(numBuckets, bucketCols)` aligns write tasks with
    * bucket ids (both sides hash with murmur3 pmod numBuckets), so each
    * task holds exactly one bucket and writes at most one file (empty
    * buckets write none); the duplicate-drop then runs partition-local
    * (hash-partitioning on a subset of the distinct columns satisfies its
    * clustering — no second exchange).
    *
    * Crash safety: a crash after the DROP but before the RENAME leaves the
    * data in `<table>__compact` only; the next call (or [[compactIndex]])
    * finishes the swap before doing anything else. Run compaction while no
    * increment is writing (the usual table-maintenance window — between
    * micro-batches or on a paused stream).
    */
  private[graft] def compactBucketedTable(spark: org.apache.spark.sql.SparkSession,
                                          table: String, numBuckets: Int,
                                          bucketCols: Seq[String],
                                          canonicalize: Option[DataFrame => DataFrame] = None): Unit =
    // the "no increment during compaction" contract, enforced: the rewrite
    // holds the table's single-writer lease, and every increment entry
    // point asserts it free ([[StateLease]]) — a racing writer fails
    // loudly instead of appending to a table the swap is about to drop
    StateLease.withLease(spark, table, s"compact $table") {
      val tmp = table + "__compact"
      finishCrashedSwap(spark, table)
      require(spark.catalog.tableExists(table), s"compact: no such table $table")
      // a crash mid-write can leave tmp's DATA DIR with no catalog entry
      // (the CTAS commits the catalog entry last) — drop location too, or
      // every future compaction wedges on LOCATION_ALREADY_EXISTS
      graft.sinks.Sinks.dropTableAndLocation(spark, tmp)
      // default canonical form: the distinct row set (replay appends exact
      // duplicates); state whose history FOLDS (the cluster registry's
      // latest-per-doc) passes its own reduction
      val canonical = canonicalize match {
        case Some(f) => f(spark.table(table))
          .repartition(numBuckets, bucketCols.map(col): _*)
        case None => spark.table(table)
          .repartition(numBuckets, bucketCols.map(col): _*)
          .dropDuplicates()
      }
      canonical.write.format("parquet")
        .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
        .saveAsTable(tmp)
      spark.sql(s"DROP TABLE $table")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
  }

  /** Routine maintenance for a [[LshIndex]]: compact both tables back to
    * `numBuckets` files each (from batches-so-far × numBuckets) and shed
    * replay-duplicated rows. Results are unchanged by contract — duplicates
    * were already absorbed by candidate `distinct` and distinct-counted
    * verification — but every probe join now opens a bounded file set.
    * Call between micro-batches (e.g. from `foreachBatch` every N batches)
    * or on a stopped stream.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, index: LshIndex): Unit = {
    compactBucketedTable(spark, index.bandsTable, index.numBuckets, Seq("band", "band_key"))
    compactBucketedTable(spark, index.shinglesTable, index.numBuckets, Seq("id"))
  }

  /** The dedup *decision* on top of any near-dup pair set: keep every doc
    * that is not the dropped side of a pair. Dropping the larger id of each
    * pair (the standard survivor rule; reference pipelines keep
    * first-by-key the same way) removes at least one of every detected
    * duplicate pair in a single anti-join — no iterative connected
    * components, so it scales as one broadcast/shuffle join. The guarantee
    * is per-pair only: of every detected pair, the d2 side is dropped. A
    * chain's minimum always survives, but other members can too — for
    * pairs (1,3),(2,3), both 1 and 2 survive since 2 never appears as a
    * d2. Collapsing whole chains to one survivor needs connected
    * components — [[keepListCollapsed]].
    */
  def keepList(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("d2").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Connected components over a near-dup pair set — the cluster-collapse
    * step [[keepList]] deliberately skips: every document connected through
    * any chain of pairs maps to the same `cluster_id` (the component's
    * minimum doc id). Output: `(doc_id, cluster_id)`, one row per document
    * that appears in at least one pair; unpaired documents are their own
    * trivial clusters and are omitted.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    * is two equi-join + hash-aggregate passes over the edge set, and the
    * edge set contracts toward stars in O(log²) rounds, NOT graph-diameter
    * rounds (plain min-label propagation needs one round per hop, so a
    * 1M-long chain would need 1M shuffles). Every iteration TRUNCATES
    * LINEAGE by checkpointing its edge set: each star pass references its
    * input ~5 times, so without truncation round k's logical plan holds
    * ~5^k copies of the whole upstream (LSH) subtree and analyzer time
    * explodes exponentially even though caching keeps the executed work
    * small (measured: rounds went 3 s → 7 s → 8 s at sf0.1 with persist
    * alone; constant ~0.5 s with truncation). `localCheckpoint` is used by
    * default — data-loss-on-executor-failure just restarts the bounded
    * iteration; set `SparkContext.setCheckpointDir` and the rounds use
    * reliable `checkpoint` instead (the 1000-executor stance, where losing
    * an executor mid-iteration is routine). Retired rounds are freed
    * eagerly — blocks unpersisted, reliable-checkpoint files deleted; the
    * final round backs the returned plan and is reclaimed when the result
    * is unreferenced. Deterministic: the fixpoint (component minima) is
    * unique regardless of execution order or partitioning.
    *
    * `maxIters` bounds the rounds (log²(n) ⇒ 20 covers any realistic
    * corpus); hitting the bound raises rather than returning a
    * partially-collapsed mapping.
    */
  /** Workaround for a Spark 4.1 LogicalRDD hazard: `Dataset.checkpoint` /
    * `localCheckpoint` snapshot the origin plan's CONSTRAINTS onto the
    * LogicalRDD (`originConstraints`), and inside a streaming
    * `foreachBatch`, re-instancing of a checkpointed frame that appears
    * several times in one plan (e.g. [[connectedComponents]]' star
    * self-unions) can produce copies whose OUTPUT got fresh attribute ids
    * while `originConstraints` kept the original ids. The first Union
    * above such a copy dies in `Union.rewriteConstraints` with
    * `key not found: a#N`. Reproduced deterministically by CurationSpec's
    * "semantic stage" streaming test (cluster registry increments inside
    * foreachBatch) and MUTATION-VERIFIED: with this strip disabled that
    * test crashes exactly so. Outside foreachBatch the plain
    * `newInstance()` path remaps the snapshot correctly — the hazard needs
    * the streaming batch-plan cloning. Dropping the snapshot costs only
    * optimizer hints (inferred IsNotNull filters on the checkpointed
    * subtree); correctness is untouched. In-place best effort: if the
    * field moves in a future Spark, the strip no-ops — SparkPremiseSpec
    * fails the day the snapshot itself disappears, flagging this as dead
    * code to delete.
    */
  private[graft] def stripOriginConstraints(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        try {
          val f = classOf[org.apache.spark.sql.execution.LogicalRDD]
            .getDeclaredField("originConstraints")
          f.setAccessible(true)
          f.set(lr, None)
        } catch { case scala.util.control.NonFatal(_) => () }
      case _ => ()
    }
    df
  }

  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // The iteration labels nodes with long ids. A silent cast would turn
    // string/UUID ids into nulls (every edge then dropped ⇒ an EMPTY mapping
    // that makes keepListCollapsed keep all near-dups) and would truncate
    // fractional ids (spuriously merging distinct docs) — so require an
    // integral id type up front; map arbitrary ids to longs (dictionary
    // join / dense rank) before collapsing.
    Seq("d1", "d2").foreach(Guards.requireIntegralId(pairs, _, "connectedComponents"))
    val sc = pairs.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    // materialize AND truncate lineage (see scaladoc — without this the
    // round-k plan embeds ~5^k copies of the upstream subtree)
    def truncate(df: DataFrame): DataFrame =
      Dedup.stripOriginConstraints(
        if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true))

    // Eagerly free a RETIRED round (nothing reads it again once the next
    // round is checkpoint-materialized): drop its blocks and, on the
    // reliable path, its checkpoint files — the ContextCleaner only deletes
    // checkpoint FILES when cleanCheckpoints is enabled (default off), so
    // without this every invocation would accrete per-round files for the
    // session's lifetime. The FINAL round is deliberately NOT freed this
    // way: its data backs the returned plan and truncation removed the
    // lineage to recompute it, so it lives until the result is
    // unreferenced (blocks reclaimed by the ContextCleaner on GC; enable
    // spark.cleaner.referenceTracking.cleanCheckpoints for the files).
    def freeRetired(df: DataFrame): Unit = df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val rdd = lr.rdd
        val checkpointFile = rdd.getCheckpointFile
        rdd.unpersist(blocking = false)
        checkpointFile.foreach { f =>
          try {
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
          } catch { case _: java.io.IOException => () }
        }
      case _ => ()
    }

    // Adaptive loop parallelism, expressed PER-PLAN: each star round is ~5
    // equi-join/distinct exchanges whose per-partition scheduling latency
    // dwarfs the data on SMALL edge sets (an incremental-registry batch
    // touches only the affected components — measured: 8-partition
    // exchanges × ~5 joins × 2 rounds of pure latency at sf0.1). When the
    // just-materialized edge count is small, an explicit repartition(w, keys)
    // ahead of each groupBy/join/distinct satisfies the operator's
    // distribution requirement at width w (~64k two-long edge rows per
    // partition), so no extra exchange is planned — and the session-global
    // spark.sql.shuffle.partitions is never touched (a concurrent query on
    // the same session must not silently plan at the narrowed width). A
    // 100 TB pair graph keeps its full width: width = None ⇒ the plain
    // un-repartitioned plan.
    def loopWidth(edgeCount: Long): Option[Int] = {
      val spark = pairs.sparkSession
      val sessionShuffle = scala.util.Try(
        spark.conf.get("spark.sql.shuffle.partitions").trim.toInt)
        .getOrElse(spark.sparkContext.defaultParallelism)
      val adapted = math.max(1L,
        math.min(sessionShuffle.toLong, edgeCount / 65536 + 1)).toInt
      if (adapted < sessionShuffle) Some(adapted) else None
    }
    def shaped(width: Option[Int])(df: DataFrame, cols: Column*): DataFrame =
      width.fold(df)(w => df.repartition(w, cols: _*))

    // large-star: every node u connects its LARGER neighbors to the minimum
    // of its neighborhood (including u itself)
    def largeStar(edges: DataFrame, width: Option[Int]): DataFrame = {
      def s(df: DataFrame, cols: Column*): DataFrame = shaped(width)(df, cols: _*)
      val sym = s(edges.union(edges.select(col("b").as("a"), col("a").as("b"))), col("a"))
      val mins = sym.groupBy("a").agg(min("b").as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      s(sym.join(mins, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b")), col("a"), col("b")).distinct()
    }

    // small-star: every node u connects its smaller neighbors (and itself)
    // to its minimum smaller neighbor
    def smallStar(edges: DataFrame, width: Option[Int]): DataFrame = {
      def s(df: DataFrame, cols: Column*): DataFrame = shaped(width)(df, cols: _*)
      val dir = s(edges.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b")), col("a"))
      val mins = dir.groupBy("a").agg(min("b").as("m"))
      s(dir.join(mins, "a")
        .select(col("b").as("v"), col("m"))
        .union(mins.select(col("a").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b")), col("a"), col("b")).distinct()
    }

    // Convergence certificate: ONE narrow aggregate job per round instead
    // of the former count() + stable-round `next.except(edges).isEmpty`
    // (a two-sided shuffle). An edge set E is a fixpoint of
    // smallStar∘largeStar — and its sym-groupBy-min labels are the exact
    // component minima — iff E is a MIN-STAR FOREST:
    //   (1) every edge points DOWN (b < a);
    //   (2) every source a appears exactly once (one parent per child);
    //   (3) no parent is itself a source (stars, not chains).
    // Proof. (⇐) Under (1)-(3) components are stars rooted at their parent
    // r with r < every child, so r IS the component min; tracing largeStar
    // (each child's neighborhood min is r; r's larger neighbors already
    // point at r) and smallStar (each child's unique smaller neighbor is
    // r) reproduces E edge-for-edge, and the final sym groupBy min reads
    // label r for r (least(r, min child) = r) and for each child
    // (least(child, r) = r). (⇒) smallStar's output rows are (v, m) with
    // m strictly below v's group minimum chain, so any fixpoint satisfies
    // (1); a source with two parents or a parent that is also a source is
    // rewritten by the next smallStar (traced in CcCertificateSpec), so
    // neither survives a fixpoint. The certificate therefore stops on the
    // FIRST round that produces the forest — one full ~5-exchange round
    // earlier than set-equality, which needed a second identical round to
    // observe it — and its single partial-aggregated exchange (2|E| rows
    // folding to distinct nodes map-side) replaces except's two full-row
    // shuffles at any scale. The same job returns the edge count (each
    // edge contributes exactly one source row), so the per-round count()
    // job folds in too.
    def certify(e: DataFrame, width: Option[Int]): (Long, Boolean) = {
      val nodes = shaped(width)(e.select(explode(array(
        struct(col("a").as("n"), lit(1L).as("src"),
          when(col("b") < col("a"), lit(0L)).otherwise(lit(1L)).as("up")),
        struct(col("b").as("n"), lit(0L).as("src"), lit(0L).as("up")))).as("x"))
        .select(col("x.n").as("n"), col("x.src").as("src"), col("x.up").as("up")),
        col("n"))
      val r = nodes.groupBy("n")
        .agg(sum("src").as("srcCnt"), count(lit(1)).as("tot"), sum("up").as("up"))
        .agg(coalesce(sum("srcCnt"), lit(0L)),
          coalesce(sum(when(col("srcCnt") > 1, 1L)), lit(0L)),
          coalesce(sum(when(col("srcCnt") > 0 && col("tot") > col("srcCnt"), 1L)),
            lit(0L)),
          coalesce(sum("up"), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L)
    }

    var edges = graft.ProbeTiming("cc_init")(truncate(pairs
      .select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()))
    var (prevCount, converged) = graft.ProbeTiming("cc_cert_init")(
      certify(edges, None))
    converged ||= prevCount == 0L
    var it = 0
    while (!converged && it < maxIters) {
      val width = loopWidth(prevCount)
      val next = graft.ProbeTiming(s"cc_round_$it")(
        truncate(smallStar(largeStar(edges, width), width)))
      val (n, forest) = graft.ProbeTiming(s"cc_cert_$it")(certify(next, width))
      converged = forest || n == 0L
      freeRetired(edges)
      edges = next
      prevCount = n
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIters rounds")
    // the fixpoint is a forest of stars; read each node's component min off
    // the symmetrized star edges (the returned plan scans the final
    // checkpointed edge set — constant-size lineage)
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
    sym.groupBy("a").agg(min("b").as("mn"))
      .select(col("a").as("doc_id"), least(col("a"), col("mn")).as("cluster_id"))
  }

  /** [[keepList]]'s cluster-collapsing variant: exactly ONE survivor (the
    * minimum doc id) per connected component of the pair graph — for pairs
    * (1,3),(2,3) only doc 1 survives, where [[keepList]] keeps 1 AND 2.
    * Costs the [[connectedComponents]] rounds instead of a single
    * anti-join; unpaired documents always survive.
    */
  def keepListCollapsed(df: DataFrame, idCol: String, pairs: DataFrame,
                        maxIters: Int = 20): DataFrame = {
    val drop = connectedComponents(pairs, maxIters)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** [[keepListCollapsed]] with a QUALITY-RANKED survivor: per connected
    * component of the pair graph, the kept document is the one maximizing
    * `rankCol` (ties broken by minimum id) instead of the arbitrary
    * min-id — the rule real curation pipelines want, where the longest /
    * highest-quality-scored near-duplicate survives and its shorter or
    * noisier copies drop. With a constant rank this degenerates to
    * [[keepListCollapsed]] exactly (the min-id tie-break).
    *
    * Scale shape: the [[connectedComponents]] log-round contraction over
    * the SPARSE pair set, one equi-join to attach ranks to the paired docs
    * only (the unpaired corpus never shuffles — it passes through the
    * final anti-join untouched), and the per-cluster argmax is a plain
    * hash aggregate of a two-field struct (max of (rank, -id): exact
    * integer comparison, deterministic under any partitioning — never a
    * window/sort). NULL ranks lose to every ranked member (and tie among
    * themselves back to min id).
    */
  def collapseBest(df: DataFrame, idCol: String, pairs: DataFrame,
                   rankCol: String, maxIters: Int = 20): DataFrame = {
    // rank comparison in the column's OWN numeric family: the previous
    // unconditional long cast truncated every quality score in [0,1) to
    // 0, silently degenerating "highest-scored survives" to min-id.
    // Float ranks compare as double (NaN folded to lose — Spark orders
    // NaN above every value, and a garbage score must not win a cluster);
    // NULL ranks lose to every ranked member either way.
    val rankExpr = {
      import org.apache.spark.sql.types._
      df.schema(rankCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          coalesce(col(rankCol).cast("long"), lit(Long.MinValue))
        case FloatType | DoubleType =>
          val d = col(rankCol).cast("double")
          coalesce(when(isnan(d), lit(Double.NegativeInfinity)).otherwise(d),
            lit(Double.NegativeInfinity))
        case dec: DecimalType =>
          // decimals compare exactly in their own family (casting a
          // DECIMAL(38,0) id-rank to double would silently lose precision
          // past 2^53); NULL loses to every ranked member via the type's
          // own minimum bound
          val minStr = "-" + ("9" * (dec.precision - dec.scale)) +
            (if (dec.scale > 0) "." + ("9" * dec.scale) else "")
          coalesce(col(rankCol), lit(new java.math.BigDecimal(minStr)).cast(dec))
        case other => throw new IllegalArgumentException(
          s"collapseBest: rank column '$rankCol' must be numeric, got $other")
      }
    }
    val mapping = connectedComponents(pairs, maxIters)
    val members = mapping.join(
      df.select(col(idCol).as("doc_id"), rankExpr.as("__rank")),
      Seq("doc_id"))
    val reps = members.groupBy("cluster_id")
      .agg(max(struct(col("__rank").as("r"), (-col("doc_id")).as("ni"))).as("__best"))
      .select(col("cluster_id"), (-col("__best.ni")).as("__rep"))
    val drop = members.join(reps, Seq("cluster_id"))
      .filter(col("doc_id") =!= col("__rep"))
      .select(col("doc_id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** The persisted cluster registry behind [[clusterIncrement]] — the
    * continuous-ingest counterpart of [[connectedComponents]], so a
    * streaming pipeline can maintain near-dup clusters without a batch
    * re-run. Two append-only catalog tables holding the same
    * (doc_id, cluster_id, batch_id) rows, bucketed for the two access
    * paths:
    *
    *  - `byDocTable` bucketed by doc_id: "which cluster is this doc in
    *    now?" (the probe for a batch's pair endpoints);
    *  - `byClusterTable` bucketed by cluster_id: "who else is in that
    *    cluster?" (the member expansion that bounds each increment to the
    *    AFFECTED components, never the corpus).
    *
    * A doc's current cluster is its max-batch_id row; cluster ids only
    * ever shrink (component minimum), so when a cluster merges away,
    * every member is re-appended under the new root and the old id is no
    * longer anyone's latest — stale rows are never reachable through a
    * current cluster id, and [[clusterCompact]] folds them away.
    */
  final case class ClusterState(tablePrefix: String, numBuckets: Int = 32) {
    def byDocTable: String = s"${tablePrefix}_by_doc"
    def byClusterTable: String = s"${tablePrefix}_by_cluster"
    def dropTables(spark: org.apache.spark.sql.SparkSession): Unit =
      Seq(byDocTable, byClusterTable).flatMap(t => Seq(t, t + "__compact"))
        .foreach(graft.sinks.Sinks.dropTableAndLocation(spark, _))
  }

  /** The latest mapping: (doc_id, cluster_id), one row per doc that has
    * appeared in any pair — [[connectedComponents]]' output shape over
    * everything ingested so far.
    */
  def clusterMapping(spark: org.apache.spark.sql.SparkSession,
                     state: ClusterState): DataFrame = {
    finishCrashedSwap(spark, state.byDocTable)
    spark.table(state.byDocTable).groupBy("doc_id")
      .agg(expr("max_by(cluster_id, batch_id)").as("cluster_id"))
  }

  /** One micro-batch of incremental connected components: merges a batch
    * of near-dup pairs (e.g. [[minHashLshIncrement]]'s emissions) into the
    * registry. The union of the CURRENT mapping rows of the affected
    * clusters with the new pairs is a contracted graph equivalent to the
    * full pair history, so running [[connectedComponents]] on just that
    * union — affected components + this batch, never the corpus — yields
    * exactly the clusters a batch run over all pairs would:
    *
    *  1. probe `byDocTable` for the pair endpoints' current clusters
    *     (semi-join on doc_id, latest row per doc);
    *  2. expand those clusters to their full member edge lists via
    *     `byClusterTable` (semi-join on cluster_id);
    *  3. [[connectedComponents]] over member edges ∪ new pairs;
    *  4. append the re-rooted rows to both tables under this batch_id.
    *
    * Replay safety: state reads filter `batch_id <` this batch (a replay
    * sees what the first attempt saw) and re-appended rows are exact
    * duplicates, absorbed by the latest-row reads and shed by
    * [[clusterCompact]]. After any prefix of batches, [[clusterMapping]]
    * equals [[connectedComponents]] over the union of those batches'
    * pairs — the x39 oracle and the ExtensionsSpec golden.
    */
  def clusterIncrement(newPairs: DataFrame, state: ClusterState,
                       batchId: Long, maxIters: Int = 20,
                       checks: TableChecks = new TableChecks): Unit = {
    val spark = newPairs.sparkSession
    // single-writer contract: no increment while a compaction rewrites the
    // registry ([[StateLease]] — the race would append to a dropped table);
    // includes the crashed-swap finish. Memoized per stream ([[TableChecks]]).
    checks.ensureWritable(spark, state.byDocTable)
    checks.ensureWritable(spark, state.byClusterTable)
    // the connectedComponents integral-id guard, applied BEFORE the widening
    // cast (casting a string id would silently null it past the guard)
    Seq("d1", "d2").foreach(Guards.requireIntegralId(newPairs, _, "clusterIncrement"))
    val pairs = newPairs.select(col("d1").cast("long"), col("d2").cast("long"))
    // BOTH tables (the minHashLshIncrement first-batch-crash argument): a
    // crash between the two first writes must read as a fresh registry
    val exists = checks.exists(spark, state.byDocTable) &&
      checks.exists(spark, state.byClusterTable)
    // the cross-increment mapping cache ([[TableChecks]], streams only):
    // when the previous increment left the full latest mapping behind, the
    // registry subtree below is served from materialized blocks instead of
    // a per-batch table re-read (cc_init was 1.4-1.5 s/increment of pure
    // re-reading at r12's sf0.1 probe)
    val cachedMapping = if (exists) checks.registryMapping(batchId) else None
    val edges =
      if (!exists) pairs
      else {
        val docs = pairs.select(col("d1").as("doc_id"))
          .union(pairs.select(col("d2").as("doc_id"))).distinct()
        cachedMapping match {
          case Some(latest) =>
            // latest already IS the per-doc current assignment: restrict to
            // the touched docs' clusters and emit membership edges
            val current = latest.join(docs, Seq("doc_id"), "left_semi")
            val members = latest
              .join(current.select("cluster_id").distinct(), Seq("cluster_id"), "left_semi")
              .select(col("doc_id").as("d1"), col("cluster_id").as("d2"))
            members.union(pairs)
          case None =>
            val current = spark.table(state.byDocTable)
              .filter(col("batch_id") < batchId)
              .join(docs, Seq("doc_id"), "left_semi")
              .groupBy("doc_id")
              .agg(expr("max_by(cluster_id, batch_id)").as("cluster_id"))
            val members = spark.table(state.byClusterTable)
              .filter(col("batch_id") < batchId)
              .join(current.select("cluster_id").distinct(), Seq("cluster_id"), "left_semi")
              .select(col("doc_id").as("d1"), col("cluster_id").as("d2")).distinct()
            members.union(pairs)
        }
      }
    // the mapping feeds BOTH registry tables: persist it, or the second
    // save re-runs the whole log-round component iteration; the two saves
    // read only the cache and are independent — run them concurrently
    val cc = graft.ProbeTiming("cluster_cc")(connectedComponents(edges, maxIters))
      .withColumn("batch_id", lit(batchId))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val mode = if (exists) "append" else "overwrite"
      graft.ProbeTiming("cluster_saves")(ConcurrentActions.run(Seq(
        () => cc.write.mode(mode).format("parquet")
          .bucketBy(state.numBuckets, "doc_id").saveAsTable(state.byDocTable),
        () => cc.write.mode(mode).format("parquet")
          .bucketBy(state.numBuckets, "cluster_id").saveAsTable(state.byClusterTable))))
      checks.markExists(state.byDocTable)
      checks.markExists(state.byClusterTable)
      if (checks.cacheRegistryMapping)
        graft.ProbeTiming("cluster_cache")(
          refreshMappingCache(spark, state, checks, batchId, exists, cachedMapping, cc))
    } finally cc.unpersist(blocking = false)
  }

  /** Maintain [[TableChecks]]' cross-increment mapping cache after a
    * successful increment save: the next batch's full latest mapping is
    * this batch's mapping with the just-computed assignments swapped in —
    * no table read when a base mapping is at hand (first batch: `cc` IS
    * the full mapping; later batches: anti-join + union over in-memory
    * blocks). Only a stream RESTART on an existing registry pays one full
    * latest-per-doc aggregate to seed.
    *
    * The snapshot is an eager `localCheckpoint` with its constraint
    * snapshot STRIPPED ([[stripOriginConstraints]] — without the strip, a
    * later batch unioning over the cached frame dies in
    * Union.rewriteConstraints with `key not found: a#N`, reproduced in the
    * curation streaming spec). localCheckpoint both materializes the
    * blocks (they must survive `cc.unpersist`, whose lineage reaches
    * checkpoint blocks the ContextCleaner may reclaim) and TRUNCATES
    * PHYSICAL LINEAGE — load-bearing across batches: a plain persisted
    * RDD would chain each batch's mapping onto the previous batch's
    * then-unpersisted RDD, growing the dependency graph per batch and
    * making block loss unrecoverable THROUGH THE CHAIN anyway. With
    * truncation, a lost executor fails the batch cleanly; the stream
    * restarts with a fresh TableChecks and the always-correct table read
    * (same recovery as any stateful operator losing an executor).
    * Compaction still invalidates ([[clusterStream]]). Any failure here
    * only loses the CACHE, never the committed increment: the entry stays
    * invalid and the next batch reads the table.
    */
  private def refreshMappingCache(spark: org.apache.spark.sql.SparkSession, state: ClusterState,
                                  checks: TableChecks, batchId: Long, exists: Boolean,
                                  base: Option[DataFrame], cc: DataFrame): Unit = {
    val assignments = cc.select("doc_id", "cluster_id")
    val next = base match {
      case Some(m) => m.join(assignments.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(assignments)
      case None if !exists => assignments
      case None => // restart on an existing registry: seed once from the table
        spark.table(state.byDocTable)
          .filter(col("batch_id") <= batchId)
          .groupBy("doc_id")
          .agg(expr("max_by(cluster_id, batch_id)").as("cluster_id"))
    }
    val materialized = stripOriginConstraints(next.localCheckpoint(eager = true))
    val free: () => Unit = () => materialized.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
    checks.setRegistryMapping(batchId + 1, materialized, free)
    // session-level cleanup (the bench/Verify release path) must reclaim
    // the blocks when the stream's query ends without its own shutdown —
    // AT MOST ONE LIVE hook per stream (not one per batch), re-armed when
    // it fires because Caching.release CONSUMES registered cleanups
    if (checks.markReleaseHooked())
      graft.Caching.onRelease(spark) { () =>
        checks.invalidateRegistryMapping()
        checks.rearmReleaseHook()
      }
  }

  /** Streaming cluster maintenance: [[clusterIncrement]] per micro-batch
    * of pairs (chain it downstream of [[minHashLshStream]]'s pairsDir, or
    * feed any pair stream). `compactEvery = N` folds history after every
    * Nth batch via [[clusterCompact]] with `uptoBatch = batchId - 1` —
    * the largest prefix a replay of the in-flight batch never reads.
    */
  def clusterStream(pairs: DataFrame, state: ClusterState,
                    compactEvery: Int = 0, maxIters: Int = 20): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // one instance per stream = sequential batch ids, so the registry
    // mapping cache is maintainable (see TableChecks)
    val checks = new TableChecks(cacheRegistryMapping = true)
    pairs.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
      clusterIncrement(batch.toDF(), state, id, maxIters, checks)
      if (compactEvery > 0 && id > 0 && id % compactEvery == 0) {
        clusterCompact(batch.sparkSession, state, uptoBatch = id - 1)
        // the cached mapping's content survives a fold, but its blocks are
        // eviction-rebuilt from a lineage that read the PRE-compaction
        // files — rebuild from the rewritten table next batch instead
        checks.invalidateRegistryMapping()
      }
    }
  }

  /** Routine maintenance for a [[ClusterState]]: folds every doc's rows
    * with `batch_id <= uptoBatch` to its single latest row (keeping that
    * row's real batch_id) and rewrites both tables to ≤ numBuckets files.
    * Rows NEWER than `uptoBatch` are preserved as-is: an in-flight batch k
    * replays with a `batch_id < k` read, so fold only up to the last batch
    * the stream has fully committed (`k - 1` when called between batches —
    * what [[clusterStream]] does). On a stopped stream, fold everything
    * (`Long.MaxValue`).
    */
  def clusterCompact(spark: org.apache.spark.sql.SparkSession,
                     state: ClusterState,
                     uptoBatch: Long = Long.MaxValue): Unit = {
    val fold = (df: DataFrame) => {
      val keep = df.filter(col("batch_id") > uptoBatch)
      val folded = df.filter(col("batch_id") <= uptoBatch)
        .groupBy("doc_id")
        .agg(expr("max_by(cluster_id, batch_id)").as("cluster_id"),
          max(col("batch_id")).as("batch_id"))
        .select("doc_id", "cluster_id", "batch_id")
      folded.unionByName(keep.select("doc_id", "cluster_id", "batch_id"))
    }
    compactBucketedTable(spark, state.byDocTable, state.numBuckets,
      Seq("doc_id"), Some(fold))
    compactBucketedTable(spark, state.byClusterTable, state.numBuckets,
      Seq("cluster_id"), Some(fold))
  }

  /** Corpus-wide exact LINE dedup — the C4/RefinedWeb boilerplate-removal
    * step: of every line occurring anywhere in the corpus, only the FIRST
    * occurrence (min (doc id, position)) survives; documents are
    * reassembled from their surviving lines in original order. Removes
    * navigation chrome, license headers, repeated footers — the bulk of
    * web-scrape noise that document-level dedup cannot touch.
    *
    * Lines shorter than `minLineLen` bypass dedup entirely (kept in place
    * everywhere): with the default 1 that exempts empty lines, so
    * paragraph structure survives; raise it to exempt short common lines
    * ("Home", "1", ...) whose corpus-wide collapse would be noise removal
    * at the wrong granularity.
    *
    * Scale shape: posexplode is narrow; the survivor decision is a
    * partial-aggregated min over 8-byte line hashes (a boilerplate line in
    * a billion docs combines map-side — never a per-line window sort, which
    * would funnel every occurrence of a hot line through one task), the
    * occurrence check is an equi-join on the hash (k×1 per hot key —
    * linear), and reassembly is a per-doc collect bounded by the original
    * document size. Like [[graft.ext.Decontaminate]], the join key is the
    * md5-60 of the line: two DISTINCT lines colliding at 60 bits would
    * merge (one spuriously dropped) with probability ~lines²/2⁶¹.
    *
    * Output: (idCol, text_dedup, n_lines_kept); a document whose every
    * line was deduplicated away (no short lines either) is dropped.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 minLineLen: Int = 1): DataFrame = {
    // the exploded line set feeds the winners aggregate, the occurrence
    // join probe, and the short-line bypass union — persist so the corpus
    // scan + split run once (the jaccardPairs stance: exchange reuse is plan
    // luck, not contract). Scoped: callers release via Caching.release.
    // Rows are keyed by (id, content hash __r), NOT id alone — the
    // duplicateSpanStats rule (__r is the md5-60 content hash, NOT
    // xxhash64, so the DuckDB oracles can transcribe the winner order and
    // the grouping for duplicate-id corpora): duplicate ids are legal on
    // this API family,
    // and an id-only reassembly would interleave two DIFFERENT same-id
    // texts into one corrupted document. Identical same-id twins collapse
    // to one output row (they are exact duplicates — this is a dedup
    // operator), with array_distinct dropping their doubled (pos, line)
    // copies.
    val lines = graft.Caching.scoped(df.select(col(idCol).as("id"),
      graft.functions.Hashing.md5Hash60Col(coalesce(col(textCol), lit(""))).as("__r"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n")).as(Seq("pos", "line"))))
    val eligible = lines.filter(length(col("line")) >= minLineLen)
      .withColumn("__lh", graft.functions.Hashing.md5Hash60Col(col("line")))
    // survivor rule unchanged for unique ids: global first occurrence by
    // (id, pos); __r only disambiguates same-id texts deterministically
    val winners = eligible.groupBy("__lh")
      .agg(min(struct(col("id"), col("pos"), col("__r"))).as("__w"))
    val kept = eligible.join(winners, "__lh")
      .filter(col("id") === col("__w.id") && col("pos") === col("__w.pos") &&
        col("__r") === col("__w.__r"))
      .select("id", "__r", "pos", "line")
      .union(lines.filter(length(col("line")) < minLineLen)
        .select("id", "__r", "pos", "line"))
    kept.groupBy("id", "__r")
      .agg(array_distinct(array_sort(collect_list(struct(col("pos"), col("line")))))
        .as("__ls"))
      .select(col("id").as(idCol),
        array_join(transform(col("__ls"), s => s.getField("line")), "\n").as("text_dedup"),
        size(col("__ls")).cast("long").as("n_lines_kept"))
  }

  /** Per-document duplicated-span statistics — the window-hash
    * approximation of suffix-array exact-substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL'22:
    * memorization tracks repeated SPANS, not whole-document similarity).
    * Every k-token rolling window is hashed; a window occurring more than
    * once in the corpus (across documents OR repeated within one) is a
    * duplicated span occurrence. Complements [[dedupLines]] (structural
    * lines) and [[fingerprintPairs]] (sampled fingerprints): this counts
    * EVERY repeated k-window, so `dup_fraction` is a direct per-document
    * "how much of this text exists elsewhere" signal to threshold on.
    *
    * Scale shape: window hashes are built INSIDE the document's row
    * (wordNGrams transform → md5-60 transform) and only 8-byte longs
    * explode, so extraction is narrow; occurrence counts are ONE hash
    * exchange with map-side partials; the count lookup is an equi-join on
    * the same 8-byte key (each window row meets exactly ONE count row —
    * linear, no pair blow-up even on boilerplate; AQE absorbs hot-key
    * skew); the per-doc rollup reuses the exchange's key space. Two
    * distinct windows colliding at 60 bits (~windows²/2⁶¹) would count one
    * spurious duplicate — noise, not corruption.
    *
    * Output: one row per input doc — (idCol, n_windows LONG,
    * n_dup_windows LONG, dup_fraction DOUBLE — the ONE double division,
    * NULL for docs with fewer than k tokens).
    */
  def duplicateSpanStats(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // per-OCCURRENCE window hashes (no distinct: within-doc repeats count);
    // feeds the global count aggregate and the lookup probe — scoped, the
    // jaccardPairs stance; callers release via Caching.release. The token
    // array is PROJECTED before wordNGrams (the docGrams/dedupSpans shape):
    // passing tokens(text) inline re-evaluates the regex split inside every
    // element_at — O(n·k) tokenizations per doc, measured 10× slower.
    // rows are keyed by (id, content hash), NOT id alone: duplicate ids
    // are legal on this public API (and reachable from the pipeline —
    // exact dedup groups by text hash, so two DIFFERENT texts sharing an
    // id both survive into this stage), and an id-only rollup would merge
    // both rows' counts and attach the merged stats to each. Two
    // identical same-id rows still share a key — their windows are
    // genuinely the same span occurrences.
    val wins = graft.Caching.scoped(
      df.select(col(idCol).as("id"),
          graft.functions.Hashing.md5Hash60Col(coalesce(col(textCol), lit(""))).as("__r"),
          TextAnalysis.tokens(col(textCol)).as("__t"))
        .select(col("id"), col("__r"),
          explode(transform(TextAnalysis.wordNGrams(col("__t"), k),
            g => graft.functions.Hashing.md5Hash60Col(g))).as("__w")))
    val counts = wins.groupBy("__w").agg(count(lit(1)).as("__c"))
    val per = wins.join(counts, Seq("__w"))
      .groupBy("id", "__r")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
    // identical same-(id, text) twin rows share one (id, __r) key, so the
    // rollup counted BOTH rows' windows — n_windows reported 2x (Nx) the
    // document's own window count on each twin. Divide by the key's input
    // multiplicity (exact: every window row is duplicated exactly mult
    // times); dup_fraction was already right, the absolute counts weren't.
    val mult = df.groupBy(col(idCol), graft.functions.Hashing.md5Hash60Col(coalesce(col(textCol), lit(""))).as("__r"))
      .agg(count(lit(1)).as("__m"))
    val perDoc = per.withColumnRenamed("id", idCol)
      .join(mult, Seq(idCol, "__r"))
      .select(col(idCol), col("__r"),
        (col("n_windows") / col("__m")).cast("long").as("n_windows"),
        (col("n_dup_windows") / col("__m")).cast("long").as("n_dup_windows"))
    df.select(col(idCol), graft.functions.Hashing.md5Hash60Col(coalesce(col(textCol), lit(""))).as("__r"))
      .join(perDoc, Seq(idCol, "__r"), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        when(col("n_windows").isNull, lit(null).cast("double"))
          .otherwise(col("n_dup_windows").cast("double") / col("n_windows"))
          .as("dup_fraction"))
  }

  /** Duplicated-span REMOVAL — the action [[duplicateSpanStats]] measures:
    * every k-token window occurring more than once in the corpus is cut
    * from every occurrence EXCEPT the globally first (min (doc id,
    * position) — the [[dedupLines]] survivor rule at window granularity),
    * the ExactSubstr semantics of Lee et al., ACL'22. A token is removed
    * iff a losing duplicate window covers it; surviving tokens re-join
    * in original order (whitespace-normalized, the dedupLines contract).
    *
    * Scale shape: window hashes with positions are in-row transforms
    * exploding (pos, hash) pairs only; ONE map-side-combined aggregate
    * computes each hash's occurrence count AND its min-(id, pos) winner
    * together; the loser lookup is the linear x54 equi-join; per-doc
    * loser starts collect bounded by the doc's own window count; coverage
    * expansion and token filtering are narrow array ops inside the doc's
    * row (`array_except` — hash-set semantics, not per-token scans).
    *
    * Output: one row per input doc — (idCol, n_tokens LONG,
    * n_removed LONG, text_dedup STRING).
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // (id, content hash) row key — the duplicateSpanStats rule: an id-only
    // loser rollup would cut one same-id doc's duplicated positions out of
    // another's unrelated text. The WINNER rule stays global min (id, pos)
    // (the documented first-occurrence contract, unchanged for unique-id
    // corpora; same-id-same-position occurrences from identical twin rows
    // all match the winner tuple and all survive).
    val toked = df.select(col(idCol).as("id"),
      graft.functions.Hashing.md5Hash60Col(coalesce(col(textCol), lit(""))).as("__r"),
      TextAnalysis.tokens(col(textCol)).as("__t"))
    // per-occurrence (position, hash) pairs — scoped: feeds the winner
    // aggregate and the loser probe; callers release via Caching.release
    val wins = graft.Caching.scoped(
      toked.select(col("id"), col("__r"),
        posexplode(transform(TextAnalysis.wordNGrams(col("__t"), k),
          g => graft.functions.Hashing.md5Hash60Col(g))).as(Seq("__p", "__w"))))
    val stats = wins.groupBy("__w").agg(
      count(lit(1)).as("__c"), min(struct(col("id"), col("__p"))).as("__win"))
    val losers = wins.join(stats, Seq("__w"))
      .filter(col("__c") > 1 &&
        !(col("id") === col("__win.id") && col("__p") === col("__win.__p")))
      .groupBy("id", "__r").agg(sort_array(collect_list(col("__p"))).as("__starts"))
    toked.join(losers, Seq("id", "__r"), "left")
      .withColumn("__n", size(col("__t")))
      .withColumn("__cov",
        when(col("__starts").isNull, array().cast("array<int>"))
          .otherwise(array_distinct(flatten(transform(col("__starts"),
            s => sequence(s, s + lit(k - 1)))))))
      .withColumn("__kept",
        when(col("__n") === 0, array().cast("array<int>"))
          .otherwise(array_except(sequence(lit(0), col("__n") - 1), col("__cov"))))
      .select(col("id").as(idCol),
        col("__n").cast("long").as("n_tokens"),
        (col("__n") - size(col("__kept"))).cast("long").as("n_removed"),
        concat_ws(" ", transform(col("__kept"), i => element_at(col("__t"), i + 1)))
          .as("text_dedup"))
  }

  /** Near-dup candidate pairs via shared winnowing fingerprints — the MOSS
    * shape (Schleimer et al., SIGMOD'03): documents sharing at least
    * `minShared` fingerprints ([[TextAnalysis.fingerprints]]: k-gram md5-60
    * hashes, each w-window's minimum). Complements MinHash: winnowing
    * selects POSITIONAL features, so it localizes copied passages (partial
    * overlap) where MinHash estimates whole-document set similarity.
    *
    * Scale shape: fingerprint extraction is narrow per-row work; candidates
    * come from a self-equi-join on the 8-byte fingerprint — never a
    * document cross-join. `maxFingerprintDf` is the same skew guard as
    * [[jaccardPairs]]' shingle cap: a fingerprint in n docs contributes n²
    * join rows on one key, and boilerplate fingerprints (license headers)
    * are both the hottest and the least indicative, so they are dropped
    * from the whole computation symmetrically.
    */
  def fingerprintPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 5, w: Int = 4, minShared: Long = 2L,
                       maxFingerprintDf: Option[Long] = None): DataFrame = {
    // the fingerprint table feeds the df aggregate and both join sides
    val fp = graft.Caching.scoped(
      TextAnalysis.fingerprints(df, idCol, textCol, k, w)
        .select(col(idCol).as("id"), col("fingerprint")))
    val filtered = maxFingerprintDf match {
      case Some(cap) =>
        val hot = fp.groupBy("fingerprint").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("fingerprint")
        // feeds both self-join sides: persist, or the df aggregate and
        // anti-join recompute per side
        graft.Caching.scoped(
          fp.join(hot, Seq("fingerprint"), "left_anti").select("id", "fingerprint"))
      case None => fp
    }
    filtered.toDF("d1", "f").join(filtered.toDF("d2", "f"), Seq("f"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Bit width of the SimHash signature. 60 rather than 64 so the per-word
    * hash (low 60 bits of md5, [[graft.functions.Hashing.md5Hash60]]) is
    * recomputable by the DuckDB oracle, and 60 = 4 × 15 still bands evenly
    * for the pigeonhole search at the default maxHamming = 3.
    */
  val SimHashBits = 60

  /** SimHash per document over word occurrence hashes — narrow per-row work.
    * The signature kernel is a native codegen expression
    * ([[graft.functions.SimHash60]]), so the scan stays inside whole-stage
    * codegen; null text coalesces to "" (signature 0, like token-less docs).
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"),
      call_function("graft_simhash", coalesce(col(textCol), lit("")), lit(SimHashBits)).as("simhash"))
  }

  /** Near-dup pairs with Hamming distance <= maxHamming over SimHash
    * signatures, found via the pigeonhole band trick: split the signature
    * into `maxHamming + 1` bands — any pair within the distance must agree
    * exactly on at least one band, so candidates come from an equi-join on
    * (band_idx, band_value), never a cross join.
    */
  def simHashPairs(sim: DataFrame, maxHamming: Int = 3,
                   maxBandDf: Option[Long] = None): DataFrame = {
    // bounds, loudly: maxHamming >= SimHashBits makes the band width 0 and
    // every band value 0 — a silent all-pairs cross join; negative values
    // silently return nothing (explode of an empty band array drops rows)
    require(maxHamming >= 0 && maxHamming < SimHashBits,
      s"simHashPairs: maxHamming must be in [0, ${SimHashBits - 1}], got $maxHamming")
    val nBands = maxHamming + 1
    val width = SimHashBits / nBands
    val raw = sim.select(col("id"), col("simhash"),
      explode(array((0 until nBands).map { i =>
        struct(lit(i).as("band"),
          (shiftrightunsigned(col("simhash"), i * width) bitwiseAND lit((1L << width) - 1)).as("bv"))
      }: _*)).as("bs"))
      .select(col("id"), col("simhash"), col("bs.band").as("band"), col("bs.bv").as("bv"))
    // skew cap, the jaccardPairs maxShingleDf precedent: a (band, bv)
    // value shared by k docs contributes k² candidate rows on ONE join
    // key — a corpus with a degenerate signature class (e.g. 1M empty
    // docs all at simhash 0) is a 10¹²-row hot partition. With the cap,
    // over-dense band values drop from candidate generation; pairs within
    // such a class can still surface through their other (rarer) bands,
    // and the default None keeps exact semantics for the oracle.
    // the band table feeds BOTH self-join sides (and the df aggregate when
    // capped): persist, or the simhash kernel re-runs per side
    val cached = graft.Caching.scoped(raw)
    val bands = maxBandDf match {
      case Some(cap) =>
        val hot = cached.groupBy(col("band"), col("bv"))
          .agg(count(lit(1)).as("df")).filter(col("df") > cap)
          .select("band", "bv")
        graft.Caching.scoped(cached.join(hot, Seq("band", "bv"), "left_anti"))
      case None => cached
    }
    bands.toDF("d1", "h1", "band", "bv")
      .join(bands.toDF("d2", "h2", "band", "bv"), Seq("band", "bv"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), bit_count(col("h1") bitwiseXOR col("h2")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
