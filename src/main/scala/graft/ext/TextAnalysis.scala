package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting. All
  * per-document computations are narrow (no shuffle) and codegen-friendly
  * where expressible as Column expressions, so they stream through a 100 TB
  * scan at I/O speed.
  */
object TextAnalysis {

  /** Whitespace tokens with empties dropped — the exact token definition the
    * DuckDB oracle mirrors (`list_filter(string_split_regex(trim(x),'\s+'))`).
    * NULL text tokenizes as empty (not NULL): otherwise every derived
    * operator would propagate NULL differently — one drops the row at an
    * explode, another emits a NULL-array stats row — and a single nullable
    * column upstream would make cross-operator row sets disagree.
    */
  def tokens(text: Column): Column =
    filter(split(trim(coalesce(text, lit(""))), "\\s+"), t => t =!= lit(""))

  /** Word n-grams over a token-array column, space-joined — THE single gram
    * construction every shingle/gram operator (and its DuckDB oracle
    * transcription) derives from. Total: yields an empty array for docs
    * with fewer than `n` tokens (the when-guard matters — `sequence` with
    * a negative span counts DOWN and element_at would then index out of
    * range), so callers may still pre-filter `size >= n` for row-count
    * economy but no longer must for correctness.
    */
  def wordNGrams(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      transform(
        sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(tokens, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** A BPE-ish token count: runs of letters, runs of digits, or single other
    * non-space chars — a cheap stand-in for subword tokenization. Unicode
    * code-point classes since round 17, in lockstep with the exact
    * tokenizer's pre-tokenizer ([[graft.functions.Bpe]] — the pinned
    * invariant below depends on the classes matching verbatim).
    */
  def bpeishCount(text: Column): Column =
    // NULL text counts as 0, not size(NULL) = -1 (the tokens() rule) — a
    // -1 passes every `n < threshold` gate
    size(regexp_extract_all(coalesce(text, lit("")),
      lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** EXACT subword token count under a frozen BPE model
    * ([[graft.functions.Bpe]] — default: the committed fixture trained by
    * graft.tools.BpeTrain). NULL text counts 0 (the bpeishCount rule).
    * Invariant: bpeishCount counts the PRE-tokens this starts from, so
    * bpeTokenCount >= bpeishCount on every row (equality iff every
    * pre-token fully merged to one subword).
    */
  def bpeTokenCount(text: Column, resource: String = graft.functions.Bpe.DefaultResource): Column =
    call_function("graft_bpe_count", coalesce(text, lit("")), lit(resource))

  /** Exact subword token ids (text order) under the same frozen model —
    * unknown symbols encode -1, never raise (the Bpe scaladoc contract).
    */
  def bpeTokenIds(text: Column, resource: String = graft.functions.Bpe.DefaultResource): Column =
    call_function("graft_bpe_ids", coalesce(text, lit("")), lit(resource))

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "in", "and", "or", "is", "are", "on", "for", "with", "as", "by", "at")

  /** Appends the quality-metric columns (n_chars_m, n_tokens, n_bpeish,
    * avg_token_len, stopword_ratio, punct_ratio) to `df`'s rows — still
    * narrow per-row work; payload columns pass through for pipeline use.
    */
  def withQualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    val nTok = size(t)
    // NULL text measures as EMPTY for the char-derived metrics too (the
    // tokens() rule above): n_chars_m/n_bpeish read 0, not NULL — a NULL
    // here would make a max-style gate (e.g. n_chars_m < X) disagree
    // between NULL-text and empty-text rows
    val safeText = coalesce(col(textCol), lit(""))
    val nChars = length(safeText)
    val punct = nChars - length(regexp_replace(safeText, "[!-/:-@\\[-`{-~]", ""))
    val stopArr = array(stopwords.map(lit): _*)
    // stopwords match LOWERCASED tokens (the withLangId / Gopher rule):
    // Title Case "The" is a stopword too — raw-case matching scored
    // ALL-CAPS fluent text ~0 and a standard 0.1..0.6 gate dropped it.
    // Lowercase the existing token ARRAY (the oracle's list_transform) —
    // whitespace is case-invariant, so this equals re-tokenizing lowered
    // text without paying a second split
    val nStop = size(filter(transform(t, x => lower(x)), w => array_contains(stopArr, w)))
    // token-less / empty docs have undefined ratios: NULL, matching what
    // the SQL transcriptions' x/0 yields in DuckDB — and never a
    // DIVIDE_BY_ZERO under ANSI mode (quality gates then filter the doc,
    // since NULL fails every threshold)
    df.withColumns(Map(
      "n_chars_m" -> nChars,
      "n_tokens" -> nTok,
      "n_bpeish" -> bpeishCount(safeText),
      "avg_token_len" -> when(nTok === 0, lit(null).cast("double"))
        .otherwise(length(concat_ws("", t)).cast("double") / nTok),
      "stopword_ratio" -> when(nTok === 0, lit(null).cast("double"))
        .otherwise(nStop.cast("double") / nTok),
      "punct_ratio" -> when(nChars === 0, lit(null).cast("double"))
        .otherwise(punct.cast("double") / nChars)))
  }

  /** Per-document quality metrics (doc_id, n_chars_m, n_tokens, n_bpeish,
    * avg_token_len, stopword_ratio, punct_ratio) — the standard cheap
    * quality-filter signals; threshold them downstream (e.g.
    * `stopword_ratio between 0.1 and 0.6 and punct_ratio < 0.2`).
    */
  def qualityMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withQualityMetrics(df, textCol).select(col(idCol), col("n_chars_m"), col("n_tokens"),
      col("n_bpeish"), col("avg_token_len"), col("stopword_ratio"), col("punct_ratio"))

  /** Repetition metrics, the published Gopher/MassiveText repetition
    * filters: `dup_token_frac` = 1 − distinct/total tokens (≈1 for
    * keyword-stuffed spam), `top_bigram_frac` = share of word bigrams
    * taken by the single most frequent bigram (≈1 for looping boilerplate).
    * Degenerate docs (no tokens / no bigrams) score 0. One O(n)
    * codegen-kernel pass per row ([[graft.functions.TextHash.repetition]])
    * — no shuffle, no UDF, cost bounded by document length, not corpus
    * size.
    */
  def withRepetitionMetrics(df: DataFrame, textCol: String): DataFrame = {
    // the equivalent higher-order-function formulation runs interpreted per
    // lambda element and re-evaluates the gram array per probe (measured
    // ~1400× slower at sf0.1: 380 s vs 0.27 s); null text scores as empty
    // (0.0, 0.0)
    graft.functions.GraftFunctions.register(df.sparkSession)
    val rep = call_function("graft_repetition", coalesce(col(textCol), lit("")))
    df.withColumn("dup_token_frac", element_at(rep, 1))
      .withColumn("top_bigram_frac", element_at(rep, 2))
  }

  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withRepetitionMetrics(df, textCol)
      .select(col(idCol), col("dup_token_frac"), col("top_bigram_frac"))

  /** Stopword-profile language ID — the classic cheap n-gram/stopword
    * heuristic. Scores each candidate language by the fraction of tokens in
    * its stopword profile; deterministic argmax where equal scores resolve
    * to the lexicographically LARGEST lang (the sort-ascending/take-last
    * formulation below — the oracle transcribes the same rule).
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "it", "that", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "est", "dans"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "他", "这", "中"))

  /** Appends (lang_pred, lang_score) to `df`'s rows; payload columns pass
    * through for pipeline use.
    */
  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    // withColumn would silently REPLACE (then drop) a same-named payload
    // column — guard at THIS altitude so every caller is covered, not
    // just the pipeline's reserved-name list
    require(!df.columns.contains("__t"),
      "withLangId uses temp column '__t' — input already has one; rename or drop it first")
    // tokenize once into a column; scoring 5 languages over the same array
    // would otherwise re-run trim/split/filter per language
    val toked = df.withColumn("__t", tokens(lower(col(textCol))))
    val t = col("__t")
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val prof = array(words.map(lit): _*)
      // token-less docs score NULL for every language — what the SQL
      // transcription's x/len(t) yields in DuckDB at len(t)=0 (and never a
      // DIVIDE_BY_ZERO under ANSI). The argmax still resolves
      // deterministically: all five scores are NULL together, so the
      // struct sort falls through to the lang field in both engines
      struct(when(size(t) === 0, lit(null).cast("double"))
          .otherwise(size(filter(t, w => array_contains(prof, w))).cast("double") / size(t))
          .as("score"),
        lit(lang).as("lang"))
    }
    // argmax: sort (score desc, lang asc) via array_max on (score, negated-lang) is
    // messy; sort_array ascending on (score, lang) and take the last element —
    // equal scores then resolve to the lexicographically largest lang, which is
    // still deterministic.
    val best = element_at(sort_array(array(scored: _*)), -1)
    toked.withColumn("lang_pred", best.getField("lang"))
      .withColumn("lang_score", best.getField("score"))
      .drop("__t")
  }

  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withLangId(df, textCol).select(col(idCol), col("lang_pred"), col("lang_score"))

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03): hash all
    * word k-gram shingles ([[graft.functions.Hashing.md5Hash60]] — chosen so
    * the DuckDB oracle recomputes it exactly), slide a window of `w`, keep
    * each window's minimum. (Winnowing's rightmost-min tie-break selects a
    * *position*; since only the hash value is emitted and equal values
    * dedup, min-of-window is value-identical.) Emitted as
    * (doc_id, fingerprint BIGINT) rows, deduplicated. Per-row computation —
    * embarrassingly parallel.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String, k: Int = 5, w: Int = 4): DataFrame = {
    // the kernel is a native codegen expression (graft.functions
    // .WinnowFingerprints) — no ScalaUDF boxing on the document scan; null
    // text coalesces to "" (no tokens → no fingerprints, like the old UDF).
    // Dedup is IN-ROW (array_distinct before the explode — the wordShingles
    // r17 stance): one document's fingerprints live in one kernel output,
    // so the former global .distinct() exchange shuffled every
    // (id, fingerprint) pair to deduplicate within groups that never span
    // rows. Contract: one row per document id; duplicate-id inputs now
    // keep each row's fingerprint set separately where the old exchange
    // silently unioned them.
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol),
      explode(array_distinct(call_function("graft_fingerprints",
        coalesce(col(textCol), lit("")), lit(k), lit(w)))).as("fingerprint"))
  }

  /** PII patterns redacted by [[redactPii]], applied in this order. Emails
    * first: an address would otherwise be chewed up piecemeal by the looser
    * phone/IP digit patterns. IPs BEFORE phones: the greedy phone pattern
    * accepts digits/spaces/dots, so "+1-555-0100 192.0.2.7" would otherwise
    * collapse into one <PHONE> tag that swallows the IP (still redacted,
    * but the class information is lost); masking IPs first ends the phone
    * match at its last plain digit. The IP pattern is word-bounded on both
    * sides so it cannot fire INSIDE a longer digit run — without the `\b`s
    * a dotted phone "+1.555.123.4567" would be mangled into "+<IP>7"
    * (partial digits leaked, wrong class); bounded, no IP match starts
    * there and the phone pattern masks it whole. RE2-compatible — `\b` is
    * the ASCII word boundary, no backreferences or lookaround — so
    * external engines (the DuckDB oracle, a Go/Rust re-implementation)
    * replace identically.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("\\+[0-9][0-9 ().-]{6,}[0-9]", "<PHONE>"))

  /** Masks emails, international-format phone numbers, and IPv4 addresses —
    * the standard scrub before text enters a training corpus. Pure per-row
    * `regexp_replace` chain: codegen'd, no shuffle, embarrassingly parallel;
    * at 100 TB this is scan-bound, exactly as it should be.
    */
  def redactPii(df: DataFrame, textCol: String, outCol: String = "redacted"): DataFrame =
    df.withColumn(outCol,
      PiiPatterns.foldLeft(col(textCol)) { case (c, (re, tag)) =>
        regexp_replace(c, re, tag)
      })

  /** Exact floor(log2(c)) of a positive integral column via the binary
    * string length — `conv` is string arithmetic, so unlike
    * `floor(log2(x))` there is no libm double to round differently across
    * engines (the DuckDB mirror is `length(ltrim(bin(c),'0')) - 1`).
    */
  def floorLog2(c: Column): Column = (length(conv(c, 10, 2)) - 1).cast("long")

  /** CCNet-style corpus-trained unigram quality score: each document's
    * mean negative log-likelihood under the unigram distribution of the
    * corpus itself — gibberish and OOV-heavy documents score high, fluent
    * prose built from common words scores low. The standard cheap stand-in
    * for the KenLM perplexity filter (Wenzek et al., "CCNet", 2020) when
    * no external LM is available.
    *
    * Reproducibility: -log2 p(t) = log2 N − log2 c(t) is INTEGER-quantized
    * per token ([[floorLog2]]), so every aggregation is exact long
    * arithmetic in any order; the only double op is the single final
    * division by `n_tokens` — bit-identical in any IEEE engine, which is
    * what lets a DuckDB oracle hash-match the scores.
    *
    * Scale shape: tokenize is narrow; per-(doc, token) counts first (ONE
    * shuffle on (doc, token), and the join payload shrinks to distinct
    * tokens per doc — stopword repeats collapse before they travel);
    * corpus frequencies derive from those counts by a map-side-combined
    * re-aggregation; the frequency join is an equi-join on token (AQE
    * handles stopword skew); the total-token count N is ONE driver-side
    * long (the x41 bounded-collect precedent). `vocabSize` is the 100 TB
    * path: only the top-V tokens (by count, ties by token) keep their true
    * frequency — the tail is floored to count 1 (= the maximum surprise a
    * seen-once token would score) — and the V-row vocabulary BROADCASTS,
    * so the corpus-side explode never shuffles for the join at all. With
    * V ≥ |vocab| the two paths are identical (spec-pinned).
    *
    * Output: (idCol, n_tokens LONG, nll_bits DOUBLE — NULL for token-less
    * docs, one row per input doc).
    */
  def unigramQuality(df: DataFrame, idCol: String, textCol: String,
                     vocabSize: Option[Int] = None): DataFrame = {
    // Some(0) would silently floor EVERY token to count 1 — nll_bits the
    // same constant for every doc, a useless signal with no error
    vocabSize.foreach(v => require(v > 0,
      s"unigramQuality: vocabSize must be positive, got $v"))
    // a NULL id aggregates as a real group but the closing left join can
    // never match it back — the doc would come out (0, NULL) with its true
    // score silently discarded (Guards.idOrRaise)
    val dtc = graft.Caching.scoped(
      df.select(Guards.idOrRaise(df, idCol, "unigramQuality").as(idCol),
          explode(tokens(lower(col(textCol)))).as("__tok"))
        .groupBy(col(idCol), col("__tok"))
        .agg(count(lit(1)).as("__cnt")))
    val nTotal: Long = dtc.agg(coalesce(sum("__cnt"), lit(0L))).head.getLong(0)
    val fullFreq = dtc.groupBy("__tok").agg(sum("__cnt").as("__c"))
    val joined = vocabSize match {
      case Some(v) =>
        val vocab = broadcast(fullFreq.orderBy(col("__c").desc, col("__tok")).limit(v))
        dtc.join(vocab, Seq("__tok"), "left")
          .withColumn("__c", coalesce(col("__c"), lit(1L)))
      case None => dtc.join(fullFreq, Seq("__tok"))
    }
    val per = joined.groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_tokens"),
        sum(col("__cnt") * floorLog2(col("__c"))).as("__s"))
      .withColumn("nll_bits",
        (col("n_tokens") * floorLog2(lit(nTotal)) - col("__s")).cast("double") /
          col("n_tokens"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("nll_bits"))
  }

  /** Corpus-trained BIGRAM conditional quality: each document's mean
    * -log2 p(w2 | w1) over its adjacent token pairs, with p estimated
    * from the corpus's own bigram counts — one model order up from
    * [[unigramQuality]], so it additionally penalizes documents whose
    * WORDS are common but whose word ORDER is not (shuffled/templated/
    * keyword-stuffed text that a unigram model scores as fluent). The
    * pair: unigram NLL ranks vocabulary quality, bigram NLL ranks local
    * coherence — CCNet-style pipelines threshold on both.
    *
    * Same reproducibility contract as x43: -log2 p(w2|w1) =
    * log2 C(w1·) − log2 C(w1 w2) is INTEGER-quantized per pair
    * ([[floorLog2]] on exact long counts), every aggregate is exact long
    * arithmetic, and the ONE double op is the final division by the
    * doc's pair count — so a DuckDB oracle reproduces the score
    * bit-for-bit.
    *
    * Scale shape: the per-(doc, bigram) pre-count is ONE hash exchange
    * with map-side partials (a doc's repeated bigrams collapse before
    * anything moves); bigram and context frequencies re-aggregate those
    * counts; the two lookups are equi-joins on the bigram/context keys
    * (AQE absorbs the stopword-bigram skew). Shuffle volume is bounded
    * by the DISTINCT (doc, bigram) count, never the token stream.
    *
    * Output: (idCol, n_pairs LONG, nll_bits DOUBLE — NULL for docs with
    * fewer than 2 tokens, one row per input doc).
    */
  def bigramQuality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(lower(col(textCol)))
    // NULL ids raise (the unigramQuality rule): the closing left join
    // could never match them back
    val pairsOfDoc = df.select(Guards.idOrRaise(df, idCol, "bigramQuality").as(idCol), t.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(0), size(col("__t")) - 2),
        i => struct(element_at(col("__t"), i + 1).as("w1"),
          element_at(col("__t"), i + 2).as("w2")))).as("__p"))
      .select(col(idCol), col("__p.w1").as("__w1"), col("__p.w2").as("__w2"))
    // scoped (the unigramQuality stance): the pre-count feeds the bigram
    // frequency aggregation AND the join probe
    val dpc = graft.Caching.scoped(
      pairsOfDoc.groupBy(col(idCol), col("__w1"), col("__w2")).agg(count(lit(1)).as("__cnt")))
    val bf = graft.Caching.scoped(
      dpc.groupBy("__w1", "__w2").agg(sum("__cnt").as("__cb")))
    val cf = bf.groupBy("__w1").agg(sum("__cb").as("__cc"))
    val per = dpc.join(bf, Seq("__w1", "__w2")).join(cf, Seq("__w1"))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_pairs"),
        sum(col("__cnt") * (floorLog2(col("__cc")) - floorLog2(col("__cb")))).as("__s"))
      .withColumn("nll_bits", col("__s").cast("double") / col("n_pairs"))
    df.select(col(idCol)).join(per.select(col(idCol), col("n_pairs"), col("nll_bits")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("nll_bits"))
  }

  /** The Gopher stopword list (Rae et al. 2021, appendix A1 rule 7) —
    * distinct from [[stopwords]] (the x08 ratio list) on purpose: the
    * published rule names these eight words.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Appends the Gopher rule-set metrics (Rae et al. 2021, appendix A1 —
    * the MassiveText quality filter, reused by MassiveWeb/RefinedWeb-class
    * pipelines) and the composed `keep` verdict:
    *
    *  1. 50 ≤ word count ≤ 100,000
    *  2. 3 ≤ mean word length ≤ 10
    *  3. symbol-to-word ratio (`#` or ellipsis) < 0.1
    *  4. ≤ 90% of lines start with a bullet
    *  5. ≤ 30% of lines end with an ellipsis
    *  6. ≥ 80% of words contain at least one alphabetic character
    *  7. at least 2 of the eight Gopher stopwords appear
    *
    * All counts are exact integers from single-level codegen expressions
    * (token/line arrays, `regexp_count`); each ratio is ONE division of
    * two exact longs, so thresholds compare bit-identically across IEEE
    * engines and the whole operator is narrow — zero shuffle, scan-bound
    * at 100 TB. Token-less docs get NULL ratios (the x08 stance) and
    * `keep = false`. The alphabetic-word count uses `\S*[A-Za-z]\S*`:
    * leftmost-first greedy matching makes each match exactly one
    * whitespace-token containing a letter in both Java regex and RE2 —
    * no lookarounds, which RE2 (DuckDB) lacks.
    */
  def withGopherMetrics(df: DataFrame, textCol: String): DataFrame = {
    // NULL text measures as EMPTY (the withQualityMetrics rule): raw NULL
    // here made bullet_ratio/ellipsis_ratio read -1/-1 = 1.0 under
    // non-ANSI SQL ("100% of lines are bullets") and NULL under ANSI —
    // config-divergent garbage on exactly the rows a gate must drop
    val text = coalesce(col(textCol), lit(""))
    val toks = tokens(text)
    val nWords = size(toks).cast("long")
    // sum of token lengths == chars left after deleting all whitespace
    val sumLen = length(regexp_replace(text, "\\s+", "")).cast("long")
    val nAlpha = regexp_count(text, lit("\\S*[A-Za-z]\\S*")).cast("long")
    // Rae et al. A1 thresholds the hash and ellipsis ratios EACH
    // ("either … greater than 0.1" removes): expose the max of the two as
    // symbol_ratio, so `symbol_ratio <= 0.1` is exactly the per-symbol
    // rule — a summed count was strictly harsher on mixed code-and-prose
    // docs where both symbols co-occur below threshold
    val nHash = (length(text) - length(regexp_replace(text, "#", ""))).cast("long")
    val nEllipsisCh = regexp_count(text, lit("\\.\\.\\.|…")).cast("long")
    // a trailing newline is an encoding artifact, not a line: split() keeps
    // the trailing empty string, which diluted bullet/ellipsis denominators
    // (9 bullet lines + trailing \n read 9/10 and slipped under Rae et
    // al.'s 0.9 removal threshold) — strip trailing newlines first (the
    // oracle transcription mirrors this)
    val lines = split(regexp_replace(text, "\\n+$", ""), "\n")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l => l.rlike("^\\s*[•\\-\\*]"))).cast("long")
    val nEllipsis = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long")
    val stopArr = array(GopherStopwords.map(lit): _*)
    // lowercase the EXISTING token array instead of re-splitting the text
    // (the withQualityMetrics rule; the x44 oracle already does
    // list_transform(toks, lower))
    val nStop = size(filter(transform(toks, w => lower(w)),
      w => array_contains(stopArr, w))).cast("long")
    val nullD = lit(null).cast("double")
    val meanWordLen = when(nWords === 0, nullD).otherwise(sumLen.cast("double") / nWords)
    val symbolRatio = when(nWords === 0, nullD).otherwise(
      greatest(nHash.cast("double") / nWords, nEllipsisCh.cast("double") / nWords))
    val bulletRatio = nBullet.cast("double") / nLines // split() never yields []
    val ellipsisRatio = nEllipsis.cast("double") / nLines
    val alphaRatio = when(nWords === 0, nullD).otherwise(nAlpha.cast("double") / nWords)
    val keep = coalesce(
      nWords.between(50L, 100000L) &&
        meanWordLen.between(3.0, 10.0) &&
        symbolRatio <= 0.1 && // Rae et al. remove at "greater than 0.1": the boundary keeps
        bulletRatio <= 0.9 &&
        ellipsisRatio <= 0.3 &&
        alphaRatio >= 0.8 &&
        nStop >= 2L,
      lit(false))
    df.withColumns(Map(
      "n_words" -> nWords,
      "mean_word_len" -> meanWordLen,
      "symbol_ratio" -> symbolRatio,
      "bullet_ratio" -> bulletRatio,
      "ellipsis_ratio" -> ellipsisRatio,
      "alpha_ratio" -> alphaRatio,
      "n_stop" -> nStop,
      "keep" -> keep))
  }

  /** Per-document Gopher metrics + verdict only — the declared-query shape. */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withGopherMetrics(df, textCol).select(col(idCol), col("n_words"),
      col("mean_word_len"), col("symbol_ratio"), col("bullet_ratio"),
      col("ellipsis_ratio"), col("alpha_ratio"), col("n_stop"), col("keep"))

  /** Exact floor(log2(v)) of a positive long — the driver-side twin of
    * [[floorLog2]] for the bounded-collect corpus totals.
    */
  private[ext] def floorLog2Long(v: Long): Long = {
    require(v > 0, s"floorLog2Long requires a positive value: $v")
    63L - java.lang.Long.numberOfLeadingZeros(v)
  }

  /** BM25 top-k retrieval over the corpus for a fixed term query
    * (Robertson–Spärck Jones / Okapi BM25, k1 = 1.2, b = 0.75 — the
    * published defaults) — the lexical complement of the ANN path and the
    * ranking step after [[graft.ext.Sharding.chunkByTokens]] chunking:
    * score(d) = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Reproducibility: idf is add-one floor-log2 on exact counts (the x43
    * contract); avgdl is quantized to MILLItokens (A = 1000·L div N, an
    * exact corpus constant), which turns each term's score into the exact
    * long ratio 22·A·idf·tf / (10·A·tf + 3·A + 9000·dl) — ONE double
    * division per term, summed LEFT-TO-RIGHT in query-term order, so the
    * (rank, doc) output is bit-deterministic cross-engine. Long bounds
    * hold at any corpus size: the numerator is ≤ 22·A·idf·tf (avgdl and
    * tf are per-document-scale, never corpus-scale — unlike a naive
    * ×10·L clearing, which would overflow at ~10¹⁹ corpus tokens).
    *
    * Scale shape: ONE stats pass (N, L, per-term document frequencies —
    * a bounded 2+|terms| long collect, the x41/x43 precedent) and ONE
    * zero-shuffle scoring scan: per-term tf is an in-row filter over the
    * token array, constants fold into literals, and the global top-k is
    * the bounded `graft_topk` partial aggregate — k rows per partition
    * move, nothing sorts the corpus.
    *
    * Output: k rows — (rank INT best-first, idCol) — ids only, the
    * similarity-output convention. Docs matching no term never reach the
    * aggregate. Ids ride `graft_topk`'s LONG slot, so a non-integral id
    * column is rejected up front with remediation (the cosineLshIncrement
    * rule) and integral ids narrower than long come back WIDENED to long.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopK requires at least one query term")
    require(k > 0, s"k must be positive: $k")
    Guards.requireIntegralId(df, idCol, "bm25TopK")
    // defensive, like every other graft_* consumer: a fresh session that
    // never passed through Tables.load would otherwise throw
    // UNRESOLVED_ROUTINE on graft_topk
    graft.functions.GraftFunctions.register(df.sparkSession)
    // the corpus tokenizes LOWERCASED, so match the query terms the same
    // way (a mixed-case term would silently contribute nothing), and
    // de-duplicate (a repeated term would double-count its score)
    val qterms = terms.map(_.toLowerCase).distinct
    val toked = df.select(col(idCol), tokens(lower(col(textCol))).as("__t"))
      .withColumn("__dl", size(col("__t")).cast("long"))
    // sum over zero rows is NULL — coalesce so an empty corpus reaches the
    // descriptive require below instead of a bare NPE at getLong
    val aggCols = Seq(count(lit(1)).as("n"),
      coalesce(sum(col("__dl")), lit(0L)).as("l"),
      coalesce(max(col("__dl")), lit(0L)).as("m")) ++
      qterms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("__t"), t), 1L).otherwise(0L)).as(s"df$i")
      }
    val stats = toked.agg(aggCols.head, aggCols.tail: _*).head()
    val n = stats.getLong(0)
    val l = stats.getLong(1)
    val maxDl = stats.getLong(2)
    require(n > 0 && l > 0, "bm25TopK requires a non-empty tokenized corpus")
    val avgdlMilli = (1000L * l) / n
    val idfs = qterms.indices.map(i =>
      floorLog2Long(n + 1) - floorLog2Long(stats.getLong(3 + i) + 1))
    // plan-time overflow bound on the millitoken fixed-point: the per-row
    // numerator is 22·avgdlMilli·idf·tf with tf ≤ the longest document —
    // past Long range ANSI mode would kill the job mid-scan (and non-ANSI
    // would silently misrank). BigInt keeps the bound check itself exact.
    require(BigInt(22L) * avgdlMilli * idfs.foldLeft(1L)(math.max) * math.max(maxDl, 1L)
        <= BigInt(Long.MaxValue),
      s"bm25TopK: score fixed-point would overflow (avgdl ${avgdlMilli / 1000} " +
        s"tokens, longest doc $maxDl) — truncate pathologically long documents first")
    def tf(t: String): Column =
      size(filter(col("__t"), x => x === lit(t))).cast("long")
    val scoreTerms = qterms.zip(idfs).map { case (t, idf) =>
      (lit(22L * avgdlMilli * idf) * tf(t)).cast("double") /
        (lit(10L * avgdlMilli) * tf(t) + lit(3L * avgdlMilli) +
          lit(9000L) * col("__dl")).cast("double")
    }
    // ONE array pass decides matching (arrays_overlap) instead of Q
    // per-term tf() scans that the pushed-down filter would recompute in
    // full — result-identical: any tf > 0 iff the arrays overlap
    val matched = arrays_overlap(col("__t"), lit(qterms.toArray))
    toked.filter(matched)
      .withColumn("__score", scoreTerms.reduceLeft(_ + _))
      .agg(call_function("graft_topk", col("__score"), col(idCol), lit(k)).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("int").as("rank"), col("s.nbr_id").as(idCol))
  }

  /** BM25 retrieval JOIN — rank the corpus for a TABLE of queries via the
    * inverted-index shape (the batch analog of a search engine's posting
    * lists, and the scale-out generalization of [[bm25TopK]]'s single
    * fixed query): corpus terms become postings (doc, dl, term, tf),
    * query terms probe them by EQUI-JOIN on the term, and per-(query,
    * doc) scores reduce into the bounded `graft_topk` top-k. Query-side
    * term repeats collapse (`array_distinct` — bag-of-words queries).
    *
    * Reproducibility: [[bm25TopK]]'s exact-long term score is further
    * quantized to integer MILLIpoints (22000·A·idf·tf div (10·A·tf +
    * 3·A + 9000·dl) — floor division, exact), so the per-(query, doc)
    * SUM is exact long arithmetic in ANY aggregation order — the
    * property a double-scored join could not give — and ranking (score
    * DESC, doc ASC) is engine-deterministic. Long bounds: per-term
    * numerator ≤ 22000·A·idf·tf ~ 5·10¹⁶ at a 10⁶-token document.
    *
    * Scale shape: postings are ONE map-side-combined exchange keyed
    * (doc, term) — repeats collapse before anything moves; term document
    * frequencies re-aggregate those partials; the probe is an equi-join
    * on the term (NEVER a query×corpus cross product), and `maxTermDf`
    * is the posting-list skew guard — a stopword matching every document
    * turns one term key into a |queries|×N hot partition, and dropping
    * ubiquitous terms is what real engines' stop lists do (the x02/x15
    * df-cap convention; idf already scores them near zero). The final
    * reduction ships ≤ k (query, doc) rows per partition via
    * `graft_topk`, nothing sorts the candidate set.
    *
    * Output: ≤ k rows per query — (query_id, rank INT best-first, idCol).
    */
  def bm25Join(corpus: DataFrame, queries: DataFrame,
               idCol: String, textCol: String,
               queryIdCol: String, queryTextCol: String,
               k: Int, maxTermDf: Option[Long] = None): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // a cap below 1 keeps no term (every present term has df >= 1): the
    // join would return zero rows for every query, indistinguishable from
    // "no matches", with no error
    maxTermDf.foreach(cap => require(cap >= 1,
      s"bm25Join: maxTermDf must be >= 1, got $cap"))
    Guards.requireIntegralId(corpus, idCol, "bm25Join")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val toked = corpus.select(col(idCol).as("__doc"),
        tokens(lower(col(textCol))).as("__t"))
      .withColumn("__dl", size(col("__t")).cast("long"))
    // postings feed the corpus-stats derivation (below), the df aggregate
    // AND the probe join — scoped, the jaccardPairs stance; callers release
    // via Caching.release. ONE tokenize scan total: round 17 cached the
    // tokenized frame itself to serve a separate stats pass, but the fat
    // __t token arrays were the worst possible cache payload (x59's
    // oracle-designed quadratic probe then fought 6.8 s of GC against
    // them — PERF_r17 0.54×); the per-(doc, term) postings rows are the
    // SLIM representation the rest of the query needs anyway.
    val postings = graft.Caching.scoped(
      toked.select(col("__doc"), col("__dl"), explode(col("__t")).as("__term"))
        .groupBy(col("__doc"), col("__dl"), col("__term"))
        .agg(count(lit(1)).as("__tf")))
    // corpus stats WITHOUT a second tokenize pass: n counts corpus ROWS
    // (column-pruned — tokenization never runs for a count); l = Σ dl =
    // Σ tf over postings (zero-token docs contribute 0 to both); maxDl =
    // max posting dl (a zero-token doc's dl = 0 can only be the max when
    // ALL docs are token-less, which the l > 0 gate below rejects anyway).
    // NULL text tokenizes as empty (the tokens() rule): such a row counts in
    // n with dl 0, as in the former tokenize-and-aggregate pass. The count
    // reads `corpus` apart from the postings, so a NONDETERMINISTIC corpus
    // (sample(), rand filters) must arrive cached, or n and the postings see
    // different rows. Materializing the aggregate here also populates the
    // postings cache for the df/probe reads below.
    val n = corpus.count()
    val stats = postings.agg(
      coalesce(sum(col("__tf")), lit(0L)).as("l"),
      coalesce(max(col("__dl")), lit(0L)).as("m")).head()
    val (l, maxDl) = (stats.getLong(0), stats.getLong(1))
    require(n > 0 && l > 0, "bm25Join requires a non-empty tokenized corpus")
    val avgdlMilli = (1000L * l) / n
    // plan-time overflow bound (the bm25TopK rule, with this path's
    // 22000 millitoken numerator): __num = 22000·avgdlMilli·idf·tf with
    // tf ≤ the longest document and idf ≤ floorLog2(n+1)
    require(BigInt(22000L) * avgdlMilli * math.max(floorLog2Long(n + 1), 1L) *
        math.max(maxDl, 1L) <= BigInt(Long.MaxValue),
      s"bm25Join: score fixed-point would overflow (avgdl ${avgdlMilli / 1000} " +
        s"tokens, longest doc $maxDl) — truncate pathologically long documents first")
    val dfs = postings.groupBy("__term").agg(count(lit(1)).as("__df"))
    val kept = maxTermDf match {
      case Some(cap) => dfs.filter(col("__df") <= cap)
      case None => dfs
    }
    val qterms = queries.select(col(queryIdCol).as("__qid"),
      explode(array_distinct(tokens(lower(col(queryTextCol))))).as("__term"))
    postings.join(kept, Seq("__term"))
      .join(qterms, Seq("__term"))
      .withColumn("__idf", lit(floorLog2Long(n + 1)) - floorLog2(col("__df") + 1))
      .withColumn("__num", lit(22000L * avgdlMilli) * col("__idf") * col("__tf"))
      .withColumn("__den", lit(10L * avgdlMilli) * col("__tf") +
        lit(3L * avgdlMilli) + lit(9000L) * col("__dl"))
      .withColumn("__smilli", expr("__num div __den"))
      .groupBy(col("__qid"), col("__doc"))
      .agg(sum(col("__smilli")).as("__s"))
      .groupBy(col("__qid"))
      .agg(call_function("graft_topk", col("__s").cast("double"), col("__doc"), lit(k)).as("tk"))
      .select(col("__qid").as("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("s.nbr_id").as(idCol))
  }

  /** A trained [[hashedLogOdds]] classifier, frozen for reuse: per-bucket
    * integer weights (index = bucket), the corpus-totals prior, and the
    * hash dimension. `dim` is what makes freezing possible — the weights
    * are ≤ dim longs regardless of vocabulary, so they travel as a LITERAL
    * into any later plan (the codebook precedent).
    */
  final case class LogOddsModel(weights: Array[Long], prior: Long, dim: Int)

  /** Train the hashed log-odds weights once and freeze them — the model
    * [[scoreLogOdds]] applies to any later corpus, including a STREAM
    * (training aggregates the whole corpus eagerly, which a stream cannot;
    * scoring is a pure narrow projection, which a stream can).
    */
  def trainLogOdds(df: DataFrame, idCol: String, textCol: String,
                   positive: Column, dim: Int = 4096): LogOddsModel = {
    require(dim > 0, s"dim must be positive: $dim")
    val w = df.select(positive.as("__pos"),
        explode(tokens(lower(col(textCol)))).as("__tok"))
      .withColumn("__b", graft.functions.Hashing.md5Hash60Col(col("__tok")) % dim)
      .groupBy("__b").agg(
        sum(when(col("__pos"), 1L).otherwise(0L)).as("__cp"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("__cn"))
      .collect()
    val weights = Array.ofDim[Long](dim)
    var np = 0L
    var nn = 0L
    w.foreach { r =>
      val (b, cp, cn) = (r.getLong(0).toInt, r.getLong(1), r.getLong(2))
      weights(b) = floorLog2Long(cp + 1) - floorLog2Long(cn + 1)
      np += cp; nn += cn
    }
    LogOddsModel(weights, floorLog2Long(np + dim) - floorLog2Long(nn + dim), dim)
  }

  /** Score any corpus — batch or STREAMING — against a frozen
    * [[LogOddsModel]]: the weight array is a literal, the bucket lookup is
    * an in-row `element_at`, and the per-doc sum folds inside the row — so
    * the plan has ZERO shuffle, ZERO joins, ZERO state, and runs unchanged
    * as an append-mode streaming projection (what [[graft.ext
    * .CurationPipeline.streamIncrement]]'s batch-only rejection points
    * continuous ingest at). Scores match [[hashedLogOdds]] bit-for-bit
    * when the model was trained on the same corpus (spec-pinned).
    *
    * Output: the input columns + (n_tokens LONG, logodds_bits DOUBLE —
    * NULL for token-less docs).
    */
  def scoreLogOdds(df: DataFrame, textCol: String, model: LogOddsModel): DataFrame = {
    require(model.weights.length == model.dim,
      s"model weights length ${model.weights.length} != dim ${model.dim}")
    // withColumn would silently REPLACE (then drop) a same-named payload
    // column (the withLangId '__t' rule)
    require(!df.columns.contains("__ws"),
      "scoreLogOdds uses temp column '__ws' — input already has one; rename or drop it first")
    val wlit = typedlit(model.weights.toSeq)
    val perTok = transform(tokens(lower(col(textCol))),
      t => element_at(wlit,
        (graft.functions.Hashing.md5Hash60Col(t) % model.dim).cast("int") + 1))
    df.withColumn("__ws", perTok)
      .withColumn("n_tokens", size(col("__ws")).cast("long"))
      .withColumn("logodds_bits",
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise((aggregate(col("__ws"), lit(0L), (a, x) => a + x) -
            col("n_tokens") * lit(model.prior)).cast("double") / col("n_tokens")))
      .drop("__ws")
  }

  /** Hashed bag-of-words log-odds quality scorer — the fastText/CCNet-style
    * in-domain classifier filter (Joulin et al. 2016's hashing trick;
    * CCNet/GPT-3/LLaMA pipelines score crawl docs against a curated
    * reference corpus and keep high scorers). TRAINED FROM THE DATA in one
    * pass: tokens hash into `dim` buckets, the `positive` predicate marks
    * the reference sub-corpus, and each bucket's weight is the add-one
    * log-odds of landing there under the reference vs the rest — a
    * hashed multinomial Naive Bayes. A document's score is its tokens'
    * mean weight, prior-corrected: positive ⇒ reads like the reference.
    *
    * Reproducibility (the x43 contract): log2 is INTEGER-quantized on
    * exact counts ([[floorLog2]]) — weight_b = ⌊log2(c⁺_b+1)⌋ −
    * ⌊log2(c⁻_b+1)⌋ and the prior term uses the corpus totals — so every
    * aggregate is exact long arithmetic and the ONE double op is the final
    * division by the doc's token count.
    *
    * Scale shape: tokenize+hash is narrow; the per-(doc, bucket) pre-count
    * is ONE exchange with map-side partials, and its key space is capped
    * at `dim` buckets per doc regardless of vocabulary; the weight table
    * re-aggregates those partials to AT MOST `dim` rows, which BROADCAST
    * to the probe join (the corpus side never shuffles again); the two
    * corpus totals are one bounded driver-side collect (the x41/x43
    * precedent). That bounded weight table is exactly why real pipelines
    * hash: vocab-keyed weights grow with the corpus, bucket-keyed weights
    * don't.
    *
    * Output: one row per input doc — (idCol, n_tokens LONG, logodds_bits
    * DOUBLE — NULL for token-less docs; >0 reads reference-like).
    */
  def hashedLogOdds(df: DataFrame, idCol: String, textCol: String,
                    positive: Column, dim: Int = 4096): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    // feeds the weight aggregation, the totals collect AND the probe join —
    // scoped (the unigramQuality stance); callers release via Caching.release
    val dtb = graft.Caching.scoped(
      df.select(Guards.idOrRaise(df, idCol, "hashedLogOdds").as(idCol), positive.as("__pos"),
          explode(tokens(lower(col(textCol)))).as("__tok"))
        .withColumn("__b", graft.functions.Hashing.md5Hash60Col(col("__tok")) % dim)
        .groupBy(col(idCol), col("__pos"), col("__b"))
        .agg(count(lit(1)).as("__cnt")))
    val weights = dtb.groupBy("__b").agg(
      sum(when(col("__pos"), col("__cnt")).otherwise(0L)).as("__cp"),
      sum(when(col("__pos"), 0L).otherwise(col("__cnt"))).as("__cn"))
    val tot = weights.agg(
      coalesce(sum("__cp"), lit(0L)), coalesce(sum("__cn"), lit(0L))).head()
    // add-`dim` smoothing keeps both priors positive on an empty side
    val prior = floorLog2Long(tot.getLong(0) + dim) - floorLog2Long(tot.getLong(1) + dim)
    val per = dtb.join(broadcast(weights), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_tokens"),
        sum(col("__cnt") * (floorLog2(col("__cp") + 1) - floorLog2(col("__cn") + 1))).as("__s"))
      .withColumn("logodds_bits",
        (col("__s") - col("n_tokens") * lit(prior)).cast("double") / col("n_tokens"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("logodds_bits"))
  }
}
