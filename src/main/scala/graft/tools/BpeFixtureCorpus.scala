package graft.tools

/** Deterministic tokenizer-training corpus synthesizer — the offline-side
  * input that lets [[BpeTrain]] learn a REALISTICALLY-sized merge table
  * (hundreds of merges) when the engine's own test corpus carries only a
  * ~31-word vocabulary (31 words admit ≲150 pair merges total, however
  * much text repeats them).
  *
  * This mirrors how tokenizers deploy in practice: the model is trained
  * once on a LARGE diverse corpus and then applied to whatever flows
  * through the engine — the engine corpus need not be the training
  * corpus. What must hold is lexicon COVERAGE: [[BpeTrain]] is pointed at
  * this synth corpus AND the engine corpus together, so every runtime
  * pre-token appears in lexicon.tsv and the generated DuckDB oracles can
  * poison genuinely-unknown words loudly.
  *
  * Expansion: every base-vocabulary word crosses a fixed affix table
  * (plausible English morphology — suffix families sharing stems are
  * exactly the structure BPE merge tables encode), plus digit-run tokens
  * and punctuation. Word frequencies decay harmonically by a
  * deterministic per-word rank so the merge order is frequency-shaped
  * like natural text, not uniform. No randomness anywhere: same inputs ⇒
  * byte-identical corpus ⇒ byte-identical trained model.
  *
  * Usage: runMain graft.tools.BpeFixtureCorpus <baseSfDir> <outDir>
  */
object BpeFixtureCorpus {
  // sized so the full lexicon lands ~1.5-2k words: realistically past the
  // old 1000-word inline-CASE oracle bound (forcing the join-based
  // transcription) while keeping the generated VALUES SQL compact
  private val Suffixes = Seq("", "s", "es", "ed", "ing", "er", "ers", "est",
    "ly", "ness", "ment", "tion", "able", "ist", "ized")
  private val Prefixes = Seq("", "re", "un")

  // Non-ASCII training vocabulary (round 17 — the unicode-class
  // pre-tokenizer): accented-Latin stems ride the same affix table as the
  // engine words ("cafés", "recaféing" — morphology the merge table
  // encodes across the é boundary, which the old ASCII classes made
  // impossible); Greek/Cyrillic stems cross their own inflection-shaped
  // suffix rows; CJK words stand alone (no affixing morphology); and
  // Arabic-Indic digit runs exercise \p{N} outside [0-9]. All literals —
  // deterministic, byte-identical corpus across runs.
  private val LatinExtStems = Seq("café", "naïve", "résumé", "señor",
    "garçon", "crème", "déjà", "über", "fiancée", "jalapeño")
  private val GreekStems = Seq("λογος", "κοσμος", "φυσις", "αρετη", "δημος")
  private val CyrillicStems = Seq("слово", "книга", "город", "время", "земля")
  private val GreekSuffixes = Seq("", "ος", "ου", "ων", "ικος")
  private val CyrillicSuffixes = Seq("", "ами", "ость", "ный", "ская")
  private val CjkWords = Seq("東京", "大阪", "学校", "言葉", "電車", "時間")
  private val ArabicDigits = Seq("١٢٣", "٤٥٦", "٧٨٩", "٠١٢٣٤")

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: BpeFixtureCorpus <baseSfDir> <outDir>")
    val (baseSf, outDir) = (args(0), args(1))
    val spark = graft.GraftSession.local("graft-bpe-corpus")
    import spark.implicits._
    try {
      val base = spark.read.parquet(s"$baseSf/documents.parquet")
        .select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.col("text"),
              org.apache.spark.sql.functions.lit("")), "\\s+")).as("w"))
        .filter(org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("w")) > 0)
        .distinct().as[String].collect().sorted
      require(base.nonEmpty, s"BpeFixtureCorpus: no words in $baseSf")
      // prefix × stem × suffix, deduped (affix table rows with "" overlap)
      val words = (for {
        p <- Prefixes; w <- (base ++ LatinExtStems); s <- Suffixes
      } yield p + w + s).distinct
      val greek = for (w <- GreekStems; s <- GreekSuffixes) yield w + s
      val cyrillic = for (w <- CyrillicStems; s <- CyrillicSuffixes) yield w + s
      val digits = (0 until 300).map(_.toString)
      val punct = Seq(".", ",", ";", ":", "!", "?", "-", "(", ")", "'")
      val all = (words ++ greek ++ cyrillic ++ CjkWords ++ ArabicDigits ++
        digits ++ punct).distinct.zipWithIndex
      println(s"BpeFixtureCorpus: ${base.length} base words -> ${all.length} tokens")
      // one doc per token; harmonic frequency by a deterministic rank
      // permutation (i * 2654435761 mod size) so morphological families
      // spread across the frequency spectrum instead of clustering
      val n = all.length
      val rows = all.map { case (w, i) =>
        val rank = ((i.toLong * 2654435761L) % n).toInt + 1
        val reps = math.max(1, 3000 / rank)
        (i.toLong, ((w + " ") * reps).trim)
      }
      rows.toDF("doc_id", "text").repartition(4)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      println(s"BpeFixtureCorpus: wrote ${rows.length} docs to $outDir")
    } finally spark.stop()
  }
}
