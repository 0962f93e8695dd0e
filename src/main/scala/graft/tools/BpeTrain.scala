package graft.tools

import org.apache.spark.sql.functions._

/** Offline BPE trainer (Sennrich, Haddow & Birch 2016, Algorithm 1) — emits
  * the public-format model [[graft.functions.Bpe]] loads, plus the per-word
  * lexicon the DuckDB oracles transcribe:
  *
  *  - `merges.txt` — "#version: 0.2" header + one "<left> <right>" per
  *    line, best-first;
  *  - `vocab.json` — {"token": id}: every observed single character
  *    (sorted) gets ids 0.., then each merge's output token in merge order
  *    (so no corpus symbol ever encodes -1);
  *  - `lexicon.tsv` — `word \t count \t n_tokens \t ids-csv` for EVERY
  *    distinct pre-token across the inputs (the oracle's join table).
  *
  * Training is fully deterministic: the next merge is the most frequent
  * adjacent symbol pair (frequency = Σ word-frequency over occurrences,
  * non-overlapping left-to-right), ties broken lexicographically on
  * (left, right); training stops at `numMerges` or when no pair repeats.
  * Word frequencies come from Spark (the distributed part — a 100 TB
  * corpus aggregates to its bounded vocabulary before anything reaches the
  * driver); the merge loop itself is driver-side over that bounded
  * vocabulary, which is the standard shape (BPE training state IS the
  * vocabulary). `maxVocab` guards the collect: a corpus whose distinct
  * pre-token count exceeds it fails loudly with the count instead of
  * OOMing the driver — cap/filter the corpus (or raise the guard) first.
  *
  * Usage: runMain graft.tools.BpeTrain <outDir> <numMerges> <srcDir> [srcDir ...]
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: BpeTrain <outDir> <numMerges> <srcDir> [srcDir ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val numMerges = args(1).toInt
    val srcDirs = args.drop(2).toSeq
    val maxVocab = sys.env.getOrElse("GRAFT_BPE_MAX_VOCAB", "2000000").toInt
    val spark = graft.GraftSession.local("graft-bpe-train")
    try {
      // distributed word-frequency aggregate over every input corpus — the
      // Bpe pre-tokenizer's classes, verbatim
      val counts: Array[(String, Long)] = srcDirs
        // text is the only column training reads — project before the
        // union so corpora with different auxiliary schemas mix freely
        // (the synth training corpus carries only (doc_id, text))
        .map(d => spark.read.parquet(s"$d/documents.parquet").select(col("text")))
        .reduce(_ unionByName _)
        .select(explode(regexp_extract_all(coalesce(col("text"), lit("")),
          lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .limit(maxVocab + 1)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      require(counts.length <= maxVocab,
        s"BpeTrain: corpus has > $maxVocab distinct pre-tokens — raise " +
          "GRAFT_BPE_MAX_VOCAB or pre-filter the corpus")
      // deterministic driver-side order regardless of shuffle placement
      val vocabFreq = counts.sortBy(_._1)
      println(s"BpeTrain: ${vocabFreq.length} distinct pre-tokens, training $numMerges merges")

      // words as symbol sequences (code points — the Bpe.encodeWord split)
      def codePoints(w: String): Array[String] = {
        val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
        var i = 0
        while (i < w.length) {
          val n = Character.charCount(w.codePointAt(i))
          out += w.substring(i, i + n)
          i += n
        }
        out.toArray
      }
      var words: Array[(Array[String], Long)] =
        vocabFreq.map { case (w, c) => (codePoints(w), c) }

      // every surface token the model will carry — single chars up front,
      // each merge's output as it lands. Two different merges can produce
      // ONE surface string ((a,bc) and (ab,c) both yield 'abc'); emitting
      // both would write a duplicate vocab.json key that Jackson's plain
      // readTree silently last-wins on, aliasing the earlier merge's token
      // to the later id (round-16 review — parseVocab now also REJECTS
      // duplicate keys). The trainer therefore SKIPS a candidate pair
      // whose surface form already exists (the Sennrich/HF dedup stance):
      // the pair stays unmerged this round and a different pair is taken.
      val surfaceTokens = scala.collection.mutable.Set[String](
        vocabFreq.iterator.flatMap(w => codePoints(w._1)).toSeq: _*)

      val merges = new scala.collection.mutable.ArrayBuffer[(String, String)]()
      var continue = merges.length < numMerges
      while (continue) {
        // pair frequencies over every adjacent position (Sennrich's
        // reference get_stats — overlapping occurrences count; only the
        // ENCODER merges non-overlapping)
        val pairFreq = new scala.collection.mutable.HashMap[(String, String), Long]()
        words.foreach { case (syms, c) =>
          var i = 0
          while (i < syms.length - 1) {
            val p = (syms(i), syms(i + 1))
            pairFreq.update(p, pairFreq.getOrElse(p, 0L) + c)
            i += 1
          }
        }
        val candidates = pairFreq.toSeq
          .filter { case ((a, b), _) => !surfaceTokens.contains(a + b) }
        if (candidates.isEmpty) continue = false
        else {
          val (bestPair, bestCount) = candidates
            .minBy { case ((a, b), c) => (-c, a, b) }
          if (bestCount < 2) continue = false
          else {
            merges += bestPair
            val merged = bestPair._1 + bestPair._2
            surfaceTokens += merged
            words = words.map { case (syms, c) =>
              if (syms.length < 2) (syms, c)
              else {
                val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
                var j = 0
                while (j < syms.length) {
                  if (j < syms.length - 1 && syms(j) == bestPair._1 && syms(j + 1) == bestPair._2) {
                    out += merged; j += 2
                  } else { out += syms(j); j += 1 }
                }
                (out.toArray, c)
              }
            }
            continue = merges.length < numMerges
          }
        }
      }
      println(s"BpeTrain: trained ${merges.length} merges")

      // vocab: single chars (sorted) first, then merge outputs in order.
      // The surfaceTokens skip above makes collisions impossible, but the
      // invariant is what keeps parseVocab's duplicate-key rejection from
      // ever firing on OUR output — check it loudly rather than trust the
      // loop (round-16 review)
      val chars = vocabFreq.iterator.flatMap(w => codePoints(w._1)).toArray
        .distinct.sorted
      val tokens = chars.toSeq ++ merges.map { case (a, b) => a + b }
      require(tokens.distinct.length == tokens.length,
        s"BpeTrain: duplicate surface token in vocab — " +
          tokens.diff(tokens.distinct).distinct.take(3).mkString(", "))
      val vocab: Seq[(String, Int)] = tokens.zipWithIndex

      java.nio.file.Files.createDirectories(outDir)
      java.nio.file.Files.write(outDir.resolve("merges.txt"),
        (Seq("#version: 0.2") ++ merges.map { case (a, b) => s"$a $b" })
          .mkString("", "\n", "\n").getBytes("UTF-8"))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val vocabNode = mapper.createObjectNode()
      vocab.foreach { case (tok, id) => vocabNode.put(tok, id) }
      java.nio.file.Files.write(outDir.resolve("vocab.json"),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(vocabNode))

      // lexicon via the REAL encoder over the written model (not the
      // trainer's internal state) — what the file says is what ships
      val model = graft.functions.BpeModel(vocab.toMap,
        merges.zipWithIndex.map { case (p, r) => p -> r }.toMap)
      val lexicon = vocabFreq.map { case (w, c) =>
        val ids = graft.functions.Bpe.idsOf(model, w)
        s"$w\t$c\t${ids.length}\t${ids.mkString(",")}"
      }
      java.nio.file.Files.write(outDir.resolve("lexicon.tsv"),
        lexicon.mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"BpeTrain: wrote ${outDir.toAbsolutePath} (vocab ${vocab.length}, " +
        s"lexicon ${lexicon.length} words)")
    } finally spark.stop()
  }
}
