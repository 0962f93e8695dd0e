package perfbench

/** Seeded generators. Every input the engine sees is derived from the run's
  * `--seed` through [[Rng]]; the same seed gives the same inputs.
  */
final class Rng(seed: Long) {
  private var s = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def gaussian(): Double = {
    val u1 = math.max(nextDouble(), 1e-300); val u2 = nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}

/** Zipf(s) sampler over keys `0 until n` by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: Rng): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
  /** Share of draws that land on the most frequent key. */
  def topShare: Double = cdf(0)
}

object Gen {
  /** The word list of the library's reference corpora; "the" drives the
    * language filter's `en` verdict, the rest are topic words.
    */
  val Vocab: Array[String] =
    ("the a query row stream batch sort value hash filter big data dup part column " +
      "order scan slow agg key window table merge vector join spark line small fast group customer")
      .split(" ")

  /** The vocabulary-rotation clone of `text`: every word moves `k * step`
    * places through the vocabulary (a bijection), so shingle sets, exact
    * duplicates and Jaccard similarities inside one clone match the base
    * corpus while texts of different clones are unrelated.
    */
  def rotate(text: String, k: Int): String = {
    if (k == 0) text
    else {
      val v = Vocab.length
      val step = { def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b); Iterator.from(7).find(g => gcd(g, v) == 1).get }
      text.split(" ").map { w =>
        val i = Vocab.indexOf(w)
        if (i < 0) w else Vocab(((i + k.toLong * step) % v).toInt)
      }.mkString(" ")
    }
  }

  /** A text of `len` words, skewed towards the head of the vocabulary. */
  def text(r: Rng, len: Int, zipf: Zipf): String =
    Array.fill(len)(Vocab(zipf.sample(r))).mkString(" ")

  /** `text` with `edits` words replaced: a near duplicate. */
  def nearCopy(r: Rng, text: String, edits: Int): String = {
    val ws = text.split(" ")
    (0 until edits).foreach(_ => ws(r.nextInt(ws.length)) = Vocab(r.nextInt(Vocab.length)))
    ws.mkString(" ")
  }
}
