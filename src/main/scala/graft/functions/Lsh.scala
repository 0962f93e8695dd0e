package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType, StringType}

/** Native kernels + Catalyst expressions for the LSH hot paths. The
  * signature computations are per-row tight loops over array columns; as
  * expressions they run on Catalyst's unsafe arrays inside whole-stage
  * codegen, skipping the UDF path's ArrayData→Seq conversion and boxing.
  * The math is bit-identical to the previous Scala UDFs (the x03/x05
  * equality tests against exact Jaccard / brute-force cosine pin this).
  */
object Lsh {

  /** The ±1 hyperplane patterns are a pure function of (numBits, dim) —
    * independent of the row — so they build ONCE per executor per shape
    * and every row does a sign lookup instead of numBits×dim mix64 chains
    * (~49k avoidable mixes per row at numBits 64, dim 768). `true` = the
    * mixed value was non-negative (add the component). A healthy embedding
    * corpus has ONE dim, so the cache holds one table; the shape count is
    * CAPPED ([[MaxSignTableShapes]]) because a ragged corpus — every row a
    * different length, each table numBits×dim booleans — would otherwise
    * grow it into an executor OOM (round-15 review). Past the cap, rows
    * fall back to the inline mix64 chain, which is bit-identical (the
    * table is a memo of exactly that computation), just slower.
    */
  private val signTables =
    new scala.collection.concurrent.TrieMap[(Int, Int), Array[Boolean]]()

  private[functions] val MaxSignTableShapes = 64

  private def signTable(numBits: Int, dim: Int): Array[Boolean] = {
    val key = (numBits, dim)
    val cached = signTables.get(key)
    if (cached.isDefined) cached.get
    else if (signTables.size >= MaxSignTableShapes) null
    else {
      val t = new Array[Boolean](numBits * dim)
      var p = 0
      while (p < numBits) {
        var d = 0
        while (d < dim) {
          t(p * dim + d) = signAt(p, d)
          d += 1
        }
        p += 1
      }
      // STRICT memory bound (round-16 review): check-then-insert let N
      // threads racing distinct new shapes at cap-1 all pass the size
      // check and overshoot the cap by up to N-1 tables. Insert first,
      // recheck, and evict OWN entry when over — the computed table is
      // still returned (bit-identical to the cached path, just uncached),
      // so correctness never depends on winning the race.
      signTables.putIfAbsent(key, t) match {
        case Some(prev) => prev
        case None =>
          if (signTables.size > MaxSignTableShapes) signTables.remove(key, t)
          t
      }
    }
  }

  private def signAt(p: Int, d: Int): Boolean = Hashing.mix64(
    (p.toLong * 0x9E3779B97F4A7C15L) + (d.toLong * 0xBF58476D1CE4E5B9L)) >= 0

  /** Signed-random-projection signature: bit p = sign of Σ_d ±v(d), the ±1
    * pattern drawn from splitmix64 mixes of (plane, dim) — precomputed per
    * (numBits, dim) in [[signTable]], bit-identical to mixing inline.
    */
  def srpSign(v: ArrayData, numBits: Int): Long = {
    val n = v.numElements()
    // one null scan per ROW (not per plane): getFloat reads a NULL slot as
    // 0.0f silently, which would bucket a corrupt embedding with arbitrary
    // neighbors — the Ncm.argmax NULL-component stance
    var chk = 0
    while (chk < n) {
      if (v.isNullAt(chk))
        throw new IllegalArgumentException(
          s"graft_srp_sig: NULL vector component at index $chk")
      chk += 1
    }
    val signs = signTable(numBits, n) // null past the shape cap
    var sig = 0L
    var p = 0
    while (p < numBits) {
      var s = 0.0
      var d = 0
      val off = p * n
      while (d < n) {
        val pos = if (signs != null) signs(off + d) else signAt(p, d)
        s += (if (pos) v.getFloat(d) else -v.getFloat(d))
        d += 1
      }
      if (s >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Folds one shingle into a MinHash signature in place (Kirsch–
    * Mitzenmacher double hashing over murmur3 string hashes) — the
    * per-shingle kernel of [[minHashBands]].
    */
  private def updateSig(sig: Array[Long], s: String): Unit = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0).toLong << 32 |
      (scala.util.hashing.MurmurHash3.stringHash(s, 1).toLong & 0xffffffffL)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 2).toLong << 32 |
      (scala.util.hashing.MurmurHash3.stringHash(s, 3).toLong & 0xffffffffL)
    var j = 0
    while (j < sig.length) {
      val h = h1 + j * h2
      if (h < sig(j)) sig(j) = h
      j += 1
    }
  }

  /** Band keys from a finished signature: rolling 31-hash per band slice. */
  private def bandKeys(sig: Array[Long], bandSize: Int): Array[Any] = {
    val nBands = sig.length / bandSize
    val keys = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      var key = 1125899906842597L
      var j = b * bandSize
      while (j < (b + 1) * bandSize) { key = key * 31 + sig(j); j += 1 }
      keys(b) = key
      b += 1
    }
    keys
  }

  /** Per-doc MinHash band keys — one pass over the shingle array. NULL
    * shingle elements are SKIPPED: a NULL contributes no shingle, so the
    * keys equal those of the same array without it (an unguarded
    * getUTF8String(i).toString NPE'd the task with no context).
    */
  def minHashBands(sh: ArrayData, numHashes: Int, bandSize: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      val s = sh.getUTF8String(i)
      if (s != null) updateSig(sig, s.toString)
      i += 1
    }
    new GenericArrayData(bandKeys(sig, bandSize))
  }

  private[functions] def literalInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$what must be a non-null int literal, got $other")
    }
  }

  /** Non-throwing variant for checkInputDataTypes guards: a foldable NULL
    * (CAST(NULL AS INT)) or non-numeric literal must produce the analysis
    * TypeCheckFailure message, not an NPE out of the analyzer.
    */
  private[functions] def literalIntOpt(e: Expression): Option[Int] =
    if (!e.foldable) None
    else e.eval() match {
      // only values an Int represents EXACTLY: Number.intValue() would
      // silently truncate a 2.5 or 4294967301L literal into a well-formed
      // wrong k/numBits — reject at analysis like every other shape gate
      case n: java.lang.Integer => Some(n.intValue())
      case n: java.lang.Short => Some(n.intValue())
      case n: java.lang.Byte => Some(n.intValue())
      case n: java.lang.Long if n.longValue() == n.intValue().toLong => Some(n.intValue())
      case _ => None
    }
}

/** `graft_srp_sig(vec array<float>, numBits int-literal) → long`. */
case class SrpSignature(left: Expression, right: Expression) extends BinaryExpression {
  private lazy val numBits: Int = Lsh.literalInt(right, "numBits")
  override def dataType: DataType = LongType

  // numBits caps at 64: bit p sets via 1L << p, and a 65th plane would
  // silently WRAP onto bit 0 (JVM shift semantics), corrupting every
  // signature instead of failing — the SimHash60 1..60 precedent
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), IntegerType)
        if Lsh.literalIntOpt(right).exists(b => b > 0 && b <= 64) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_srp_sig requires (array<float>, literal int numBits in 1..64)")
  }

  override protected def nullSafeEval(v: Any, _n: Any): Any =
    Lsh.srpSign(v.asInstanceOf[ArrayData], numBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = graft.functions.Lsh.srpSign($v, $numBits);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_minhash_bands(shingles array<string>, numHashes, bandSize) → array<long>`. */
case class MinHashBands(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  private lazy val numHashes: Int = Lsh.literalInt(second, "numHashes")
  private lazy val bandSize: Int = Lsh.literalInt(third, "bandSize")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType)
          if (for { nh <- Lsh.literalIntOpt(second); bs <- Lsh.literalIntOpt(third) }
            yield nh > 0 && bs > 0 && nh % bs == 0).getOrElse(false) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_minhash_bands requires (array<string>, literal numHashes, literal bandSize dividing it)")
    }

  override protected def nullSafeEval(sh: Any, _n: Any, _b: Any): Any =
    Lsh.minHashBands(sh.asInstanceOf[ArrayData], numHashes, bandSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sh, _, _) =>
      s"${ev.value} = graft.functions.Lsh.minHashBands($sh, $numHashes, $bandSize);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}
