package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, IntegerType, LongType}

/** Bloom filter over 64-bit hashes — the semi-join pre-filter for joins
  * where NEITHER side fits a broadcast hash relation but the smaller
  * side's *bloom* does (~10 bits per distinct key vs ~30+ bytes per
  * hash-relation entry). The motivating 100 TB use is decontamination
  * (ext/Decontaminate.scala): filter the trillions of train-side gram
  * hashes down to (leaked + false-positive) grams BEFORE the equi-join
  * shuffle, the same shape as Spark's own InjectRuntimeFilter — but
  * available to multi-stage pipelines that materialize between stages,
  * where the optimizer's runtime filter cannot reach.
  *
  * Bit placement is Kirsch–Mitzenmacher double hashing: bit_i =
  * (h1 + i·h2) mod m with h1, h2 two independent splitmix64 mixes of the
  * input hash (see [[Bloom.mix]]), m a power of two. Determinism: the
  * filter's bytes are a pure function of the
  * inserted hash SET (bitwise OR is commutative), so the same corpus
  * produces the same filter under any partitioning.
  */
object Bloom {

  /** Golden-ratio odd multiplier (Knuth); same constant the id-hash
    * sampler in Similarity.trainCodebook uses.
    */
  private val Phi64 = 0x9E3779B97F4A7C15L

  /** splitmix64 finalizer — full-avalanche mix so h1 and h2 below are
    * independent modulo any power of two. Deriving h2 as a plain multiple
    * of the input (the tempting shortcut) makes every probe bit a function
    * of `hash mod numBits` alone, and then any residue collision between
    * a query and an inserted key is a GUARANTEED false positive (~n/m
    * extra FP rate — measured 8% where the analytic rate was 0.1%).
    */
  private def mix(x0: Long): Long = Hashing.mix64(x0)

  def wordsFor(numBits: Int): Int = numBits / 64

  def requireValidShape(numBits: Int, numHashes: Int): Unit = {
    require(numBits >= 64 && (numBits & (numBits - 1)) == 0,
      s"bloom: numBits must be a power of two >= 64, got $numBits")
    require(numHashes > 0 && numHashes <= 16,
      s"bloom: numHashes must be in [1, 16], got $numHashes")
  }

  /** Set the `numHashes` bits of `hash` in `words` (`numBits` = 64·len). */
  def put(words: Array[Long], numHashes: Int, hash: Long): Unit = {
    val mask = (words.length.toLong * 64L) - 1L
    val h1 = mix(hash)
    val h2 = mix(hash + Phi64) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = ((h1 + i.toLong * h2) & mask).toInt
      words(bit >>> 6) |= 1L << (bit & 63)
      i += 1
    }
  }

  /** True iff all `numHashes` bits of `hash` are set — no false negatives;
    * false positives at the standard (1 − e^{−kn/m})^k rate.
    */
  def mightContain(words: Array[Long], numHashes: Int, hash: Long): Boolean = {
    val mask = (words.length.toLong * 64L) - 1L
    val h1 = mix(hash)
    val h2 = mix(hash + Phi64) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = ((h1 + i.toLong * h2) & mask).toInt
      if ((words(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Self-describing wire form: [numBits:int][numHashes:int][words…]. The
    * probe expression reads the shape from the blob, so a filter built
    * with one shape can never be probed with another.
    */
  def toBytes(words: Array[Long], numHashes: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(8 + words.length * 8)
    val d = new DataOutputStream(out)
    d.writeInt(words.length * 64)
    d.writeInt(numHashes)
    var i = 0
    while (i < words.length) { d.writeLong(words(i)); i += 1 }
    d.flush()
    out.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): (Array[Long], Int) = {
    val d = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val numBits = d.readInt()
    val numHashes = d.readInt()
    requireValidShape(numBits, numHashes)
    val words = new Array[Long](wordsFor(numBits))
    var i = 0
    while (i < words.length) { words(i) = d.readLong(); i += 1 }
    (words, numHashes)
  }
}

/** `graft_bloom(hash, numBits, numHashes)` — aggregate a column of 64-bit
  * hashes into a serialized bloom filter (`binary`).
  *
  * Scale shape: the buffer is a fixed m-bit array merged by bitwise OR —
  * map-side partials ship m/8 bytes per partition regardless of row
  * count, and the result is a single bounded blob the caller collects
  * and re-broadcasts as a literal (the IVF-codebook precedent: one
  * driver-held value whose size is a config constant, not data-driven).
  */
case class BloomFilterAgg(
    hashExpr: Expression, numBitsExpr: Expression, numHashesExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private lazy val numBits: Int = Lsh.literalInt(numBitsExpr, "numBits")
  private lazy val numHashes: Int = {
    val k = Lsh.literalInt(numHashesExpr, "numHashes")
    Bloom.requireValidShape(numBits, k)
    k
  }

  override def children: Seq[Expression] = Seq(hashExpr, numBitsExpr, numHashesExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = hashExpr.dataType match {
    case LongType | IntegerType =>
      // validate the SHAPE here too (the TopKByScore/MinHashBands
      // stance): a bad numBits used to pass analysis and throw per-task
      // from the first update() — hours into a 100 TB scan instead of at
      // plan time
      (Lsh.literalIntOpt(numBitsExpr), Lsh.literalIntOpt(numHashesExpr)) match {
        case (Some(b), Some(k))
            if b >= 64 && (b & (b - 1)) == 0 && k > 0 && k <= 16 =>
          TypeCheckResult.TypeCheckSuccess
        case (Some(b), Some(k)) => TypeCheckResult.TypeCheckFailure(
          s"graft_bloom: numBits must be a power of two >= 64 (got $b) and " +
            s"numHashes in [1, 16] (got $k)")
        case _ => TypeCheckResult.TypeCheckFailure(
          "graft_bloom requires (integral hash, literal int numBits, literal int numHashes)")
      }
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_bloom requires (integral hash, literal int numBits, literal int numHashes)")
  }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](Bloom.wordsFor(numBits))

  override def update(words: Array[Long], input: InternalRow): Array[Long] = {
    val h = hashExpr.eval(input)
    if (h != null) Bloom.put(words, numHashes, h.asInstanceOf[Number].longValue())
    words
  }

  override def merge(words: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < words.length) { words(i) |= other(i); i += 1 }
    words
  }

  override def eval(words: Array[Long]): Any = Bloom.toBytes(words, numHashes)

  override def serialize(words: Array[Long]): Array[Byte] = Bloom.toBytes(words, numHashes)

  override def deserialize(bytes: Array[Byte]): Array[Long] = Bloom.fromBytes(bytes)._1

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BloomFilterAgg =
    copy(hashExpr = newChildren(0), numBitsExpr = newChildren(1), numHashesExpr = newChildren(2))
}

/** `graft_bloom_contains(filter, hash)` — probe a serialized bloom filter.
  * The filter side is a foldable literal in the intended use (collected
  * once, folded into the plan), so codegen hoists ONE deserialization
  * into the generated class's initializer and the per-row work is k
  * masked reads of a shared long[] — stays inside whole-stage codegen
  * with no per-row allocation.
  */
case class BloomMightContain(filterExpr: Expression, hashExpr: Expression)
  extends BinaryExpression {

  override def left: Expression = filterExpr
  override def right: Expression = hashExpr
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    (filterExpr.dataType, hashExpr.dataType) match {
      case (BinaryType, LongType | IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains requires (binary filter, integral hash), got ${l.sql} and ${r.sql}")
    }

  // interpreted path: cache the deserialized words per expression instance
  // keyed on blob identity (the literal case re-uses one blob reference)
  @transient private var cachedBlob: Array[Byte] = _
  @transient private var cachedWords: Array[Long] = _
  @transient private var cachedK: Int = _

  override protected def nullSafeEval(blob: Any, hash: Any): Any = {
    val bytes = blob.asInstanceOf[Array[Byte]]
    if (!(bytes eq cachedBlob)) {
      val (w, k) = Bloom.fromBytes(bytes)
      cachedBlob = bytes; cachedWords = w; cachedK = k
    }
    Bloom.mightContain(cachedWords, cachedK, hash.asInstanceOf[Number].longValue())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // mutable state: one cached (blob, words, k) triple per generated
    // class. addMutableState freshens the name itself and RETURNS the
    // field it declared — referencing a separately-freshened name emits an
    // undeclared identifier and the whole stage falls back to interpreted
    // (janino: "not an rvalue"), which is exactly the hot path this
    // expression exists to keep in codegen.
    val blobRef = ctx.addMutableState("byte[]", "bloomBlob", forceInline = true)
    val wordsRef = ctx.addMutableState("long[]", "bloomWords", forceInline = true)
    val kRef = ctx.addMutableState("int", "bloomK", forceInline = true)
    nullSafeCodeGen(ctx, ev, (blob, hash) => {
      val t = ctx.freshName("bloomParsed")
      s"""
         |if ($blob != $blobRef) {
         |  scala.Tuple2 $t = graft.functions.Bloom.fromBytes($blob);
         |  $blobRef = $blob;
         |  $wordsRef = (long[]) $t._1();
         |  $kRef = ((java.lang.Integer) $t._2()).intValue();
         |}
         |${ev.value} = graft.functions.Bloom.mightContain($wordsRef, $kRef, (long) $hash);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(filterExpr = newLeft, hashExpr = newRight)
}
