package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, KnownNullable, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst expressions for the hot paths the built-in function
  * library can't cover efficiently. All participate in whole-stage codegen
  * (`doGenCode`), so similarity scans stay inside a single generated loop —
  * the interpreted `aggregate`/`zip_with` equivalent is ~50× slower per pair.
  */

/** Dot product of two `array<float>` columns in double precision, summed
  * left-to-right (the deterministic order the DuckDB oracle reproduces).
  */
case class FloatVectorDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  // array<double> input would silently misread packed doubles via getFloat;
  // reject anything but array<float> at analysis time instead.
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<float> inputs, got ${l.sql} and ${r.sql}")
  }

  // the null scan is skipped entirely when BOTH array types declare
  // containsNull = false — statically impossible nulls should not tax the
  // hottest loop in the ANN family
  private lazy val mayHaveNulls: Boolean = Seq(left, right).exists(
    _.dataType.asInstanceOf[ArrayType].containsNull)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    FloatVectorDot.dot(x, y, mayHaveNulls)
  }

  // the loop is emitted INLINE in the generated code, not as a static
  // kernel call: the whole-stage JIT specializes the per-call-site
  // getFloat dispatch, and the extracted-method form measured ~1.4x on
  // the ANN re-rank even with every check compiled out
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val nullScan = if (!mayHaveNulls) "" else
        s"""
           |for (int $j = 0; $j < $n; $j++) {
           |  if ($a.isNullAt($j) || $b.isNullAt($j)) {
           |    throw new IllegalArgumentException(
           |      "graft_dot: NULL vector component at index " + $j);
           |  }
           |}""".stripMargin
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: vector dimensions differ: " + $n + " vs " + $b.numElements());
         |}$nullScan
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FloatVectorDot {
  /** Shared eval/codegen kernel. Mismatched dimensions RAISE — the old
    * math.min truncation summed a corrupt short vector's prefix and
    * returned a plausible wrong score (the Ncm.argmax dim-raise stance);
    * NULL components raise too, where getFloat would silently read 0.0.
    *
    * The null scan runs as its OWN loop ahead of the multiply loop: fused
    * per-element isNullAt branches cost ~2× on the ANN re-rank hot path
    * (measured: x06 3.1 → 5.5 s at sf0.1), while a separate
    * always-not-taken scan plus a branch-free multiply loop stays within
    * noise of the unchecked kernel. `checkNulls` is false when both input
    * types declare containsNull = false (norm(v) self-dots on a projected
    * array, for example) — then the scan is skipped outright.
    */
  def dot(x: ArrayData, y: ArrayData, checkNulls: Boolean): Double = {
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_dot: vector dimensions differ: $n vs ${y.numElements()}")
    if (checkNulls) {
      if (hasNull(x, n)) raiseNull(x, n)
      if (!(x eq y) && hasNull(y, n)) raiseNull(y, n)
    }
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Any-null probe: for the UnsafeArrayData fast path this reads the null
    * BITMAP words directly (one long per 64 elements — layout:
    * [numElements: long][null bits, 8-byte words][values], per
    * UnsafeArrayData.calculateHeaderPortionInBytes) instead of a per-element
    * isNullAt loop, which measurably taxed the ANN re-rank.
    */
  private def hasNull(a: ArrayData, n: Int): Boolean = a match {
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
      val base = u.getBaseObject
      val off = u.getBaseOffset + 8L
      val words = (n + 63) >>> 6
      var w = 0
      while (w < words) {
        if (org.apache.spark.unsafe.Platform.getLong(base, off + w * 8L) != 0L) return true
        w += 1
      }
      false
    case other =>
      var j = 0
      while (j < n) {
        if (other.isNullAt(j)) return true
        j += 1
      }
      false
  }

  /** Cold path: locate the offending index for the error message. */
  private def raiseNull(a: ArrayData, n: Int): Nothing = {
    var j = 0
    while (j < n && !a.isNullAt(j)) j += 1
    throw new IllegalArgumentException(
      s"graft_dot: NULL vector component at index $j")
  }
}

/** Kafka's murmur2 hash of a binary key, matching the reference's producer
  * partitioner (reference: src/internal/utils/rd_kafka_utils.cpp:83,
  * include/kspp/kspp.h:283-304) and Apache Kafka's
  * `org.apache.kafka.common.utils.Utils.murmur2`. `partition = (murmur2(key)
  * & 0x7fffffff) % numPartitions` reproduces producer-compatible routing.
  */
case class KafkaMurmur2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"kafka_murmur2 requires binary input, got ${t.sql}")
  }

  override protected def nullSafeEval(input: Any): Any =
    KafkaMurmur2.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.KafkaMurmur2.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_pq_adc(lut, codes)` — asymmetric-distance (ADC) inner-product
  * lookup for product-quantized vectors (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", PAMI 2011): `lut` is one
  * query's flattened m×ksub table of per-subspace partial dot products
  * (`lut[sub*ksub + c] = <q_sub, codebook[sub][c]>`), `codes` is a corpus
  * vector's m-byte PQ code, and the score is Σ_sub lut[sub*ksub +
  * codes[sub]] = <q, reconstruct(codes)> — m array reads + adds per
  * candidate instead of a d-element float dot (d/m × fewer flops, and the
  * corpus side touches m BYTES per vector instead of 4d). ksub is derived
  * as lut.length / codes.length, so the two inputs can never disagree
  * about the layout silently.
  */
case class PqAdcScore(lutExpr: Expression, codesExpr: Expression) extends BinaryExpression {
  override def left: Expression = lutExpr
  override def right: Expression = codesExpr
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = (lutExpr.dataType, codesExpr.dataType) match {
    case (ArrayType(DoubleType, _), BinaryType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_adc requires (array<double> lut, binary codes), got ${l.sql} and ${r.sql}")
  }

  override protected def nullSafeEval(lut: Any, codes: Any): Any =
    PqAdcScore.score(lut.asInstanceOf[ArrayData], codes.asInstanceOf[Array[Byte]])

  // inline loop, not a static kernel call — the FloatVectorDot lesson:
  // the whole-stage JIT specializes per-call-site dispatch, and the
  // extracted-method form measurably taxed the ADC scan
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val ksub = ctx.freshName("ksub")
      val sub = ctx.freshName("sub")
      val code = ctx.freshName("code")
      val acc = ctx.freshName("acc")
      s"""
         |if ($codes.length == 0 || $lut.numElements() % $codes.length != 0) {
         |  throw new IllegalArgumentException(
         |    "graft_pq_adc: lut of " + $lut.numElements() + " doubles is not a rectangle over "
         |      + $codes.length + " code bytes — lut and codes come from different models");
         |}
         |int $ksub = $lut.numElements() / $codes.length;
         |double $acc = 0.0;
         |for (int $sub = 0; $sub < $codes.length; $sub++) {
         |  int $code = $codes[$sub] & 0xff;
         |  if ($code >= $ksub) {
         |    throw new IllegalArgumentException(
         |      "graft_pq_adc: code " + $code + " at subspace " + $sub + " exceeds ksub=" + $ksub
         |        + " — codes were encoded with a different codebook");
         |  }
         |  $acc += $lut.getDouble($sub * $ksub + $code);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(lutExpr = newLeft, codesExpr = newRight)
}

object PqAdcScore {
  /** Shared eval/codegen kernel. The layout must be a rectangle and every
    * code must index inside its subspace row: a lut/codes pair from two
    * DIFFERENT models would otherwise read out-of-bounds unsafe memory —
    * UnsafeArrayData.getDouble has no bounds check, so the "score" is
    * whatever bytes follow the array (silently wrong ANN ranking, the
    * failure class Ncm.argmax's rectangle raise exists for). Empty codes
    * were a bare divide-by-zero.
    */
  def score(l: ArrayData, c: Array[Byte]): Double = {
    if (c.length == 0 || l.numElements() % c.length != 0)
      throw new IllegalArgumentException(
        s"graft_pq_adc: lut of ${l.numElements()} doubles is not a rectangle " +
          s"over ${c.length} code bytes — lut and codes come from different models")
    val ksub = l.numElements() / c.length
    var acc = 0.0
    var sub = 0
    while (sub < c.length) {
      val code = c(sub) & 0xff
      if (code >= ksub)
        throw new IllegalArgumentException(
          s"graft_pq_adc: code $code at subspace $sub exceeds ksub=$ksub — " +
            "codes were encoded with a different codebook")
      val idx = sub * ksub + code
      // a NULL lut slot would read as 0.0 from the unsafe buffer — a
      // silently deflated score that reorders top-k (the rectangle-raise
      // failure class); isNullAt is one bitmap test per subspace
      if (l.isNullAt(idx))
        throw new IllegalArgumentException(
          s"graft_pq_adc: NULL lut entry at index $idx — the lut must be dense")
      acc += l.getDouble(idx)
      sub += 1
    }
    acc
  }
}

/** `graft_ncm_argmax(vec array<float>, labels array<int>, centroids
  * array<double>) → int` — nearest-class-mean argmax against frozen
  * centroids (label-major flat layout: `centroids(l*dim + i)`), the scoring
  * kernel behind [[graft.ext.Similarity.classifyCentroids]].
  *
  * Bit-identical by construction to the literal greatest-of-structs
  * formulation it replaces: each component quantizes to
  * `floor(double(v(i)) · 2^20)` longs, each label's score is the
  * LEFT-TO-RIGHT sum of `quantized · centroid` double products (DuckDB's
  * `list_reduce` folds the same order), ties go to the smaller label. The
  * when-chain version expanded to labels×dim element_at/floor terms —
  * big enough to FAIL janino compilation at realistic (labels, dim) and
  * silently fall back to interpreted eval; this kernel is two tight loops
  * inside whole-stage codegen at any model size. A vector of the wrong
  * dimension throws per row (the raise_error stance: element_at past the
  * end would silently NULL and make the argmax arbitrary).
  */
case class NcmArgmax(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ncm_argmax"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        "graft_ncm_argmax requires (array<float> vec, array<int> labels, " +
          s"array<double> label-major centroids), got ${a.sql}, ${b.sql}, ${c.sql}")
    }

  override protected def nullSafeEval(vec: Any, labels: Any, cents: Any): Any =
    Ncm.argmax(vec.asInstanceOf[ArrayData], labels.asInstanceOf[ArrayData],
      cents.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, l, c) =>
      s"${ev.value} = graft.functions.Ncm.argmax($v, $l, $c);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object Ncm {
  /** The quantization scale — [[graft.ext.Similarity.CentroidQuantScale]]'s
    * value, restated here so the codegen kernel has no object-graph
    * dependency on the operator layer.
    */
  final val Scale: Double = (1L << 20).toDouble

  def argmax(v: ArrayData, labels: ArrayData, cents: ArrayData): Int = {
    val nLabels = labels.numElements()
    // a ragged or empty model would otherwise misclassify silently: floor
    // division shifts every label's centroid offset when the flat array is
    // not an exact labels×dim rectangle, and zero labels divides by zero
    if (nLabels == 0 || cents.numElements() % nLabels != 0)
      throw new IllegalArgumentException(
        s"classifyCentroids: centroid array of ${cents.numElements()} doubles " +
          s"is not a rectangle over $nLabels labels")
    val dim = cents.numElements() / nLabels
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"classifyCentroids: vector dimension ${v.numElements()} does not " +
          s"match the model's dim=$dim")
    // quantize once (the when-chain re-derived these per label); the
    // long round-trip mirrors the chain's floor(..)::long::double exactly.
    // Non-finite / null components raise — the literal formulation this
    // kernel replaced threw out of its ANSI long cast (floor(NaN) has no
    // long value); silently quantizing them to 0 would classify a corrupt
    // embedding as whatever label happens to sort first.
    val q = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          s"classifyCentroids: NULL vector component at index $i")
      val f = v.getFloat(i)
      if (java.lang.Float.isNaN(f) || java.lang.Float.isInfinite(f))
        throw new IllegalArgumentException(
          s"classifyCentroids: non-finite vector component at index $i: $f")
      q(i) = Math.floor(f.toDouble * Scale).toLong.toDouble
      i += 1
    }
    // NULL slots in the model arrays would read as 0/0.0 from the unsafe
    // buffers — a silent misclassification (the dim-raise failure class);
    // one bitmap test per element
    var best = 0 // always assigned on l = 0 via the `first` flag
    var bestS = Double.NegativeInfinity
    var first = true
    var l = 0
    while (l < nLabels) {
      if (labels.isNullAt(l))
        throw new IllegalArgumentException(
          s"classifyCentroids: NULL label at index $l")
      var s = 0.0
      var j = 0
      while (j < dim) {
        val idx = l * dim + j
        if (cents.isNullAt(idx))
          throw new IllegalArgumentException(
            s"classifyCentroids: NULL centroid component at index $idx")
        s += q(j) * cents.getDouble(idx)
        j += 1
      }
      // strict > : ties keep the EARLIER (smaller, label-sorted) label —
      // the greatest((score, -label)) rule of the literal formulation
      if (first || s > bestS) { best = labels.getInt(l); bestS = s; first = false }
      l += 1
    }
    best
  }
}

object KafkaMurmur2 {
  /** murmur2, seed 0x9747b28c — byte-for-byte the Kafka variant. */
  def hash(data: Array[Byte]): Int = {
    val length = data.length
    val seed = 0x9747b28c
    val m = 0x5bd1e995
    val r = 24
    var h = seed ^ length
    val length4 = length / 4
    var i = 0
    while (i < length4) {
      val i4 = i * 4
      var k = (data(i4 + 0) & 0xff) + ((data(i4 + 1) & 0xff) << 8) +
        ((data(i4 + 2) & 0xff) << 16) + ((data(i4 + 3) & 0xff) << 24)
      k *= m
      k ^= k >>> r
      k *= m
      h *= m
      h ^= k
      i += 1
    }
    (length % 4) match {
      case 3 =>
        h ^= (data((length & ~3) + 2) & 0xff) << 16
        h ^= (data((length & ~3) + 1) & 0xff) << 8
        h ^= data(length & ~3) & 0xff
        h *= m
      case 2 =>
        h ^= (data((length & ~3) + 1) & 0xff) << 8
        h ^= data(length & ~3) & 0xff
        h *= m
      case 1 =>
        h ^= data(length & ~3) & 0xff
        h *= m
      case _ =>
    }
    h ^= h >>> 13
    h *= m
    h ^= h >>> 15
    h
  }
}

/** Session-scoped registration so `call_function("graft_dot", ...)` resolves
  * on any session the driver hands us (idempotent; called from Tables.load
  * and GraftSession.tune).
  */
object GraftFunctions {

  /** Name → (representative class, builder) for every graft SQL function —
    * ONE list feeding both registration paths so they cannot drift.
    */
  private[graft] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[FloatVectorDot], es => FloatVectorDot(es(0), es(1))),
    ("kafka_murmur2", classOf[KafkaMurmur2], es => KafkaMurmur2(es.head)),
    ("graft_srp_sig", classOf[SrpSignature], es => SrpSignature(es(0), es(1))),
    ("graft_minhash_bands", classOf[MinHashBands], es => MinHashBands(es(0), es(1), es(2))),
    ("graft_simhash", classOf[SimHash60], es => SimHash60(es(0), es(1))),
    ("graft_fingerprints", classOf[WinnowFingerprints],
      es => WinnowFingerprints(es(0), es(1), es(2))),
    ("graft_topk", classOf[TopKByScore],
      es => TopKByScore(es(0), es(1), es(2), if (es.length > 3) Seq(es(3), es(4)) else Nil)),
    ("graft_bottomk_long", classOf[BottomKIdsByLong],
      es => BottomKIdsByLong(es(0), es(1), es(2))),
    ("graft_repetition", classOf[RepetitionStats], es => RepetitionStats(es.head)),
    ("graft_kmv", classOf[KMinValues], es => KMinValues(es(0), es(1))),
    ("graft_qsample", classOf[SampleByMinHash], es => SampleByMinHash(es(0), es(1), es(2))),
    ("graft_bloom", classOf[BloomFilterAgg], es => BloomFilterAgg(es(0), es(1), es(2))),
    ("graft_bloom_contains", classOf[BloomMightContain], es => BloomMightContain(es(0), es(1))),
    ("graft_pq_adc", classOf[PqAdcScore], es => PqAdcScore(es(0), es(1))),
    ("graft_ncm_argmax", classOf[NcmArgmax], es => NcmArgmax(es(0), es(1), es(2))),
    ("graft_bpe_count", classOf[BpeTokenCount], es => BpeTokenCount(es(0), es(1))),
    ("graft_bpe_ids", classOf[BpeTokenIds], es => BpeTokenIds(es(0), es(1))),
    // a column's nullability set either way: the keyed operators' grouping
    // columns keep the nullability the typed `groupByKey` wrote into
    // existing state key schemas (StatefulOps.byKey)
    ("graft_assert_not_null", classOf[AssertNotNull], es => AssertNotNull(es.head)),
    ("graft_known_nullable", classOf[KnownNullable], es => KnownNullable(es.head)))

  /** Sessions already registered — weak keys so a dropped session can GC.
    * Operator entry points call [[register]] defensively on every
    * invocation; without this guard each call re-replaces all functions
    * and a full bench run emits ~6400 SimpleFunctionRegistry warnings.
    */
  private val registered = new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /** Wrap a positional builder with an arity gate: without it, extra SQL
    * arguments were SILENTLY DROPPED (graft_dot(a, b, c) computed
    * dot(a, b) — a well-formed wrong answer) and missing ones died with a
    * bare IndexOutOfBoundsException inside the analyzer. One wrapper over
    * the shared list covers every function.
    */
  private def checkedArity(name: String,
                           b: Seq[Expression] => Expression): Seq[Expression] => Expression = {
    es =>
      def wrongArity(expected: String): Nothing = throw new IllegalArgumentException(
        s"$name: wrong number of arguments — expected $expected, got ${es.length}")
      val built =
        try b(es)
        catch { case _: IndexOutOfBoundsException => wrongArity("more") }
      if (es.length != built.children.length)
        wrongArity(built.children.length.toString)
      built
  }

  /** `name`'s builder as both registration paths install it: behind the
    * arity gate.
    */
  private[graft] def checkedBuilder(name: String): Seq[Expression] => Expression =
    builders.collectFirst { case (`name`, _, b) => checkedArity(name, b) }
      .getOrElse(throw new NoSuchElementException(s"no graft function $name"))

  def register(spark: SparkSession): Unit = registered.synchronized {
    if (!registered.containsKey(spark)) {
      val reg = spark.sessionState.functionRegistry
      builders.foreach { case (name, _, b) =>
        reg.createOrReplaceTempFunction(name, checkedArity(name, b), "built-in")
      }
      registered.put(spark, java.lang.Boolean.TRUE)
    }
  }

  /** The `spark.sql.extensions` injection path ([[graft.GraftExtensions]]):
    * functions land in the session's registry at build time, so plain
    * `spark.sql("SELECT graft_dot(...)")` works on a session the library
    * never touched programmatically — the idiomatic deployment for
    * spark-submit / Thrift-server users.
    */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, cls, b) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(cls.getName, name),
        checkedArity(name, b)))
    }
}
