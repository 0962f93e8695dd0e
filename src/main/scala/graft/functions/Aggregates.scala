package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded best-k accumulator: keeps the `k` best items under `ord`.
  * Append-and-compact (sort + truncate once the buffer doubles) amortizes
  * to O(log k) per row without a hand-rolled heap, and once the buffer has
  * saturated (≥ k items survived a compaction) items strictly worse than
  * the current kth-best are rejected WITHOUT buffering — on a hot group
  * (the 100 TB scan case) almost every row is worse than the running kth,
  * so the steady-state cost per row is one comparison, not an append +
  * amortized sort. Rejecting only STRICTLY worse items keeps the result
  * multiset bit-identical to sort-everything-take-k: a saturated buffer
  * already holds k items better-or-equal, so the rejected item could never
  * be selected. One implementation for every bounded-rank aggregate so the
  * compaction logic cannot drift.
  *
  * `dedup = true` collapses ord-EQUAL items (compare == 0) to one before
  * truncation — for aggregates whose items are identity-carrying pairs
  * (top-k's (score, id)), equal means the same logical item seen twice,
  * which only happens when upstream state was duplicated by an
  * at-least-once replay; collapsing it keeps ranks correct without an
  * exchange-adding distinct on the scored candidates. Duplicates collapse
  * BEFORE the take(k), so a duplicate never displaces a distinct item.
  * Aggregates whose items legitimately repeat (the quantile row sample)
  * keep the default false.
  */
final class BoundedKBuffer[T](val k: Int, ord: Ordering[T],
                              dedup: Boolean = false) {
  private[functions] val items = new ArrayBuffer[T]()
  private var saturated = false
  private var bound: T = _

  /** Whether [[add]] would buffer `item` — false only for an item strictly
    * worse than the kth-best of a saturated buffer. Lets a caller skip
    * building a costly payload for an item that would be rejected.
    */
  def admits(item: T): Boolean = !saturated || ord.compare(item, bound) <= 0

  def add(item: T): Unit = {
    if (!admits(item)) return
    items += item
    if (items.length >= 2 * k + 16) compact()
  }

  def merge(other: BoundedKBuffer[T]): Unit = {
    // per-item so the other side's elements respect this buffer's bound
    other.items.foreach(add)
  }

  private def compact(): Unit = {
    val sorted = items.sorted(ord)
    val kept =
      if (dedup && sorted.length > 1) {
        val out = new ArrayBuffer[T](math.min(sorted.length, k))
        sorted.foreach { it =>
          if (out.isEmpty || ord.compare(out.last, it) != 0) out += it
        }
        out
      } else sorted
    val best = kept.take(k)
    items.clear()
    items ++= best
    if (items.length >= k) { saturated = true; bound = items(k - 1) }
  }

  /** The final k best, best first. */
  def result(): Seq[T] = { compact(); items.toSeq }
}

object BoundedKBuffer {

  /** Spark's double sort order (nanSafeCompareDoubles): -0.0 == 0.0 and
    * NaN greater than everything — NOT java.lang.Double.compare, which
    * distinguishes ±0.0. Matching it exactly is what keeps the aggregates
    * bit-identical to the window formulations they replace (DuckDB orders
    * doubles the same way).
    */
  def sparkCompareDouble(a: Double, b: Double): Int =
    if (a < b) -1
    else if (a > b) 1
    else {
      val an = a.isNaN; val bn = b.isNaN
      if (an && bn) 0 else if (an) 1 else if (bn) -1 else 0
    }

  /** One top-k candidate: its ranking score and id, plus the exact score
    * that re-ranks it ([[TopKByScore]]'s second cut; null without one or
    * when the exact expression is null). [[scoreDescIdAsc]] ignores it.
    */
  final case class Scored(score: Double, id: Long, exact: java.lang.Double = null)

  /** best-first for top-k: score desc (Spark order), id asc. */
  val scoreDescIdAsc: Ordering[Scored] = new Ordering[Scored] {
    override def compare(x: Scored, y: Scored): Int = {
      val s = sparkCompareDouble(y.score, x.score)
      if (s != 0) s else java.lang.Long.compare(x.id, y.id)
    }
  }
}

/** `graft_topk(score, id, k)` — per-group top-k as a bounded aggregate,
  * the scale-correct reduction for ANN re-ranking: each partition keeps a
  * k-element partial buffer (ObjectHashAggregate, map-side combined), so
  * the shuffle moves groups × k rows instead of every scored candidate,
  * and nothing ever sorts the full candidate set — the window/row_number
  * formulation it replaces sorts ALL candidates per group. Returns
  * `array<struct<nbr_id, cos>>` best-first; tie-break and order are
  * bit-identical to `row_number() OVER (ORDER BY score DESC, id ASC)`
  * including NaN-greatest and -0.0 == 0.0 (Spark's double sort order).
  * Rows with a null score or id are EXCLUDED (a window with NULLS LAST
  * would rank them after all candidates instead) — the similarity call
  * sites filter zero-norm/null vectors upstream, so no null cosine ever
  * reaches the aggregate there.
  *
  * `graft_topk(score, id, k, exact, kExact)` adds a second cut: the buffer
  * still keeps the k best by `score` (the approximate shortlist), each
  * admitted candidate carries `exact` — evaluated only when the buffer
  * admits it, so a rejected row never pays for it — and the result is the
  * `kExact` best of the final shortlist by (exact desc, id asc), with
  * `cos` = exact and the same equal-pair collapse. This equals ranking
  * the shortlist's exact scores in a second `graft_topk` pass: every
  * global shortlist member survives its own partition's cut, so the
  * merged buffers hold it together with the exact score of its row. A
  * null `exact` keeps its shortlist slot but is not ranked.
  */
case class TopKByScore(
    scoreExpr: Expression, idExpr: Expression, kExpr: Expression,
    rerank: Seq[Expression] = Nil,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedKBuffer[BoundedKBuffer.Scored]] {
  import BoundedKBuffer.Scored

  private lazy val k: Int = {
    val v = Lsh.literalInt(kExpr, "k")
    require(v > 0, s"graft_topk: k must be positive, got $v")
    v
  }

  private lazy val kExact: Int = {
    val v = Lsh.literalInt(rerank(1), "kExact")
    require(v > 0, s"graft_topk: kExact must be positive, got $v")
    v
  }

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr, kExpr) ++ rerank
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("nbr_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (scoreExpr.dataType, idExpr.dataType, rerank.map(_.dataType)) match {
      case (DoubleType, LongType | IntegerType, Seq() | Seq(DoubleType, _))
          if Lsh.literalIntOpt(kExpr).exists(_ > 0) &&
            rerank.drop(1).forall(e => Lsh.literalIntOpt(e).exists(_ > 0)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_topk requires (double score, integral id, literal int k > 0" +
          "[, double exact, literal int kExact > 0])")
    }

  // dedup: an exactly-equal (score, id) pair is the same neighbor scored
  // twice — impossible on clean candidates (a corpus vector sits in exactly
  // one IVF cluster / LSH candidates are distinct'd), so collapsing it is
  // bit-identical there and absorbs assignment rows duplicated by an
  // at-least-once streaming-append replay (see Similarity.ivfAppend)
  override def createAggregationBuffer(): BoundedKBuffer[Scored] =
    new BoundedKBuffer(k, BoundedKBuffer.scoreDescIdAsc, dedup = true)

  override def update(buffer: BoundedKBuffer[Scored], input: InternalRow): BoundedKBuffer[Scored] = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null) {
      val item = Scored(s.asInstanceOf[Double], id.asInstanceOf[Number].longValue())
      if (rerank.isEmpty) buffer.add(item)
      else if (buffer.admits(item))
        buffer.add(item.copy(exact = rerank.head.eval(input).asInstanceOf[java.lang.Double]))
    }
    buffer
  }

  override def merge(buffer: BoundedKBuffer[Scored], other: BoundedKBuffer[Scored]): BoundedKBuffer[Scored] = {
    buffer.merge(other); buffer
  }

  override def eval(buffer: BoundedKBuffer[Scored]): Any = {
    val best =
      if (rerank.isEmpty) buffer.result()
      else {
        val second = new BoundedKBuffer(kExact, BoundedKBuffer.scoreDescIdAsc, dedup = true)
        buffer.result().foreach(c => if (c.exact != null) second.add(Scored(c.exact, c.id)))
        second.result()
      }
    new GenericArrayData(best.map(c => new GenericInternalRow(Array[Any](c.id, c.score))).toArray[Any])
  }

  override def serialize(buffer: BoundedKBuffer[Scored]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    val items = buffer.result() // compacted: at most k candidates cross the wire
    d.writeInt(items.length)
    items.foreach { c =>
      d.writeDouble(c.score); d.writeLong(c.id); d.writeBoolean(c.exact != null)
      if (c.exact != null) d.writeDouble(c.exact)
    }
    d.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedKBuffer[Scored] = {
    val d = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val b = createAggregationBuffer()
    val n = d.readInt()
    var i = 0
    while (i < n) {
      // arguments evaluate left to right: score, id, exact flag, exact
      b.add(Scored(d.readDouble(), d.readLong(),
        if (d.readBoolean()) java.lang.Double.valueOf(d.readDouble()) else null))
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1), kExpr = newChildren(2),
      rerank = newChildren.drop(3))
}

/** `graft_bottomk_long(score, id, k)` — per-group ids of the `k` smallest
  * (score asc, id asc) pairs as `array<bigint>`, smallest first. Long
  * scores compare exactly (no double-rounding ties), which keeps
  * hash-rank selections bit-identical to their integer-arithmetic
  * oracles. Same partial-buffer scale shape as [[TopKByScore]]: a hot
  * group reduces to k-element buffers per input partition instead of
  * sorting inside one task. Rows with a null score or id are excluded —
  * score and id must be integral (enforced at analysis time).
  */
case class BottomKIdsByLong(
    scoreExpr: Expression, idExpr: Expression, kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedKBuffer[(Long, Long)]] {

  private lazy val k: Int = {
    val v = Lsh.literalInt(kExpr, "k")
    require(v > 0, s"graft_bottomk_long: k must be positive, got $v")
    v
  }

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (scoreExpr.dataType, idExpr.dataType) match {
      case (LongType | IntegerType, LongType | IntegerType)
          if Lsh.literalIntOpt(kExpr).exists(_ > 0) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_bottomk_long requires (integral score, integral id, literal int k > 0)")
    }

  // dedup: ord-equal means the same (score, id) pair — at the capPerGroup
  // call site the score is a pure hash of the id, so equal pairs are the
  // SAME identity seen twice (duplicate-id rows). Without the collapse a
  // duplicated id occupied TWO of the k slots and silently displaced a
  // distinct survivor (round-15 review); with it the aggregate selects k
  // DISTINCT identities — bit-identical on unique-id inputs, where no
  // ord-equal pair can exist.
  override def createAggregationBuffer(): BoundedKBuffer[(Long, Long)] =
    new BoundedKBuffer(k, Ordering.Tuple2(Ordering.Long, Ordering.Long), dedup = true)

  override def update(buffer: BoundedKBuffer[(Long, Long)], input: InternalRow): BoundedKBuffer[(Long, Long)] = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null)
      buffer.add((s.asInstanceOf[Number].longValue(), id.asInstanceOf[Number].longValue()))
    buffer
  }

  override def merge(buffer: BoundedKBuffer[(Long, Long)], other: BoundedKBuffer[(Long, Long)]): BoundedKBuffer[(Long, Long)] = {
    buffer.merge(other); buffer
  }

  override def eval(buffer: BoundedKBuffer[(Long, Long)]): Any =
    new GenericArrayData(buffer.result().map(_._2).toArray[Any])

  override def serialize(buffer: BoundedKBuffer[(Long, Long)]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    val items = buffer.result()
    d.writeInt(items.length)
    items.foreach { case (s, id) => d.writeLong(s); d.writeLong(id) }
    d.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedKBuffer[(Long, Long)] = {
    val d = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val b = createAggregationBuffer()
    val n = d.readInt()
    var i = 0
    while (i < n) { b.add((d.readLong(), d.readLong())); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKIdsByLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKIdsByLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BottomKIdsByLong =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1), kExpr = newChildren(2))
}

/** `graft_qsample(hash, value, k)` — a deterministic bounded uniform row
  * sample for quantile estimation: per group, the values of the `k` rows
  * with the smallest `hash` (a uniform 60-bit hash of a UNIQUE row id),
  * returned as `array<double>` sorted ascending. Hash-ordered selection
  * makes the sample a pure function of the data — rerun, repartition, or
  * re-engine (the DuckDB oracle recomputes it bit-for-bit) and the same
  * rows are chosen, where `TABLESAMPLE`/`rand()` samples are neither
  * reproducible nor mergeable. Quantiles read off the sorted sample at
  * deterministic ranks (see [[graft.ext.Sketches.quantileSketch]]); with k
  * samples the q-quantile estimate's error is O(1/√k) in rank.
  *
  * Scale shape: the buffer is a bounded k-pair set merged associatively —
  * map-side partials ship k (hash, value) pairs per (partition, group)
  * where exact quantiles (percentile / sort) ship or sort every row.
  * Ties on hash (two distinct rows colliding in 60 bits, ~2⁻⁶⁰) break by
  * value — Spark's double order, matching DuckDB `ORDER BY hv, value` —
  * so even collisions cannot make the result partitioning-dependent. Rows
  * with a null hash or value are excluded.
  */
case class SampleByMinHash(
    hashExpr: Expression, valueExpr: Expression, kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedKBuffer[(Long, Double)]] {

  private lazy val k: Int = {
    val v = Lsh.literalInt(kExpr, "k")
    require(v > 0, s"graft_qsample: k must be positive, got $v")
    v
  }

  /** (hash asc, value by Spark double order) — smallest-hash rows first. */
  private val ord: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
    override def compare(x: (Long, Double), y: (Long, Double)): Int = {
      val h = java.lang.Long.compare(x._1, y._1)
      if (h != 0) h else BoundedKBuffer.sparkCompareDouble(x._2, y._2)
    }
  }

  override def children: Seq[Expression] = Seq(hashExpr, valueExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (hashExpr.dataType, valueExpr.dataType) match {
      case (LongType | IntegerType, DoubleType)
          if Lsh.literalIntOpt(kExpr).exists(_ > 0) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_qsample requires (integral hash, double value, literal int k > 0)")
    }

  override def createAggregationBuffer(): BoundedKBuffer[(Long, Double)] =
    new BoundedKBuffer(k, ord)

  override def update(buf: BoundedKBuffer[(Long, Double)], input: InternalRow): BoundedKBuffer[(Long, Double)] = {
    val h = hashExpr.eval(input)
    val v = valueExpr.eval(input)
    if (h != null && v != null)
      // + 0.0 folds -0.0 into +0.0 (IEEE) so a zero emerging at a quantile
      // rank has ONE bit pattern in every engine; identity for all other
      // values. The oracle applies the same normalization.
      buf.add((h.asInstanceOf[Number].longValue(), v.asInstanceOf[Double] + 0.0))
    buf
  }

  override def merge(buf: BoundedKBuffer[(Long, Double)], other: BoundedKBuffer[(Long, Double)]): BoundedKBuffer[(Long, Double)] = {
    buf.merge(other); buf
  }

  override def eval(buf: BoundedKBuffer[(Long, Double)]): Any = {
    // sample selected by hash order; quantiles want the VALUES sorted
    val values = buf.result().map(_._2).toArray
    java.util.Arrays.sort(values) // no NaN/-0.0 subtleties survive: see ord
    new GenericArrayData(values.map(v => v: Any))
  }

  override def serialize(buf: BoundedKBuffer[(Long, Double)]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    val items = buf.result()
    d.writeInt(items.length)
    items.foreach { case (h, v) => d.writeLong(h); d.writeDouble(v) }
    d.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedKBuffer[(Long, Double)] = {
    val d = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val b = createAggregationBuffer()
    val n = d.readInt()
    var i = 0
    while (i < n) { b.add((d.readLong(), d.readDouble())); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SampleByMinHash =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SampleByMinHash =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SampleByMinHash =
    copy(hashExpr = newChildren(0), valueExpr = newChildren(1), kExpr = newChildren(2))
}

/** `graft_kmv(hash, k)` — the K-Minimum-Values distinct-count sketch
  * (Bar-Yossef et al. 2002): per group, the `k` smallest DISTINCT hash
  * values as a sorted `array<bigint>`. With a uniform hash over [0, 2⁶⁰)
  * the kth-smallest value R estimates the distinct count as
  * (k−1)·2⁶⁰ / R; fewer than k values means the group was seen exactly.
  *
  * Scale shape: the buffer is a bounded k-entry sorted set, merged
  * associatively — partial aggregation runs map-side, so a 100 TB scan
  * ships only k longs per (partition, group) regardless of group size,
  * where exact COUNT(DISTINCT) shuffles every distinct value. Unlike HLL
  * the sketch is exactly reproducible from the hash function — the DuckDB
  * oracle recomputes it bit-for-bit from the same md5-60 hashes.
  */
case class KMinValues(
    hashExpr: Expression, kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[Long]] {

  private lazy val k: Int = {
    val v = Lsh.literalInt(kExpr, "k")
    require(v > 0, s"graft_kmv: k must be positive, got $v")
    v
  }

  override def children: Seq[Expression] = Seq(hashExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = hashExpr.dataType match {
    case LongType | IntegerType if Lsh.literalIntOpt(kExpr).exists(_ > 0) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_kmv requires (integral hash, literal int k > 0)")
  }

  override def createAggregationBuffer(): java.util.TreeSet[Long] =
    new java.util.TreeSet[Long]()

  private def bound(buf: java.util.TreeSet[Long], v: Long): Unit = {
    // keep only the k smallest distinct values; reject above the current
    // kth early so hot groups never churn the set
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last()) { if (buf.add(v)) buf.pollLast(); () }
  }

  override def update(buf: java.util.TreeSet[Long], input: InternalRow): java.util.TreeSet[Long] = {
    val h = hashExpr.eval(input)
    if (h != null) bound(buf, h.asInstanceOf[Number].longValue())
    buf
  }

  override def merge(buf: java.util.TreeSet[Long], other: java.util.TreeSet[Long]): java.util.TreeSet[Long] = {
    val it = other.iterator()
    while (it.hasNext) bound(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[Long]): Any = {
    val arr = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[Long]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    d.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) d.writeLong(it.next())
    d.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[Long] = {
    val d = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val b = createAggregationBuffer()
    val n = d.readInt()
    var i = 0
    while (i < n) { b.add(d.readLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KMinValues =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KMinValues =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KMinValues =
    copy(hashExpr = newChildren(0), kExpr = newChildren(1))
}
