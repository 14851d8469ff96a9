package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Bounded min-k aggregate: the k smallest BIGINT values of a group,
  * returned sorted ascending, with O(k) state at ANY group size.
  *
  * Why (SURVEY.md §7.2 "custom Catalyst" bucket): the built-in
  * spelling `slice(array_sort(collect_list(x)), 1, k)` truncates only
  * AFTER collection — the `collect_list` buffer itself grows with the
  * group, so a hot key (a stop-word term whose df approaches the
  * corpus size) accumulates a corpus-sized array in one aggregation
  * buffer and OOMs the executor. This aggregate keeps a fixed k-slot
  * sorted array per group, rejects values above the current k-th in
  * O(log k), and merges map-side partials by a bounded two-pointer
  * merge — the shuffle carries at most 4+8k bytes per group no matter
  * how many rows fed it.
  *
  * Duplicate values are kept (multiset semantics, matching
  * `collect_list`); callers that need set semantics deduplicate
  * upstream, as the inverted-index build does with its distinct
  * (term, doc) projection.
  */
object MinKAgg {
  /** Register `min_k(col, k)` (GraftSession does this). */
  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      FunctionIdentifier("min_k"),
      new ExpressionInfo(classOf[MinK].getName, "min_k"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(k: Int, IntegerType)) =>
          require(k > 0 && k <= (1 << 20), s"min_k's k must be in [1, 2^20], got $k")
          MinK(c, k)
        case Seq(_, other) => throw new IllegalArgumentException(
          s"min_k's k must be an integer literal, got: $other")
        case other => throw new IllegalArgumentException(
          s"min_k(col, k) got ${other.size} args")
      })
    b.result()
  }

  /** Column form: minK(col, k) → array<long>, ascending, size ≤ k. */
  def minK(c: Column, k: Int): Column = call_function("min_k", c, lit(k))
}

/** Fixed-size buffer: a sorted long[k] prefix plus a fill count.
  * Insertion keeps the prefix sorted (binary search + arraycopy —
  * k is small, tens not millions, so the shift is cache-friendly);
  * a full buffer rejects any value ≥ the current maximum without
  * touching the array.
  */
final class MinKBuffer(val k: Int) {
  val slots: Array[Long] = new Array[Long](k)
  var n: Int = 0

  def insert(v: Long): Unit = {
    if (n == k && v >= slots(k - 1)) return
    var idx = java.util.Arrays.binarySearch(slots, 0, n, v)
    if (idx < 0) idx = -idx - 1
    val last = if (n < k) n else k - 1
    if (idx < last) System.arraycopy(slots, idx, slots, idx + 1, last - idx)
    if (idx <= last) slots(idx) = v
    if (n < k) n += 1
  }

  /** Two-pointer merge of two sorted prefixes into a fresh buffer. */
  def mergeWith(o: MinKBuffer): MinKBuffer = {
    val out = new MinKBuffer(k)
    var i = 0; var j = 0
    while (out.n < k && (i < n || j < o.n)) {
      val takeLeft = j >= o.n || (i < n && slots(i) <= o.slots(j))
      if (takeLeft) { out.slots(out.n) = slots(i); i += 1 }
      else { out.slots(out.n) = o.slots(j); j += 1 }
      out.n += 1
    }
    out
  }
}

/** `min_k(col, k)` as a native `TypedImperativeAggregate` (the
  * [[MinHashSig]] pattern): primitive in-place buffer, raw `getLong`
  * input access, byte-packed ser/de only at shuffle boundaries.
  */
case class MinK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MinKBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "min_k"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"min_k requires a BIGINT column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): MinKBuffer = new MinKBuffer(k)

  override def update(buf: MinKBuffer, input: InternalRow): MinKBuffer = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: MinKBuffer, b: MinKBuffer): MinKBuffer = a.mergeWith(b)

  override def eval(buf: MinKBuffer): Any =
    new GenericArrayData(java.util.Arrays.copyOfRange(buf.slots, 0, buf.n))

  override def serialize(buf: MinKBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.n * 8)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.slots(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MinKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new MinKBuffer(k)
    buf.n = n
    var i = 0
    while (i < n) { buf.slots(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinK =
    copy(child = newChildren.head)
}
