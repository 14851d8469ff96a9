package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Mergeable heavy-hitters sketch (Misra–Gries summaries, the
  * frequent-items half of the "Mergeable Summaries" toolbox next to
  * HLL and KLL): `freq_sketch(col, k)` keeps at most k counters per
  * group and returns array<struct<item bigint, est bigint>> sorted by
  * estimate.
  *
  * Guarantees (partitioning-independent, unlike the exact counter set
  * it approximates): for every item x with true frequency f(x) over n
  * rows, the estimate e(x) satisfies  f(x) - n/(k+1) <= e(x) <= f(x),
  * and every x with f(x) > n/(k+1) IS in the output. Merging two
  * sketches sums counters pointwise and subtracts the (k+1)-largest
  * count — error adds linearly in the subtracted offsets, preserving
  * the bound (Agarwal et al., PODS'12).
  *
  * Why custom Catalyst (SURVEY.md §7.2): the exact top-k needs a full
  * groupBy(item) shuffle of every row — at 100 TB the item cardinality
  * IS the problem. This aggregate shuffles one <=k-entry buffer per
  * partition, making global heavy hitters a map-side-combined
  * aggregation like any sum. OpsSpec proves the error bounds against
  * exact counts under adversarial partitionings.
  */
object FreqSketch {
  final val DefaultK = 32

  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      FunctionIdentifier("freq_sketch"),
      new ExpressionInfo(classOf[FreqSketchAgg].getName, "freq_sketch"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => FreqSketchAgg(c, DefaultK)
        case Seq(c, Literal(k: Int, IntegerType)) =>
          require(k > 0, s"freq_sketch's k must be positive, got $k")
          FreqSketchAgg(c, k)
        case Seq(_, other) => throw new IllegalArgumentException(
          s"freq_sketch's k must be an integer literal, got: $other")
        case other => throw new IllegalArgumentException(
          s"freq_sketch(item[, k]) got ${other.size} args")
      })
    b.result()
  }

  def freqSketch(item: Column, k: Int = DefaultK): Column =
    call_function("freq_sketch", item, lit(k))
}

case class FreqSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LongMap[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("item", LongType, nullable = false),
      StructField("est", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "freq_sketch"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"freq_sketch requires a BIGINT item column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): mutable.LongMap[Long] = mutable.LongMap.empty

  override def update(buf: mutable.LongMap[Long], input: InternalRow): mutable.LongMap[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[Long]
      // contains+apply, not get: LongMap's Option boxes on every row
      if (buf.contains(item)) buf(item) = buf(item) + 1L
      else if (buf.size < k) buf(item) = 1L
      else {
        // Misra–Gries decrement step: no free counter → all counters
        // pay one (zeroed counters are evicted); the arriving item is
        // absorbed by the same decrement. The O(k) walk (over a key
        // snapshot — mutating a LongMap mid-iteration is undefined)
        // amortizes to O(1)/row: each walk destroys k count units and
        // rows only ever add one each.
        buf.keysIterator.toArray.foreach { it =>
          val c = buf(it)
          if (c == 1L) buf.remove(it) else buf(it) = c - 1L
        }
      }
    }
    buf
  }

  /** Pointwise sum, then shrink back to k by subtracting the
    * (k+1)-largest count from every counter (the mergeable-summaries
    * MG merge) — equivalent to running the decrement step in bulk.
    */
  override def merge(a: mutable.LongMap[Long], b: mutable.LongMap[Long]): mutable.LongMap[Long] = {
    b.foreach { case (it, c) => a(it) = a.getOrElse(it, 0L) + c }
    if (a.size > k) {
      val counts = a.values.toArray.sorted(Ordering.Long.reverse)
      val cut = counts(k) // (k+1)-th largest
      a.keysIterator.toArray.foreach { it =>
        val c = a(it)
        if (c <= cut) a.remove(it) else a(it) = c - cut
      }
    }
    a
  }

  override def eval(buf: mutable.LongMap[Long]): Any = {
    val rows = buf.toSeq.sortBy { case (it, c) => (-c, it) }.map { case (it, c) =>
      new GenericInternalRow(Array[Any](it, c))
    }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(buf: mutable.LongMap[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size * 16)
    buf.foreach { case (it, c) => bb.putLong(it); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.LongMap[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val m = mutable.LongMap.empty[Long]
    while (bb.hasRemaining) m(bb.getLong()) = bb.getLong()
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqSketchAgg =
    copy(child = newChildren.head)
}
