package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Mergeable deterministic quantile sketch (Munro-Paterson 1980
  * multi-level compaction, the deterministic ancestor of KLL): O(k ·
  * log(n/k)) state per group at ANY group size, answering every
  * quantile with bounded RANK error — the sketch a 100 TB pipeline
  * uses when the exact two-pass histogram
  * ([[graft.operators.ScaleOps]] exactQuantiles) costs a second scan
  * it can't afford.
  *
  * Structure: level `l` holds ≤ k values, each standing for 2^l input
  * rows. Raw values land in level 0; a full level sorts and promotes
  * every 2nd element (even ranks — deterministic, no RNG to seed or
  * replay) to the level above. Merge concatenates per level and
  * re-compacts — associative and commutative up to the bounded rank
  * error, so map-side partials combine exactly like any algebraic agg
  * and a streaming Complete-mode pass can fold micro-batches forever.
  *
  * Each compaction of level `l` displaces ranks by at most 2^l, and
  * level `l` compacts at most n/(k·2^l) times, so total rank error is
  * ≤ Σ_l n/k = n·log₂(n/k)/k — with k = 256 on a 10⁹-row group
  * that is ~8% worst-case and far tighter in practice (OpsSpec pins
  * observed error under three partitionings). Exact when the group
  * has fewer than k rows.
  *
  * Output: array<struct<v: bigint, w: bigint>> — the (value, weight)
  * support, sketch-sized (≤ k·levels rows), for DataFrame-side
  * quantile extraction via a bounded sort + running weight.
  */
object QuantileSketch {
  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      FunctionIdentifier("quantile_sketch"),
      new ExpressionInfo(classOf[QSketch].getName, "quantile_sketch"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(k: Int, IntegerType)) =>
          require(k >= 8 && k <= (1 << 16) && (k & 1) == 0,
            s"quantile_sketch's k must be even and in [8, 65536], got $k")
          QSketch(c, k)
        case Seq(_, other) => throw new IllegalArgumentException(
          s"quantile_sketch's k must be an integer literal, got: $other")
        case other => throw new IllegalArgumentException(
          s"quantile_sketch(col, k) got ${other.size} args")
      })
    b.result()
  }

  /** Column form: array<struct<v, w>> of sketch support points. */
  def quantileSketch(c: Column, k: Int): Column =
    call_function("quantile_sketch", c, lit(k))
}

/** Level 0 collects unsorted; levels ≥ 1 are kept sorted ascending.
  * All buffers are plain Array[Long] prefixes with fill counts.
  */
final class QSketchBuffer(val k: Int) {
  var levels: Array[Array[Long]] = Array(new Array[Long](k))
  var fill: Array[Int] = Array(0)
  var count: Long = 0L

  private def ensureLevel(l: Int): Unit =
    if (l >= levels.length) {
      levels = levels :+ new Array[Long](k)
      fill = fill :+ 0
    }

  def insert(v: Long): Unit = {
    levels(0)(fill(0)) = v
    fill(0) += 1
    count += 1
    if (fill(0) == k) compactFrom(0)
  }

  /** Sort level l (level 0 arrives unsorted; higher levels stay
    * sorted by construction, but a merge may have concatenated — sort
    * is idempotent and k is small), promote even ranks upward, clear.
    */
  def compactFrom(start: Int): Unit = {
    var l = start
    while (l < levels.length && fill(l) >= k) {
      java.util.Arrays.sort(levels(l), 0, fill(l))
      ensureLevel(l + 1)
      val n = fill(l)
      var i = 0
      while (i < n) {
        // even ranks survive with doubled weight — deterministic
        if (fill(l + 1) == levels(l + 1).length) {
          // grow target before its own compaction (merge overfill)
          levels(l + 1) = java.util.Arrays.copyOf(levels(l + 1), levels(l + 1).length * 2)
        }
        levels(l + 1)(fill(l + 1)) = levels(l)(i)
        fill(l + 1) += 1
        i += 2
      }
      fill(l) = 0
      l += 1
    }
  }

  def mergeWith(o: QSketchBuffer): QSketchBuffer = {
    val out = new QSketchBuffer(k)
    out.count = count + o.count
    val nl = math.max(levels.length, o.levels.length)
    out.levels = new Array[Array[Long]](nl)
    out.fill = new Array[Int](nl)
    var l = 0
    while (l < nl) {
      val a = if (l < levels.length) fill(l) else 0
      val b = if (l < o.levels.length) o.fill(l) else 0
      val buf = new Array[Long](math.max(k, a + b))
      if (a > 0) System.arraycopy(levels(l), 0, buf, 0, a)
      if (b > 0) System.arraycopy(o.levels(l), 0, buf, a, b)
      out.levels(l) = buf
      out.fill(l) = a + b
      l += 1
    }
    // re-establish the ≤ k invariant bottom-up
    var i = 0
    while (i < out.levels.length) {
      if (out.fill(i) >= k) out.compactFrom(i)
      i += 1
    }
    out
  }
}

case class QSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QSketchBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  // containsNull = true although elements never are: parquet
  // round-trips arrays as nullable, and a downstream engine
  // materialization re-casting to a containsNull=false type is an
  // illegal downcast — the permissive type survives CTAS unchanged
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("v", LongType), StructField("w", LongType))),
    containsNull = true)
  override def prettyName: String = "quantile_sketch"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"quantile_sketch requires a BIGINT column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): QSketchBuffer = new QSketchBuffer(k)

  override def update(buf: QSketchBuffer, input: InternalRow): QSketchBuffer = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: QSketchBuffer, b: QSketchBuffer): QSketchBuffer =
    a.mergeWith(b)

  override def eval(buf: QSketchBuffer): Any = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var l = 0
    while (l < buf.levels.length) {
      val w = 1L << l
      var i = 0
      while (i < buf.fill(l)) {
        out += new GenericInternalRow(Array[Any](buf.levels(l)(i), w))
        i += 1
      }
      l += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def serialize(buf: QSketchBuffer): Array[Byte] = {
    val total = buf.fill.sum
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + buf.levels.length * 4 + total * 8)
    bb.putLong(buf.count)
    bb.putInt(buf.levels.length)
    var l = 0
    while (l < buf.levels.length) {
      bb.putInt(buf.fill(l))
      var i = 0
      while (i < buf.fill(l)) { bb.putLong(buf.levels(l)(i)); i += 1 }
      l += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): QSketchBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new QSketchBuffer(k)
    buf.count = bb.getLong()
    val nl = bb.getInt()
    buf.levels = new Array[Array[Long]](nl)
    buf.fill = new Array[Int](nl)
    var l = 0
    while (l < nl) {
      val n = bb.getInt()
      buf.levels(l) = new Array[Long](math.max(k, n))
      buf.fill(l) = n
      var i = 0
      while (i < n) { buf.levels(l)(i) = bb.getLong(); i += 1 }
      l += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QSketch =
    copy(child = newChildren.head)
}
