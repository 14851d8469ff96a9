package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch (Cormode & Muthukrishnan 2005) as a mergeable
  * aggregate: `cms_sketch(item, w)` folds a string column into a fixed
  * `d x w` counter table (d = 4 rows, one md5-derived hash per row);
  * point estimates are `min` over the d addressed counters and NEVER
  * underestimate (each counter only ever adds true occurrences).
  * Merging is pointwise addition — the estimate bound survives any
  * partitioning, which is what makes this a one-pass distributed
  * frequency table.
  *
  * Complements the other sketch aggregates: Misra–Gries
  * ([[FreqSketch]]) answers "which items are frequent" with a
  * data-dependent survivor set; CMS answers "how frequent is THIS
  * item" for any item, with a fixed-size buffer and deterministic
  * (hash-seeded, not sampled) output — so unlike MG its query results
  * are oracle-checkable bit-for-bit.
  *
  * Why custom Catalyst (SURVEY.md §7.2): the exact answer needs a full
  * groupBy(item) shuffle; the sketch shuffles one d*w longs buffer per
  * partition regardless of item cardinality. The row hash is md5 of
  * "r:item" — one digest per (row, input) so the arithmetic replays in
  * the DuckDB oracle with no wrap-around anywhere (a Kirsch–
  * Mitzenmacher h1 + r*h2 scheme would be cheaper per row but its
  * wrapping multiply can't be spelled in engines with checked BIGINT
  * overflow).
  */
object CountMin {
  final val Depth = 4
  final val DefaultWidth = 512

  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "cms_sketch"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => CountMinAgg(c, DefaultWidth)
        case Seq(c, Literal(w: Int, IntegerType)) =>
          require(w > 0, s"cms_sketch's width must be positive, got $w")
          CountMinAgg(c, w)
        case Seq(_, other) => throw new IllegalArgumentException(
          s"cms_sketch's width must be an integer literal, got: $other")
        case other => throw new IllegalArgumentException(
          s"cms_sketch(item[, w]) got ${other.size} args")
      })
    b.result()
  }

  def cmsSketch(item: Column, w: Int = DefaultWidth): Column =
    call_function("cms_sketch", item, lit(w))

  /** Row-r bucket for an item: first 8 bytes of md5("r:item") as a
    * big-endian signed long (== the [[graft.operators.DedupOps.md5Hash64]]
    * column arithmetic), floor-mod the width.
    */
  def bucket(r: Int, item: String, w: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$r:$item".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val h = java.nio.ByteBuffer.wrap(d).getLong
    java.lang.Math.floorMod(h, w.toLong).toInt
  }
}

case class CountMinAgg(
    child: Expression,
    w: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cms_sketch"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cms_sketch requires a STRING item column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](CountMin.Depth * w)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String].toString
      var r = 0
      while (r < CountMin.Depth) {
        buf(r * w + CountMin.bucket(r, item, w)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.map(java.lang.Long.valueOf).toArray[Any])

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(child = newChildren.head)
}
