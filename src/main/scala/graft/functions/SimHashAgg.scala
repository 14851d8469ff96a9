package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** SimHash bit-vote aggregate `simhash_agg(h)` → the packed 64-bit
  * signature (bit i set iff Σ votes_i > 0, vote = ±1 per input hash's
  * bit i).
  *
  * Why (SURVEY.md §7.2 "custom Catalyst" bucket): the column spelling
  * — 64 separate `sum(when(shiftright(h, i) & 1 = 1, 1, -1))`
  * aggregates — evaluates 64 independent expression trees per input
  * row (shift, mask, branch, widen, add — through the aggregate
  * buffer ~10 operations each), i.e. ~640 interpreted steps per hash.
  * At 15 M payload grams that is ~10⁹ expression evaluations and it
  * dominated the signature stage of the sf1 scaling probe
  * (BENCH_SCALE.md). This aggregate keeps one long[64] vote buffer
  * per group and updates all 64 counters in a tight JVM loop (one
  * shift+mask+add per bit), merging partials by vector addition —
  * same signature bits, ~an order of magnitude less per-row work.
  */
object SimHashAgg {
  /** Register `simhash_agg(h)` (GraftSession does this). */
  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashVotes].getName, "simhash_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(h) => SimHashVotes(h)
        case other => throw new IllegalArgumentException(
          s"simhash_agg(hash) got ${other.size} args")
      })
    b.result()
  }

  /** Column form: `simhashAgg(h)` → BIGINT packed signature. */
  def simhashAgg(h: Column): Column = call_function("simhash_agg", h)
}

case class SimHashVotes(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_agg"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash_agg requires a BIGINT column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < 64) { buf(i) += (((h >>> i) & 1L) << 1) - 1L; i += 1 }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    var sig = 0L
    var i = 0
    while (i < 64) { if (buf(i) > 0) sig |= 1L << i; i += 1 }
    sig
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(64 * 8)
    var i = 0
    while (i < 64) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Long](64)
    var i = 0
    while (i < 64) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashVotes =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashVotes =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHashVotes =
    copy(child = newChildren.head)
}
