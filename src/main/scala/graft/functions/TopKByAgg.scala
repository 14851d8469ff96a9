package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Bounded top-k-neighbors aggregate `knn_topk(cos, nbr, dot, k)` →
  * `array<struct<nbr, dot, cos>>` sorted by (cos DESC, nbr ASC), with
  * O(k) state at ANY group size.
  *
  * Why (SURVEY.md §7.2 "custom Catalyst" bucket; the scaling probe's
  * first super-linear find, BENCH_SCALE.md): the window spelling
  * `row_number() OVER (PARTITION BY src ORDER BY cos DESC) <= k`
  * rank-limits AFTER ordering — even with WindowGroupLimit's map-side
  * pass, every scored candidate row is first LOCALLY SORTED
  * (`WindowGroupLimitExec` requires sorted child input), so an exact
  * knn graph over N vectors sorts all ~N²/blocks candidate rows: at
  * 20 k vectors that is a ~450 M-row sort dominating the query
  * (measured 595 s at sf1, ~80% in the sort). As a hash aggregate the
  * same semantics keep one k-slot buffer per group, reject
  * below-threshold candidates in O(log k) with NO sort anywhere, and
  * merge map-side partials by a bounded two-pointer merge — the
  * shuffle carries ≤ k neighbors per (partition, group) no matter how
  * many candidates fed it, turning the quadratic-sort stage into the
  * quadratic-SCAN it should be (the dot products themselves).
  *
  * Ordering ties break on ascending neighbor id — identical to the
  * window spelling's `ORDER BY cos DESC, nbr`, so results (and the
  * DuckDB oracle hash) are bit-for-bit unchanged.
  */
object TopKByAgg {
  /** Register `knn_topk(cos, nbr, dot, k)` (GraftSession does this). */
  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      FunctionIdentifier("knn_topk"),
      new ExpressionInfo(classOf[KnnTopK].getName, "knn_topk"),
      (children: Seq[Expression]) => children match {
        case Seq(cos, nbr, dot, Literal(k: Int, IntegerType)) =>
          require(k > 0 && k <= (1 << 16), s"knn_topk's k must be in [1, 2^16], got $k")
          KnnTopK(cos, nbr, dot, k)
        case Seq(_, _, _, other) => throw new IllegalArgumentException(
          s"knn_topk's k must be an integer literal, got: $other")
        case other => throw new IllegalArgumentException(
          s"knn_topk(cos, nbr, dot, k) got ${other.size} args")
      })
    b.result()
  }

  /** Column form: `knnTopK(cos, nbr, dot, k)` → array<struct<nbr, dot, cos>>. */
  def knnTopK(cos: Column, nbr: Column, dot: Column, k: Int): Column =
    call_function("knn_topk", cos, nbr, dot, lit(k))
}

/** Fixed-size buffer: parallel arrays kept sorted by (cos desc, nbr
  * asc). A full buffer rejects any candidate not beating the current
  * k-th in one comparison; insertion is a linear scan + arraycopy (k
  * is single-digit for knn graphs — cache-friendly, no heap churn).
  */
final class TopKByBuffer(val k: Int) {
  val cos: Array[Double] = new Array[Double](k)
  val nbr: Array[Long] = new Array[Long](k)
  val dot: Array[Long] = new Array[Long](k)
  var n: Int = 0

  /** True when (c1, n1) orders strictly before (c2, n2). Compared via
    * `java.lang.Double.compare`, NOT primitive `>`/`==`: Spark's sort
    * order for DoubleType is Double.compare semantics (NaN greater
    * than every value, -0.0 < 0.0), so a degenerate NaN cosine (a
    * zero-norm quantized vector dividing dot by 0) ranks FIRST under
    * cos DESC exactly as the replaced row_number window ordered it —
    * primitive comparison would silently drop NaN rows instead.
    */
  @inline private def before(c1: Double, n1: Long, c2: Double, n2: Long): Boolean = {
    val c = java.lang.Double.compare(c1, c2)
    c > 0 || (c == 0 && n1 < n2)
  }

  def insert(c: Double, nb: Long, d: Long): Unit = {
    if (n == k && !before(c, nb, cos(k - 1), nbr(k - 1))) return
    var idx = 0
    while (idx < n && before(cos(idx), nbr(idx), c, nb)) idx += 1
    val last = if (n < k) n else k - 1
    if (idx < last) {
      System.arraycopy(cos, idx, cos, idx + 1, last - idx)
      System.arraycopy(nbr, idx, nbr, idx + 1, last - idx)
      System.arraycopy(dot, idx, dot, idx + 1, last - idx)
    }
    if (idx <= last) { cos(idx) = c; nbr(idx) = nb; dot(idx) = d }
    if (n < k) n += 1
  }

  /** Two-pointer merge of two sorted prefixes into a fresh buffer. */
  def mergeWith(o: TopKByBuffer): TopKByBuffer = {
    val out = new TopKByBuffer(k)
    var i = 0; var j = 0
    while (out.n < k && (i < n || j < o.n)) {
      val takeLeft = j >= o.n ||
        (i < n && !before(o.cos(j), o.nbr(j), cos(i), nbr(i)))
      if (takeLeft) { out.cos(out.n) = cos(i); out.nbr(out.n) = nbr(i); out.dot(out.n) = dot(i); i += 1 }
      else { out.cos(out.n) = o.cos(j); out.nbr(out.n) = o.nbr(j); out.dot(out.n) = o.dot(j); j += 1 }
      out.n += 1
    }
    out
  }
}

/** `knn_topk(cos, nbr, dot, k)` as a native `TypedImperativeAggregate`
  * (the [[MinK]] pattern): primitive in-place buffers, byte-packed
  * ser/de only at shuffle boundaries.
  */
case class KnnTopK(
    cosExpr: Expression,
    nbrExpr: Expression,
    dotExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKByBuffer] {

  override def children: Seq[Expression] = Seq(cosExpr, nbrExpr, dotExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("nbr", LongType, nullable = false),
    StructField("dot", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "knn_topk"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (cosExpr.dataType == DoubleType && nbrExpr.dataType == LongType &&
        dotExpr.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "knn_topk requires (DOUBLE, BIGINT, BIGINT) columns, got " +
        children.map(_.dataType.simpleString).mkString(", "))

  override def createAggregationBuffer(): TopKByBuffer = new TopKByBuffer(k)

  override def update(buf: TopKByBuffer, input: InternalRow): TopKByBuffer = {
    val c = cosExpr.eval(input)
    val nb = nbrExpr.eval(input)
    val d = dotExpr.eval(input)
    if (c != null && nb != null && d != null)
      buf.insert(c.asInstanceOf[Double], nb.asInstanceOf[Long], d.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKByBuffer, b: TopKByBuffer): TopKByBuffer = a.mergeWith(b)

  override def eval(buf: TopKByBuffer): Any = {
    val rows = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      rows(i) = new GenericInternalRow(Array[Any](buf.nbr(i), buf.dot(i), buf.cos(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKByBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.n * 24)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.putDouble(buf.cos(i)); bb.putLong(buf.nbr(i)); bb.putLong(buf.dot(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKByBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKByBuffer(k)
    buf.n = n
    var i = 0
    while (i < n) {
      buf.cos(i) = bb.getDouble(); buf.nbr(i) = bb.getLong(); buf.dot(i) = bb.getLong()
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KnnTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KnnTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KnnTopK =
    copy(cosExpr = newChildren(0), nbrExpr = newChildren(1), dotExpr = newChildren(2))
}
