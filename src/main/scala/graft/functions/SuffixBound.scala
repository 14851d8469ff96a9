package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** PPJoin+ suffix filter (Xiao, Wang, Lin & Yu, WWW 2008 §4.2): a
  * depth-limited divide-and-conquer UPPER BOUND on |A ∩ B| for two
  * SORTED long arrays.
  *
  * Pick the middle element w of A; binary-search it in B. Any common
  * element < w lies left of the split in BOTH arrays, any > w lies
  * right in both (the arrays are sorted by the same total order), so
  *
  *   |A ∩ B| ≤ bound(A_l, B_l) + [w ∈ B] + bound(A_r, B_r)
  *
  * recursing `depth` more levels and closing each leaf with the trivial
  * min(|·|,|·|). The bound never undercounts — a candidate pair is
  * pruned ONLY when even the optimistic overlap cannot reach the
  * threshold — so the join stays exact; depth trades pruning power for
  * per-pair cost (O(2^depth · log n), tiny against the verify join the
  * survivor pays).
  *
  * Why a custom Catalyst Expression (SURVEY.md §7.2): the recursion
  * with early bail-out has no SQL spelling short of exploding both
  * arrays (a shuffle per candidate pair — the exact cost the filter
  * exists to avoid). `doGenCode` emits a static call, so candidate
  * filtering stays inside whole-stage codegen.
  */
case class SuffixOverlapBound(left: Expression, right: Expression, depth: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "suffix_overlap_bound"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SuffixBound.compute(
      a.asInstanceOf[ArrayData].toLongArray(),
      b.asInstanceOf[ArrayData].toLongArray(), depth)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SuffixBound.compute($a.toLongArray(), $b.toLongArray(), $depth)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SuffixOverlapBound =
    copy(left = newLeft, right = newRight)
}

/** Exact |A ∩ B| of two SORTED long arrays by linear merge — the
  * verification kernel of the distributed set-similarity join (Vernica,
  * Carey & Li, SIGMOD 2010: candidates by prefix postings, verification
  * over shipped record sets). Row-local and codegen'd, so verifying a
  * candidate pair costs O(n_a + n_b) inside one stage instead of a
  * postings self-join + shuffle aggregate.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SuffixBound.intersectCount(
      a.asInstanceOf[ArrayData].toLongArray(),
      b.asInstanceOf[ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SuffixBound.intersectCount($a.toLongArray(), $b.toLongArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SuffixBound {
  /** Register `suffix_overlap_bound(sorted_arr_a, sorted_arr_b, depth)`
    * (depth must be an integer literal — it shapes the generated code)
    * and `sorted_intersect_count(sorted_arr_a, sorted_arr_b)`.
    */
  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      org.apache.spark.sql.catalyst.FunctionIdentifier("suffix_overlap_bound"),
      new ExpressionInfo(classOf[SuffixOverlapBound].getName, "suffix_overlap_bound"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b, Literal(d: Int, IntegerType)) => SuffixOverlapBound(a, b, d)
        case other => throw new IllegalArgumentException(
          "suffix_overlap_bound(arr_a, arr_b, depth) needs two sorted bigint arrays " +
            s"and an integer-literal depth, got ${other.size} args")
      })
    entry(
      org.apache.spark.sql.catalyst.FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => SortedIntersectCount(a, b)
        case other => throw new IllegalArgumentException(
          s"sorted_intersect_count(arr_a, arr_b) got ${other.size} args")
      })
    b.result()
  }

  /** Exact intersection size of two sorted long arrays (linear merge). */
  def intersectCount(a: Array[Long], b: Array[Long]): Long = {
    var i = 0
    var j = 0
    var n = 0L
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** Upper bound on the intersection size of two sorted long ranges.
    * Iterative-friendly recursion over (array, from, until) windows.
    */
  def compute(a: Array[Long], b: Array[Long], depth: Int): Long =
    bound(a, 0, a.length, b, 0, b.length, depth)

  private def bound(a: Array[Long], af: Int, au: Int,
      b: Array[Long], bf: Int, bu: Int, depth: Int): Long = {
    val la = au - af
    val lb = bu - bf
    if (la == 0 || lb == 0) return 0L
    if (depth <= 0) return math.min(la, lb).toLong
    val mid = af + la / 2
    val w = a(mid)
    // first index in b[bf, bu) with b(i) >= w
    var lo = bf
    var hi = bu
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (b(m) < w) lo = m + 1 else hi = m
    }
    val hit = lo < bu && b(lo) == w
    val bSplitR = if (hit) lo + 1 else lo
    bound(a, af, mid, b, bf, lo, depth - 1) +
      (if (hit) 1L else 0L) +
      bound(a, mid + 1, au, b, bSplitR, bu, depth - 1)
  }
}
