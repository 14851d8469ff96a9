package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document word-gram repetition signals
  * `gram_stats(w: array<string>)` →
  * struct<top2: bigint, n2: bigint, n3: bigint, nd3: bigint> —
  * the Gopher rule-4/5 counters (max 2-gram multiplicity, 2-gram
  * total, 3-gram total, distinct 3-grams) as one row-local kernel.
  *
  * Why custom (SURVEY.md §7.2): every one of these counters is a
  * PER-ROW reduction over the token array, but the column spelling —
  * two `explode(transform(...))` generators feeding
  * `groupBy(doc_id, gram)` / `countDistinct` aggregates joined back
  * by doc_id — pays two corpus-×-length generators, three shuffles
  * and two joins for values one pass over the array computes in
  * place. The kernel builds the identical space-joined gram strings
  * (`concat_ws(' ', w[i], w[i+1])`) and exact hash-map multiplicity /
  * hash-set distinct counts, so the emitted signals are bit-identical
  * to the aggregate spelling (pinned in OpsSpec), with zero exchanges.
  *
  * Contract mirror of the aggregate spelling's left joins: fewer than
  * 2 (resp. 3) tokens ⇒ the 2-gram (3-gram) counters are 0, exactly
  * what the former `coalesce(..., 0)` produced for the null rows.
  */
object GramStats {
  /** Exact per-array gram counters; gram spelling matches
    * `concat_ws(' ', ...)` over adjacent tokens.
    */
  def compute(a: ArrayData): InternalRow = {
    val n = a.numElements()
    val words = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = a.getUTF8String(i)
      words(i) = if (u == null) "" else u.toString
      i += 1
    }
    var top2 = 0L
    val n2 = math.max(0, n - 1).toLong
    if (n >= 2) {
      val counts = new java.util.HashMap[String, Int](n * 2)
      i = 0
      while (i < n - 1) {
        val g = words(i) + " " + words(i + 1)
        val c = counts.merge(g, 1, Integer.sum)
        if (c > top2) top2 = c
        i += 1
      }
    }
    val n3 = math.max(0, n - 2).toLong
    var nd3 = 0L
    if (n >= 3) {
      val distinct = new java.util.HashSet[String](n * 2)
      i = 0
      while (i < n - 2) {
        if (distinct.add(words(i) + " " + words(i + 1) + " " + words(i + 2))) nd3 += 1
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](top2, n2, n3, nd3))
  }

  val outputType: StructType = StructType(Seq(
    StructField("top2", LongType, nullable = false),
    StructField("n2", LongType, nullable = false),
    StructField("n3", LongType, nullable = false),
    StructField("nd3", LongType, nullable = false)))

  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    b += ((FunctionIdentifier("gram_stats"),
      new ExpressionInfo(classOf[GramStatsExpr].getName, "gram_stats"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => GramStatsExpr(Cast(c, ArrayType(StringType, containsNull = true)))
        case other => throw new IllegalArgumentException(
          s"gram_stats(array<string>) got ${other.size} args")
      }))
    b.result()
  }

  /** Column form: `gramStats(w)` → struct<top2, n2, n3, nd3>. */
  def gramStats(w: Column): Column = call_function("gram_stats", w)
}

case class GramStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = GramStats.outputType
  override def prettyName: String = "gram_stats"

  override protected def nullSafeEval(input: Any): Any =
    GramStats.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): GramStatsExpr =
    copy(child = newChild)
}
