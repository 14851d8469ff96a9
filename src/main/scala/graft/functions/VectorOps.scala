package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Integer-vector dot product `dot_i64(array<bigint>, array<bigint>)`
  * as a native Catalyst expression.
  *
  * Why custom (SURVEY.md §7.2): the built-in spelling is
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,x) -> acc+x)` —
  * higher-order functions run INTERPRETED per row (a lambda closure per
  * element), which is ~25x slower than a fused loop for 64-dim vectors
  * and breaks whole-stage codegen. This expression compiles to one
  * static call with a tight primitive loop, so similarity kernels
  * (LSH/IVF candidate re-scoring, norms) stay inside codegen.
  *
  * Inputs are the engine's quantized embeddings (array<bigint>, exact
  * integer milli-units) — the dot and the derived cosine are therefore
  * bit-identical across engines.
  */
case class DotI64(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_i64"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotI64.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotI64.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotI64 =
    copy(left = newLeft, right = newRight)
}

object DotI64 {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var i = 0
    while (i < n) { dot += a.getLong(i) * b.getLong(i); i += 1 }
    dot
  }

  /** Register `dot_i64(a, b)` in a session's function registry. */
  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      FunctionIdentifier("dot_i64"),
      new ExpressionInfo(classOf[DotI64].getName, "dot_i64"),
      (children: Seq[Expression]) => children match {
        // cast both sides to array<bigint>: without it, array<int>
        // inputs would pass analysis and getLong would read garbage
        case Seq(a, b) =>
          val t = ArrayType(LongType, containsNull = true)
          DotI64(Cast(a, t), Cast(b, t))
        case other => throw new IllegalArgumentException(
          s"dot_i64(array<bigint>, array<bigint>) got ${other.size} args")
      })
    b.result()
  }
}
