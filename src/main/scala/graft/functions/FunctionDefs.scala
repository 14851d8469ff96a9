package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Central catalog of the engine's custom Catalyst functions.
  *
  * The catalog reaches sessions by ONE path: injection through
  * [[graft.plans.GraftExtensions]] (`spark.sql.extensions`, set by
  * [[graft.GraftSession]]), which Spark applies to EVERY session built
  * over the context, `newSession()` children included. Functions
  * registered imperatively into one session's `functionRegistry` would
  * not exist in those children — a session-per-job server sweeping
  * operators that spell `dot_i64`/`minhash_sig`/`knn_topk` in SQL text
  * would fail name resolution on every job session.
  */
object FunctionDefs {
  type Desc = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Every custom function the engine ships. */
  def all: Seq[Desc] =
    RollingMinHash.descriptions ++ CdcChunks.descriptions ++
      SuffixBound.descriptions ++ DotI64.descriptions ++
      MinHashAgg.descriptions ++ MinKAgg.descriptions ++
      TopKByAgg.descriptions ++ SimHashAgg.descriptions ++
      FreqSketch.descriptions ++ QuantileSketch.descriptions ++
      CountMin.descriptions ++ BloomOps.descriptions ++ HashOps.descriptions ++
      GramStats.descriptions

  /** Injection hook for [[graft.plans.GraftExtensions]]. */
  def injectAll(e: SparkSessionExtensions): Unit =
    all.foreach(e.injectFunction)
}
