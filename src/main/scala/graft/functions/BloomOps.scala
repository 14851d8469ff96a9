package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{call_function, lit}

/** User-facing registration of Spark's OWN Bloom-filter machinery.
  *
  * Spark ships a mergeable Bloom-filter aggregate and membership
  * predicate (`BloomFilterAggregate` / `BloomFilterMightContain`,
  * spark-catalyst) for its runtime row-group filtering, but does not
  * expose them in the SQL function registry. We register them as
  * `bloom_agg(xxhash64(x), estItems, numBits)` and
  * `bloom_might_contain(filterBinary, xxhash64(x))` — the exact
  * build/probe pairing Spark's own InjectRuntimeFilter rule uses
  * (long inputs via xxhash64 on both sides), so semantics match the
  * engine's internal contract rather than a homegrown sketch.
  *
  * Scale role: a Bloom filter built over a SMALL authoritative set
  * (an eval benchmark's n-grams, a revoked-id list) is a few hundred
  * KB regardless of the corpus size; broadcasting it turns "join the
  * corpus against the set" into "row-parallel prefilter, then join
  * only the survivors" — the shuffle carries candidate rows only.
  */
object BloomOps {
  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c)        => new BloomFilterAggregate(c)
        case Seq(c, n)     => new BloomFilterAggregate(c, n)
        case Seq(c, n, b)  => new BloomFilterAggregate(c, n, b)
        case other => throw new IllegalArgumentException(
          s"bloom_agg(hash[, estItems[, numBits]]) got ${other.size} args")
      })
    entry(
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) => children match {
        case Seq(f, v) => BloomFilterMightContain(f, v)
        case other => throw new IllegalArgumentException(
          s"bloom_might_contain(filter, hash) got ${other.size} args")
      })
    b.result()
  }

  /** Membership probe against a driver-held serialized filter (the
    * binary is a Literal → constant-folded and shipped with the plan).
    */
  def mightContain(filter: Array[Byte], hash: Column): Column =
    call_function("bloom_might_contain", lit(filter), hash)
}
