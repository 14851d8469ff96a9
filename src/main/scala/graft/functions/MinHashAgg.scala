package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** One-pass MinHash signature aggregate: given the stream of a
  * document's shingle hashes, produce the nPerm-slot signature
  * sig[p] = min over shingles of mix(h, p).
  *
  * Why a custom Aggregator (SURVEY.md §7.2 "custom Catalyst" bucket):
  * the DataFrame formulation needs nPerm separate `min()` aggregate
  * expressions over nPerm projected hash columns — nPerm× the
  * aggregation state traffic and a wide row per shingle. This
  * Aggregator keeps one long[] per group, updated in place, and
  * merges map-side partials elementwise — the shuffle carries one
  * 256-byte buffer per document instead of nPerm columns.
  *
  * The per-permutation mix is the affine family h*A(p)+B(p) with odd
  * 32-bit multipliers, wraparound mod 2^64 — a bijection per p (odd A),
  * so each p is a genuine permutation of the hash space. Chosen over a
  * Murmur finalizer because the DuckDB oracle can replay it exactly
  * with HUGEINT arithmetic (hu*A stays under 2^96 < 2^127), making the
  * whole LSH pipeline hash-verifiable; OpsSpec pins recall/precision so
  * the weaker mixing is load-bearing-tested, not assumed.
  */
object MinHashAgg {
  final val DefaultPerms = 32

  /** splitmix64 — only used to derive the A/B constants below. */
  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    x ^= x >>> 31; x
  }

  /** Odd 32-bit multipliers (bijective mod 2^64, HUGEINT-safe). */
  val A: IndexedSeq[Long] = IndexedSeq.tabulate(64)(p => (splitmix(p.toLong) & 0xffffffffL) | 1L)
  /** 64-bit offsets. */
  val B: IndexedSeq[Long] = IndexedSeq.tabulate(64)(p => splitmix(1000L + p))

  def mix(h: Long, p: Int): Long = h * A(p) + B(p)

  /** Register `minhash_sig(hashCol, nPerm)` (GraftSession does this). */
  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => MinHashSig(c, DefaultPerms)
        case Seq(c, Literal(n: Int, IntegerType)) => MinHashSig(c, n)
        case Seq(_, other) => throw new IllegalArgumentException(
          s"minhash_sig's nPerm must be an integer literal, got: $other")
        case other => throw new IllegalArgumentException(
          s"minhash_sig(hash[, nPerm]) got ${other.size} args")
      })
    b.result()
  }

  /** Column form: minhash_sig(hashCol) → array<long> of length nPerm. */
  def minhashSig(hashCol: Column, nPerm: Int = DefaultPerms): Column =
    call_function("minhash_sig", hashCol, lit(nPerm))
}

/** The one-pass signature aggregate as a native
  * `TypedImperativeAggregate`: one primitive long[nPerm] buffer per
  * group mutated in place, raw `getLong` input access, byte-packed
  * ser/de only at shuffle boundaries. Replaces the earlier
  * `Aggregator`+`udaf` formulation, whose per-row encoder round-trip
  * (box input, wrap buffer) cost ~1.7 µs/row — the dominant stage of
  * the whole LSH pipeline in a per-stage profile (OPTIMIZATION_r15.md).
  */
case class MinHashSig(
    child: Expression,
    nPerm: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  // a clear analysis error instead of a mid-job ClassCastException when
  // a user hands the SQL function a non-BIGINT column
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires a BIGINT hash column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] = Array.fill(nPerm)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var p = 0
      while (p < nPerm) {
        val m = MinHashAgg.mix(h, p)
        if (m < buf(p)) buf(p) = m
        p += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var p = 0
    while (p < nPerm) { if (b(p) < a(p)) a(p) = b(p); p += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSig =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSig =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashSig =
    copy(child = newChildren.head)
}
