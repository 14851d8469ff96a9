package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing-style document fingerprint: the minimum 64-bit
  * Karp-Rabin rolling hash over all k-byte windows of the input.
  *
  * Equal fingerprints ⇒ the documents share their "rarest" k-gram —
  * the cheap first-stage signal of winnowing-based near-dup detection
  * (one long per document, groupBy-able like an exact hash).
  *
  * Why a custom Catalyst Expression (SURVEY.md §7.2): a rolling hash
  * needs a stateful scan over the string — not expressible with
  * built-in SQL functions short of exploding every k-gram substring
  * (O(n·k) memory and a shuffle). `doGenCode` emits a static call so
  * the whole-stage codegen pipeline is never broken; the hash itself
  * is a tight O(n) loop over the UTF-8 bytes.
  */
case class RollingMinHash(child: Expression, k: Int)
    extends UnaryExpression {
  // input typing is guaranteed by the registration builder (casts to
  // string); AbstractDataType/ExpectsInputTypes are private[sql]
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_min_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingMinHash.compute(input.asInstanceOf[UTF8String].getBytes, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RollingMinHash.compute($c.getBytes(), $k)")

  override protected def withNewChildInternal(newChild: Expression): RollingMinHash =
    copy(child = newChild)
}

object RollingMinHash {
  /** Base/modulus-free 64-bit polynomial rolling hash (wrap-around
    * multiplication; BASE odd so the map is a bijection per step).
    */
  final val Base = 0x100000001b3L // FNV prime, odd

  /** min over all k-byte windows of hash(window); whole-string hash
    * when the input is shorter than k. Deterministic, data-parallel,
    * no allocation.
    */
  def compute(bytes: Array[Byte], k: Int): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val w = math.min(k, n)
    // precompute Base^(w-1) for the rolling subtraction
    var basePow = 1L
    var i = 0
    while (i < w - 1) { basePow *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = h * Base + (bytes(i) & 0xff); i += 1 }
    var min = h
    i = w
    while (i < n) {
      h = (h - (bytes(i - w) & 0xff) * basePow) * Base + (bytes(i) & 0xff)
      if (h < min) min = h
      i += 1
    }
    min
  }

  /** Register `rolling_min_hash(str[, k])` in a session's function
    * registry (the injectFunction seam of SparkSessionExtensions).
    */
  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      FunctionIdentifier("rolling_min_hash"),
      new ExpressionInfo(classOf[RollingMinHash].getName, "rolling_min_hash"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => RollingMinHash(Cast(c, StringType), 8)
        case Seq(c, Literal(k: Int, IntegerType)) => RollingMinHash(Cast(c, StringType), k)
        case other => throw new IllegalArgumentException(
          s"rolling_min_hash(str[, k]) got ${other.size} args")
      })
    b.result()
  }
}

/** Content-defined chunking (LBFS, Muthitacharoen et al. SOSP'01): cut
  * the input wherever the Karp-Rabin hash of the trailing `w`-byte
  * window masks to zero — `maskBits` low bits, so expected chunk length
  * ≈ 2^maskBits — and return the chunk substrings. Because boundaries
  * depend only on LOCAL content, an insertion early in a document
  * shifts every byte offset but re-synchronizes the chunk stream within
  * one window: the property that makes chunk-level dedup robust where
  * fixed-size blocks are not.
  *
  * Boundaries never depend on previous cuts (the window rolls straight
  * across a cut), so the cut set is a pure function of the text — what
  * lets the DuckDB oracle replay chunking positionally. Byte-oriented
  * (the hash rolls over UTF-8 bytes), but a cut position is SNAPPED
  * FORWARD to the next UTF-8 codepoint boundary before slicing, so
  * arbitrary input never yields a malformed chunk; on ASCII (every
  * normalized-text caller, and the oracle's replay domain) the snap is
  * a no-op and chunking is byte-exact. Same Base as [[RollingMinHash]].
  */
case class CdcChunks(child: Expression, w: Int, maskBits: Int)
    extends UnaryExpression {
  // construction happens at parse/registration time, so bad literals
  // fail as a clean analysis error, not an executor crash: w < 1 would
  // index before the buffer, maskBits outside [0, 62] would shift into
  // the sign bit (maskBits = 0 is legal: every position cuts)
  require(w >= 1 && w <= 1024, s"cdc_chunks window must be in [1, 1024], got $w")
  require(maskBits >= 0 && maskBits <= 62,
    s"cdc_chunks maskBits must be in [0, 62], got $maskBits")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override protected def nullSafeEval(input: Any): Any =
    CdcChunks.compute(input.asInstanceOf[UTF8String].getBytes, w, maskBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CdcChunks.compute($c.getBytes(), $w, $maskBits)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {
  /** Chunk list: cuts AFTER every position p (0-based, p >= w-1) where
    * hash(bytes[p-w+1..p]) & (2^maskBits - 1) == 0; trailing remainder
    * is the final chunk. Empty input → empty array; input shorter than
    * w → one whole-string chunk. O(n), no allocation beyond the output.
    */
  def compute(bytes: Array[Byte], w: Int, maskBits: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val mask = (1L << maskBits) - 1L
    val n = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    if (n == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    if (n < w) {
      out += UTF8String.fromBytes(bytes)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    }
    var basePow = 1L
    var i = 0
    while (i < w - 1) { basePow *= RollingMinHash.Base; i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = h * RollingMinHash.Base + (bytes(i) & 0xff); i += 1 }
    var start = 0
    var p = w - 1
    while (p < n) {
      if ((h & mask) == 0L) {
        // snap the cut forward past any UTF-8 continuation bytes
        // (0b10xxxxxx) so a multi-byte codepoint is never split;
        // ASCII input (the normalized-text domain) never snaps. A cut
        // snapped onto/behind an earlier one collapses to a no-op.
        var cut = p + 1
        while (cut < n && (bytes(cut) & 0xc0) == 0x80) cut += 1
        if (cut > start) {
          out += UTF8String.fromBytes(bytes, start, cut - start)
          start = cut
        }
      }
      p += 1
      if (p < n)
        h = (h - (bytes(p - w) & 0xff) * basePow) * RollingMinHash.Base + (bytes(p) & 0xff)
    }
    if (start < n) out += UTF8String.fromBytes(bytes, start, n - start)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Register `cdc_chunks(str[, w, maskBits])`. w/maskBits shape the
    * generated code, so they must be integer LITERALS — any other
    * expression gets a dedicated error naming the offender, not an
    * arity complaint.
    */
  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: org.apache.spark.sql.catalyst.FunctionIdentifier,
        info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    def intLit(e: Expression, name: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType) if v >= Int.MinValue && v <= Int.MaxValue => v.toInt
      case Literal(v: Short, ShortType) => v.toInt
      case Literal(v: Byte, ByteType) => v.toInt
      case other => throw new IllegalArgumentException(
        s"cdc_chunks: $name must be an integer literal (it shapes the generated " +
          s"code), got: ${other.sql}")
    }
    entry(
      FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => CdcChunks(Cast(c, StringType), 16, 6)
        case Seq(c, wE, mE) =>
          CdcChunks(Cast(c, StringType), intLit(wE, "w"), intLit(mE, "maskBits"))
        case other => throw new IllegalArgumentException(
          s"cdc_chunks(str[, w, maskBits]) got ${other.size} args")
      })
    b.result()
  }
}
