package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused MD5-derived hash kernels as native Catalyst expressions.
  *
  * Why custom (SURVEY.md §7.2): the engine's oracle-replayable 64-bit
  * hash is "first 8 bytes of the MD5 digest as a big-endian signed
  * long". The column spelling —
  * `conv(substring(md5(c),1,8),16,10)` / `conv(substring(...,9,8),...)`
  * plus sign arithmetic — evaluates the MD5 up to three times per row,
  * materializes the 32-char hex digest string, allocates two substring
  * copies and parses them back through CONV's base-conversion loop.
  * [[HashOps.md5Long]] computes the identical value with one digest
  * call into a thread-local buffer and zero string round-trips
  * (`ByteBuffer.getLong` equivalence is the same identity
  * [[CountMin.bucket]] already relies on).
  *
  * [[PayloadSimHash]] goes one step further for the payload-signature
  * pipeline ([[graft.operators.Multimodal.mmPhashOf]]): the byte
  * 4-gram SimHash is a PER-ROW reduction (every gram of a payload
  * votes on 64 bits; no cross-row state), so spelling it as
  * explode(grams) → shuffle → bit-vote aggregate pays a generator,
  * an exchange, and two aggregate passes for what one tight loop over
  * the payload bytes computes in place. The expression replays the
  * exact gram spelling (uppercase-hex windows, one per byte offset)
  * and the exact vote rule (bit i set iff Σ±1 > 0) of the
  * explode + [[SimHashAgg]] plan, so signatures are bit-identical —
  * pinned by OpsSpec against the aggregate spelling.
  */
object HashOps {
  private val HexDigits = "0123456789ABCDEF".getBytes

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val digestBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }
  private val gramBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](8)
  }

  private def beLong(b: Array[Byte]): Long =
    ((b(0) & 0xFFL) << 56) | ((b(1) & 0xFFL) << 48) |
      ((b(2) & 0xFFL) << 40) | ((b(3) & 0xFFL) << 32) |
      ((b(4) & 0xFFL) << 24) | ((b(5) & 0xFFL) << 16) |
      ((b(6) & 0xFFL) << 8) | (b(7) & 0xFFL)

  /** First 8 bytes of md5(UTF-8 bytes of s) as a big-endian signed
    * long — bit-identical to the legacy conv(substring(md5...)) column
    * arithmetic (the hex digest's first 16 chars ARE digest bytes 0-7).
    */
  def md5Long(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    d.update(s.getBytes)
    val out = digestBuf.get()
    d.digest(out, 0, 16)
    beLong(out)
  }

  /** Byte-4-gram SimHash of a payload: for each byte offset i
    * (0-based, i+3 < n) the gram is the 8-char uppercase-hex spelling
    * of bytes i..i+3; its [[md5Long]] hash votes ±1 on every signature
    * bit; bit k of the result is set iff its vote sum is positive.
    * Payloads shorter than 4 bytes have no gram and hash to 0L —
    * callers filter them out first (the operator's minimum-payload
    * contract).
    */
  def payloadSimHash(p: Array[Byte]): Long = {
    val d = md.get()
    val gram = gramBuf.get()
    val dig = digestBuf.get()
    val votes = new Array[Int](64)
    val n = p.length
    var i = 0
    while (i + 3 < n) {
      var j = 0
      while (j < 4) {
        val b = p(i + j) & 0xFF
        gram(2 * j) = HexDigits(b >>> 4)
        gram(2 * j + 1) = HexDigits(b & 0xF)
        j += 1
      }
      d.reset()
      d.update(gram)
      d.digest(dig, 0, 16)
      val h = beLong(dig)
      var k = 0
      while (k < 64) {
        votes(k) += ((((h >>> k) & 1L) << 1) - 1L).toInt
        k += 1
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) { if (votes(k) > 0) sig |= 1L << k; k += 1 }
    sig
  }

  private[graft] lazy val descriptions: Seq[FunctionDefs.Desc] = {
    val b = Seq.newBuilder[FunctionDefs.Desc]
    def entry(id: FunctionIdentifier, info: ExpressionInfo,
        builder: Seq[Expression] => Expression): Unit = b += ((id, info, builder))

    entry(
      FunctionIdentifier("md5_long"),
      new ExpressionInfo(classOf[Md5Long].getName, "md5_long"),
      (children: Seq[Expression]) => children match {
        // cast keeps binary inputs byte-identical (binary→string is the
        // raw UTF-8 reading, the same bytes md5() would digest)
        case Seq(c) => Md5Long(Cast(c, StringType))
        case other => throw new IllegalArgumentException(
          s"md5_long(string) got ${other.size} args")
      })
    entry(
      FunctionIdentifier("payload_simhash"),
      new ExpressionInfo(classOf[PayloadSimHash].getName, "payload_simhash"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => PayloadSimHash(Cast(c, BinaryType))
        case other => throw new IllegalArgumentException(
          s"payload_simhash(binary) got ${other.size} args")
      })
    b.result()
  }

  /** Column form of [[md5Long]]. */
  def md5LongCol(c: Column): Column = call_function("md5_long", c)

  /** Column form of [[payloadSimHash]]. */
  def payloadSimHashCol(c: Column): Column = call_function("payload_simhash", c)
}

case class Md5Long(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_long"

  override protected def nullSafeEval(input: Any): Any =
    HashOps.md5Long(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.md5Long($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Long =
    copy(child = newChild)
}

case class PayloadSimHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "payload_simhash"

  override protected def nullSafeEval(input: Any): Any =
    HashOps.payloadSimHash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.payloadSimHash($c)")

  override protected def withNewChildInternal(newChild: Expression): PayloadSimHash =
    copy(child = newChild)
}
