package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_fingerprint(text, n)` → lowercase-hex MD5 string: the
  * winnowing-family document fingerprint (minimum MD5 over all n-char
  * shingles; the whole text is the shingle when shorter than n) in ONE
  * narrow map — the UTF-8 boundary walk, per-shingle MD5, and the min
  * fused into a per-row loop.
  *
  * The fingerprint is a pure function of the document text, so the
  * composable formulation — `explode(shingleStarts)` +
  * `min(md5(substring(text, i, n)))` — pays a ~text-length row expansion
  * and a full aggregate exchange for what a scan produces for free.
  * Values are bit-identical: same char-boundary byte spans (substring
  * truncates at the end exactly like the capped boundary walk), same
  * MD5, and the min is tracked on the raw 16 digest bytes with unsigned
  * comparison, which orders identically to the lexicographic min of the
  * lowercase-hex strings ('0'-'9' < 'a'-'f' maps bytes monotonically).
  * Null text propagates null.
  */
case class ShingleFingerprint(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType

  override def prettyName: String = "shingle_fingerprint"

  override def nullSafeEval(input: Any): Any =
    ShingleFingerprint.fingerprint(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} =
         |  graft.functions.ShingleFingerprint.fingerprint($c, $n);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleFingerprint {

  private val HexChars = "0123456789abcdef".toCharArray

  /** The fused loop. Public so generated code can call it. */
  def fingerprint(s: UTF8String, n: Int): UTF8String = {
    val bytes = s.getBytes
    val numBytes = bytes.length
    // char-start byte offsets (+ sentinel end), as in NgramHasher
    var chars = 0
    var i = 0
    val offs = new Array[Int](numBytes + 1)
    while (i < numBytes) {
      offs(chars) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      chars += 1
    }
    offs(chars) = numBytes
    val count = math.max(chars - n + 1, 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    var best: Array[Byte] = null
    var j = 0
    while (j < count) {
      val start = offs(j)
      val end = offs(math.min(j + n, chars))
      md.reset()
      md.update(bytes, start, end - start)
      val d = md.digest()
      if (best == null || unsignedLess(d, best)) best = d
      j += 1
    }
    val hex = new Array[Char](32)
    var k = 0
    while (k < 16) {
      hex(k * 2) = HexChars((best(k) & 0xF0) >>> 4)
      hex(k * 2 + 1) = HexChars(best(k) & 0x0F)
      k += 1
    }
    UTF8String.fromString(new String(hex))
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xFF
      val y = b(i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** `shingle_fingerprint(text, n)` as a Column. */
  def shingleFingerprint(text: Column, n: Int): Column =
    column(ShingleFingerprint(expression(text), n))
}
