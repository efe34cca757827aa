package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the md5 of every non-overlapping
  * `w`-token window of a document, in ONE pass over the text bytes.
  *
  * Computes exactly
  * `transform(tokenSlices(wsTokens(text), w), t -> unhex(md5(array_join(t, " "))))`
  * ([[graft.ops.Segments]]'s segment-key derivation): tokens are
  * maximal runs of non-whitespace bytes (Java regex `\s` class, all
  * single-byte in UTF-8 — the [[RepetitionCounts]]/[[HashedScoreExpr]]
  * contract), windows are `w` consecutive tokens with a short tail
  * kept, and each window's hash is the md5 of its tokens joined by a
  * single space — which this expression feeds into the digest
  * INCREMENTALLY (token bytes, separator byte, token bytes, ...), so
  * the joined segment string is never built. The Column form
  * materializes the token array, copies each slice, allocates the
  * joined string, renders the md5 as hex and re-parses it with
  * `unhex` — per segment; at sf1 that made the segment-key pass of the
  * corpus dedup ~2.5x the cost of this loop.
  *
  * Empty/blank text gives an empty array (no phantom "" segment —
  * same as `tokenSlices`); null propagates. O(segments-per-document)
  * output, zero shuffle at any scale.
  */
case class SegmentHashes(child: Expression, w: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType if w > 0 => TypeCheckResult.TypeCheckSuccess
      case StringType => TypeCheckResult.TypeCheckFailure(
        s"$prettyName window must be positive, got $w")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)

  override def prettyName: String = "segment_hashes"

  override def nullSafeEval(input: Any): Any =
    SegmentHashes.hashes(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = SegmentHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.hashes($c, $w);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SegmentHashes {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  private val mdTl: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The one-pass segment-hash loop. Public so generated code can call
    * it.
    */
  def hashes(s: UTF8String, w: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val md = mdTl.get()
    val out = new java.util.ArrayList[Array[Byte]]()
    var i = 0
    var inWindow = 0 // tokens fed into the current window's digest
    md.reset()
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        if (inWindow > 0) md.update(' '.toByte)
        md.update(bytes, start, i - start)
        inWindow += 1
        if (inWindow == w) {
          out.add(md.digest()) // digest() resets the instance
          inWindow = 0
        }
      }
    }
    if (inWindow > 0) out.add(md.digest()) // short tail window kept
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }
}

object SegmentHashing {
  /** `segment_hashes(text, w)` as a Column. */
  def segmentHashes(text: Column, w: Int): Column =
    column(SegmentHashes(expression(text), w))
}
