package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `token_window_hashes(text, w)` → `array<long>`: the xxhash64 (seed
  * 42) of every w-token sliding window of the whitespace-tokenized
  * text, position-indexed (entry i = the window starting at 1-based
  * token position i+1). Empty array when the text has fewer than w
  * tokens; null text propagates null.
  *
  * Bit-equal BY CONSTRUCTION to the composable formulation
  * `transform(starts, s -> xxhash64(array_join(slice(ws_tokens(text),
  * s, w), ' ')))`: each window hashes the window's tokens joined with
  * single spaces — the normalized bytes [[graft.text.TextAnalysis]]
  * token surfaces define — and Catalyst's string xxhash64 is
  * `XXH64.hashUnsafeBytes(utf8 bytes, seed 42)`, which is what the
  * fused loop calls on the same bytes (TokenWindowHashesSpec pins the
  * equality, weird whitespace included). Tokenization matches
  * `wsTokens` exactly: separators are Java-regex `\s` = the six ASCII
  * whitespace bytes (all single-byte in UTF-8, so a byte scan cannot
  * split a multi-byte char; non-ASCII Unicode spaces are token chars
  * in BOTH paths), empties filtered.
  *
  * Why it exists ([[graft.dedup.SpanDedup]]'s window-key scan): the
  * HOF formulation materializes the token array, then per window an
  * array slice, a joined String allocation, and a UTF8String copy —
  * at the Lee-et-al-scale w=50 that is ~50 allocations-worth of bytes
  * per TOKEN of corpus. The fused loop walks token boundaries once,
  * reuses one scratch buffer sized to the largest window, and emits a
  * primitive long array — zero per-window allocation, the
  * [[NgramHasher]] / [[RepetitionCounts]] byte-scan doctrine applied
  * to token windows.
  */
case class TokenWindowHashes(child: Expression, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")
    else if (w < 1) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a window of >= 1 token, got $w")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "token_window_hashes"

  override def nullSafeEval(input: Any): Any =
    TokenWindowHashes.hashAll(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.TokenWindowHashes.hashAll($c, $w);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenWindowHashes {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** The fused loop. Public so generated code can call it. */
  def hashAll(s: UTF8String, w: Int): GenericArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // token byte spans: maximal runs of non-\s bytes
    val cap = nb / 2 + 1
    val starts = new Array[Int](cap)
    val ends = new Array[Int](cap)
    var nTok = 0
    var i = 0
    while (i < nb) {
      if (isWs(bytes(i))) i += 1
      else {
        starts(nTok) = i
        while (i < nb && !isWs(bytes(i))) i += 1
        ends(nTok) = i
        nTok += 1
      }
    }
    if (nTok < w) return new GenericArrayData(Array.emptyLongArray)
    val count = nTok - w + 1
    // one scratch buffer, sized to the largest window's raw span (the
    // normalized window never exceeds it: >=1 separator byte collapses
    // to exactly 1 space)
    var maxWin = 0
    var j = 0
    while (j < count) {
      val sz = ends(j + w - 1) - starts(j)
      if (sz > maxWin) maxWin = sz
      j += 1
    }
    val buf = new Array[Byte](maxWin)
    val out = new Array[Long](count)
    j = 0
    while (j < count) {
      var off = 0
      var t = j
      while (t < j + w) {
        if (t > j) { buf(off) = ' '; off += 1 }
        val len = ends(t) - starts(t)
        System.arraycopy(bytes, starts(t), buf, off, len)
        off += len
        t += 1
      }
      out(j) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, off, 42L)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** `token_window_hashes(text, w)` as a Column, built directly (no
    * session registry involved).
    */
  def tokenWindowHashes(text: Column, w: Int): Column =
    column(TokenWindowHashes(expression(text), w))
}
