package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: per-document distinct whitespace tokens
  * WITH their occurrence counts, in one pass over the text bytes —
  * `array<struct<term string, cnt int>>` (order unspecified; feed an
  * aggregation, not a display).
  *
  * This is the scan-side half of corpus term statistics (TF-IDF): from
  * one `explode(term_counts(text))` both document frequency (count of
  * (doc, term) rows per term) and term frequency (sum of cnt per
  * (source, term)) derive — where the Column form needed TWO exploded
  * passes, one over `array_distinct(wsTokens)` and one over the FULL
  * token stream (every occurrence a row). The distinct-terms frame is
  * typically 2-4x smaller than the token stream, and the counting
  * happens in the same byte-range open-addressing table as
  * [[RepetitionCounts]] — token equality confirmed on the bytes, so
  * counts are exact; one UTF8String allocates per DISTINCT term (the
  * output needs it), never per occurrence.
  *
  * Tokenization is the package contract: maximal runs of
  * non-whitespace bytes (Java regex `\s`). Empty/blank text gives an
  * empty array; null propagates.
  */
case class TermCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("term", StringType, nullable = false),
      StructField("cnt", IntegerType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "term_counts"

  override def nullSafeEval(input: Any): Any =
    TermCounts.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = TermCounts.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.count($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: whitespace-token count in one pass over
  * the text bytes — exactly `size(filter(split(text, "\\s+"), t ->
  * length(t) > 0))` (the [[graft.text.TextAnalysis.wsTokens]]
  * contract; Java regex `\s` is the same single-byte class the loop
  * tests) without the regex engine, the token array, or any
  * allocation. Null propagates; empty/blank text counts 0.
  */
case class WsTokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "ws_token_count"

  override def nullSafeEval(input: Any): Any =
    TermCounts.wsCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = TermCounts.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.wsCount($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TermCounts {

  /** One-pass whitespace-token count. Public for generated code. */
  def wsCount(s: UTF8String): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var w = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        w += 1
        while (i < n && !isWs(bytes(i))) i += 1
      }
    }
    w
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** The one-pass scan. Public so generated code can call it. */
  def count(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var starts = new Array[Int](math.max(8, n / 8))
    var ends = new Array[Int](starts.length)
    var w = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        if (w == starts.length) {
          starts = java.util.Arrays.copyOf(starts, w * 2)
          ends = java.util.Arrays.copyOf(ends, w * 2)
        }
        starts(w) = i
        while (i < n && !isWs(bytes(i))) i += 1
        ends(w) = i
        w += 1
      }
    }
    if (w == 0) return new GenericArrayData(Array.empty[Any])
    def eqTok(a: Int, b: Int): Boolean = {
      if (ends(a) - starts(a) != ends(b) - starts(b)) return false
      var x = starts(a); var y = starts(b)
      while (x < ends(a)) {
        if (bytes(x) != bytes(y)) return false
        x += 1; y += 1
      }
      true
    }
    var cap = 4
    while (cap < w * 2) cap <<= 1
    val mask = cap - 1
    val slotTok = new Array[Int](cap); java.util.Arrays.fill(slotTok, -1)
    val slotCnt = new Array[Int](cap)
    val hs = new Array[Long](w)
    var distinct = 0
    var k = 0
    while (k < w) {
      var h = 0xcbf29ce484222325L
      var j = starts(k)
      while (j < ends(k)) { h = (h ^ (bytes(j) & 0xff)) * 0x100000001b3L; j += 1 }
      hs(k) = h
      var idx = ((h ^ (h >>> 32)).toInt) & mask
      var done = false
      while (!done) {
        val t = slotTok(idx)
        if (t == -1) {
          slotTok(idx) = k; slotCnt(idx) = 1; distinct += 1; done = true
        } else if (hs(t) == h && eqTok(t, k)) {
          slotCnt(idx) += 1; done = true
        } else idx = (idx + 1) & mask
      }
      k += 1
    }
    val out = new Array[Any](distinct)
    var o = 0
    var sIdx = 0
    while (sIdx < cap) {
      val t = slotTok(sIdx)
      if (t != -1) {
        out(o) = InternalRow(
          UTF8String.fromBytes(bytes, starts(t), ends(t) - starts(t)),
          slotCnt(sIdx))
        o += 1
      }
      sIdx += 1
    }
    new GenericArrayData(out)
  }

  /** `term_counts(text)` as a Column. */
  def termCounts(text: Column): Column = column(TermCounts(expression(text)))

  /** `ws_token_count(text)` as a Column (see [[WsTokenCount]]). */
  def wsTokenCount(text: Column): Column =
    column(WsTokenCount(expression(text)))
}
