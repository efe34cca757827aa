package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the word-repetition counts behind
  * Gopher/C4-style quality filters, in ONE scan of the text.
  *
  * Returns `array<int>` of length 6:
  * `[n_words, distinct_words, top_word, n_bigrams, distinct_bigrams,
  * top_bigram]` — total whitespace-token count, number of distinct
  * tokens, occurrence count of the most frequent token, total adjacent
  * word-bigram count (`max(n_words - 1, 0)`), distinct bigrams, and the
  * most frequent bigram's count. Downstream filters derive the standard
  * repetition signals as ratios (duplicate-word fraction
  * `1 - distinct/total`, top-word mass `top/total`, and the bigram
  * analogues) — a high duplicate fraction or a dominant n-gram marks
  * boilerplate/spam documents that LLM training-data pipelines drop.
  *
  * Tokenization is maximal runs of non-whitespace bytes (the Java regex
  * `\s` class, all single-byte in UTF-8 — same contract as
  * [[StopwordCountsExpr]]), so `repetition_counts` and
  * `stopword_counts` agree on `n_words` by construction. Bigram keys
  * join adjacent tokens with a single space; tokens cannot contain
  * whitespace, so the combined key is unambiguous.
  *
  * Per-document distinct counting needs per-document state — a hash map
  * of token counts — so unlike the sketch expressions this one
  * allocates O(distinct tokens) per row. That is the floor for EXACT
  * repetition ratios (the signal the quality filters threshold on);
  * state is bounded by the document's own token count, never by corpus
  * size, and the scan stays a narrow codegen'd map with zero shuffle.
  * Null text propagates null.
  */
case class RepetitionCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "repetition_counts"

  override def nullSafeEval(input: Any): Any =
    RepetitionCounts.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = RepetitionCounts.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.count($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionCounts {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** The one-pass scan — EXACT counts with zero per-token allocation
    * (r13). The original form built a UTF8String per token, boxed an
    * Integer per map put, and concatenated a fresh bigram string per
    * adjacent pair — ~4 allocations per token on a corpus-scale scan.
    * This form tokenizes to index ranges over the input bytes, hashes
    * each range once (FNV-1a), and counts words/bigrams in
    * open-addressing tables whose keys are token INDICES — a hash hit
    * is confirmed by comparing the underlying byte ranges (bigrams
    * compare both tokens of the pair; the single-space join is
    * injective since tokens contain no whitespace), so the counts stay
    * exact, not hash-approximate, with no allocation beyond the flat
    * arrays. Public so generated code can call it.
    */
  def count(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // tokenize to [start, end) ranges
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
    val counts = new Array[Int](6)
    counts(0) = w
    counts(3) = math.max(w - 1, 0)
    if (w == 0) return ArrayData.toArrayData(counts)
    // FNV-1a 64 per token
    val hs = new Array[Long](w)
    var k = 0
    while (k < w) {
      var h = 0xcbf29ce484222325L
      var j = starts(k)
      while (j < ends(k)) { h = (h ^ (bytes(j) & 0xff)) * 0x100000001b3L; j += 1 }
      hs(k) = h
      k += 1
    }
    def eqTok(a: Int, b: Int): Boolean = {
      if (ends(a) - starts(a) != ends(b) - starts(b)) return false
      var x = starts(a); var y = starts(b)
      while (x < ends(a)) {
        if (bytes(x) != bytes(y)) return false
        x += 1; y += 1
      }
      true
    }
    // open-addressing count table; slot holds a representative token index
    def tableCap(entries: Int): Int = {
      var c = 4
      while (c < entries * 2) c <<= 1
      c
    }
    // words
    val wCap = tableCap(w)
    val wMask = wCap - 1
    val wTok = new Array[Int](wCap); java.util.Arrays.fill(wTok, -1)
    val wCnt = new Array[Int](wCap)
    var distinct = 0
    var top = 0
    k = 0
    while (k < w) {
      val h = hs(k)
      var idx = ((h ^ (h >>> 32)).toInt) & wMask
      var done = false
      while (!done) {
        val t = wTok(idx)
        if (t == -1) {
          wTok(idx) = k; wCnt(idx) = 1; distinct += 1
          if (top < 1) top = 1
          done = true
        } else if (hs(t) == h && eqTok(t, k)) {
          wCnt(idx) += 1
          if (wCnt(idx) > top) top = wCnt(idx)
          done = true
        } else idx = (idx + 1) & wMask
      }
      k += 1
    }
    counts(1) = distinct
    counts(2) = top
    // bigrams: key = pair (k, k+1), hashed by mixing both token hashes
    if (w > 1) {
      val m = w - 1
      val bCap = tableCap(m)
      val bMask = bCap - 1
      val bTok = new Array[Int](bCap); java.util.Arrays.fill(bTok, -1)
      val bCnt = new Array[Int](bCap)
      var bDistinct = 0
      var bTop = 0
      k = 0
      while (k < m) {
        val h = hs(k) * 0x9e3779b97f4a7c15L + hs(k + 1)
        var idx = ((h ^ (h >>> 32)).toInt) & bMask
        var done = false
        while (!done) {
          val t = bTok(idx)
          if (t == -1) {
            bTok(idx) = k; bCnt(idx) = 1; bDistinct += 1
            if (bTop < 1) bTop = 1
            done = true
          } else if (eqTok(t, k) && eqTok(t + 1, k + 1)) {
            bCnt(idx) += 1
            if (bCnt(idx) > bTop) bTop = bCnt(idx)
            done = true
          } else idx = (idx + 1) & bMask
        }
        k += 1
      }
      counts(4) = bDistinct
      counts(5) = bTop
    }
    ArrayData.toArrayData(counts)
  }

  /** `repetition_counts(c)` as a Column. */
  def repetitionCounts(c: Column): Column =
    column(RepetitionCounts(expression(c)))
}
