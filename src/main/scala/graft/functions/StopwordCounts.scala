package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.text.TextAnalysis

/** Native Catalyst expression: all stopword + character-class counts for
  * language-ID / quality scoring in ONE byte-level scan of the text.
  *
  * Returns `array<int>` of length 9:
  * `[en, es, fr, de, zh, union-hits, n-tokens, punct-chars, n-chars]` —
  * per-language stopword hit counts in [[TextAnalysis.LangOrder]] order,
  * the number of tokens matching ANY language's list (each token counted
  * once), the total whitespace-token count, the number of code points
  * outside the `[A-Za-z0-9\s]` class (the punctuation-ratio numerator),
  * and the total code-point count (= Spark `length()`). Tokenization
  * matches `split(trim(text), "\\s+")`: maximal runs of non-whitespace
  * bytes, where whitespace is the Java regex `\s` class (space, \t, \n,
  * \x0B, \f, \r — all single-byte in UTF-8, so the scan never has to
  * decode multi-byte code points; UTF-8 continuation bytes are >= 0x80
  * and can never alias them, and a multi-byte lead byte counts as one
  * non-class code point exactly as the regex would).
  *
  * Versus the composable `aggregate(wsTokens(c), ...)` formulation this
  * replaces: no regex split, no per-token accumulator-array allocation,
  * no higher-order-function lambda dispatch, and it participates in
  * whole-stage codegen — the curation tier-1 filter runs it over every
  * document of the corpus, which at 100 TB is the single hottest
  * expression in the engine. Measured at 500k docs (local[32]): the
  * langId+quality filter pair went from ~9.7 s (HOF one-pass form;
  * ~25 s for the original fold-of-whens) to well under a second.
  * Null text propagates null.
  */
case class StopwordCountsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "stopword_counts"

  override def nullSafeEval(input: Any): Any =
    StopwordCountsExpr.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // one static helper call per row keeps the generated method tiny
      // (and inside the whole-stage span); the scan itself is compiled
      // JVM bytecode either way
      val helper = StopwordCountsExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.count($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StopwordCountsExpr {

  /** stopword -> bitmask of language indices in [[TextAnalysis.LangOrder]]
    * (a word appearing in several languages' lists sets several bits).
    */
  private val wordMask: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    for ((lang, i) <- TextAnalysis.LangOrder.zipWithIndex;
         w <- TextAnalysis.Stopwords(lang)) {
      val k = UTF8String.fromString(w)
      val prev = m.get(k)
      m.put(k, Integer.valueOf(if (prev == null) 1 << i else prev | (1 << i)))
    }
    m
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  private def isAlnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** The one-pass scan. Public so generated code can call it. */
  def count(s: UTF8String): ArrayData =
    ArrayData.toArrayData(countsRaw(s))

  /** The raw 9-slot accumulator of [[count]] (no ArrayData boxing) —
    * shared with [[CurateTier1]], which folds the whole tier-1 decision
    * out of one scan.
    */
  def countsRaw(s: UTF8String): Array[Int] = {
    val bytes = s.getBytes
    val n = bytes.length
    val counts = new Array[Int](9)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) { counts(8) += 1; i += 1 }
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) {
          val b = bytes(i)
          // code-point accounting: every byte except UTF-8 continuations
          // (10xxxxxx) starts a code point; single-byte non-alnum
          // (and any multi-byte point) is outside [A-Za-z0-9\s]
          if ((b & 0xC0) != 0x80) {
            counts(8) += 1
            if (!isAlnum(b)) counts(7) += 1
          }
          i += 1
        }
        counts(6) += 1
        val mask = wordMask.get(UTF8String.fromBytes(bytes, start, i - start))
        if (mask != null) {
          counts(5) += 1
          val m = mask.intValue()
          var j = 0
          while (j < 5) {
            if ((m & (1 << j)) != 0) counts(j) += 1
            j += 1
          }
        }
      }
    }
    counts
  }

  /** `stopword_counts(c)` as a Column, built directly: it resolves in
    * any session, with no registration. The SQL name comes from
    * [[GraftFunctions.table]].
    */
  def stopwordCounts(c: Column): Column =
    column(StopwordCountsExpr(expression(c)))
}

/** Fused corpus-curation tier-1 predicate:
  * `curate_tier1(text, langMask, minQuality)` ⇔
  * `langId(text) ∈ langs AND qualityScore(text) >= minQuality`
  * evaluated from ONE [[StopwordCountsExpr.countsRaw]] byte scan.
  *
  * Why (r22, guide §1.2 per-task work): the composable filter pair
  * evaluates `stopword_counts` as a fresh subtree per REFERENCE —
  * filter predicates get no codegen subexpression elimination, and the
  * `when(...)` ratio guards reference the counts array up to three
  * times each — so a row passing the language gate paid up to ~8 full
  * text scans (2 for langId's argmax, 6 for qualityScore's two ratios)
  * plus a separate O(n) `length()` walk. This expression computes the
  * identical decision from one scan: the first-max argmax (langId's
  * `array_position(scores, array_max(scores))` tie-break), the same
  * double arithmetic in the same association order, and the same
  * `round(_, 6)` semantics (java.math.BigDecimal.valueOf + HALF_UP —
  * exactly what Spark's Round emits for doubles), so the kept set is
  * bit-identical (Tier1KeepSpec pins it against the unfused pair; the
  * q45/q88 oracles pin it end-to-end). Null text yields null, which a
  * Filter drops just as it dropped the null `isin`.
  *
  * `langMask` is a bitmask over [[TextAnalysis.LangOrder]] indices —
  * languages outside the five-entry table can never win the argmax, so
  * they contribute no bit.
  */
case class CurateTier1(child: Expression, langMask: Int, minQuality: Double)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "curate_tier1"

  override def nullSafeEval(input: Any): Any =
    CurateTier1.keep(input.asInstanceOf[UTF8String], langMask, minQuality)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = CurateTier1.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.keep($c, $langMask, $minQuality);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CurateTier1 {

  /** The fused decision. Public so generated code can call it.
    *
    * Equivalence notes (each mirrors the Catalyst tree it replaces):
    *  - argmax: strict `>` keeps the FIRST index holding the max —
    *    `array_position(scores, array_max(scores))` semantics;
    *  - `least(1.0, len/500.0)`: branch on `<`, preferring the second
    *    operand on ties (same value either way);
    *  - ratio guards: `when(den === 0, 0.0)` branches before dividing;
    *  - score: `0.4*a + 0.3*b + 0.3*c` in the same left-to-right IEEE
    *    association as the Column `+` chain;
    *  - round-half-up at 6 via BigDecimal.valueOf — Spark Round's exact
    *    double path.
    */
  def keep(s: UTF8String, langMask: Int, minQuality: Double): Boolean = {
    val counts = StopwordCountsExpr.countsRaw(s)
    var bi = 0
    var j = 1
    while (j < 5) {
      if (counts(j) > counts(bi)) bi = j
      j += 1
    }
    if (((langMask >> bi) & 1) == 0) return false
    val nChars = counts(8)
    val lenRatio = nChars.toDouble / 500.0
    val lenTerm = if (lenRatio < 1.0) lenRatio else 1.0
    val punct =
      if (nChars == 0) 0.0 else counts(7).toDouble / nChars.toDouble
    val stop =
      if (counts(6) == 0) 0.0 else counts(5).toDouble / counts(6).toDouble
    val q = java.math.BigDecimal
      .valueOf(0.4 * lenTerm + 0.3 * (1.0 - punct) + 0.3 * stop)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    q >= minQuality
  }

  /** Bitmask over [[TextAnalysis.LangOrder]] for an allowlist. */
  def maskFor(langs: Seq[String]): Int =
    TextAnalysis.LangOrder.zipWithIndex.collect {
      case (l, i) if langs.contains(l) => 1 << i
    }.sum

  /** `curate_tier1(c, maskFor(langs), minQuality)` as a Column, built
    * directly (see [[StopwordCountsExpr.stopwordCounts]]).
    */
  def tier1Keep(c: Column, langs: Seq[String], minQuality: Double): Column =
    column(CurateTier1(expression(c), maskFor(langs), minQuality))
}
