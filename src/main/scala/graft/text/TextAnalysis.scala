package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, document fingerprinting.
  *
  * All pure column expressions (codegen'd, no UDFs) so they run inside
  * WholeStageCodegen over a parquet scan — at 100 TB these are a single
  * narrow map stage with zero shuffle.
  */
object TextAnalysis {

  /** Whitespace tokens: the NON-EMPTY `\s+`-delimited runs. Empty/blank
    * input gives an empty array.
    *
    * The earlier `split(trim(c), "\\s+")` form had a latent quirk the
    * fused byte-scan expressions surfaced (caught by
    * SketchFusionPropertySpec): Spark's `trim` strips only SPACES, so
    * text starting with `\t`/`\n` produced a phantom leading ""
    * token — counted by stopwordRatio's denominator and hashed into
    * simhash votes. Filtering empties defines the semantics everyone
    * means and matches the byte-level scans exactly; the DuckDB oracle
    * mirror (TextQueries.toksSql) applies the same filter in lockstep.
    */
  def wsTokens(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  /** Whitespace-token count — semantically `size(wsTokens(c))`,
    * executed as the one-pass codegen [[graft.functions.WsTokenCount]]
    * (no regex engine, no token array; TermCountsSpec pins the
    * equivalence).
    */
  def tokenCountWs(c: Column): Column =
    graft.functions.TermCounts.wsTokenCount(c)

  /** BPE-ish pre-tokenizer classes (letters / digits / single punct), the
    * word-splitting regex shape used by GPT-2-style byte-pair encoders.
    */
  val TokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def reTokens(c: Column): Column = regexp_extract_all(c, lit(TokenRegex), lit(0))

  def tokenCountRe(c: Column): Column = size(reTokens(c))

  /** Fraction of non-alphanumeric, non-space chars (code points outside
    * `[A-Za-z0-9\s]`), from the same one-pass scan as the stopword
    * counts — no regexp_replace string rebuild.
    */
  def punctRatio(c: Column): Column = {
    val acc = swCounts(c)
    when(acc.getItem(8) === 0, lit(0.0))
      .otherwise(acc.getItem(7).cast("double") / acc.getItem(8))
  }

  /** Tiny multilingual stopword table (heuristic tier; a production list
    * would broadcast a dictionary table).
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "que", "de", "es"),
    "fr" -> Seq("le", "et", "les", "des", "est"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** Fixed language order — also the tie-break order for [[langId]]. */
  val LangOrder: Seq[String] = Seq("en", "es", "fr", "de", "zh")

  /** All stopword counts — `[en, es, fr, de, zh, union-hits, n-tokens]` —
    * in ONE codegen'd byte-level scan of the text
    * ([[graft.functions.StopwordCountsExpr]]).
    *
    * This replaced a fold-of-whens shape whose every `hits()` reference
    * re-split the text with a regex and re-swept the token array (~20
    * higher-order-function evaluations per row for langId +
    * stopwordRatio together) — the corpus-curation tier-1 filter was
    * spending >80% of its time re-tokenizing. Same trap family as the
    * minhash-signatures O(k²) note: derive everything from one pass,
    * never reference a shared array expression k times.
    *
    * The Column API builds the expression directly, so these helpers
    * resolve in any session — no registration, whichever session is
    * active.
    */
  private def swCounts(c: Column): Column =
    graft.functions.StopwordCountsExpr.stopwordCounts(c)

  /** Fraction of whitespace tokens that are (any-language) stopwords. */
  def stopwordRatio(c: Column): Column = {
    val acc = swCounts(c)
    when(acc.getItem(6) === 0, lit(0.0))
      .otherwise(acc.getItem(5).cast("double") / acc.getItem(6))
  }

  /** Composite quality score in [0,1]: length saturation + low punctuation
    * + stopword density (the classic cheap pre-filter tier for web-scale
    * corpora).
    */
  def qualityScore(c: Column): Column =
    round(
      lit(0.4) * least(lit(1.0), length(c) / lit(500.0)) +
        lit(0.3) * (lit(1.0) - punctRatio(c)) +
        lit(0.3) * stopwordRatio(c), 6)

  /** Stopword-count language ID over [[Stopwords]]; ties break in the
    * fixed order en > es > fr > de > zh. Returns the winning language code
    * ("en" when nothing matches anywhere — score 0 ties resolve to the
    * first language).
    *
    * The winner is the FIRST language (in [[LangOrder]]) holding the max
    * score — equivalent to the original "first lang whose score >= every
    * later lang's" fold, computed as array_position(max) on the one-pass
    * counts.
    */
  def langId(c: Column): Column = {
    val scores = slice(swCounts(c), 1, 5)
    element_at(
      array(LangOrder.map(lit): _*),
      array_position(scores, array_max(scores)).cast("int"))
  }

  /** Accent-fold map used by [[normalizeText]] (the common Latin-1/2
    * diacritics; a production pipeline would use full NFKD + mark
    * stripping in a codec stage).
    */
  val AccentFrom = "áàâäãåéèêëíìîïóòôöõúùûüýÿçñÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÇÑ"
  val AccentTo = "aaaaaaeeeeiiiiooooouuuuyycnAAAAAAEEEEIIIIOOOOOUUUUYCN"

  /** Corpus text normalization: lowercase, fold accents, collapse
    * whitespace runs, trim — the canonical pre-dedup cleanup pass (exact
    * dedup on raw text misses case/spacing variants).
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      lower(translate(c, AccentFrom, AccentTo)), "\\s+", " "))

  /** Document fingerprint: minimum MD5 over all 8-char shingles (the
    * winnowing/rolling-hash family collapsed to its min-hash special case —
    * robust to small edits, pure expressions). For texts shorter than the
    * shingle width the whole text is the shingle.
    *
    * Exposed as two pieces because the min runs per-document in an
    * aggregation: [[shingleStarts]] generates offsets to explode,
    * fingerprint = `min(md5(substring(text, i, n)))` grouped by doc.
    */
  def shingleStarts(c: Column, n: Int = 8): Column =
    sequence(lit(1), greatest(length(c) - (n - 1), lit(1)))

  /** Raw repetition counts (see
    * [[graft.functions.RepetitionCounts]]): one fused scan returning
    * `[n_words, distinct_words, top_word, n_bigrams, distinct_bigrams,
    * top_bigram]`.
    */
  def repetitionCounts(c: Column): Column =
    graft.functions.RepetitionCounts.repetitionCounts(c)

  /** Gopher-style repetition quality signals as a struct column:
    * `n_words`, duplicate-word fraction (`1 - distinct/total`), top-word
    * mass (`top/total`), `n_bigrams`, and the bigram analogues — the
    * boilerplate/spam screens an LLM training-data pipeline thresholds
    * on (e.g. drop documents with `dup_word_frac > 0.5` or
    * `top_2gram` mass above a few percent at web scale). Ratios are
    * null (not a division error) for documents too short to define
    * them; counts surface as bigint. All six fields derive from ONE
    * `repetition_counts` scan — whole-stage codegen's subexpression
    * elimination evaluates it once per row.
    */
  def repetitionStats(c: Column): Column = {
    val rc = repetitionCounts(c)
    def frac(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den, 6))
    struct(
      rc.getItem(0).cast("long").as("n_words"),
      frac(rc.getItem(0) - rc.getItem(1), rc.getItem(0))
        .as("dup_word_frac"),
      frac(rc.getItem(2), rc.getItem(0)).as("top_word_frac"),
      rc.getItem(3).cast("long").as("n_bigrams"),
      frac(rc.getItem(3) - rc.getItem(4), rc.getItem(3))
        .as("dup_bigram_frac"),
      frac(rc.getItem(5), rc.getItem(3)).as("top_bigram_frac"))
  }
}
