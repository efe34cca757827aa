package graft.catalog

import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.TextAnalysis

/** Text-analysis coverage over `documents` (training-data pipeline tier:
  * token stats, quality scores, language ID, fingerprints). Every
  * expression here is a builtin — one narrow codegen'd map stage over the
  * scan, except the fingerprint which is an explode + partial-agg min.
  */
object TextQueries {

  // DuckDB mirror of TextAnalysis.wsTokens (non-empty \s+-delimited runs)
  /** The BM25 lexical arm, shared by q99 and q103's fusion: ONE
    * checkpointed narrow tokenize per dataset (scope key `q99:$dir`)
    * regardless of how many consumers rank over it or at what k.
    */
  private[catalog] def bm25TopK(s: org.apache.spark.sql.SparkSession,
                                dir: String,
                                k: Int): org.apache.spark.sql.DataFrame = {
    val terms = Seq("spark", "join", "window", "vector")
    val narrow = graft.util.Checkpoints.scoped(s"q99:$dir")(
      graft.text.Bm25.narrowForTerms(Tables(s, dir, "documents"), terms))
    graft.text.Bm25.topKFromNarrow(narrow, k)
  }

  // RE2's \s is [ \t\n\f\r] — NO vertical tab — while the engine's
  // Tokens contract treats 0x0B as a separator; the explicit \x0B in
  // the class keeps the oracle's tokenization bit-identical to the
  // engine's on any corpus, not just ones that happen to avoid VT
  // (observable since q113 rebuilds text, not just counts).
  private val toksSql =
    "LIST_FILTER(STRING_SPLIT_REGEX(text, '[\\s\\x0B]+'), x -> LEN(x) > 0)"

  private def hitsSql(words: Seq[String]): String =
    s"LEN(LIST_FILTER($toksSql, x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"

  // DuckDB mirror of Sampling.hashBucket (md5-derived uniform [0,1))
  private def bucketSql(id: String, salt: String) =
    s"CAST(CAST('0x' || SUBSTRING(MD5(CAST($id AS VARCHAR) || '$salt'), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0"

  val all: Map[String, Q] = Map(

    // ----- deterministic train/val/test split (reproducible at 100 TB) ---
    "q52_hash_split" -> Q(
      (s, dir) => graft.ops.Sampling.assignSplit(
          Tables(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
        .select("doc_id", "split").orderBy("doc_id"),
      Some(
        s"""SELECT doc_id,
           |  CASE WHEN b < 0.8 THEN 'train'
           |       WHEN b < 0.9 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM (SELECT doc_id, ${bucketSql("doc_id", "v1")} AS b FROM documents)
           |ORDER BY doc_id""".stripMargin),
      "hash-keyed split assignment, stable under appends/partitioning"),

    // ----- deterministic stratified sampling by language -----
    "q53_stratified_sample" -> Q(
      (s, dir) => graft.ops.Sampling.stratifiedSample(
          Tables(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "es" -> 0.25), salt = "v1")
        .select("doc_id", "lang").orderBy("doc_id"),
      Some(
        s"""SELECT doc_id, lang FROM (
           |  SELECT doc_id, lang, ${bucketSql("doc_id", "v1")} AS b FROM documents)
           |WHERE b < (CASE WHEN lang = 'en' THEN 0.5
           |                WHEN lang = 'es' THEN 0.25 ELSE 0.0 END)
           |ORDER BY doc_id""".stripMargin),
      "per-stratum hash-fraction sampling"),

    // ----- KMV sketch: deterministic distributed uniform sample -----
    // The full-table sketch run (insert -> bottom-k truncate ->
    // partial/final merge -> hash-ordered eval over every partition),
    // ranked by an injective affine permutation hash ((id*997) mod
    // 1000003 — injective for every id below the modulus, which covers
    // all SFs) instead of the default xxhash64, so the bottom-k is
    // closed-form in SQL and the entry hash-matches. The default-hash
    // variant keeps its pin in KmvSketchSpec; the scrambling the
    // permutation provides is the same uniformization role xxhash plays.
    "q54_kmv_sample" -> Q(
      (s, dir) => {
        Tables(s, dir, "documents")
          .groupBy("lang")
          .agg(array_join(
            graft.functions.Sketches.kmvSampleBy(
              pmod(col("doc_id") * 997, lit(1000003L)), col("doc_id"), 5)
              .cast("array<string>"), ",").as("sample_ids"))
          .orderBy("lang")
      },
      Some(
        """WITH d AS (
          |  SELECT lang, doc_id, (doc_id*997)%1000003 AS h FROM documents),
          |ranked AS (
          |  SELECT lang, doc_id, h,
          |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
          |  FROM d)
          |SELECT lang, STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY h)
          |  AS sample_ids
          |FROM ranked WHERE rn <= 5 GROUP BY lang ORDER BY lang""".stripMargin),
      "TypedImperativeAggregate k-minimum-values sample per group"),

    // ----- KMV sketch machinery on a FIXED permutation fixture -----
    // q54's sketch semantics (insert -> bottom-k truncate -> partial/final
    // merge -> hash-ordered eval) under a full DuckDB oracle: the ranking
    // hash is the affine permutation (doc_id*997) mod 1013 — injective for
    // doc_id < 200 since gcd(997,1013)=1 — so "k smallest hashes" is a
    // closed-form bottom-k in SQL. kmv_distinct is pinned on its exact
    // branch (fewer than k distinct inputs -> buffer size, no estimation).
    "q60_kmv_fixture" -> Q(
      (s, dir) => {
        Tables(s, dir, "documents").filter(col("doc_id") < 200)
          .groupBy("lang")
          .agg(
            array_join(
              graft.functions.Sketches.kmvSampleBy(
                pmod(col("doc_id") * 997, lit(1013L)), col("doc_id"), 5)
                .cast("array<string>"), ",").as("sample_ids"),
            graft.functions.Sketches.kmvDistinct(
              pmod(col("doc_id"), lit(3L)), 5).as("n_distinct"))
          .orderBy("lang")
      },
      Some(
        """WITH d AS (
          |  SELECT lang, doc_id, (doc_id*997)%1013 AS h
          |  FROM documents WHERE doc_id < 200),
          |samp AS (
          |  SELECT lang, STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY h)
          |    AS sample_ids
          |  FROM (SELECT lang, doc_id, h,
          |          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
          |        FROM d)
          |  WHERE rn <= 5 GROUP BY lang),
          |dist AS (
          |  SELECT lang, CAST(COUNT(DISTINCT doc_id%3) AS DOUBLE) AS n_distinct
          |  FROM d GROUP BY lang)
          |SELECT lang, sample_ids, n_distinct
          |FROM samp JOIN dist USING (lang) ORDER BY lang""".stripMargin),
      "KMV bottom-k/merge/eval semantics vs closed-form permutation oracle"),

    // ----- token counting: whitespace + BPE-ish regex classes -----
    "q31_token_stats" -> Q(
      (s, dir) => {
        Tables(s, dir, "documents")
        .select(col("doc_id"),
          // long, matching DuckDB LEN's BIGINT (paritycheck WARN-free)
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("ws_tokens"),
          TextAnalysis.tokenCountRe(col("text")).cast("long").as("re_tokens"))
        .orderBy("doc_id") },
      Some(
        s"""SELECT doc_id,
           |  LEN($toksSql) AS ws_tokens,
           |  LEN(REGEXP_EXTRACT_ALL(text, '${TextAnalysis.TokenRegex}')) AS re_tokens
           |FROM documents ORDER BY doc_id""".stripMargin),
      "token counts: whitespace + BPE-ish regex"),

    // ----- quality scoring: length/punct/stopword composite -----
    "q32_quality_score" -> Q(
      (s, dir) => {
        Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
      },
      Some {
        val punct =
          "CASE WHEN LENGTH(text) = 0 THEN 0.0 ELSE CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / LENGTH(text) END"
        val allWords = TextAnalysis.Stopwords.values.flatten.toSeq.distinct
        val stop =
          s"CASE WHEN LEN($toksSql) = 0 THEN 0.0 ELSE CAST(${hitsSql(allWords)} AS DOUBLE) / LEN($toksSql) END"
        s"""SELECT doc_id,
           |  $punct AS punct_ratio,
           |  ROUND(0.4 * LEAST(1.0, CAST(LENGTH(text) AS DOUBLE) / 500.0)
           |      + 0.3 * (1.0 - $punct)
           |      + 0.3 * $stop, 6) AS quality
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      "composite quality score (length/punct/stopwords)"),

    // ----- language ID: stopword-count argmax with fixed tie order -----
    "q33_lang_id" -> Q(
      (s, dir) => {
        Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
      },
      Some {
        val s_ = TextAnalysis.Stopwords
        def h(l: String) = hitsSql(s_(l))
        s"""SELECT doc_id, lang,
           |  CASE WHEN ${h("en")} >= ${h("es")} AND ${h("en")} >= ${h("fr")} AND ${h("en")} >= ${h("de")} AND ${h("en")} >= ${h("zh")} THEN 'en'
           |       WHEN ${h("es")} >= ${h("fr")} AND ${h("es")} >= ${h("de")} AND ${h("es")} >= ${h("zh")} THEN 'es'
           |       WHEN ${h("fr")} >= ${h("de")} AND ${h("fr")} >= ${h("zh")} THEN 'fr'
           |       WHEN ${h("de")} >= ${h("zh")} THEN 'de'
           |       ELSE 'zh' END AS pred_lang
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      "n-gram/stopword heuristic language ID"),

    // ----- corpus text normalization (pre-dedup canonical form) -----
    "q56_normalize_text" -> Q(
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"),
          md5(TextAnalysis.normalizeText(col("text"))).as("norm_hash"),
          // long, matching DuckDB LENGTH's BIGINT (paritycheck WARN-free)
          length(TextAnalysis.normalizeText(col("text"))).cast("long")
            .as("norm_len"))
        .orderBy("doc_id"),
      Some {
        val norm =
          s"TRIM(REGEXP_REPLACE(LOWER(TRANSLATE(text, '${TextAnalysis.AccentFrom}', '${TextAnalysis.AccentTo}')), '\\s+', ' ', 'g'))"
        s"""SELECT doc_id, MD5($norm) AS norm_hash, LENGTH($norm) AS norm_len
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      "lowercase + accent fold + whitespace collapse"),

    // ----- word/bigram repetition quality signals (Gopher screens) -----
    // The oracle recomputes every signal from scratch with
    // unnest + GROUP BY (an equivalent-work job: DuckDB builds the same
    // per-document word and bigram frequency tables the fused expression
    // builds in its one scan). The corpus is single-space tokenized with
    // no empty documents (asserted at generation), so string_split(' ')
    // and the expression's whitespace-run tokenizer agree; the CASE
    // guards mirror repetitionStats' null-not-error contract for
    // too-short documents.
    "q76_repetition_stats" -> Q(
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.repetitionStats(col("text")).as("r"))
          .select(col("doc_id"), col("r.n_words"), col("r.dup_word_frac"),
            col("r.top_word_frac"), col("r.n_bigrams"),
            col("r.dup_bigram_frac"), col("r.top_bigram_frac"))
          .orderBy("doc_id")
      },
      Some(
        """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws
          |              FROM documents),
          |w AS (SELECT doc_id, unnest(ws) AS wd FROM base),
          |wc AS (SELECT doc_id, wd, COUNT(*) AS c FROM w GROUP BY 1, 2),
          |wstat AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
          |                 COUNT(*) AS d_words, MAX(c) AS top_w
          |          FROM wc GROUP BY 1),
          |bg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS b
          |       FROM base, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)),
          |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
          |bstat AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
          |                 COUNT(*) AS d_bigrams, MAX(c) AS top_b
          |          FROM bc GROUP BY 1)
          |SELECT wstat.doc_id, n_words,
          |  CASE WHEN n_words > 0 THEN
          |    ROUND(CAST(n_words - d_words AS DOUBLE) / n_words, 6) END
          |    AS dup_word_frac,
          |  CASE WHEN n_words > 0 THEN
          |    ROUND(CAST(top_w AS DOUBLE) / n_words, 6) END AS top_word_frac,
          |  COALESCE(n_bigrams, 0) AS n_bigrams,
          |  CASE WHEN n_bigrams > 0 THEN
          |    ROUND(CAST(n_bigrams - d_bigrams AS DOUBLE) / n_bigrams, 6) END
          |    AS dup_bigram_frac,
          |  CASE WHEN n_bigrams > 0 THEN
          |    ROUND(CAST(top_b AS DOUBLE) / n_bigrams, 6) END AS top_bigram_frac
          |FROM wstat LEFT JOIN bstat USING (doc_id)
          |ORDER BY doc_id""".stripMargin),
      "fused one-scan word/bigram repetition signals vs unnest+GROUP BY"),

    // ----- PII detection + redaction over a seeded corpus -----
    // The synthetic corpus is digit-free word soup, so PII is SEEDED by
    // a closed-form construction both engines build identically (the
    // q37/q38 salting trick): doc_id-derived emails on every 5th doc,
    // dotted quads on every 7th, hyphenated phones on every 11th — so
    // counts are non-trivial (docs divisible by 35/55/77 carry
    // several types) and redaction rewrites real bytes. The patterns
    // are interpolated from Pii's constants into the oracle SQL, so
    // Spark's Java regex and DuckDB's RE2 run the SAME pattern text —
    // the portability contract Pii documents (common subset, no
    // lookaround). Counts AND the redacted text (hash + length) are
    // both oracled; the redaction order is Pii.Patterns order on both
    // sides.
    "q78_pii_scrub" -> Q(
      (s, dir) => {
        import graft.text.Pii
        val seeded = Tables(s, dir, "documents").select(col("doc_id"),
          concat(
            col("text"),
            when(pmod(col("doc_id"), lit(5L)) === 0, concat(
              lit(" Contact user"), col("doc_id").cast("string"),
              lit("@example.com soon."))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(7L)) === 0, concat(
              lit(" Origin 10."),
              pmod(col("doc_id"), lit(200L)).cast("string"), lit(".0."),
              pmod(col("doc_id"), lit(250L)).cast("string"),
              lit(" noted."))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(11L)) === 0, concat(
              lit(" Call "),
              (pmod(col("doc_id"), lit(900L)) + 100L).cast("string"),
              lit("-555-"),
              (pmod(col("doc_id"), lit(9000L)) + 1000L).cast("string"),
              lit(" today."))).otherwise(lit(""))).as("text"))
        seeded.select(col("doc_id"),
            Pii.piiStats(col("text")).as("p"),
            md5(Pii.redact(col("text"))).as("red_hash"),
            length(Pii.redact(col("text"))).cast("long").as("red_len"))
          .select(col("doc_id"), col("p.n_emails"), col("p.n_ipv4"),
            col("p.n_phones"), col("red_hash"), col("red_len"))
          .orderBy("doc_id")
      },
      Some {
        import graft.text.Pii
        val red = Pii.Patterns.foldLeft("text") { case (acc, (_, pat, tok)) =>
          s"REGEXP_REPLACE($acc, '$pat', '$tok', 'g')"
        }
        s"""WITH seeded AS (
           |  SELECT doc_id, text
           |    || CASE WHEN doc_id % 5 = 0 THEN ' Contact user'
           |         || CAST(doc_id AS VARCHAR) || '@example.com soon.'
           |       ELSE '' END
           |    || CASE WHEN doc_id % 7 = 0 THEN ' Origin 10.'
           |         || CAST(doc_id % 200 AS VARCHAR) || '.0.'
           |         || CAST(doc_id % 250 AS VARCHAR) || ' noted.'
           |       ELSE '' END
           |    || CASE WHEN doc_id % 11 = 0 THEN ' Call '
           |         || CAST(100 + doc_id % 900 AS VARCHAR) || '-555-'
           |         || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' today.'
           |       ELSE '' END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  LEN(REGEXP_EXTRACT_ALL(text, '${Pii.EmailRegex}')) AS n_emails,
           |  LEN(REGEXP_EXTRACT_ALL(text, '${Pii.Ipv4Regex}')) AS n_ipv4,
           |  LEN(REGEXP_EXTRACT_ALL(text, '${Pii.PhoneRegex}')) AS n_phones,
           |  MD5($red) AS red_hash,
           |  LENGTH($red) AS red_len
           |FROM seeded ORDER BY doc_id""".stripMargin
      },
      "codegen regex PII counts + ordered redaction vs the same RE2 patterns"),

    // ----- document fingerprint: min-hash over 8-char shingles -----
    "q34_fingerprint" -> Q(
      (s, dir) => {
        // fused per-row expression — the explode + min-agg formulation
        // this replaced shuffled one row per shingle position
        Tables(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.ShingleFingerprint
            .shingleFingerprint(col("text"), 8).as("fingerprint"))
        .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id, MIN(MD5(SUBSTRING(text, CAST(i AS INTEGER), 8))) AS fingerprint
          |FROM (SELECT doc_id, text,
          |        UNNEST(GENERATE_SERIES(1, GREATEST(LENGTH(text) - 7, 1))) AS i
          |      FROM documents)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "rolling-shingle min-hash fingerprint"),

    // ----- C4-style segment quality filter (fixed 16-token windows) ----
    // Zero shuffle: segmentation, the per-segment distinct-token ratio,
    // and the rebuild are one codegen'd map over the scan. The 0.75
    // threshold compares an exact IEEE division on both engines.
    "q79_segment_filter" -> Q(
      (s, dir) => graft.ops.Segments
        .filterSegments(Tables(s, dir, "documents"), 16, 0.75)
        .select(col("doc_id"), col("n_segs").cast("long"),
          col("n_kept").cast("long"), col("text_kept"))
        .orderBy("doc_id"),
      Some(
        s"""WITH segs AS (
           |  SELECT doc_id, LIST_TRANSFORM(RANGE(CAST(CEIL(LEN(toks)/16.0) AS INT)),
           |                 i -> toks[i*16+1:(i+1)*16]) AS sl
           |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
           |f AS (
           |  SELECT doc_id, LEN(sl) AS n_segs,
           |    LIST_FILTER(sl, s -> CAST(LEN(LIST_DISTINCT(s)) AS DOUBLE)/LEN(s) >= 0.75) AS kept
           |  FROM segs)
           |SELECT doc_id, n_segs, LEN(kept) AS n_kept,
           |  COALESCE(ARRAY_TO_STRING(LIST_TRANSFORM(kept, s -> ARRAY_TO_STRING(s, ' ')), ' '), '') AS text_kept
           |FROM f ORDER BY doc_id""".stripMargin),
      "C4-style segment quality filter: drop low-distinct-ratio windows, rebuild text"),

    // ----- corpus-wide exact segment dedup, first occurrence wins -----
    // The Lee-et-al exact-substring-dedup shape at fixed-window
    // granularity: one exchange partitioned by md5(segment) with a
    // per-hash-group row_number (parallelism = distinct segments — NOT a
    // global-order window), one exchange by doc_id to reassemble. The
    // oracle recomputes the same first-occurrence rule with a window.
    // (The corpus has no empty documents — asserted at generation — so
    // the oracle's inner-explode form and posexplode_outer agree.)
    "q80_segment_dedup" -> Q(
      (s, dir) => graft.ops.Segments
        .dedupSegments(Tables(s, dir, "documents"), 16)
        .orderBy("doc_id"),
      Some(
        s"""WITH segrows AS (
           |  SELECT doc_id, s.seg_no, s.seg FROM (
           |    SELECT doc_id, LIST_TRANSFORM(RANGE(CAST(CEIL(LEN(toks)/16.0) AS INT)),
           |           i -> ARRAY_TO_STRING(toks[i*16+1:(i+1)*16], ' ')) AS segs
           |    FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
           |    LATERAL (SELECT UNNEST(LIST_TRANSFORM(RANGE(LEN(segs)), i -> {'seg_no': i, 'seg': segs[i+1]}), recursive:=true)) s),
           |r AS (
           |  SELECT doc_id, seg_no, seg,
           |    ROW_NUMBER() OVER (PARTITION BY MD5(seg) ORDER BY doc_id, seg_no) AS rn
           |  FROM segrows)
           |SELECT doc_id, COUNT(*) AS n_segs,
           |  COUNT(*) FILTER (WHERE rn = 1) AS n_kept,
           |  COALESCE(STRING_AGG(seg, ' ' ORDER BY seg_no) FILTER (WHERE rn = 1), '') AS text_dedup
           |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "global exact segment dedup (first occurrence wins), docs rebuilt"),

    // ----- sequence packing: token-budget bins via two-phase cumsum ----
    // The Spark side runs Packing.prefixSum (bucket partials + tiny
    // offset window + per-bucket cumsum — no single-partition global
    // window); the oracle IS the single-partition window form, so the
    // hash match proves the scalable decomposition exact.
    "q81_pack_chunks" -> Q(
      (s, dir) => {
        // materialized once: prefixSum's bucket-offsets branch and its
        // main branch both consume this frame, and re-tokenizing the
        // corpus per branch costs more than checkpointing 16 bytes/doc
        // (measured at sf1: 1.83s unmaterialized -> 1.10s)
        val docs = graft.util.Checkpoints.scoped(s"q81:$dir")(
          Tables(s, dir, "documents").select(col("doc_id"),
            graft.text.TextAnalysis.tokenCountWs(col("text")).cast("long")
              .as("n_tok")))
        graft.ops.Packing.packBins(docs, "doc_id", "n_tok",
            budget = 512L, bucketWidth = 64L)
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy("bin")
      },
      Some(
        s"""WITH t AS (SELECT doc_id, LEN($toksSql) AS n_tok FROM documents),
           |c AS (SELECT doc_id, n_tok,
           |        SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
           |      FROM t)
           |SELECT CAST((cum - n_tok) // 512 AS BIGINT) AS bin, COUNT(*) AS n_docs,
           |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
           |FROM c GROUP BY 1 ORDER BY bin""".stripMargin),
      "concat-then-chunk packing over a scalable two-phase prefix sum"),

    // ----- top-5 characteristic terms per source by TF-IDF -----
    // Linear idf (N/df, not ln) keeps every arithmetic op IEEE-exact
    // cross-engine (see Tfidf scaladoc); both sides build the same df
    // and tf tables from scratch — a real equivalent-work oracle.
    "q82_tfidf_topk" -> Q(
      (s, dir) => graft.text.Tfidf
        .topTermsBySource(Tables(s, dir, "documents"), 5)
        .select(col("source"), col("rnk").cast("long"), col("term"),
          col("tf"), col("df"), col("score"))
        .orderBy("source", "rnk"),
      Some(
        s"""WITH toks AS (SELECT doc_id, source, $toksSql AS t FROM documents),
           |tfc AS (SELECT source, term, COUNT(*) AS tf
           |        FROM (SELECT source, UNNEST(t) AS term FROM toks) GROUP BY 1,2),
           |dfc AS (SELECT term, COUNT(*) AS df
           |        FROM (SELECT DISTINCT doc_id, UNNEST(t) AS term FROM toks) GROUP BY 1),
           |n AS (SELECT COUNT(*) AS n_docs FROM documents),
           |scored AS (SELECT source, term, tf, df,
           |   CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE)/CAST(df AS DOUBLE)) AS score
           |   FROM tfc JOIN dfc USING (term) CROSS JOIN n),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, term ASC) AS rnk
           |      FROM scored)
           |SELECT source, rnk, term, tf, df, score FROM r WHERE rnk <= 5
           |ORDER BY source, rnk""".stripMargin),
      "top-k terms per source, linear-idf TF-IDF, tie-broken by term"),

    // ----- mixture resampling to a per-source token budget -----
    // Data-mixing: each source downsampled so its expected token mass
    // is 3000 (sources under budget kept whole). The keep rate is
    // derived from an EXACT long token sum + one IEEE division (a
    // double sum would be summation-order-dependent cross-engine), and
    // membership is the md5 hash bucket — reproducible under
    // repartitioning, retries, and appends.
    "q85_mixture_budget" -> Q(
      (s, dir) => {
        // materialized once (the q81 pattern): sampleToBudget consumes
        // its input from BOTH the stratum-total aggregate and the join
        // side — without this the corpus tokenizes twice per execution,
        // and the narrow (doc_id, source, n_tok) frame is ~20 bytes/doc
        // against a full tokenize pass per extra consumer
        val narrow = graft.util.Checkpoints.scoped(s"q85:$dir")(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("source"),
              TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok")))
        graft.ops.Sampling.sampleToBudget(narrow,
            "source", "doc_id", "n_tok", budget = 3000.0, salt = "v1")
          .select(col("doc_id"), col("source"), col("n_tok"), col("keep_rate"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, source, CAST(LEN($toksSql) AS BIGINT) AS n_tok
           |  FROM documents),
           |tot AS (
           |  SELECT source,
           |    LEAST(1.0, 3000.0 / CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE)) AS keep_rate
           |  FROM t GROUP BY source)
           |SELECT doc_id, source, n_tok, keep_rate
           |FROM t JOIN tot USING (source)
           |WHERE ${bucketSql("doc_id", "v1")} < keep_rate
           |ORDER BY doc_id""".stripMargin),
      "per-source budget-targeted downsampling; exact-sum rate, hash-keyed membership"),

    // ----- boilerplate report: most-repeated segments corpus-wide -----
    // The analysis that tells a curation pipeline WHAT its dedup and
    // filters should target. Full-work oracle; top-k is tie-broken by
    // segment text so the limit is deterministic on both engines.
    "q86_boilerplate" -> Q(
      (s, dir) => graft.ops.Segments
        .topSegments(Tables(s, dir, "documents"), 16, 20)
        .orderBy(col("n_occurrences").desc, col("seg")),
      Some(
        s"""WITH segrows AS (
           |  SELECT doc_id, unnest(LIST_TRANSFORM(RANGE(CAST(CEIL(LEN(toks)/16.0) AS INT)),
           |         i -> ARRAY_TO_STRING(toks[i*16+1:(i+1)*16], ' '))) AS seg
           |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
           |perdoc AS (
           |  SELECT seg, doc_id, COUNT(*) AS n_in_doc
           |  FROM segrows GROUP BY 1, 2)
           |SELECT seg, CAST(SUM(n_in_doc) AS BIGINT) AS n_occurrences,
           |  COUNT(*) AS n_docs
           |FROM perdoc GROUP BY seg
           |ORDER BY n_occurrences DESC, seg LIMIT 20""".stripMargin),
      "top-k most-repeated segments (boilerplate analysis), tie-broken by text"),

    // ----- stop-segment tier: the q86 analysis turned into action ------
    // Segments in more than maxDocFrac of documents are dropped
    // CORPUS-WIDE (first copies included — boilerplate has no canonical
    // copy worth keeping) and documents rebuilt. The fixture's organic
    // max segment df is ~1% of docs (measured at both SFs), so the rule
    // needs SEEDED boilerplate to be demonstrably active: every third
    // document gains an identical 16-token prefix — exactly one window,
    // so the seeded docs' remaining windows are their ORIGINAL windows —
    // giving that one segment df = ~33% of docs > the 20% rule on both
    // engines, while every organic segment stays far below it. The
    // oracle recomputes the seeding, the df rule, and the rebuild from
    // raw text: full work, like q79/q80.
    "q87_stop_segments" -> Q(
      (s, dir) => {
        val bp = (1 to 16).map(i => f"bp$i%02d").mkString(" ")
        val corpus = Tables(s, dir, "documents").select(col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0,
              concat(lit(bp + " "), col("text")))
            .otherwise(col("text")).as("text"))
        graft.ops.Segments.dropStopSegments(corpus, 16, maxDocFrac = 0.2)
          .orderBy("doc_id")
      },
      Some {
        val bp = (1 to 16).map(i => f"bp$i%02d").mkString(" ")
        s"""WITH corpus AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN '$bp ' || text ELSE text END AS text
           |  FROM documents),
           |segrows AS (
           |  SELECT doc_id, s.seg_no, s.seg FROM (
           |    SELECT doc_id, LIST_TRANSFORM(RANGE(CAST(CEIL(LEN(toks)/16.0) AS INT)),
           |           i -> ARRAY_TO_STRING(toks[i*16+1:(i+1)*16], ' ')) AS segs
           |    FROM (SELECT doc_id, $toksSql AS toks FROM corpus)),
           |    LATERAL (SELECT UNNEST(LIST_TRANSFORM(RANGE(LEN(segs)), i -> {'seg_no': i, 'seg': segs[i+1]}), recursive:=true)) s),
           |dfreq AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segrows GROUP BY 1),
           |nd AS (SELECT COUNT(*) AS n FROM corpus),
           |flagged AS (
           |  SELECT r.doc_id, r.seg_no, r.seg,
           |    df <= GREATEST(1, CAST(FLOOR(0.2 * (SELECT n FROM nd)) AS BIGINT)) AS kept
           |  FROM segrows r JOIN dfreq USING (seg))
           |SELECT doc_id, COUNT(*) AS n_segs,
           |  COUNT(*) FILTER (WHERE kept) AS n_kept,
           |  COALESCE(STRING_AGG(seg, ' ' ORDER BY seg_no) FILTER (WHERE kept), '') AS text_dedup
           |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
      "stop-segment removal: seeded boilerplate dropped corpus-wide by the declared df rule"),

    // ----- sliding-window chunking with overlap (RAG/embedding prep) -----
    // size 256 / stride 200 chars => 56-char overlap; ~10x row expansion
    // over the sf corpus. The whole operator is one narrow codegen'd
    // projection (sequence + explode + substr) — zero shuffle at any
    // scale; the orderBy exists only for the oracle compare.
    "q90_chunk_overlap" -> Q(
      (s, dir) => graft.text.Chunking.chunkFixed(
          Tables(s, dir, "documents"), "doc_id", "text",
          size = 256, stride = 200)
        .orderBy("doc_id", "chunk_id"),
      Some(
        """WITH base AS (
          |  SELECT doc_id, text,
          |    UNNEST(GENERATE_SERIES(0,
          |      GREATEST(1, CAST(CEIL((LENGTH(text) - 256) / 200.0) AS BIGINT) + 1) - 1)) AS chunk_id
          |  FROM documents)
          |SELECT doc_id, chunk_id, chunk_id*200 + 1 AS start_pos,
          |       SUBSTRING(text, CAST(chunk_id*200 + 1 AS INT), 256) AS chunk
          |FROM base ORDER BY doc_id, chunk_id""".stripMargin),
      "sliding-window chunking with overlap: zero-shuffle scan-side expansion"),

    // ----- hashed-feature linear classifier inference (r12) -----
    // fastText-style quality-model scoring: token weight looked up by
    // HASH (feature-hashing trick), never by vocabulary join — one
    // codegen'd map over the scan, zero shuffle/broadcast at any corpus
    // size. The md5-derived weight function stands in for trained
    // weights; a real model swaps tokenWeight for a broadcast array
    // lookup with the identical plan shape. Both engines fold the SAME
    // token order (sequential left fold), so the double sum is
    // bit-identical before the 6-decimal round.
    "q92_quality_classifier" -> Q(
      (s, dir) => graft.text.HashedClassifier.scoreDocs(
          Tables(s, dir, "documents"), "doc_id", "text",
          salt = "qc-v1", bias = 0.05, threshold = 0.0)
        .orderBy("doc_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |s AS (
           |  SELECT doc_id,
           |    ROUND(0.05 + CASE WHEN LEN(toks) = 0 THEN 0.0
           |      ELSE LIST_SUM(LIST_TRANSFORM(toks, tok ->
           |        CAST(CAST('0x' || SUBSTRING(MD5(tok || 'qc-v1'), 1, 8) AS BIGINT) AS DOUBLE) / 2147483648.0 - 1.0)) / LEN(toks)
           |      END, 6) AS score
           |  FROM t)
           |SELECT doc_id, score,
           |  CASE WHEN score > 0.0 THEN 'keep' ELSE 'drop' END AS label
           |FROM s ORDER BY doc_id""".stripMargin),
      "hashed-feature linear classifier inference: zero-shuffle scan-side scoring"),

    // ----- balanced k-per-group sampling (r12) -----
    // Exactly 5 docs per language, hash-ranked — the cluster-balanced
    // selection step of diversity sampling. The oracle runs the ranking
    // window this operator replaces; the Spark side executes it as the
    // top_k_pairs bounded-buffer aggregate (no sort operator, <= k rows
    // shipped per (group, task) — a billion-doc stratum costs the same
    // exchange bytes as a thousand-doc one).
    "q94_balanced_sample" -> Q(
      (s, dir) => {
        graft.ops.Sampling.samplePerGroup(
            Tables(s, dir, "documents"), "lang", "doc_id", k = 5, salt = "v1")
          .orderBy("lang", "rk")
      },
      Some(
        s"""SELECT lang, rk, doc_id FROM (
           |  SELECT lang, doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY lang
           |      ORDER BY ${bucketSql("doc_id", "v1")}, doc_id) AS rk
           |  FROM documents)
           |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin),
      "exactly-k-per-group hash-ranked sample via the bounded-buffer aggregate"),

    // ----- BM25 retrieval: top-10 docs for a fixed query (r16) -----
    // Rational (ln-free) Robertson idf + long micro-point score sums
    // keep the hash compare exact cross-engine (Bm25 scaladoc); the
    // narrow tokenize projection is checkpointed once (the q85 pattern)
    // and feeds all three consumers. Full-work oracle: DuckDB rebuilds
    // df/dl/corpus stats from the same tokens with the identically
    // parenthesized score expression.
    "q99_bm25_topk" -> Q(
      (s, dir) => bm25TopK(s, dir, k = 10),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           |              CAST(SUM(LEN(toks)) AS BIGINT) AS tot_tokens FROM t),
           |h AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           |      FROM (SELECT doc_id, UNNEST(toks) AS term FROM t)
           |      WHERE term IN ('spark', 'join', 'window', 'vector')
           |      GROUP BY 1, 2),
           |dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM h GROUP BY 1),
           |dls AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS dl FROM t),
           |sc AS (SELECT h.doc_id,
           |  CAST(FLOOR(
           |    ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
           |      / (CAST(df AS DOUBLE) + 0.5))
           |    * ((CAST(tf AS DOUBLE) * 2.25)
           |      / (CAST(tf AS DOUBLE) + 1.25 * (1.0 - 0.75 + 0.75
           |          * (CAST(dl AS DOUBLE)
           |             / (CAST(tot_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
           |    * 1000000.0) AS BIGINT) AS micro
           |  FROM h JOIN dfc USING (term) JOIN dls USING (doc_id) CROSS JOIN st)
           |SELECT doc_id, COUNT(*) AS n_terms,
           |  CAST(SUM(micro) AS BIGINT) AS score_micro
           |FROM sc GROUP BY doc_id
           |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin),
      "BM25 top-k retrieval; ln-free idf + micro-point long sums, hash-exact"),

    // ----- PMI collocations: top-20 bigrams by lift (r16) -----
    // Linear lift (PMI minus the monotone log) keeps the double
    // arithmetic bit-identical cross-engine; counts are exact longs
    // (DuckDB SUMs cast to BIGINT before the double division — the
    // HUGEINT trap). No memoKey: the r16 same-JVM A/B (BENCH_SOLO
    // r16b_additions) measured the checkpointed count tables at 2.82 s
    // vs 1.46 s recomputed at sf1 — ReuseExchange already dedups the
    // identical count subtrees, so the memo only adds block-store
    // round-trips of the corpus-bigram-scaled table (Collocations
    // scaladoc).
    "q100_pmi_bigrams" -> Q(
      (s, dir) => graft.text.Collocations.topBigramsByLift(
        Tables(s, dir, "documents"), minCount = 5L, k = 20,
        memoKey = None),
      Some(
        s"""WITH t AS (SELECT $toksSql AS t FROM documents),
           |bi AS (SELECT t[i] AS w1, t[i+1] AS w2
           |       FROM t, UNNEST(RANGE(1, GREATEST(LEN(t), 1))) AS u(i)),
           |bic AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
           |        FROM bi GROUP BY 1, 2),
           |unic AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
           |         FROM (SELECT UNNEST(t) AS w FROM t) GROUP BY 1),
           |tot AS (SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM unic) AS n_uni,
           |               (SELECT CAST(SUM(c_xy) AS BIGINT) FROM bic) AS n_bi)
           |SELECT w1 || ' ' || w2 AS bigram, c_xy, x.c AS c_x, y.c AS c_y,
           |  (CAST(c_xy AS DOUBLE) / CAST(n_bi AS DOUBLE))
           |    / ((CAST(x.c AS DOUBLE) / CAST(n_uni AS DOUBLE))
           |       * (CAST(y.c AS DOUBLE) / CAST(n_uni AS DOUBLE))) AS lift
           |FROM bic
           |JOIN unic x ON bic.w1 = x.w
           |JOIN unic y ON bic.w2 = y.w
           |CROSS JOIN tot
           |WHERE c_xy >= 5
           |ORDER BY lift DESC, bigram LIMIT 20""".stripMargin),
      "top-k adjacent-bigram collocations by ln-free PMI lift"),

    // ----- bigram-LM fluency scoring: 25 least fluent docs (r16) -----
    // The CCNet/KenLM-style n-gram quality filter with the model
    // reduced to exact arithmetic (BigramLm scaladoc): conditional
    // bigram probabilities in integer micro-points, long sums per doc,
    // one mirrored double division for the ordering. The Spark side
    // joins occurrences to the model on the 8-byte bigram hash (the
    // q102 key doctrine); the oracle joins on the bigram text —
    // BigramLmSpec pins the equality.
    "q104_least_fluent" -> Q(
      (s, dir) => graft.text.BigramLm.leastFluent(
        Tables(s, dir, "documents"), k = 25),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
           |bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
           |       FROM t, UNNEST(RANGE(1, GREATEST(LEN(t), 1))) AS u(i)),
           |bic AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
           |        FROM bi GROUP BY 1, 2),
           |cf AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_first
           |       FROM bic GROUP BY 1),
           |m AS (SELECT w1, w2, (c_xy * 1000000) // c_first AS micro
           |      FROM bic JOIN cf USING (w1)),
           |occ AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n
           |        FROM bi GROUP BY 1, 2, 3),
           |sc AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
           |         CAST(SUM(n * micro) AS BIGINT) AS sum_micro
           |       FROM occ JOIN m USING (w1, w2) GROUP BY doc_id)
           |SELECT doc_id, n_bigrams, sum_micro,
           |  CAST(sum_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS fluency
           |FROM sc ORDER BY fluency ASC, doc_id LIMIT 25""".stripMargin),
      "bigram-LM fluency filter: exact micro-point conditional probabilities, least-fluent top-k"),

    // ----- fluency transfer: train on even, score odd (r16) -----
    // The CCNet deployment shape q104's scaladoc promises: the model
    // trains on a REFERENCE corpus (even docs) and scores a DIFFERENT
    // batch (odd docs), with out-of-vocabulary transitions contributing
    // zero micro-points through the left join's coalesce. Same exact
    // arithmetic as q104; the oracle retrains the even-doc model
    // text-keyed and mirrors the OOV rule.
    "q107_fluency_transfer" -> Q(
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.text.BigramLm.scoreAgainst(
            graft.text.BigramLm.trainModel(
              docs.filter(pmod(col("doc_id"), lit(2)) === 0)),
            docs.filter(pmod(col("doc_id"), lit(2)) === 1))
          .orderBy(col("fluency").asc, col("doc_id").asc)
          .limit(25)
      },
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
           |bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
           |       FROM t, UNNEST(RANGE(1, GREATEST(LEN(t), 1))) AS u(i)),
           |bic AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
           |        FROM bi WHERE doc_id % 2 = 0 GROUP BY 1, 2),
           |cf AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_first
           |       FROM bic GROUP BY 1),
           |m AS (SELECT w1, w2, (c_xy * 1000000) // c_first AS micro
           |      FROM bic JOIN cf USING (w1)),
           |occ AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n
           |        FROM bi WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3),
           |sc AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
           |         CAST(SUM(n * COALESCE(micro, 0)) AS BIGINT) AS sum_micro
           |       FROM occ LEFT JOIN m USING (w1, w2) GROUP BY doc_id)
           |SELECT doc_id, n_bigrams, sum_micro,
           |  CAST(sum_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS fluency
           |FROM sc ORDER BY fluency ASC, doc_id LIMIT 25""".stripMargin),
      "bigram-LM transfer scoring: reference-corpus model over a disjoint batch, OOV transitions score zero"),

    // ----- DSIR data selection: 25 most target-like docs (r17) -----
    // Importance resampling (Xie et al. 2023) with both LMs reduced to
    // the exact micro-point bigram tables of q104: target model trains
    // on the lang='en' slice, raw model on the full pool, and every
    // candidate's weight is the exact long sum of per-transition
    // micro differences (OOV → that model contributes zero). One
    // mirrored double division orders the output. The Spark side runs
    // the SLICED fast path — both models from one flagged count table,
    // one fused-model shuffle_hash join (Dsir.selectTopNSliced;
    // equality with the two-model form spec-pinned); the oracle builds
    // the two models separately, text-keyed.
    "q108_dsir_select" -> Q(
      (s, dir) => graft.text.Dsir.selectTopNSliced(
        Tables(s, dir, "documents"), col("lang") === "en", n = 25),
      Some(
        s"""WITH t AS (SELECT doc_id, lang, $toksSql AS t FROM documents),
           |bi AS (SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
           |       FROM t, UNNEST(RANGE(1, GREATEST(LEN(t), 1))) AS u(i)),
           |bict AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
           |         FROM bi WHERE lang = 'en' GROUP BY 1, 2),
           |cft AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_first
           |        FROM bict GROUP BY 1),
           |mt AS (SELECT w1, w2, (c_xy * 1000000) // c_first AS micro_t
           |       FROM bict JOIN cft USING (w1)),
           |bicr AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
           |         FROM bi GROUP BY 1, 2),
           |cfr AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_first
           |        FROM bicr GROUP BY 1),
           |mr AS (SELECT w1, w2, (c_xy * 1000000) // c_first AS micro_r
           |       FROM bicr JOIN cfr USING (w1)),
           |occ AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n
           |        FROM bi GROUP BY 1, 2, 3),
           |sc AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
           |         CAST(SUM(n * (COALESCE(micro_t, 0) - COALESCE(micro_r, 0)))
           |           AS BIGINT) AS weight
           |       FROM occ LEFT JOIN mt USING (w1, w2)
           |                LEFT JOIN mr USING (w1, w2) GROUP BY doc_id)
           |SELECT doc_id, n_bigrams, weight,
           |  CAST(weight AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS avg_weight
           |FROM sc ORDER BY avg_weight DESC, doc_id LIMIT 25""".stripMargin),
      "DSIR selection: exact micro-point importance weights, target-LM minus raw-LM, top-k"),

    // ----- exact heavy hitters via sketch-then-verify (r17) -----
    // Two bounded-state scans instead of a vocabulary-scale groupBy
    // exchange (HeavyHitters scaladoc): a Misra-Gries summary (cap 256
    // counters) nominates candidates with the classic recall guarantee,
    // a broadcast-pruned second scan counts exactly those candidates.
    // `provable` certifies each row against the data itself
    // (cnt * (cap+1) > total tokens); the oracle computes the true
    // top-k the brute-force way plus the same flag.
    "q109_heavy_hitters" -> Q(
      (s, dir) => graft.text.HeavyHitters.exactTopK(
        Tables(s, dir, "documents"), k = 20, cap = 256),
      Some(
        s"""WITH t AS (SELECT $toksSql AS t FROM documents),
           |tok AS (SELECT u.tok AS term FROM t, UNNEST(t) AS u(tok)),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok),
           |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
           |      FROM tok GROUP BY 1)
           |SELECT term, cnt, (cnt * 257 > total) AS provable
           |FROM c, tot ORDER BY cnt DESC, term LIMIT 20""".stripMargin),
      "exact top-k tokens: Misra-Gries candidates + broadcast verify scan, per-row provability"),

    // ----- per-language heavy hitters (r17) -----
    // q109's two-scan shape with mg_topk as a GROUPED aggregate: one
    // <=cap summary per (lang, partial buffer) on the wire, candidates
    // broadcast, per-group top-k over <= groups*cap verified counts.
    // provable certifies against each language's own token total.
    "q111_heavy_hitters_by_lang" -> Q(
      (s, dir) => graft.text.HeavyHitters.exactTopKByGroup(
        Tables(s, dir, "documents"), "lang", k = 5, cap = 256),
      Some(
        s"""WITH t AS (SELECT lang, $toksSql AS t FROM documents),
           |tok AS (SELECT lang, u.tok AS term FROM t, UNNEST(t) AS u(tok)),
           |tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS total
           |        FROM tok GROUP BY 1),
           |c AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS cnt
           |      FROM tok GROUP BY 1, 2),
           |r AS (SELECT lang, term, cnt,
           |        ROW_NUMBER() OVER (PARTITION BY lang
           |          ORDER BY cnt DESC, term) AS rn
           |      FROM c)
           |SELECT r.lang, term, cnt, (cnt * 257 > total) AS provable
           |FROM r JOIN tot ON r.lang = tot.lang
           |WHERE rn <= 5 ORDER BY r.lang, cnt DESC, term""".stripMargin),
      "per-language exact top-k tokens: grouped Misra-Gries + broadcast verify"),

    // ----- DSIR hashed-bucket collision semantics, answer-key (r18) --
    // The 100 TB deployment shape of q108: features bucketed
    // pmod(xxhash64, buckets) so both models are fixed-size broadcast
    // tables. DuckDB cannot mirror xxhash64 bit-exactly, so this is
    // the q96 answer-key pattern over Dsir.CollisionFixture — a fixed
    // micro-corpus whose 14 distinct bigrams FORCE mod-8 collisions
    // (pigeonhole), making the collision-MERGE arithmetic (same-head
    // counts add before the conditional division, cross-head micros
    // add after) observable rather than merely absent. The frozen rows
    // come from DsirSpec's independent plain-Scala reconstruction over
    // the enumerated collision classes (frozen in r18);
    // the oracle re-derives avg_weight by the same one double
    // division, so a regression anywhere in the bucketing, the merge
    // arithmetic, or the ordering flips the hash.
    "q112_dsir_hashed_collisions" -> Q(
      (s, _) => {
        val (t, r, c) = graft.text.Dsir.CollisionFixture.frames(s)
        graft.text.Dsir.hashedSelectTopN(t, r, c,
          n = graft.text.Dsir.CollisionFixture.candidates.size,
          buckets = graft.text.Dsir.CollisionFixture.Buckets)
      },
      Some(
        """SELECT CAST(doc_id AS BIGINT) AS doc_id,
          |  CAST(n_bigrams AS BIGINT) AS n_bigrams,
          |  CAST(weight AS BIGINT) AS weight,
          |  CAST(weight AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS avg_weight
          |FROM (VALUES
          |  (11, 1, 0),
          |  (10, 1, -500000),
          |  (14, 7, -6500000),
          |  (12, 1, -1000000),
          |  (13, 1, -1000000),
          |  (15, 1, -1000000)) AS t(doc_id, n_bigrams, weight)
          |ORDER BY avg_weight DESC, doc_id""".stripMargin),
      "DSIR hashed-feature variant: enumerated-collision answer key pins the bucket-merge arithmetic"),

    // ----- heavy-hitter stop-token tier: q109 composed into q87 (r18) --
    // PROFILE→CONFIG→ENFORCE: the Misra-Gries sketch + verify scan
    // (q109's plan) nominates every token above 2% of corpus
    // occurrences — exact and complete by the recall guarantee, since
    // 0.02 >= 1/257 — and the stop set drives the stop-SEGMENT tier's
    // enforcement machinery at width 1 (q87's broadcast flag join,
    // doc-keyed regroup, scan-side rebuild). The corpus' 30 hot
    // vocabulary tokens (~3.4% each at every SF) make the rule
    // organically active, no seeding needed. The oracle recomputes the
    // occurrence rule and the rebuild from raw text: full work.
    "q113_stop_token_tier" -> Q(
      (s, dir) => graft.text.HeavyHitters.dropStopTokens(
          Tables(s, dir, "documents"), maxTokenFrac = 0.02, cap = 256)
        .orderBy("doc_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |tokrows AS (
           |  SELECT doc_id, s.pos, s.tok FROM t,
           |    LATERAL (SELECT UNNEST(LIST_TRANSFORM(RANGE(LEN(toks)),
           |      i -> {'pos': i, 'tok': toks[i+1]}), recursive:=true)) s),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tokrows),
           |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
           |      FROM tokrows GROUP BY 1),
           |flagged AS (
           |  SELECT r.doc_id, r.pos, r.tok,
           |    NOT (CAST(cnt AS DOUBLE) >
           |      0.02 * CAST((SELECT n FROM tot) AS DOUBLE)) AS kept
           |  FROM tokrows r JOIN c ON r.tok = c.tok),
           |perdoc AS (
           |  SELECT doc_id, COUNT(*) AS n_toks,
           |    COUNT(*) FILTER (WHERE kept) AS n_kept,
           |    COALESCE(STRING_AGG(tok, ' ' ORDER BY pos) FILTER (WHERE kept),
           |      '') AS text_dedup
           |  FROM flagged GROUP BY doc_id)
           |SELECT t.doc_id, COALESCE(p.n_toks, 0) AS n_toks,
           |  COALESCE(p.n_kept, 0) AS n_kept,
           |  COALESCE(p.text_dedup, '') AS text_dedup
           |FROM t LEFT JOIN perdoc p USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin),
      "heavy-hitter stop-token removal: the q109 profile configuring q87's enforcement tier"),

    // ----- the stop-token tier through the SQL surface (r19) --------
    // q113's PROFILE→CONFIG→ENFORCE expressed entirely in spark.sql —
    // the deployment recipe for a SQL-first pipeline, same oracle as
    // q113 so the two fronts cannot drift. Three steps, because
    // strip_stop_tokens REQUIRES a foldable (driver-held) stop array —
    // the stop set is a config ARTIFACT, not a runtime join input:
    //   1. PROFILE (one SQL statement): mg_topk sketch → candidate
    //      terms, exact-verified by a broadcast-pruned term_counts
    //      scan — the q109 plan in SQL;
    //   2. CONFIG: the ≤ 1/frac rule rows are collected (bounded by
    //      the stopTokens mass argument) and rendered into the next
    //      statement as a literal array — exactly how a production
    //      run deploys the profile output;
    //   3. ENFORCE (one SQL statement): the fused strip_stop_tokens
    //      scan with q113's coalesce output convention.
    "q115_stop_token_tier_sql" -> Q(
      (s, dir) => {
        // SQL text names graft functions: install them on sessions
        // built without GraftExtensions (ExplainQ, PlanAudit)
        graft.functions.GraftFunctions.register(s)
        Tables(s, dir, "documents")
          .createOrReplaceTempView("v_docs_stoptier")
        // 1. PROFILE: sketch → candidates → exact verify counts
        s.sql(
          """CREATE OR REPLACE TEMPORARY VIEW v_stop_profile AS
            |WITH sketch AS (
            |  SELECT mg_topk(text, 256) AS s FROM v_docs_stoptier),
            |cand AS (
            |  SELECT s.total AS total, it.term AS term
            |  FROM sketch LATERAL VIEW explode(s.items) x AS it),
            |tok AS (
            |  SELECT tc.term AS term, tc.cnt AS c
            |  FROM v_docs_stoptier
            |  LATERAL VIEW explode(term_counts(text)) x AS tc)
            |SELECT /*+ BROADCAST(c) */ c.term, c.total, SUM(t.c) AS cnt
            |FROM tok t JOIN cand c ON t.term = c.term
            |GROUP BY c.term, c.total""".stripMargin)
        // 2. CONFIG: the exact-and-complete 2% rule (0.02 >= 1/257,
        // the q113 recall contract), collected — bounded at <= 50 rows
        val stop = s.sql(
          """SELECT term FROM v_stop_profile
            |WHERE CAST(cnt AS DOUBLE) > 0.02 * CAST(total AS DOUBLE)
            |ORDER BY term""".stripMargin)
          .collect().map(_.getString(0))
        // A bare backslash inside a Spark string literal starts an
        // escape sequence ('a\b' lexes to "a" + backspace) under BOTH
        // ANSI and legacy modes (probed on 4.1: doubling and \' both
        // handle quotes, nothing but \\ handles a backslash) — so a
        // stop token containing a backslash would render as the wrong
        // token or swallow the closing quote. Backslash-escape both.
        def lit(t: String): String =
          "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"
        val stopArr =
          if (stop.isEmpty) "CAST(array() AS ARRAY<STRING>)"
          else stop.map(lit).mkString("array(", ", ", ")")
        // 3. ENFORCE: the fused scan, q113's output convention
        s.sql(
          s"""SELECT doc_id,
             |  CAST(coalesce(s.n_toks, 0) AS BIGINT) AS n_toks,
             |  CAST(coalesce(s.n_kept, 0) AS BIGINT) AS n_kept,
             |  coalesce(s.text_dedup, '') AS text_dedup
             |FROM (SELECT doc_id, strip_stop_tokens(text, $stopArr) AS s
             |      FROM v_docs_stoptier)
             |ORDER BY doc_id""".stripMargin)
      },
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |tokrows AS (
           |  SELECT doc_id, s.pos, s.tok FROM t,
           |    LATERAL (SELECT UNNEST(LIST_TRANSFORM(RANGE(LEN(toks)),
           |      i -> {'pos': i, 'tok': toks[i+1]}), recursive:=true)) s),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tokrows),
           |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
           |      FROM tokrows GROUP BY 1),
           |flagged AS (
           |  SELECT r.doc_id, r.pos, r.tok,
           |    NOT (CAST(cnt AS DOUBLE) >
           |      0.02 * CAST((SELECT n FROM tot) AS DOUBLE)) AS kept
           |  FROM tokrows r JOIN c ON r.tok = c.tok),
           |perdoc AS (
           |  SELECT doc_id, COUNT(*) AS n_toks,
           |    COUNT(*) FILTER (WHERE kept) AS n_kept,
           |    COALESCE(STRING_AGG(tok, ' ' ORDER BY pos) FILTER (WHERE kept),
           |      '') AS text_dedup
           |  FROM flagged GROUP BY doc_id)
           |SELECT t.doc_id, COALESCE(p.n_toks, 0) AS n_toks,
           |  COALESCE(p.n_kept, 0) AS n_kept,
           |  COALESCE(p.text_dedup, '') AS text_dedup
           |FROM t LEFT JOIN perdoc p USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin),
      "the q113 stop-token tier run entirely through spark.sql (profile view, collected config, literal enforcement)")
  )
}
