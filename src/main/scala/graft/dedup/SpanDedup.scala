package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Exact substring-span dedup: find every w-token window that occurs
  * more than once ANYWHERE in the corpus, and merge each document's
  * flagged windows into maximal duplicated spans.
  *
  * The span-level member of the dedup family (beyond the reference's
  * scope: mariuspopovici/COVID-19-FL processes whole records and has no
  * dedup of its own — this family exists for the LLM-pipeline tier):
  * document dedup ([[Dedup.exact]]) removes whole-text
  * copies, segment dedup ([[graft.ops.Segments]]) removes repeated
  * NEWLINE-delimited blocks, and this operator removes repeated
  * fixed-length TOKEN windows regardless of any delimiter — the
  * "exact substring deduplication" of Lee et al. 2022 (Deduplicating
  * Training Data Makes Language Models Better), whose suffix-array
  * single-machine construction is re-expressed here as the Spark-native
  * equivalent: a scan-side sliding window key, one key-grouped
  * exchange, and a per-document interval union. Every OCCURRENCE of a
  * duplicated span is flagged (both copies) — the released
  * exact-substring tooling's semantics; keep-one-copy would need a
  * global occurrence order the distributed shape deliberately avoids.
  *
  * Plan shape (scale):
  *  1. window keys are built ROW-LOCALLY and ALLOCATION-FREE — the
  *     fused codegen scan [[graft.functions.TokenWindowHashes]] walks
  *     each document's token boundaries once and emits a primitive
  *     long array (one xxhash64 per window, `posexplode`d to `(pos,
  *     key)`), so the per-token exchange row is (long, int, long) ≈
  *     20 bytes — never the window text itself, which at w=50 would
  *     ship ~50x the corpus bytes (the no-text-shuffle doctrine of
  *     [[Dedup]]);
  *  2. duplicate detection is groupBy(key)+count — partial-aggregated
  *     map-side, so the hot-key pathology (a boilerplate window
  *     repeated millions of times) collapses BEFORE the exchange (the
  *     [[graft.ops.Skew]] good case; a count-over-window would instead
  *     buffer every occurrence of the hot key in one window group) —
  *     followed by a LEFT SEMI join of the positions against the
  *     `count >= minOccur` keys. The two window-key subtrees are
  *     deliberately independent scans (a shared checkpoint measured
  *     NEGATIVE for this one-execution shape — the q100 lesson), and
  *     AQE picks the join: broadcast when the surviving dup-key set is
  *     small (the curated-corpus common case — the positions side then
  *     shuffles NOTHING), shuffled-on-key when it is not. Only flagged
  *     positions (narrow rows, no text) continue to the doc-keyed
  *     exchange;
  *  3. the interval union is the classic islands scan per document:
  *     windows `[pos, pos+w)` sorted by `pos`, a new island opens when
  *     `pos > max(prev pos) + w` (strictly past overlap-or-adjacency),
  *     islands aggregate to `(start, end)` spans. Per-document state is
  *     that document's flagged positions only.
  *
  * Determinism: counts, positions and span bounds are exact integers;
  * nothing floating anywhere. With `useHashKey = false` the key is the
  * window text itself and the whole operator is mirrored token-for-token
  * by an ANSI oracle; the hash-keyed default differs ONLY if xxhash64
  * collides on two distinct windows of the same corpus
  * (SpanDedupSpec pins hash-keyed == text-keyed on the test corpus —
  * at 2^64 key space a training-corpus false merge is a non-event, and
  * a false merge only ever REMOVES a non-duplicated span, never leaks
  * a duplicate).
  */
object SpanDedup {

  /** `(doc_id, pos, key)` for every w-token window start (1-based).
    *
    * The hash path runs the fused one-pass
    * [[graft.functions.TokenWindowHashes]] scan (zero per-window
    * allocation, primitive long array out); the text path is the
    * composable HOF formulation the oracle mirrors. The two produce
    * bit-equal hash values for the SAME windows
    * (TokenWindowHashesSpec), so the only divergence in final output
    * is an xxhash64 collision (class doc).
    */
  private def windowKeys(docs: DataFrame, w: Int,
                         useHashKey: Boolean): DataFrame = {
    require(w >= 1, s"spanDedup: window must be >= 1 token, got $w")
    if (useHashKey) {
      docs
        .select(col("doc_id"), posexplode(
          graft.functions.TokenWindowHashes
            .tokenWindowHashes(col("text"), w)))
        .select(col("doc_id"), (col("pos") + lit(1)).as("pos"),
          col("col").as("k"))
    } else {
      val toks = docs.select(col("doc_id"),
        TextAnalysis.wsTokens(col("text")).as("t"))
      val starts = when(size(col("t")) >= w,
        sequence(lit(1), size(col("t")) - lit(w) + lit(1)))
        .otherwise(array().cast("array<int>"))
      toks
        .select(col("doc_id"), explode(transform(starts, s =>
          struct(s.as("pos"),
            array_join(slice(col("t"), s, lit(w)), " ").as("k")))).as("g"))
        .select(col("doc_id"), col("g.pos").as("pos"), col("g.k").as("k"))
    }
  }

  /** Maximal duplicated spans per document: `(doc_id, start, end)` with
    * `end` exclusive, both in 1-based token positions. A window counts
    * as duplicated when its key occurs `>= minOccur` times corpus-wide
    * (occurrences in the SAME document count — self-repetition is
    * duplication too).
    */
  def duplicatedSpans(docs: DataFrame, w: Int, minOccur: Long = 2L,
                      useHashKey: Boolean = true): DataFrame = {
    require(minOccur >= 2L,
      s"spanDedup: minOccur < 2 flags every window, got $minOccur")
    val grams = windowKeys(docs, w, useHashKey)
    val dupKeys = grams.groupBy(col("k"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= minOccur)
    mergeIslands(
      grams.join(dupKeys.select("k"), Seq("k"), "left_semi")
        .select(col("doc_id"), col("pos")), w)
  }

  /** The per-document interval union (islands scan) over flagged
    * `(doc_id, pos)` window starts.
    */
  private def mergeIslands(flagged: DataFrame, w: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevMax = max(col("pos"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val opens = when(prevMax.isNull || col("pos") > prevMax + lit(w), 1)
      .otherwise(0)
    flagged
      .withColumn("isl", sum(opens).over(byDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("start"),
        (max(col("pos")) + lit(w)).as("end"))
      .select(col("doc_id"), col("start"), col("end"))
  }

  private def summarize(spans: DataFrame): DataFrame =
    spans
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("end") - col("start")).as("dup_tokens"))
      .select(col("doc_id"), col("n_dup_spans"), col("dup_tokens"))

  /** Seed or replace the window-hash store: one row per DISTINCT
    * window hash of `docs`, bucketed on the hash so the incremental
    * gate's probe join is exchange-free on the store side (the
    * [[graft.pipelines.Sinks.reloadBucketedBy]] contract shared by the
    * exact and segment stores). Sizing: the smallest per-ENTRY state
    * of the store family (8 bytes per distinct window) but the most
    * entries — ~one per corpus token — so in TOTAL bytes it is the
    * largest store in the pipeline.
    */
  def seedSpanStore(docs: DataFrame, w: Int, table: String, path: String,
                    nBuckets: Int = 8): Unit =
    graft.pipelines.Sinks.reloadBucketedBy(
      windowKeys(docs, w, useHashKey = true)
        .select(col("k").as("win_hash")).distinct(),
      table, path, Seq("win_hash"), nBuckets)

  /** Incremental form of [[duplicatedSpans]]: a batch window is
    * duplicated when its hash is in the persisted store (already-seen
    * corpus) OR occurs `>= minOccur` times within the batch itself —
    * exactly what re-running the whole-corpus operator over store ∪
    * batch would flag inside the batch's documents (the q84/q77
    * incremental asymmetry: the store side probes pre-hashed state, 8
    * bytes per distinct window, never re-reading corpus text).
    *
    * Plan: the batch's window keys are joined LEFT OUTER against the
    * two single-row-per-key mark frames (batch-dup keys, store keys) —
    * both arrive keyed by `k` (the store pre-bucketed on it), no row
    * multiplication, and a window flagged by both rules survives
    * exactly once; flagged positions then pay the one doc-keyed
    * exchange for the interval union.
    */
  def duplicatedSpansIncremental(batch: DataFrame, w: Int,
                                 storeTable: String, minOccur: Long = 2L
                                ): DataFrame = {
    require(minOccur >= 2L,
      s"spanDedup: minOccur < 2 flags every window, got $minOccur")
    val s = batch.sparkSession
    val grams = windowKeys(batch, w, useHashKey = true)
    val dupKeys = grams.groupBy(col("k"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= minOccur)
      .select(col("k"), lit(true).as("bd"))
    val inBatch = grams.join(dupKeys, Seq("k"), "left_outer")
    val marked =
      if (!s.catalog.tableExists(storeTable))
        inBatch.filter(coalesce(col("bd"), lit(false)))
      else inBatch
        .join(s.table(storeTable)
          .select(col("win_hash").as("k"), lit(true).as("sd")),
          Seq("k"), "left_outer")
        .filter(coalesce(col("bd"), lit(false)) ||
          coalesce(col("sd"), lit(false)))
    mergeIslands(marked.select(col("doc_id"), col("pos")), w)
  }

  /** Per-document summary of [[duplicatedSpansIncremental]] — the
    * incremental twin of [[stats]].
    */
  def statsIncremental(batch: DataFrame, w: Int, storeTable: String,
                       minOccur: Long = 2L): DataFrame =
    summarize(duplicatedSpansIncremental(batch, w, storeTable, minOccur))

  /** The batch's DISTINCT window hashes not yet in the store — the
    * store-append input. Because the append input is itself an
    * anti-join on the store's own key, a replayed append re-adds only
    * the hashes a torn first attempt did not commit (the exact gate's
    * idempotence argument — no `dedupAgainstStore` flag needed).
    */
  def novelWindowHashes(batch: DataFrame, w: Int,
                        storeTable: String): DataFrame = {
    val s = batch.sparkSession
    val hashes = windowKeys(batch, w, useHashKey = true)
      .select(col("k").as("win_hash")).distinct()
    if (!s.catalog.tableExists(storeTable)) hashes
    else hashes.join(s.table(storeTable),
      Seq("win_hash"), "left_anti")
  }

  /** Append novel window hashes into the bucketed store (creates it on
    * first use with the [[seedSpanStore]] layout).
    */
  def appendSpanStore(novel: DataFrame, table: String, path: String,
                      nBuckets: Int = 8): Unit =
    graft.pipelines.Sinks.appendBucketedBy(novel, table, path,
      Seq("win_hash"), nBuckets)

  /** Per-document summary of [[duplicatedSpans]]: `(doc_id,
    * n_dup_spans, dup_tokens)` — merged-span count and their total
    * token coverage — for documents with at least one duplicated span.
    */
  def stats(docs: DataFrame, w: Int, minOccur: Long = 2L,
            useHashKey: Boolean = true): DataFrame =
    summarize(duplicatedSpans(docs, w, minOccur, useHashKey))

  /** Rebuild each document's text with every duplicated span removed
    * (ALL occurrences — see the class doc). Returns `(doc_id, text)`
    * where `text` is the kept tokens joined with single spaces —
    * whitespace is NORMALIZED by reconstruction, exactly as every
    * token-level surface in [[graft.text.TextAnalysis]] defines it.
    * Documents with no duplicated span pass through (normalized too,
    * so the output column has one consistent contract).
    */
  def stripDuplicatedSpans(docs: DataFrame, w: Int, minOccur: Long = 2L,
                           useHashKey: Boolean = true): DataFrame =
    stripBySpans(docs, duplicatedSpans(docs, w, minOccur, useHashKey))

  /** Incremental strip: [[stripDuplicatedSpans]] with the
    * [[duplicatedSpansIncremental]] criterion (store ∪ batch) — the
    * per-batch rebuild surface the streaming gate sinks.
    */
  def stripDuplicatedSpansIncremental(batch: DataFrame, w: Int,
                                      storeTable: String,
                                      minOccur: Long = 2L): DataFrame =
    stripBySpans(batch,
      duplicatedSpansIncremental(batch, w, storeTable, minOccur))

  /** Rebuild `docs` text with the given `(doc_id, start, end)` spans
    * removed — the shared strip half of the batch and incremental
    * surfaces.
    */
  def stripBySpans(docs: DataFrame, spanFrame: DataFrame): DataFrame = {
    val spans = spanFrame
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start"), col("end"))).as("spans"))
    docs
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("t"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), array_join(
        transform(
          filter(
            transform(col("t"), (tok, i) =>
              struct(tok.as("tok"), (i + lit(1)).as("p"))),
            e => !exists(coalesce(col("spans"),
                array().cast("array<struct<start:int,end:int>>")),
              sp => e.getField("p") >= sp.getField("start") &&
                e.getField("p") < sp.getField("end"))),
          e => e.getField("tok")),
        " ").as("text"))
  }
}
