package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** C4-style intra-document segment operators for training-data curation
  * (cf. the C4/RefinedWeb line-level filters and "exact substring
  * deduplication" from Lee et al., "Deduplicating Training Data Makes
  * Language Models Better"). The harness corpus has no newlines, so the
  * unit of work is a fixed-width NON-OVERLAPPING token window — the same
  * operator shape as line/paragraph dedup (explode → per-segment decision
  * → reassemble in order), with a well-defined segmentation everywhere.
  *
  * Scale notes (the reason these shapes were chosen):
  *  - [[segmentsCol]] / [[filterSegments]] are pure column expressions —
  *    one narrow WholeStageCodegen map over the scan, zero shuffle.
  *  - [[dedupSegments]] never shuffles segment TEXT at all (r13): only
  *    28-byte (h, doc_id, seg_no) keys move through the two-phase
  *    first-copy aggregate, only 12-byte winner pairs regroup per doc,
  *    and the document text crosses the wire once — in the final
  *    corpus-to-corpus join that rebuilds the deduped text scan-side.
  */
object Segments {

  /** Non-overlapping windows of `w` whitespace tokens, each re-joined
    * with single spaces; a short tail window is kept. Empty/blank text
    * gives an empty array (no phantom "" segment).
    *
    * Convenience/spec form. The OPERATORS below do not call this on the
    * raw text column: higher-order functions are interpreted and
    * re-evaluate their argument expression per reference, so the
    * `wsTokens` regex split inside this tree runs 3-4 times per row
    * (measured 3x slower end-to-end at sf1). They pre-project the token
    * array as an attribute and use [[segmentsFromTokens]] instead —
    * attribute references are row reads, and `CollapseProject` keeps
    * non-cheap multiply-referenced aliases in their own Project.
    */
  def segmentsCol(text: Column, w: Int): Column =
    segmentsFromTokens(TextAnalysis.wsTokens(text), w)

  /** Windows (as re-joined strings) from a pre-bound token-array column. */
  private def segmentsFromTokens(toks: Column, w: Int): Column =
    transform(tokenSlices(toks, w), t => array_join(t, " "))

  /** Windows as token-array slices from a pre-bound token-array column. */
  private def tokenSlices(toks: Column, w: Int): Column = {
    val nSeg = ceil(size(toks).cast("double") / w).cast("int")
    when(size(toks) === 0, array().cast("array<array<string>>"))
      .otherwise(transform(sequence(lit(0), nSeg - 1),
        i => slice(toks, i * w + 1, lit(w))))
  }

  /** C4-style segment quality filter: drop segments whose distinct-token
    * ratio (exact IEEE division, deterministic cross-engine) is below
    * `minDistinctRatio`, rebuild the document from the kept segments
    * (original order). Returns `(doc_id, n_segs, n_kept, text_kept)`.
    * Zero shuffle — a chain of narrow projections; each non-cheap
    * intermediate (tokens, slices, kept slices) is bound ONCE as an
    * attribute, and the ratio runs on the lambda-bound slice, never
    * re-splitting the joined segment text.
    */
  def filterSegments(docs: DataFrame, w: Int,
                     minDistinctRatio: Double): DataFrame =
    docs
      .withColumn("__toks", TextAnalysis.wsTokens(col("text")))
      .withColumn("__slices", tokenSlices(col("__toks"), w))
      .select(col("doc_id"), size(col("__slices")).as("n_segs"),
        filter(col("__slices"), t =>
          size(array_distinct(t)).cast("double") / size(t)
            >= minDistinctRatio).as("__kept"))
      .select(
        col("doc_id"),
        col("n_segs"),
        size(col("__kept")).as("n_kept"),
        array_join(transform(col("__kept"), t => array_join(t, " ")), " ")
          .as("text_kept"))

  /** Corpus-wide exact segment dedup, first occurrence wins (ordered by
    * (doc_id, seg_no)): every later exact copy of a segment is removed
    * and its document rebuilt from the survivors. The C4 "exact
    * substring dedup" shape at fixed-window granularity.
    *
    * Plan (r13 rework — ZERO text shuffles). The r12 de-skew shape
    * (two-phase `min(struct(doc_id, seg_no))` per h, winner joined back
    * onto the occurrence frame, reassembly via `collect_list` by
    * doc_id) was skew-free but shuffled the exploded SEGMENT TEXT
    * twice: once on (h, doc_id) for the winner join and once on doc_id
    * for reassembly — at 100 TB those two full-corpus text exchanges
    * dominate everything else in the plan (measured 3.7 s vs DuckDB
    * 1.1 s at sf1). The key observation: the winner aggregate's output
    * IS the kept set — a (doc_id, seg_no) pair is kept iff it is the
    * `min(struct)` of its own hash — so no join against the text rows
    * is needed to FLAG anything, and no text rows need regrouping to
    * reassemble:
    *
    *  1. explode (h, doc_id, seg_no) keys only (the segment text dies
    *     inside the scan stage, after its md5) →
    *     `groupBy(h).agg(min(struct(doc_id, seg_no)))` — two-phase
    *     partial agg, so a hot boilerplate segment collapses to one
    *     28-byte row per task BEFORE the only h-keyed exchange;
    *  2. regroup the winner pairs (12-byte rows) per doc:
    *     `groupBy(doc_id).agg(sort_array(collect_list(seg_no)))` —
    *     list length bounded by segments-per-DOCUMENT, never corpus
    *     frequency;
    *  3. join that per-doc kept-index array back to the ORIGINAL docs
    *     frame on doc_id and rebuild `text_dedup` scan-side by
    *     re-slicing the text and keeping slices whose index is in the
    *     array — the document text crosses the wire exactly once, in
    *     the one corpus-to-corpus join every reassembling dedup needs.
    *
    * Docs whose every segment was a copy miss the join (left outer)
    * and survive with `n_kept = 0` and empty text; empty/null-text
    * docs report `(0, 0, "")`.
    *
    * Returns `(doc_id, n_segs, n_kept, text_dedup)`.
    */
  def dedupSegments(docs: DataFrame, w: Int): DataFrame = {
    val kept = segmentKeyRows(docs, w)
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("seg_no"))).as("__first"))
      .select(col("__first.doc_id").as("doc_id"),
        col("__first.seg_no").as("seg_no"))
    val keptPerDoc = kept
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("seg_no"))).as("__kept"))
    joinKept(docs, keptPerDoc, w)
  }

  /** Join the per-doc kept-index frame back onto the docs frame and
    * rebuild. The kept frame derives FROM the docs frame, so its
    * `doc_id` can carry the same expression id (localCheckpoint
    * preserves ids) — renamed before joining so the two join children
    * never share output attributes (the non-AQE analyzer rejects such
    * self-joins with a conflicting-references internal error; surfaced
    * by the r13 PlanAudit session, which audits with AQE off).
    */
  private def joinKept(docs: DataFrame, keptPerDoc: DataFrame,
                       w: Int): DataFrame = {
    val kd = keptPerDoc.withColumnRenamed("doc_id", "__kept_doc")
    rebuildFromKept(
      docs.join(kd.hint("shuffle_hash"),
          col("doc_id") === col("__kept_doc"), "left_outer")
        .drop("__kept_doc"), w)
  }

  /** Shared tail of the corpus-wide ops: given the docs frame
    * left-joined with a per-doc sorted kept-index array (`__kept`,
    * null when nothing survived), rebuild
    * `(doc_id, n_segs, n_kept, text_dedup)` scan-side by re-slicing
    * the text and keeping slices whose index is in the array. No
    * shuffle beyond the join the caller already paid.
    */
  private def rebuildFromKept(docsWithKept: DataFrame, w: Int): DataFrame =
    docsWithKept
      .withColumn("__toks", TextAnalysis.wsTokens(col("text")))
      .withColumn("__segs", segmentsFromTokens(col("__toks"), w))
      .select(
        col("doc_id"),
        coalesce(size(col("__segs")), lit(0)).cast("long").as("n_segs"),
        coalesce(size(col("__kept")), lit(0)).cast("long").as("n_kept"),
        coalesce(
          array_join(filter(col("__segs"),
            (s, i) => array_contains(col("__kept"), i)), " "),
          lit("")).as("text_dedup"))

  /** Exploded (doc_id, seg_no, h) KEY rows — no segment text. The
    * hashes come from the one-pass codegen
    * [[graft.functions.SegmentHashes]] (md5 fed incrementally from the
    * text bytes), so the per-segment strings the Column form allocates
    * are never built; empty docs contribute no rows (callers recover
    * them via a left join on the docs frame).
    */
  private def segmentKeyRows(docs: DataFrame, w: Int): DataFrame = {
    docs.select(col("doc_id"),
      posexplode(graft.functions.SegmentHashing
        .segmentHashes(col("text"), w)).as(Seq("seg_no", "h")))
  }

  /** Exploded (doc_id, seg_no, seg, h) rows; `h` is the segment md5 as
    * 16 raw bytes (the hash-store convention — half the state of the
    * hex string). Empty docs contribute one (null, null) row.
    */
  private def segmentRows(docs: DataFrame, w: Int): DataFrame =
    docs
      .withColumn("__toks", TextAnalysis.wsTokens(col("text")))
      .select(col("doc_id"),
        posexplode_outer(segmentsFromTokens(col("__toks"), w))
          .as(Seq("seg_no", "seg")))
      .withColumn("h", unhex(md5(col("seg"))))

  /** Rebuild `(doc_id, n_segs, n_kept, text_dedup)` from flagged
    * segment rows (requires seg_no, seg, isKept). Public half for
    * callers that must sequence the sink before the store append (the
    * streaming gate) — pair with [[segmentGateRows]]/[[novelHashes]].
    */
  def reassembleRows(flagged: DataFrame): DataFrame =
    flagged
      .groupBy(col("doc_id"))
      .agg(
        count(col("seg")).as("n_segs"),
        count(when(col("isKept"), 1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("isKept"),
              struct(col("seg_no"), col("seg"))))),
            s => s.getField("seg")),
          " ").as("text_dedup"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        col("text_dedup"))

  /** Row-level incremental gate: a segment is kept iff it is the first
    * occurrence WITHIN the batch (by (doc_id, seg_no)) and its hash is
    * not in the persisted store. The store side is bucketed on the
    * hash ([[graft.dedup.Dedup.appendHashStore]] layout): the planner
    * broadcasts a small store and reads a large one through its
    * bucketing — either way only the batch's segment rows shuffle.
    *
    * The first-in-batch rule keeps the h-keyed `row_number` window that
    * [[dedupSegments]] dropped (r12): here the hot-group bound is a
    * single BATCH's occurrences of one segment — a daily batch is
    * orders of magnitude smaller than the corpus, and a boilerplate
    * segment repeats at most once per batch document — so the skewed
    * task is bounded by batch size by construction, where the
    * corpus-wide form's was bounded by nothing.
    */
  def segmentGateRows(batch: DataFrame, w: Int,
                      storeTable: String): DataFrame = {
    val s = batch.sparkSession
    val firstWin = Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("seg_no"))
    val rows = segmentRows(batch, w)
      .withColumn("rn", row_number().over(firstWin))
    val marked =
      if (!s.catalog.tableExists(storeTable))
        rows.withColumn("inStore", lit(false))
      else rows.join(
        s.table(storeTable)
          .select(col("text_hash").as("h"), lit(true).as("inStore")),
        Seq("h"), "left_outer")
    marked.withColumn("isKept",
      col("seg").isNotNull && col("rn") === 1 &&
        coalesce(col("inStore"), lit(false)) === false)
  }

  /** The read-only half of [[dedupSegmentsIncremental]]: every batch
    * document rebuilt from its corpus-new segments. No writes.
    */
  def segmentGate(batch: DataFrame, w: Int, storeTable: String): DataFrame = {
    val keptPerDoc = gateKeptPairs(batch, w, storeTable)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("seg_no"))).as("__kept"))
    joinKept(batch, keptPerDoc, w)
  }

  /** KEY-rows gate (r13): the kept (h, doc_id, seg_no) triples of a
    * batch gated against the store — segment text never enters the
    * gate; callers rebuild via [[rebuildFromKept]] (batch text crosses
    * the wire once, in that join).
    *
    * First-in-batch is the [[dedupSegments]] winner trick, NOT a
    * window: `rn == 1` under `(doc_id, seg_no)` order is exactly
    * `min(struct(doc_id, seg_no))` per h, so a two-phase partial
    * aggregate replaces the h-keyed sort entirely AND shrinks the
    * store probe's left side to one row per DISTINCT batch segment
    * before the anti join against the bucketed store. The
    * text-carrying [[segmentGateRows]]/[[reassembleRows]] pair remains
    * the streaming surface, whose sink contract consumes flagged rows.
    */
  private def gateKeptPairs(batch: DataFrame, w: Int,
                            storeTable: String): DataFrame = {
    val s = batch.sparkSession
    val winners = segmentKeyRows(batch, w)
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("seg_no"))).as("__first"))
    val novel =
      if (!s.catalog.tableExists(storeTable)) winners
      else winners.join(
        s.table(storeTable)
          .select(col("text_hash").as("h")),
        Seq("h"), "left_anti")
    novel.select(col("h"), col("__first.doc_id").as("doc_id"),
      col("__first.seg_no").as("seg_no"))
  }

  /** The store-append keys of a gated batch: the kept segments' distinct
    * hashes, in the [[graft.dedup.Dedup.appendHashStore]] column contract.
    */
  def novelHashes(flagged: DataFrame): DataFrame =
    flagged.filter(col("isKept")).select(col("h").as("text_hash")).distinct()

  /** Boilerplate report: the `k` most-repeated segments corpus-wide —
    * `(seg, n_occurrences, n_docs)`, ordered by occurrences desc then
    * segment text (the C4/RefinedWeb boilerplate analysis that decides
    * what the dedup/filters should target). Two partial-aggregated
    * exchanges (the per-(segment, doc) pre-step and the count rollup)
    * and a `TakeOrderedAndProject` top-k — no global sort.
    *
    * Both aggregations key on `h`, the 16-byte md5 every other segment
    * op here shuffles by — never on the raw segment text. One exemplar
    * text rides along as a `min(seg)` partial aggregate (all rows in an
    * `h`-group carry the identical segment, the usual md5-identity
    * caveat), so map-side combine reduces the second exchange to one
    * text copy per (h, map partition) of digests+counts rather than
    * shipping segment bytes per row.
    */
  def topSegments(docs: DataFrame, w: Int, k: Int): DataFrame = {
    val rows = segmentRows(docs, w).filter(col("seg").isNotNull)
    val perDoc = rows.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("n_in_doc"), min(col("seg")).as("seg"))
    perDoc.groupBy(col("h"))
      .agg(sum(col("n_in_doc")).as("n_occurrences"),
        count(lit(1)).as("n_docs"),
        min(col("seg")).as("seg"))
      .orderBy(col("n_occurrences").desc, col("seg").asc)
      .limit(k)
      .select(col("seg"), col("n_occurrences"), col("n_docs"))
  }

  /** Stop-segment removal: drop every segment occurring in more than
    * `maxDocFrac` of the corpus' documents and rebuild each document
    * from the survivors — the ANALYSIS→ACTION half of [[topSegments]]
    * (the report measures segment document frequency; this tier enforces
    * a declared df rule on it, the segment-level analog of
    * [[graft.dedup.Dedup.ngramJaccard]]'s `maxDocFrac` stop-shingle
    * rule: recall/retention loss is a parameter both engines agree on,
    * not a side effect). A segment is dropped CORPUS-WIDE — including
    * its first occurrence, unlike [[dedupSegments]]: boilerplate is
    * noise everywhere, there is no canonical copy to keep.
    *
    * Plan (r12 rework — the r11 shape `repartition(h)` + df window sent
    * every occurrence of a hot segment to ONE task, and hot segments
    * are precisely what this operator targets: boilerplate appearing in
    * 10-50% of documents is billions of rows through a single task at
    * 100 TB): document frequency is computed by TWO-PHASE PARTIAL
    * AGGREGATION — `(h, doc_id)` distinct (map-side combine collapses
    * in-document repeats before anything moves, and the exchange key
    * carries doc_id so a hot `h` still spreads over all tasks) →
    * `groupBy(h)` count (after phase 1 each h holds at most one row per
    * map partition at the exchange). The over-threshold STOP-SET is
    * then broadcast back as a null-producing left join onto KEY rows
    * only ([[segmentKeyRows]], r13 — the segment text never enters the
    * flagging side at all); the surviving (doc_id, seg_no) pairs
    * regroup per doc as 12-byte rows and rebuild happens scan-side
    * after one corpus-to-corpus join on doc_id, exactly the
    * [[dedupSegments]] tail.
    *
    * The stop-set is broadcastable by construction, independent of
    * corpus size: a segment needs df > maxDocFrac·N docs to enter, and
    * there are at most (distinct (h,doc) pairs)/(maxDocFrac·N) =
    * avgDistinctSegsPerDoc / maxDocFrac such segments — e.g. 1000-seg
    * documents at a 1% rule cap it at 100k hashes ≈ 1.6 MB of 16-byte
    * md5s, at ANY corpus size. The bound degrades as 1/maxDocFrac, so
    * degenerate tiny fractions (which turn the rule into "drop every
    * repeated segment" — use [[dedupSegments]] for that) are the one
    * misuse to avoid.
    *
    * The stop-set branch re-reads the documents scan (two key passes)
    * instead of persisting the exploded frame — caching the full
    * occurrence frame is exactly the corpus-sized state this operator
    * must not hold; both passes are (h, doc_id, seg_no) keys from the
    * one-pass codegen hash, so no segment text is ever built outside
    * the final scan-side rebuild.
    *
    * The document total enters the threshold as a 1-row broadcast
    * scalar, never a driver action. Returns
    * `(doc_id, n_segs, n_kept, text_dedup)` like [[dedupSegments]].
    */
  def dropStopSegments(docs: DataFrame, w: Int,
                       maxDocFrac: Double): DataFrame = {
    require(maxDocFrac > 0.0, "maxDocFrac must be positive")
    val nTbl = docs.agg(count(lit(1)).as("__nd"))
    val stopSet = segmentKeyRows(docs, w)
      .select(col("h"), col("doc_id")).distinct()      // phase 1: per-doc
      .groupBy(col("h")).agg(count(lit(1)).as("__df")) // phase 2: df
      .crossJoin(broadcast(nTbl))
      .filter(col("__df") >
        greatest(lit(1L), floor(lit(maxDocFrac) * col("__nd"))))
      .select(col("h").as("__stop_h"))
    dropSegmentsInSet(docs, w, stopSet)
  }

  /** The ENFORCEMENT half shared by the declared rules (the df rule
    * above; the heavy-hitter occurrence rule of
    * [[graft.text.HeavyHitters.dropStopTokens]], r18): drop every
    * segment whose md5 key appears in `stopSet` (one `__stop_h` binary
    * column; broadcast-small by the CALLER's rule — both rules bound it
    * by construction, see their scaladocs) and rebuild each document
    * from the survivors, the [[dropStopSegments]] tail verbatim: a
    * null-producing broadcast left join flags KEY rows only, surviving
    * `(doc_id, seg_no)` pairs regroup per doc as 12-byte rows, and the
    * text rebuilds scan-side in the one corpus-to-corpus join.
    */
  private[graft] def dropSegmentsInSet(docs: DataFrame, w: Int,
                                       stopSet: DataFrame): DataFrame = {
    val keptPerDoc = segmentKeyRows(docs, w)
      .join(broadcast(stopSet), col("h") === col("__stop_h"), "left_outer")
      .filter(col("__stop_h").isNull)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("seg_no"))).as("__kept"))
    joinKept(docs, keptPerDoc, w)
  }

  /** Incremental segment-granular dedup against a persisted segment-hash
    * store — the C4/Lee-et-al exact substring dedup in daily-batch form:
    * "which windows of today's documents are corpus-new", answered
    * without rescanning the corpus. Batch documents are rebuilt from
    * their novel segments (first-in-batch occurrence wins, as in
    * [[dedupSegments]]); the novel segments' hashes are appended so
    * tomorrow's batch sees them. Store state is 16 bytes per distinct
    * segment; per-batch cost scales with the batch plus the store's
    * co-located scan, never with corpus size.
    */
  def dedupSegmentsIncremental(batch: DataFrame, w: Int,
                               storeTable: String, storePath: String,
                               nBuckets: Int = 8): DataFrame = {
    // KEY rows only (r13 — see [[gateKeptPairs]]): flagging and the
    // store append need (h, doc_id, seg_no), never segment text, so
    // the gate runs on the one-pass codegen hashes and the checkpoint
    // holds ~28 bytes per kept segment; the batch text crosses the
    // wire once, in the rebuild join. materialized once: consumed by
    // the store append and the rebuild.
    val kept = gateKeptPairs(batch, w, storeTable).localCheckpoint()
    graft.dedup.Dedup.appendHashStore(
      kept.select(col("h").as("text_hash")), // winners are distinct per h
      storeTable, storePath, nBuckets)
    val keptPerDoc = kept
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("seg_no"))).as("__kept"))
    joinKept(batch, keptPerDoc, w)
  }
}
