package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.pipelines.Sinks

/** Structured Streaming semantics (SURVEY.md §2.8). The reference
  * simulates a stream with cron re-runs; these are the real streaming
  * equivalents of its four patterns:
  *
  *  - incremental append w/ high-watermark  -> [[dedupAppend]]
  *  - 1-day tumbling window (midnight group) -> [[dailyCounts]]
  *  - partial-interval exclusion             -> the watermark itself
  *  - late-data correction (upsert)          -> [[upsertEachBatch]]
  *    (or, through the SQL DML front, [[sqlMergeEachBatch]])
  *
  * plus [[runningCountsByKey]], the `mapGroupsWithState` custom-state
  * shape (per-key cumulative counts surviving across micro-batches).
  */
object StreamingOps {

  /** Exactly-once-per-key append: `dropDuplicates` scoped by a watermark
    * so state is bounded (the streaming-sound version of the reference's
    * `case_number > max(existing)` manual watermark, cv.py:104-125, which
    * assumed monotonic keys).
    */
  def dedupAppend(events: DataFrame, tsCol: String, keyCol: String,
                  lateness: String = "1 day"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicates(Seq(keyCol, tsCol))

  /** Event-time 1-day tumbling counts with watermark — a day's aggregate
    * becomes final only after the day closes plus allowed lateness
    * (≡ the batch pipeline's `date_added < today - 1` exclusion,
    * cv-stats.py:34-35).
    */
  def dailyCounts(events: DataFrame, tsCol: String,
                  lateness: String = "1 day"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), "1 day").as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("day.start").as("d"), col("n"))

  /** Event-time session windows with watermark — the streaming sibling
    * of the batch catalog's q28 sessionize shape (same
    * `session_window(ts, gap)` grouping, so the two agree row-for-row on
    * closed sessions; the spec pins that equivalence). A session becomes
    * final in append mode once the watermark passes its close + gap.
    * State is per OPEN session per key — bounded by the watermark, never
    * by stream length; Spark merges adjacent windows under the hood, so
    * a hot key holds one state row per concurrent session, not per
    * event.
    */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    gap: String = "30 minutes",
                    lateness: String = "1 day"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol), col("w.start").as("session_start"), col("n"))

  /** Late-data correction: merge each micro-batch into a keyed parquet
    * sink (≡ the reference re-fetching "Under Investigation" rows and
    * updating them once resolved, cv.py:112-132). Use as
    * `stream.writeStream.foreachBatch(upsertEachBatch(path, key) _)`.
    */
  def upsertEachBatch(path: String, key: String,
                      adoptDayPartitioned: Boolean = false)(
      batch: DataFrame, batchId: Long): Unit =
    Sinks.upsertByKey(batch.sparkSession, batch.dropDuplicates(key), path,
      key, adoptDayPartitioned)

  /** The reference's daily re-ingest loop, fully ENGINE-NATIVE end to
    * end (r15): each micro-batch carries complete day slices (the
    * re-fetch shape of cv-api.py's truncate-per-run, narrowed to the
    * days present) and day-replaces them into a `dailystore` CATALOG
    * table via the engine's own `OverwritePartitionsDynamic` plan —
    * `writeTo(table).overwritePartitions()` — instead of the
    * hand-rolled [[graft.pipelines.Sinks.upsertByKey]] swap. The
    * connector's clustered-by-day required distribution plans the
    * one-file-per-day shuffle, and its staged-rename commit gives
    * micro-batch REPLAY idempotence for free: a re-run batch rewrites
    * exactly the same day partitions to the same content.
    *
    * Use as `stream.writeStream.foreachBatch(dailyReplaceEachBatch(
    * "dstore.cases") _)` with a [[graft.sources.DailyStoreCatalog]]
    * registered on the session. Batches must carry ENTIRE days — a
    * partial day's batch replaces the day with the partial slice
    * (exactly what the reference's re-ingest does mid-day).
    */
  def dailyReplaceEachBatch(catalogTable: String,
                            requireWholeDays: Boolean = false,
                            pcol: String = "d")(
      batch: DataFrame, batchId: Long): Unit = {
    // an empty batch dynamic-overwrites zero partitions — a no-op by
    // construction, no emptiness probe job needed
    if (requireWholeDays) assertWholeDays(batch, catalogTable, pcol)
    batch.writeTo(catalogTable).overwritePartitions()
  }

  /** The streaming front of the SQL DML surface (r20): run a `MERGE
    * INTO <dailystore> USING <srcView> ...` statement once per
    * micro-batch, with the batch registered as the temp view `srcView`
    * in the micro-batch's session. Use as
    * `stream.writeStream.foreachBatch(sqlMergeEachBatch(mergeSql,
    * "batch_src") _)` with a [[graft.sources.DailyStoreCatalog]]
    * registered on the session (catalog registrations are session-conf
    * entries, so foreachBatch's cloned micro-batch sessions inherit
    * them).
    *
    * The statement goes through the injected
    * [[graft.plans.DailyStoreDml]] analyzer rule exactly as in batch:
    * each micro-batch's merge is one copy-on-write commit over ONLY the
    * touched day partitions, under the manifest + writer lease. Replay
    * semantics follow from keyed-replace: re-delivering a micro-batch
    * re-merges the same keys to the same values — a content-level
    * no-op that appends one more (identical-content) version, the same
    * guarantee [[upsertEachBatch]] gives. The SQL cardinality rule
    * stays LOUD: a micro-batch carrying duplicate merge keys fails the
    * batch (dedup upstream with `dropDuplicates(key)` if last-wins is
    * intended — picking a winner silently is how a correction stream
    * loses corrections).
    */
  def sqlMergeEachBatch(mergeSql: String, srcView: String)(
      batch: DataFrame, batchId: Long): Unit = {
    batch.createOrReplaceTempView(srcView)
    // DML statements resolve to commands, which spark.sql runs eagerly
    batch.sparkSession.sql(mergeSql)
  }

  /** Opt-in partial-day guard (r16): `dailyReplaceEachBatch` trusts
    * whole-day batches — a partial-day micro-batch silently replaces the
    * day with the partial slice, which IS the reference's mid-day
    * re-ingest semantics, but not every upstream can promise whole days.
    * With `requireWholeDays = true` the batch's per-day counts are
    * compared against the store FIRST, and any day whose incoming count
    * is smaller than its stored count fails the batch loudly before a
    * row is condemned.
    *
    * Cost: one aggregate over the (micro-scale) batch, one collect
    * bounded by days-per-batch, and one partition-PRUNED store scan of
    * exactly the touched days (the collected day list becomes a static
    * `isin` filter, so a 10-year store reads only the batch's days).
    * Count-based, not content-based: a same-count different-content
    * replace (a correction) passes — that is the loop's purpose.
    */
  private[streaming] def assertWholeDays(batch: DataFrame,
                                         catalogTable: String,
                                         pcol: String): Unit = {
    val spark = batch.sparkSession
    val newCounts: Map[Any, Long] =
      batch.groupBy(col(pcol)).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.get(0), r.getLong(1))).toMap
    if (newCounts.isEmpty) return
    val oldCounts: Map[Any, Long] =
      spark.table(catalogTable)
        .filter(col(pcol).isin(newCounts.keys.toSeq: _*))
        .groupBy(col(pcol)).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.get(0), r.getLong(1))).toMap
    val shrunk = newCounts.collect {
      case (day, n) if oldCounts.getOrElse(day, 0L) > n =>
        s"$day (${oldCounts(day)} -> $n)"
    }.toSeq.sorted
    if (shrunk.nonEmpty) throw new IllegalStateException(
      s"dailyReplaceEachBatch(requireWholeDays): batch would SHRINK " +
        s"${shrunk.size} day(s) of $catalogTable — ${shrunk.mkString(", ")}. " +
        "A whole-day re-ingest only grows or corrects a day in place; a " +
        "smaller slice means the upstream delivered a partial day. Fix " +
        "the upstream batching, or drop requireWholeDays if partial-day " +
        "replace is intended.")
  }

  /** Streaming corpus novelty gate: each micro-batch of documents dedups
    * against the persisted corpus hash store ([[graft.dedup.Dedup
    * .exactGate]]) and appends only corpus-new documents to `outPath` —
    * the streaming form of the curation pipeline's daily-batch ingest.
    * Use as `docs.writeStream.foreachBatch(noveltyGateEachBatch(...) _)`.
    *
    * Dedup state lives in the bucketed store TABLE, not in streaming
    * state: it is shared with the batch-side [[graft.dedup.Dedup
    * .exactIncremental]], unbounded watermark-free history costs 16
    * bytes/doc (the digest is stored as raw binary, not hex) plus the
    * canonical id, and the store side of the anti-join never reshuffles.
    *
    * Replay safety (a micro-batch can re-run after a crash), without a
    * transactional sink, comes from ordering + an ADDITIVE idempotent
    * sink write ([[gatedSinkWrite]]):
    *  1. survivors land in `outPath` under a `__batch_id=<id>` partition,
    *     UNIONED with whatever a previous attempt already wrote there —
    *     a replayed batch can only restore the partition to the full
    *     original survivor set, never shrink it;
    *  2. the hash store advances only AFTER the sink write. A crash
    *     between the two replays the batch against the unchanged store
    *     (same survivors, same partition, then the store append runs);
    *     a crash MIDWAY through the store append — parquet appends are
    *     not atomic at job level — replays with a shrunken gate result,
    *     but the union with the partition's prior content keeps the
    *     already-sunk docs.
    *
    * The store cannot accumulate duplicate rows either: this gate IS an
    * anti-join on the store's own key (text_hash), so a replayed append
    * re-adds only the hashes the torn attempt did not commit. The band
    * gates below need one more step for the same guarantee — their
    * multi-table appends pass `dedupAgainstStore` when [[gatedSinkWrite]]
    * detects a replay. [[graft.dedup.Dedup.compactHashStore]] and
    * siblings remain the scheduled file-count maintenance op (appends add
    * a file per bucket per day).
    */
  def noveltyGateEachBatch(idCol: String, textCol: String,
                           storeTable: String, storePath: String,
                           outPath: String, nBuckets: Int = 8)(
      batch: DataFrame, batchId: Long): Unit = {
    // one materialization feeds the sink AND the store; SCOPED so batch
    // N+1 releases batch N's blocks — an unscoped per-batch checkpoint
    // accumulates for the stream's whole lifetime (single-writer per
    // store, batches sequential, so the previous frame is always dead).
    // Keys carry the gate FAMILY: two streams may legally use the same
    // logical store name for different physical families (exact store
    // "docs" vs minhash "docs_bands"), and a shared key would let one
    // stream release the other's in-flight frame
    val fresh = graft.util.Checkpoints.scoped(s"exactgate:$storeTable")(
      graft.dedup.Dedup.exactGate(batch, idCol, textCol, storeTable))
    gatedSinkWrite(batch, idCol, fresh, outPath, batchId)
    graft.dedup.Dedup.appendHashStore(fresh, storeTable, storePath, nBuckets)
  }

  /** [[noveltyGateEachBatch]]'s near-dup sibling: each micro-batch is
    * MinHash-signed and gated against the persisted signature store
    * ([[graft.dedup.Dedup.minhashGate]]); only documents with no stored
    * near-neighbor reach `outPath`, and their signatures extend the store
    * so later batches see them. Same replay-safety ordering: idempotent
    * batch-partitioned sink write first, store append after. Note the
    * gate is corpus-vs-batch only — near-dups WITHIN one micro-batch all
    * survive (in-batch dedup is the batch-local tiers' job).
    */
  def minhashNoveltyGateEachBatch(idCol: String, textCol: String,
                                  storeTable: String, storePath: String,
                                  outPath: String, numHashes: Int = 32,
                                  shingleN: Int = 5, bands: Int = 4,
                                  minEstJaccard: Double = 0.8,
                                  nBuckets: Int = 8)(
      batch: DataFrame, batchId: Long): Unit = {
    val sig = graft.dedup.Dedup
      .minhashSignatures(batch, idCol, textCol, numHashes, shingleN)
    val fresh = graft.util.Checkpoints.scoped(s"mhgate:$storeTable")(
      graft.dedup.Dedup.minhashGate(sig, idCol, storeTable, bands,
        minEstJaccard))
    val replay = gatedSinkWrite(batch, idCol, fresh, outPath, batchId)
    graft.dedup.Dedup.appendSigStore(fresh, idCol, storeTable, storePath,
      bands, nBuckets, dedupAgainstStore = replay)
  }

  /** The SimHash member of the streaming novelty-gate family: each
    * micro-batch is fingerprinted ([[graft.dedup.Dedup.simhash]]) and
    * gated against the persisted fingerprint store — documents within
    * `maxDist` Hamming bits of a stored fingerprint are dropped. The
    * cheapest streaming gate: 8 bytes of store state per corpus doc.
    */
  def simhashNoveltyGateEachBatch(idCol: String, textCol: String,
                                  storeTable: String, storePath: String,
                                  outPath: String, maxDist: Int = 3,
                                  nBuckets: Int = 8)(
      batch: DataFrame, batchId: Long): Unit = {
    val fp = graft.dedup.Dedup.simhash(batch, idCol, textCol)
    val fresh = graft.util.Checkpoints.scoped(s"shgate:$storeTable")(
      graft.dedup.Dedup.simhashGate(fp, idCol, storeTable, maxDist))
    val replay = gatedSinkWrite(batch, idCol, fresh, outPath, batchId)
    graft.dedup.Dedup.appendFpStore(fresh, idCol, storeTable, storePath,
      nBuckets, dedupAgainstStore = replay)
  }

  /** The embedding member of the streaming novelty-gate family: each
    * micro-batch of (id, vector) rows is gated against the persisted
    * vector store via sign-LSH banded candidates + fused-codegen cosine
    * verify; batch rows with a stored neighbor at cosine >= `minCosine`
    * are dropped.
    */
  def embeddingNoveltyGateEachBatch(idCol: String, vecCol: String,
                                    storeTable: String, storePath: String,
                                    outPath: String, minCosine: Double,
                                    nBuckets: Int = 8)(
      batch: DataFrame, batchId: Long): Unit = {
    val fresh = graft.util.Checkpoints.scoped(s"embgate:$storeTable")(
      graft.dedup.Dedup.embeddingGate(batch, idCol, vecCol, storeTable,
        minCosine))
    val replay = gatedSinkWrite(batch, idCol, fresh, outPath, batchId)
    graft.dedup.Dedup.appendVecStore(fresh, idCol, vecCol, storeTable,
      storePath, nBuckets = nBuckets, dedupAgainstStore = replay)
  }

  /** The segment-granular member of the streaming novelty-gate family:
    * each micro-batch document is REBUILT from its corpus-new 16-token
    * windows against the persisted segment-hash store
    * ([[graft.ops.Segments.dedupSegmentsIncremental]] semantics — the
    * C4 exact substring dedup running continuously). Unlike the
    * document-level gates the sink rows are not a subset of the batch
    * but derived `(doc_id, n_segs, n_kept, text_dedup)` rebuilds, so
    * the replay union is PRIOR-WINS by doc_id: a replayed batch re-gates
    * against the possibly-advanced store (its own segments may have
    * reached the store before the crash), and the original attempt's
    * rebuilds — already sunk — are the correct output for those docs.
    * The store append is idempotent without a replay flag: its input is
    * the kept segments of that re-gate, which excludes every hash a torn
    * first attempt already committed.
    */
  def segmentNoveltyGateEachBatch(w: Int, storeTable: String,
                                  storePath: String, outPath: String,
                                  nBuckets: Int = 8)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.ops.Segments
    // one materialization feeds the sink AND the store (scoped: see the
    // exact gate's note — batch N+1 releases batch N's blocks)
    val rows = graft.util.Checkpoints.scoped(s"seggate:$storeTable")(
      Segments.segmentGateRows(batch, w, storeTable))
    priorWinsWrite(Segments.reassembleRows(rows), outPath, batchId,
      s"seggate-replay:$outPath")
    graft.dedup.Dedup.appendHashStore(Segments.novelHashes(rows),
      storeTable, storePath, nBuckets)
  }

  /** Prior-wins partition write shared by the rebuild-sinking gates
    * (segment, span): the batch's `(doc_id, ...)` rebuilds land under
    * a `__batch_id=<id>` partition; on replay the original attempt's
    * already-sunk rebuilds win by doc_id (they were gated against the
    * pre-advance store — the correct output for those docs). The replay
    * union is eagerly checkpointed under `scopeKey` because the
    * overwrite targets the very path being read.
    */
  private def priorWinsWrite(rebuilt: DataFrame, outPath: String,
                             batchId: Long, scopeKey: String): Unit = {
    val spark = rebuilt.sparkSession
    val partDir =
      new org.apache.hadoop.fs.Path(outPath, s"__batch_id=$batchId")
    val fs = partDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val replay = fs.exists(partDir)
    val out =
      if (!replay) rebuilt
      else {
        val prior = spark.read.schema(rebuilt.schema)
          .parquet(partDir.toString)
        graft.util.Checkpoints.scoped(scopeKey)(
          rebuilt.join(prior.select(col("doc_id")), Seq("doc_id"),
              "left_anti")
            .unionByName(prior))
      }
    out.withColumn("__batch_id", lit(batchId))
      .write.partitionBy("__batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(outPath)
  }

  /** The span-granular member of the streaming novelty-gate family:
    * each micro-batch document is rebuilt with every w-token span that
    * duplicates the persisted window-hash store OR repeats within the
    * batch removed ([[graft.dedup.SpanDedup.duplicatedSpansIncremental]]
    * semantics — Lee-et-al exact substring dedup running continuously).
    * Sink rows are `(doc_id, text)` strip rebuilds, so the replay union
    * is PRIOR-WINS by doc_id (the segment gate's argument: a replayed
    * batch re-gates against the possibly-advanced store; the original
    * attempt's already-sunk rebuilds are the correct output for those
    * docs). The store append is idempotent WITHOUT a replay flag: its
    * input is itself an anti-join on the store's own key
    * ([[graft.dedup.SpanDedup.novelWindowHashes]]), so a replay re-adds
    * only what the torn attempt did not commit. The batch re-scans its
    * window hashes for the append — at the fused
    * [[graft.functions.TokenWindowHashes]] scan's cost that is cheaper
    * than holding a batch-lifetime checkpoint of the token-scale gram
    * frame (the q100 block-store lesson).
    */
  def spanNoveltyGateEachBatch(w: Int, storeTable: String,
                               storePath: String, outPath: String,
                               nBuckets: Int = 8)(
      batch: DataFrame, batchId: Long): Unit = {
    priorWinsWrite(
      graft.dedup.SpanDedup
        .stripDuplicatedSpansIncremental(batch, w, storeTable),
      outPath, batchId, s"spangate-replay:$outPath")
    graft.dedup.SpanDedup.appendSpanStore(
      graft.dedup.SpanDedup.novelWindowHashes(batch, w, storeTable),
      storeTable, storePath, nBuckets)
  }

  /** Replay-idempotent survivor write shared by the novelty gates: the
    * batch's surviving full rows land under a `__batch_id=<id>` partition
    * with dynamic partition-overwrite. The write is ADDITIVE under
    * replay: if a previous attempt already populated this batch's
    * partition, its rows are unioned back in (id-deduped) before the
    * overwrite. Without this, a crash midway through the subsequent
    * store append would make the replay's gate drop docs whose hashes
    * already reached the store, and a plain overwrite would silently
    * remove those already-sunk docs from the partition.
    *
    * Returns whether this batch is a REPLAY (its partition already
    * existed) — the callers' signal to make the subsequent store append
    * idempotent (`dedupAgainstStore`), since the torn first attempt may
    * already have committed part of it.
    */
  private def gatedSinkWrite(batch: DataFrame, idCol: String,
                             freshKeys: DataFrame, outPath: String,
                             batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val survivors =
      batch.join(freshKeys.select(col(idCol)), Seq(idCol), "left_semi")
    val partDir = new org.apache.hadoop.fs.Path(outPath, s"__batch_id=$batchId")
    val fs = partDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val replay = fs.exists(partDir)
    val withPrior =
      if (!replay) survivors
      // eager: the overwrite below targets the path being read, which
      // Spark (rightly) refuses inside one plan — materialize first
      // (scoped: a crash-replay-heavy stream must not accumulate one
      // checkpoint per replayed batch)
      else graft.util.Checkpoints.scoped(s"sink-replay:$outPath")(survivors
        // read the partition dir directly (no partition column inferred);
        // task files are moved in whole on commit, so any file present is
        // a complete fragment of the prior attempt
        .unionByName(spark.read.schema(survivors.schema)
          .parquet(partDir.toString))
        .dropDuplicates(idCol))
    withPrior
      .withColumn("__batch_id", lit(batchId))
      .write.partitionBy("__batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(outPath)
    replay
  }

  final case class KeyCount(key: String, total: Long)

  /** Custom state via `mapGroupsWithState`: per-key running totals that
    * persist across micro-batches (the streaming form of the cumulative
    * series W1/W2). ProcessingTimeTimeout keeps state bounded in real
    * deployments; no timeout here for deterministic tests.
    */
  def runningCountsByKey(keyed: Dataset[(String, Long)]): Dataset[KeyCount] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed.groupByKey(_._1)
      .mapGroupsWithState[Long, KeyCount](GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.map(_._2).sum
          state.update(total)
          KeyCount(key, total)
      }
  }

  /** Continuous corpus profiling: maintain ONE stream-wide Misra-Gries
    * heavy-hitter summary (≤ `cap` counters + the exact token total)
    * across micro-batches, at O(cap) state and O(batch) work per batch —
    * the streaming half of [[graft.text.HeavyHitters]]. Each batch
    * sketches ITSELF (one `mg_topk` aggregate over the batch), merges
    * with the predecessor's persisted summary by the same
    * subtract-the-(cap+1)-th rule the aggregate's own merge uses, and
    * persists the result under `storePath/summary_batch=<id>`; the
    * whole-stream recall guarantee (any term above streamTotal/(cap+1)
    * present) carries through because merge errors add. Read the live
    * summary with [[graft.text.HeavyHitters.summaryFromStore]]; when an
    * EXACT top-k snapshot is needed, run the q109 verify scan over the
    * accumulated corpus with the summary's terms as candidates.
    *
    * Replay safety: a batch merges from the newest summary STRICTLY
    * OLDER than its own id — a replayed batch therefore re-merges from
    * its predecessor and idempotently overwrites its own (possibly
    * torn) output; a crash between sink and summary writes loses
    * nothing (the summary is the only state). Batches of one query run
    * sequentially, the single-writer premise of every store here.
    */
  def heavyHittersEachBatch(textCol: String, storePath: String,
                            cap: Int = 256)(
      batch: DataFrame, batchId: Long): Unit = {
    graft.text.HeavyHitters.mergeAndWriteSummary(
      batch, textCol, storePath, batchId, cap)
    ()
  }

  /** Streaming boilerplate-token STRIP (r18) — [[heavyHittersEachBatch]]
    * composed with the q113 enforcement: the LIVE stop set derives from
    * the stream-wide Misra-Gries summary instead of a batch-exact
    * profile. Each micro-batch:
    *
    *  1. merges itself into the persisted summary (same store, state
    *     bound, and sweep as [[heavyHittersEachBatch]] — this closure
    *     IS that maintenance plus enforcement);
    *  2. derives the stop set from the summary it just wrote: terms
    *     whose counter `lb` exceeds `maxTokenFrac` of the stream's
    *     exact token total. `lb` is a LOWER bound, so the rule is
    *     SOUND — a stripped token truly exceeds the fraction — and the
    *     MG error bound (`total/(cap+1)`) makes it COMPLETE above
    *     `maxTokenFrac + 1/(cap+1)`; between the two thresholds
    *     stripping is best-effort, the inherent streaming relaxation
    *     of [[graft.text.HeavyHitters.stopTokens]]' exact batch
    *     contract (which certifies because it re-scans the corpus; a
    *     stream cannot);
    *  3. rebuilds every document through the one-scan
    *     [[graft.functions.StripStopTokensExpr]] enforcement — the
    *     collected stop set is ≤ `cap` rows by the summary bound —
    *     writing `(idCol, n_toks, n_kept, text_dedup)` under
    *     `__batch_id=<id>`.
    *
    * Replay: the summary merge re-reads the strictly-older predecessor
    * and idempotently overwrites this batch's summary, and the batch
    * overwrites its own `__batch_id` partition — so a replay never
    * duplicates rows and always leaves a SELF-CONSISTENT result (the
    * written rows match the written summary). The rows are not
    * guaranteed bit-identical across replays, though: once MG pruning
    * fires (vocab > 2*cap, per [[graft.functions.FreqSketch]]'s class
    * doc) the counter `lb` values depend on partitioning/merge order,
    * so a replayed batch under different partitioning can derive a
    * slightly different stop set near the threshold. Union-with-prior
    * machinery is still unnecessary — that exists for gates, whose
    * replayed survivor sets can shrink.
    */
  def stopTokenStripEachBatch(idCol: String, textCol: String,
                              storePath: String, outPath: String,
                              maxTokenFrac: Double,
                              cap: Int = 256): (DataFrame, Long) => Unit = {
    require(maxTokenFrac > 0.0 && maxTokenFrac < 1.0,
      s"maxTokenFrac must be in (0, 1), got $maxTokenFrac")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = graft.text.HeavyHitters.mergeAndWriteSummary(
        batch, textCol, storePath, batchId, cap)
      val (items, _) = graft.text.HeavyHitters.readSummary(
        spark, storePath, batchId + 1) // the summary just written
      val stop = items
        .filter(col("lb").cast("double") >
          lit(maxTokenFrac) * lit(total.toDouble))
        .select(col("term")).collect().map(_.getString(0)).toSeq.sorted
      graft.functions.StripStopTokens
        .stripProjection(batch, idCol, textCol, stop)
        .withColumn("__batch_id", lit(batchId))
        .write.partitionBy("__batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(outPath)
      ()
    }
  }

  /** Streaming model-based QUALITY gate — the CCNet deployment shape
    * end to end ([[graft.text.BigramLm.scoreAgainst]]'s scaladoc): a
    * bigram-LM model trained ONCE on a trusted reference corpus and
    * persisted ([[graft.text.BigramLm.saveModel]]), scoring every
    * micro-batch as it arrives; documents whose average conditional
    * transition probability falls below `minFluency` micro-points are
    * dropped before the sink. Returns the `foreachBatch` function: the
    * vocab-scale model parquet is read once, on the first batch, and
    * `persist`ed in a process-wide MODEL CACHE keyed by model path, so
    * a 1 Hz trigger re-plans one cached in-memory relation per batch
    * instead of re-listing and re-reading the model files every batch —
    * and a RESTARTED query (new closure, same path) reuses the cached model
    * instead of re-persisting a duplicate. The model is immutable by
    * contract (retrain = new path); release the memory with
    * [[uncacheFluencyModel]] when a model is retired. No other
    * per-batch state exists, so replay safety is just the sink's
    * batch-partitioned overwrite ([[gatedSinkWrite]]).
    *
    * Scoring policy: out-of-vocabulary transitions score zero
    * (maximally non-fluent) — the bias a REFERENCE-trained filter
    * wants, novel gibberish cannot pass by being novel — and a
    * document with FEWER THAN TWO tokens has no transitions at all, so
    * it carries zero fluency evidence and scores 0.0 by the same rule
    * (the batch's ids are left-joined against the scores, never
    * semi-joined, so zero-bigram docs get a DEFINED fluency instead of
    * silent removal): sub-2-token docs pass exactly when
    * `minFluency <= 0`.
    *
    * Scale: per batch, one fused scoring scan of the batch
    * ([[graft.functions.BigramHashCounts]]) + one shuffle_hash join
    * against the cached vocab-scale model + the doc-keyed
    * aggregate — O(batch), never O(stream).
    */
  def fluencyGateEachBatch(idCol: String, textCol: String,
                           modelPath: String, minFluency: Double,
                           outPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      // Keyed by path; a cached frame from a DIFFERENT session (stopped,
      // or a sibling sharing the JVM) is replaced. The parquet
      // listing/read happens OUTSIDE the map (no I/O under the
      // ConcurrentHashMap bin lock), and the displaced entry is
      // unpersisted so its blocks don't leak if the prior session is
      // still live — a reader mid-flight on the displaced frame merely
      // recomputes, unpersist is never unsafe. The benign get/put race
      // (two sessions alternating on one path) at worst re-reads; the
      // steady state is single-session, single-writer per query.
      val cached = fluencyModelCache.get(modelPath)
      val model =
        if (cached != null && (cached.sparkSession eq spark)) cached
        else {
          val fresh = spark.read.parquet(modelPath)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val prev = fluencyModelCache.put(modelPath, fresh)
          if (prev != null && !(prev eq fresh))
            scala.util.Try(prev.unpersist(blocking = false))
          fresh
        }
      val scores = graft.text.BigramLm.scoreAgainst(model,
        batch.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      val pass = batch.select(col(idCol).as("doc_id"))
        .join(scores.select(col("doc_id"), col("fluency")),
          Seq("doc_id"), "left_outer")
        .filter(coalesce(col("fluency"), lit(0.0)) >= minFluency)
        .select(col("doc_id").as(idCol))
      gatedSinkWrite(batch, idCol, pass, outPath, batchId)
      ()
    }
  }

  /** Process-wide cache of persisted fluency models, keyed by model
    * path ([[fluencyGateEachBatch]] class doc): models are immutable
    * (retrain = new path), so the path IS the identity; entries whose
    * owning session has been replaced re-read lazily on next use.
    */
  private val fluencyModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Drop a retired model from the [[fluencyGateEachBatch]] cache and
    * release its persisted blocks. Safe to call for an uncached path.
    */
  def uncacheFluencyModel(modelPath: String): Unit = {
    val df = fluencyModelCache.remove(modelPath)
    if (df != null)
      scala.util.Try(df.unpersist(blocking = false))
    ()
  }

  /** OutputMode helpers pinned in one place for the write sites. */
  val AppendMode: OutputMode = OutputMode.Append()
  val CompleteMode: OutputMode = OutputMode.Complete()
  val UpdateMode: OutputMode = OutputMode.Update()
}
