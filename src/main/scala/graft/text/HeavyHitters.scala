package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{MisraGriesAgg, TermCounts}

/** Exact corpus-level heavy hitters (top-k most frequent tokens) in two
  * bounded-state scans — the classic sketch-then-verify shape, never a
  * vocabulary-scale exchange.
  *
  * Beyond the reference's scope (mariuspopovici/COVID-19-FL aggregates
  * record counts, not token statistics); this is the corpus-profiling
  * primitive of an LLM-data pipeline: boilerplate discovery, stopword
  * induction, tokenizer sanity checks all start from "which tokens
  * dominate this 100 TB crawl".
  *
  * Why not `explode → groupBy(term) → orderBy limit k`: on a web-scale
  * corpus the vocabulary is billions of near-unique terms (URLs, ids,
  * typos), and that plan's exchange ships ONE ROW PER DISTINCT TERM PER
  * TASK even after map-side combine — a vocabulary-scale shuffle to
  * find twenty winners. DuckDB pays the same: its hash table holds the
  * full vocabulary. The two-scan shape instead:
  *
  *  1. **Sketch** — one scan folds every partition into a
  *     [[MisraGriesAgg]] summary (≤ `2*cap` counters, O(1) amortized
  *     per token); the exchange carries one ≤`cap`-item summary per
  *     partial buffer. The merged summary is guaranteed to contain
  *     every term whose true frequency exceeds `total/(cap+1)`.
  *  2. **Verify** — a second scan counts ONLY the ≤`cap` candidate
  *     terms exactly: `explode(term_counts)` pruned by a BROADCAST
  *     semi-ish join against the candidates (the sketch result is one
  *     row — broadcasting it costs nothing), so the final exchange
  *     carries ≤ `cap` keys per task.
  *
  * The output's `provable` column certifies each row from the data
  * itself: `cnt * (cap+1) > total` means every non-candidate term's
  * count (≤ `total/(cap+1)`) is strictly below this row's — the row
  * provably belongs to the true top set and its count is exact. When
  * all k rows are provable, the result IS the exact top-k. A corpus
  * where the k-th hitter is below the threshold needs a larger `cap`
  * (state grows linearly, the plan is unchanged) — the flag makes the
  * failure observable instead of silent, and HeavyHittersSpec pins
  * both sides.
  *
  * No driver-side collect anywhere: the candidate set moves as a
  * broadcast relation, not literals.
  */
object HeavyHitters {

  /** `(term, cnt, provable)` — the top `k` tokens by exact count,
    * descending, ties broken by term; counts computed from a `cap`-wide
    * sketch plus a candidates-only verify scan (class doc).
    */
  def exactTopK(docs: DataFrame, k: Int, cap: Int = 256): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(cap >= k, s"cap ($cap) must be >= k ($k)")
    verifiedCandidateCounts(docs, cap)
      .select(col("term"), col("cnt"),
        (col("cnt") * lit(cap.toLong + 1) > col("total")).as("provable"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(k)
  }

  /** The shared sketch-then-verify core: `(term, total, cnt)` — exact
    * corpus counts for every sketch candidate (class doc shape: one
    * `mg_topk` scan nominates ≤ `cap` candidates, one broadcast-pruned
    * scan counts exactly those).
    */
  private def verifiedCandidateCounts(docs: DataFrame, cap: Int): DataFrame = {
    val candidates = docs
      .agg(MisraGriesAgg.mgTopK(col("text"), cap).as("s"))
      .select(col("s.total").as("total"), explode(col("s.items")).as("it"))
      .select(col("total"), col("it.term").as("term"))
    docs
      .select(explode(TermCounts.termCounts(col("text"))).as("tc"))
      .select(col("tc.term").as("term"), col("tc.cnt").cast("long").as("c"))
      .join(broadcast(candidates), Seq("term")) // inner: candidates only
      .groupBy(col("term"), col("total"))
      .agg(sum(col("c")).as("cnt"))
  }

  /** PROFILE→CONFIG: the tokens whose exact corpus occurrence fraction
    * exceeds `maxTokenFrac`, as `(term, cnt, total)` — the q109
    * heavy-hitter profile turned into a stop-token RULE for the
    * curation pipeline's boilerplate tier. The set is EXACT AND
    * COMPLETE, not best-effort: `maxTokenFrac >= 1/(cap+1)` is required
    * below, so the Misra-Gries recall guarantee (every term above
    * `total/(cap+1)` is a sketch candidate) covers the rule's whole
    * threshold region and the verify scan's counts are exact — a
    * dominant token CANNOT be missed, and the require makes an
    * under-capped rule loud instead of silently lossy. Broadcast-small
    * by construction: at most `1/maxTokenFrac` tokens can each exceed
    * that fraction of the total.
    */
  def stopTokens(docs: DataFrame, maxTokenFrac: Double,
                 cap: Int = 256): DataFrame = {
    require(maxTokenFrac > 0.0 && maxTokenFrac < 1.0,
      s"maxTokenFrac must be in (0, 1), got $maxTokenFrac")
    require(maxTokenFrac * (cap + 1) >= 1.0,
      s"maxTokenFrac=$maxTokenFrac is below the cap=$cap sketch's recall " +
        s"guarantee threshold 1/${cap + 1} — the stop set could miss a " +
        "qualifying token; raise cap to at least " +
        s"${math.ceil(1.0 / maxTokenFrac).toLong} or raise the fraction")
    verifiedCandidateCounts(docs, cap)
      .filter(col("cnt").cast("double") >
        lit(maxTokenFrac) * col("total").cast("double"))
      .select(col("term"), col("cnt"), col("total"))
  }

  /** PROFILE→CONFIG→ENFORCE (the q109 → q87 composition, r18): drop
    * every [[stopTokens]] token corpus-wide and rebuild each document.
    * Returns `(doc_id, n_toks, n_kept, text_dedup)`.
    *
    * Plan: the q109 sketch (one-row aggregate) + cap-keyed verify build
    * the stop set, which is then COLLECTED — bounded by construction at
    * ≤ `1/maxTokenFrac` rows (the [[stopTokens]] mass argument), the
    * same bounded-collect class as [[graft.dedup.Decontaminate]]'s probe
    * filter — and the whole
    * enforcement half runs as ONE narrow codegen projection
    * ([[graft.functions.StripStopTokensExpr]]): a token is a width-1
    * segment, and a width-1 stop rule against a driver-held set needs
    * no per-position bookkeeping, so the segment machinery's per-token
    * md5 scan, kept-positions exchange, and rebuild join all collapse
    * into the scan (measured A/B in the expression's scaladoc; the
    * width-16 rule of `dropStopSegments` keeps the machinery because
    * its windows genuinely need position bookkeeping). Zero exchanges
    * beyond the profile's own (the PLANS q113 row).
    */
  def dropStopTokens(docs: DataFrame, maxTokenFrac: Double,
                     cap: Int = 256): DataFrame = {
    val stop = stopTokens(docs, maxTokenFrac, cap)
      .select(col("term")).collect().map(_.getString(0)).toSeq.sorted
    graft.functions.StripStopTokens
      .stripProjection(docs, "doc_id", "text", stop)
  }

  // ---------------------------------------------------------------
  // Incremental (streaming) summary maintenance — see
  // StreamingOps.heavyHittersEachBatch for the foreachBatch wrapper.
  // The persisted state is ONE Misra-Gries summary (≤ cap counters +
  // the exact token total), written per batch under
  // `storePath/summary_batch=<id>`; a batch merges the PRIOR summary
  // with its own sketch using the same subtract-the-(cap+1)-th rule as
  // MisraGriesAgg.merge, so the maintained summary carries the same
  // recall guarantee over the WHOLE stream (errors add: any term above
  // streamTotal/(cap+1) is present). The merge runs as DataFrame ops
  // over ≤ 2*cap+2 rows — bounded by construction, no driver collect.
  // A summary row with a NULL term is the meta row carrying the total
  // (an adversarially flat batch can cancel every counter while still
  // having counted tokens).
  // ---------------------------------------------------------------

  private def summaryDir(storePath: String, batchId: Long): String =
    s"$storePath/summary_batch=$batchId"

  /** The latest persisted summary STRICTLY BEFORE `beforeBatch`
    * (replay safety: a replayed batch must merge from its
    * predecessor's summary, never its own torn first attempt), as
    * `(items, total)`; `(empty, 0)` when none exists.
    *
    * `tolerant = false` (the MERGE path): a summary that lists but
    * cannot be read THROWS — under the single-writer premise the
    * predecessor completed before this batch started, so an unreadable
    * predecessor is store corruption and silently falling back a batch
    * would drop its contribution from the stream total forever.
    *
    * `tolerant = true` (the public [[summaryFromStore]] reader, which
    * may race the live writer): the NEWEST dir can be mid-overwrite
    * (torn files, or no null-term meta row yet) and an older listed dir
    * can vanish under the sweep between listing and read — so walk the
    * candidates newest-first, skipping any that fail to read, and if
    * every listed candidate failed re-list ONCE and walk again (after
    * batch 1 the sweep keeps the two newest dirs, so a fresh listing
    * names a stable readable summary). If candidates WERE listed but
    * none could be read even after the re-list (a single-summary store
    * torn at batch 0 — no predecessor to fall back to), the read THROWS
    * rather than fabricating an empty stream: `(empty, 0)` means "no
    * summaries exist", never "summaries exist but are unreadable".
    */
  private[graft] def readSummary(spark: org.apache.spark.sql.SparkSession,
                                 storePath: String,
                                 beforeBatch: Long,
                                 tolerant: Boolean = false): (DataFrame, Long) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val Dir = """summary_batch=(\d+)""".r
    def candidates(): Seq[Long] =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).flatMap(_.getPath.getName match {
        case Dir(id) if id.toLong < beforeBatch => Some(id.toLong)
        case _ => None
      }).toSeq.sorted(Ordering[Long].reverse)
    def readOne(id: Long): (DataFrame, Long) = {
      val df = spark.read.parquet(summaryDir(storePath, id))
      val total = df.filter(col("term").isNull)
        .select(col("total")).head().getLong(0)
      (df.filter(col("term").isNotNull).select(col("term"), col("lb")),
        total)
    }
    def empty(): (DataFrame, Long) = {
      import spark.implicits._
      (Seq.empty[(String, Long)].toDF("term", "lb"), 0L)
    }
    if (!tolerant) {
      candidates().headOption.map(readOne).getOrElse(empty())
    } else {
      def walk(ids: Seq[Long]): Option[(DataFrame, Long)] =
        ids.iterator.map(id => scala.util.Try(readOne(id)).toOption)
          .collectFirst { case Some(r) => r }
      val first = candidates()
      if (first.isEmpty) empty()
      else walk(first).orElse(walk(candidates())).getOrElse(
        throw new java.io.IOException(
          s"dailysummary: $storePath lists ${first.size} summary dir(s) " +
            "but none could be read even after a re-list — the store is " +
            "torn with no readable predecessor (a batch-0 crash?); " +
            "replay the stream's last batch or remove the torn dir"))
    }
  }

  /** Merge the prior summary with a batch's sketch and persist as this
    * batch's summary — the [[MisraGriesAgg]] merge rule expressed as
    * DataFrame ops over ≤ `2*cap + 2` rows. Returns the new exact
    * stream total. Rewriting the same `batchId` is idempotent (replay
    * overwrites its own output, inputs pinned to the predecessor).
    */
  private[graft] def mergeAndWriteSummary(
      docs: DataFrame, textCol: String, storePath: String,
      batchId: Long, cap: Int): Long = {
    val spark = docs.sparkSession
    val (priorItems, priorTotal) = readSummary(spark, storePath, batchId)
    val batchRow = docs
      .agg(MisraGriesAgg.mgTopK(col(textCol), cap).as("s"))
      .select(col("s.total").as("t"), col("s.items").as("items"))
      .head()
    val batchTotal = batchRow.getLong(0)
    val batchItems = batchRow.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getLong(1)))
    import spark.implicits._
    val merged = priorItems
      .union(batchItems.toDF("term", "lb"))
      .groupBy("term").agg(sum("lb").as("lb"))
    // MG prune, declaratively: subtract the (cap+1)-th largest counter
    // (0 when ≤ cap survive) and drop the non-positive
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lb").desc, col("term").asc)
    val ranked = merged.withColumn("r", row_number().over(w))
    val dRow = ranked.filter(col("r") === cap + 1)
      .agg(max(col("lb")).as("d"))
    val total = priorTotal + batchTotal
    val pruned = ranked.crossJoin(broadcast(dRow))
      .select(col("term"), (col("lb") - coalesce(col("d"), lit(0L))).as("lb"))
      .filter(col("lb") > 0)
      .withColumn("total", lit(total))
    val meta = Seq((null: String, 0L, total)).toDF("term", "lb", "total")
    pruned.union(meta).coalesce(1)
      .write.mode("overwrite").parquet(summaryDir(storePath, batchId))
    // bound the store: replay safety only ever needs the PREDECESSOR
    // summary, so dirs older than batchId - 1 are dead — without this
    // sweep a long-running stream grows one dir per micro-batch forever
    // and readSummary's listing slows with stream age
    locally {
      import org.apache.hadoop.fs.Path
      val root = new Path(storePath)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val Dir = """summary_batch=(\d+)""".r
      fs.listStatus(root).foreach { st =>
        st.getPath.getName match {
          case Dir(id) if id.toLong < batchId - 1 =>
            fs.delete(st.getPath, true)
          case _ => ()
        }
      }
    }
    total
  }

  /** The maintained stream-wide summary as of the newest persisted
    * batch: `(term, lb, total)`, `lb` descending — `lb` is a lower
    * bound on the term's whole-stream count, and every term above
    * `total / (cap+1)` is guaranteed present (class doc of
    * [[MisraGriesAgg]]; errors add across merges).
    */
  def summaryFromStore(spark: org.apache.spark.sql.SparkSession,
                       storePath: String): DataFrame = {
    val (items, total) =
      readSummary(spark, storePath, Long.MaxValue, tolerant = true)
    items.withColumn("total", lit(total))
      .orderBy(col("lb").desc, col("term").asc)
  }

  /** Per-GROUP exact heavy hitters — `(group, term, cnt, provable)`,
    * the top `k` tokens of every `groupCol` stratum (per-language /
    * per-source boilerplate profiling). The same two-scan shape with
    * `mg_topk` running as an ordinary grouped aggregate: the sketch
    * exchange carries one ≤`cap`-item summary per (group, partial
    * buffer), the verify join carries ≤ `groups * cap` candidate rows,
    * and the final per-group top-k is a window over ≤ `groups * cap`
    * verified counts — no stage is vocabulary-scale. `provable`
    * certifies against the GROUP's own token total.
    *
    * The candidate join's side is `groups × cap` rows, so its strategy
    * is a LOUD contract on group cardinality, not a silent assumption
    * (a per-language call is tens of groups; a per-domain call can be
    * millions): the group count is pre-measured with one column-pruned
    * `approx_count_distinct` scan (±~5% — a threshold decision, not a
    * result), and
    *  - at or below `maxBroadcastGroups` the candidates BROADCAST
    *    (the low-stratum fast path, no stream exchange for the join);
    *  - above it the verify falls through to a SHUFFLED hash join on
    *    `(group, term)` — result-equal, spec-pinned — whose candidate
    *    side stays `groups × cap` rows per partition-of-key rather
    *    than `groups × cap` rows ON EVERY EXECUTOR.
    * The default (4096 groups × cap 256 ≈ 1M candidate rows) keeps the
    * broadcast under tens of MB; raise it only with executor memory to
    * spare.
    */
  def exactTopKByGroup(docs: DataFrame, groupCol: String, k: Int,
                       cap: Int = 256,
                       maxBroadcastGroups: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(cap >= k, s"cap ($cap) must be >= k ($k)")
    require(maxBroadcastGroups >= 1,
      s"maxBroadcastGroups must be >= 1, got $maxBroadcastGroups")
    val nGroups = docs
      .agg(approx_count_distinct(col(groupCol)).as("n"))
      .head().getLong(0)
    val candidates = docs
      .groupBy(col(groupCol))
      .agg(MisraGriesAgg.mgTopK(col("text"), cap).as("s"))
      .select(col(groupCol), col("s.total").as("total"),
        explode(col("s.items")).as("it"))
      .select(col(groupCol), col("total"), col("it.term").as("term"))
    // null-safe on the group key (<=>): an equi-join would silently drop
    // a NULL-valued stratum — its sketch row exists but matches nothing
    val cand = candidates.select(col(groupCol).as("c_grp"),
      col("total"), col("term").as("c_term"))
    val candSided =
      if (nGroups <= maxBroadcastGroups) broadcast(cand)
      else cand.hint("shuffle_hash")
    val verified = docs
      .select(col(groupCol),
        explode(TermCounts.termCounts(col("text"))).as("tc"))
      .select(col(groupCol), col("tc.term").as("term"),
        col("tc.cnt").cast("long").as("c"))
      .join(candSided,
        col(groupCol) <=> col("c_grp") && col("term") === col("c_term"))
      .groupBy(col(groupCol), col("term"), col("total"))
      .agg(sum(col("c")).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("cnt").desc, col("term").asc)
    verified
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(groupCol), col("term"), col("cnt"),
        (col("cnt") * lit(cap.toLong + 1) > col("total")).as("provable"))
      .orderBy(col(groupCol), col("cnt").desc, col("term").asc)
  }
}
