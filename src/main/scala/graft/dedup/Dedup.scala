package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. All built from shuffle-conscious primitives:
  *
  *  - exact dedup is one hash aggregate on the text key;
  *  - MinHash/LSH turns all-pairs similarity (O(n²), impossible at 100 TB)
  *    into an equi-join on band buckets — the only shuffle keys are
  *    (band, bucket-hash), so co-candidates co-locate and everything else
  *    never pairs up;
  *  - SimHash bands 64 bits into 4×16-bit exact-match keys (any band equal
  *    → candidate), then verifies with `bit_count(xor)` hamming distance;
  *  - n-gram Jaccard uses an inverted shingle index join (exact, for
  *    verification tiers / small candidate sets).
  *
  * Everything is expression-level (codegen'd); the per-shingle hash fan-out
  * is the standard expand and runs as a narrow map + partial aggregate.
  *
  * Id contract: every operator here accepts an id column of ANY
  * orderable type. The join/min-label tiers (ngramJaccard,
  * canonicalClusters, exact) and the incremental gates (pure joins and
  * min-aggregates on the id) are type-agnostic natively. The candidate
  * stages (lshCandidates, simhashCandidates, embeddingNearDups) gather
  * `(id, payload)` tuples in [[graft.functions.BoundedIds]], which holds
  * ids of any orderable atomic type in Spark's internal form, so every
  * id type takes the same in-bucket path and pairs normalize in the id
  * type's own order.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Action-free bucket cap for the incremental gates'
    * BATCH side: a window count over the bucket key filters over-cap
    * buckets inline, with no driver-side stats job. The window's
    * exchange hash-partitions the rows on exactly the key the store
    * join shuffles them to anyway, so the join reuses it — the cap is
    * effectively free, where a count+anti-join form would pay a separate
    * aggregate job per micro-batch. Silent like [[bucketPairs]]'
    * cap; [[bucketCapAudit]] is the monitoring-cadence counterpart.
    */
  private def capBucketsInline(rows: DataFrame, keys: Seq[String],
                               maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    rows.withColumn("__bsz", count(lit(1)).over(w))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")
  }

  /** Exact dedup: canonical (minimum) id per identical text.
    *
    * Groups on the 128-bit md5 of the text, not the text itself: the
    * aggregation exchange then shuffles 16-byte hashes + ids instead of
    * full document bodies — at corpus scale the difference between
    * shuffling gigabytes and shuffling the whole corpus. (Standard
    * exact-dedup practice: a 128-bit collision over any realistic corpus
    * is vanishingly unlikely, and the same hash is already the emitted
    * `text_hash` identity.)
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("text_hash"))

  /** Incremental exact dedup against a persisted corpus hash store — the
    * daily-batch shape of corpus curation. Survivors are batch rows whose
    * text hash appears neither in the store nor earlier (minimum id) in
    * the batch; only their `(id, text_hash)` pairs are appended, so the
    * next batch sees them.
    *
    * Returns the surviving batch ROWS: every batch column, in input
    * order, then `text_hash` — so a pipeline's next tier reads the
    * checkpointed survivors instead of re-joining the batch. Rows with
    * the same text collapse to the minimum-id row (one of them when ids
    * tie too). A batch column named `text_hash` is rejected.
    *
    * The store holds ONE 16-byte hash + canonical id per corpus document
    * and lives as a table bucketed on the hash
    * (graft.pipelines.Sinks.reloadBucketed). The planner picks the store
    * join: it broadcasts the store while the store is under
    * `spark.sql.autoBroadcastJoinThreshold`, and past that it plans a
    * sort-merge join that reads the store through its bucketing, with
    * no exchange on the store side. Either way only the batch shuffles,
    * but every call scans the whole store once.
    */
  def exactIncremental(batch: DataFrame, idCol: String, textCol: String,
                       storeTable: String, storePath: String,
                       nBuckets: Int = 8): DataFrame = {
    require(!batch.columns.contains("text_hash"),
      "exactIncremental: the batch must not carry a text_hash column " +
        "(the gate adds it)")
    // materialized once: both returned to the caller and appended below
    val out = notInStore(firstPerText(batch, idCol, textCol, batch.columns),
      storeTable).localCheckpoint()
    appendHashStore(out.select(col(idCol), col("text_hash")), storeTable,
      storePath, nBuckets)
    out
  }

  /** The read-only, key-only form of [[exactIncremental]]: the canonical
    * (min-id, text_hash) pairs of the batch whose text is corpus-new,
    * the same rows exactIncremental returns, without the other batch
    * columns (so only ids and 16-byte hashes cross the exchange). No
    * writes — callers that need survivors durable before the store
    * advances (e.g. the streaming gate, which must order its sink write
    * first for replay idempotence) sequence [[appendHashStore]]
    * themselves.
    */
  def exactGate(batch: DataFrame, idCol: String, textCol: String,
                storeTable: String): DataFrame =
    notInStore(firstPerText(batch, idCol, textCol, Seq(idCol)), storeTable)

  /** The in-batch half every exact gate shares: one row per distinct
    * text, its minimum-id row restricted to `carry`, then `text_hash`.
    * The key is unhex(md5): the digest as 16 raw bytes, not the 32-char
    * hex string, which halves the store. `min_by` on the text hash is
    * the one-pass form of `curate`'s tier 2; a single carried column
    * keeps a primitive buffer (hash aggregate), several need a struct
    * buffer (sort aggregate).
    */
  private def firstPerText(batch: DataFrame, idCol: String, textCol: String,
                           carry: Seq[String]): DataFrame = {
    val (value, fields) = carry match {
      case Seq(c) => (col(c), Seq(col("__first").as(c)))
      case cs => (struct(cs.map(col): _*),
        cs.map(c => col("__first").getField(c).as(c)))
    }
    batch.groupBy(unhex(md5(col(textCol))).as("text_hash"))
      .agg(min_by(value, col(idCol)).as("__first"))
      .select(fields :+ col("text_hash"): _*)
  }

  /** Rows whose `text_hash` is not in the hash store (all rows when the
    * store does not exist yet).
    */
  private def notInStore(rows: DataFrame, storeTable: String): DataFrame = {
    val s = rows.sparkSession
    if (!s.catalog.tableExists(storeTable)) rows
    else rows.join(s.table(storeTable), Seq("text_hash"), "left_anti")
  }

  /** The write half of [[exactIncremental]]: seed or extend the bucketed
    * corpus hash store with this batch's surviving (id, text_hash) rows.
    *
    * No replay flag, unlike [[appendSigStore]]: every caller appends the
    * output of a gate that anti-joins the store on this same key (the
    * exact gate, the segment gate), so a replay after a torn append
    * re-gates against the advanced store and re-adds only the hashes
    * the first attempt did not commit.
    */
  def appendHashStore(keys: DataFrame, storeTable: String,
                      storePath: String, nBuckets: Int = 8): Unit =
    seedOrAppend(keys, storeTable, storePath, Seq("text_hash"),
      keys.columns.toSeq, nBuckets, dedupAgainstStore = false)

  /** Incremental near-dup novelty filter against a persisted MinHash
    * signature store — "which of today's documents are new vs the
    * corpus", answered without rescanning the corpus. Batch rows whose
    * signature has NO stored near-neighbor (band collision with
    * `est_jaccard >= minEstJaccard`) survive; their signatures and band
    * rows are appended so tomorrow's batch sees them. In-batch dedup is
    * the batch-local tiers' job ([[exact]]/[[lshCandidates]]/
    * [[canonicalClusters]]) — this op only gates against the corpus.
    *
    * Other `batchSig` columns ride along: the surviving rows come back
    * whole, while the stores receive only `(id, sig)` and the band rows.
    *
    * Store layout: a band table bucketed on (band, bkey) and a signature
    * table bucketed on the id; [[minhashGate]] states how the planner
    * joins them. Shuffle scales with the batch and its candidate
    * fan-out; each call scans both store tables once.
    */
  def minhashIncremental(batchSig: DataFrame, idCol: String,
                         storeTable: String, storePath: String,
                         bands: Int, minEstJaccard: Double,
                         maxBucket: Int = 500, nBuckets: Int = 8): DataFrame = {
    // materialized once: returned to the caller and appended below
    val out = minhashGate(batchSig, idCol, storeTable, bands, minEstJaccard,
      maxBucket).localCheckpoint()
    appendSigStore(out, idCol, storeTable, storePath, bands, nBuckets)
    out
  }

  /** The read-only half of [[minhashIncremental]]: batch signature rows
    * (every column of `batchSig`) with no stored near-neighbor. No
    * writes — streaming callers sink the survivors durably first, then
    * [[appendSigStore]].
    *
    * Planner contract: both store joins are plain equi-joins on the
    * tables' bucket keys, so Spark broadcasts whichever side is under
    * `spark.sql.autoBroadcastJoinThreshold` (the batch's band rows, or a
    * small store), and once both sides are past it plans a sort-merge
    * join that reads the store through its bucketing, with no exchange
    * on the store side (StoreGatePlanSpec pins both plans).
    */
  def minhashGate(batchSig: DataFrame, idCol: String, storeTable: String,
                  bands: Int, minEstJaccard: Double,
                  maxBucket: Int = 500): DataFrame = {
    val s = batchSig.sparkSession
    val bandsT = s"${storeTable}_bands"
    val sigsT = s"${storeTable}_sigs"
    if (!s.catalog.tableExists(bandsT)) batchSig
    else {
      val batchBands = capBucketsInline(bandRowsOf(batchSig, idCol, bands),
        Seq("band", "bkey"), maxBucket)
      // no pair-level distinct: a pair colliding in several bands reaches
      // the verify joins once per band (bounded by the band count), but
      // the id set is distinct'd after the filter anyway — dropping the
      // (id1, id2)-keyed exchange is the better trade on a per-batch path
      val pairs = batchBands
        .select(col(idCol).as("id1"), col("band"), col("bkey"))
        .join(s.table(bandsT)
          .select(col(idCol).as("id2"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .select("id1", "id2")
      val dupIds = pairs
        .join(batchSig.select(col(idCol).as("id1"), col("sig").as("sig1")),
          "id1")
        .join(s.table(sigsT)
          .select(col(idCol).as("id2"), col("sig").as("sig2")), "id2")
        .filter(graft.functions.SigOverlap.sigOverlap(col("sig1"), col("sig2"))
          >= minEstJaccard)
        .select(col("id1").as(idCol)).distinct()
      batchSig.join(dupIds, Seq(idCol), "left_anti")
    }
  }

  /** The write half of [[minhashIncremental]]: seed or extend the band +
    * signature stores with this batch's surviving signature rows (only
    * `idCol` and `sig` are stored; other columns are ignored).
    *
    * `dedupAgainstStore = true` makes the append idempotent under
    * crash-replay: each frame is anti-joined against its table's current
    * content first, so rows a torn earlier attempt already committed are
    * skipped rather than duplicated. Off the normal path (it re-reads the
    * store side); the streaming gates pass it only for a micro-batch
    * detected as a replay.
    */
  def appendSigStore(sigs: DataFrame, idCol: String, storeTable: String,
                     storePath: String, bands: Int, nBuckets: Int = 8,
                     dedupAgainstStore: Boolean = false): Unit = {
    seedOrAppend(bandRowsOf(sigs, idCol, bands), s"${storeTable}_bands",
      s"$storePath/bands", Seq("band", "bkey"), Seq(idCol, "band", "bkey"),
      nBuckets, dedupAgainstStore)
    seedOrAppend(sigs.select(col(idCol), col("sig")), s"${storeTable}_sigs",
      s"$storePath/sigs", Seq(idCol), Seq(idCol), nBuckets, dedupAgainstStore)
  }

  /** Seed-or-append one bucketed store table, shared by the append
    * halves. Each table is handled independently, so a torn multi-table
    * append (first table created, crash before the second) recovers
    * naturally: the existing table takes the append path, the missing one
    * is seeded. With `dedupAgainstStore`, rows already present (full
    * identity on `dedupKeys`) are anti-joined away first — `dedupKeys`
    * always contains the bucket keys, so the store side of that join
    * stays co-located.
    */
  private def seedOrAppend(df: DataFrame, table: String, path: String,
                           bucketKeys: Seq[String], dedupKeys: Seq[String],
                           nBuckets: Int, dedupAgainstStore: Boolean): Unit = {
    val s = df.sparkSession
    if (!s.catalog.tableExists(table))
      graft.pipelines.Sinks.reloadBucketedBy(df, table, path, bucketKeys,
        nBuckets)
    else {
      val rows =
        if (!dedupAgainstStore) df
        else df.join(
          s.table(table).select(dedupKeys.map(col): _*),
          dedupKeys, "left_anti")
      graft.pipelines.Sinks.appendBucketedBy(rows, table, path, bucketKeys,
        nBuckets)
    }
  }

  /** 61-bit shingle-hash space for the exact-Jaccard tier: large enough
    * that hash-distinct == string-distinct in practice (collision odds
    * within one posting-capped corpus are ~#shingles²/2^62), small enough
    * to stay a positive long.
    */
  private val ShingleHashMod = (1L << 61) - 1

  /** Distinct character n-gram shingles, one row per (id, shingle),
    * represented by their 61-bit one-pass hash (graft.functions
    * .NgramHasher): the substring-per-position form both re-seeks UTF-8
    * boundaries from the string start (O(len²) per document) and would
    * shuffle shingle STRINGS through the distinct — the hash form is
    * O(len) compute with an 8-byte shuffle key.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    df.select(col(idCol),
        explode(graft.functions.Texts.ngramHashes(col(textCol), n, ShingleHashMod))
          .as("shingle"))
      .distinct()
  }

  /** MinHash signatures: `numHashes` per-document minima over shingle
    * hashes. Output: (id, sig array<long>).
    *
    * One hash-aggregate pass with `numHashes` parallel `min` columns over
    * the shingle rows — no positional explode (which would multiply the
    * shuffle by `numHashes`) and no second aggregation. At 100 TB the only
    * shuffle is the per-document shingle partial-agg, with map-side
    * combine doing most of the min-ing.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 32, shingleN: Int = 5): DataFrame = {
    // The signature is a pure function of the text, so it is ONE codegen
    // expression over the scan (graft.functions.MinHashSig): shingle
    // hashing and all k affine minimums fused into a per-row loop, ZERO
    // shuffle. This replaced explode(ngram_hashes) + groupBy(id).agg(k
    // mins) — a ~300x row expansion plus a full aggregate exchange for a
    // per-document value (and before that, a transform()-array form
    // whose project collapse re-evaluated the array per aggregate, the
    // O(k²) trap the scaladoc history warns about). Values are
    // bit-identical across all three formulations; MinHashSigSpec pins
    // the explode+agg equivalence.
    withMinhashSig(df.select(col(idCol), col(textCol)), textCol, numHashes,
      shingleN).select(col(idCol), col("sig"))
  }

  /** [[minhashSignatures]] keeping every row column: `df` with `sig`
    * appended (an existing `sig` column is replaced), null-text rows
    * dropped.
    */
  private[graft] def withMinhashSig(df: DataFrame, textCol: String,
                                    numHashes: Int, shingleN: Int): DataFrame = {
    val p = 2147483647L
    // null-text docs are dropped, preserving the explode+agg row set
    // (explode of a null array emitted nothing). Without the filter a
    // null sig would give every null-text doc the SAME band key
    // (xxhash64 skips the null slice) — spurious candidate pairs now,
    // and an uncapped ever-growing store bucket in minhashGate later.
    // The filter is on the text, not on `sig`: minhash_sig is null
    // exactly for null text, and a `sig IS NOT NULL` filter is pushed
    // below the projection with the expression substituted, so the
    // signature would be computed twice per row.
    df.filter(col(textCol).isNotNull)
      .withColumn("sig", graft.functions.MinHashSig
        .minhashSig(col(textCol), numHashes, shingleN, p))
  }

  /** (id, band, bkey) rows of a signature frame: each signature splits
    * into `bands` equal slices, keyed by the slice hash.
    * (`private[graft]`: StreamingOpsSpec appends band rows alone to
    * simulate a crash midway through [[appendSigStore]]'s two jobs.)
    */
  private[graft] def bandRowsOf(sig: DataFrame, idCol: String, bands: Int): DataFrame =
    sig.select(col(idCol), posexplode(sigBandKeys(bands)).as(Seq("band", "bkey")))

  /** The `bands` band keys of a `sig` column. r21 per-task-work pass:
    * the original composable form — posexplode(transform(sequence,
    * b => slice(sig, ...))) + xxhash64(band, bslice) — allocated a
    * sequence array, `bands` slice copies and a struct per row before
    * the generic hash ran. lsh_band_keys fuses the walk into one
    * primitive-array loop with BIT-IDENTICAL keys wherever bands divides
    * the signature length (every operator use; LshBandKeysSpec pins the
    * equality, and pins the fused form's clean integer-division slicing
    * as the DEFINED behavior outside that contract, where the composable
    * form's Column./ double arithmetic truncated slice starts per band).
    */
  private def sigBandKeys(bands: Int): Column =
    graft.functions.LshBandKeys.lshBandKeys(col("sig"), bands)

  /** In-bucket candidate pairs, the one shape of every candidate stage
    * (lshCandidates, simhashCandidates, embeddingNearDups): each row of
    * `rows` falls into one (band, bkey) bucket per element of its
    * `bandKeys` array; graft.functions.BoundedIds gathers each bucket's `(id, payload)`
    * tuples with hard-bounded state; pairs expand WITHIN each bucket row
    * (posexplode picks each tuple, slice takes its later neighbors) and
    * are scored there by `score` over the two payloads. So only
    * `(id1, id2, score)` rows leave the bucket: no join ever brings a
    * signature or a vector back to a pair. Output columns are `id1`,
    * `id2` (least/greatest in the id type's own order) and `scoreCol`.
    * `score` must be symmetric, because the payloads are not swapped
    * with the ids.
    *
    * Bucket cap: a single degenerate bucket (boilerplate docs,
    * stop-shingles) is genuinely quadratic in pair count — C(sz,2) — and
    * no AQE skew-split can fix a quadratic pair count, so the only
    * scale-safe move is to cap. A bucket past `maxBucket` tuples
    * evaluates to null and is filtered: the drop semantics of a
    * count-then-anti-join cap, minus its separate count job. Members of
    * a dropped bucket still pair up in every other bucket they share —
    * with b bands, near-dups have b chances to collide — and the
    * exact-dedup tier catches the all-identical case that saturates
    * buckets in the first place. The drop is SILENT on the hot path
    * (logging it would cost the very stats job this shape removes) —
    * operators audit the dropped mass on their own cadence with
    * [[bucketCapAudit]] over the same band rows.
    *
    * A tuple with a null id or a null payload is skipped (it takes no cap
    * space); a duplicated id never pairs with itself; a pair colliding in
    * several bands is emitted once, by the `distinct` after the score.
    */
  private def bucketPairs(rows: DataFrame, idCol: String, payloadCol: String,
                          bandKeys: Column, maxBucket: Int, scoreCol: String)
                         (score: (Column, Column) => Column): DataFrame = {
    val idType = rows.schema(idCol).dataType
    require(graft.functions.BoundedIds.isIdType(idType),
      s"candidate stages need an orderable atomic id column; " +
        s"got $idCol: ${idType.simpleString}")
    rows.select(col(idCol), col(payloadCol),
        posexplode(bandKeys).as(Seq("band", "bkey")))
      .groupBy(col("band"), col("bkey"))
      .agg(graft.functions.BoundedIds
        .boundedIds(maxBucket, col(idCol), col(payloadCol)).as("xs"))
      .filter(col("xs").isNotNull && size(col("xs")) >= 2)
      .select(posexplode(col("xs")).as(Seq("i", "a")), col("xs"))
      .select(col("a"),
        explode(slice(col("xs"), col("i") + lit(2),
          size(col("xs")) - col("i") - lit(1))).as("b"))
      .filter(col("a.c0") =!= col("b.c0"))
      .select(least(col("a.c0"), col("b.c0")).as("id1"),
        greatest(col("a.c0"), col("b.c0")).as("id2"),
        score(col("a.c1"), col("b.c1")).as(scoreCol))
      .distinct()
  }

  /** MinHash LSH candidates, verified in the bucket: signature rows →
    * `bands` (band, bucket) keys → `(id1, id2, est_jaccard)` for every
    * pair sharing a bucket ([[bucketPairs]]). `bands` must divide the
    * signature length. With b bands of r rows, pairs with Jaccard j
    * collide w.p. 1-(1-j^r)^b. The estimate is the fraction of equal
    * signature positions, the same [[graft.functions.SigOverlap]] value
    * [[minhashJaccard]] computes for arbitrary pairs; a caller's
    * `est_jaccard` threshold filters a grouping column of the final
    * distinct, so Catalyst applies it below that exchange.
    *
    * Each signature crosses the band exchange once per band, instead of
    * the pair set crossing two signature joins after it. Buckets larger
    * than `maxBucket` are dropped: one boilerplate-saturated bucket
    * would otherwise contribute C(sz,2) pairs and dominate the whole job
    * at scale.
    */
  def lshCandidates(sig: DataFrame, idCol: String, bands: Int,
                    maxBucket: Int = 500): DataFrame =
    bucketPairs(sig, idCol, "sig", sigBandKeys(bands), maxBucket,
      "est_jaccard")(graft.functions.SigOverlap.sigOverlap)

  /** Audit for the bounded-bucket candidate stages' silent hot-bucket
    * drop: (hot bucket count, total rows they cover) above `maxBucket`,
    * from one map-side-combined count aggregate over the same band rows
    * a candidate stage consumes — e.g.
    * `bucketCapAudit(Dedup.bandRowsOf(sig, "doc_id", 8), 500)`. Run on
    * the monitoring cadence, not per query: the hot path drops
    * over-cap buckets without counting them (see [[bucketPairs]]).
    */
  def bucketCapAudit(bandRows: DataFrame, maxBucket: Int,
                     keys: Seq[String] = Seq("band", "bkey")): (Long, Long) = {
    val stats = bandRows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucket)
      .agg(count(lit(1)).as("nb"),
        coalesce(sum(col("__bsz")), lit(0L)).as("mass")).head()
    (stats.getAs[Long]("nb"), stats.getAs[Long]("mass"))
  }

  /** Estimated Jaccard for arbitrary `(id1, id2)` pairs = fraction of
    * equal signature positions (MinHash property), joined from `sig`.
    * [[lshCandidates]] already carries this value for its own pairs; this
    * is the verify for pairs from anywhere else. The position-equality
    * count is the codegen'd [[graft.functions.SigOverlap]] expression,
    * not a zip_with/filter HOF pair — this runs once per pair.
    */
  def minhashJaccard(pairs: DataFrame, sig: DataFrame, idCol: String): DataFrame = {
    pairs
      .join(sig.select(col(idCol).as("id1"), col("sig").as("sig1")), "id1")
      .join(sig.select(col(idCol).as("id2"), col("sig").as("sig2")), "id2")
      .select(col("id1"), col("id2"),
        graft.functions.SigOverlap.sigOverlap(col("sig1"), col("sig2"))
          .as("est_jaccard"))
  }

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of token
    * hashes. The fingerprint is a pure function of the text, so it is ONE
    * codegen expression over the scan (graft.functions.SimHash64):
    * tokenization, per-token xxhash64, and the 64 vote counters fused
    * into a per-row loop, ZERO shuffle. This replaced explode(tokens) +
    * groupBy(id).agg(64 vote sums) — a corpus-sized row expansion plus a
    * full aggregate exchange for a per-document value. Zero-token docs
    * are dropped (the explode form never emitted a row for them; the
    * expression returns null and the filter removes it) and values are
    * bit-identical otherwise; SimHash64Spec pins the equivalence.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol),
        graft.functions.SimHash64.simhash64(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** SimHash near-dup candidates: equal 16-bit band (pigeonhole: hamming
    * ≤ 3 guarantees ≥1 equal band of 4), then the exact hamming distance
    * computed in the bucket ([[bucketPairs]], with the fingerprint as the
    * payload) and filtered at `maxDist`. Buckets above `maxBucket` are
    * dropped.
    */
  def simhashCandidates(sh: DataFrame, idCol: String, maxDist: Int = 3,
                        maxBucket: Int = 500): DataFrame =
    bucketPairs(sh, idCol, "simhash",
        array((0 until 4).map(b =>
          shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFF)): _*),
        maxBucket, "hamming")((a, b) => bit_count(a.bitwiseXOR(b)))
      .filter(col("hamming") <= maxDist)

  /** Above this many candidate PAIRS the CC fallthrough stays
    * distributed (class doc of [[canonicalClusters]]'s local path).
    * Overridable via `spark.graft.cc.maxLocalEdges`. 1M pairs collect
    * as ≤2M symmetric rows — tens of MB of driver heap at realistic id
    * widths, and the label broadcast stays comfortably under Spark's
    * broadcast ceiling. */
  private[graft] val MaxLocalEdgesConf = "spark.graft.cc.maxLocalEdges"
  private[graft] val MaxLocalEdgesDefault = 1000000L

  /** Driver-local union-find over a measured-small RAW pair list (r21:
    * the input is the (src, dst) pair checkpoint, NOT the symmetric
    * union — union-find needs each undirected edge once, so the local
    * path never pays the symmetric-union + repartition exchange the
    * distributed loop needs; members come from BOTH endpoint columns):
    * Some((id, label) frame) when the pair count is under the threshold
    * and the id type has a faithful local ordering (integral families,
    * UTF8-binary strings, date/timestamp), None otherwise (the caller
    * falls through to the distributed loop). Labels carry the component
    * MINIMUM id — the same canonical the min-label loop converges to.
    * Both collects are bounded by the measured pair count. */
  private def localCanonical(ids: DataFrame, edges: DataFrame,
                             idCol: String): Option[DataFrame] = {
    val spark = ids.sparkSession
    val maxLocal = spark.conf.getOption(MaxLocalEdgesConf)
      .map(_.toLong).getOrElse(MaxLocalEdgesDefault)
    if (edges.count() > maxLocal) return None
    val idType = ids.schema(idCol).dataType
    // comparator matching Spark's least()/min ordering for the type —
    // an id type without one falls back to the distributed loop, whose
    // least() defines the semantics
    val less: (Any, Any) => Boolean = idType match {
      case IntegerType | LongType | ShortType | ByteType =>
        (a, b) => a.asInstanceOf[Number].longValue <
          b.asInstanceOf[Number].longValue
      case org.apache.spark.sql.types.StringType =>
        // UTF8 binary order, NOT String.compareTo's UTF-16 code units —
        // they diverge on supplementary characters
        (a, b) => org.apache.spark.unsafe.types.UTF8String
          .fromString(a.asInstanceOf[String]).compareTo(
            org.apache.spark.unsafe.types.UTF8String
              .fromString(b.asInstanceOf[String])) < 0
      case org.apache.spark.sql.types.DateType =>
        (a, b) => a.asInstanceOf[java.sql.Date]
          .compareTo(b.asInstanceOf[java.sql.Date]) < 0
      case org.apache.spark.sql.types.TimestampType =>
        (a, b) => a.asInstanceOf[java.sql.Timestamp]
          .compareTo(b.asInstanceOf[java.sql.Timestamp]) < 0
      case _ => return None
    }
    // raw pairs: members are the union of BOTH endpoint columns; the
    // ids semi-join keeps the loop's semantics (edges referencing
    // unknown ids conduct nothing)
    val members = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
      .join(ids.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .collect().map(_.get(0))
    val idx = new java.util.HashMap[Any, Integer](members.length * 2)
    var i = 0
    while (i < members.length) { idx.put(members(i), i); i += 1 }
    val parent = Array.tabulate(members.length)(identity)
    def find(x0: Int): Int = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var c = x0
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.collect().foreach { row =>
      val a = idx.get(row.get(0))
      val b = idx.get(row.get(1))
      if (a != null && b != null) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(rb) = ra
      }
    }
    val minOf = new java.util.HashMap[Integer, Any]()
    i = 0
    while (i < members.length) {
      val r: Integer = find(i)
      val cur = minOf.get(r)
      if (cur == null || less(members(i), cur)) minOf.put(r, members(i))
      i += 1
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
      members.length)
    i = 0
    while (i < members.length) {
      rows.add(org.apache.spark.sql.Row(members(i), minOf.get(find(i))))
      i += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("label", idType)))
    Some(spark.createDataFrame(rows, schema))
  }

  /** Canonical cluster assignment from near-dup candidate pairs:
    * iterative minimum-label propagation with pointer jumping (the
    * shuffle-join form of connected components). Each round does two
    * steps: (1) every id adopts the smallest label among itself and its
    * neighbors (one hop), then (2) every id shortcuts to its label's
    * label (pointer jump). The jump roughly doubles the distance the
    * minimum label covers per round, so `maxIter` rounds converge for
    * cluster diameters up to ~2^maxIter instead of maxIter — the default
    * 10 covers any realistic near-dup graph (diameter ≲ 1000), and a
    * deeper graph still exits with a WARN and partial labels.
    * Returns (id, canonical_id).
    *
    * An edge list measuring under `spark.graft.cc.maxLocalEdges` pairs
    * (default 1M) takes the driver-local union-find fallthrough instead
    * of the loop — same labels, no per-round job floor (r20; see the
    * inline doc at the fallthrough).
    *
    * The jump join is sound because labels are closed over the id set:
    * every label value is the id of some labeled node (initially self;
    * afterwards the min over values that were themselves labels), so
    * label-of-label always resolves.
    *
    * At petabyte scale each round is two self-joins on bounded pair
    * lists — no driver-side union-find, no GraphX dependency.
    */
  /** `scope`: when set, the FINAL label checkpoint (which backs the
    * returned plan and must stay live) is registered under this key so
    * the NEXT call with the same key releases it — without a scope,
    * repeated invocations (a bench rep, a recurring curation sweep in
    * one long-lived session) each leave one label snapshot in the block
    * store until driver GC.
    */
  def canonicalClusters(ids: DataFrame, pairs: DataFrame, idCol: String,
                        maxIter: Int = 10,
                        scope: Option[String] = None): DataFrame = {
    // with zero rounds the returned plan's labels still read the edges
    // checkpoint, whose release below would leave them unrecoverable
    require(maxIter >= 1,
      s"canonicalClusters: maxIter must be >= 1, got $maxIter")
    // RAW pair checkpoint first (r21): the pair plan materializes ONCE
    // here, the cardinality measure and the local fallthrough read it
    // directly, and only the distributed regime goes on to build the
    // symmetric edge list. The previous shape built
    // union(pairs, swap(pairs)).repartition(dst) BEFORE measuring, so
    // the (overwhelmingly common post-banding) local regime paid a
    // 2x-size checkpoint plus a symmetric-union + repartition exchange
    // it never used — union-find needs each undirected edge once.
    val pairsCp = graft.util.Checkpoints.tracked(
      pairs.select(col("id1").as("src"), col("id2").as("dst")))
    // ---- measured-cardinality driver-local fallthrough (r20) ----
    // The iterative loop's cost is per-JOB scheduling floor × rounds
    // (~0.35 s/round at local[32]), not data: a post-banding near-dup
    // edge list is usually TINY relative to the corpus (bounded
    // candidates by construction), and a single-node union-find labels
    // a few-million-edge graph in milliseconds — exactly why DuckDB's
    // temp-table loop beat the stage 8× in the r19 audit. So, the
    // HeavyHitters.exactTopKByGroup pattern applied to CC: measure the
    // pair count (one job over the checkpointed frame), and below
    // spark.graft.cc.maxLocalEdges pairs (default 1M) collect the
    // bounded pair list, union-find on the driver (path-compressed,
    // canonical = component MINIMUM to match the loop's min-label
    // semantics exactly), and broadcast the labels back. Above the
    // threshold — the 100 TB regime — the distributed loop below runs
    // unchanged. Result equality across both regimes is spec-pinned
    // (DedupSpec), and the catalog CC fixtures oracle the local path.
    localCanonical(ids, pairsCp.df, idCol) match {
      case Some(labelsLocal) =>
        pairsCp.release()
        // a previous large-regime invocation under this scope may hold
        // a checkpoint; the local path produces none, so close it out
        scope.foreach(k =>
          graft.util.Checkpoints.close(ids.sparkSession, k))
        return ids.select(col(idCol))
          .join(broadcast(labelsLocal.withColumnRenamed("id", idCol)),
            Seq(idCol), "left_outer")
          .select(col(idCol),
            coalesce(col("label"), col(idCol)).as("canonical_id"))
      case None => () // distributed loop below
    }
    // Symmetric edge list (propagate both directions), shuffled onto the
    // join key ONCE and materialized: every round's neighbor-min joins
    // edges on dst, and without the explicit repartition+checkpoint the
    // union would re-execute and re-exchange the full edge list in every
    // round — at corpus scale that is rounds x |edges| of avoidable
    // shuffle. The checkpointed frame keeps its HashPartitioning(dst),
    // so each round exchanges only the (much smaller) label frame.
    // Built FROM the pair checkpoint (both union branches replay blocks,
    // not the pair plan), which is then dead and released.
    val edgesCp = graft.util.Checkpoints.tracked(
      pairsCp.df
        .unionByName(pairsCp.df.select(col("dst").as("src"),
          col("src").as("dst")))
        .repartition(col("dst")))
    pairsCp.release()
    val edges = edgesCp.df
    // Iterate ONLY over ids that touch an edge: an isolated doc keeps its
    // own label forever, so dragging the whole corpus through every round's
    // joins is pure waste — at 100 TB the near-dup subgraph is a small
    // fraction of the corpus, and the full id set re-enters once, at the
    // end, via a single outer join. Restricting the seed to `ids` members
    // (left_semi) keeps the original semantics for edges that reference
    // unknown ids: they contribute nothing, exactly as before.
    var labels = edges.select(col("src").as("id")).distinct()
      .join(ids.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id"), col("id").as("label"))
    // previous round's checkpointed frame, released once superseded
    var prevCheckpoint: Option[graft.util.Checkpoints.Tracked] = None
    var changedCount = 1L
    var iter = 0
    while (changedCount > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "nlabel"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nlabel")).as("nmin"))
      // one-hop propagation, carrying the pre-round label so convergence
      // detection is a filter over the materialized frame, not another
      // join against the previous labels
      val hopped = labels.join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // pointer jump: label := label(label), resolved against the
      // PRE-ROUND (already checkpointed) map so the hop subtree above
      // executes once — if labels cover distance d going in, the hop
      // reaches d+1 and the jump through the old map adds another d,
      // giving d_{r+1} = 2d_r + 1 (= 2^r - 1 after r rounds). The left
      // join misses only for ids absent from the old map's key side,
      // where jumping is a no-op (coalesce).
      // (r20 measured A/B: CHAINING extra jumps through the same
      // pre-round snapshot does NOT cut rounds — the snapshot is
      // already path-compressed by its own round's jump, so
      // old(old(x)) ≈ old(x); on the q95 edge list rounds stayed 6
      // with 1 or 3 jumps while the extra joins inflated the stage
      // 2.10s → 2.57s. Round-count is not the lever here; graph SIZE
      // is — see the driver-local fallthrough above the loop.)
      val jumped = hopped
        .join(labels.select(col("id").as("label"), col("label").as("__ll")),
          Seq("label"), "left_outer")
        .select(col("id"), col("__old"),
          least(col("label"), coalesce(col("__ll"), col("label")))
            .as("label"))
      // truncate the growing iterative lineage; TRACKED so the previous
      // round's blocks can be dropped for real — Dataset.unpersist() is
      // a CacheManager call and does nothing for localCheckpoint blocks
      // (they are registered with the persistent-RDD registry, not the
      // cache), so the r13 `unpersist()` release was a no-op and every
      // CC invocation leaked iter× label snapshots into the block store
      // convergence count folded INTO the materialization job (r19):
      // the checkpoint is eager, so observe() delivers the changed-row
      // count from the same job that writes the blocks — the separate
      // filter().count() re-read paid one extra job PER ROUND, pure
      // scheduling floor on the iterative path. obs.get resolves
      // immediately after the eager checkpoint (probed: localCheckpoint
      // runs through withAction and fires the observation listener);
      // the bounded wait + count() fallback keeps a future Spark
      // behavior change from hanging the loop instead of slowing it.
      val obs = new org.apache.spark.sql.Observation()
      val updatedCp = graft.util.Checkpoints.tracked(jumped
        .observe(obs, sum(when(col("label") =!= col("__old"), 1L)
          .otherwise(0L)).as("changed")))
      val updated = updatedCp.df
      changedCount = {
        import scala.concurrent.{Await, Future, blocking}
        import scala.concurrent.duration.Duration
        // blocking{}: if the fallback regime ever fires, the parked
        // obs.get thread is compensated for by the global pool instead
        // of starving it one thread per round
        try Await.result(
            Future(blocking(obs.get))(scala.concurrent.ExecutionContext.global),
            Duration(60, "s")).get("changed") match {
          case Some(n: Number) => n.longValue
          case _ => 0L // null sum = zero rows materialized
        }
        catch { case _: java.util.concurrent.TimeoutException =>
          updated.filter(col("label") =!= col("__old")).count()
        }
      }
      // the new checkpoint is materialized (localCheckpoint is eager),
      // so the previous round's blocks are dead — drop their RDDs
      prevCheckpoint.foreach(_.release())
      prevCheckpoint = Some(updatedCp)
      labels = updated.select("id", "label")
      iter += 1
    }
    if (changedCount > 0)
      log.warn(s"canonicalClusters: labels still changing after $maxIter " +
        s"rounds ($changedCount updates last round) — cluster diameter " +
        s"exceeds the propagation bound; labeling is partially propagated")
    else if (sys.env.contains("SPARK_GRAFT_CC_DEBUG"))
      // stdout on purpose: the measurement tools run at ERROR log level
      println(s"canonicalClusters: converged after $iter rounds")
    else
      log.info(s"canonicalClusters: converged after $iter rounds")
    // every per-round consumer of the edge list has executed eagerly;
    // the returned plan reads only the final label checkpoint
    edgesCp.release()
    // the final checkpoint stays live for the returned plan; a scope
    // hands its release to the next same-key invocation
    for (k <- scope; t <- prevCheckpoint) graft.util.Checkpoints.adopt(k, t)
    // fold the (untouched) rest of the corpus back in: canonical = self
    ids.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("canonical_id"))
  }

  /** The `bands` exact-match band keys of a sign-LSH `bucket` column:
    * its `nPlanes` bits split into equal slices (pigeonhole).
    */
  private def vectorBandKeys(nPlanes: Int, bands: Int): Column = {
    require(nPlanes % bands == 0, "bands must divide nPlanes")
    val w = nPlanes / bands
    val mask = (1L << w) - 1
    array((0 until bands).map(b =>
      shiftright(col("bucket"), b * w).bitwiseAND(mask)): _*)
  }

  /** (id, band, bkey) rows of a sign-LSH `bucket` column. */
  private[graft] def vectorBandRows(bucketed: DataFrame, idCol: String,
                                    nPlanes: Int, bands: Int): DataFrame =
    bucketed.select(col(idCol),
      posexplode(vectorBandKeys(nPlanes, bands)).as(Seq("band", "bkey")))

  /** Embedding-cosine near-duplicates: the vector-space member of the
    * dedup tier (exact / MinHash / SimHash / n-gram / embedding).
    *
    * Input must carry a `bucket` long column — normally
    * `Similarity.withBuckets` (sign-random-projection LSH over the
    * vector), or a closed-form key in fixtures. The bucket's `nPlanes`
    * bits split into `bands` exact-match band keys (pigeonhole, same
    * shape as [[simhashCandidates]]); pairs sharing any band are scored
    * in the bucket by the fused codegen cosine ([[bucketPairs]], with
    * the vector as the payload) and kept at cosine ≥ `minCosine`,
    * rounded to 6 places. Identical vectors always share every band (the
    * bucket is a deterministic function of the vector), so true
    * duplicates are found with probability 1; near-dups with cosine c
    * agree per plane w.p. 1 - arccos(c)/π.
    *
    * At 100 TB: candidates come from bucket gathers (never all-pairs),
    * hot buckets are capped, each vector crosses the band exchange once
    * per band, and only scored `(id1, id2, cosine)` rows reach the
    * distinct.
    */
  def embeddingNearDups(bucketed: DataFrame, idCol: String, vecCol: String,
                        minCosine: Double = 0.9, nPlanes: Int = 32,
                        bands: Int = 4, maxBucket: Int = 1000): DataFrame =
    bucketPairs(bucketed, idCol, vecCol, vectorBandKeys(nPlanes, bands),
        maxBucket, "__c")(graft.functions.Vectors.cosineSim)
      .filter(col("__c") >= minCosine)
      .select(col("id1"), col("id2"), round(col("__c"), 6).as("cosine"))

  /** Incremental embedding novelty gate against a persisted vector
    * store — the vector-space member of the incremental tier
    * ([[exactIncremental]] / [[minhashIncremental]] /
    * embeddingIncremental). Batch vectors with NO stored near-neighbor
    * (sign-LSH band collision with cosine >= `minCosine`) survive; their
    * band rows and vectors are appended for the next batch. Identical
    * vectors always share every band (the bucket is a deterministic
    * function of the vector), so true duplicates are gated with
    * probability 1.
    *
    * Store layout mirrors [[minhashIncremental]]: bands bucketed on
    * (band, bkey) for co-located candidate generation, vectors bucketed
    * on the id for the fused-codegen cosine verify; only the batch side
    * ever shuffles.
    */
  def embeddingIncremental(batch: DataFrame, idCol: String, vecCol: String,
                           storeTable: String, storePath: String,
                           minCosine: Double, nPlanes: Int = 32,
                           bands: Int = 4, maxBucket: Int = 1000,
                           nBuckets: Int = 8): DataFrame = {
    // materialized once: returned to the caller and appended below
    val out = embeddingGate(batch, idCol, vecCol, storeTable, minCosine,
      nPlanes, bands, maxBucket).localCheckpoint()
    appendVecStore(out, idCol, vecCol, storeTable, storePath, nPlanes,
      bands, nBuckets)
    out
  }

  /** The read-only half of [[embeddingIncremental]]: batch (id, vector)
    * rows with no stored vector at cosine >= `minCosine`. No writes.
    * The store joins follow [[minhashGate]]'s planner contract.
    */
  def embeddingGate(batch: DataFrame, idCol: String, vecCol: String,
                    storeTable: String, minCosine: Double,
                    nPlanes: Int = 32, bands: Int = 4,
                    maxBucket: Int = 1000): DataFrame = {
    val s = batch.sparkSession
    val bandsT = s"${storeTable}_bands"
    val vecsT = s"${storeTable}_vecs"
    val bucketed = graft.similarity.Similarity
      .withBuckets(batch.select(col(idCol), col(vecCol)), vecCol, nPlanes)
    if (!s.catalog.tableExists(bandsT))
      bucketed.select(col(idCol), col(vecCol))
    else {
      val batchBands = capBucketsInline(
        vectorBandRows(bucketed, idCol, nPlanes, bands),
        Seq("band", "bkey"), maxBucket)
      // no pair-level distinct: a pair colliding in several bands reaches
      // the verify joins once per band (bounded by the band count), but
      // the id set is distinct'd after the filter anyway — dropping the
      // (id1, id2)-keyed exchange is the better trade on a per-batch path
      val pairs = batchBands
        .select(col(idCol).as("id1"), col("band"), col("bkey"))
        .join(s.table(bandsT)
          .select(col(idCol).as("id2"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .select("id1", "id2")
      val dupIds = pairs
        .join(bucketed.select(col(idCol).as("id1"), col(vecCol).as("__v1")),
          "id1")
        .join(s.table(vecsT)
          .select(col(idCol).as("id2"), col(vecCol).as("__v2")), "id2")
        .filter(graft.functions.Vectors.cosineSim(col("__v1"), col("__v2"))
          >= minCosine)
        .select(col("id1").as(idCol)).distinct()
      bucketed.select(col(idCol), col(vecCol))
        .join(dupIds, Seq(idCol), "left_anti")
    }
  }

  /** The write half of [[embeddingIncremental]]: seed or extend the band
    * + vector stores with this batch's surviving (id, vector) rows.
    * `dedupAgainstStore` as in [[appendSigStore]].
    */
  def appendVecStore(vecs: DataFrame, idCol: String, vecCol: String,
                     storeTable: String, storePath: String,
                     nPlanes: Int = 32, bands: Int = 4,
                     nBuckets: Int = 8,
                     dedupAgainstStore: Boolean = false): Unit = {
    val outBands = vectorBandRows(
      graft.similarity.Similarity.withBuckets(vecs, vecCol, nPlanes),
      idCol, nPlanes, bands)
    seedOrAppend(outBands, s"${storeTable}_bands", s"$storePath/bands",
      Seq("band", "bkey"), Seq(idCol, "band", "bkey"), nBuckets,
      dedupAgainstStore)
    seedOrAppend(vecs, s"${storeTable}_vecs", s"$storePath/vecs",
      Seq(idCol), Seq(idCol), nBuckets, dedupAgainstStore)
  }

  /** Incremental SimHash novelty gate against a persisted fingerprint
    * store — the cheapest member of the incremental tier (8 bytes of
    * state per corpus document vs 16 for [[exactIncremental]]'s hash and
    * 256 for [[minhashIncremental]]'s signature). Batch rows whose
    * 64-bit fingerprint is within `maxDist` Hamming bits of a stored one
    * (candidates via 16-bit band equality — pigeonhole covers maxDist≤3)
    * are gated; survivors' band rows + fingerprints are appended.
    *
    * Store layout mirrors [[minhashIncremental]]: bands bucketed on
    * (band, bkey), fingerprints bucketed on the id; only the batch side
    * ever shuffles.
    */
  def simhashIncremental(batchFp: DataFrame, idCol: String,
                         storeTable: String, storePath: String,
                         maxDist: Int = 3, maxBucket: Int = 500,
                         nBuckets: Int = 8): DataFrame = {
    // materialized once: returned to the caller and appended below
    val out = simhashGate(batchFp, idCol, storeTable, maxDist, maxBucket)
      .localCheckpoint()
    appendFpStore(out, idCol, storeTable, storePath, nBuckets)
    out
  }

  /** 16-bit band rows of a (id, simhash) frame — the pigeonhole candidate
    * key shared by the batch and incremental SimHash tiers.
    */
  private[graft] def simhashBandRows(fp: DataFrame, idCol: String): DataFrame =
    fp.select(col(idCol),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFF)): _*))
        .as(Seq("band", "bkey")))

  /** The read-only half of [[simhashIncremental]]: batch fingerprint rows
    * with no stored fingerprint within `maxDist` Hamming bits. No writes.
    * The store joins follow [[minhashGate]]'s planner contract.
    */
  def simhashGate(batchFp: DataFrame, idCol: String, storeTable: String,
                  maxDist: Int = 3, maxBucket: Int = 500): DataFrame = {
    val s = batchFp.sparkSession
    val bandsT = s"${storeTable}_bands"
    val fpsT = s"${storeTable}_fps"
    if (!s.catalog.tableExists(bandsT)) batchFp
    else {
      val batchBands = capBucketsInline(simhashBandRows(batchFp, idCol),
        Seq("band", "bkey"), maxBucket)
      // pair-level distinct dropped: duplication is bounded by the band
      // count and the id set is distinct'd after the hamming filter
      val dupIds = batchBands
        .select(col(idCol).as("id1"), col("band"), col("bkey"))
        .join(s.table(bandsT)
          .select(col(idCol).as("id2"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .select("id1", "id2")
        .join(batchFp.select(col(idCol).as("id1"), col("simhash").as("__f1")),
          "id1")
        .join(s.table(fpsT)
          .select(col(idCol).as("id2"), col("simhash").as("__f2")), "id2")
        .filter(bit_count(col("__f1").bitwiseXOR(col("__f2"))) <= maxDist)
        .select(col("id1").as(idCol)).distinct()
      batchFp.join(dupIds, Seq(idCol), "left_anti")
    }
  }

  /** The write half of [[simhashIncremental]]: seed or extend the band +
    * fingerprint stores with this batch's surviving rows.
    * `dedupAgainstStore` as in [[appendSigStore]].
    */
  def appendFpStore(fps: DataFrame, idCol: String, storeTable: String,
                    storePath: String, nBuckets: Int = 8,
                    dedupAgainstStore: Boolean = false): Unit = {
    seedOrAppend(simhashBandRows(fps, idCol), s"${storeTable}_bands",
      s"$storePath/bands", Seq("band", "bkey"), Seq(idCol, "band", "bkey"),
      nBuckets, dedupAgainstStore)
    seedOrAppend(fps, s"${storeTable}_fps", s"$storePath/fps",
      Seq(idCol), Seq(idCol), nBuckets, dedupAgainstStore)
  }

  /** Store maintenance: rewrite each incremental-dedup store table back
    * to one file per bucket (daily appends each add a file per bucket)
    * and fold any full-row duplicates left behind by code predating the
    * idempotent replay append. Weekly-cadence offline ops with
    * [[graft.pipelines.Sinks.compactBucketed]]'s single-writer contract:
    * a crash DURING a rewrite needs that store rebuilt, so run them in a
    * maintenance window, never inline in a gate.
    */
  def compactHashStore(spark: org.apache.spark.sql.SparkSession,
                       storeTable: String, storePath: String,
                       nBuckets: Int = 8): Unit =
    graft.pipelines.Sinks.compactBucketed(spark, storeTable, storePath,
      Seq("text_hash"), nBuckets, dedupRows = true)

  /** [[compactHashStore]] for [[minhashIncremental]]'s band + signature
    * tables.
    */
  def compactMinhashStore(spark: org.apache.spark.sql.SparkSession,
                          storeTable: String, storePath: String,
                          idCol: String, nBuckets: Int = 8): Unit = {
    graft.pipelines.Sinks.compactBucketed(spark, s"${storeTable}_bands",
      s"$storePath/bands", Seq("band", "bkey"), nBuckets, dedupRows = true)
    graft.pipelines.Sinks.compactBucketed(spark, s"${storeTable}_sigs",
      s"$storePath/sigs", Seq(idCol), nBuckets, dedupRows = true)
  }

  /** Exact n-gram Jaccard via inverted shingle index: pairs sharing ≥1
    * shingle, scored |A∩B| / |A∪B|. Quadratic in posting-list size — use
    * after LSH pruning or on bounded candidate sets.
    *
    * `maxDocFrac` is the PRINCIPLED stop-shingle rule (the IDF analog):
    * shingles whose document frequency exceeds `floor(maxDocFrac × #docs)`
    * are boilerplate, carrying ~zero discriminative signal while
    * contributing the quadratic posting mass — they are removed from the
    * similarity space entirely (index AND per-doc sizes), so the
    * reported jaccard is EXACT over the declared kept-shingle space and
    * recall loss is a parameter, not a side effect. Off by default
    * (`>= 1.0`): on a tiny corpus a 10% rule would stop-list every
    * shared shingle.
    *
    * `maxPosting` remains the scale BACKSTOP behind it: postings that
    * survive the document-frequency rule but still exceed the cap are
    * dropped from the inverted index only — per-doc
    * sizes keep those shingles, so jaccard is then a lower bound for
    * pairs whose overlap included a capped shingle. With the
    * document-frequency rule active the backstop should audit to ~zero
    * mass ([[graft.tools.StoreAudit]]); a sustained non-zero means the
    * rule is set looser than the cap.
    *
    * Plan shape: the exploded shingle frame is exchanged ONCE, hash-
    * partitioned on `shingle` — the key every downstream consumer needs.
    * Under that single exchange, one sort serves two stacked windows:
    * `row_number` over (shingle, id) is the per-doc-distinct rule (the
    * raw expression emits one hash per CHAR POSITION, so in-doc repeats
    * must collapse before counting), and `count` over (shingle) is the
    * document frequency annotated onto every surviving row —
    * `HashPartitioning(shingle)` satisfies both windows' clustering, so
    * neither re-exchanges. Both the stop-rule (`__df > floor(maxDocFrac
    * ·N)`, doc total as an in-plan 1-row `countDistinct` scalar, no
    * driver count job) and the cap backstop (`__df > maxPosting`,
    * index-only) are then per-row FILTERS: no stats job, no checkpoint,
    * no anti-join — this call runs exactly one ACTION (AQE still
    * schedules one job per shuffle stage under it). The persisted
    * frame keeps the shingle partitioning AND (shingle, id) sort order,
    * so the inverted-index self-join needs no exchange and no re-sort.
    * The cap drop is silent here like [[bucketPairs]]' (the old
    * logged-stats form cost a dedicated driver job per call);
    * [[graft.tools.StoreAudit]] is the monitoring-cadence audit of the
    * dropped mass.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 5, minJaccard: Double = 0.2,
                   maxPosting: Int = 500,
                   maxDocFrac: Double = 1.0): DataFrame = {
    val exploded = df.select(col(idCol),
      explode(graft.functions.Texts.ngramHashes(col(textCol), n,
        ShingleHashMod)).as("shingle"))
    val dedupW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shingle"), col(idCol)).orderBy(col(idCol))
    val dfW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shingle"))
    val withDf = exploded
      .repartition(col("shingle"))
      .withColumn("__rn", row_number().over(dedupW))
      .filter(col("__rn") === 1)
      .withColumn("__df", count(lit(1)).over(dfW))
      .drop("__rn")
    // The annotated frame feeds three consumers (per-doc sizes and both
    // sides of the self-join); persist so the explode+window pipeline
    // runs once. persist, NOT localCheckpoint: the cache materializes
    // inside the action this call runs (shingling is deterministic, so
    // recompute-on-eviction is safe — checkpoint's frozen-content
    // guarantee buys nothing, and its eager job would be pure overhead).
    val sh = (if (maxDocFrac >= 1.0) withDf
      else {
        // doc total as an in-plan scalar: a 1-row countDistinct over the
        // pruned id column, broadcast-cross-joined — no dedicated
        // driver-side distinct().count() job
        val nTbl = df.agg(countDistinct(col(idCol)).as("__nd"))
        withDf.crossJoin(broadcast(nTbl))
          .filter(col("__df") <=
            greatest(lit(1L), floor(lit(maxDocFrac) * col("__nd"))))
          .drop("__nd")
      }).persist()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val idx = sh.filter(col("__df") <= maxPosting)
    val inter = idx.select(col(idCol).as("id1"), col("shingle"))
      .join(idx.select(col(idCol).as("id2"), col("shingle")), "shingle")
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("it"))
    inter
      .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")), "id2")
      .withColumn("jaccard",
        col("it") / (col("sz1") + col("sz2") - col("it")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }
}
