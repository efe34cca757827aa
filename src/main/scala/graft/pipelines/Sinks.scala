package graft.pipelines

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink semantics (SURVEY.md §2.1 S7-S9) on parquet paths. The reference
  * sinks into MongoDB collections; the three write patterns it uses map to:
  *
  *  - S9 truncate-and-reload  -> `mode("overwrite")`
  *  - S7 incremental append   -> high-watermark filter + `mode("append")`
  *  - S8 keyed upsert         -> anti-join merge + temp-dir swap
  *
  * On a transactional table format (Delta/Iceberg) S8 is a MERGE and S9 a
  * transactional replace; plain parquet needs the temp-dir swap below
  * because Spark cannot overwrite a path it is concurrently reading.
  */
object Sinks {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** S9 — truncate-and-reload (cv-api.py:184-207 delete_many+insert_many). */
  def truncateAndReload(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Layout-aware reload: hive-partitioned by `partitionCol` so date/key
    * predicates prune whole directories at read time (`PartitionFilters`
    * in the scan) — the difference between touching one day and scanning
    * 100 TB. Partition columns should be low-cardinality (days, regions);
    * at extreme scale pair with bucketing on the join key.
    *
    * Rows are shuffled onto the partition key before the write: without
    * that, EVERY input task opens a file in every partition directory it
    * sees rows for — tasks x partitions tiny files, the classic
    * small-files explosion once the input has real parallelism. With it,
    * each partition value lands wholly in one task, so each directory
    * gets one file. (At toy scale this adds a small shuffle — the
    * q62 index build pays ~0.7s for it — but at cluster scale the
    * unshuffled form is millions of tiny files.)
    */
  def reloadPartitioned(df: DataFrame, path: String,
                        partitionCol: String): Unit =
    df.repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Bucketed + sorted table layout: rows are hash-partitioned by `key`
    * into a fixed bucket count AT WRITE TIME, so an equi-join between two
    * co-bucketed tables (same key, same bucket count) needs NO exchange
    * at read time — each bucket joins only its twin. At 100 TB this
    * converts every recurring fact-to-fact join on the key (the kind no
    * broadcast can help) from a full-corpus shuffle into a co-located
    * merge; pair with [[reloadPartitioned]]'s date partitioning for
    * prune-then-join pipelines. BucketedJoinSpec pins the zero-exchange
    * plan.
    *
    * The input is repartitioned onto the bucket hash first (Spark's
    * bucketBy uses the same Murmur3 hash partitioning), so each write
    * task holds exactly one bucket and each bucket gets ONE file —
    * without it every task writes a file per bucket it sees (tasks x
    * buckets small files), each of which every later scan must open.
    * The write-time sort is not a scan ordering: on Spark 4.1 a bucketed
    * scan reports no output ordering even with one file per bucket, so
    * a sort-merge join still sorts the bucketed side.
    */
  def reloadBucketed(df: DataFrame, table: String, path: String,
                     key: String, nBuckets: Int): Unit =
    reloadBucketedBy(df, table, path, Seq(key), nBuckets)

  /** Multi-column variant: co-locates joins on the full key tuple. */
  def reloadBucketedBy(df: DataFrame, table: String, path: String,
                       keys: Seq[String], nBuckets: Int): Unit =
    df.repartition(nBuckets, keys.map(col): _*)
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .saveAsTable(table)

  /** Append a batch into an existing bucketed table with the same spec
    * (each append adds one file per bucket — [[compactBucketed]] folds
    * them back to one when file counts matter).
    */
  def appendBucketedBy(df: DataFrame, table: String, path: String,
                       keys: Seq[String], nBuckets: Int): Unit =
    df.repartition(nBuckets, keys.map(col): _*)
      .write.mode("append").format("parquet")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .saveAsTable(table)

  /** Rewrite an append-grown bucketed table back to one file per bucket,
    * so every scan opens one file per bucket instead of one per bucket
    * per append. Run on the cadence file counts dictate — daily appends, weekly compaction is
    * the usual shape for the incremental dedup stores. The input is
    * checkpointed first so the overwrite cannot delete its own input
    * mid-read; like upsertByKey, a crash DURING the rewrite needs the
    * store rebuilt (single-writer batch semantics — a transactional
    * format makes compaction atomic).
    *
    * `dedupRows = true` additionally folds full-row duplicates — the
    * shape a crash-replayed store append leaves behind (a replay
    * re-appends rows a torn attempt already committed; see
    * [[graft.dedup.Dedup.compactMinhashStore]] and siblings, which pass
    * it). Left off by default: a general bucketed table has bag
    * semantics.
    */
  def compactBucketed(spark: SparkSession, table: String, path: String,
                      keys: Seq[String], nBuckets: Int,
                      dedupRows: Boolean = false): Unit = {
    val t = spark.table(table)
    val staged = (if (dedupRows) t.distinct() else t).localCheckpoint()
    reloadBucketedBy(staged, table, path, keys, nBuckets)
  }

  /** S7 — append only rows with `key > max(existing)` (cv.py:104-125).
    * Returns the number of appended rows (the reference reports it in its
    * notification email). The 1-row max aggregate broadcasts — the
    * incoming fact side never shuffles. Sound only for monotonic keys
    * (SURVEY §7 risk note); use [[upsertByKey]] or streaming dedup
    * otherwise.
    */
  def appendIncremental(spark: SparkSession, df: DataFrame, path: String,
                        key: String): Long = {
    val fresh =
      if (!exists(spark, path)) df
      else {
        val wm = spark.read.parquet(path).agg(max(col(key)).as("__wm"))
        df.crossJoin(broadcast(wm))
          .filter(col(key) > col("__wm")).drop("__wm")
      }
    val n = fresh.count()
    if (n > 0) fresh.write.mode("append").parquet(path)
    n
  }

  /** S8 — keyed upsert (cv.py:126-132 update_one per under-investigation
    * case): rows in `updates` replace same-key rows, everything else is
    * kept.
    *
    * When the target is a DAY-PARTITIONED store (a unique hive `col=`
    * layout whose partition column the updates carry), the upsert
    * routes through [[graft.sources.DailyStoreMerge.mergeByKey]] (r19):
    * copy-on-write of only the touched day partitions, committed under
    * the dailystore's manifest + writer lease — crash-replayable,
    * time-travel-versioned, no reader-visible rename gap, and at 100 TB
    * a handful of corrected rows rewrites a handful of days instead of
    * the store. NOTE the routed path enforces the merge CONTRACT where
    * the swap path was permissive: null keys, duplicate update keys,
    * null or path-unsafe partition values now fail loudly instead of
    * being merged as-is — a KEYED upsert carrying a null or duplicated
    * key is corrupt input (the reference's update_one cannot express it
    * either), and a streaming caller replaying such a batch should
    * filter it upstream rather than have the swap path silently keep
    * both copies.
    *
    * The routing is gated on PROVENANCE, not layout sniffing alone
    * (r20): a dir routes through the merge only when the dailystore's
    * own `_last_commit.json` sidecar is present — i.e. the connector
    * wrote it — OR the caller passes `adoptDayPartitioned = true` to
    * explicitly ADOPT a plain day-partitioned parquet dir into
    * dailystore management (the first routed upsert plants the
    * manifest/sidecar files; plain `spark.read.parquet` readers are
    * unaffected — they are underscore-prefixed — and subsequent time
    * travel starts at the adoption commit; SinksSpec pins both).
    * Without either, a day-partitioned dir some other writer produced
    * takes the documented whole-table swap exactly as it did pre-r19 —
    * its layout alone no longer opts it into planted metadata and the
    * stricter contract. An adoption candidate whose day directory
    * names carry URI-escaped characters (`a%20b`) falls back to the
    * swap path with a logged warning: the merge would re-escape them
    * on rewrite, and a value the escaping round-trip can corrupt is
    * exactly the input the permissive swap path already handles.
    *
    * Otherwise (a flat parquet dir — no day partitioning to prune on),
    * the merge is the documented whole-table shape: existing-anti-join
    * ∪ updates written to a temp dir then swapped in, because plain
    * parquet overwrite would delete its own input mid-read. The swap is
    * two atomic renames (live → backup, merged → live), so a crash at
    * ANY point loses no data: every row is always in at least one of
    * live/backup/tmp, and recovery is renaming the backup (or tmp) back
    * into place. What this still is NOT is an atomic swap for
    * CONCURRENT READERS — one arriving between the renames sees a
    * missing path. Single-writer batch jobs (the reference's model) are
    * safe; concurrent readers need a transactional table format where
    * this whole method is `MERGE INTO`.
    */
  def upsertByKey(spark: SparkSession, updates: DataFrame, path: String,
                  key: String, adoptDayPartitioned: Boolean = false): Unit = {
    if (!exists(spark, path)) {
      updates.write.mode("overwrite").parquet(path)
      return
    }
    val dailystoreProvenance = exists(spark,
      path + "/" + graft.sources.DailyStoreTimeTravel.LastCommitFile)
    graft.sources.DailyStoreMerge.sniffPartitionCol(spark, path) match {
      case Some(pcol) if updates.columns.contains(pcol) && pcol != key &&
          (dailystoreProvenance || adoptDayPartitioned) =>
        if (!dailystoreProvenance &&
            graft.sources.DailyStoreMerge.hasEscapedDayValues(
              spark, path, pcol)) {
          log.warn(s"upsertByKey: not adopting $path — its '$pcol=' " +
            "directory names carry URI-escaped characters the merge " +
            "rewrite would round-trip through escaping; taking the " +
            "whole-table swap path instead")
        } else {
          graft.sources.DailyStoreMerge.mergeByKey(
            spark, path, updates, key, pcol)
          return
        }
      case _ => () // flat layout, updates lack the partition column, or
        // no provenance/opt-in: the whole-table swap below is the
        // documented shape
    }
    val existing = spark.read.parquet(path)
    val merged = existing
      .join(updates.select(col(key)), Seq(key), "left_anti")
      .unionByName(updates)
    val tmp = path + "__tmp_upsert"
    merged.write.mode("overwrite").parquet(tmp)
    val f = fs(spark, path)
    val old = new Path(path + "__old_upsert")
    f.delete(old, true) // clear any stale backup
    f.rename(new Path(path), old) // live -> backup (atomic)
    f.rename(new Path(tmp), new Path(path)) // merged -> live (atomic)
    f.delete(old, true) // success: drop backup
  }
}
