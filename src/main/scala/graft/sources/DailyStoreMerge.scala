package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, max, sum, when}

/** Engine-native row-level MERGE for the dailystore — the last S8
  * surface (SURVEY.md §2.1; reference cv.py:126-132 runs `update_one`
  * per corrected case against Mongo). Rows in `updates` REPLACE
  * same-key rows wherever they currently live in the store, and new
  * keys INSERT into their update row's day — via COPY-ON-WRITE of only
  * the TOUCHED day partitions, committed through the connector's
  * existing manifest + writer-lease machinery. Crash replay
  * ([[DailyStoreRecovery]]), retention/time travel
  * ([[DailyStoreTimeTravel]] — a merge is an ordinary versioned
  * commit), and the single-writer contract cover a merge exactly as
  * they cover any other dailystore commit, and there is never a
  * reader-visible missing-path window (the rename-swap gap
  * [[graft.pipelines.Sinks.upsertByKey]]'s whole-table shape has).
  *
  * Single writer per store: the contract also covers the column-set
  * guard, which runs BEFORE the commit takes the writer lease and may
  * rewrite a ghost `_schema.json` column (see the self-heal below). Run
  * one writer per store at a time; the lease detects a second writer
  * only when it reaches the commit.
  *
  * Shape — the transactional-format MERGE shape, re-expressed on the
  * dailystore's day partitioning:
  *
  *  1. DISCOVERY: one column-pruned scan of (pcol, key) over the store,
  *     semi-joined against the broadcast update keys (the updates' key
  *     column as is: the contract below already proved it one row per
  *     key, so no distinct stage precedes either join), finds the days
  *     where updated keys CURRENTLY live; unioned with the updates' own
  *     days it yields the touched set. This is the honest cost of MERGE
  *     without a key index (Delta's MERGE pays the same
  *     find-touched-files join): two columns of the store, zero shuffle
  *     on the store side. `assumeKeyDayStable = true` skips it when the
  *     caller guarantees a key's day never changes — touched collapses
  *     to the updates' days and the full-store scan disappears; if the
  *     guarantee is violated, the old-day copy of a moved key SURVIVES
  *     (duplicate key), which is why the default is the safe scan.
  *  2. REWRITE: partition-pruned scan of ONLY the touched days,
  *     anti-joined (broadcast) against the update keys, unioned with
  *     the updates, written back through the connector with the
  *     explicit condemned-day set (`overwriteDays` → the same
  *     ValuesMode commit as a catalog `overwrite(d IN ...)`). A day
  *     emptied by key moves is condemned and REMOVED rather than left
  *     holding stale rows — the case dynamic overwrite cannot express,
  *     because the output never mentions that day.
  *
  * Days untouched by the merge are never read past discovery and never
  * written: their files stay byte-identical (DailyStoreMergeSpec pins
  * names + bytes). At 100 TB that is the difference between rewriting
  * a handful of day partitions and rewriting the store: cost is
  * O(touched days' data) + one two-column discovery scan. The updates'
  * key column is BROADCAST on both joins only while it is measurably
  * small: the contract aggregate already counts its keys, and above
  * `spark.graft.merge.maxBroadcastKeys` (default 1,000,000 — ~32 MB of
  * broadcast at a 32-byte key) both joins fall through to a
  * `shuffle_hash`-hinted join instead, so a 10⁸-key tombstone/GDPR
  * batch shuffles rather than OOMing the driver (same measured-
  * cardinality pattern as `HeavyHitters.exactTopKByGroup`; result-
  * equality across both regimes pinned in DailyStoreMergeSpec).
  *
  * Driver state is bounded by construction: the only collects are the
  * discovered day values and one aggregate over the updates, a row per
  * update day, that both checks the contract and yields the updates'
  * own days. Both are bounded by the store's day domain (3,650 for a
  * 10-year daily store).
  *
  * Contract on `updates`: one row per key (keyed REPLACE is ambiguous
  * under duplicates — rejected loudly), non-null key and partition
  * values, and exactly the store's column set (a store column absent
  * from the updates would be silently dropped from every rewritten
  * day — rejected loudly instead).
  *
  * Cardinality on the TARGET side: the store does not enforce key
  * uniqueness (appends can create same-key copies), and keyed replace
  * COLLAPSES them — every same-key copy is anti-joined away and exactly
  * one update row takes their place. That is the reference's
  * `update_one` replace semantics, but it diverges from SQL MERGE
  * (which updates EACH matched copy), so the SQL front passes
  * `requireUniqueMatchedKeys = true` to detect duplicate matched target
  * keys on the touched days (one partition-pruned key-column pass) and
  * fail loudly instead of silently collapsing.
  */
object DailyStoreMerge {

  /** Above this many update keys, the merge's discovery/rewrite joins
    * stop broadcasting and take a `shuffle_hash`-hinted join instead
    * (class doc). Overridable via `spark.graft.merge.maxBroadcastKeys`.
    */
  private[graft] val MaxBroadcastKeysConf = "spark.graft.merge.maxBroadcastKeys"
  private[graft] val MaxBroadcastKeysDefault = 1000000L

  private[graft] def maxBroadcastKeys(spark: SparkSession): Long =
    spark.conf.getOption(MaxBroadcastKeysConf)
      .map(_.toLong).getOrElse(MaxBroadcastKeysDefault)

  /** The measured-cardinality join-strategy guard: broadcast the key
    * frame while it is small, `shuffle_hash`-hint it above the
    * threshold (never sort-merge — the key side has no useful ordering
    * and the store side should not sort either).
    */
  private[graft] def sizedKeySide(spark: SparkSession, keys: DataFrame,
                                  nKeys: Long): DataFrame =
    if (nKeys <= maxBroadcastKeys(spark)) broadcast(keys)
    else keys.hint("shuffle_hash")

  /** Merge `updates` into the dailystore at `path` by `key` (class
    * doc). Creates the store when absent. Returns the touched day
    * values (empty = the updates were empty, nothing committed).
    *
    * `requireUniqueMatchedKeys = true` (the SQL MERGE front) rejects a
    * merge whose matched target keys have same-key copies in the store
    * instead of collapsing them (class doc, cardinality paragraph).
    *
    * `addColumns = true` opts into SCHEMA EVOLUTION: the updates may
    * carry columns the store lacks (they must still carry every store
    * column — dropping is never allowed). Rewritten days get the new
    * columns; untouched days keep their old files byte-identical and
    * serve NULL for the new columns when read with the updates' schema
    * or a schema-merging read. Off by default so a misspelled column
    * stays a loud error rather than a silent evolution.
    */
  def mergeByKey(spark: SparkSession, path: String, updates0: DataFrame,
                 key: String, pcol: String = "d",
                 assumeKeyDayStable: Boolean = false,
                 requireUniqueMatchedKeys: Boolean = false,
                 addColumns: Boolean = false): Seq[String] = {
    val cols = updates0.columns
    require(cols.contains(key),
      s"dailystore merge: updates lack the key column '$key'")
    require(cols.contains(pcol),
      s"dailystore merge: updates lack the partition column '$pcol'")
    // MATERIALIZE the updates once: the merge evaluates them three
    // times (contract aggregate, discovery join, rewrite union), and a
    // nondeterministic source (a sampled batch, a rand()-carrying
    // projection) would otherwise validate one row set and merge
    // another — the same reason Delta's MERGE materializes its source.
    // Updates are the SMALL side by contract, so the checkpoint is
    // cheap; the blocks are released before returning.
    val updatesCp = graft.util.Checkpoints.tracked(updates0)
    try mergeMaterialized(spark, path, updatesCp.df, key, pcol,
      assumeKeyDayStable, cols, requireUniqueMatchedKeys, addColumns)
    finally updatesCp.release()
  }

  private def mergeMaterialized(spark: SparkSession, path: String,
      updates: DataFrame, key: String, pcol: String,
      assumeKeyDayStable: Boolean, cols: Array[String],
      requireUniqueMatchedKeys: Boolean, addColumns: Boolean): Seq[String] = {
    // one small-side aggregate validates the whole updates contract and
    // gathers the updates' own days, the insert half of the touched set:
    // per key its rows, then per day the rows, the rows under a null key,
    // the rows with a day and the keys. Summed over the days: no row
    // under a null key → no null keys; n == rows with a day → no null
    // days; n == keys → one row per key. Grouped by day, the collected
    // rows are bounded by the day domain.
    val perDay = updates
      .groupBy(col(key)).agg(count(lit(1)).as("__rows"),
        count(col(pcol)).as("__dated"), max(col(pcol)).as("__day"))
      .groupBy(col("__day").cast("string")).agg(
        sum(col("__rows")), sum(when(col(key).isNull, col("__rows"))),
        sum(col("__dated")), count(col(key)))
      .collect()
    def total(i: Int): Long =
      perDay.map(r => if (r.isNullAt(i)) 0L else r.getLong(i)).sum
    val n = total(1)
    if (n == 0) return Nil
    require(total(2) == 0,
      s"dailystore merge: updates carry null '$key' values")
    require(total(3) == n,
      s"dailystore merge: updates carry null '$pcol' values")
    require(total(4) == n,
      s"dailystore merge: updates carry duplicate '$key' values — " +
        "keyed replace needs exactly one row per key")
    val insertDays: Seq[String] = perDay.map(_.getString(0)).toSeq

    val hconf = spark.sessionState.newHadoopConf()
    val live = new Path(path)
    val fs = live.getFileSystem(hconf)
    // heal any torn prior commit BEFORE anything reads the LISTING or
    // the data: a pending manifest means both that a day could read
    // partially applied AND that a store torn at the all-days-deleted
    // crash point would look day-less — taking the fresh-append path
    // there would skip the anti-join while the append's own commit
    // preamble replays the manifest, resurrecting old copies of the
    // merged keys (r19 review)
    if (fs.exists(live))
      DailyStoreRecovery.recoverPendingCommits(path, hconf)
    // "fresh" includes an EXISTING dir with no day partitions (a store
    // whose days were all deleted keeps its sidecars/markers): there is
    // nothing to discover or anti-join against, and reading it for the
    // schema guard would fail on inference. The root listing is taken
    // ONCE and reused for the touched-day path mapping below.
    val rootDayDirs: Array[String] =
      if (!fs.exists(live)) Array.empty
      else fs.listStatus(live).collect {
        case s if s.isDirectory &&
          s.getPath.getName.startsWith(s"$pcol=") => s.getPath.getName
      }
    val hasDays = rootDayDirs.nonEmpty
    if (!hasDays) {
      updates.write.format("dailystore").option("path", path)
        .option("partitionCol", pcol).mode("append").save()
      // a RE-SEEDED store (all days deleted, sidecars survive) defines a
      // new column universe: a stale `_schema.json` from the previous
      // life would override inference on every later merge — blessing a
      // merge that silently drops this seed's columns, or wedging the
      // true set behind a misleading mismatch error (r20 review).
      // Restamp to exactly this seed's columns when a sidecar exists.
      if (readSchemaSidecar(fs, live).exists(_ != cols.toSet))
        writeSchemaSidecar(fs, live, cols.toSet)
      return insertDays.sorted
    }
    // column-set guard (class doc): the rewrite writes the updates'
    // columns, so the sets must match exactly — unless `addColumns`
    // opted into evolution, where the updates may ADD columns but never
    // drop one. A store whose days straddle a prior evolution has MIXED
    // per-file schemas, and single-footer inference picking an old file
    // would silently bless a merge that drops the evolved column from
    // every day it rewrites. The guard therefore reads the
    // `_schema.json` sidecar every evolving merge stamps (O(1) — the
    // Delta-log move; an always-mergeSchema guard was tried first and
    // measurably scaled with store FILE COUNT: +2.0 s flat overhead on
    // a 1,024-day vs 256-day store in the r20 MergeScaling A/B);
    // without a sidecar, plain inference is sound for connector-written
    // stores (every pre-evolution file carries the same set), and a
    // mismatch re-checks through one mergeSchema pass before failing so
    // a legacy externally-evolved store is judged on its true union.
    // the meta sidecar every commit stamps (r20) is the freshest record
    // — a non-merge write that widened the store updates IT, while the
    // merge-only `_schema.json` could lag behind (the two-sidecars
    // divergence the r20 review flagged). When BOTH exist the guard
    // takes their UNION (r21): on a store whose meta predates an
    // addColumns evolution that only updated `_schema.json` (meta
    // stamping at commit arrived later than evolution), the stale
    // narrow meta would otherwise win and bless a merge that silently
    // drops the evolved column from every rewritten day — exactly the
    // data-loss mode this guard exists to prevent. The union is the
    // conservative record of every column either sidecar has seen; the
    // next commit restamps meta with the true set.
    val metaCols: Option[Set[String]] =
      SidecarJson.readRaw(fs, live, DailyStoreCatalog.MetaFile).flatMap { b =>
        try Some(org.apache.spark.sql.types.DataType
          .fromJson(new String(b, "UTF-8"))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
          .fieldNames.toSet)
        catch { case _: Exception => None }
      }
    val sidecarCols = (metaCols, readSchemaSidecar(fs, live)) match {
      case (Some(m), Some(g)) => Some(m ++ g)
      case (m, g) => m.orElse(g)
    }
    val inferredCols = sidecarCols.getOrElse {
      val fast = spark.read.parquet(path).schema.fieldNames.toSet
      if (fast == cols.toSet) fast
      else spark.read.option("mergeSchema", "true")
        .parquet(path).schema.fieldNames.toSet
    }
    def guardOk(store: Set[String]): Boolean =
      if (addColumns) store.subsetOf(cols.toSet) else store == cols.toSet
    // Ghost self-heal (r22, r21 ADVICE): the union guard fails in the
    // safe direction but used to be STICKY — a `_schema.json` column
    // stamped ahead of a commit that never landed (the documented
    // pre-commit crash window) blocked every future merge, because the
    // next commit restamps only meta and the union kept resurrecting
    // the ghost. Before failing on a sidecar-sourced mismatch, judge
    // the store on its TRUE per-file union (the same expensive
    // mergeSchema pass the no-sidecar fallback uses — paid only in the
    // rare divergence case): a sidecar column present in NO data file
    // and absent from meta is provably a never-committed reservation
    // (recoverPendingCommits already ran, so a recoverable evolution
    // would have landed its files first), and retiring it loses
    // nothing. The sidecar is rewritten to the true set — loudly,
    // naming both files — so the guard self-heals instead of requiring
    // a manual sidecar edit. A diverging column that DOES exist in a
    // file or in meta still fails exactly as before.
    // SINGLE-WRITER REQUIREMENT: this heal runs before commit() takes
    // the writer lease, and it turns the read-only guard into a sidecar
    // rewrite. It is safe only when no other writer works on the store:
    // a concurrent evolving merge inside its stamp-before-commit window
    // has a reserved column that is in no file and not in meta yet, so
    // this heal would retire it and invalidate that merge's guard.
    val storeCols =
      if (guardOk(inferredCols) || sidecarCols.isEmpty) inferredCols
      else {
        val fileCols = spark.read.option("mergeSchema", "true")
          .parquet(path).schema.fieldNames.toSet
        val trueCols = fileCols ++ metaCols.getOrElse(Set.empty)
        val ghosts = inferredCols -- trueCols
        if (ghosts.nonEmpty && guardOk(trueCols)) {
          System.err.println(
            s"[dailystore] merge at $path: retiring ghost column(s) " +
              s"${ghosts.toSeq.sorted.mkString(",")} recorded in " +
              s"$SchemaSidecarFile but present in no data " +
              "file and not in " + DailyStoreCatalog.MetaFile +
              " (a stamped-but-never-committed evolution); rewriting " +
              "the sidecar to the store's true column set")
          writeSchemaSidecar(fs, live, trueCols)
          trueCols
        } else inferredCols
      }
    if (addColumns)
      require(storeCols.subsetOf(cols.toSet),
        s"dailystore merge (addColumns): store at $path has columns " +
          s"${storeCols.toSeq.sorted.mkString(",")} but updates carry " +
          s"${cols.sorted.mkString(",")} — evolution may ADD columns, " +
          "never drop one, so the updates must carry every store column")
    else
      require(storeCols == cols.toSet,
        s"dailystore merge: store at $path has columns " +
          s"${storeCols.toSeq.sorted.mkString(",")} but updates carry " +
          s"${cols.sorted.mkString(",")} — a merge must preserve every " +
          "store column, so the sets must match (pass addColumns = true " +
          "to evolve the schema by adding columns)")
    // schema sidecar stamped PRE-COMMIT whenever absent or widening:
    // the next merge's guard then reads O(1) instead of inferring (a
    // full-listing metadata cost that grows with the store), and a
    // crash between an evolving commit and a post-commit stamp can
    // never leave an evolved store whose next old-set merge silently
    // drops the new column — the pre-commit stamp's failure mode is
    // the safe one (a stamped-but-uncommitted evolution leaves a ghost
    // sidecar column, which the r22 self-heal above retires against
    // the per-file union — loudly, and only when provably committed
    // nowhere — instead of wedging every later old-set merge)
    if (sidecarCols.isEmpty || (addColumns && storeCols != cols.toSet))
      writeSchemaSidecar(fs, live, cols.toSet)
    // the contract aggregate proved one row per key, so the key column
    // needs no distinct and n IS the key cardinality — the measured
    // size that picks broadcast vs shuffle
    val updKeys = sizedKeySide(spark, updates.select(col(key)), n)
    // DISCOVERY is the only step that reads beyond the touched days:
    // one column-pruned full scan, read with the UPDATES' schema (pins
    // the partition column's type against directory-name inference —
    // the digit-like-string hazard DailyStoreRecovery.compact documents)
    val daysWithKeys: Seq[String] =
      if (assumeKeyDayStable) Nil
      else spark.read.schema(updates.schema).parquet(path)
        .select(col(pcol), col(key))
        .join(updKeys, Seq(key), "left_semi")
        .select(col(pcol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSeq
    val touched = (daysWithKeys ++ insertDays).distinct.sorted
    // the REWRITE reads ONLY the touched day directories, resolved
    // against the root listing taken above (unescaping directory names
    // so escaped partition values map back to their cast-to-string
    // form), with basePath recovering the partition column — NOT a
    // full-store read filtered by day: that shape re-LISTS every
    // partition directory per merge, a metadata cost that grows with
    // the store even though the scan itself prunes (the r20
    // MergeScaling A/B measured ~+2.3 s on a 1,024- vs 256-day store
    // from exactly this). Touched days with no existing directory
    // (pure inserts into new days) contribute no rows by construction.
    val dirByValue: Map[String, String] = rootDayDirs.map { nm =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(nm.stripPrefix(s"$pcol=")) -> nm
    }.toMap
    val touchedPaths = touched.flatMap(dirByValue.get).map(nm => s"$path/$nm")
    val storeTouched =
      if (touchedPaths.isEmpty) updates.limit(0)
      else spark.read.schema(updates.schema)
        .option("basePath", path).parquet(touchedPaths: _*)
    // SQL-front cardinality guard (class doc): one key-column pass over
    // the touched days BEFORE the commit — a matched key with same-key
    // copies in the store would be silently collapsed by the keyed
    // replace, which SQL MERGE must reject
    if (requireUniqueMatchedKeys) {
      val dup = storeTouched
        .select(col(key))
        .join(updKeys, Seq(key), "left_semi")
        .groupBy(col(key)).agg(count(lit(1)).as("copies"))
        .filter(col("copies") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"dailystore merge: target key '${dup.head.get(0)}' has " +
          s"${dup.head.getLong(1)} same-key copies in the store — keyed " +
          "replace would collapse them to one row, diverging from SQL " +
          "MERGE's update-each-copy semantics; deduplicate the store " +
          "(or use the Scala mergeByKey, whose replace-collapse " +
          "cardinality is the documented contract)")
    }
    val merged = storeTouched
      .join(updKeys, Seq(key), "left_anti")
      .unionByName(updates.select(cols.map(col).toSeq: _*))
    merged.write.format("dailystore")
      .option("path", path).option("partitionCol", pcol)
      .option("overwriteDays", touched.mkString(","))
      .mode("overwrite").save()
    touched
  }

  /** The evolved-schema sidecar (`_schema.json` at the store root):
    * stamped by every `addColumns` merge that actually widens the
    * store, read by the column-set guard so judging a mixed-footer
    * store never needs a per-file footer merge. Written pre-commit,
    * write-then-rename (the manifest's atomicity discipline). */
  private[graft] val SchemaSidecarFile = "_schema.json"

  private[sources] def readSchemaSidecar(
      fs: org.apache.hadoop.fs.FileSystem,
      live: Path): Option[Set[String]] = {
    import scala.jdk.CollectionConverters._
    SidecarJson.read(fs, live, SchemaSidecarFile).map(node =>
      node.get("columns").elements().asScala.map(_.asText()).toSet)
  }

  private def writeSchemaSidecar(fs: org.apache.hadoop.fs.FileSystem,
                                 live: Path, cols: Set[String]): Unit =
    SidecarJson.write(fs, live, SchemaSidecarFile) { root =>
      val arr = root.putArray("columns")
      cols.toSeq.sorted.foreach(arr.add)
    }

  /** Sniff a hive-layout partition column at `path`: the unique
    * `<name>=` directory prefix, when exactly one non-hidden prefix
    * exists. [[graft.pipelines.Sinks.upsertByKey]] uses it to route a
    * keyed upsert against a day-partitioned store through the
    * copy-on-write merge instead of the whole-table swap.
    */
  private[graft] def sniffPartitionCol(spark: SparkSession,
                                       path: String): Option[String] = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(live)) return None
    val prefixes = fs.listStatus(live)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.contains("=") && !n.startsWith("_") &&
        !n.startsWith("."))
      .map(_.split("=", 2)(0)).distinct
    if (prefixes.length == 1) Some(prefixes.head) else None
  }

  /** True when any `pcol=` directory name at `path` carries a `%`
    * (URI-escaped partition value — Spark escapes e.g. a space to
    * `%20`). [[graft.pipelines.Sinks.upsertByKey]] refuses to ADOPT
    * such a dir into dailystore management: the merge rewrite would
    * round-trip values through escaping, and the permissive swap path
    * already handles them.
    */
  private[graft] def hasEscapedDayValues(spark: SparkSession,
                                         path: String,
                                         pcol: String): Boolean = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(live) && fs.listStatus(live).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith(s"$pcol=") &&
        s.getPath.getName.contains("%"))
  }
}
