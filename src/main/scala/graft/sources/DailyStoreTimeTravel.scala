package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DateType, StructType}

/** Time-travel-lite for `dailystore` tables (r16 stretch): bounded
  * rollback for the daily re-ingest loop, riding the commit-manifest
  * protocol that already names every file a commit adds and every
  * partition it condemns.
  *
  * OFF by default — a plain store behaves exactly as before (condemned
  * partitions are deleted). [[enable]] drops a `_retention.json` marker
  * at the store root; from then on every commit:
  *
  *  1. ARCHIVES the files it condemns into
  *     `_versions/v<seq>-<queryId>/<pcol>=<v>/` instead of deleting
  *     them (same rename-based directory surgery, same crash-replay
  *     manifest — recovery archives too, so a torn commit still
  *     converges to the committed end state with its archive intact);
  *  2. RETAINS its manifest as `_versions/v<seq>-<qid>/manifest.json`
  *     (renamed out of the pending `_commit-*` namespace, so recovery
  *     never replays a completed commit);
  *  3. PRUNES versions beyond the configured `keep` (oldest first) —
  *     the bound that keeps a daily loop's archive from growing
  *     forever.
  *
  * [[readVersion]](n) reconstructs the table as of n commits back by
  * pure set algebra over the retained manifests — no data copying:
  * walking newest→oldest, a version's ADDED files (manifest `files`)
  * are removed from the visible set and its ARCHIVED files (the
  * condemned ones, sitting verbatim in the version dir) are restored
  * to it. Days no rolled-back manifest touched are read straight off
  * the live store with partition pruning; only touched days pay a
  * per-day explicit-file read. The daily re-ingest loop touches 1-2
  * days per commit, so a rollback read is the pruned store scan plus a
  * handful of day-level unions.
  *
  * Why no SQL `VERSION AS OF` front: Spark routes that syntax through
  * `TableCatalog.loadTable(ident, version)`, which must return a Table
  * whose DSv2 Scan serves the historical file set — but a rollback
  * state mixes live files with archived ones whose partition values
  * exist only in their directory names under `_versions/`, and Spark's
  * parquet FileTable cannot attach per-file partition values across
  * disjoint roots. Serving it would mean a hand-rolled parquet Scan
  * (rejected in r14 — worse than the engine's own reader) or
  * materializing a snapshot. The Scala [[readVersion]] composes the
  * engine's reader per day instead; an operator action, not a query
  * surface, by scope.
  *
  * This is deliberately NOT a transactional table format: concurrent
  * readers of a mid-commit store see the same torn-read caveat as
  * ever, and version history is bounded by `keep`. What it adds is the
  * operational half the re-ingest loop actually needs — "yesterday's
  * ingest was garbage, show me / restore the day before" — at the cost
  * of one extra rename per condemned file. MEASURED (r16, 20 dynamic
  * 3-day-replace commits, local FS, same JVM): plain loop 4.43 s vs
  * retention loop 5.01 s ≈ 29 ms per commit of archive renames +
  * version bookkeeping — noise for a loop that runs once per day.
  *
  * Restore is a read + ordinary write: `readVersion(spark, path, 1)
  * .write.format("dailystore").mode("overwrite")...` day-replaces the
  * bad state through the normal commit path (itself versioned, so a
  * restore is undoable too).
  */
object DailyStoreTimeTravel {

  private[sources] val VersionsDir = "_versions"
  private[sources] val RetentionFile = "_retention.json"
  private[graft] val LastCommitFile = "_last_commit.json"

  /** The newest committed seq the store has recorded, from the
    * `_last_commit.json` sidecar every commit stamps (retention ON or
    * OFF — the sidecar is what lets a time-travel read DETECT a commit
    * that ran with retention off after the newest version dir, the
    * blind spot dirs alone cannot see). `None` on stores that predate
    * the sidecar (their commits were all pre-r18; the readers then fall
    * back to the dirs-only contract). Unreadable-but-present fails
    * loudly, like [[retentionOf]]: a silent `None` would hide exactly
    * the gap the sidecar exists to expose.
    */
  private[sources] def lastCommitSeq(fs: FileSystem, live: Path): Option[Long] = {
    val p = new Path(live, LastCommitFile)
    if (!fs.exists(p)) None
    else {
      try {
        val in = fs.open(p)
        val bytes = try in.readAllBytes() finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(bytes).get("seq")
        if (node == null || !node.canConvertToLong)
          throw new java.io.IOException("no integer 'seq' field")
        Some(node.asLong())
      } catch {
        case e: Exception =>
          throw new java.io.IOException(
            s"dailystore: $p exists but is unreadable (${e.getMessage}); " +
              "refusing to guess the commit head — fix or remove the " +
              "sidecar (removing it downgrades time-travel gap detection " +
              "to the dirs-only contract)", e)
      }
    }
  }

  /** Fail loudly when a pending `_commit-*` manifest sits at the store
    * root: either a crashed commit awaiting recovery, or a LIVE commit
    * mid-flight (the window between the sidecar stamp and the
    * manifest-to-version-dir rename). Every historical reader must run
    * this BEFORE the sidecar-vs-dirs head-gap check — in that mid-flight
    * window the sidecar reads seq N while the newest version dir is
    * still N-1, and a head-gap check alone would misreport a healthy
    * racing commit as "ran with retention OFF" (r18 ADVICE).
    */
  private[sources] def assertNoPendingCommits(fs: FileSystem, live: Path,
                                              path: String): Unit = {
    val pending = fs.listStatus(live).filter(!_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("_commit-") &&
        (n.endsWith(".json") || n.endsWith(".json.tmp")))
    require(pending.isEmpty,
      s"dailystore: $path has ${pending.length} pending commit " +
        s"manifest(s) (${pending.mkString(", ")}) — a commit is either " +
        "mid-flight (retry the read) or crashed; run " +
        "DailyStoreRecovery.recoverPendingCommits(path, conf) (or any " +
        "write, which self-heals) before historical reads, or the torn " +
        "commit's days would be reconstructed incorrectly")
  }

  /** Advance the sidecar to `seq` — monotone (a replay stamping an old
    * manifest's seq never regresses the head), write-then-rename so the
    * sidecar appears atomically. Runs under the writer lease like every
    * other commit mutation.
    */
  private[sources] def recordCommitSeq(fs: FileSystem, live: Path,
                                       seq: Long): Unit = {
    if (lastCommitSeq(fs, live).exists(_ >= seq)) return
    val p = new Path(live, LastCommitFile)
    val tmp = new Path(live, LastCommitFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"seq":$seq}""".getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(
        s"dailystore: last-commit sidecar rename failed: $tmp -> $p")
  }

  /** Turn retention on for the store (idempotent; `keep` latest
    * versions are retained, older ones pruned at each commit). */
  def enable(spark: SparkSession, path: String, keep: Int): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(live)
    val out = fs.create(new Path(live, RetentionFile), true)
    try out.write(s"""{"keep":$keep}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** Turn retention off (existing versions stay on disk until manually
    * removed; commits go back to deleting condemned files). */
  def disable(spark: SparkSession, path: String): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(live, RetentionFile), false)
  }

  /** `None` means retention is OFF (no `_retention.json`). A file that
    * exists but cannot be read or parsed THROWS instead of falling back:
    * a silent `None` would flip a retention-enabled store into
    * delete-mode and the next commit would permanently delete files the
    * operator believes are being archived. */
  private[sources] def retentionOf(fs: FileSystem, live: Path): Option[Int] = {
    val p = new Path(live, RetentionFile)
    if (!fs.exists(p)) None
    else {
      val keep =
        try {
          val in = fs.open(p)
          val bytes = try in.readAllBytes() finally in.close()
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(bytes).get("keep")
          if (node == null || !node.canConvertToInt)
            throw new java.io.IOException(s"no integer 'keep' field")
          node.asInt()
        } catch {
          case e: Exception =>
            throw new java.io.IOException(
              s"dailystore: $p exists but is unreadable (${e.getMessage}); " +
                "refusing to fall back to delete-mode — fix or remove the " +
                "retention file", e)
        }
      Some(keep)
    }
  }

  /** One retained version: its sequence number, the archive dir, and
    * the parsed commit manifest. */
  private[sources] final case class StoreVersion(
      seq: Long, dir: Path,
      manifest: com.fasterxml.jackson.databind.JsonNode)

  private val VersionName = """v(\d+)-(.+)""".r

  /** Retained versions, NEWEST first. Versions whose manifest has not
    * landed yet (mid-commit) are skipped. */
  private[sources] def versions(fs: FileSystem, live: Path): Seq[StoreVersion] = {
    val vroot = new Path(live, VersionsDir)
    if (!fs.exists(vroot)) return Nil
    fs.listStatus(vroot).filter(_.isDirectory).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionName(seq, _) =>
          val mp = new Path(st.getPath, "manifest.json")
          if (!fs.exists(mp)) None
          else {
            val in = fs.open(mp)
            val bytes = try in.readAllBytes() finally in.close()
            val node = try new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(bytes) catch { case _: Exception => null }
            Option(node).map(StoreVersion(seq.toLong, st.getPath, _))
          }
        case _ => None
      }
    }.sortBy(-_.seq)
  }

  /** Next commit's sequence number (single writer under the lease):
    * one past the newest of (version dirs, `_last_commit` sidecar) —
    * sidecar-aware so seqs stay monotone across retention toggles: a
    * commit made while retention is OFF leaves no dir but bumps the
    * sidecar, and the next retention-ON commit's dir then lands with a
    * seq GAP the readers' consecutiveness checks can see.
    */
  private[sources] def nextSeq(fs: FileSystem, live: Path): Long = {
    val recorded = lastCommitSeq(fs, live).getOrElse(0L)
    val vroot = new Path(live, VersionsDir)
    val dirMax =
      if (!fs.exists(vroot)) 0L
      else {
        val seqs = fs.listStatus(vroot).flatMap(_.getPath.getName match {
          case VersionName(s, _) => Some(s.toLong)
          case _ => None
        })
        if (seqs.isEmpty) 0L else seqs.max
      }
    math.max(recorded, dirMax) + 1L
  }

  /** Zero-padded so version dirs sort lexically by sequence. */
  private[sources] def versionDirName(seq: Long, queryId: String): String =
    f"$VersionsDir/v$seq%012d-$queryId"

  /** Delete the oldest versions beyond `keep`. */
  private[sources] def prune(fs: FileSystem, live: Path, keep: Int): Unit =
    versions(fs, live).drop(keep).foreach(v => fs.delete(v.dir, true))

  /** Manual archive maintenance: keep only the newest `keep` versions
    * (the commit-time prune bounds growth already; this is for
    * tightening the horizon after the fact, e.g. before handing a
    * store off). Returns the number of versions deleted. */
  def vacuum(spark: SparkSession, path: String, keep: Int): Int = {
    require(keep >= 0, s"keep must be >= 0, got $keep")
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val victims = versions(fs, live).drop(keep)
    victims.foreach(v => fs.delete(v.dir, true))
    victims.size
  }

  /** The store's commit history as a DataFrame, newest first — the
    * DESCRIBE-HISTORY analogue for deciding how far a rollback can and
    * should go: one row per retained version with its sequence number,
    * writer queryId, commit time (the version dir's mtime), the days
    * it replaced (condemned), the days it wrote, and its file counts.
    * `versions_back` is the value to hand [[readVersion]] to read the
    * state BEFORE that commit.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val vs = versions(fs, live)
    vs.zipWithIndex.map { case (v, i) =>
      val qid = v.dir.getName match {
        case VersionName(_, q) => q
        case _ => ""
      }
      val added = v.manifest.get("files").elements().asScala
        .map(_.get(0).asText()).toSeq
      val condemned = v.manifest.get("condemned").elements().asScala
        .map(_.asText()).toSeq
      val ts = new java.sql.Timestamp(fs.getFileStatus(v.dir)
        .getModificationTime)
      (v.seq, i + 1, qid, ts, condemned.sorted, added.distinct.sorted,
        added.size)
    }.toDF("seq", "versions_back", "query_id", "committed_at",
      "replaced_partitions", "written_days", "n_files_written")
  }

  /** The table as of `versionsBack` commits ago (0 = current state).
    * Throws if the store does not retain that many versions. The
    * returned frame has the live store's column order. */
  def readVersion(spark: SparkSession, path: String, versionsBack: Int,
                  pcol: String = "d"): DataFrame = {
    require(versionsBack >= 0, s"versionsBack must be >= 0, got $versionsBack")
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    // An EMPTIED store (a truncate-to-empty commit — exactly the state
    // a rollback reader gets reached for) has no live parquet to infer
    // a schema from; the newest version dir is itself a hive layout
    // (pcol= subdirs of archived files), so infer there and start from
    // an empty frame. Plain empty-store reads still fail as ever.
    val current =
      try spark.read.parquet(path)
      catch {
        case e: org.apache.spark.sql.AnalysisException if versionsBack > 0 =>
          versions(fs, live).headOption match {
            case Some(v) =>
              val shaped = spark.read.parquet(v.dir.toString)
              shaped.filter(org.apache.spark.sql.functions.lit(false))
            case None => throw e
          }
      }
    if (versionsBack == 0) return current
    // a TORN store (pending _commit-* manifest from a crashed commit)
    // would reconstruct WRONG here — the torn commit's archive has no
    // retained manifest yet, so its day would silently vanish from the
    // rollback. Fail loudly instead of mutating inside a reader; this
    // is exactly the post-crash moment a rollback reader gets reached
    // for, so the message names the repair.
    assertNoPendingCommits(fs, live, path)
    val vs = versions(fs, live)
    // r18: a commit that ran with retention OFF after the newest
    // version dir has no manifest to roll back through — walking the
    // retained manifests from the CURRENT live state would silently
    // keep its changes in every "historical" result
    DailyStoreVersionRead.assertNoHeadGap(
      lastCommitSeq(fs, live), vs, path)
    require(vs.size >= versionsBack,
      s"dailystore: only ${vs.size} version(s) retained at $path, " +
        s"cannot go $versionsBack back (raise keep in enable(), or the " +
        "commits predate retention)")
    val rolled = vs.take(versionsBack) // newest first
    // the walk must be gap-free: a missing manifest INSIDE the walk
    // (retention toggled mid-life, or a dir removed out of order) would
    // silently skip that commit's undo — same consecutiveness contract
    // as the SQL fronts' versionsBackFor (r18)
    locally {
      val walked = rolled.map(_.seq)
      val expected = (0 until versionsBack).map(vs.head.seq - _)
      require(walked == expected,
        s"dailystore: retained versions at $path have a gap in the " +
          s"rollback walk (have ${walked.mkString(",")}, need " +
          s"${expected.mkString(",")}) — a commit ran with retention " +
          "off, or version dirs were removed out of order")
    }

    def addedOf(v: StoreVersion): Seq[(String, String)] =
      v.manifest.get("files").elements().asScala
        .map(a => (a.get(0).asText(), a.get(1).asText())).toSeq
    def condemnedDaysOf(v: StoreVersion): Seq[String] =
      v.manifest.get("condemned").elements().asScala
        .map(_.asText().stripPrefix(s"$pcol=")).toSeq

    val touched: Set[String] =
      rolled.flatMap(v => addedOf(v).map(_._1) ++ condemnedDaysOf(v)).toSet

    // visible file set per touched day, rolled back newest -> oldest:
    // name -> concrete path (live dir or an archive dir)
    var state: Map[String, Map[String, Path]] = touched.map { day =>
      val dir = new Path(live, s"$pcol=$day")
      val cur: Map[String, Path] =
        if (!fs.exists(dir)) Map.empty
        else fs.listStatus(dir).filter(f => !f.isDirectory &&
            f.getPath.getName.endsWith(".parquet"))
          .map(f => f.getPath.getName -> f.getPath).toMap
      day -> cur
    }.toMap
    rolled.foreach { v =>
      addedOf(v).foreach { case (pv, name) =>
        state = state.updated(pv, state.getOrElse(pv, Map.empty) - name)
      }
      // restore what this commit archived
      if (fs.exists(v.dir)) fs.listStatus(v.dir)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$pcol="))
        .foreach { dayDir =>
          val pv = dayDir.getPath.getName.stripPrefix(s"$pcol=")
          val restored = fs.listStatus(dayDir.getPath)
            .filter(f => !f.isDirectory &&
              f.getPath.getName.endsWith(".parquet"))
            .map(f => f.getPath.getName -> f.getPath).toMap
          state = state.updated(pv, state.getOrElse(pv, Map.empty) ++ restored)
        }
    }

    val pcolField = current.schema(pcol)
    val dataSchema = StructType(current.schema.filterNot(_.name == pcol))
    val colOrder = current.schema.fieldNames.toSeq.map(col)
    // untouched days: the live store, partition-pruned (typed literals
    // so pruning survives — string literals against a date column would
    // wrap the partition column in a cast)
    val touchedLits: Seq[Any] = pcolField.dataType match {
      case DateType => touched.toSeq.map(java.sql.Date.valueOf)
      case _ => touched.toSeq
    }
    val untouched =
      if (touched.isEmpty) current
      else current.filter(!col(pcol).isin(touchedLits: _*))
    val dayFrames = state.toSeq.sortBy(_._1).flatMap { case (pv, files) =>
      if (files.isEmpty) None
      else Some(
        spark.read.schema(dataSchema)
          .parquet(files.values.toSeq.map(_.toString).sorted: _*)
          .withColumn(pcol, lit(pv).cast(pcolField.dataType))
          .select(colOrder: _*))
    }
    dayFrames.foldLeft(untouched.select(colOrder: _*))(_ unionByName _)
  }
}
