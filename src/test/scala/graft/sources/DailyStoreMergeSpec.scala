package graft.sources

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins for [[DailyStoreMerge.mergeByKey]] — the copy-on-write S8
  * merge: keyed-replace semantics (incl. day MOVES and emptied days),
  * the untouched-day byte-identity contract, contract violations
  * rejected loudly, composition with retention/time travel, and the
  * [[graft.pipelines.Sinks.upsertByKey]] routing.
  */
class DailyStoreMergeSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"dsmerge_${tag}_${System.nanoTime()}").getPath

  private def d(s: String): Date = Date.valueOf(s)

  private def rows(rs: (String, Int, String)*) =
    rs.toSeq.map { case (dt, k, v) => (d(dt), k, v) }
      .toDF("d", "k", "v").repartition(3)

  private def readBack(dir: String): Seq[(Date, Int, String)] =
    spark.read.parquet(dir).select("d", "k", "v").orderBy("d", "k")
      .as[(Date, Int, String)].collect().toSeq

  /** (relative file path -> content bytes) for every data file of one
    * day partition — the byte-identity probe. */
  private def dayFiles(dir: String, day: String): Map[String, Seq[Byte]] = {
    val dd = new java.io.File(dir, s"d=$day")
    if (!dd.exists()) Map.empty
    else dd.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq
    }.toMap
  }

  private def seed(dir: String): Unit =
    rows(
      ("2020-03-01", 1, "a"), ("2020-03-01", 2, "b"),
      ("2020-03-02", 3, "c"), ("2020-03-02", 4, "d"),
      ("2020-03-03", 5, "e"))
      .write.format("dailystore").option("path", dir)
      .option("partitionCol", "d").mode("append").save()

  test("keyed replace: update in place, key day-MOVE, new-key insert " +
    "into a new day; untouched day files stay byte-identical") {
    val dir = freshDir("semantics")
    seed(dir)
    val before0301 = dayFiles(dir, "2020-03-01")
    assert(before0301.nonEmpty)
    // k=3 updated in place on 03-02; k=5 MOVES 03-03 -> 03-02; k=9 is a
    // new key landing in a brand-new day 03-04. 03-01 is untouched.
    val touched = DailyStoreMerge.mergeByKey(spark, dir,
      rows(("2020-03-02", 3, "C2"), ("2020-03-02", 5, "E2"),
        ("2020-03-04", 9, "I")),
      key = "k", pcol = "d")
    assert(touched == Seq("2020-03-02", "2020-03-03", "2020-03-04"))
    assert(readBack(dir) == Seq(
      (d("2020-03-01"), 1, "a"), (d("2020-03-01"), 2, "b"),
      (d("2020-03-02"), 3, "C2"), (d("2020-03-02"), 4, "d"),
      (d("2020-03-02"), 5, "E2"),
      (d("2020-03-04"), 9, "I")))
    // the untouched day was never rewritten: same file names, same bytes
    assert(dayFiles(dir, "2020-03-01") == before0301)
    // 03-03 lost its only row to the day move: the DIRECTORY is gone,
    // not left holding a stale copy of k=5 (the case dynamic overwrite
    // cannot express)
    assert(!new java.io.File(dir, "d=2020-03-03").exists())
  }

  test("touched days and results: insert-only days touch only the " +
    "updates' days; moved keys also touch the days they leave") {
    val ins = freshDir("insonly")
    seed(ins)
    val before0302 = dayFiles(ins, "2020-03-02")
    // new keys only: one into an existing day, one into a new day
    val insTouched = DailyStoreMerge.mergeByKey(spark, ins,
      rows(("2020-03-01", 10, "j"), ("2020-03-05", 11, "k")), key = "k")
    assert(insTouched == Seq("2020-03-01", "2020-03-05"))
    assert(readBack(ins) == Seq(
      (d("2020-03-01"), 1, "a"), (d("2020-03-01"), 2, "b"),
      (d("2020-03-01"), 10, "j"),
      (d("2020-03-02"), 3, "c"), (d("2020-03-02"), 4, "d"),
      (d("2020-03-03"), 5, "e"), (d("2020-03-05"), 11, "k")))
    assert(dayFiles(ins, "2020-03-02") == before0302)

    val mv = freshDir("moved")
    seed(mv)
    // k=1 moves 03-01 -> 03-03, k=4 moves 03-02 -> a new day 03-05
    val mvTouched = DailyStoreMerge.mergeByKey(spark, mv,
      rows(("2020-03-03", 1, "A"), ("2020-03-05", 4, "D")), key = "k")
    assert(mvTouched == Seq("2020-03-01", "2020-03-02", "2020-03-03",
      "2020-03-05"))
    assert(readBack(mv) == Seq(
      (d("2020-03-01"), 2, "b"), (d("2020-03-02"), 3, "c"),
      (d("2020-03-03"), 1, "A"), (d("2020-03-03"), 5, "e"),
      (d("2020-03-05"), 4, "D")))
  }

  test("merge is idempotent: re-applying the same updates is a no-op " +
    "on contents") {
    val dir = freshDir("idem")
    seed(dir)
    val upd = rows(("2020-03-02", 3, "C2"), ("2020-03-04", 9, "I"))
    DailyStoreMerge.mergeByKey(spark, dir, upd, key = "k")
    val first = readBack(dir)
    DailyStoreMerge.mergeByKey(spark, dir, upd, key = "k")
    assert(readBack(dir) == first)
  }

  test("assumeKeyDayStable = true skips discovery: same result when " +
    "keys keep their day; the scan-free prune is the documented trade") {
    val dir = freshDir("stable")
    seed(dir)
    DailyStoreMerge.mergeByKey(spark, dir,
      rows(("2020-03-02", 3, "C2"), ("2020-03-04", 9, "I")),
      key = "k", assumeKeyDayStable = true)
    assert(readBack(dir).contains((d("2020-03-02"), 3, "C2")))
    assert(readBack(dir).contains((d("2020-03-04"), 9, "I")))
    assert(readBack(dir).size == 6)
  }

  test("contract violations fail loudly: duplicate keys, null key, " +
    "missing column, column-set drift") {
    val dir = freshDir("contract")
    seed(dir)
    val dup = intercept[IllegalArgumentException] {
      DailyStoreMerge.mergeByKey(spark, dir,
        rows(("2020-03-02", 3, "x"), ("2020-03-03", 3, "y")), key = "k")
    }
    assert(dup.getMessage.contains("duplicate"))
    val nullKey = intercept[IllegalArgumentException] {
      DailyStoreMerge.mergeByKey(spark, dir,
        Seq((d("2020-03-02"), Option.empty[Int], "x"))
          .toDF("d", "k", "v"), key = "k")
    }
    assert(nullKey.getMessage.contains("null 'k'"))
    val noPcol = intercept[IllegalArgumentException] {
      DailyStoreMerge.mergeByKey(spark, dir,
        Seq((3, "x")).toDF("k", "v"), key = "k")
    }
    assert(noPcol.getMessage.contains("partition column"))
    val drift = intercept[IllegalArgumentException] {
      DailyStoreMerge.mergeByKey(spark, dir,
        Seq((d("2020-03-02"), 3)).toDF("d", "k"), key = "k")
    }
    assert(drift.getMessage.contains("column"))
  }

  test("merge on a missing store creates it; empty updates are a no-op") {
    val dir = freshDir("create")
    val touched = DailyStoreMerge.mergeByKey(spark, dir,
      rows(("2020-03-01", 1, "a")), key = "k")
    assert(touched == Seq("2020-03-01"))
    assert(readBack(dir) == Seq((d("2020-03-01"), 1, "a")))
    assert(DailyStoreMerge.mergeByKey(spark, dir,
      rows().toDF.limit(0).select(col("d"), col("k"), col("v")),
      key = "k").isEmpty)
    assert(readBack(dir) == Seq((d("2020-03-01"), 1, "a")))
  }

  test("merge under retention is an ordinary versioned commit: " +
    "readVersion(1) reconstructs the pre-merge state") {
    val dir = freshDir("retention")
    DailyStoreTimeTravel.enable(spark, dir, keep = 3)
    seed(dir)
    val pre = readBack(dir)
    DailyStoreMerge.mergeByKey(spark, dir,
      rows(("2020-03-02", 3, "C2"), ("2020-03-02", 5, "E2")), key = "k")
    assert(readBack(dir) != pre)
    val rolled = DailyStoreTimeTravel.readVersion(spark, dir, 1)
      .select("d", "k", "v").orderBy("d", "k")
      .as[(Date, Int, String)].collect().toSeq
    assert(rolled == pre)
  }

  test("string partition values (digit-like) round-trip without " +
    "inference corruption") {
    val dir = freshDir("strpcol")
    Seq(("20200301", 1, "a"), ("20200302", 2, "b"))
      .toDF("d", "k", "v")
      .write.format("dailystore").option("path", dir)
      .option("partitionCol", "d").mode("append").save()
    DailyStoreMerge.mergeByKey(spark, dir,
      Seq(("20200302", 2, "B2"), ("20200303", 3, "c"))
        .toDF("d", "k", "v"), key = "k")
    val got = spark.read.schema("d STRING, k INT, v STRING").parquet(dir)
      .select("d", "k", "v")
      .orderBy("d", "k").as[(String, Int, String)].collect().toSeq
    assert(got == Seq(("20200301", 1, "a"), ("20200302", 2, "B2"),
      ("20200303", 3, "c")))
  }

  test("Sinks.upsertByKey routes a day-partitioned store through the " +
    "copy-on-write merge (untouched day not rewritten); flat parquet " +
    "keeps the swap") {
    val dir = freshDir("route")
    seed(dir)
    val before0301 = dayFiles(dir, "2020-03-01")
    graft.pipelines.Sinks.upsertByKey(spark,
      rows(("2020-03-02", 3, "C2")), dir, "k")
    assert(readBack(dir).contains((d("2020-03-02"), 3, "C2")))
    // merge path taken: the untouched day's files were not rewritten
    assert(dayFiles(dir, "2020-03-01") == before0301)
    // flat layout: swap path still works end to end
    val flat = freshDir("routeflat")
    Seq((1, "a"), (2, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(flat)
    graft.pipelines.Sinks.upsertByKey(spark,
      Seq((2, "B2"), (3, "c")).toDF("k", "v"), flat, "k")
    assert(spark.read.parquet(flat).orderBy("k")
      .as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "B2"), (3, "c")))
  }

  test("size-guarded key joins: forcing the shuffle_hash fallthrough " +
    "(maxBroadcastKeys = 1) yields the identical result the broadcast " +
    "regime does") {
    val updates = rows(("2020-03-02", 3, "C2"), ("2020-03-02", 5, "E2"),
      ("2020-03-04", 9, "I"))
    def runWith(conf: Option[String]): Seq[(Date, Int, String)] = {
      val dir = freshDir(s"size${conf.getOrElse("bc")}")
      seed(dir)
      conf match {
        case Some(v) => spark.conf.set(DailyStoreMerge.MaxBroadcastKeysConf, v)
        case None => spark.conf.unset(DailyStoreMerge.MaxBroadcastKeysConf)
      }
      try DailyStoreMerge.mergeByKey(spark, dir, updates, "k", "d")
      finally spark.conf.unset(DailyStoreMerge.MaxBroadcastKeysConf)
      readBack(dir)
    }
    val broadcastResult = runWith(None) // 3 keys <= default 1M: broadcast
    val shuffledResult = runWith(Some("1")) // 3 keys > 1: shuffle_hash
    assert(broadcastResult == shuffledResult)
    assert(broadcastResult.contains((d("2020-03-02"), 3, "C2")))
  }

  test("requireUniqueMatchedKeys rejects a merge whose matched target " +
    "key has same-key copies; the default collapses them (documented " +
    "keyed-replace cardinality)") {
    val dir = freshDir("dupt")
    // two copies of k=3 in the store (appends can create them)
    rows(("2020-03-01", 1, "a"), ("2020-03-02", 3, "c1"))
      .write.format("dailystore").option("path", dir)
      .option("partitionCol", "d").mode("append").save()
    rows(("2020-03-03", 3, "c2"))
      .write.format("dailystore").option("path", dir)
      .option("partitionCol", "d").mode("append").save()
    val upd = rows(("2020-03-02", 3, "C9"))
    val ex = intercept[IllegalArgumentException] {
      DailyStoreMerge.mergeByKey(spark, dir, upd, "k", "d",
        requireUniqueMatchedKeys = true)
    }
    assert(ex.getMessage.contains("same-key copies"))
    // the guard failed BEFORE the commit: both copies still present
    assert(readBack(dir).count(_._2 == 3) == 2)
    // default (Scala-front) semantics: both copies collapse to the one
    // update row — the reference's update_one replace shape
    DailyStoreMerge.mergeByKey(spark, dir, upd, "k", "d")
    assert(readBack(dir) == Seq(
      (d("2020-03-01"), 1, "a"), (d("2020-03-02"), 3, "C9")))
    // an UNMATCHED duplicate elsewhere in the store never trips the
    // guard: only keys the updates actually touch are checked
    val dir2 = freshDir("duptother")
    rows(("2020-03-01", 7, "x1"), ("2020-03-02", 7, "x2"),
      ("2020-03-02", 8, "y"))
      .write.format("dailystore").option("path", dir2)
      .option("partitionCol", "d").mode("append").save()
    DailyStoreMerge.mergeByKey(spark, dir2, rows(("2020-03-02", 8, "Y2")),
      "k", "d", requireUniqueMatchedKeys = true)
    assert(readBack(dir2).contains((d("2020-03-02"), 8, "Y2")))
  }

  test("addColumns = true evolves the schema: rewritten days carry the " +
    "new column, untouched days stay byte-identical and serve NULL; " +
    "without the opt-in the widened updates are rejected") {
    val dir = freshDir("evolve")
    seed(dir)
    val before0301 = dayFiles(dir, "2020-03-01")
    val widened = Seq((d("2020-03-02"), 3, "C2", "noted"))
      .toDF("d", "k", "v", "note")
    // loud without the opt-in
    val ex = intercept[IllegalArgumentException] {
      DailyStoreMerge.mergeByKey(spark, dir, widened, "k", "d")
    }
    assert(ex.getMessage.contains("addColumns"))
    DailyStoreMerge.mergeByKey(spark, dir, widened, "k", "d",
      addColumns = true)
    // untouched day: same files, same bytes — evolution never rewrites it
    assert(dayFiles(dir, "2020-03-01") == before0301)
    val evolved = spark.read.option("mergeSchema", "true").parquet(dir)
      .select("d", "k", "v", "note").orderBy("d", "k")
      .as[(Date, Int, String, Option[String])].collect().toSeq
    assert(evolved == Seq(
      (d("2020-03-01"), 1, "a", None), (d("2020-03-01"), 2, "b", None),
      (d("2020-03-02"), 3, "C2", Some("noted")),
      (d("2020-03-02"), 4, "d", None),
      (d("2020-03-03"), 5, "e", None)))
    // a SUBSEQUENT merge carrying the evolved set passes the column-set
    // guard even though single-footer inference could see either schema
    DailyStoreMerge.mergeByKey(spark, dir,
      Seq((d("2020-03-03"), 5, "E3", "more")).toDF("d", "k", "v", "note"),
      "k", "d")
    assert(spark.read.option("mergeSchema", "true").parquet(dir)
      .filter(col("k") === 5).select("note").as[Option[String]]
      .collect().toSeq == Seq(Some("more")))
    // dropping a store column stays loud even under addColumns
    val ex2 = intercept[IllegalArgumentException] {
      DailyStoreMerge.mergeByKey(spark, dir,
        Seq((d("2020-03-02"), 3, "x")).toDF("d", "k", "v"), "k", "d",
        addColumns = true)
    }
    assert(ex2.getMessage.contains("never drop"))
  }

  test("addColumns composes with retention/time travel: the version " +
    "BEFORE the evolution reads back with the old schema's contents") {
    val dir = freshDir("evtt")
    DailyStoreTimeTravel.enable(spark, dir, keep = 3)
    rows(("2020-03-01", 1, "a"), ("2020-03-02", 3, "c"))
      .write.format("dailystore").option("path", dir)
      .option("partitionCol", "d").mode("append").save()
    val widened = Seq((d("2020-03-02"), 3, "C2", "n1"))
      .toDF("d", "k", "v", "note")
    DailyStoreMerge.mergeByKey(spark, dir, widened, "k", "d",
      addColumns = true)
    // current state: evolved
    assert(spark.read.option("mergeSchema", "true").parquet(dir)
      .filter(col("k") === 3).select("note").as[Option[String]]
      .collect().toSeq == Seq(Some("n1")))
    // one version back (pre-evolution): old contents, old columns
    val v1 = DailyStoreTimeTravel.readVersion(spark, dir, 1)
    assert(v1.select("d", "k", "v").orderBy("k")
      .as[(Date, Int, String)].collect().toSeq ==
      Seq((d("2020-03-01"), 1, "a"), (d("2020-03-02"), 3, "c")))
  }

  test("a RE-SEEDED store (all days deleted, sidecars survive) restamps " +
    "a stale _schema.json: the new column universe governs later " +
    "merges (r20 review)") {
    val dir = freshDir("reseed")
    seed(dir)
    // evolve: stamps _schema.json with {d,k,v,note}
    DailyStoreMerge.mergeByKey(spark, dir,
      rows(("2020-03-02", 3, "c2")).withColumn("note",
        org.apache.spark.sql.functions.lit("n")),
      key = "k", addColumns = true)
    assert(new java.io.File(dir, "_schema.json").exists())
    // empty the store: every day dir goes, sidecars stay
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("d="))
      .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
    // re-seed with a DIFFERENT column set {d,k,x} via the fresh-append
    // path — the stale sidecar must be restamped to this set
    DailyStoreMerge.mergeByKey(spark, dir,
      Seq((d("2020-04-01"), 1, 10)).toDF("d", "k", "x"),
      key = "k")
    // a merge carrying the NEW set works...
    DailyStoreMerge.mergeByKey(spark, dir,
      Seq((d("2020-04-01"), 1, 11), (d("2020-04-02"), 2, 20))
        .toDF("d", "k", "x"), key = "k")
    assert(spark.read.parquet(dir).select("d", "k", "x").orderBy("k")
      .as[(Date, Int, Int)].collect().toSeq ==
      Seq((d("2020-04-01"), 1, 11), (d("2020-04-02"), 2, 20)))
    // ...and one carrying the PREVIOUS life's evolved set fails loudly
    // (it would silently drop x from every rewritten day otherwise)
    val ex = intercept[IllegalArgumentException] {
      DailyStoreMerge.mergeByKey(spark, dir,
        rows(("2020-04-01", 1, "ghost")).withColumn("note",
          org.apache.spark.sql.functions.lit("n")),
        key = "k")
    }
    assert(ex.getMessage.contains("columns"), ex.getMessage)
  }

  test("diverged sidecars guard with their UNION: a stale narrow meta " +
    "cannot bless a merge that would drop a column _schema.json " +
    "records (r21, from the r20 ADVICE)") {
    val dir = freshDir("sideunion")
    seed(dir) // meta stamped at commit: {d,k,v}
    val live = new org.apache.hadoop.fs.Path(dir)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    // the pre-meta-era evolution scenario, with REAL data behind it
    // (r22: the fabricated wide-sidecar-without-data variant is now the
    // ghost the self-heal retires — see the next test): capture the
    // narrow pre-evolution meta, evolve for real so `note` data lands
    // in rewritten day files and _schema.json records it, then restamp
    // the OLD narrow meta over the commit's fresh one
    val narrowMeta =
      SidecarJson.readRaw(fs, live, DailyStoreCatalog.MetaFile).get
    DailyStoreMerge.mergeByKey(spark, dir,
      rows(("2020-03-01", 1, "a1")).withColumn("note",
        org.apache.spark.sql.functions.lit("n0")),
      key = "k", addColumns = true)
    SidecarJson.writeRaw(fs, live, DailyStoreCatalog.MetaFile, narrowMeta)
    // a merge carrying only meta's narrower set must FAIL loudly — a
    // meta-preferring guard would pass it and silently drop `note`
    // (committed data) from every rewritten day; the r22 ghost
    // self-heal must not fire either, because the column exists in a
    // data file
    val ex = intercept[IllegalArgumentException] {
      DailyStoreMerge.mergeByKey(spark, dir,
        rows(("2020-03-01", 1, "a2")), key = "k")
    }
    assert(ex.getMessage.contains("note"), ex.getMessage)
    // carrying the union (with addColumns) evolves cleanly
    DailyStoreMerge.mergeByKey(spark, dir,
      rows(("2020-03-01", 1, "a2")).withColumn("note",
        org.apache.spark.sql.functions.lit("n")),
      key = "k", addColumns = true)
    assert(spark.read.option("mergeSchema", "true").parquet(dir)
      .filter($"k" === 1).select("v", "note")
      .as[(String, String)].collect().toSeq == Seq(("a2", "n")))
  }

  test("ghost _schema.json column (stamped ahead of a commit that never " +
    "landed) self-heals: the guard retires it against the true file " +
    "union instead of wedging every future merge (r22, r21 ADVICE)") {
    val dir = freshDir("ghostheal")
    seed(dir) // files and meta: {d,k,v}
    val live = new org.apache.hadoop.fs.Path(dir)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    // the pre-commit crash window: _schema.json records a column that
    // landed in NO data file and meta never saw
    SidecarJson.write(fs, live, DailyStoreMerge.SchemaSidecarFile) { root =>
      val arr = root.putArray("columns")
      Seq("d", "k", "v", "ghost").foreach(arr.add)
    }
    // the old-set merge used to fail here forever (the union guard kept
    // resurrecting the ghost); it now verifies against the per-file
    // union, retires the ghost loudly, and commits
    DailyStoreMerge.mergeByKey(spark, dir,
      rows(("2020-03-01", 1, "a2")), key = "k")
    assert(spark.read.parquet(dir).filter($"k" === 1).select("v")
      .as[String].collect().toSeq == Seq("a2"))
    // the sidecar was reconciled to the store's true column set
    assert(DailyStoreMerge.readSchemaSidecar(fs, live)
      .contains(Set("d", "k", "v")))
  }
}
