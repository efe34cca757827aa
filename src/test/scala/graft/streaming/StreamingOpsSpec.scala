package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream


import graft.SparkSpec

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dailyCounts: watermarked 1-day tumbling window finalizes closed days") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Timestamp]
    val query = StreamingOps.dailyCounts(input.toDF().toDF("ts"), "ts")
      .writeStream.format("memory").queryName("daily")
      .outputMode("append").start()
    // batch 1: events land, watermark still unset
    input.addData(
      ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"),
      ts("2024-01-02 09:00:00"))
    query.processAllAvailable()
    // batch 2 advances the watermark past Jan 2 + 1d lateness...
    input.addData(ts("2024-01-05 00:00:00"))
    query.processAllAvailable()
    // ...and batch 3 emits the now-closed Jan 1 / Jan 2 windows
    input.addData(ts("2024-01-05 01:00:00"))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("daily").orderBy("d")
      .as[(Timestamp, Long)].collect()
    // Jan 1 (2 rows) and Jan 2 (1 row) closed; Jan 5 still open -> withheld
    assert(got.toSeq == Seq(
      (ts("2024-01-01 00:00:00"), 2L), (ts("2024-01-02 00:00:00"), 1L)))
  }

  test("sessionCounts: closed sessions match the batch session_window shape") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Int)]
    val query = StreamingOps.sessionCounts(
        input.toDF().toDF("ts", "user_id"), "ts", "user_id")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // user 1: two events 10 min apart (one session), then a 40-min gap
    // (new session); user 2: one event
    val events = Seq(
      (ts("2024-01-01 10:00:00"), 1), (ts("2024-01-01 10:10:00"), 1),
      (ts("2024-01-01 10:50:00"), 1), (ts("2024-01-01 10:05:00"), 2))
    input.addData(events: _*)
    query.processAllAvailable()
    // advance the watermark past every session close + lateness
    input.addData((ts("2024-01-03 00:00:00"), 99))
    query.processAllAvailable()
    input.addData((ts("2024-01-03 00:01:00"), 99))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("sessions")
      .filter($"user_id" < 99).orderBy("user_id", "session_start")
      .as[(Int, Timestamp, Long)].collect().toSeq
    assert(got == Seq(
      (1, ts("2024-01-01 10:00:00"), 2L),
      (1, ts("2024-01-01 10:50:00"), 1L),
      (2, ts("2024-01-01 10:05:00"), 1L)))
    // row-for-row agreement with the BATCH session_window shape (q28)
    import org.apache.spark.sql.functions._
    val batch = events.toDF("ts", "user_id")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"w.start".as("session_start"), $"n")
      .orderBy("user_id", "session_start")
      .as[(Int, Timestamp, Long)].collect().toSeq
    assert(got == batch)
  }

  test("dedupAppend: duplicate keys within the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Int)]
    val query = StreamingOps.dedupAppend(
        input.toDF().toDF("ts", "case_number"), "ts", "case_number")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    input.addData(
      (ts("2024-01-01 10:00:00"), 1), (ts("2024-01-01 10:00:00"), 1),
      (ts("2024-01-01 11:00:00"), 2))
    query.processAllAvailable()
    query.stop()
    assert(spark.table("dedup").count() == 2)
  }

  test("runningCountsByKey: mapGroupsWithState accumulates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val query = StreamingOps.runningCountsByKey(input.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    input.addData(("a", 2L), ("b", 1L))
    query.processAllAvailable()
    input.addData(("a", 3L))
    query.processAllAvailable()
    query.stop()
    // update mode: latest row per key wins
    val last = spark.table("running").groupBy("key")
      .agg(org.apache.spark.sql.functions.max("total").as("total"))
      .as[(String, Long)].collect().toMap
    assert(last == Map("a" -> 5L, "b" -> 1L))
  }

  test("upsertEachBatch merges micro-batches into a keyed sink") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-stream").resolve("sink").toString
    val input = MemoryStream[(Int, String)]
    val query = input.toDF().toDF("case_number", "travel")
      .writeStream
      .foreachBatch(StreamingOps.upsertEachBatch(path, "case_number") _)
      .outputMode("update").start()
    input.addData((1, "Under Investigation"), (2, "No"))
    query.processAllAvailable()
    input.addData((1, "Yes")) // late correction
    query.processAllAvailable()
    query.stop()
    val got = spark.read.parquet(path).as[(Int, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1, "Yes"), (2, "No")))
  }

  test("dailyReplaceEachBatch: stream day-replaces into a dailystore " +
      "catalog table, matching the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Date
    def d(s: String): Date = Date.valueOf(s)
    val root = Files.createTempDirectory("graft-dstream").toString
    graft.sources.DailyStoreCatalog.register(spark, "dstore_stream", root)
    try {
      spark.sql("CREATE TABLE dstore_stream.cases (d date, n int, " +
        "label string) USING dailystore PARTITIONED BY (d)")
      // the same batch sequence drives the stream and the batch twin:
      // day 1 lands, then a RE-INGEST of day 1 (the reference's daily
      // re-fetch: fewer rows, corrected labels) plus day 2
      val b1 = Seq((d("2020-03-01"), 1, "x"), (d("2020-03-01"), 2, "y"),
        (d("2020-03-02"), 3, "z"))
      val b2 = Seq((d("2020-03-01"), 9, "corrected"),
        (d("2020-03-03"), 4, "w"))
      val input = MemoryStream[(Date, Int, String)]
      val query = input.toDF().toDF("d", "n", "label")
        .writeStream
        .foreachBatch(StreamingOps.dailyReplaceEachBatch("dstore_stream.cases") _)
        .outputMode("update").start()
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      query.stop()
      val got = spark.read.parquet(s"$root/cases")
        .select("d", "n", "label").orderBy("d", "n")
        .as[(Date, Int, String)].collect().toSeq
      // day 1 fully replaced by the re-ingest, day 2 untouched, day 3 new
      assert(got == Seq(
        (d("2020-03-01"), 9, "corrected"), (d("2020-03-02"), 3, "z"),
        (d("2020-03-03"), 4, "w")))
      // batch twin: the same frames through writeTo().overwritePartitions()
      spark.sql("CREATE TABLE dstore_stream.twin (d date, n int, " +
        "label string) USING dailystore PARTITIONED BY (d)")
      Seq(b1, b2).foreach(b => b.toDF("d", "n", "label")
        .writeTo("dstore_stream.twin").overwritePartitions())
      val twin = spark.read.parquet(s"$root/twin")
        .select("d", "n", "label").orderBy("d", "n")
        .as[(Date, Int, String)].collect().toSeq
      assert(twin == got, "streaming day-replace must equal the batch twin")
      // micro-batch REPLAY idempotence: re-delivering the last batch
      // day-replaces the same days to the same content
      StreamingOps.dailyReplaceEachBatch("dstore_stream.cases")(
        b2.toDF("d", "n", "label"), 99L)
      val replayed = spark.read.parquet(s"$root/cases")
        .select("d", "n", "label").orderBy("d", "n")
        .as[(Date, Int, String)].collect().toSeq
      assert(replayed == got, "replayed batch must be a no-op")
    } finally {
      spark.conf.unset("spark.sql.catalog.dstore_stream")
      spark.conf.unset("spark.sql.catalog.dstore_stream.root")
      spark.conf.unset("spark.sql.catalog.dstore_stream.partitionCol")
    }
  }

  test("dailyReplaceEachBatch(requireWholeDays): a SHRINKING day fails " +
      "the batch before any row is condemned; growth and same-count " +
      "corrections pass (r16)") {
    import java.sql.Date
    def d(s: String): Date = Date.valueOf(s)
    val root = Files.createTempDirectory("graft-wholedays").toString
    graft.sources.DailyStoreCatalog.register(spark, "dstore_whole", root)
    try {
      spark.sql("CREATE TABLE dstore_whole.cases (d date, n int, " +
        "label string) USING dailystore PARTITIONED BY (d)")
      val guarded = StreamingOps.dailyReplaceEachBatch(
        "dstore_whole.cases", requireWholeDays = true) _
      // day 1 with 2 rows lands (store empty: everything grows)
      guarded(Seq((d("2020-03-01"), 1, "x"), (d("2020-03-01"), 2, "y"))
        .toDF("d", "n", "label"), 0L)
      // a GROWING re-ingest of day 1 (3 rows) plus a new day passes
      guarded(Seq((d("2020-03-01"), 1, "x"), (d("2020-03-01"), 2, "y"),
        (d("2020-03-01"), 3, "late"), (d("2020-03-02"), 4, "z"))
        .toDF("d", "n", "label"), 1L)
      // a SAME-COUNT correction passes (content change is the point)
      guarded(Seq((d("2020-03-02"), 9, "corrected"))
        .toDF("d", "n", "label"), 2L)
      // a PARTIAL day-1 slice (1 row vs stored 3) fails loudly...
      val e = intercept[IllegalStateException] {
        guarded(Seq((d("2020-03-01"), 1, "partial"))
          .toDF("d", "n", "label"), 3L)
      }
      assert(e.getMessage.contains("SHRINK") &&
        e.getMessage.contains("2020-03-01 (3 -> 1)"), e.getMessage)
      // ...and the store is untouched by the failed batch
      val got = spark.read.parquet(s"$root/cases")
        .select("d", "n", "label").orderBy("d", "n")
        .as[(Date, Int, String)].collect().toSeq
      assert(got == Seq(
        (d("2020-03-01"), 1, "x"), (d("2020-03-01"), 2, "y"),
        (d("2020-03-01"), 3, "late"), (d("2020-03-02"), 9, "corrected")))
      // the unguarded default keeps the reference's mid-day semantics
      StreamingOps.dailyReplaceEachBatch("dstore_whole.cases")(
        Seq((d("2020-03-01"), 1, "partial")).toDF("d", "n", "label"), 4L)
      assert(spark.read.parquet(s"$root/cases")
        .filter(org.apache.spark.sql.functions.col("d") === d("2020-03-01"))
        .count() == 1)
    } finally {
      spark.conf.unset("spark.sql.catalog.dstore_whole")
      spark.conf.unset("spark.sql.catalog.dstore_whole.root")
      spark.conf.unset("spark.sql.catalog.dstore_whole.partitionCol")
    }
  }

  test("sqlMergeEachBatch: foreachBatch + SQL MERGE INTO a dailystore " +
      "catalog table merges per micro-batch, replays content-idempotent, " +
      "and versions each batch (r20)") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Date
    def d(s: String): Date = Date.valueOf(s)
    val root = Files.createTempDirectory("graft-sqlmerge").toString
    graft.sources.DailyStoreCatalog.register(spark, "dstore_sqlm", root)
    try {
      spark.sql("CREATE TABLE dstore_sqlm.cases (d date, k int, " +
        "label string) USING dailystore PARTITIONED BY (d)")
      // retention on, so each micro-batch's commit is a readable version
      graft.sources.DailyStoreTimeTravel.enable(spark, s"$root/cases",
        keep = 10)
      // seed two days so the merge has matched AND untouched partitions
      Seq((d("2020-03-01"), 1, "open"), (d("2020-03-01"), 2, "open"),
        (d("2020-03-02"), 3, "open"))
        .toDF("d", "k", "label").writeTo("dstore_sqlm.cases").append()
      val mergeSql =
        """MERGE INTO dstore_sqlm.cases USING sqlm_batch
          |ON dstore_sqlm.cases.k = sqlm_batch.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin
      val input = MemoryStream[(Date, Int, String)]
      val query = input.toDF().toDF("d", "k", "label")
        .writeStream
        .foreachBatch(StreamingOps.sqlMergeEachBatch(mergeSql, "sqlm_batch") _)
        .outputMode("update").start()
      // batch 1: correct case 1 in place, add case 4 on a new day
      input.addData((d("2020-03-01"), 1, "resolved"), (d("2020-03-03"), 4, "new"))
      query.processAllAvailable()
      // batch 2: late correction MOVES case 3 to another day
      val b2 = Seq((d("2020-03-04"), 3, "moved"))
      input.addData(b2: _*)
      query.processAllAvailable()
      query.stop()
      val expect = Seq(
        (d("2020-03-01"), 1, "resolved"), (d("2020-03-01"), 2, "open"),
        (d("2020-03-04"), 3, "moved"), (d("2020-03-03"), 4, "new"))
      def content(): Seq[(Date, Int, String)] =
        spark.read.parquet(s"$root/cases").select("d", "k", "label")
          .orderBy("k").as[(Date, Int, String)].collect().toSeq
      assert(content() == expect)
      // REPLAY: re-delivering the last micro-batch re-merges the same
      // keys to the same values — content-level no-op, one more version
      StreamingOps.sqlMergeEachBatch(mergeSql, "sqlm_batch")(
        b2.toDF("d", "k", "label"), 99L)
      assert(content() == expect, "replayed micro-batch must be a " +
        "content-level no-op")
      // each micro-batch was ONE versioned commit: seed=v1, b1=v2, b2=v3,
      // replay=v4 — and time travel still reads the pre-replay content
      val v3 = spark.sql("SELECT d, k, label FROM dstore_sqlm.cases " +
        "VERSION AS OF 3").orderBy("k")
        .as[(Date, Int, String)].collect().toSeq
      assert(v3 == expect, "VERSION AS OF 3 must read the pre-replay store")
      val v2 = spark.sql("SELECT d, k, label FROM dstore_sqlm.cases " +
        "VERSION AS OF 2").orderBy("k")
        .as[(Date, Int, String)].collect().toSeq
      assert(v2 == Seq(
        (d("2020-03-01"), 1, "resolved"), (d("2020-03-01"), 2, "open"),
        (d("2020-03-02"), 3, "open"), (d("2020-03-03"), 4, "new")),
        "VERSION AS OF 2 must read the post-batch-1 store")
      // the SQL cardinality rule stays loud through the streaming front:
      // a micro-batch with duplicate merge keys fails the batch
      val e = intercept[Exception] {
        StreamingOps.sqlMergeEachBatch(mergeSql, "sqlm_batch")(
          Seq((d("2020-03-05"), 7, "a"), (d("2020-03-05"), 7, "b"))
            .toDF("d", "k", "label"), 100L)
      }
      assert(e.getMessage.contains("duplicate"), e.getMessage)
      assert(content() == expect, "a failed micro-batch must not commit")
    } finally {
      spark.conf.unset("spark.sql.catalog.dstore_sqlm")
      spark.conf.unset("spark.sql.catalog.dstore_sqlm.root")
      spark.conf.unset("spark.sql.catalog.dstore_sqlm.partitionCol")
    }
  }

  test("noveltyGateEachBatch: stream dedups against the persisted corpus store") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-novelty")
    val outPath = base.resolve("sink").toString
    val storePath = base.resolve("store").toString
    val table = s"novelty_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    try {
      val input = MemoryStream[(Long, String)]
      val query = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(StreamingOps.noveltyGateEachBatch(
          "doc_id", "text", table, storePath, outPath) _)
        .outputMode("update").start()
      // batch 1 seeds the store; 10 and 11 share a text -> min-id canon
      input.addData((10L, "alpha"), (11L, "alpha"), (12L, "beta"))
      query.processAllAvailable()
      // batch 2: two corpus dups (gated) + one genuinely new doc.
      // Also pin the scoped per-batch checkpoint: batch N+1 must REPLACE
      // batch N's gate materialization in the block store, not
      // accumulate beside it (the 24/7-stream leak class)
      val persistedAfterB1 = spark.sparkContext.getPersistentRDDs.size
      input.addData((20L, "alpha"), (21L, "beta"), (22L, "gamma"))
      query.processAllAvailable()
      assert(spark.sparkContext.getPersistentRDDs.size <= persistedAfterB1,
        "per-batch gate checkpoints must replace, not accumulate")
      query.stop()
      val got = spark.read.parquet(outPath)
        .select("doc_id", "text", "__batch_id")
        .as[(Long, String, Long)].collect().sortBy(_._1)
      // survivors: canonical alpha + beta from batch 1, gamma from batch 2
      assert(got.toSeq == Seq(
        (10L, "alpha", 0L), (12L, "beta", 0L), (22L, "gamma", 1L)))
      // the shared store now holds one 16-byte hash per distinct text
      assert(spark.table(table).count() == 3)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("noveltyGateEachBatch: replay after the store already advanced is additive") {
    val base = Files.createTempDirectory("graft-novelty-replay")
    val outPath = base.resolve("sink").toString
    val storePath = base.resolve("store").toString
    val table = s"novelty_replay_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    try {
      val gate = StreamingOps.noveltyGateEachBatch(
        "doc_id", "text", table, storePath, outPath) _
      val batch = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      gate(batch, 0L) // first attempt: sink written, store advanced
      // crash-replay: the store already holds both hashes, so the gate
      // now yields ZERO survivors — the partition must keep its docs
      gate(batch, 0L)
      val got = spark.read.parquet(outPath)
        .select("doc_id", "text", "__batch_id")
        .as[(Long, String, Long)].collect().sortBy(_._1)
      assert(got.toSeq == Seq((1L, "alpha", 0L), (2L, "beta", 0L)))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("minhashNoveltyGateEachBatch: near-dup stream docs are gated by the store") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-mh-novelty")
    val outPath = base.resolve("sink").toString
    val storePath = base.resolve("store").toString
    val table = s"mh_novelty_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "pack my box with five dozen liquor jugs before the dawn comes"
    val textC = "sphinx of black quartz judge my vow under the evening stars"
    try {
      val input = MemoryStream[(Long, String)]
      val query = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(StreamingOps.minhashNoveltyGateEachBatch(
          "doc_id", "text", table, storePath, outPath,
          minEstJaccard = 0.9) _)
        .outputMode("update").start()
      input.addData((1L, textA), (2L, textB)) // seeds the signature store
      query.processAllAvailable()
      // batch 2: an exact copy of textA (every signature position agrees
      // -> est 1.0 >= 0.9, gated) and an unrelated text (survives)
      input.addData((10L, textA), (11L, textC))
      query.processAllAvailable()
      query.stop()
      val got = spark.read.parquet(outPath)
        .select("doc_id", "__batch_id")
        .as[(Long, Long)].collect().sortBy(_._1)
      assert(got.toSeq == Seq((1L, 0L), (2L, 0L), (11L, 1L)))
      // signature store holds exactly the three survivors
      assert(spark.table(s"${table}_sigs").count() == 3)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_sigs")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("minhashNoveltyGateEachBatch: torn store append then replay leaves no " +
      "duplicate band rows") {
    val base = Files.createTempDirectory("graft-mh-torn")
    val outPath = base.resolve("sink").toString
    val storePath = base.resolve("store").toString
    val table = s"mh_torn_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "pack my box with five dozen liquor jugs before the dawn comes"
    val textC = "sphinx of black quartz judge my vow under the evening stars"
    try {
      val gate = StreamingOps.minhashNoveltyGateEachBatch(
        "doc_id", "text", table, storePath, outPath, minEstJaccard = 0.9) _
      gate(Seq((1L, textA)).toDF("doc_id", "text"), 0L) // seeds the store
      // crash simulation for batch 1: the first attempt wrote the sink
      // partition and the BAND half of the two-job store append, then
      // died before the signature half
      val b1 = Seq((10L, textB), (11L, textC)).toDF("doc_id", "text")
      b1.withColumn("__batch_id",
          org.apache.spark.sql.functions.lit(1L))
        .write.partitionBy("__batch_id").mode("append").parquet(outPath)
      val sig1 = graft.dedup.Dedup.minhashSignatures(b1, "doc_id", "text")
      graft.pipelines.Sinks.appendBucketedBy(
        graft.dedup.Dedup.bandRowsOf(sig1, "doc_id", bands = 4),
        s"${table}_bands", s"$storePath/bands", Seq("band", "bkey"), 8)
      // replay of batch 1: band rows are already stored but signatures are
      // not, so the gate cannot verify est-jaccard and both docs survive;
      // the append must detect the replay and skip the stored band rows
      gate(b1, 1L)
      val bandRows = spark.table(s"${table}_bands")
      assert(bandRows.count() == bandRows.distinct().count(),
        "replayed append duplicated band rows")
      // store is now complete: every survivor has its sig + 4 band rows
      assert(spark.table(s"${table}_sigs").count() == 3)
      assert(bandRows.count() == 3 * 4)
      val got = spark.read.parquet(outPath)
        .select("doc_id", "__batch_id")
        .as[(Long, Long)].collect().sortBy(_._1)
      assert(got.toSeq == Seq((1L, 0L), (10L, 1L), (11L, 1L)))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_sigs")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("compactMinhashStore folds duplicate rows and restores one file per bucket") {
    val base = Files.createTempDirectory("graft-mh-compact")
    val storePath = base.resolve("store").toString
    val table = s"mh_compact_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    try {
      val sigs = Seq(
        (1L, Seq(1L, 2L, 3L, 4L)), (2L, Seq(5L, 6L, 7L, 8L)))
        .toDF("doc_id", "sig")
      graft.dedup.Dedup.appendSigStore(sigs, "doc_id", table, storePath,
        bands = 4, nBuckets = 2)
      // a legacy (pre-idempotent-append) replay double-appended everything
      graft.dedup.Dedup.appendSigStore(sigs, "doc_id", table, storePath,
        bands = 4, nBuckets = 2)
      assert(spark.table(s"${table}_bands").count() == 2 * 2 * 4)
      graft.dedup.Dedup.compactMinhashStore(spark, table, storePath,
        "doc_id", nBuckets = 2)
      assert(spark.table(s"${table}_bands").count() == 2 * 4)
      assert(spark.table(s"${table}_sigs").count() == 2)
      // compaction restored one data file per bucket
      val sigFiles = new java.io.File(s"$storePath/sigs")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(sigFiles == 2, s"expected 2 bucket files, got $sigFiles")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_sigs")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("simhashNoveltyGateEachBatch: fingerprint-close stream docs are gated") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-sh-novelty")
    val outPath = base.resolve("sink").toString
    val storePath = base.resolve("store").toString
    val table = s"sh_novelty_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "pack my box with five dozen liquor jugs before the dawn comes"
    val textC = "sphinx of black quartz judge my vow under the evening stars"
    try {
      val input = MemoryStream[(Long, String)]
      val query = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(StreamingOps.simhashNoveltyGateEachBatch(
          "doc_id", "text", table, storePath, outPath) _)
        .outputMode("update").start()
      input.addData((1L, textA), (2L, textB)) // seeds the fingerprint store
      query.processAllAvailable()
      // batch 2: an exact copy of textA (hamming 0 <= 3, gated) and an
      // unrelated text (survives)
      input.addData((10L, textA), (11L, textC))
      query.processAllAvailable()
      query.stop()
      val got = spark.read.parquet(outPath)
        .select("doc_id", "__batch_id")
        .as[(Long, Long)].collect().sortBy(_._1)
      assert(got.toSeq == Seq((1L, 0L), (2L, 0L), (11L, 1L)))
      assert(spark.table(s"${table}_fps").count() == 3)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_fps")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("embeddingNoveltyGateEachBatch: cosine-close stream vectors are gated") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-emb-novelty")
    val outPath = base.resolve("sink").toString
    val storePath = base.resolve("store").toString
    val table = s"emb_novelty_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    val vA = Array(1f, 0f, 0f, 0f)
    val vB = Array(0f, 1f, 0f, 0f)
    val vC = Array(0f, 0f, 1f, 0f)
    try {
      val input = MemoryStream[(Long, Array[Float])]
      val query = input.toDF().toDF("vec_id", "embedding")
        .writeStream
        .foreachBatch(StreamingOps.embeddingNoveltyGateEachBatch(
          "vec_id", "embedding", table, storePath, outPath,
          minCosine = 0.95) _)
        .outputMode("update").start()
      input.addData((1L, vA), (2L, vB)) // seeds the vector store
      query.processAllAvailable()
      // batch 2: an exact copy of vA (cosine 1.0, shares every band ->
      // gated) and an orthogonal vector (cosine 0 -> survives)
      input.addData((10L, vA), (11L, vC))
      query.processAllAvailable()
      query.stop()
      val got = spark.read.parquet(outPath)
        .select("vec_id", "__batch_id")
        .as[(Long, Long)].collect().sortBy(_._1)
      assert(got.toSeq == Seq((1L, 0L), (2L, 0L), (11L, 1L)))
      assert(spark.table(s"${table}_vecs").count() == 3)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_vecs")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("RunSummaryNotifier emits one run summary on query termination (S10)") {
    implicit val sqlCtx = spark.sqlContext
    val summaries = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = RunSummaryNotifier.attach(spark)(summaries.add(_))
    try {
      val input = MemoryStream[Int]
      val query = input.toDF().toDF("case_number")
        .writeStream.format("memory").queryName("notify_me")
        .outputMode("append").start()
      input.addData(1, 2, 3)
      query.processAllAvailable()
      input.addData(4)
      query.processAllAvailable()
      query.stop()
      query.awaitTermination()
      // listener events are async; wait for the terminated event to land
      val deadline = System.nanoTime() + 10e9.toLong
      while (summaries.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(summaries.size == 1, s"got: $summaries")
      val s = summaries.get(0)
      assert(s.contains("notify_me") && s.contains("4 new rows") &&
        s.contains("completed"), s)
    } finally spark.streams.removeListener(listener)
  }

  test("segmentNoveltyGateEachBatch: docs rebuilt from corpus-new segments") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-segnovelty")
    val outPath = base.resolve("sink").toString
    val storePath = base.resolve("store").toString
    val table = s"segnovelty_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    try {
      val input = MemoryStream[(Long, String)]
      val query = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(StreamingOps.segmentNoveltyGateEachBatch(
          2, table, storePath, outPath) _)
        .outputMode("update").start()
      // batch 1: doc 2's "a b" window is claimed in-batch by doc 1
      input.addData((1L, "a b c d"), (2L, "a b x y"))
      query.processAllAvailable()
      // batch 2: "c d" is corpus-known; "e f" is new
      input.addData((10L, "c d e f"))
      query.processAllAvailable()
      query.stop()
      val got = spark.read.parquet(outPath)
        .select("doc_id", "n_segs", "n_kept", "text_dedup", "__batch_id")
        .as[(Long, Long, Long, String, Long)].collect().sortBy(_._1)
      assert(got.toSeq == Seq(
        (1L, 2L, 2L, "a b c d", 0L),
        (2L, 2L, 1L, "x y", 0L),
        (10L, 2L, 1L, "e f", 1L)))
      // store: "a b","c d","x y" from batch 1 + "e f" from batch 2
      assert(spark.table(table).count() == 4)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("spanNoveltyGateEachBatch: spans stripped against store and batch") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-spannovelty")
    val outPath = base.resolve("sink").toString
    val storePath = base.resolve("store").toString
    val table = s"spannovelty_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    try {
      val input = MemoryStream[(Long, String)]
      val query = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(StreamingOps.spanNoveltyGateEachBatch(
          2, table, storePath, outPath) _)
        .outputMode("update").start()
      // batch 0: "a b" repeats within the batch -> stripped from BOTH
      input.addData((1L, "a b c d"), (2L, "x a b y"))
      query.processAllAvailable()
      // batch 1: "c d" is corpus-known via the store; "e f" is new
      input.addData((10L, "c d e f"))
      query.processAllAvailable()
      query.stop()
      val got = spark.read.parquet(outPath)
        .select("doc_id", "text", "__batch_id")
        .as[(Long, String, Long)].collect().sortBy(_._1)
      assert(got.toSeq == Seq(
        (1L, "c d", 0L), (2L, "x y", 0L), (10L, "e f", 1L)))
      // store: ab,bc,cd,xa,by from batch 0 + de,ef from batch 1
      assert(spark.table(table).count() == 7)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("spanNoveltyGateEachBatch: replay after store advance is prior-wins; store append stays idempotent") {
    val base = Files.createTempDirectory("graft-spannovelty-replay")
    val outPath = base.resolve("sink").toString
    val storePath = base.resolve("store").toString
    val table = s"spannovelty_replay_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    try {
      val gate = StreamingOps.spanNoveltyGateEachBatch(
        2, table, storePath, outPath) _
      val b0 = Seq((1L, "a b c d")).toDF("doc_id", "text")
      gate(b0, 0L)
      // replay: the store now holds doc 1's windows, a fresh gate would
      // strip the doc to "" — the sink must keep the original rebuild
      // and the store must not grow
      gate(b0, 0L)
      val got = spark.read.parquet(outPath)
        .select("doc_id", "text")
        .as[(Long, String)].collect().toSeq
      assert(got == Seq((1L, "a b c d")))
      assert(spark.table(table).count() == 3)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("segmentNoveltyGateEachBatch: replay after store advance is prior-wins") {
    val base = Files.createTempDirectory("graft-segnovelty-replay")
    val outPath = base.resolve("sink").toString
    val storePath = base.resolve("store").toString
    val table = s"segnovelty_replay_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    try {
      val gate = StreamingOps.segmentNoveltyGateEachBatch(
        2, table, storePath, outPath) _
      val b0 = Seq((1L, "a b c d")).toDF("doc_id", "text")
      gate(b0, 0L)
      // replay batch 0: the store now already holds doc 1's segments, so
      // a fresh gate would rebuild doc 1 as empty — the sink must keep
      // the original attempt's rebuild (prior-wins), and the store must
      // not grow
      gate(b0, 0L)
      val got = spark.read.parquet(outPath)
        .select("doc_id", "n_kept", "text_dedup")
        .as[(Long, Long, String)].collect().toSeq
      assert(got == Seq((1L, 2L, "a b c d")))
      assert(spark.table(table).count() == 2)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("segmentNoveltyGateEachBatch: replay after a torn store append adds no duplicate store rows") {
    val base = Files.createTempDirectory("graft-segnovelty-torn")
    val outPath = base.resolve("sink").toString
    val storePath = base.resolve("store").toString
    val table = s"segnovelty_torn_spec_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    try {
      val gate = StreamingOps.segmentNoveltyGateEachBatch(
        2, table, storePath, outPath) _
      val b0 = Seq((1L, "a b c d")).toDF("doc_id", "text")
      gate(b0, 0L)
      // tear the append: the store keeps only one of the batch's two
      // segment hashes, as if the crash hit midway through it
      val committed = spark.table(table).orderBy("text_hash").limit(1)
        .localCheckpoint()
      spark.sql(s"DROP TABLE $table")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(storePath))
      graft.dedup.Dedup.appendHashStore(committed, table, storePath)
      assert(spark.table(table).count() == 1)
      // the replay re-gates against the torn store and appends only the
      // hash the first attempt did not commit
      gate(b0, 0L)
      val store = spark.table(table)
      assert(store.count() == 2)
      assert(store.distinct().count() == 2)
      val got = spark.read.parquet(outPath)
        .select("doc_id", "n_kept", "text_dedup")
        .as[(Long, Long, String)].collect().toSeq
      assert(got == Seq((1L, 2L, "a b c d")))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("heavyHittersEachBatch maintains the stream-wide Misra-Gries " +
      "summary: exact in the no-decrement regime, guaranteed recall " +
      "under decrements, replay-idempotent via predecessor reads") {
    implicit val sqlCtx = spark.sqlContext
    import graft.text.HeavyHitters
    // -- no-decrement regime: cap >> vocab, the summary IS exact counts
    val store1 = Files.createTempDirectory("graft-hhs").resolve("s").toString
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(StreamingOps.heavyHittersEachBatch("text", store1, 64) _)
      .outputMode("append").start()
    input.addData((0L, "a a b"), (1L, "a c"))
    query.processAllAvailable()
    input.addData((2L, "b b c c c"))
    query.processAllAvailable()
    query.stop()
    val sum1 = HeavyHitters.summaryFromStore(spark, store1)
      .as[(String, Long, Long)].collect().toSeq
    assert(sum1 == Seq(("c", 4L, 10L), ("a", 3L, 10L), ("b", 3L, 10L)),
      s"exact whole-stream counts with cap >> vocab: $sum1")

    // -- decrement regime: 1 hot term + 60 unique fillers, cap 8: the
    // hot term (30 of 90 tokens >> total/9) must survive with lb <= 30
    val store2 = Files.createTempDirectory("graft-hhs").resolve("s").toString
    val b1 = (0 until 30).map(i => (i.toLong, s"hot u${i}a")).toDF("doc_id", "text")
    val b2 = (0 until 30).map(i => (100L + i, s"hot u${i}b")).toDF("doc_id", "text")
    val gate2 = StreamingOps.heavyHittersEachBatch("text", store2, 8) _
    gate2(b1, 0L)
    gate2(b2, 1L)
    val sum2 = HeavyHitters.summaryFromStore(spark, store2)
      .as[(String, Long, Long)].collect().toSeq
    assert(sum2.head._3 == 120L, "total counts every token exactly")
    val hot = sum2.find(_._1 == "hot")
    assert(hot.isDefined, s"hot (60 > 120/9) must survive: $sum2")
    assert(hot.get._2 <= 60L, "lb is a lower bound")
    assert(sum2.size <= 8, "summary stays capped")

    // -- replay: re-running batch 1 merges from batch 0's summary again
    // (never its own output) and overwrites idempotently
    gate2(b2, 1L)
    val replayed = HeavyHitters.summaryFromStore(spark, store2)
      .as[(String, Long, Long)].collect().toSeq
    assert(replayed == sum2, s"replay must not double-count:\n$sum2\nvs\n$replayed")

    // -- the store stays bounded: after batch N only N and N-1 survive
    // (replay needs the predecessor, nothing older)
    val b3 = Seq((200L, "hot tail")).toDF("doc_id", "text")
    gate2(b3, 2L)
    val dirs = new java.io.File(store2).list().filter(_.startsWith("summary_batch="))
    assert(dirs.toSet == Set("summary_batch=1", "summary_batch=2"),
      s"superseded summaries must be swept: ${dirs.toSeq}")
  }

  test("stopTokenStripEachBatch: the live stream-wide MG summary drives " +
      "the strip — dominant tokens vanish from every batch, the rule " +
      "is sound (lb is a lower bound), replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-ttstrip")
    val store = base.resolve("store").toString
    val out = base.resolve("out").toString
    val strip = StreamingOps.stopTokenStripEachBatch(
      "doc_id", "text", store, out, maxTokenFrac = 0.2, cap = 16)
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(strip).outputMode("append").start()
    // batch 0: "ad" is 6 of 11 tokens (55% > 20%) — stripped from BOTH
    // docs; every other token is far below the rule
    input.addData(
      (1L, "ad ad ad ad unique1 unique2"),
      (2L, "ad ad body words here"))
    query.processAllAvailable()
    def rows(): Map[Long, (Long, Long, String)] =
      spark.read.parquet(out)
        .select("doc_id", "n_toks", "n_kept", "text_dedup")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val r0 = rows()
    assert(r0(1L) == ((6L, 2L, "unique1 unique2")), s"$r0")
    assert(r0(2L) == ((5L, 3L, "body words here")), s"$r0")
    // batch 1: "ad" appears once here (17% of this BATCH) but 7/17 of
    // the STREAM — the stream-wide summary strips it where a
    // batch-local rule would not
    val b1 = Seq((10L, "ad fresh content"), (11L, "fresh other stuff"))
    input.addData(b1: _*)
    query.processAllAvailable()
    query.stop()
    val r1 = rows()
    assert(r1(10L) == ((3L, 2L, "fresh content")), s"$r1")
    assert(r1(11L) == ((3L, 3L, "fresh other stuff")), s"$r1")
    // replay of the last batch: same summary recomputed from the
    // predecessor, same stop set, identical overwrite — no duplicates
    strip(b1.toDF("doc_id", "text"), 1L)
    assert(rows() == r1, "replay must be idempotent")
    assert(spark.read.parquet(out).count() == 4)
  }

  test("stopTokenStripEachBatch crash replay (r19): a crash between " +
      "summary write and sink write replays cleanly; a torn OWN summary " +
      "is overwritten from the predecessor; an unreadable PREDECESSOR " +
      "throws on the strict merge path by design") {
    implicit val sqlCtx = spark.sqlContext
    import graft.text.HeavyHitters
    val base = Files.createTempDirectory("graft-ttcrash")

    // -- scenario 1: crash AFTER summary write, BEFORE sink write.
    // The summary is the only cross-batch state, so the replayed batch
    // must (a) not double-count the stream total and (b) land the sink
    // partition the crashed attempt never wrote.
    val store1 = base.resolve("s1").toString
    val out1 = base.resolve("o1").toString
    val strip1 = StreamingOps.stopTokenStripEachBatch(
      "doc_id", "text", store1, out1, maxTokenFrac = 0.2, cap = 16)
    val b0 = Seq((1L, "ad ad ad ad one two"), (2L, "ad ad three"))
    val b1 = Seq((10L, "ad four five"))
    strip1(b0.toDF("doc_id", "text"), 0L)
    // crashed attempt of batch 1: ONLY the summary half ran (this is
    // the exact closure order — merge first, sink second)
    HeavyHitters.mergeAndWriteSummary(
      b1.toDF("doc_id", "text"), "text", store1, 1L, 16)
    assert(!new java.io.File(out1, "__batch_id=1").exists(),
      "crash point: summary written, sink not")
    // replay of batch 1 (the restarted query re-runs the whole closure)
    strip1(b1.toDF("doc_id", "text"), 1L)
    val sum1 = HeavyHitters.summaryFromStore(spark, store1)
      .as[(String, Long, Long)].collect().toSeq
    assert(sum1.head._3 == 12L,
      s"stream total counts batch 1 exactly ONCE despite the crashed " +
        s"attempt's summary (9 + 3 tokens): $sum1")
    val r1 = spark.read.parquet(out1)
      .select("doc_id", "n_toks", "n_kept", "text_dedup")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(r1.keySet == Set(1L, 2L, 10L), "sink holds every batch")
    // "ad" is 7 of 12 stream tokens (> 20%): stripped everywhere,
    // including the replayed batch's doc
    assert(r1(10L) == ((10L, 3L, 2L, "four five")), s"$r1")

    // -- scenario 2: the crashed attempt left its OWN summary dir TORN
    // (unreadable). Replay merges from the strictly-older predecessor
    // and overwrites the torn dir — never reads its own torn output.
    val store2 = base.resolve("s2").toString
    val out2 = base.resolve("o2").toString
    val strip2 = StreamingOps.stopTokenStripEachBatch(
      "doc_id", "text", store2, out2, maxTokenFrac = 0.2, cap = 16)
    strip2(b0.toDF("doc_id", "text"), 0L)
    val torn = new java.io.File(store2, "summary_batch=1")
    torn.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(torn, "part-torn.parquet").toPath,
      "not a parquet file".getBytes("UTF-8"))
    strip2(b1.toDF("doc_id", "text"), 1L)
    val sum2 = HeavyHitters.summaryFromStore(spark, store2)
      .as[(String, Long, Long)].collect().toSeq
    assert(sum2.head._3 == 12L,
      s"replay over a torn own summary is clean: $sum2")

    // -- scenario 3: the PREDECESSOR summary is unreadable. The strict
    // merge path must THROW (silently falling back a batch would drop
    // its contribution from the stream total forever) — the tolerant
    // walk is for the racing PUBLIC reader only.
    val store3 = base.resolve("s3").toString
    val out3 = base.resolve("o3").toString
    val strip3 = StreamingOps.stopTokenStripEachBatch(
      "doc_id", "text", store3, out3, maxTokenFrac = 0.2, cap = 16)
    strip3(b0.toDF("doc_id", "text"), 0L)
    val pred = new java.io.File(store3, "summary_batch=0")
    pred.listFiles().foreach(_.delete())
    java.nio.file.Files.write(
      new java.io.File(pred, "part-corrupt.parquet").toPath,
      "garbage".getBytes("UTF-8"))
    intercept[Exception] {
      strip3(b1.toDF("doc_id", "text"), 1L)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("fluencyGateEachBatch: a reference-trained model drops " +
      "low-fluency and OOV-gibberish docs per batch; replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.text.BigramLm
    val base = Files.createTempDirectory("graft-flgate")
    val modelPath = base.resolve("model").toString
    val outPath = base.resolve("out").toString
    // reference corpus: strong "the cat sat on the mat" transitions
    val ref = Seq(
      0L -> "the cat sat on the mat",
      1L -> "the cat sat on the mat",
      2L -> "the cat sat on the rug").toDF("doc_id", "text")
    BigramLm.saveModel(BigramLm.trainModel(ref), modelPath)
    val gate = StreamingOps.fluencyGateEachBatch(
      "doc_id", "text", modelPath, minFluency = 500000.0, outPath)
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(gate).outputMode("append").start()
    input.addData(
      (10L, "the cat sat on the mat"),   // in-model: passes
      (11L, "zxq vbn mmm qqq"),          // OOV gibberish: fluency 0
      (12L, "mat the sat cat on the"),   // shuffled: weak transitions
      (13L, "cat"))                      // sub-2-token: fluency 0
    query.processAllAvailable()
    input.addData((20L, "the cat sat on the rug")) // rug: trained too
    query.processAllAvailable()
    query.stop()
    val kept = spark.read.parquet(outPath)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(10L) && kept.contains(20L),
      s"in-model docs must pass: $kept")
    assert(!kept.contains(11L), "OOV gibberish cannot pass by being novel")
    assert(!kept.contains(12L), "shuffled word-salad scores below the bar")
    assert(!kept.contains(13L),
      "a sub-2-token doc carries zero fluency evidence: scores 0.0")
    // replay: re-invoking batch 1 overwrites its own partition
    gate(Seq((20L, "the cat sat on the rug")).toDF("doc_id", "text"), 1L)
    val again = spark.read.parquet(outPath)
      .select("doc_id").as[Long].collect().toSeq
    assert(again.sorted == kept.toSeq.sorted, "replay must not duplicate")
    // sub-2-token docs have a DEFINED fluency of 0.0, not silent
    // removal: a minFluency <= 0 gate passes them (and everything else)
    val outAll = base.resolve("out_all").toString
    val gate0 = StreamingOps.fluencyGateEachBatch(
      "doc_id", "text", modelPath, minFluency = 0.0, outAll)
    gate0(Seq((30L, "cat"), (31L, ""), (32L, "zxq vbn")).toDF("doc_id", "text"), 0L)
    val keptAll = spark.read.parquet(outAll)
      .select("doc_id").as[Long].collect().toSet
    assert(keptAll == Set(30L, 31L, 32L),
      s"minFluency <= 0 must pass zero-bigram docs: $keptAll")
  }
}
