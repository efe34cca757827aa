package graft.sources

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.schemas.Schemas

/** The store's type contract: every type Spark's parquet writes (the
  * whole case record, FIXTURES.md F2, plus a wide decimal and a
  * timestamp) round-trips through every write and read front; type
  * errors fail on the driver before any job starts; stores whose files
  * were written by a plain parquet-hadoop writer (uncompressed, INT64
  * micros timestamps) stay readable next to Spark-written files.
  */
class DailyStoreTypesSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"dstypes_${tag}_${System.nanoTime()}").getPath

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: msgs(x.getCause))

  private def dataFiles(dir: String, day: String): Seq[Path] =
    new java.io.File(dir, day).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).map(f => new Path(f.getPath))

  private def footer(file: Path) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file,
      spark.sessionState.newHadoopConf()))
    try r.getFooter finally r.close()
  }

  private def codecOf(file: Path): CompressionCodecName =
    footer(file).getBlocks.get(0).getColumns.get(0).getCodec

  private def primitiveOf(file: Path, column: String): PrimitiveType =
    footer(file).getFileMetaData.getSchema
      .getColumnDescription(Array(column)).getPrimitiveType

  test("type errors start no job: an int partition column fails in the " +
      "write builder, an interval column in analysis") {
    val dir = freshDir("types")
    var intErr: Throwable = null
    val intJobs = jobsDuring {
      intErr = intercept[Exception] {
        Seq((1, "a"), (2, "b")).toDF("p", "v")
          .write.format("dailystore").option("path", dir)
          .option("partitionCol", "p").mode("append").save()
      }
    }
    assert(intJobs == 0, s"an int partition column started $intJobs job(s)")
    assert(msgs(intErr).exists(_.contains("partition column must be date or string")),
      msgs(intErr))
    var ivErr: Throwable = null
    val ivJobs = jobsDuring {
      ivErr = intercept[Exception] {
        Seq(Date.valueOf("2020-03-01")).toDF("d")
          .select(col("d"), expr("make_interval(0, 0, 0, 1, 0, 0, 0)").as("iv"))
          .write.format("dailystore").option("path", dir)
          .mode("append").save()
      }
    }
    assert(ivJobs == 0, s"an interval column started $ivJobs job(s)")
    assert(msgs(ivErr).exists(_.contains("INTERVAL")), msgs(ivErr))
    assert(!new java.io.File(dir).exists() ||
      new java.io.File(dir).list().forall(_.startsWith("_")),
      "a rejected write must leave no data")
  }

  // ---------------------------------------------------------- F2 record

  private val f2: StructType = StructType(Schemas.caseRecord.fields ++ Seq(
    StructField("amount", DecimalType(38, 18)),
    StructField("reported_at", TimestampType)))
  private val f2Cols = f2.fieldNames.toSeq.map(col)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** One case record; `detail` and `loc` take null, empty arrays and
    * null elements. */
  private def rec(k: Int, day: String, detail: Seq[String],
                  loc: Option[(Double, Double)], deceased: String = "No",
                  amount: String = null): Row =
    Row(k, s"County$k", 30 + k, "F", "Yes", detail, "No", "FL",
      Date.valueOf(day), deceased,
      loc.map { case (x, y) => Row("Point", Seq(x, y)) }.orNull, "No", "No",
      new java.math.BigDecimal(Option(amount)
        .getOrElse(s"${k}2345678901234567.123456789012345678")),
      ts(s"$day 12:34:56.${100000 + k}"))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, f2)

  private def sorted(df: DataFrame): Seq[Row] =
    df.select(f2Cols: _*).collect().toSeq.sortBy(_.getInt(0))

  private def byKey(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.getInt(0))

  /** The keyed net delta `readChanges` classifies, from two model states. */
  private def keyedDelta(from: Seq[Row], to: Seq[Row]): Seq[(Row, String)] = {
    val f = from.map(r => r.getInt(0) -> r).toMap
    val t = to.map(r => r.getInt(0) -> r).toMap
    (f.keySet ++ t.keySet).toSeq.sorted.flatMap { k =>
      (f.get(k), t.get(k)) match {
        case (Some(a), Some(b)) if a == b => Nil
        case (Some(a), Some(b)) =>
          Seq(b -> "update_postimage", a -> "update_preimage")
        case (Some(a), None) => Seq(a -> "delete")
        case (None, Some(b)) => Seq(b -> "insert")
        case (None, None) => Nil
      }
    }
  }

  private def changes(path: String, from: Long, to: Long,
                      pcol: String, key: String): Seq[(Row, String)] =
    DailyStoreChanges.readChanges(spark, path, from, to, pcol, Some(key))
      .select(f2Cols :+ col(DailyStoreChanges.ChangeTypeCol): _*)
      .collect().toSeq
      .map(r => Row.fromSeq(r.toSeq.init) -> r.getString(r.length - 1))
      .sortBy { case (r, c) => (r.getInt(0), c) }

  private def seqs(path: String): Seq[Long] =
    DailyStoreTimeTravel.history(spark, path).select("seq").as[Long]
      .collect().toSeq.sorted

  test("the F2 case record (arrays, GeoJSON struct, decimal(38,18), " +
      "timestamp) round-trips through save, mergeByKey, SQL UPDATE and " +
      "MERGE, readVersion and readChanges; footers carry the session codec") {
    val root = freshDir("f2")
    val path = s"$root/cases"
    new java.io.File(path).mkdirs()
    DailyStoreCatalog.register(spark, "dstypes_f2", root, "date_added")
    val tbl = "dstypes_f2.cases"
    try {
      DailyStoreTimeTravel.enable(spark, path, keep = 10)
      val v1 = Seq(
        rec(1, "2020-03-01", null, Some((-80.1, 25.7))),
        rec(2, "2020-03-01", Seq(), Some((-81.3, 28.5))),
        rec(3, "2020-03-02", Seq("Spain", null), Some((-82.4, 27.9))),
        rec(4, "2020-03-02", Seq("Italy"), None),
        rec(5, "2020-03-03", Seq("China", "Japan"), Some((-84.2, 30.4)),
          amount = "-99999999999999999999.999999999999999999"),
        rec(6, "2020-03-03", null, None))
      frame(v1).write.format("dailystore").option("path", path)
        .option("partitionCol", "date_added").mode("append").save()
      assert(sorted(spark.read.parquet(path)) == byKey(v1))

      // keyed merge: 2 changes in place, 3 moves day, 7 is new
      val merged = Seq(
        rec(2, "2020-03-01", Seq(null), None, deceased = "Yes"),
        rec(3, "2020-03-04", Seq("Spain"), Some((-82.4, 27.9))),
        rec(7, "2020-03-02", Seq(), Some((-80.0, 26.0))))
      DailyStoreMerge.mergeByKey(spark, path, frame(merged), "case_number",
        pcol = "date_added")
      val v2 = byKey(v1.filterNot(r => Set(2, 3)(r.getInt(0))) ++ merged)
      assert(sorted(spark.read.parquet(path)) == v2)

      spark.sql(s"UPDATE $tbl SET travel_detail = array('Cuba', NULL), " +
        "amount = CAST(2.5 AS DECIMAL(38, 18)) WHERE case_number = 1")
      val v3 = v2.map { r =>
        if (r.getInt(0) != 1) r
        else Row.fromSeq(r.toSeq.updated(5, Seq("Cuba", null))
          .updated(13, new java.math.BigDecimal("2.5")))
      }
      assert(sorted(spark.read.parquet(path)) == v3)

      val src = Seq(
        rec(4, "2020-03-02", Seq(), Some((-81.0, 29.0))),
        rec(8, "2020-03-05", Seq(null, "Peru"), None))
      frame(src).createOrReplaceTempView("dstypes_f2_src")
      spark.sql(
        s"""MERGE INTO $tbl USING dstypes_f2_src
           |ON $tbl.case_number = dstypes_f2_src.case_number
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val v4 = byKey(v3.filterNot(_.getInt(0) == 4) ++ src)
      assert(sorted(spark.read.parquet(path)) == v4)
      assert(sorted(spark.table(tbl)) == v4)

      val s = seqs(path)
      assert(s.size == 4, s"expected one commit per write, got $s")
      assert(sorted(DailyStoreTimeTravel.readVersion(spark, path, 2,
        "date_added")) == v2)
      assert(sorted(DailyStoreTimeTravel.readVersion(spark, path, 3,
        "date_added")) == byKey(v1))
      val want = keyedDelta(byKey(v1), v4)
        .sortBy { case (r, c) => (r.getInt(0), c) }
      assert(changes(path, s.head, s.last, "date_added", "case_number") == want)

      val file = dataFiles(path, "date_added=2020-03-03").head
      val codec = spark.conf.get("spark.sql.parquet.compression.codec")
      assert(codecOf(file).name().equalsIgnoreCase(codec),
        s"footer codec ${codecOf(file)} vs session $codec")
      assert(primitiveOf(file, "reported_at").getPrimitiveTypeName.name() ==
        spark.conf.get("spark.sql.parquet.outputTimestampType"))
    } finally {
      spark.conf.unset("spark.sql.catalog.dstypes_f2")
      spark.conf.unset("spark.sql.catalog.dstypes_f2.root")
      spark.conf.unset("spark.sql.catalog.dstypes_f2.partitionCol")
    }
  }

  // ------------------------------------------------------ legacy footers

  private type R = (Date, Int, String, Timestamp, Double)

  private val legacyType = Types.buildMessage()
    .optional(PrimitiveTypeName.INT32).named("k")
    .optional(PrimitiveTypeName.BINARY)
    .as(LogicalTypeAnnotation.stringType()).named("label")
    .optional(PrimitiveTypeName.INT64)
    .as(LogicalTypeAnnotation.timestampType(true,
      LogicalTypeAnnotation.TimeUnit.MICROS)).named("t")
    .optional(PrimitiveTypeName.DOUBLE).named("x")
    .named("dailystore")

  /** Rewrites one committed data file in place the way stores were
    * written before the store used Spark's parquet writer: parquet-hadoop's
    * example writer, UNCOMPRESSED, INT64 micros timestamps. */
  private def rewriteLegacy(file: Path,
                            rows: Seq[(Int, String, Timestamp, Double)]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).withType(legacyType)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach { case (k, label, t, x) =>
      val g = new SimpleGroup(legacyType)
      g.add(0, k)
      g.add(1, label)
      g.add(2, t.toInstant.getEpochSecond * 1000000 + t.getNanos / 1000)
      g.add(3, x)
      w.write(g)
    } finally w.close()
  }

  test("stores written before the switch stay usable: legacy-footer days " +
      "read next to Spark-written days, across a merge, readVersion and " +
      "readChanges") {
    val dir = freshDir("legacy")
    DailyStoreTimeTravel.enable(spark, dir, keep = 10)
    def r(day: String, k: Int, label: String): R =
      (Date.valueOf(day), k, label, ts(s"$day 08:00:00.${100000 + k}"), k * 1.5)
    def write(rows: Seq[R]): Unit =
      rows.toDF("d", "k", "label", "t", "x").write.format("dailystore")
        .option("path", dir).mode("append").save()
    def read(df: DataFrame): Seq[R] =
      df.select("d", "k", "label", "t", "x").as[R].collect().toSeq.sortBy(_._2)

    val legacy = Seq(r("2020-03-01", 1, "a"), r("2020-03-01", 2, "b"),
      r("2020-03-02", 3, "c"), r("2020-03-02", 4, "d"))
    write(legacy)
    legacy.groupBy(_._1).foreach { case (day, rows) =>
      val files = dataFiles(dir, s"d=$day")
      assert(files.size == 1)
      rewriteLegacy(files.head,
        rows.sortBy(_._2).map(x => (x._2, x._3, x._4, x._5)))
    }
    write(Seq(r("2020-03-03", 5, "e"), r("2020-03-03", 6, "f")))
    val v2 = legacy ++ Seq(r("2020-03-03", 5, "e"), r("2020-03-03", 6, "f"))

    val legacyFile = dataFiles(dir, "d=2020-03-01").head
    val newFile = dataFiles(dir, "d=2020-03-03").head
    assert(codecOf(legacyFile) == CompressionCodecName.UNCOMPRESSED)
    assert(primitiveOf(legacyFile, "t").getPrimitiveTypeName ==
      PrimitiveTypeName.INT64)
    assert(codecOf(newFile) != CompressionCodecName.UNCOMPRESSED)
    assert(read(spark.read.parquet(dir)) == v2)

    // the merge rewrites legacy day 03-02 and new day 03-03; 03-01 stays
    // legacy
    val updates = Seq(r("2020-03-02", 3, "c2"), r("2020-03-03", 6, "f2"),
      r("2020-03-04", 7, "g"))
    DailyStoreMerge.mergeByKey(spark, dir,
      updates.toDF("d", "k", "label", "t", "x"), "k")
    val v3 = (v2.filterNot(x => Set(3, 6)(x._2)) ++ updates).sortBy(_._2)
    assert(dataFiles(dir, "d=2020-03-01").map(codecOf) ==
      Seq(CompressionCodecName.UNCOMPRESSED))
    assert(read(spark.read.parquet(dir)) == v3)
    assert(read(DailyStoreTimeTravel.readVersion(spark, dir, 0)) == v3)
    assert(read(DailyStoreTimeTravel.readVersion(spark, dir, 1)) == v2.sortBy(_._2))
    assert(read(DailyStoreTimeTravel.readVersion(spark, dir, 2)) == legacy)

    val s = seqs(dir)
    val delta = DailyStoreChanges.readChanges(spark, dir, s(1), s(2),
        key = Some("k"))
      .select("d", "k", "label", "t", "x", DailyStoreChanges.ChangeTypeCol)
      .as[(Date, Int, String, Timestamp, Double, String)].collect().toSeq
      .sortBy(x => (x._2, x._6))
    def tagged(x: R, c: String) = (x._1, x._2, x._3, x._4, x._5, c)
    assert(delta == Seq(
      tagged(r("2020-03-02", 3, "c2"), "update_postimage"),
      tagged(r("2020-03-02", 3, "c"), "update_preimage"),
      tagged(r("2020-03-03", 6, "f2"), "update_postimage"),
      tagged(r("2020-03-03", 6, "f"), "update_preimage"),
      tagged(r("2020-03-04", 7, "g"), "insert")))
  }
}
