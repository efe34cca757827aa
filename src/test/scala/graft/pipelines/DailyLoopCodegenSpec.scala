package graft.pipelines

import java.nio.file.{Files, Path}
import java.sql.Date
import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{DailyStoreCatalog, DailyStoreMerge}
import graft.util.Checkpoints

/** The reference daily job over consecutive days in one session, against
  * Spark's default 100-entry codegen cache: JSON pages → dailystore save
  * → [[DailyStoreMerge.mergeByKey]] → SQL `UPDATE` → growth series, growth
  * rates and top-5 counties → truncate-and-reload.
  *
  * A day's data must not change the code its analytics generate: the
  * growth factor is a column, not a literal inlined into the simulation
  * stage. So the analytics over the previous day's store reuse every class
  * the current day compiled. (The whole loop does not fit the cache: its
  * save, merge and `UPDATE` carry the day's literals, and a loop day
  * generates more classes than the cache holds.)
  */
class DailyLoopCodegenSpec extends SparkSpec {

  private val start = LocalDate.of(2020, 3, 1)
  private def date(t: Int): Date = Date.valueOf(start.plusDays(t.toLong))
  private val names = Seq("Alachua", "Broward", "Dade", "Duval", "Lee", "Polk")
  private val perDay = 30

  /** One ArcGIS case feature: its id, county and case day. */
  private def feature(id: Int, county: String, day: Int): String = {
    val ms = start.plusDays(day.toLong).atStartOfDay().toInstant(ZoneOffset.UTC)
      .toEpochMilli + id * 1000L
    s"""{"attributes":{"ObjectId":$id,"County":"$county","Age":"${20 + id % 60}",""" +
      s""""Gender":"Male","Travel_related":"No","Origin":"NA","Contact":"NA",""" +
      s""""Case_":"Yes","Case1":$ms,"Died":"No",""" +
      s""""Hospitalized":"NA","EDvisit":"NA"}}"""
  }

  /** Day `t`'s page: its new cases, plus a county correction of two
    * earlier cases (from day 1 on). */
  private def page(t: Int): String = {
    val ids = (t * perDay + 1) to ((t + 1) * perDay)
    val fresh = ids.map(i => feature(i, names(i % names.size), t))
    val fixes = if (t == 0) Nil else Seq(t, t + 7).map(i =>
      feature(i, names((i + t) % names.size), (i - 1) / perDay))
    (fresh ++ fixes).mkString("{\"features\":[\n", ",\n", "\n]}\n")
  }

  private lazy val root: Path = {
    val dir = Files.createTempDirectory("graft-dailyloop")
    (0 to 3).foreach { t =>
      val d = Files.createDirectories(dir.resolve(s"pages/day$t"))
      Files.writeString(d.resolve("page-000.json"), page(t))
    }
    Files.writeString(dir.resolve("counties.json"), names.zipWithIndex.map {
      case (c, i) => s"""{"county":"$c","population":${100000 * (i + 1)},""" +
        s""""location":{"type":"Point","coordinates":[-80.0,${25.0 + i}]}}"""
    }.mkString("[\n", ",\n", "\n]\n"))
    dir
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the analytics over the previous day's store compile no new class") {
    val store = root.resolve("store/cases")
    DailyStoreCatalog.register(spark, "dloop", root.resolve("store").toString)
    val counties = Ingest.readCounties(spark, root.resolve("counties.json").toString)
    def ingest(t: Int) = Checkpoints.tracked(
      Ingest.fromJsonPagesDir(spark, root.resolve(s"pages/day$t").toString, counties)
        .select(col("date_added").as("d"), col("case_number"), col("county"),
          col("age"), col("sex"), col("deceased")))
    def save(cases: org.apache.spark.sql.DataFrame, t: Int): Unit =
      cases.filter(col("d") === lit(date(t))).write.format("dailystore")
        .option("path", store.toString).option("partitionCol", "d")
        .option("partitionOverwriteMode", "dynamic").mode("overwrite").save()
    def analytics(from: Path, out: Path): Unit = {
      val all = spark.read.parquet(from.toString)
      Sinks.truncateAndReload(
        GrowthStats.growthSeries(all, simulate = true, dateCol = "d"),
        out.resolve("growth").toString)
      Sinks.truncateAndReload(GrowthStats.growthRates(all, "d"),
        out.resolve("rates").toString)
      Sinks.truncateAndReload(
        CountyStats.topFiveCounties(all, counties, dateCol = "d"),
        out.resolve("top5").toString)
    }
    def day(t: Int): Unit = {
      val cases = ingest(t)
      save(cases.df, t)
      DailyStoreMerge.mergeByKey(spark, store.toString,
        cases.df.filter(col("d") < lit(date(t))), "case_number", "d")
      spark.sql("UPDATE dloop.cases SET deceased = 'Yes' WHERE case_number IN " +
        s"(${(1 to 3).map(i => t * 5 + i).mkString(",")})")
      analytics(store, root.resolve(s"out$t"))
      cases.release()
    }
    def copy(from: Path, to: Path): Unit = Files.walk(from).forEach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString))
    }
    (0 to 1).foreach { t => val c = ingest(t); save(c.df, t); c.release() }
    day(2)
    val day2Store = root.resolve("store-day2")
    copy(store, day2Store)
    day(3)
    val c0 = compiles
    analytics(day2Store, root.resolve("again2"))
    val again = compiles - c0

    def series(out: String) =
      spark.read.parquet(root.resolve(s"$out/growth").toString)
    assert(series("out3").filter(col("series") === "actual")
      .agg(max("count")).head().getLong(0) == 4L * perDay)
    assert(series("again2").filter(col("series") === "actual")
      .agg(max("count")).head().getLong(0) == 3L * perDay)
    Seq("out3", "again2").foreach(o =>
      assert(series(o).filter(col("series") === "predicted").count() == 14))
    assert(spark.read.parquet(store.toString)
      .filter(col("deceased") === "Yes").count() == 6)
    assert(again == 0, s"the analytics over the day-2 store compiled $again classes")
  }
}
