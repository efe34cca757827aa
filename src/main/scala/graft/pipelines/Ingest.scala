package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.CaseOps
import graft.schemas.Schemas

/** E1 — ingest pipelines (SURVEY.md §3): raw scrape/API shapes → the
  * normalized case record, as one declarative plan per source. The
  * reference's row-at-a-time Python loops (cv-csv.py:41-60,
  * cv-api.py:100-139) become column expressions; the per-row county→location
  * dict lookup (cv-api.py:117) becomes a broadcast left-outer join, which is
  * the 100 TB-safe plan (fact side never moves, 67-row dim broadcasts).
  */
object Ingest {

  /** S5 — county dimension from a multi-line JSON array
    * (cv-api.py:233-240). Small by construction: always broadcast at the
    * join site.
    */
  def readCounties(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.county).option("multiLine", true).json(path)

  /** S4 — raw no-header positional CSV scan (cv-csv.py:41-46). */
  def readRawCasesCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.rawCaseCsv).csv(path)

  /** S1 — the dashboard HTML-table scrape, in-engine half
    * (cv.py:51-69). The reference drives a headless Chrome to FETCH the
    * page — browser automation stays outside any SQL engine — then
    * walks `table → tr → td` in Python, skipping the first two header
    * rows and regex-stripping non-digits from the case number and age.
    * Everything after "we have the HTML" is a pure function of the
    * text, so here it runs ON THE SCAN: a whole-file text read, the
    * codegen [[graft.functions.HtmlTableRows]] parse, `posexplode` for
    * the row walk (`row_num` mirrors cv.py:55's counter), and the same
    * [[CaseOps.digitsToInt]] the CSV path uses (cv.py:61,63; blank age
    * → null per the standardized cv-api.py:110 typing, where the
    * reference's `'Unknown'` int-or-string inconsistency is
    * normalized). Directories of page snapshots parse in parallel, one
    * task per file.
    *
    * Output: `(case_number int, county, age int, sex, travel)` —
    * cv.py:60-67's dict shape minus the driver-side `date_added`
    * timestamp (a load-time artifact, not page content; add it at the
    * sink with `current_timestamp()`).
    */
  def readHtmlCasesTable(spark: SparkSession, path: String): DataFrame = {
    spark.read.option("wholetext", true).text(path)
      .select(posexplode(graft.functions.HtmlTableRows
        .htmlTableRows(col("value"))).as(Seq("row_num", "cells")))
      .filter(col("row_num") >= 2) // cv.py:57 — two header rows
      .filter(size(col("cells")) >= 5)
      .select(
        CaseOps.digitsToInt(element_at(col("cells"), 1)).as("case_number"),
        element_at(col("cells"), 2).as("county"),
        CaseOps.digitsToInt(element_at(col("cells"), 3)).as("age"),
        element_at(col("cells"), 4).as("sex"),
        element_at(col("cells"), 5).as("travel"))
  }

  /** P1-P7 + J1 — normalize a raw-shaped frame into the case record
    * (cv-csv.py:48-60 semantics; age ''/non-numeric → null per the
    * standardized cv-api.py:110 typing).
    */
  def normalizeCases(raw: DataFrame, counties: DataFrame): DataFrame =
    raw.select(
        CaseOps.digitsToInt(col("case_number")).as("case_number"),
        col("county"),
        CaseOps.digitsToInt(col("age")).as("age"),
        col("sex"),
        col("travel"),
        CaseOps.splitTrimTitle(col("travel_detail")).as("travel_detail"),
        CaseOps.emptyToUnknown(col("contact_with_confirmed_case"))
          .as("contact_with_confirmed_case"),
        col("jurisdiction"),
        CaseOps.parseDateMdy(col("date_added")).as("date_added"),
        col("deceased"))
      .join(broadcast(counties.select("county", "location")),
        Seq("county"), "left_outer")
      // CSV scrape shape carries no hospitalized/ed_visit (cv-csv.py:48-60);
      // null-pad to the unified case record schema.
      .withColumn("hospitalized", lit(null).cast("string"))
      .withColumn("ed_visit", lit(null).cast("string"))
      .select(Schemas.caseRecord.fieldNames.map(col).toIndexedSeq: _*)

  /** S2 — paginated REST JSON ingest (cv-api.py:47-99). The page fetch
    * itself is driver-side I/O (out of engine scope, like the reference's
    * `requests` loop); this entry takes the already-fetched page bodies and
    * does the engine part: parse every page in parallel and concat
    * (`union` ≡ cv-api.py:88). At connector scale this becomes a DataSource
    * V2 TableProvider with SupportsPushDownFilters/RequiredColumns carrying
    * the reference's server-side where/outFields (SURVEY §2.1 S2).
    */
  def fromJsonPages(spark: SparkSession, pages: Seq[String],
                    counties: DataFrame): DataFrame = {
    import spark.implicits._
    val raw = spark.read
      .schema("features array<struct<attributes:struct<" +
        "ObjectId:int, County:string, Age:string, Gender:string," +
        "Travel_related:string, Origin:string, Contact:string," +
        "Case_:string, Case1:bigint, Died:string," +
        "Hospitalized:string, EDvisit:string>>>")
      .json(pages.toDS())
      .select(explode(col("features.attributes")).as("a"))
      .select("a.*")
    normalizeApiCases(raw, counties)
  }

  /** S2 at scale — same semantics as [[fromJsonPages]] but through the
    * `jsonpages` DataSource V2 connector (graft.sources): one partition
    * per spooled page file, column pruning ≡ `outFields`, source-side
    * filters ≡ `where`. The P14 Case_ filter inside [[normalizeApiCases]]
    * pushes down into the reader.
    */
  def fromJsonPagesDir(spark: SparkSession, dir: String,
                       counties: DataFrame): DataFrame =
    normalizeApiCases(spark.read.format("jsonpages").load(dir), counties)

  /** cv-api.py:103-121 field mapping for ArcGIS attribute rows. The
    * server-side `where: "Case_ not like 'NA%'"` (cv-api.py:77) is applied
    * here as an engine filter (P14); `Case1` carries the epoch-ms case
    * date (cv-api.py:115). The API shape has no jurisdiction — null-padded
    * to the unified record.
    */
  def normalizeApiCases(attrs: DataFrame, counties: DataFrame): DataFrame =
    attrs
      .filter(!coalesce(col("Case_"), lit("NA")).like("NA%")) // P14, cv-api.py:77
      .select(
        col("ObjectId").cast("int").as("case_number"), // cv-api.py:108
        col("County").as("county"),
        CaseOps.digitsToInt(col("Age")).as("age"), // "NA" -> null, cv-api.py:110
        col("Gender").as("sex"),
        col("Travel_related").as("travel"),
        CaseOps.splitTrimTitle(col("Origin")).as("travel_detail"), // cv-api.py:106
        CaseOps.titleCase(CaseOps.naTo(col("Contact"), lit("No")))
          .as("contact_with_confirmed_case"), // cv-api.py:114
        lit(null).cast("string").as("jurisdiction"),
        CaseOps.epochMsToDate(col("Case1")).as("date_added"), // cv-api.py:115
        CaseOps.naTo(col("Died"), lit("No")).as("deceased"), // cv-api.py:116
        when(col("Hospitalized") === "NA", lit(null))
          .otherwise(CaseOps.titleCase(col("Hospitalized")))
          .as("hospitalized"), // cv-api.py:118
        when(col("EDvisit") === "NA", lit(null))
          .otherwise(CaseOps.titleCase(col("EDvisit"))).as("ed_visit"))
      .join(broadcast(counties.select("county", "location")),
        Seq("county"), "left_outer")
      .select(Schemas.caseRecord.fieldNames.map(col).toIndexedSeq: _*)

  /** S3 — covidtracking daily-stats JSON → `other_stats` (cv-api.py:141-181):
    * FL-only filter (P12, client-side in the reference), `%Y%m%d` int date
    * parse (P8), prev = total − increase and guarded growth ratios (P9).
    * Input shape: one JSON object per state-day (the API's array elements).
    */
  def normalizeOtherStats(daily: DataFrame, state: String = "FL"): DataFrame =
    daily
      .filter(col("state") === state) // cv-api.py:147
      .select(
        CaseOps.parseDateYmd(col("date")).as("date"), // cv-api.py:156
        col("totalTestResults").cast("int").as("tests"),
        col("totalTestResultsIncrease").cast("int").as("new_tests"),
        col("death").cast("int").as("deaths"),
        col("deathIncrease").cast("int").as("new_deaths"),
        CaseOps.guardedRatio(col("death"),
          col("death") - col("deathIncrease")).as("deaths_growth"), // cv-api.py:153,161
        col("hospitalized").cast("int").as("hospitalized"),
        col("hospitalizedIncrease").cast("int").as("new_hospitalized"),
        CaseOps.guardedRatio(col("hospitalized"),
          col("hospitalized") - col("hospitalizedIncrease"))
          .as("hospitalized_growth")) // cv-api.py:154,164

  /** S4 variant — daily stats CSV with the lag-derived `new_tests`
    * (cv-csv.py:80-94; the carried `prev_tests` loop variable is a window
    * lag, W4).
    */
  def readDailyStatsCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.read.schema(Schemas.rawStatsCsv).csv(path)
      .select(
        CaseOps.parseDateMdy(col("date")).as("date"),
        CaseOps.digitsToInt(col("hospitalized")).as("hospitalized"),
        CaseOps.digitsToInt(col("tests")).as("tests"))
      .withColumn("new_tests",
        col("tests") - lag(col("tests"), 1, 0).over(Window.orderBy("date")))
  }
}
