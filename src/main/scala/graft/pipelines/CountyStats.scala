package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Analytics, CaseOps}

/** E3 — CountyStats analytics (cv-county-stats.py:54-96): top-5 counties by
  * case count, per-county cumulative daily counts, normalized per 1000
  * capita. The reference's per-county Python loop (cv-county-stats.py:58-69)
  * collapses into one partitioned window + one broadcast join — the loop
  * never touches the driver.
  */
object CountyStats {

  /** `top_five_counties` shape: (county, date, count, normalized_count)
    * (FIXTURES.md F5). `counties` must carry (county, population).
    *
    * The top-k counties' daily counts are at most k rows per day, so a
    * narrow `coalesce(1)` gathers them for the per-county window without
    * a second shuffle (and its job). The ranking keeps its own scan: the
    * optimizer pushes the top-k semi-join down to the cases scan, so
    * ranking from the (county, day) aggregate would not share it.
    */
  def topFiveCounties(cases: DataFrame, counties: DataFrame,
                      k: Int = 5, dateCol: String = "date_added"): DataFrame = {
    val top = Analytics.topKByCount(cases, col("county"), k)
      .select(col("k").as("county"))
    val daily = Analytics.dailyCountsByKey(
      cases.join(broadcast(top), Seq("county"), "left_semi"),
      col("county"), col(dateCol))
    Analytics.cumSumByKey(daily.coalesce(1))
      .select(col("k").as("county"), col("d").as("date"),
        col("cum").as("count"))
      .join(broadcast(counties.select("county", "population")),
        Seq("county"), "left_outer")
      .select(col("county"), col("date"), col("count"),
        CaseOps.per1000(col("count"), col("population"))
          .as("normalized_count"))
  }
}
