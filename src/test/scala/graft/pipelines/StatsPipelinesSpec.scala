package graft.pipelines

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StatsPipelinesSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  // 2 cases on 3/1, 3 on 3/2, 5 on 3/4 (note the gap day)
  private lazy val cases = Seq(
    "2020-03-01", "2020-03-01",
    "2020-03-02", "2020-03-02", "2020-03-02",
    "2020-03-04", "2020-03-04", "2020-03-04", "2020-03-04", "2020-03-04"
  ).map(Date.valueOf).toDF("date_added")

  test("E2 growthRates: florida_growth_rates shape and values") {
    val got = GrowthStats.growthRates(cases).orderBy("date")
      .as[(Date, Option[Double])].collect()
    assert(got.map(_._1).toSeq == Seq(d("2020-03-01"), d("2020-03-02"), d("2020-03-04")))
    assert(got.map(_._2).toSeq == Seq(None, Some(2.5), Some(2.0)))
  }

  test("E2 growthSeries actual-only: cumulative counts tagged 'actual'") {
    val got = GrowthStats.growthSeries(cases).orderBy("date")
      .as[(Date, Long, String)].collect()
    assert(got.toSeq == Seq(
      (d("2020-03-01"), 2L, "actual"),
      (d("2020-03-02"), 5L, "actual"),
      (d("2020-03-04"), 10L, "actual")))
  }

  test("E2 growthSeries with simulation: gf = trailing mean, 14 predicted days") {
    val got = GrowthStats.growthSeries(cases, simulate = true)
    val predicted = got.filter("series = 'predicted'").orderBy("date")
      .as[(Date, Long, String)].collect()
    assert(predicted.length == 14)
    // gf = mean(2.5, 2.0) = 2.25; last cum = 10
    assert(predicted(0) == ((d("2020-03-05"), 23L, "predicted"))) // 22.5 -> 23
    assert(predicted(1) == ((d("2020-03-06"), 51L, "predicted"))) // 50.625 -> 51
    assert(got.filter("series = 'actual'").count() == 3)
  }

  test("E2 growthSeries with simulation on an empty input: no rows") {
    val none = Seq.empty[Date].toDF("date_added")
    assert(GrowthStats.growthSeries(none, simulate = true).collect().isEmpty)
  }

  test("E2 growthSeries with simulation on one day: the actual row, no " +
    "prediction (a single day has no growth rate)") {
    val oneDay = Seq("2020-03-01", "2020-03-01", "2020-03-01")
      .map(Date.valueOf).toDF("date_added")
    val got = GrowthStats.growthSeries(oneDay, simulate = true)
      .as[(Date, Long, String)].collect()
    assert(got.toSeq == Seq((d("2020-03-01"), 3L, "actual")))
  }

  test("P13 excludeOpenDay drops today/yesterday rows") {
    val withOpen = cases.unionByName(
      spark.range(2).select(current_date().as("date_added")))
    assert(GrowthStats.excludeOpenDay(withOpen).count() == 10)
  }

  test("E3 topFiveCounties: per-county cumsum normalized per 1000 capita") {
    val cc = Seq(
      ("a", d("2020-03-01")), ("a", d("2020-03-01")), ("a", d("2020-03-02")),
      ("b", d("2020-03-01"))
    ).toDF("county", "date_added")
    val counties = Seq(("a", 1000), ("b", 2000)).toDF("county", "population")
    val got = CountyStats.topFiveCounties(cc, counties, k = 1)
      .orderBy("county", "date")
      .as[(String, Date, Long, Double)].collect()
    assert(got.toSeq == Seq(
      ("a", d("2020-03-01"), 2L, 2.0),
      ("a", d("2020-03-02"), 3L, 3.0)))
  }

  test("E3 top-k ties break on county name ascending") {
    val cc = Seq(("b", d("2020-03-01")), ("a", d("2020-03-01")))
      .toDF("county", "date_added")
    val counties = Seq(("a", 1000), ("b", 1000)).toDF("county", "population")
    val got = CountyStats.topFiveCounties(cc, counties, k = 1)
    assert(got.select("county").as[String].collect().toSeq == Seq("a"))
  }
}
