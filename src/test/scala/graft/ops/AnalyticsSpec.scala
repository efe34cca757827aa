package graft.ops

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private val daily = Seq(
    (d("2020-03-01"), 2L), (d("2020-03-02"), 3L),
    (d("2020-03-03"), 0L), (d("2020-03-04"), 5L)
  ).toDF("d", "n")

  test("W1 cumSum: running total in date order") {
    val got = Analytics.cumSum(daily).orderBy("d")
      .select("cum").as[Long].collect()
    assert(got.toSeq == Seq(2L, 5L, 5L, 10L))
  }

  test("W2 cumSumByKey: independent running totals per key") {
    val df = Seq(
      ("a", d("2020-03-01"), 1L), ("b", d("2020-03-01"), 10L),
      ("a", d("2020-03-02"), 2L), ("b", d("2020-03-03"), 20L)
    ).toDF("k", "d", "n")
    val got = Analytics.cumSumByKey(df).orderBy("k", "d")
      .select("k", "cum").as[(String, Long)].collect()
    assert(got.toSeq == Seq(("a", 1L), ("a", 3L), ("b", 10L), ("b", 30L)))
  }

  test("W3 growthRates: cum_t/cum_{t-1}, first row null (pandas NaN parity)") {
    val got = Analytics.growthRates(Analytics.cumSum(daily)).orderBy("d")
      .select("rate").as[Option[Double]].collect()
    assert(got(0).isEmpty)
    assert(got(1).contains(5.0 / 2.0))
    assert(got(2).contains(1.0))
    assert(got(3).contains(2.0))
  }

  test("W4 lagDiff: first-row lag defaults to 0 (cv-csv.py prev_tests=0)") {
    val got = Analytics.lagDiff(daily).orderBy("d")
      .select("delta").as[Long].collect()
    assert(got.toSeq == Seq(2L, 1L, -3L, 5L))
  }

  test("A5 topKByCount: count desc with key asc tie-break") {
    val df = Seq("b", "b", "a", "a", "c").toDF("k")
    val got = Analytics.topKByCount(df, col("k"), 2)
      .as[(String, Long)].collect()
    assert(got.toSeq == Seq(("a", 2L), ("b", 2L)))
  }

  test("W5 tailN: last n by date, re-sorted ascending") {
    val got = Analytics.tailN(daily, 2).select("d").as[Date].collect()
    assert(got.toSeq == Seq(d("2020-03-03"), d("2020-03-04")))
  }

  test("A6 trailingMean: mean of last n non-null rates") {
    val rates = Seq(
      (d("2020-03-01"), None), (d("2020-03-02"), Some(2.0)),
      (d("2020-03-03"), Some(1.0)), (d("2020-03-04"), Some(3.0))
    ).toDF("d", "rate")
    val got = Analytics.trailingMean(rates, 2).as[Double].head()
    assert(got == 2.0) // mean(1.0, 3.0)
  }

  test("G1 growthSim: closed form equals last*gf^i on consecutive days") {
    val last = Seq((d("2020-03-04"), 10L)).toDF("d", "cum")
    val got = Analytics.growthSim(last, 3, lit(2.0)).orderBy("d")
      .as[(Date, Long)].collect()
    assert(got.toSeq == Seq(
      (d("2020-03-05"), 20L), (d("2020-03-06"), 40L), (d("2020-03-07"), 80L)))
  }

  test("G2 tagAndUnion: UNION ALL with series tags, no dedup") {
    val a = Seq((d("2020-03-01"), 1L)).toDF("d", "count")
    val p = Seq((d("2020-03-01"), 1L)).toDF("d", "count")
    val got = Analytics.tagAndUnion(a, p).orderBy("series")
      .select("series").as[String].collect()
    assert(got.toSeq == Seq("actual", "predicted"))
  }

  test("asOfDaily: most recent series value at or before each row's date") {
    val series = Seq((d("2020-03-02"), 10L), (d("2020-03-05"), 20L)).toDF("d", "n")
    val left = Seq(
      (1, d("2020-03-01")), // before series start -> null
      (2, d("2020-03-02")), // exact hit -> 10
      (3, d("2020-03-04")), // gap -> carries 10
      (4, d("2020-03-05")), // exact hit -> 20
      (5, d("2020-03-09"))  // after series end -> carries 20
    ).toDF("id", "dt")
    val got = Analytics.asOfDaily(left, col("dt"), series).orderBy("id")
      .select("n").collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == Seq(None, Some(10L), Some(10L), Some(20L), Some(20L)))
  }

  test("asOfDaily: null left dates stay null; empty series gives all null") {
    val series = Seq((d("2020-03-02"), 10L)).toDF("d", "n")
    val left = Seq((1, Some(d("2020-03-05"))), (2, Option.empty[Date]))
      .toDF("id", "dt")
    val got = Analytics.asOfDaily(left, col("dt"), series).orderBy("id")
      .select("n").collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == Seq(Some(10L), None)) // null date must NOT clamp to hi
    val empty = series.filter(col("n") < 0)
    val got2 = Analytics.asOfDaily(left, col("dt"), empty).orderBy("id")
      .select("n").collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got2.toSeq == Seq(None, None))
  }

  test("A3 dailyCounts groups by midnight-truncated date") {
    val df = Seq("2020-03-01 10:30:00", "2020-03-01 23:59:59", "2020-03-02 00:00:00")
      .toDF("ts").select(col("ts").cast("timestamp").as("ts"))
    val got = Analytics.dailyCounts(df, col("ts")).orderBy("d")
      .as[(Date, Long)].collect()
    assert(got.toSeq == Seq((d("2020-03-01"), 2L), (d("2020-03-02"), 1L)))
  }
}
