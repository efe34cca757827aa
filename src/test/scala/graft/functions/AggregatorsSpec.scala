package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AggregatorsSpec extends SparkSpec {
  import spark.implicits._

  test("geo_mean_growth: exp(avg(ln(rate))), partial-agg mergeable") {
    val df = Seq(2.0, 8.0).toDF("rate").repartition(2) // forces merge path
    val got = df.agg(round(Aggregators.geoMeanGrowth(col("rate")), 9))
      .as[Double].head()
    assert(got == 4.0) // sqrt(2*8)
  }

  test("geo_mean_growth ignores non-positive rates (log domain)") {
    val got = Seq(4.0, 0.0, -1.0).toDF("rate")
      .agg(round(Aggregators.geoMeanGrowth(col("rate")), 9)).as[Double].head()
    assert(got == 4.0)
  }
}
