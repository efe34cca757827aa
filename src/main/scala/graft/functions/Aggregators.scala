package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed `Aggregator[IN, BUF, OUT]` surface (SURVEY.md §2.9): the
  * compound-growth aggregate — geometric mean of day-over-day growth
  * ratios, i.e. `exp(avg(ln(rate)))`. This is the idiomatic Spark shape
  * for custom aggregation: a pure mergeable buffer, so Catalyst plans it
  * as partial+final aggregation with map-side combine (100 TB-safe — no
  * collect, no sort).
  */
object GeoMeanGrowth extends Aggregator[Double, (Double, Long), Double] {
  override def zero: (Double, Long) = (0.0, 0L)
  override def reduce(b: (Double, Long), rate: Double): (Double, Long) =
    if (rate > 0) (b._1 + math.log(rate), b._2 + 1) else b
  override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
    (a._1 + b._1, a._2 + b._2)
  override def finish(b: (Double, Long)): Double =
    if (b._2 == 0) Double.NaN else math.exp(b._1 / b._2)
  override def bufferEncoder: Encoder[(Double, Long)] =
    Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

object Aggregators {
  /** The SQL name [[GraftFunctions.register]] gives [[GeoMeanGrowth]]. */
  val GeoMeanGrowthName = "geo_mean_growth"

  private[functions] val geoMean = udaf(GeoMeanGrowth).withName(GeoMeanGrowthName)

  /** `geo_mean_growth(rate)` as a Column: the udaf applied directly. */
  def geoMeanGrowth(rate: Column): Column = geoMean(rate)
}
