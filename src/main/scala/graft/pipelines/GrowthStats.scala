package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Analytics

/** E2 — GrowthStats analytics (cv-stats.py:86-134): daily counts →
  * cumulative sum → growth rates → optional 14-day growth simulation,
  * producing the `florida_growth` and `florida_growth_rates` shapes
  * (FIXTURES.md F5). Both shapes select from one growth frame
  * ([[Analytics.growthFrame]]: one aggregate, one window), so their
  * shared stages compile to the same classes.
  */
object GrowthStats {

  /** P13 — exclude the still-open current day (cv-stats.py:34-35). */
  def excludeOpenDay(cases: DataFrame, dateCol: String = "date_added"): DataFrame =
    cases.filter(col(dateCol) < date_sub(current_date(), 1))

  private def growth(cases: DataFrame, dateCol: String): DataFrame =
    Analytics.growthFrame(Analytics.dailyCounts(cases, col(dateCol)))

  /** `florida_growth_rates` shape: (date, rate); first row null
    * (cv-stats.py:122-129).
    */
  def growthRates(cases: DataFrame, dateCol: String = "date_added"): DataFrame =
    growth(cases, dateCol).select(col("d").as("date"), col("rate"))

  /** `florida_growth` shape: (date, count, series) — actual cumulative
    * series plus, when `simulate`, the predicted compound-growth tail
    * (cv-stats.py:95-115). The growth factor is the trailing-5 mean rate
    * (cv-stats.py:107), rounded to 6 places.
    *
    * The plan is one line: the growth frame, one more window for the
    * factor ([[Analytics.trailingGrowth]]), and one explode in which the
    * last day fans out into itself and its `simDays` predicted days. The
    * factor stays a column, so there is no driver fetch and the
    * generated code is the same whatever the factor. With fewer than two
    * days there is no rate and so no factor: the result is the actual
    * rows alone.
    */
  def growthSeries(cases: DataFrame, simulate: Boolean = false,
                   simDays: Int = 14, dateCol: String = "date_added"): DataFrame = {
    val g = growth(cases, dateCol)
    if (!simulate) {
      g.select(col("d").as("date"), col("cum").as("count"),
        lit("actual").as("series"))
    } else {
      val predict = col("last") && col("gf").isNotNull
      Analytics.trailingGrowth(g, 5)
        .select(col("d"), col("cum"), col("gf"),
          explode(when(predict, sequence(lit(0), lit(simDays)))
            .otherwise(array(lit(0)))).as("i"))
        .select(date_add(col("d"), col("i")).as("date"),
          when(col("i") === 0, col("cum"))
            .otherwise(Analytics.simCount(col("cum"), col("gf"), col("i")))
            .as("count"),
          when(col("i") === 0, lit("actual")).otherwise(lit("predicted"))
            .as("series"))
    }
  }
}
