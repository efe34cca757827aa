package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series analytics operators (SURVEY.md §2.4/§2.5/§2.7).
  *
  * Each is a small pure `DataFrame => DataFrame` re-expressing a pandas /
  * Mongo construct from the reference as a declarative Spark plan, so
  * Catalyst keeps full visibility (partial aggregation, whole-stage
  * codegen, AQE) — no UDFs, no collect-to-driver.
  *
  * Scale notes: the date-ordered windows below use an unpartitioned
  * `Window.orderBy` — sound here because every input is *already reduced to
  * one row per day* (cardinality = #days, thousands of rows even for a
  * century of data), so the single-partition sort is O(days), not O(facts).
  * The fact-sized work (groupBy counts) is a distributed partial+final hash
  * aggregate. Per-key series use `Window.partitionBy(key)` and scale with
  * the number of keys.
  */
object Analytics {

  /** A3 + P6 — rows-per-day counts (reference: cv-stats.py:55 groupby-count
    * over midnight-truncated dates, cv-api.py:115).
    */
  def dailyCounts(df: DataFrame, ts: Column): DataFrame =
    df.groupBy(to_date(ts).as("d")).agg(count(lit(1)).as("n"))

  /** A4 — rows-per-(key, day) counts (reference: cv-county-stats.py:55). */
  def dailyCountsByKey(df: DataFrame, key: Column, ts: Column): DataFrame =
    df.groupBy(key.as("k"), to_date(ts).as("d")).agg(count(lit(1)).as("n"))

  /** W1 — running total over a date-ordered daily series (reference:
    * cv-stats.py:54-56 `cumsum`).
    */
  def cumSum(daily: DataFrame, orderCol: String = "d",
             valueCol: String = "n", out: String = "cum"): DataFrame = {
    val w = Window.orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn(out, sum(col(valueCol)).over(w))
  }

  /** W2 — per-key running total (reference: cv-county-stats.py:54-69 — the
    * per-county Python loop collapses into one partitioned window).
    */
  def cumSumByKey(daily: DataFrame, keyCol: String = "k",
                  orderCol: String = "d", valueCol: String = "n",
                  out: String = "cum"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn(out, sum(col(valueCol)).over(w))
  }

  /** W3 — day-over-day growth ratio `cum_t / cum_{t-1}`; first row null,
    * matching pandas `pct_change` NaN (reference: cv-stats.py:59-66).
    */
  def growthRates(cum: DataFrame, orderCol: String = "d",
                  cumCol: String = "cum", out: String = "rate"): DataFrame = {
    val w = Window.orderBy(orderCol)
    cum.withColumn(out, col(cumCol) / lag(col(cumCol), 1).over(w))
  }

  /** W1+W3 in one window — the growth frame `(d, n, cum, rate)` of a
    * daily count series `(d, n)`. The previous running total is
    * `cum - n`, so the day-over-day ratio needs no `lag` window:
    * `rate = cum / nullif(cum - n, 0)` equals [[growthRates]] over
    * [[cumSum]] bit for bit on a count series (every `n` ≥ 1). Only the
    * first row's `cum - n` is 0, so its rate is null and every later rate
    * is set. The whole frame is one aggregate and one `Window.orderBy`,
    * and every analytic that selects from it compiles to the same
    * stages. The daily series is one row per day, so a narrow
    * `coalesce(1)` gathers it onto one partition: the window, which
    * needs a single partition anyway, then runs without a second shuffle
    * (and its job).
    */
  def growthFrame(daily: DataFrame): DataFrame =
    cumSum(daily.coalesce(1)).withColumn("rate",
      col("cum") / nullif(col("cum") - col("n"), lit(0L)))

  /** W4 — lag difference with default 0 for the first row (reference:
    * cv-csv.py:86-94 `new_tests = tests - prev_tests`, carried loop var).
    */
  def lagDiff(daily: DataFrame, orderCol: String = "d",
              valueCol: String = "n", out: String = "delta"): DataFrame = {
    val w = Window.orderBy(orderCol)
    daily.withColumn(out, col(valueCol) - lag(col(valueCol), 1, 0).over(w))
  }

  /** A5/O4 — top-k keys by count with a deterministic tie-break on the key
    * (reference: cv-county-stats.py:72 `nlargest(5)`; pandas tie order is
    * positional/non-portable, we pin it). Planned as TakeOrderedAndProject
    * — no full sort.
    */
  def topKByCount(df: DataFrame, key: Column, k: Int): DataFrame =
    df.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("k")).limit(k)

  /** W5 — last n rows of a date-ordered series, re-sorted ascending
    * (reference: cv-stats.py:63-66 `.tail(n)`).
    */
  def tailN(daily: DataFrame, n: Int, orderCol: String = "d"): DataFrame =
    daily.orderBy(desc(orderCol)).limit(n).orderBy(asc(orderCol))

  /** A6 — mean of the trailing `n` growth rates (reference: cv-stats.py:107
    * `cum_growth(5).mean()`).
    */
  def trailingMean(rates: DataFrame, n: Int, orderCol: String = "d",
                   valueCol: String = "rate", out: String = "mean_rate"): DataFrame =
    tailN(rates.filter(col(valueCol).isNotNull), n, orderCol)
      .agg(round(avg(col(valueCol)), 6).as(out))

  /** A6 as a running column of the growth frame ([[growthFrame]]): `gf`
    * is the mean of the trailing `n` rates ending at each day, rounded to
    * 6 places, and `last` marks the final day. Only the first day's rate
    * is null and `avg` skips nulls, so on the last day `gf` equals
    * [[trailingMean]] (non-null rates, then the last `n`) bit for bit:
    * the sliding frame adds its rows in date order, as the aggregate
    * does. One window, no aggregate and no driver fetch.
    */
  def trailingGrowth(frame: DataFrame, n: Int): DataFrame = {
    val w = Window.orderBy("d")
    frame
      .withColumn("gf", round(avg(col("rate")).over(w.rowsBetween(1 - n, 0)), 6))
      .withColumn("last", lead(col("d"), 1).over(w).isNull)
  }

  /** G1's closed form for predicted day `i`: `round(cum * gf^i)`. */
  def simCount(cum: Column, gf: Column, i: Column): Column =
    round(cum * pow(gf, i)).cast("long")

  /** G1 — growth simulation as a closed-form generator (reference:
    * cv-stats.py:70-83 compounds sequentially in a loop; the closed form
    * `count_i = last * gf^i` parallelizes and is what we generate with
    * `sequence` + `explode` — no driver-side loop, no custom Generator).
    * `last` must be a 1-row frame with columns (`d` date, `cum` long).
    * `gf` is the growth factor, evaluated over `last`: a constant
    * (`lit(1.5)`) or a column of `last` itself. A factor computed from
    * the data stays a column, so the generated code does not change
    * when the factor does.
    */
  def growthSim(last: DataFrame, days: Int, gf: Column): DataFrame =
    last.select(explode(sequence(lit(1), lit(days))).as("i"),
        col("d"), col("cum"), gf.as("__gf"))
      .select(
        date_add(col("d"), col("i")).as("d"),
        simCount(col("cum"), col("__gf"), col("i")).as("count"))

  /** As-of join against a daily series: each left row picks the most
    * recent `series` value with date <= its own date.
    *
    * Spark has no native as-of join; the naive forms don't scale (a global
    * union+window can't partition; a `>=` range join over a broadcast
    * nested loop is O(rows x days)). At daily granularity the exact
    * rewrite is: densify the series to every covered calendar day (each
    * series row explodes its own [d, next_d) range — forward-fill by
    * construction, over the tiny date axis only), then broadcast
    * equi-join the fact side on the date, clamped to the series' last
    * day so later fact rows carry the final value forward. The fact
    * side never shuffles and is scanned exactly once; the series stays
    * #days rows.
    *
    * `series` must be (dateCol: date, valueCol) with at most one row
    * per date (an aggregated daily frame); rows on dates before the
    * series starts, and rows with a null date, get null.
    */
  def asOfDaily(left: DataFrame, leftDate: Column,
                series: DataFrame, dateCol: String = "d",
                valueCol: String = "n"): DataFrame = {
    // Both broadcast sides below (the densified days and the 1-row max)
    // execute the series subtree once each. A checkpoint-the-series
    // variant that halves that to one scan was MEASURED SLOWER on q49
    // at sf1 (1.10 s vs 1.00 s solo, median-of-5): the eager
    // materialization job costs more than the duplicated
    // aggregate-and-scan it saves — so the two executions stand.
    // Row-local densify (r14): series row i covers the day range
    // [d_i, d_{i+1}) — lead() finds the range end and ONE explode emits
    // every covered day carrying value_i. Forward-fill falls out of the
    // coverage itself, so the previous shape's bounds aggregate, calendar
    // crossJoin, calendar-to-series join, and ignore-nulls carry-forward
    // window all collapse into a single pass over the series. Rows dated
    // after the last series day carry the last value forward via the
    // clamp below instead of densifying out to the fact side's max date —
    // which also removes the fact-side max() scan (the old shape scanned
    // the fact table twice and the series twice; this one scans each
    // once, in three jobs: two tiny broadcast builds + the probe).
    val w = Window.orderBy(dateCol)
    val densified = series
      .withColumn("__next", lead(col(dateCol), 1).over(w))
      .select(explode(sequence(col(dateCol),
          coalesce(date_sub(col("__next"), 1), col(dateCol)))).as(dateCol),
        col(valueCol))
    val hi = series.agg(max(col(dateCol)).as("__hi"))
    // null left dates must stay null-joined (least() would skip the null
    // and clamp them to __hi); an empty series leaves __hi null and
    // least() degrades to the raw date against an empty densified side
    val key = when(leftDate.isNotNull, least(leftDate, col("__hi")))
    left.crossJoin(broadcast(hi))
      .join(broadcast(densified), key === col(dateCol), "left_outer")
      .drop(dateCol, "__hi")
  }

  /** G2/O5 — tag two series and concatenate (reference: cv-stats.py:95-115;
    * bag semantics — UNION ALL, no dedup).
    */
  def tagAndUnion(actual: DataFrame, predicted: DataFrame,
                  tagCol: String = "series"): DataFrame =
    actual.withColumn(tagCol, lit("actual"))
      .unionByName(predicted.withColumn(tagCol, lit("predicted")))
}
