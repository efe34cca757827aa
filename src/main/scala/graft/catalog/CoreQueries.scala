package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Analytics

/** Core reference-parity queries (SURVEY.md §2.3-§2.7) over the harness
  * tables: scans, aggregations, windows, joins, top-k, generation.
  *
  * The COVID-domain mapping: `orders` plays the case fact table
  * (o_orderdate = date_added), `nation` plays the county dimension,
  * customers-per-nation plays county population.
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Daily order counts — shared base for the time-series queries. */
  private def daily(s: SparkSession, dir: String): DataFrame =
    Analytics.dailyCounts(t(s, dir, "orders"), col("o_orderdate"))

  private val dailySql =
    "SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n FROM orders GROUP BY 1"

  private def cum(s: SparkSession, dir: String): DataFrame =
    Analytics.cumSum(daily(s, dir))

  private val cumSql =
    s"""WITH daily AS ($dailySql)
       |SELECT d, n, CAST(SUM(n) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |FROM daily""".stripMargin

  /** orders x customer x nation with the date projected — base for the
    * per-"county" analytics. nation (25 rows) is broadcast; the
    * orders-customer join shuffles on the key, which is the right plan at
    * 100 TB (customer is not broadcastable at scale).
    */
  private def ordersNation(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        to_date(col("o_orderdate")).as("d"))

  private val ordersNationSql =
    """SELECT n_name AS nation, CAST(o_orderdate AS DATE) AS d
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |            JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  /** lineitem + orders rewritten as co-bucketed tables on the order key
    * (one-time layout job per dataset, memoized like the ANN/IVF index
    * builds — see Sinks.reloadBucketed). Joins between the two then plan
    * with ZERO exchange: the fact-to-fact join no broadcast can help is
    * served by bucket co-location, which is the point of the layout at
    * 100 TB. Returns the (lineitem, orders) table names.
    */
  private val bucketedCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, String)]

  private def ensureBucketed(s: SparkSession, dir: String): (String, String) =
    bucketedCache.getOrElseUpdate((s, dir), {
      val hex = Integer.toHexString(dir.hashCode)
      val (li, ord) = (s"graft_li_bkt_$hex", s"graft_ord_bkt_$hex")
      val root = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_bucketed_$hex").getPath
      graft.pipelines.Sinks.reloadBucketed(
        t(s, dir, "lineitem"), li, s"$root/$li", "l_orderkey", 8)
      graft.pipelines.Sinks.reloadBucketed(
        t(s, dir, "orders"), ord, s"$root/$ord", "o_orderkey", 8)
      (li, ord)
    })

  val all: Map[String, Q] = Map(

    // ----- A3: group-by-date count (cv-stats.py:55) -----
    "q01_daily_counts" -> Q(
      (s, dir) => daily(s, dir).orderBy("d"),
      Some(s"$dailySql ORDER BY d"),
      "A3/P6 rows-per-day"),

    // ----- W1: cumulative sum (cv-stats.py:54-56) -----
    "q02_cum_daily" -> Q(
      (s, dir) => cum(s, dir).orderBy("d"),
      Some(s"$cumSql ORDER BY d"),
      "W1 running total over dates"),

    // ----- W3: growth rate cum_t/cum_{t-1} (cv-stats.py:59-66) -----
    "q03_growth_rates" -> Q(
      (s, dir) => Analytics.growthRates(cum(s, dir))
        .select("d", "rate").orderBy("d"),
      Some(
        s"""WITH cum AS ($cumSql)
           |SELECT d, cum / LAG(cum, 1) OVER (ORDER BY d) AS rate
           |FROM cum ORDER BY d""".stripMargin),
      "W3 pct-change+1; first row null"),

    // ----- A4+W2: per-key daily cumsum (cv-county-stats.py:54-69) -----
    "q04_cum_by_nation" -> Q(
      (s, dir) => Analytics.cumSumByKey(
          ordersNation(s, dir).groupBy(col("nation").as("k"), col("d"))
            .agg(count(lit(1)).as("n")))
        .withColumnRenamed("k", "nation")
        .orderBy("nation", "d"),
      Some(
        s"""WITH base AS ($ordersNationSql),
           |daily AS (SELECT nation, d, COUNT(*) AS n FROM base GROUP BY 1, 2)
           |SELECT nation, d, n, CAST(SUM(n) OVER (PARTITION BY nation ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |FROM daily ORDER BY nation, d""".stripMargin),
      "A4+W2 partitioned running total"),

    // ----- A5/O4: top-k with pinned tie-break (cv-county-stats.py:72) -----
    "q05_top5_nations" -> Q(
      (s, dir) => Analytics.topKByCount(ordersNation(s, dir), col("nation"), 5)
        .withColumnRenamed("k", "nation"),
      Some(
        s"""WITH base AS ($ordersNationSql)
           |SELECT nation, COUNT(*) AS cnt FROM base
           |GROUP BY 1 ORDER BY cnt DESC, nation LIMIT 5""".stripMargin),
      "A5 top-5 keys by count, TakeOrderedAndProject"),

    // ----- full CountyStats parity: top5 + per-key cumsum + J1 + P10 -----
    "q06_top5_normalized" -> Q(
      (s, dir) => {
        // One pass over the fact join: the (nation, day) aggregate feeds
        // both the top-5 ranking (re-aggregated — 25x#days rows, free)
        // and the cumsum. localCheckpoint materializes it once, so the
        // orders⋈customer shuffle physically runs once instead of being
        // re-planned under each consumer (the CorpusPipeline pattern —
        // worth it here because the reuse crosses a limit(5) barrier that
        // defeats exchange reuse). Deliberately NOT repartition-by-nation:
        // 25 keys would serialize the cumsum at scale — which also
        // declines the tempting exchange trim of pre-partitioning by
        // nation so the (k,d) aggregate, top-5 re-aggregate, and cumsum
        // window ride ONE exchange: that pins every stage to 25
        // partitions, trading two cheap exchanges for a parallelism
        // ceiling that breaks at 100 TB.
        //
        // r12 finding (closes the r10/r11 stretch item): the 7 static
        // exchanges decompose as ONE fact-scale shuffle — the (k, d)
        // hash aggregate over orders⋈customer, running at full
        // parallelism — plus six that move only aggregated or
        // dimension-sized frames: the top-5 re-aggregate (≤ #nations
        // rows post-partial-agg) and its 5-row broadcast, the
        // population aggregate (25 rows) and its broadcast, the cumsum
        // window input (#nations × #days rows — ~2.5e5 at a 10⁴-day
        // 100 TB corpus, trivia next to the fact shuffle), and the
        // final range sort of the same frame. Every collapse candidate
        // requires keying the FACT aggregate by nation alone — the
        // 25-partition ceiling declined above — so the count is
        // irreducible without a parallelism cliff; the residual sf1
        // equivalent-work gap vs DuckDB is per-job floor on those six
        // tiny exchanges, not data movement.
        val daily = graft.util.Checkpoints.scoped(s"q06:$dir")(
          ordersNation(s, dir)
            .groupBy(col("nation").as("k"), col("d"))
            .agg(count(lit(1)).as("n")))
        val top5 = daily.groupBy(col("k")).agg(sum(col("n")).as("cnt"))
          .orderBy(desc("cnt"), asc("k")).limit(5).select(col("k"))
        val pop = t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"))
          .agg(count(lit(1)).as("population"))
        Analytics.cumSumByKey(daily.join(broadcast(top5), Seq("k"), "left_semi"))
          .withColumnRenamed("k", "nation")
          .join(broadcast(pop), Seq("nation"))
          .select(col("nation"), col("d"), col("cum"),
            round(col("cum") / (col("population") / lit(1000.0)), 2)
              .as("normalized_count"))
          .orderBy("nation", "d")
      },
      Some(
        s"""WITH base AS ($ordersNationSql),
           |top5 AS (SELECT nation, COUNT(*) AS cnt FROM base GROUP BY 1 ORDER BY cnt DESC, nation LIMIT 5),
           |pop AS (SELECT n_name AS nation, COUNT(*) AS population FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1),
           |daily AS (SELECT nation, d, COUNT(*) AS n FROM base WHERE nation IN (SELECT nation FROM top5) GROUP BY 1, 2),
           |cum AS (SELECT nation, d, CAST(SUM(n) OVER (PARTITION BY nation ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM daily)
           |SELECT c.nation, c.d, c.cum, ROUND(c.cum / (p.population / 1000.0), 2) AS normalized_count
           |FROM cum c JOIN pop p USING (nation) ORDER BY nation, d""".stripMargin),
      "E3 CountyStats end-to-end: A5+W2+J1+P10"),

    // ----- J1: broadcast dimension join (cv-api.py:117,233-240) -----
    "q07_dim_join" -> Q(
      (s, dir) => t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey"),
      Some(
        """SELECT n_nationkey, n_name, r_name
          |FROM nation JOIN region ON n_regionkey = r_regionkey
          |ORDER BY n_nationkey""".stripMargin),
      "J1 broadcast-hash equi join"),

    // ----- J2: left-semi membership (cv.py:113-117) -----
    "q08_semi_join" -> Q(
      (s, dir) => t(s, dir, "orders")
        .join(t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
            .select(col("c_custkey").as("o_custkey")),
          Seq("o_custkey"), "left_semi")
        .select("o_orderkey").orderBy("o_orderkey"),
      Some(
        """SELECT o_orderkey FROM orders
          |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          |ORDER BY o_orderkey""".stripMargin),
      "J2 left-semi join"),

    // ----- left-anti (implied by the incremental load, SURVEY §2.3) -----
    "q09_anti_join" -> Q(
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey"),
      Some(
        """SELECT c_custkey FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |ORDER BY c_custkey""".stripMargin),
      "anti join: customers with no orders"),

    // ----- J4/P11: scalar-subquery high-watermark filter (cv.py:104-110) --
    "q10_watermark_filter" -> Q(
      (s, dir) => {
        val wm = t(s, dir, "orders")
          .agg((max(col("o_orderkey")) - 100).as("wm"))
        t(s, dir, "lineitem").crossJoin(broadcast(wm))
          .filter(col("l_orderkey") > col("wm"))
          .select("l_orderkey", "l_linenumber", "l_quantity")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some(
        """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
          |WHERE l_orderkey > (SELECT MAX(o_orderkey) - 100 FROM orders)
          |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      "J4 incremental watermark: rows above global max-100"),

    // ----- A1/A2: global aggregates (cv.py:93-107, cv-api.py:185) -----
    "q11_global_agg" -> Q(
      (s, dir) => t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        max(col("l_orderkey")).as("max_key"),
        min(to_date(col("l_shipdate"))).as("min_ship")),
      Some(
        """SELECT COUNT(*) AS n_rows, MAX(l_orderkey) AS max_key,
          |       MIN(CAST(l_shipdate AS DATE)) AS min_ship
          |FROM lineitem""".stripMargin),
      "A1 global max / A2 global count"),

    // ----- multi-aggregate pricing summary (decimal-exact; bench headline) -
    // Decimal-EXACT without decimal boxing: money quantizes to long
    // cents scan-side, the aggregation runs codegen'd long sums with the
    // overflow-split accumulator, and only the 6 final group rows touch
    // decimal (see graft.functions.ExactMoney — the r12 verdict measured
    // the naive sum(DECIMAL(18,2)) form at 12x DuckDB from per-row
    // Decimal buffer allocation alone; the declared semantics and the
    // oracle are unchanged). The disc_price product is exact in 1e-4
    // units: cents(ep) * (100 - cents(disc)).
    "q12_pricing_summary" -> Q(
      (s, dir) => {
        import graft.functions.ExactMoney.{cents, sumMoney}
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            cents(col("l_quantity")).as("qty_c"),
            cents(col("l_extendedprice")).as("ep_c"),
            (cents(col("l_extendedprice")) *
              (lit(100L) - cents(col("l_discount")))).as("disc_u"))
          .groupBy("l_returnflag", "l_linestatus").agg(
            sumMoney(col("qty_c"), 2).as("sum_qty"),
            sumMoney(col("ep_c"), 2).as("sum_base_price"),
            sumMoney(col("disc_u"), 4).as("sum_disc_price"),
            (sumMoney(col("qty_c"), 2) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          |  COUNT(*) AS count_order
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      "TPC-H-Q1-shaped partial+final hash agg, decimal-exact"),

    // ----- co-bucketed fact-to-fact join: ZERO-exchange at read time ----
    // lineitem joins orders on the order key — the join no broadcast can
    // help at scale — through the bucketed layout (ensureBucketed), so
    // the only exchange in the plan is the 5-row priority aggregate's.
    // The merge hint pins the sort-merge path (a broadcast pick at toy
    // scale would bypass the layout being demonstrated); the
    // zero-exchange join plan itself is asserted by BucketedJoinSpec.
    "q67_bucketed_join" -> Q(
      (s, dir) => {
        import graft.functions.ExactMoney.{cents, sumMoney}
        val (li, ord) = ensureBucketed(s, dir)
        s.table(li).hint("merge")
          .join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sumMoney(cents(col("l_quantity")), 2).as("sum_qty"))
          .orderBy("o_orderpriority")
      },
      Some(
        """SELECT o_orderpriority, COUNT(*) AS n_items,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      "co-bucketed sort-merge join, no shuffle on either fact side"),

    // ----- W4: lag difference, default 0 (cv-csv.py:86-94) -----
    "q13_lag_diff" -> Q(
      (s, dir) => Analytics.lagDiff(daily(s, dir)).orderBy("d"),
      Some(
        s"""WITH daily AS ($dailySql)
           |SELECT d, n, n - LAG(n, 1, 0) OVER (ORDER BY d) AS delta
           |FROM daily ORDER BY d""".stripMargin),
      "W4 new_tests = tests - lag(tests)"),

    // ----- W5: tail-n re-sorted ascending (cv-stats.py:63-66) -----
    "q14_tail7" -> Q(
      (s, dir) => Analytics.tailN(cum(s, dir).select("d", "cum"), 7),
      Some(
        s"""WITH cum AS ($cumSql)
           |SELECT d, cum FROM (SELECT d, cum FROM cum ORDER BY d DESC LIMIT 7)
           |ORDER BY d""".stripMargin),
      "W5 last-7 of ordered series"),

    // ----- G1: growth simulation, closed form (cv-stats.py:70-83) -----
    "q15_growth_sim" -> Q(
      (s, dir) => {
        val last = cum(s, dir).orderBy(desc("d")).limit(1).select("d", "cum")
        Analytics.growthSim(last, 14, lit(1.5)).orderBy("d")
      },
      Some(
        s"""WITH cum AS ($cumSql),
           |last AS (SELECT d, cum FROM cum ORDER BY d DESC LIMIT 1)
           |SELECT last.d + i AS d, CAST(ROUND(cum * POWER(1.5, i)) AS BIGINT) AS "count"
           |FROM last, (SELECT CAST(UNNEST(GENERATE_SERIES(1, 14)) AS INTEGER) AS i)
           |ORDER BY d""".stripMargin),
      "G1 14-day compound-growth generator, closed form"),

    // ----- G2/O5: tagged actual+predicted union (cv-stats.py:95-115) -----
    "q16_series_union" -> Q(
      (s, dir) => {
        val actual = cum(s, dir).select(col("d"), col("cum").as("count"))
        val last = actual.orderBy(desc("d")).limit(1)
          .select(col("d"), col("count").as("cum"))
        val predicted = Analytics.growthSim(last, 14, lit(1.5))
        Analytics.tagAndUnion(actual, predicted).orderBy("series", "d")
      },
      Some(
        s"""WITH cum AS ($cumSql),
           |actual AS (SELECT d, cum AS "count" FROM cum),
           |last AS (SELECT d, "count" AS cum FROM actual ORDER BY d DESC LIMIT 1),
           |predicted AS (
           |  SELECT last.d + i AS d, CAST(ROUND(cum * POWER(1.5, i)) AS BIGINT) AS "count"
           |  FROM last, (SELECT CAST(UNNEST(GENERATE_SERIES(1, 14)) AS INTEGER) AS i))
           |SELECT d, "count", 'actual' AS series FROM actual
           |UNION ALL
           |SELECT d, "count", 'predicted' AS series FROM predicted
           |ORDER BY series, d""".stripMargin),
      "G2+O5 florida_growth parity: tagged UNION ALL"),

    // ----- as-of join (densify + broadcast equi-join rewrite) -----
    "q49_asof_join" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
          .select(col("l_orderkey"), col("l_linenumber"),
            to_date(col("l_shipdate")).as("sd"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // n joins the tie-break to pin row order
        Analytics.asOfDaily(li, col("sd"), daily(s, dir))
          .select("l_orderkey", "l_linenumber", "n")
          .orderBy("l_orderkey", "l_linenumber", "n")
      },
      Some(
        s"""WITH daily AS ($dailySql),
           |li AS (SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS sd
           |       FROM lineitem WHERE l_orderkey < 2000)
           |SELECT l_orderkey, l_linenumber, n
           |FROM li ASOF LEFT JOIN daily ON li.sd >= daily.d
           |ORDER BY l_orderkey, l_linenumber, n""".stripMargin),
      "as-of join vs DuckDB native ASOF; Spark side = densify+broadcast"),

    // ----- §2.9 typed Aggregator: compound growth (geometric mean) -----
    "q44_geo_mean_growth" -> Q(
      (s, dir) => {
        Analytics.growthRates(cum(s, dir))
          .filter(col("rate").isNotNull)
          .agg(round(graft.functions.Aggregators.geoMeanGrowth(col("rate")), 6)
            .as("geo_mean"))
      },
      Some(
        s"""WITH cum AS ($cumSql),
           |rates AS (SELECT cum / LAG(cum, 1) OVER (ORDER BY d) AS rate FROM cum)
           |SELECT ROUND(EXP(AVG(LN(rate))), 6) AS geo_mean
           |FROM rates WHERE rate IS NOT NULL""".stripMargin),
      "Aggregator[IN,BUF,OUT] via udaf: exp(avg(ln(rate)))"),

    // ----- A6: trailing-5 mean growth rate (cv-stats.py:107) -----
    "q17_trailing_mean" -> Q(
      (s, dir) => Analytics.trailingMean(
        Analytics.growthRates(cum(s, dir)).select("d", "rate"), 5),
      Some(
        s"""WITH cum AS ($cumSql),
           |rates AS (SELECT d, cum / LAG(cum, 1) OVER (ORDER BY d) AS rate FROM cum)
           |SELECT ROUND(AVG(rate), 6) AS mean_rate
           |FROM (SELECT rate FROM rates WHERE rate IS NOT NULL ORDER BY d DESC LIMIT 5)""".stripMargin),
      "A6 mean of trailing 5 growth rates"),

    // ----- S1: HTML dashboard-table scan, answer-key oracle -----
    // The in-engine half of the reference's Selenium scrape
    // (cv.py:51-69): whole-file text scan -> codegen HtmlTableRows
    // parse -> posexplode row walk -> digit extraction. DuckDB cannot
    // parse HTML, so the oracle is the q59/q95 answer-key pattern: the
    // committed dashboard.html fixture is fixed content, and the SQL
    // side enumerates the rows the reference's own walk would emit
    // (two header rows skipped, entity decode, blank age -> null,
    // digit-stripped case numbers). A parser regression ANYWHERE in
    // the chain — tag walk, entity table, whitespace collapse, header
    // skip, digitsToInt — flips the hash.
    "q96_html_cases" -> Q(
      (s, _) => graft.pipelines.Ingest
        .readHtmlCasesTable(s, fixturePath("dashboard.html"))
        .orderBy("case_number"),
      Some(
        """SELECT * FROM (VALUES
          |  (1, 'Dade', 23, 'M', 'Yes'),
          |  (2, 'Santa Rosa', CAST(NULL AS INTEGER), 'F', 'No'),
          |  (3, 'Johnson & Smith', 45, 'U', 'Unknown'),
          |  (4, 'Duval', 7, 'M', 'No'))
          |AS t(case_number, county, age, sex, travel)
          |ORDER BY case_number""".stripMargin),
      "S1 HTML table scan over the committed fixture vs enumerated rows")
  )

  /** Materialize a classpath fixture to a temp file so the scan works
    * identically from exploded classes and from a packaged jar
    * (getResource inside a jar is not a filesystem path Spark can
    * read). CONTENT-addressed: the file name carries a hash of the
    * resource bytes, so editing the committed fixture can never leave a
    * stale copy in play (a name-keyed cache silently served the old
    * bytes across rebuilds), and a concurrent JVM either sees the
    * complete file or writes its own identical copy via atomic move.
    */
  private val fixtureCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def fixturePath(name: String): String =
    fixtureCache.getOrElseUpdate(name, {
      val in = getClass.getResourceAsStream(s"/fixtures/$name")
      require(in != null, s"fixture /fixtures/$name not on classpath")
      val bytes = try in.readAllBytes() finally in.close()
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).take(8).map("%02x".format(_)).mkString
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_fixture_${digest}_$name")
      if (!out.exists()) {
        val tmp = java.nio.file.Files.createTempFile(
          out.toPath.getParent, s"graft_fixture_$name", ".tmp")
        try {
          java.nio.file.Files.write(tmp, bytes)
          java.nio.file.Files.move(tmp, out.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            java.nio.file.Files.deleteIfExists(tmp) // lost the race
        }
      }
      out.getPath
    })
}
