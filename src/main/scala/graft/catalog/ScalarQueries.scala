package graft.catalog

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.CaseOps

/** Scalar/projection operator coverage (SURVEY.md §2.2 P-ops) exercised on
  * the harness tables. All expressions are codegen'd builtins (no UDFs),
  * so they stay inside WholeStageCodegen and reach the parquet scan as
  * pushed filters where applicable.
  */
object ScalarQueries {

  val all: Map[String, Q] = Map(

    // ----- P2: regex digit extraction (cv.py:61, cv-csv.py:49) -----
    "q20_regex_extract" -> Q(
      (s, dir) => Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          CaseOps.digitsToInt(col("o_orderpriority")).as("prio"))
        .orderBy("o_orderkey"),
      // DuckDB needs the 'g' flag to match Spark's replace-all semantics.
      Some(
        """SELECT o_orderkey,
          |  CAST(NULLIF(REGEXP_REPLACE(o_orderpriority, '[^0-9]', '', 'g'), '') AS INTEGER) AS prio
          |FROM orders ORDER BY o_orderkey""".stripMargin),
      "P2 strip non-digits -> int"),

    // ----- P3+P4: split/trim/title-case array (cv-api.py:106) -----
    // Synthesizes a ';'-separated value (the COVID travel_detail shape) from
    // part columns; the <=2-char token keeps its case ("NY" rule). The array
    // is serialized with array_join so Spark arrays and DuckDB lists hash
    // identically.
    "q21_split_title" -> Q(
      (s, dir) => Tables(s, dir, "part")
        .select(col("p_partkey"),
          array_join(CaseOps.splitTrimTitle(
            concat_ws(";", col("p_brand"), col("p_type"), lit("ab"))), "|")
            .as("detail"))
        .orderBy("p_partkey"),
      // initcap emulated portably: upper(first) || lower(rest) per token
      // (tokens contain no inner spaces here).
      Some(
        """SELECT p_partkey,
          |  ARRAY_TO_STRING(LIST_TRANSFORM(
          |    STRING_SPLIT(CONCAT(p_brand, ';', p_type, ';', 'ab'), ';'),
          |    x -> CASE WHEN LENGTH(TRIM(x)) > 2
          |              THEN UPPER(SUBSTRING(TRIM(x), 1, 1)) || LOWER(SUBSTRING(TRIM(x), 2))
          |              ELSE TRIM(x) END), '|') AS detail
          |FROM part ORDER BY p_partkey""".stripMargin),
      "P3 split+trim+conditional initcap"),

    // ----- P5: sentinel normalization (cv-api.py:110-119) -----
    "q22_sentinels" -> Q(
      (s, dir) => Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderstatus") === "O", lit("Open"))
            .when(col("o_orderstatus") === "F", lit("Filled"))
            .otherwise(lit("Unknown")).as("status"))
        .orderBy("o_orderkey"),
      Some(
        """SELECT o_orderkey,
          |  CASE WHEN o_orderstatus = 'O' THEN 'Open'
          |       WHEN o_orderstatus = 'F' THEN 'Filled'
          |       ELSE 'Unknown' END AS status
          |FROM orders ORDER BY o_orderkey""".stripMargin),
      "P5 sentinel -> canonical value mapping"),

    // ----- P8: string-date parse yyyyMMdd (cv-api.py:156) -----
    "q23_date_parse" -> Q(
      (s, dir) => Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          CaseOps.parseDateYmd(date_format(col("o_orderdate"), "yyyyMMdd"))
            .as("parsed"))
        .orderBy("o_orderkey"),
      Some(
        """SELECT o_orderkey,
          |  CAST(STRPTIME(STRFTIME(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS parsed
          |FROM orders ORDER BY o_orderkey""".stripMargin),
      "P8 round-trip parse of int-encoded date"),

    // ----- P9: guarded growth ratio (cv-api.py:161,164) -----
    "q24_guarded_ratio" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = graft.ops.Analytics.dailyCounts(
          Tables(s, dir, "orders"), col("o_orderdate"))
        daily
          .withColumn("prev", lag(col("n"), 1, 0).over(Window.orderBy("d")))
          .select(col("d"),
            CaseOps.guardedRatio(col("n"), col("prev")).as("growth"))
          .orderBy("d")
      },
      Some(
        """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n FROM orders GROUP BY 1),
          |lagged AS (SELECT d, n, LAG(n, 1, 0) OVER (ORDER BY d) AS prev FROM daily)
          |SELECT d, CASE WHEN prev > 0 THEN n / prev ELSE CAST(0 AS DOUBLE) END AS growth
          |FROM lagged ORDER BY d""".stripMargin),
      "P9 total/prev guarded by prev>0"),

    // ----- P12/P13: equality + date-range filters (cv-stats.py:34-35) -----
    "q25_filter_range" -> Q(
      (s, dir) => Tables(s, dir, "orders")
        .filter(to_date(col("o_orderdate")) >= lit("2000-01-01").cast("date") &&
          to_date(col("o_orderdate")) < lit("2001-01-01").cast("date"))
        .select("o_orderkey").orderBy("o_orderkey"),
      Some(
        """SELECT o_orderkey FROM orders
          |WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
          |  AND CAST(o_orderdate AS DATE) < DATE '2001-01-01'
          |ORDER BY o_orderkey""".stripMargin),
      "P13 partial-interval exclusion filter"),

    // ----- P14: NOT LIKE (cv-api.py:77) -----
    "q26_not_like" -> Q(
      (s, dir) => Tables(s, dir, "part")
        .filter(!col("p_type").like("ECO%"))
        .select("p_partkey", "p_type").orderBy("p_partkey"),
      Some(
        """SELECT p_partkey, p_type FROM part
          |WHERE p_type NOT LIKE 'ECO%' ORDER BY p_partkey""".stripMargin),
      "P14 NOT LIKE pushdown filter"),

    // ----- session windows over the events stream (gap = 30 min) -----
    // DuckDB mirror is the classic gaps-and-islands: break when the gap to
    // the previous event is >= 30 min (Spark session semantics: a new
    // session starts when ts >= previous session end = prev_ts + gap).
    "q28_sessionize" -> Q(
      (s, dir) => Tables.events(s, dir)
        .filter(col("user_id") < 50)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          col("w.start").cast("timestamp_ntz").as("session_start"),
          col("n"))
        .orderBy("user_id", "session_start"),
      Some(
        """WITH o AS (
          |  SELECT user_id, ts,
          |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
          |                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
          |  FROM events WHERE user_id < 50),
          |sess AS (
          |  SELECT user_id, ts,
          |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
          |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM o)
          |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n
          |FROM sess GROUP BY user_id, sid
          |ORDER BY user_id, session_start""".stripMargin),
      "event-time session windows (gaps-and-islands oracle)"),

    // ----- rollup / grouping sets -----
    "q29_rollup" -> Q(
      (s, dir) => Tables(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping_id(col("l_returnflag"), col("l_linestatus")).as("gid"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus")),
      Some(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          |       GROUPING(l_returnflag, l_linestatus) AS gid
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
      "rollup with grouping id"),

    // ----- pivot (wide aggregation) -----
    "q30_pivot" -> Q(
      (s, dir) => Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .count()
        .na.fill(0L, Seq("O", "F", "P"))
        .orderBy("prio"),
      Some(
        """SELECT o_orderpriority AS prio,
          |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
          |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
          |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
          |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin),
      "pivot to wide counts"),

    // ----- set operations (beyond-reference completeness) -----
    "q46_setops" -> Q(
      (s, dir) => {
        val custs = Tables(s, dir, "customer").select(col("c_custkey").as("k"))
        val buyers = Tables(s, dir, "orders").select(col("o_custkey").as("k"))
        custs.intersect(buyers).withColumn("op", lit("both"))
          .unionByName(custs.except(buyers).withColumn("op", lit("customer_only")))
          .orderBy("op", "k")
      },
      Some(
        """SELECT k, op FROM (
          |  SELECT c_custkey AS k, 'both' AS op FROM customer
          |  INTERSECT SELECT o_custkey, 'both' FROM orders
          |  UNION ALL
          |  SELECT * FROM (
          |    SELECT c_custkey AS k, 'customer_only' AS op FROM customer
          |    EXCEPT SELECT o_custkey, 'customer_only' FROM orders))
          |ORDER BY op, k""".stripMargin),
      "INTERSECT / EXCEPT set semantics"),

    // ----- distinct aggregation -----
    // r21 restructure (guide §2.3 — shuffle fewer bytes): TWO distinct
    // aggregates in one Aggregate force Catalyst's Expand plan — every
    // scan row is emitted TWICE (once per distinct group, null-padded),
    // and the partial-dedup aggregate runs over the doubled stream with
    // a FIVE-column composite key (flag, okey, pkey, skey, gid) whose
    // exchange ships ~2x distinct-key rows of 5 columns. Splitting into
    // two single-distinct branches removes the Expand entirely: each
    // branch is a narrow (2-3 column) partial-dedup whose map-side
    // combine ships only its own distinct keys, and the 3-row branch
    // results broadcast-join back on the group key. Same result by
    // construction for any group with at least one countable key
    // (count-distinct ignores nulls — the isNotNull filters mirror
    // COUNT(a, b)'s all-args-non-null rule; the full-outer + <=> +
    // coalesce(0) keeps groups and null group keys that appear in only
    // one branch). Documented edge: a group whose rows are ALL-null in
    // BOTH key sets would emit (flag, 0, 0) in the original and no row
    // here — unreachable on these tables (lineitem keys are non-null;
    // oracle-pinned at every SF). A/B this window (TimeSet sf0.1,
    // median-of-5): 2.038 s -> see OPTIMIZATION_r21.md.
    "q47_distinct_agg" -> Q(
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        // distinct output names per branch: both derive from one scan,
        // and joining two descendants of the same Dataset on the shared
        // column name trips the ambiguous-self-join check
        val ords = li.filter(col("l_orderkey").isNotNull)
          .select("l_returnflag", "l_orderkey").distinct()
          .groupBy("l_returnflag").agg(count(lit(1)).as("n_orders"))
          .select(col("l_returnflag").as("__fa"), col("n_orders"))
        val ps = li
          .filter(col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
          .select("l_returnflag", "l_partkey", "l_suppkey").distinct()
          .groupBy("l_returnflag").agg(count(lit(1)).as("n_part_supp"))
          .select(col("l_returnflag").as("__fb"), col("n_part_supp"))
        ords.join(ps, col("__fa") <=> col("__fb"), "full_outer")
          .select(
            coalesce(col("__fa"), col("__fb")).as("l_returnflag"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("n_part_supp"), lit(0L)).as("n_part_supp"))
          .orderBy("l_returnflag")
      },
      Some(
        """SELECT l_returnflag,
          |  COUNT(DISTINCT l_orderkey) AS n_orders,
          |  COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      "multi-column distinct aggregation"),

    // ----- the SQL surface: same engine through spark.sql -----
    "q48_sql_surface" -> Q(
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("v_orders")
        Tables(s, dir, "customer").createOrReplaceTempView("v_customer")
        s.sql(
          """SELECT c_mktsegment, COUNT(*) AS n,
            |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM v_orders JOIN v_customer ON o_custkey = c_custkey
            |WHERE o_orderstatus <> 'P'
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      },
      Some(
        """SELECT c_mktsegment, COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE o_orderstatus <> 'P'
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      "spark.sql text interface over the same engine"),

    // ----- exact percentiles (linear interpolation both engines) -----
    // NOT Spark's `percentile()` aggregate: that one buffers every
    // group row in the agg buffer (O(rows) on a task — the r12
    // verdict's one true state-explosion at 100 TB). Both graft
    // replacements bound state by DISTINCT VALUES; q50 runs the
    // count-map aggregate (functions/ExactPercentilesAgg: one scan, one
    // aggregated exchange, every percentile from one buffer) because
    // both its columns are bounded-domain (50 quantities; 2-dp money =
    // <= ~10^7 distinct cents at any corpus size). For continuous
    // columns whose distinct count approaches the row count, the
    // rank-selection operator (graft.ops.Percentiles, spill-friendly
    // per-task sort) is the scale path. PercentilesSpec pins all three
    // implementations bit-equal and the plans' shapes.
    //
    // Surface choice measured to exhaustion solo at sf1 (r15, BENCH_SOLO
    // previous_records.r15_solo_additions — interleaved medians-of-5, one
    // JVM, five shapes): count-map 1.23 s (with the r15 unboxed
    // BoundReference update), fused two-column aggregate 1.41, two-scan
    // codegen-count + weighted fold 1.55, explode codegen-count + weighted
    // fold 1.79, rank-selection 2.00 — against a 0.49 s codegen scan twin
    // (same group key, same two decoded columns, sum()s). The premium over
    // the twin is ObjectHashAggregate's interpreted per-row machinery,
    // and every codegen-phase alternative loses because the
    // distinct-price count rows are near row-scale per task (map-side
    // combine can't shrink the exchange). The state bound, single
    // scan, and single aggregated exchange are the 100 TB properties
    // that matter.
    //
    // r22 RE-MEASUREMENT on the multi-file sf1 layout (same tool, two
    // windows, medians-of-5): the r15 ordering FLIPPED — fused 0.85 /
    // 0.77 s vs count-map 1.03 / 0.86, two-scan 1.04 / 0.96,
    // rank-selection 1.42 / 1.48, scan twin 0.24 / 0.21. With the
    // scans parallel, the per-row ObjectHashAggregate machinery (one
    // interpreted update dispatch + buffer read/write per AGGREGATE
    // per row) is the dominant term, so halving the dispatches by
    // fusing both columns into one aggregate wins 11-17% where it lost
    // 15% on the single-file layout. q50 therefore now runs the fused
    // two-column aggregate — same count-map state per column, same
    // eval arithmetic (PercentilesSpec pins all implementations
    // bit-equal; the oracle re-verified at all three SFs).
    "q50_percentiles" -> Q(
      (s, dir) => {
        import graft.functions.ExactPercentilesF.exactPercentiles2
        Tables(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(exactPercentiles2(col("l_quantity"), Seq(0.5, 0.95),
            col("l_extendedprice"), Seq(0.25)).as("qq"))
          .select(col("l_returnflag"),
            round(element_at(col("qq.p1"), 1), 6).as("p50"),
            round(element_at(col("qq.p1"), 2), 6).as("p95"),
            round(element_at(col("qq.p2"), 1), 6).as("price_p25"))
          .orderBy("l_returnflag")
      },
      Some(
        """SELECT l_returnflag,
          |  ROUND(QUANTILE_CONT(l_quantity, 0.5), 6) AS p50,
          |  ROUND(QUANTILE_CONT(l_quantity, 0.95), 6) AS p95,
          |  ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 6) AS price_p25
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      "exact percentiles with linear interpolation"),

    // ----- ranking windows: top-3 orders per nation by price -----
    "q51_rank_topn" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val joined = Tables(s, dir, "orders")
          .join(Tables(s, dir, "customer").hint("shuffle_hash"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), col("o_orderkey"),
            col("o_totalprice"))
        val w = Window.partitionBy("nation")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        joined
          .withColumn("rk", row_number().over(w).cast("long")) // BIGINT in DuckDB
          .filter(col("rk") <= 3)
          .select("nation", "rk", "o_orderkey", "o_totalprice")
          .orderBy("nation", "rk")
      },
      Some(
        """SELECT nation, rk, o_orderkey, o_totalprice FROM (
          |  SELECT n_name AS nation, o_orderkey, o_totalprice,
          |         ROW_NUMBER() OVER (PARTITION BY n_name
          |           ORDER BY o_totalprice DESC, o_orderkey) AS rk
          |  FROM orders JOIN customer ON o_custkey = c_custkey
          |              JOIN nation ON c_nationkey = n_nationkey)
          |WHERE rk <= 3 ORDER BY nation, rk""".stripMargin),
      "per-group top-n via ranking window"),

    // ----- weighted percentiles over a pre-counted histogram (r15) -----
    // The warehouse shape the weighted aggregate exists for — and the
    // shape only pays on a LOW-CARDINALITY value column: row-scale work
    // (the per-value counts) runs in a codegen HashAggregate whose
    // map-side combine collapses each task's rows to ~distinct-many
    // histogram rows BEFORE the exchange, and the interpreted count-map
    // fold touches only those. l_discount holds 11 distinct values, so
    // at sf1 the exchange ships ≤ 66 rows for a 60M-row scan — against
    // DuckDB's QUANTILE_CONT buffering the full column. (The r15
    // exhaustion measurements, BENCH_SOLO
    // previous_records.r15_solo_additions, show the same two-phase
    // shape LOSING on near-unique columns — distinct ≈ rows
    // per task means the combine can't shrink the exchange — which is
    // why q50's raw-value percentiles stay on the count-map aggregate
    // and this query demonstrates the histogram regime instead.) The
    // oracle computes the same percentiles directly over the raw rows,
    // pinning that a histogram-mediated percentile is EXACTLY the
    // raw-data percentile (same linear interpolation as q50, weights
    // folded correctly).
    "q97_weighted_percentiles" -> Q(
      (s, dir) => {
        import graft.functions.ExactPercentilesF.exactPercentilesWeighted
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"),
            col("l_discount").as("v"))
          .agg(count(col("l_discount")).as("n"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(exactPercentilesWeighted(col("v"), col("n"),
            Seq(0.25, 0.75, 0.99)).as("ps"))
          .select(col("l_returnflag"), col("l_linestatus"),
            round(element_at(col("ps"), 1), 6).as("p25"),
            round(element_at(col("ps"), 2), 6).as("p75"),
            round(element_at(col("ps"), 3), 6).as("p99"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(
        """SELECT l_returnflag, l_linestatus,
          |  ROUND(QUANTILE_CONT(l_discount, 0.25), 6) AS p25,
          |  ROUND(QUANTILE_CONT(l_discount, 0.75), 6) AS p75,
          |  ROUND(QUANTILE_CONT(l_discount, 0.99), 6) AS p99
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      "exact percentiles from a (value, count) histogram == raw-data percentiles"),

    // ----- q51's semantics as a bounded-buffer AGGREGATE (r12) -----
    // Same output, same oracle — different physical contract: the window
    // form (even with partial WindowGroupLimit) sorts every map
    // partition's full frame; top_k_pairs streams it through a k-element
    // buffer (no Sort operator) and ships <= k pairs per (group, task).
    // The A/B pair (q51 vs q89) is measured at sf1 in the bench headline
    // set over IDENTICAL joins. r13 honesty note: under the r12
    // sort-merge join the agg form won 0.79s vs 1.66s — but part of that
    // delta was the window re-sorting the SMJ's join output; with both
    // sides on the r13 shuffle-hash join the forms converge (0.92s vs
    // 1.02s at sf1, median-of-7). The aggregate keeps the hard
    // exchange-bytes guarantee (<= k pairs per (group, task) by
    // construction, vs the window's heuristic partial group-limit) and
    // remains the composable executor for samplePerGroup.
    "q89_rank_topn_agg" -> Q(
      (s, dir) => {
        val joined = Tables(s, dir, "orders")
          .join(Tables(s, dir, "customer").hint("shuffle_hash"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), col("o_orderkey"),
            col("o_totalprice"))
        joined.groupBy(col("nation"))
          .agg(graft.functions.TopK.topKPairs(
            col("o_totalprice").cast("double"), col("o_orderkey"), 3).as("top"))
          .select(col("nation"), posexplode(col("top")))
          .select(col("nation"), (col("pos") + 1).cast("long").as("rk"),
            col("col.id").as("o_orderkey"), col("col.score").as("o_totalprice"))
          .orderBy("nation", "rk")
      },
      Some(
        """SELECT nation, rk, o_orderkey, o_totalprice FROM (
          |  SELECT n_name AS nation, o_orderkey, o_totalprice,
          |         ROW_NUMBER() OVER (PARTITION BY n_name
          |           ORDER BY o_totalprice DESC, o_orderkey) AS rk
          |  FROM orders JOIN customer ON o_custkey = c_custkey
          |              JOIN nation ON c_nationkey = n_nationkey)
          |WHERE rk <= 3 ORDER BY nation, rk""".stripMargin),
      "per-group top-n via bounded-buffer aggregate (no sort operator)"),

    // ----- semi-structured JSON column extraction (events.props) -----
    "q55_json_extract" -> Q(
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
          max(col("k")).as("max_k"))
        .orderBy("event_type"),
      // json_extract_string (->>) matches Spark's get_json_object unquoting;
      // SUM(INTEGER) is HUGEINT in DuckDB — cast to BIGINT to match Spark's
      // LongType sum exactly (HUGEINT surfaces as float64 in the compare).
      Some(
        """SELECT event_type,
          |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER))
          |       AS BIGINT) AS sum_k,
          |  COUNT(*) AS n,
          |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      "JSON path extraction over a semi-structured column"),

    // ----- P6 on the events stream table (1-day tumbling window shape) ----
    "q27_events_daily" -> Q(
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "d"),
      Some(
        """SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "P6 midnight truncation == 1-day tumbling window on events"),

    // ----- dailystore time-travel rollback read (r16) -----
    // The store is seeded ONCE per (session, dataset): v1 appends one
    // month of orders day-partitioned on the order date, v2 day-replaces
    // the first third of the month with corrupted (doubled) prices —
    // the reference's "garbage re-ingest" shape. The QUERY is the
    // read-only rollback `readVersion(1)`, whose reconstruction (manifest
    // set algebra over live + archived files) must equal the pre-replace
    // state — which the oracle computes INDEPENDENTLY from the raw
    // orders table, so a reconstruction bug (file lost, day doubled,
    // archive misread) hash-fails rather than round-tripping unnoticed.
    // Row-level output, no aggregates: float-sum order effects can't
    // mask anything.
    "q98_time_travel" -> Q(
      (s, dir) => {
        val path = ttStore(s, dir)
        graft.sources.DailyStoreTimeTravel.readVersion(s, path, 1)
          .select(col("d"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("d", "o_orderkey")
      },
      Some(
        """SELECT CAST(o_orderdate AS DATE) AS d, o_orderkey, o_totalprice
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |  AND o_orderdate < TIMESTAMP '1995-02-01'
          |ORDER BY d, o_orderkey""".stripMargin),
      "time-travel rollback read == the pre-replace state, from raw data"),

    // ----- SQL time travel over the same store (r17) -----
    // The q98 rollback expressed through the engine's SQL front:
    // `VERSION AS OF 1` resolves via DailyStoreCatalog.loadTable(ident,
    // version) into DailyStoreVersionScan, whose V1 bridge delegates to
    // the SAME readVersion reconstruction (DailyStoreVersionRead
    // scaladoc) — so this entry oracles the SQL resolution path
    // end-to-end against the identical independent oracle as q98.
    // VERSION AS OF takes the absolute commit seq: 1 = the state after
    // the appending commit, before the garbage day-replace.
    "q110_sql_time_travel" -> Q(
      (s, dir) => {
        val path = ttStore(s, dir)
        val f = new java.io.File(path)
        graft.sources.DailyStoreCatalog.register(
          s, "graft_tt", f.getParent)
        s.sql(s"SELECT d, o_orderkey, o_totalprice FROM " +
          s"graft_tt.`${f.getName}` VERSION AS OF 1 " +
          "ORDER BY d, o_orderkey")
      },
      Some(
        """SELECT CAST(o_orderdate AS DATE) AS d, o_orderkey, o_totalprice
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |  AND o_orderdate < TIMESTAMP '1995-02-01'
          |ORDER BY d, o_orderkey""".stripMargin),
      "SQL VERSION AS OF == the pre-replace state, via the catalog resolution path"),

    // ----- copy-on-write row-level MERGE on the dailystore (r19) -----
    // The last S8 surface: the reference corrects individual cases with
    // update_one (cv.py:126-132); here the corrections batch merges
    // through DailyStoreMerge.mergeByKey — discovery scan finds the
    // days holding updated keys, ONLY those day partitions rewrite
    // (anti-join ∪ updates), committed under the connector's manifest +
    // lease. The updates exercise all three merge shapes: in-place
    // corrections (%7 keys, price bumped), cross-day MOVES (%14 keys
    // shift one day, so their old-day copy must be discovered and
    // removed), and brand-new keys into brand-new days (the Feb 1-5
    // slice, absent from the January store). The oracle reconstructs
    // the merged state INDEPENDENTLY from the raw orders table
    // (anti-join ∪ updates in SQL), so a merge bug anywhere — a key's
    // old copy surviving a move, a touched day losing bystander rows,
    // an insert day dropped — hash-fails. Row-level output, no
    // aggregates. (Store seeds + merges once per session/dataset; reps
    // re-run only the read — the q98 discipline.)
    "q114_dailystore_merge" -> Q(
      (s, dir) => {
        val path = mergeStore(s, dir)
        s.read.parquet(path)
          .select(col("d"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("d", "o_orderkey")
      },
      Some(
        """WITH base AS (
          |  SELECT CAST(o_orderdate AS DATE) AS d, o_orderkey, o_totalprice
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |    AND o_orderdate < TIMESTAMP '1995-02-01'),
          |upd AS (
          |  SELECT CAST(o_orderdate AS DATE) +
          |      CASE WHEN o_orderkey % 14 = 0 THEN 1 ELSE 0 END AS d,
          |    o_orderkey, o_totalprice + 100000 AS o_totalprice
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |    AND o_orderdate < TIMESTAMP '1995-02-06'
          |    AND o_orderkey % 7 = 0)
          |SELECT d, o_orderkey, o_totalprice FROM (
          |  SELECT b.d, b.o_orderkey, b.o_totalprice FROM base b
          |  WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM upd)
          |  UNION ALL SELECT d, o_orderkey, o_totalprice FROM upd)
          |ORDER BY d, o_orderkey""".stripMargin),
      "copy-on-write keyed MERGE: touched-day rewrite == independent anti-join ∪ updates reconstruction"),

    // ----- the SQL DML surface: MERGE / UPDATE / DELETE (r19) -----
    // q114's machinery driven entirely through spark.sql: the injected
    // analyzer rule (plans/DailyStoreDml, via GraftExtensions) rewrites
    // the three statements into the connector's copy-on-write commits.
    // Three sequential statements against the seeded January store:
    // the q114 corrections MERGE, an UPDATE bumping one day's prices,
    // and a DELETE of a key-slice in the first week. The oracle
    // reconstructs all three steps independently from raw orders, so
    // drift in ANY front — the merge rewrite, the IF(cond) update
    // rewrite, the delete's emptied-day handling — hash-fails.
    "q116_sql_dml" -> Q(
      (s, dir) => {
        val path = sqlDmlStore(s, dir)
        s.read.parquet(path)
          .select(col("d"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("d", "o_orderkey")
      },
      Some(
        """WITH base AS (
          |  SELECT CAST(o_orderdate AS DATE) AS d, o_orderkey, o_totalprice
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |    AND o_orderdate < TIMESTAMP '1995-02-01'),
          |upd AS (
          |  SELECT CAST(o_orderdate AS DATE) +
          |      CASE WHEN o_orderkey % 14 = 0 THEN 1 ELSE 0 END AS d,
          |    o_orderkey, o_totalprice + 100000 AS o_totalprice
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |    AND o_orderdate < TIMESTAMP '1995-02-06'
          |    AND o_orderkey % 7 = 0),
          |merged AS (
          |  SELECT b.d, b.o_orderkey, b.o_totalprice FROM base b
          |  WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM upd)
          |  UNION ALL SELECT d, o_orderkey, o_totalprice FROM upd),
          |updated AS (
          |  SELECT d, o_orderkey,
          |    CASE WHEN d = DATE '1995-01-15' THEN o_totalprice + 1
          |         ELSE o_totalprice END AS o_totalprice
          |  FROM merged)
          |SELECT d, o_orderkey, o_totalprice FROM updated
          |WHERE NOT (o_orderkey % 5 = 0 AND d < DATE '1995-01-08')
          |ORDER BY d, o_orderkey""".stripMargin),
      "SQL MERGE + UPDATE + DELETE on the dailystore == independent three-step reconstruction"),

    // ----- the GENERAL SQL MERGE path (r20) -----
    // Three statements none of which fit the keyed-replace fast path,
    // so each resolves into DailyStoreGeneralMergeCommand: (A)
    // insert-if-absent — WHEN NOT MATCHED THEN INSERT * alone, the
    // reference's incremental append (cv.py:110) as one SQL statement
    // (existing keys skipped even though the source re-carries them,
    // new keys appended, NO day rewritten); (B) a conditional
    // PARTIAL-column UPDATE — WHEN MATCHED AND u.o_orderkey % 2 = 0
    // THEN UPDATE SET o_totalprice = u.np (×2, exact in binary FP);
    // (C) a combined conditional DELETE + INSERT in one statement.
    // The oracle replays all three steps independently from raw
    // orders with LEFT JOINs, so a wrong matched-set, a dropped
    // bystander, a skipped condition, or an insert leaking into the
    // matched set hash-fails. Row-level output, the q114 discipline
    // (store seeds + merges once per session/dataset; reps read only).
    "q117_sql_merge_general" -> Q(
      (s, dir) => {
        val path = generalMergeStore(s, dir)
        s.read.parquet(path)
          .select(col("d"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("d", "o_orderkey")
      },
      Some(
        """WITH base AS (
          |  SELECT CAST(o_orderdate AS DATE) AS d, o_orderkey, o_totalprice
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |    AND o_orderdate < TIMESTAMP '1995-02-01'),
          |ins1 AS (
          |  SELECT CAST(o_orderdate AS DATE) AS d, o_orderkey,
          |    o_totalprice + 999 AS o_totalprice
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1995-02-01'
          |    AND o_orderdate < TIMESTAMP '1995-02-11'
          |    AND o_orderkey % 3 = 0),
          |s1 AS (SELECT * FROM base UNION ALL SELECT * FROM ins1),
          |src2 AS (
          |  SELECT o_orderkey, o_totalprice * 2 AS np FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1995-01-10'
          |    AND o_orderdate < TIMESTAMP '1995-01-20'),
          |s2 AS (
          |  SELECT s1.d, s1.o_orderkey,
          |    CASE WHEN u.o_orderkey IS NOT NULL AND u.o_orderkey % 2 = 0
          |         THEN u.np ELSE s1.o_totalprice END AS o_totalprice
          |  FROM s1 LEFT JOIN src2 u ON s1.o_orderkey = u.o_orderkey),
          |src3 AS (
          |  SELECT CAST(o_orderdate AS DATE) AS d, o_orderkey, o_totalprice
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1995-01-05'
          |    AND o_orderdate < TIMESTAMP '1995-02-16'
          |    AND o_orderkey % 11 = 0),
          |s3 AS (
          |  SELECT s2.d, s2.o_orderkey, s2.o_totalprice
          |  FROM s2 LEFT JOIN src3 u ON s2.o_orderkey = u.o_orderkey
          |  WHERE NOT (u.o_orderkey IS NOT NULL AND u.o_orderkey % 2 = 1)
          |  UNION ALL
          |  SELECT u.d, u.o_orderkey, u.o_totalprice FROM src3 u
          |  WHERE u.o_orderkey NOT IN (SELECT o_orderkey FROM s2))
          |SELECT d, o_orderkey, o_totalprice FROM s3
          |ORDER BY d, o_orderkey""".stripMargin),
      "general SQL MERGE (insert-if-absent, conditional partial UPDATE, conditional DELETE+INSERT) == independent three-step reconstruction"),

    // ----- opt-in schema evolution on merge (r20) -----
    // An addColumns=true merge widens the store with a `note` column
    // for the %7-key corrections; untouched days keep their old files
    // (byte-identity pinned in DailyStoreMergeSpec) and serve NULL
    // through the schema-merging read this query runs. The oracle
    // derives both the corrected price and the NULL/label note column
    // independently, so a widened bystander, a lost correction, or a
    // note leaking onto unmatched rows hash-fails.
    "q118_merge_evolution" -> Q(
      (s, dir) => {
        val path = evolveStore(s, dir)
        s.read.option("mergeSchema", "true").parquet(path)
          .select(col("d"), col("o_orderkey"), col("o_totalprice"),
            col("note"))
          .orderBy("d", "o_orderkey")
      },
      Some(
        """SELECT CAST(o_orderdate AS DATE) AS d, o_orderkey,
          |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100000
          |       ELSE o_totalprice END AS o_totalprice,
          |  CASE WHEN o_orderkey % 7 = 0 THEN 'corrected'
          |       ELSE NULL END AS note
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |  AND o_orderdate < TIMESTAMP '1995-02-01'
          |ORDER BY d, o_orderkey""".stripMargin),
      "schema-evolving merge: rewritten days carry the new column, untouched days serve NULL"),

    // ----- change-data read between versions (r20) -----
    // The incremental-consumption half of time travel: a downstream
    // consumer of the reference's store polls the WHOLE collection after
    // every re-ingest (cv-api.py's readers); at scale it must read only
    // "what changed since the version I last saw".
    // DailyStoreChanges.readChanges(1, 2) diffs the q98 store's two
    // versions — the January append and the garbage day-replace that
    // doubled days 1-10 — over ONLY the changed days (manifest-exact;
    // the untouched 21 days are never scanned, spec-proven by making
    // them unreadable), with keyed classification: every affected row
    // is an update_preimage/update_postimage pair. The oracle derives
    // both images INDEPENDENTLY from raw orders, so a diff bug — a
    // bystander day leaking in, a lost preimage, wrong classification —
    // hash-fails. Row-level, no aggregates.
    "q119_dailystore_changes" -> Q(
      (s, dir) => {
        val path = ttStore(s, dir)
        graft.sources.DailyStoreChanges.readChanges(
            s, path, fromSeq = 1, toSeq = 2, key = Some("o_orderkey"))
          .select(col("d"), col("o_orderkey"), col("o_totalprice"),
            col(graft.sources.DailyStoreChanges.ChangeTypeCol))
          .orderBy(col("d"), col("o_orderkey"),
            col(graft.sources.DailyStoreChanges.ChangeTypeCol))
      },
      Some(
        """WITH w AS (
          |  SELECT CAST(o_orderdate AS DATE) AS d, o_orderkey, o_totalprice
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |    AND o_orderdate < TIMESTAMP '1995-01-11'),
          |c AS (
          |  SELECT d, o_orderkey, o_totalprice * 2 AS o_totalprice,
          |    'update_postimage' AS _change_type FROM w
          |  UNION ALL
          |  SELECT d, o_orderkey, o_totalprice,
          |    'update_preimage' AS _change_type FROM w)
          |SELECT d, o_orderkey, o_totalprice, _change_type FROM c
          |ORDER BY d, o_orderkey, _change_type""".stripMargin),
      "CDC read between versions == both images derived independently from raw data")
  )

  private val ttStoreCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), String]
  private val ttNonce = java.lang.Long.toHexString(System.nanoTime())
  // never-reused suffix: the cache can SHRINK (releaseDataset), so its
  // size would alias a re-seeded dataset's dir onto another LIVE store
  private val ttSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Seed the retention-enabled store once per (session, dataset):
    * append the month (v1), then day-replace days 1-10 with doubled
    * prices (v2). Calls after the first return the existing store —
    * reps and audit sessions re-run only the read. */
  private def ttStore(s: org.apache.spark.sql.SparkSession,
                      dir: String): String =
    ttStoreCache.getOrElseUpdate((s, dir), {
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_ttstore_${ttNonce}_${ttSeq.getAndIncrement()}").getPath
      val month = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
        .select(to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), col("o_totalprice"))
      graft.sources.DailyStoreTimeTravel.enable(s, path, keep = 4)
      month.write.format("dailystore").option("path", path)
        .mode("append").save()
      month.filter(col("d") < lit("1995-01-11").cast("date"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .write.format("dailystore").option("path", path)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").save()
      path
    })

  private val mergeStoreCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), String]
  private val mergeSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Seed the q114 store once per (session, dataset): January 1995
    * orders day-partitioned (the base), then ONE mergeByKey of the
    * corrections batch — %7 keys get price+100000; of those, %14 keys
    * also MOVE one day forward; the Feb 1-5 slice inserts new keys
    * into new days. Reps re-run only the read. */
  private def mergeStore(s: org.apache.spark.sql.SparkSession,
                         dir: String): String =
    mergeStoreCache.getOrElseUpdate((s, dir), {
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_mergestore_${ttNonce}_${mergeSeq.getAndIncrement()}").getPath
      val base = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
        .select(to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), col("o_totalprice"))
      base.write.format("dailystore").option("path", path)
        .mode("append").save()
      val updates = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-02-06").cast("timestamp") &&
          col("o_orderkey") % 7 === 0)
        .select(
          when(col("o_orderkey") % 14 === 0,
            date_add(to_date(col("o_orderdate")), 1))
            .otherwise(to_date(col("o_orderdate"))).as("d"),
          col("o_orderkey"),
          (col("o_totalprice") + 100000).as("o_totalprice"))
      graft.sources.DailyStoreMerge.mergeByKey(
        s, path, updates, key = "o_orderkey", pcol = "d")
      path
    })

  private val sqlDmlStoreCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), String]
  private val sqlDmlSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Seed the q116 store once per (session, dataset): January orders,
    * then the three SQL DML statements (MERGE the q114 corrections,
    * UPDATE one day's prices, DELETE a first-week key slice) — every
    * mutation through spark.sql, resolved by the injected
    * [[graft.plans.DailyStoreDml]] rule via the registered catalog. */
  private def sqlDmlStore(s: org.apache.spark.sql.SparkSession,
                          dir: String): String =
    sqlDmlStoreCache.getOrElseUpdate((s, dir), {
      val n = sqlDmlSeq.getAndIncrement()
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_sqldml_${ttNonce}_$n").getPath
      val tbl = s"t$n"
      new java.io.File(root, tbl).mkdirs()
      val path = s"$root/$tbl"
      graft.sources.DailyStoreCatalog.register(s, s"graft_dml$n", root)
      Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
        .select(to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), col("o_totalprice"))
        .write.format("dailystore").option("path", path)
        .mode("append").save()
      Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-02-06").cast("timestamp") &&
          col("o_orderkey") % 7 === 0)
        .select(
          when(col("o_orderkey") % 14 === 0,
            date_add(to_date(col("o_orderdate")), 1))
            .otherwise(to_date(col("o_orderdate"))).as("d"),
          col("o_orderkey"),
          (col("o_totalprice") + 100000).as("o_totalprice"))
        .createOrReplaceTempView(s"q116_updates_$n")
      val t = s"graft_dml$n.$tbl"
      s.sql(
        s"""MERGE INTO $t USING q116_updates_$n u
           |ON $t.o_orderkey = u.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(s"UPDATE $t SET o_totalprice = o_totalprice + 1 " +
        "WHERE d = DATE'1995-01-15'")
      s.sql(s"DELETE FROM $t " +
        "WHERE o_orderkey % 5 = 0 AND d < DATE'1995-01-08'")
      path
    })

  private val generalMergeStoreCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), String]
  private val generalMergeSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Seed the q117 store once per (session, dataset): January orders,
    * then the three GENERAL-path MERGE statements (catalog entry doc).
    * The insert-if-absent source deliberately OVERLAPS existing keys
    * (Jan 25-31) and carries altered prices — a fast-path-style
    * replacement of a matched row would hash-fail the oracle. */
  private def generalMergeStore(s: org.apache.spark.sql.SparkSession,
                                dir: String): String =
    generalMergeStoreCache.getOrElseUpdate((s, dir), {
      val n = generalMergeSeq.getAndIncrement()
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gmerge_${ttNonce}_$n").getPath
      val tbl = s"t$n"
      new java.io.File(root, tbl).mkdirs()
      val path = s"$root/$tbl"
      graft.sources.DailyStoreCatalog.register(s, s"graft_gm$n", root)
      def slice(from: String, to: String) =
        Tables(s, dir, "orders")
          .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
            col("o_orderdate") < lit(to).cast("timestamp"))
      slice("1995-01-01", "1995-02-01")
        .select(to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), col("o_totalprice"))
        .write.format("dailystore").option("path", path)
        .mode("append").save()
      val t = s"graft_gm$n.$tbl"
      // (A) insert-if-absent: overlapping keys skipped, new keys appended
      slice("1995-01-25", "1995-02-11")
        .filter(col("o_orderkey") % 3 === 0)
        .select(to_date(col("o_orderdate")).as("d"), col("o_orderkey"),
          (col("o_totalprice") + 999).as("o_totalprice"))
        .createOrReplaceTempView(s"q117_ins_$n")
      s.sql(
        s"""MERGE INTO $t USING q117_ins_$n u
           |ON $t.o_orderkey = u.o_orderkey
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // (B) conditional partial-column UPDATE (×2 — exact in binary FP)
      slice("1995-01-10", "1995-01-20")
        .select(col("o_orderkey"),
          (col("o_totalprice") * 2).as("np"))
        .createOrReplaceTempView(s"q117_upd_$n")
      s.sql(
        s"""MERGE INTO $t USING q117_upd_$n u
           |ON $t.o_orderkey = u.o_orderkey
           |WHEN MATCHED AND u.o_orderkey % 2 = 0
           |THEN UPDATE SET o_totalprice = u.np""".stripMargin)
      // (C) conditional DELETE + INSERT in one statement
      slice("1995-01-05", "1995-02-16")
        .filter(col("o_orderkey") % 11 === 0)
        .select(to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView(s"q117_del_$n")
      s.sql(
        s"""MERGE INTO $t USING q117_del_$n u
           |ON $t.o_orderkey = u.o_orderkey
           |WHEN MATCHED AND u.o_orderkey % 2 = 1 THEN DELETE
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      path
    })

  private val evolveStoreCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), String]
  private val evolveSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Seed the q118 store once per (session, dataset): January orders,
    * then ONE addColumns=true merge widening the store with a `note`
    * column on the %7-key corrections (in place — no day moves, so the
    * oracle derives day membership from raw orders alone). */
  private def evolveStore(s: org.apache.spark.sql.SparkSession,
                          dir: String): String =
    evolveStoreCache.getOrElseUpdate((s, dir), {
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_evstore_${ttNonce}_${evolveSeq.getAndIncrement()}").getPath
      val month = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
      month
        .select(to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), col("o_totalprice"))
        .write.format("dailystore").option("path", path)
        .mode("append").save()
      val widened = month.filter(col("o_orderkey") % 7 === 0)
        .select(to_date(col("o_orderdate")).as("d"), col("o_orderkey"),
          (col("o_totalprice") + 100000).as("o_totalprice"),
          lit("corrected").as("note"))
      graft.sources.DailyStoreMerge.mergeByKey(
        s, path, widened, key = "o_orderkey", pcol = "d",
        addColumns = true)
      path
    })

  /** Drop the q98 seeded time-travel store for `dir` — the heap entry
    * AND the on-disk tmp store (it exists only to serve the query; the
    * seed rebuilds transparently on next use). [[DedupQueries
    * .releaseDataset]]'s twin, so long-lived multi-session audit
    * drivers don't accumulate tmpdir stores ∝ (session, dataset) pairs.
    */
  def releaseDataset(s: org.apache.spark.sql.SparkSession,
                     dir: String): Unit =
    Seq(ttStoreCache, mergeStoreCache, sqlDmlStoreCache,
      generalMergeStoreCache, evolveStoreCache).foreach { cache =>
      cache.keys.filter(k => (k._1 eq s) && k._2 == dir).foreach { k =>
        cache.remove(k).foreach { path =>
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(s.sessionState.newHadoopConf())
          try fs.delete(p, true)
          catch { case _: java.io.IOException => () } // tmpdir; best-effort
        }
      }
    }
}
