package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PercentilesSpec extends SparkSpec {
  import spark.implicits._

  test("parity with Spark's exact percentile() aggregate on real data") {
    val li = graft.Tables(spark, sf, "lineitem")
    val got = Percentiles.exact(li, "l_returnflag", "l_quantity",
        Seq("p50" -> 0.5, "p95" -> 0.95, "p01" -> 0.01))
      .orderBy("l_returnflag")
      .as[(String, Double, Double, Double)].collect()
    val want = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)"),
        expr("percentile(l_quantity, 0.95)"),
        expr("percentile(l_quantity, 0.01)"))
      .orderBy("l_returnflag")
      .as[(String, Double, Double, Double)].collect()
    // same interpolation formula, so bit-equal, not just approximate
    assert(got.toSeq == want.toSeq)
  }

  test("hand-computed interpolation, boundaries, ties, single value") {
    val df = Seq(
      ("a", 10.0), ("a", 20.0), ("a", 20.0), ("a", 40.0), // n=4
      ("b", 7.0)                                          // n=1
    ).toDF("g", "v")
    val got = Percentiles.exact(df, "g", "v",
        Seq("p0" -> 0.0, "p50" -> 0.5, "p75" -> 0.75, "p100" -> 1.0))
      .orderBy("g").as[(String, Double, Double, Double, Double)].collect()
    // a sorted: 10,20,20,40; t(p50)=1.5 -> 20; t(p75)=2.25 -> 20+0.25*20=25
    assert(got(0) == (("a", 10.0, 20.0, 25.0, 40.0)))
    assert(got(1) == (("b", 7.0, 7.0, 7.0, 7.0)))
  }

  test("nulls excluded; all-null group drops out") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("c", None)).toDF("g", "v")
    val got = Percentiles.exact(df, "g", "v", Seq("p50" -> 0.5))
      .orderBy("g").as[(String, Double)].collect()
    assert(got.toSeq == Seq(("a", 2.0)))
  }

  test("exactMulti over two columns == two single-column runs") {
    val li = graft.Tables(spark, sf, "lineitem")
    val multi = Percentiles.exactMulti(li, "l_returnflag", Seq(
        ("l_quantity", "q50", 0.5), ("l_extendedprice", "p25", 0.25)))
      .orderBy("l_returnflag").as[(String, Double, Double)].collect()
    val q = Percentiles.exact(li, "l_returnflag", "l_quantity",
        Seq("q50" -> 0.5)).orderBy("l_returnflag")
      .as[(String, Double)].collect()
    val p = Percentiles.exact(li, "l_returnflag", "l_extendedprice",
        Seq("p25" -> 0.25)).orderBy("l_returnflag")
      .as[(String, Double)].collect()
    assert(multi.map(r => (r._1, r._2)).toSeq == q.toSeq)
    assert(multi.map(r => (r._1, r._3)).toSeq == p.toSeq)
  }

  test("exactMulti keeps a group whose values are all null for ONE column") {
    // group "b" has real v1 but only null v2: an inner join between the
    // per-column passes would discard b entirely; the full-outer join
    // must keep it with v2's percentile null — percentile()'s shape
    val df = Seq(
      ("a", Some(1.0), Some(10.0)), ("a", Some(3.0), Some(30.0)),
      ("b", Some(5.0), None), ("b", Some(7.0), None)
    ).toDF("g", "v1", "v2")
    val got = Percentiles.exactMulti(df, "g", Seq(
        ("v1", "a50", 0.5), ("v2", "b50", 0.5)))
      .orderBy("g")
      .as[(String, Option[Double], Option[Double])].collect()
    assert(got.toSeq == Seq(
      ("a", Some(2.0), Some(20.0)),
      ("b", Some(6.0), None)))
  }

  test("count-map aggregate == rank selection == percentile(), bit-equal") {
    val li = graft.Tables(spark, sf, "lineitem")
    val agg = li.groupBy("l_returnflag")
      .agg(graft.functions.ExactPercentilesF
        .exactPercentiles(col("l_quantity"), Seq(0.01, 0.5, 0.95, 1.0)).as("p"))
      .select(col("l_returnflag"), expr("p[0]"), expr("p[1]"), expr("p[2]"),
        expr("p[3]"))
      .orderBy("l_returnflag")
      .as[(String, Double, Double, Double, Double)].collect()
    val builtin = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.01)"),
        expr("percentile(l_quantity, 0.5)"),
        expr("percentile(l_quantity, 0.95)"),
        expr("percentile(l_quantity, 1.0)"))
      .orderBy("l_returnflag")
      .as[(String, Double, Double, Double, Double)].collect()
    assert(agg.toSeq == builtin.toSeq)
    val ranksel = Percentiles.exact(li, "l_returnflag", "l_quantity",
        Seq("a" -> 0.01, "b" -> 0.5, "c" -> 0.95, "d" -> 1.0))
      .orderBy("l_returnflag")
      .as[(String, Double, Double, Double, Double)].collect()
    assert(ranksel.toSeq == builtin.toSeq)
  }

  test("count-map aggregate: nulls skipped, all-null group evaluates null") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("c", None)).toDF("g", "v")
    val got = df.groupBy("g")
      .agg(graft.functions.ExactPercentilesF
        .exactPercentiles(col("v"), Seq(0.5)).as("p"))
      .select(col("g"), expr("p[0]").as("p50"))
      .orderBy("g").as[(String, Option[Double])].collect()
    assert(got.toSeq == Seq(("a", Some(2.0)), ("c", None)))
  }

  test("count-map aggregate aborts, actionably, above the distinct cap") {
    val df = spark.range(1000)
      .selectExpr("cast(id as double) as v", "id % 2 as g")
    // 500 distinct values per group against a cap of 100: the job must
    // die with the message pointing at the rank-selection operator, not
    // march toward OOM
    val e = intercept[org.apache.spark.SparkException] {
      df.groupBy("g")
        .agg(expr("exact_percentiles(v, array(0.5d), 100)"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        String.valueOf(x.getMessage) +: messages(x.getCause))
    assert(messages(e).exists(_.contains("graft.ops.Percentiles")))
    // the same query under the default cap succeeds
    val ok = df.groupBy("g")
      .agg(expr("exact_percentiles(v, array(0.0d))").getItem(0).as("p0"))
      .orderBy("g").as[(Long, Double)].collect()
    assert(ok.toSeq == Seq((0L, 0.0), (1L, 1.0)))
  }

  test("weighted + fused count-map variants == the plain aggregate (r15)") {
    import graft.functions.ExactPercentilesF.{exactPercentiles,
      exactPercentilesWeighted, exactPercentiles2}
    val li = graft.Tables(spark, sf, "lineitem")
    val plain = li.groupBy("l_returnflag")
      .agg(exactPercentiles(col("l_quantity"), Seq(0.5, 0.95)).as("qp"),
        exactPercentiles(col("l_extendedprice"), Seq(0.25)).as("pp"))
      .orderBy("l_returnflag")
      .as[(String, Seq[Double], Seq[Double])].collect().toSeq
    // weighted over PRE-COUNTED (value, n) rows: the expanded two-phase
    // shape's final stage — identical result by construction
    val weighted = li.groupBy(col("l_returnflag"), col("l_quantity").as("v"))
      .agg(count(col("l_quantity")).as("n"))
      .groupBy("l_returnflag")
      .agg(exactPercentilesWeighted(col("v"), col("n"), Seq(0.5, 0.95)).as("qp"))
      .join(
        li.groupBy(col("l_returnflag").as("g2"), col("l_extendedprice").as("v"))
          .agg(count(col("l_extendedprice")).as("n"))
          .groupBy("g2")
          .agg(exactPercentilesWeighted(col("v"), col("n"), Seq(0.25)).as("pp")),
        col("l_returnflag") === col("g2"))
      .select(col("l_returnflag"), col("qp"), col("pp"))
      .orderBy("l_returnflag")
      .as[(String, Seq[Double], Seq[Double])].collect().toSeq
    assert(weighted == plain)
    // fused two-column aggregate: same maps, one update call per row
    val fused = li.groupBy("l_returnflag")
      .agg(exactPercentiles2(col("l_quantity"), Seq(0.5, 0.95),
        col("l_extendedprice"), Seq(0.25)).as("b"))
      .select(col("l_returnflag"), col("b.p1").as("qp"), col("b.p2").as("pp"))
      .orderBy("l_returnflag")
      .as[(String, Seq[Double], Seq[Double])].collect().toSeq
    assert(fused == plain)
  }

  test("weighted aggregate: null and non-positive weights contribute nothing") {
    import graft.functions.ExactPercentilesF.exactPercentilesWeighted
    val df = Seq(("a", 10.0, Some(2L)), ("a", 20.0, Some(0L)),
      ("a", 30.0, None), ("a", 40.0, Some(2L)))
      .toDF("g", "v", "n")
    val got = df.groupBy("g")
      .agg(exactPercentilesWeighted(col("v"), col("n"),
        Seq(0.0, 0.5, 1.0)).as("ps"))
      .select(col("g"), col("ps")).as[(String, Seq[Double])].collect()
    // only 10.0 (x2) and 40.0 (x2) count: sorted 10,10,40,40 -> p50 = 25
    assert(got.toSeq == Seq(("a", Seq(10.0, 25.0, 40.0))))
  }

  test("weighted aggregate accepts INT weights and the optional " +
      "maxDistinct cap arg (r16, ADVICE)") {
    import graft.functions.ExactPercentilesF.exactPercentilesWeighted
    // an INT count column must not force a BIGINT cast by hand
    val df = Seq(("a", 10.0, 2), ("a", 40.0, 2)).toDF("g", "v", "n")
    val got = df.groupBy("g")
      .agg(exactPercentilesWeighted(col("v"), col("n"), Seq(0.5)).as("ps"))
      .select("ps").as[Seq[Double]].collect()
    assert(got.toSeq == Seq(Seq(25.0)))
    // the SQL registration mirrors the plain function's cap argument
    df.createOrReplaceTempView("wcap_in")
    val e = intercept[Exception] {
      spark.sql("SELECT exact_percentiles_weighted(v, n, array(0.5d), 1) " +
        "FROM wcap_in GROUP BY g").collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10).flatMap(t => Option(t.getMessage)).toSeq
    assert(messages.exists(_.contains("distinct values")),
      s"expected the distinct-cap abort, got $messages")
    val ok = spark.sql(
      "SELECT exact_percentiles_weighted(v, n, array(0.5d), 10)[0] " +
        "FROM wcap_in GROUP BY g").as[Double].collect()
    assert(ok.toSeq == Seq(25.0))
  }

  test("plan: no buffer-everything percentile aggregate; counts agg is two-phase") {
    val li = graft.Tables(spark, sf, "lineitem")
    val plan = Percentiles.exact(li, "l_returnflag", "l_quantity",
      Seq("p50" -> 0.5)).queryExecution.executedPlan.toString
    // Spark's exact percentile runs as an ObjectHashAggregate holding
    // every group value; rank selection must never produce one
    assert(!plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("percentile("), plan)
    // the row-scale (group, value) count agg keeps a map-side partial
    assert(plan.contains("HashAggregate"), plan)
  }
}
