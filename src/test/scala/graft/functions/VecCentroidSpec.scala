package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class VecCentroidSpec extends SparkSpec {
  import spark.implicits._

  private def grouped(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("g").agg(VecCentroid.vecCentroid(col("v")).as("c"))
      .select("g", "c").as[(Long, Seq[Double])].collect().toMap

  test("hand-computed centroid, exact at scale 1e6") {
    val df = Seq(
      (0L, Seq(1.0f, 2.0f)), (0L, Seq(3.0f, 4.0f)),
      (1L, Seq(-1.5f, 0.5f))).toDF("g", "v")
    val got = grouped(df)
    assert(got(0L) == Seq(2.0, 3.0))
    assert(got(1L) == Seq(-1.5, 0.5))
  }

  test("partitioning invariance: identical result for any layout") {
    val rows = (0 until 257).map(i =>
      ((i % 7).toLong, Seq(i * 0.013f - 1.5f, -i * 0.007f, (i % 13) * 0.11f)))
    val base = grouped(rows.toDF("g", "v"))
    for (p <- Seq(1, 3, 16)) {
      assert(grouped(rows.toDF("g", "v").repartition(p)) == base, s"p=$p")
    }
  }

  test("matches the posexplode reference plan bit-for-bit") {
    val df = (0 until 100).map(i =>
      ((i % 5).toLong, Seq(i * 0.37f, 1.0f - i * 0.01f))).toDF("g", "v")
    val viaAgg = df.groupBy("g").agg(VecCentroid.vecCentroid(col("v")).as("c"))
      .select(col("g"), posexplode(col("c")).as(Seq("p", "x")))
      .select("g", "p", "x").as[(Long, Int, Double)].collect().toSet
    val viaExplode = df
      .select(col("g"), posexplode(col("v")).as(Seq("p", "e")))
      .withColumn("q", expr("CAST(ROUND(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)"))
      .groupBy("g", "p")
      .agg((sum("q") / (lit(1000000.0) * count(lit(1)))).as("x"))
      .select("g", "p", "x").as[(Long, Int, Double)].collect().toSet
    assert(viaAgg == viaExplode)
  }

  test("round-half-away-from-zero on exact float grid halves") {
    // 2^-7 * 1e6 = 7812.5 exactly in double: +half rounds to 7813,
    // -half to -7813 (Math.round would give -7812)
    val df = Seq((0L, Seq(0.0078125f)), (1L, Seq(-0.0078125f))).toDF("g", "v")
    val got = grouped(df)
    assert(got(0L) == Seq(7813 / 1000000.0))
    assert(got(1L) == Seq(-7813 / 1000000.0))
  }

  test("ragged input fails loudly") {
    val df = Seq((0L, Seq(1.0f)), (0L, Seq(1.0f, 2.0f))).toDF("g", "v")
    val e = intercept[Exception] {
      df.groupBy("g").agg(VecCentroid.vecCentroid(col("v"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("null vectors are skipped, not counted in the denominator") {
    val df = Seq((0L, Some(Seq(2.0f))), (0L, None), (0L, Some(Seq(4.0f))))
      .toDF("g", "v")
    assert(grouped(df)(0L) == Seq(3.0))
  }

  test("SQL surface via extensions name") {
    val out = spark.sql(
      """SELECT vec_centroid(v, 1000000L) AS c
        |FROM VALUES (array(CAST(1.0 AS FLOAT))), (array(CAST(2.0 AS FLOAT))) AS t(v)
        |""".stripMargin).as[Seq[Double]].head()
    assert(out == Seq(1.5))
  }
}
