package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TopKPairsSpec extends SparkSpec {
  import spark.implicits._

  test("top_k_pairs matches the row_number window form on random-ish data") {
    // 6 groups x 200 rows, scores with deliberate collisions (mod 17)
    val df = spark.range(1200)
      .select((col("id") % 6).as("g"), col("id").as("i"),
        (col("id") % 17).cast("double").as("s"))
    val viaAgg = df.groupBy("g")
      .agg(TopK.topKPairs(col("s"), col("i"), 5).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).as("rk"),
        col("col.id").as("i"), col("col.score").as("s"))
    val w = Window.partitionBy("g").orderBy(desc("s"), asc("i"))
    val viaWindow = df
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("g"), col("rk").cast("int").as("rk"), col("i"), col("s"))
    assert(viaAgg.orderBy("g", "rk").collect().toSeq ==
      viaWindow.orderBy("g", "rk").collect().toSeq)
  }

  test("top_k_pairs is partitioning-invariant (merge path)") {
    val df = spark.range(500)
      .select((col("id") % 3).as("g"), col("id").as("i"),
        pmod(col("id") * 37, lit(101)).cast("double").as("s"))
    val one = df.repartition(1).groupBy("g")
      .agg(TopK.topKPairs(col("s"), col("i"), 4).as("t"))
      .orderBy("g").collect().toSeq
    val many = df.repartition(13).groupBy("g")
      .agg(TopK.topKPairs(col("s"), col("i"), 4).as("t"))
      .orderBy("g").collect().toSeq
    assert(one == many)
  }

  test("top_k_pairs: fewer rows than k returns all, rank-ordered") {
    val df = Seq((1L, 10L, 2.0), (1L, 11L, 9.0), (1L, 12L, 9.0))
      .toDF("g", "i", "s")
    val got = df.groupBy("g").agg(TopK.topKPairs(col("s"), col("i"), 10).as("t"))
      .select(col("t")).as[Seq[(Double, Long)]].head()
    // score desc, ties by id asc
    assert(got == Seq((9.0, 11L), (9.0, 12L), (2.0, 10L)))
  }

  test("top_k_pairs plan has no Sort below the final orderBy") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    val df = s2.range(100)
      .select((col("id") % 4).as("g"), col("id").as("i"),
        col("id").cast("double").as("s"))
    val plan = df.groupBy("g")
      .agg(TopK.topKPairs(col("s"), col("i"), 3).as("t"))
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.SortExec
    assert(plan.collectWithSubqueries { case x: SortExec => x }.isEmpty,
      "aggregate top-k must not plan a sort")
  }
}
