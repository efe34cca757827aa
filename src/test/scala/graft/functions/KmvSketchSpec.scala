package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64

import graft.SparkSpec

class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  test("kmv_sample returns the k ids with globally smallest hashes") {
    val ids = (0L until 500L).toDF("id")
    val got = ids.agg(Sketches.kmvSample(col("id"), 10)).as[Seq[Long]].head()
    val expected = (0L until 500L)
      .sortBy(XXH64.hashLong(_, 42)).take(10)
    assert(got == expected)
  }

  test("deterministic under any partitioning (unlike reservoir sampling)") {
    val base = (0L until 500L).toDF("id")
    val a = base.repartition(1).agg(Sketches.kmvSample(col("id"), 25)).as[Seq[Long]].head()
    val b = base.repartition(13).agg(Sketches.kmvSample(col("id"), 25)).as[Seq[Long]].head()
    assert(a == b)
  }

  test("per-group sampling via groupBy; size = min(k, group size)") {
    val df = Seq.tabulate(100)(i => (s"g${i % 3}", i.toLong)).toDF("g", "id")
    val got = df.groupBy("g").agg(Sketches.kmvSample(col("id"), 5).as("s"))
      .select("g", "s").as[(String, Seq[Long])].collect().toMap
    assert(got.values.forall(_.length == 5))
    val tiny = Seq(("x", 1L), ("x", 2L)).toDF("g", "id")
      .groupBy("g").agg(Sketches.kmvSample(col("id"), 5).as("s"))
      .as[(String, Seq[Long])].head()
    assert(tiny._2.toSet == Set(1L, 2L))
  }

  test("kmv_distinct: exact below k, within 25% above k") {
    val small = (0L until 50L).toDF("id")
      .agg(Sketches.kmvDistinct(col("id"), 64)).as[Double].head()
    assert(small == 50.0) // exact below k
    val big = (0L until 10000L).toDF("id")
      .agg(Sketches.kmvDistinct(col("id"), 256)).as[Double].head()
    assert(math.abs(big - 10000) / 10000.0 < 0.25)
    // deterministic across partitionings
    val a = (0L until 10000L).toDF("id").repartition(3)
      .agg(Sketches.kmvDistinct(col("id"), 256)).as[Double].head()
    assert(a == big)
  }

  test("kmv_sample_by ranks by the supplied hash, multi-partition") {
    // affine permutation mod a prime: bottom-k is closed-form
    val got = (0L until 500L).toDF("id").repartition(7)
      .agg(Sketches.kmvSampleBy(pmod(col("id") * 997, lit(1013L)), col("id"), 8))
      .as[Seq[Long]].head()
    val expected = (0L until 500L).sortBy(i => (i * 997) % 1013).take(8)
    assert(got == expected)
  }

  test("usable from SQL") {
    (0L until 100L).toDF("id").createOrReplaceTempView("v_ids")
    val got = spark.sql("SELECT kmv_sample(id, 3) FROM v_ids")
      .as[Seq[Long]].head()
    assert(got.length == 3)
  }
}
