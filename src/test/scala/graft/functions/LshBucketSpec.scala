package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.similarity.Similarity

/** Pins the fused `lsh_bucket` Expression to the composable
  * HOF formulation it replaces (`hyperplaneBucketComposable` below):
  * bucket values must be bit-identical — same xxhash64 fold for the plane
  * weights, same double accumulation order — on the real embeddings
  * corpus AND on adversarial vectors (empty, single-element, negative,
  * zero, NaN-free extremes), across (nPlanes, seed) choices including
  * the production pairs (8, 42) and (32, 42).
  */
class LshBucketSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.Tables(spark, sf, "embeddings")

  /** Deterministic pseudo-random hyperplane weight for (plane, component):
    * xxhash64-derived uniform in [-1, 1].
    */
  private def planeWeight(seed: Long, p: Column, j: Column): Column =
    (pmod(xxhash64(lit(seed), p, j), lit(2000001L)) - 1000000L) / 1000000.0

  /** LSH bucket key via composable built-ins: `nPlanes` sign bits of
    * hyperplane projections. Reference semantics only — production paths
    * go through the fused codegen `lsh_bucket` Expression
    * (graft.functions.LshBucket), which computes bit-identical buckets
    * without the per-element higher-order-function dispatch this form
    * pays nPlanes times per row.
    */
  private def hyperplaneBucketComposable(
      vec: Column, nPlanes: Int, seed: Long = 42L): Column =
    (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, j) => v.cast("double") * planeWeight(seed, lit(p), j)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  test("expression == composable HOF buckets on the embeddings corpus") {
    for ((nPlanes, seed) <- Seq((8, 42L), (12, 42L), (32, 42L), (8, 7L))) {
      val mismatch = emb
        .select(
          LshBuckets.lshBucket(col("embedding"), nPlanes, seed).as("fused"),
          hyperplaneBucketComposable(col("embedding"), nPlanes, seed)
            .as("composable"))
        .filter(col("fused") =!= col("composable"))
        .count()
      assert(mismatch == 0, s"nPlanes=$nPlanes seed=$seed")
    }
  }

  test("expression == composable HOF on edge vectors") {
    val edges = Seq(
      Seq.empty[Float], Seq(0.0f), Seq(1.0f), Seq(-1.0f),
      Seq(Float.MaxValue, Float.MinValue),
      Seq.fill(64)(0.0f), Seq.tabulate(64)(i => (i - 32).toFloat / 7f))
    val mismatch = edges.toDF("v")
      .select(
        LshBuckets.lshBucket(col("v"), 16, 42L).as("fused"),
        hyperplaneBucketComposable(col("v"), 16, 42L)
          .as("composable"))
      .filter(col("fused") =!= col("composable"))
      .count()
    assert(mismatch == 0)
  }

  test("expression == composable HOF on 100 seeded random vectors") {
    val rnd = new scala.util.Random(42)
    val vecs = Seq.fill(100)(
      Seq.fill(1 + rnd.nextInt(64))((rnd.nextFloat() - 0.5f) * rnd.nextInt(20)))
    val mismatch = vecs.toDF("v")
      .select(
        LshBuckets.lshBucket(col("v"), 12, 42L).as("fused"),
        hyperplaneBucketComposable(col("v"), 12, 42L)
          .as("composable"))
      .filter(col("fused") =!= col("composable"))
      .count()
    assert(mismatch == 0)
  }

  test("identical vectors always share a bucket; probe set contains center") {
    val b = emb.limit(5)
      .select(LshBuckets.lshBucket(col("embedding"), 8, 42L).as("b"))
      .as[Long].collect()
    assert(b.toSet.size <= 5)
    b.foreach(x => assert(Similarity.probeBuckets(x, 8, 2).contains(x)))
  }
}
