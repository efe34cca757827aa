package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two tiers, as a 100 TB design demands:
  *  - [[bruteForceTopK]]: exact cosine against every vector — one narrow
  *    codegen'd map + TakeOrderedAndProject. Correctness baseline and the
  *    within-bucket scorer.
  *  - [[withBuckets]] + [[annTopK]]: sign-random-projection LSH. The
  *    corpus is bucketed once by `nPlanes` deterministic hyperplane sign
  *    bits (hash-derived weights — no stored model, any executor computes
  *    the same planes); a query probes only buckets within `probe` bit
  *    flips. At scale the bucket key is a partition/cluster key, so a probe
  *    is partition pruning, not a scan.
  */
object Similarity {

  /** Exact cosine between two float-array columns, accumulated in double
    * via a sequential left fold (deterministic order).
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Exact top-k most-similar to a literal query vector. Scores through
    * the fused codegen CosineSimilarity Expression (33x the composable
    * [[cosine]] on all-pairs scans — see graft.functions); agreement
    * between the two is pinned by CosineSimilaritySpec.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int): DataFrame = {
    emb.select(col(idCol),
        round(graft.functions.Vectors.cosineSim(col(vecCol), typedlit(query)), 6)
          .as("cosine"))
      .orderBy(desc("cosine"), col(idCol)).limit(k)
  }

  /** Bucket the corpus once (at scale: persist + partition by bucket). */
  def withBuckets(emb: DataFrame, vecCol: String,
                  nPlanes: Int = 12, seed: Long = 42L): DataFrame = {
    emb.withColumn("bucket",
      graft.functions.LshBuckets.lshBucket(col(vecCol), nPlanes, seed))
  }

  /** All bucket ids within `probe` bit flips of `center` over `nPlanes`
    * sign bits: Σ_{d≤probe} C(nPlanes, d) values, enumerated driver-side.
    * This is the multiprobe set — tiny (37 ids at nPlanes=8, probe=2), so
    * it ships as an `IN` list the scan can prune on, never as a per-row
    * hamming computation over the whole index.
    */
  def probeBuckets(center: Long, nPlanes: Int, probe: Int): Seq[Long] = {
    require(nPlanes > 0 && nPlanes <= 62, s"nPlanes out of range: $nPlanes")
    def go(pos: Int, flipsLeft: Int, cur: Long): Seq[Long] =
      if (pos == nPlanes) Seq(cur)
      else if (flipsLeft == 0) Seq(cur) // no more flips: remaining bits fixed
      else go(pos + 1, flipsLeft, cur) ++
        go(pos + 1, flipsLeft - 1, cur ^ (1L << pos))
    go(0, probe, center)
  }

  /** ANN top-k: score only vectors whose bucket is within `probe` bit
    * flips of the query's bucket (multiprobe recall knob).
    *
    * The probe-radius bucket ids are enumerated driver-side
    * ([[probeBuckets]]) and applied as `bucket IN (...)` — an equality
    * filter Catalyst pushes into the scan, NOT a full-index
    * `bit_count(xor)` pass. Against a [[buildIndex]]-persisted corpus the
    * same filter becomes `PartitionFilters`: only the ≤ C(nPlanes,≤probe)
    * probed directories are read (pinned by SimilaritySpec).
    */
  def annTopK(bucketed: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, nPlanes: Int = 12,
              seed: Long = 42L, probe: Int = 1): DataFrame = {
    // The query vector is a driver-side scalar, so its bucket is computed
    // directly through the same fused helper the corpus bucketing uses —
    // no 1-row Spark job per probe.
    val qBucket = graft.functions.LshBucketer.bucket(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(query.toArray),
      nPlanes, seed)
    val ids = probeBuckets(qBucket, nPlanes, probe)
    bruteForceTopK(
      bucketed.filter(col("bucket").isin(ids: _*)),
      idCol, vecCol, query, k)
  }

  /** Persist the bucketed corpus hive-partitioned by `bucket` — the
    * scale-path index layout. Probing then prunes whole partition
    * directories instead of scanning the index.
    */
  def buildIndex(emb: DataFrame, vecCol: String, path: String,
                 nPlanes: Int = 12, seed: Long = 42L): Unit =
    graft.pipelines.Sinks.reloadPartitioned(
      withBuckets(emb, vecCol, nPlanes, seed), path, "bucket")

  /** ANN top-k over a [[buildIndex]]-persisted index: the multiprobe
    * `IN` list hits the hive partition layout as `PartitionFilters`,
    * so only probed bucket directories are listed and read.
    */
  def annTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     idCol: String, vecCol: String, query: Seq[Float],
                     k: Int, nPlanes: Int = 12, seed: Long = 42L,
                     probe: Int = 1): DataFrame =
    annTopK(spark.read.parquet(path), idCol, vecCol, query, k,
      nPlanes, seed, probe)
}
