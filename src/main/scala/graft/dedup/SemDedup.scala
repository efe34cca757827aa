package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.similarity.Ivf

/** SemDeDup-style semantic deduplication (Abbas et al., 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication"): a learned coarse quantizer (the [[Ivf]] KMeans
  * model) partitions the corpus into cells, pairwise cosine runs ONLY
  * within a cell, and of every near-duplicate pair the lower id
  * survives. The learned-centroid complement to the data-independent
  * sign-LSH banding in [[Dedup.embeddingNearDups]] — on clustered
  * real-world embeddings the cells align with semantic groups, so the
  * within-cell search finds cross-document paraphrases the random
  * hyperplanes may band apart.
  *
  * Scale shape, per the paper's own O(N²/k) design:
  *  - the KMeans fit runs on a bounded seeded sample (never the corpus)
  *    and assignment is one narrow map — [[Ivf.build]];
  *  - the within-cell search is ONE aggregation per cell
  *    ([[graft.functions.SemDedupDroppedIds]]): each vector joins its
  *    cell assignment once, (id, vector) rows gather per cell under the
  *    hard `maxCluster` state bound, and the aggregate's eval returns
  *    the cell's dropped ids. The only data-sized exchange is the cell
  *    key over N vectors; candidate pairs never exist as rows;
  *  - in-cell work is Σ|cell|² ≈ N²/k cosines — hold k ∝ N (the paper
  *    uses k = N/⟨cluster⟩) to keep per-cell work constant as the
  *    corpus grows, and `maxCluster` bounds the degenerate-cell worst
  *    case.
  *
  * Drop rule: a vector is removed iff SOME lower-id vector in its cell
  * has cosine >= `minCosine` with it (the paper keeps one exemplar per
  * ε-group; lowest-id is the deterministic exemplar choice, matching
  * the first-occurrence convention of the text dedup tiers).
  */
object SemDedup {

  /** Returns the surviving rows of `vecs` (all original columns).
    *
    * Determinism note: KMeans centroids depend on the seed and input
    * partitioning, but the SURVIVOR SET is stable for any clustering
    * when near-duplicates are tight (cosine >= minCosine) and everything
    * else is far below the threshold: identical/near-identical vectors
    * land in the same cell by construction (same nearest centroid), so
    * their pair is always generated and always verified.
    *
    * `nClusters <= 0` selects k automatically as `ceil(N / targetCell)`
    * (clamped to ≥ 2) — the paper's k ∝ N rule, so average cell
    * population stays ~`targetCell` as the corpus grows instead of
    * growing linearly with it under a fixed k. The count this costs is
    * the same column-pruned count [[Ivf.build]] already performs for its
    * fit sample.
    *
    * Over-cap guard: the within-cell aggregate skips a cell past
    * `maxCluster` SILENTLY (it evaluates null, like every bounded-bucket
    * dedup stage) — a skipped cell means duplicates inside it silently
    * SURVIVE. This offline tier counts cell sizes in the same aggregate
    * job that sizes the vector join and, with `failOnOverCap` (default),
    * raises with the over-cap cell count/mass instead — re-run with
    * larger k (or auto-k) rather than weakening the cap.
    */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, minCosine: Double,
                    maxCluster: Int = 10000, seed: Long = 42L,
                    targetCell: Int = 1000,
                    failOnOverCap: Boolean = true): DataFrame =
    semanticDedupAssigned(vecs,
      assignCells(vecs, idCol, vecCol, nClusters, seed, targetCell),
      idCol, vecCol, minCosine, maxCluster, failOnOverCap)

  /** The fit + assignment stage alone: `(idCol, cell)` for every row of
    * `vecs`. Split out of [[semanticDedup]] because the KMeans fit is an
    * INDEXING job a pipeline pays once per corpus snapshot (the same
    * reasoning as [[Ivf.build]] for the ANN probes): persist or
    * checkpoint this frame and feed it to [[semanticDedupAssigned]] to
    * re-run the dedup search — or gate fresh batches — without refitting
    * the quantizer.
    */
  def assignCells(vecs: DataFrame, idCol: String, vecCol: String,
                  nClusters: Int, seed: Long = 42L,
                  targetCell: Int = 1000): DataFrame = {
    require(targetCell > 0, "targetCell must be positive")
    val k =
      if (nClusters > 0) nClusters
      else math.max(2L, (vecs.count() + targetCell - 1) / targetCell).toInt
    require(k >= 2, "MLlib KMeans requires nClusters >= 2")
    Ivf.build(vecs, vecCol, k, seed).indexed
      .select(col(idCol), col("cell").cast("long").as("cell"))
  }

  /** The within-cell dedup search over a precomputed `cells` assignment.
    *
    * `cells` contract: `(idCol, cell)` with ONE row per row of `vecs`
    * ([[assignCells]] output). Cap occupancy is counted AFTER joining
    * `cells` to `vecs` on the id, so a cells row whose id is missing
    * from `vecs` takes no cap space, and an id present k times on both
    * sides occupies k² slots (every vector of that id meets every cell
    * row of it). The `failOnOverCap` audit counts raw `cells` rows, which
    * equals the joined count when ids are unique.
    *
    * Ids may be any orderable atomic type; "lowest id survives" follows
    * the type's Spark ordering (string ids compare as strings). Null ids
    * never join a cell and always survive. Vectors must be
    * `array<float>`; null vectors are gathered but never compare.
    * All scale and determinism notes of [[semanticDedup]] apply.
    */
  def semanticDedupAssigned(vecs: DataFrame, cells: DataFrame,
                            idCol: String, vecCol: String,
                            minCosine: Double, maxCluster: Int = 10000,
                            failOnOverCap: Boolean = true): DataFrame = {
    val vecType = vecs.schema(vecCol).dataType
    require(vecType match { case ArrayType(FloatType, _) => true; case _ => false },
      s"semanticDedup needs $vecCol as array<float>; got ${vecType.simpleString}")
    // one aggregate over the assignment: the row count for the join gate
    // below and the over-cap audit
    val sizes = cells.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
    val over = col("__n") > maxCluster
    val stats = sizes.agg(coalesce(sum(col("__n")), lit(0L)),
      count(when(over, 1)), coalesce(sum(when(over, col("__n"))), lit(0L))).head()
    val (n, nb, mass) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    if (failOnOverCap && nb > 0L) throw new IllegalStateException(
      s"semanticDedup: $nb KMeans cell(s) covering $mass vectors exceed " +
        s"maxCluster=$maxCluster; their pairs would be dropped and " +
        "duplicates inside them would silently survive. Refit with a " +
        "larger cluster count (or auto-k, nClusters <= 0).")
    // Vector-side join strategy by MEASURED size: broadcast the vectors
    // when they fit, shuffle_hash above (no sort either way). The gate
    // is on estimated BYTES — a row cap is blind to the embedding
    // dimension: rows × (dim × 4 B + 48 B array/row overhead) against a
    // 256 MB default (≲1 GB of executor headroom after hashed-relation
    // framing). The row count is the size aggregate's; the dim comes
    // from the first NON-NULL vector, which runs the caller's vector plan
    // up to that row. `spark.graft.semdedup.maxBroadcastVecs` is an
    // explicit row-count override.
    val conf = vecs.sparkSession.conf
    val bcastVecs =
      conf.getOption("spark.graft.semdedup.maxBroadcastVecs") match {
        case Some(rowCap) => n <= rowCap.toLong
        case None =>
          val byteCap = conf
            .getOption("spark.graft.semdedup.maxBroadcastVecBytes")
            .map(_.toLong).getOrElse(256L * 1024 * 1024)
          val dim = vecs.where(col(vecCol).isNotNull)
            .select(size(col(vecCol))).head(1) match {
              case Array(r) if !r.isNullAt(0) => r.getInt(0)
              case _ => 0
            }
          n * (dim.toLong * FloatType.defaultSize + 48L) <= byteCap
      }
    val vside = {
      val s = vecs.select(col(idCol).as("__sid"), col(vecCol).as("__v"))
      if (bcastVecs) broadcast(s) else s.hint("shuffle_hash")
    }
    val dropped = cells
      .select(col(idCol).as("__sid"), col("cell").cast("long").as("__cell"))
      .join(vside, "__sid")
      .groupBy(col("__cell"))
      .agg(graft.functions.SemDedupDroppedIds.droppedIds(
        maxCluster, minCosine, col("__sid"), col("__v")).as("__dropped"))
      // a saturated (over-cap) cell evaluates null: its ids survive
      .filter(col("__dropped").isNotNull)
      .select(explode(col("__dropped")).as(idCol))
      .distinct()
    vecs.join(dropped, Seq(idCol), "left_anti")
  }
}
