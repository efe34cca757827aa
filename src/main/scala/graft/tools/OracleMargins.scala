package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Audits the deterministic margins the q37/q38 copy-seed oracles rest
  * on (see graft.catalog.DedupQueries.saltedCopySeeded), at ANY
  * dataset dir — the margins must hold at every SF a harness might run,
  * not just where the correctness gate happens to run today. Prints,
  * over the salted copy-seeded corpus:
  *
  *  - q37: oracled row count at the 0.99 threshold (the 50 seeded copy
  *    pairs), the organic (non-copy) maximum est_jaccard, and the
  *    margin in signature positions below the 32/32 the threshold
  *    requires;
  *  - q38: oracled row count at maxDist 0 (the copies, hamming exactly
  *    0), the organic minimum hamming, and the margin in bits above
  *    the threshold.
  *
  * The same invariants are asserted as a CI gate by OracleMarginSpec,
  * so a corpus or fixture change that erodes a margin fails loudly in
  * `sbt test` instead of surfacing as an inscrutable oracle hash
  * mismatch.
  *
  * Run: `sbt "runMain graft.tools.OracleMargins /root/testdata/sf0.01"`
  * (and again at sf0.1 — the README table records both).
  */
object OracleMargins {

  /** (q37 oracled rows, organic max matching positions of 32,
    * q38 oracled rows, organic min hamming) over the salted corpus.
    */
  def measure(spark: SparkSession, dir: String): (Long, Int, Long, Int) = {
    val shift = 10000000L
    val corpus = graft.catalog.DedupQueries.saltedCopySeeded(spark, dir)
    val sig = Dedup.minhashSignatures(corpus, "doc_id", "text", 32, 5)
      .localCheckpoint()
    val mh = Dedup.lshCandidates(sig, "doc_id", bands = 8).localCheckpoint()
    val q37Rows = mh.filter(col("est_jaccard") >= 0.99).count()
    val organicEst = mh.filter(col("id2") < shift)
      .agg(max("est_jaccard")).head().getDouble(0)
    val sh = Dedup.simhash(corpus, "doc_id", "text").localCheckpoint()
    val sc = Dedup.simhashCandidates(sh, "doc_id", maxDist = 64)
      .localCheckpoint()
    val q38Rows = sc.filter(col("hamming") <= 0).count()
    val organicHam = sc.filter(col("id2") < shift)
      .agg(min("hamming")).head().getInt(0)
    (q37Rows, math.round(organicEst * 32).toInt, q38Rows, organicHam)
  }

  /** Maximum ORGANIC pairwise cosine anywhere in the embeddings table —
    * the margin the q83 SemDeDup copy-seed oracle rests on (the whole-
    * table maximum upper-bounds any within-cell pair, so the invariant
    * is insensitive to the KMeans clustering). Audit-only all-pairs
    * scan (the fused codegen cosine runs ~4M pairs/0.5s at sf0.1) —
    * operators never do this; the q83 threshold 0.95 needs this value
    * to stay well below it.
    */
  def embeddingMargin(spark: SparkSession, dir: String): Double = {
    val v = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    v.select(col("vec_id").as("id1"), col("embedding").as("v1"))
      .crossJoin(v.select(col("vec_id").as("id2"), col("embedding").as("v2")))
      .filter(col("id1") < col("id2"))
      .agg(max(graft.functions.Vectors.cosineSim(col("v1"), col("v2"))))
      .head().getDouble(0)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (q37Rows, organicPos, q38Rows, organicHam) = measure(spark, dir)
    println(s"q37 oracled rows (est>=0.99): $q37Rows")
    println(s"organic max est positions: $organicPos/32 " +
      s"(margin ${32 - organicPos} below the 32 the threshold requires)")
    println(s"q38 oracled rows (hamming<=0): $q38Rows")
    println(s"organic min hamming: $organicHam " +
      s"(margin $organicHam above the oracled maxDist 0)")
    val maxCos = embeddingMargin(spark, dir)
    println(f"q83 organic max pairwise cosine: $maxCos%.6f " +
      f"(margin ${0.95 - maxCos}%.3f below the 0.95 threshold)")
    spark.stop()
  }
}
