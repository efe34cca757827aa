package graft.tools

import org.apache.spark.sql.SparkSession

import graft.dedup.Dedup
import graft.similarity.Similarity

/** Operational readout for the bounded-bucket candidate stages' SILENT
  * hot-bucket drop: the hot paths (bucketPairs, capBucketsInline)
  * cap over-sized buckets without counting them — counting would cost
  * the very stats job those shapes remove — so a cluster operator runs
  * THIS on the monitoring cadence instead (weekly, alongside store
  * compaction). Prints, for each sketch tier over a dataset's
  * `documents`/`embeddings`, the hot-bucket count and the row mass those
  * buckets cover at the operator's default cap
  * ([[Dedup.bucketCapAudit]] — one map-side-combined count aggregate per
  * tier). A sustained non-zero mass means near-dup recall is degrading
  * on boilerplate-heavy input and the cap (or a pre-filter) needs
  * retuning.
  *
  * Run: `sbt "runMain graft.tools.StoreAudit /root/testdata/sf0.1"`.
  */
object StoreAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def report(tier: String, cap: Int)(audit: => (Long, Long)): Unit = {
      val (nb, mass) = audit
      println(f"[audit] $tier%-18s cap=$cap%-5d hot_buckets=$nb%-8d covered_rows=$mass")
    }

    val docs = graft.Tables(spark, dir, "documents")
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text",
      numHashes = 32, shingleN = 5)
    report("minhash bands", 500) {
      Dedup.bucketCapAudit(Dedup.bandRowsOf(sig, "doc_id", bands = 8), 500)
    }
    report("simhash bands", 500) {
      Dedup.bucketCapAudit(
        Dedup.simhashBandRows(Dedup.simhash(docs, "doc_id", "text"), "doc_id"),
        500)
    }
    val emb = graft.Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    report("embedding bands", 1000) {
      Dedup.bucketCapAudit(
        Dedup.vectorBandRows(
          Similarity.withBuckets(emb, "embedding", nPlanes = 32),
          "vec_id", nPlanes = 32, bands = 4),
        1000)
    }
    // the exact-Jaccard tier's inverted index caps on the shingle key
    val sh = Dedup.shingles(docs, "doc_id", "text", n = 5).localCheckpoint()
    report("ngram postings", 500) {
      Dedup.bucketCapAudit(sh, 500, Seq("shingle"))
    }
    // ... and with the declared stop-shingle rule (ngramJaccard's
    // maxDocFrac = 0.1) applied first: the backstop cap should then
    // audit to ~zero mass — sustained non-zero means the rule is set
    // looser than the cap
    val nDocs = docs.select("doc_id").distinct().count()
    val dfCap = math.max(1L, math.floor(0.1 * nDocs).toLong)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.functions.col("shingle"))
    report("ngram +df<=10%", 500) {
      Dedup.bucketCapAudit(
        sh.withColumn("__df",
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).over(w))
          .filter(org.apache.spark.sql.functions.col("__df") <= dfCap)
          .drop("__df"),
        500, Seq("shingle"))
    }
    spark.stop()
  }
}
