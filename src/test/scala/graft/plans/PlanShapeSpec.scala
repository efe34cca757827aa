package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup

/** Pins the SHUFFLE SHAPE of the dedup sketch stages — the properties
  * the round-8 expression fusions bought. A regression back to an
  * explode+groupBy sketch or a multi-exchange band stage changes
  * nothing semantically (the equivalence specs stay green) but
  * reintroduces a corpus-sized exchange that only shows up at scale,
  * so the plan itself is the thing to test.
  */
class PlanShapeSpec extends SparkSpec {

  private def exchanges(df: DataFrame): Int = {
    df.count() // finalize the adaptive plan
    "(?m)^[^\\n]*Exchange".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
  }

  /** No join node anywhere in the executed plan: a candidate stage
    * verifies in the bucket, never by joining signatures or vectors back.
    */
  private def assertNoJoin(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"expected no join:\n$plan")
  }

  private lazy val docs = graft.Tables(spark, sf, "documents")

  test("minhashSignatures is a pure map: zero exchanges") {
    assert(exchanges(Dedup.minhashSignatures(docs, "doc_id", "text")) == 0)
  }

  test("simhash is a pure map: zero exchanges") {
    assert(exchanges(Dedup.simhash(docs, "doc_id", "text")) == 0)
  }

  test("lshCandidates: one bucket-gather exchange plus the distinct") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
      .localCheckpoint()
    val n = exchanges(Dedup.lshCandidates(sig, "doc_id", bands = 8))
    // groupBy(band,bkey) partial->final needs 1 exchange; the pair
    // distinct needs 1 more. AQE may insert nothing else.
    assert(n <= 2, s"expected <=2 exchanges, got $n")
  }

  test("simhashCandidates: one bucket-gather exchange plus the distinct") {
    val sh = Dedup.simhash(docs, "doc_id", "text").localCheckpoint()
    val n = exchanges(Dedup.simhashCandidates(sh, "doc_id"))
    assert(n <= 2, s"expected <=2 exchanges, got $n")
  }

  test("embeddingNearDups: one bucket-gather exchange plus the distinct") {
    val bucketed = graft.similarity.Similarity.withBuckets(
        graft.Tables(spark, sf, "embeddings").select("vec_id", "embedding"),
        "embedding", nPlanes = 32)
      .localCheckpoint()
    val pairs = Dedup.embeddingNearDups(bucketed, "vec_id", "embedding")
    val n = exchanges(pairs)
    assert(n <= 2, s"expected <=2 exchanges, got $n")
    assertNoJoin(pairs)
  }

  test("string-id lsh and simhash candidates join nothing back") {
    val sdocs = docs.select(concat(lit("d"), col("doc_id")).as("doc_id"),
      col("text"))
    val sig = Dedup.minhashSignatures(sdocs, "doc_id", "text").localCheckpoint()
    val sh = Dedup.simhash(sdocs, "doc_id", "text").localCheckpoint()
    for (pairs <- Seq(Dedup.lshCandidates(sig, "doc_id", bands = 8),
                      Dedup.simhashCandidates(sh, "doc_id"))) {
      val n = exchanges(pairs)
      assert(n <= 2, s"expected <=2 exchanges, got $n")
      assertNoJoin(pairs)
    }
  }

  test("a string-id lshCandidates frame builds without a job") {
    val sig = Dedup.minhashSignatures(
      docs.select(concat(lit("d"), col("doc_id")).as("doc_id"), col("text")),
      "doc_id", "text")
    assert(jobsDuring(Dedup.lshCandidates(sig, "doc_id", bands = 8)) == 0)
  }

  test("lshCandidates over unmaterialized signatures runs minhash_sig once") {
    // the band keys and the gathered payload both read the one `sig`
    // column; CollapseProject must not inline minhash_sig into both
    val pairs = Dedup.lshCandidates(
      Dedup.minhashSignatures(docs, "doc_id", "text"), "doc_id", bands = 8)
    pairs.count()
    val plan = pairs.queryExecution.executedPlan.toString
    assert("minhash_sig\\(".r.findAllIn(plan).size == 1, plan)
  }

  test("shingle fingerprint is a pure map: zero exchanges") {
    assert(exchanges(docs.select(col("doc_id"),
      graft.functions.ShingleFingerprint
        .shingleFingerprint(col("text"), 8).as("fp"))) == 0)
  }

  test("exact dedup exchanges hashes, not text") {
    val deduped = Dedup.exact(docs, "doc_id", "text")
    deduped.count()
    val plan = deduped.queryExecution.executedPlan.toString
    // the exchange partitions on the md5 hash; document text must not
    // be a shuffle key (shuffling bodies is the 100 TB anti-pattern
    // the md5 grouping exists to avoid)
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(!exchangeLines.exists(_.contains("text#")),
      s"text column used as shuffle key:\n${exchangeLines.mkString("\n")}")
  }
}
