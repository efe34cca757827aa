package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextAnalysis

class SimHash64Spec extends SparkSpec {
  import spark.implicits._

  test("matches the explode(tokens) + 64-vote-sum formulation") {
    val texts = Seq(
      "the quick brown fox",
      "the the the repeated tokens vote per occurrence",
      "mixed 混合 tokens with tabs\tand\nnewlines",
      "x",
      "a b c d e f g h i j k l m n o p")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

    val viaExpr = df.select(col("doc_id"),
        SimHash64.simhash64(col("text")).as("simhash"))
      .filter(col("simhash").isNotNull)
      .orderBy("doc_id").as[(Long, Long)].collect()

    val votes = (0 until 64).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"s$j"))
    val fingerprint = (0 until 64).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    val viaAgg = df.select(col("doc_id"),
        explode(TextAnalysis.wsTokens(col("text"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
      .groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
      .orderBy("doc_id").as[(Long, Long)].collect()

    assert(viaExpr.toSeq == viaAgg.toSeq)
  }

  test("zero-token docs return null (the explode form dropped them)") {
    val got = Seq((1L, ""), (2L, "  \t "), (3L, "word"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), SimHash64.simhash64(col("text")).as("sh"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got(1L).isEmpty && got(2L).isEmpty && got(3L).isDefined)
  }

  test("single-bit-flip robustness: near-dup texts stay hamming-close") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a + " r1"
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val fps = df.select(SimHash64.simhash64(col("text"))).as[Long].collect()
    val hamming = java.lang.Long.bitCount(fps(0) ^ fps(1))
    assert(hamming <= 16, s"expected hamming<=16 for near-dups, got $hamming")
  }
}
