package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextAnalysis

class ShingleFingerprintSpec extends SparkSpec {
  import spark.implicits._

  test("matches the explode(shingleStarts) + min(md5(substring)) form") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "短い非ASCIIテキスト with mixed content",
      "tiny", // shorter than the shingle width -> whole-text shingle
      "",
      ("a" * 20) + "hello world" + ("b" * 20))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

    val viaExpr = df.select(col("doc_id"),
        ShingleFingerprint.shingleFingerprint(col("text"), 8).as("fp"))
      .orderBy("doc_id").as[(Long, String)].collect()

    val viaAgg = df
      .select(col("doc_id"),
        explode(TextAnalysis.shingleStarts(col("text"))).as("i"), col("text"))
      .select(col("doc_id"), md5(expr("substring(text, i, 8)")).as("h"))
      .groupBy("doc_id").agg(min(col("h")).as("fp"))
      .orderBy("doc_id").as[(Long, String)].collect()

    assert(viaExpr.toSeq == viaAgg.toSeq)
  }

  test("edit-robust: a tail edit keeps the minimum shingle") {
    val base = ("a" * 20) + "hello world" + ("b" * 20)
    val df = Seq((1L, base), (2L, base + "x")).toDF("doc_id", "text")
    val fps = df.select(
        ShingleFingerprint.shingleFingerprint(col("text"), 8))
      .as[String].collect()
    assert(fps(0).length == 32)
    assert(fps(0) == fps(1)) // min over shared shingles dominates
  }

  test("null text propagates null") {
    val got = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
      .select(ShingleFingerprint.shingleFingerprint(col("text"), 8).isNull)
      .as[Boolean].head()
    assert(got)
  }
}
