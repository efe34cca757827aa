package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

class HashedClassifierSpec extends SparkSpec {
  import spark.implicits._

  /** The declared Column-fold form of the score mean (no bias/round):
    * the executable specification [[HashedClassifier.scoreDocs]]'s
    * expression must match bit-for-bit.
    */
  private def scoreMeanFold(text: Column, salt: String): Column = {
    val toks = TextAnalysis.wsTokens(text)
    when(size(toks) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0.0),
        (acc, t) => acc + HashedClassifier.tokenWeight(t, salt)) /
        size(toks))
  }

  private def score(texts: (Long, String)*): Map[Long, (Double, String)] =
    HashedClassifier.scoreDocs(texts.toDF("doc_id", "text"),
        "doc_id", "text", salt = "s1", bias = 0.1, threshold = 0.0)
      .select("doc_id", "score", "label")
      .as[(Long, Double, String)].collect()
      .map { case (id, sc, l) => id -> (sc, l) }.toMap

  test("hand-computed: score = bias + mean(tokenWeight); empty doc scores bias") {
    val w = Seq(("alpha", "s1"), ("beta", "s1")).toDF("t", "salt")
      .select(HashedClassifier.tokenWeight(col("t"), "s1").as("w"))
      .as[Double].collect()
    val expected = 0.1 + (w(0) + w(1)) / 2.0
    val got = score((1L, "alpha beta"), (2L, "   "), (3L, ""))
    assert(math.abs(got(1L)._1 - expected) < 1e-6)
    assert(got(2L)._1 == 0.1 && got(3L)._1 == 0.1)
  }

  test("label thresholds on the rounded score") {
    val got = score((1L, "alpha beta gamma"), (2L, ""))
    got.foreach { case (_, (s, l)) =>
      assert(if (s > 0.0) l == "keep" else l == "drop")
    }
  }

  test("deterministic under repartitioning; salt changes scores") {
    val docs = graft.Tables(spark, sf, "documents").limit(50)
    def run(salt: String, p: Int) =
      HashedClassifier.scoreDocs(docs.repartition(p), "doc_id", "text", salt)
        .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(run("a", 1) == run("a", 7))
    assert(run("a", 1) != run("b", 1))
  }

  test("tokenWeight stays in [-1, 1)") {
    val ws = graft.Tables(spark, sf, "documents")
      .select(explode(TextAnalysis.wsTokens(col("text"))).as("t"))
      .select(HashedClassifier.tokenWeight(col("t"), "x").as("w"))
      .agg(min("w"), max("w")).as[(Double, Double)].head()
    assert(ws._1 >= -1.0 && ws._2 < 1.0)
  }

  test("codegen hashed_score matches the declared Column fold bit-for-bit") {
    val docs = graft.Tables(spark, sf, "documents").limit(300)
    val diff = docs.select(
        graft.functions.HashedScores.hashedScore(col("text"), "p1").as("fast"),
        scoreMeanFold(col("text"), "p1").as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0)
    // and on adversarial token shapes (multi-byte, tabs/CRs, blanks)
    val edge = Seq("", "   ", "a", "a\tb\r\nc", "héllo wörld",
      " nbspIsNotWs", "x  y").toDF("text")
    val bad = edge.select(
        graft.functions.HashedScores.hashedScore(col("text"), "s2").as("fast"),
        scoreMeanFold(col("text"), "s2").as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(bad == 0)
  }

  test("plan: zero exchanges — pure scan-side scoring") {
    val out = HashedClassifier.scoreDocs(
      graft.Tables(spark, sf, "documents"), "doc_id", "text")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.linesIterator.take(12).mkString("\n"))
  }
}
