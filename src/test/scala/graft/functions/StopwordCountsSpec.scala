package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextAnalysis

class StopwordCountsSpec extends SparkSpec {
  import spark.implicits._

  private def counts(t: String): Seq[Int] =
    Seq(t).toDF("t")
      .select(StopwordCountsExpr.stopwordCounts(col("t")))
      .as[Seq[Int]].head()

  test("counts = [en,es,fr,de,zh,union,tokens,punct,chars] in one pass") {
    // "the" en, "de" es, "und der" de x2, "xyz" none -> 5 tokens;
    // 18 chars, none outside [A-Za-z0-9\s]
    assert(counts("the de und der xyz") == Seq(1, 1, 0, 2, 0, 4, 5, 0, 18))
    // punctuation chars counted, including inside tokens ("the," is NOT
    // a stopword hit -- token equality, not substring)
    assert(counts("the, cat!") == Seq(0, 0, 0, 0, 0, 0, 2, 2, 9))
  }

  test("blank and empty inputs count zero tokens") {
    assert(counts("") == Seq(0, 0, 0, 0, 0, 0, 0, 0, 0))
    assert(counts("   \t  ") == Seq(0, 0, 0, 0, 0, 0, 0, 0, 6))
  }

  test("null text propagates null") {
    val got = Seq[Option[String]](None).toDF("t")
      .select(StopwordCountsExpr.stopwordCounts(col("t")).isNull)
      .as[Boolean].head()
    assert(got)
  }

  test("multi-byte tokens (zh stopwords) are matched byte-exactly") {
    // 2 CJK code points (each one punct-class, 3 bytes), 2 spaces, 4
    // ASCII letters -> 8 chars
    assert(counts("的 是 word") == Seq(0, 0, 0, 0, 2, 2, 3, 2, 8))
  }

  test("tokenization matches split(trim(text), '\\\\s+') semantics") {
    val texts = Seq("a  b\tc", " leading trail ", "theand\fof\rto\nis",
      "x", "")
    val df = texts.toDF("t")
    val viaExpr = df.select(
      StopwordCountsExpr.stopwordCounts(col("t")).getItem(6)).as[Int].collect()
    val viaSplit = df.select(size(TextAnalysis.wsTokens(col("t"))))
      .as[Int].collect()
    assert(viaExpr.toSeq == viaSplit.toSeq)
  }

  test("interpreted eval matches codegen path") {
    // eval() is exercised directly through the expression, codegen via
    // the dataframe select above; compare on a mixed corpus
    val texts = Seq("the and of to is", "el la que de es", "", "zzz",
      "the the the", "der und die das ist le et les")
    val exprResults = texts.map { t =>
      StopwordCountsExpr.count(org.apache.spark.unsafe.types.UTF8String.fromString(t))
        .toIntArray().toSeq
    }
    val dfResults = texts.toDF("t")
      .select(StopwordCountsExpr.stopwordCounts(col("t"))).as[Seq[Int]].collect()
    assert(exprResults == dfResults.toSeq.map(_.toSeq))
  }

  test("langId/stopwordRatio built on the expression keep their contract") {
    val langs = Seq("the cat of doom" -> "en", "el perro que corre" -> "es",
      "xyz" -> "en")
    val got = langs.map(_._1).toDF("t")
      .select(TextAnalysis.langId(col("t"))).as[String].collect()
    assert(got.toSeq == langs.map(_._2))
    val ratio = Seq("the cat and the dog").toDF("t")
      .select(TextAnalysis.stopwordRatio(col("t"))).as[Double].head()
    assert(ratio == 0.6)
  }
}
