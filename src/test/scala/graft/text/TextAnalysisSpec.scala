package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("wsTokens: blank input yields empty array, not ['']") {
    val got = Seq("", "  ", "a  b\tc").toDF("t")
      .select(size(TextAnalysis.wsTokens(col("t")))).as[Int].collect()
    assert(got.toSeq == Seq(0, 0, 3))
  }

  test("reTokens: BPE-ish classes split words/digits/punct") {
    val got = Seq("ab12,cd!").toDF("t")
      .select(TextAnalysis.reTokens(col("t"))).as[Seq[String]].head()
    assert(got == Seq("ab", "12", ",", "cd", "!"))
  }

  test("punctRatio counts non-alnum non-space chars") {
    val got = Seq("ab,!", "abcd", "").toDF("t")
      .select(TextAnalysis.punctRatio(col("t"))).as[Double].collect()
    assert(got.toSeq == Seq(0.5, 0.0, 0.0))
  }

  test("stopwordRatio and qualityScore bounds") {
    val df = Seq("the cat and the dog", "zzz qqq").toDF("t")
    val sr = df.select(TextAnalysis.stopwordRatio(col("t"))).as[Double].collect()
    assert(sr(0) == 0.6) // the, and, the of 5
    assert(sr(1) == 0.0)
    val qs = df.select(TextAnalysis.qualityScore(col("t"))).as[Double].collect()
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("langId picks the max-stopword language with fixed tie order") {
    val got = Seq(
      "the cat of doom", // en
      "el perro que corre", // es
      "le chat et les oiseaux", // fr
      "der hund und die katze", // de
      "xyz") // no hits anywhere -> tie -> en
      .toDF("t").select(TextAnalysis.langId(col("t"))).as[String].collect()
    assert(got.toSeq == Seq("en", "es", "fr", "de", "en"))
  }

  test("normalizeText: lowercase, accent fold, whitespace collapse, trim") {
    val got = Seq("  Café   NAÏVE\tresume ", "ÑOÑO").toDF("t")
      .select(TextAnalysis.normalizeText(col("t"))).as[String].collect()
    assert(got.toSeq == Seq("cafe naive resume", "nono"))
  }

  test("shingle fingerprint is stable and edit-robust at the tail") {
    val df = Seq(("a" * 20) + "hello world" + ("b" * 20)).toDF("text")
    val fp = df.select(col("text"), explode(TextAnalysis.shingleStarts(col("text"))).as("i"))
      .select(md5(expr("substring(text, i, 8)")).as("h"))
      .agg(min("h")).as[String].head()
    assert(fp.length == 32)
  }
}
