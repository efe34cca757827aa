package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `strip_stop_tokens` bit-matches the composable formulation it
  * replaces — `array_join(filter(wsTokens(text), t ->
  * !array_contains(stop, t)), ' ')` plus the two counts — over every
  * `\s` byte class, multi-byte tokens, and the null/empty edges
  * (the [[Tokens]] duplication-over-sharing contract: a fork of the
  * byte walk fails this suite).
  */
class StripStopTokensSpec extends SparkSpec {
  import spark.implicits._

  private val stop = Seq("the", "中文", "a")

  private def composable(text: String): (Int, Int, String) = {
    val toks = Option(text).getOrElse("").trim.split("\\s+")
      .filter(_.nonEmpty).toSeq
    val kept = toks.filterNot(stop.contains)
    (toks.size, kept.size, kept.mkString(" "))
  }

  test("bit-match vs the composable form: \\s classes, multi-byte, " +
      "repeats, all-stopped, empty") {
    val texts = Seq(
      "the quick the brown fox",
      "a\tb\ncd\fe\rf  g",
      "héllo 中文 a woRld 中文中文",
      "the the the",                       // everything stopped
      "  leading and trailing\t ",
      "單一",                               // one multi-byte token, kept
      "a",                                  // one stopped token
      "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        StripStopTokens.stripStopTokens(col("text"), stop).as("s"))
      .select(col("doc_id"), col("s.n_toks"), col("s.n_kept"),
        col("s.text_dedup"))
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == composable(t),
        s"text '$t': got ${got(i.toLong)}, want ${composable(t)}")
    }
  }

  test("null text propagates null; empty stop set keeps everything " +
      "with single-space normalization; non-foldable stop is rejected") {
    val df = Seq((1L, "x  y\tz"), (2L, null: String)).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        StripStopTokens.stripStopTokens(col("text"), Nil).as("s"))
      .select(col("doc_id"), col("s.text_dedup"))
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L).contains("x y z"))
    assert(got(2L).isEmpty, "null text must propagate null")
    val e = intercept[Exception] {
      df.select(call_function("strip_stop_tokens", col("text"),
        array(col("text")))).collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
  }
}
