package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** The fused per-doc bigram-hash count table must agree EXACTLY with
  * the composable formulation it replaces: the multiset of
  * `(xxhash64(concat_ws(' ', w1, w2)), xxhash64(w1))` pairs over the
  * wsTokens bigrams, grouped to counts. Key bit-equality is what makes
  * models trained by either path join interchangeably (BigramLm
  * scaladoc).
  */
class BigramHashCountsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  /** Composable reference: per-row map (bk, w1h) -> count. */
  private def refCounts(text: String): Map[(Long, Long), Int] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    toks.zip(toks.drop(1)).map { case (a, b) =>
      val bk = spark.range(1)
        .select(xxhash64(lit(s"$a $b"))).as[Long].head()
      val wh = spark.range(1).select(xxhash64(lit(a))).as[Long].head()
      (bk, wh)
    }.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  private val texts = Seq(
    "a b c d e",
    "a b a b a",                    // repeats collapse to counts
    "single", "", "   ",
    "\ta\n b\fc\r d  ",             // every \s class, runs (copy path)
    "café naïve résumé tokens",     // multi-byte chars
    "x\u00a0y z",                    // NBSP is NOT \s: token "x\u00a0y"
    "the quick brown fox the quick brown cat")

  test("fused counts bit-match the composable xxhash64 formulation") {
    texts.foreach { t =>
      val got = Seq(t).toDF("text")
        .select(explode(
          BigramHashCounts.bigramHashCounts(col("text"))).as("b"))
        .select(col("b.bk"), col("b.w1h"), col("b.cnt"))
        .as[(Long, Long, Int)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(got == refCounts(t), s"text=${t.take(40)}")
    }
  }

  test("bk equals token_window_hashes(text, 2) entries; w1h equals " +
      "w = 1 entries (the window-hash contract, shared seed + bytes)") {
    val t = "alpha beta\tgamma  delta"
    val row = Seq(t).toDF("text").select(
        TokenWindowHashes.tokenWindowHashes(col("text"), 2).as("bi"),
        TokenWindowHashes.tokenWindowHashes(col("text"), 1).as("uni"),
        BigramHashCounts.bigramHashCounts(col("text")).as("c"))
      .as[(Seq[Long], Seq[Long], Seq[(Long, Long, Int)])].head()
    val (bi, uni, c) = row
    assert(c.map(_._1).toSet == bi.toSet, "bk set == 2-token windows")
    assert(c.map(_._2).toSet == uni.dropRight(1).toSet,
      "w1h set == head-token hashes")
  }

  test("bigram_counts (string twin) matches the composable counts, " +
      "normalized to single-space joins") {
    texts.foreach { t =>
      val got = Seq(t).toDF("text")
        .select(explode(BigramHashCounts.bigramCounts(col("text"))).as("b"))
        .select(col("b.bigram"), col("b.cnt"))
        .as[(String, Int)].collect().toMap
      val toks = t.split("\\s+").filter(_.nonEmpty)
      val ref = toks.zip(toks.drop(1)).map { case (a, b) => s"$a $b" }
        .groupBy(identity).map { case (k, v) => k -> v.size }
      assert(got == ref, s"text=${t.take(40)}")
    }
  }

  test("null propagates; sub-2-token text gives an empty array; SQL " +
      "registration resolves") {
    val out = spark.sql(
      "SELECT size(bigram_hash_counts(t)) FROM VALUES ('one'), (''), " +
        "('a b') AS v(t)").as[Int].collect().toSeq
    assert(out == Seq(0, 0, 1))
    assert(Seq((1L, null: String)).toDF("id", "text")
      .select(BigramHashCounts.bigramHashCounts(col("text")))
      .head().isNullAt(0))
  }
}
