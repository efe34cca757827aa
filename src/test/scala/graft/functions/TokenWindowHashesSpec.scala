package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

class TokenWindowHashesSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  /** The composable HOF formulation the fused loop must bit-match. */
  private def hofHashes(w: Int) = {
    val t = filter(split(col("text"), "\\s+"), x => length(x) > 0)
    val starts = when(size(t) >= w, sequence(lit(1), size(t) - lit(w) + lit(1)))
      .otherwise(array().cast("array<int>"))
    transform(starts, s => xxhash64(array_join(slice(t, s, lit(w)), " ")))
  }

  private val texts = Seq(
    "a b c d e",
    "single",
    "",
    "   ",
    "\ta\n b\fc\r d  ",          // every \s separator class, runs
    "café naïve résumé tokens", // multi-byte chars
    "x y z",                       // NBSP is NOT \s: one token "x y"
    "a a a a a a",
    "the quick brown fox jumps over the lazy dog")

  test("fused loop bit-matches the HOF formulation (w = 1..5)") {
    val df = texts.toDF("text")
    for (w <- 1 to 5) {
      val got = df.select(
          TokenWindowHashes.tokenWindowHashes(col("text"), w).as("a"),
          hofHashes(w).as("b"))
        .as[(Seq[Long], Seq[Long])].collect()
      got.zip(texts).foreach { case ((a, b), t) =>
        assert(a == b, s"w=$w text=${t.take(30)}")
      }
    }
  }

  test("window count and positional indexing") {
    val out = Seq("t0 t1 t2 t3").toDF("text")
      .select(TokenWindowHashes.tokenWindowHashes(col("text"), 2))
      .as[Seq[Long]].head()
    assert(out.size == 3)
    // entry i is the window at 1-based token position i+1: equal
    // windows hash equal, distinct windows distinct on this input
    val again = Seq("x t1 t2 y").toDF("text")
      .select(TokenWindowHashes.tokenWindowHashes(col("text"), 2))
      .as[Seq[Long]].head()
    assert(out(1) == again(1), "same 't1 t2' window, same hash")
    assert(out.distinct.size == 3)
  }

  test("null propagates; short text yields empty; SQL registration") {
    val out = Seq(Some("a b"), None, Some("a")).toDF("text")
      .select(TokenWindowHashes.tokenWindowHashes(col("text"), 2))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0))
    assert(out(1) == null)
    assert(out(2) == Seq.empty[Long])
    val sql = spark.sql(
      "SELECT token_window_hashes('a b c', 2) AS h").as[Seq[Long]].head()
    assert(sql.size == 2)
  }
}
