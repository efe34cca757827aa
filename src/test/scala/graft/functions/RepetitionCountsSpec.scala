package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.TestSession

/** Pins the fused one-scan `repetition_counts` expression to a plain
  * tokenize + groupBy reference over random Unicode text (multi-byte
  * code points, whitespace runs, blank/empty edges, repeated tokens),
  * plus the fixed edges: null propagation and a hand-computed example.
  */
object RepetitionCountsSpec extends Properties("RepetitionCounts") {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  /** Reference: regex `\s+` tokenization (identical to the scanner's
    * whitespace-run contract), Scala groupBy frequency tables.
    */
  private def ref(text: String): Seq[Int] = {
    val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
    val w = toks.size
    val wc = toks.groupBy(identity).map(_._2.size)
    val bgs = toks.sliding(2).filter(_.size == 2)
      .map(_.mkString(" ")).toSeq
    val bc = bgs.groupBy(identity).map(_._2.size)
    Seq(w, wc.size, if (wc.isEmpty) 0 else wc.max,
      math.max(w - 1, 0), bc.size, if (bc.isEmpty) 0 else bc.max)
  }

  // repetition-heavy token pool: few distinct tokens so duplicate words
  // AND duplicate bigrams actually occur
  private val token: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("a", "b", "the", "の", "中", "🚀", "é"),
    1 -> Gen.alphaNumStr.suchThat(_.nonEmpty))

  private val sep: Gen[String] = Gen.frequency(
    4 -> Gen.const(" "),
    1 -> Gen.oneOf("  ", "\t", "\n", " \r ", "\f"))

  private val text: Gen[String] = for {
    k <- Gen.chooseNum(0, 40)
    toks <- Gen.listOfN(k, token)
    seps <- Gen.listOfN(k, sep)
    lead <- Gen.oneOf("", " ", "\n")
  } yield lead + toks.zip(seps).map { case (t, s) => t + s }.mkString

  private val batch: Gen[List[String]] =
    Gen.listOfN(6, text).map(_ ++ List("", "   ", "a b a b a", "solo"))

  property("matches the tokenize+groupBy reference on random Unicode") =
    forAll(batch) { texts =>
      val got = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .select(col("doc_id"),
          RepetitionCounts.repetitionCounts(col("text")).as("rc"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      texts.zipWithIndex.forall { case (t, i) => got(i.toLong) == ref(t) }
    }

  property("null propagates; hand-computed example") = {
    val rows = Seq((0L, null: String), (1L, "a b a b a"))
      .toDF("doc_id", "text")
      .orderBy("doc_id")
      .select(RepetitionCounts.repetitionCounts(col("text")))
      .collect()
    // "a b a b a": 5 words, 2 distinct, top 'a' x3; bigrams "a b" x2 +
    // "b a" x2 -> 4 total, 2 distinct, top x2
    rows(0).isNullAt(0) :| "null text must yield null" &&
      (rows(1).getSeq[Int](0) == Seq(5, 2, 3, 4, 2, 2)) :| "hand example"
  }
}
