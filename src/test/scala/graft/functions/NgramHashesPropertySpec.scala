package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.TestSession

/** ScalaCheck pin of the identity NgramHashes.scala claims: the one-pass
  * `NgramHasher.hashAll` must produce, per char position, exactly
  * `pmod(xxhash64(substring(text, i, n)), mod)` — the composable Spark
  * form it replaces (same byte spans, same seed-42 xxhash64). Exercised
  * over random Unicode strings mixing 1/2/3/4-byte UTF-8 code points
  * (ASCII, accents, CJK, astral-plane emoji — surrogate pairs in the
  * JVM), always including the empty string and a len < n edge, for
  * several (n, mod) pairs including the production pair (n = 5,
  * mod = 2^31 - 1) used by Dedup.minhashSignatures. The same job also
  * pins the registered `ngram_hashes` Expression (codegen path) and the
  * shingle COUNT (`max(numChars - n + 1, 1)`) against the composable
  * form.
  */
object NgramHashesPropertySpec extends Properties("NgramHashes") {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40) // each sample is a whole Spark job

  // Mixed-width code points: 1-byte ASCII, 2-byte Latin/Hebrew +
  // combining mark, 3-byte CJK, 4-byte astral.
  private val codePoint: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.oneOf(" ", "\t", "é", "ß", "ק", "́"),
    1 -> Gen.oneOf("中", "文", "語", "한"),
    1 -> Gen.oneOf("🚀", "𝒜", "😀"))

  private val text: Gen[String] = Gen.chooseNum(0, 24)
    .flatMap(k => Gen.listOfN(k, codePoint).map(_.mkString))

  private val batch: Gen[(List[String], Int, Long)] = for {
    texts <- Gen.listOfN(8, text)
    n <- Gen.oneOf(2, 3, 5, 8)
    mod <- Gen.oneOf(7L, 97L, 2147483647L)
  } yield (texts ++ List("", "ab"), n, mod) // pin the short-string edges

  property("hashAll == pmod(xxhash64(substring(text,i,n)), mod) per position") =
    forAll(batch) { case (texts, n, mod) =>
      val rows = texts.toDF("text")
        .withColumn("cnt", greatest(length(col("text")) - (n - 1), lit(1)))
        .withColumn("i", explode(sequence(lit(1), col("cnt"))))
        .select(col("text"), col("i"), col("cnt"),
          pmod(xxhash64(expr(s"substring(text, i, $n)")), lit(mod))
            .as("composable"),
          element_at(Texts.ngramHashes(col("text"), n, mod), col("i"))
            .as("via_expr"),
          size(Texts.ngramHashes(col("text"), n, mod)).as("expr_cnt"))
        .collect()
      rows.nonEmpty && rows.forall { r =>
        val arr = NgramHasher.hashAll(UTF8String.fromString(r.getString(0)), n, mod)
        val i = r.getInt(1)
        arr.length == r.getInt(2) && r.getInt(5) == r.getInt(2) &&
          arr(i - 1) == r.getLong(3) && r.getLong(4) == r.getLong(3)
      }
    }
}
