package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.TestSession
import graft.text.TextAnalysis

/** ScalaCheck pin of the three round-8 sketch fusions: each fused
  * codegen expression must be VALUE-IDENTICAL to the composable
  * explode/HOF formulation it replaced, over random Unicode text mixing
  * 1/2/3/4-byte UTF-8 code points and whitespace runs, always including
  * the empty/blank edges. The fixed-example equivalence specs catch
  * gross breaks; these pin the full input space the byte-level scans
  * claim to cover (char-boundary walking, `\s`-exact tokenization,
  * multi-byte stopword matching).
  */
object SketchFusionPropertySpec extends Properties("SketchFusion") {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15) // each sample runs several Spark jobs

  private val codePoint: Gen[String] = Gen.frequency(
    5 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf(" ", " ", "\t", "\n", "\f", "\r"),
    1 -> Gen.oneOf("é", "ß", "ק", "中", "的", "是", "🚀"),
    1 -> Gen.oneOf("the", "and", "de", "der", "und", "le", "est"))

  private val text: Gen[String] = Gen.chooseNum(0, 30)
    .flatMap(k => Gen.listOfN(k, codePoint).map(_.mkString(" ")))

  private val batch: Gen[List[String]] =
    Gen.listOfN(6, text).map(_ ++ List("", "   ", "the and of to is"))

  private def df(texts: List[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  property("stopword_counts matches the fold-of-HOFs langId/ratios") =
    forAll(batch) { texts =>
      val d = df(texts)
      // reference formulations: the pre-fusion fold-of-HOFs shapes, on
      // the post-fix wsTokens (non-empty tokens — the property run that
      // introduced this spec caught the old trim()-only-spaces quirk)
      val toks = TextAnalysis.wsTokens(col("text"))
      def hits(words: Seq[String]) =
        size(filter(toks, t => t.isin(words.map(_.asInstanceOf[Any]): _*)))
      val all = TextAnalysis.Stopwords.values.flatten.toSeq.distinct
      val refRatio = when(size(toks) === 0, lit(0.0))
        .otherwise(hits(all).cast("double") / size(toks))
      val order = TextAnalysis.LangOrder
      val scores = order.map(l => l -> hits(TextAnalysis.Stopwords(l))).toMap
      val refLang = order.init.foldRight(lit(order.last)) { (l, rest) =>
        when(order.dropWhile(_ != l).tail
          .map(o => scores(l) >= scores(o)).reduce(_ && _), lit(l))
          .otherwise(rest)
      }
      val refPunct = when(length(col("text")) === 0, lit(0.0))
        .otherwise(length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", ""))
          .cast("double") / length(col("text")))
      val got = d.select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("l"),
          TextAnalysis.stopwordRatio(col("text")).as("r"),
          TextAnalysis.punctRatio(col("text")).as("p"))
        .orderBy("doc_id").as[(Long, String, Double, Double)].collect().toSeq
      val ref = d.select(col("doc_id"), refLang.as("l"), refRatio.as("r"),
          refPunct.as("p"))
        .orderBy("doc_id").as[(Long, String, Double, Double)].collect().toSeq
      got == ref
    }

  property("minhash_sig matches explode(ngram_hashes) + min aggregate") =
    forAll(batch) { texts =>
      val d = df(texts)
      val p = 2147483647L
      val k = 8
      val mins = (0 until k).map { i =>
        min(pmod(col("h0") * (i * 2 + 1) + i * 40503L + 2654435769L, lit(p)))
          .as(s"m$i")
      }
      val ref = d.select(col("doc_id"),
          explode(Texts.ngramHashes(col("text"), 5, p)).as("h0"))
        .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
        .select(col("doc_id"),
          array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
        .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
      val got = d.select(col("doc_id"),
          MinHashSig.minhashSig(col("text"), k, 5, p).as("sig"))
        .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
      got == ref
    }

  property("simhash64 matches explode(tokens) + 64-vote aggregate") =
    forAll(batch) { texts =>
      val d = df(texts)
      val votes = (0 until 64).map(j =>
        sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"s$j"))
      val fp = (0 until 64).map(j =>
        when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
        .reduce((a, b) => a.bitwiseOR(b))
      val ref = d.select(col("doc_id"),
          explode(TextAnalysis.wsTokens(col("text"))).as("t"))
        .select(col("doc_id"), xxhash64(col("t")).as("h"))
        .groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
        .select(col("doc_id"), fp.as("simhash"))
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      val got = d.select(col("doc_id"),
          SimHash64.simhash64(col("text")).as("simhash"))
        .filter(col("simhash").isNotNull)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      got == ref
    }

  property("shingle_fingerprint matches explode + min(md5(substring))") =
    forAll(batch) { texts =>
      val d = df(texts)
      val ref = d.select(col("doc_id"),
          explode(TextAnalysis.shingleStarts(col("text"))).as("i"),
          col("text"))
        .select(col("doc_id"), md5(expr("substring(text, i, 8)")).as("h"))
        .groupBy("doc_id").agg(min(col("h")).as("fp"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val got = d.select(col("doc_id"),
          ShingleFingerprint.shingleFingerprint(col("text"), 8).as("fp"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      got == ref
    }
}
