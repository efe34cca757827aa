package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextAnalysis

/** Pins the fused tier-1 predicate [[CurateTier1]] bit-identical to the
  * composable pair it replaces (r22):
  * `langId(text).isin(langs) && qualityScore(text) >= minQuality`.
  * The kept set must match on every corpus, every allowlist, and at the
  * exact threshold boundary — the q45/q88 oracles then pin the same
  * equality end-to-end through the pipeline.
  */
class Tier1KeepSpec extends SparkSpec {
  import spark.implicits._

  // deterministic mixed corpus: every branch of the scan — plain en/es/
  // fr/de text, CJK stopwords (multi-byte + punct-class), pure
  // punctuation, empty/blank, argmax ties, long texts saturating the
  // length term, and short ones that fail quality
  private val corpus: Seq[(Long, String)] = Seq(
    "the cat and the dog of the house is here",
    "el perro que corre es la casa de verdad",
    "le chat et les chiens des villes est grand",
    "der hund und die katze das haus ist hier",
    "的 是 在 了 和 something",
    "the el", // en/es tie -> en wins (first-max)
    "el the", // same counts, order-independent
    "xyz qwerty nothing matches here at all",
    "!!! ??? ### $$$",
    "",
    "   \t  ",
    "a",
    ("the and of to is " * 40).trim, // > 500 chars, length term saturates
    "the, and. of! to? is;",
    "theand ofto is", // token equality, not substring
    "der und die le et les el la que" // de=3 fr=3 es=3 tie -> es first? (es index 1 < fr 2 < de 3)
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def df = corpus.toDF("doc_id", "text")

  private def unfusedIds(langs: Seq[String], minQ: Double): Seq[Long] =
    df.filter(TextAnalysis.langId(col("text")).isin(langs.map(x => x: Any): _*))
      .filter(TextAnalysis.qualityScore(col("text")) >= minQ)
      .select("doc_id").as[Long].collect().sorted.toSeq

  private def fusedIds(langs: Seq[String], minQ: Double): Seq[Long] =
    df.filter(CurateTier1.tier1Keep(col("text"), langs, minQ))
      .select("doc_id").as[Long].collect().sorted.toSeq

  test("fused predicate keeps exactly the unfused pair's rows") {
    for {
      langs <- Seq(Seq("en"), Seq("es"), Seq("zh"), Seq("en", "de"),
        Seq("en", "es", "fr", "de", "zh"), Seq.empty[String],
        Seq("xx", "en")) // unknown code can never win: no bit
      minQ <- Seq(0.0, 0.3, 0.5, 0.9, 1.1)
    } assert(fusedIds(langs, minQ) == unfusedIds(langs, minQ),
      s"langs=$langs minQ=$minQ")
  }

  test("exact threshold boundary: q == minQuality keeps, one ulp above drops") {
    // take each text's own rounded quality as the threshold — `>=`
    // must keep it; nudging the threshold one ulp up must drop it
    val qs = df.filter(length(col("text")) > 0)
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.langId(col("text")).as("l"))
      .as[(Long, Double, String)].collect()
    for ((id, q, l) <- qs) {
      val at = fusedIds(Seq(l), q)
      assert(at.contains(id), s"doc $id q=$q must survive its own threshold")
      val above = fusedIds(Seq(l), Math.nextUp(q))
      assert(!above.contains(id), s"doc $id q=$q must fail q+ulp")
      assert(at == unfusedIds(Seq(l), q))
    }
  }

  test("null text yields null (dropped by a filter) like the unfused pair") {
    val withNull = Seq[(Long, Option[String])]((1L, Some("the cat")),
      (2L, None)).toDF("doc_id", "text")
    val kept = withNull
      .filter(CurateTier1.tier1Keep(col("text"), Seq("en"), 0.0))
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1L))
    val isNull = withNull.filter(col("doc_id") === 2L)
      .select(CurateTier1.tier1Keep(col("text"), Seq("en"), 0.0).isNull)
      .as[Boolean].head()
    assert(isNull)
  }

  test("interpreted eval matches the codegen path") {
    val viaDf = df.select(
      CurateTier1.tier1Keep(col("text"), Seq("en", "zh"), 0.3)).as[Boolean]
      .collect().toSeq
    val viaEval = corpus.map { case (_, t) =>
      CurateTier1.keep(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        CurateTier1.maskFor(Seq("en", "zh")), 0.3)
    }
    assert(viaDf == viaEval)
  }
}
