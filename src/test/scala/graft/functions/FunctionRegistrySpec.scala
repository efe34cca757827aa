package graft.functions

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextAnalysis

/** The one function table ([[GraftFunctions]]) and the Column APIs that
  * bypass it.
  *
  *  - SQL: a `newSession()` of the shared test session has exactly what a
  *    cluster user's session has — the builtins plus `GraftExtensions` —
  *    so every table name must resolve and run there through `spark.sql`.
  *  - Column APIs: with every graft name dropped from a second session's
  *    registry, and the shared session left active, every Column API
  *    must still compose and run on that session's frames, with the same
  *    result as in the shared session.
  *  - README's SQL function table lists exactly the table's names.
  */
class FunctionRegistrySpec extends SparkSpec {

  private val p = 2147483647L
  private val tableNames = GraftFunctions.table.map(_._1.funcName)

  /** A Bloom filter over xxhash64 of 1, 2 and 3, as a SQL literal. */
  private lazy val bloomHex: String = {
    val bf = spark.sql(
      "SELECT bloom_agg(xxhash64(x), 3L, 8192L) FROM VALUES (1L), (2L), (3L) AS t(x)")
      .head().getAs[Array[Byte]](0)
    bf.map(b => f"${b & 0xff}%02X").mkString("X'", "", "'")
  }

  /** One SQL call per table name: (name, expression, expected value
    * rendered as a string), over `FROM VALUES (1L), (2L), (3L) AS t(x)`
    * for the aggregates.
    */
  private def scalarCalls: Seq[(String, String, String)] = Seq(
    ("cosine_sim", "cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f))", "1.0"),
    ("int8_quantize", "size(int8_quantize(array(1.0f, 0.0f)))", "2"),
    ("int8_cosine", "int8_cosine(int8_quantize(array(1.0f, 0.0f)), " +
      "int8_quantize(array(1.0f, 0.0f)))", "1.0"),
    ("stopword_counts", "stopword_counts('the cat')[6]", "2"),
    ("curate_tier1", "curate_tier1('the cat', 31, 0.0)", "true"),
    ("sig_overlap", "sig_overlap(array(1L, 2L), array(1L, 3L))", "0.5"),
    ("ngram_hashes", s"size(ngram_hashes('hello', 3, $p))", "3"),
    ("ngram_bloom_any", s"ngram_bloom_any($bloomHex, 'hello world', 3, $p)", "false"),
    ("minhash_sig", s"size(minhash_sig('hello world', 8, 5, $p))", "8"),
    ("lsh_band_keys", "size(lsh_band_keys(array(1L, 2L, 3L, 4L), 2))", "2"),
    ("simhash64", "simhash64('hello world') IS NOT NULL", "true"),
    ("shingle_fingerprint", "length(shingle_fingerprint('hello world', 8))", "32"),
    ("repetition_counts", "repetition_counts('a a b')[0]", "3"),
    ("token_window_hashes", "size(token_window_hashes('a b c d', 2))", "3"),
    ("hashed_score", "hashed_score('a b c', 's1') IS NOT NULL", "true"),
    ("segment_hashes", "size(segment_hashes('a b c d', 2))", "2"),
    ("term_counts", "size(term_counts('a b a'))", "2"),
    ("ws_token_count", "ws_token_count(' a  b ')", "2"),
    ("strip_stop_tokens", "strip_stop_tokens('the cat the', array('the')).n_kept", "1"),
    ("html_table_rows",
      "size(html_table_rows('<table><tr><td>x</td></tr></table>'))", "1"),
    ("bigram_hash_counts", "size(bigram_hash_counts('a b a b'))", "2"),
    ("bigram_counts", "size(bigram_counts('a b a b'))", "2"),
    ("lsh_bucket", "lsh_bucket(array(1.0f, 0.0f), 4, 42) IS NOT NULL", "true"),
    // a folded negative probe: the StableLong codegen path
    ("bloom_might_contain", s"bloom_might_contain($bloomHex, xxhash64(1L))", "true"),
    ("bloom_any", s"bloom_any($bloomHex, array(xxhash64(9L), xxhash64(2L)))", "true"))

  private def aggregateCalls: Seq[(String, String, String)] = Seq(
    ("bounded_ids", "size(bounded_ids(x, 10))", "3"),
    ("top_k_pairs", "top_k_pairs(CAST(x AS DOUBLE), x, 2)[0].id", "3"),
    ("exact_percentiles", "exact_percentiles(CAST(x AS DOUBLE), array(0.5))[0]", "2.0"),
    ("exact_percentiles_weighted",
      "exact_percentiles_weighted(CAST(x AS DOUBLE), x, array(0.5))[0]", "2.5"),
    ("exact_percentiles2", "exact_percentiles2(CAST(x AS DOUBLE), array(0.5), " +
      "CAST(x * 2 AS DOUBLE), array(0.5)).p2[0]", "4.0"),
    ("vec_centroid", "vec_centroid(array(CAST(x AS FLOAT)), 1000000L)[0]", "2.0"),
    ("kmv_sample", "size(kmv_sample(x, 2))", "2"),
    ("kmv_sample_by", "size(kmv_sample_by(xxhash64(x), x, 2))", "2"),
    ("kmv_distinct", "kmv_distinct(x, 16)", "3.0"),
    ("mg_topk", "mg_topk(CAST(x AS STRING), 4).total", "3"),
    ("semdedup_dropped_ids",
      "size(semdedup_dropped_ids(x, array(CAST(1.0 AS FLOAT)), 10, 0.5))", "2"),
    ("bloom_agg", "length(bloom_agg(xxhash64(x), 3L, 8192L)) > 0", "true"))

  private def runSql(s: SparkSession, calls: Seq[(String, String, String)],
                     from: String): Seq[String] = {
    val sel = calls.map { case (n, e, _) => s"$e AS `$n`" }.mkString(", ")
    val row = s.sql(s"SELECT $sel $from").head()
    calls.indices.map(i => String.valueOf(row.get(i)))
  }

  test("every table name resolves and runs through SQL with GraftExtensions only") {
    val ext = spark.newSession()
    val scalars = runSql(ext, scalarCalls, "")
    val aggs = runSql(ext, aggregateCalls, "FROM VALUES (1L), (2L), (3L) AS t(x)")
    (scalarCalls ++ aggregateCalls).zip(scalars ++ aggs).foreach {
      case ((name, _, want), got) => assert(got == want, name)
    }
  }

  test("the SQL checks cover every table name") {
    val checked = (scalarCalls ++ aggregateCalls).map(_._1)
    assert(checked.distinct == checked)
    assert(checked.toSet == tableNames.toSet)
  }

  /** Every public Column API over a graft expression, applied to the
    * frame [[base]] builds in the session under test.
    */
  private def scalarApis(bf: Array[Byte]): Seq[(String, Column)] = {
    val text = col("text")
    val v = col("v")
    val sig = MinHashSig.minhashSig(text, 8, 5, p)
    Seq(
      "cosineSim" -> Vectors.cosineSim(v, v),
      "int8Quantize" -> QuantizedVec.int8Quantize(v),
      "int8Cosine" -> QuantizedVec.int8Cosine(
        QuantizedVec.int8Quantize(v), QuantizedVec.int8Quantize(v)),
      "stopwordCounts" -> StopwordCountsExpr.stopwordCounts(text),
      "tier1Keep" -> CurateTier1.tier1Keep(text, Seq("en", "es"), 0.1),
      "sigOverlap" -> SigOverlap.sigOverlap(sig, MinHashSig.minhashSig(text, 8, 4, p)),
      "ngramHashes" -> Texts.ngramHashes(text, 3, p),
      "ngramBloomAny" -> Texts.ngramBloomAny(lit(bf), text, 3, p),
      "minhashSig" -> sig,
      "lshBandKeys" -> LshBandKeys.lshBandKeys(sig, 4),
      "simhash64" -> SimHash64.simhash64(text),
      "shingleFingerprint" -> ShingleFingerprint.shingleFingerprint(text, 8),
      "repetitionCounts" -> RepetitionCounts.repetitionCounts(text),
      "tokenWindowHashes" -> TokenWindowHashes.tokenWindowHashes(text, 2),
      "hashedScore" -> HashedScores.hashedScore(text, "s1"),
      "segmentHashes" -> SegmentHashing.segmentHashes(text, 2),
      "termCounts" -> TermCounts.termCounts(text),
      "wsTokenCount" -> TermCounts.wsTokenCount(text),
      "stripStopTokens" -> StripStopTokens.stripStopTokens(text, Seq("the", "la")),
      "htmlTableRows" -> HtmlTableRows.htmlTableRows(col("html")),
      "bigramHashCounts" -> BigramHashCounts.bigramHashCounts(text),
      "bigramCounts" -> BigramHashCounts.bigramCounts(text),
      "lshBucket" -> LshBuckets.lshBucket(v, 4, 42L),
      // the text helpers composed over these expressions
      "tokenCountWs" -> TextAnalysis.tokenCountWs(text),
      "punctRatio" -> TextAnalysis.punctRatio(text),
      "stopwordRatio" -> TextAnalysis.stopwordRatio(text),
      "qualityScore" -> TextAnalysis.qualityScore(text),
      "langId" -> TextAnalysis.langId(text),
      "repetitionStats" -> TextAnalysis.repetitionStats(text))
  }

  private def aggregateApis: Seq[(String, Column)] = {
    val id = col("id")
    val x = id.cast("double")
    Seq(
      "boundedIds" -> BoundedIds.boundedIds(10, id),
      "topKPairs" -> TopK.topKPairs(x, id, 2),
      "exactPercentiles" -> ExactPercentilesF.exactPercentiles(x, Seq(0.5, 0.9)),
      "exactPercentilesWeighted" ->
        ExactPercentilesF.exactPercentilesWeighted(x, id, Seq(0.5)),
      "exactPercentiles2" ->
        ExactPercentilesF.exactPercentiles2(x, Seq(0.5), x * 2, Seq(0.25)),
      "vecCentroid" -> VecCentroid.vecCentroid(col("v")),
      "kmvSample" -> Sketches.kmvSample(id, 2),
      "kmvSampleBy" -> Sketches.kmvSampleBy(xxhash64(id), id, 2),
      "kmvDistinct" -> Sketches.kmvDistinct(id, 16),
      "mgTopK" -> MisraGriesAgg.mgTopK(col("text"), 4),
      "bloomAgg" -> Blooms.bloomAgg(xxhash64(id), 3, 8192),
      "droppedIds" -> SemDedupDroppedIds.droppedIds(10, 0.5, id, col("v")),
      "geoMeanGrowth" -> Aggregators.geoMeanGrowth(x))
  }

  private def base(s: SparkSession): DataFrame = s.sql(
    """SELECT * FROM VALUES
      |  (1L, 'the cat sat on the mat and the dog sat too', array(1.0f, 0.0f),
      |   '<table><tr><td>a</td><td>1</td></tr></table>'),
      |  (2L, 'el gato y la casa de la playa y el perro', array(0.6f, 0.8f),
      |   '<table><tr><td>b</td></tr><tr><td>2</td></tr></table>'),
      |  (3L, 'a b a b a b c', array(0.0f, 1.0f), ''),
      |  (4L, NULL, NULL, NULL)
      |  AS t(id, text, v, html)""".stripMargin)

  /** Every API's result in `s`, as JSON rows — binary values compare by
    * content that way. The Columns are composed while `active` is the
    * thread's active session.
    */
  private def results(s: SparkSession, active: SparkSession,
                      bf: Array[Byte]): Seq[(String, Seq[String])] = {
    SparkSession.setActiveSession(active)
    val df = base(s)
    val scalars = scalarApis(bf)
    val aggs = aggregateApis
    val rows = df.orderBy("id")
      .select(col("id") +: scalars.map { case (n, c) => c.as(n) }: _*)
      .toJSON.collect().toSeq
    val agg = df.agg(aggs.head._2.as(aggs.head._1),
      aggs.tail.map { case (n, c) => c.as(n) }: _*).toJSON.collect().toSeq
    Seq("scalars" -> rows, "aggregates" -> agg)
  }

  test("every Column API runs in a session whose registry has no graft name, " +
      "with another session active") {
    val bare = spark.newSession()
    val registry = bare.sessionState.functionRegistry
    (tableNames :+ Aggregators.GeoMeanGrowthName).foreach(n =>
      registry.dropFunction(FunctionIdentifier(n)))
    assert(tableNames.forall(n =>
      !registry.functionExists(FunctionIdentifier(n))))
    val bf = spark.sql(
      "SELECT bloom_agg(xxhash64(h), 100L, 4096L) FROM " +
        "(SELECT explode(ngram_hashes('the cat', 3, 2147483647L)) AS h)")
      .head().getAs[Array[Byte]](0)
    try {
      val want = results(spark, spark, bf)
      val got = results(bare, spark, bf)
      want.zip(got).foreach { case ((what, w), (_, g)) =>
        assert(g == w, what)
      }
    } finally SparkSession.setActiveSession(spark)
  }

  test("README's SQL function table lists exactly the table's names") {
    val lines = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
      .linesIterator.toSeq
      .dropWhile(!_.startsWith("| function | kind | role |"))
    require(lines.nonEmpty, "README has no SQL function table")
    val rows = lines.drop(2).takeWhile(_.startsWith("|"))
    val named = rows.flatMap(r =>
      "`([a-z0-9_]+)\\(".r.findAllMatchIn(r.split('|')(1)).map(_.group(1)))
    assert(named.distinct == named)
    assert(named.toSet ==
      (tableNames :+ Aggregators.GeoMeanGrowthName).toSet)
  }
}
