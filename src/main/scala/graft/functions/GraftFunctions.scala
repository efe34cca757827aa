package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, Decimal}

/** The one table of graft SQL functions: each row is a name, the
  * `ExpressionInfo` of the expression class it builds, and the builder.
  *
  * SQL text is the only consumer. Every Column API (`Texts.ngramHashes`,
  * `BoundedIds.boundedIds`, ...) builds its expression directly, so it
  * resolves in whichever session analyzes it — no registry lookup, no
  * per-session setup. The table reaches a session in one of two ways:
  * [[GraftExtensions]] injects it into every session an application
  * builds, and [[register]] installs it on a live session built without
  * the extension.
  */
object GraftFunctions {

  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()
  private def longArg(e: Expression): Long =
    e.eval().asInstanceOf[Number].longValue()
  // a SQL literal like `0.5` is a DECIMAL
  private def toDouble(v: Any): Double = v match {
    case d: Decimal => d.toDouble
    case n: java.lang.Number => n.doubleValue()
    case other => throw new IllegalArgumentException(
      s"expected a numeric literal, got $other")
  }
  private def doubleArg(e: Expression): Double = toDouble(e.eval())
  /** A foldable numeric array (`array(0.5, 0.9)`) as percentiles. */
  private def psArg(e: Expression): Seq[Double] =
    e.eval().asInstanceOf[ArrayData]
      .toObjectArray(e.dataType.asInstanceOf[ArrayType].elementType)
      .toSeq.map(toDouble)

  private def fn(name: String, cls: Class[_])(
      builder: FunctionBuilder): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  val table: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("cosine_sim", classOf[CosineSimilarity])(
      es => CosineSimilarity(es(0), es(1))),
    fn("int8_quantize", classOf[Int8Quantize])(es => Int8Quantize(es(0))),
    fn("int8_cosine", classOf[Int8Cosine])(es => Int8Cosine(es(0), es(1))),
    fn("stopword_counts", classOf[StopwordCountsExpr])(
      es => StopwordCountsExpr(es(0))),
    fn("curate_tier1", classOf[CurateTier1])(
      es => CurateTier1(es(0), intArg(es(1)), doubleArg(es(2)))),
    fn("semdedup_dropped_ids", classOf[SemDedupDroppedIds])(
      es => SemDedupDroppedIds(es(0), es(1), intArg(es(2)), doubleArg(es(3)))),
    fn("sig_overlap", classOf[SigOverlap])(es => SigOverlap(es(0), es(1))),
    fn("ngram_hashes", classOf[NgramHashes])(
      es => NgramHashes(es(0), intArg(es(1)), longArg(es(2)))),
    fn("ngram_bloom_any", classOf[NgramBloomAny])(
      es => NgramBloomAny(es(0), es(1), intArg(es(2)), longArg(es(3)))),
    fn("minhash_sig", classOf[MinHashSig])(
      es => MinHashSig(es(0), intArg(es(1)), intArg(es(2)), longArg(es(3)))),
    fn("lsh_band_keys", classOf[LshBandKeys])(
      es => LshBandKeys(es(0), intArg(es(1)))),
    fn("simhash64", classOf[SimHash64])(es => SimHash64(es(0))),
    fn("shingle_fingerprint", classOf[ShingleFingerprint])(
      es => ShingleFingerprint(es(0), intArg(es(1)))),
    fn("repetition_counts", classOf[RepetitionCounts])(
      es => RepetitionCounts(es(0))),
    fn("token_window_hashes", classOf[TokenWindowHashes])(
      es => TokenWindowHashes(es(0), intArg(es(1)))),
    fn("hashed_score", classOf[HashedScoreExpr])(
      es => HashedScoreExpr(es(0), es(1).eval().toString)),
    fn("segment_hashes", classOf[SegmentHashes])(
      es => SegmentHashes(es(0), intArg(es(1)))),
    fn("term_counts", classOf[TermCounts])(es => TermCounts(es(0))),
    fn("ws_token_count", classOf[WsTokenCount])(es => WsTokenCount(es(0))),
    fn("strip_stop_tokens", classOf[StripStopTokensExpr])(
      es => StripStopTokensExpr(es(0), es(1))),
    fn("html_table_rows", classOf[HtmlTableRows])(es => HtmlTableRows(es(0))),
    fn("bigram_hash_counts", classOf[BigramHashCounts])(
      es => BigramHashCounts(es(0))),
    fn("bigram_counts", classOf[BigramCounts])(es => BigramCounts(es(0))),
    fn("lsh_bucket", classOf[LshBucket])(
      es => LshBucket(es(0), intArg(es(1)), longArg(es(2)))),
    fn("bounded_ids", classOf[BoundedIds])(
      es => BoundedIds(es.init, intArg(es.last))),
    fn("top_k_pairs", classOf[TopKPairs])(
      es => TopKPairs(es(0), es(1), intArg(es(2)))),
    // the optional trailing int overrides the distinct-value abort cap
    fn("exact_percentiles", classOf[ExactPercentilesAgg])(es => {
      val base = ExactPercentilesAgg(es(0), psArg(es(1)))
      if (es.length >= 3) base.copy(maxDistinct = intArg(es(2))) else base
    }),
    fn("exact_percentiles_weighted", classOf[ExactPercentilesAgg])(es => {
      val base = ExactPercentilesAgg(es(0), psArg(es(2)),
        weight = Some(es(1)))
      if (es.length >= 4) base.copy(maxDistinct = intArg(es(3))) else base
    }),
    fn("exact_percentiles2", classOf[ExactPercentiles2Agg])(
      es => ExactPercentiles2Agg(es(0), psArg(es(1)),
        es(2), psArg(es(3)))),
    fn("vec_centroid", classOf[VecCentroidQ])(
      es => VecCentroidQ(es(0), longArg(es(1)))),
    fn("kmv_sample", classOf[KmvSketch])(
      es => KmvSketch(Sketches.defaultHash(es(0)), es(0), intArg(es(1)))),
    fn("kmv_sample_by", classOf[KmvSketch])(
      es => KmvSketch(es(0), es(1), intArg(es(2)))),
    fn("kmv_distinct", classOf[KmvDistinct])(
      es => KmvDistinct(es(0), intArg(es(1)))),
    fn("mg_topk", classOf[MisraGriesAgg])(
      es => MisraGriesAgg(es(0), intArg(es(1)))),
    // Spark's own (unregistered) Bloom expressions, re-exposed — see
    // [[Blooms]]
    fn("bloom_agg", classOf[BloomFilterAggregate])(
      es => new BloomFilterAggregate(es(0), es(1), es(2))),
    // The probe child is routed through [[StableLong]]: Spark's
    // BloomFilterMightContain.doGenCode emits `(Long)$value`, and when
    // the probe CONSTANT-FOLDS to a negative literal Janino cannot parse
    // `(Long)-123L` (it reads a binary minus with the class name as an
    // operand — "Expression java.lang.Long is not an rvalue") and the
    // whole stage silently falls back to interpreted eval. The wrapper
    // pins the value in a local variable so the cast always applies to
    // a name. Column-probe plans are unaffected beyond a JIT-erased long
    // copy.
    fn("bloom_might_contain", classOf[BloomFilterMightContain])(
      es => BloomFilterMightContain(es(0), StableLong(es(1)))),
    fn("bloom_any", classOf[BloomAny])(es => BloomAny(es(0), es(1))))

  /** Install the table on a live session built without
    * [[GraftExtensions]], plus what the extension cannot inject as a
    * function row: the `geo_mean_growth` typed Aggregator (a udaf has no
    * expression builder) and the [[graft.plans.FoldSelfCosine]] rule.
    * Idempotent. Needed only by code that issues SQL text naming a graft
    * function on such a session.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach { case (id, _, builder) =>
      registry.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
    spark.udf.register(Aggregators.GeoMeanGrowthName, Aggregators.geoMean)
    val methods = spark.sessionState.experimentalMethods
    if (!methods.extraOptimizations.contains(graft.plans.FoldSelfCosine))
      methods.extraOptimizations =
        methods.extraOptimizations :+ graft.plans.FoldSelfCosine
  }
}

/** `SparkSessionExtensions` injector for cluster deployments:
  * `spark.sql.extensions=graft.functions.GraftExtensions` makes every
  * row of [[GraftFunctions.table]] SQL-callable in every session the
  * application builds, and installs the graft optimizer and analyzer
  * rules. Column APIs need neither this nor [[GraftFunctions.register]]:
  * they build their expressions directly. The one SQL name the
  * extension cannot inject is the `geo_mean_growth` udaf (a typed
  * Aggregator has no expression builder); SQL that names it needs
  * [[GraftFunctions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.FoldSelfCosine)
    // SQL MERGE/UPDATE/DELETE on dailystore tables (r19): the analyzer's
    // Resolution batch runs this to fixpoint, rewriting the DML node
    // into a copy-on-write command BEFORE the built-in row-level
    // rewrite batch would reject the connector
    ext.injectResolutionRule(_ => graft.plans.DailyStoreDml)
  }
}
