package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Collocation mining: top-k adjacent bigrams by PMI lift.
  *
  * The corpus-analysis companion to [[graft.ops.Segments.topSegments]]
  * (boilerplate = repeated LONG spans): collocations are the SHORT
  * spans whose parts co-occur far above chance — multiword entities,
  * templated phrases — the units a tokenizer-vocabulary or phrase-table
  * builder extracts, and another lens a curation pipeline uses to tell
  * natural prose from keyword-stuffed spam (whose adjacent pairs hug
  * independence).
  *
  * The score is the LINEAR lift `p(xy) / (p(x) p(y))` — PMI without the
  * `log`: `log` is monotone so the ranking is identical, and dropping
  * it keeps every op an exactly-rounded IEEE division/multiplication
  * that is bit-identical cross-engine (the [[Tfidf]] / [[Bm25]] ln-free
  * doctrine), so the oracle hash-compares the raw doubles. All counts
  * are exact longs; the lift expression tree is mirrored token-for-token
  * in the oracle SQL.
  *
  * Plan shape (scale): bigram and unigram counts are partial-aggregated
  * map-side before their exchanges (decomposable counts — the
  * [[graft.ops.Skew]] doctrine's good case: hot tokens collapse in the
  * partial phase). The unigram table is vocabulary-sized, so the two
  * enrichment joins (`w1`, `w2`) are deliberately SHUFFLE joins of
  * pre-aggregated frames — broadcasting an unbounded vocabulary is the
  * scale-killer [[Tfidf]]'s df-table note rejects; both join inputs
  * ship one row per key, never tokens. Corpus totals ride a 1-row
  * broadcast cross join, and the final top-k is a
  * `TakeOrderedAndProject`, so nothing unbounded ever converges on one
  * node. `minCount` prunes the singleton-bigram tail BEFORE the joins —
  * on a web corpus that is the mass of the bigram table, and dropping
  * it early also drops the lift-ranking pathology (rare pairs of rare
  * words have unbounded lift).
  */
object Collocations {

  /** Top-`k` bigrams with `c_xy >= minCount` by descending lift, ties
    * broken by the bigram text. Returns
    * `(bigram, c_xy, c_x, c_y, lift)`.
    *
    * `memoKey` scopes a [[graft.util.Checkpoints]] checkpoint of the
    * two AGGREGATED count frames. MEASURED NEGATIVE for one-shot use
    * (r16, sf1, same JVM; BENCH_SOLO `r16b_additions`): 2.82 s checkpointed
    * vs 1.46 s recomputed — the multiply-consumed count subtrees are
    * CANONICALLY IDENTICAL, so ReuseExchange already computes each once per
    * execution, and the checkpoint only adds a block-store write+read of
    * the corpus-bigram-scaled table. Default to `None`; a key pays only
    * when the tables outlive one execution (several DIFFERENT downstream
    * queries over the same corpus's counts), which is why the parameter
    * survives the measurement.
    */
  def topBigramsByLift(docs: DataFrame, minCount: Long, k: Int,
                       memoKey: Option[String] = None): DataFrame = {
    def memo(tag: String)(df: DataFrame): DataFrame =
      memoKey.fold(df)(mk => graft.util.Checkpoints.scoped(s"$mk:$tag")(df))
    // r17: both count tables build from fused per-document count scans
    // (term_counts / bigram_counts — one byte walk each, one row per
    // DISTINCT term/bigram per doc into the exchange) instead of
    // regex-tokenize + per-occurrence explode; the q104-family lesson
    // applied to the one bigram surface whose OUTPUT needs the text
    val biAll = memo("bi")(
      docs.select(explode(
          graft.functions.BigramHashCounts.bigramCounts(col("text"))).as("b"))
        .groupBy(col("b.bigram").as("bigram"))
        .agg(sum(col("b.cnt").cast("long")).as("c_xy")))
    val uniC = memo("uni")(
      docs.select(explode(
          graft.functions.TermCounts.termCounts(col("text"))).as("tc"))
        .groupBy(col("tc.term").as("w"))
        .agg(sum(col("tc.cnt").cast("long")).as("c")))
    val biC = biAll.filter(col("c_xy") >= minCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val totals = uniC.agg(sum(col("c")).as("n_uni"))
      .crossJoin(biAll.agg(sum(col("c_xy")).as("n_bi")))

    val lift =
      (col("c_xy").cast("double") / col("n_bi").cast("double")) /
        ((col("c_x").cast("double") / col("n_uni").cast("double")) *
          (col("c_y").cast("double") / col("n_uni").cast("double")))

    biC
      .join(uniC.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uniC.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("c_xy"), col("c_x"), col("c_y"),
        lift.as("lift"))
      .orderBy(col("lift").desc, col("bigram").asc)
      .limit(k)
  }
}
