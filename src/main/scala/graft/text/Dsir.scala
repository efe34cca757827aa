package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
  * score every candidate document by how much more probable its text is
  * under a TARGET-domain n-gram language model than under the RAW-pool
  * model, and keep the highest-scoring ones — the standard recipe for
  * carving a domain-matched training subset out of a 100 TB crawl
  * (beyond the reference's scope; the LLM-pipeline tier).
  *
  * The paper's importance weight is `log p_target(x) - log p_raw(x)`
  * over hashed n-gram features. Here both models are the exact
  * conditional-bigram tables of [[BigramLm]], and the log-ratio is
  * reduced to what an exact cross-engine oracle can mirror (the BigramLm
  * doctrine): per transition, the difference of the two models'
  * micro-point conditional probabilities, summed exactly in longs —
  * `weight = Σ (micro_target(b) - micro_raw(b))` over the document's
  * bigram occurrences, with an out-of-vocabulary transition contributing
  * the model's zero. The reported `avg_weight = weight / n_bigrams` is
  * ONE mirrored double division used only for the final ordering — a
  * document whose transitions are systematically more probable under
  * the target model rises, independent of length. (The true log-ratio
  * is the sum of log-quotients rather than the sum of differences; both
  * are zero exactly when the models agree and positive when the target
  * model dominates, and the difference form keeps every per-document
  * statistic an exact integer.)
  *
  * Plan shape (scale): both models are vocabulary-scale one-row-per-key
  * tables (map-side partial aggregation; never token streams). The
  * candidate occurrence stream is keyed once and joined to BOTH models
  * in sequence — `shuffle_hash` on the 8-byte bigram hash, the
  * [[BigramLm.scoreAgainst]] doctrine (the sort-merge sort of the
  * token-scale stream was half that query when measured) — then
  * aggregated per document. Scoring is one pass over the candidates:
  * the two model joins share the single keyed stream rather than
  * scoring against each model separately and re-joining per-document
  * results (which would tokenize and shuffle the candidate stream
  * twice).
  */
object Dsir {

  /** The shared per-document scoring tail: joined occurrence rows →
    * `(doc_id, n_bigrams, weight, avg_weight)`, with `weight` the exact
    * long sum of `weightExpr` per document and `avg_weight` the ONE
    * mirrored double division — factored so the three scoring shapes
    * (two-model, sliced, hashed) whose exact equality DsirSpec and the
    * q108 oracle pin cannot desynchronize on the arithmetic or the
    * ordering contract.
    */
  private def scoreTail(joined: DataFrame,
                        weightExpr: org.apache.spark.sql.Column): DataFrame =
    // rows carry `n` (occurrences this row stands for): 1 on the text
    // path, the per-doc pre-collapsed count on the fused hash path
    joined.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("n") * weightExpr).as("weight"))
      .select(col("doc_id"), col("n_bigrams"), col("weight"),
        (col("weight").cast("double") /
          col("n_bigrams").cast("double")).as("avg_weight"))

  private def topN(scores: DataFrame, n: Int): DataFrame =
    scores.orderBy(col("avg_weight").desc, col("doc_id").asc).limit(n)

  /** Per-candidate importance scores against pre-trained models:
    * `(doc_id, n_bigrams, weight, avg_weight)` for every candidate with
    * at least one bigram. `targetModel` / `rawModel` are
    * [[BigramLm.trainModel]] frames (`(bk, micro)`), trained with the
    * SAME `useHashKey` as passed here.
    */
  def importanceScores(targetModel: DataFrame, rawModel: DataFrame,
                       candidates: DataFrame,
                       useHashKey: Boolean = true): DataFrame = {
    val t = targetModel.withColumnRenamed("micro", "micro_t")
    val r = rawModel.withColumnRenamed("micro", "micro_r")
    val stream =
      if (useHashKey)
        BigramLm.hashPairs(candidates).select(col("doc_id"), col("bk"), col("n"))
      else BigramLm.keyed(BigramLm.bigrams(candidates), useHashKey)
        .select(col("doc_id"), col("bk"), lit(1L).as("n"))
    scoreTail(
      stream
        .join(t.hint("shuffle_hash"), Seq("bk"), "left_outer")
        .join(r.hint("shuffle_hash"), Seq("bk"), "left_outer"),
      coalesce(col("micro_t"), lit(0L)) - coalesce(col("micro_r"), lit(0L)))
  }

  /** The selection surface: train the target model on `target` and the
    * raw model on `raw`, score `candidates`, and keep the `n` most
    * target-like (descending `avg_weight`, ties by doc_id).
    */
  def selectTopN(target: DataFrame, raw: DataFrame, candidates: DataFrame,
                 n: Int, useHashKey: Boolean = true): DataFrame =
    topN(importanceScores(
      BigramLm.trainModel(target, useHashKey),
      BigramLm.trainModel(raw, useHashKey),
      candidates, useHashKey), n)

  /** The fused fast path for the common deployment where the TARGET is
    * a SLICE of the pool itself (a trusted-language/source/quality
    * subset marking what "domain-like" means): both models derive from
    * ONE flagged bigram count table — `c_t` counts target-slice
    * occurrences alongside the pool's `c_r` in the same map-side
    * partial aggregation — and scoring joins ONE fused `(bk, micro_t,
    * micro_r)` model instead of two. That removes one full tokenize
    * scan and one vocabulary-scale count exchange and halves the
    * scoring joins relative to [[selectTopN]] with `target =
    * pool.filter(...)`; DsirSpec pins exact equality of the two forms
    * (a bigram absent from the slice has `c_t = 0` and scores
    * `micro_t = 0` — the same zero the two-model form's left join
    * produces for target-OOV).
    */
  def selectTopNSliced(pool: DataFrame, isTarget: org.apache.spark.sql.Column,
                       n: Int, useHashKey: Boolean = true): DataFrame = {
    val model =
      if (useHashKey) {
        // fused scan path (r17): the flag rides the doc row through the
        // pre-hashed, pre-collapsed stream; one count exchange carries
        // BOTH models' counters (c_t alongside c_r)
        val flagged = pool.select(
            isTarget.cast("boolean").as("is_t"),
            explode(graft.functions.BigramHashCounts.bigramHashCounts(
              col("text"))).as("b"))
          .select(col("is_t"), col("b.bk").as("bk"), col("b.w1h").as("w1h"),
            col("b.cnt").cast("long").as("n"))
        val bic = flagged.groupBy(col("bk"), col("w1h"))
          .agg(sum(col("n")).as("c_r"),
            sum(when(col("is_t"), col("n")).otherwise(0L)).as("c_t"))
        val cf = bic.groupBy(col("w1h"))
          .agg(sum(col("c_r")).as("cf_r"), sum(col("c_t")).as("cf_t"))
        bic.join(cf, Seq("w1h"))
          .select(col("bk"),
            when(col("c_t") > 0,
              expr("(c_t * CAST(1000000 AS BIGINT)) div cf_t"))
              .otherwise(0L).as("micro_t"),
            expr("(c_r * CAST(1000000 AS BIGINT)) div cf_r").as("micro_r"))
      } else {
        // text path (the oracle anchor): bigrams() keeps only
        // (doc_id, w1, w2) — rebuild the frame so each occurrence
        // carries the slice flag
        val toks = pool.select(col("doc_id"),
          isTarget.cast("boolean").as("is_t"),
          TextAnalysis.wsTokens(col("text")).as("t"))
        val n1 = greatest(size(col("t")) - lit(1), lit(0))
        val flaggedBi = toks
          .select(col("doc_id"), col("is_t"), explode(arrays_zip(
            slice(col("t"), lit(1), n1).as("w1"),
            slice(col("t"), lit(2), n1).as("w2"))).as("b"))
          .select(col("doc_id"), col("is_t"),
            col("b.w1").as("w1"), col("b.w2").as("w2"))
        val bic = flaggedBi.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c_r"),
            sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"))
        val cf = bic.groupBy(col("w1"))
          .agg(sum(col("c_r")).as("cf_r"), sum(col("c_t")).as("cf_t"))
        BigramLm.keyed(
          bic.join(cf, Seq("w1"))
            .select(col("w1"), col("w2"),
              when(col("c_t") > 0,
                expr("(c_t * CAST(1000000 AS BIGINT)) div cf_t"))
                .otherwise(0L).as("micro_t"),
              expr("(c_r * CAST(1000000 AS BIGINT)) div cf_r").as("micro_r")),
          useHashKey).select(col("bk"), col("micro_t"), col("micro_r"))
      }
    val stream =
      if (useHashKey)
        BigramLm.hashPairs(pool).select(col("doc_id"), col("bk"), col("n"))
      else BigramLm.keyed(BigramLm.bigrams(pool), useHashKey)
        .select(col("doc_id"), col("bk"), lit(1L).as("n"))
    topN(scoreTail(
      stream.join(model.hint("shuffle_hash"), Seq("bk")), // inner: model
      col("micro_t") - col("micro_r")), n)                // covers every
  }                                                       // pool bigram

  /** The paper's HASHED-feature variant, the 100 TB deployment shape:
    * bigram features are bucketed `pmod(xxhash64(bigram), buckets)`, so
    * each model is AT MOST `buckets` rows — a fixed-size table that
    * BROADCASTS, removing the model-side exchange entirely (the
    * candidate stream is joined twice broadcast-hash, shuffling nothing
    * until the per-document aggregation). Hash collisions merge
    * features, as in the paper: same-head-word collisions add their
    * counts BEFORE the conditional division, cross-head collisions add
    * their micro contributions after it; DsirSpec pins exact agreement
    * with the unhashed form on a fixture it first PROVES collision-free.
    */
  def hashedSelectTopN(target: DataFrame, raw: DataFrame,
                       candidates: DataFrame, n: Int,
                       buckets: Int = 1 << 14): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // the fused hash stream feeds bucketing too: bk buckets by pmod,
    // the head keeps its full 8-byte hash (c_first stays the head's
    // total, as in trainModel — the bucket only merges bigram pairs)
    def bucketed(docs: DataFrame): DataFrame =
      BigramLm.hashPairs(docs)
        .withColumn("bk", pmod(col("bk"), lit(buckets.toLong)))
    def model(docs: DataFrame): DataFrame = {
      val bic = bucketed(docs)
        .groupBy(col("bk"), col("w1h")).agg(sum(col("n")).as("c_xy"))
      val cFirst = bic.groupBy(col("w1h")).agg(sum(col("c_xy")).as("c_first"))
      bic.join(cFirst, Seq("w1h"))
        .groupBy(col("bk"))
        .agg(sum(expr("(c_xy * CAST(1000000 AS BIGINT)) div c_first"))
          .as("micro"))
    }
    val t = broadcast(model(target).withColumnRenamed("micro", "micro_t"))
    val r = broadcast(model(raw).withColumnRenamed("micro", "micro_r"))
    topN(scoreTail(
      bucketed(candidates)
        .select(col("doc_id"), col("bk"), col("n"))
        .join(t, Seq("bk"), "left_outer")
        .join(r, Seq("bk"), "left_outer"),
      coalesce(col("micro_t"), lit(0L)) - coalesce(col("micro_r"), lit(0L))),
      n)
  }

  /** The q112 collision fixture: a fixed micro-corpus whose 14 distinct
    * bigrams FORCE `pmod(xxhash64, 8)` bucket collisions by pigeonhole,
    * so [[hashedSelectTopN]]'s collision-MERGE arithmetic (same-head
    * collisions add counts before the conditional division, cross-head
    * collisions add micro contributions after it) is exercised, not
    * merely absent. WHICH bigrams collide is up to xxhash64 — DsirSpec
    * enumerates the classes at run time and reconstructs the expected
    * output in plain Scala, independent of every operator under test;
    * the q112 oracle freezes that reconstruction as an answer key
    * (xxhash64 with seed 42 is a fixed public function, so the frozen
    * rows are stable; frozen in r18). Shared
    * here so the spec and the catalog entry can never drift onto
    * different fixtures.
    */
  object CollisionFixture {
    val Buckets = 8
    val target: Seq[(Long, String)] =
      Seq(1L -> "a b a b c d", 2L -> "c d c e")
    val raw: Seq[(Long, String)] =
      target ++ Seq(3L -> "e f e f g h", 4L -> "g h i j")
    val candidates: Seq[(Long, String)] = Seq(
      10L -> "a b", 11L -> "c d", 12L -> "e f", 13L -> "g h",
      14L -> "a b c d e f g h", 15L -> "x y")

    def frames(spark: org.apache.spark.sql.SparkSession)
        : (DataFrame, DataFrame, DataFrame) = {
      def df(rows: Seq[(Long, String)]): DataFrame =
        spark.createDataFrame(rows).toDF("doc_id", "text")
      (df(target), df(raw), df(candidates))
    }
  }
}
