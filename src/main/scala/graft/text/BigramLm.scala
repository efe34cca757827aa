package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bigram language-model fluency scoring: train conditional-bigram
  * counts on the corpus, score every document by its average
  * conditional bigram probability — the n-gram-LM quality filter of
  * the CCNet/KenLM lineage (documents whose adjacent-word transitions
  * are improbable under the corpus's own statistics are boilerplate,
  * keyword stuffing, or mojibake), with the model reduced to what an
  * exact cross-engine oracle can mirror.
  *
  * The score is ln-free and integer-exact (the [[Bm25]] /
  * [[Collocations]] doctrine): per bigram, `micro(y|x) = (c_xy * 1e6)
  * div c_first(x)` — the conditional probability in exact micro-points
  * by integer division, where `c_first(x) = Σ_y c_xy` (x's
  * first-position occurrences, derived from the bigram table itself so
  * the distribution sums to 1e6 per head word). A document's
  * `sum_micro` and `n_bigrams` are exact long sums; the reported
  * `fluency = sum_micro / n_bigrams` is ONE double division mirrored
  * in the oracle (exactly rounded IEEE — bit-identical), used only for
  * the final ordering. A perplexity would be the geometric rather than
  * arithmetic mean of the same per-bigram probabilities — monotone
  * log-sums an exact oracle cannot mirror; the arithmetic mean ranks
  * the same pathologies (a doc of never-seen-together words scores
  * near zero either way).
  *
  * Plan shape (scale): the count tables ship ONE ROW PER KEY after
  * map-side partial aggregation (never token streams — the
  * [[Collocations]] join doctrine); the per-document occurrence
  * stream joins the model DIRECTLY via shuffle_hash on the 8-byte
  * `xxhash64` of the bigram (`useHashKey`) — never the bigram text
  * (the [[graft.dedup.SpanDedup]] key doctrine: the text-keyed
  * variant exists for the oracle, BigramLmSpec pins equality). Since
  * r17 the hash path is FUSED end to end
  * ([[graft.functions.BigramHashCounts]]): one codegen byte scan emits
  * each document's distinct bigrams pre-hashed and pre-counted, so the
  * regex tokenize, the string-pair explode, and the per-occurrence
  * hashing all disappear, and an xxhash64 collision's blast radius
  * shrinks: colliding bigrams in the SAME document merge scan-side,
  * and cross-document collisions merge in the (bk, w1h) count
  * aggregate when the heads also agree — only a cross-document
  * collision with DIFFERENT heads still yields two model rows under
  * one key and duplicated scoring-join rows (the r16 failure mode,
  * now requiring the rarer double coincidence). Still the same 2^-64
  * class, stated plainly rather than insured against with an
  * always-paid vocab-scale dedup exchange. A SHUFFLE-stage per-(doc, bigram) pre-collapse was
  * measured and REMOVED in r16 ([[scoreAgainst]]'s comment) — the r17
  * collapse is different in kind: it happens inside the scan, before
  * any exchange, and costs one open-addressing probe per occurrence.
  * Scoring documents the model was trained on hits every transition;
  * scoring OTHER documents left-joins with a zero default — the
  * out-of-vocabulary transition is maximally non-fluent.
  */
object BigramLm {

  private[text] def bigrams(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      TextAnalysis.wsTokens(col("text")).as("t"))
    val n1 = greatest(size(col("t")) - lit(1), lit(0))
    toks
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), n1).as("w1"),
        slice(col("t"), lit(2), n1).as("w2"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
  }

  private[text] def keyed(df: DataFrame, useHashKey: Boolean): DataFrame =
    if (useHashKey)
      df.withColumn("bk", xxhash64(concat_ws(" ", col("w1"), col("w2"))))
    else
      df.withColumn("bk", concat_ws(" ", col("w1"), col("w2")))

  /** The hash path's occurrence stream, fused (r17): one codegen scan
    * emits each document's DISTINCT bigrams as `(doc_id, bk, w1h, n)` —
    * keys pre-hashed, per-doc repeats pre-collapsed — replacing the
    * regex-tokenize + arrays_zip + string-pair explode the text path
    * keeps as the oracle anchor. `bk` is bit-equal to the old
    * `xxhash64(concat_ws(' ', w1, w2))` key (BigramHashCountsSpec pins
    * it), so models trained by either formulation join interchangeably.
    */
  private[text] def hashPairs(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
        explode(graft.functions.BigramHashCounts.bigramHashCounts(
          col("text"))).as("b"))
      .select(col("doc_id"), col("b.bk").as("bk"), col("b.w1h").as("w1h"),
        col("b.cnt").cast("long").as("n"))
  }

  /** Train the conditional-bigram model on `docs`: `(bk, micro)` — one
    * row per distinct training bigram, `micro` its exact micro-point
    * conditional probability. This is the frame the scoring surfaces
    * join against; persist it (a bucketed table on `bk`) to amortize
    * training across scoring batches.
    */
  def trainModel(docs: DataFrame, useHashKey: Boolean = true): DataFrame = {
    if (useHashKey) {
      // fused scan path (r17): count tables build from the pre-hashed,
      // pre-collapsed (bk, w1h, n) stream — the exchange ships 16-byte
      // key rows instead of string pairs, one per distinct bigram per
      // doc. An 8-byte head-hash (w1h) grouping replaces the head TEXT
      // for c_first — a head collision merges two heads' distributions,
      // the same 2^-64 class as the bk key itself (class doc).
      val bic = hashPairs(docs).groupBy(col("bk"), col("w1h"))
        .agg(sum(col("n")).as("c_xy"))
      val cFirst = bic.groupBy(col("w1h"))
        .agg(sum(col("c_xy")).as("c_first"))
      return bic.join(cFirst, Seq("w1h"))
        .select(col("bk"),
          expr("(c_xy * CAST(1000000 AS BIGINT)) div c_first").as("micro"))
    }
    val bic = bigrams(docs).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
    val cFirst = bic.groupBy(col("w1"))
      .agg(sum(col("c_xy")).as("c_first"))
    keyed(
      bic.join(cFirst, Seq("w1"))
        .select(col("w1"), col("w2"),
          expr("(c_xy * CAST(1000000 AS BIGINT)) div c_first").as("micro")),
      useHashKey).select(col("bk"), col("micro"))
  }

  /** Persist a trained model for cross-run scoring (the streaming
    * quality gate's input, [[graft.streaming.StreamingOps
    * .fluencyGateEachBatch]]). Plain parquet: the model is one
    * vocab-scale (bk, micro) frame and the scoring join is
    * `shuffle_hash`, which places both sides itself; a cluster
    * deployment amortizing MANY scoring runs against one model would
    * persist it as a `bk`-bucketed TABLE instead (bucket metadata only
    * survives through the catalog, not a bare parquet read).
    */
  def saveModel(model: DataFrame, path: String): Unit =
    model.write.mode("overwrite").parquet(path)

  /** Score `docs` against an already-trained `model` (the CCNet
    * deployment shape: train on a trusted reference corpus, score
    * candidate batches against it). Out-of-vocabulary transitions
    * contribute ZERO micro-points — an adjacency the reference corpus
    * never produced is maximally non-fluent — via the left join's
    * coalesce, so a document of entirely novel transitions scores 0.0
    * instead of dropping out.
    */
  def scoreAgainst(model: DataFrame, docs: DataFrame,
                   useHashKey: Boolean = true): DataFrame =
    // the occurrence stream joins the model directly (one exchange to
    // the join key, one to the doc key, partial-agg map-side before
    // each). An EXCHANGE-stage pre-collapse to distinct (doc, bigram)
    // rows measured SLOWER at sf1 in r16 (3.75s — a third full-stream
    // exchange); the r17 hash path instead collapses INSIDE the scan
    // (BigramHashCounts — no exchange, one table probe per occurrence)
    // and weights the join rows by n. shuffle_hash on the vocab-sized
    // model: the SMJ sort of the token-scale stream was HALF the query
    // (solo-measured 3.75→1.89s)
    {
      val stream =
        if (useHashKey) hashPairs(docs).select(col("doc_id"), col("bk"), col("n"))
        else keyed(bigrams(docs), useHashKey)
          .select(col("doc_id"), col("bk"), lit(1L).as("n"))
      stream
        .join(model.hint("shuffle_hash"), Seq("bk"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_bigrams"),
          sum(col("n") * coalesce(col("micro"), lit(0L))).as("sum_micro"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_micro"),
          (col("sum_micro").cast("double") /
            col("n_bigrams").cast("double")).as("fluency"))
    }

  /** Per-document fluency: `(doc_id, n_bigrams, sum_micro, fluency)`
    * for every document with at least one bigram, the corpus itself
    * being the training set. Self-scoring never hits the OOV path —
    * every bigram is in its own training table, so the left join is an
    * inner join by construction and the q104 oracle needs no coalesce.
    */
  def fluencyScores(docs: DataFrame,
                    useHashKey: Boolean = true): DataFrame =
    scoreAgainst(trainModel(docs, useHashKey), docs, useHashKey)

  /** The filter surface: the `k` LEAST fluent documents (ascending
    * average conditional probability, ties by doc_id) — the ones a
    * quality gate drops first.
    */
  def leastFluent(docs: DataFrame, k: Int,
                  useHashKey: Boolean = true): DataFrame =
    fluencyScores(docs, useHashKey)
      .orderBy(col("fluency").asc, col("doc_id").asc)
      .limit(k)
}
