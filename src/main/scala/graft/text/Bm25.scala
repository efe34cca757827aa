package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 document retrieval: top-k documents for a fixed term set.
  *
  * The companion surface to [[Tfidf]] (corpus-characteristic terms):
  * where TF-IDF answers "what terms mark this source", BM25 answers the
  * retrieval question a training-data pipeline asks when mining a corpus
  * for topical subsets — "which documents match this query" — with the
  * length-normalized saturation that plain tf*idf lacks.
  *
  * Determinism (the oracle is hash-compared cross-engine):
  *  - the idf is the RATIONAL Robertson form `(N - df + 0.5)/(df + 0.5)`
  *    WITHOUT the usual `ln` — subtraction/division are exactly rounded
  *    IEEE ops that are bit-identical across engines, `ln` is a libm
  *    call that is not (the [[Tfidf]] linear-idf argument); ranking is
  *    unchanged for any monotone transform of a per-term factor only up
  *    to single-term queries, so here the UNTRANSFORMED factor is the
  *    semantics, not an optimization;
  *  - `k1 = 1.25`, `b = 0.75`: both (and every derived constant —
  *    `k1+1 = 2.25`, `1-b = 0.25`) are binary-exact doubles, so a SQL
  *    decimal literal and a Scala double literal denote the SAME value;
  *  - the per-(doc, term) score is one fixed expression tree evaluated
  *    in double (every op exactly rounded, both engines see identical
  *    bits), then quantized to LONG micro-points (`floor(score * 1e6)`)
  *    BEFORE the per-document sum: long addition is order-independent,
  *    where a double sum would be summation-order-dependent and poison
  *    the hash compare (the exact-money doctrine of
  *    [[graft.functions.ExactMoney]] applied to scores).
  *
  * Plan shape (scale): the tokenize pass is projected once into a
  * NARROW frame — `(doc_id, dl, hits)` where `hits` keeps only the
  * query's terms out of the one-pass codegen
  * [[graft.functions.TermCounts]] table, ~40 bytes/doc against the
  * corpus text — which the caller should checkpoint ([[narrowForTerms]]
  * / [[topKFromNarrow]] split, the q85 pattern) so the three consumers
  * (corpus stats, df table, scorer) share ONE tokenize. The df table is
  * at most |query| rows (broadcast), corpus stats are a 1-row broadcast
  * cross join, and the only exchange is the per-document partial-agg
  * sum of longs feeding a `TakeOrderedAndProject` top-k — no
  * vocabulary-sized structure ever ships, so the shape holds at 100 TB
  * (contrast [[Tfidf]], whose df table is vocabulary-sized and
  * deliberately shuffle-joined).
  */
object Bm25 {

  /** One tokenize pass, projected to what the scorer needs: `(doc_id,
    * dl, tcs)` with `tcs` = the query terms' `(term, cnt)` entries only.
    * Checkpoint this (narrow) frame before handing it to
    * [[topKFromNarrow]] — it is consumed three times.
    */
  def narrowForTerms(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "bm25: empty query term set")
    docs.select(
      col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).cast("long").as("dl"),
      filter(graft.functions.TermCounts.termCounts(col("text")),
        tc => tc.getField("term").isin(terms: _*)).as("tcs"))
  }

  /** Top-`k` documents by summed micro-point BM25 over the narrow frame,
    * ties broken by `doc_id`. Returns `(doc_id, n_terms, score_micro)`
    * — `n_terms` = how many distinct query terms the document hit.
    */
  def topKFromNarrow(narrow: DataFrame, k: Int,
                     k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val stats = narrow.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_tokens"))
    def hits = narrow
      .select(col("doc_id"), col("dl"), explode(col("tcs")).as("tc"))
      .select(col("doc_id"), col("dl"), col("tc.term").as("term"),
        col("tc.cnt").cast("long").as("tf"))
    val dfTbl = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))

    val ndD = col("n_docs").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val avgdl = col("tot_tokens").cast("double") / ndD
    val idf = (ndD - dfD + lit(0.5)) / (dfD + lit(0.5))
    val core = (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (dlD / avgdl)))
    val micro: Column = floor(idf * core * lit(1000000.0))

    hits
      .join(broadcast(dfTbl), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), micro.as("micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_terms"), col("score_micro"))
  }
}
