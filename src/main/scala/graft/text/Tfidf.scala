package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level term weighting: top-k characteristic terms per source by
  * TF-IDF.
  *
  * The idf here is the LINEAR inverse document frequency `N / df` (not
  * `ln(N/df)`): subtraction-free IEEE division and multiplication are
  * exactly rounded and therefore bit-identical across engines, whereas
  * `ln` is a correctly-rounded-only-in-practice libm call that can
  * differ in the last ulp between Spark's JVM and another engine —
  * which would poison a hash-compared oracle. Ranking is unaffected for
  * any monotone idf transform when comparing within a fixed term set.
  *
  * Plan shape: one explode of distinct per-doc terms → partial-agg
  * `groupBy(term)` for df; one explode of all tokens → partial-agg
  * `groupBy(source, term)` for tf; a term-keyed shuffle join of the
  * two partial-aggregated frames (the df table is vocabulary-sized —
  * 10⁸–10⁹ terms on a web corpus — so it is deliberately NOT
  * broadcast: collecting an unbounded aggregate to the driver is a
  * scale-killer; both join inputs are already reduced to one row per
  * (key, term), so the shuffle ships aggregates, not tokens, and AQE
  * may still pick a broadcast at small SF on its own evidence);
  * per-source top-k via `row_number` over partitions keyed by source
  * (parallel, tiny groups). N is a 1-row scalar cross join, not a
  * driver `.count()`.
  */
object Tfidf {

  /** Returns `(source, rnk, term, tf, df, score)`, the top `k` terms per
    * source by `tf * (N / df)` descending, ties broken by term ascending.
    *
    * Both frequency tables derive from `explode(term_counts(text))` —
    * one distinct-terms row per (doc, term) with its in-doc count
    * (r13): df counts those rows per term, tf sums the counts per
    * (source, term). The old Column form paid an
    * `explode(array_distinct(wsTokens))` pass for df plus an explode
    * of the FULL token stream for tf — the codegen one-pass count
    * table replaces both, and the exploded frame is the (2-4x smaller)
    * distinct-terms one on BOTH branches. Each branch re-derives the
    * expression from the scan rather than checkpointing the exploded
    * frame — that intermediate is corpus-sized, exactly the state the
    * CorpusPipeline shared-tokenization audit says not to hold.
    */
  def topTermsBySource(docs: DataFrame, k: Int): DataFrame = {
    def pairs = docs.select(col("doc_id"), col("source"),
        explode(graft.functions.TermCounts.termCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("source"),
        col("tc.term").as("term"), col("tc.cnt").as("cnt"))
    val dfTbl = pairs.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val tfTbl = pairs.groupBy(col("source"), col("term"))
      .agg(sum(col("cnt")).as("tf"))
    val nTbl = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tfTbl
      .join(dfTbl, Seq("term"))
      .crossJoin(broadcast(nTbl))
      .withColumn("score",
        col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("term"), col("tf"),
        col("df"), col("score"))
  }
}
