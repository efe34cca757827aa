package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed-feature linear classifier INFERENCE — the fastText-style
  * quality-model scoring pass of a curation pipeline (cf. the
  * GPT-3/CCNet "quality classifier" stage: a linear model over hashed
  * bag-of-words features, applied to every document of the corpus).
  *
  * The model here is the *feature-hashing trick* end to end: a token's
  * weight is looked up by HASH, never by vocabulary join, so inference
  * is a pure per-row expression — one codegen'd map over the scan, ZERO
  * shuffle and zero broadcast at any corpus size. This file ships a
  * deterministic salt-keyed weight function (md5-derived uniform in
  * [-1, 1), the same portable-hash family as
  * [[graft.ops.Sampling.hashBucket]]) standing in for trained weights;
  * swapping in a real model means replacing [[tokenWeight]] with a
  * `hash -> weight` array lookup broadcast once per job — the plan
  * shape (scan-side map, no exchange) is identical, which is exactly
  * what the catalog entry pins against its oracle.
  *
  * Determinism: both engines fold the SAME token order (document
  * order — Spark's `aggregate` HOF and DuckDB's `LIST_SUM` are both
  * sequential left folds), so the IEEE double sum is bit-identical
  * cross-engine; the final score is rounded to 6 decimals anyway.
  */
object HashedClassifier {

  /** Uniform weight in [-1, 1) from the first 8 md5 hex chars of
    * (token, salt) — the deterministic stand-in for a trained weight
    * table, keyed the way a feature-hashed model is keyed.
    */
  def tokenWeight(token: Column, salt: String): Column =
    conv(substring(md5(concat(token, lit(salt))), 1, 8), 16, 10)
      .cast("long") / lit(2147483648.0) - 1.0

  /** Score every document: `score = bias + mean(tokenWeight(t))` over
    * its whitespace tokens, rounded to 6 decimals; `label` is the
    * thresholded keep/drop decision. Empty/blank docs score `bias`.
    * Output: idCol, `score` (double), `label` ("keep" | "drop").
    *
    * The mean runs as the codegen'd
    * [[graft.functions.HashedScoreExpr]] — one tight byte-level loop
    * per document. The semantically-identical Column form (an
    * `aggregate` HOF folding [[tokenWeight]] over
    * [[TextAnalysis.wsTokens]]) is what the expression is defined
    * against and what HashedClassifierSpec pins parity with; Catalyst
    * interprets HOF lambdas, which made the fold ~4.7x DuckDB at sf1
    * despite the zero-shuffle plan.
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
                salt: String = "qc-v1", bias: Double = 0.0,
                threshold: Double = 0.0): DataFrame = {
    docs
      .select(col(idCol),
        round(lit(bias) +
          graft.functions.HashedScores.hashedScore(col(textCol), salt),
          6).as("score"))
      .withColumn("label",
        when(col("score") > threshold, lit("keep")).otherwise(lit("drop")))
  }
}
