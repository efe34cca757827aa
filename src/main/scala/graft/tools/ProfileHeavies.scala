package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Stage-level timing of the THREE heaviest bench members' actual
  * catalog machinery (r21 optimization round) — unlike
  * [[ProfilePipeline]], which profiles the curate() composition over
  * the RAW documents table at default thresholds (a far harder organic
  * fixture than the catalog's salted corpus) and leaks one set of
  * localCheckpoints per pass, this probe mirrors exactly what a bench
  * rep of q37 / q83 executes, stage by stage, each stage isolated
  * behind an eagerly-released checkpoint of its input:
  *
  *   sbt "runMain graft.tools.ProfileHeavies data/sf1 3"
  *
  * One untimed warm pass per stage, then `reps` timed runs, median
  * printed. Inputs come from the same memoized fixtures the catalog
  * uses (saltedCopySeededForAudit), so the numbers decompose the
  * in-bench medians rather than some other workload's.
  */
object ProfileHeavies {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("data/sf1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timed(what: String)(f: => DataFrame): Unit = {
      Timing.materialize(f) // warm
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        Timing.materialize(f)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[heavies] $what%-34s ${ts(reps / 2)}%7.3f s (med of $reps)")
    }

    // ---------------- q37: minhash + LSH over the salted corpus -------
    val corpus = graft.catalog.DedupQueries.saltedCopySeededForAudit(spark, dir)
    timed("q37 corpus read (memoized cp)")(corpus)
    val sigPlan = Dedup.minhashSignatures(corpus, "doc_id", "text",
      numHashes = 32, shingleN = 5)
    timed("q37 sig fused scan")(sigPlan)
    val sig = sigPlan.localCheckpoint()
    timed("q37 bands+pairs (from sig cp)")(
      Dedup.lshCandidates(sig, "doc_id", bands = 8))
    val cands = Dedup.lshCandidates(sig, "doc_id", bands = 8).localCheckpoint()
    timed("q37 verify joins (from cps)")(
      Dedup.minhashJaccard(cands, sig, "doc_id")
        .filter(col("est_jaccard") >= 0.99))
    timed("q37 end-to-end (catalog entry)")(
      graft.SparkEntry.queries("q37_minhash_lsh")(spark, dir))

    // ---------------- q45: curation composition stages -----------------
    locally {
      import graft.text.TextAnalysis
      graft.functions.Texts.register(spark)
      val corpus = graft.catalog.DedupQueries
        .curationCorpusForAudit(spark, dir)
      timed("q45 corpus read (memoized cp)")(corpus)
      val langs = Seq("en", "es", "fr", "de", "zh")
      val filtered = corpus
        .filter(TextAnalysis.langId(col("text"))
          .isin(langs.map(x => x: Any): _*))
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.0)
      timed("q45 tier1 filters unfused (pre-r22)")(filtered)
      // r22 A/B arm: the fused single-scan predicate the pipeline now
      // runs (see graft.functions.CurateTier1). The catalog-level q45
      // explain is checkpoint-truncated, so the filter stage's plan
      // evidence is dumped here when GRAFT_PLAN_DIR is set.
      val fused = corpus.filter(graft.functions.CurateTier1
        .tier1Keep(col("text"), langs, 0.0))
      timed("q45 tier1 fused (r22)")(fused)
      for (pd <- sys.env.get("GRAFT_PLAN_DIR")) {
        def dump(name: String, df: DataFrame): Unit =
          java.nio.file.Files.write(
            java.nio.file.Paths.get(pd, name),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
              .getBytes("UTF-8"))
        dump("q45_tier1_filter_before.txt", filtered)
        dump("q45_tier1_filter_after.txt", fused)
      }
      val exactPlan = filtered
        .groupBy(md5(col("text")).as("__text_hash"))
        .agg(min_by(struct(corpus.columns.map(col): _*), col("doc_id"))
          .as("__doc"))
        .select(col("__doc.*"))
      timed("q45 tier1+2 exact dedup")(exactPlan)
      val exactKept = exactPlan.localCheckpoint()
      val sigPlan = Dedup.minhashSignatures(exactKept, "doc_id", "text")
      timed("q45 sig scan (from exact cp)")(sigPlan)
      val sig45 = sigPlan.localCheckpoint()
      timed("q45 bands+pairs (from sig cp)")(
        Dedup.lshCandidates(sig45, "doc_id", bands = 8))
      val pairs45 = Dedup.minhashJaccard(
          Dedup.lshCandidates(sig45, "doc_id", bands = 8), sig45, "doc_id")
        .filter(col("est_jaccard") >= 0.9).localCheckpoint()
      timed("q45 cc (from pairs cp)")(Dedup.canonicalClusters(
        exactKept.select("doc_id"), pairs45, "doc_id"))
      val clusters45 = Dedup.canonicalClusters(
        exactKept.select("doc_id"), pairs45, "doc_id").localCheckpoint()
      timed("q45 survivors + tokens")(
        exactKept.join(clusters45
            .filter(col("doc_id") === col("canonical_id"))
            .select("doc_id").hint("shuffle_hash"),
            Seq("doc_id"), "left_semi")
          .withColumn("tokens", TextAnalysis.tokenCountRe(col("text"))))
      timed("q45 end-to-end (catalog entry)")(
        graft.SparkEntry.queries("q45_curate_corpus")(spark, dir))
    }

    // ---------------- q83: SemDeDup within-cell search ----------------
    timed("q83 end-to-end (catalog entry)")(
      graft.SparkEntry.queries("q83_semantic_dedup")(spark, dir))
    val emb = graft.Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val copies = emb.filter(pmod(col("vec_id"), lit(10L)) === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val all = emb.unionByName(copies).localCheckpoint()
    val cells = graft.dedup.SemDedup.assignCells(all, "vec_id", "embedding",
      nClusters = 0).localCheckpoint()
    timed("q83 within-cell search (from cp)")(
      graft.dedup.SemDedup.semanticDedupAssigned(all, cells, "vec_id",
        "embedding", minCosine = 0.95))

    spark.stop()
  }
}
