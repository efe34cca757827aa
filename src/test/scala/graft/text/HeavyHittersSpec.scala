package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.MisraGriesAgg

/** Exact heavy hitters via sketch-then-verify: the Misra-Gries recall
  * guarantee (every term above total/(cap+1) survives), exactness of the
  * verified counts, partitioning invariance, the provable flag's
  * semantics, and the broadcast plan shape.
  */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  /** A corpus with `hot` heavy tokens (freq descending: 100, 90, 80...)
    * drowned in `noise` unique filler tokens — vocabulary ≫ any small
    * cap, so the sketch MUST decrement to survive.
    */
  private def corpus(hot: Int, noise: Int) = {
    val hotDocs = (0 until hot).map { h =>
      (h.toLong, (s"hot$h " * (100 - 10 * h)).trim)
    }
    val noiseDocs = (0 until noise).map { i =>
      (1000L + i, s"u${i}a u${i}b u${i}c")
    }
    (hotDocs ++ noiseDocs).toDF("doc_id", "text")
  }

  private def bruteTopK(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(k)
      .as[(String, Long)].collect().toSeq

  test("exactTopK == brute-force top-k on a vocab >> cap corpus, and " +
      "every emitted row is provable") {
    val docs = corpus(hot = 5, noise = 300) // vocab ≈ 905, cap 32
    val got = HeavyHitters.exactTopK(docs, k = 5, cap = 32)
      .as[(String, Long, Boolean)].collect().toSeq
    assert(got.map(t => (t._1, t._2)) == bruteTopK(docs, 5))
    // hot counts 100..60 each ≫ total/(33); filler terms appear 1x
    assert(got.forall(_._3), s"all hot rows must certify: $got")
  }

  test("Misra-Gries recall guarantee: every term above total/(cap+1) " +
      "is in the sketch, across partitionings") {
    val docs = corpus(hot = 5, noise = 300)
    val truth = bruteTopK(docs, Int.MaxValue).toMap
    val total = truth.values.sum
    for (parts <- Seq(1, 7)) {
      val row = docs.repartition(parts)
        .agg(MisraGriesAgg.mgTopK(col("text"), 16).as("s"))
        .select(col("s.total"), col("s.items"))
        .as[(Long, Seq[(String, Long)])].collect().head
      assert(row._1 == total, "sketch total counts every token")
      val candidates = row._2.map(_._1).toSet
      assert(row._2.size <= 16, "emits at most cap items")
      val mustHave = truth.filter(_._2 * 17 > total).keySet
      assert(mustHave.subsetOf(candidates),
        s"guarantee broken at parts=$parts: ${mustHave.diff(candidates)}")
      // lb is a lower bound on the true count, never an overestimate
      row._2.foreach { case (term, lb) => assert(lb <= truth(term)) }
    }
  }

  test("result is invariant under repartitioning") {
    val docs = corpus(hot = 4, noise = 200)
    val a = HeavyHitters.exactTopK(docs.repartition(1), 4, cap = 24)
      .collect().toSeq
    val b = HeavyHitters.exactTopK(docs.repartition(11), 4, cap = 24)
      .collect().toSeq
    assert(a == b)
  }

  test("an under-capped flat corpus reports provable = false instead " +
      "of silently claiming exactness") {
    // 50 terms, each appearing 3x: nothing exceeds total/(cap+1) for
    // cap = 4 (threshold 150/5 = 30), so no row may certify
    val docs = (0 until 50).map(i => (i.toLong, s"t$i t$i t$i"))
      .toDF("doc_id", "text")
    val got = HeavyHitters.exactTopK(docs, k = 3, cap = 4)
      .as[(String, Long, Boolean)].collect().toSeq
    assert(got.forall(!_._3), s"flat corpus must not certify: $got")
  }

  test("the verify scan joins the candidates BROADCAST (no " +
      "vocabulary-scale exchange)") {
    val docs = corpus(hot = 3, noise = 50)
    val plan = HeavyHitters.exactTopK(docs, 3, cap = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), s"expected broadcast join:\n$plan")
  }

  test("exactTopKByGroup == per-group brute force, groups isolated, " +
      "provable certifies against the GROUP's total") {
    // group g0: hot tokens drowned in noise; group g1: a flat corpus —
    // the same cap certifies g0's winners and refuses g1's
    val g0 = (0 until 3).map(h =>
      (h.toLong, (s"hot$h " * (60 - 10 * h)).trim, "g0")) ++
      (0 until 150).map(i => (100L + i, s"n${i}x n${i}y", "g0"))
    val g1 = (0 until 40).map(i => (500L + i, s"f$i f$i", "g1"))
    val docs = (g0 ++ g1).toDF("doc_id", "text", "grp")
    val got = HeavyHitters.exactTopKByGroup(docs, "grp", k = 3, cap = 16)
      .as[(String, String, Long, Boolean)].collect().toSeq
    // brute force for the certifiable group: g0's winners (60/50/40 of
    // 450 tokens) clear total/(cap+1) so its top-3 is provably exact
    val bruteG0 = docs.filter(col("grp") === "g0")
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().toSeq
      .sortBy(r => (-r._2, r._1)).take(3)
    assert(got.filter(_._1 == "g0").map(t => (t._2, t._3)) == bruteG0)
    assert(got.filter(_._1 == "g0").forall(_._4), s"g0 must certify: $got")
    // g1 is flat (every term appears 2x of 80): whatever candidates its
    // sketch kept, NONE may claim provability — and every reported
    // count is still exact (2) because the verify scan counts truly
    val g1got = got.filter(_._1 == "g1")
    assert(g1got.forall(!_._4), s"flat g1 must not certify: $g1got")
    assert(g1got.forall(_._3 == 2L), s"verified counts stay exact: $g1got")

    // a NULL-valued stratum is a real group, not silently dropped (the
    // verify join is null-safe on the group key)
    val withNull = docs.union(
      Seq((900L, "nullhot nullhot nullhot", null: String),
        (901L, "nullhot other", null: String)).toDF("doc_id", "text", "grp"))
    val nullTop = HeavyHitters.exactTopKByGroup(withNull, "grp", 1, cap = 16)
      .filter(col("grp").isNull)
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(nullTop.map(t => (t._2, t._3)) == Seq(("nullhot", 4L)),
      s"the null stratum's top token must be reported: $nullTop")
  }

  test("exactTopKByGroup group-cardinality contract: above " +
      "maxBroadcastGroups the verify join takes the SHUFFLED path, " +
      "result-equal to the broadcast path") {
    // 20 strata, each with its own hot token + filler
    val docs = (0 until 20).flatMap { g =>
      Seq((g * 10L, s"hot$g hot$g hot$g common", s"g$g"),
        (g * 10L + 1, s"filler$g common", s"g$g"))
    }.toDF("doc_id", "text", "grp")
    val viaBroadcast = HeavyHitters
      .exactTopKByGroup(docs, "grp", k = 2, cap = 16)
    val viaShuffle = HeavyHitters
      .exactTopKByGroup(docs, "grp", k = 2, cap = 16,
        maxBroadcastGroups = 4)
    val pb = viaBroadcast.queryExecution.executedPlan.toString
    val ps = viaShuffle.queryExecution.executedPlan.toString
    assert(pb.contains("BroadcastHashJoin"),
      s"low-cardinality call must broadcast:\n$pb")
    assert(!ps.contains("BroadcastHashJoin"),
      s"over-threshold call must not build a groups*cap broadcast:\n$ps")
    assert(ps.contains("ShuffledHashJoin") || ps.contains("SortMergeJoin"),
      s"over-threshold call must shuffle the candidate join:\n$ps")
    val a = viaBroadcast
      .as[(String, String, Long, Boolean)].collect().toSeq
    val b = viaShuffle
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(a == b, s"paths must be result-equal:\n$a\nvs\n$b")
    assert(a.nonEmpty && a.count(_._2.startsWith("hot")) == 20,
      s"every stratum's hot token must surface: $a")
  }

  test("stopTokens == brute-force occurrence rule (exact+complete by " +
      "the recall contract); dropStopTokens rebuilds == brute-force " +
      "token filter") {
    val docs = corpus(hot = 4, noise = 120) // hot0..hot3 dominate
    val brute = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().toSeq
    val total = brute.map(_._2).sum
    val frac = 0.05
    val expectStop = brute.filter(_._2.toDouble > frac * total)
      .map(_._1).toSet
    assert(expectStop.nonEmpty && expectStop.size < brute.size)
    val gotStop = HeavyHitters.stopTokens(docs, frac, cap = 32)
      .select("term").as[String].collect().toSet
    assert(gotStop == expectStop, s"$gotStop vs $expectStop")
    // enforcement: every doc rebuilt without exactly the stop tokens
    val rebuilt = HeavyHitters.dropStopTokens(docs, frac, cap = 32)
      .select("doc_id", "n_toks", "n_kept", "text_dedup")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val kept = toks.filterNot(expectStop)
      val (_, nT, nK, td) = rebuilt(id)
      assert(nT == toks.size && nK == kept.size && td == kept.mkString(" "),
        s"doc $id: got $nK/$nT '$td', want ${kept.size}/${toks.size}")
    }
    // the recall contract is loud: frac below 1/(cap+1) throws
    val e = intercept[IllegalArgumentException] {
      HeavyHitters.stopTokens(docs, 0.001, cap = 32)
    }
    assert(e.getMessage.contains("recall"), e.getMessage)
  }

  test("summaryFromStore survives a torn newest summary (mid-overwrite " +
      "crash or a dir swept between listing and read): falls back to " +
      "the predecessor; the MERGE path stays strict") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-hh-torn").toString
    val b0 = Seq((0L, "alpha alpha beta")).toDF("doc_id", "text")
    val b1 = Seq((1L, "gamma gamma delta")).toDF("doc_id", "text")
    HeavyHitters.mergeAndWriteSummary(b0, "text", store, 0L, cap = 8)
    HeavyHitters.mergeAndWriteSummary(b1, "text", store, 1L, cap = 8)
    assert(HeavyHitters.summaryFromStore(spark, store)
      .select("total").head().getLong(0) == 6L)
    // tear the newest dir the way a crashed overwrite (or a sweep
    // racing the reader's listing) leaves it: present but unreadable
    val d1 = new java.io.File(s"$store/summary_batch=1")
    d1.listFiles().foreach(f => assert(f.delete() || f.isDirectory))
    val fallback = HeavyHitters.summaryFromStore(spark, store)
    assert(fallback.select("total").head().getLong(0) == 3L,
      "the public reader must fall back to the predecessor summary")
    assert(fallback.select("term").as[String].collect().toSet ==
      Set("alpha", "beta"))
    // a summary dir with files but NO null-term meta row (torn between
    // part-file writes) is equally unreadable — same fallback
    Seq(("gamma", 2L)).toDF("term", "lb")
      .withColumn("total", lit(0L))
      .write.mode("overwrite").parquet(d1.toString)
    assert(HeavyHitters.summaryFromStore(spark, store)
      .select("total").head().getLong(0) == 3L,
      "a meta-less summary must not be trusted")
    // the merge path must NOT silently fall back: batch 2's predecessor
    // (batch 1) being unreadable is corruption under the single-writer
    // premise, and skipping it would drop its mass from the stream total
    d1.listFiles().foreach(_.delete())
    intercept[Exception] {
      HeavyHitters.mergeAndWriteSummary(
        Seq((2L, "x y")).toDF("doc_id", "text"), "text", store, 2L, cap = 8)
    }
  }

  test("mg_topk resolves through SQL and GraftExtensions registration") {
    corpus(2, 10).createOrReplaceTempView("hh_docs")
    val r = spark.sql(
      "SELECT s.total, size(s.items) FROM " +
        "(SELECT mg_topk(text, 8) AS s FROM hh_docs)")
      .as[(Long, Int)].collect().head
    assert(r._1 > 0 && r._2 > 0 && r._2 <= 8)
  }
}
