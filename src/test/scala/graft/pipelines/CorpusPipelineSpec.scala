package graft.pipelines

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("canonicalClusters: chains collapse to the minimum id") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // chain 1-2, 2-3, 3-4 (diameter 3) plus isolated 5 and 9
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id1", "id2")
    val got = Dedup.canonicalClusters(ids, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 9L -> 9L))
  }

  test("curate: near-dup cluster keeps only the canonical doc") {
    val base = "the quick brown fox jumps over the lazy dog and the cat " * 4
    val docs = Seq(
      (10L, base),
      (11L, base),                              // exact dup of 10
      (12L, base.replace("lazy", "late")),      // near dup of 10
      (13L, "the completely different corpus of text about engines and the data " * 4),
      (14L, "!!! ??? !!!")                      // fails quality filter (punct)
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.curate(docs,
      CorpusPipeline.Config(langs = Seq("en"), minQuality = 0.3))
    val kept = out.select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(10L, 13L)) // 11 exact-dropped, 12 near-dropped, 14 quality-dropped
    val tokens = out.filter("doc_id = 10").select("tokens").as[Int].head()
    assert(tokens > 0)
  }

  test("curate: stop-segment tier strips seeded boilerplate before the near-dup tier") {
    // every doc carries the same 8-token boilerplate prefix (one w=8
    // window); bodies are distinct. With the tier OFF the shared prefix
    // stays in the text; with it ON (>50% of docs) the prefix segment is
    // stripped corpus-wide and the bodies survive intact.
    val bp = "the standard header text of the main site"   // 8 tokens
    val bodies = Seq(
      (1L, "the quick brown fox jumps over the dog and the cat runs far away now"),
      (2L, "the slow green turtle walks under the sun and the bird flies high above"),
      (3L, "the large blue whale swims beneath the waves and the fish dart quickly past"))
    val docs = bodies.map { case (id, b) => (id, s"$bp $b") }
      .toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(langs = Seq("en"), minQuality = 0.0,
      stopSegmentFrac = Some(0.5), segmentW = 8)
    val out = CorpusPipeline.curate(docs, cfg)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    bodies.foreach { case (id, b) =>
      assert(out(id) == b, s"doc $id should keep its body, lose the prefix")
    }
    // tier off: texts unchanged
    val off = CorpusPipeline.curate(docs,
        CorpusPipeline.Config(langs = Seq("en"), minQuality = 0.0))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(off(1L) == s"$bp ${bodies.head._2}")
  }

  test("curate: heavy-hitter stop-token tier (q109 profile -> q87 " +
      "enforcement) strips the dominant token corpus-wide") {
    // "sponsored" floods every doc (4 of ~17 tokens each ≈ 24% of all
    // occurrences); body vocabulary is diverse so nothing else crosses
    // the 10% occurrence rule
    val flood = "sponsored sponsored sponsored sponsored"
    val bodies = Seq(
      (1L, "the quick brown fox jumps over a dog while cats run far away"),
      (2L, "some slow green turtle walks under that sun and birds fly high"),
      (3L, "one large blue whale swims beneath big waves where fish dart past"))
    val docs = bodies.map { case (id, b) => (id, s"$flood $b") }
      .toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(langs = Seq("en"), minQuality = 0.0,
      stopTokenFrac = Some(0.1), stopTokenCap = 64)
    val out = CorpusPipeline.curate(docs, cfg)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    bodies.foreach { case (id, b) =>
      assert(out(id) == b,
        s"doc $id should keep its body, lose the flood token: ${out(id)}")
    }
    // tier off: the flood stays
    val off = CorpusPipeline.curate(docs,
        CorpusPipeline.Config(langs = Seq("en"), minQuality = 0.0))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(off(1L).startsWith(flood))
    // an under-capped rule fails LOUDLY (0.01 < 1/65), never silently
    val e = intercept[IllegalArgumentException] {
      CorpusPipeline.curate(docs, CorpusPipeline.Config(
        langs = Seq("en"), minQuality = 0.0,
        stopTokenFrac = Some(0.01), stopTokenCap = 64))
    }
    assert(e.getMessage.contains("recall"), e.getMessage)
  }

  test("curateIncremental: day-2 batch gated against day-1 state") {
    val table = s"spec_curinc_${System.nanoTime()}"
    val path = java.nio.file.Files
      .createTempDirectory("graft_curinc_spec").toString
    val cfg = CorpusPipeline.Config(langs = Seq("en"), minQuality = 0.3)
    val base = "the quick brown fox jumps over the lazy dog and the cat " * 4
    val other = "the completely different corpus of text about engines and the data " * 4

    val day1 = Seq((10L, base), (11L, base), (12L, other))
      .toDF("doc_id", "text")
    val s1 = CorpusPipeline.curateIncremental(day1, table, path, cfg)
      .select("doc_id").as[Long].collect().sorted
    assert(s1.toSeq == Seq(10L, 12L)) // 11 is an in-batch exact dup

    val day2 = Seq(
      (20L, other),                          // exact dup of stored 12
      (21L, base.replace("lazy", "late")),   // near dup of stored 10
      (22L, "the fresh novel document about the weather and the sea and the sky " * 4),
      (23L, "!!! ??? !!!")                   // fails the quality filter
    ).toDF("doc_id", "text")
    val s2 = CorpusPipeline.curateIncremental(day2, table, path, cfg)
    assert(s2.select("doc_id").as[Long].collect().toSeq == Seq(22L))
    assert(s2.select("tokens").as[Int].head() > 0)
    for (t <- Seq(s"${table}_exact", s"${table}_mh_bands", s"${table}_mh_sigs"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  private def dropIncrementalStores(table: String): Unit =
    for (t <- Seq(s"${table}_exact", s"${table}_mh_bands", s"${table}_mh_sigs"))
      spark.sql(s"DROP TABLE IF EXISTS $t")

  private def freshIncremental(tag: String): (String, String) =
    (s"spec_${tag}_${System.nanoTime()}", java.nio.file.Files
      .createTempDirectory(s"graft_${tag}_spec").toString)

  test("curateIncremental: extra batch columns survive in input order, then tokens") {
    val (table, path) = freshIncremental("curinc_cols")
    val cfg = CorpusPipeline.Config(langs = Seq("en", "es", "fr", "de"))
    val batch = graft.Tables(spark, sf, "documents")
      .select("source", "doc_id", "lang", "text", "n_chars")
    val out = CorpusPipeline.curateIncremental(batch, table, path, cfg)
    assert(out.columns.toSeq == batch.columns.toSeq :+ "tokens")
    val got = out.drop("tokens").collect()
    assert(got.nonEmpty)
    val input = batch.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    got.foreach(r => assert(r == input(r.getAs[Long]("doc_id"))))
    dropIncrementalStores(table)
  }

  test("curateIncremental: a repeated (doc_id, text) row yields one output row") {
    val (table, path) = freshIncremental("curinc_rep")
    val cfg = CorpusPipeline.Config(langs = Seq("en"), minQuality = 0.3)
    val base = "the quick brown fox jumps over the lazy dog and the cat " * 4
    val other = "the completely different corpus of text about engines and the data " * 4
    val batch = Seq((7L, base, "a"), (7L, base, "a"), (8L, other, "b"))
      .toDF("doc_id", "text", "tag")
    val out = CorpusPipeline.curateIncremental(batch, table, path, cfg)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(7L, 8L))
    assert(spark.table(s"${table}_exact").count() == 2)
    assert(spark.table(s"${table}_mh_sigs").count() == 2)
    dropIncrementalStores(table)
  }

  test("curateIncremental over 3 batches equals the public gate composition") {
    // the reference: tier-1 filter, then exactIncremental ->
    // minhashSignatures -> minhashIncremental on the same inputs
    val cfg = CorpusPipeline.Config(langs = Seq("en", "es", "fr", "de"),
      minQuality = 0.3)
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text")
    val part = pmod(col("doc_id"), lit(3))
    val b0 = docs.filter(part === 0)
    val b1 = docs.filter(part === 1)
      .unionByName(b0.limit(20).select((col("doc_id") + 10000).as("doc_id"),
        col("text")))                                    // corpus copies
      .unionByName(docs.filter(part === 1).limit(5)
        .select((col("doc_id") + 20000).as("doc_id"), col("text"))) // in-batch
    val b2 = docs.filter(part === 2)
      .unionByName(b1.limit(20).select((col("doc_id") + 30000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "zzz").as("text"))) // near copies
    val batches = Seq(b0, b1, b2).map(_.localCheckpoint())

    val (table, path) = freshIncremental("curinc_ref")
    val (ref, refPath) = freshIncremental("curinc_ref_oracle")
    batches.zipWithIndex.foreach { case (b, i) =>
      val got = CorpusPipeline.curateIncremental(b, table, path, cfg)
        .select("doc_id").as[Long].collect().sorted.toSeq
      val exactNew = Dedup.exactIncremental(
        b.filter(graft.functions.CurateTier1
          .tier1Keep(col("text"), cfg.langs, cfg.minQuality)),
        "doc_id", "text", s"${ref}_exact", s"$refPath/exact")
      val want = Dedup.minhashIncremental(
          Dedup.minhashSignatures(exactNew, "doc_id", "text",
            cfg.minhashBits, cfg.shingleN),
          "doc_id", s"${ref}_mh", s"$refPath/mh", cfg.lshBands,
          cfg.minEstJaccard)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(got.nonEmpty, s"batch $i")
      assert(got == want, s"batch $i")
    }
    def rows(t: String): Seq[String] = spark.table(t).collect().toSeq
      .map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq.toString
        case a: scala.collection.Seq[_] => a.toString
        case v => String.valueOf(v)
      }.mkString("|")).sorted
    for (suffix <- Seq("_exact", "_mh_bands", "_mh_sigs")) {
      assert(spark.table(s"$table$suffix").columns.toSeq ==
        spark.table(s"$ref$suffix").columns.toSeq, suffix)
      assert(rows(s"$table$suffix") == rows(s"$ref$suffix"), suffix)
    }
    dropIncrementalStores(table)
    dropIncrementalStores(ref)
  }

  test("curate on the real corpus shrinks it and is deterministic") {
    val docs = graft.Tables(spark, sf, "documents")
    val out1 = CorpusPipeline.curate(docs, CorpusPipeline.Config(
      langs = Seq("en", "es", "fr", "de", "zh"), minQuality = 0.0))
    val n1 = out1.count()
    assert(n1 > 0 && n1 <= docs.count())
    val out2 = CorpusPipeline.curate(docs, CorpusPipeline.Config(
      langs = Seq("en", "es", "fr", "de", "zh"), minQuality = 0.0))
    assert(out2.count() == n1)
    // the corpus has generated near-dups: something must collapse
    assert(n1 < docs.count())
  }
}
