package graft.dedup

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val longA = "the quick brown fox jumps over the lazy dog " * 5
  private val longANear = longA.replace("lazy", "late") // small edit
  private val longB = "completely different content about spark engines " * 5

  private lazy val docs = Seq(
    (0L, longA), (1L, longA), // exact dup pair
    (2L, longANear), // near dup of 0/1
    (3L, longB),
    (4L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per identical text") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(0L, 2L, 3L, 4L)) // 1 collapsed into 0
  }

  test("minhash signatures: identical texts get identical signatures") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 32, 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(0L) == sig(1L))
    assert(sig.values.forall(_.length == 32))
    // near-dup shares most positions; unrelated shares few
    def overlap(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 == p._2)
    assert(overlap(sig(0L), sig(2L)) > overlap(sig(0L), sig(3L)))
  }

  test("LSH banding surfaces exact and near dup pairs") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 32, 5)
    val pairs = Dedup.lshCandidates(sig, "doc_id", bands = 8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
  }

  test("minhashJaccard estimates 1.0 for identical texts") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 32, 5)
    val est = Dedup.minhashJaccard(Dedup.lshCandidates(sig, "doc_id", 8), sig, "doc_id")
      .filter("id1 = 0 and id2 = 1").select("est_jaccard").as[Double].head()
    assert(est == 1.0)
  }

  test("simhash: identical -> hamming 0; near-dup close; candidates found") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(2L)) < ham(sh(0L), sh(3L)))
    val cands = Dedup.simhashCandidates(
      Dedup.simhash(docs, "doc_id", "text"), "doc_id", maxDist = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 1L)))
  }

  test("ngramJaccard: identical pair scores 1.0, threshold filters noise") {
    val got = Dedup.ngramJaccard(docs, "doc_id", "text", n = 5, minJaccard = 0.2)
      .as[(Long, Long, Double)].collect()
    val m = got.map(t => (t._1, t._2) -> t._3).toMap
    assert(m((0L, 1L)) == 1.0)
    assert(m((0L, 2L)) > 0.5 && m((0L, 2L)) < 1.0)
    assert(!m.contains((0L, 3L)))
  }

  test("ngramJaccard stop-shingle rule: boilerplate leaves the similarity space") {
    // 1000 identical docs: every one of their shingles has document
    // frequency 1000 > floor(0.1 x 1002), so the DECLARED rule removes
    // the flood from the similarity space entirely — no pairs at all,
    // not even the capped lower-bound rows — while the two-member
    // near-dup pair (df = 2) keeps its full shingle set and scores an
    // EXACT 1.0 (sizes are computed post-filter, so the kept-space
    // jaccard is exact, not a lower bound)
    val flood = (0L until 1000L).map(i => (i, longA)) ++
      Seq((1000L, longB), (1001L, longB))
    val nj = Dedup.ngramJaccard(flood.toDF("doc_id", "text"), "doc_id",
        "text", n = 5, minJaccard = 0.0, maxDocFrac = 0.1)
      .as[(Long, Long, Double)].collect()
    assert(nj.toSeq == Seq((1000L, 1001L, 1.0)))
  }

  test("hot-bucket cap: 1k identical docs complete without quadratic pairs") {
    // 1000 identical docs saturate every band bucket (sz 1000 > cap 500);
    // uncapped this is ~C(1000,2) x bands pair rows. The cap drops those
    // buckets (exact-dedup tier owns the identical case) while a small
    // distinct near-dup pair in its own buckets is still surfaced.
    // the small surviving bucket is an exact-dup pair: J=1 collides in
    // every band, so its survival is deterministic, not probabilistic
    val flood = (0L until 1000L).map(i => (i, longA)) ++
      Seq((1000L, longB), (1001L, longB))
    val df = flood.toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(df, "doc_id", "text", 32, 5)
    val pairs = Dedup.lshCandidates(sig, "doc_id", bands = 8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1000L, 1001L)))
    assert(!pairs.exists(p => p._1 < 1000L && p._2 < 1000L))

    val shPairs = Dedup.simhashCandidates(
      Dedup.simhash(df, "doc_id", "text"), "doc_id")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(shPairs.contains((1000L, 1001L)))
    assert(!shPairs.exists(p => p._1 < 1000L && p._2 < 1000L))

    val nj = Dedup.ngramJaccard(df, "doc_id", "text", n = 5,
      minJaccard = 0.2).as[(Long, Long, Double)].collect()
    assert(nj.exists(t => t._1 == 1000L && t._2 == 1001L))
    assert(!nj.exists(t => t._1 < 1000L && t._2 < 1000L))
  }

  test("bucketCapAudit reports the mass the silent cap dropped") {
    val flood = (0L until 1000L).map(i => (i, longA))
    val sig = Dedup.minhashSignatures(flood.toDF("doc_id", "text"),
      "doc_id", "text", 32, 5)
    val (nb, mass) = Dedup.bucketCapAudit(
      Dedup.bandRowsOf(sig, "doc_id", 8), maxBucket = 500)
    assert(nb == 8L) // every band's single bucket is saturated
    assert(mass == 8L * 1000L)
    val (nb2, _) = Dedup.bucketCapAudit(
      Dedup.bandRowsOf(Dedup.minhashSignatures(docs, "doc_id", "text", 32, 5),
        "doc_id", 8), maxBucket = 500)
    assert(nb2 == 0L)
  }

  test("hot-bucket cap is inert when no bucket exceeds the threshold") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 32, 5)
    val capped = Dedup.lshCandidates(sig, "doc_id", 8, maxBucket = 500)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.lshCandidates(sig, "doc_id", 8,
      maxBucket = Int.MaxValue).select("id1", "id2")
      .as[(Long, Long)].collect().toSet
    assert(capped == uncapped)
  }

  // --- adaptIdType: the candidate stages' non-bigint id contract -------

  private def longPairs: Set[(Long, Long)] = Dedup.lshCandidates(
    Dedup.minhashSignatures(docs, "doc_id", "text", 32, 5), "doc_id", 8)
    .select("id1", "id2").as[(Long, Long)].collect().toSet

  test("string doc ids flow through lshCandidates with the exact pair set") {
    val sdocs = docs.selectExpr("concat('doc-', doc_id) as doc_id", "text")
    val sig = Dedup.minhashSignatures(sdocs, "doc_id", "text", 32, 5)
    val pairs = Dedup.lshCandidates(sig, "doc_id", bands = 8)
    assert(pairs.schema("id1").dataType.typeName == "string")
    assert(pairs.select("id1", "id2").as[(String, String)].collect().toSet ==
      longPairs.map { case (a, b) => (s"doc-$a", s"doc-$b") })
  }

  test("narrower integral ids widen in and cast back losslessly") {
    val idocs = docs.selectExpr("cast(doc_id as int) as doc_id", "text")
    val sig = Dedup.minhashSignatures(idocs, "doc_id", "text", 32, 5)
    val pairs = Dedup.lshCandidates(sig, "doc_id", bands = 8)
    assert(pairs.schema("id1").dataType.typeName == "integer")
    assert(pairs.select("id1", "id2").as[(Int, Int)].collect().toSet ==
      longPairs.map { case (a, b) => (a.toInt, b.toInt) })
  }

  test("simhashCandidates carries hamming through the string-id adapter") {
    val wantLong: Set[(Long, Long, Int)] = Dedup.simhashCandidates(
        Dedup.simhash(docs, "doc_id", "text"), "doc_id", maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    val want = wantLong.map { case (a, b, h) => (s"d$a", s"d$b", h) }
    val got = Dedup.simhashCandidates(
        Dedup.simhash(docs.selectExpr("concat('d', doc_id) as doc_id", "text"),
          "doc_id", "text"), "doc_id", maxDist = 3)
      .as[(String, String, Int)].collect().toSet
    assert(got == want && want.nonEmpty)
  }

  test("embeddingNearDups accepts string vector ids") {
    val vecs = Seq(
      ("v-a", Array.tabulate(16)(i => (i + 1).toFloat)),
      ("v-b", Array.tabulate(16)(i => (i + 1).toFloat + 0.01f)),
      ("v-c", Array.tabulate(16)(i => if (i % 2 == 0) 5f else -5f))
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDups(
        graft.similarity.Similarity.withBuckets(vecs, "embedding", nPlanes = 16),
        "vec_id", "embedding", minCosine = 0.99, nPlanes = 16, bands = 4)
      .select("id1", "id2").as[(String, String)].collect().toSet
    assert(got == Set(("v-a", "v-b")))
  }

  test("pair normalization follows the original ordering, not the surrogate's") {
    // surrogate assignment order is arbitrary, so run both lexical
    // layouts: whichever surrogate order the shuffle picks, the emitted
    // pair must be normalized by STRING order
    val two = Seq(("z-doc", longA), ("a-doc", longA)).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidates(
        Dedup.minhashSignatures(two, "doc_id", "text", 32, 5), "doc_id", 8)
      .select("id1", "id2").as[(String, String)].collect().toSet
    assert(pairs == Set(("a-doc", "z-doc")))
  }

  test("duplicated string ids keep the self-pair-exclusion contract") {
    // one surrogate per DISTINCT id: two rows sharing an id never emit
    // an (id, id) pair, mirroring the bigint path
    val dup = Seq(("x", longA), ("x", longA), ("y", longB)).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidates(
        Dedup.minhashSignatures(dup, "doc_id", "text", 32, 5), "doc_id", 8)
      .select("id1", "id2").as[(String, String)].collect().toSet
    assert(!pairs.contains(("x", "x")))
  }

  test("ngramJaccard and canonicalClusters take string ids natively") {
    // these two are pure join/min-label expressions — no BoundedIds
    // buffer — so they need no adapter; pin that the whole dedup tier
    // accepts orderable ids end to end
    val sdocs = docs.selectExpr("concat('doc-', doc_id) as doc_id", "text")
    val nj = Dedup.ngramJaccard(sdocs, "doc_id", "text", n = 5,
        minJaccard = 0.2)
      .select("id1", "id2").as[(String, String)].collect().toSet
    assert(nj.contains(("doc-0", "doc-1")))
    val clusters = Dedup.canonicalClusters(sdocs.select("doc_id"),
        Seq(("doc-0", "doc-1"), ("doc-1", "doc-2")).toDF("id1", "id2"),
        "doc_id")
      .as[(String, String)].collect().toMap
    assert(clusters("doc-1") == "doc-0" && clusters("doc-2") == "doc-0")
    assert(clusters("doc-3") == "doc-3")
  }

  test("non-orderable id types fail loudly at the operator boundary") {
    val bad = docs.selectExpr("map('k', doc_id) as doc_id", "text")
    val sig = Dedup.minhashSignatures(bad, "doc_id", "text", 32, 5)
    assertThrows[IllegalArgumentException](
      Dedup.lshCandidates(sig, "doc_id", bands = 8))
  }

  /** Run `body` with the CC driver-local fallthrough disabled, so the
    * DISTRIBUTED loop is what executes (small fixtures would otherwise
    * all take the local path). */
  private def forceDistributedCc[A](body: => A): A = {
    spark.conf.set(Dedup.MaxLocalEdgesConf, "0")
    try body finally spark.conf.unset(Dedup.MaxLocalEdgesConf)
  }

  test("canonicalClusters converges on diameter >> maxIter via pointer jumping") {
    // one chain of 200 consecutive ids: diameter 199. One-hop propagation
    // would need 199 rounds; pointer jumping covers 2^r - 1 hops after r
    // rounds, so the default maxIter=10 (>= log2(200) + 1 detection
    // round) must fully converge to the single minimum label 0.
    // Forced onto the distributed loop — the regime under test.
    val ids = (0L until 200L).toDF("doc_id")
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = forceDistributedCc {
      Dedup.canonicalClusters(ids, pairs, "doc_id")
        .as[(Long, Long)].collect().toMap
    }
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("canonicalClusters driver-local fallthrough and distributed loop " +
    "label identically (long and string ids, unknown-id edges ignored " +
    "in both)") {
    // a mixed graph: a chain, a clique-ish blob, isolated ids, and an
    // edge through an id NOT in the id set (must conduct in neither
    // regime)
    val ids = (0L until 60L).toDF("doc_id")
    val pairs = ((0L until 19L).map(i => (i, i + 1)) ++
      Seq((30L, 31L), (31L, 32L), (30L, 32L), (40L, 999L), (999L, 41L)))
      .toDF("id1", "id2")
    def run() = Dedup.canonicalClusters(ids, pairs, "doc_id")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val local = run() // 24 pairs << threshold: local union-find
    val dist = forceDistributedCc(run())
    assert(local == dist)
    val m = local.toMap
    assert((0L until 20L).forall(i => m(i) == 0L))
    assert(Seq(30L, 31L, 32L).forall(i => m(i) == 30L))
    // 40/41 are NOT connected through the unknown id 999
    assert(m(40L) == 40L && m(41L) == 41L)
    // string ids through both regimes
    val sids = Seq("a", "b", "c", "d").toDF("doc_id")
    val spairs = Seq(("b", "c"), ("c", "a")).toDF("id1", "id2")
    def runS() = Dedup.canonicalClusters(sids, spairs, "doc_id")
      .orderBy("doc_id").as[(String, String)].collect().toSeq
    assert(runS() == forceDistributedCc(runS()))
    assert(runS().toMap == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d"))
  }

  test("canonicalClusters leaves isolated ids self-labeled") {
    val ids = (0L until 10L).toDF("doc_id")
    val pairs = Seq((3L, 4L)).toDF("id1", "id2")
    val got = Dedup.canonicalClusters(ids, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got(4L) == 3L && got(3L) == 3L)
    assert((0L until 10L).filter(i => i != 4L).forall(i => got(i) == i))
  }

  test("embeddingNearDups finds near-identical vectors, rejects unrelated") {
    val vecs = Seq(
      (0L, Array.tabulate(16)(i => (i + 1).toFloat)),
      (1L, Array.tabulate(16)(i => (i + 1).toFloat + 0.01f)), // near-dup of 0
      (2L, Array.tabulate(16)(i => if (i % 2 == 0) 5f else -5f)), // unrelated
      (3L, Array.tabulate(16)(i => (16 - i).toFloat)) // reversed: unrelated
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDups(
        graft.similarity.Similarity.withBuckets(vecs, "embedding", nPlanes = 16),
        "vec_id", "embedding", minCosine = 0.99, nPlanes = 16, bands = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L)))
  }

  test("dedup on real corpus finds the generated near-duplicates") {
    val real = graft.Tables(spark, sf, "documents")
    val sig = Dedup.minhashSignatures(real, "doc_id", "text", 32, 5)
    val pairs = Dedup.minhashJaccard(
      Dedup.lshCandidates(sig, "doc_id", 8), sig, "doc_id")
      .filter("est_jaccard >= 0.5")
    assert(pairs.count() > 0) // TESTDATA corpus contains near-dups
  }
}
