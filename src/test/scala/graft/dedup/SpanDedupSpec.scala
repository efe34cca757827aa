package graft.dedup

import graft.SparkSpec

class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private def spans(d: org.apache.spark.sql.DataFrame, w: Int,
                    minOccur: Long = 2L, hash: Boolean = true) =
    SpanDedup.duplicatedSpans(d, w, minOccur, hash)
      .orderBy("doc_id", "start")
      .as[(Long, Int, Int)].collect().toSeq

  test("cross-document duplicated window flags BOTH occurrences") {
    // the 3-token window "a b c" occurs in docs 0 and 1
    val out = spans(docs(0L -> "a b c x", 1L -> "y a b c", 2L -> "p q r"), 3)
    assert(out == Seq((0L, 1, 4), (1L, 2, 5)))
  }

  test("within-document self-repetition is duplication too") {
    // "a b" at pos 1 and pos 4 of the same doc; overlapping windows of
    // the repeat region merge into maximal spans
    val out = spans(docs(0L -> "a b z a b"), 2)
    assert(out == Seq((0L, 1, 3), (0L, 4, 6)))
  }

  test("overlapping and adjacent windows merge into one maximal span") {
    // docs share the 4-token run "a b c d": w=2 flags windows at
    // pos 1,2,3 in doc 0 (and 2,3,4 in doc 1) -> ONE span each
    val out = spans(docs(0L -> "a b c d x", 1L -> "z a b c d"), 2)
    assert(out == Seq((0L, 1, 5), (1L, 2, 6)))
    // gap > w splits islands: "a b" dup at 1 and "c d" dup at 5 with
    // an unshared middle token -> two spans in doc 2
    val out2 = spans(docs(
      2L -> "a b m c d", 3L -> "a b", 4L -> "c d"), 2)
    assert(out2.filter(_._1 == 2L) == Seq((2L, 1, 3), (2L, 4, 6)))
  }

  test("stats: merged-span count and token coverage per document") {
    val out = SpanDedup.stats(
        docs(0L -> "a b c d x", 1L -> "z a b c d", 2L -> "u v w"), 2)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 1L, 4L), (1L, 1L, 4L)))
  }

  test("minOccur raises the duplication bar; <2 is rejected") {
    val d = docs(0L -> "a b x", 1L -> "a b y", 2L -> "a b z")
    assert(spans(d, 2, minOccur = 3L).map(_._1) == Seq(0L, 1L, 2L),
      "the triple-occurring window passes minOccur=3")
    assert(spans(docs(0L -> "a b x", 1L -> "a b y"), 2, minOccur = 3L)
      .isEmpty, "a twice-occurring window does not")
    intercept[IllegalArgumentException] {
      SpanDedup.duplicatedSpans(d, 2, minOccur = 1L)
    }
  }

  test("short documents (< w tokens) contribute no windows") {
    assert(spans(docs(0L -> "a b", 1L -> "a b", 2L -> "a"), 3).isEmpty)
    assert(spans(docs(0L -> "", 1L -> "  "), 1).isEmpty)
  }

  test("hash-keyed and text-keyed paths agree on a mixed corpus") {
    val d = docs(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "a different text with the quick brown fox inside",
      2L -> "no overlap here at all",
      3L -> "repeat repeat repeat repeat",
      4L -> "tail the lazy dog tail")
    for (w <- Seq(2, 3, 4)) {
      assert(spans(d, w, hash = true) == spans(d, w, hash = false),
        s"w=$w")
    }
  }

  test("strip removes ALL occurrences and normalizes whitespace") {
    val out = SpanDedup.stripDuplicatedSpans(
        docs(0L -> "a b c x", 1L -> "y  a b c", 2L -> "p   q"), 3)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq((0L, "x"), (1L, "y"), (2L, "p q")),
      "both copies of 'a b c' drop; untouched docs pass through normalized")
  }

  test("strip drops a fully-duplicated document to empty text") {
    val out = SpanDedup.stripDuplicatedSpans(
        docs(0L -> "a b c", 1L -> "a b c"), 3)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq((0L, ""), (1L, "")))
  }

  private def seeded(store: (Long, String)*): String = {
    val t = s"graft_spanspec_${System.nanoTime()}"
    SpanDedup.seedSpanStore(docs(store: _*), 2, t,
      new java.io.File(sys.props("java.io.tmpdir"), t).getPath)
    t
  }

  test("incremental: store hit flags a SINGLE batch occurrence") {
    val t = seeded(0L -> "a b c")
    val out = SpanDedup.statsIncremental(
        docs(10L -> "x a b y", 11L -> "p q"), 2, t)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((10L, 1L, 2L)),
      "'a b' is in the store; one batch occurrence suffices")
    spark.sql(s"DROP TABLE $t")
  }

  test("incremental: batch-internal dups flag without the store; missing store table = batch-only") {
    val out = SpanDedup.statsIncremental(
        docs(10L -> "m n x", 11L -> "y m n"), 2, "graft_no_such_store")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((10L, 1L, 2L), (11L, 1L, 2L)))
  }

  test("incremental at minOccur=2 == whole-corpus operator restricted to the batch") {
    // store holds DISTINCT hashes, so store-hit + the batch occurrence
    // is exactly total-count >= 2 — the whole-corpus criterion
    val old = Seq(0L -> "the quick brown fox", 2L -> "lazy dog sleeps here",
      4L -> "the quick red fox")
    val batch = Seq(11L -> "a the quick brown fox b", 13L -> "lazy dog",
      15L -> "novel words only here", 17L -> "novel words only again")
    val t = seeded(old: _*)
    val inc = SpanDedup.statsIncremental(docs(batch: _*), 2, t)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    val whole = SpanDedup.stats(docs(old ++ batch: _*), 2)
      .filter($"doc_id" >= 10L)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(inc == whole)
    assert(inc.nonEmpty)
    spark.sql(s"DROP TABLE $t")
  }

  test("determinism under repartitioning") {
    val d = docs(
      0L -> "w x y z w x y z", 1L -> "m w x y n", 2L -> "y z w x")
    val base = spans(d, 2)
    assert(spans(d.repartition(7), 2) == base)
    assert(base.nonEmpty)
  }
}
