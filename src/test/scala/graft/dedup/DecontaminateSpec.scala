package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Decontaminate semantics on hand-computed fixtures, plus the claim
  * the whole design rests on: the Bloom tier-1 flag never changes the
  * result (exactness comes from the verify join; the filter only
  * decides who pays for it).
  */
class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  // 40 chars, all distinct shingles (no repeated 10-gram)
  private val probeText = "abcdefghijklmnopqrstuvwxyz0123456789ABCD"
  private val n = 10

  // docs: exact probe copy / 15-char probe substring / clean
  private lazy val docs = Seq(
    (1L, probeText), // all 31 shingles shared (40 - 10 + 1)
    (2L, "zzz" + probeText.substring(5, 20) + "qqq"), // 6 shared (15-10+1)
    (3L, "completely unrelated text with no overlap at all")
  ).toDF("doc_id", "text")
  private lazy val probes = Seq(Tuple1(probeText)).toDF("text")

  test("contaminationReport counts distinct shared shingles exactly") {
    val got = Decontaminate.contaminationReport(
        docs, "doc_id", "text", probes, "text", n = n)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 31L, 2L -> 6L))
  }

  test("minHits thresholds the report; decontaminate drops the flagged") {
    val report = Decontaminate.contaminationReport(
        docs, "doc_id", "text", probes, "text", n = n, minHits = 7L)
      .as[(Long, Long)].collect().toMap
    assert(report == Map(1L -> 31L)) // doc 2's 6 hits fall under 7
    val clean = Decontaminate.decontaminate(
        docs, "doc_id", "text", probes, "text", n = n)
      .select("doc_id").as[Long].collect().sorted
    assert(clean.toSeq == Seq(3L))
  }

  test("empty probe set flags nothing") {
    val report = Decontaminate.contaminationReport(
      docs, "doc_id", "text", probes.limit(0), "text", n = n)
    assert(report.columns.toSeq == Seq("doc_id", "n_hits"))
    assert(report.count() == 0)
    assert(Decontaminate.decontaminate(
      docs, "doc_id", "text", probes.limit(0), "text", n = n).count() == 3)
  }

  test("bloom tier-1 flag never changes the result (exactness)") {
    // brute force: every doc pays the verify join, no bloom gate
    val mod = 1L << 61
    val probeSh = probes.select(explode(
      graft.functions.Texts.ngramHashes(col("text"), n, mod)).as("__h"))
      .distinct()
    val brute = docs
      .select(col("doc_id"), explode(
        graft.functions.Texts.ngramHashes(col("text"), n, mod)).as("__h"))
      .join(probeSh, "__h")
      .groupBy("doc_id").agg(countDistinct(col("__h")).as("n_hits"))
      .as[(Long, Long)].collect().toMap
    val gated = Decontaminate.contaminationReport(
        docs, "doc_id", "text", probes, "text", n = n)
      .as[(Long, Long)].collect().toMap
    assert(gated == brute)
  }

  test("real corpus: probe docs flag themselves; report is exact") {
    val real = graft.Tables(spark, sf, "documents")
    val probes = real.filter(col("doc_id") < 5).select("text")
    val got = Decontaminate.contaminationReport(
        real, "doc_id", "text", probes, "text", n = 30)
      .as[(Long, Long)].collect().toMap
    // every probe doc shares all its own shingles with itself
    assert((0L until 5L).forall(got.contains))
  }
}
