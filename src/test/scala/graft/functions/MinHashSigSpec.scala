package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  private val p = 2147483647L

  test("matches the explode(ngram_hashes) + groupBy(min...) formulation") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "短い非ASCIIテキスト with mixed content",
      "tiny", // shorter than the shingle width -> whole-text shingle
      "", // empty -> still one (empty-span) shingle, like hashAll
      "aaaaaaaaaaaaaaaaaaaaaaa" // repeated shingles collapse in the min
    )
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

    val k = 16
    val viaExpr = df.select(col("doc_id"),
        MinHashSig.minhashSig(col("text"), k, 5, p).as("sig"))
      .orderBy("doc_id").as[(Long, Seq[Long])].collect()

    val mins = (0 until k).map { i =>
      min(pmod(col("h0") * (i * 2 + 1) + i * 40503L + 2654435769L, lit(p)))
        .as(s"m$i")
    }
    val viaAgg = df.select(col("doc_id"),
        explode(Texts.ngramHashes(col("text"), 5, p)).as("h0"))
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
      .orderBy("doc_id").as[(Long, Seq[Long])].collect()

    assert(viaExpr.toSeq == viaAgg.toSeq)
  }

  test("non-Mersenne mod takes the general path and still matches the " +
      "explode+agg formulation (r21: the default mod gets a fold-based " +
      "fast path; this pins the floorMod branch)") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "短い非ASCIIテキスト with mixed content", "tiny", "",
      "aaaaaaaaaaaaaaaaaaaaaaa")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val k = 16
    val mod = 2147483629L // prime, != 2^31-1
    val viaExpr = df.select(col("doc_id"),
        MinHashSig.minhashSig(col("text"), k, 5, mod).as("sig"))
      .orderBy("doc_id").as[(Long, Seq[Long])].collect()
    val mins = (0 until k).map { i =>
      min(pmod(col("h0") * (i * 2 + 1) + i * 40503L + 2654435769L, lit(mod)))
        .as(s"m$i")
    }
    val viaAgg = df.select(col("doc_id"),
        explode(Texts.ngramHashes(col("text"), 5, mod)).as("h0"))
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
      .orderBy("doc_id").as[(Long, Seq[Long])].collect()
    assert(viaExpr.toSeq == viaAgg.toSeq)
  }

  test("every input row comes back with a k-length signature") {
    val df = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        MinHashSig.minhashSig(col("text"), 8, 5, p).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got.values.forall(_.length == 8))
  }

  test("null text propagates null") {
    val got = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
      .select(MinHashSig.minhashSig(col("text"), 8, 5, p).isNull)
      .as[Boolean].head()
    assert(got)
  }

  test("near-duplicate texts share most signature positions") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a + " r1" // the ScaleUp near-dup shape
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val sigs = df.select(MinHashSig.minhashSig(col("text"), 32, 5, p))
      .as[Seq[Long]].collect()
    val equal = sigs(0).zip(sigs(1)).count { case (x, y) => x == y }
    assert(equal >= 24, s"expected >=24/32 equal positions, got $equal")
  }

  test("minhashSignatures evaluates minhash_sig once per row") {
    // the null filter must not be pushed below the projection as a copy
    // of the signature expression: one MinHashSig in the executed plan.
    // A range, not a local Seq, so the optimizer cannot fold the plan
    // into a LocalRelation
    val df = spark.range(3).select(col("id").as("doc_id"),
      when(col("id") === 1L, lit(null).cast("string"))
        .otherwise(concat(lit("alpha beta gamma delta "),
          col("id").cast("string"))).as("text"))
    val sigs = graft.dedup.Dedup.minhashSignatures(df, "doc_id", "text")
    assert(sigs.as[(Long, Seq[Long])].collect().map(_._1).sorted.toSeq ==
      Seq(0L, 2L))
    val plan = sigs.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val evaluations = plan.collect { case node =>
      node.expressions.map(_.collect { case m: MinHashSig => m }.size).sum
    }.sum
    assert(evaluations == 1, s"MinHashSig evaluations in the plan:\n$plan")
  }
}
