package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class QuantizedVecSpec extends SparkSpec {
  import spark.implicits._

  test("quantize: max maps to +-127, half-up ties, zero vector to zeros") {
    val got = Seq(
      Seq(2f, -2f, 1f, 0f),   // scale 63.5: 1f -> floor(64.0)=63... check below
      Seq(0f, 0f, 0f, 0f)
    ).toDF("v").select(QuantizedVec.int8Quantize(col("v")).as("q"))
      .as[Seq[Byte]].collect().toSeq
    // scale = 127/2 = 63.5; 1*63.5+0.5 = 64.0 -> 64 (the half-up tie)
    assert(got == Seq(Seq[Byte](127, -127, 64, 0), Seq[Byte](0, 0, 0, 0)))
  }

  test("driver-side quantizeFloats produces the scan side's bytes") {
    val rows = graft.Tables(spark, sf, "embeddings").limit(50)
      .select(col("embedding"),
        QuantizedVec.int8Quantize(col("embedding")).as("q"))
      .as[(Seq[Float], Seq[Byte])].collect()
    rows.foreach { case (e, q) =>
      assert(QuantizedVec.quantizeFloats(e.toArray).toSeq == q)
    }
  }

  test("int8_cosine: hand values incl. zero-norm and null propagation") {
    val df = Seq(
      (Some(Seq[Byte](127, 0)), Some(Seq[Byte](127, 0))),
      (Some(Seq[Byte](127, 0)), Some(Seq[Byte](0, 127))),
      (Some(Seq[Byte](5, 5)), Some(Seq[Byte](-5, -5))),
      (Some(Seq[Byte](0, 0)), Some(Seq[Byte](3, 4))),
      (None, Some(Seq[Byte](1, 1)))
    ).toDF("a", "b")
    val got = df.select(
        round(QuantizedVec.int8Cosine(col("a"), col("b")), 9).as("c"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(1.0), Some(0.0), Some(-1.0), Some(0.0), None))
  }

  test("quantized cosine tracks float cosine within the 1/127 error bar") {
    val emb = graft.Tables(spark, sf, "embeddings")
    val q = emb.filter("vec_id = 0").select("embedding").head().getSeq[Float](0)
    val qq = QuantizedVec.quantizeFloats(q.toArray)
    val qLit = array(qq.map(b => lit(b)): _*)
    val maxDiff = emb.select(abs(
        QuantizedVec.int8Cosine(
          QuantizedVec.int8Quantize(col("embedding")), qLit) -
          Vectors.cosineSim(col("embedding"), typedlit(q))).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(maxDiff < 0.02, s"quantization error $maxDiff exceeds bar")
  }

  test("usable from SQL; scores are bounded in [-1, 1]") {
    graft.Tables(spark, sf, "embeddings").limit(8).createOrReplaceTempView("qe")
    val n = spark.sql(
      """SELECT int8_cosine(int8_quantize(a.embedding),
        |                   int8_quantize(b.embedding)) AS c
        |FROM qe a CROSS JOIN qe b""".stripMargin)
      .filter("c >= -1.0000001 AND c <= 1.0000001").count()
    assert(n == 64)
  }
}
