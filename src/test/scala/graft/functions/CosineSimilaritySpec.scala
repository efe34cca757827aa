package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.similarity.Similarity

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim matches hand values incl. null and zero-norm") {
    val df = Seq(
      (Some(Seq(1f, 0f)), Some(Seq(1f, 0f))),
      (Some(Seq(1f, 0f)), Some(Seq(0f, 1f))),
      (Some(Seq(1f, 1f)), Some(Seq(-1f, -1f))),
      (Some(Seq(0f, 0f)), Some(Seq(1f, 1f))), // zero norm -> 0.0
      (None, Some(Seq(1f, 1f)))               // null -> null
    ).toDF("a", "b")
    val got = df.select(round(Vectors.cosineSim(col("a"), col("b")), 9))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(1.0), Some(0.0), Some(-1.0), Some(0.0), None))
  }

  test("cosine_sim agrees with the composable expression on real embeddings") {
    val emb = graft.Tables(spark, sf, "embeddings").limit(100)
    val q = emb.filter("vec_id = 0").select("embedding").head().getSeq[Float](0)
    val diff = emb.select(
        abs(Vectors.cosineSim(col("embedding"), typedlit(q)) -
          Similarity.cosine(col("embedding"), typedlit(q))).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(diff < 1e-12)
  }

  test("cosine_sim is usable from SQL after registration") {
    graft.Tables(spark, sf, "embeddings").limit(5).createOrReplaceTempView("e")
    val n = spark.sql(
      "SELECT cosine_sim(a.embedding, b.embedding) AS c FROM e a CROSS JOIN e b")
      .filter("c >= -1.000001 AND c <= 1.000001").count()
    assert(n == 25)
  }
}
