package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SigOverlapSpec extends SparkSpec {
  import spark.implicits._

  private def overlap(a: Seq[Long], b: Seq[Long]): Option[Double] =
    Seq((a, b)).toDF("a", "b")
      .select(SigOverlap.sigOverlap(col("a"), col("b")))
      .as[Option[Double]].head()

  test("fraction of equal positions over the left length") {
    assert(overlap(Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 8L)).contains(0.5))
    assert(overlap(Seq(1L, 2L), Seq(1L, 2L)).contains(1.0))
    assert(overlap(Seq(1L, 2L), Seq(3L, 4L)).contains(0.0))
  }

  test("length mismatch counts only the common prefix, left denominator") {
    // zip_with semantics: the padded tail never matches
    assert(overlap(Seq(1L, 2L, 3L, 4L), Seq(1L, 2L)).contains(0.5))
    assert(overlap(Seq(1L, 2L), Seq(1L, 2L, 3L, 4L)).contains(1.0))
  }

  test("empty left signature yields null (0/0), like the HOF form") {
    assert(overlap(Seq.empty, Seq(1L)).isEmpty)
  }

  test("matches the zip_with/filter formulation on random signatures") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      Seq.fill(32)(rnd.nextInt(4).toLong),
      Seq.fill(32)(rnd.nextInt(4).toLong)))
    val df = rows.toDF("a", "b")
    val viaExpr = df.select(SigOverlap.sigOverlap(col("a"), col("b")))
      .as[Double].collect()
    val viaHof = df.select(
      (size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), x => x))
        / size(col("a"))).cast("double")).as[Double].collect()
    assert(viaExpr.toSeq == viaHof.toSeq)
  }
}
