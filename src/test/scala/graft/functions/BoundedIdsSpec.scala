package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BoundedIdsSpec extends SparkSpec {
  import spark.implicits._

  test("collects a bucket's ids; overflowed buckets evaluate to null") {
    val rows = (1L to 10L).map(i => ("small", i)) ++
      (1L to 600L).map(i => ("hot", i))
    val got = rows.toDF("bucket", "id")
      .repartition(8) // force partial buffers + merge
      .groupBy("bucket")
      .agg(BoundedIds.boundedIds(500, col("id")).as("ids"))
      .as[(String, Option[Seq[Long]])].collect().toMap
    assert(got("hot").isEmpty) // > max -> null
    assert(got("small").map(_.sorted) == Some((1L to 10L).toSeq))
  }

  test("exactly max ids is kept (the cap is strict greater-than)") {
    val got = (1L to 500L).map(i => ("b", i)).toDF("bucket", "id")
      .repartition(8)
      .groupBy("bucket")
      .agg(BoundedIds.boundedIds(500, col("id")).as("ids"))
      .as[(String, Option[Seq[Long]])].head()
    assert(got._2.map(_.size) == Some(500))
  }

  test("tuple payloads collect as structs with the same cap semantics") {
    val rows = (1L to 5L).map(i => ("small", i, i * 100)) ++
      (1L to 20L).map(i => ("hot", i, i * 100))
    val got = rows.toDF("bucket", "id", "payload")
      .repartition(4)
      .groupBy("bucket")
      .agg(BoundedIds.boundedIds(10, col("id"), col("payload")).as("xs"))
      .as[(String, Option[Seq[(Long, Long)]])].collect().toMap
    assert(got("hot").isEmpty)
    assert(got("small").map(_.sorted) ==
      Some((1L to 5L).map(i => (i, i * 100)).toSeq))
  }

  test("null ids are ignored, empty group gives empty array") {
    val got = Seq(("b", Option.empty[Long]), ("b", Some(7L)))
      .toDF("bucket", "id")
      .groupBy("bucket")
      .agg(BoundedIds.boundedIds(10, col("id")).as("ids"))
      .as[(String, Option[Seq[Long]])].head()
    assert(got._2.map(_.toSeq) == Some(Seq(7L)))
  }
}
