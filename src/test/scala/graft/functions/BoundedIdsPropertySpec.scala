package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.TestSession

/** ScalaCheck pin of BoundedIds' contract under arbitrary partitioning:
  * for every bucket, the aggregate yields exactly the bucket's id
  * multiset when its size is <= max, and NULL when it exceeds max —
  * regardless of how rows are split across partial buffers (merge order,
  * saturation propagation, and the serialize/deserialize roundtrip all
  * sit on that path).
  */
object BoundedIdsPropertySpec extends Properties("BoundedIds") {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private val scenario: Gen[(Map[String, Int], Int, Int)] = for {
    nBuckets <- Gen.chooseNum(1, 5)
    sizes <- Gen.listOfN(nBuckets, Gen.chooseNum(0, 40))
    max <- Gen.chooseNum(1, 30)
    parts <- Gen.chooseNum(1, 12)
  } yield (sizes.zipWithIndex.map { case (s, i) => (s"b$i", s) }.toMap,
    max, parts)

  property("per-bucket: all ids when <= max, null when > max") =
    forAll(scenario) { case (sizes, max, parts) =>
      val rows = sizes.toSeq.flatMap { case (b, n) =>
        (1L to n.toLong).map(i => (b, i))
      }
      val got = rows.toDF("bucket", "id")
        .repartition(parts)
        .groupBy("bucket")
        .agg(BoundedIds.boundedIds(max, col("id")).as("ids"))
        .as[(String, Option[Seq[Long]])].collect().toMap
      sizes.forall { case (b, n) =>
        if (n == 0) !got.contains(b) // no rows -> no group
        else if (n > max) got(b).isEmpty
        else got(b).map(_.sorted) == Some((1L to n.toLong).toSeq)
      }
    }

  property("tuple payloads survive the same contract") =
    forAll(scenario) { case (sizes, max, parts) =>
      val rows = sizes.toSeq.flatMap { case (b, n) =>
        (1L to n.toLong).map(i => (b, i, i * 7))
      }
      val got = rows.toDF("bucket", "id", "v")
        .repartition(parts)
        .groupBy("bucket")
        .agg(BoundedIds.boundedIds(max, col("id"), col("v")).as("xs"))
        .as[(String, Option[Seq[(Long, Long)]])].collect().toMap
      sizes.forall { case (b, n) =>
        if (n == 0) !got.contains(b)
        else if (n > max) got(b).isEmpty
        else got(b).map(_.sorted) ==
          Some((1L to n.toLong).map(i => (i, i * 7)).toSeq)
      }
    }
}
