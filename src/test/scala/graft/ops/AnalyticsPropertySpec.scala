package graft.ops

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.TestSession

/** Property-based invariants (SURVEY.md §5.4) for the time-series core,
  * run by the ScalaCheck test framework. Generators stay small — the
  * properties are about algebra, not volume.
  */
object AnalyticsPropertySpec extends Properties("Analytics") {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private val dailyGen: Gen[List[Long]] =
    Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 50L)))

  private def toDf(counts: List[Long]) =
    counts.zipWithIndex.map { case (c, i) =>
      (Date.valueOf(s"2020-01-${"%02d".format(i + 1)}"), c)
    }.toDF("d", "n")

  property("cumsum monotone for non-negative counts; last = total") =
    forAll(dailyGen) { counts =>
      val cum = Analytics.cumSum(toDf(counts)).orderBy("d")
        .select("cum").as[Long].collect()
      cum.sliding(2).forall(w => w.length < 2 || w(0) <= w(1)) &&
        cum.last == counts.sum
    }

  property("growth rates of a positive cumsum are >= 1, first null") =
    forAll(dailyGen.suchThat(c => c.nonEmpty && c.head > 0)) { counts =>
      val rates = Analytics.growthRates(Analytics.cumSum(toDf(counts)))
        .orderBy("d").select("rate").as[Option[Double]].collect()
      rates.head.isEmpty && rates.tail.flatten.forall(_ >= 1.0)
    }

  property("lagDiff then cumSum round-trips the series") =
    forAll(dailyGen) { counts =>
      val roundTrip = Analytics.cumSum(
          Analytics.lagDiff(toDf(counts))
            .select(col("d"), col("delta").as("n")),
          valueCol = "n")
        .orderBy("d").select("cum").as[Long].collect()
      roundTrip.toSeq == counts
    }

  /** Daily counts (n >= 1) on strictly increasing days with random gaps:
    * the shape `dailyCounts` produces. */
  private val gappedGen: Gen[List[(Int, Long)]] = for {
    n <- Gen.choose(1, 12)
    gaps <- Gen.listOfN(n, Gen.choose(1, 4))
    counts <- Gen.listOfN(n, Gen.choose(1L, 1000L))
  } yield gaps.scanLeft(0)(_ + _).tail.zip(counts)

  private def bits(v: Option[Double]): Option[Long] =
    v.map(java.lang.Double.doubleToRawLongBits)

  property("growth frame: rate and trailing-5 factor equal cumSum -> " +
    "growthRates -> trailingMean bit for bit") =
    forAll(gappedGen) { series =>
      val daily = series.map { case (day, n) =>
        (Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(day.toLong)), n)
      }.toDF("d", "n")
      val frame = Analytics.growthFrame(daily)
      val rates = frame.orderBy("d").select("rate").as[Option[Double]].collect()
      val ref = Analytics.growthRates(Analytics.cumSum(daily))
      val refRates = ref.orderBy("d").select("rate").as[Option[Double]].collect()
      val gf = Analytics.trailingGrowth(frame, 5).filter(col("last"))
        .select("gf").as[Option[Double]].collect()
      val refGf = Analytics.trailingMean(ref, 5).as[Option[Double]].collect()
      rates.map(bits).toSeq == refRates.map(bits).toSeq &&
        gf.length == 1 && bits(gf.head) == bits(refGf.head)
    }

  property("growthSim equals the closed form last*gf^i") =
    forAll(Gen.choose(1L, 1000L), Gen.choose(1, 20)) { (last, days) =>
      val df = Seq((Date.valueOf("2020-03-01"), last)).toDF("d", "cum")
      val got = Analytics.growthSim(df, days, lit(2.0)).orderBy("d")
        .select("count").as[Long].collect()
      got.toSeq == (1 to days).map(i => last * (1L << i))
    }
}
