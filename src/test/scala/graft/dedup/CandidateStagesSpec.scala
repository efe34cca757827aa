package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.LshBandKeys

/** Pins the three near-dup candidate stages (lshCandidates,
  * simhashCandidates, embeddingNearDups) against one driver-side
  * brute-force reference over their collected band rows: every two
  * tuples that share a (band, bkey) bucket of at most `maxBucket`
  * non-null tuples pair up, normalized least/greatest in the id type's
  * own order, with the score computed on the driver; a duplicated id
  * never pairs with itself. Each stage runs for every id type it
  * accepts — bigint, int, unpadded string (whose order differs from the
  * numeric one) and decimal(20,0) — with two null ids and one duplicated
  * id in the input, and with a cap that drops some buckets and keeps
  * others.
  */
class CandidateStagesSpec extends SparkSpec {
  import spark.implicits._

  private val n = 60L

  /** Ids 0 until n, two null ids carrying id 3's and id 40's payloads,
    * and id 7 again carrying id 13's payload.
    */
  private val base: Seq[(Option[Long], Long)] =
    (0L until n).map(i => (Option(i), i)) ++
      Seq((None, 3L), (None, 40L), (Some(7L), 13L))

  private val idTypes: Seq[(String, Column => Column)] = Seq(
    "bigint" -> (c => c),
    "int" -> (c => c.cast("int")),
    "unpadded string" -> (c => concat(lit("d"), c)),
    "decimal(20,0)" -> (c => c.cast("decimal(20,0)")))

  /** Natural order of the collected id values (Long, Integer, String,
    * java.math.BigDecimal) — the order Spark's least/greatest use.
    */
  private val idOrder: Ordering[Any] = Ordering.fromLessThan((a, b) =>
    a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)

  /** The stage input for one id type: `payloadOf` builds every other
    * column from the row's source id `src`.
    */
  private def input(idOf: Column => Column, payloadOf: Column => Seq[Column]): DataFrame =
    base.toDF("raw", "src").select(idOf(col("raw")).as("id") +: payloadOf(col("src")): _*)

  /** (id, payload, (band, bkey)) band rows of collected stage input. */
  private def bandRows(rows: Seq[Row], payload: String)
                      (keys: Row => Seq[Any]): Seq[(Any, Any, Any)] =
    rows.flatMap(r => keys(r).zipWithIndex.map { case (k, b) =>
      (r.getAs[Any]("id"), r.getAs[Any](payload), (b, k)) })

  /** The brute-force pair set: distinct (id1, id2, score), where `score`
    * gives None for a pair the stage filters out.
    */
  private def reference(rows: Seq[(Any, Any, Any)], maxBucket: Int)
                       (score: (Any, Any) => Option[Any]): Set[(Any, Any, Any)] =
    rows.filter(t => t._1 != null && t._2 != null).groupBy(_._3).values
      .filter(_.size <= maxBucket)
      .flatMap { b =>
        for {
          i <- b.indices; j <- b.indices if i < j && b(i)._1 != b(j)._1
          s <- score(b(i)._2, b(j)._2)
        } yield {
          val (x, y) = (b(i)._1, b(j)._1)
          if (idOrder.lt(x, y)) (x, y, s) else (y, x, s)
        }
      }.toSet

  private def collected(df: DataFrame): Set[(Any, Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet

  /** Runs `stage` per id type and compares it to the reference; checks
    * that the cap drops at least one bucket and that the string case
    * holds a pair whose string order differs from its numeric order.
    */
  private def checkAllIdTypes(payloadOf: Column => Seq[Column], payload: String,
                              maxBucket: Int, keys: Row => Seq[Any],
                              score: (Any, Any) => Option[Any])
                             (stage: DataFrame => DataFrame): Unit =
    for ((name, idOf) <- idTypes) {
      val in = input(idOf, payloadOf)
      val rows = bandRows(in.collect().toSeq, payload)(keys)
      def want(cap: Int) = reference(rows, cap)(score)
      val got = collected(stage(in))
      assert(got == want(maxBucket), name)
      assert(want(maxBucket).nonEmpty && want(maxBucket) != want(Int.MaxValue),
        s"$name: the fixture must keep some pairs and cap some buckets")
      if (name == "unpadded string")
        assert(got.exists { case (a, b, _) =>
          a.toString.drop(1).toLong > b.toString.drop(1).toLong })
    }

  test("lshCandidates == brute force over band rows, every id type") {
    // q57's modular signatures: band b keys on (src mod 2b+2, src mod 2b+3)
    checkAllIdTypes(
      src => Seq(array((0 until 8).map(i => pmod(src, lit(i + 2L))): _*).as("sig"),
        LshBandKeys.lshBandKeys(
          array((0 until 8).map(i => pmod(src, lit(i + 2L))): _*), 4).as("keys")),
      "sig", maxBucket = 10, keys = r => r.getSeq[Long](r.fieldIndex("keys")).toSeq,
      score = { (a, b) =>
        val (x, y) = (a.asInstanceOf[collection.Seq[Long]],
          b.asInstanceOf[collection.Seq[Long]])
        Some(x.zip(y).count(p => p._1 == p._2).toDouble / x.size)
      }) {
      in => Dedup.lshCandidates(in, "id", bands = 4, maxBucket = 10)
    }
  }

  test("simhashCandidates == brute force over band rows, every id type") {
    // q58's fingerprints: band b of src is src mod 8·2^b
    checkAllIdTypes(
      src => Seq((pmod(src, lit(8L)) + pmod(src, lit(16L)) * 65536L +
        pmod(src, lit(32L)) * 4294967296L +
        pmod(src, lit(64L)) * 281474976710656L).as("simhash")),
      "simhash", maxBucket = 7,
      keys = { r =>
        val sh = r.getAs[Long]("simhash")
        (0 until 4).map(b => (sh >> (16 * b)) & 0xFFFF)
      },
      score = (a, b) => Some(java.lang.Long.bitCount(
        a.asInstanceOf[Long] ^ b.asInstanceOf[Long])).filter(_ <= 40)) {
      in => Dedup.simhashCandidates(in, "id", maxDist = 40, maxBucket = 7)
    }
  }

  test("embeddingNearDups == brute force over band rows, every id type") {
    // seeded 8-d vectors; bucket = src mod 16, two 2-bit bands
    val rnd = new scala.util.Random(20261021L)
    val vecs = (0L until n).map(_ => Array.fill(8)(rnd.nextGaussian().toFloat))
    val vecOf = udf((src: Long) => vecs(src.toInt))
    def cosine(a: Any, b: Any): Double = {
      val (x, y) = (a.asInstanceOf[collection.Seq[Float]],
        b.asInstanceOf[collection.Seq[Float]])
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) {
        dot += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
        ny += y(i).toDouble * y(i)
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    checkAllIdTypes(
      src => Seq(vecOf(src).as("vec"), pmod(src, lit(16L)).as("bucket")),
      "vec", maxBucket = 15,
      keys = { r =>
        val bucket = r.getAs[Long]("bucket")
        Seq(bucket & 3L, (bucket >> 2) & 3L)
      },
      score = { (a, b) =>
        val c = cosine(a, b)
        if (c < 0.3) None
        else Some(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }) {
      in => Dedup.embeddingNearDups(in, "id", "vec", minCosine = 0.3,
          nPlanes = 4, bands = 2, maxBucket = 15)
        .select(col("id1"), col("id2"), col("cosine"))
    }
  }

  test("lshCandidates' in-bucket est_jaccard equals minhashJaccard's join verify") {
    val docs = graft.Tables(spark, sf, "documents")
      .select(concat(lit("d"), col("doc_id")).as("doc_id"), col("text"))
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 32, 5)
    val cands = Dedup.lshCandidates(sig, "doc_id", bands = 8)
    val got = cands.as[(String, String, Double)].collect().toSet
    val joined = Dedup.minhashJaccard(cands.select("id1", "id2"), sig, "doc_id")
      .as[(String, String, Double)].collect().toSet
    assert(got.nonEmpty && got == joined)
  }
}
