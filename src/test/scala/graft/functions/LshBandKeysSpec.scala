package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins [[LshBandKeys]] bit-equal to the composable formulation it
  * replaced in `Dedup.bandRowsOf` (r21): per band b,
  * `xxhash64(b, slice(sig, b*(size/bands)+1, size/bands))` — the
  * IntegerType band position folded first from seed 42, then each
  * slice element as long, with the non-divisible tail dropped by the
  * integer division exactly like `slice` dropped it.
  */
class LshBandKeysSpec extends SparkSpec {
  import spark.implicits._

  private def composable(bands: Int) = {
    val r = size(col("sig")) / bands
    posexplode(transform(sequence(lit(0), lit(bands - 1)),
      b => slice(col("sig"), b * r + 1, r))).as(Seq("band", "bslice"))
  }

  test("matches xxhash64(band, slice(sig, ...)) wherever the banding " +
      "contract holds (bands divides the signature length — every " +
      "catalog/operator use); empty signature included") {
    val rnd = new scala.util.Random(7)
    for (bands <- Seq(1, 2, 4, 8, 16, 32)) {
      // divisible lengths only: the lshCandidates contract. (On a NON-
      // divisible length the composable form's slice start b*(n/bands)+1
      // went through Column./ DOUBLE division and truncated per band —
      // an accident outside the contract; the fused form uses clean
      // integer division, pinned in the next test.)
      val sigs = Seq(bands * 4, bands, 0).zipWithIndex.map { case (len, i) =>
        (i.toLong, Seq.fill(len)(rnd.nextLong()))
      }
      val df = sigs.toDF("id", "sig")
      val old = df.select(col("id"), composable(bands))
        .select(col("id"), col("band"),
          xxhash64(col("band"), col("bslice")).as("bkey"))
        .orderBy("id", "band").as[(Long, Int, Long)].collect().toSeq
      val fused = df.select(col("id"),
          posexplode(LshBandKeys.lshBandKeys(col("sig"), bands))
            .as(Seq("band", "bkey")))
        .orderBy("id", "band").as[(Long, Int, Long)].collect().toSeq
      assert(fused == old, s"bands=$bands")
    }
  }

  test("non-divisible length takes integer-division slicing: band b " +
      "covers sig[b*r, b*r+r) with r = len/bands, tail dropped") {
    val sig = (1L to 30L).toSeq // bands=4 -> r=7, tail 2 dropped
    val df = Seq((1L, sig)).toDF("id", "sig")
    val fused = df.select(
        posexplode(LshBandKeys.lshBandKeys(col("sig"), 4))
          .as(Seq("band", "bkey")))
      .orderBy("band").as[(Int, Long)].collect().toSeq
    val expected = df.select(col("sig")) // hash each 7-slice explicitly
      .select((0 until 4).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * 7 + 1, 7)).as(s"k$b")): _*)
      .as[(Long, Long, Long, Long)].head()
    assert(fused.map(_._2) ==
      Seq(expected._1, expected._2, expected._3, expected._4))
  }

  test("null signature yields no band rows after posexplode (callers " +
      "band only non-null signatures)") {
    val df = Seq((1L, Option.empty[Seq[Long]]),
      (2L, Some(Seq(1L, 2L, 3L, 4L)))).toDF("id", "sig")
    val got = df.select(col("id"),
        posexplode(LshBandKeys.lshBandKeys(col("sig"), 4)))
      .select("id").distinct().as[Long].collect().toSet
    assert(got == Set(2L))
  }
}
