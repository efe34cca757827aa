package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins SemDeDup's gathered within-cell search (SemDedupDroppedIds)
  * against a driver-side brute-force reference of the declared drop
  * rule: on a seeded random corpus, and on the id and vector shapes the
  * search must handle — unpadded string, decimal, tied and null ids,
  * null and ragged vectors, a pair exactly at the threshold, and an
  * over-cap cell under `failOnOverCap = false`.
  */
class SemDedupGatheredSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20220818L)
  private val dim = 16

  /** ~8 loose clusters plus exact copies and tight near-dups. */
  private val vectors: Seq[(Long, Array[Float])] = {
    val centers = Seq.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val organic = (0L until 200L).map { i =>
      val c = centers((i % 8).toInt)
      val v = c.zip(Array.fill(dim)(rnd.nextGaussian().toFloat * 0.3f))
        .map { case (a, b) => a + b }
      (i, v)
    }
    val copies = organic.filter(_._1 % 10 == 0)
      .map { case (i, v) => (i + 1000L, v.clone()) }
    val tight = organic.filter(_._1 % 7 == 0).map { case (i, v) =>
      (i + 2000L, v.map(x => x + rnd.nextGaussian().toFloat * 1e-4f))
    }
    organic ++ copies ++ tight
  }

  /** A fixed (deterministic) cell assignment: hash ids into k cells so
    * the test controls the cells instead of KMeans — copies/near-dups
    * land WITH their originals by construction (same formula).
    */
  private def cellOf(id: Long): Long = {
    // copies share their original's cell: normalize the id space first
    val base = if (id >= 2000L) id - 2000L else if (id >= 1000L) id - 1000L else id
    base % 5
  }

  private def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      dot += x(i).toDouble * y(i).toDouble
      nx += x(i).toDouble * x(i).toDouble
      ny += y(i).toDouble * y(i).toDouble
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  private def df = vectors.toDF("vec_id", "embedding")
  private def cellsDf = vectors.map { case (id, _) => (id, cellOf(id)) }
    .toDF("vec_id", "cell")

  // --- generic reference: any id type, the documented cells contract ---

  /** Survivors of the drop rule over `vecRows` (id, vector) and
    * `cellRows` (id, cell), brute-forced on the driver: each cell holds
    * every vector of every id assigned to it (the cells ⋈ vectors join,
    * so a cell's occupancy is counted after the join); a cell past
    * `maxCluster` drops nothing; within a cell an entry is dropped iff
    * an entry with a STRICTLY lower id (under `ord`) and a non-null
    * vector has cosine >= minCosine with it. Null ids never join a cell.
    */
  private def referenceOf(vecRows: Seq[(Any, Array[Float])],
                          cellRows: Seq[(Any, Long)], minCosine: Double,
                          maxCluster: Int, ord: Ordering[Any]): Seq[String] = {
    val vecsById = vecRows.filter(_._1 != null).groupBy(_._1)
    val dropped = cellRows.filter(_._1 != null).groupBy(_._2).values
      .flatMap { members =>
        val entries = members.flatMap { case (id, _) =>
          vecsById.getOrElse(id, Nil) }
        if (entries.size > maxCluster) Nil
        else entries.collect { case (idJ, vJ) if vJ != null &&
          entries.exists { case (idI, vI) => vI != null &&
            ord.lt(idI, idJ) && cosine(vI, vJ) >= minCosine } => idJ }
      }.toSet
    vecRows.map(_._1).filterNot(dropped).map(String.valueOf).sorted
  }

  /** Runs SemDeDup on the frames and compares with [[referenceOf]];
    * returns the reference's dropped count so callers can assert the
    * case is not vacuous.
    */
  private def checkAgainstReference(vecs: DataFrame,
                                    cells: DataFrame,
                                    minCosine: Double, ord: Ordering[Any],
                                    maxCluster: Int = 10000,
                                    failOnOverCap: Boolean = true): Int = {
    val vecRows = vecs.select("vec_id", "embedding").collect().toSeq.map(r =>
      (r.get(0), if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray))
    val cellRows = cells.select(col("vec_id"), col("cell").cast("long"))
      .collect().toSeq.map(r => (r.get(0), r.getLong(1)))
    val want = referenceOf(vecRows, cellRows, minCosine, maxCluster, ord)
    val got = SemDedup.semanticDedupAssigned(vecs, cells, "vec_id",
        "embedding", minCosine, maxCluster, failOnOverCap)
      .select("vec_id").collect().toSeq.map(r => String.valueOf(r.get(0))).sorted
    assert(got == want)
    vecRows.size - want.size
  }

  private val stringOrd: Ordering[Any] =
    Ordering.by[Any, String](_.asInstanceOf[String])

  private val longOrd: Ordering[Any] =
    Ordering.by[Any, Long](_.asInstanceOf[Long])

  test("gathered form matches the brute-force drop rule at several thresholds") {
    for (t <- Seq(0.9, 0.99, 0.999999))
      assert(checkAgainstReference(df, cellsDf, t, longOrd) > 0, s"minCosine=$t")
  }

  /** The seeded corpus under unpadded string ids "v<n>", whose string
    * order differs from the numeric order (e.g. "v1000" < "v2" < "v200").
    */
  private def stringIds(df: DataFrame) =
    df.withColumn("vec_id", concat(lit("v"), col("vec_id").cast("string")))

  test("unpadded string ids: lowest id in STRING order survives") {
    val nDropped = checkAgainstReference(stringIds(df), stringIds(cellsDf),
      0.99, stringOrd)
    assert(nDropped > 0)
    // a copy whose id sorts first as a string is the survivor: 1000 is
    // an exact copy of 0, and "v0" < "v1000" keeps "v0"; 1010 copies 10,
    // and "v10" < "v1010"; 2000 is a near-dup of 0 and "v2000" > "v0"
    val out = SemDedup.semanticDedupAssigned(stringIds(df),
        stringIds(cellsDf), "vec_id", "embedding", minCosine = 0.99)
      .select("vec_id").as[String].collect().toSet
    assert(out("v0") && !out("v1000") && !out("v2000"))
    // string vs numeric order really differ on a dropped pair: 2140 is a
    // near-dup of 140, and "v2140" > "v140" — but 1140 copies 140 too,
    // so of the three only "v1140" (< "v140") survives
    assert(out("v1140") && !out("v140") && !out("v2140"))
  }

  test("decimal ids follow numeric order") {
    val ddf = df.withColumn("vec_id",
      (col("vec_id").cast("decimal(12,2)") / 100).cast("decimal(12,2)"))
    val dcells = cellsDf.withColumn("vec_id",
      (col("vec_id").cast("decimal(12,2)") / 100).cast("decimal(12,2)"))
    assert(ddf.schema("vec_id").dataType.typeName.startsWith("decimal"))
    val decOrd: Ordering[Any] = Ordering.by[Any, BigDecimal](
      x => BigDecimal(x.asInstanceOf[java.math.BigDecimal]))
    assert(checkAgainstReference(ddf, dcells, 0.99, decOrd) > 0)
  }

  test("tied (duplicated) string ids never drop each other") {
    // "t-a" twice with two different vectors, plus a near-dup of the
    // second copy under a higher id and an exact copy of the first
    // under a lower one
    val a1 = vectors(0)._2
    val a2 = vectors(1)._2
    val rows = Seq(("t-a", a1), ("t-a", a2), ("t-b", a2.map(_ + 1e-5f)),
      ("t-0", a1.clone()), ("t-c", vectors(2)._2))
    val tdf = rows.toDF("vec_id", "embedding")
    val tcells = rows.map { case (id, _) => (id, 0L) }.toDF("vec_id", "cell")
    assert(checkAgainstReference(tdf, tcells, 0.999, stringOrd) > 0)
    val out = SemDedup.semanticDedupAssigned(tdf, tcells, "vec_id",
        "embedding", minCosine = 0.999)
      .select("vec_id").as[String].collect().sorted.toSeq
    // both "t-a" rows go: "t-0" < "t-a" copies the first copy's vector,
    // and an id dropped once drops every row that carries it
    assert(out == Seq("t-0", "t-c"))
  }

  test("null ids and null vectors: never compared, always survive") {
    val base = vectors.take(12).map { case (id, v) => (s"n$id", v) }
    val rows: Seq[(String, Array[Float])] = base ++ Seq(
      (null, base.head._2.clone()),           // null id, exact copy
      ("n00", null),                           // null vector, low id
      ("n99", base.head._2.clone()),           // copy of "n0" -> dropped
      ("nz", null))                            // null vector, high id
    val ndf = rows.toDF("vec_id", "embedding")
    val ncells = rows.map { case (id, _) => (id, 0L) }.toDF("vec_id", "cell")
    assert(checkAgainstReference(ndf, ncells, 0.99, stringOrd) > 0)
    val out = SemDedup.semanticDedupAssigned(ndf, ncells, "vec_id",
        "embedding", minCosine = 0.99)
      .select("vec_id").as[String].collect().toSeq
    assert(out.count(_ == null) == 1 && out.contains("n00") &&
      out.contains("nz") && !out.contains("n99"))
  }

  test("ragged vectors compare over the shorter length") {
    // prefixes of one vector: over the shared length they are identical
    val v = vectors(3)._2
    val rows = Seq(("r1", v.take(8)), ("r2", v), ("r3", v.take(12)),
      ("r4", vectors(4)._2.take(8)), ("r5", v.take(4).map(-_)))
    val rdf = rows.toDF("vec_id", "embedding")
    val rcells = rows.map { case (id, _) => (id, 0L) }.toDF("vec_id", "cell")
    assert(checkAgainstReference(rdf, rcells, 0.999999, stringOrd) == 2)
  }

  test("a pair whose cosine equals minCosine exactly is dropped") {
    val (x, y) = (vectors(5)._2, vectors(13)._2)
    val t = cosine(x, y)
    val rows = Seq(("e1", x), ("e2", y), ("e3", vectors(6)._2))
    val edf = rows.toDF("vec_id", "embedding")
    val ecells = rows.map { case (id, _) => (id, 0L) }.toDF("vec_id", "cell")
    def survivors(th: Double) = SemDedup.semanticDedupAssigned(edf, ecells,
        "vec_id", "embedding", minCosine = th)
      .select("vec_id").as[String].collect().sorted.toSeq
    assert(checkAgainstReference(edf, ecells, t, stringOrd) >= 1)
    assert(!survivors(t).contains("e2"))
    assert(survivors(math.nextUp(t)).contains("e2"))
  }

  test("over-cap cell with failOnOverCap = false: only that cell keeps its dups") {
    // cell 0 holds every exact copy (66 rows), cells 1-4 hold 45-46
    val sizes = vectors.groupBy { case (id, _) => cellOf(id) }.map {
      case (c, m) => c -> m.size }
    assert(sizes(0L) > 60 && sizes.filter(_._1 != 0L).values.forall(_ <= 60),
      s"cell sizes $sizes")
    assert(checkAgainstReference(stringIds(df), stringIds(cellsDf), 0.99,
      stringOrd, maxCluster = 60, failOnOverCap = false) > 0)
    val out = SemDedup.semanticDedupAssigned(stringIds(df), stringIds(cellsDf),
        "vec_id", "embedding", minCosine = 0.99, maxCluster = 60,
        failOnOverCap = false)
      .select("vec_id").as[String].collect().toSet
    assert(out("v1000")) // the copy in the skipped cell survives
  }

  test("gathered form agrees in the forced shuffle_hash regime too") {
    try {
      spark.conf.set("spark.graft.semdedup.maxBroadcastVecs", "1")
      checkAgainstReference(df, cellsDf, 0.99, longOrd)
    } finally spark.conf.unset("spark.graft.semdedup.maxBroadcastVecs")
  }

  test("over-cap cell saturates to null: its ids silently survive (audit contract)") {
    // cap below the largest cell: every id of THAT cell must survive,
    // the other cells dedup normally — the pair stage's silent-drop
    // semantics, byte for byte
    val capped = SemDedup.semanticDedupAssigned(df, cellsDf,
      "vec_id", "embedding", minCosine = 0.99,
      maxCluster = 3, failOnOverCap = false)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(capped == vectors.map(_._1).sorted) // all cells > 3 members
  }

  test("null vector rows occupy cap space but never drop or get dropped") {
    val withNull = vectors.take(6).map { case (id, v) => (id, Option(v)) } ++
      Seq((9000L, Option.empty[Array[Float]]),
        (9001L, Some(vectors.head._2.clone())))
    val ndf = withNull.toDF("vec_id", "embedding")
    val ncells = withNull.map { case (id, _) => (id, 0L) }
      .toDF("vec_id", "cell")
    val out = SemDedup.semanticDedupAssigned(ndf, ncells,
      "vec_id", "embedding", minCosine = 0.95)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // 9001 is an exact copy of id 0 -> dropped; 9000 (null vec) survives
    assert(out.contains(9000L) && !out.contains(9001L))
  }

  test("int ids widen losslessly through the gathered path") {
    val sub = vectors.filter(_._1 < 300L)
    val idf = sub.map { case (id, v) => (id.toInt, v) }.toDF("vec_id", "embedding")
    val icells = sub.map { case (id, _) => (id.toInt, cellOf(id)) }
      .toDF("vec_id", "cell")
    assert(SemDedup.semanticDedupAssigned(idf, icells, "vec_id", "embedding",
      minCosine = 0.999999).schema("vec_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    checkAgainstReference(idf, icells, 0.999999,
      Ordering.by[Any, Int](_.asInstanceOf[Int]))
  }
}
