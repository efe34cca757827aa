package graftbench

import java.io.File
import java.sql.Date
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipelines.{CountyStats, GrowthStats, Ingest, Sinks}
import graft.sources.{DailyStoreCatalog, DailyStoreChanges, DailyStoreMerge, DailyStoreTimeTravel}
import graft.util.Checkpoints

/** `case_etl_daily`: the reference's own daily job. Each op is one day:
  * ingest that day's ArcGIS-shaped JSON pages, save the day into a
  * `dailystore`, merge the corrections to earlier days, flip outcomes
  * with one SQL UPDATE, recompute the growth and county analytics over
  * the whole store and truncate-and-reload the derived outputs. Every
  * seventh day also reads the store one version back and the day's
  * change feed. An episode starts from a store holding two seed days. */
final class CaseEtl(seed: Long, tiny: Boolean, corrupt: Boolean) extends Workload {
  val name = "case_etl_daily"
  private val seedDays = 4
  private val timedDays = if (tiny) 2 else 3
  private val totalDays = seedDays + timedDays
  private val base0 = if (tiny) 40 else 500
  private val growth = 1.17
  private val nCounties = 67
  private val start = LocalDate.of(2020, 3, 1)
  private val feedCommits = 3 // save, merge, update: one commit each

  private def date(t: Int): Date = Date.valueOf(start.plusDays(t))

  /** Ground truth after all of day `t`'s steps. */
  final case class DayTruth(nNew: Int, nCases: Int, corrected: Seq[Int],
                            flipped: Seq[Int], county: Array[Int], dead: Array[Boolean],
                            caseDay: Array[Int])

  private var counties: IndexedSeq[(String, Int)] = IndexedSeq.empty
  private var truth: IndexedSeq[DayTruth] = IndexedSeq.empty
  private var dayBytes: IndexedSeq[Long] = IndexedSeq.empty
  private var dayRows: IndexedSeq[Long] = IndexedSeq.empty
  private var inputDir: File = _

  // ---------------------------------------------------------------- inputs

  def generate(dir: File): Unit = {
    val r = new SplittableRandom(seed * 1000003L + 11L)
    def gauss(): Double =
      math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    counties = (1 to nCounties).map(i =>
      (f"County$i%02d", math.max(5000, (40000 * math.exp(1.2 * gauss())).toInt)))
    val cum = counties.map(_._2.toDouble).scanLeft(0.0)(_ + _).tail
    def pickCounty(): Int = {
      val x = r.nextDouble() * cum.last
      val i = cum.indexWhere(_ > x)
      if (i < 0) nCounties - 1 else i
    }
    Gen.writeFile(new File(dir, "counties.json")) { w =>
      w.write(counties.zipWithIndex.map { case ((c, p), i) =>
        s"""{"county":"$c","population":$p,"location":{"type":"Point","coordinates":[${-80.0 - i * 0.05},${25.0 + i * 0.07}]}}"""
      }.mkString("[\n", ",\n", "\n]\n"))
    }

    val cCounty = mutable.ArrayBuffer[Int]()
    val cDay = mutable.ArrayBuffer[Int]()
    val cAge = mutable.ArrayBuffer[Int]()   // -1 = "NA"
    val cDead = mutable.ArrayBuffer[Boolean]()
    val cAttrs = mutable.ArrayBuffer[String]() // fixed attribute tail
    val sexes = Seq("Male", "Female")
    val yn = Seq("Yes", "No", "NA")
    var naId = 5000000
    val truths = mutable.ArrayBuffer[DayTruth]()
    val bytes = mutable.ArrayBuffer[Long]()
    val rows = mutable.ArrayBuffer[Long]()

    def feature(i: Int): String = {
      val age = if (cAge(i) < 0) "NA" else cAge(i).toString
      val ms = start.plusDays(cDay(i)).atStartOfDay().toInstant(ZoneOffset.UTC).toEpochMilli +
        (i * 7919L) % 86400000L
      s"""{"attributes":{"ObjectId":${i + 1},"County":"${counties(cCounty(i))._1}","Age":"$age",""" +
        s""""Case_":"Yes","Case1":$ms,"Died":"${if (cDead(i)) "Yes" else "No"}",${cAttrs(i)}}}"""
    }

    for (t <- 0 until totalDays) {
      val old = cCounty.size
      val nNew = math.round(base0 * math.pow(growth, t)).toInt
      val feats = mutable.ArrayBuffer[String]()
      for (_ <- 0 until nNew) {
        cCounty += pickCounty(); cDay += t
        cAge += (if (r.nextInt(20) == 0) -1 else r.nextInt(95))
        cDead += false
        cAttrs += s""""Gender":"${sexes(r.nextInt(2))}","Travel_related":"${yn(r.nextInt(2))}",""" +
          s""""Origin":"${if (r.nextInt(10) == 0) "NY; PA" else "NA"}","Contact":"${yn(r.nextInt(3))}",""" +
          s""""Hospitalized":"${yn(r.nextInt(3))}","EDvisit":"${yn(r.nextInt(3))}""""
        feats += feature(cCounty.size - 1)
      }
      val corrected = mutable.LinkedHashSet[Int]()
      val flipped = mutable.LinkedHashSet[Int]()
      if (t >= seedDays) {
        // ~2% of the day's features correct an earlier day's case
        val nCorr = math.max(1, math.round(0.02 * nNew).toInt)
        while (corrected.size < nCorr) corrected += r.nextInt(old)
        corrected.foreach { i =>
          var c = pickCounty()
          while (c == cCounty(i)) c = pickCounty()
          cCounty(i) = c
          cAge(i) = r.nextInt(95)
          feats += feature(i)
        }
        // outcome flips, applied by SQL UPDATE after the merge
        val nFlip = math.max(1, math.round(0.004 * old).toInt)
        var guard = 0
        while (flipped.size < nFlip && guard < 100 * nFlip) {
          val i = r.nextInt(old)
          if (!cDead(i)) flipped += i
          guard += 1
        }
        flipped.foreach(i => cDead(i) = true)
      }
      // rows the server-side `Case_ not like 'NA%'` rule drops
      for (_ <- 0 until math.max(1, nNew / 100)) {
        naId += 1
        feats += s"""{"attributes":{"ObjectId":$naId,"County":"${counties(pickCounty())._1}",""" +
          s""""Age":"NA","Case_":"NA","Case1":null,"Died":"NA","Gender":"NA","Travel_related":"NA",""" +
          s""""Origin":"NA","Contact":"NA","Hospitalized":"NA","EDvisit":"NA"}}"""
      }
      Gen.shuffle(feats, r)
      var b = 0L
      feats.grouped(1000).zipWithIndex.foreach { case (page, p) =>
        val f = new File(dir, f"pages/day$t%02d/page$p%03d.json")
        val body = page.mkString("{\"features\":[\n", ",\n", "\n]}\n")
        Gen.writeFile(f)(_.write(body))
        b += f.length()
      }
      bytes += b
      rows += feats.size
      truths += DayTruth(nNew, cCounty.size, corrected.toSeq.sorted,
        flipped.toSeq.sorted, cCounty.toArray, cDead.toArray, cDay.toArray)
    }
    truth = truths.toIndexedSeq
    dayBytes = bytes.toIndexedSeq
    dayRows = rows.toIndexedSeq
    Gen.writeFile(new File(dir, "manifest.json"))(_.write(Json.render(
      truth.indices.map { t => Json.obj("date" -> date(t).toString,
        "cases" -> truth(t).nCases, "deceased" -> truth(t).dead.count(identity),
        "per_day" -> perDay(t).toSeq, "per_county" -> perCounty(t).toSeq,
        "top5" -> top5(t).map(c => counties(c)._1),
        "changes" -> Json.obj("insert" -> truth(t).nNew,
          "update" -> (truth(t).corrected ++ truth(t).flipped).distinct.size))
      })))
  }

  private def perDay(t: Int): Array[Long] = {
    val n = new Array[Long](t + 1)
    truth(t).caseDay.foreach(d => n(d) += 1)
    n
  }
  private def perCounty(t: Int): Array[Long] = {
    val n = new Array[Long](nCounties)
    truth(t).county.foreach(c => n(c) += 1)
    n
  }
  /** Top five by case count; ties break on the county name, ascending. */
  private def top5(t: Int): Seq[Int] = {
    val n = perCounty(t)
    (0 until nCounties).sortBy(c => (-n(c), counties(c)._1)).take(5)
  }

  def episodeRows: Long = dayRows.drop(seedDays).sum
  def episodeInputBytes: Long = dayBytes.sum
  private var storeBytesFirst = 0L
  override def storeBytes: Long = storeBytesFirst

  // ------------------------------------------------------------------ ops

  private var countiesPath: String = _
  private def countiesDf(h: Harness): DataFrame = Ingest.readCounties(h.spark, countiesPath)
  private def pagesDir(t: Int): String = new File(inputDir, f"pages/day$t%02d").getPath

  def load(h: Harness, dir: File): Unit = {
    inputDir = dir
    countiesPath = new File(dir, "counties.json").getPath
  }

  private val storeCols = Seq(col("date_added").as("d"), col("case_number"),
    col("county"), col("age"), col("sex"), col("travel"),
    col("contact_with_confirmed_case").as("contact"), col("deceased"),
    col("hospitalized"), col("ed_visit"))

  /** One episode's store: a `dailystore` table under its own catalog. */
  final class Store(h: Harness, tag: String) {
    val root: File = h.dir(tag)
    val path: String = new File(root, "cases").getPath
    val catalog = s"dstore_$tag"
    val out: File = h.dir(tag, "out")
    new File(path).mkdirs()
    DailyStoreCatalog.register(h.spark, catalog, root.getPath)
    DailyStoreTimeTravel.enable(h.spark, path, keep = 16)
  }

  private val mergeDays = mutable.ArrayBuffer[Int]()
  private var storeFilesLast = 0L
  private var writeAmp = 0.0

  private def ingest(h: Harness, t: Int): Checkpoints.Tracked =
    h.span("pipelines.ingest") {
      Checkpoints.tracked(Ingest.fromJsonPagesDir(h.spark, pagesDir(t), countiesDf(h))
        .select(storeCols: _*))
    }

  private def saveDay(h: Harness, s: Store, cases: DataFrame, t: Int): Unit =
    h.span("sources.write") {
      cases.filter(col("d") === lit(date(t))).write.format("dailystore")
        .option("path", s.path).option("partitionCol", "d")
        .option("partitionOverwriteMode", "dynamic").mode("overwrite").save()
    }

  /** One day: the timed body. Returns the frames its check reads. */
  private def day(h: Harness, s: Store, t: Int): Option[(DataFrame, DataFrame)] = {
    val spark = h.spark
    val cases = ingest(h, t)
    saveDay(h, s, cases.df, t)
    val days = h.span("sources.merge") {
      DailyStoreMerge.mergeByKey(spark, s.path, cases.df.filter(col("d") < lit(date(t))),
        "case_number", "d")
    }
    if (h.timing) mergeDays += days.size
    h.span("plans.dml") {
      spark.sql(s"UPDATE ${s.catalog}.cases SET deceased = 'Yes' " +
        s"WHERE case_number IN (${truth(t).flipped.map(_ + 1).mkString(",")})")
    }
    val all = h.span("sources.read")(Checkpoints.tracked(spark.read.parquet(s.path)))
    val outs = h.span("ops.analytics") {
      Seq(GrowthStats.growthSeries(all.df, simulate = true, dateCol = "d"),
        GrowthStats.growthRates(all.df, "d"),
        CountyStats.topFiveCounties(all.df, countiesDf(h), dateCol = "d"))
        .map(Checkpoints.tracked)
    }
    h.span("pipelines.sinks") {
      outs.zip(Seq("growth", "rates", "top5")).foreach { case (o, n) =>
        Sinks.truncateAndReload(o.df, new File(s.out, n).getPath) }
    }
    // every 7th calendar day; at tiny scale the last day too, so the smoke
    // test reaches the version read and the change feed
    val weekly = t % 7 == 6 || (tiny && t == totalDays - 1)
    val feed = if (!weekly) None else h.span("sources.read") {
      val seqNow = DailyStoreTimeTravel.history(spark, s.path)
        .agg(max("seq")).first().getLong(0)
      Some((h.materializeKept(DailyStoreTimeTravel.readVersion(spark, s.path, feedCommits, "d")),
        h.materializeKept(DailyStoreChanges.readChanges(spark, s.path,
          seqNow - feedCommits, seqNow, "d", Some("case_number")))))
    }
    (cases +: all +: outs).foreach(_.release())
    feed
  }

  // --------------------------------------------------------------- checks

  private def checkDay(h: Harness, s: Store, t: Int,
                       feed: Option[(DataFrame, DataFrame)]): Seq[String] = {
    val spark = h.spark
    val tr = truth(t)
    val errs = mutable.ArrayBuffer[String]()
    val bad = corrupt && h.timing

    // the store: per (day, county) counts and deceased counts
    val got = spark.read.parquet(s.path).groupBy("d", "county")
      .agg(count(lit(1)).as("n"), sum(when(col("deceased") === "Yes", 1).otherwise(0)).as("dead"))
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val exp = mutable.Map[(String, String), (Long, Long)]()
    for (i <- 0 until tr.nCases) {
      val k = (date(tr.caseDay(i)).toString, counties(tr.county(i))._1)
      val (n, d) = exp.getOrElse(k, (0L, 0L))
      exp(k) = (n + 1, d + (if (tr.dead(i)) 1 else 0))
    }
    val gotC = if (bad) got.updated(got.keys.min, (-1L, -1L)) else got
    if (gotC != exp) errs += s"store: ${(gotC.toSet diff exp.toSet).take(3)} vs expected ${(exp.toSet diff gotC.toSet).take(3)}"

    // growth series and rates
    val cum = perDay(t).scanLeft(0L)(_ + _).tail
    val rates = cum.indices.map(k => if (k == 0) Double.NaN else cum(k).toDouble / cum(k - 1))
    val g = spark.read.parquet(new File(s.out, "growth").getPath)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getString(2)))
    val actual = g.filter(_._3 == "actual").map(x => x._1 -> x._2).toMap
    val expActual = cum.indices.map(k => date(k).toString -> cum(k)).toMap
    if (actual != expActual) errs += s"growth actual: got ${actual.size} rows, expected ${expActual.size}"
    val last5 = rates.drop(1).takeRight(5)
    val gf = BigDecimal(last5.sum / last5.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pred = g.filter(_._3 != "actual").sortBy(_._1)
    val expPred = (1 to 14).map(i => (date(t + i).toString, math.round(cum(t) * math.pow(gf, i))))
    if (pred.map(_._1).toSeq != expPred.map(_._1) ||
        pred.zip(expPred).exists { case (a, b) => math.abs(a._2 - b._2) > 1 + 1e-6 * b._2 })
      errs += s"growth prediction: ${pred.take(2).toSeq} vs ${expPred.take(2)}"
    val rt = spark.read.parquet(new File(s.out, "rates").getPath).collect()
      .map(r => r.getDate(0).toString -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    val rOk = rt.size == rates.size && rates.indices.forall { k =>
      rt.get(date(k).toString).exists(v =>
        if (k == 0) v.isNaN else math.abs(v - rates(k)) <= 1e-9 * rates(k))
    }
    if (!rOk) errs += s"growth rates: ${rt.size} rows, expected ${rates.size}"

    // top five counties: per-county cumulative daily counts
    val top = top5(t)
    val expTop = top.flatMap { c =>
      val perD = new Array[Long](t + 1)
      for (i <- 0 until tr.nCases if tr.county(i) == c) perD(tr.caseDay(i)) += 1
      var acc = 0L
      perD.indices.filter(perD(_) > 0).map { d =>
        acc += perD(d)
        (counties(c)._1, date(d).toString, acc)
      }
    }.toSet
    val tRows = spark.read.parquet(new File(s.out, "top5").getPath).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getDouble(3)))
    if (tRows.map(x => (x._1, x._2, x._3)).toSet != expTop || tRows.length != expTop.size)
      errs += s"top5: got ${tRows.map(_._1).distinct.sorted.toSeq}, expected ${top.map(counties(_)._1).sorted}"
    val pop = counties.toMap
    tRows.find(x => math.abs(x._4 - x._3 / (pop(x._1) / 1000.0)) > 0.0051)
      .foreach(x => errs += s"top5 normalized_count $x")

    // weekly: one version back, and the day's change feed
    feed.foreach { case (prev, changes) =>
      val n = prev.count()
      if (n != truth(t - 1).nCases) errs += s"readVersion: $n rows, expected ${truth(t - 1).nCases}"
      val byType = changes.groupBy(DailyStoreChanges.ChangeTypeCol).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val nUpd = (tr.corrected ++ tr.flipped).distinct.size.toLong
      val expCh = Map("insert" -> tr.nNew.toLong, "update_preimage" -> nUpd,
        "update_postimage" -> nUpd)
      if (byType != expCh) errs += s"readChanges: $byType, expected $expCh"
      prev.unpersist(); changes.unpersist()
    }
    errs.toSeq
  }

  // ------------------------------------------------------------- episodes

  private def runDays(h: Harness, s: Store, days: Range): Unit = {
    // seed days: untimed store seeding
    for (t <- 0 until seedDays) {
      val c = ingest(h, t)
      saveDay(h, s, c.df, t)
      c.release()
    }
    val seeded = Gen.bytesUnder(new File(s.path))
    days.foreach { t =>
      var feed: Option[(DataFrame, DataFrame)] = None
      h.op(s"day$t") { feed = day(h, s, t) } (checkDay(h, s, t, feed))
    }
    if (h.timing && storeBytesFirst == 0L) {
      storeBytesFirst = Gen.bytesUnder(new File(s.path))
      storeFilesLast = liveFiles(new File(s.path))
      writeAmp = (storeBytesFirst - seeded).toDouble / dayBytes.slice(days.head, days.last + 1).sum
    }
  }

  private def liveFiles(f: File): Long =
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
    else f.listFiles().filterNot(_.getName.startsWith("_")).map(liveFiles).sum

  private var lastTag: Option[String] = None

  def warmup(h: Harness): Unit = {
    val s = new Store(h, "warm")
    runDays(h, s, seedDays until seedDays + 2)
    h.rmrf(s.root)
  }

  def episode(h: Harness, e: Int): Unit = {
    lastTag.foreach(t => h.rmrf(new File(h.work, t)))
    val s = new Store(h, s"ep$e")
    lastTag = Some(s"ep$e")
    runDays(h, s, seedDays until totalDays)
  }

  override def layerMetrics(h: Harness, t: TraceSummary): Map[String, Double] = Map(
    "pipelines.ingest_s" -> t.perOp(t.selfSec.getOrElse("pipelines.ingest", 0.0)),
    "sources.write_s" -> t.perOp(t.selfSec.getOrElse("sources.write", 0.0)),
    "plans.dml_s" -> t.perOp(t.selfSec.getOrElse("plans.dml", 0.0)),
    "pipelines.sinks_s" -> t.perOp(t.selfSec.getOrElse("pipelines.sinks", 0.0)),
    "ops.analytics_s" -> t.perOp(t.selfSec.getOrElse("ops.analytics", 0.0)),
    "sources.read_s" -> t.perOp(t.selfSec.getOrElse("sources.read", 0.0)),
    "sources.merge_s" -> t.perOp(t.selfSec.getOrElse("sources.merge", 0.0)),
    "sources.merge_days" -> mergeDaysMean,
    "sources.write_amp" -> writeAmp,
    "sources.store_files" -> storeFilesLast.toDouble)

  override def recordExtras: Seq[(String, Any)] = Seq(
    "days_per_episode" -> timedDays, "seed_days" -> seedDays,
    "cases_at_end" -> truth.last.nCases, "store_files" -> storeFilesLast,
    "write_amp" -> writeAmp, "merge_days_mean" -> mergeDaysMean)

  private def mergeDaysMean: Double =
    if (mergeDays.isEmpty) 0.0 else mergeDays.sum.toDouble / mergeDays.size
}
