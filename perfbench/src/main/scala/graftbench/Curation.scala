package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, SemDedup}
import graft.pipelines.CorpusPipeline

/** Shared pieces of the two curation workloads. */
object Curation {
  /** Tier 1 keeps English and Spanish above quality 0.3; French and German
    * documents and punctuation junk are the planted drops. */
  def config(scope: String, stopSegments: Boolean): CorpusPipeline.Config =
    CorpusPipeline.Config(langs = Seq("en", "es"), minQuality = 0.3,
      stopSegmentFrac = if (stopSegments) Some(0.2) else None, scope = Some(scope))

  final case class Doc(id: Long, text: String)

  def writeDocs(f: File, docs: Seq[Doc]): Long = {
    Gen.writeFile(f)(w => docs.sortBy(_.id).foreach(d =>
      w.write(s"""{"doc_id":${d.id},"text":${Gen.jsonStr(d.text)}}\n""")))
    f.length()
  }

  def toParquet(h: Harness, jsonl: File, schema: String): String = {
    val out = new File(jsonl.getPath.stripSuffix(".jsonl") + ".parquet").getPath
    h.spark.read.schema(schema).json(jsonl.getPath).write.mode("overwrite").parquet(out)
    out
  }

  val docSchema = "doc_id bigint, text string"

  /** (id -> tokens) of a curated frame, for the checks. */
  def idTokens(df: DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), col("tokens").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  def diff[K, V](what: String, got: Map[K, V], exp: Map[K, V]): Seq[String] =
    if (got == exp) Nil
    else Seq(s"$what: ${got.size} rows vs ${exp.size} expected; " +
      s"unexpected ${(got.toSet diff exp.toSet).take(3)}, missing ${(exp.toSet diff got.toSet).take(3)}")

  def storeStats(root: File): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val fs = if (root.exists()) walk(root) else Nil
    (fs.size.toLong, fs.map(_.length()).sum)
  }
}

/** `curate_full`: one full curation pass with the stop-segment tier on,
  * then SemDeDup over an embedding table with string ids. Each op is one
  * such pass over the same generated corpus. */
final class CurateFull(seed: Long, tiny: Boolean, corrupt: Boolean) extends Workload {
  import Curation._
  val name = "curate_full"
  private val nOrig = if (tiny) 150 else 2400
  private val nVec = if (tiny) 400 else 8000
  private val dim = 64

  private var survivors: Map[Long, Long] = Map.empty // doc_id -> tokens
  private var vecIds: Set[String] = Set.empty
  private var semDrop: Set[String] = Set.empty
  private var nDocs = 0L
  private var inputBytes = 0L
  private var docsPq: String = _
  private var embPq: String = _
  private var warmDocsPq: String = _
  private var warmEmbPq: String = _

  def generate(dir: File): Unit = {
    val r = new SplittableRandom(seed * 1000003L + 23L)
    // (family, text, body tokens); family -1 = planted tier-1 drop
    val docs = mutable.ArrayBuffer[(Int, String, Int)]()
    val bodies = mutable.ArrayBuffer[(Array[String], Boolean, Boolean)]()
    def render(b: Array[String], hd: Boolean, ft: Boolean): String =
      ((if (hd) Text.header else Nil) ++ b ++ (if (ft) Text.footer else Nil)).mkString(" ")
    for (f <- 0 until nOrig) {
      val b = Text.body(r, Text.keptLang(r), 12 + r.nextInt(13))
      val hd = r.nextDouble() < 0.4
      val ft = r.nextDouble() < 0.35
      bodies += ((b, hd, ft))
      docs += ((f, render(b, hd, ft), b.length))
    }
    for (_ <- 0 until nOrig / 10) { // verbatim copies
      val f = r.nextInt(nOrig)
      docs += ((f, docs(f)._2, docs(f)._3))
    }
    for (_ <- 0 until nOrig * 15 / 100) { // near copies: one word replaced
      val f = r.nextInt(nOrig)
      val (b, hd, ft) = bodies(f)
      val t = render(Text.nearCopy(r, b), hd, ft)
      docs += ((f, t, b.length))
      if (r.nextInt(5) == 0) docs += ((f, t, b.length))
    }
    for (_ <- 0 until nOrig / 10)
      docs += ((-1, render(Text.body(r, Text.droppedLang(r), 12 + r.nextInt(13)),
        r.nextDouble() < 0.4, false), 0))
    for (_ <- 0 until nOrig / 20) docs += ((-1, Text.junk(r), 0))
    Gen.shuffle(docs, r)
    val withIds = docs.zipWithIndex.map { case ((f, t, n), i) => (i.toLong, f, t, n) }
    survivors = withIds.filter(_._2 >= 0).groupBy(_._2).values
      .map(ms => ms.minBy(_._1)).map(m => m._1 -> m._4.toLong).toMap
    nDocs = withIds.size
    val docBytes = writeDocs(new File(dir, "docs.jsonl"), withIds.map(x => Doc(x._1, x._3)).toSeq)

    // embeddings: Gaussian vectors, 5% verbatim copies under fresh ids
    def gauss(): Double =
      math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    val ids = mutable.LinkedHashSet[String]()
    while (ids.size < nVec + nVec / 20) ids += f"v${r.nextLong()}%016x"
    val idSeq = ids.toIndexedSeq
    val vecs = mutable.ArrayBuffer[(String, Array[Float], Int)]()
    for (i <- 0 until nVec) vecs += ((idSeq(i), Array.fill(dim)(gauss().toFloat), i))
    for (j <- 0 until nVec / 20) {
      val o = r.nextInt(nVec)
      vecs += ((idSeq(nVec + j), vecs(o)._2, o))
    }
    vecIds = idSeq.toSet
    semDrop = vecs.groupBy(_._3).values.flatMap(g => g.map(_._1).sorted.tail).toSet
    Gen.shuffle(vecs, r)
    val ef = new File(dir, "embeddings.jsonl")
    Gen.writeFile(ef)(w => vecs.foreach { case (id, v, _) =>
      w.write(s"""{"id":"$id","vec":[${v.mkString(",")}]}\n""") })
    inputBytes = docBytes + ef.length()
    Gen.writeFile(new File(dir, "manifest.json"))(_.write(Json.render(Json.obj(
      "survivors" -> survivors.toSeq.sortBy(_._1).map { case (i, n) => Seq(i, n) },
      "semdedup_drop" -> semDrop.toSeq.sorted))))
  }

  def episodeRows: Long = nDocs + vecIds.size
  def episodeInputBytes: Long = inputBytes

  def load(h: Harness, dir: File): Unit = {
    docsPq = toParquet(h, new File(dir, "docs.jsonl"), docSchema)
    embPq = toParquet(h, new File(dir, "embeddings.jsonl"), "id string, vec array<float>")
    // the warm-up pass runs the same plans over an eighth of the inputs:
    // code generation and JIT warm up at a fraction of a full pass
    warmDocsPq = new File(dir, "warm_docs.parquet").getPath
    warmEmbPq = new File(dir, "warm_embeddings.parquet").getPath
    h.spark.read.parquet(docsPq).filter(col("doc_id") < nDocs / 8)
      .write.mode("overwrite").parquet(warmDocsPq)
    h.spark.read.parquet(embPq).filter(pmod(xxhash64(col("id")), lit(8)) === 0)
      .write.mode("overwrite").parquet(warmEmbPq)
  }

  private val cfg = config("graftbench_full", stopSegments = true)

  private def pass(h: Harness, docsPath: String, embPath: String, check: Boolean): Unit = {
    var kept: DataFrame = null
    var sem: DataFrame = null
    h.op("curate") {
      val docs = h.spark.read.parquet(docsPath)
      val curated = h.span("pipelines.curate")(CorpusPipeline.curate(docs, cfg))
      kept = h.span("curate.survivors")(h.materializeKept(curated))
      sem = h.span("dedup.semdedup")(h.materializeKept(
        SemDedup.semanticDedup(h.spark.read.parquet(embPath), "id", "vec",
          nClusters = 0, minCosine = 0.95)))
    } (if (!check) { kept.unpersist(); sem.unpersist(); Nil } else {
      val got = idTokens(kept)
      val gotC = if (corrupt && h.timing) got - got.keys.min else got
      val semGot = sem.select("id").collect().map(_.getString(0)).toSet
      kept.unpersist(); sem.unpersist()
      diff("curate survivors", gotC, survivors) ++
        diff("semdedup survivors", semGot.map(_ -> true).toMap,
          (vecIds -- semDrop).map(_ -> true).toMap)
    })
  }

  def warmup(h: Harness): Unit = pass(h, warmDocsPq, warmEmbPq, check = false)
  def episode(h: Harness, e: Int): Unit = pass(h, docsPq, embPq, check = true)

  override def layerMetrics(h: Harness, t: TraceSummary): Map[String, Double] = {
    // useful work over attempts of the LSH stage, from the public
    // operators on this corpus' tier-1 survivors (outside the timed body)
    val docs = h.spark.read.parquet(docsPq)
      .filter(graft.functions.CurateTier1.tier1Keep(col("text"), cfg.langs, cfg.minQuality))
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", cfg.minhashBits, cfg.shingleN)
      .localCheckpoint()
    val cands = Dedup.lshCandidates(sig, "doc_id", cfg.lshBands).localCheckpoint()
    val nCand = cands.count()
    val nKept = Dedup.minhashJaccard(cands, sig, "doc_id")
      .filter(col("est_jaccard") >= cfg.minEstJaccard).count()
    def b(k: String) = t.perOp(t.bucketSec.getOrElse(k, 0.0))
    Map(
      "pipelines.curate_s" -> t.perOp(t.selfSec.getOrElse("pipelines.curate", 0.0)),
      "curate.survivors_s" -> t.perOp(t.selfSec.getOrElse("curate.survivors", 0.0)),
      "dedup.semdedup_s" -> t.perOp(t.selfSec.getOrElse("dedup.semdedup", 0.0)),
      "curate.exact_s" -> b("curate.exact"), "curate.deboil_s" -> b("curate.deboil"),
      "curate.sig_s" -> b("curate.sig"), "curate.pairs_s" -> b("curate.pairs"),
      "dedup.cc_s" -> b("dedup.cc"),
      "dedup.cc_jobs" -> t.perOp(t.bucketJobs.getOrElse("dedup.cc", 0).toDouble),
      "dedup.lsh_pairs" -> nCand.toDouble,
      "dedup.verify_precision" -> (if (nCand == 0) 0.0 else nKept.toDouble / nCand))
  }

  override def recordExtras: Seq[(String, Any)] = Seq("docs" -> nDocs,
    "survivors" -> survivors.size, "vectors" -> vecIds.size, "semdedup_drops" -> semDrop.size)
}

/** `curate_daily`: stores seeded from a base corpus, then daily batches
  * through `curateIncremental`. Each op is one batch; an episode is the
  * full batch sequence against freshly seeded stores. */
final class CurateDaily(seed: Long, tiny: Boolean, corrupt: Boolean) extends Workload {
  import Curation._
  val name = "curate_daily"
  private val nBase = if (tiny) 150 else 2400
  private val nBatches = if (tiny) 3 else 6
  private val batchSize = math.max(20, nBase * 4 / 100)

  private var baseNovel: Map[Long, Long] = Map.empty
  private var batchNovel: IndexedSeq[Map[Long, Long]] = IndexedSeq.empty
  private var batchRows = 0L
  private var inputBytes = 0L
  private var basePq: String = _
  private var batchPq: IndexedSeq[String] = IndexedSeq.empty
  private var storeFiles = 0L
  private var storeBytesLast = 0L
  private var storeBytesFirst = 0L
  private val storeSeries = mutable.ArrayBuffer[(Long, Long)]() // files, bytes per batch

  def generate(dir: File): Unit = {
    val r = new SplittableRandom(seed * 1000003L + 37L)
    // the pool copies are drawn from: every document the stores hold
    val pool = mutable.ArrayBuffer[Array[String]]()
    def fresh(lang: String) = Text.body(r, lang, 12 + r.nextInt(13))

    val base = mutable.ArrayBuffer[(String, Int)]() // text, tokens (0 = dropped)
    for (i <- 0 until nBase) {
      val k = r.nextInt(20)
      if (k == 0) base += ((Text.junk(r), 0))
      else if (k == 1) base += ((fresh(Text.droppedLang(r)).mkString(" "), 0))
      else { val b = fresh(Text.keptLang(r)); pool += b; base += ((b.mkString(" "), b.length)) }
    }
    Gen.shuffle(base, r)
    baseNovel = base.zipWithIndex.collect { case ((_, n), i) if n > 0 => i.toLong -> n.toLong }.toMap
    inputBytes = writeDocs(new File(dir, "base.jsonl"),
      base.zipWithIndex.map { case ((t, _), i) => Doc(i, t) }.toSeq)

    val novel = mutable.ArrayBuffer[Map[Long, Long]]()
    batchRows = 0L
    for (b <- 0 until nBatches) {
      val m = batchSize
      // (text, tokens if novel else 0, pair group for in-batch copies)
      val docs = mutable.ArrayBuffer[(String, Int, Int)]()
      val added = mutable.ArrayBuffer[Array[String]]()
      for (_ <- 0 until m * 55 / 100) {
        val x = fresh(Text.keptLang(r)); added += x; docs += ((x.mkString(" "), x.length, -1))
      }
      for (_ <- 0 until m * 10 / 100) docs += ((pool(r.nextInt(pool.size)).mkString(" "), 0, -1))
      for (_ <- 0 until m * 12 / 100)
        docs += ((Text.nearCopy(r, pool(r.nextInt(pool.size))).mkString(" "), 0, -1))
      for (_ <- 0 until m * 5 / 100) docs += ((fresh(Text.droppedLang(r)).mkString(" "), 0, -1))
      for (_ <- 0 until m * 5 / 100) docs += ((Text.junk(r), 0, -1))
      for (p <- 0 until m * 5 / 100) { // in-batch verbatim pairs: the lower id survives
        val x = fresh(Text.keptLang(r)); added += x
        docs += ((x.mkString(" "), x.length, p)); docs += ((x.mkString(" "), x.length, p))
      }
      Gen.shuffle(docs, r)
      val ids = docs.indices.map(i => 1000000L * (b + 1) + i)
      val single = docs.indices.filter(i => docs(i)._2 > 0 && docs(i)._3 < 0)
        .map(i => ids(i) -> docs(i)._2.toLong)
      val pairs = docs.indices.filter(i => docs(i)._3 >= 0).groupBy(i => docs(i)._3)
        .values.map(is => ids(is.min) -> docs(is.min)._2.toLong)
      novel += (single ++ pairs).toMap
      pool ++= added
      batchRows += docs.size
      inputBytes += writeDocs(new File(dir, f"batch$b%02d.jsonl"),
        docs.indices.map(i => Doc(ids(i), docs(i)._1)))
    }
    batchNovel = novel.toIndexedSeq
    Gen.writeFile(new File(dir, "manifest.json"))(_.write(Json.render(Json.obj(
      "base_novel" -> baseNovel.keys.toSeq.sorted,
      "batch_novel" -> batchNovel.map(_.keys.toSeq.sorted)))))
  }

  def episodeRows: Long = batchRows
  def episodeInputBytes: Long = inputBytes
  override def storeBytes: Long = storeBytesFirst

  def load(h: Harness, dir: File): Unit = {
    basePq = toParquet(h, new File(dir, "base.jsonl"), docSchema)
    batchPq = (0 until nBatches).map(b => toParquet(h, new File(dir, f"batch$b%02d.jsonl"), docSchema))
  }

  private val cfg = config("graftbench_daily", stopSegments = false)

  private def run(h: Harness, tag: String, batches: Range): Unit = {
    val path = new File(h.work, tag)
    h.rmrf(path)
    val seeded = h.materializeKept(CorpusPipeline.curateIncremental(
      h.spark.read.parquet(basePq), tag, path.getPath, cfg))
    val seedErr = diff("base seeding", idTokens(seeded), baseNovel)
    seeded.unpersist()
    if (seedErr.nonEmpty) throw new IllegalStateException(seedErr.head)
    batches.foreach { b =>
      var out: DataFrame = null
      h.op(s"batch$b") {
        out = h.span("pipelines.curate_incremental")(h.materializeKept(
          CorpusPipeline.curateIncremental(h.spark.read.parquet(batchPq(b)), tag,
            path.getPath, cfg)))
      } {
        val got = idTokens(out)
        out.unpersist()
        val (nf, nb) = storeStats(path)
        if (h.timing) { storeFiles = nf; storeBytesLast = nb; storeSeries += ((nf, nb)) }
        diff(s"batch $b novel", if (corrupt && h.timing) got + (-1L -> 0L) else got,
          batchNovel(b))
      }
    }
  }

  private var lastTag: Option[String] = None

  def warmup(h: Harness): Unit = {
    run(h, "cd_warm", 0 until 2)
    h.rmrf(new File(h.work, "cd_warm"))
  }

  def episode(h: Harness, e: Int): Unit = {
    lastTag.foreach(t => h.rmrf(new File(h.work, t)))
    val tag = s"cd_ep$e"
    lastTag = Some(tag)
    run(h, tag, 0 until nBatches)
    if (storeBytesFirst == 0L) storeBytesFirst = storeBytesLast
  }

  override def layerMetrics(h: Harness, t: TraceSummary): Map[String, Double] = Map(
    "pipelines.curate_incremental_s" ->
      t.perOp(t.selfSec.getOrElse("pipelines.curate_incremental", 0.0)),
    "dedup.exact_store_s" -> t.perOp(t.bucketSec.getOrElse("dedup.exact_store", 0.0)),
    "dedup.minhash_store_s" -> t.perOp(t.bucketSec.getOrElse("dedup.minhash_store", 0.0)),
    "dedup.store_files" -> storeFiles.toDouble,
    "dedup.store_mb" -> storeBytesLast / 1e6)

  override def recordExtras: Seq[(String, Any)] = Seq("base_docs" -> nBase,
    "batches" -> nBatches, "batch_docs" -> batchRows, "store_files" -> storeFiles,
    "store_mb" -> storeBytesLast / 1e6,
    "store_files_by_batch" -> storeSeries.map(_._1).toSeq,
    "store_mb_by_batch" -> storeSeries.map(_._2 / 1e6).toSeq)
}
