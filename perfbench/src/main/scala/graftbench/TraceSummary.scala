package graftbench

import java.io.File

import scala.collection.mutable

/** Classifies a job by the repo source its call site names. The curate
  * tiers are `val`s of one method, so a frame's line is mapped to the
  * nearest `val` declared above it in the checked-out source; no change
  * inside the program is needed. */
final class CallSites(srcRoot: File) {
  private val curateSrc: IndexedSeq[String] = {
    val f = new File(srcRoot, "graft/pipelines/CorpusPipeline.scala")
    if (!f.isFile) IndexedSeq.empty
    else {
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try s.getLines().toIndexedSeq finally s.close()
    }
  }
  private val ValDecl = """^    val (\w+)\s*=.*""".r
  private val CurateFrame = """graft\.pipelines\.CorpusPipeline\$\.curate\(CorpusPipeline\.scala:(\d+)\)""".r

  private def valAt(line: Int): Option[String] =
    (math.min(line, curateSrc.size) - 1 to 0 by -1).iterator
      .map(i => curateSrc(i)).collectFirst { case ValDecl(v) => v }

  private val tierOfVal = Map("filtered" -> "curate.exact",
    "exactKept" -> "curate.exact", "deboiled" -> "curate.deboil",
    "detokened" -> "curate.deboil", "sig" -> "curate.sig",
    "nearPairs" -> "curate.pairs", "clusters" -> "dedup.cc",
    "survivors" -> "curate.survivors")

  /** The bucket of a job charged to span `span`, or None when its call
    * site names no known frame (jobs launched from Spark's own thread
    * pools, such as broadcasts). */
  def classify(span: String, site: String): Option[String] = span match {
    case "curate.survivors" => Some("curate.survivors")
    case "pipelines.curate" =>
      site.split("\n").iterator.map(_.trim).collectFirst {
        case f if f.startsWith("graft.dedup.Dedup$.canonicalClusters(") => "dedup.cc"
        case f if f.startsWith("graft.ops.Segments$.") => "curate.deboil"
        case CurateFrame(l) =>
          valAt(l.toInt).map(v => tierOfVal.getOrElse(v, s"curate.$v"))
            .getOrElse("curate.other")
      }
    case "pipelines.curate_incremental" =>
      site.split("\n").iterator.map(_.trim).collectFirst {
        case f if f.startsWith("graft.dedup.Dedup$.exactIncremental(") => "dedup.exact_store"
        case f if f.startsWith("graft.dedup.Dedup$.minhashIncremental(") => "dedup.minhash_store"
      }
    case _ => None
  }
}

object CallSites {
  /** The spans whose jobs are split by call site. */
  val spans = Set("curate.survivors", "pipelines.curate", "pipelines.curate_incremental")
}

/** Per-layer view of one traced run, over its timed ops only. */
final case class TraceSummary(
    ops: Int,
    selfSec: Map[String, Double],   // span name -> total self seconds
    bucketSec: Map[String, Double], // call-site bucket -> seconds of its jobs
    bucketJobs: Map[String, Int],
    jobs: Int, driverSec: Double, taskSec: Double, wallSec: Double,
    shuffleMb: Double, spillMb: Double, maxResidualMs: Double,
    unattributedJobs: Int) {
  def perOp(v: Double): Double = if (ops == 0) 0.0 else v / ops
}

object TraceSummary {
  val empty = TraceSummary(0, Map.empty, Map.empty, Map.empty, 0, 0, 0, 0, 0, 0, 0, 0)

  def apply(h: Harness, l: TraceListener, sites: CallSites): TraceSummary = {
    val t = h.tracer
    val windows = h.opWindows.map { case (id, a, b) => id -> (a, b) }.toMap
    val spans = t.spans.filter(s => windows.contains(s.op))
    val byId = t.spans.map(s => s.id -> s).toMap
    val self = t.selfTimes

    val selfSec = spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => self(s.id)).sum / 1000.0 }
    val residual = windows.keys.map { id =>
      val mine = spans.filter(_.op == id)
      val root = mine.find(_.parent < 0).map(_.dur).getOrElse(0.0)
      math.abs(mine.map(s => self(s.id)).sum - root)
    }.foldLeft(0.0)(math.max)

    val (jobs, tasks) = l.synchronized((l.jobs.toList, l.tasks.toList))
    val myJobs = jobs.filter(j => byId.get(j.span).exists(s => windows.contains(s.op)))
    val opOfJob = myJobs.map(j => j.id -> byId(j.span).op).toMap
    val stageOp = myJobs.flatMap(j => j.stages.map(_ -> opOfJob(j.id))).toMap
    val opTasks = tasks.filter(tk => stageOp.contains(tk.stage)).groupBy(tk => stageOp(tk.stage))

    var driver = 0.0
    var wall = 0.0
    windows.foreach { case (id, (a, b)) =>
      val busy = Intervals.covered(opTasks.getOrElse(id, Nil).map(tk => (tk.launch, tk.finish)), a, b)
      driver += (b - a) - busy
      wall += b - a
    }
    val allTasks = opTasks.values.flatten
    val taskSec = allTasks.map(_.runMs).sum / 1000.0

    // call-site buckets; a job launched from one of Spark's own threads
    // (no library frame on its stack, e.g. a broadcast) inherits the
    // bucket of the job launched before it under the same span
    val bucketOf = mutable.Map[Int, String]()
    var unattributed = 0
    myJobs.groupBy(_.span).filter(kv => CallSites.spans(byId(kv._1).name))
      .foreach { case (sp, js) =>
        var last: Option[String] = None
        js.sortBy(j => (j.start, j.id)).foreach { j =>
          val inherit = !j.callSite.split("\n").exists(_.trim.startsWith("graft"))
          sites.classify(byId(sp).name, j.callSite).orElse(if (inherit) last else None) match {
            case Some(b) => bucketOf(j.id) = b; last = Some(b)
            case None => unattributed += 1
          }
        }
      }
    val bucketJobs = myJobs.filter(j => bucketOf.contains(j.id))
      .groupBy(j => bucketOf(j.id))
    val bucketSec = bucketJobs.map { case (b, js) =>
      b -> js.groupBy(j => byId(j.span).op).map { case (op, jj) =>
        val (a, z) = windows(op)
        Intervals.covered(jj.map(j => (j.start, if (j.end.isNaN) z else j.end)), a, z)
      }.sum / 1000.0
    }
    TraceSummary(windows.size, selfSec, bucketSec,
      bucketJobs.map { case (b, js) => b -> js.size }, myJobs.size,
      driver / 1000.0, taskSec, wall / 1000.0,
      allTasks.map(_.shuffleBytes).sum / 1e6, allTasks.map(_.spillBytes).sum / 1e6,
      residual, unattributed)
  }
}
