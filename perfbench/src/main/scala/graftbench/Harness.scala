package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.tools.Timing

/** One workload: seeded inputs, an untimed warm-up, then episodes of
  * timed ops. An episode is the workload's fixed unit of work (a run of
  * days, one curate pass, a run of batches); its stores start fresh. */
trait Workload {
  def name: String
  /** Writes every input file under `dir` (and its manifest). */
  def generate(dir: File): Unit
  /** Loads the generated files once per run (outside the timed body). */
  def load(h: Harness, dir: File): Unit
  def warmup(h: Harness): Unit
  /** Untimed per-episode set-up (fresh stores), then the timed ops. */
  def episode(h: Harness, e: Int): Unit
  /** Generated input rows and bytes one episode consumes. */
  def episodeRows: Long
  def episodeInputBytes: Long
  /** Bytes on disk of the persistent stores at the end of the first
    * episode (0 when the workload keeps none). */
  def storeBytes: Long = 0L
  /** Workload-specific record fields and per-layer values. */
  def layerMetrics(h: Harness, trace: TraceSummary): Map[String, Double] = Map.empty
  def recordExtras: Seq[(String, Any)] = Nil
}

/** Runs ops closed-loop, one client: each op starts after the previous
  * one (and its untimed check) has finished. */
final class Harness(val spark: SparkSession, val tracer: Tracer,
                    val heap: HeapPeak, val work: File, val corrupt: Boolean) {
  val latencies = mutable.ArrayBuffer[Double]() // seconds, passed ops only
  val opWindows = mutable.ArrayBuffer[(Int, Double, Double)]() // id, ms, ms
  val opGc = mutable.ArrayBuffer[Double]()
  val opCpu = mutable.ArrayBuffer[Double]()     // process CPU seconds
  val opForeign = mutable.ArrayBuffer[Double]() // cores other processes used
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0
  var failed = 0
  var blockStorePeak = 0L
  private var nextId = 0
  /** Ops outside the timed body (seeding, warm-up) are still checked,
    * but neither timed nor counted. */
  var timing = false

  def sc = spark.sparkContext

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Materialize `df` once, through the library's timing discipline, and
    * keep the rows for the untimed check. */
  def materializeKept(df: DataFrame): DataFrame = {
    val kept = df.persist(StorageLevel.MEMORY_ONLY)
    Timing.materialize(kept)
    kept
  }

  /** One op: `body` timed, `check` untimed. A check returns the list of
    * mismatches; any mismatch or exception fails the op, and a failed op
    * is never timed. */
  def op(name: String)(body: => Unit)(check: => Seq[String]): Boolean = {
    if (timing) attempted += 1
    val id = nextId
    nextId += 1
    val gc0 = Timing.gcSeconds()
    val cpu0 = Harness.processCpuSeconds()
    heap.armed = timing
    val t0 = tracer.nowMs
    val (ran, foreign) = Timing.withForeignCores {
      try { tracer.op(id, name)(body); None }
      catch { case e: Throwable => Some(s"$name #$id threw: ${e.toString.take(300)}") }
    }
    val t1 = tracer.nowMs
    val cpu1 = Harness.processCpuSeconds()
    heap.armed = false
    val gc1 = Timing.gcSeconds()
    val (mem, disk) = Timing.storageBytes(spark)
    blockStorePeak = math.max(blockStorePeak, mem + disk)
    val errs = ran.toSeq ++ (if (ran.isDefined) Nil else
      try check.map(m => s"$name #$id: $m")
      catch { case e: Throwable => Seq(s"$name #$id check threw: ${e.toString.take(300)}") })
    if (errs.nonEmpty) {
      if (timing) failed += 1
      failures ++= errs.take(5)
      System.err.println(s"[graftbench] FAILED ${errs.take(3).mkString(" | ")}")
    } else if (timing) {
      latencies += (t1 - t0) / 1000.0
      opWindows += ((id, t0, t1))
      opGc += gc1 - gc0
      opCpu += cpu1 - cpu0
      opForeign += foreign
    }
    if (!timing && errs.nonEmpty)
      throw new IllegalStateException(s"untimed op failed: ${errs.head}")
    errs.isEmpty
  }

  def timedSeconds: Double = latencies.sum

  def dir(parts: String*): File = {
    val f = parts.foldLeft(work)((d, p) => new File(d, p))
    f.mkdirs()
    f
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }
}

object Harness {
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p50/p75/p90/p95/p99 with at least ten ops beyond it;
    * with fewer than twenty ops, the slowest op. Returns (label, value). */
  def tail(xs: Seq[Double]): (String, Double) = {
    val s = xs.sorted
    val n = s.size
    val ok = Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) / 100.0 >= 10)
    ok match {
      case Some(p) =>
        val idx = math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1)
        (s"p$p", s(math.max(0, idx)))
      case None => ("max", if (n == 0) Double.NaN else s.last)
    }
  }
}
