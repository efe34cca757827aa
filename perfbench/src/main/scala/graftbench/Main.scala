package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.tools.Timing

/** Benchmark entry point: one workload, one seed, one fresh JVM.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --record <file> [--scale full|tiny] [--corrupt 1]
  * }}}
  *
  * Writes the full run record as JSON to `--record`; `run.py` turns it
  * into the one-line summary. Every file it reads or writes is under
  * `--work`, except the library sources `-Dgraftbench.src` names (read
  * for call-site attribution).
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, record: File,
                        tiny: Boolean, corrupt: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("record")),
      m.get("scale").contains("tiny"), m.get("corrupt").contains("1"))
  }

  def workloadFor(o: Opts): Workload = o.workload match {
    case "case_etl_daily" => new CaseEtl(o.seed, o.tiny, o.corrupt)
    case "curate_full" => new CurateFull(o.seed, o.tiny, o.corrupt)
    case "curate_daily" => new CurateDaily(o.seed, o.tiny, o.corrupt)
    case other => sys.error(s"unknown workload '$other'")
  }

  /** The library bench's session settings, on every core of this host. */
  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    o.work.mkdirs()
    val wl = workloadFor(o)
    val spark = session(cores, o.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sc = spark.sparkContext
    val listener = if (o.trace) Some(new TraceListener) else None
    listener.foreach(sc.addSparkListener)
    val heap = new HeapPeak
    val h = new Harness(spark, new Tracer(o.trace, sc), heap, o.work, o.corrupt)

    // set-up, repeated: the same seed must write byte-identical inputs
    val gens = (0 until 3).map { i =>
      val d = new File(o.work, s"gen$i")
      h.rmrf(d)
      val t0 = System.nanoTime()
      val c0 = Harness.processCpuSeconds()
      wl.generate(d)
      ((System.nanoTime() - t0) / 1e9, Gen.fingerprint(d), d, Harness.processCpuSeconds() - c0)
    }
    val inputHash = gens.head._2
    val deterministic = gens.map(_._2).distinct.size == 1
    gens.tail.foreach(g => h.rmrf(g._3))
    val inputDir = gens.head._3
    val tLoad = System.nanoTime()
    wl.load(h, inputDir)
    wl.warmup(h)
    val loadWarmS = (System.nanoTime() - tLoad) / 1e9
    val setupS = sessionS + Harness.median(gens.map(_._1)) + loadWarmS
    // CPU seconds from JVM start to the first timed op, counting the
    // median generation once: the set-up cost that host contention
    // hardly moves (wall time above is kept in the record)
    val setupCpuS = Harness.processCpuSeconds() - gens.map(_._4).sum +
      Harness.median(gens.map(_._4))

    // timed body: whole episodes while the next one still fits
    System.gc()
    val gc0 = Timing.gcSeconds()
    val load0 = loadAvg()
    h.timing = true
    val episodeS = scala.collection.mutable.ArrayBuffer[Double]()
    val episodeCpu = scala.collection.mutable.ArrayBuffer[Double]()
    val wall0 = System.nanoTime()
    val (_, foreign) = Timing.withForeignCores {
      var e = 0
      var more = true
      while (more) {
        val before = h.timedSeconds
        val cpuBefore = h.opCpu.sum
        wl.episode(h, e)
        episodeS += h.timedSeconds - before
        episodeCpu += h.opCpu.sum - cpuBefore
        e += 1
        val wallS = (System.nanoTime() - wall0) / 1e9
        more = h.timedSeconds + Harness.median(episodeS.toSeq) <= o.seconds &&
          wallS < 3 * o.seconds
      }
    }
    h.timing = false
    val gcBody = Timing.gcSeconds() - gc0

    val runS = Harness.median(episodeS.toSeq)
    val (tailPct, tailS) = Harness.tail(h.latencies.toSeq)
    // BENCHMARK.json selects which of these the summary line carries
    val endToEnd = Seq(
      "setup_s" -> setupCpuS,
      "setup_wall_s" -> setupS,
      "run_s" -> runS,
      "op_p50_s" -> Harness.median(h.latencies.toSeq),
      "op_tail_s" -> tailS,
      "rows_per_s" -> wl.episodeRows / runS,
      "op_cpu_s" -> Harness.median(h.opCpu.toSeq),
      "run_cpu_s" -> Harness.median(episodeCpu.toSeq),
      "live_heap_peak_mb" -> heap.peakBytes / 1e6)

    val trace = listener.map { l =>
      org.apache.spark.BenchBridge.drainListenerBus(sc)
      TraceSummary(h, l, new CallSites(new File(sys.props.getOrElse("graftbench.src", "src/main/scala"))))
    }.getOrElse(TraceSummary.empty)
    val perLayer =
      if (!o.trace) Map.empty[String, Double]
      else {
        val t = trace
        Layers.zero ++ Map(
          "spark.jobs_per_op" -> t.perOp(t.jobs.toDouble),
          "spark.driver_s" -> t.perOp(t.driverSec),
          "spark.task_s" -> t.perOp(t.taskSec),
          "spark.shuffle_mb" -> t.perOp(t.shuffleMb),
          "spark.spill_mb" -> t.perOp(t.spillMb),
          "spark.core_util" -> (if (t.wallSec > 0) t.taskSec / (t.wallSec * cores) else 0.0),
          "jvm.gc_s" -> (if (h.opGc.isEmpty) 0.0 else h.opGc.sum / h.opGc.size),
          "jvm.block_store_mb" -> h.blockStorePeak / 1e6,
          "trace.run_s" -> runS,
          "trace.self_residual_ms" -> t.maxResidualMs) ++
          wl.layerMetrics(h, t)
      }

    val conf = sc.getConf.getAll.filterNot(_._1.contains("secret")).sortBy(_._1)
    val rec = Json.obj(
      "workload" -> wl.name, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "scale" -> (if (o.tiny) "tiny" else "full"),
      "correct" -> (deterministic && h.failed == 0 && h.attempted > 0),
      "attempted" -> h.attempted, "failed" -> h.failed,
      "failed_op_ratio" -> (if (h.attempted == 0) 1.0 else h.failed.toDouble / h.attempted),
      "failures" -> h.failures.take(20).toSeq,
      "deterministic_inputs" -> deterministic, "input_sha256" -> inputHash,
      "metrics" -> Json.Obj(endToEnd),
      "per_layer" -> Json.Obj(perLayer.toSeq.sortBy(_._1)),
      "op_tail_pct" -> tailPct, "ops" -> h.latencies.size,
      "episodes" -> episodeS.size, "episode_s" -> episodeS.toSeq,
      "episode_cpu_s" -> episodeCpu.toSeq,
      "op_latencies_s" -> h.latencies.toSeq,
      "op_cpu_s" -> h.opCpu.toSeq, "op_foreign_cores" -> h.opForeign.toSeq,
      "episode_rows" -> wl.episodeRows,
      "episode_input_mb" -> wl.episodeInputBytes / 1e6,
      "store_mb_per_input_mb" -> (if (wl.storeBytes > 0)
        wl.storeBytes.toDouble / wl.episodeInputBytes else 0.0),
      "setup" -> Json.obj("session_s" -> sessionS, "generate_s" -> gens.map(_._1),
        "generate_cpu_s" -> gens.map(_._4),
        "load_and_warmup_s" -> loadWarmS),
      "stamps" -> Json.obj("cores" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1e6,
        "foreign_cores" -> foreign, "gc_s" -> gcBody,
        "gcs_in_ops" -> heap.gcsSeen, "loadavg_1m_start" -> load0,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
        "spark_conf" -> conf.toMap),
      "trace_detail" -> (if (!o.trace) None else Some(Json.obj(
        "self_s" -> trace.selfSec, "callsite_s" -> trace.bucketSec,
        "callsite_jobs" -> trace.bucketJobs, "jobs" -> trace.jobs,
        "unattributed_jobs" -> trace.unattributedJobs,
        "spans" -> h.tracer.spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end)).toSeq))),
      "workload_detail" -> Json.Obj(wl.recordExtras))
    Gen.writeFile(o.record)(_.write(Json.render(rec)))
    listener.foreach(sc.removeSparkListener)
    spark.stop()
  }

  private def loadAvg(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.getLines().next().split(" ")(0).toDouble finally s.close()
    } catch { case _: Throwable => -1.0 }
}

/** Every per-layer metric, zero where the workload has no such layer. */
object Layers {
  val names: Seq[String] = Seq(
    "spark.jobs_per_op", "spark.driver_s", "spark.task_s", "spark.shuffle_mb",
    "spark.spill_mb", "spark.core_util", "jvm.gc_s", "jvm.block_store_mb",
    "pipelines.ingest_s", "sources.write_s", "plans.dml_s", "pipelines.sinks_s",
    "ops.analytics_s", "sources.read_s", "sources.merge_s", "sources.merge_days",
    "sources.write_amp", "sources.store_files",
    "pipelines.curate_s", "dedup.semdedup_s", "curate.exact_s", "curate.deboil_s",
    "curate.sig_s", "curate.pairs_s", "dedup.cc_s", "dedup.cc_jobs",
    "curate.survivors_s", "dedup.lsh_pairs", "dedup.verify_precision",
    "pipelines.curate_incremental_s", "dedup.exact_store_s", "dedup.minhash_store_s",
    "dedup.store_files", "dedup.store_mb", "trace.run_s", "trace.self_residual_ms")
  val zero: Map[String, Double] = names.map(_ -> 0.0).toMap
}
