package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The one timing tool: times a SET of catalog queries in one JVM with
  * graft.Bench's consumption ([[Timing.materialize]]). For A/B
  * attribution, run it alternately from two checkouts in one
  * machine-load window: identical session settings per JVM, so medians
  * compare revisions, not sessions.
  *
  *   SPARK_GRAFT_SET=q45_curate_corpus,q83_semantic_dedup \
  *     sbt "runMain graft.tools.TimeSet /root/testdata/sf0.1 3"
  *
  * One untimed warm-up pass, then `reps` rep-major timed passes (like
  * graft.Bench, so a load spike hits one rep of every query). Prints
  * one JSON line `{"queries":{name:medianSec},"jobs":{name:n},
  * "codegen":{name:n},"errors":{name:msg},"foreign_cores":x}`: `jobs`
  * counts the Spark jobs of the median rep (the per-job dispatch floor),
  * keyed by a per-query local property; `codegen` counts the Janino
  * compiles of the median rep (the JVM-wide count of
  * `CodegenMetrics.METRIC_COMPILATION_TIME`, so nonzero after the
  * warm-up means the query's plans do not fit Spark's codegen cache);
  * a query that throws in a timed rep appears only in `errors`; names
  * outside [[graft.SparkEntry.queries]] fail before the session starts.
  * `SPARK_GRAFT_SET` (comma list) defaults to the whole catalog;
  * `SPARK_GRAFT_CPUS` (default 32) sizes `local[n]`.
  */
object TimeSet {

  /** Local property naming the query a job belongs to. */
  private val QueryProp = "graft.timeset.query"

  /** Medians (seconds, set order), the median rep's job and compile
    * counts, timed-rep failures, and [[Timing.withForeignCores]] of the
    * block.
    */
  final case class Result(medians: Seq[(String, Double)],
                          jobs: Map[String, Int],
                          codegen: Map[String, Long],
                          errors: Map[String, String],
                          foreignCores: Double) {
    def line: String = {
      import graft.Bench.{jobj, jstr}
      jobj(Seq(
        "queries" -> jobj(medians.map { case (n, s) => n -> f"$s%.3f" }),
        "jobs" -> jobj(medians.map { case (n, _) => n -> jobs(n).toString }),
        "codegen" -> jobj(medians.map { case (n, _) =>
          n -> codegen(n).toString }),
        "errors" -> jobj(errors.toSeq.map { case (n, e) => n -> jstr(e) }),
        "foreign_cores" -> f"$foreignCores%.2f"))
    }
  }

  /** Fails with every name that is not a catalog query. */
  private def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown catalog queries: ${unknown.mkString(", ")}")
  }

  /** Counts started jobs per value of [[QueryProp]]. */
  private final class JobCounter(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val counts = mutable.Map.empty[String, Int]
    @volatile private var fence: Option[(String, CountDownLatch)] = None

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(QueryProp)))
        .foreach { key =>
          counts.synchronized { counts(key) = counts.getOrElse(key, 0) + 1 }
          fence.filter(_._1 == key).foreach(_._2.countDown())
        }

    /** Runs `body` with its jobs counted under `key`. */
    def under[T](key: String)(body: => T): T = {
      sc.setLocalProperty(QueryProp, key)
      try body finally sc.setLocalProperty(QueryProp, null)
    }

    /** Counts once every job started so far has reached this listener:
      * listener events arrive in order, so seeing a fence job's start
      * means every earlier start was delivered.
      */
    def counted(): Map[String, Int] = {
      val key = s"fence-${System.nanoTime()}"
      val latch = new CountDownLatch(1)
      fence = Some(key -> latch)
      under(key)(sc.parallelize(Seq(1), 1).count()) // exactly one job
      require(latch.await(60, TimeUnit.SECONDS),
        "listener bus did not deliver the fence job within 60 s")
      counts.synchronized(counts.toMap - key)
    }
  }

  /** Janino compiles so far in this JVM (every codegen cache miss). */
  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One untimed warm-up pass, then `reps` rep-major timed passes. */
  def run(spark: SparkSession, names: Seq[String], dir: String,
          reps: Int): Result = {
    requireKnown(names)
    time(spark, names.map(n => n -> (() =>
      Timing.materialize(graft.SparkEntry.queries(n)(spark, dir)))), reps)
  }

  /** [[run]]'s loop over named query bodies. */
  private[tools] def time(spark: SparkSession,
                          queries: Seq[(String, () => Unit)],
                          reps: Int): Result = {
    require(reps > 0, s"reps must be positive: $reps")
    queries.foreach { case (n, query) =>
      try query() catch { case e: Throwable =>
        System.err.println(s"[timeset] warmup $n failed: ${e.toString.take(200)}") }
    }
    val counter = new JobCounter(spark)
    spark.sparkContext.addSparkListener(counter)
    try {
      // (seconds, rep, compiles) per timed rep
      val times = mutable.Map.empty[String, mutable.Buffer[(Double, Int, Long)]]
      val errors = mutable.LinkedHashMap.empty[String, String]
      val (_, foreign) = Timing.withForeignCores {
        for (rep <- 1 to reps; (n, query) <- queries if !errors.contains(n)) {
          val c0 = compiles()
          val t0 = System.nanoTime()
          try {
            counter.under(s"$n#$rep")(query())
            val sec = (System.nanoTime() - t0) / 1e9
            times.getOrElseUpdate(n, mutable.Buffer.empty) +=
              ((sec, rep, compiles() - c0))
          } catch { case e: Throwable =>
            errors(n) = e.toString.take(200) }
        }
      }
      val jobs = counter.counted()
      val ok = queries.map(_._1).filterNot(errors.contains)
      val median = ok.map(n => n -> times(n).sortBy(_._1).apply(reps / 2)).toMap
      Result(ok.map(n => n -> median(n)._1),
        ok.map(n => n -> jobs.getOrElse(s"$n#${median(n)._2}", 0)).toMap,
        ok.map(n => n -> median(n)._3).toMap,
        errors.toMap, foreign)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = sys.env.get("SPARK_GRAFT_SET")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    requireKnown(names)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try println(run(spark, names, dir, reps).line)
    finally spark.stop()
  }
}
