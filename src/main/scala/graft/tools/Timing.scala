package graft.tools

import org.apache.spark.sql.DataFrame

/** The ONE timing discipline every evidence tool shares with
  * [[graft.Bench]]: full materialization through `toRdd` (keeps the
  * declared plan — `.count()` lets Catalyst prune computed columns and
  * eliminate joins, the r12 consumption trap), one untimed warm pass,
  * then the median of `reps` timed passes. Tools must measure the same
  * thing the bench measures, or their numbers attribute nothing; any
  * future change to the consumption contract lands here once.
  */
object Timing {

  /** Execute `df` doing ALL its declared work, discarding rows. */
  def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  /** Median-of-`reps` wall seconds of `body`, after one untimed warm
    * invocation (JIT + page cache; re-planning still happens per call).
    */
  def medianSec(reps: Int)(body: () => Unit): Double = {
    body() // warm
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body(); (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }

  /** The r15 host-contention stamp — THE one implementation, used by
    * [[graft.Bench]] and the solo tools alike (the README accept rule
    * compares `foreign_cores` across them, so the formula must not
    * fork): (system busy CPU-seconds, this JVM's CPU-seconds).
    */
  private def cpuStamp(): (Double, Double) = {
    val busy = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toDouble)
      // busy = everything minus idle+iowait; USER_HZ=100 jiffies.
      // Sum only the first 8 fields (user nice system idle iowait irq
      // softirq steal): the kernel already folds guest/guest_nice
      // (fields 9-10) into user/nice, so including them would count a
      // co-resident VM's CPU twice and overstate the stamp
      val idle = f(3) + (if (f.length > 4) f(4) else 0.0)
      (f.take(8).sum - idle) / 100.0
    } catch { case _: Throwable => -1.0 }
    val own = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    (busy, own)
  }

  /** Total stop-the-world collection time across all GC beans, in
    * seconds (monotonic within a JVM). The r20 per-query bench stamp
    * pairs a pass's GC delta with its wall time: the foreign-cores
    * stamp only sees OTHER processes, but the r18/r19 in-bench sf1
    * movers were largely same-JVM session pressure (block-store
    * residency, heap churn) — a mover whose pass spent most of its
    * delta inside GC indicts the session's heap state, not the plan.
    */
  def gcSeconds(): Double = {
    var total = 0L
    val beans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.iterator()
    while (beans.hasNext) {
      val t = beans.next().getCollectionTime
      if (t > 0) total += t
    }
    total / 1000.0
  }

  /** Block-store residency of every persistent RDD in this JVM:
    * (memory bytes, disk bytes) summed over `getRDDStorageInfo`. The
    * r21 per-query bench stamp pairs each pass with its residency
    * DELTAS: the r20 verdict's open item was three >2x in-bench movers
    * whose foreign-core and GC stamps were both quiet — the one
    * session-state class those two cannot see is block-store pressure
    * (memoized corpus snapshots and scoped checkpoints accumulating as
    * the bench walks the catalog, evicting or disk-spilling blocks a
    * later query's plan then re-reads slowly). A mover whose pass shows
    * a large disk-residency GROWTH (memory blocks spilling under it) or
    * a large absolute residency indicts the session's block-store
    * state; quiet on all three stamps indicts the plan.
    */
  def storageBytes(spark: org.apache.spark.sql.SparkSession): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }

  /** Run `body`, returning (result, average FOREIGN cores over the
    * block — cores something other than this JVM was burning). -1 when
    * /proc/stat or process CPU is unavailable. Solo evidence tools
    * stamp their timed blocks with this so a quiet-window record
    * self-identifies pollution (README accept rule: foreign < 2.0).
    */
  def withForeignCores[T](body: => T): (T, Double) = {
    val (b0, o0) = cpuStamp()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val (b1, o1) = cpuStamp()
    val foreign =
      if (b0 < 0 || o0 < 0 || wall <= 0) -1.0
      else math.max(0.0, ((b1 - b0) - (o1 - o0)) / wall)
    (r, foreign)
  }
}
