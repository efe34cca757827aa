package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite fast; tests only read, never mutate session state beyond confs
  * already pinned here).
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Jobs started while `body` runs, counted by a plain listener over
    * every job: a one-job sentinel on each side marks the window, because
    * listener events arrive asynchronously but in order.
    */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("-"))
    }
    def sentinel(tag: String): Int = {
      sc.setJobGroup(tag, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .takeWhile { g => assert(g != null, "sentinel not delivered"); g != tag }
        .size
    }
    sc.addSparkListener(listener)
    try {
      sentinel("jobs-during-before")
      body
      sentinel("jobs-during-after")
    } finally sc.removeSparkListener(listener)
  }
}
