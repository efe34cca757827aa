package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}

import graft.SparkSpec

/** The store gates carry no join hint, so the planner picks the join
  * from sizes. With broadcasts off (the large-store regime) the exact
  * and MinHash gates must plan no Exchange above any store-table scan:
  * the store is read through its bucketing and only the batch moves.
  * At the default threshold the same small batch against the same small
  * store broadcasts.
  */
class StoreGatePlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val words = (1 to 30).map(i => s"w$i")
  private val base = Seq(
    (1L, words.take(15).mkString(" ")),
    (2L, words.drop(15).mkString(" ")),
    (3L, words.reverse.take(15).mkString(" ")))
  private val incoming = Seq(
    (10L, base.head._2),                                // exact copy of 1
    (11L, base(1)._2.replace("w30", "v30")),            // near copy of 2
    (12L, "a brand new document about something else entirely"))

  /** Seeds an exact and a MinHash store from `base` through the
    * incremental ops and returns their table names.
    */
  private def seedStores(): (String, String) = {
    import spark.implicits._
    val tag = s"spec_gateplan_${System.nanoTime()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_gateplan").toString
    val docs = base.toDF("doc_id", "text")
    Dedup.exactIncremental(docs, "doc_id", "text", s"${tag}_exact",
      s"$dir/exact")
    Dedup.minhashIncremental(
      Dedup.minhashSignatures(docs, "doc_id", "text", 32, 5),
      "doc_id", s"${tag}_mh", s"$dir/mh", bands = 8, minEstJaccard = 0.5)
    (s"${tag}_exact", s"${tag}_mh")
  }

  private def dropStores(exactT: String, mhT: String): Unit =
    Seq(exactT, s"${mhT}_bands", s"${mhT}_sigs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** The exact gate and the MinHash gate of `incoming` in session `s`,
    * each with the store tables it reads (lower case, as scans report).
    */
  private def gates(s: SparkSession, exactT: String,
                    mhT: String): Seq[(String, DataFrame, Set[String])] = {
    val batch = s.createDataFrame(incoming).toDF("doc_id", "text")
    Seq(
      ("exactGate", Dedup.exactGate(batch, "doc_id", "text", exactT),
        Set(exactT)),
      ("minhashGate", Dedup.minhashGate(
        Dedup.minhashSignatures(batch, "doc_id", "text", 32, 5),
        "doc_id", mhT, bands = 8, minEstJaccard = 0.5),
        Set(s"${mhT}_bands", s"${mhT}_sigs"))
    ).map { case (n, df, ts) => (n, df, ts.map(_.toLowerCase)) }
  }

  /** Runs `df` itself, so its executed plan is the final adaptive plan. */
  private def survivors(df: DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Long]("doc_id")).sorted.toSeq

  private def tableOf(p: SparkPlan): Option[String] = p match {
    case f: FileSourceScanExec => f.tableIdentifier.map(_.table.toLowerCase)
    case _ => None
  }

  /** Store tables an Exchange reads with no join in between: the scans
    * that feed an exchange directly, not through a join's output.
    */
  private def exchangedStores(plan: SparkPlan, stores: Set[String]): Seq[String] = {
    def fed(p: SparkPlan): Seq[String] = p match {
      case _: BaseJoinExec => Nil
      case _ => tableOf(p).toSeq ++ allChildren(p).flatMap(fed)
    }
    collect(plan) { case e: Exchange => e }
      .flatMap(e => allChildren(e).flatMap(fed))
      .filter(stores.contains)
  }

  test("large-store regime: no Exchange above any store-table scan") {
    val (exactT, mhT) = seedStores()
    val noBroadcast = spark.newSession()
    noBroadcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    gates(noBroadcast, exactT, mhT).foreach { case (name, df, stores) =>
      assert(survivors(df).nonEmpty, name)
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case j: BroadcastHashJoinExec => j }.isEmpty,
        s"$name broadcast with broadcasts off:\n$plan")
      // every store table is scanned, and no exchange reads one
      assert(collect(plan)(Function.unlift(tableOf)).toSet == stores,
        s"$name:\n$plan")
      assert(exchangedStores(plan, stores).isEmpty,
        s"$name shuffles or broadcasts a store:\n$plan")
    }
    dropStores(exactT, mhT)
  }

  test("small store at the default threshold: broadcast, same survivors") {
    val (exactT, mhT) = seedStores()
    val noBroadcast = spark.newSession()
    noBroadcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val pinned = gates(noBroadcast, exactT, mhT).map { case (n, df, _) =>
      n -> survivors(df) }.toMap
    assert(pinned("exactGate") == Seq(11L, 12L))
    assert(pinned("minhashGate") == Seq(12L))
    gates(spark, exactT, mhT).foreach { case (name, df, _) =>
      assert(survivors(df) == pinned(name), name)
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"$name did not broadcast at the default threshold:\n$plan")
    }
    dropStores(exactT, mhT)
  }
}
