package graft.util

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup

/** Pins that localCheckpoint blocks are RELEASED for real.
  *
  * `Dataset.unpersist()` is a no-op for localCheckpoint'd frames (it only
  * reaches CacheManager entries), so these assertions are against the
  * context's persistent-RDD registry — the registry the checkpoint
  * actually lives in. The CC-loop test would FAIL against the r13 code,
  * which "released" superseded rounds via `Dataset.unpersist()`.
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def persistentCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("tracked().release() drops the checkpoint's persistent RDDs") {
    val before = persistentCount
    val t = Checkpoints.tracked(spark.range(100).toDF("id"))
    assert(t.rddIds.nonEmpty)
    assert(persistentCount > before)
    assert(t.df.count() == 100)
    t.release()
    assert(persistentCount == before)
  }

  test("scoped() replaces the previous checkpoint under the same key") {
    val before = persistentCount
    val a = Checkpoints.scoped("spec:scope")(spark.range(10).toDF("id"))
    assert(a.count() == 10)
    val afterFirst = persistentCount
    assert(afterFirst > before)
    // second build under the same key: previous blocks released, so the
    // registry does not grow
    val b = Checkpoints.scoped("spec:scope")(spark.range(20).toDF("id"))
    assert(b.count() == 20)
    assert(persistentCount == afterFirst)
  }

  test("closeSession releases that session's checkpoints and keeps " +
    "other sessions' entries") {
    val other = spark.newSession()
    val mine = Checkpoints.scoped("spec:close")(spark.range(10).toDF("id"))
    val theirs = Checkpoints.scoped("spec:close")(other.range(20).toDF("id"))
    def live(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          spark.sparkContext.getPersistentRDDs.contains(l.rdd.id)
        case other => fail(s"not a checkpoint: ${other.getClass.getName}")
      }
    assert(live(mine) && live(theirs))
    Checkpoints.closeSession(other)
    assert(live(mine), "another session's checkpoint was released")
    assert(!live(theirs), "the closed session's checkpoint is still live")
    assert(mine.count() == 10)
    // the entry is gone: re-adopting the key in the closed session
    // releases nothing of the first session's
    val again = Checkpoints.scoped("spec:close")(other.range(5).toDF("id"))
    assert(live(mine) && again.count() == 5)
    Checkpoints.closeSession(other)
    Checkpoints.close(spark, "spec:close")
    assert(!live(mine))
  }

  test("scoped canonicalClusters: repeat calls replace the final checkpoint") {
    val ids = spark.range(16).select(col("id").cast("string").as("doc_id"))
    val pairs = spark.range(15)
      .select(col("id").cast("string").as("id1"),
        (col("id") + 1).cast("string").as("id2"))
    def run(): Long = Dedup.canonicalClusters(ids, pairs, "doc_id",
        scope = Some("spec:ccscope"))
      .agg(countDistinct(col("canonical_id"))).head().getLong(0)
    val before = persistentCount
    assert(run() == 1L)
    val afterFirst = persistentCount
    assert(afterFirst <= before + 1)
    // second invocation under the same scope: the first call's final
    // label checkpoint is released, so the registry does not grow
    assert(run() == 1L)
    assert(persistentCount == afterFirst)
  }

  test("tracked() attributes ids correctly under concurrent checkpoints") {
    // r15: tracked() reads the RDD id off the returned LogicalRDD plan
    // instead of diffing the registry under a global lock — two frames
    // checkpointed in parallel must each see exactly their own id
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 4).map { i =>
      Future(Checkpoints.tracked(spark.range(1000L * i).toDF("id")))
    }
    val ts = Await.result(Future.sequence(fs), 2.minutes)
    ts.foreach(t => assert(t.rddIds.size == 1))
    val all = ts.flatMap(_.rddIds)
    assert(all.distinct.size == all.size, s"shared ids across tracks: $all")
    ts.zipWithIndex.foreach { case (t, i) =>
      assert(t.df.count() == 1000L * (i + 1))
    }
    ts.foreach(_.release())
  }

  test("canonicalClusters rejects maxIter < 1") {
    val ids = spark.range(4).select(col("id").cast("string").as("doc_id"))
    val pairs = Seq(("0", "1")).toDF("id1", "id2")
    // with zero rounds the returned labels would read the already-released
    // edges checkpoint — rejected up front instead of failing at execution
    intercept[IllegalArgumentException] {
      Dedup.canonicalClusters(ids, pairs, "doc_id", maxIter = 0)
    }
  }

  test("canonicalClusters leaves at most one live checkpoint per call") {
    // a 64-node chain forces several pointer-jumping rounds, so the loop
    // creates several per-round label checkpoints — all but the final
    // one (which backs the returned plan) must be gone on return
    val n = 64
    val ids = spark.range(n).select(col("id").cast("string").as("doc_id"))
    val pairs = spark.range(n - 1)
      .select(col("id").cast("string").as("id1"),
        (col("id") + 1).cast("string").as("id2"))
    val before = persistentCount
    val out = Dedup.canonicalClusters(ids, pairs, "doc_id")
    val canon = out.agg(countDistinct(col("canonical_id")).as("k"))
      .head().getLong(0)
    assert(canon == 1L, "chain graph must collapse to one cluster")
    assert(persistentCount <= before + 1,
      s"CC loop leaked checkpoints: $before -> $persistentCount")
  }
}
