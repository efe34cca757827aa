package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec

class TimeSetSpec extends SparkSpec {
  private val names = Seq("q03_growth_rates", "q12_pricing_summary")

  test("job counts equal a direct listener count of one more run") {
    val r = TimeSet.run(spark, names, sf, 2)
    assert(r.errors.isEmpty, r.errors)
    assert(r.medians.map(_._1) == names)
    names.foreach { n =>
      val direct = jobsDuring(
        Timing.materialize(graft.SparkEntry.queries(n)(spark, sf)))
      assert(direct > 0)
      assert(r.jobs(n) == direct, n)
    }
  }

  /** Janino compiles while `body` runs, read straight off Spark's
    * codegen metric.
    */
  private def compilesDuring(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("codegen counts equal a direct compile-count delta") {
    // a literal that changes on every call makes every run generate new
    // code, so the median rep must compile; the catalog query's plans
    // are cached after the warm-up, and one more run compiles the same
    val seq = new java.util.concurrent.atomic.AtomicLong(1000L)
    def fresh(): Unit = Timing.materialize(
      spark.range(8).selectExpr(s"id * ${seq.incrementAndGet()} AS x"))
    def q03(): Unit =
      Timing.materialize(graft.SparkEntry.queries(names.head)(spark, sf))
    val r = TimeSet.time(spark,
      Seq("fresh" -> (() => fresh()), names.head -> (() => q03())), 1)
    val direct = compilesDuring(fresh())
    assert(direct > 0)
    assert(r.codegen("fresh") == direct)
    assert(r.codegen(names.head) == compilesDuring(q03()))
  }

  test("the output line is JSON with queries, jobs and foreign_cores") {
    val json = new ObjectMapper().readTree(TimeSet.run(spark, names, sf, 1).line)
    names.foreach { n =>
      assert(json.get("queries").get(n).asDouble() > 0.0)
      assert(json.get("jobs").get(n).asInt() > 0)
      assert(json.get("codegen").get(n).isIntegralNumber)
    }
    assert(json.get("foreign_cores").isNumber)
    assert(json.get("errors").size() == 0)
  }

  test("an unknown name fails before any query runs") {
    var thrown: Option[IllegalArgumentException] = None
    val jobs = jobsDuring {
      thrown = Some(intercept[IllegalArgumentException](
        TimeSet.run(spark, names :+ "q999_no_such_query", sf, 1)))
    }
    assert(thrown.get.getMessage.contains("q999_no_such_query"))
    assert(jobs == 0)
  }

  test("a query that throws in a timed rep is an error, not a number") {
    val r = TimeSet.run(spark, names.take(1), "/nonexistent/sf", 1)
    assert(r.medians.isEmpty)
    assert(r.errors.keySet == names.take(1).toSet)
    val json = new ObjectMapper().readTree(r.line)
    assert(json.get("queries").size() == 0)
    assert(json.get("errors").get(names.head).asText().nonEmpty)
  }
}
