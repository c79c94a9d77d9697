package graft

import graft.queries.Registry
import org.apache.spark.sql.graft.ListenerCounts
import org.scalatest.funsuite.AnyFunSuite

/** [[QueryProfile]] on registered queries at sf0.001: a batch query
  * shows its scheduler, executor and planner layers, a streaming query
  * its triggers, and a body that throws leaves no listener behind.
  */
class QueryProfileSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def profileOf(name: String): Map[String, Double] =
    QueryProfile.measure(spark)(Registry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save())._2

  test("a batch query reports jobs, tasks, executor time and planner phases") {
    val p = profileOf("q01_pricing_summary")
    assert(p.keys.toSeq == QueryProfile.keys)
    assert(p("scheduler.jobs") >= 1, p)
    assert(p("scheduler.tasks") >= 1, p)
    assert(p("executor.run_s") > 0, p)
    assert(p("queries.executions") >= 1, p)
    assert(p.exists { case (k, v) => k.startsWith("planner.") && v > 0 }, p)
    assert(p("trigger.count") == 0, p)
  }

  test("a registered streaming query reports its triggers") {
    val p = profileOf("s01_stream_tumbling_complete")
    assert(p("trigger.count") >= 1, p)
    assert(p("scheduler.jobs") >= 1, p)
  }

  test("a body that throws still removes every listener") {
    QueryProfile.measure(spark)(spark.range(10).count())
    val before = ListenerCounts(spark)
    val e = intercept[IllegalStateException] {
      QueryProfile.measure(spark) {
        spark.range(10).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(ListenerCounts(spark) == before)
  }
}
