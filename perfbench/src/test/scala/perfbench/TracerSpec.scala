package perfbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  test("counters attributed to spans sum to the listener's totals") {
    val spark = BenchSession.spark
    val t = new Tracer(spark, enabled = true)
    def work(n: Long): Unit =
      spark.range(0, n, 1, 3).groupBy((col("id") % 7).as("k")).count().collect()
    work(1000)                                   // outside every span
    t.span("outer") {
      work(2000)
      t.span("inner")(work(3000))
      t.span("empty")(())
    }
    t.active = false
    val jobsBefore = t.totals.jobs.get
    t.span("off")(work(500))                     // spans and listeners off
    t.drain()
    assert(t.totals.jobs.get == jobsBefore)

    val spans = t.allSpans
    assert(spans.map(_.name) == Seq("outer", "inner", "empty"))
    val index = t.index(spans)
    val outer = spans.head
    val inner = spans(1)
    assert(inner.parent == outer.id)
    assert(inner.own.jobs.get > 0 && outer.own.jobs.get > 0)
    assert(spans(2).own.jobs.get == 0)
    assert(t.subtree(outer, index).jobs.get == outer.own.jobs.get + inner.own.jobs.get)
    assert(t.unattributed.jobs.get > 0)

    val sum = new Counters
    spans.foreach(s => sum.addAll(s.own))
    sum.addAll(t.unattributed)
    Seq[Counters => Long](_.jobs.get, _.stages.get, _.tasks.get, _.runMs.get, _.cpuNs.get,
      _.inputBytes.get, _.shuffleWriteBytes.get, _.shuffleReadBytes.get)
      .foreach(f => assert(f(sum) == f(t.totals)))
    assert(t.totals.tasks.get > t.totals.jobs.get)
    assert(t.driverGapMs(outer, index) >= 0.0)
    assert(t.phaseMs.containsKey("analysis") && t.queries.get == 3)
    assert(t.toJson.contains("\"inner\""))
  }

  test("operation phases count only the queries run inside the operation") {
    val spark = BenchSession.spark
    val t = new Tracer(spark, enabled = true)
    def query(): Unit = spark.range(0, 100, 1, 2).selectExpr("sum(id)").collect()
    query()                                      // before: not an operation
    t.opPhases(query())
    query()                                      // after: not an operation
    t.drain()
    assert(t.phasedOps == 1 && t.queries.get == 3)
    assert(Seq("analysis", "optimization", "planning").forall(t.opPhaseMs.contains))
    t.active = false
    t.opPhases(query())                          // untraced: nothing counted
    assert(t.phasedOps == 1)
  }
}
