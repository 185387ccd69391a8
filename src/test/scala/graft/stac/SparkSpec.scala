package graft.stac

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[8, 3]: allow task re-attempts (production semantics) — the
      // streaming chaos spec injects first-attempt task failures and
      // asserts the retry converges to the exactly-once answer
      .master("local[8, 3]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Jobs this thread starts while `body` runs, told apart from any other
    * suite's work by a job group of its own. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val group = s"jobs-during-${System.nanoTime()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring")
    try {
      val out = body
      GraftSparkShim.drainListenerBus(spark)
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  def resource(name: String): String =
    getClass.getResource(name).getPath
}
