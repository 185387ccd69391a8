package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The benchmark's JVM side: one process, one client thread.
  *
  * {{{
  * perfbench.Main --workload <roundtrip|search|delta> --seed <n> --seconds <s>
  *                --trace <0|1> --fixtures <dir> --work <dir> --result <file>
  *                [--trace-out <file>]
  * }}}
  *
  * Set-up runs [[Main.Setups]] times from scratch (the median is
  * `setup_s`; the first, in a cold JVM, is the slowest). The last set-up
  * serves one untimed warm-up cycle of operations, then a closed loop of
  * whole cycles for at least `--seconds` and at least [[Main.MinCycles]]
  * cycles. The end state is checked and the result is written to
  * `--result` as one JSON object. `perfbench/run.py` builds the classpath,
  * launches this and prints that object.
  */
object Main {
  val Setups = 3
  val MinCycles = 1
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f s  $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    work.mkdirs()

    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]").appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val result = run(spark, workload, seed, seconds, trace,
        new File(opt("fixtures")), work, opts.get("trace-out").map(new File(_)))
      val w = new java.io.PrintWriter(new File(opt("result")), "UTF-8")
      try w.println(result) finally w.close()
    } finally spark.stop()
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, trace: Boolean,
          fixtures: File, work: File, traceOut: Option[File]): String = {
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, seed, ItemGen.templates(fixtures))
    val w: Workload = workload match {
      case "roundtrip" => new Roundtrip(ctx, items = 200)
      case "search" => new SearchLoop(ctx, items = 400, files = 4)
      case "delta" => new DeltaMix(ctx, items = 300, batch = 20, checkpointInterval = 3)
      case other => sys.error(s"unknown workload $other")
    }
    log("session up")
    tracer.active = false
    val setupS = (1 to Setups).map { k =>
      Files.delete(new File(work, s"setup-${k - 1}"))
      val t0 = System.nanoTime()
      w.setup(new File(work, s"setup-$k"))
      (System.nanoTime() - t0) / 1e9
    }
    log(f"set-ups ${setupS.map(s => f"$s%.2f").mkString(", ")} s")
    // One cycle of every kind of operation, checked but not timed, takes
    // JIT and query compilation out of the loop.
    val warmUp = (0 until w.cycle).map(w.op)
    log("warmed up")

    val ops = mutable.ArrayBuffer.empty[(Op, Boolean)]
    // Traced runs trace cycles in the order T B B T, repeated, so the bare
    // cycles give the tracer's overhead with any linear drift cancelled.
    val minOps = (if (trace) 4 else MinCycles) * w.cycle
    val t0 = System.nanoTime()
    // whole cycles only, so every run measures the same mix of operations
    // however fast the host is
    while ((System.nanoTime() - t0) / 1e9 < seconds || ops.size < minOps ||
        ops.size % w.cycle != 0) {
      val i = warmUp.size + ops.size
      tracer.active = trace && Set(0, 3).contains((ops.size / w.cycle) % 4)
      ops += (w.op(i) -> tracer.active)
    }
    tracer.active = false
    log(s"${ops.size} operations done: " +
      ops.map { case (o, _) => f"${o.kind} ${o.ms}%.0f" }.mkString(", "))
    val finishFailed = w.finish()
    log("end state checked")
    tracer.drain()

    val failed = (warmUp ++ ops.map(_._1)).count(!_.ok) + finishFailed
    val attempted = warmUp.size + ops.size + 1
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val ms = ops.map(_._1.ms).toSeq
        Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("op_p50_ms", Stats.quantile(ms, 0.5), "ms"),
          ("ops_per_s", ms.size / (ms.sum / 1000.0), "1/s"),
          ("write_amp", w.writeAmp, "ratio"))
      } else {
        traceOut.foreach { f =>
          f.getParentFile.mkdirs()
          val pw = new java.io.PrintWriter(f, "UTF-8")
          try pw.println(tracer.toJson) finally pw.close()
        }
        layers(tracer, w, ops.toSeq)
      }
    val m = ItemGen.mapper
    val root = m.createObjectNode()
    root.put("correct", failed == 0)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val mo = root.putObject("metrics")
    metrics.foreach { case (name, v, unit) =>
      val o = mo.putObject(name)
      o.put("value", if (v.isNaN || v.isInfinite) 0.0 else v)
      o.put("unit", unit)
    }
    log(s"$workload: ${ops.size} operations " +
      ops.groupBy(_._1.kind).toSeq.sortBy(_._1).map { case (k, xs) => s"$k=${xs.size}" }
        .mkString("(", ", ", ")") + s", $failed failed")
    m.writeValueAsString(root)
  }

  /** Per-layer metrics of a traced run, from the spans of its traced
    * operations. A layer the workload never calls reports 0. */
  private def layers(t: Tracer, w: Workload, ops: Seq[(Op, Boolean)]): Seq[(String, Double, String)] = {
    val spans = t.allSpans
    val index = t.index(spans)
    val byName = spans.groupBy(_.name)
    def named(n: String*): Seq[Span] = n.flatMap(byName.getOrElse(_, Nil))
    def meanMs(n: String*): Double = Stats.mean(named(n: _*).map(_.durNs / 1e6))
    def meanOf(f: Counters => Long, n: String*): Double =
      Stats.mean(named(n: _*).map(s => f(t.subtree(s, index)).toDouble))
    def phase(p: String): Double = t.opPhaseMs.getOrElse(p, 0L).toDouble / math.max(1, t.phasedOps)
    val extra = w.layerMetrics
    val ndjson = extra.getOrElse("ingest.ndjson_bytes", 0.0)

    val blocks = ops.take(ops.size / (4 * w.cycle) * 4 * w.cycle)
    val overhead = blocks.filter(_._2).map(_._1.ms).sum / blocks.filterNot(_._2).map(_._1.ms).sum - 1.0

    Seq(
      ("reader.call_ms", meanMs("reader"), "ms"),
      ("reader.jobs", meanOf(_.jobs.get, "reader"), "count"),
      ("normalize.call_ms", meanMs("normalize"), "ms"),
      ("normalize.jobs", meanOf(_.jobs.get, "normalize"), "count"),
      ("writer.call_ms", meanMs("writer"), "ms"),
      ("writer.executor_run_ms", meanOf(_.runMs.get, "writer"), "ms"),
      ("writer.bytes_written", meanOf(_.outputBytes.get, "writer"), "B"),
      ("writer.files", extra.getOrElse("writer.files", 0.0), "count"),
      ("ingest.input_passes",
        if (ndjson > 0) meanOf(_.inputBytes.get, "ingest") / ndjson else 0.0, "ratio"),
      ("ingest.items_per_s", extra.getOrElse("ingest.items_per_s", 0.0), "1/s"),
      ("export.call_ms", meanMs("export"), "ms"),
      ("export.executor_run_ms", meanOf(_.runMs.get, "export"), "ms"),
      ("export.items_per_s", extra.getOrElse("export.items_per_s", 0.0), "1/s"),
      ("cql2.translate_us", meanMs("cql2") * 1000.0, "us"),
      ("scan.files_read_per_search", extra.getOrElse("scan.files_read_per_search", 0.0), "count"),
      ("scan.bytes_read_per_search", meanOf(_.inputBytes.get, "search", "delta.read"), "B"),
      ("scan.rows_scanned_per_result", extra.getOrElse("scan.rows_scanned_per_result", 0.0), "ratio"),
      ("catalyst.analysis_ms", phase("analysis"), "ms"),
      ("catalyst.optimization_ms", phase("optimization"), "ms"),
      ("catalyst.planning_ms", phase("planning"), "ms"),
      ("scheduler.jobs_per_op", meanOf(_.jobs.get, "op"), "count"),
      ("scheduler.stages_per_op", meanOf(_.stages.get, "op"), "count"),
      ("scheduler.tasks_per_op", meanOf(_.tasks.get, "op"), "count"),
      ("scheduler.driver_gap_ms", Stats.mean(named("op").map(s => t.driverGapMs(s, index))), "ms"),
      ("executor.run_ms_per_op", meanOf(_.runMs.get, "op"), "ms"),
      ("executor.cpu_ms_per_op", meanOf(_.cpuNs.get, "op") / 1e6, "ms"),
      ("executor.gc_ms_per_op", meanOf(_.gcMs.get, "op"), "ms"),
      ("shuffle.bytes_per_op", meanOf(c => c.shuffleWriteBytes.get, "op"), "B"),
      ("spill.bytes_per_op", meanOf(_.spillBytes.get, "op"), "B"),
      ("executor.peak_task_mem_mb",
        named("op").map(s => t.subtree(s, index).peakTaskMem.get / 1e6).maxOption.getOrElse(0.0), "MB"),
      ("delta.append_ms", meanMs("delta.append"), "ms"),
      ("delta.merge_ms", meanMs("delta.merge"), "ms"),
      ("delta.update_ms", meanMs("delta.update"), "ms"),
      ("delta.delete_ms", meanMs("delta.delete"), "ms"),
      ("delta.read_ms", meanMs("delta.read"), "ms"),
      ("delta.snapshot_ms", extra.getOrElse("delta.snapshot_ms", 0.0), "ms"),
      ("delta.log_files_replayed", extra.getOrElse("delta.log_files_replayed", 0.0), "count"),
      ("delta.checkpoint_commit_ms", extra.getOrElse("delta.checkpoint_commit_ms", 0.0), "ms"),
      ("delta.files_skipped_frac", extra.getOrElse("delta.files_skipped_frac", 0.0), "ratio"),
      ("delta.bytes_written", extra.getOrElse("delta.bytes_written", 0.0), "B"),
      ("delta.live_files", extra.getOrElse("delta.live_files", 0.0), "count"),
      ("trace.overhead_frac", overhead, "ratio"),
      ("loop.ops", ops.size.toDouble, "count"))
  }
}
