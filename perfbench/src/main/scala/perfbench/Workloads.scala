package perfbench

import java.io.File

import graft.stac._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val templates: IndexedSeq[com.fasterxml.jackson.databind.node.ObjectNode]) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  /** Whether the operation running now is traced. */
  def traced: Boolean = tracer.active
}

/** The outcome of one client operation. `ms` covers the engine calls only;
  * checking the answer happens after the clock stops. */
final case class Op(kind: String, ms: Double, ok: Boolean)

/** A workload: set-up from scratch (repeated, to time it), then a closed
  * loop of client operations, then a final check of the engine's state. */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  def setup(dir: File): Unit
  def op(i: Int): Op
  /** The kind of operation `i`, known before it runs. */
  def kindOf(i: Int): String = "op"
  /** Operations in one cycle of the mix; operations 0 until `cycle` cover
    * every kind once. */
  def cycle: Int = 1
  /** Check the end state; returns the number of failed checks. */
  def finish(): Int = 0
  /** Bytes the engine wrote ÷ bytes of item JSON the client submitted. */
  def writeAmp: Double
  /** Per-layer figures only this workload can take (traced runs). */
  def layerMetrics: Map[String, Double] = Map.empty

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Times the engine calls of one client operation, as the span `op`;
    * in a traced operation Catalyst's phases are counted around it. */
  protected def timedOp[T](body: => T): (T, Double) =
    ctx.tracer.opPhases(timed(ctx.span("op")(body)))

  protected def fail(what: String): Boolean = {
    System.err.println(s"[perfbench] check failed: $what")
    false
  }
}

/** Scan figures read from the executed plan of a query the benchmark ran
  * itself (its own Dataset, after the action). */
object ScanStats extends AdaptiveSparkPlanHelper {
  final case class Acc(var queries: Long = 0, var files: Long = 0, var rows: Long = 0,
                       var results: Long = 0)

  def record(acc: Acc, ds: org.apache.spark.sql.Dataset[_], results: Int): Unit = {
    val scans = collectWithSubqueries(ds.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    acc.queries += 1
    acc.results += results
    scans.foreach { s =>
      acc.files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      acc.rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
  }

  def metrics(acc: Acc): Map[String, Double] =
    if (acc.queries == 0) Map.empty
    else Map(
      "scan.files_read_per_search" -> acc.files.toDouble / acc.queries,
      "scan.rows_scanned_per_result" -> acc.rows.toDouble / math.max(1L, acc.results))
}

/** ndjson → GeoParquet → ndjson through the reference API, on a batch of
  * mixed-collection items. */
final class Roundtrip(ctx: Ctx, items: Int) extends Workload(ctx) {
  private var dir: File = _
  private var input: File = _
  private var gen: Seq[GenItem] = Nil
  private var ndjsonBytes = 0L
  private var parquetBytes = 0L
  private var parquetFiles = 0
  private var primeFailures = 0
  private val ingestMs = mutable.ArrayBuffer.empty[Double]
  private val exportMs = mutable.ArrayBuffer.empty[Double]

  /** Set-up generates the batch and primes the engine with one checked
    * round trip of it. */
  def setup(d: File): Unit = {
    dir = d
    val g = new ItemGen(ctx.templates, ctx.seed)
    gen = (0 until items).map(i => g.item(i.toLong))
    input = new File(d, "items.ndjson")
    ndjsonBytes = ItemGen.writeNdjson(gen, input)
    val primed = op(-1)
    if (!primed.ok) primeFailures += 1
  }

  override def finish(): Int = primeFailures

  def op(i: Int): Op = {
    val out = new File(dir, s"rt-$i.parquet")
    val back = new File(dir, s"rt-$i.ndjson")
    val (_, ms) = timedOp {
      val (_, ingest) = timed(ctx.span("ingest")(ingestCall(out)))
      val (_, export) = timed(ctx.span("export") {
        Stac.stacTableToNdjson(spark.read.parquet(out.getPath), back.getPath)
      })
      if (i >= 0) { ingestMs += ingest; exportMs += export }
    }
    val ok = check(i, out, back)
    parquetBytes = Files.bytes(out, ".parquet")
    parquetFiles = Files.parts(out, ".parquet").size
    Files.delete(out)
    Files.delete(back)
    Op(kindOf(i), ms, ok)
  }

  /** In a traced operation the facade `Stac.parseStacNdjsonToParquet` is
    * taken apart into its three calls, so each layer gets its own span. */
  private def ingestCall(out: File): Unit =
    if (ctx.traced) {
      val json = ctx.span("reader")(StacJsonReader.read(spark, Seq(input.getPath)))
      val norm = ctx.span("normalize")(Normalize(json))
      ctx.span("writer")(GeoParquetWriter.write(norm, out.getPath))
    } else Stac.parseStacNdjsonToParquet(spark, Seq(input.getPath), out.getPath)

  private def check(i: Int, out: File, back: File): Boolean = {
    val parts = Files.parts(out, ".parquet")
    val footerOk = parts.nonEmpty && parts.forall(p =>
      GeoParquetWriter.readFooterMetadata(spark.sparkContext.hadoopConfiguration, p.getPath)
        .contains("geo"))
    val lines = Files.parts(back, "").filter(_.getName.startsWith("part-"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
    val byId = lines.map { l =>
      val n = ItemGen.mapper.readTree(l)
      n.get("id").asText() -> n
    }.toMap
    val rnd = new java.util.Random(ctx.seed * 31 + i)
    val sample = Seq.fill(20)(gen(rnd.nextInt(gen.size)))
    val diffs = sample.flatMap(g => byId.get(g.model.id) match {
      case None => Some(s"${g.model.id} missing from the export")
      case Some(n) => JsonEq.diff(ItemGen.mapper.readTree(g.json), n).map(d => s"${g.model.id}: $d")
    })
    if (!footerOk) fail("no geo footer on the GeoParquet parts")
    else if (lines.size != gen.size) fail(s"exported ${lines.size} items of ${gen.size}")
    else if (diffs.nonEmpty) fail(diffs.head)
    else true
  }

  def writeAmp: Double = parquetBytes.toDouble / ndjsonBytes

  override def layerMetrics: Map[String, Double] = Map(
    "ingest.items_per_s" -> items / (Stats.quantile(ingestMs.toSeq, 0.5) / 1000.0),
    "export.items_per_s" -> items / (Stats.quantile(exportMs.toSeq, 0.5) / 1000.0),
    "ingest.ndjson_bytes" -> ndjsonBytes.toDouble,
    "writer.files" -> parquetFiles.toDouble)
}

/** A closed loop of STAC API searches over a Z-ordered GeoParquet table. */
final class SearchLoop(ctx: Ctx, items: Int, files: Int) extends Workload(ctx) {
  private var model: Seq[ItemModel] = Nil
  private var table: DataFrame = _
  private var rnd: java.util.Random = _
  private var ndjsonBytes = 0L
  private var tableBytes = 0L
  private val scans = ScanStats.Acc()

  def setup(d: File): Unit = {
    val g = new ItemGen(ctx.templates, ctx.seed)
    val gen = (0 until items).map(i => g.item(i.toLong))
    model = gen.map(_.model)
    val input = new File(d, "items.ndjson")
    ndjsonBytes = ItemGen.writeNdjson(gen, input)
    // the ingest path of `Stac.parseStacNdjsonToParquet`, with the layout
    // a search service keeps: range-partitioned on the Morton key of the
    // bbox centre, so each file covers a compact region
    val out = new File(d, "items.parquet").getPath
    val sorted = Stac.parseStacNdjsonToArrow(spark, Seq(input.getPath))
      .withColumn("_z", ZOrder.mortonKeyOfBboxCenter(col("bbox")))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
    GeoParquetWriter.write(sorted, out)
    tableBytes = Files.bytes(new File(out), ".parquet")
    table = spark.read.parquet(out)
    rnd = new java.util.Random(ctx.seed)
  }

  /** A fixed pattern keeps every run's mix the same: 3 wide in 10. Search
    * latency keeps falling over the first twenty or so searches of a JVM,
    * so a cycle (and the warm-up) is twenty searches. */
  override def kindOf(i: Int): String =
    if (i % 10 == 2 || i % 10 == 5 || i % 10 == 8) "wide" else "selective"
  override def cycle: Int = 20

  def op(i: Int): Op = {
    val q = Search.next(rnd, wide = kindOf(i) == "wide")
    val (page, ms) = timedOp(ctx.span("search") {
      val cql = ctx.span("cql2")(Cql2.filterText(q.cql2Text))
      val ds = Denormalize.toItemJson(Search.firstPage(table.filter(q.bboxColumn && cql)))
      (ds, ctx.span("export")(ds.collect()))
    })
    val ids = page._2.toSeq.map(j => ItemGen.mapper.readTree(j).get("id").asText())
    if (ctx.traced) ScanStats.record(scans, page._1, ids.size)
    val want = q.expected(model)
    val ok = ids == want || fail(s"search $i returned ${ids.take(3)}… expected ${want.take(3)}…")
    Op(kindOf(i), ms, ok)
  }

  def writeAmp: Double = tableBytes.toDouble / ndjsonBytes

  override def layerMetrics: Map[String, Double] = ScanStats.metrics(scans)
}

/** Writes beside reads on a portable Delta table: appends, MERGE upserts,
  * UPDATEs and DELETEs interleaved with searches, checked against a model
  * of the table the benchmark keeps itself. */
final class DeltaMix(ctx: Ctx, items: Int, batch: Int, checkpointInterval: Int)
    extends Workload(ctx) {
  private var dir: File = _
  private var path: String = _
  private var gen: ItemGen = _
  private var schema: org.apache.spark.sql.types.StructType = _
  private val model = mutable.LinkedHashMap.empty[String, ItemModel]
  private var latest: Seq[String] = Nil
  private var rnd: java.util.Random = _
  private var nextItem = 0L
  private var version = 0L
  private var bytesWritten = 0L
  private var userBytes = 0L
  private val scans = ScanStats.Acc()
  private val checkpointMs = mutable.ArrayBuffer.empty[Double]
  private val snapshotMs = mutable.ArrayBuffer.empty[Double]
  private val logReplayed = mutable.ArrayBuffer.empty[Double]
  private val skippedFrac = mutable.ArrayBuffer.empty[Double]
  private val opBytes = mutable.ArrayBuffer.empty[Double]
  private var liveFiles = 0

  def setup(d: File): Unit = {
    dir = d
    gen = new ItemGen(ctx.templates, ctx.seed)
    model.clear()
    val first = (0 until items).map(i => gen.item(i.toLong))
    nextItem = items.toLong
    first.foreach(g => model(g.model.id) = g.model)
    latest = first.takeRight(batch).map(_.model.id)
    val input = new File(d, "items.ndjson")
    ItemGen.writeNdjson(first, input)
    // every later batch parses against the first batch's JSON schema, so
    // appends and MERGE sources match the table's schema exactly
    schema = StacJsonReader.read(spark, Seq(input.getPath)).schema
    path = new File(d, "table").getPath
    PortableDelta.writeStac(parse(input), path)
    version = PortableDelta.setTableProperties(spark, path,
      Map("delta.checkpointInterval" -> checkpointInterval.toString))
    rnd = new java.util.Random(ctx.seed)
    bytesWritten = 0L
    userBytes = 0L
  }

  /** `Stac.parseStacNdjsonToArrow` with the table's JSON schema; taken
    * apart into its two calls in a traced operation. */
  private def parse(f: File): DataFrame =
    if (ctx.traced) {
      val json = ctx.span("reader")(
        StacJsonReader.read(spark, Seq(f.getPath), StacJsonReader.Explicit(schema)))
      ctx.span("normalize")(Normalize(json))
    } else Stac.parseStacNdjsonToArrow(spark, Seq(f.getPath), StacJsonReader.Explicit(schema))

  private def newBatch(n: Int): Seq[GenItem] = {
    val out = (0 until n).map(k => gen.item(nextItem + k))
    nextItem += n
    out
  }

  /** `n` items of the latest appended batch: every UPDATE, MERGE and
    * DELETE touches the one file that batch went to, whatever the seed,
    * like corrections to freshly ingested scenes. */
  private def pick(n: Int): Seq[ItemModel] = {
    val live = latest.filter(model.contains).toIndexedSeq
    rnd.ints(0, live.size).distinct().limit(n.toLong).toArray.toSeq.map(k => model(live(k)))
  }

  override def kindOf(i: Int): String = DeltaMix.Schedule(i % DeltaMix.Schedule.size)
  override def cycle: Int = DeltaMix.Schedule.size

  def op(i: Int): Op = {
    val kind = kindOf(i)
    if (kind == "read") return read(i)
    val before = Files.sizes(new File(path))
    val (ms, committed, ok) =
      if (kind == "append") {
        val b = newBatch(batch)
        val f = new File(dir, s"batch-$i.ndjson"); ItemGen.writeNdjson(b, f)
        val (v, ms) = timedOp(ctx.span("delta.append")(
          PortableDelta.writeStac(parse(f), path, mode = "append")))
        b.foreach(g => model(g.model.id) = g.model)
        latest = b.map(_.model.id)
        userBytes += b.map(_.model.jsonBytes.toLong).sum
        (ms, v, true)
      } else if (kind == "merge") {
        val b = pick(batch / 2).map(gen.revise) ++ newBatch(batch / 2)
        val f = new File(dir, s"batch-$i.ndjson"); ItemGen.writeNdjson(b, f)
        val (st, ms) = timedOp(ctx.span("delta.merge")(
          PortableDelta.merge(spark, path, parse(f), Seq("id"))))
        b.foreach(g => model(g.model.id) = g.model)
        userBytes += b.map(_.model.jsonBytes.toLong).sum
        (ms, st.version, st.updatedRows + st.insertedRows == b.size ||
          fail(s"merge $i touched ${st.updatedRows}+${st.insertedRows} rows of ${b.size}"))
      } else if (kind == "update") {
        val hit = pick(batch)
        val cloud = math.rint(rnd.nextDouble() * 1000.0) / 10.0
        val (st, ms) = timedOp(ctx.span("delta.update")(
          PortableDelta.update(spark, path, col("id").isin(hit.map(_.id): _*),
            Map("eo:cloud_cover" -> lit(cloud)))))
        hit.foreach(m => model(m.id) = m.copy(cloudCover = Some(cloud)))
        userBytes += hit.map(_.jsonBytes.toLong).sum
        (ms, st.version, st.updatedRows == hit.size ||
          fail(s"update $i changed ${st.updatedRows} rows of ${hit.size}"))
      } else {
        val gone = pick(batch / 2)
        val (st, ms) = timedOp(ctx.span("delta.delete")(
          PortableDelta.delete(spark, path, col("id").isin(gone.map(_.id): _*))))
        gone.foreach(m => model.remove(m.id))
        userBytes += gone.map(_.jsonBytes.toLong).sum
        (ms, st.version, st.deletedRows == gone.size ||
          fail(s"delete $i removed ${st.deletedRows} rows of ${gone.size}"))
      }
    val after = Files.sizes(new File(path))
    val written = after.collect { case (p, n) if before.get(p) != Some(n) => n }.sum
    bytesWritten += written
    val contiguous = committed == version + 1 ||
      fail(s"$kind $i committed version $committed after $version")
    version = committed
    if (ctx.traced) {
      opBytes += written.toDouble
      if (committed % checkpointInterval == 0) checkpointMs += ms
      val (snap, sms) = timed(ctx.span("delta.snapshot")(PortableDelta.snapshot(spark, path)))
      snapshotMs += sms
      liveFiles = snap.files.size
      logReplayed += jsonCommitsAfterCheckpoint().toDouble
    }
    Op(kind, ms, ok && contiguous)
  }

  private def read(i: Int): Op = {
    val q = Search.next(rnd, wide = i % DeltaMix.Schedule.size == 4)
    val (page, ms) = timedOp(ctx.span("delta.read") {
      val cql = ctx.span("cql2")(Cql2.filterText(q.cql2Text))
      val ds = Denormalize.toItemJson(Search.firstPage(
        PortableDelta.readTableWhere(spark, path, q.bboxColumn && cql)))
      (ds, ctx.span("export")(ds.collect()))
    })
    val ids = page._2.toSeq.map(j => ItemGen.mapper.readTree(j).get("id").asText())
    if (ctx.traced) {
      ScanStats.record(scans, page._1, ids.size)
      val snap = PortableDelta.snapshot(spark, path)
      val (kept, skipped) = PortableDelta.statsPrune(spark, snap, q.bboxColumn && Cql2.filterText(q.cql2Text))
      if (kept.size + skipped > 0) skippedFrac += skipped.toDouble / (kept.size + skipped)
    }
    val want = q.expected(model.values)
    val ok = ids == want || fail(s"delta read $i returned ${ids.take(3)}… expected ${want.take(3)}…")
    Op("read", ms, ok)
  }

  /** Commits a fresh reader replays as JSON: those after the last checkpoint. */
  private def jsonCommitsAfterCheckpoint(): Int = {
    val log = new File(path, "_delta_log")
    val last = new File(log, "_last_checkpoint")
    val cp = if (last.exists())
      ItemGen.mapper.readTree(last).get("version").asLong() else -1L
    Option(log.listFiles()).getOrElse(Array.empty[File]).count { f =>
      val n = f.getName
      n.endsWith(".json") && n.length == 25 && n.take(20).toLong > cp
    }
  }

  override def finish(): Int = {
    val rows = PortableDelta.readTable(spark, path)
      .select(col("id"), col("`eo:cloud_cover`"), unix_micros(col("datetime")))
      .collect()
    val got = rows.map(r => r.getString(0) ->
      (Option(r.get(1)).map(_.asInstanceOf[Double]), r.getLong(2))).toMap
    val want = model.values.map(m => m.id -> (m.cloudCover, m.datetimeMicros)).toMap
    val log = new File(path, "_delta_log")
    val versions = Option(log.listFiles()).getOrElse(Array.empty[File]).map(_.getName)
      .filter(n => n.endsWith(".json") && n.length == 25).map(_.take(20).toLong).sorted.toSeq
    var failed = 0
    if (rows.length != got.size) { fail(s"table holds ${rows.length - got.size} duplicate ids"); failed += 1 }
    if (got != want) {
      val d = (got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k))
      fail(s"table differs from the model at ${d.map(k => s"$k: ${got.get(k)} vs ${want.get(k)}")}")
      failed += 1
    }
    if (versions != (0L to version)) {
      fail(s"log versions ${versions.headOption}..${versions.lastOption} (${versions.size}) " +
        s"are not 0..$version"); failed += 1
    }
    failed
  }

  def writeAmp: Double = bytesWritten.toDouble / math.max(1L, userBytes)

  override def layerMetrics: Map[String, Double] = ScanStats.metrics(scans) ++ Map(
    "delta.snapshot_ms" -> Stats.mean(snapshotMs.toSeq),
    "delta.log_files_replayed" -> Stats.mean(logReplayed.toSeq),
    "delta.checkpoint_commit_ms" -> Stats.mean(checkpointMs.toSeq),
    "delta.files_skipped_frac" -> Stats.mean(skippedFrac.toSeq),
    "delta.bytes_written" -> Stats.mean(opBytes.toSeq),
    "delta.live_files" -> liveFiles.toDouble)
}

object DeltaMix {
  /** Operation kinds in a fixed order, so every run's mix is the same and
    * the seed draws only their arguments: each write kind once and two
    * searches, one selective and one wide. */
  val Schedule: IndexedSeq[String] =
    IndexedSeq("append", "read", "update", "merge", "read", "delete")
}
