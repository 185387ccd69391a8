package graft.stac

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The portable Delta transaction-log writer (K3 without the jar).
  * Validates the EMITTED BYTES against the open Delta protocol — file
  * naming, action shapes, pinned protocol versions, schemaString — not
  * just our own reader's replay, so any conformant engine (delta-spark,
  * delta-rs, DuckDB delta) loads these tables. */
class PortableDeltaSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val mapper = new ObjectMapper()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("pdelta").toString + "/tbl"

  private def df(ids: Long*) = {
    val s = spark; import s.implicits._
    ids.map(i => (i, s"doc $i")).toDF("id", "body")
  }

  private def logLines(path: String, version: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val f = new java.io.File(s"$path/_delta_log/${"%020d".format(version)}.json")
    assert(f.isFile, s"missing commit file $f")
    scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty)
      .map(mapper.readTree).toSeq
  }

  test("version 0 emits spec-shaped commitInfo/protocol/metaData/add actions") {
    val path = tmp()
    val data = df(1L, 2L, 3L)
    PortableDelta.write(data, path, properties = Map("k" -> "v"), mode = "error")
    val logDir = new java.io.File(s"$path/_delta_log")
    // ignore local-FS checksum shadows (.crc) — hidden names per Delta/Spark
    assert(logDir.listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq ==
      Seq("00000000000000000000.crc", "00000000000000000000.json"),
      "exactly one 20-digit commit file plus its version checksum")
    val lines = logLines(path, 0)
    val protocol = lines.filter(_.has("protocol"))
    assert(protocol.size == 1)
    assert(protocol.head.get("protocol").get("minReaderVersion").asInt() == 1)
    assert(protocol.head.get("protocol").get("minWriterVersion").asInt() == 2)
    val meta = lines.filter(_.has("metaData"))
    assert(meta.size == 1)
    val m = meta.head.get("metaData")
    assert(m.get("format").get("provider").asText() == "parquet")
    // schemaString is the Spark StructType JSON — what delta-spark parses
    assert(m.get("schemaString").asText() == data.schema.json)
    assert(m.get("configuration").get("k").asText() == "v")
    assert(m.get("id").asText().nonEmpty)
    assert(m.get("partitionColumns").isArray && m.get("partitionColumns").size() == 0)
    val adds = lines.filter(_.has("add")).map(_.get("add"))
    assert(adds.nonEmpty)
    adds.foreach { a =>
      val f = new java.io.File(s"$path/${a.get("path").asText()}")
      assert(f.isFile, s"add action points at missing file $f")
      assert(f.length() == a.get("size").asLong(), "size must be filesystem-true")
      assert(a.get("dataChange").asBoolean())
      assert(a.get("partitionValues").isObject)
    }
  }

  test("append commits v1 with add-only actions; metaData stays v0's") {
    val path = tmp()
    PortableDelta.write(df(1L), path)
    PortableDelta.write(df(2L, 3L), path, mode = "append")
    val lines = logLines(path, 1)
    assert(lines.exists(_.has("add")))
    assert(!lines.exists(_.has("metaData")) && !lines.exists(_.has("protocol")))
    val snap = PortableDelta.snapshot(
      spark.sessionState.newHadoopConf(), path)
    assert(snap.version == 1)
    val back = PortableDelta.readTable(spark, path)
    assert(back.select(sum(col("id"))).collect().head.getLong(0) == 6L)
  }

  test("append with a different schema is rejected before any write") {
    val path = tmp()
    PortableDelta.write(df(1L), path)
    val s = spark; import s.implicits._
    val bad = Seq((1L, 2.0)).toDF("id", "score")
    val e = intercept[IllegalArgumentException] {
      PortableDelta.write(bad, path, mode = "append")
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("overwrite is logical: removes in the log, old files stay on disk") {
    val path = tmp()
    PortableDelta.write(df(1L, 2L), path)
    PortableDelta.write(df(10L), path, mode = "overwrite")
    val lines = logLines(path, 1)
    val removed = lines.filter(_.has("remove")).map(_.get("remove").get("path").asText())
    assert(removed.nonEmpty, "overwrite must emit remove actions")
    removed.foreach { p =>
      assert(new java.io.File(s"$path/$p").isFile,
        "removed files remain on disk for earlier-version readers")
    }
    val back = PortableDelta.readTable(spark, path)
    assert(back.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(10L))
    // directory listing would double-count — the log is the source of truth
    assert(spark.read.parquet(path).count() > back.count())
  }

  test("mode=error refuses an existing table; commit clash surfaces clearly") {
    val path = tmp()
    PortableDelta.write(df(1L), path)
    val e1 = intercept[IllegalArgumentException] { PortableDelta.write(df(2L), path) }
    assert(e1.getMessage.contains("already exists"))
    // a racing writer that computed the same next version must hit the
    // put-if-absent guard, not clobber the existing commit file — and the
    // signal is the typed conflict write() rebases on
    val e2 = intercept[PortableDelta.ConcurrentCommitException] {
      PortableDelta.commit(spark.sessionState.newHadoopConf(), path, 0, Seq.empty)
    }
    assert(e2.getMessage.contains("concurrent commit") ||
      e2.getMessage.contains("already exists"))
  }

  test("non-contiguous log is rejected, not silently replayed") {
    val path = tmp()
    PortableDelta.write(df(1L), path)
    PortableDelta.write(df(2L), path, mode = "append")
    // a missing EARLIER version (v0 gone, v1 present) breaks replay
    assert(new java.io.File(s"$path/_delta_log/${"%020d".format(0L)}.json").delete())
    val e = intercept[IllegalArgumentException] {
      PortableDelta.snapshot(spark.sessionState.newHadoopConf(), path)
    }
    assert(e.getMessage.contains("non-contiguous"))
  }

  test("writeStac carries geo metadata as table properties AND parquet footers") {
    val path = tmp()
    val items = Normalize(StacJsonReader.read(
      spark, Seq(SparkSpec.resource("/data/naip-pc.json"))))
    PortableDelta.writeStac(items, path)
    val snap = PortableDelta.snapshot(spark.sessionState.newHadoopConf(), path)
    assert(snap.configuration.contains("geo") &&
      snap.configuration.contains("stac-geoparquet"))
    // the same metadata rides each part file's footer (K1's born-with seam)
    val conf = new org.apache.hadoop.conf.Configuration()
    snap.files.foreach { f =>
      val kv = GeoParquetWriter.readFooterMetadata(conf, s"$path/${f.path}")
      assert(kv.contains("geo") && kv.contains("stac-geoparquet"))
    }
    val back = PortableDelta.readTable(spark, path)
    assert(back.count() == items.count())
    assert(back.schema == snap.schema)
  }

  test("checkpoint: spec-named parquet + _last_checkpoint, replay survives log truncation") {
    val path = tmp()
    PortableDelta.write(df(1L, 2L), path, properties = Map("k" -> "v"))
    PortableDelta.write(df(3L), path, mode = "append")
    PortableDelta.write(df(10L, 11L), path, mode = "overwrite")
    val cv = PortableDelta.checkpoint(spark, path)
    assert(cv == 2)
    val ckpt = new java.io.File(s"$path/_delta_log/${"%020d".format(2L)}.checkpoint.parquet")
    assert(ckpt.isFile, "checkpoint must be ONE file at the spec name")
    val lc = new java.io.File(s"$path/_delta_log/_last_checkpoint")
    assert(lc.isFile)
    val lcNode = mapper.readTree(scala.io.Source.fromFile(lc).mkString)
    assert(lcNode.get("version").asLong() == 2 && lcNode.get("size").asLong() > 0)
    // checkpoint rows carry the spec's FULL action schema: readers that
    // require the remove/txn columns (older delta-rs, DuckDB delta) must
    // find them, null-typed — not just the columns this writer populates
    val rows = spark.read.parquet(ckpt.getPath)
    assert(rows.columns.sorted.toSeq ==
      Seq("add", "domainMetadata", "metaData", "protocol", "remove", "txn"))
    assert(rows.filter(col("protocol").isNotNull).count() == 1)
    assert(rows.filter(col("metaData").isNotNull).count() == 1)
    assert(rows.filter(col("add").isNotNull).count() > 0)
    assert(rows.filter(col("txn").isNotNull).count() == 0,
      "no txn was ever committed: the txn column stays shape-only")
    // the overwrite's removes are UNEXPIRED vacuum tombstones — the
    // checkpoint carries them forward (delta-spark shape) so log-based
    // reclaim still sees them after truncation
    val tombs = rows.filter(col("remove").isNotNull)
      .select(col("remove.path")).collect().map(_.getString(0)).toSet
    assert(tombs.size == 3, s"three overwritten files must tombstone: $tombs")
    assert(rows.filter(col("remove").isNotNull &&
      col("remove.deletionTimestamp").isNull).count() == 0)
    // truncate the JSON tail: state must survive on checkpoint alone
    val removed = PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    assert(removed == 3, s"all three subsumed commits should go, removed $removed")
    val snap = PortableDelta.snapshot(spark, path)
    assert(snap.version == 2 && snap.configuration("k") == "v")
    assert(PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L))
    // the JSON-only reader points at the engine overload, not a puzzle
    val e = intercept[IllegalArgumentException] {
      PortableDelta.snapshot(spark.sessionState.newHadoopConf(), path)
    }
    assert(e.getMessage.contains("checkpoint-truncated"))
    // commits continue AFTER the truncation: append lands as v3 on top
    PortableDelta.write(df(12L), path, mode = "append")
    assert(PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L, 12L))
  }

  // ------------------------------------------------- external-shaped logs
  // The reference hands Delta writes to a full engine (`_delta_lake.py:
  // 28-71`) and assumes a full engine on the read side; our portable
  // reader must load logs OTHER writers produce. These cases synthesize
  // the external shapes a conformant engine emits — multi-part
  // checkpoints, tombstones for never-added paths, action types beyond
  // our writer's vocabulary — and the protocol gate that refuses tables
  // needing reader features we don't implement.

  test("interop: multi-part checkpoint (<v>.checkpoint.<i>.<n>.parquet) replays") {
    val path = tmp()
    PortableDelta.write(df(1L, 2L), path, properties = Map("k" -> "v"))
    PortableDelta.write(df(3L), path, mode = "append")
    PortableDelta.write(df(10L, 11L), path, mode = "overwrite")
    val cv = PortableDelta.checkpoint(spark, path)
    val logDir = s"$path/_delta_log"
    val single = new java.io.File(s"$logDir/${"%020d".format(cv)}.checkpoint.parquet")
    // shard the single-file checkpoint into the spec's multi-part layout:
    // part 1 = protocol+metaData rows, part 2 = add rows (an external
    // writer shards by row ranges; any partition of the rows is legal)
    val rows = spark.read.parquet(single.getPath)
    def moveSinglePart(src: org.apache.spark.sql.DataFrame, dest: java.io.File): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("ckpt-part").toString + "/p"
      src.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
      assert(part.renameTo(dest))
    }
    moveSinglePart(rows.filter(col("add").isNull),
      new java.io.File(f"$logDir/$cv%020d.checkpoint.${1}%010d.${2}%010d.parquet"))
    moveSinglePart(rows.filter(col("add").isNotNull),
      new java.io.File(f"$logDir/$cv%020d.checkpoint.${2}%010d.${2}%010d.parquet"))
    assert(single.delete())
    val lc = new java.io.File(s"$logDir/_last_checkpoint")
    val lcNode = mapper.readTree(scala.io.Source.fromFile(lc).mkString)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    lcNode.put("parts", 2)
    java.nio.file.Files.write(lc.toPath,
      lcNode.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the raw rewrite bypassed Hadoop's LocalFileSystem, leaving OUR
    // stale .crc shadow behind; an external writer's log has no such
    // sidecar, so drop it to keep the synthesized shape faithful
    new java.io.File(s"$logDir/._last_checkpoint.crc").delete()
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    val snap = PortableDelta.snapshot(spark, path)
    assert(snap.version == cv && snap.configuration("k") == "v")
    assert(PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L))
    // a missing shard is an error, not a silent partial replay
    assert(new java.io.File(f"$logDir/$cv%020d.checkpoint.${2}%010d.${2}%010d.parquet").delete())
    val e = intercept[IllegalArgumentException] { PortableDelta.snapshot(spark, path) }
    assert(e.getMessage.contains("missing"))
  }

  test("interop: remove for a never-added path is a legal no-op tombstone") {
    val path = tmp()
    PortableDelta.write(df(1L, 2L), path)
    val conf = spark.sessionState.newHadoopConf()
    val tomb = mapper.createObjectNode()
    tomb.putObject("remove").put("path", "part-ghost.parquet")
      .put("deletionTimestamp", 1L).put("dataChange", true)
    PortableDelta.commit(conf, path, 1, Seq(tomb))
    val snap = PortableDelta.snapshot(conf, path)
    assert(snap.version == 1 && snap.files.size > 0)
    assert(PortableDelta.readTable(spark, path)
      .select(sum(col("id"))).collect().head.getLong(0) == 3L)
  }

  test("interop: unknown action types (txn/domainMetadata/future) are ignored") {
    val path = tmp()
    PortableDelta.write(df(1L), path)
    val conf = spark.sessionState.newHadoopConf()
    val txn = mapper.createObjectNode()
    txn.putObject("txn").put("appId", "ext-app").put("version", 7L)
    val dom = mapper.createObjectNode()
    dom.putObject("domainMetadata").put("domain", "ext.domain")
      .put("configuration", "{}").put("removed", false)
    val future = mapper.createObjectNode()
    future.putObject("someFutureAction").put("x", 1)
    PortableDelta.commit(conf, path, 1, Seq(txn, dom, future))
    // forward-compatibility rule: unknown action NAMES never fail a read —
    // feature gating lives in the protocol action alone
    val snap = PortableDelta.snapshot(conf, path)
    assert(snap.version == 1)
    assert(PortableDelta.readTable(spark, path).count() == 1)
  }

  test("interop: unimplemented reader features are refused BY NAME") {
    val path = tmp()
    PortableDelta.write(df(1L), path)
    val conf = spark.sessionState.newHadoopConf()
    // deletionVectors + columnMapping + v2Checkpoint are IMPLEMENTED
    // now (round 8) — a v3 table carrying only those must load; one
    // carrying a feature this reader lacks (icebergCompatV9, …) must not
    val proto = mapper.createObjectNode()
    val p = proto.putObject("protocol")
    p.put("minReaderVersion", 3).put("minWriterVersion", 7)
    p.putArray("readerFeatures").add("deletionVectors").add("columnMapping")
    PortableDelta.commit(conf, path, 1, Seq(proto))
    assert(PortableDelta.snapshot(conf, path).minReaderVersion == 3,
      "supported v3 feature sets must load")
    val proto2 = mapper.createObjectNode()
    val p2 = proto2.putObject("protocol")
    p2.put("minReaderVersion", 3).put("minWriterVersion", 7)
    p2.putArray("readerFeatures").add("deletionVectors").add("icebergCompatV9")
    PortableDelta.commit(conf, path, 2, Seq(proto2))
    val e = intercept[IllegalArgumentException] {
      PortableDelta.snapshot(conf, path)
    }
    assert(e.getMessage.contains("reader version 3"))
    assert(e.getMessage.contains("icebergCompatV9"),
      s"rejection must NAME the unsupported feature: ${e.getMessage}")
  }

  test("txn actions: idempotent writes, watermark survives checkpoint truncation") {
    val path = tmp()
    val v0 = PortableDelta.write(df(1L, 2L), path, mode = "append", txn = Some(("app", 0L)))
    val v1 = PortableDelta.write(df(3L), path, mode = "append", txn = Some(("app", 1L)))
    assert(v0 == 0 && v1 == 1)
    val conf = spark.sessionState.newHadoopConf()
    assert(PortableDelta.snapshot(conf, path).txns == Map("app" -> 1L))
    // re-delivery of batch 1 (and any older batch) is a committed-txn
    // no-op: same version back, nothing staged or appended
    val nBefore = PortableDelta.readTable(spark, path).count()
    assert(PortableDelta.write(df(3L), path, mode = "append", txn = Some(("app", 1L))) == 1)
    assert(PortableDelta.write(df(1L, 2L), path, mode = "append", txn = Some(("app", 0L))) == 1)
    assert(PortableDelta.readTable(spark, path).count() == nBefore)
    assert(PortableDelta.snapshot(conf, path).version == 1)
    // a SECOND app's watermark is independent
    PortableDelta.write(df(9L), path, mode = "append", txn = Some(("other", 5L)))
    val snap2 = PortableDelta.snapshot(conf, path)
    assert(snap2.txns == Map("app" -> 1L, "other" -> 5L))
    // the watermark must survive checkpoint + JSON-tail truncation (the
    // spec stores the latest txn per appId in the checkpoint parquet)
    PortableDelta.checkpoint(spark, path)
    PortableDelta.cleanupLog(conf, path)
    val replayed = PortableDelta.snapshot(spark, path)
    assert(replayed.txns == Map("app" -> 1L, "other" -> 5L),
      s"txn watermarks lost in checkpoint replay: ${replayed.txns}")
    // and stays idempotent across the truncation boundary
    val n2 = PortableDelta.readTable(spark, path).count()
    // post-truncation writes consult the checkpoint-aware snapshot
    val eNoEngine = intercept[IllegalArgumentException] {
      PortableDelta.snapshot(conf, path)
    }
    assert(eNoEngine.getMessage.contains("checkpoint-truncated"))
    assert(PortableDelta.write(df(9L), path.toString, mode = "append",
      txn = Some(("other", 4L))) == replayed.version)
    assert(PortableDelta.readTable(spark, path).count() == n2)
  }

  test("a foreign file in the table directory is never committed") {
    // write() discovers its output from a job-scoped staging dir, not a
    // before/after listing diff — a file landing in the table root during
    // the write window (concurrent writer, leftover staging) must stay
    // invisible to the log, not become silent table data
    val path = tmp()
    PortableDelta.write(df(1L, 2L), path)
    val existing = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
    java.nio.file.Files.copy(existing.toPath,
      java.nio.file.Paths.get(path, "stray-foreign-file.parquet"))
    PortableDelta.write(df(3L), path, mode = "append")
    val snap = PortableDelta.snapshot(spark.sessionState.newHadoopConf(), path)
    assert(!snap.files.exists(_.path.contains("stray")),
      s"foreign file leaked into the log: ${snap.files.map(_.path)}")
    assert(PortableDelta.readTable(spark, path)
      .select(sum(col("id"))).collect().head.getLong(0) == 6L,
      "foreign rows must not appear in the table read")
  }

  test("time travel: versionAsOf replays the state that WAS current; history lists commits") {
    val path = tmp()
    PortableDelta.write(df(1L, 2L), path)                       // v0
    PortableDelta.write(df(3L), path, mode = "append")          // v1
    PortableDelta.write(df(10L, 11L), path, mode = "overwrite") // v2
    def idsAt(v: Long) = PortableDelta.readTable(spark, path, v)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(idsAt(0) == Seq(1L, 2L))
    assert(idsAt(1) == Seq(1L, 2L, 3L))
    assert(idsAt(2) == Seq(10L, 11L))
    val e = intercept[IllegalArgumentException](PortableDelta.snapshotAt(spark, path, 3))
    assert(e.getMessage.contains("exceeds"))
    val h = PortableDelta.history(spark.sessionState.newHadoopConf(), path)
    assert(h.map(_._1) == Seq(2L, 1L, 0L), "history is newest first")
    assert(h.head._2.contains("overwrite") && h.last._2.contains("CREATE"))
    assert(h.forall(_._3 > 0), "commitInfo timestamps present")
    // checkpoint + truncation: the checkpointed version stays travel-able
    // (checkpoint seed), older versions are gone and the error SAYS so
    PortableDelta.checkpoint(spark, path)
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    assert(idsAt(2) == Seq(10L, 11L))
    val e2 = intercept[IllegalArgumentException](PortableDelta.snapshotAt(spark, path, 1))
    assert(e2.getMessage.contains("not reconstructable"))
    // appends after truncation remain travel-able from the checkpoint seed
    PortableDelta.write(df(12L), path, mode = "append")          // v3
    assert(idsAt(2) == Seq(10L, 11L) && idsAt(3) == Seq(10L, 11L, 12L))
  }

  test("parseStacNdjsonToDeltaLake writes the portable log with geo metadata") {
    val path = tmp()
    val fixture = SparkSpec.resource("/data/naip-pc.json")
    val items = Normalize(StacJsonReader.read(spark, Seq(fixture)))
    Stac.parseStacNdjsonToDeltaLake(spark, Seq(fixture), path)
    val snap = PortableDelta.snapshot(spark.sessionState.newHadoopConf(), path)
    assert(snap.configuration.contains("geo"))
    assert(PortableDelta.readTable(spark, path).count() == items.count())
  }

  test("optimistic concurrency: two interleaved writers all land, replay is consistent") {
    val path = tmp()
    PortableDelta.write(df(0L), path) // v0
    val perWriter = 5
    // two threads append concurrently; every commit conflict must rebase
    // and land at the next version — no lost writes, no clobbered log
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val tasks = Seq("a", "b").map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          override def call(): Seq[Long] = (0 until perWriter).map { i =>
            PortableDelta.write(df(1000L * (w.head - 'a' + 1) + i), path, mode = "append")
          }
        })
      }
      val versions = tasks.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // all 10 commits landed at DISTINCT versions 1..10
      assert(versions.sorted == (1L to (2 * perWriter)).toSeq,
        s"commit versions: ${versions.sorted}")
    } finally pool.shutdown()
    val got = PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    val want = (Seq(0L) ++ (0 until perWriter).flatMap(i => Seq(1000L + i, 2000L + i))).sorted
    assert(got == want, "every writer's rows must be present exactly once")
    // no orphan part files: every parquet in the root is log-visible
    val snap = PortableDelta.snapshot(spark.sessionState.newHadoopConf(), path)
    val onDisk = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(onDisk == snap.files.map(_.path).toSet)
  }

  test("optimistic concurrency: racing txn writers — one lands, the loser withdraws") {
    val path = tmp()
    PortableDelta.write(df(0L), path) // v0
    // both writers deliver THE SAME batch (appId, batchId) — the crash-
    // replay/zombie-executor shape; exactly one copy may commit
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val tasks = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            PortableDelta.write(df(42L), path, mode = "append", txn = Some(("app", 7L)))
        })
      }
      tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val rows = PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(0L, 42L), s"the batch must land EXACTLY once, got $rows")
    // the loser's withdrawn part file must not linger in the table root
    val snap = PortableDelta.snapshot(spark.sessionState.newHadoopConf(), path)
    val onDisk = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(onDisk == snap.files.map(_.path).toSet,
      "withdrawn staged files must be deleted, not orphaned")
    assert(snap.txns("app") == 7L)
  }

  test("multi-part checkpoint WRITE: sharded parts, own + external-shaped read-back") {
    val path = tmp()
    PortableDelta.write(df(1L, 2L).coalesce(1), path, properties = Map("k" -> "v"))
    (0 until 4).foreach(i => PortableDelta.write(df(10L + i).coalesce(1), path, mode = "append"))
    // force sharding: 5 live files at 2 adds/part → 3 parts
    val cv = PortableDelta.checkpoint(spark, path, addsPerPart = 2)
    assert(cv == 4)
    val logDir = new java.io.File(s"$path/_delta_log")
    val parts = logDir.listFiles().map(_.getName)
      .filter(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet")).sorted
    assert(parts.length >= 2, s"expected multi-part checkpoint, got ${parts.toSeq}")
    val lc = mapper.readTree(scala.io.Source
      .fromFile(s"$path/_delta_log/_last_checkpoint").mkString)
    assert(lc.get("version").asLong() == 4 && lc.get("parts").asInt() == parts.length)
    // every declared part exists under the spec naming <v>.checkpoint.<i>.<n>
    (1 to parts.length).foreach { i =>
      assert(new java.io.File(logDir,
        f"$cv%020d.checkpoint.$i%010d.${parts.length}%010d.parquet").isFile)
    }
    // external expectation: ALL parts together hold exactly one protocol,
    // one metaData, and the 5 add rows, under the full action schema
    val rows = spark.read.parquet(parts.map(p => s"$path/_delta_log/$p").toSeq: _*)
    assert(rows.columns.sorted.toSeq ==
      Seq("add", "domainMetadata", "metaData", "protocol", "remove", "txn"))
    assert(rows.filter(col("protocol").isNotNull).count() == 1)
    assert(rows.filter(col("metaData").isNotNull).count() == 1)
    assert(rows.filter(col("add").isNotNull).count() == 5)
    // truncate the JSON tail: replay must come from the parts alone
    assert(PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path) == 5)
    val snap = PortableDelta.snapshot(spark, path)
    assert(snap.version == 4 && snap.configuration("k") == "v" && snap.files.size == 5)
    assert(PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 10L, 11L, 12L, 13L))
    // and the NEXT checkpoint reseeds from the multi-part state (the
    // checkpoint→checkpoint DataFrame path), then compacts to one part
    PortableDelta.write(df(99L), path, mode = "append")
    val cv2 = PortableDelta.checkpoint(spark, path)
    assert(cv2 == 5)
    assert(new java.io.File(logDir, f"$cv2%020d.checkpoint.parquet").isFile)
    assert(PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 10L, 11L, 12L, 13L, 99L))
  }

  test("deletion vectors: codec round-trips, including multi-bitmap 64-bit indexes") {
    val idx = Seq(0L, 1L, 63L, 100000L, (1L << 32) + 5L, (1L << 33) + 7L)
    val dv = DeletionVectors.deserialize(DeletionVectors.serialize(idx))
    idx.foreach(i => assert(dv.contains(i), s"index $i must be deleted"))
    Seq(2L, 64L, 99999L, (1L << 32) + 4L, (1L << 34)).foreach(i =>
      assert(!dv.contains(i), s"index $i must NOT be deleted"))
    assert(dv.cardinality == idx.size)
    // z85 round-trip
    val bytes = Array.tabulate(32)(i => (i * 7 - 100).toByte)
    assert(DeletionVectors.z85Decode(DeletionVectors.z85Encode(bytes)).toSeq == bytes.toSeq)
  }

  test("deletion vectors: external log with an INLINE DV reads back minus deleted rows") {
    val path = tmp()
    PortableDelta.write(df(0L, 1L, 2L, 3L, 4L).coalesce(1), path) // ONE part file
    // row order within the file is whatever the committer wrote; derive
    // the victim ids FROM physical positions so the check is exact
    val snap0 = PortableDelta.snapshot(spark.sessionState.newHadoopConf(), path)
    assert(snap0.files.size == 1)
    val file = snap0.files.head
    val physical = spark.read.parquet(s"$path/${file.path}")
      .select(col("_metadata.row_index"), col("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deadPositions = Seq(1L, 3L)
    val deadIds = deadPositions.map(physical)
    // synthesize the external commit: protocol upgrade to reader v3 +
    // deletionVectors, and a re-add of the same file carrying the DV
    val (z85, sizeInBytes, card) = DeletionVectors.inlineDescriptor(deadPositions)
    val proto = mapper.createObjectNode()
    val p = proto.putObject("protocol")
    p.put("minReaderVersion", 3).put("minWriterVersion", 7)
    p.putArray("readerFeatures").add("deletionVectors")
    p.putArray("writerFeatures").add("deletionVectors")
    val addN = mapper.createObjectNode()
    val a = addN.putObject("add")
    a.put("path", file.path); a.putObject("partitionValues")
    a.put("size", file.size); a.put("modificationTime", file.modificationTime)
    a.put("dataChange", false)
    val d = a.putObject("deletionVector")
    d.put("storageType", "i"); d.put("pathOrInlineDv", z85)
    d.put("sizeInBytes", sizeInBytes); d.put("cardinality", card)
    PortableDelta.commit(spark.sessionState.newHadoopConf(), path, 1, Seq(proto, addN))
    // current read: deleted positions gone, value-checked
    val got = PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (Seq(0L, 1L, 2L, 3L, 4L) diff deadIds).sorted,
      s"DV must hide exactly ids $deadIds, got $got")
    // time travel BEFORE the delete still sees all rows
    assert(PortableDelta.readTable(spark, path, 0L).count() == 5)
  }

  test("deletion vectors: on-disk DV FILE (storageType u) with CRC reads back") {
    val path = tmp()
    PortableDelta.write(df(10L, 11L, 12L, 13L).coalesce(1), path)
    val conf = spark.sessionState.newHadoopConf()
    val snap0 = PortableDelta.snapshot(conf, path)
    val file = snap0.files.head
    val physical = spark.read.parquet(s"$path/${file.path}")
      .select(col("_metadata.row_index"), col("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deadPositions = Seq(0L, 2L)
    val deadIds = deadPositions.map(physical)
    val (uuidZ85, offset, sizeInBytes, card) =
      DeletionVectors.writeDvFile(conf, path, deadPositions)
    val proto = mapper.createObjectNode()
    val p = proto.putObject("protocol")
    p.put("minReaderVersion", 3).put("minWriterVersion", 7)
    p.putArray("readerFeatures").add("deletionVectors")
    val addN = mapper.createObjectNode()
    val a = addN.putObject("add")
    a.put("path", file.path); a.putObject("partitionValues")
    a.put("size", file.size); a.put("modificationTime", file.modificationTime)
    a.put("dataChange", false)
    val d = a.putObject("deletionVector")
    d.put("storageType", "u"); d.put("pathOrInlineDv", uuidZ85)
    d.put("offset", offset); d.put("sizeInBytes", sizeInBytes)
    d.put("cardinality", card)
    PortableDelta.commit(conf, path, 1, Seq(proto, addN))
    val got = PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (Seq(10L, 11L, 12L, 13L) diff deadIds).sorted)
    // a DV table survives checkpoint + truncation: the descriptor rides
    // the checkpoint's add struct
    PortableDelta.checkpoint(spark, path)
    PortableDelta.cleanupLog(conf, path)
    val got2 = PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == got, "DV must survive checkpoint-seeded replay")
  }

  test("history survives checkpoint + cleanupLog via the sidecar") {
    val path = tmp()
    PortableDelta.write(df(1L), path)                        // v0 CREATE
    PortableDelta.write(df(2L), path, mode = "append")       // v1 append
    PortableDelta.write(df(9L), path, mode = "overwrite")    // v2 overwrite
    val conf = spark.sessionState.newHadoopConf()
    val before = PortableDelta.history(conf, path)
    assert(before.map(_._1) == Seq(2L, 1L, 0L))
    PortableDelta.checkpoint(spark, path)
    assert(PortableDelta.cleanupLog(conf, path) == 3)
    // all three versions still listed, operations intact, newest first
    val after = PortableDelta.history(conf, path)
    assert(after.map(_._1) == Seq(2L, 1L, 0L), s"history after cleanup: $after")
    assert(after.map(_._2) ==
      Seq("WRITE (overwrite)", "WRITE (append)", "CREATE TABLE AS SELECT"))
    assert(after.forall(_._3 > 0), "timestamps must survive the harvest")
    // commits after truncation append to the merged view
    PortableDelta.write(df(3L), path, mode = "append")       // v3
    assert(PortableDelta.history(conf, path).map(_._1) == Seq(3L, 2L, 1L, 0L))
  }

  test("DELETE via DVs: no data rewrite, protocol upgrade, value-correct read") {
    val path = tmp()
    val s = spark; import s.implicits._
    val data = (0L until 100L).map(i => (i, s"doc $i")).toDF("id", "body")
      .repartition(4)
    PortableDelta.write(data, path)
    val conf = spark.sessionState.newHadoopConf()
    def partsOnDisk = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    val partsBefore = partsOnDisk

    val st1 = PortableDelta.delete(spark, path, col("id") % 10 === 0)
    assert(st1.version == 1 && st1.deletedRows == 10 && st1.removedFiles == 0,
      s"unexpected $st1")
    // the delete touched ZERO parquet bytes — that is the point of DVs
    assert(partsOnDisk == partsBefore, "DELETE must not rewrite data files")
    // exactly one pack file holds every touched file's bitmap
    assert(new java.io.File(path).listFiles()
      .count(_.getName.startsWith("deletion_vector_")) == 1)
    // first DV upgraded the protocol to the table-features form
    val proto = logLines(path, 1).filter(_.has("protocol"))
    assert(proto.size == 1)
    val p = proto.head.get("protocol")
    assert(p.get("minReaderVersion").asInt() == 3 &&
      p.get("minWriterVersion").asInt() == 7)
    assert(p.get("readerFeatures").elements().asScala.map(_.asText()).toSeq ==
      Seq("deletionVectors"))
    // legacy-implied features (writer 2: appendOnly, invariants) fold
    // into the version-7 list — only LISTED features stay enabled
    assert(p.get("writerFeatures").elements().asScala.map(_.asText()).toSeq ==
      Seq("appendOnly", "invariants", "deletionVectors"))
    val got1 = PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got1 == (0L until 100L).filter(_ % 10 != 0).toSet)

    // a second DELETE UNIONS into the existing DVs (descriptors must
    // carry all dead positions, old and new); overlap is not re-counted
    val st2 = PortableDelta.delete(spark, path, col("id") < 30)
    assert(st2.version == 2 && st2.deletedRows == 27, s"unexpected $st2") // 0,10,20 were dead
    val snap = PortableDelta.snapshot(spark, path)
    assert(snap.files.forall(_.dv.isDefined), "every file holds ids <30 after repartition(4)")
    assert(snap.files.flatMap(_.dv).map(_.cardinality).sum == 37)
    val got2 = PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got2 == (30L until 100L).filter(_ % 10 != 0).toSet)

    // a predicate matching nothing (or only already-dead rows) commits nothing
    val st3 = PortableDelta.delete(spark, path, col("id") === 20L)
    assert(st3.version == 2 && st3.deletedRows == 0)
    assert(!new java.io.File(s"$path/_delta_log/${"%020d".format(3L)}.json").exists())

    // DVs survive checkpoint-seeded replay after log truncation, and
    // time travel still reads the PRE-delete state from v0
    PortableDelta.checkpoint(spark, path)
    PortableDelta.cleanupLog(conf, path)
    val got3 = PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got3 == got2, "DV state must survive checkpoint + cleanup")
    val snapCk = PortableDelta.snapshot(spark, path)
    assert(snapCk.minReaderVersion == 3 && snapCk.minWriterVersion == 7 &&
      snapCk.readerFeatures == Seq("deletionVectors") &&
      snapCk.writerFeatures.toSeq ==
        Seq("appendOnly", "invariants", "deletionVectors"),
      "table-features protocol must survive the checkpoint")
  }

  test("DELETE that kills every row of a file emits a plain remove") {
    val path = tmp()
    val s = spark; import s.implicits._
    // two commits → disjoint file sets by id range
    PortableDelta.write((0L until 5L).map(i => (i, s"d$i")).toDF("id", "body")
      .coalesce(1), path)
    PortableDelta.write((5L until 10L).map(i => (i, s"d$i")).toDF("id", "body")
      .coalesce(1), path, mode = "append")
    val before = PortableDelta.snapshot(spark, path)
    assert(before.files.size == 2)
    val st = PortableDelta.delete(spark, path, col("id") < 5)
    assert(st.deletedRows == 5 && st.removedFiles == 1 && st.dvFiles == 0,
      s"unexpected $st")
    val snap = PortableDelta.snapshot(spark, path)
    assert(snap.files.size == 1 && snap.files.forall(_.dv.isEmpty))
    // no DV pack was written for a remove-only delete
    assert(new java.io.File(path).listFiles()
      .count(_.getName.startsWith("deletion_vector_")) == 0)
    val got = PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == (5L until 10L).toSet)
    // the dead file is still on disk for earlier-version readers
    val v0 = PortableDelta.readTable(spark, path, 0L).count()
    assert(v0 == 5L, "time travel to v0 must still see the removed file's rows")
  }

  test("v2 checkpoint WRITE: UUID top-level + sidecars, protocol upgrade, read-back") {
    val path = tmp()
    PortableDelta.write(df(1L, 2L).coalesce(1), path, properties = Map("k" -> "v"))
    (0 until 4).foreach(i => PortableDelta.write(df(10L + i).coalesce(1), path, mode = "append"))
    // 5 live files at 2 adds/sidecar → 3 sidecars; pre-upgrade protocol
    // lacks v2Checkpoint, so checkpointV2 first commits the upgrade (v5)
    // and checkpoints at that version
    val cv = PortableDelta.checkpointV2(spark, path, addsPerSidecar = 2)
    assert(cv == 5, s"protocol upgrade + checkpoint should land at v5, got $cv")
    val logDir = new java.io.File(s"$path/_delta_log")
    val top = logDir.listFiles().map(_.getName)
      .filter(_.matches("\\d{20}\\.checkpoint\\.[0-9a-f-]{36}\\.parquet"))
    assert(top.length == 1, s"expected one UUID checkpoint, got ${top.toSeq}")
    val sidecars = new java.io.File(logDir, "_sidecars").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(sidecars.length == 3, s"expected 3 sidecars, got ${sidecars.toSeq}")
    // external expectation on the top-level file: NO file actions, one
    // protocol (carrying the feature), one metaData, a checkpointMetadata
    // row naming cv, and one sidecar row per shard pointing at real files
    val rows = spark.read.parquet(s"$path/_delta_log/${top.head}")
    assert(rows.filter(col("add").isNotNull).count() == 0,
      "v2 top-level file must carry no add actions")
    val proto = rows.filter(col("protocol").isNotNull).select("protocol.*").collect()
    assert(proto.length == 1 && proto.head.getAs[scala.collection.Seq[String]]("readerFeatures")
      .contains("v2Checkpoint"))
    assert(rows.filter(col("metaData").isNotNull).count() == 1)
    assert(rows.filter(col("checkpointMetadata").isNotNull)
      .select("checkpointMetadata.version").collect().map(_.getLong(0)).toSeq == Seq(5L))
    val scRows = rows.filter(col("sidecar").isNotNull)
      .select("sidecar.path").collect().map(_.getString(0)).sorted
    assert(scRows.toSeq == sidecars.sorted.toSeq,
      "sidecar actions must name exactly the written sidecar files")
    // all add actions live in the sidecars
    val scAdds = spark.read.parquet(
      sidecars.map(n => s"$path/_delta_log/_sidecars/$n").toSeq: _*)
    assert(scAdds.filter(col("add").isNotNull).count() == 5)
    // truncate the JSON tail: replay must come from the v2 layout alone
    assert(PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path) == 6)
    val snap = PortableDelta.snapshot(spark, path)
    assert(snap.version == 5 && snap.configuration("k") == "v" && snap.files.size == 5)
    assert(snap.readerFeatures.contains("v2Checkpoint"))
    assert(PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 10L, 11L, 12L, 13L))
    // a JSON tail on top of the v2 checkpoint replays, and the next
    // CLASSIC checkpoint reseeds from v2 state (v2→classic DataFrame flow)
    PortableDelta.write(df(99L), path, mode = "append")
    val cv2 = PortableDelta.checkpoint(spark, path)
    assert(cv2 == 6)
    assert(PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 10L, 11L, 12L, 13L, 99L))
    // second checkpointV2 must NOT re-upgrade (feature already present)
    val cv3 = PortableDelta.checkpointV2(spark, path)
    assert(cv3 == 6, s"no extra protocol commit expected, got $cv3")
  }

  test("interop: externally-shaped v2 checkpoint (sidecar actions) replays") {
    val path = tmp()
    PortableDelta.write(df(1L, 2L, 3L).coalesce(1), path, properties = Map("k" -> "v"))
    PortableDelta.write(df(4L, 5L).coalesce(1), path, mode = "append")
    PortableDelta.write(df(6L).coalesce(1), path, mode = "append")
    // start from the classic checkpoint and reshape it into the v2 layout
    // an external engine (delta-spark with v2Checkpoint) would emit
    val cv = PortableDelta.checkpoint(spark, path)
    val logDir = s"$path/_delta_log"
    val single = new java.io.File(s"$logDir/${"%020d".format(cv)}.checkpoint.parquet")
    val rows = spark.read.parquet(single.getPath)
    def moveSinglePart(src: org.apache.spark.sql.DataFrame, dest: java.io.File): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("v2ckpt").toString + "/p"
      src.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
      assert(part.renameTo(dest))
    }
    // two sidecars: split the adds on path order (both halves non-empty)
    val paths = rows.filter(col("add").isNotNull)
      .select("add.path").collect().map(_.getString(0)).sorted
    assert(paths.length == 3)
    val firstHalf = paths.take(1).toSet
    val scDir = new java.io.File(s"$logDir/_sidecars"); scDir.mkdirs()
    val scA = "11111111-2222-3333-4444-555555555555.parquet"
    val scB = "66666666-7777-8888-9999-aaaaaaaaaaaa.parquet"
    val fileActions = rows.filter(col("add").isNotNull).select(col("add"), col("remove"))
    moveSinglePart(fileActions.filter(col("add.path").isin(firstHalf.toSeq: _*)),
      new java.io.File(scDir, scA))
    moveSinglePart(fileActions.filter(!col("add.path").isin(firstHalf.toSeq: _*)),
      new java.io.File(scDir, scB))
    val cmT = "struct<version:bigint>"
    val scT = "struct<path:string,sizeInBytes:bigint,modificationTime:bigint>"
    val small = rows.filter(col("add").isNull)
      .withColumn("checkpointMetadata", lit(null).cast(cmT))
      .withColumn("sidecar", lit(null).cast(scT))
    // one checkpointMetadata row + two sidecar rows, types cloned from
    // the file frame so unionByName is exact
    def blankRow = small.limit(1).select(small.schema.fieldNames.map(n =>
      lit(null).cast(small.schema(n).dataType).as(n)): _*)
    val cmRow = blankRow.withColumn("checkpointMetadata",
      expr(s"named_struct('version', CAST($cv AS BIGINT))"))
    val scRowsDf = Seq(scA, scB).map { n =>
      blankRow.withColumn("sidecar", expr(
        s"named_struct('path', '$n', 'sizeInBytes', CAST(1 AS BIGINT), " +
          "'modificationTime', CAST(1 AS BIGINT))"))
    }.reduce(_ unionByName _)
    moveSinglePart(small.unionByName(cmRow).unionByName(scRowsDf), new java.io.File(
      f"$logDir/$cv%020d.checkpoint.deadbeef-0000-4000-8000-000000000001.parquet"))
    assert(single.delete(), "classic checkpoint must be replaced by the v2 file")
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    val snap = PortableDelta.snapshot(spark, path)
    assert(snap.version == cv && snap.configuration("k") == "v" && snap.files.size == 3)
    assert(PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // torn maintenance: a discovered checkpoint whose checkpointMetadata
    // names a DIFFERENT version than _last_checkpoint must error, never
    // replay wrong state — synthesize by pointing _last_checkpoint at
    // cv-1 and planting a copy of the v2 file under a cv-1 UUID name
    java.nio.file.Files.copy(
      new java.io.File(f"$logDir/$cv%020d.checkpoint.deadbeef-0000-4000-8000-000000000001.parquet").toPath,
      new java.io.File(f"$logDir/${cv - 1}%020d.checkpoint.deadbeef-0000-4000-8000-000000000002.parquet").toPath)
    val lc = new java.io.File(s"$logDir/_last_checkpoint")
    val lcNode = mapper.readTree(scala.io.Source.fromFile(lc).mkString)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    lcNode.put("version", cv - 1)
    java.nio.file.Files.write(lc.toPath,
      lcNode.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    new java.io.File(s"$logDir/._last_checkpoint.crc").delete()
    val e = intercept[IllegalArgumentException] { PortableDelta.snapshot(spark, path) }
    assert(e.getMessage.contains("!="),
      s"expected the checkpointMetadata version gate, got: ${e.getMessage}")
  }

  test("timestampAsOf: commit-time resolution, monotonic healing, inCommitTimestamp") {
    val path = tmp()
    PortableDelta.write(df(1L), path)
    PortableDelta.write(df(2L), path, mode = "append")
    PortableDelta.write(df(3L), path, mode = "append")
    // pin the three commitInfo timestamps to 1000 / 500 (non-monotonic) / 3000
    def pinTs(v: Long, ts: Long): Unit = {
      val f = new java.io.File(s"$path/_delta_log/${"%020d".format(v)}.json")
      val out = scala.io.Source.fromFile(f, "UTF-8").getLines().map { line =>
        val n = mapper.readTree(line)
        if (n.has("commitInfo")) {
          n.get("commitInfo").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .put("timestamp", ts)
          n.toString
        } else line
      }.mkString("\n")
      java.nio.file.Files.write(f.toPath, out.getBytes("UTF-8"))
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    }
    pinTs(0, 1000L); pinTs(1, 500L); pinTs(2, 3000L)
    val conf = spark.sessionState.newHadoopConf()
    // v1's wall clock ran backwards; its effective time is max(1000, 500)
    // = 1000, so ts=1000 resolves to v1 (the LATEST version at that time)
    assert(PortableDelta.versionAtTimestamp(conf, path, 1000L) == 1L)
    assert(PortableDelta.versionAtTimestamp(conf, path, 2999L) == 1L)
    assert(PortableDelta.versionAtTimestamp(conf, path, 3000L) == 2L)
    val before = intercept[IllegalArgumentException] {
      PortableDelta.versionAtTimestamp(conf, path, 999L)
    }
    assert(before.getMessage.contains("before the earliest"))
    val after = intercept[IllegalArgumentException] {
      PortableDelta.versionAtTimestamp(conf, path, 3001L)
    }
    assert(after.getMessage.contains("after the latest"))
    assert(PortableDelta.readTableAtTimestamp(spark, path, 2000L)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // inCommitTimestamp WINS over the legacy wall-clock field: a commit
    // stamped (timestamp=9999999, inCommitTimestamp=4000) sits at 4000
    val ci = mapper.createObjectNode()
    val b = ci.putObject("commitInfo")
    b.put("timestamp", 9999999L); b.put("inCommitTimestamp", 4000L)
    b.put("operation", "WRITE")
    PortableDelta.commit(conf, path, 3, Seq(ci))
    assert(PortableDelta.versionAtTimestamp(conf, path, 4000L) == 3L)
    assert(PortableDelta.versionAtTimestamp(conf, path, 3999L) == 2L)
    // resolution SURVIVES log truncation: the harvested history sidecar
    // keeps the commit times cleanupLog deletes
    PortableDelta.checkpoint(spark, path)
    PortableDelta.cleanupLog(conf, path)
    assert(PortableDelta.versionAtTimestamp(conf, path, 4000L) == 3L)
    assert(PortableDelta.readTableAtTimestamp(spark, path, 4000L).count() == 3L)
  }

  test("inCommitTimestamps: property-gated stamping, strictly monotonic, mid-table enablement") {
    def ictOf(path: String, v: Long): Option[Long] =
      logLines(path, v).find(_.has("commitInfo"))
        .flatMap(n => Option(n.get("commitInfo").get("inCommitTimestamp")))
        .map(_.asLong())
    // a table WITHOUT the property never carries the field
    val plain = tmp()
    PortableDelta.write(df(1L), plain)
    assert(ictOf(plain, 0).isEmpty, "ICT must be opt-in")
    // born-enabled table: every path stamps, strictly increasing even
    // for commits inside the same wall-clock millisecond
    val path = tmp()
    PortableDelta.write(df(1L, 2L), path,
      properties = Map(PortableDelta.IctProp -> "true"))
    PortableDelta.write(df(3L), path, mode = "append")
    PortableDelta.delete(spark, path, col("id") === 1L)
    val icts = (0L to 2L).map(v => ictOf(path, v).getOrElse(
      fail(s"version $v must carry inCommitTimestamp")))
    assert(icts == icts.sorted && icts.distinct.size == 3,
      s"ICTs must be strictly monotonic, got $icts")
    // monotonicity SURVIVES log truncation (predecessor time comes from
    // the history sidecar once the JSON is gone)
    PortableDelta.checkpoint(spark, path)
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    PortableDelta.write(df(4L), path, mode = "append")
    assert(ictOf(path, 3).exists(_ > icts.last),
      "post-truncation commit must stay above the sidecar-recorded times")
    // timestamp travel keys on the ICTs
    assert(PortableDelta.versionAtTimestamp(
      spark.sessionState.newHadoopConf(), path, icts(1)) == 1L)
    // mid-table enablement: one commit = protocol feature + provenance
    // properties + the first stamp; re-enabling is a no-op
    val mid = tmp()
    PortableDelta.write(df(1L), mid)
    PortableDelta.write(df(2L), mid, mode = "append")
    val ev = PortableDelta.enableInCommitTimestamps(spark, mid)
    assert(ev == 2)
    val snap = PortableDelta.snapshot(spark, mid)
    assert(snap.minWriterVersion == 7 &&
      snap.writerFeatures.contains("inCommitTimestamp"))
    assert(snap.configuration("delta.inCommitTimestampEnablementVersion") == "2")
    assert(ictOf(mid, 2).isDefined, "the enabling commit itself must stamp")
    assert(ictOf(mid, 1).isEmpty, "pre-enablement commits stay wall-clock")
    assert(PortableDelta.enableInCommitTimestamps(spark, mid) == 2, "idempotent")
    PortableDelta.write(df(3L), mid, mode = "append")
    assert(ictOf(mid, 3).exists(_ > ictOf(mid, 2).get))
    assert(PortableDelta.readTable(spark, mid).count() == 3)
  }

  test("checkpoint discovery: _last_checkpoint is a hint, not the source of truth") {
    // classic layout: pointer deleted after log truncation — the listing
    // must still find the checkpoint (a writer can crash between the
    // checkpoint parquet and the pointer update; the spec says readers
    // list). Also pins the pointer's optional hint fields.
    val path = tmp()
    PortableDelta.write(df(1L, 2L).coalesce(1), path, properties = Map("k" -> "v"))
    PortableDelta.write(df(3L).coalesce(1), path, mode = "append")
    val cv = PortableDelta.checkpoint(spark, path)
    val lc = new java.io.File(s"$path/_delta_log/_last_checkpoint")
    val lcNode = mapper.readTree(scala.io.Source.fromFile(lc).mkString)
    assert(lcNode.get("numOfAddFiles").asLong() == 2 &&
      lcNode.get("sizeInBytes").asLong() > 0,
      s"pointer must carry the spec hint fields: $lcNode")
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    assert(lc.delete())
    new java.io.File(s"$path/_delta_log/._last_checkpoint.crc").delete()
    // a stray INCOMPLETE multi-part checkpoint at an older version must
    // not be selected (shard 2-of-2 missing)
    val decoy = new java.io.File(
      f"$path/_delta_log/${0L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    java.nio.file.Files.write(decoy.toPath, Array[Byte](1, 2, 3))
    val snap = PortableDelta.snapshot(spark, path)
    assert(snap.version == cv && snap.configuration("k") == "v")
    assert(PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // time travel seeds from the discovered checkpoint too
    assert(PortableDelta.readTable(spark, path, cv).count() == 3)
    // appends on top keep working: version numbering continues from the
    // discovered checkpoint, and the next read includes the tail
    PortableDelta.write(df(9L), path, mode = "append")
    assert(PortableDelta.snapshot(spark, path).version == cv + 1)
    // v2 layout: UUID checkpoint discovered the same way
    val p2 = tmp()
    PortableDelta.write(df(5L, 6L).coalesce(1), p2)
    PortableDelta.checkpointV2(spark, p2)
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), p2)
    val lc2 = new java.io.File(s"$p2/_delta_log/_last_checkpoint")
    assert(lc2.delete())
    new java.io.File(s"$p2/_delta_log/._last_checkpoint.crc").delete()
    assert(PortableDelta.readTable(spark, p2)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L))
  }

  test("cleanupCheckpoints: superseded checkpoints and orphaned sidecars reclaimed") {
    val path = tmp()
    PortableDelta.write(df(1L, 2L).coalesce(1), path)
    PortableDelta.write(df(3L).coalesce(1), path, mode = "append")
    assert(PortableDelta.cleanupCheckpoints(spark, path) == 0, "no checkpoint yet")
    // classic checkpoint, then a v2 one at a later version: the classic
    // file is superseded
    PortableDelta.checkpoint(spark, path) // v1 classic
    PortableDelta.write(df(4L).coalesce(1), path, mode = "append")
    PortableDelta.checkpointV2(spark, path, addsPerSidecar = 2) // v3 (upgrade) v2-layout
    val logDir = new java.io.File(s"$path/_delta_log")
    def sidecarNames = Option(new java.io.File(logDir, "_sidecars").listFiles())
      .map(_.map(_.getName).filter(_.endsWith(".parquet")).toSet).getOrElse(Set.empty)
    val firstSidecars = sidecarNames
    assert(firstSidecars.size == 2)
    // another append + v2 checkpoint: the first v2 file and ITS sidecars
    // become garbage, the new checkpoint's sidecars must survive
    PortableDelta.write(df(5L).coalesce(1), path, mode = "append")
    PortableDelta.checkpointV2(spark, path, addsPerSidecar = 2) // v4
    val bothSidecars = sidecarNames
    assert(bothSidecars.size > firstSidecars.size, "old sidecars still on disk")
    val removed = PortableDelta.cleanupCheckpoints(spark, path)
    // classic v1 checkpoint + v3 UUID file + v3's two sidecars
    assert(removed == 4, s"expected 4 reclaimed files, got $removed")
    assert((firstSidecars intersect sidecarNames).isEmpty,
      "superseded sidecars must be gone")
    assert(sidecarNames.nonEmpty, "current checkpoint's sidecars must survive")
    val uuids = logDir.listFiles().map(_.getName)
      .filter(_.matches("\\d{20}\\.checkpoint\\.[0-9a-f-]{36}\\.parquet"))
    assert(uuids.length == 1 && uuids.head.startsWith("%020d".format(4L)),
      s"only the current UUID checkpoint may remain, got ${uuids.toSeq}")
    assert(!new java.io.File(logDir, "%020d.checkpoint.parquet".format(1L)).exists())
    // replay is intact through the GC'd log
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    assert(PortableDelta.readTable(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("timestampNtz: NTZ columns round-trip with the feature declared") {
    val path = tmp()
    val s = spark; import s.implicits._
    // TIMESTAMP WITHOUT TIME ZONE — protocol-gated: a feature-unaware
    // reader would misread the bytes as zoned timestamps
    val data = Seq((1L, "2021-06-01 08:30:00"), (2L, "2021-06-02 09:45:00"))
      .toDF("id", "s").withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    PortableDelta.write(data.coalesce(1), path)
    val proto = logLines(path, 0).filter(_.has("protocol")).map(_.get("protocol"))
    assert(proto.size == 1)
    assert(proto.head.get("minReaderVersion").asInt() == 3)
    assert(proto.head.get("readerFeatures").elements().asScala.map(_.asText())
      .contains("timestampNtz"))
    assert(proto.head.get("writerFeatures").elements().asScala.map(_.asText())
      .contains("timestampNtz"))
    val got = PortableDelta.readTable(spark, path)
    assert(got.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(got.select(col("ts").cast("string")).collect()
      .map(_.getString(0)).sorted.toSeq ==
      Seq("2021-06-01 08:30:00", "2021-06-02 09:45:00"))
    // appends keep working (feature already declared, no re-upgrade)
    PortableDelta.write(
      Seq((3L, "2021-06-03 10:00:00")).toDF("id", "s")
        .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s").coalesce(1),
      path, mode = "append")
    assert(logLines(path, 1).count(_.has("protocol")) == 0)
    assert(PortableDelta.readTable(spark, path).count() == 3L)
    // schema evolution ADDING an NTZ column to a plain table upgrades
    val plain = tmp()
    PortableDelta.write(Seq((1L, "a")).toDF("id", "tag").coalesce(1), plain)
    PortableDelta.write(
      Seq((2L, "b", "2022-01-01 00:00:00")).toDF("id", "tag", "s")
        .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s").coalesce(1),
      plain, mode = "append", mergeSchema = true)
    val snap = PortableDelta.snapshot(spark, plain)
    assert(snap.readerFeatures.contains("timestampNtz") &&
      snap.writerFeatures.contains("timestampNtz"),
      s"evolution introducing NTZ must declare the feature, got " +
        s"${snap.readerFeatures}/${snap.writerFeatures}")
    assert(PortableDelta.readTable(spark, plain).count() == 2L)
  }

  test("many-file DELETE writes the DV pack from executors, in shards") {
    val path = tmp()
    val s = spark; import s.implicits._
    // pin the shuffle partitioning (AQE would coalesce this toy input to
    // one partition — at real scale many partitions survive, and each
    // must write its OWN pack shard; no bitmap bytes transit the driver)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      PortableDelta.write(
        (0L until 1200L).map(i => (i, s"doc $i")).toDF("id", "body")
          .repartition(12), path)
      assert(PortableDelta.snapshot(spark, path).files.size == 12)
      val st = PortableDelta.delete(spark, path, col("id") % 2L === 0L)
      assert(st.deletedRows == 600 && st.dvFiles == 12 && st.removedFiles == 0,
        s"unexpected $st")
      val snap = PortableDelta.snapshot(spark, path)
      // every file carries a DV, and the pack was written in >1 shard —
      // the executor-parallel shape (one shard per shuffle partition)
      assert(snap.files.forall(_.dv.isDefined))
      val shardIds = snap.files.flatMap(_.dv).map(_.pathOrInlineDv).distinct
      assert(shardIds.size > 1,
        s"expected multiple pack shards, got ${shardIds.size}")
      val packsOnDisk = new java.io.File(path).listFiles()
        .count(_.getName.startsWith("deletion_vector_"))
      assert(packsOnDisk == shardIds.size,
        s"$packsOnDisk pack files vs ${shardIds.size} referenced shards")
      assert(PortableDelta.readTable(spark, path)
        .select(col("id")).collect().map(_.getLong(0)).toSet ==
        (0L until 1200L).filter(_ % 2 != 0).toSet)
      // a second delete unions across the sharded DVs
      val st2 = PortableDelta.delete(spark, path, col("id") < 100L)
      assert(st2.deletedRows == 50, s"unexpected $st2")
      assert(PortableDelta.readTable(spark, path)
        .select(col("id")).collect().map(_.getLong(0)).toSet ==
        (100L until 1200L).filter(_ % 2 != 0).toSet)
    } finally {
      prevCoalesce match {
        case Some(v) => spark.conf.set(coalesceKey, v)
        case None => spark.conf.unset(coalesceKey)
      }
    }
  }
}
