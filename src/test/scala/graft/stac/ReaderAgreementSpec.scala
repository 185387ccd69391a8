package graft.stac

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every reader of a portable-delta table answers from the same log
  * state, whatever shape the log has: a young JSON-only log, a classic
  * checkpoint whose tail removes and re-adds checkpointed paths, a
  * multi-part checkpoint, a v2 checkpoint with sidecars, and a
  * checkpoint whose `_last_checkpoint` pointer is gone. Each shape is
  * one table-driven row; each reader must reproduce the modelled ids,
  * the engine-less JSON replay must match wherever the JSON log still
  * starts at version 0, and the format route's writers and the clone
  * target check must see the table as existing. */
class ReaderAgreementSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("preaders").toString + "/tbl"

  private def rows(lo: Long, hi: Long, parts: Int): DataFrame = {
    val s = spark; import s.implicits._
    (lo until hi).map(i => (i, s"t$i")).toDF("id", "tag").repartition(parts)
  }

  /** ids 0..49 in 5 files, ids 10..14 deleted (a DV rewrite of a
    * checkpointed file), ids 50..59 appended: the common history every
    * shape ends with. `afterBase` runs once the first two commits are
    * in (where the shapes checkpoint). */
  private def build(path: String)(afterBase: String => Unit): Unit = {
    PortableDelta.write(rows(0L, 30L, 3), path)
    PortableDelta.write(rows(30L, 50L, 2), path, mode = "append")
    afterBase(path)
    PortableDelta.delete(spark, path, col("id").between(10L, 14L))
    PortableDelta.write(rows(50L, 60L, 1), path, mode = "append")
  }

  private val expectedIds: Seq[Long] =
    ((0L until 10L) ++ (15L until 60L)).toSeq

  private def dropPointer(path: String): Unit = {
    val lc = new java.io.File(s"$path/_delta_log/_last_checkpoint")
    assert(lc.delete(), "the pointer must exist before it is dropped")
    new java.io.File(s"$path/_delta_log/._last_checkpoint.crc").delete()
  }

  private val shapes: Seq[(String, String => Unit)] = Seq(
    "young JSON-only log" -> (p => build(p)(_ => ())),
    "classic checkpoint; tail removes and re-adds checkpointed paths" -> { p =>
      build(p)(q => PortableDelta.checkpoint(spark, q))
      // overwrite tombstones every checkpointed file, restore re-adds
      // the same paths: the tail touches them twice
      val beforeOverwrite = PortableDelta.currentVersion(spark, p)
      PortableDelta.write(rows(100L, 101L, 1), p, mode = "overwrite")
      PortableDelta.restore(spark, p, beforeOverwrite)
    },
    "multi-part checkpoint" -> (p =>
      build(p)(q => PortableDelta.checkpoint(spark, q, addsPerPart = 1))),
    "v2 checkpoint with sidecars" -> (p =>
      build(p)(q => PortableDelta.checkpointV2(spark, q, addsPerSidecar = 1))),
    "checkpoint whose _last_checkpoint was deleted" -> { p =>
      build(p)(_ => ())
      PortableDelta.checkpoint(spark, p)
      PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), p)
      dropPointer(p)
    })

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).toSeq.sorted

  shapes.foreach { case (shape, make) =>
    test(s"all readers agree: $shape") {
      val path = tmp()
      make(path)
      val snap = PortableDelta.snapshot(spark, path)
      val paths = snap.files.map(_.path)
      assert(paths.distinct.size == paths.size, s"duplicate live paths: $paths")

      assert(ids(PortableDelta.readTable(spark, path)) == expectedIds, "readTable")
      assert(ids(PortableDelta.readTableWhere(spark, path, col("id") >= 0L)) ==
        expectedIds, "readTableWhere")
      assert(ids(PortableDelta.readTableWhere(spark, path, col("id") < 20L)) ==
        expectedIds.filter(_ < 20L), "readTableWhere, pruning")
      assert(ids(spark.read.format("portable-delta").load(path)) == expectedIds,
        "portable-delta format route")
      assert(PortableDelta.aggregateFromStats(spark, path).head.getLong(0) ==
        expectedIds.size.toLong, "aggregateFromStats count")

      val small = PortableDelta.smallSnapshot(spark, path)
      assert(small.files.isEmpty)
      assert(small.version == snap.version && small.schema == snap.schema &&
        small.configuration == snap.configuration &&
        small.minReaderVersion == snap.minReaderVersion &&
        small.readerFeatures == snap.readerFeatures, "smallSnapshot")

      val at = PortableDelta.snapshotAt(spark, path, snap.version)
      assert(at.files.toSet == snap.files.toSet, "snapshotAt(current) files")
      assert(at.copy(files = Nil) == snap.copy(files = Nil),
        "snapshotAt(current) small state")

      val conf = spark.sessionState.newHadoopConf()
      if (new java.io.File(f"$path/_delta_log/${0L}%020d.json").exists) {
        val json = PortableDelta.snapshot(conf, path)
        assert(json.files.toSet == snap.files.toSet, "snapshot(conf) files")
        assert(json.copy(files = Nil) == snap.copy(files = Nil),
          "snapshot(conf) small state")
      } else {
        val e = intercept[IllegalArgumentException](PortableDelta.snapshot(conf, path))
        assert(e.getMessage.contains("checkpoint-truncated"), e.getMessage)
      }

      rows(60L, 61L, 1).write.format("portable-delta").mode("append").save(path)
      rows(61L, 62L, 1).write.format("portable-delta").mode("ignore").save(path)
      assert(ids(PortableDelta.readTable(spark, path)) == expectedIds :+ 60L,
        "format-route append, then ignore")

      val e = intercept[IllegalArgumentException](
        PortableDelta.cloneShallow(spark, path, path))
      assert(e.getMessage.contains("already holds a Delta table"), e.getMessage)
    }
  }

  test("an append on a checkpointed log reads no checkpointed file list") {
    val s = spark; import s.implicits._
    val path = tmp()
    PortableDelta.write(rows(0L, 10L, 1), path)
    PortableDelta.write(rows(10L, 20L, 1), path, mode = "append")
    PortableDelta.write(rows(20L, 30L, 1), path, mode = "append")
    PortableDelta.checkpoint(spark, path)
    val batch = Seq((30L, "t30")).toDF("id", "tag")
    val (_, jobs) = SparkSpec.jobsDuring(
      PortableDelta.write(batch, path, mode = "append"))
    // 2 jobs seed the small state from the checkpoint, 2 write the data
    // and collect its stats; the checkpoint's add rows are never collected
    assert(jobs == 4)
    assert(ids(PortableDelta.readTable(spark, path)) == (0L to 30L))
  }
}
