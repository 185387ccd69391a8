package graft.stac

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `vacuumLite`: reclaim from the LOG (remove tombstones in retained
  * JSONs + checkpoint-carried tombstones), never from a directory
  * listing — plus the checkpoint-writer side of the contract: unexpired
  * tombstones survive log truncation inside the checkpoint and carry
  * forward checkpoint-to-checkpoint until they expire. */
class VacuumLiteSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("pvacl").toString + "/tbl"

  private def mk(tag: String, n: Int) = {
    val s = spark; import s.implicits._
    (0L until 30L).map(i => (i, tag)).toDF("id", "tag").repartition(n)
  }

  private def parquetCount(path: String) = new java.io.File(path).listFiles()
    .count(f => f.isFile && f.getName.endsWith(".parquet"))

  test("lite reclaims log-remembered files; orphans stay (full vacuum's job)") {
    val path = tmp()
    PortableDelta.write(mk("v0", 3), path)                      // 3 files
    PortableDelta.write(mk("v1", 2), path, mode = "overwrite")  // +2 files
    assert(parquetCount(path) == 5)
    // v0 still reconstructable → its adds protect the tombstoned files
    assert(PortableDelta.vacuumLite(spark, path, graceMillis = 0L) == 0)
    val junk = new java.io.File(path, "junk-not-committed.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
    PortableDelta.checkpoint(spark, path)
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    // the tombstones now live ONLY in the checkpoint — lite still sees
    // them; the never-committed orphan is log-invisible by design
    val got = PortableDelta.vacuumLite(spark, path, graceMillis = 0L)
    assert(got == 3, s"3 dead v0 files, deleted $got")
    assert(junk.isFile, "lite must not touch files the log never saw")
    assert(parquetCount(path) == 3) // 2 live + 1 orphan
    assert(PortableDelta.readTable(spark, path)
      .select(col("tag")).distinct().collect().map(_.getString(0)).toSeq ==
      Seq("v1"))
    // the full listing vacuum sweeps the orphan
    assert(PortableDelta.vacuum(spark, path, graceMillis = 0L) == 1)
    // idempotent: nothing left for either shape
    assert(PortableDelta.vacuumLite(spark, path, graceMillis = 0L) == 0)
  }

  test("tombstones carry forward checkpoint-to-checkpoint until expiry") {
    val path = tmp()
    PortableDelta.write(mk("v0", 2), path)
    PortableDelta.write(mk("v1", 1), path, mode = "overwrite")
    PortableDelta.checkpoint(spark, path)                        // carries 2
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    PortableDelta.write(mk("v2", 1), path, mode = "append")
    PortableDelta.checkpoint(spark, path)                        // re-carries
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    // default grace (7 days) keeps everything: nothing reclaimed yet
    assert(PortableDelta.vacuumLite(spark, path) == 0)
    // grace 0: the second checkpoint's carried tombstones feed the reclaim
    val got = PortableDelta.vacuumLite(spark, path, graceMillis = 0L)
    assert(got == 2, s"the carried-forward tombstones must reclaim: $got")
    assert(PortableDelta.readTable(spark, path).count() == 60L)
    // expiry: a retention-0 table drops tombstones AT the checkpoint —
    // nothing carries, lite sees nothing (the documented trade)
    val p2 = tmp()
    PortableDelta.write(mk("a", 2), p2,
      properties = Map("delta.deletedFileRetentionDuration" ->
        "interval 0 hours"))
    PortableDelta.write(mk("b", 1), p2, mode = "overwrite")
    PortableDelta.checkpoint(spark, p2)
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), p2)
    assert(PortableDelta.vacuumLite(spark, p2, graceMillis = 0L) == 0,
      "expired-at-checkpoint tombstones are lite-invisible")
    assert(PortableDelta.vacuum(spark, p2, graceMillis = 0L) == 2,
      "the full listing vacuum still reclaims them")
  }

  test("RESTORE resurrection: a re-added path must never reclaim") {
    val path = tmp()
    PortableDelta.write(mk("v0", 2), path)                       // v0: 2 files
    val v0Files = PortableDelta.snapshot(spark, path).files.map(_.path).toSet
    PortableDelta.write(mk("v1", 1), path, mode = "overwrite")   // v1
    PortableDelta.restore(spark, path, 0L)                       // v2: re-adds v0
    PortableDelta.checkpoint(spark, path)
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    val got = PortableDelta.vacuumLite(spark, path, graceMillis = 0L)
    assert(got == 1, s"only the v1 file is dead, deleted $got")
    val live = PortableDelta.snapshot(spark, path).files.map(_.path).toSet
    assert(live == v0Files)
    assert(PortableDelta.readTable(spark, path)
      .select(col("tag")).distinct().collect().map(_.getString(0)).toSeq ==
      Seq("v0"))
    PortableDelta.validateChecksum(spark, path)
  }

  test("external checkpoint tombstones (minimal remove struct) carry forward") {
    val path = tmp()
    PortableDelta.write(mk("v0", 1), path)
    val cv = PortableDelta.checkpoint(spark, path)
    val logDir = s"$path/_delta_log"
    val ck = new java.io.File(s"$logDir/${"%020d".format(cv)}.checkpoint.parquet")
    val rows = spark.read.parquet(ck.getPath)
    // plant the dead bytes an external engine tombstoned: a real file on
    // disk that no live add references
    val live = PortableDelta.snapshot(spark, path).files.head.path
    val dead = "dead-external.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(path, live),
      java.nio.file.Paths.get(path, dead))
    // reshape to the MINIMAL external remove struct (older delta-rs: no
    // deletionVector, no size, no partitionValues) + one tombstone row
    val rT = "struct<path:string,deletionTimestamp:bigint,dataChange:boolean>"
    val reshaped = rows.drop("remove")
      .withColumn("remove", lit(null).cast(rT))
    val tombRow = reshaped.limit(1).select(
      reshaped.schema.fieldNames.map(n =>
        lit(null).cast(reshaped.schema(n).dataType).as(n)): _*)
      .withColumn("remove", struct(
        lit(dead).as("path"),
        lit(System.currentTimeMillis() - 1000L).as("deletionTimestamp"),
        lit(false).as("dataChange")).cast(rT))
    val stage = java.nio.file.Files.createTempDirectory("extck").toString + "/p"
    reshaped.unionByName(tombRow).coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
    assert(ck.delete() && part.renameTo(ck))
    // the java.nio replace leaves Hadoop LocalFS's CRC sidecar stale
    new java.io.File(logDir, s".${ck.getName}.crc").delete()
    // replay ignores checkpoint tombstones (they are never state)
    assert(PortableDelta.readTable(spark, path).count() == 30L)
    // our next checkpoint CARRIES the external tombstone forward
    PortableDelta.write(mk("v1", 1), path, mode = "append")
    PortableDelta.checkpoint(spark, path)
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    val ck2 = new java.io.File(logDir).listFiles()
      .filter(_.getName.endsWith(".checkpoint.parquet")).maxBy(_.getName)
    val carried = spark.read.parquet(ck2.getPath)
      .filter(col("remove").isNotNull)
      .select(col("remove.path")).collect().map(_.getString(0)).toSet
    assert(carried == Set(dead), s"carried: $carried")
    // and the log-based reclaim frees the dead bytes
    assert(PortableDelta.vacuumLite(spark, path, graceMillis = 0L) == 1)
    assert(!new java.io.File(path, dead).exists())
    assert(PortableDelta.readTable(spark, path).count() == 60L)
  }

  test("a deleted _last_checkpoint: both vacuums still see the checkpoint") {
    val path = tmp()
    PortableDelta.write(mk("v0", 3), path)                       // 3 files
    PortableDelta.write(mk("v1", 2), path, mode = "append")      // +2 files
    PortableDelta.write(mk("dead", 1), path, mode = "append")
    PortableDelta.delete(spark, path, col("tag") === "dead")     // tombstone
    PortableDelta.checkpoint(spark, path)
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    // a crash (or maintenance) lost the pointer; the checkpoint stays
    val logDir = s"$path/_delta_log"
    assert(new java.io.File(logDir, "_last_checkpoint").delete())
    new java.io.File(logDir, "._last_checkpoint.crc").delete()
    assert(!new java.io.File(logDir).listFiles()
      .exists(_.getName.matches("\\d{20}\\.json")), "cleanupLog left JSON")
    assert(PortableDelta.readTable(spark, path).count() == 60L)
    assert(parquetCount(path) == 6)
    // lite finds the tombstone the checkpoint carries
    assert(PortableDelta.vacuumLite(spark, path, graceMillis = 0L) == 1)
    // the full vacuum must protect every add the checkpoint holds
    assert(PortableDelta.vacuum(spark, path, graceMillis = 0L) == 0)
    assert(parquetCount(path) == 5)
    assert(PortableDelta.readTable(spark, path).count() == 60L)
  }

  test("DV packs reclaim with their files; live packs are protected") {
    val path = tmp()
    PortableDelta.write(mk("v0", 2), path)                       // v0
    PortableDelta.delete(spark, path, col("id") % 5L === 0L)     // v1: DVs
    val withDv = PortableDelta.snapshot(spark, path)
    assert(withDv.files.exists(_.dv.isDefined))
    def packCount = new java.io.File(path).listFiles()
      .count(_.getName.startsWith("deletion_vector_"))
    assert(packCount >= 1)
    // live DV packs are referenced: nothing reclaims
    assert(PortableDelta.vacuumLite(spark, path, graceMillis = 0L) == 0)
    PortableDelta.write(mk("v2", 1), path, mode = "overwrite")   // tombstones DV files
    PortableDelta.checkpoint(spark, path)
    PortableDelta.cleanupLog(spark.sessionState.newHadoopConf(), path)
    val got = PortableDelta.vacuumLite(spark, path, graceMillis = 0L)
    assert(got >= 3, s"2 data files + their pack(s) must reclaim, got $got")
    assert(packCount == 0, "no dead DV pack may remain")
    assert(PortableDelta.readTable(spark, path).count() == 30L)
  }
}
