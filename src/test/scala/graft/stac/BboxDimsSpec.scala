package graft.stac

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The bbox width rides the JSON-shape schema: the reader learns it while
  * decoding the items, so Normalize shapes the bbox struct with no job of
  * its own, and a row whose width disagrees fails the action rather than
  * being written truncated. */
class BboxDimsSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def item(id: String, bbox: Seq[Double]): String = {
    val coords = bbox.take(bbox.size / 2).mkString(",")
    s"""{"type":"Feature","id":"$id","geometry":{"type":"Point","coordinates":[$coords]},""" +
      s""""bbox":[${bbox.mkString(",")}],"links":[],"assets":{},""" +
      """"properties":{"datetime":"2024-01-01T00:00:00Z","gsd":10}}"""
  }
  private val flat = (1 to 5).map(i => item(s"a$i", Seq(i, i + 0.5, i + 1.0, i + 1.5)))
  private val tall = item("z", Seq(0.0, 0.0, 1.0, 0.5, 0.5, 2.0))

  private def writeNdjson(lines: Seq[String]): String = {
    val f = java.nio.file.Files.createTempFile("bbox-dims", ".ndjson")
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  private def partFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))

  test("a uniform 2-D read normalizes with no job, as if bboxDims = Some(4) were passed") {
    val json = StacJsonReader.read(spark, Seq(writeNdjson(flat)))
    assert(StacJsonReader.bboxDims(json.schema).contains(4))
    val (norm, jobs) = SparkSpec.jobsDuring(Normalize(json))
    assert(jobs == 0)
    val given = Normalize(json, bboxDims = Some(4))
    assert(norm.schema == given.schema)
    assert(norm.orderBy("id").collect().toSeq == given.orderBy("id").collect().toSeq)
    assert(norm.count() == flat.size)
  }

  test("the 3-D copc fixture gets the 6-field struct with no job") {
    val json = StacJsonReader.read(spark,
      Seq(SparkSpec.resource("/data/3dep-lidar-copc-pc.json")))
    val (norm, jobs) = SparkSpec.jobsDuring(Normalize(json))
    assert(jobs == 0)
    val bbox = norm.schema("bbox").dataType.asInstanceOf[StructType]
    assert(bbox.fieldNames.toSeq == Seq("xmin", "ymin", "zmin", "xmax", "ymax", "zmax"))
    assert(norm.filter("bbox.zmax IS NULL").count() == 0)
  }

  test("mixed 2-D/3-D under InferFull still throws eagerly") {
    val json = StacJsonReader.read(spark, Seq(writeNdjson(flat :+ tall)))
    assert(StacJsonReader.bboxDims(json.schema).isEmpty)
    val e = intercept[IllegalArgumentException](Normalize(json))
    assert(e.getMessage.contains("Mixed 2d-3d"))
  }

  test("a 3-D item after an InferSample(1) prefix fails the write, nothing truncated lands") {
    val json = StacJsonReader.read(spark, Seq(writeNdjson(flat :+ tall)),
      StacJsonReader.InferSample(1))
    assert(StacJsonReader.bboxDims(json.schema).contains(4))
    val out = java.nio.file.Files.createTempDirectory("bbox-dims-out").toString + "/items"
    val e = intercept[Exception](GeoParquetWriter.write(Normalize(json), out))
    assert(causes(e).contains("Mixed 2d-3d"), causes(e))
    assert(partFiles(out).isEmpty)
  }

  test("an Explicit schema that records 4 fails the action on a 6-value item") {
    val schema = StacJsonReader.read(spark, Seq(writeNdjson(flat))).schema
    assert(StacJsonReader.bboxDims(schema).contains(4))
    val json = StacJsonReader.read(spark, Seq(writeNdjson(Seq(flat.head, tall))),
      StacJsonReader.Explicit(schema))
    val (norm, jobs) = SparkSpec.jobsDuring(Normalize(json))
    assert(jobs == 0)
    val e = intercept[Exception](norm.collect())
    assert(causes(e).contains("6 bbox values where the read recorded 4"), causes(e))
  }
}
