package graft.stac

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exercises every method of the Stac façade (the reference's public API
  * mapped 1:1) over a real fixture. */
class StacApiSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val mapper = new ObjectMapper()

  private def fixture = SparkSpec.resource("/data/naip-pc.json")

  private def fixtureItems: Seq[String] = {
    val root = mapper.readTree(new java.io.File(fixture))
    (0 until root.size()).map(i => mapper.writeValueAsString(root.get(i)))
  }

  test("parseStacItemsToArrow on in-memory items equals parseStacNdjsonToArrow on the file") {
    val fromItems = Stac.parseStacItemsToArrow(spark, fixtureItems)
    val fromFile = Stac.parseStacNdjsonToArrow(spark, Seq(fixture))
    assert(fromItems.count() == fromFile.count())
    assert(fromItems.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      fromFile.select("id").collect().map(_.getString(0)).sorted.toSeq)
  }

  test("parseStacItemsToParquet → stacTableToItems round trip") {
    val tmp = java.nio.file.Files.createTempDirectory("api").toString
    Stac.parseStacItemsToParquet(spark, fixtureItems, s"$tmp/pq")
    val kv = GeoParquetWriter.readFooterMetadata(
      new org.apache.hadoop.conf.Configuration(),
      new java.io.File(s"$tmp/pq").listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.getAbsolutePath)
    assert(kv.contains("geo"))
    val back = Stac.stacTableToItems(spark.read.parquet(s"$tmp/pq")).toSeq
    assert(back.size == fixtureItems.size)
    val ids = back.map(j => mapper.readTree(j).get("id").asText()).sorted
    assert(ids == fixtureItems.map(j => mapper.readTree(j).get("id").asText()).sorted)
  }

  test("stacTableToNdjson writes one JSON object per line") {
    val tmp = java.nio.file.Files.createTempDirectory("apinl").toString
    val df = Stac.parseStacNdjsonToArrow(spark, Seq(fixture))
    Stac.stacTableToNdjson(df, s"$tmp/nd")
    val lines = spark.read.text(s"$tmp/nd").collect().map(_.getString(0))
    assert(lines.length == df.count())
    lines.foreach(l => assert(mapper.readTree(l).get("type").asText() == "Feature"))
  }

  test("toGeoDataFrame addSelfLink surfaces the F4 self href") {
    val withLink =
      """{"id":"x","geometry":{"type":"Point","coordinates":[0.0,0.0]},
        |"links":[{"rel":"root","href":"https://r/"},
        |         {"rel":"self","type":"application/json","href":"https://r/items/x"}],
        |"assets":{},"properties":{"datetime":"2024-01-01T00:00:00Z"}}""".stripMargin.replace("\n", "")
    val df = Stac.toGeoDataFrame(spark, Seq(withLink), addSelfLink = true)
    assert(df.select("self_link").head().getString(0) == "https://r/items/x")
  }

  test("delta sink without the jar writes the portable log end to end (K3)") {
    val out = java.nio.file.Files.createTempDirectory("api_delta").toString + "/t"
    Stac.parseStacNdjsonToDeltaLake(spark, Seq(fixture), out)
    val snap = PortableDelta.snapshot(spark.sessionState.newHadoopConf(), out)
    assert(snap.configuration.contains("geo") &&
      snap.configuration.contains("stac-geoparquet"))
    assert(PortableDelta.readTable(spark, out).count() > 0)
  }

  test("constants mirror the reference") {
    assert(Stac.DefaultJsonChunkSize == 65536)
    assert(Stac.SupportedParquetSchemaVersions == Seq("1.0.0", "1.1.0"))
  }

  test("addSelfLink tolerates links without a type field and items without links") {
    val noType =
      """{"id":"nt","geometry":{"type":"Point","coordinates":[0.0,0.0]},
        |"links":[{"rel":"self","href":"https://r/items/nt"}],
        |"assets":{},"properties":{"datetime":"2024-01-01T00:00:00Z"}}""".stripMargin.replace("\n", "")
    val df1 = Stac.toGeoDataFrame(spark, Seq(noType), addSelfLink = true)
    assert(df1.select("self_link").head().getString(0) == "https://r/items/nt")
    val noLinks =
      """{"id":"nl","geometry":{"type":"Point","coordinates":[0.0,0.0]},
        |"assets":{},"properties":{"datetime":"2024-01-01T00:00:00Z"}}""".stripMargin.replace("\n", "")
    val df2 = Stac.toGeoDataFrame(spark, Seq(noLinks), addSelfLink = true)
    assert(df2.select("self_link").head().isNullAt(0))
  }

  test("directory and glob inputs work like any other Spark read") {
    val dir = java.nio.file.Files.createTempDirectory("stacdir")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixture), dir.resolve("naip.json"))
    val fromDir = Stac.parseStacNdjsonToArrow(spark, Seq(dir.toString))
    val fromGlob = Stac.parseStacNdjsonToArrow(spark, Seq(s"$dir/*.json"))
    assert(fromDir.count() == 4 && fromGlob.count() == 4)
  }

  test("ndjson output keeps UTC wall clock in a non-UTC session") {
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    val item =
      """{"id":"tz","geometry":{"type":"Point","coordinates":[0.0,0.0]},
        |"assets":{},"properties":{"datetime":"2020-06-01T12:30:00Z"}}""".stripMargin.replace("\n", "")
    val df = Stac.parseStacItemsToArrow(ny, Seq(item))
    val out = mapper.readTree(Stac.stacTableToItems(df).next())
    assert(out.get("properties").get("datetime").asText() == "2020-06-01T12:30:00.000000Z")
  }
}
