package graft.stac

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The executable analog of the reference's Delta Lake round trip
  * (`tests/test_delta_lake.py:38-54`, which drives 10 real collections
  * through write_deltalake and back): every golden collection flows
  * items JSON → Normalize → [[PortableDelta.writeStac]] → readTable →
  * Denormalize → fuzzy JSON equality — real STAC schemas (per-asset
  * structs, 3-D bboxes, literal-dot property names, binary geometry /
  * proj:geometry) through the PORTABLE log. Any schema the portable
  * writer cannot carry fails here by collection name. */
class DeltaRoundTripSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private lazy val spark = SparkSpec.spark

  private val collections = Seq(
    "3dep-lidar-copc-pc", "3dep-lidar-dsm-pc", "cop-dem-glo-30-pc",
    "io-lulc-annual-v02-pc", "io-lulc-pc", "landsat-c2-l1-pc",
    "landsat-c2-l2-pc", "naip-pc", "planet-nicfi-analytic-pc",
    "sentinel-1-rtc-pc", "sentinel-2-l2a-pc", "umbra-sar", "us-census-pc")

  private def origItems(name: String): Map[String, JsonNode] = {
    val arr = mapper.readTree(new java.io.File(SparkSpec.resource(s"/data/$name.json")))
    (0 until arr.size()).map(i => arr.get(i).get("id").asText() -> arr.get(i)).toMap
  }

  private def roundTripDelta(name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("stacdelta").toString
    val path = s"$tmp/$name"
    val norm = Normalize(StacJsonReader.read(
      spark, Seq(SparkSpec.resource(s"/data/$name.json"))))
    PortableDelta.writeStac(norm, path)
    val back = Denormalize.toItemJson(PortableDelta.readTable(spark, path)).collect()
    val orig = origItems(name)
    assert(back.length == orig.size,
      s"$name: row count ${back.length} != ${orig.size}")
    back.foreach { itemJson =>
      val node = mapper.readTree(itemJson)
      val id = node.get("id").asText()
      JsonEquals.assertEqual(orig(id), node)
    }
  }

  collections.foreach { name =>
    test(s"items → normalize → PortableDelta → denormalize → items: $name") {
      roundTripDelta(name)
    }
  }

  test("the Delta table carries geo metadata as properties AND in part footers") {
    val tmp = java.nio.file.Files.createTempDirectory("stacdelta").toString
    val path = s"$tmp/naip"
    val norm = Normalize(StacJsonReader.read(
      spark, Seq(SparkSpec.resource("/data/naip-pc.json"))))
    PortableDelta.writeStac(norm, path)
    // table properties: what write_deltalake persists from schema.metadata
    val cfg = PortableDelta.snapshot(spark, path).configuration
    assert(cfg.contains("geo") && cfg.contains("stac-geoparquet"))
    val geo = mapper.readTree(cfg("geo"))
    assert(geo.get("primary_column").asText() == "geometry")
    assert(geo.get("columns").get("geometry").get("encoding").asText() == "WKB")
    // part files remain standalone GeoParquet (footer KV born-with)
    val part = new java.io.File(path).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    val kv = GeoParquetWriter.readFooterMetadata(
      new org.apache.hadoop.conf.Configuration(), part.getAbsolutePath)
    assert(kv.contains("geo") && kv.contains("stac-geoparquet"))
  }
}
