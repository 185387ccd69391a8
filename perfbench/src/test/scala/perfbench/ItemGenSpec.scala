package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ItemGenSpec extends AnyFunSuite {
  private def ndjson(seed: Long, n: Int): Array[Byte] = {
    val f = new java.io.File(BenchSession.tempDir("gen"), "items.ndjson")
    val g = new ItemGen(BenchSession.templates, seed)
    ItemGen.writeNdjson((0 until n).map(i => g.item(i.toLong)), f)
    java.nio.file.Files.readAllBytes(f.toPath)
  }

  test("the same seed gives byte-identical ndjson") {
    assert(java.util.Arrays.equals(ndjson(7L, 60), ndjson(7L, 60)))
  }

  test("a different seed gives different ndjson") {
    assert(!java.util.Arrays.equals(ndjson(7L, 60), ndjson(8L, 60)))
  }

  test("items keep the fixtures' sizes, assets and collections") {
    val g = new ItemGen(BenchSession.templates, 3L)
    val items = (0 until 26).map(i => g.item(i.toLong))
    assert(items.map(_.model.collection).distinct.size == BenchSession.templates.size)
    assert(items.map(_.model.id).distinct.size == items.size)
    val sizes = items.map(_.json.length)
    assert(sizes.min > 2000 && sizes.max < 26000, s"item sizes ${sizes.min}..${sizes.max}")
    val assets = items.map(i => ItemGen.mapper.readTree(i.json).get("assets").size())
    assert(assets.min >= 1 && assets.max >= 20)
  }

  test("every item parses through StacJsonReader and normalizes with mixed collections") {
    val spark = BenchSession.spark
    val g = new ItemGen(BenchSession.templates, 11L)
    val items = (0 until 40).map(i => g.item(i.toLong))
    val f = new java.io.File(BenchSession.tempDir("gen"), "items.ndjson")
    ItemGen.writeNdjson(items, f)
    val json = graft.stac.StacJsonReader.read(spark, Seq(f.getPath))
    val ids = json.select("id").collect().map(_.getString(0)).toSet
    assert(ids == items.map(_.model.id).toSet)
    val norm = graft.stac.Normalize(json)
    val byId = norm.selectExpr("id", "bbox.xmin", "`eo:cloud_cover`").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), Option(r.get(2)))).toMap
    items.foreach { it =>
      val (xmin, cloud) = byId(it.model.id)
      assert(xmin == it.model.xmin)
      assert(cloud.map(_.asInstanceOf[Double]) == it.model.cloudCover)
    }
  }
}
