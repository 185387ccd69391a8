package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, DoubleNode, ObjectNode}

import scala.jdk.CollectionConverters._

/** What the benchmark knows about one generated item: enough to answer a
  * search or a table read by brute force, without asking the engine. */
final case class ItemModel(id: String, collection: String, datetimeMicros: Long,
                           cloudCover: Option[Double],
                           xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                           jsonBytes: Int) {
  def intersects(b: Bbox): Boolean =
    xmin <= b.xmax && xmax >= b.xmin && ymin <= b.ymax && ymax >= b.ymin
}

final case class Bbox(xmin: Double, ymin: Double, xmax: Double, ymax: Double)

final case class GenItem(json: String, model: ItemModel)

/** Seeded STAC item generator. Each item is a copy of one of the real
  * collection fixtures (`src/test/resources/data/<collection>.json`) with a
  * new id, footprint, datetime and property values. Assets, links and the
  * set of property names stay the template's, so the items keep each
  * collection's schema and size (2.5–24 KB, 1–25 assets).
  *
  * Footprints are rebuilt rather than shifted: some templates span the
  * antimeridian or the whole globe. The rebuilt footprint keeps the
  * template's geometry type (Polygon or MultiPolygon) and the bbox is
  * recomputed from it as a 2D box, so collections with 3D boxes mix with
  * the rest. A tenth of the items fall near New York City, which is what
  * the selective searches look for.
  */
final class ItemGen(templates: IndexedSeq[ObjectNode], seed: Long) {
  private val mapper = ItemGen.mapper
  private val rnd = new java.util.Random(seed)
  private val tag = java.lang.Long.toHexString(seed & 0xffffffL)

  /** Item `i` of this generator's stream, with a fresh random draw. The
    * sequence of calls fixes the output: same seed, same calls, same bytes.
    * Items take the templates in turn, so every seed gives the same mix of
    * collections and a batch of `templates.size` items holds them all. */
  def item(i: Long): GenItem = withId(s"${tag}-$i", templates((i % templates.size).toInt))

  /** A new version of an existing item: same id and collection, new
    * footprint, datetime and property values (a MERGE upsert source). */
  def revise(m: ItemModel): GenItem =
    withId(m.id, templates.find(_.get("collection").asText() == m.collection).get)

  private def withId(id0: String, template: ObjectNode): GenItem = {
    val item = template.deepCopy()
    val collection = item.get("collection").asText()
    val id = if (id0.startsWith(collection)) id0 else s"$collection-$id0"
    item.put("id", id)

    val (cx, cy) =
      if (rnd.nextInt(10) == 0) (-74.5 + rnd.nextDouble() * 1.5, 40.0 + rnd.nextDouble() * 1.5)
      else (-170.0 + rnd.nextDouble() * 340.0, -70.0 + rnd.nextDouble() * 140.0)
    val size = 0.05 + rnd.nextDouble() * 1.5
    val multi = item.get("geometry").get("type").asText() == "MultiPolygon"
    val rings =
      if (multi) Seq(ring(cx - size / 2, cy, size / 2), ring(cx + size / 2, cy, size / 2))
      else Seq(ring(cx, cy, size))
    val geom = mapper.createObjectNode()
    geom.put("type", if (multi) "MultiPolygon" else "Polygon")
    val coords = geom.putArray("coordinates")
    def putRing(into: ArrayNode, r: Seq[(Double, Double)]): Unit = {
      val ringNode = into.addArray()
      r.foreach { case (x, y) => val p = ringNode.addArray(); p.add(x); p.add(y) }
    }
    if (multi) rings.foreach(r => putRing(coords.addArray(), r))
    else putRing(coords, rings.head)
    item.set[JsonNode]("geometry", geom)
    val pts = rings.flatten
    val box = Bbox(pts.map(_._1).min, pts.map(_._2).min, pts.map(_._1).max, pts.map(_._2).max)
    val bboxNode = item.putArray("bbox")
    Seq(box.xmin, box.ymin, box.xmax, box.ymax).foreach(v => bboxNode.add(v))

    // 2023-01-01 .. 2025-01-01, microsecond precision
    val micros = ItemGen.Epoch2023Micros + (rnd.nextDouble() * ItemGen.TwoYearsMicros).toLong
    val props = item.get("properties").asInstanceOf[ObjectNode]
    props.put("datetime", ItemGen.formatMicros(micros))
    val names = props.fieldNames().asScala.toList
    names.foreach { k =>
      val v = props.get(k)
      if (k == "eo:cloud_cover") props.put(k, round(rnd.nextDouble() * 100.0, 4))
      else if (v.isDouble) props.set[JsonNode](k, DoubleNode.valueOf(round(v.asDouble() * (0.8 + 0.4 * rnd.nextDouble()), 6)))
    }
    val cloud = Option(props.get("eo:cloud_cover")).filter(_.isNumber).map(_.asDouble())
    val json = mapper.writeValueAsString(item)
    GenItem(json, ItemModel(id, collection, micros, cloud, box.xmin, box.ymin, box.xmax, box.ymax,
      json.getBytes("UTF-8").length))
  }

  /** A closed ring of 5–9 vertices on an ellipse around (cx, cy);
    * coordinates rounded to 7 decimals so JSON text round-trips exactly. */
  private def ring(cx: Double, cy: Double, r: Double): Seq[(Double, Double)] = {
    val n = 5 + rnd.nextInt(5)
    val rot = rnd.nextDouble() * math.Pi
    val pts = (0 until n).map { k =>
      val a = rot + 2 * math.Pi * k / n
      (round(cx + r * math.cos(a), 7), round(cy + 0.7 * r * math.sin(a), 7))
    }
    pts :+ pts.head
  }

  private def round(v: Double, digits: Int): Double =
    BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_EVEN).toDouble
}

object ItemGen {
  val mapper = new ObjectMapper()
  val Epoch2023Micros: Long = 1672531200L * 1000000L
  val TwoYearsMicros: Long = 731L * 86400L * 1000000L

  /** The 13 item fixtures: every `*.json` under `dir` holding a JSON array
    * of items (the collection document is skipped), one template each. */
  def templates(dir: java.io.File): IndexedSeq[ObjectNode] = {
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
    val ts = files.toIndexedSeq.flatMap { f =>
      val n = mapper.readTree(f)
      if (n.isArray && n.size() > 0) Some(n.get(0).asInstanceOf[ObjectNode]) else None
    }
    require(ts.nonEmpty, s"no STAC item fixtures under $dir")
    ts
  }

  def formatMicros(micros: Long): String = {
    val i = java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L)
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(i)
  }

  /** Write items as ndjson; returns the file's size in bytes. */
  def writeNdjson(items: Seq[GenItem], file: java.io.File): Long = {
    file.getParentFile.mkdirs()
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(file), java.nio.charset.StandardCharsets.UTF_8))
    try items.foreach { it => w.write(it.json); w.write('\n') } finally w.close()
    file.length()
  }
}
