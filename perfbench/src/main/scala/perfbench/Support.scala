package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

object Stats {
  /** Harrell–Davis estimate of the `q` quantile: a Beta-weighted mean of
    * all order statistics. On the few dozen operations of one run it is
    * much steadier than any single order statistic. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val n = s.size
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    // Beta(a, b) mass of each interval [(i-1)/n, i/n], by the midpoint rule
    val steps = 200
    val w = (0 until n).map { i =>
      (0 until steps).map { k =>
        val x = (i + (k + 0.5) / steps) / n
        math.exp((a - 1) * math.log(x) + (b - 1) * math.log(1 - x))
      }.sum
    }
    s.zip(w).map { case (v, wi) => v * wi }.sum / w.sum
  }
  /** The middle value (mean of the middle two): for the set-up times,
    * where the first set-up runs in a cold JVM and must not weigh in. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** One STAC API search: a bbox, a closed datetime interval and a cql2-text
  * property filter, sorted by datetime descending, one page of items. */
final case class Search(bbox: Bbox, fromMicros: Long, toMicros: Long,
                        cloudMax: Double, collections: Seq[String], wide: Boolean) {
  def cql2Text: String =
    s"datetime >= TIMESTAMP('${ItemGen.formatMicros(fromMicros)}') AND " +
      s"datetime <= TIMESTAMP('${ItemGen.formatMicros(toMicros)}') AND " +
      s"eo:cloud_cover < $cloudMax AND " +
      collections.map(c => s"'$c'").mkString("collection IN (", ", ", ")")

  def bboxColumn: Column =
    graft.plans.BboxFunctions.bboxIntersects(col("bbox"), bbox.xmin, bbox.ymin, bbox.xmax, bbox.ymax)

  /** The ids of the page the engine must return, by brute force. */
  def expected(items: Iterable[ItemModel]): Seq[String] =
    items.iterator.filter(m => m.intersects(bbox) && m.datetimeMicros >= fromMicros &&
      m.datetimeMicros <= toMicros && m.cloudCover.exists(_ < cloudMax) &&
      collections.contains(m.collection))
      .toSeq.sortBy(m => (-m.datetimeMicros, m.id)).take(Search.PageSize).map(_.id)
}

object Search {
  val PageSize = 10
  val CloudCollections = Seq("landsat-c2-l1", "landsat-c2-l2", "sentinel-2-l2a")

  /** A selective search (a 1.5° box around New York City, one month,
    * cloud cover under 20, one collection) or a wide one (a continent-sized
    * box, half a year, cloud cover under 60, all three optical
    * collections), its parameters drawn from `rnd`. */
  def next(rnd: java.util.Random, wide: Boolean): Search = {
    val month = 30L * 86400L * 1000000L
    if (!wide) {
      val x = -74.5 + rnd.nextDouble() * 0.5
      val y = 40.0 + rnd.nextDouble() * 0.5
      val t0 = ItemGen.Epoch2023Micros + (rnd.nextDouble() * (ItemGen.TwoYearsMicros - month)).toLong
      Search(Bbox(x, y, x + 1.5, y + 1.5), t0, t0 + month, 20.0,
        Seq(CloudCollections(rnd.nextInt(CloudCollections.size))), wide = false)
    } else {
      val x = -170.0 + rnd.nextDouble() * 260.0
      val y = -60.0 + rnd.nextDouble() * 80.0
      val t0 = ItemGen.Epoch2023Micros + (rnd.nextDouble() * (ItemGen.TwoYearsMicros - 6 * month)).toLong
      Search(Bbox(x, y, x + 80.0, y + 50.0), t0, t0 + 6 * month, 60.0, CloudCollections, wide = true)
    }
  }

  /** The first page of a filtered table: newest first, ties by id. */
  def firstPage(df: DataFrame): DataFrame =
    df.orderBy(col("datetime").desc, col("id")).limit(PageSize)
}

/** Fuzzy JSON equality with the rules of the reference's test oracle:
  * a missing key equals null, numbers compare by value, and strings that
  * parse as RFC 3339 instants compare as instants. */
object JsonEq {
  def diff(e: JsonNode, a: JsonNode, path: String = "$"): Option[String] = {
    val en = e == null || e.isNull
    val an = a == null || a.isNull
    if (en && an) None
    else if (en != an) Some(s"$path: $e != $a")
    else if (e.isObject && a.isObject)
      (e.fieldNames().asScala ++ a.fieldNames().asScala).toSeq.distinct.iterator
        .flatMap(k => diff(e.get(k), a.get(k), s"$path.$k")).nextOption()
    else if (e.isArray && a.isArray)
      if (e.size() != a.size()) Some(s"$path: size ${e.size()} != ${a.size()}")
      else (0 until e.size()).iterator.flatMap(i => diff(e.get(i), a.get(i), s"$path[$i]")).nextOption()
    else if (e.isNumber && a.isNumber)
      if (e.asDouble() == a.asDouble()) None else Some(s"$path: $e != $a")
    else if (e.isTextual && a.isTextual)
      if (e.asText() == a.asText() || (instant(e.asText()).isDefined &&
        instant(e.asText()) == instant(a.asText()))) None
      else Some(s"$path: $e != $a")
    else if (e == a) None
    else Some(s"$path: $e != $a")
  }

  private def instant(s: String): Option[java.time.Instant] = {
    val t = if (s.length > 10 && s.charAt(10) == ' ') s.updated(10, 'T') else s
    try Some(java.time.OffsetDateTime.parse(t).toInstant)
    catch { case _: Exception => None }
  }
}

object Files {
  /** Every regular file under `dir`, with its size. */
  def sizes(dir: java.io.File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else {
      val stream = java.nio.file.Files.walk(dir.toPath)
      try stream.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally stream.close()
    }

  /** Data files (the ones a reader scans) under `dir`. */
  def parts(dir: java.io.File, suffix: String): Seq[java.io.File] =
    sizes(dir).keys.map(new java.io.File(_)).filter { f =>
      val n = f.getName
      n.endsWith(suffix) && !n.startsWith(".") && !n.startsWith("_") &&
        !f.getPath.contains("_delta_log")
    }.toSeq.sortBy(_.getPath)

  def bytes(dir: java.io.File, suffix: String): Long = parts(dir, suffix).map(_.length()).sum

  def delete(f: java.io.File): Unit =
    if (f.exists()) {
      val stream = java.nio.file.Files.walk(f.toPath)
      try stream.iterator().asScala.toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally stream.close()
    }
}
