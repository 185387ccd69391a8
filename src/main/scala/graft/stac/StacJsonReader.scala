package graft.stac

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ObjectNode, TextNode}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MetadataBuilder, StringType, StructType}
import org.apache.spark.util.AccumulatorV2

/** STAC JSON sources (SURVEY §2.1 S1–S4).
  *
  * Reads ndjson, JSON arrays of items, or GeoJSON FeatureCollections
  * (auto-detected per file like `stac_geoparquet/json_reader.py:14-41`)
  * into a JSON-shape DataFrame: properties still nested, bbox a list,
  * datetimes strings — and geometry already ISO WKB binary (G1 applied
  * pre-inference, mirroring `_batch.py:89-118`: mixed geometry types
  * cannot share an inferred coordinates type, in Arrow or in Spark).
  *
  * Scale notes: ndjson is read with `spark.read.text` (splittable,
  * streamed); only array/FeatureCollection files — which are whole-file
  * JSON documents anyway — go through `wholeTextFiles`. Inference is
  * Spark's distributed two-pass JSON read; the three reference schema
  * strategies (`_api.py:88-155`) map to Explicit / InferFull /
  * InferSample.
  *
  * The codec pass also learns the bbox width: every strategy leaves it on
  * the `bbox` field's metadata ([[bboxDims]]) when all items agree, so
  * [[Normalize]] shapes the bbox struct without a pass of its own.
  */
object StacJsonReader {

  sealed trait SchemaStrategy
  /** One distributed pass with the given schema (`_api.py:103-112`). */
  final case class Explicit(schema: StructType) extends SchemaStrategy
  /** Full distributed inference pass + read pass (`FullFile`/`ChunksToDisk`,
    * `_api.py:114-119,128-155` — Spark's inference is already
    * distributed/out-of-core so both collapse to this). */
  case object InferFull extends SchemaStrategy
  /** Infer from the first `n` items (`FirstBatch`, `_api.py:121-126`).
    * Divergence from the reference: FirstBatch raises on ANY later-chunk
    * schema disagreement; here FAILFAST raises on type conflicts, while
    * fields absent from the sampled prefix are silently dropped (Spark's
    * JSON reader ignores unknown fields). Pinned by InferSampleSpec. The
    * bbox width also comes from the sample: a later item of another width
    * fails the action that reads it (BboxDimsSpec), it is never truncated. */
  final case class InferSample(n: Int) extends SchemaStrategy

  @transient private lazy val mapper = new ObjectMapper()

  /** Metadata key on the JSON-shape `bbox` field: the one bbox width (4 or
    * 6) the reader saw. */
  private val BboxDimsKey = "stac:bbox_dims"

  /** The bbox width a read recorded on `schema`, if every item agreed. */
  def bboxDims(schema: StructType): Option[Int] =
    schema.fields.find(_.name == "bbox").map(_.metadata)
      .filter(_.contains(BboxDimsKey)).map(_.getLong(BboxDimsKey).toInt)

  /** S1/S2: files → Dataset[String] of single-item JSON docs with all
    * geometry fields replaced by hex-encoded ISO WKB. */
  def readItemStrings(spark: SparkSession, paths: Seq[String]): Dataset[String] =
    rawItems(spark, paths).map(geometryToWkbHex)(Encoders.STRING)

  /** Full read: items → JSON-shape DataFrame with binary geometry. */
  def read(spark: SparkSession, paths: Seq[String],
           strategy: SchemaStrategy = InferFull): DataFrame =
    readItemDataset(spark, rawItems(spark, paths), strategy)

  /** S3 for in-memory items: raw item-JSON strings → JSON-shape DataFrame
    * (the codec is applied here — pass strings WITHOUT WKB hex). The one
    * strategy dispatch shared by every entry point (file, in-memory,
    * facade). */
  def readItemDataset(spark: SparkSession, items: Dataset[String],
                      strategy: SchemaStrategy = InferFull): DataFrame = {
    // registered per read: the codec records every bbox length it decodes
    val widths = new BboxWidths
    spark.sparkContext.register(widths, "stac bbox widths")
    val coded = items.map { s =>
      val node = wkbHexNode(s)
      widths.record(node)
      mapper.writeValueAsString(node)
    }(Encoders.STRING)
    val (raw, dims) = strategy match {
      case Explicit(s) =>
        // FAILFAST: a row conflicting with the supplied schema must error
        // (the reference raises on schema mismatch); PERMISSIVE would
        // silently null the record. Binary geometry fields in a
        // caller-supplied spec-shape schema read as hex STRINGS at this
        // point (the codec already ran) — swap them so the JSON reader
        // doesn't base64-mangle them; hexGeometryToBinary converts after.
        (spark.read.schema(binaryAsString(s)).option("mode", "FAILFAST").json(coded),
          bboxDims(s))
      case InferFull =>
        // inference is eager: every item went through the codec once
        // the schema is back, so the accumulator is complete here
        val df = spark.read.json(coded)
        (df, widths.single)
      case InferSample(n) =>
        val sample = coded.take(n)
        val inferred = spark.read.json(spark.createDataset(sample)(Encoders.STRING)).schema
        val sampled = new BboxWidths
        sample.foreach(s => sampled.record(mapper.readTree(s)))
        (spark.read.schema(inferred)
          .option("mode", "FAILFAST") // later chunks disagreeing must fail
          .json(coded), sampled.single)
    }
    withBboxDims(hexGeometryToBinary(raw), dims)
  }

  /** Record `dims` on a list-typed `bbox` field, where [[bboxDims]] finds
    * it; a frame without one, or already carrying it, comes back as is. */
  private def withBboxDims(df: DataFrame, dims: Option[Int]): DataFrame =
    df.schema.fields.find(_.name == "bbox") match {
      case Some(f) if f.dataType.isInstanceOf[ArrayType] && dims.isDefined &&
          bboxDims(df.schema) != dims =>
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(BboxDimsKey, dims.get.toLong).build()
        df.withColumn("bbox", col("bbox").as("bbox", md))
      case _ => df
    }

  /** Min and max length of the non-null `bbox` arrays seen. Both are
    * unchanged by a re-run task or a second pass over the same items, so
    * the value stays exact however often the codec runs. */
  private final class BboxWidths extends AccumulatorV2[Int, (Int, Int)] {
    private var lo = Int.MaxValue
    private var hi = Int.MinValue
    def isZero: Boolean = lo == Int.MaxValue
    def copy(): BboxWidths = { val c = new BboxWidths; c.lo = lo; c.hi = hi; c }
    def reset(): Unit = { lo = Int.MaxValue; hi = Int.MinValue }
    def add(n: Int): Unit = { lo = math.min(lo, n); hi = math.max(hi, n) }
    def merge(other: AccumulatorV2[Int, (Int, Int)]): Unit = {
      val (l, h) = other.value
      lo = math.min(lo, l); hi = math.max(hi, h)
    }
    def value: (Int, Int) = (lo, hi)
    def record(item: JsonNode): Unit = {
      val b = item.get("bbox")
      if (b != null && b.isArray) add(b.size())
    }
    /** The width when every recorded bbox had the same one. */
    def single: Option[Int] = if (!isZero && lo == hi) Some(lo) else None
  }

  /** Item JSON strings before the codec: ndjson lines and the items of
    * whole-file JSON documents. */
  private def rawItems(spark: SparkSession, paths: Seq[String]): Dataset[String] = {
    import spark.implicits._
    val (ndjson, whole) = paths.partition(p => detectNdjson(spark, p))
    val lineItems: Dataset[String] =
      if (ndjson.nonEmpty)
        spark.read.textFile(ndjson: _*).filter(l => l.trim.nonEmpty)
      else spark.emptyDataset[String]
    val wholeItems: Dataset[String] =
      if (whole.nonEmpty)
        spark.sparkContext.wholeTextFiles(whole.mkString(",")).values
          .flatMap(splitItems).toDS()
      else spark.emptyDataset[String]
    lineItems.union(wholeItems)
  }

  /** Detect ndjson by peeking: the first line must be a complete JSON
    * object that is itself an item (reference tries line-wise parse and
    * falls back to whole-file, `json_reader.py:20-41`). */
  private def detectNdjson(spark: SparkSession, path: String): Boolean = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    // resolve globs and directories to a concrete first file to peek at —
    // every other Spark read accepts them, so this path must too
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    val firstFile = matched.iterator.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).iterator
          .filter(c => c.isFile && !c.getPath.getName.startsWith("_") && !c.getPath.getName.startsWith("."))
          .map(_.getPath)
      else Iterator(st.getPath)
    }.toSeq.headOption
    if (firstFile.isEmpty) return false
    val in = fs.open(firstFile.get)
    try {
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      // skip blank lines and a UTF-8 BOM when peeking — a leading blank
      // line must not reroute a whole ndjson file (and lose its items)
      var first = reader.readLine()
      while (first != null && first.trim.isEmpty) first = reader.readLine()
      if (first == null) return false
      val t = first.trim.stripPrefix("﻿")
      if (!t.startsWith("{")) return false
      try {
        val node = mapper.readTree(t)
        node.isObject && !node.has("features")
      } catch { case _: Exception => false }
    } finally in.close()
  }

  /** Split whole-file JSON content into item strings: JSON array, GeoJSON
    * FeatureCollection (`features`), or one-or-more concatenated JSON
    * documents (a misrouted ndjson file must yield every item, not just
    * the first top-level value Jackson happens to parse). */
  private def splitItems(content: String): Iterator[String] = {
    val parser = mapper.createParser(content)
    val docs = Iterator.continually(parser.readValueAsTree[JsonNode]())
      .takeWhile(_ != null)
      .toSeq
    docs.iterator.flatMap { node =>
      if (node.isArray) (0 until node.size()).iterator.map(node.get)
      else if (node.has("features")) {
        val f = node.get("features")
        (0 until f.size()).iterator.map(f.get)
      } else Iterator(node)
    }.map(mapper.writeValueAsString)
  }

  /** G1 at the string level: convert `geometry`, `properties.proj:geometry`
    * and every `assets.*.proj:geometry` GeoJSON object to hex ISO WKB, so
    * JSON inference sees uniform strings (`_batch.py:89-118`). */
  def geometryToWkbHex(itemJson: String): String =
    mapper.writeValueAsString(wkbHexNode(itemJson))

  /** [[geometryToWkbHex]] up to the tree, which the reader also reads the
    * bbox length from. */
  private def wkbHexNode(itemJson: String): ObjectNode = {
    // the shared @transient lazy mapper re-initializes once per executor
    // JVM; constructing an ObjectMapper per row dominates the codec cost
    val node = mapper.readTree(itemJson).asInstanceOf[ObjectNode]
    val hex = java.util.HexFormat.of()
    def convert(parent: ObjectNode, key: String): Unit = {
      val g = parent.get(key)
      if (g != null && !g.isNull && g.isObject) {
        val wkb = Wkb.nodeToWkb(g)
        parent.set(key, TextNode.valueOf(hex.formatHex(wkb)))
      }
    }
    if (node.has("geometry")) convert(node, "geometry")
    val props = node.get("properties")
    if (props != null && props.isObject)
      convert(props.asInstanceOf[ObjectNode], "proj:geometry")
    val assets = node.get("assets")
    if (assets != null && assets.isObject) {
      val it = assets.fields()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.isObject)
          convert(e.getValue.asInstanceOf[ObjectNode], "proj:geometry")
      }
    }
    node
  }

  /** Every BinaryType leaf becomes StringType (the shape between the hex
    * codec and [[hexGeometryToBinary]]). */
  private def binaryAsString(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case BinaryType => StringType
      case s: StructType => StructType(s.fields.map(f => f.copy(dataType = binaryAsString(f.dataType))))
      case ArrayType(e, n) => ArrayType(binaryAsString(e), n)
      case other => other
    }
  }

  private def binaryAsString(s: StructType): StructType =
    binaryAsString(s: org.apache.spark.sql.types.DataType).asInstanceOf[StructType]

  /** Convert the hex-string geometry columns produced by [[geometryToWkbHex]]
    * into BinaryType columns (top-level and nested). */
  def hexGeometryToBinary(df: DataFrame): DataFrame = {
    var out = df
    // StringType guard: an Explicit schema may already declare geometry
    // binary, in which case there is nothing to unhex
    if (fieldType(df.schema, "geometry").contains(StringType))
      out = out.withColumn("geometry", unhex(col("geometry")))
    // properties.proj:geometry
    fieldType(out.schema, "properties") match {
      case Some(props: StructType) if props.fieldNames.contains("proj:geometry") &&
          props("proj:geometry").dataType == StringType =>
        out = out.withColumn("properties",
          StructOps.withFieldTransformed(col("properties"), props, "proj:geometry", unhex))
      case _ =>
    }
    // assets.<key>.proj:geometry
    fieldType(out.schema, "assets") match {
      case Some(assets: StructType) =>
        val needs = assets.fields.collect {
          case f if f.dataType.isInstanceOf[StructType] &&
            f.dataType.asInstanceOf[StructType].fieldNames.contains("proj:geometry") &&
            f.dataType.asInstanceOf[StructType]("proj:geometry").dataType == StringType => f.name
        }
        if (needs.nonEmpty) {
          val rebuilt = needs.foldLeft(col("assets")) { (c, assetKey) =>
            StructOps.withFieldTransformed(c, currentAssets(out, c), assetKey,
              inner => StructOps.withFieldTransformed(inner,
                assets(assetKey).dataType.asInstanceOf[StructType], "proj:geometry", unhex))
          }
          out = out.withColumn("assets", rebuilt)
        }
      case _ =>
    }
    out
  }

  private def currentAssets(df: DataFrame, c: org.apache.spark.sql.Column): StructType =
    df.schema("assets").dataType.asInstanceOf[StructType]

  private def hasField(s: StructType, name: String): Boolean =
    s.fieldNames.contains(name)
  private def fieldType(s: StructType, name: String): Option[org.apache.spark.sql.types.DataType] =
    s.fields.find(_.name == name).map(_.dataType)
}
