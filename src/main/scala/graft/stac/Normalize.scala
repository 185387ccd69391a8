package graft.stac

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Forward normalization P1→P2→P3→P4 (SURVEY §2.3; composition order per
  * `stac_geoparquet/arrow/_batch.py:183-193`): JSON-shape → STAC-GeoParquet
  * spec shape. One narrow `select` pipeline — no shuffle, codegen'd
  * end-to-end, so it runs at scan speed on any cluster size.
  */
object Normalize {

  /** @param dropInvalidProperties on property/top-level name collision:
    *   true = drop with warning, false = error (`_to_arrow.py:15-53`).
    * @param bboxDims the bbox width, 4 or 6. The width comes from the
    *   first of three sources that has it: this argument; the `bbox`
    *   metadata an inferring [[StacJsonReader]] read leaves
    *   ([[StacJsonReader.bboxDims]]); a probe job over `df`. Leave it
    *   None after a reader call — the metadata already carries it. */
  def apply(df: DataFrame, dropInvalidProperties: Boolean = true,
            bboxDims: Option[Int] = None): DataFrame = {
    val hoisted = bringPropertiesToTopLevel(df, dropInvalidProperties)
    val timed = convertTimestampColumns(hoisted)
    val boxed = convertBboxToStruct(timed, bboxDims)
    assignGeoArrowMetadata(boxed)
  }

  /** P1: hoist every `properties.*` field to a top-level column
    * (`_to_arrow.py:15-53`). Hoisted columns append after the existing
    * top-level ones, preserving the properties struct's field order. */
  def bringPropertiesToTopLevel(df: DataFrame, dropInvalidProperties: Boolean = true): DataFrame = {
    if (!df.schema.fieldNames.contains("properties")) return df
    val props = df.schema("properties").dataType match {
      case s: StructType => s
      case other => throw new IllegalArgumentException(
        s"'properties' must be a struct, got $other")
    }
    val topLevel = df.schema.fieldNames.toSet
    val (colliding, ok) = props.fields.partition(f => topLevel.contains(f.name))
    if (colliding.nonEmpty && !dropInvalidProperties)
      throw new IllegalArgumentException(
        s"Item properties contain keys colliding with top-level fields: ${colliding.map(_.name).mkString(", ")}")
    colliding.foreach { f =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Item properties contains a '${f.name}' key colliding with a top-level field. Dropping properties.${f.name}.")
    }
    // exact-name references: a JSON property name may contain dots,
    // which bare col() would parse as a nested path
    val keep = df.columns.filter(_ != "properties")
      .map(StacSchema.quotedCol(_)).toIndexedSeq
    val hoistedCols = ok.map(f => col("properties").getField(f.name).as(f.name)).toIndexedSeq
    df.select(keep ++ hoistedCols: _*)
  }

  /** P2: cast the 8 whitelisted datetime columns from RFC3339 string to
    * timestamp[µs, UTC] (`_to_arrow.py:56-103`). Errors on non-string,
    * non-timestamp input like the reference. */
  def convertTimestampColumns(df: DataFrame): DataFrame = {
    val casts = StacSchema.TimestampColumns.flatMap { name =>
      df.schema.fields.find(_.name == name).flatMap(_.dataType match {
        case TimestampType => None
        case StringType | NullType => Some(name -> col(name).cast(TimestampType))
        case other => throw new IllegalArgumentException(
          s"Inferred time column '$name' was expected to be a string or timestamp but got $other")
      })
    }
    // one projection: each withColumn would analyze the whole wide plan again
    if (casts.isEmpty) df else df.withColumns(casts.toMap)
  }

  /** P3: bbox list → struct of bounds so Parquet row-group min/max stats
    * prune spatially (`_to_arrow.py:106-200`; the spec motivation at
    * 124-130). The width (2-D xmin..ymax vs 3-D with zmin/zmax) comes from,
    * in order:
    *  1. `bboxDims`, the caller's word, taken as is;
    *  2. the `bbox` field metadata a [[StacJsonReader]] read recorded while
    *     decoding the items — no job; a row of another width (one that
    *     arrived after an `InferSample` prefix or against an `Explicit`
    *     schema) fails the action instead of being truncated;
    *  3. one tiny aggregate probe over `df`, which rejects mixed 2-D/3-D
    *     input eagerly. */
  def convertBboxToStruct(df: DataFrame, bboxDims: Option[Int] = None): DataFrame = {
    df.schema.fields.find(_.name == "bbox") match {
      case Some(StructField(_, ArrayType(_, _), _, _)) =>
        val learned = if (bboxDims.isEmpty) StacJsonReader.bboxDims(df.schema) else None
        val dims = bboxDims.orElse(learned).getOrElse {
          // the probe is an action — impossible on a streaming frame
          require(!df.isStreaming,
            "bbox dimensionality cannot be probed on a streaming DataFrame; " +
              "pass bboxDims explicitly (StacStream.inferIngestSpec derives it from a sample)")
          probeBboxDims(df) match {
            case Some(d) => d
            case None => return df // bbox entirely null: leave as list
          }
        }
        val names =
          if (dims == 6) Seq("xmin", "ymin", "zmin", "xmax", "ymax", "zmax")
          else if (dims == 4) Seq("xmin", "ymin", "xmax", "ymax")
          else throw new IllegalArgumentException(s"bbox must have 4 or 6 values, got $dims")
        val st = struct(names.zipWithIndex.map { case (n, i) =>
          element_at(col("bbox"), i + 1).cast(DoubleType).as(n)
        }: _*)
        val nulls = when(col("bbox").isNull, lit(null))
        val guarded =
          if (learned.isEmpty) nulls
          else nulls.when(size(col("bbox")) =!= lit(dims), raise_error(concat(
            lit("Mixed 2d-3d bounding boxes not yet supported: an item has "),
            size(col("bbox")).cast(StringType),
            lit(s" bbox values where the read recorded $dims"))))
        df.withColumn("bbox", guarded.otherwise(st))
      case _ => df
    }
  }

  /** Dimensionality of the list bbox over non-null rows, None when every
    * bbox is null. `size()` runs only on non-null inputs so the result is
    * identical under ANSI on or off (legacy mode returns -1 for
    * size(null), which would poison a raw min/max probe). */
  def probeBboxDims(df: DataFrame): Option[Int] = {
    val sz = when(col("bbox").isNotNull, size(col("bbox")))
    val probe = df.agg(max(sz).as("mx"), min(sz).as("mn")).head()
    if (probe.isNullAt(0)) None
    else {
      val (mx, mn) = (probe.getInt(0), probe.getInt(1))
      if (mx != mn)
        throw new IllegalArgumentException(
          s"Mixed 2d-3d bounding boxes not yet supported (sizes $mn..$mx)")
      Some(mx)
    }
  }

  /** P4: tag the geometry column with geoarrow.wkb extension metadata +
    * WGS84 PROJJSON CRS (`_to_arrow.py:203-217`, `_crs.py:3`). */
  def assignGeoArrowMetadata(df: DataFrame): DataFrame = {
    if (!df.schema.fieldNames.contains("geometry")) return df
    val md = Metadata.fromJson(StacSchema.geoArrowFieldMetadataJson)
    df.withColumn("geometry", col("geometry").as("geometry", md))
  }

  /** All-null column coercions mirroring `_schema/models.py:61-105`:
    * Spark infers all-null JSON fields as StringType; `proj:epsg` must be
    * long (datetime is already covered by the P2 whitelist, `proj:wkt2`
    * is string anyway). */
  def coerceAllNullColumns(df: DataFrame): DataFrame = {
    df.schema.fields.find(f => f.name == "proj:epsg" && f.dataType == StringType) match {
      case Some(_) => df.withColumn("proj:epsg", col("proj:epsg").cast(LongType))
      case None => df
    }
  }
}
