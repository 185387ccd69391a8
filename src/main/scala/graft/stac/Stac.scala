package graft.stac

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's public API surface, one method per export
  * (`stac_geoparquet/__init__.py`, `stac_geoparquet/arrow/__init__.py`) —
  * a user of stac-geoparquet switches here and finds every entry point
  * under its own name, returning DataFrames where the reference returns
  * Arrow tables/record-batch readers (the DataFrame IS the engine's
  * columnar stream: lazily planned, batch-pipelined, never materialized
  * until an action).
  */
object Stac {

  /** `DEFAULT_JSON_CHUNK_SIZE` (`_constants.py:5`). Spark's unit of
    * streaming is the scan partition, sized by
    * `spark.sql.files.maxPartitionBytes` — constant kept for API parity. */
  val DefaultJsonChunkSize: Int = 65536

  /** `SUPPORTED_PARQUET_SCHEMA_VERSIONS` (`_constants.py`). */
  val SupportedParquetSchemaVersions: Seq[String] = Seq("1.0.0", "1.1.0")

  val DefaultParquetSchemaVersion: String = StacSchema.DefaultGeoParquetVersion

  /** `parse_stac_items_to_arrow` (`_api.py:65-155`): in-memory items →
    * spec-shape DataFrame. */
  def parseStacItemsToArrow(spark: SparkSession, items: Seq[String],
                            strategy: StacJsonReader.SchemaStrategy = StacJsonReader.InferFull): DataFrame =
    Normalize(StacJsonReader.readItemDataset(
      spark, spark.createDataset(items)(Encoders.STRING), strategy))

  /** `parse_stac_ndjson_to_arrow` (`_api.py:219-278`): files (ndjson /
    * JSON array / FeatureCollection, autodetected) → spec-shape DataFrame. */
  def parseStacNdjsonToArrow(spark: SparkSession, paths: Seq[String],
                             strategy: StacJsonReader.SchemaStrategy = StacJsonReader.InferFull): DataFrame =
    Normalize(StacJsonReader.read(spark, paths, strategy))

  /** `parse_stac_ndjson_to_parquet` (`_api.py:281-344`). */
  def parseStacNdjsonToParquet(spark: SparkSession, paths: Seq[String], out: String,
                               schemaVersion: String = DefaultParquetSchemaVersion,
                               collectionsJson: Option[String] = None): Unit =
    GeoParquetWriter.write(parseStacNdjsonToArrow(spark, paths), out,
      schemaVersion, collectionsJson)

  /** `parse_stac_items_to_parquet` (`_api.py:158-216`). */
  def parseStacItemsToParquet(spark: SparkSession, items: Seq[String], out: String,
                              schemaVersion: String = DefaultParquetSchemaVersion): Unit =
    GeoParquetWriter.write(parseStacItemsToArrow(spark, items), out, schemaVersion)

  /** `parse_stac_ndjson_to_delta_lake` (`_delta_lake.py:28-71`): a
    * Delta table in the open log format with the `geo` metadata as
    * table properties ([[PortableDelta.writeStac]]). */
  def parseStacNdjsonToDeltaLake(spark: SparkSession, paths: Seq[String], out: String,
                                 schemaVersion: String = DefaultParquetSchemaVersion): Unit = {
    PortableDelta.writeStac(parseStacNdjsonToArrow(spark, paths), out, schemaVersion)
    ()
  }

  /** `to_parquet` (`_to_parquet.py:23-79`): spec-shape DataFrame →
    * GeoParquet with footer metadata. */
  def toParquet(df: DataFrame, out: String,
                schemaVersion: String = DefaultParquetSchemaVersion,
                collectionsJson: Option[String] = None): Unit =
    GeoParquetWriter.write(df, out, schemaVersion, collectionsJson)

  /** `stac_table_to_items` (`_api.py:347-367`): streaming row pivot —
    * a local iterator of item-JSON strings (one batch at a time, like the
    * reference's RecordBatchReader pipeline). */
  def stacTableToItems(df: DataFrame): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    Denormalize.toItemJson(df).toLocalIterator().asScala
  }

  /** `stac_table_to_ndjson` (`_api.py:370-403`). */
  def stacTableToNdjson(df: DataFrame, out: String): Unit =
    Denormalize.writeNdjson(df, out)

  /** Legacy `to_geodataframe` (`stac_geoparquet.py:37-197`): the
    * DataFrame IS the geodataframe; `add_self_link` adds the F4
    * self-href column (`stac_geoparquet.py:119-129`). */
  def toGeoDataFrame(spark: SparkSession, items: Seq[String],
                     addSelfLink: Boolean = false): DataFrame = {
    val df = parseStacItemsToArrow(spark, items)
    if (!addSelfLink) df else withSelfLink(df)
  }

  /** Add the F4 self-href column, schema-aware: links structs in the wild
    * omit `type` (the reference reads it with dict.get), and items may
    * carry no links column at all — both yield a null href, not an
    * analysis error. */
  def withSelfLink(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    df.schema.fields.find(_.name == "links").map(_.dataType) match {
      case Some(ArrayType(st: StructType, _)) =>
        def fld(l: Column, n: String): Column =
          if (st.fieldNames.contains(n)) l.getField(n) else lit(null).cast("string")
        val matching = filter(col("links"), l =>
          fld(l, "rel") === "self" &&
            coalesce(fld(l, "type"), lit(""))
              .isin("application/json", "application/geo+json", ""))
        val href =
          if (st.fieldNames.contains("href")) element_at(matching, 1).getField("href")
          else lit(null).cast("string")
        df.withColumn("self_link", href)
      case _ => df.withColumn("self_link", lit(null).cast("string"))
    }
  }

  /** Legacy `to_dict` / `to_item_collection` (`stac_geoparquet.py:200-269`):
    * row pivots — same streaming pivot as [[stacTableToItems]]. */
  def toItemCollection(df: DataFrame): Seq[String] = stacTableToItems(df).toSeq
}
