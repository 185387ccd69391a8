package graft.streaming

import graft.stac.{Normalize, StacJsonReader}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming STAC ingestion: the E1 pipeline (ndjson → WKB → normalize →
  * parquet) as a Structured Streaming job — new item files landing in a
  * directory flow through the same normalize operators into the table,
  * exactly-once via checkpointing, incrementally via Trigger.AvailableNow
  * (the reference's closest analogs are the lazy RecordBatchReader
  * pipeline, `_api.py:362-367`, and the `updated_after` sync, K6).
  *
  * Streaming reads require an explicit schema (no inference pass over an
  * unbounded source) — the JSON-shape schema comes from
  * [[inferItemSchema]] over a bounded sample, or from a prior batch run.
  * Footer metadata is attached by a bounded post-pass
  * (`GeoParquetWriter.addFooterMetadata`) once a sync completes; the
  * streaming sink itself writes plain parquet.
  */
object StacStream {

  /** Bounded helper: infer the JSON-shape item schema from existing files
    * (the "first batch" of the stream). */
  def inferItemSchema(spark: SparkSession, samplePaths: Seq[String]): StructType =
    StacJsonReader.read(spark, samplePaths).schema

  /** Bounded helper: schema AND bbox dimensionality from a sample — the
    * streaming normalize cannot probe dimensionality itself (it would be
    * an action on an unbounded frame). The sample's read already recorded
    * the width on the schema; the probe runs only when it did not (mixed
    * widths, which the probe rejects). */
  def inferIngestSpec(spark: SparkSession, samplePaths: Seq[String]): (StructType, Option[Int]) = {
    val sample = StacJsonReader.read(spark, samplePaths)
    val dims =
      if (!sample.columns.contains("bbox")) None
      else StacJsonReader.bboxDims(sample.schema).orElse(Normalize.probeBboxDims(sample))
    (sample.schema, dims)
  }

  /** Start the incremental ingest: ndjson files in `srcDir` → normalized
    * spec-shape parquet in `outDir`. `jsonShapeSchema` is the POST-codec
    * JSON-shape schema (geometry binary), e.g. from [[inferItemSchema]]. */
  def ingest(spark: SparkSession, srcDir: String, outDir: String, checkpoint: String,
             jsonShapeSchema: StructType, bboxDims: Option[Int] = None): StreamingQuery = {
    // the codec runs per-line BEFORE parsing, so the streaming source is
    // just text; schema applies at from_json time via a two-step select
    val raw = spark.readStream.textFile(srcDir)
      .filter((l: String) => l.trim.nonEmpty)
      .map(StacJsonReader.geometryToWkbHex)(Encoders.STRING)
    // from_json with the hex-geometry schema (strings), then binary + P1-P4
    // FAILFAST keeps the batch InferSample guarantee (InferSampleSpec):
    // a line conflicting with the pinned schema fails the batch instead of
    // silently writing a row of nulls into the exactly-once sink
    val parsed = raw.select(
      org.apache.spark.sql.functions.from_json(
        org.apache.spark.sql.functions.col("value"),
        hexShape(jsonShapeSchema),
        Map("mode" -> "FAILFAST")).as("item"))
      .select("item.*")
    val normalized = Normalize(StacJsonReader.hexGeometryToBinary(parsed), bboxDims = bboxDims)
    normalized.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The schema as seen between codec and binary-conversion: every binary
    * geometry column is a hex string at from_json time. */
  private def hexShape(jsonShape: StructType): StructType = {
    import org.apache.spark.sql.types._
    def swap(dt: DataType): DataType = dt match {
      case BinaryType => StringType
      case s: StructType => StructType(s.fields.map(f => f.copy(dataType = swap(f.dataType))))
      case ArrayType(e, n) => ArrayType(swap(e), n)
      case other => other
    }
    swap(jsonShape).asInstanceOf[StructType]
  }
}
