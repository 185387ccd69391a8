package graft.stac

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Cast, Expression, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, OutputWriterFactory, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("portable-delta").load(path)` — the file-source
  * read path for the portable Delta log, so PLAIN SQL users get the
  * engine's query surface without the Scala API:
  *
  *   CREATE TABLE items USING `portable-delta` OPTIONS (path '/data/items');
  *   SELECT * FROM items WHERE collection = 'sentinel-2' AND dt >= ...;
  *
  * The reference's analytics thesis is "read-back IS the query surface"
  * (docs/usage.md:50-57): its tables are consumed by whatever engine
  * reads the format. GeoParquet already has that here
  * ([[GeoParquetFileFormat]]); this closes the gap for Delta tables.
  *
  * Architecture (Spark-first, the delta-spark shape): a plain V1
  * `RelationProvider` returning a [[HadoopFsRelation]] whose
  * [[FileIndex]] is backed by the LOG, not a directory listing — the
  * same split delta-spark's TahoeLogFileIndex uses. Everything
  * downstream is stock Catalyst: parquet filter pushdown
  * (`PushedFilters` in the scan), column pruning, partition-column
  * injection from the index's `PartitionDirectory` values, whole-stage
  * codegen over the vectorized reader. The only custom code is WHERE
  * the file list comes from — [[PortableDeltaFileIndex.listFiles]]
  * evaluates the query's pushed-down predicates against the log's
  * per-file stats ([[DeltaStats.satisfiable]]) and partitionValues, so
  * file skipping happens at PLANNING time from metadata alone.
  *
  * Scale shape: on a checkpoint-seeded table the add state stays a
  * DataFrame end-to-end ([[PortableDelta.logState]]) —
  * stats pruning runs on EXECUTORS over the checkpoint's add rows and
  * only the SURVIVING files (the ones the scan must name anyway) reach
  * the driver, the readTableWhere discipline. A million-add table
  * costs the driver O(matching files + JSON tail) per query.
  *
  * DELETION VECTORS and COLUMN MAPPING both read through this route
  * (value-parity with `readTable`): the file format drops DV-dead rows
  * by parquet row index and rewrites mapped schemas/filters to the
  * physical `col-<uuid>` names — see [[PortableDeltaReadOnlyFormat]].
  * SQL writes: `INSERT INTO` (no PARTITION spec) routes through the
  * full write protocol via [[PortableDeltaHadoopFsRelation.insert]];
  * raw file writes stay impossible (prepareWrite refuses). */
class PortableDeltaDataSource extends RelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "portable-delta"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "portable-delta requires a path: " +
          "spark.read.format(\"portable-delta\").load(<table dir>) or " +
          "CREATE TABLE ... USING `portable-delta` OPTIONS (path '...')"))

  /** Batch read. `option("readChangeFeed", "true")` switches the
    * relation from the table's CURRENT ROWS to its CHANGE FEED — the
    * delta-spark batch-CDF idiom:
    *
    *   spark.read.format("portable-delta")
    *     .option("readChangeFeed", "true")
    *     .option("startingVersion", 1).option("endingVersion", 3)
    *     .load(path)
    *
    * routed to the same distributed [[PortableDelta.readChanges]] plan
    * the `portable_delta_changes` TVF returns. CDF-shaped options on a
    * plain batch read REFUSE BY NAME (a silently-ignored
    * `startingVersion` would return current rows where the user asked
    * for a window — the wrong-shape hazard this engine never ships). */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation =
    PortableDeltaRelation(sqlContext.sparkSession, pathOf(parameters), parameters)

  /** `df.write.format("portable-delta").mode(...).partitionBy(...)
    * .save(path)` — the DataFrame write surface over
    * [[PortableDelta.write]] (full protocol: stats harvest, constraint/
    * feature gates, optimistic-concurrency commit). `partitionBy`
    * columns arrive through Spark's V1 `__partition_columns` JSON
    * option. SaveMode.Ignore is the spec semantic: an existing table
    * short-circuits without writing. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): BaseRelation = {
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession
    val partitionBy: Seq[String] =
      parameters.get("__partition_columns").map { json =>
        import scala.jdk.CollectionConverters._
        val n = PortableDelta.mapper.readTree(json)
        require(n.isArray, s"malformed __partition_columns: $json")
        n.elements().asScala.map(_.asText()).toSeq
      }.getOrElse(Nil)
    val m = mode match {
      case SaveMode.ErrorIfExists => Some("error")
      case SaveMode.Append => Some("append")
      case SaveMode.Overwrite => Some("overwrite")
      case SaveMode.Ignore =>
        if (PortableDelta.tableExists(spark.sessionState.newHadoopConf(), path)) None
        else Some("error")
    }
    m.foreach(mm => PortableDelta.write(data.toDF(), path, mode = mm,
      partitionBy = partitionBy,
      mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)))
    PortableDeltaRelation(spark, path, parameters - "__partition_columns")
  }

  /** `df.writeStream.format("portable-delta").option("path", ...)` —
    * the declarative form of [[graft.streaming.EventStream.deltaSink]]:
    * every micro-batch commits atomically WITH its {appId, batchId}
    * transaction action, so a crash-replayed batch (same batchId from
    * the recovered checkpoint) is detected in the log and skipped
    * before any data lands — EXACTLY-once, the Delta idempotent-
    * streaming-writes pattern. Append mode appends; Complete mode is a
    * per-batch logical overwrite (the table ends as the last batch);
    * Update refuses (no key contract here — use
    * [[graft.streaming.EventStream.deltaMergeSink]]). The txn appId
    * defaults to the CHECKPOINT location (stable across restarts —
    * exactly the property exactly-once needs); override with
    * option("txnAppId", ...) when two queries share a checkpoint dir
    * layout. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val path = pathOf(parameters)
    import org.apache.spark.sql.streaming.OutputMode._
    val appId = parameters.getOrElse("txnAppId",
      parameters.getOrElse("checkpointLocation",
        throw new IllegalArgumentException(
          "portable-delta sink needs a checkpointLocation (or an " +
            "explicit txnAppId) — the exactly-once txn id derives from it")))
    outputMode match {
      case m if m == Append() =>
        new PortableDeltaSink(path, "append", appId, partitionColumns,
          parameters.get("mergeSchema").exists(_.toBoolean))
      case m if m == Complete() =>
        new PortableDeltaSink(path, "overwrite", appId, partitionColumns,
          parameters.get("mergeSchema").exists(_.toBoolean))
      case m if m == Update() =>
        // keyed upsert: each micro-batch MERGEs on the declared keys
        // (update matched, insert unmatched), exactly-once via the same
        // {appId, batchId} txn action — the declarative form of
        // EventStream.deltaMergeSink. The batch's keys must be unique
        // (the aggregation-output contract Update mode implies).
        val keys = parameters.get("mergeKeys").map(
          _.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(
          throw new IllegalArgumentException(
            "portable-delta sink in Update mode needs option " +
              "(\"mergeKeys\", \"k1,k2,...\") — the upsert key contract"))
        require(keys.nonEmpty, "mergeKeys must name at least one column")
        new PortableDeltaMergeStreamSink(path, keys, appId)
      case other => throw new IllegalArgumentException(
        s"portable-delta sink: unsupported output mode $other")
    }
  }

  /** `spark.readStream.format("portable-delta")` — the declarative
    * STREAMING SOURCE: appends by default, row-level changes under
    * `option("readChangeFeed", "true")`. Options (the delta source's
    * names): `maxFilesPerTrigger`, `maxBytesPerTrigger`,
    * `startingVersion`, `startingTimestamp` (UTC string or epoch ms),
    * `ignoreDeletes`, `skipChangeCommits`, plus this engine's
    * `maxVersionsPerTrigger` (default 32). Progress lives in SPARK'S
    * checkpoint (offset log) — restart-exact, including mid-snapshot
    * and mid-commit positions; see
    * [[graft.streaming.PortableDeltaStreamSource]]. */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    schema.foreach(_ => throw new IllegalArgumentException(
      "portable-delta streams read the table's own schema — drop the " +
        "user-specified one"))
    val cdf = parameters.get("readChangeFeed").exists(_.toBoolean)
    (shortName(), graft.streaming.PortableDeltaStreamSource.schemaFor(
      sqlContext.sparkSession, pathOf(parameters), cdf))
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val path = pathOf(parameters)
    def boolOpt(k: String) = parameters.get(k).exists(_.toBoolean)
    // the ONE option grammar, shared with the batch CDF read (epoch
    // millis need 11-17 digits; compact dates refuse by name)
    val tsOpt = parameters.get("startingTimestamp").map(
      PortableDeltaRelation.parseTsMillis(_, "option startingTimestamp"))
    new graft.streaming.PortableDeltaStreamSource(
      sqlContext.sparkSession, path,
      cdf = boolOpt("readChangeFeed"),
      maxVersionsPerTrigger =
        parameters.get("maxVersionsPerTrigger").map(_.trim.toInt).getOrElse(32),
      maxFilesPerTrigger =
        parameters.get("maxFilesPerTrigger").map(_.trim.toInt),
      maxBytesPerTrigger =
        parameters.get("maxBytesPerTrigger").map(_.trim.toLong),
      startingVersion = parameters.get("startingVersion").map(_.trim.toLong),
      startingTimestamp = tsOpt,
      ignoreDeletes = boolOpt("ignoreDeletes"),
      skipChangeCommits = boolOpt("skipChangeCommits"))
  }
}

/** The V1 micro-batch sink behind `writeStream.format("portable-delta")`.
  * addBatch rewraps the incremental frame as a replayable batch
  * ([[org.apache.spark.sql.GraftSqlShim.replayableBatch]] — the
  * ForeachBatchSink idiom) and routes it through [[PortableDelta.write]]
  * with the {appId, batchId} txn action: full protocol (stats harvest,
  * writer gates, optimistic commit) plus log-level idempotence. */
private[stac] class PortableDeltaSink(path: String, mode: String,
    appId: String, partitionBy: Seq[String], mergeSchema: Boolean)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = org.apache.spark.sql.GraftSqlShim.replayableBatch(data)
    PortableDelta.write(batch, path,
      mode = if (PortableDelta.tableExists(
          batch.sparkSession.sessionState.newHadoopConf(), path)) mode else "error",
      txn = Some((appId, batchId)),
      partitionBy = partitionBy, mergeSchema = mergeSchema)
    ()
  }

  override def toString: String = s"PortableDeltaSink[$path, $mode]"
}

/** Update-mode sibling of [[PortableDeltaSink]]: each micro-batch
  * upserts on `keys` through [[PortableDelta.merge]] (update matched
  * rows, insert new ones) with the {appId, batchId} txn action — a
  * crash-replayed batch is skipped at the LOG before any data lands.
  * The first batch of a fresh table creates it. */
private[stac] class PortableDeltaMergeStreamSink(path: String,
    keys: Seq[String], appId: String)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = org.apache.spark.sql.GraftSqlShim.replayableBatch(data)
    if (!PortableDelta.tableExists(batch.sparkSession.sessionState.newHadoopConf(), path))
      PortableDelta.write(batch, path, txn = Some((appId, batchId)))
    else
      PortableDelta.merge(batch.sparkSession, path, batch, keys,
        txn = Some((appId, batchId)))
    ()
  }

  override def toString: String =
    s"PortableDeltaMergeStreamSink[$path, keys=${keys.mkString(",")}]"
}

/** A deletion-vector descriptor as the format needs it: enough to
  * [[DeletionVectors.load]] the bitmap on whichever task reads the
  * file. Tiny (~100 B). Since round 16 it never collects to the
  * driver as a table-wide map: [[PortableDeltaFileIndex.listFiles]]
  * attaches each DV-carrying file's descriptor to ITS file entry
  * ([[FileStatusWithMetadata]]), and it rides to the task inside the
  * [[PartitionedFile]] — only descriptors of files the query actually
  * scans ship anywhere. */
private[stac] final case class DvRef(storageType: String,
    pathOrInlineDv: String, offset: Option[Int], sizeInBytes: Int,
    cardinality: Long)

/** The relation's [[ParquetFileFormat]] — three jobs on top of the
  * stock vectorized parquet path:
  *
  *  1. **Refuse raw file writes.** Catalyst routes `INSERT INTO` a
  *     HadoopFsRelation through the stock file-write command when the
  *     relation is not insertable (e.g. a static PARTITION insert) —
  *     files the Delta log never commits would be INVISIBLE rows, a
  *     silent data loss. [[prepareWrite]] throws loudly; the
  *     sanctioned SQL write path is [[PortableDeltaHadoopFsRelation
  *     .insert]].
  *  2. **Deletion vectors** (delta-spark's DeltaParquetFileFormat
  *     shape): when `hasDvs`, the reader requests the parquet ROW
  *     INDEX via Spark's temporary row-index column
  *     ([[ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME]] — exact
  *     physical position even under row-group skipping), drops rows
  *     whose index is set in the file's bitmap, and projects the
  *     temp column back out. Each file's descriptor rides its own
  *     [[PartitionedFile]] (per-file metadata from the index — no
  *     driver-side table-wide map, no broadcast); each task decodes
  *     only ITS file's bitmap (KBs per million deleted rows). Batch
  *     output is disabled for such scans (the per-row probe needs the
  *     row pipeline) — but on a PARTIALLY-DV'd table the armed
  *     optimizer splits the scan ([[SplitDvScan]]) so only the
  *     DV-carrying files pay the row path; DV-free tables keep
  *     whole-stage columnar untouched.
  *  3. **Column mapping**: the parquet bytes of a mapped table store
  *     PHYSICAL `col-<uuid>` names. The read/data schemas and pushed
  *     filters are rewritten to physical names before the stock
  *     reader sees them — output `InternalRow`s are positional, so
  *     they line up with the relation's LOGICAL attributes with no
  *     rename-back step (delta-spark's prepareSchema behavior).
  *     Unmappable pushed filters (nested paths) are dropped — a
  *     weaker pushdown is sound, Spark re-applies the full predicate.
  */
private[stac] class PortableDeltaReadOnlyFormat(
    tablePath: String,
    tableSchema: StructType,
    private[stac] val mapped: Boolean,
    private[stac] val hasDvs: Boolean) extends ParquetFileFormat {

  override def prepareWrite(sparkSession: SparkSession,
                            job: org.apache.hadoop.mapreduce.Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException(
      "writing files directly into a portable-delta table would bypass " +
        "the Delta log (the written files would be invisible to every " +
        "reader) — use INSERT INTO without a PARTITION spec, " +
        "df.write.format(\"portable-delta\").mode(\"append\").save(path), " +
        "or PortableDelta.write instead")

  /** The DV row probe needs the row pipeline (per-row bitmap
    * contains()); DV-free scans (including the DV-free LEG of a
    * [[SplitDvScan]] union) keep the stock columnar decision. */
  override def supportBatch(sparkSession: SparkSession,
                            schema: StructType): Boolean =
    !hasDvs && super.supportBatch(sparkSession, schema)

  // ---- column mapping: logical -> physical schema/filter rewrite ----

  /** Physical rename of a PRUNED schema tree, resolved field-by-field
    * against the table schema (never trusting pruned-copy metadata —
    * Catalyst may rebuild nested structs when pruning). */
  private def physStruct(pruned: StructType, ref: StructType): StructType =
    StructType(pruned.fields.map { pf =>
      val rf = ref.fields.find(_.name == pf.name).orElse(
        ref.fields.find(_.name.equalsIgnoreCase(pf.name))).getOrElse(
        throw new IllegalStateException(
          s"column ${pf.name} of the read schema is missing from the " +
            s"table schema of $tablePath"))
      pf.copy(name = PortableDelta.physFieldName(rf),
        dataType = physType(pf.dataType, rf.dataType))
    })

  private def physType(p: DataType, r: DataType): DataType = (p, r) match {
    case (ps: StructType, rs: StructType) => physStruct(ps, rs)
    case (pa: org.apache.spark.sql.types.ArrayType,
          ra: org.apache.spark.sql.types.ArrayType) =>
      pa.copy(elementType = physType(pa.elementType, ra.elementType))
    case (pm: org.apache.spark.sql.types.MapType,
          rm: org.apache.spark.sql.types.MapType) =>
      pm.copy(keyType = physType(pm.keyType, rm.keyType),
        valueType = physType(pm.valueType, rm.valueType))
    case _ => p
  }

  @transient private lazy val physOfTop: Map[String, String] =
    tableSchema.fields.map(f => f.name -> PortableDelta.physFieldName(f)).toMap
  private def physName(a: String): Option[String] =
    physOfTop.get(a).orElse(physOfTop.collectFirst {
      case (k, v) if k.equalsIgnoreCase(a) => v })

  /** Rewrite a pushed filter to physical attribute names. `exact=false`
    * may WEAKEN an And to its mappable side (sound for pushdown);
    * under Not the inner rewrite must be exact or the filter drops. */
  private def physFilter(f: org.apache.spark.sql.sources.Filter,
                         exact: Boolean): Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources.{And => SAnd, _}
    f match {
      case EqualTo(a, v) => physName(a).map(EqualTo(_, v))
      case EqualNullSafe(a, v) => physName(a).map(EqualNullSafe(_, v))
      case GreaterThan(a, v) => physName(a).map(GreaterThan(_, v))
      case GreaterThanOrEqual(a, v) => physName(a).map(GreaterThanOrEqual(_, v))
      case LessThan(a, v) => physName(a).map(LessThan(_, v))
      case LessThanOrEqual(a, v) => physName(a).map(LessThanOrEqual(_, v))
      case In(a, vs) => physName(a).map(In(_, vs))
      case IsNull(a) => physName(a).map(IsNull(_))
      case IsNotNull(a) => physName(a).map(IsNotNull(_))
      case StringStartsWith(a, v) => physName(a).map(StringStartsWith(_, v))
      case StringEndsWith(a, v) => physName(a).map(StringEndsWith(_, v))
      case StringContains(a, v) => physName(a).map(StringContains(_, v))
      case SAnd(l, r) => (physFilter(l, exact), physFilter(r, exact)) match {
        case (Some(a), Some(b)) => Some(SAnd(a, b))
        case (a, b) => if (exact) None else a.orElse(b)
      }
      case Or(l, r) => for {
        a <- physFilter(l, exact); b <- physFilter(r, exact)
      } yield Or(a, b)
      case Not(x) => physFilter(x, exact = true).map(Not(_))
      case _ => None
    }
  }

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    val physData = if (mapped) physStruct(dataSchema, tableSchema) else dataSchema
    val physRequired = if (mapped) physStruct(requiredSchema, tableSchema)
                       else requiredSchema
    val physFilters = if (mapped) filters.flatMap(physFilter(_, exact = false))
                      else filters
    if (!hasDvs)
      return super.buildReaderWithPartitionValues(sparkSession, physData,
        partitionSchema, physRequired, physFilters, options, hadoopConf)

    // request the physical row index through the reader's temp column
    // (populated correctly even when pushed filters skip row groups);
    // reuse an already-requested one rather than duplicating the name
    val rixName = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
    // nullable: the column is absent from the file by construction and
    // a required-but-missing column fails the reader's schema check;
    // the row-index generator fills it before any row surfaces
    val preRequested = physRequired.fieldNames.contains(rixName)
    val augmented = if (preRequested) physRequired
      else physRequired.add(StructField(rixName, LongType, nullable = true))
    val rixAt = augmented.fieldIndex(rixName)
    val delegate = super.buildReaderWithPartitionValues(sparkSession,
      physData, partitionSchema, augmented, physFilters, options, hadoopConf)
    val bcConf = new org.apache.spark.util.SerializableConfiguration(hadoopConf)
    val table = tablePath
    // delegate output layout: augmented data fields then partition
    // columns — project the temp column away to land on the caller's
    // (requiredSchema ++ partitionSchema) positions
    val outTypes = (augmented.fields.map(_.dataType) ++
      partitionSchema.fields.map(_.dataType)).toIndexedSeq
    val keepIdx = outTypes.indices.filterNot(_ == rixAt)

    (file: PartitionedFile) => {
      val it = delegate(file)
      // the file's own descriptor rides its PartitionedFile (attached
      // by the index's listFiles) — no table-wide driver map
      val dv = file.otherConstantMetadataColumnValues
        .get(PortableDeltaFileIndex.DvMetaKey).map { any =>
        val d = any.asInstanceOf[DvRef]
        val loaded = DeletionVectors.load(bcConf.value, table, d.storageType,
          d.pathOrInlineDv, d.offset, d.sizeInBytes)
        require(loaded.cardinality == d.cardinality,
          s"DV for ${file.toPath}: decoded cardinality ${loaded.cardinality}" +
            s" != descriptor ${d.cardinality}")
        loaded
      }
      val live = dv match {
        case Some(bitmap) => it.filter(r => !bitmap.contains(r.getLong(rixAt)))
        case None => it
      }
      if (preRequested) live
      else {
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
          .create(keepIdx.map(i =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, outTypes(i), nullable = true)))
        live.map(proj)
      }
    }
  }
}

object PortableDeltaRelation {

  /** Timestamp string → epoch millis. Accepted grammar (named in every
    * refusal): `YYYY-MM-DD`, `YYYY-MM-DD[ |T]HH:MM:SS[.ffffff]`, with
    * an optional trailing `Z` or `±HH[:MM]` offset — parsed in UTC
    * unless the explicit offset says otherwise (round 17: offsets were
    * previously a cryptic java.time parse error). Exposed for the
    * spec's epoch assertion. */
  private[graft] def parseUtcMillis(s0: String,
                                    what: String = "timestamp"): Long = {
    val s = s0.trim
    try {
      // explicit offset: trailing Z, or a sign INSIDE the time part
      // (index >= 10 — the date's own dashes sit at 4 and 7)
      val (body, offset) =
        if (s.endsWith("Z") || s.endsWith("z"))
          (s.dropRight(1).trim, java.time.ZoneOffset.UTC)
        else {
          val i = math.max(s.lastIndexOf('+'),
            if (s.length > 10) s.lastIndexOf('-') else -1)
          if (i >= 10)
            (s.substring(0, i).trim, java.time.ZoneOffset.of(s.substring(i)))
          else (s, java.time.ZoneOffset.UTC)
        }
      val norm = body.replace('T', ' ')
      val (datePart, timePart) = norm.indexOf(' ') match {
        case -1 => (norm, "00:00:00")
        case i => (norm.substring(0, i), norm.substring(i + 1).trim)
      }
      val ld = java.time.LocalDate.parse(datePart)
      val lt = java.time.LocalTime.parse(timePart)
      java.time.LocalDateTime.of(ld, lt).toInstant(offset).toEpochMilli
    } catch {
      case e @ (_: java.time.DateTimeException |
                _: IllegalArgumentException) =>
        throw new IllegalArgumentException(
          s"$what: cannot parse '$s0' — accepted grammar: 'YYYY-MM-DD', " +
            "'YYYY-MM-DD[ |T]HH:MM:SS[.ffffff]', optional trailing 'Z' or " +
            "'±HH:MM' offset (normalized to UTC), or epoch milliseconds " +
            s"as an 11-17 digit integer (${e.getMessage})", e)
    }
  }

  /** The ONE timestamp-OPTION parse, shared by `timestampAsOf`, the
    * batch and streaming CDF bounds, SQL `TIMESTAMP AS OF` / `RESTORE`,
    * and the changes TVF: all-digit strings of 11-17 chars are epoch
    * MILLISECONDS; shorter all-digit strings REFUSE by name (a compact
    * date like '20240102' must never silently resolve to ~1970);
    * everything else parses via [[parseUtcMillis]]'s named grammar. */
  private[graft] def parseTsMillis(s0: String, what: String): Long = {
    val s = s0.trim
    if (s.nonEmpty && s.forall(_.isDigit)) {
      if (s.length >= 11 && s.length <= 17) s.toLong
      else throw new IllegalArgumentException(
        s"$what: all-digit value '$s' is ambiguous — pass epoch " +
          "MILLISECONDS (an 11-17 digit integer) or a timestamp " +
          "'YYYY-MM-DD[ HH:MM:SS[.ffffff]][Z|±HH:MM]'; compact dates " +
          "like '20240102' are refused, never silently read as epoch")
    } else parseUtcMillis(s, what)
  }

  /** CDF-shaped reader options and their canonical spellings — used
    * both to parse the batch change-feed read and to REFUSE typo'd or
    * misplaced variants instead of silently scanning current rows. */
  private val CanonicalCdfKeys = Seq("readChangeFeed", "startingVersion",
    "endingVersion", "startingTimestamp", "endingTimestamp")

  /** Refuse, by name, any option key that LOOKS like a CDF option but
    * would not be read as one: separator typos of readChangeFeed /
    * the bound keys ("read_change_feed"), other change-feed-ish
    * spellings ("readChangeDataFeed"), and CDF bound keys on a read
    * that never enabled readChangeFeed. Case differences are NOT typos
    * (Spark hands V1 sources a case-insensitive map). */
  private def validateBatchOptions(opts: Map[String, String],
                                   path: String): Unit = {
    val canonicalByNorm = CanonicalCdfKeys.map(k =>
      k.toLowerCase(java.util.Locale.ROOT) -> k).toMap
    opts.keys.foreach { k =>
      val norm = k.toLowerCase(java.util.Locale.ROOT).filter(_.isLetterOrDigit)
      canonicalByNorm.get(norm) match {
        case Some(canon) if !k.equalsIgnoreCase(canon) =>
          throw new IllegalArgumentException(
            s"portable-delta read of $path: unknown option '$k' — did you " +
              s"mean '$canon'? (refusing rather than silently ignoring it)")
        case None if norm.contains("changefeed") || norm.contains("changedata") =>
          throw new IllegalArgumentException(
            s"portable-delta read of $path: unknown option '$k' — the " +
              "change-feed read is option(\"readChangeFeed\", \"true\") " +
              "with startingVersion/endingVersion or startingTimestamp/" +
              "endingTimestamp bounds (refusing rather than silently " +
              "ignoring it)")
        case _ => ()
      }
    }
    if (!opts.get("readChangeFeed").exists(_.trim.toBoolean)) {
      val misplaced = CanonicalCdfKeys.drop(1).filter(opts.contains)
      require(misplaced.isEmpty,
        s"portable-delta read of $path: option(s) " +
          misplaced.mkString("'", "', '", "'") + " bound a CHANGE-FEED " +
          "window but readChangeFeed is not enabled — a plain batch read " +
          "would silently return current rows instead of the window. Set " +
          "option(\"readChangeFeed\", \"true\"), or use versionAsOf/" +
          "timestampAsOf for time travel")
    }
  }

  /** The batch CHANGE-FEED relation (delta-spark parity): resolve the
    * requested window to versions, then wrap the DISTRIBUTED
    * [[PortableDelta.readChanges]] frame (the same plan the
    * `portable_delta_changes` TVF returns — work bounded by the
    * window's changed files, never table size). Start bound required;
    * end bound defaults to the current version. Timestamp bounds
    * resolve over truncation-surviving, ICT-aware [[PortableDelta
    * .history]] with monotonic healing: start = first commit AT/AFTER
    * the instant, end = last commit AT/BEFORE it — empty resolutions
    * refuse by name, never silently return nothing. */
  private def cdfRelation(spark: SparkSession, path: String,
                          opts: Map[String, String]): BaseRelation = {
    require(!opts.contains("versionAsOf") && !opts.contains("timestampAsOf"),
      s"readChangeFeed on $path cannot combine with versionAsOf/" +
        "timestampAsOf — bound the feed with startingVersion/endingVersion " +
        "(or startingTimestamp/endingTimestamp)")
    def ts(k: String): Option[Long] =
      opts.get(k).map(parseTsMillis(_, s"option $k"))
    val sv = opts.get("startingVersion").map(_.trim.toLong)
    val st = ts("startingTimestamp")
    require(sv.isEmpty || st.isEmpty,
      s"readChangeFeed on $path: specify startingVersion OR " +
        "startingTimestamp, not both")
    require(sv.isDefined || st.isDefined,
      s"readChangeFeed on $path needs a start bound: startingVersion or " +
        "startingTimestamp")
    val ev = opts.get("endingVersion").map(_.trim.toLong)
    val et = ts("endingTimestamp")
    require(ev.isEmpty || et.isEmpty,
      s"readChangeFeed on $path: specify endingVersion OR " +
        "endingTimestamp, not both")
    val conf = spark.sessionState.newHadoopConf()
    val commits = PortableDelta.history(conf, path).sortBy(_._1)
    require(commits.nonEmpty, s"no commits found at $path")
    // monotonic healing, the versionAtTimestamp rule: wall clocks may
    // step backwards between commits; bounds resolve over the running max
    var run = Long.MinValue
    val mono = commits.map { case (v, _, t) => run = math.max(run, t); (v, run) }
    val fromV = sv.getOrElse {
      val t = st.get
      mono.find(_._2 >= t).map(_._1).getOrElse(
        throw new IllegalArgumentException(
          s"readChangeFeed on $path: startingTimestamp $t is after the " +
            s"last commit (commit times span [${mono.head._2}, " +
            s"${mono.last._2}])"))
    }
    val toV = ev.orElse(et.map { t =>
      val inWin = mono.filter(_._2 <= t)
      require(inWin.nonEmpty,
        s"readChangeFeed on $path: endingTimestamp $t precedes the first " +
          s"commit (commit times span [${mono.head._2}, ${mono.last._2}])")
      inWin.last._1
    }).getOrElse(mono.last._1)
    require(fromV <= toV,
      s"readChangeFeed on $path: empty window — start resolves to " +
        s"version $fromV, end to $toV")
    new PortableDeltaCdfRelation(spark,
      PortableDelta.readChanges(spark, path, fromV, toV))
  }

  /** Build the relation: ONE log replay pins (schema, partition
    * columns, version, add frame) — a consistent snapshot; concurrent
    * commits after this point are invisible to the relation (standard
    * Delta snapshot-isolation read semantics). Time travel via the
    * `versionAsOf` / `timestampAsOf` options (the delta-spark names):
    * the same replay, pinned to that version ([[PortableDelta.logState]]
    * with `asOf`). */
  def apply(spark: SparkSession, tablePath: String,
            options: Map[String, String]): BaseRelation = {
    // Spark hands V1 providers a CaseInsensitiveMap; direct API callers
    // get the same tolerance here
    val opts: Map[String, String] = options match {
      case m: org.apache.spark.sql.catalyst.util.CaseInsensitiveMap[String] => m
      case m => org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(m)
    }
    validateBatchOptions(opts, tablePath)
    if (opts.get("readChangeFeed").exists(_.trim.toBoolean))
      return cdfRelation(spark, tablePath, opts)
    val conf = spark.sessionState.newHadoopConf()
    val vOpt = opts.get("versionAsOf").map(_.trim.toLong)
    // parsed in UTC explicitly: Timestamp.valueOf would interpret the
    // string in the JVM default zone, so the same option string would
    // resolve a DIFFERENT version on a non-UTC host
    val tsOpt = opts.get("timestampAsOf").map(
      parseTsMillis(_, "option timestampAsOf"))
    require(vOpt.isEmpty || tsOpt.isEmpty,
      "specify versionAsOf OR timestampAsOf, not both")
    val asOf: Option[Long] = vOpt.orElse(
      tsOpt.map(PortableDelta.versionAtTimestamp(conf, tablePath, _)))
    val ls = PortableDelta.logState(spark, tablePath, asOf)
    val (snapBase, addsDf) = (ls.small, ls.addsDf(spark))
    val index = new PortableDeltaFileIndex(spark, tablePath, snapBase, addsDf)
    // nullable-on-read, the readTable contract: parquet bytes relax
    // struct-field nullability and evolved tables surface null for
    // columns absent from old files — the read schema cannot promise
    // more than the files deliver (deepNullable keeps field METADATA:
    // geoarrow extension tags flow through to the scan output)
    val dataSchema = StructType(snapBase.schema.fields.filterNot(f =>
        snapBase.partitionColumns.exists(_.equalsIgnoreCase(f.name)))
      .map(f => f.copy(
        dataType = PortableDelta.deepNullable(f.dataType), nullable = true)))
    // DV presence probe: ONE executor-side two-count fold over the add
    // frame — two longs reach the driver, never descriptors or paths
    // (per-file descriptors attach at listFiles time to exactly the
    // files a query scans). nDv < nFiles additionally arms the
    // [[SplitDvScan]] rewrite: a PARTIALLY-DV'd table splits into a
    // columnar DV-free scan plus a row-path DV scan.
    import org.apache.spark.sql.functions.{col, count, lit}
    val dvRow = addsDf.agg(count(lit(1)), count(col("dv_storageType"))).head()
    val (nFiles, nDv) = (dvRow.getLong(0), dvRow.getLong(1))
    val fmt = new PortableDeltaReadOnlyFormat(tablePath, snapBase.schema,
      PortableDelta.mappedCfg(snapBase.configuration), hasDvs = nDv > 0)
    new PortableDeltaHadoopFsRelation(index, index.partitionSchema,
      dataSchema, fmt, options, spark, tablePath, asOf.isDefined,
      needsDvSplit = nDv > 0 && nDv < nFiles)
  }
}

/** The batch change-feed relation behind `option("readChangeFeed",
  * "true")`: a thin V1 wrapper handing Catalyst the DISTRIBUTED
  * [[PortableDelta.readChanges]] plan (table schema + _change_type /
  * _commit_version / _commit_timestamp). `needConversion = false` with
  * `queryExecution.toRdd` is the stock V1 idiom for serving an
  * already-Catalyst plan without a per-row external-Row round trip
  * (delta-spark's DeltaCDFRelation shape). Each query re-executes the
  * window's bounded per-commit scans; the window itself was pinned at
  * relation build time (version bounds resolved once). */
private[stac] class PortableDeltaCdfRelation(
    @transient spark: SparkSession,
    @transient df: org.apache.spark.sql.DataFrame)
    extends BaseRelation with org.apache.spark.sql.sources.TableScan {

  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = df.schema
  override def needConversion: Boolean = false
  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    df.queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
}

/** The relation class: a stock [[HadoopFsRelation]] (every scan-side
  * behavior inherited) that is ALSO an [[org.apache.spark.sql.sources
  * .InsertableRelation]], so `INSERT INTO` a `portable-delta` table
  * plans as `InsertIntoDataSourceCommand` (Catalyst checks
  * InsertableRelation BEFORE the HadoopFsRelation file-write case) and
  * routes through [[PortableDelta.write]] — full protocol: stats
  * harvest, constraint/feature gates, optimistic-concurrency commit.
  * Static-PARTITION inserts still fall through to the stock file
  * writer, where [[PortableDeltaReadOnlyFormat.prepareWrite]] refuses
  * loudly — the raw-file bypass stays impossible. */
private[stac] class PortableDeltaHadoopFsRelation(
    index: PortableDeltaFileIndex,
    partitionSchemaArg: StructType,
    dataSchemaArg: StructType,
    fmt: PortableDeltaReadOnlyFormat,
    optionsArg: Map[String, String],
    spark: SparkSession,
    tablePath: String,
    timeTravel: Boolean,
    private[stac] val needsDvSplit: Boolean = false)
    extends HadoopFsRelation(index, partitionSchemaArg, dataSchemaArg,
      None, fmt, optionsArg)(spark)
    with org.apache.spark.sql.sources.InsertableRelation {

  /** The [[SplitDvScan]] legs: the SAME pinned snapshot partitioned by
    * DV presence — a DV-free relation whose format keeps the stock
    * columnar/vectorized decision, and a DV-only relation on the
    * row-path reader. Lazy end-to-end (the legs' add frames are
    * filters over the pinned frame; listFiles prunes each leg
    * independently). Legs never re-split. */
  private[stac] def splitByDv(): (PortableDeltaHadoopFsRelation,
      PortableDeltaHadoopFsRelation) = {
    import org.apache.spark.sql.functions.col
    def leg(dvLeg: Boolean): PortableDeltaHadoopFsRelation = {
      val adds =
        if (dvLeg) index.adds.filter(col("dv_storageType").isNotNull)
        else index.adds.filter(col("dv_storageType").isNull)
      val idx = new PortableDeltaFileIndex(spark, tablePath,
        index.snapBase, adds)
      val f = new PortableDeltaReadOnlyFormat(tablePath,
        index.snapBase.schema, fmt.mapped, hasDvs = dvLeg)
      new PortableDeltaHadoopFsRelation(idx, partitionSchemaArg,
        dataSchemaArg, f, optionsArg, spark, tablePath, timeTravel)
    }
    (leg(dvLeg = false), leg(dvLeg = true))
  }

  override def insert(data: org.apache.spark.sql.DataFrame,
                      overwrite: Boolean): Unit = {
    require(!timeTravel,
      s"cannot INSERT INTO a time-traveled relation of $tablePath — " +
        "drop the versionAsOf/timestampAsOf option")
    // relation schema order is dataSchema ++ partitionSchema (partition
    // columns moved to the end); the table write wants the LOG's column
    // order
    val snapSchema = index.snapBase.schema
    val cols = snapSchema.fields.toSeq.map(f => StacSchema.quotedCol(f.name))
    PortableDelta.write(data.select(cols: _*), tablePath,
      mode = if (overwrite) "overwrite" else "append",
      partitionBy = index.snapBase.partitionColumns)
    // the catalog caches resolved relations per table name; this
    // relation's snapshot is PINNED, so stale cached plans must drop
    // (the REFRESH TABLE a file-source user would otherwise owe)
    spark.sessionState.catalog.invalidateAllCachedTables()
    spark.catalog.refreshByPath(tablePath)
  }
}

/** Log-backed [[FileIndex]]: the planner's question "which files must
  * this query read?" answered from the Delta log's per-file stats and
  * partitionValues — no directory listing, no footer I/O. Pinned at
  * build time to one table version (snapshot isolation). */
final class PortableDeltaFileIndex(
    spark: SparkSession,
    tablePath: String,
    private[stac] val snapBase: PortableDelta.Snapshot,
    addsDf: DataFrame) extends FileIndex {

  /** Exposed for gates/tests: the version this relation reads. */
  def version: Long = snapBase.version

  /** The pinned flat add frame + table path — the
    * [[OptimizeDeltaMetadataOnlyAgg]] seam. */
  private[stac] def adds: DataFrame = addsDf
  private[stac] def path: String = tablePath
  private[stac] def session: SparkSession = spark

  override val partitionSchema: StructType = StructType(
    snapBase.partitionColumns.map { n =>
      snapBase.schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalStateException(
          s"partition column $n missing from schema of $tablePath"))
        .copy(nullable = true) // the hive null partition reads as null
    })

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def refresh(): Unit = () // pinned snapshot — nothing to refresh

  /** Total live bytes from the log (drives broadcast decisions). One
    * executor-side fold over the add frame; never the file list. */
  override lazy val sizeInBytes: Long = {
    import org.apache.spark.sql.functions.sum
    val r = addsDf.agg(sum("size")).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  override def inputFiles: Array[String] =
    addsDf.select("path").collect().map(r =>
      PortableDelta.resolvedDataPath(tablePath, r.getString(0)).toString)

  /** Whether the table maps logical to physical column names — stats
    * JSON and partitionValues then key by PHYSICAL names. */
  private val mapped = PortableDelta.mappedCfg(snapBase.configuration)
  /** logical top-level name -> physical, for mapped lookups. */
  private val physOf: Map[String, String] =
    snapBase.schema.fields.map(f =>
      f.name -> PortableDelta.physFieldName(f)).toMap

  /** The pruning seam. Flat add-frame columns (FlatAddSchema): 0=path,
    * 1=size, 2=modificationTime, 3=dv_storageType, 8=stats,
    * 9=partitionValues. Partition filters AND data filters both route
    * through [[DeltaStats.satisfiable]] — partition pruning is exactly
    * data skipping over point ranges (min = max = the hive value), so
    * one conservative evaluator serves both. On a MAPPED table the
    * predicate's attributes and the probe schema rename to physical
    * first (stats/partitionValues key by physical names). Spark
    * re-applies the partition filters over the returned directory
    * values and the full predicate over rows; a file kept too eagerly
    * costs I/O, never correctness — and a file dropped wrongly cannot
    * happen because satisfiable() keeps on any uncertainty. Files with
    * DELETION VECTORS stay in the listing — min/max stats over a
    * superset of live rows prune conservatively, and the file format
    * drops the dead rows by parquet row index at read time. */
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val logicalPred = (partitionFilters ++ dataFilters)
      .reduceOption(And).getOrElse(Literal.TrueLiteral)
    // physical rename is a node-for-node map: attribute names move to
    // the stats' key domain, nested GetStructField ordinals are
    // position-stable under physDataType
    val (schema, pred) =
      if (!mapped) (snapBase.schema, logicalPred)
      else (PortableDelta.physSchemaOf(snapBase.schema),
        logicalPred.transform {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            physOf.get(a.name).map(p => a.withName(p)).getOrElse(a)
        })
    val survivors = addsDf.filter { (r: org.apache.spark.sql.Row) =>
      val pv = if (r.isNullAt(9)) Map.empty[String, String]
               else r.getMap[String, String](9).toMap
      DeltaStats.satisfiable(Option(r.getString(8)), pv, schema, pred)
    }.collect()

    survivors.toSeq
      .groupBy(r => if (r.isNullAt(9)) Map.empty[String, String]
                    else r.getMap[String, String](9).toMap)
      .map { case (pv, rows) =>
        val statuses = rows.map { r =>
          val st = new FileStatus(r.getLong(1), false, 0, 128L * 1024 * 1024,
            r.getLong(2),
            PortableDelta.resolvedDataPath(tablePath, r.getString(0)))
          // a DV-carrying file carries its ~100 B descriptor as file
          // metadata — it rides the PartitionedFile to exactly the
          // task reading this file (no driver map, no broadcast)
          val meta: Map[String, Any] =
            if (r.isNullAt(3)) Map.empty
            else Map(PortableDeltaFileIndex.DvMetaKey ->
              DvRef(r.getString(3), r.getString(4),
                if (r.isNullAt(5)) None else Some(r.getInt(5)),
                r.getInt(6), r.getLong(7)))
          org.apache.spark.sql.execution.datasources
            .FileStatusWithMetadata(st, meta)
        }
        PartitionDirectory(partitionRow(pv), statuses)
      }.toSeq
  }

  /** Log partitionValues (hive-serialized strings, LOG-authoritative —
    * never directory names) → one typed InternalRow in partitionSchema
    * order. An undecodable value errors loudly: silently nulling it
    * would answer queries wrong. */
  private def partitionRow(pv: Map[String, String]): InternalRow =
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map { f =>
      // mapped tables key partitionValues by PHYSICAL name; tolerate
      // logical-keyed maps from plainer writers (the buildScan rule)
      pv.get(physOf.getOrElse(f.name, f.name)).orElse(pv.get(f.name)).orElse(
          pv.collectFirst { case (k, v) if k.equalsIgnoreCase(f.name) => v })
        match {
          case None | Some(null) => null
          case Some("__HIVE_DEFAULT_PARTITION__") => null
          case Some(v) => castPartitionValue(v, f.dataType, f.name)
        }
    })

  private def castPartitionValue(v: String, dt: DataType, name: String): Any = {
    val out = try
      Cast(Literal(UTF8String.fromString(v), org.apache.spark.sql.types.StringType),
        dt, Option("UTC")).eval(null)
    catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalArgumentException(
        s"undecodable partition value for $name in $tablePath: '$v' as $dt", e)
    }
    if (out == null) throw new IllegalArgumentException(
      s"undecodable partition value for $name in $tablePath: '$v' as $dt")
    out
  }
}

object PortableDeltaFileIndex {
  /** File-metadata key carrying a [[DvRef]] on DV-carrying files —
    * private channel between [[PortableDeltaFileIndex.listFiles]] and
    * [[PortableDeltaReadOnlyFormat]]'s reader; never a declared
    * metadata column, so Spark's `_metadata` machinery ignores it. */
  private[stac] val DvMetaKey = "__portable_delta_dv_ref"
}

/** Restore COLUMNAR reads to the DV-free files of a partially-DV'd
  * table: one file with a deletion vector anywhere in the pinned
  * snapshot forces [[PortableDeltaReadOnlyFormat]] off the vectorized
  * batch path (the per-row bitmap probe needs the row pipeline) — a
  * table-wide 2-5× read penalty after ONE surgical DELETE, until an
  * OPTIMIZE collapses the DVs. At 100 TB that is millions of DV-free
  * files paying for a handful of recently-mutated ones.
  *
  * The rewrite (the per-file form of delta-spark's
  * DeltaParquetFileFormat trick, expressed in the V1 seam): a
  * [[LogicalRelation]] over a MIXED snapshot becomes
  *
  *   Union(scan of DV-free files   — stock columnar/vectorized,
  *         scan of DV-carrying files — row path + bitmap probe)
  *
  * Both legs are the SAME pinned snapshot partitioned by DV presence
  * (lazy filters over the pinned add frame — no extra log read), so
  * the union is value-identical by construction. Injected as a plain
  * optimizer rule ([[graft.GraftExtensions]]): it runs INSIDE the
  * operator-optimization fixed point, where the stock
  * PushDownPredicates / ColumnPruning rules then push the query's
  * filters and projections into BOTH legs — pushdown, partition
  * pruning, and log-stats file skipping all survive the split (each
  * leg's FileIndex prunes independently). Runtime arming via [[arm]]
  * lands in `extraOptimizations` (post-optimization): value-correct,
  * but filters above the union are no longer pushed into the legs —
  * the extensions path is the documented deployment.
  *
  * Tables with NO DVs never arm the split (the relation's
  * `needsDvSplit` is pinned at build time); fully-DV'd tables keep
  * the single row-path scan (a DV-free leg would be empty). Sessions
  * without the extension keep round-15 behavior: one row-path scan,
  * correct, just not columnar. */
object SplitDvScan extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Union}
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  /** Session dial (default on). */
  val ConfKey = "spark.graft.delta.splitDvScan.enabled"

  /** Arm an existing session (idempotent). `extraOptimizations` runs
    * AFTER the operator-optimization fixed point, so the stock
    * pushdown rules never revisit the union — the Filter case below
    * pushes the adjacent predicate itself, which keeps per-leg file
    * skipping and parquet pushdown on the common SELECT…WHERE shape;
    * the extensions path remains the fully-optimized deployment. */
  def arm(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(SplitDvScan))
      spark.experimental.extraOptimizations = cur :+ SplitDvScan
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(ConfKey, "true").toBoolean) return plan
    plan.transform {
      // Filter directly over the relation: push the predicate into
      // BOTH legs here (attributes remapped for the fresh-id leg) —
      // inside the fixed point this just saves an iteration; under
      // arm()'s late placement it is what keeps pushdown alive
      case Filter(cond, lr @ LogicalRelation(
          rel: PortableDeltaHadoopFsRelation, out, _, false, _))
          if rel.needsDvSplit =>
        val (freeRel, dvRel) = rel.splitByDv()
        val dvOut = out.map(_.newInstance())
        val remap = AttributeMap(out.zip(dvOut))
        val dvCond = cond.transform {
          case a: Attribute => remap.getOrElse(a, a)
        }
        Union(Seq(
          Filter(cond, lr.copy(relation = freeRel)),
          Filter(dvCond, lr.copy(relation = dvRel, output = dvOut,
            catalogTable = None))))
      case lr @ LogicalRelation(rel: PortableDeltaHadoopFsRelation,
          out, _, false, _) if rel.needsDvSplit =>
        val (freeRel, dvRel) = rel.splitByDv()
        // the DV-free leg keeps the original attribute ids (Union
        // output = first child's), so nothing upstream re-resolves;
        // the DV leg gets fresh ids
        Union(Seq(
          lr.copy(relation = freeRel),
          lr.copy(relation = dvRel, output = out.map(_.newInstance()),
            catalogTable = None)))
    }
  }
}
