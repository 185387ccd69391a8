package graft.stac

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType}
import scala.jdk.CollectionConverters._

/** Schema / property / feature evolution verbs of [[PortableDelta]]:
  * constraints, ICT, drop-feature, column mapping (rename/drop/disable),
  * addColumn, type widening, table properties, and row tracking. Split
  * from PortableDelta.scala; self-typed — behavior unchanged. */
private[stac] trait DeltaAlterOps extends Serializable { self: PortableDelta.type =>

  /** Table-property namespace of the spec's CHECK constraints. */
  val ConstraintPrefix = "delta.constraints."

  /** The spec's in-commit-timestamps enablement property: when "true",
    * every commit's commitInfo carries a monotonic `inCommitTimestamp`
    * that readers treat as the commit's authoritative time. */
  val IctProp = "delta.enableInCommitTimestamps"

  /** ALTER TABLE ADD CONSTRAINT ... CHECK (`sqlExpr`): existing rows
    * must already satisfy the expression (one distributed validation
    * scan — the Delta contract), then the constraint commits as the
    * spec's `delta.constraints.<name>` table property and every later
    * [[write]]/[[update]]/[[merge]] batch is validated against it
    * before anything lands. Enforcement is STRICT: a row passes only
    * when the expression IS TRUE (null = violation), Delta's
    * semantics. The protocol upgrades to the CHECK-constraints writer
    * level (legacy writer 3, or the `checkConstraints` writer feature
    * on table-features protocols) — readers are unaffected. */
  def addCheckConstraint(spark: SparkSession, path: String,
                         name: String, sqlExpr: String,
                         maxRetries: Int = 10): Long = {
    import org.apache.spark.sql.functions.{expr, lit, not}
    require(name.matches("[a-zA-Z][a-zA-Z0-9_]*"),
      s"constraint name must be an identifier, got '$name'")
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, path)
      requireWritable(snap, path)
      val key = ConstraintPrefix + name
      require(!snap.configuration.contains(key),
        s"constraint $name already exists on $path: ${snap.configuration(key)}")
      val violations = snapshotDf(spark, path, snap)
        .filter(not(expr(sqlExpr) <=> lit(true))).count()
      require(violations == 0,
        s"cannot add CHECK constraint $name ($sqlExpr): $violations existing " +
          s"row(s) violate it")
      val now = System.currentTimeMillis()
      val actions = Seq.newBuilder[JsonNode]
      actions += commitInfo(now, s"ADD CONSTRAINT $name")
      if (snap.minWriterVersion >= 7) {
        if (!snap.writerFeatures.contains("checkConstraints")) {
          val r = mapper.createObjectNode()
          val b = r.putObject("protocol")
          b.put("minReaderVersion", snap.minReaderVersion)
          b.put("minWriterVersion", snap.minWriterVersion)
          if (snap.readerFeatures.nonEmpty) {
            val a = b.putArray("readerFeatures"); snap.readerFeatures.foreach(a.add)
          }
          val a = b.putArray("writerFeatures")
          (snap.writerFeatures :+ "checkConstraints").foreach(a.add)
          actions += r
        }
      } else if (snap.minWriterVersion < 3) {
        val r = mapper.createObjectNode()
        val b = r.putObject("protocol")
        b.put("minReaderVersion", snap.minReaderVersion)
        b.put("minWriterVersion", 3)
        actions += r
      }
      actions += metaDataAction(snap.tableId, snap.schema,
        snap.configuration + (key -> sqlExpr), now, snap.partitionColumns)
      try {
        commit(conf, path, snap.version + 1, actions.result(),
          snap.configuration)
        return snap.version + 1
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"addCheckConstraint on $path lost the commit race $attempt " +
                s"times (last: ${e.getMessage})", e)
          // loop: revalidate against the new state
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** ALTER TABLE DROP CONSTRAINT: remove `delta.constraints.<name>`. */
  def dropCheckConstraint(spark: SparkSession, path: String, name: String,
                          maxRetries: Int = 10): Long = {
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, path)
      requireWritable(snap, path)
      val key = ConstraintPrefix + name
      require(snap.configuration.contains(key),
        s"no constraint $name on $path")
      val now = System.currentTimeMillis()
      val actions = Seq.newBuilder[JsonNode]
      actions += commitInfo(now, s"DROP CONSTRAINT $name")
      actions += metaDataAction(snap.tableId, snap.schema,
        snap.configuration - key, now, snap.partitionColumns)
      try {
        commit(conf, path, snap.version + 1, actions.result(),
          snap.configuration)
        return snap.version + 1
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"dropCheckConstraint on $path lost the commit race " +
                s"$attempt times (last: ${e.getMessage})", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** ALTER TABLE ... SET TBLPROPERTIES (delta.enableInCommitTimestamps
    * = true): enable monotonic in-commit timestamps mid-table. One
    * commit that (a) raises the protocol to writer 7 with the
    * `inCommitTimestamp` writer feature (readers unaffected — ICT is
    * write-side), (b) re-states metaData with the enablement property
    * plus the spec's provenance properties (enablement version +
    * timestamp, which let readers know timestamps BEFORE this version
    * are wall-clock), and (c) itself carries the first
    * `inCommitTimestamp`. Tables created with the property in
    * `properties` get stamping from version 0 without this call.
    * Subsequent commits on every path (write/DELETE/UPDATE/MERGE/
    * OPTIMIZE/RESTORE/constraints) stamp automatically in [[commit]].
    * Returns the enablement version. */
  def enableInCommitTimestamps(spark: SparkSession, path: String,
                               maxRetries: Int = 10): Long = {
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, path)
      requireWritable(snap, path)
      if (snap.configuration.get(IctProp).contains("true"))
        return snap.version // already enabled — idempotent
      val now = System.currentTimeMillis()
      val v = snap.version + 1
      val actions = Seq.newBuilder[JsonNode]
      actions += commitInfo(now, "SET TBLPROPERTIES (inCommitTimestamps)")
      // featureUpgradeAction folds legacy-implied features into the
      // version-7 lists (same contract as every other upgrade site)
      featureUpgradeAction(snap, Nil, Seq("inCommitTimestamp"))
        .foreach(actions += _)
      val cfg = snap.configuration +
        (IctProp -> "true") +
        ("delta.inCommitTimestampEnablementVersion" -> v.toString) +
        ("delta.inCommitTimestampEnablementTimestamp" -> now.toString)
      actions += metaDataAction(snap.tableId, snap.schema, cfg, now,
        snap.partitionColumns)
      try {
        commit(conf, path, v, actions.result(), cfg)
        return v
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"enableInCommitTimestamps on $path lost the commit race " +
                s"$attempt times (last: ${e.getMessage})", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** ALTER TABLE ... DROP FEATURE — the spec's feature-removal
    * protocol (delta-spark's `dropFeatureSupport`): re-protocol the
    * table WITHOUT `name` so engines that lack the feature regain
    * access. Three gates, each refusing BY NAME:
    *
    *   1. the feature must be EXPLICITLY listed on the current
    *      protocol (legacy-implied features have no list to shrink);
    *   2. the CURRENT version must hold no trace — live deletion
    *      vectors (run [[reorgPurge]] first), an enabling table
    *      property still `true`, column-mapping mode still active,
    *      constraints / generation expressions / identity / default /
    *      invariant metadata still on the schema, NTZ or VARIANT
    *      columns still present, a live clustering domain, a v2-layout
    *      current checkpoint;
    *   3. READER-facing features (data-encoding ones) additionally
    *      require `truncateHistory = true`: historical versions still
    *      carry the encoding, so after the downgrade commit this verb
    *      writes a checkpoint at it and truncates the ENTIRE earlier
    *      log + superseded checkpoints — pre-drop time travel is gone,
    *      exactly delta-spark's `DROP FEATURE ... TRUNCATE HISTORY`
    *      trade. Writer-only features (and `vacuumProtocolCheck`,
    *      which encodes nothing in data) drop in one commit with
    *      history intact.
    *
    * The emitted protocol normalizes: when the remaining writer
    * features are EXACTLY a legacy tier's implied set (and the reader
    * list fits its legacy version), the table returns to plain legacy
    * versions; otherwise it stays (3, 7) with the shrunk lists.
    * Residual bookkeeping of the dropped feature (the rowTracking
    * domain + materialized-column property, ICT provenance properties,
    * stale `delta.feature.<name>` requests) leaves in the SAME commit.
    * Small-state read (one flat-add DV probe for deletionVectors);
    * O(1) driver cost. */
  def dropFeatureSupport(spark: SparkSession, path: String, name: String,
                         truncateHistory: Boolean = false,
                         maxRetries: Int = 10): Long = {
    val conf = spark.sessionState.newHadoopConf()
    import org.apache.spark.sql.functions.col
    var attempt = 0
    while (true) {
      val ls = logState(spark, path, None)
      val snap = ls.small
      requireWritable(snap, path)
      val listed = snap.readerFeatures.contains(name) ||
        snap.writerFeatures.contains(name)
      require(listed,
        s"feature '$name' is not listed on $path's protocol " +
          s"(reader=${snap.readerFeatures.mkString("[", ",", "]")}, " +
          s"writer=${snap.writerFeatures.mkString("[", ",", "]")}) — " +
          "legacy-implied features cannot be dropped")
      val cfg = snap.configuration
      def requirePropOff(prop: String): Unit =
        require(!cfg.get(prop).contains("true"),
          s"cannot drop '$name' from $path while $prop=true — unset the " +
            "property first")
      // per-feature trace gates + residual-bookkeeping removal
      val domainRemovals = Seq.newBuilder[JsonNode]
      var newCfg = cfg - s"delta.feature.$name"
      name match {
        case "deletionVectors" =>
          requirePropOff("delta.enableDeletionVectors")
          val dvFiles = ls.files(_.dv.isDefined)
          require(dvFiles.isEmpty,
            s"cannot drop 'deletionVectors' from $path: ${dvFiles.size} live " +
              "file(s) still carry deletion vectors — run reorgPurge first")
        case "columnMapping" =>
          require(!mappedCfg(cfg),
            s"cannot drop 'columnMapping' from $path while " +
              s"$ColumnMappingModeProp is active")
        case "changeDataFeed" => requirePropOff("delta.enableChangeDataFeed")
        case "appendOnly" => requirePropOff("delta.appendOnly")
        case "checkpointProtection" =>
          // the feature's trace is its boundary property: while set,
          // cleanup rules still bind every writer — delisting first
          // would undeclare an obligation the table still imposes
          require(!cfg.contains(CheckpointProtectionProp),
            s"cannot drop 'checkpointProtection' from $path while " +
              s"$CheckpointProtectionProp is set — unset it first " +
              "(the protected region's cleanup rules still bind writers)")
        case "rowTracking" =>
          requirePropOff(RowTrackingProp)
          if (snap.domainMetadata.contains(RowTrackingDomain))
            domainRemovals +=
              domainMetadataAction(RowTrackingDomain, "", removed = true)
          newCfg = newCfg - RowTrackingProp - MaterializedRowIdProp
        case "inCommitTimestamp" =>
          requirePropOff(IctProp)
          newCfg = newCfg - IctProp -
            "delta.inCommitTimestampEnablementVersion" -
            "delta.inCommitTimestampEnablementTimestamp"
        case "checkConstraints" =>
          val cs = cfg.keys.filter(_.startsWith(ConstraintPrefix)).toSeq.sorted
          require(cs.isEmpty,
            s"cannot drop 'checkConstraints' from $path: constraints " +
              s"${cs.mkString(", ")} still defined — drop them first")
        case "generatedColumns" =>
          val gs = generatedFields(snap.schema).map(_._1.name)
          require(gs.isEmpty,
            s"cannot drop 'generatedColumns' from $path: column(s) " +
              s"${gs.mkString(", ")} still carry generation expressions")
        case "identityColumns" =>
          val is = identityFields(snap.schema).map(_.field.name)
          require(is.isEmpty,
            s"cannot drop 'identityColumns' from $path: column(s) " +
              s"${is.mkString(", ")} still carry identity metadata")
        case "allowColumnDefaults" =>
          val ds = snap.schema.fields.toSeq
            .filter(_.metadata.contains("CURRENT_DEFAULT")).map(_.name)
          require(ds.isEmpty,
            s"cannot drop 'allowColumnDefaults' from $path: column(s) " +
              s"${ds.mkString(", ")} still carry defaults")
        case "invariants" =>
          val vs = snap.schema.fields.toSeq
            .filter(_.metadata.contains("delta.invariants")).map(_.name)
          require(vs.isEmpty,
            s"cannot drop 'invariants' from $path: column(s) " +
              s"${vs.mkString(", ")} still carry invariants")
        case "typeWidening" =>
          requirePropOff("delta.enableTypeWidening")
          val ws = snap.schema.fields.toSeq
            .filter(_.metadata.contains("delta.typeWidening")).map(_.name)
          require(ws.isEmpty,
            s"cannot drop 'typeWidening' from $path: column(s) " +
              s"${ws.mkString(", ")} still carry widening history")
          newCfg = newCfg - "delta.enableTypeWidening"
        case "timestampNtz" =>
          require(!containsNtz(snap.schema),
            s"cannot drop 'timestampNtz' from $path: the schema still has " +
              "TIMESTAMP WITHOUT TIME ZONE column(s)")
        case "variantType" =>
          require(!containsVariant(snap.schema),
            s"cannot drop 'variantType' from $path: the schema still has " +
              "VARIANT column(s)")
        case "clustering" =>
          require(!snap.domainMetadata.contains("delta.clustering"),
            s"cannot drop 'clustering' from $path while the " +
              "delta.clustering domain is live — ALTER ... CLUSTER BY NONE first")
        case "v2Checkpoint" =>
          require(!cfg.get("delta.checkpointPolicy").contains("v2"),
            s"cannot drop 'v2Checkpoint' from $path while " +
              "delta.checkpointPolicy=v2")
          newCfg = newCfg - "delta.checkpointPolicy"
          ls.checkpoint.foreach { ref =>
            val fs = logDir(path).getFileSystem(conf)
            val uuidAt = (f"${ref.version}%020d" +
              "\\.checkpoint\\.[0-9a-fA-F-]{36}\\.parquet").r
            val hasV2 = fs.listStatus(logDir(path)).exists(s =>
              uuidAt.pattern.matcher(s.getPath.getName).matches())
            require(!hasV2,
              s"cannot drop 'v2Checkpoint' from $path: the current " +
                s"checkpoint (v${ref.version}) is v2-layout — write a " +
                "classic checkpoint first")
          }
        case "domainMetadata" =>
          // the feature's trace is the live domains themselves, plus any
          // listed feature whose state RIDES on domain actions — delisting
          // while either survives emits a protocol no writer could honor
          require(snap.domainMetadata.isEmpty,
            s"cannot drop 'domainMetadata' from $path while domain(s) " +
              s"${snap.domainMetadata.keys.toSeq.sorted.mkString(", ")} " +
              "are live — remove them first")
          val dependents = snap.writerFeatures.toSet
            .intersect(Set("clustering", "rowTracking"))
          require(dependents.isEmpty,
            s"cannot drop 'domainMetadata' from $path: feature(s) " +
              s"${dependents.toSeq.sorted.mkString(", ")} depend on domain " +
              "actions — drop them first")
        case "vacuumProtocolCheck" => // no data trace
        case other =>
          throw new IllegalArgumentException(
            s"don't know how to validate removal of feature '$other' — " +
              "refusing to emit a protocol this engine cannot vouch for")
      }
      // reader-facing features leave their encoding in HISTORY: require
      // the explicit truncation opt-in (vacuumProtocolCheck encodes
      // nothing in data files and drops history-intact)
      val readerFacing = SupportedReaderFeatures.contains(name) &&
        name != "vacuumProtocolCheck"
      require(!readerFacing || truncateHistory,
        s"'$name' is a reader-facing feature: historical versions still " +
          "carry its encoding, so dropping it requires truncateHistory = " +
          "true (pre-drop time travel is lost) — the spec's DROP FEATURE " +
          "... TRUNCATE HISTORY trade")
      val newRf = snap.readerFeatures.filterNot(_ == name)
      val newWf = snap.writerFeatures.filterNot(_ == name)
      // protocol normalization: an exact legacy tier match returns the
      // table to plain versions (delta-spark's downgrade rule)
      val legacyWv = (2 to 6).find(wv =>
        legacyWriterFeatures(wv) == newWf.toSet &&
          (newRf.isEmpty || (newRf.toSet == Set("columnMapping"))))
      val r = mapper.createObjectNode()
      val b = r.putObject("protocol")
      legacyWv match {
        case Some(wv) =>
          b.put("minReaderVersion",
            if (newRf.toSet == Set("columnMapping")) 2 else 1)
          b.put("minWriterVersion", wv)
        case None =>
          b.put("minReaderVersion", if (newRf.nonEmpty) 3 else 1)
          b.put("minWriterVersion", 7)
          if (newRf.nonEmpty) {
            val a = b.putArray("readerFeatures"); newRf.foreach(a.add)
          }
          val a = b.putArray("writerFeatures"); newWf.foreach(a.add)
      }
      val now = System.currentTimeMillis()
      val v = snap.version + 1
      val actions = Seq.newBuilder[JsonNode]
      actions += commitInfo(now, s"DROP FEATURE ($name)")
      actions += r
      actions ++= domainRemovals.result()
      if (newCfg != cfg)
        actions += metaDataAction(snap.tableId, snap.schema, newCfg, now,
          snap.partitionColumns)
      try {
        commit(conf, path, v, actions.result(), newCfg,
          crcDelta = Some((0L, 0L)))
        if (readerFacing) {
          // history still encodes the dropped feature: checkpoint at the
          // downgraded version, then truncate everything before it
          checkpoint(spark, path)
          cleanupLog(conf, path)
          cleanupCheckpoints(spark, path)
        }
        return v
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"dropFeatureSupport($name) on $path lost the commit race " +
                s"$attempt times (last: ${e.getMessage})", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Stamp every unstamped field (incl. nested struct fields) with a
    * fresh `delta.columnMapping.id` and a `physicalName` equal to its
    * CURRENT name — the enable-on-existing-table convention: prior
    * parquet keeps resolving by name, and later renames touch only the
    * LOGICAL name. Returns (stamped schema, new max column id). */
  private[stac] def stampMapping(schema: StructType, startId: Long): (StructType, Long) = {
    var id = startId
    def stampType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(stampField))
      case org.apache.spark.sql.types.ArrayType(e, n) =>
        org.apache.spark.sql.types.ArrayType(stampType(e), n)
      case org.apache.spark.sql.types.MapType(k, v, n) =>
        org.apache.spark.sql.types.MapType(stampType(k), stampType(v), n)
      case other => other
    }
    def stampField(f: StructField): StructField = {
      val dt = stampType(f.dataType)
      if (f.metadata.contains("delta.columnMapping.physicalName"))
        f.copy(dataType = dt)
      else {
        id += 1
        val m = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", f.name)
          .build()
        f.copy(dataType = dt, metadata = m)
      }
    }
    (StructType(schema.fields.map(stampField)), id)
  }

  /** Refuse schema surgery on a column a CHECK constraint references —
    * the rename/drop would silently invalidate the constraint for
    * every later writer (Delta blocks this the same way). Word-bounded
    * match, case-insensitive (SQL identifiers). */
  private[stac] def guardConstraintRefs(cfg: Map[String, String], colName: String,
                                  what: String): Unit = {
    val re = ("(^|[^a-z0-9_])" +
      java.util.regex.Pattern.quote(colName.toLowerCase) +
      "($|[^a-z0-9_])").r
    cfg.toSeq.sortBy(_._1).foreach { case (k, v) =>
      if (k.startsWith(ConstraintPrefix))
        require(re.findFirstIn(v.toLowerCase).isEmpty,
          s"cannot $what column $colName: CHECK constraint " +
            s"${k.stripPrefix(ConstraintPrefix)} ($v) references it — " +
            "drop the constraint first")
    }
  }

  /** Shared commit loop of the column-mapping schema surgeries: enable
    * mapping if the table doesn't carry it yet (stamping ids/physical
    * names, declaring the `columnMapping` feature on BOTH protocol
    * sides), apply `transform` to (schema, partitionColumns), commit
    * the re-stated metaData with optimistic-concurrency retries. */
  private[stac] def alterMapping(spark: SparkSession, path: String, op: String,
      maxRetries: Int)(
      transform: (StructType, Seq[String], Map[String, String]) =>
        (StructType, Seq[String])): Long = {
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, path)
      requireWritable(snap, path)
      val (stamped, cfg) =
        if (mappedCfg(snap.configuration)) (snap.schema, snap.configuration)
        else {
          val maxId0 = snap.configuration.get(MaxColumnIdProp)
            .map(_.toLong).getOrElse(0L)
          val (s2, maxId) = stampMapping(snap.schema, maxId0)
          (s2, snap.configuration +
            (ColumnMappingModeProp -> "name") +
            (MaxColumnIdProp -> maxId.toString))
        }
      val (newSchema, newPartCols) =
        transform(stamped, snap.partitionColumns, cfg)
      val now = System.currentTimeMillis()
      val actions = Seq.newBuilder[JsonNode]
      actions += commitInfo(now, op)
      featureUpgradeAction(snap, Seq("columnMapping"), Seq("columnMapping"))
        .foreach(actions += _)
      actions += metaDataAction(snap.tableId, newSchema, cfg, now, newPartCols)
      try {
        commit(conf, path, snap.version + 1, actions.result(), cfg)
        return snap.version + 1
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"$op on $path lost the commit race $attempt times " +
                s"(last: ${e.getMessage})", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** ALTER TABLE ... RENAME COLUMN — the column-mapping WRITE side
    * (read interop landed first; this is its producing half). A
    * metadata-only commit: no parquet byte moves, the field keeps its
    * `delta.columnMapping.physicalName` (and id) so every existing
    * file — and every existing cdc file — keeps resolving; only the
    * LOGICAL name in schemaString changes. A table not yet on column
    * mapping is upgraded in the same commit (mode=name, ids + physical
    * names stamped, `columnMapping` feature declared both sides).
    * Partition columns rename consistently (old adds' partitionValues
    * stay keyed by the physical name, which the reader resolves).
    * Appends/UPDATE/MERGE/OPTIMIZE after the rename stage parquet
    * under PHYSICAL names — what external mapped readers expect.
    * Reference scope: stac-geoparquet has no schema-surgery surface;
    * this mirrors delta-spark's `ALTER TABLE RENAME COLUMN`. */
  def renameColumn(spark: SparkSession, path: String,
                   oldName: String, newName: String,
                   maxRetries: Int = 10): Long =
    alterMapping(spark, path, s"RENAME COLUMN ($oldName TO $newName)",
      maxRetries) { (schema, partCols, cfg) =>
      require(schema.fieldNames.contains(oldName),
        s"no column $oldName in ${schema.fieldNames.mkString("[", ", ", "]")}")
      require(!schema.fieldNames.contains(newName),
        s"column $newName already exists")
      guardConstraintRefs(cfg, oldName, "rename")
      (StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f)),
        partCols.map(c => if (c == oldName) newName else c))
    }

  /** ALTER TABLE ... DROP COLUMN — metadata-only under column mapping:
    * the field leaves schemaString, its bytes stay in the parquet
    * files (ignored by every mapped reader); time travel to pre-drop
    * versions still reads it. Same auto-upgrade as [[renameColumn]]. */
  def dropColumn(spark: SparkSession, path: String, name: String,
                 maxRetries: Int = 10): Long =
    alterMapping(spark, path, s"DROP COLUMN ($name)", maxRetries) {
      (schema, partCols, cfg) =>
        require(schema.fieldNames.contains(name),
          s"no column $name in ${schema.fieldNames.mkString("[", ", ", "]")}")
        require(!partCols.contains(name),
          s"cannot drop partition column $name")
        require(schema.fields.length > 1, "cannot drop the last column")
        guardConstraintRefs(cfg, name, "drop")
        (StructType(schema.fields.filterNot(_.name == name)), partCols)
    }

  /** Un-map a column-mapped table — the prerequisite that makes
    * `DROP FEATURE columnMapping` ([[dropFeatureSupport]]) reachable:
    * the drop's trace gate refuses while `delta.columnMapping.mode` is
    * active, and this is the verb that deactivates it SOUNDLY. Two
    * shapes, chosen by what the parquet bytes actually hold:
    *
    *   - **identity mapping** (mapping was enabled on an existing
    *     table and no rename/re-add diverged any physical name): the
    *     bytes already carry the logical names, so this is a
    *     metadata-only commit — mapping ids/physicalNames leave the
    *     schema, mode + maxColumnId leave the configuration. One
    *     guard: a previously DROPPED column's bytes still lingering in
    *     any footer would become a zombie (an unmapped re-add of that
    *     name would resurrect them) — refused by name, pointing at
    *     [[reorgPurge]]`(purgeDroppedColumns = true)`.
    *   - **diverged names** (a RENAME happened, or [[addColumn]] minted
    *     UUID physical names): every live file is rewritten under the
    *     LOGICAL names in ONE commit — remove(all) + add(staged) with
    *     `dataChange=false` both sides + the un-mapped metaData, so no
    *     reader ever sees a mixed state. DVs purge with the rewrite
    *     (the scan applies them); original row IDs materialize through
    *     it on row-tracked tables. A lost commit race withdraws the
    *     staged files and restages from the fresh snapshot (full
    *     restage, not rebase — the rewrite spans every live file, so
    *     any concurrent commit invalidates it).
    *
    * The `columnMapping` feature stays LISTED on the protocol (it is
    * still required to READ pre-disable history); the follow-up
    * `dropFeatureSupport(_, _, "columnMapping", truncateHistory=true)`
    * removes it and truncates that history. Returns the commit
    * version. */
  def disableColumnMapping(spark: SparkSession, path: String,
                           targetFileBytes: Long = 128L << 20,
                           footerKv: Map[String, String] = Map.empty,
                           maxRetries: Int = 10): Long = {
    require(targetFileBytes > 0)
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    while (true) {
      val small = smallSnapshot(spark, path)
      requireWritable(small, path)
      require(mappedCfg(small.configuration),
        s"$path is not column-mapped — nothing to disable")
      val stripped = stripMappingMeta(small.schema)
      val newCfg = small.configuration - ColumnMappingModeProp - MaxColumnIdProp
      val now = System.currentTimeMillis()
      if (identityMapped(small.schema)) {
        // bytes already carry logical names — but a dropped column's
        // lingering bytes would zombie once the mapping is gone
        val probe = staleBytesProbe(spark, path, small)
        val stale = logState(spark, path, None).files(f => probe(f.path))
        require(stale.isEmpty,
          s"cannot disable column mapping on $path: ${stale.size} file(s) " +
            "still hold bytes of dropped column(s) — run " +
            "reorgPurge(purgeDroppedColumns = true) first")
        val actions = Seq(commitInfo(now, "UNSET COLUMN MAPPING"),
          metaDataAction(small.tableId, stripped, newCfg, now,
            small.partitionColumns))
        try {
          commit(conf, path, small.version + 1, actions, newCfg,
            crcDelta = Some((0L, 0L)))
          return small.version + 1
        } catch {
          case e: ConcurrentCommitException =>
            attempt += 1
            if (attempt > maxRetries) throw new IllegalStateException(
              s"disableColumnMapping on $path lost the commit race " +
                s"$attempt times (last: ${e.getMessage})", e)
        }
      } else {
        // diverged physical names: rewrite every live file under the
        // logical names, in the same commit as the metaData switch
        val snap = snapshot(spark, path)
        val victims = snap.files
        val bins = math.max(1L, (victims.map(_.size).sum +
          targetFileBytes - 1) / targetFileBytes).toInt
        val df = scanWithRidCol(spark, path, snap)
          .getOrElse(snapshotDf(spark, path, snap)).repartition(bins)
        val (added, cleanupMoved) = stageAndMove(df, path, footerKv, conf,
          snap.partitionColumns, physFor = None,
          physPassThrough = materializedRidCol(snap.configuration)
            .filter(df.columns.contains).toSet)
        val statsByName = DeltaStats.collectFileStats(
          spark, path, added.map(_.relPath), stripped, newCfg)
        val actions = Seq.newBuilder[JsonNode]
        actions += commitInfo(now, "UNSET COLUMN MAPPING",
          Map("numRemovedFiles" -> victims.size.toLong,
            "numAddedFiles" -> added.size.toLong))
        actions += metaDataAction(snap.tableId, stripped, newCfg, now,
          snap.partitionColumns)
        victims.foreach(f =>
          actions += removeActionNode(f, now, dataChange = false))
        val rt = assignRowIds(conf, path, snap.configuration,
          snap.domainMetadata, added, statsByName)
        added.foreach { f =>
          val r = mapper.createObjectNode()
          val b = r.putObject("add")
          b.put("path", f.relPath)
          putPartitionValues(b, f.partitionValues)
          b.put("size", f.status.getLen)
          b.put("modificationTime", f.status.getModificationTime)
          b.put("dataChange", false)
          statsByName.get(f.relPath).foreach(b.put("stats", _))
          rt.foreach { case (ids, _) =>
            b.put("baseRowId", ids(f.relPath))
            b.put("defaultRowCommitVersion", snap.version + 1)
          }
          actions += r
        }
        rt.foreach(t => actions += t._2)
        try {
          commit(conf, path, snap.version + 1, actions.result(), newCfg)
          return snap.version + 1
        } catch {
          case e: ConcurrentCommitException =>
            // the rewrite spans EVERY live file — any concurrent commit
            // invalidates it; withdraw and restage from fresh state
            cleanupMoved()
            attempt += 1
            if (attempt > maxRetries) throw new IllegalStateException(
              s"disableColumnMapping on $path lost the commit race " +
                s"$attempt times (last: ${e.getMessage}); staged files " +
                "withdrawn", e)
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Remove `delta.columnMapping.{id,physicalName}` from every field,
    * recursively through nested structs/arrays/maps. */
  private[stac] def stripMappingMeta(schema: StructType): StructType = {
    def stripType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(stripField))
      case org.apache.spark.sql.types.ArrayType(e, n) =>
        org.apache.spark.sql.types.ArrayType(stripType(e), n)
      case org.apache.spark.sql.types.MapType(k, v, n) =>
        org.apache.spark.sql.types.MapType(stripType(k), stripType(v), n)
      case other => other
    }
    def stripField(f: StructField): StructField =
      f.copy(dataType = stripType(f.dataType),
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .remove("delta.columnMapping.id")
          .remove("delta.columnMapping.physicalName").build())
    StructType(schema.fields.map(stripField))
  }

  /** True when every field's physical name (recursively) equals its
    * logical name — the enable-on-existing-table shape with no rename
    * or UUID-named re-add since. */
  private[stac] def identityMapped(schema: StructType): Boolean = {
    def okType(dt: DataType): Boolean = dt match {
      case s: StructType => s.fields.forall(okField)
      case org.apache.spark.sql.types.ArrayType(e, _) => okType(e)
      case org.apache.spark.sql.types.MapType(k, v, _) =>
        okType(k) && okType(v)
      case _ => true
    }
    def okField(f: StructField): Boolean =
      physFieldName(f) == f.name && okType(f.dataType)
    schema.fields.forall(okField)
  }

  /** ALTER TABLE ... ADD COLUMN — a metadata-only commit appending a
    * NULLABLE field at the end of the schema (the delta position
    * default): existing files simply read null for it, so no byte
    * moves and no mapping upgrade is forced. On an already-MAPPED
    * table the new field is born with a fresh id and a UUID physical
    * name (never the logical name — physical names must never be
    * reused, so a drop-then-re-add of the same logical name stays
    * unambiguous per spec). Small-state read; O(1) driver cost. */
  def addColumn(spark: SparkSession, path: String, name: String,
                dataType: DataType, comment: Option[String] = None,
                maxRetries: Int = 10): Long =
    addColumns(spark, path, Seq((name, dataType, comment)), maxRetries)

  /** Multi-column ADD COLUMNS in ONE commit (delta-spark parity:
    * `ALTER TABLE t ADD COLUMNS (a INT, b STRING)` is a single metaData
    * re-statement, never one commit per column — round 17; the
    * single-column [[addColumn]] delegates here). Per-column rules
    * unchanged: fields append nullable at the end; on a MAPPED table
    * each new field is born with a fresh id and a UUID physical name. */
  def addColumns(spark: SparkSession, path: String,
                 cols: Seq[(String, DataType, Option[String])],
                 maxRetries: Int = 10): Long = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    require(cols.map(_._1.toLowerCase(java.util.Locale.ROOT)).distinct.size ==
      cols.size,
      s"duplicate column name in ADD COLUMNS (${cols.map(_._1).mkString(", ")})")
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    while (true) {
      val snap = smallSnapshot(spark, path)
      requireWritable(snap, path)
      cols.foreach { case (name, _, _) =>
        require(!snap.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"column $name already exists in " +
            snap.schema.fieldNames.mkString("[", ", ", "]"))
      }
      val mapped = mappedCfg(snap.configuration)
      var nextId = snap.configuration.get(MaxColumnIdProp)
        .map(_.toLong).getOrElse(0L)
      val fields = cols.map { case (name, dataType, comment) =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
        comment.foreach(mb.putString("comment", _))
        if (mapped) {
          nextId += 1
          mb.putLong("delta.columnMapping.id", nextId)
          mb.putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID()}")
        }
        StructField(name, dataType, nullable = true, mb.build())
      }
      val cfg =
        if (mapped) snap.configuration + (MaxColumnIdProp -> nextId.toString)
        else snap.configuration
      val now = System.currentTimeMillis()
      val actions = Seq.newBuilder[JsonNode]
      actions += commitInfo(now,
        s"ADD COLUMNS (${cols.map(_._1).mkString(", ")})")
      // a COLLATED string column serializes portably via Spark's own
      // StructType JSON (__COLLATIONS metadata); the engine's obligation
      // is declaring the writer feature in the same commit
      if (cols.exists(c => hasCollatedStrings(c._2)))
        featureUpgradeAction(snap, Nil, Seq("collations")).foreach(actions += _)
      actions += metaDataAction(snap.tableId,
        StructType(snap.schema.fields.toSeq ++ fields), cfg, now,
        snap.partitionColumns)
      try {
        commit(conf, path, snap.version + 1, actions.result(), cfg)
        return snap.version + 1
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"addColumns(${cols.map(_._1).mkString(", ")}) on $path lost " +
                s"the commit race $attempt times (last: ${e.getMessage})", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The typeWidening feature's permitted promotions — every pair is
    * losslessly containable AND one Spark's parquet reader upcasts
    * natively when old files carry the narrower physical type
    * (verified: int32→long/double, float→double, int32 date→ntz).
    * long→double is NOT here (lossy above 2^53), per spec. */
  private[stac] def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
    case (ShortType, IntegerType | LongType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case (DateType, TimestampNTZType) => true
    case _ => false
  }

  /** ALTER TABLE ... ALTER COLUMN ... TYPE — the `typeWidening` table
    * feature: a metadata-only commit changing a column to a WIDER type
    * ([[widens]]); existing files keep their narrower parquet bytes and
    * the scan upcasts them (Spark's reader does this natively), new
    * writes land wide. The spec's per-field change history
    * (`delta.typeWidening` metadata: fromType/toType/tableVersion) is
    * recorded so external readers know which files predate the change.
    * Requires `delta.enableTypeWidening=true` (the delta opt-in — set
    * it via [[setTableProperties]]); declares the `typeWidening`
    * feature on BOTH protocol sides. Old stats keep skipping (a
    * narrower min/max is still a sound bound under the wider type);
    * date→timestampNtz stats stop pruning (string shape changes) —
    * conservative, never wrong. */
  def widenColumnType(spark: SparkSession, path: String, name: String,
                      newType: DataType, maxRetries: Int = 10): Long = {
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    while (true) {
      val snap = smallSnapshot(spark, path)
      requireWritable(snap, path)
      require(snap.configuration.get("delta.enableTypeWidening").contains("true"),
        s"type widening on $path needs delta.enableTypeWidening=true " +
          "(setTableProperties)")
      val i = snap.schema.fieldIndex(name)
      val f = snap.schema.fields(i)
      require(widens(f.dataType, newType),
        s"cannot widen $name: ${f.dataType.simpleString} -> " +
          s"${newType.simpleString} is not a lossless promotion " +
          "(byte/short/int->long/double, float->double, date->timestamp_ntz)")
      val v = snap.version + 1
      val hist = new org.apache.spark.sql.types.MetadataBuilder()
        .putString("fromType", f.dataType.typeName)
        .putString("toType", newType.typeName)
        .putLong("tableVersion", v).build()
      val prior0 =
        if (f.metadata.contains("delta.typeWidening"))
          f.metadata.getMetadataArray("delta.typeWidening").toSeq
        else Nil
      val fm = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putMetadataArray("delta.typeWidening", (prior0 :+ hist).toArray)
        .build()
      val newSchema = StructType(snap.schema.fields.updated(i,
        f.copy(dataType = newType, metadata = fm)))
      val now = System.currentTimeMillis()
      val actions = Seq.newBuilder[JsonNode]
      actions += commitInfo(now,
        s"ALTER COLUMN ($name TYPE ${newType.simpleString})")
      featureUpgradeAction(snap, Seq("typeWidening"), Seq("typeWidening"))
        .foreach(actions += _)
      actions += metaDataAction(snap.tableId, newSchema, snap.configuration,
        now, snap.partitionColumns)
      try {
        commit(conf, path, v, actions.result(), snap.configuration)
        return v
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"widenColumnType($name) on $path lost the commit race " +
                s"$attempt times (last: ${e.getMessage})", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Table properties whose semantics need a dedicated verb (state
    * backfill or irreversible protocol surgery) — the generic property
    * verbs refuse them BY NAME instead of committing half-configured
    * state. */
  private[stac] lazy val GuardedProps: Map[String, String] = Map(
    RowTrackingProp -> "use enableRowTracking (row IDs must backfill)",
    MaterializedRowIdProp -> "managed by enableRowTracking",
    ColumnMappingModeProp ->
      "use renameColumn/dropColumn (fields must be stamped with ids + physical names)",
    MaxColumnIdProp -> "managed by the column-mapping verbs")

  /** ALTER TABLE ... SET TBLPROPERTIES — a metadata-only commit merging
    * `props` into the table configuration. Properties that IMPLY
    * protocol features (delta.enableChangeDataFeed, ICT, appendOnly,
    * delta.feature.*) get the matching feature declared in the same
    * commit — the same heal-on-write contract every DML verb keeps, so
    * an external spec-compliant engine sees the feature the moment the
    * property appears. Properties needing real state machinery
    * (row tracking, column mapping) refuse by name. */
  def setTableProperties(spark: SparkSession, path: String,
                         props: Map[String, String],
                         maxRetries: Int = 10): Long = {
    // disabling row tracking (any non-"true" value) is a plain property
    // write — only ENABLING needs the backfill verb
    val bad = props.keySet.intersect(GuardedProps.keySet)
      .filterNot(k => k == RowTrackingProp &&
        !props(k).equalsIgnoreCase("true"))
    require(bad.isEmpty, bad.toSeq.sorted.map(k =>
      s"$k: ${GuardedProps(k)}").mkString("; "))
    alterProperties(spark, path,
      s"SET TBLPROPERTIES (${props.keys.toSeq.sorted.mkString(", ")})",
      maxRetries)(_ ++ props)
  }

  /** ALTER TABLE ... UNSET TBLPROPERTIES — removes `keys` (missing keys
    * are a no-op, the SQL semantic). The same guarded names refuse:
    * un-setting delta.columnMapping.mode would orphan every
    * physically-named file, and the spec forbids downgrading it. */
  def unsetTableProperties(spark: SparkSession, path: String,
                           keys: Seq[String],
                           maxRetries: Int = 10): Long = {
    // un-setting the row-tracking enablement ≡ disabling it — safe
    val bad = keys.toSet.intersect(GuardedProps.keySet) - RowTrackingProp
    require(bad.isEmpty, bad.toSeq.sorted.map(k =>
      s"$k: ${GuardedProps(k)}").mkString("; "))
    alterProperties(spark, path,
      s"UNSET TBLPROPERTIES (${keys.sorted.mkString(", ")})",
      maxRetries)(_ -- keys)
  }

  private[stac] def alterProperties(spark: SparkSession, path: String, op: String,
                              maxRetries: Int)(
      transform: Map[String, String] => Map[String, String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    while (true) {
      val snap = smallSnapshot(spark, path)
      requireWritable(snap, path)
      val cfg = transform(snap.configuration)
      // ENABLING icebergCompatV2 validates the EXISTING table first
      // (PROTOCOL.md: all live adds must carry numRecords, none may
      // carry a DV, mapping mode must be name/id). The add check runs
      // executor-side; only offending files reach the driver.
      if (icebergV2Enabled(cfg) && !icebergV2Enabled(snap.configuration)) {
        val mode = cfg.getOrElse("delta.columnMapping.mode", "none")
        require(mode == "name" || mode == "id",
          s"cannot enable $IcebergV2Prop on $path: requires " +
            s"delta.columnMapping.mode 'name' or 'id' (got '$mode') — " +
            "refusing to commit")
        def noNumRecords(f: AddFile) = !f.stats.exists(_.contains("\"numRecords\""))
        val bad = logState(spark, path, None)
          .files(f => f.dv.isDefined || noNumRecords(f))
        val (nDv, nNoStats) = (bad.count(_.dv.isDefined).toLong,
          bad.count(noNumRecords).toLong)
        require(nDv == 0L && nNoStats == 0L,
          s"cannot enable $IcebergV2Prop on $path: $nDv live file(s) " +
            s"carry deletion vectors and $nNoStats lack the numRecords " +
            "statistic — purge DVs (OPTIMIZE) and recompute stats first " +
            "— refusing to commit")
      }
      val now = System.currentTimeMillis()
      val actions = Seq.newBuilder[JsonNode]
      actions += commitInfo(now, op)
      featureUpgradeAction(snap, cfgReaderFeatures(cfg),
        cfgWriterFeatures(cfg)).foreach(actions += _)
      actions += metaDataAction(snap.tableId, snap.schema, cfg, now,
        snap.partitionColumns)
      try {
        commit(conf, path, snap.version + 1, actions.result(), cfg)
        return snap.version + 1
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"$op on $path lost the commit race $attempt times " +
                s"(last: ${e.getMessage})", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** `delta.enableRowTracking` — every add carries a `baseRowId` (the
    * file's rows get stable IDs baseRowId..baseRowId+numRecords-1) and
    * a `defaultRowCommitVersion`; the fresh-ID high-water mark lives in
    * the `delta.rowTracking` domainMetadata. */
  val RowTrackingProp = "delta.enableRowTracking"
  private[stac] val RowTrackingDomain = "delta.rowTracking"
  /** Column name (table property) row-ID-preserving rewrites materialize
    * original IDs into — readers resolve a row's ID as
    * coalesce(materialized, baseRowId + row_index). */
  val MaterializedRowIdProp = "delta.rowTracking.materializedRowIdColumnName"

  private[stac] def rowTrackingEnabled(cfg: Map[String, String]): Boolean =
    cfg.get(RowTrackingProp).contains("true")

  /** The configured materialized-row-id column name, when row tracking
    * is on — the column ID-preserving rewrites must carry. */
  private[stac] def materializedRidCol(cfg: Map[String, String]): Option[String] =
    if (rowTrackingEnabled(cfg)) cfg.get(MaterializedRowIdProp) else None

  /** A row-ID expression over a position-exposing scan of `files`:
    * coalesce(materialized column, file baseRowId + row index) — the
    * spec's row-ID resolution, stable across rewrites. The frame must
    * carry [[PosFileCol]]/[[PosIdxCol]] and (when present in the files)
    * the materialized column as an extra scan column. */
  private[stac] def ridExpr(files: Seq[AddFile], relDepth: Int,
                      mcol: Option[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, col, element_at, typedLit}
    val baseByKey = files.collect {
      case f if f.baseRowId.isDefined => logKey(f.path, relDepth) -> f.baseRowId.get
    }.toMap
    val defaultRid =
      if (baseByKey.isEmpty) org.apache.spark.sql.functions.lit(null).cast("bigint")
      else element_at(typedLit(baseByKey), col(PosFileCol)) + col(PosIdxCol)
    mcol.map(m => coalesce(quotedCol(m), defaultRid)).getOrElse(defaultRid)
  }

  /** The LIVE table scan with each row's original row ID materialized
    * into the configured column — the frame an ID-preserving rewrite
    * (OPTIMIZE / ZORDER) stages, so compaction keeps every row's
    * identity per the row-tracking spec. None when row tracking (or the
    * materialized column) is off. */
  private[stac] def scanWithRidCol(spark: SparkSession, path: String,
                             snap: Snapshot): Option[DataFrame] =
    materializedRidCol(snap.configuration).map { m =>
      val base = buildScan(spark, path, snap, withPos = true, applyDvs = true,
        extraCols = Seq(m))
      base.withColumn(m,
          ridExpr(snap.files, snap.partitionColumns.size + 1, Some(m)))
        .drop(PosFileCol, PosIdxCol)
    }

  private[stac] def rowIdHighWaterMark(dm: Map[String, String]): Long =
    dm.get(RowTrackingDomain).flatMap { j =>
      try Option(mapper.readTree(j).get("rowIdHighWaterMark")).map(_.asLong())
      catch { case _: Exception => None }
    }.getOrElse(-1L)

  private[stac] def domainMetadataAction(domain: String, configuration: String,
                                   removed: Boolean = false): JsonNode = {
    val r = mapper.createObjectNode()
    val b = r.putObject("domainMetadata")
    b.put("domain", domain); b.put("configuration", configuration)
    b.put("removed", removed)
    r
  }

  private[stac] def numRecordsOf(conf: Configuration, path: String,
                           relPath: String, statsJson: Option[String]): Long =
    statsJson.flatMap { j =>
      try Option(mapper.readTree(j).get("numRecords")).map(_.asLong())
      catch { case _: Exception => None }
    }.getOrElse(parquetRowCount(conf, resolvedDataPath(path, relPath)))

  /** Fresh base row IDs for the commit's new files: consecutive ranges
    * from the snapshot's high-water mark (each file reserves its row
    * count; numRecords comes from the just-harvested stats — no extra
    * I/O), plus the domainMetadata action publishing the new mark.
    * None when row tracking is off. */
  private[stac] def assignRowIds(conf: Configuration, path: String,
                           cfg: Map[String, String], dm: Map[String, String],
                           added: Seq[StagedFile],
                           statsByName: Map[String, String])
      : Option[(Map[String, Long], JsonNode)] = {
    if (!rowTrackingEnabled(cfg) || added.isEmpty) return None
    var hwm = rowIdHighWaterMark(dm)
    val ids = added.map { f =>
      val base = hwm + 1
      hwm = base + math.max(1L,
        numRecordsOf(conf, path, f.relPath, statsByName.get(f.relPath))) - 1
      f.relPath -> base
    }.toMap
    Some((ids, domainMetadataAction(RowTrackingDomain,
      s"""{"rowIdHighWaterMark":$hwm}""")))
  }

  /** Enable row tracking on an existing table (delta-spark's
    * `delta.enableRowTracking=true` ALTER): one commit that (a) raises
    * the protocol to writer 7 with the `rowTracking` + `domainMetadata`
    * writer features (readers unaffected — row IDs are write-side
    * bookkeeping), (b) re-states metaData with the property plus a
    * generated materialized-row-id column name, (c) BACKFILLS every
    * live add with a baseRowId/defaultRowCommitVersion (dataChange =
    * false re-adds — replay last-wins keeps one live entry per path),
    * and (d) publishes the high-water mark in the `delta.rowTracking`
    * domainMetadata. After this, every committing path assigns fresh
    * IDs to its adds, [[update]] and [[merge]] PRESERVE IDs across row
    * rewrites via the materialized column (a MERGE-updated row keeps
    * its target row's ID), [[optimizeCompact]]/[[optimizeZOrder]]
    * materialize original IDs through compaction (layout changes never
    * change a row's identity), and [[readChanges]] pairs UPDATE-shaped
    * commits into update_preimage/update_postimage rows even without
    * cdc files. Backfill numRecords comes from logged stats (footer
    * reads only for stats-less files). Returns the enablement version. */
  def enableRowTracking(spark: SparkSession, path: String,
                        maxRetries: Int = 10): Long = {
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, path)
      requireWritable(snap, path)
      if (rowTrackingEnabled(snap.configuration)) return snap.version
      val now = System.currentTimeMillis()
      val v = snap.version + 1
      val actions = Seq.newBuilder[JsonNode]
      actions += commitInfo(now, "SET TBLPROPERTIES (rowTracking)")
      featureUpgradeAction(snap, Nil, Seq("rowTracking", "domainMetadata"))
        .foreach(actions += _)
      val cfg = snap.configuration +
        (RowTrackingProp -> "true") +
        (MaterializedRowIdProp ->
          s"_row-id-col-${java.util.UUID.randomUUID()}")
      actions += metaDataAction(snap.tableId, snap.schema, cfg, now,
        snap.partitionColumns)
      var hwm = rowIdHighWaterMark(snap.domainMetadata)
      snap.files.foreach { f =>
        val base = hwm + 1
        hwm = base + math.max(1L,
          numRecordsOf(conf, path, f.path, f.stats)) - 1
        val r = mapper.createObjectNode()
        val b = r.putObject("add")
        b.put("path", f.path)
        putPartitionValues(b, f.partitionValues)
        b.put("size", f.size)
        b.put("modificationTime", f.modificationTime)
        b.put("dataChange", false) // backfill: no logical change
        f.stats.foreach(b.put("stats", _))
        f.clusteringProvider.foreach(b.put("clusteringProvider", _))
        f.dv.foreach { d =>
          val n = b.putObject("deletionVector")
          n.put("storageType", d.storageType)
          n.put("pathOrInlineDv", d.pathOrInlineDv)
          d.offset.foreach(n.put("offset", _))
          n.put("sizeInBytes", d.sizeInBytes); n.put("cardinality", d.cardinality)
        }
        b.put("baseRowId", base)
        b.put("defaultRowCommitVersion", v)
        actions += r
      }
      actions += domainMetadataAction(RowTrackingDomain,
        s"""{"rowIdHighWaterMark":$hwm}""")
      try {
        commit(conf, path, v, actions.result(), cfg,
          crcDelta = Some((0L, 0L))) // backfill re-states live paths in place
        return v
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"enableRowTracking on $path lost the commit race " +
                s"$attempt times (last: ${e.getMessage})", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
