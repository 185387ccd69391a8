package graft.stac

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
import scala.jdk.CollectionConverters._

/** Version-checksum (.crc) and table-stats surface of
  * [[PortableDelta]]: write/read/validate checksums, DESCRIBE DETAIL,
  * and stats rollups. Split from PortableDelta.scala; self-typed —
  * behavior unchanged. */
private[stac] trait DeltaChecksumOps extends Serializable { self: PortableDelta.type =>

  private[stac] def checksumPath(path: String, v: Long) =
    new Path(logDir(path), f"$v%020d.crc")

  /** Parse the checksum file at `version`, if present and well-formed
    * (a crc missing the core fields reads as absent — never a crash on
    * an artifact some other engine wrote differently). */
  def readChecksum(conf: Configuration, path: String,
                   version: Long): Option[TableChecksum] = {
    val p = checksumPath(path, version)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    if (text.isEmpty) return None
    val n = try mapper.readTree(text) catch { case _: Exception => return None }
    // external crc shapes vary: an explicit JSON null (or a non-object)
    // in the metadata/protocol slot must read as ABSENT, never cast
    if (!n.has("tableSizeBytes") || !n.has("numFiles") ||
        !Option(n.get("metadata")).exists(_.isObject) ||
        !Option(n.get("protocol")).exists(_.isObject)) return None
    val txnArr = Option(n.get("setTransactions")).filterNot(_.isNull)
    val txns = txnArr.map(_.elements().asScala
      .map(t => t.get("appId").asText() -> t.get("version").asLong()).toMap)
    val txnTimes = txnArr.map(_.elements().asScala.flatMap(t =>
      Option(t.get("lastUpdated")).filter(_.isNumber)
        .map(lu => t.get("appId").asText() -> lu.asLong())).toMap)
      .getOrElse(Map.empty[String, Long])
    val domains = Option(n.get("domainMetadata")).filterNot(_.isNull)
      .map(_.elements().asScala
        .filterNot(d => Option(d.get("removed")).exists(_.asBoolean()))
        .map(d => d.get("domain").asText() ->
          Option(d.get("configuration")).map(_.asText()).getOrElse("")).toMap)
      .getOrElse(Map.empty[String, String])
    Some(TableChecksum(version,
      n.get("tableSizeBytes").asLong(), n.get("numFiles").asLong(),
      n.get("metadata").asInstanceOf[ObjectNode],
      n.get("protocol").asInstanceOf[ObjectNode],
      txns, txnTimes, domains,
      Option(n.get("inCommitTimestampOpt")).filter(_.isNumber).map(_.asLong())))
  }

  /** Serialize + land a checksum file. Commit-path writes are
    * put-if-absent (a losing racer computed the same content — dropped
    * quietly); checkpoint re-seeds OVERWRITE atomically (FileContext
    * rename, no delete-then-rename lost-file window) because the
    * checkpoint's post-expiry txn state is the authoritative one. */
  private[stac] def writeChecksumFile(conf: Configuration, path: String,
                                cs: TableChecksum,
                                overwrite: Boolean): Boolean = {
    val p = checksumPath(path, cs.version)
    val fs = p.getFileSystem(conf)
    val r = mapper.createObjectNode()
    r.put("tableSizeBytes", cs.tableSizeBytes)
    r.put("numFiles", cs.numFiles)
    r.put("numMetadata", 1L); r.put("numProtocol", 1L)
    r.set[JsonNode]("metadata", cs.metadata)
    r.set[JsonNode]("protocol", cs.protocol)
    cs.inCommitTimestamp.foreach(r.put("inCommitTimestampOpt", _))
    cs.setTransactions.foreach { m =>
      val arr = r.putArray("setTransactions")
      m.toSeq.sortBy(_._1).foreach { case (app, v) =>
        val t = arr.addObject(); t.put("appId", app); t.put("version", v)
        cs.txnLastUpdated.get(app).foreach(t.put("lastUpdated", _))
      }
    }
    val dm = r.putArray("domainMetadata")
    cs.domainMetadata.toSeq.sortBy(_._1).foreach { case (d, c) =>
      val o = dm.addObject()
      o.put("domain", d); o.put("configuration", c); o.put("removed", false)
    }
    val tmp = new Path(logDir(path), s".crc-tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(mapper.writeValueAsBytes(r)) finally out.close()
    if (overwrite) {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      true
    } else {
      val ok = if (fs.exists(p)) false else fs.rename(tmp, p)
      if (!ok) fs.delete(tmp, false)
      ok
    }
  }

  /** Post-commit INCREMENTAL checksum: predecessor crc + this commit's
    * actions → this version's crc, O(commit) driver work, never
    * O(table). Additive size/count folding is exact for this engine's
    * commits because every re-add of a live path (DV update, rewrite,
    * RESTORE re-add) pairs with a remove in the SAME commit. Skips
    * silently when the chain is broken (predecessor crc missing — a
    * table whose history predates the feature, or carries external
    * commits) or a tombstone lacks `size`; [[checkpoint]] /
    * [[tableStats]] re-seed the chain from full state.
    *
    * `crcDelta`: commits that re-state LIVE paths without pairing
    * removes (the row-tracking backfill replaces every add in place;
    * RESTORE re-states same-path-different-DV files) make additive
    * folding wrong — those verbs pass their exact (fileCountDelta,
    * byteDelta) instead, computed from the live state they already
    * hold. */
  private[stac] def writeCommitChecksum(conf: Configuration, path: String,
                                  version: Long,
                                  actions: Seq[JsonNode],
                                  crcDelta: Option[(Long, Long)] = None)
      : Unit = {
    val prev: Option[TableChecksum] =
      if (version == 0L)
        Some(TableChecksum(-1L, 0L, 0L, null, null,
          Some(Map.empty), Map.empty, Map.empty, None))
      else readChecksum(conf, path, version - 1)
    prev.foreach { p0 =>
      var size = p0.tableSizeBytes; var files = p0.numFiles
      var meta = Option(p0.metadata); var proto = Option(p0.protocol)
      var txns = p0.setTransactions.getOrElse(Map.empty[String, Long])
      var txnTimes = p0.txnLastUpdated
      var domains = p0.domainMetadata
      var ict: Option[Long] = None
      var foldable = p0.setTransactions.isDefined
      crcDelta.foreach { case (df, db) => files += df; size += db }
      actions.foreach { n =>
        if (n.has("add") && crcDelta.isEmpty) {
          val a = n.get("add")
          size += a.get("size").asLong(); files += 1
        }
        if (n.has("remove") && crcDelta.isEmpty) {
          val rm = n.get("remove")
          if (rm.has("size") && rm.get("size").isNumber) {
            size -= rm.get("size").asLong(); files -= 1
          } else foldable = false // external-shaped tombstone: unknown bytes
        }
        if (n.has("metaData")) meta = Some(n.get("metaData").deepCopy[ObjectNode]())
        if (n.has("protocol")) proto = Some(n.get("protocol").deepCopy[ObjectNode]())
        if (n.has("txn")) {
          val t = n.get("txn"); val app = t.get("appId").asText()
          txns += app -> t.get("version").asLong()
          Option(t.get("lastUpdated")).filter(_.isNumber) match {
            case Some(lu) => txnTimes += app -> lu.asLong()
            case None => txnTimes -= app
          }
        }
        if (n.has("domainMetadata")) {
          val d = n.get("domainMetadata"); val name = d.get("domain").asText()
          if (Option(d.get("removed")).exists(_.asBoolean())) domains -= name
          else domains += name ->
            Option(d.get("configuration")).map(_.asText()).getOrElse("")
        }
        if (n.has("commitInfo")) {
          val ci = n.get("commitInfo")
          if (ci.has("inCommitTimestamp"))
            ict = Some(ci.get("inCommitTimestamp").asLong())
        }
      }
      if (foldable && meta.nonEmpty && proto.nonEmpty) {
        // cap: a pathological appId population would bloat every crc —
        // omit past the bound (absent = unknown, the delta convention)
        val txnsOut = if (txns.size <= 100) Some(txns) else None
        writeChecksumFile(conf, path,
          TableChecksum(version, size, files, meta.get, proto.get,
            txnsOut, txnTimes, domains, ict), overwrite = false)
        ()
      }
    }
  }

  /** Protocol action body rendered from replayed state (crc seeding). */
  private[stac] def protocolNodeOf(readerV: Int, writerV: Int,
                             readerFeatures: Seq[String],
                             writerFeatures: Seq[String]): ObjectNode = {
    val b = mapper.createObjectNode()
    b.put("minReaderVersion", readerV); b.put("minWriterVersion", writerV)
    if (readerV >= 3) {
      val rf = b.putArray("readerFeatures"); readerFeatures.foreach(rf.add)
    }
    if (writerV >= 7) {
      val wf = b.putArray("writerFeatures"); writerFeatures.foreach(wf.add)
    }
    b
  }

  /** metaData action body rendered from replayed state (crc seeding;
    * `createdTime` is unknowable here and legitimately optional). */
  private[stac] def metaDataNodeOf(id: String, schemaJson: String,
                             cfg: Map[String, String],
                             partitionCols: Seq[String]): ObjectNode = {
    val b = mapper.createObjectNode()
    b.put("id", id)
    val fmt = b.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    b.put("schemaString", schemaJson)
    val pc = b.putArray("partitionColumns"); partitionCols.foreach(pc.add)
    val c = b.putObject("configuration")
    cfg.foreach { case (k, v) => c.put(k, v) }
    b
  }

  /** Checkpoint-time checksum re-seed from FULL state: authoritative
    * (post-txn-expiry) and the recovery path for a broken incremental
    * chain. `adds` is the flat live-add frame the checkpoint is writing
    * anyway — one extra distributed aggregate, never a driver add
    * list. */
  private[stac] def reseedChecksum(conf: Configuration, path: String,
                             snap: Snapshot, adds: DataFrame, nAdds: Long): Unit =
    try {
      import org.apache.spark.sql.functions.{coalesce, lit, sum}
      val bytes = adds.agg(coalesce(sum("size"), lit(0L))).head.getLong(0)
      writeChecksumFile(conf, path, checksumOf(snap, nAdds, bytes),
        overwrite = true)
      ()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[portable-delta] checksum re-seed at $path " +
          s"v${snap.version} failed (checkpoint is durable): ${e.getMessage}")
    }

  /** The version checksum of `snap`'s small state with the given file
    * count and byte total (txns inline up to 100 appIds). */
  private[stac] def checksumOf(snap: Snapshot, nFiles: Long,
                               bytes: Long): TableChecksum =
    TableChecksum(snap.version, bytes, nFiles,
      metaDataNodeOf(snap.tableId, snap.schema.json, snap.configuration,
        snap.partitionColumns),
      protocolNodeOf(snap.minReaderVersion, snap.minWriterVersion,
        snap.readerFeatures, snap.writerFeatures),
      if (snap.txns.size <= 100) Some(snap.txns) else None,
      snap.txnLastUpdated, snap.domainMetadata, None)

  /** DESCRIBE TABLE DETAIL analog: identity, layout (partition +
    * clustering dimensions), size, properties, and the protocol
    * surface in one call. numFiles/sizeInBytes serve O(1) from the
    * version checksum when the chain is intact (the [[tableStats]]
    * path); createdAt/lastModified come from the ICT-aware history,
    * which the cleanup sidecar keeps answerable back to version 0 even
    * after log truncation. */
  def describeDetail(spark: SparkSession, path: String): TableDetail = {
    val conf = spark.sessionState.newHadoopConf()
    val (snap, nFiles, bytes, _) = statsState(spark, path, crcOk = true)
    val hist = history(conf, path)
    // the domain publishes PHYSICAL name paths (array of part arrays);
    // surface logical names, the identity on unmapped tables
    val logByPhys = snap.schema.fields.map(f => physFieldName(f) -> f.name).toMap
    val clustering = snap.domainMetadata.get("delta.clustering").toSeq
      .flatMap { j =>
        try mapper.readTree(j).get("clusteringColumns")
          .elements().asScala.map(_.elements().asScala
            .map(_.asText()).mkString(".")).toSeq
        catch { case _: Exception => Nil }
      }.map(p => logByPhys.getOrElse(p, p))
    TableDetail(
      format = "delta",
      id = snap.tableId,
      location = path,
      createdAt = hist.find(_._1 == 0L).map(_._3),
      lastModified = hist.headOption.map(_._3),
      partitionColumns = snap.partitionColumns,
      clusteringColumns = clustering,
      numFiles = nFiles, sizeInBytes = bytes,
      properties = snap.configuration,
      minReaderVersion = snap.minReaderVersion,
      minWriterVersion = snap.minWriterVersion,
      tableFeatures = (snap.readerFeatures ++ snap.writerFeatures).distinct)
  }

  /** Table statistics — O(1) from the current version's crc when the
    * chain is intact; otherwise ONE distributed aggregate over the flat
    * add state (checkpoint add rows + JSON tail, never a driver add
    * list) that also re-seeds the missing crc so the next call is
    * O(1). */
  def tableStats(spark: SparkSession, path: String): TableStats = {
    val conf = spark.sessionState.newHadoopConf()
    val (snap, nFiles, bytes, fromCrc) = statsState(spark, path, crcOk = true)
    if (!fromCrc)
      writeChecksumFile(conf, path, checksumOf(snap, nFiles, bytes),
        overwrite = false)
    TableStats(snap.version, nFiles, bytes)
  }

  /** Small state + (numFiles, bytes) from ONE state read: the crc fast
    * path when `crcOk` and the chain is current, else the distributed
    * aggregate. Returns (small snapshot, numFiles, bytes, servedByCrc). */
  private[stac] def statsState(spark: SparkSession, path: String,
                         crcOk: Boolean): (Snapshot, Long, Long, Boolean) = {
    val conf = spark.sessionState.newHadoopConf()
    val ls = logState(spark, path, None)
    readChecksum(conf, path, ls.small.version) match {
      case Some(cs) if crcOk =>
        (ls.small, cs.numFiles, cs.tableSizeBytes, true)
      case _ =>
        import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
        val r = ls.addsDf(spark)
          .agg(count(lit(1)), coalesce(sum("size"), lit(0L))).head
        (ls.small, r.getLong(0), r.getLong(1), false)
    }
  }

  /** METADATA-ONLY aggregation — `COUNT(*)` plus `MIN`/`MAX` over
    * `minMaxCols`, answered entirely from the log's per-file stats
    * (numRecords / minValues / maxValues harvested at commit) without
    * opening a single data file: the delta-spark
    * OptimizeMetadataOnlyQuery analog, and at 100 TB the difference
    * between O(log) and a full scan for the most common dashboard
    * query. Returns ONE row: `cnt` (BIGINT) then `min_<col>` /
    * `max_<col>` in the column's own type.
    *
    * Scale shape: on a checkpoint-seeded table the add rows stay a
    * DataFrame end-to-end — stats parse and fold on EXECUTORS over the
    * checkpoint's add frame, and exactly one aggregated row reaches the
    * driver (a million-add table costs the driver O(1), the
    * readTableWhere discipline).
    *
    * Soundness (REFUSES by name, never guesses):
    *   - COUNT subtracts each file's deletion-vector cardinality —
    *     exact, DVs welcome; a file with no numRecords stat (or a DV of
    *     unknown cardinality) refuses.
    *   - MIN/MAX over DATA columns refuse when any live file carries a
    *     DV (the surviving extremum is unknowable from metadata) or
    *     lacks min/max for the column (unless nullCount == numRecords:
    *     an all-null file contributes nothing, exactly like SQL).
    *   - MIN/MAX over PARTITION columns answer from each file's
    *     partitionValues — exact even under DVs (a file contributes its
    *     value iff live rows remain); timestamp-typed partition values
    *     refuse (hive string encoding is timezone-ambiguous).
    *   - Column-mapped tables refuse (stats key by PHYSICAL names);
    *     read through [[readTable]] instead. */
  def aggregateFromStats(spark: SparkSession, path: String,
                         minMaxCols: Seq[String] = Nil): DataFrame = {
    val ls = logState(spark, path, None)
    aggregateFromState(spark, path, ls.small, ls.addsDf(spark), minMaxCols)
  }

  /** [[aggregateFromStats]] over PINNED state — the seam the implicit
    * metadata-only optimizer rule ([[OptimizeDeltaMetadataOnlyAgg]])
    * uses, so its answer is computed from exactly the snapshot the
    * relation reads (a fresh re-replay could race a concurrent commit
    * and answer for a different version than the plan it replaces). */
  private[stac] def aggregateFromState(spark: SparkSession, path: String,
      snapBase: Snapshot, addsDf: DataFrame,
      minMaxCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, max, min, sum}
    import org.apache.spark.sql.Row
    if (mappedCfg(snapBase.configuration))
      throw new IllegalStateException(
        s"aggregateFromStats($path) refused: column mapping is enabled and " +
          "stats key by physical names — read through readTable instead")
    val schema = snapBase.schema
    def namePartsAt(chain: Seq[Int]): Seq[String] = {
      val out = Vector.newBuilder[String]
      var st: DataType = schema
      chain.foreach { i =>
        val f = st.asInstanceOf[StructType].fields(i)
        out += f.name; st = f.dataType
      }
      out.result()
    }
    // comparable storage domain of the shuffled per-file extrema —
    // matches DeltaStats.decodeJson's output exactly
    def comparableSql(dt: DataType): DataType = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => LongType
      case FloatType | DoubleType => DoubleType
      case StringType => StringType
      case org.apache.spark.sql.types.BooleanType =>
        org.apache.spark.sql.types.BooleanType
      case other => throw new IllegalStateException(
        s"aggregateFromStats($path) refused: type $other carries no " +
          "sound min/max stats")
    }
    // a PARTITION column's min/max comes from partitionValues, not file
    // stats (the OptimizeMetadataOnlyQuery analog): every row of a file
    // shares the file's value, so it contributes iff the file has live
    // rows — exact even under DVs (a fully-dead file's value is gone).
    // Timestamp-typed partition values refuse (hive string encoding is
    // timezone-ambiguous); Nil parts marks the partition route below.
    val resolved: Seq[(String, Seq[String], DataType)] = minMaxCols.map { n =>
      if (snapBase.partitionColumns.exists(_.equalsIgnoreCase(n))) {
        val f = schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(s"no such column in $path: $n"))
        f.dataType match {
          case TimestampType | TimestampNTZType =>
            throw new IllegalStateException(
              s"aggregateFromStats($path) refused: $n is a timestamp " +
                "partition column — its hive string encoding is " +
                "timezone-ambiguous; read through readTable instead")
          case dt =>
            comparableSql(dt) // fail fast on ineligible types
            (f.name, Nil, dt)
        }
      } else {
        val (chain, dt) = DeltaStats.resolvePath(schema, n).getOrElse(
          throw new IllegalArgumentException(s"no such column in $path: $n"))
        comparableSql(dt) // fail fast on ineligible leaf types
        (n, namePartsAt(chain), dt)
      }
    }
    val midSchema = StructType(
      Seq(StructField("nr", LongType), StructField("dvc", LongType),
        StructField("cbad", StringType)) ++
      resolved.zipWithIndex.flatMap { case ((_, _, dt), i) =>
        Seq(StructField(s"mn$i", comparableSql(dt)),
          StructField(s"mx$i", comparableSql(dt)),
          StructField(s"bad$i", StringType))
      })
    val colSpecs = resolved
    val schemaB = schema // stable reference for the executor closure
    val perFile = addsDf.rdd.map { r =>
      val p = r.getString(0)
      val hasDv = !r.isNullAt(3)
      val dvCard: Long =
        if (!hasDv) 0L else if (r.isNullAt(7)) -1L else r.getLong(7)
      val fs = if (r.isNullAt(8)) null
        else try DeltaStats.parseStats(r.getString(8), schemaB)
          catch { case scala.util.control.NonFatal(_) => null }
      val nr: java.lang.Long =
        if (fs == null) null else fs.numRecords.map(Long.box).orNull
      val cbad =
        if (nr == null) s"file $p carries no numRecords stat"
        else if (hasDv && dvCard < 0L)
          s"file $p has a deletion vector of unknown cardinality"
        else null
      val pvMap: Map[String, String] =
        if (r.isNullAt(9)) Map.empty else r.getMap[String, String](9).toMap
      def decodePv(v: String, dt: DataType): Any = dt match {
        case ByteType | ShortType | IntegerType | LongType => v.trim.toLong
        case FloatType | DoubleType => v.trim.toDouble
        case StringType => v
        case org.apache.spark.sql.types.BooleanType => v.trim.toBoolean
        case DateType => java.time.LocalDate.parse(v.trim).toEpochDay
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      val colFields = colSpecs.flatMap { case (n, key, dt) =>
        if (key.isEmpty) {
          // PARTITION route: the file's one value, counted iff live rows
          // remain (cbad already refuses the call when nr/dvCard are
          // unknown, so these reads cannot escape unsound)
          val live = if (nr == null) 0L else nr.longValue() - math.max(dvCard, 0L)
          pvMap.get(n).filter(v =>
              v != null && v != "__HIVE_DEFAULT_PARTITION__") match {
            case Some(v) if live > 0L =>
              try { val d = decodePv(v, dt); Seq(d, d, null) }
              catch { case scala.util.control.NonFatal(_) =>
                Seq(null, null,
                  s"file $p has an undecodable partition value for $n: $v") }
            case _ => Seq(null, null, null) // null value / no live rows
          }
        }
        else if (fs == null)
          Seq(null, null, s"file $p carries no stats (min/max of $n unknown)")
        else if (hasDv)
          Seq(null, null,
            s"file $p carries a deletion vector — min/max of $n is not " +
              "derivable from stats (deleted rows may hold the extremum)")
        else (fs.mins.get(key), fs.maxs.get(key)) match {
          case (Some(lo), Some(hi)) => Seq(lo, hi, null)
          case _ =>
            // a zero-row file legitimately has EMPTY minValues — it
            // contributes nothing, exactly like an all-null file
            val allNull = nr != null && (nr.longValue() == 0L ||
              fs.nulls.get(key).contains(nr.longValue()))
            if (allNull) Seq(null, null, null) // contributes nothing, like SQL
            else Seq(null, null, s"file $p has no min/max for $n")
        }
      }
      Row.fromSeq(Seq(nr, if (dvCard < 0L) 0L else dvCard, cbad) ++ colFields)
    }
    val mid = spark.createDataFrame(perFile, midSchema)
    val aggCols = Seq(
      coalesce(sum(org.apache.spark.sql.functions.col("nr")), lit(0L)).as("snr"),
      coalesce(sum(org.apache.spark.sql.functions.col("dvc")), lit(0L)).as("sdv"),
      max(org.apache.spark.sql.functions.col("cbad")).as("cbad"),
      count(lit(1)).as("nf")) ++
      resolved.indices.flatMap { i =>
        Seq(min(org.apache.spark.sql.functions.col(s"mn$i")).as(s"mn$i"),
          max(org.apache.spark.sql.functions.col(s"mx$i")).as(s"mx$i"),
          max(org.apache.spark.sql.functions.col(s"bad$i")).as(s"bad$i"))
      }
    val row = mid.agg(aggCols.head, aggCols.tail: _*).head()
    if (!row.isNullAt(row.fieldIndex("cbad")))
      throw new IllegalStateException(
        s"aggregateFromStats($path) refused: ${row.getString(row.fieldIndex("cbad"))}")
    resolved.indices.foreach { i =>
      val bi = row.fieldIndex(s"bad$i")
      if (!row.isNullAt(bi))
        throw new IllegalStateException(
          s"aggregateFromStats($path) refused: ${row.getString(bi)}")
    }
    val cnt = row.getLong(row.fieldIndex("snr")) - row.getLong(row.fieldIndex("sdv"))
    // comparable domain → the column's external type for the result row
    def external(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (l: Long, ByteType) => l.toByte
      case (l: Long, ShortType) => l.toShort
      case (l: Long, IntegerType) => l.toInt
      case (l: Long, LongType) => l
      case (l: Long, DateType) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(l))
      case (l: Long, TimestampType) =>
        val ts = new java.sql.Timestamp(Math.floorDiv(l, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(l, 1000000L) * 1000L).toInt); ts
      case (l: Long, TimestampNTZType) =>
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(l, 1000000L),
          (Math.floorMod(l, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      case (d: Double, FloatType) => d.toFloat
      case (d: Double, DoubleType) => d
      case (other, _) => other
    }
    val outSchema = StructType(StructField("cnt", LongType, nullable = false) +:
      resolved.flatMap { case (n, _, dt) =>
        Seq(StructField(s"min_$n", dt), StructField(s"max_$n", dt))
      })
    val outRow = Row.fromSeq(cnt +: resolved.zipWithIndex.flatMap {
      case ((_, _, dt), i) =>
        Seq(external(row.get(row.fieldIndex(s"mn$i")), dt),
          external(row.get(row.fieldIndex(s"mx$i")), dt))
    })
    spark.createDataFrame(
      java.util.Collections.singletonList(outRow), outSchema)
  }

  /** Recompute the current version's state independently and compare
    * field by field against its checksum file — fails naming EVERY
    * drifted field (size, file count, protocol versions/features,
    * schema, configuration, partition columns, txn watermarks, domain
    * metadata), never a bare boolean. Returns the validated checksum. */
  def validateChecksum(spark: SparkSession, path: String): TableChecksum = {
    val conf = spark.sessionState.newHadoopConf()
    val (snap, nFiles, bytes, _) = statsState(spark, path, crcOk = false)
    val cs = readChecksum(conf, path, snap.version).getOrElse(throw
      new IllegalStateException(
        s"no checksum file for $path at version ${snap.version}"))
    val errs = Seq.newBuilder[String]
    if (cs.numFiles != nFiles)
      errs += s"numFiles: crc=${cs.numFiles} actual=$nFiles"
    if (cs.tableSizeBytes != bytes)
      errs += s"tableSizeBytes: crc=${cs.tableSizeBytes} actual=$bytes"
    val pr = cs.protocol
    if (pr.get("minReaderVersion").asInt() != snap.minReaderVersion)
      errs += s"minReaderVersion: crc=${pr.get("minReaderVersion").asInt()} " +
        s"actual=${snap.minReaderVersion}"
    if (pr.get("minWriterVersion").asInt() != snap.minWriterVersion)
      errs += s"minWriterVersion: crc=${pr.get("minWriterVersion").asInt()} " +
        s"actual=${snap.minWriterVersion}"
    def featSet(field: String) = Option(pr.get(field)).filterNot(_.isNull)
      .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty)
    if (featSet("readerFeatures") != snap.readerFeatures.toSet)
      errs += s"readerFeatures: crc=${featSet("readerFeatures")} " +
        s"actual=${snap.readerFeatures.toSet}"
    if (featSet("writerFeatures") != snap.writerFeatures.toSet)
      errs += s"writerFeatures: crc=${featSet("writerFeatures")} " +
        s"actual=${snap.writerFeatures.toSet}"
    val m = cs.metadata
    if (m.get("id").asText() != snap.tableId)
      errs += s"metadata.id: crc=${m.get("id").asText()} actual=${snap.tableId}"
    val crcSchema =
      try Some(DataType.fromJson(m.get("schemaString").asText()))
      catch { case _: Exception => None }
    if (!crcSchema.contains(snap.schema))
      errs += "metadata.schemaString differs from the replayed schema"
    val crcCfg = Option(m.get("configuration")).filterNot(_.isNull)
      .map(_.asInstanceOf[ObjectNode].properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    if (crcCfg != snap.configuration)
      errs += s"metadata.configuration: crc=$crcCfg actual=${snap.configuration}"
    val crcParts = Option(m.get("partitionColumns")).filterNot(_.isNull)
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    if (crcParts != snap.partitionColumns)
      errs += s"metadata.partitionColumns: crc=$crcParts " +
        s"actual=${snap.partitionColumns}"
    cs.setTransactions.foreach { t =>
      if (t != snap.txns)
        errs += s"setTransactions: crc=$t actual=${snap.txns}"
    }
    if (cs.domainMetadata != snap.domainMetadata)
      errs += s"domainMetadata: crc=${cs.domainMetadata} " +
        s"actual=${snap.domainMetadata}"
    val es = errs.result()
    require(es.isEmpty,
      s"checksum mismatch at $path v${snap.version}: ${es.mkString("; ")}")
    cs
  }
}
