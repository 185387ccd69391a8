package graft.stac

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType}
import scala.jdk.CollectionConverters._

/** DML verbs of the portable Delta writer ([[PortableDelta]]):
  * DELETE / UPDATE / MERGE (DV-era, copy-on-write fallback), RESTORE,
  * shallow CLONE, and constraint enforcement. Split from
  * PortableDelta.scala for compilation-unit hygiene; every member is a
  * PortableDelta member via the self-type — behavior unchanged. */
private[stac] trait DeltaDmlOps extends Serializable { self: PortableDelta.type =>

  /** DELETE without rewriting data: rows matching `condition` are marked
    * dead via the Delta deletion-vector protocol — each touched file's add
    * action is re-stated with a DV descriptor; the parquet bytes are NOT
    * touched. This is the 100-TB delete path: the work is one predicate
    * scan plus O(touched files) KB-sized bitmaps, never a rewrite of the
    * table (a predicate hitting 0.1% of rows in every file would force a
    * full-table rewrite under copy-on-write).
    *
    * Mechanics, per the published protocol (Delta PROTOCOL.md "Deletion
    * Vectors" — same format [[DeletionVectors]] already reads for
    * externally-written tables):
    *   - the matching physical row positions are aggregated into a
    *     compressed roaring bitmap PER FILE on executors (`mapGroups`
    *     streams the iterator — task memory is the compressed bitmap,
    *     KBs per millions of deleted rows, never a row list);
    *   - a previously-committed DV on the file is unioned in (the new
    *     descriptor must carry ALL dead positions);
    *   - all new DVs ship in ONE `deletion_vector_<uuid>.bin` pack file
    *     (offset-addressed, the shape engines emit per DELETE commit);
    *   - a file whose every row is dead gets a plain remove action —
    *     later readers never open it;
    *   - first DV on a table upgrades the protocol to the table-features
    *     form (reader 3 / writer 7, `deletionVectors` in both feature
    *     lists) — exactly what external engines do, and what this
    *     module's own reader gate requires.
    *
    * Concurrency: the commit is the same put-if-absent rename as
    * [[write]]; a lost race re-snapshots and recomputes (the file set may
    * have changed), bounded by `maxRetries`. Returns [[DeleteStats]];
    * a predicate matching nothing commits nothing. */
  def delete(spark: SparkSession, path: String,
             condition: org.apache.spark.sql.Column,
             maxRetries: Int = 10,
             txn: Option[(String, Long)] = None): DeleteStats = {
    import org.apache.spark.sql.functions.col
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    while (true) {
      // file state narrowed to the files the predicate could touch —
      // stats skipping runs on executors over checkpoint add rows, so a
      // surgical DELETE against a million-add table collects O(touched)
      val snap = dmlSnapshot(spark, path, Some(condition))
      // idempotence gate (same contract as write): an (appId, version)
      // the log already carries is a re-delivered batch — skip
      txn.foreach { case (appId, v) =>
        if (snap.txns.get(appId).exists(_ >= v))
          return DeleteStats(snap.version, 0L, 0, 0)
      }
      requireWritable(snap, path)
      requireNotAppendOnly(snap.configuration, "DELETE")
      requireIcebergRowLevel(snap.configuration, path, "DELETE")
      if (snap.files.isEmpty) return DeleteStats(snap.version, 0L, 0, 0)
      val dead = scanWithPos(spark, path, snap, applyDvs = false)
        .filter(condition)
        .select(col(PosFileCol), col(PosIdxCol))
      dvDeathParts(spark, path, snap, dead) match {
        case None => return DeleteStats(snap.version, 0L, 0, 0)
        case Some(parts) =>
          val now = System.currentTimeMillis()
          val actions = Seq.newBuilder[JsonNode]
          actions += commitInfo(now, "DELETE",
            Map("numDeletedRows" -> parts.newlyDeleted,
              "numRemovedFiles" -> parts.removedFiles.toLong,
              "numDeletionVectorsUpdated" -> parts.dvFiles.toLong))
          txn.foreach { case (appId, v) => actions += txnActionNode(appId, v, now) }
          featureUpgradeAction(snap,
            Seq("deletionVectors") ++ cfgReaderFeatures(snap.configuration),
            Seq("deletionVectors") ++ cfgWriterFeatures(snap.configuration))
            .foreach(actions += _)
          actions ++= parts.actions(now)
          // CDF write: the newly-dead LIVE rows, as external readers see them
          val (cdcActs, dropCdc) =
            if (cdfEnabled(snap.configuration))
              writeCdcActions(spark, path,
                scanWithPos(spark, path, snap, applyDvs = true)
                  .filter(condition).drop(PosFileCol, PosIdxCol)
                  .withColumn("_change_type",
                    org.apache.spark.sql.functions.lit("delete")),
                if (mappedCfg(snap.configuration)) Some(snap.schema) else None)
            else (Seq.empty[JsonNode], () => ())
          actions ++= cdcActs
          try {
            commit(conf, path, snap.version + 1, actions.result(),
              snap.configuration)
            return DeleteStats(snap.version + 1, parts.newlyDeleted,
              parts.dvFiles, parts.removedFiles)
          } catch {
            case e: ConcurrentCommitException =>
              parts.dropPack()
              dropCdc()
              attempt += 1
              if (attempt > maxRetries)
                throw new IllegalStateException(
                  s"delete on $path lost the commit race $attempt times " +
                    s"(last: ${e.getMessage})", e)
              // loop: re-snapshot and recompute against the new file set
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Distributed core of every DV row-death commit (DELETE, UPDATE,
    * MERGE): `dead` is a frame of (file name, row index) positions to
    * kill. Positions aggregate into a compressed roaring bitmap PER
    * FILE on executors (`mapGroups` streams the iterator — task memory
    * is the compressed bitmap, KBs per millions of dead rows, never a
    * row list); the same tasks then merge each file's prior DV, read
    * its footer row count, and append surviving bitmaps to a PER-
    * PARTITION shard of the commit's DV pack
    * ([[DeletionVectors.DvPackWriter]]). Only O(touched files)
    * descriptor rows — never bitmap bytes — reach the driver, and pack
    * I/O parallelism tracks the shuffle partitioning (AQE coalesces a
    * surgical delete to one shard; a predicate killing rows in millions
    * of files keeps many, written concurrently). A failed/raced task
    * attempt can orphan a shard file; orphans are unreferenced by any
    * add and reclaimed by [[vacuum]]. Full-file deaths (bitmap ==
    * footer row count) become plain removes. Returns None when no row
    * newly dies (nothing staged). */
  private[stac] def dvDeathParts(spark: SparkSession, path: String, snap: Snapshot,
                           dead: DataFrame): Option[DvParts] = {
    val conf = spark.sessionState.newHadoopConf()
    // keyed by the scan's position-column suffix (partition dirs + file
    // name — bare names collide across `col=value/` dirs, and absolute
    // clone paths aren't what the scan reports)
    val byName = filesByLogKey(snap.files, snap.partitionColumns.size + 1)
    val s2 = spark; import s2.implicits._
    val confW = new org.apache.spark.SerializableWritable(conf)
    val byNameB = spark.sparkContext.broadcast(byName)
    val tablePath = path
    val entries: Array[DvShardRow] = dead
      .toDF("f", "i")
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val b = new DeletionVectors.DvBuilder
        it.foreach(t => b.add(t._2))
        (f, b.serialize(), b.cardinality)
      }
      .mapPartitions { it =>
        val c = confW.value
        val files = byNameB.value
        val writer = new DeletionVectors.DvPackWriter(c, tablePath)
        val rows = Seq.newBuilder[DvShardRow]
        try it.foreach { case (name, bytes, _) =>
          val f = files.getOrElse(name,
            throw new IllegalStateException(s"scan surfaced unknown file $name"))
          val b = new DeletionVectors.DvBuilder
          b.or(DeletionVectors.deserialize(bytes))
          val oldCard = f.dv.map { d =>
            val dv = DeletionVectors.load(c, tablePath, d.storageType,
              d.pathOrInlineDv, d.offset, d.sizeInBytes)
            b.or(dv); dv.cardinality
          }.getOrElse(0L)
          val newCard = b.cardinality
          if (newCard > oldCard) { // zero growth = every position already dead
            val physRows = parquetRowCount(c, resolvedDataPath(tablePath, f.path))
            if (newCard == physRows)
              rows += DvShardRow(name, "", 0, 0, newCard, oldCard)
            else {
              val (off, len) = writer.append(b.serialize())
              rows += DvShardRow(name, writer.pathOrInlineDv, off, len,
                newCard, oldCard)
            }
          }
        } finally writer.close()
        rows.result().iterator
      }
      .collect()
    if (entries.isEmpty) return None
    val newlyDeleted = entries.map(e => e.newCard - e.oldCard).sum
    val (goneE, keptE) = entries.toSeq.sortBy(_.fileKey)
      .partition(_.packPath.isEmpty)
    Some(new DvParts(newlyDeleted, keptE.size, goneE.size,
      goneE.map(e => byName(e.fileKey)),
      keptE.map(e => (byName(e.fileKey), e)), path, conf))
  }

  /** MERGE (upsert) without rewriting untouched data — the DV-era merge
    * real engines ship: matched target rows die by POSITION in per-file
    * deletion vectors, and the new row versions (plus not-matched
    * inserts) land in fresh appended files. A 1000-row upsert into a
    * million-file table touches the files holding those 1000 rows with
    * KB-sized bitmaps and appends one small file — copy-on-write MERGE
    * would rewrite every touched file wholesale.
    *
    *   - `keys`: the join columns; source keys MUST be unique (checked —
    *     a double-matching source is ambiguous, the spec error). Null
    *     source keys never match (SQL join semantics) and fall through
    *     to the insert branch.
    *   - `whenMatched = "update"`: the source row REPLACES the target
    *     row (die-by-DV + re-append). `"delete"`: matched target rows
    *     just die.
    *   - `insertNotMatched = false` drops unmatched source rows (pure
    *     UPDATE / DELETE-matched semantics).
    *
    * Matching runs against the LIVE view (DV-filtered): a source key
    * whose only target occurrences are already-deleted rows is an
    * INSERT. The key join is a plain shuffle join (AQE may broadcast a
    * small source; nothing is force-broadcast — a corpus-sized source
    * must not be collected). Commit races rebase like [[delete]]:
    * everything (match, bitmaps, staged appends) recomputes against the
    * new snapshot, bounded by `maxRetries`. */
  def merge(spark: SparkSession, path: String, source: DataFrame,
            keys: Seq[String], whenMatched: String = "update",
            insertNotMatched: Boolean = true,
            footerKv: Map[String, String] = Map.empty,
            maxRetries: Int = 10,
            txn: Option[(String, Long)] = None): MergeStats = {
    import org.apache.spark.sql.functions.col
    require(Set("update", "delete").contains(whenMatched),
      s"whenMatched must be update|delete, got $whenMatched")
    require(keys.nonEmpty, "merge needs at least one key column")
    val conf = spark.sessionState.newHadoopConf()
    // schema/config gates need NO file state — small snapshot only
    val snap0 = smallSnapshot(spark, path)
    requireWritable(snap0, path)
    requireNotAppendOnly(snap0.configuration, "MERGE")
    requireIcebergRowLevel(snap0.configuration, path, "MERGE")
    keys.foreach(k => require(snap0.schema.fieldNames.contains(k),
      s"merge key $k not in table schema"))
    // generated columns: a source lacking one gets it computed, a source
    // providing one is validated — BEFORE the schema alignment check
    val source1 = applyGeneratedColumns(source, snap0.schema,
      s"MERGE into $path")
    // align source columns to the table schema (order-insensitive input)
    require(DataType.equalsIgnoreNullability(
      StructType(snap0.schema.map(f =>
        StructField(f.name, f.dataType))),
      StructType(snap0.schema.flatMap(f =>
        source1.schema.find(_.name == f.name).map(s =>
          StructField(s.name, s.dataType)))) ),
      s"merge source schema mismatch:\n table: ${snap0.schema.simpleString}\n " +
        s"source: ${source1.schema.simpleString}")
    // identity columns: schema alignment means the source SUPPLIES
    // values — legal only for GENERATED BY DEFAULT; the commit advances
    // the high-water mark past them (below)
    identityFields(snap0.schema).foreach(i => require(i.allowExplicit,
      s"MERGE into a table whose identity column ${i.field.name} is " +
        "GENERATED ALWAYS is not supported — the source would supply " +
        "explicit values"))
    val src = source1.select(snap0.schema.fieldNames.map(quotedCol).toIndexedSeq: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val srcRows = src.count()
      if (srcRows == 0) return MergeStats(snap0.version, 0L, 0L, 0L)
      require(src.select(keys.map(quotedCol): _*).distinct().count() == srcRows,
        "merge source keys must be unique — a multi-matching source is ambiguous")

      // dynamic file pruning for the match scan: target files whose
      // per-key stats ranges cannot intersect the SOURCE's key bounds
      // cannot hold a matched row (null keys never match), so they
      // never reach the driver or the scan. One small agg over the
      // already-persisted source; a null bound (all-null key) skips
      // pruning for safety.
      val keyBounds: Option[org.apache.spark.sql.Column] = {
        import org.apache.spark.sql.functions.{lit, max, min}
        val aggs = keys.flatMap(k =>
          Seq(min(quotedCol(k)).as(s"lo_$k"), max(quotedCol(k)).as(s"hi_$k")))
        val r = src.agg(aggs.head, aggs.tail: _*).collect()(0)
        val per = keys.zipWithIndex.flatMap { case (k, i) =>
          (Option(r.get(2 * i)), Option(r.get(2 * i + 1))) match {
            case (Some(lo), Some(hi)) =>
              Some(quotedCol(k) >= lit(lo) && quotedCol(k) <= lit(hi))
            case _ => None
          }
        }
        if (per.size == keys.size) Some(per.reduce(_ && _)) else None
      }

      var attempt = 0
      var prior = dmlSnapshot(spark, path, keyBounds)
      while (true) {
        // a CONCURRENT commit may have evolved the table schema after
        // snap0 pinned validation (source alignment, generated/identity
        // checks, the src column selection all derive from it) —
        // proceeding would project rewritten rows through the STALE
        // schema, silently dropping concurrently-added column values.
        // Restart the whole merge so validation re-derives; each restart
        // consumes a retry so racing ALTERs cannot livelock this writer.
        if (prior.schema.json != snap0.schema.json) {
          require(maxRetries - attempt > 0,
            s"MERGE into $path: the table schema changed concurrently " +
              s"${attempt + 1} time(s) and the retry budget is exhausted")
          return merge(spark, path, source, keys, whenMatched,
            insertNotMatched, footerKv, maxRetries - attempt - 1, txn)
        }
        // idempotence gate (the foreachBatch CDC-upsert contract): an
        // (appId, version) the log carries is a re-delivered batch —
        // skip before any position scan, bitmap, or staging happens
        txn.foreach { case (appId, v) =>
          if (prior.txns.get(appId).exists(_ >= v))
            return MergeStats(prior.version, 0L, 0L, 0L)
        }
        // row tracking: matched target rows' ORIGINAL row IDs ride the
        // scan so the re-appended row versions can materialize them —
        // stable IDs across MERGE, same contract as update()
        val mcolM = materializedRidCol(prior.configuration)
        val liveKeysDf =
          if (prior.files.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              StructType(prior.schema.filter(f => keys.contains(f.name))))
              .withColumn(PosFileCol, org.apache.spark.sql.functions.lit(null).cast("string"))
              .withColumn(PosIdxCol, org.apache.spark.sql.functions.lit(null).cast("bigint"))
              .withColumn(RidCol, org.apache.spark.sql.functions.lit(null).cast("bigint"))
          else scanWithPos(spark, path, prior, applyDvs = true,
              extraCols = mcolM.toSeq)
            .select(keys.map(quotedCol) ++ Seq(col(PosFileCol), col(PosIdxCol),
              ridExpr(prior.files, prior.partitionColumns.size + 1, mcolM)
                .as(RidCol)): _*)
        // matched LIVE target rows (positions + original IDs): ONE
        // semi-join feeds both the death bitmap and the ID carry-over —
        // persisted, bounded by the matched row count
        val matchedTargets = liveKeysDf
          .join(src.select(keys.map(quotedCol): _*), keys, "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dead = matchedTargets.select(col(PosFileCol), col(PosIdxCol))
        try {
          val parts = dvDeathParts(spark, path, prior, dead)
          val matchedTargetRows = parts.map(_.newlyDeleted).getOrElse(0L)
          // source-side split for the append set and counters
          val matchedSrc = src.join(
            liveKeysDf.select(keys.map(quotedCol): _*).distinct(), keys, "left_semi")
          val unmatchedSrc = src.join(
            liveKeysDf.select(keys.map(quotedCol): _*).distinct(), keys, "left_anti")
          val updatedRows = if (whenMatched == "update") matchedTargetRows else 0L
          val deletedRows = if (whenMatched == "delete") matchedTargetRows else 0L
          val insertedRows = if (insertNotMatched) unmatchedSrc.count() else 0L
          // per-key carried ID: min over the key's matched target rows (a
          // multi-row key collapses to ONE new version — it keeps the
          // smallest ID, the others die as genuine deletes)
          lazy val ridByKey = matchedTargets
            .groupBy(keys.map(quotedCol): _*)
            .agg(org.apache.spark.sql.functions.min(col(RidCol))
              .as(mcolM.getOrElse(RidCol)))
          val toAppend = (whenMatched, insertNotMatched) match {
            case ("update", true) =>
              // unmatched source rows keep a NULL materialized ID and
              // resolve to their file's fresh baseRowId + index
              Some(mcolM.fold(src)(_ => src.join(ridByKey, keys, "left")))
            case ("update", false) =>
              Some(mcolM.fold(matchedSrc)(_ => src.join(ridByKey, keys, "inner")))
            case ("delete", true) => Some(unmatchedSrc)
            case ("delete", false) => None
          }
          val appendDf = toAppend.filter(_ => updatedRows + insertedRows > 0)
          if (parts.isEmpty && appendDf.isEmpty)
            return MergeStats(prior.version, 0L, 0L, 0L)
          try appendDf.foreach(d => enforceConstraints(d, prior.schema,
            prior.configuration, s"MERGE into $path"))
          catch { case t: Throwable => parts.foreach(_.dropPack()); throw t }
          val physM =
            if (mappedCfg(prior.configuration)) Some(prior.schema) else None
          val (added, cleanupMoved) = appendDf match {
            case Some(df) =>
              stageAndMove(df, path, footerKv, conf, prior.partitionColumns,
                physM,
                physPassThrough = mcolM.filter(df.columns.contains).toSet)
            case None => (Seq.empty[StagedFile], () => ())
          }
          val statsByName = DeltaStats.collectFileStats(
            spark, path, added.map(_.relPath),
            physM.map(physSchemaOf).getOrElse(prior.schema),
            prior.configuration, logicalSchema = physM)
          val now = System.currentTimeMillis()
          val actions = Seq.newBuilder[JsonNode]
          actions += commitInfo(now, "MERGE",
            Map("numTargetRowsUpdated" -> updatedRows,
              "numTargetRowsInserted" -> insertedRows,
              "numTargetRowsDeleted" -> deletedRows,
              "numTargetFilesAdded" -> added.size.toLong))
          txn.foreach { case (appId, v) => actions += txnActionNode(appId, v, now) }
          featureUpgradeAction(prior,
            (if (parts.nonEmpty) Seq("deletionVectors") else Nil) ++
              cfgReaderFeatures(prior.configuration),
            (if (parts.nonEmpty) Seq("deletionVectors") else Nil) ++
              cfgWriterFeatures(prior.configuration))
            .foreach(actions += _)
          // identity columns: advance the mark past the source's
          // explicit values — re-stated metaData rides the same commit
          val identUpM: Map[String, Long] =
            identityFields(prior.schema).flatMap { i =>
              import org.apache.spark.sql.functions.{max, min}
              val r = src.agg((if (i.step > 0) max(quotedCol(i.field.name))
                               else min(quotedCol(i.field.name)))
                .cast(LongType)).collect()(0)
              if (r.isNullAt(0)) None
              else {
                val v = r.getLong(0)
                if (i.hwm.forall(h => if (i.step > 0) v > h else v < h))
                  Some(i.field.name -> v)
                else None
              }
            }.toMap
          if (identUpM.nonEmpty)
            actions += metaDataAction(prior.tableId,
              stampIdentityHwm(prior.schema, identUpM),
              prior.configuration, now, prior.partitionColumns)
          parts.foreach(p => actions ++= p.actions(now))
          val rt = assignRowIds(conf, path, prior.configuration,
            prior.domainMetadata, added, statsByName)
          added.foreach { f =>
            val r = mapper.createObjectNode()
            val b = r.putObject("add")
            b.put("path", f.relPath)
            putPartitionValues(b, f.partitionValues)
            b.put("size", f.status.getLen)
            b.put("modificationTime", f.status.getModificationTime)
            b.put("dataChange", true)
            statsByName.get(f.relPath).foreach(b.put("stats", _))
            rt.foreach { case (ids, _) =>
              b.put("baseRowId", ids(f.relPath))
              b.put("defaultRowCommitVersion", prior.version + 1)
            }
            actions += r
          }
          rt.foreach(t => actions += t._2)
          // CDF write: matched targets as update pair (or deletes when
          // whenMatched=delete), unmatched source rows as inserts
          val (cdcActs, dropCdc) =
            if (cdfEnabled(prior.configuration) &&
                (matchedTargetRows > 0 || insertedRows > 0)) {
              val lit = org.apache.spark.sql.functions.lit _
              val pre =
                if (matchedTargetRows == 0) None
                else Some(scanWithPos(spark, path, prior, applyDvs = true)
                  .join(src.select(keys.map(quotedCol): _*).distinct(), keys, "left_semi")
                  .drop(PosFileCol, PosIdxCol)
                  .withColumn("_change_type", lit(
                    if (whenMatched == "update") "update_preimage" else "delete")))
              val post =
                if (whenMatched == "update" && matchedTargetRows > 0)
                  Some(matchedSrc.withColumn("_change_type", lit("update_postimage")))
                else None
              val ins =
                if (insertNotMatched && insertedRows > 0)
                  Some(unmatchedSrc.withColumn("_change_type", lit("insert")))
                else None
              writeCdcActions(spark, path,
                (pre.toSeq ++ post.toSeq ++ ins.toSeq).reduce(_ unionByName _),
                physM)
            } else (Seq.empty[JsonNode], () => ())
          actions ++= cdcActs
          try {
            commit(conf, path, prior.version + 1, actions.result(),
              prior.configuration)
            return MergeStats(prior.version + 1, updatedRows, insertedRows,
              deletedRows)
          } catch {
            case e: ConcurrentCommitException =>
              parts.foreach(_.dropPack())
              cleanupMoved()
              dropCdc()
              attempt += 1
              if (attempt > maxRetries)
                throw new IllegalStateException(
                  s"merge on $path lost the commit race $attempt times " +
                    s"(last: ${e.getMessage}); staged files withdrawn", e)
              prior = dmlSnapshot(spark, path, keyBounds) // rebase: recompute everything
          }
        } finally { matchedTargets.unpersist(); () }
      }
      throw new IllegalStateException("unreachable")
    } finally { src.unpersist(); () }
  }

  /** Full-clause MERGE — the canonical SQL `MERGE INTO target USING
    * source ON keys WHEN MATCHED [AND cond] THEN UPDATE SET col = expr
    * | DELETE / WHEN NOT MATCHED [AND cond] THEN INSERT` shape, on the
    * same DV-era mechanics as [[merge]]. Delegates to
    * [[mergeIntoFull]], which additionally supports MULTIPLE ordered
    * clauses per kind and `WHEN NOT MATCHED BY SOURCE`. */
  def mergeInto(spark: SparkSession, path: String, source0: DataFrame,
                keys: Seq[String], clauses: MergeClauses = MergeClauses(),
                footerKv: Map[String, String] = Map.empty,
                maxRetries: Int = 10,
                txn: Option[(String, Long)] = None): MergeStats = {
    require(Set("update", "delete", "none").contains(clauses.matchedAction),
      s"matchedAction must be update|delete|none, got ${clauses.matchedAction}")
    mergeIntoFull(spark, path, source0, keys,
      matched = clauses.matchedAction match {
        case "none" => Nil
        case a => Seq(MergeMatched(a, clauses.matchedCondition,
          if (a == "update") clauses.updateSet else None))
      },
      notMatched =
        if (clauses.insertNotMatched)
          Seq(MergeNotMatched(clauses.notMatchedCondition)) else Nil,
      bySource = Nil,
      footerKv = footerKv, maxRetries = maxRetries, txn = txn)
  }

  /** FULL-CLAUSE MERGE — every shape real engines ship:
    *
    *   MERGE INTO t USING s ON keys
    *   WHEN MATCHED [AND c1] THEN UPDATE SET … | DELETE   (× N, ordered)
    *   WHEN NOT MATCHED [AND c2] THEN INSERT …            (× N, ordered)
    *   WHEN NOT MATCHED BY SOURCE [AND c3] THEN UPDATE SET … | DELETE
    *
    * on the DV-era mechanics of [[merge]]: every affected LIVE target
    * row dies by POSITION in per-file deletion vectors; new row
    * versions and inserts land in fresh appended files; untouched rows
    * are never rewritten.
    *
    * Semantics, all spec-true:
    *   - PER-ROW, FIRST-MATCH clause routing: each matched (target,
    *     source) pair takes the first MATCHED clause whose condition
    *     holds (rows matching no clause are untouched); unmatched
    *     source rows route through the NOT MATCHED clauses the same
    *     way; LIVE target rows with no source-key match route through
    *     the BY SOURCE clauses. A clause without a condition must be
    *     last in its group (later clauses would be unreachable).
    *   - Scoping: MATCHED conditions/SETs see `t.<col>`/`s.<col>`;
    *     NOT MATCHED sees the source only; BY SOURCE sees the target
    *     only.
    *   - Partial SET carries unnamed columns from the TARGET row;
    *     generated columns recompute over the SET-applied values, and
    *     SETting one (or an identity column) refuses by name.
    *   - INSERT without explicit values takes the schema-aligned
    *     source row; explicit values fill declared defaults, compute
    *     generated columns, generate identity values, and NULL
    *     unnamed plain columns (NOT NULL constraints still gate).
    *   - Source keys must be unique; null source keys never match.
    *   - `mergeSchema = true` (delta's autoMerge analog): source
    *     columns the target lacks extend the table schema IN THE SAME
    *     COMMIT (Delta-strict union merge — new columns nullable, type
    *     changes refuse); old rows read null for them, carried target
    *     values of evolved columns are null. Column-mapped tables
    *     refuse by name.
    *
    * Row tracking: each rewritten row keeps ITS OWN row ID. Scale: the
    * match scan is stats-pruned by the source's key bounds — except
    * under BY SOURCE clauses, which inherently see the whole table and
    * disable that pruning. Work tracks affected + inserted rows.
    * Commit races rebase (everything recomputes against the new
    * snapshot), bounded by `maxRetries`. */
  def mergeIntoFull(spark: SparkSession, path: String, source0: DataFrame,
                    keys: Seq[String],
                    matched: Seq[MergeMatched] = Nil,
                    notMatched: Seq[MergeNotMatched] = Nil,
                    bySource: Seq[MergeBySource] = Nil,
                    footerKv: Map[String, String] = Map.empty,
                    maxRetries: Int = 10,
                    txn: Option[(String, Long)] = None,
                    mergeSchema: Boolean = false): MergeStats = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(keys.nonEmpty, "mergeIntoFull needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "mergeIntoFull needs at least one clause")
    (matched.map(_.action) ++ bySource.map(_.action)).foreach(a =>
      require(Set("update", "delete").contains(a),
        s"merge clause action must be update|delete, got $a"))
    def reachable(conds: Seq[Option[_]], what: String): Unit =
      conds.dropRight(1).zipWithIndex.foreach { case (c, i) =>
        require(c.isDefined, s"$what clause ${i + 1} has no condition but " +
          "is not last — later clauses of its kind are unreachable")
      }
    reachable(matched.map(_.condition), "WHEN MATCHED")
    reachable(notMatched.map(_.condition), "WHEN NOT MATCHED")
    reachable(bySource.map(_.condition), "WHEN NOT MATCHED BY SOURCE")
    val conf = spark.sessionState.newHadoopConf()
    val snap0 = smallSnapshot(spark, path)
    requireWritable(snap0, path)
    requireNotAppendOnly(snap0.configuration, "MERGE")
    requireIcebergRowLevel(snap0.configuration, path, "MERGE")
    // schema evolution (delta's autoMerge analog, explicit option): the
    // SOURCE's new columns extend the table schema in the SAME commit —
    // the Delta-strict union merge (new columns nullable, type changes
    // refuse); old rows read null for them. Column-mapped tables refuse
    // (new columns need physical-id assignment — use addColumn first).
    if (mergeSchema)
      require(!mappedCfg(snap0.configuration),
        s"mergeSchema on $path: schema evolution through MERGE is not " +
          "supported on a column-mapped table — ALTER addColumn first")
    val tableSchema =
      if (mergeSchema) evolveSchema(snap0.schema, source0.schema)
      else snap0.schema
    keys.foreach(k => require(tableSchema.fieldNames.contains(k),
      s"merge key $k not in table schema"))
    val genNames = generatedFields(tableSchema).map(_._1.name).toSet
    val identNames = identityFields(tableSchema).map(_.field.name).toSet
    def checkSet(set: Map[String, org.apache.spark.sql.Column],
                 what: String): Unit = set.keys.foreach { c =>
      require(tableSchema.fieldNames.contains(c),
        s"$what SET column $c not in table schema")
      require(!genNames.contains(c),
        s"cannot SET generated column $c — it derives from its expression")
      require(!identNames.contains(c), s"cannot SET identity column $c")
    }
    matched.foreach(_.set.foreach(checkSet(_, "WHEN MATCHED")))
    bySource.foreach { b =>
      if (b.action == "update")
        require(b.set.nonEmpty, "WHEN NOT MATCHED BY SOURCE UPDATE needs SET columns")
      checkSet(b.set, "WHEN NOT MATCHED BY SOURCE")
    }
    notMatched.foreach(_.values.foreach(_.keys.foreach { c =>
      require(tableSchema.fieldNames.contains(c),
        s"INSERT column $c not in table schema")
      require(!genNames.contains(c),
        s"cannot INSERT generated column $c — it derives from its expression")
    }))
    val src = source0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val srcRows = src.count()
      // an EMPTY source still matters under BY SOURCE clauses (every
      // live target row is then unmatched-by-source)
      if (srcRows == 0 && bySource.isEmpty)
        return MergeStats(snap0.version, 0L, 0L, 0L)
      require(src.select(keys.map(quotedCol): _*).distinct().count() == srcRows,
        "merge source keys must be unique — a multi-matching source is ambiguous")
      // dynamic file pruning from the source's key bounds (see merge) —
      // UNSOUND under by-source clauses: files outside the source's key
      // range hold exactly the rows those clauses must touch
      val keyBounds: Option[org.apache.spark.sql.Column] =
        if (bySource.nonEmpty || srcRows == 0) None
        else {
          import org.apache.spark.sql.functions.{max, min}
          val aggs = keys.flatMap(k =>
            Seq(min(quotedCol(k)).as(s"lo_$k"), max(quotedCol(k)).as(s"hi_$k")))
          val r = src.agg(aggs.head, aggs.tail: _*).collect()(0)
          val per = keys.zipWithIndex.flatMap { case (k, i) =>
            (Option(r.get(2 * i)), Option(r.get(2 * i + 1))) match {
              case (Some(lo), Some(hi)) =>
                Some(quotedCol(k) >= lit(lo) && quotedCol(k) <= lit(hi))
              case _ => None
            }
          }
          if (per.size == keys.size) Some(per.reduce(_ && _)) else None
        }
      var attempt = 0
      var prior = dmlSnapshot(spark, path, keyBounds)
      while (true) {
        // concurrent schema evolution (an ALTER or another mergeSchema
        // MERGE winning a commit race): tableSchema / genNames /
        // identNames — and, under mergeSchema, the re-stated metaData —
        // all derive from snap0. Proceeding on the rebased snapshot
        // would silently drop concurrently-added column values from
        // every rewritten row and actively REVERT the concurrent schema
        // change. Restart the whole merge so validation re-derives from
        // the fresh schema; each restart consumes a retry so racing
        // ALTERs cannot livelock this writer.
        if (prior.schema.json != snap0.schema.json) {
          require(maxRetries - attempt > 0,
            s"MERGE into $path: the table schema changed concurrently " +
              s"${attempt + 1} time(s) and the retry budget is exhausted")
          return mergeIntoFull(spark, path, source0, keys, matched,
            notMatched, bySource, footerKv, maxRetries - attempt - 1,
            txn, mergeSchema)
        }
        txn.foreach { case (appId, v) =>
          if (prior.txns.get(appId).exists(_ >= v))
            return MergeStats(prior.version, 0L, 0L, 0L)
        }
        val mcolM = materializedRidCol(prior.configuration)
        // the LIVE target scan, full columns + positions (+ row ids)
        val tgt =
          if (prior.files.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              StructType(tableSchema.fields.toSeq ++ Seq(
                StructField(PosFileCol, StringType),
                StructField(PosIdxCol, LongType)) ++
                mcolM.map(StructField(_, LongType)).toSeq))
          else scanWithPos(spark, path, prior, applyDvs = true,
            extraCols = mcolM.toSeq)
        val tA = tgt.as("t")
        val sA = src.as("s")
        val joinCond = keys.map(k => quotedCol("t", k) === quotedCol("s", k))
          .reduce(_ && _)
        // a carried target column under schema evolution may not exist
        // in the OLD files' scan — evolved columns read null for old rows
        val tgtCols = tgt.columns.toSet
        def tCarry(f: StructField): org.apache.spark.sql.Column =
          if (tgtCols.contains(f.name))
            quotedCol("t", f.name).as(f.name, f.metadata)
          else lit(null).cast(f.dataType).as(f.name, f.metadata)
        // per-row FIRST-MATCH clause routing: CASE WHEN c0 THEN 0 WHEN
        // c1 THEN 1 … ELSE -1 — one scan routes every row to its clause
        val IdxCol = "__graft_merge_clause"
        def selector(conds: Seq[Option[org.apache.spark.sql.Column]])
            : org.apache.spark.sql.Column =
          conds.zipWithIndex.foldRight(lit(-1)) { case ((c, i), acc) =>
            when(c.getOrElse(lit(true)), lit(i)).otherwise(acc) }
        val matchedSel =
          if (matched.isEmpty) None
          else Some(tA.join(sA, joinCond, "inner")
            .withColumn(IdxCol, selector(matched.map(_.condition)))
            .filter(col(IdxCol) >= 0)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val bySrcSel =
          if (bySource.isEmpty) None
          else Some(tA.join(sA, joinCond, "left_anti")
            .withColumn(IdxCol, selector(bySource.map(_.condition)))
            .filter(col(IdxCol) >= 0)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        var insPersisted: Option[DataFrame] = None
        try {
          def idxCounts(df: DataFrame): Map[Int, Long] =
            df.groupBy(col(IdxCol)).count().collect()
              .map(r => r.getInt(0) -> r.getLong(1)).toMap
          val mCounts = matchedSel.map(idxCounts).getOrElse(Map.empty[Int, Long])
          val bCounts = bySrcSel.map(idxCounts).getOrElse(Map.empty[Int, Long])
          val matchedRows = mCounts.values.sum
          val bySrcRows = bCounts.values.sum
          // every routed row dies by position; updates re-append below
          val parts =
            if (matchedRows + bySrcRows == 0) None
            else dvDeathParts(spark, path, prior,
              (matchedSel.toSeq ++ bySrcSel.toSeq)
                .map(_.select(col(PosFileCol), col(PosIdxCol)))
                .reduce(_ union _))
          val updatedRows =
            matched.zipWithIndex.collect {
              case (c, i) if c.action == "update" => mCounts.getOrElse(i, 0L)
            }.sum +
            bySource.zipWithIndex.collect {
              case (c, i) if c.action == "update" => bCounts.getOrElse(i, 0L)
            }.sum
          val deletedRows = matchedRows + bySrcRows - updatedRows
          // per-row carried ID: the row keeps its own (materialized
          // column when present, else file baseRowId + row index)
          def ridCol: Option[org.apache.spark.sql.Column] = mcolM.map { m =>
            import org.apache.spark.sql.functions.{coalesce, element_at, typedLit}
            val baseByKey = prior.files.collect {
              case f if f.baseRowId.isDefined =>
                logKey(f.path, prior.partitionColumns.size + 1) -> f.baseRowId.get
            }.toMap
            val d = if (baseByKey.isEmpty)
              lit(null).cast("bigint")
            else element_at(typedLit(baseByKey), col(PosFileCol)) + col(PosIdxCol)
            coalesce(quotedCol("t", m), d).as(m)
          }
          // new versions of rows taken by an UPDATE clause: SET exprs
          // applied, unnamed columns carried from the TARGET
          val newMatched: Option[DataFrame] = matchedSel.flatMap { ms =>
            val upds = matched.zipWithIndex.filter { case (c, i) =>
              c.action == "update" && mCounts.getOrElse(i, 0L) > 0 }
            if (upds.isEmpty) None
            else Some(upds.map { case (c, i) =>
              val setCols = tableSchema.fields.toSeq.map { f =>
                c.set match {
                  case Some(setMap) => setMap.get(f.name)
                    .map(_.cast(f.dataType).as(f.name, f.metadata))
                    .getOrElse(tCarry(f))
                  case None => // whole source row (the merge() shape)
                    quotedCol("s", f.name).cast(f.dataType).as(f.name, f.metadata)
                }
              }
              ms.filter(col(IdxCol) === i).select(setCols ++ ridCol.toSeq: _*)
            }.reduce(_ unionByName _))
          }
          val newBySrc: Option[DataFrame] = bySrcSel.flatMap { bs =>
            val upds = bySource.zipWithIndex.filter { case (c, i) =>
              c.action == "update" && bCounts.getOrElse(i, 0L) > 0 }
            if (upds.isEmpty) None
            else Some(upds.map { case (c, i) =>
              val setCols = tableSchema.fields.toSeq.map { f =>
                c.set.get(f.name)
                  .map(_.cast(f.dataType).as(f.name, f.metadata))
                  .getOrElse(tCarry(f))
              }
              bs.filter(col(IdxCol) === i).select(setCols ++ ridCol.toSeq: _*)
            }.reduce(_ unionByName _))
          }
          val newVersions0: Option[DataFrame] =
            (newMatched.toSeq ++ newBySrc.toSeq).reduceOption(_ unionByName _)
              .map { base =>
                // generated columns recompute over the SET-applied values
                if (genNames.isEmpty) base
                else applyGeneratedColumns(base.drop(genNames.toSeq: _*),
                  tableSchema, s"MERGE into $path")
              }
          // inserts: unmatched (vs LIVE keys) source rows, routed to
          // their first-true NOT MATCHED clause
          var identUp = Map.empty[String, Long]
          val idents = identityFields(prior.schema)
          val insertsDf: Option[DataFrame] =
            if (notMatched.isEmpty || srcRows == 0) None
            else {
              val liveKeys = tgt.select(keys.map(quotedCol): _*).distinct()
              val routed = sA.join(liveKeys, keys, "left_anti")
                .withColumn(IdxCol, selector(notMatched.map(_.condition)))
                .filter(col(IdxCol) >= 0)
              val defFields = defaultFields(tableSchema)
              val defOf = defFields.map { case (f, d) => f.name -> d }.toMap
              def clauseFrame(c: MergeNotMatched, i: Int): DataFrame = {
                val rows = routed.filter(col(IdxCol) === i)
                c.values match {
                  case None => // schema-aligned source row
                    val present = tableSchema.fields.toSeq.filter(f =>
                      src.columns.contains(f.name))
                    tableSchema.fields.foreach { f =>
                      require(src.columns.contains(f.name) ||
                        genNames.contains(f.name) || identNames.contains(f.name) ||
                        defOf.contains(f.name),
                        s"merge source lacks column ${f.name} needed for INSERT " +
                          "(only generated/identity/default columns may be " +
                          "omitted; or INSERT explicit values)")
                    }
                    var out = rows.select(present.map(f =>
                      quotedCol(f.name).cast(f.dataType).as(f.name, f.metadata)): _*)
                    defFields.foreach { case (f, d) =>
                      if (!out.columns.contains(f.name))
                        out = out.withColumn(f.name,
                          org.apache.spark.sql.functions.expr(d)
                            .cast(f.dataType).as(f.name, f.metadata))
                    }
                    applyGeneratedColumns(out, tableSchema, s"MERGE into $path")
                  case Some(valueMap) =>
                    // explicit values: defaults fill, generated compute,
                    // identity generates, unnamed plain columns are NULL
                    // (delta-spark's rule; NOT NULL constraints still gate)
                    val cols = tableSchema.fields.toSeq.flatMap { f =>
                      valueMap.get(f.name) match {
                        case Some(e) =>
                          Some(e.cast(f.dataType).as(f.name, f.metadata))
                        case None if genNames.contains(f.name) ||
                            identNames.contains(f.name) => None
                        case None => defOf.get(f.name) match {
                          case Some(d) =>
                            Some(org.apache.spark.sql.functions.expr(d)
                              .cast(f.dataType).as(f.name, f.metadata))
                          case None => Some(lit(null).cast(f.dataType)
                            .as(f.name, f.metadata))
                        }
                      }
                    }
                    applyGeneratedColumns(rows.select(cols: _*), tableSchema,
                      s"MERGE into $path")
                }
              }
              val frames = notMatched.zipWithIndex.map { case (c, i) =>
                clauseFrame(c, i) }
              require(frames.map(_.columns.toSet).distinct.size == 1,
                "INSERT clauses disagree on identity-column presence — " +
                  "either every clause supplies the identity column or none does")
              // persist BEFORE identity assignment: per-partition counts
              // must be stable across the assignment's two passes
              var out = frames.reduce(_ unionByName _)
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              insPersisted = Some(out)
              idents.foreach { i =>
                if (!out.columns.contains(i.field.name)) {
                  val base = nextIdentityBase(i.start, i.step, i.hwm)
                  val (d2, n) = assignIdentityValues(out, i.field, base, i.step)
                  out = d2
                  if (n > 0) identUp += i.field.name -> (base + (n - 1) * i.step)
                } else {
                  require(i.allowExplicit,
                    s"identity column ${i.field.name} is GENERATED ALWAYS — " +
                      "merge sources may not supply it")
                  import org.apache.spark.sql.functions.{max, min}
                  val r = out.agg((if (i.step > 0) max(quotedCol(i.field.name))
                                   else min(quotedCol(i.field.name)))
                    .cast(LongType)).collect()(0)
                  if (!r.isNullAt(0)) {
                    val v = r.getLong(0)
                    if (i.hwm.forall(h => if (i.step > 0) v > h else v < h))
                      identUp += i.field.name -> v
                  }
                }
              }
              Some(out)
            }
          val insertedRows = insertsDf.map(_.count()).getOrElse(0L)
          val appendDf: Option[DataFrame] = (newVersions0, insertsDf) match {
            case (Some(u), Some(i)) if insertedRows > 0 =>
              Some(u.unionByName(i, allowMissingColumns = true))
            case (Some(u), _) => Some(u)
            case (None, Some(i)) if insertedRows > 0 => Some(i)
            case _ => None
          }
          if (parts.isEmpty && appendDf.isEmpty)
            return MergeStats(prior.version, 0L, 0L, 0L)
          try appendDf.foreach(d => enforceConstraints(d, tableSchema,
            prior.configuration, s"MERGE into $path"))
          catch { case t: Throwable =>
            parts.foreach(_.dropPack())
            throw t
          }
          val physM =
            if (mappedCfg(prior.configuration)) Some(prior.schema) else None
          val (added, cleanupMoved) = appendDf match {
            case Some(df) =>
              stageAndMove(df, path, footerKv, conf,
                prior.partitionColumns, physM,
                physPassThrough = mcolM.filter(df.columns.contains).toSet)
            case None => (Seq.empty[StagedFile], () => ())
          }
          val statsByName = DeltaStats.collectFileStats(
            spark, path, added.map(_.relPath),
            physM.map(physSchemaOf).getOrElse(tableSchema),
            prior.configuration, logicalSchema = physM)
          val now = System.currentTimeMillis()
          val actions = Seq.newBuilder[JsonNode]
          actions += commitInfo(now, "MERGE",
            Map("numTargetRowsUpdated" -> updatedRows,
              "numTargetRowsInserted" -> insertedRows,
              "numTargetRowsDeleted" -> deletedRows,
              "numTargetFilesAdded" -> added.size.toLong))
          txn.foreach { case (appId, v) => actions += txnActionNode(appId, v, now) }
          featureUpgradeAction(prior,
            (if (parts.nonEmpty) Seq("deletionVectors") else Nil) ++
              cfgReaderFeatures(prior.configuration),
            (if (parts.nonEmpty) Seq("deletionVectors") else Nil) ++
              (if (idents.nonEmpty) Seq("identityColumns") else Nil) ++
              cfgWriterFeatures(prior.configuration))
            .foreach(actions += _)
          val schemaEvolved = mergeSchema &&
            tableSchema.json != prior.schema.json
          if (schemaEvolved || identUp.nonEmpty)
            actions += metaDataAction(prior.tableId,
              stampIdentityHwm(if (schemaEvolved) tableSchema else prior.schema,
                identUp),
              prior.configuration, now, prior.partitionColumns)
          parts.foreach(p => actions ++= p.actions(now))
          val rt = assignRowIds(conf, path, prior.configuration,
            prior.domainMetadata, added, statsByName)
          added.foreach { f =>
            val r = mapper.createObjectNode()
            val b = r.putObject("add")
            b.put("path", f.relPath)
            putPartitionValues(b, f.partitionValues)
            b.put("size", f.status.getLen)
            b.put("modificationTime", f.status.getModificationTime)
            b.put("dataChange", true)
            statsByName.get(f.relPath).foreach(b.put("stats", _))
            rt.foreach { case (ids, _) =>
              b.put("baseRowId", ids(f.relPath))
              b.put("defaultRowCommitVersion", prior.version + 1)
            }
            actions += r
          }
          rt.foreach(t => actions += t._2)
          // CDF: per-row change types follow each row's clause — update
          // pairs for UPDATE clauses, delete rows for DELETE clauses,
          // inserts for NOT MATCHED
          val (cdcActs, dropCdc) =
            if (cdfEnabled(prior.configuration) &&
                (matchedRows + bySrcRows > 0 || insertedRows > 0)) {
              val tColsT = tableSchema.fields.toSeq.map(f =>
                if (tgtCols.contains(f.name)) quotedCol("t", f.name).as(f.name)
                else lit(null).cast(f.dataType).as(f.name))
              def changeCase(actionsByIdx: Seq[String])
                  : org.apache.spark.sql.Column =
                actionsByIdx.zipWithIndex.foldRight(
                    lit(null).cast("string")) { case ((a, i), acc) =>
                  when(col(IdxCol) === i,
                    lit(if (a == "update") "update_preimage" else "delete"))
                    .otherwise(acc)
                }
              def preOf(sel: DataFrame, acts: Seq[String]): DataFrame =
                sel.select(tColsT :+ col(IdxCol): _*)
                  .withColumn("_change_type", changeCase(acts))
                  .drop(IdxCol)
              val pres =
                (if (matchedRows > 0)
                   matchedSel.map(preOf(_, matched.map(_.action))).toSeq
                 else Nil) ++
                (if (bySrcRows > 0)
                   bySrcSel.map(preOf(_, bySource.map(_.action))).toSeq
                 else Nil)
              val post = newVersions0.map(
                _.drop(mcolM.toSeq: _*)
                  .withColumn("_change_type", lit("update_postimage")))
              val ins = insertsDf.filter(_ => insertedRows > 0).map(
                _.withColumn("_change_type", lit("insert")))
              writeCdcActions(spark, path,
                (pres ++ post.toSeq ++ ins.toSeq)
                  .reduce(_.unionByName(_, allowMissingColumns = false)),
                physM)
            } else (Seq.empty[JsonNode], () => ())
          actions ++= cdcActs
          try {
            commit(conf, path, prior.version + 1, actions.result(),
              prior.configuration)
            return MergeStats(prior.version + 1, updatedRows, insertedRows,
              deletedRows)
          } catch {
            case e: ConcurrentCommitException =>
              parts.foreach(_.dropPack())
              cleanupMoved()
              dropCdc()
              attempt += 1
              if (attempt > maxRetries)
                throw new IllegalStateException(
                  s"mergeInto on $path lost the commit race $attempt times " +
                    s"(last: ${e.getMessage}); staged files withdrawn", e)
              prior = dmlSnapshot(spark, path, keyBounds) // rebase
          }
        } finally {
          matchedSel.foreach { p => p.unpersist(); () }
          bySrcSel.foreach { p => p.unpersist(); () }
          insPersisted.foreach { p => p.unpersist(); () }
        }
      }
      throw new IllegalStateException("unreachable")
    } finally { src.unpersist(); () }
  }

  /** UPDATE without rewriting untouched data — the third DV-era DML verb
    * next to [[delete]] and [[merge]]: rows matching `condition` die by
    * POSITION in per-file deletion vectors and their new versions (the
    * `set` expressions applied, every other column carried over) land in
    * fresh appended files. A predicate touching 0.1% of rows in every
    * file costs O(matched rows) append + KB-sized bitmaps, never a
    * rewrite of the touched files (copy-on-write UPDATE rewrites each
    * touched file wholesale).
    *
    *   - `set`: column → new-value expression, evaluated against the OLD
    *     row (standard SQL UPDATE scoping: `SET a = a + b` reads the
    *     pre-update `a` and `b`). Values cast to the column's declared
    *     type — UPDATE never changes the table schema.
    *   - Updating a PARTITION column is allowed: the new row versions
    *     stage through the table's hive layout, so rows migrate to their
    *     new `col=value/` directory (the log, not the path, is
    *     authoritative either way).
    *   - Matching runs against the LIVE view (DV-filtered): rows already
    *     deleted can't be updated, so `updatedRows` is exact.
    *
    * Commit races rebase like [[merge]]: the match, bitmaps, and staged
    * appends all recompute against the new snapshot (an interleaved
    * writer may have changed which rows match), bounded by
    * `maxRetries`. A predicate matching nothing commits nothing. */
  def update(spark: SparkSession, path: String,
             condition: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column],
             footerKv: Map[String, String] = Map.empty,
             maxRetries: Int = 10,
             txn: Option[(String, Long)] = None): UpdateStats = {
    import org.apache.spark.sql.functions.col
    require(set.nonEmpty, "update needs at least one SET column")
    val conf = spark.sessionState.newHadoopConf()
    var attempt = 0
    while (true) {
      // same narrowing as DELETE: only stats-satisfiable files reach
      // the driver (checkpoint adds prune on executors)
      val snap = dmlSnapshot(spark, path, Some(condition))
      // idempotence gate — same contract as write/delete/merge
      txn.foreach { case (appId, v) =>
        if (snap.txns.get(appId).exists(_ >= v))
          return UpdateStats(snap.version, 0L)
      }
      requireWritable(snap, path)
      requireNotAppendOnly(snap.configuration, "UPDATE")
      requireIcebergRowLevel(snap.configuration, path, "UPDATE")
      set.keys.foreach(k => require(snap.schema.fieldNames.contains(k),
        s"update SET column $k not in table schema"))
      if (snap.files.isEmpty) return UpdateStats(snap.version, 0L)
      // row tracking: the rewritten row versions MATERIALIZE their
      // original row IDs into the configured hidden column — stable IDs
      // across UPDATE, which is what lets readChanges pair pre/post
      // images without cdc files. The old rows' IDs come from the old
      // files' materialized column when present (a second update of an
      // already-rewritten row), else baseRowId + row index.
      val mcolOpt = materializedRidCol(snap.configuration)
      // one matched-row frame feeds BOTH the death positions and the
      // re-appended row versions — persist so the predicate scan runs once
      val matched = scanWithPos(spark, path, snap, applyDvs = true,
          extraCols = mcolOpt.toSeq)
        .filter(condition)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val parts = dvDeathParts(spark, path, snap,
          matched.select(col(PosFileCol), col(PosIdxCol)))
        if (parts.isEmpty) return UpdateStats(snap.version, 0L)
        val updatedRows = parts.get.newlyDeleted
        val setCols = snap.schema.fields.toSeq.map { f =>
          set.get(f.name)
            .map(_.cast(f.dataType).as(f.name, f.metadata))
            .getOrElse(quotedCol(f.name))
        }
        val newRows0 = mcolOpt match {
          case Some(m) =>
            val rid = ridExpr(snap.files, snap.partitionColumns.size + 1,
              Some(m))
            matched.select(setCols :+ rid.as(m): _*)
          case None => matched.drop(PosFileCol, PosIdxCol).select(setCols: _*)
        }
        // generated columns RECOMPUTE over the SET-applied values (their
        // sources may have changed); SETting one directly is rejected —
        // the expression, not the writer, owns its value
        val genNames = generatedFields(snap.schema).map(_._1.name)
        genNames.foreach(g => require(!set.contains(g),
          s"cannot UPDATE generated column $g — it derives from its " +
            "generation expression"))
        // identity columns: SET would break the uniqueness contract the
        // writer owns (delta-spark refuses the same way); untouched
        // columns carry through the rewrite unchanged, which is legal
        identityFields(snap.schema).foreach(i =>
          require(!set.contains(i.field.name),
            s"cannot UPDATE identity column ${i.field.name}"))
        val newRows =
          if (genNames.isEmpty) newRows0
          else applyGeneratedColumns(newRows0.drop(genNames: _*), snap.schema,
            s"UPDATE on $path")
        try enforceConstraints(newRows, snap.schema, snap.configuration,
          s"UPDATE on $path")
        catch { case t: Throwable => parts.get.dropPack(); throw t }
        val physU = if (mappedCfg(snap.configuration)) Some(snap.schema) else None
        val (added, cleanupMoved) = stageAndMove(newRows, path, footerKv, conf,
          snap.partitionColumns, physU, physPassThrough = mcolOpt.toSet)
        val statsByName = DeltaStats.collectFileStats(
          spark, path, added.map(_.relPath),
          physU.map(physSchemaOf).getOrElse(snap.schema),
          snap.configuration, logicalSchema = physU)
        val now = System.currentTimeMillis()
        val actions = Seq.newBuilder[JsonNode]
        actions += commitInfo(now, "UPDATE",
          Map("numUpdatedRows" -> updatedRows,
            "numAddedFiles" -> added.size.toLong,
            "numDeletionVectorsUpdated" -> parts.get.dvFiles.toLong))
        txn.foreach { case (appId, v) => actions += txnActionNode(appId, v, now) }
        featureUpgradeAction(snap,
          Seq("deletionVectors") ++ cfgReaderFeatures(snap.configuration),
          Seq("deletionVectors") ++ cfgWriterFeatures(snap.configuration))
          .foreach(actions += _)
        actions ++= parts.get.actions(now)
        val rt = assignRowIds(conf, path, snap.configuration,
          snap.domainMetadata, added, statsByName)
        added.foreach { f =>
          val r = mapper.createObjectNode()
          val b = r.putObject("add")
          b.put("path", f.relPath)
          putPartitionValues(b, f.partitionValues)
          b.put("size", f.status.getLen)
          b.put("modificationTime", f.status.getModificationTime)
          b.put("dataChange", true)
          statsByName.get(f.relPath).foreach(b.put("stats", _))
          rt.foreach { case (ids, _) =>
            b.put("baseRowId", ids(f.relPath))
            b.put("defaultRowCommitVersion", snap.version + 1)
          }
          actions += r
        }
        rt.foreach(t => actions += t._2)
        // CDF write: the spec's update pair — old row versions as
        // update_preimage, the SET-applied versions as update_postimage
        // (the materialized row-id column is file-internal, not feed
        // content)
        val (cdcActs, dropCdc) =
          if (cdfEnabled(snap.configuration)) {
            val lit = org.apache.spark.sql.functions.lit _
            writeCdcActions(spark, path,
              matched.drop(PosFileCol, PosIdxCol).drop(mcolOpt.toSeq: _*)
                .withColumn("_change_type", lit("update_preimage"))
                .unionByName(newRows.drop(mcolOpt.toSeq: _*)
                  .withColumn("_change_type", lit("update_postimage"))),
              physU)
          } else (Seq.empty[JsonNode], () => ())
        actions ++= cdcActs
        try {
          commit(conf, path, snap.version + 1, actions.result(),
            snap.configuration)
          return UpdateStats(snap.version + 1, updatedRows)
        } catch {
          case e: ConcurrentCommitException =>
            parts.get.dropPack()
            cleanupMoved()
            dropCdc()
            attempt += 1
            if (attempt > maxRetries)
              throw new IllegalStateException(
                s"update on $path lost the commit race $attempt times " +
                  s"(last: ${e.getMessage}); staged files withdrawn", e)
            // loop: re-snapshot, re-match, re-stage against the new state
        }
      } finally { matched.unpersist(); () }
    }
    throw new IllegalStateException("unreachable")
  }

  /** RESTORE TABLE ... TO VERSION AS OF — roll the table's CURRENT state
    * back to `versionAsOf` as a NEW commit (time travel is read-only;
    * restore makes the old state current again while keeping the log
    * append-only, so the botched commits remain auditable and
    * themselves restorable). The commit is the set difference in file
    * actions: adds for target-version files no longer live (or live with
    * a different deletion vector — a later DELETE's tombstones must roll
    * back too), removes for current files absent from the target. Data
    * files are never copied — restore is O(changed file actions), pure
    * log surgery, which is why it's instant at 100 TB.
    *
    * Every re-added file's bytes must still exist on disk ([[vacuum]]
    * may have reclaimed files only unreconstructable versions
    * referenced); missing files fail the restore BY NAME before anything
    * commits. Schema/properties/partitioning roll back with the data
    * (metaData is re-stated when it differs). Commit races rebase,
    * bounded by `maxRetries`. Restoring the current version commits
    * nothing. */
  /** RESTORE ... TO TIMESTAMP AS OF — resolves the instant through the
    * monotonic commit-time rule ([[versionAtTimestamp]], ICT-aware)
    * then restores that version. */
  def restoreAtTimestamp(spark: SparkSession, path: String, tsMillis: Long,
                         maxRetries: Int = 10): RestoreStats =
    restore(spark, path, versionAtTimestamp(
      spark.sessionState.newHadoopConf(), path, tsMillis), maxRetries)

  /** Shallow CLONE pinned at a wall-clock instant (`TIMESTAMP AS OF`). */
  def cloneShallowAtTimestamp(spark: SparkSession, sourcePath: String,
                              targetPath: String, tsMillis: Long): Long =
    cloneShallow(spark, sourcePath, targetPath, Some(versionAtTimestamp(
      spark.sessionState.newHadoopConf(), sourcePath, tsMillis)))

  def restore(spark: SparkSession, path: String, versionAsOf: Long,
              maxRetries: Int = 10): RestoreStats = {
    val conf = spark.sessionState.newHadoopConf()
    val target = snapshotAt(spark, path, versionAsOf)
    val fs = new Path(path).getFileSystem(conf)
    // every re-added file's bytes AND its DV pack must still be on disk
    val missing = target.files.flatMap { f =>
      val data = new Path(new Path(path), f.path)
      val dvp = f.dv.filter(_.storageType == "u")
        .map(d => DeletionVectors.dvFilePath(path, d.pathOrInlineDv))
      (Seq(data) ++ dvp).filterNot(fs.exists).map(_.getName)
    }
    require(missing.isEmpty,
      s"cannot restore $path to version $versionAsOf: ${missing.size} " +
        s"file(s) no longer exist (vacuumed?), first: ${missing.headOption.orNull}")
    def dvId(f: AddFile): Option[(String, String)] =
      f.dv.map(d => (d.storageType, d.pathOrInlineDv))
    var attempt = 0
    while (true) {
      val cur = snapshot(spark, path)
      requireWritable(cur, path)
      requireNotAppendOnly(cur.configuration, "RESTORE") // CURRENT props govern
      if (cur.version == versionAsOf)
        return RestoreStats(cur.version, versionAsOf, 0, 0)
      val curByPath = cur.files.map(f => f.path -> f).toMap
      val tgtByPath = target.files.map(f => f.path -> f).toMap
      // re-add: in target but not live now, or live with a different DV
      val toAdd = target.files.filter(f =>
        !curByPath.get(f.path).exists(c => dvId(c) == dvId(f)))
      // tombstone: live now but not in target (same-path-different-DV
      // files are re-stated by the add — replay resolves to the new add)
      val toRemove = cur.files.filter(f => !tgtByPath.contains(f.path))
      val metaChanged = cur.schema.json != target.schema.json ||
        cur.configuration != target.configuration ||
        cur.partitionColumns != target.partitionColumns
      if (toAdd.isEmpty && toRemove.isEmpty && !metaChanged)
        return RestoreStats(cur.version, versionAsOf, 0, 0)
      val now = System.currentTimeMillis()
      val actions = Seq.newBuilder[JsonNode]
      actions += commitInfo(now, s"RESTORE (version $versionAsOf)",
        Map("numRestoredFiles" -> toAdd.size.toLong,
          "numRemovedFiles" -> toRemove.size.toLong))
      if (metaChanged)
        actions += metaDataAction(cur.tableId, target.schema,
          target.configuration, now, target.partitionColumns)
      toRemove.foreach(f => actions += removeActionNode(f, now, dataChange = true))
      toAdd.foreach { f =>
        val r = mapper.createObjectNode()
        val b = r.putObject("add")
        b.put("path", f.path)
        putPartitionValues(b, f.partitionValues)
        b.put("size", f.size)
        b.put("modificationTime", f.modificationTime)
        b.put("dataChange", true)
        f.stats.foreach(b.put("stats", _))
        f.baseRowId.foreach(b.put("baseRowId", _))
        f.defaultRowCommitVersion.foreach(b.put("defaultRowCommitVersion", _))
        f.clusteringProvider.foreach(b.put("clusteringProvider", _))
        f.dv.foreach { d =>
          val n = b.putObject("deletionVector")
          n.put("storageType", d.storageType)
          n.put("pathOrInlineDv", d.pathOrInlineDv)
          d.offset.foreach(n.put("offset", _))
          n.put("sizeInBytes", d.sizeInBytes); n.put("cardinality", d.cardinality)
        }
        actions += r
      }
      try {
        // exact crc delta: a re-stated same-path add replaces in place
        // (no remove is paired), so additive folding would double-count
        val filesDelta = toAdd.count(f => !curByPath.contains(f.path)).toLong -
          toRemove.size
        val bytesDelta = toAdd.map(f =>
          f.size - curByPath.get(f.path).map(_.size).getOrElse(0L)).sum -
          toRemove.map(_.size).sum
        commit(conf, path, cur.version + 1, actions.result(),
          target.configuration, crcDelta = Some((filesDelta, bytesDelta)))
        return RestoreStats(cur.version + 1, versionAsOf,
          toAdd.size, toRemove.size)
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"restore on $path lost the commit race $attempt times " +
                s"(last: ${e.getMessage})", e)
          // loop: recompute the diff against the new current state
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** SHALLOW CLONE: create a NEW Delta table at `targetPath` whose v0
    * references the SOURCE table's data files by ABSOLUTE path — zero
    * data bytes copied, O(source files) log metadata written. This is
    * the zero-copy dev/test snapshot of a 100-TB table: the clone is
    * immediately readable and independently writable (appends land in
    * the clone's own root; DELETE/UPDATE land DVs in the clone's root
    * over the source's files), and NOTHING ever writes into the source
    * — the two tables share bytes but not logs. `versionAsOf` clones a
    * historical version (time-travel + clone in one step).
    *
    * Per the spec, add actions may carry absolute URIs; this module's
    * reader resolves them (see [[resolvedDataPath]]), as it does for
    * externally-written logs using the same convention. Source DV
    * references rewrite from table-relative (`u`) to absolute (`p`)
    * storage so the clone's reads keep honoring the source's deleted
    * rows. The source's protocol requirements carry over. The clone's
    * VACUUM never reclaims source bytes (it only walks the clone's
    * root); vacuuming the SOURCE can orphan a clone — the same
    * documented caveat real shallow clones have. */
  def cloneShallow(spark: SparkSession, sourcePath: String, targetPath: String,
                   versionAsOf: Option[Long] = None): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val src = versionAsOf match {
      case Some(v) => snapshotAt(spark, sourcePath, v)
      case None => snapshot(spark, sourcePath)
    }
    require(!tableExists(conf, targetPath),
      s"clone target $targetPath already holds a Delta table")
    val srcRoot = new Path(sourcePath)
    val fs = srcRoot.getFileSystem(conf)
    def absolute(rel: String): String =
      fs.makeQualified(resolvedDataPath(sourcePath, rel)).toUri.toString
    val now = System.currentTimeMillis()
    val actions = Seq.newBuilder[JsonNode]
    actions += commitInfo(now,
      s"CLONE (shallow) from $sourcePath" +
        versionAsOf.map(v => s" version $v").getOrElse(""))
    // the clone needs exactly the source's capabilities
    locally {
      val r = mapper.createObjectNode()
      val b = r.putObject("protocol")
      b.put("minReaderVersion", src.minReaderVersion)
      b.put("minWriterVersion", src.minWriterVersion)
      if (src.readerFeatures.nonEmpty) {
        val a = b.putArray("readerFeatures"); src.readerFeatures.foreach(a.add)
      }
      if (src.writerFeatures.nonEmpty) {
        val a = b.putArray("writerFeatures"); src.writerFeatures.foreach(a.add)
      }
      actions += r
    }
    actions += metaDataAction(java.util.UUID.randomUUID().toString,
      src.schema, src.configuration, now, src.partitionColumns)
    src.files.foreach { f =>
      val r = mapper.createObjectNode()
      val b = r.putObject("add")
      b.put("path", absolute(f.path))
      putPartitionValues(b, f.partitionValues)
      b.put("size", f.size)
      b.put("modificationTime", f.modificationTime)
      b.put("dataChange", true)
      f.stats.foreach(b.put("stats", _))
      f.baseRowId.foreach(b.put("baseRowId", _))
      f.defaultRowCommitVersion.foreach(b.put("defaultRowCommitVersion", _))
      f.clusteringProvider.foreach(b.put("clusteringProvider", _))
      f.dv.foreach { d =>
        val n = b.putObject("deletionVector")
        if (d.storageType == "u") {
          // table-relative UUID storage → absolute-path storage so the
          // clone resolves the SOURCE's pack file
          n.put("storageType", "p")
          n.put("pathOrInlineDv", fs.makeQualified(
            DeletionVectors.dvFilePath(sourcePath, d.pathOrInlineDv)).toUri.toString)
        } else {
          n.put("storageType", d.storageType)
          n.put("pathOrInlineDv", d.pathOrInlineDv)
        }
        d.offset.foreach(n.put("offset", _))
        n.put("sizeInBytes", d.sizeInBytes); n.put("cardinality", d.cardinality)
      }
      actions += r
    }
    commit(conf, targetPath, 0L, actions.result(), src.configuration)
    0L
  }

  /** Write-side data-quality gate: validate a batch against the table's
    * CHECK constraints (`delta.constraints.*`) and NOT NULL columns
    * (table schema `nullable = false` where the batch's own plan can't
    * already prove non-nullness) in ONE aggregate pass — no row ships
    * anywhere on violation, and the error names every violated
    * constraint with its row count. Strict CHECK semantics: pass only
    * when the expression IS TRUE (null violates), per Delta. */
  private[stac] def enforceConstraints(df: DataFrame, tableSchema: StructType,
                                 config: Map[String, String],
                                 ctx: String): Unit = {
    import org.apache.spark.sql.functions.{col, expr, lit, sum, when}
    val notNull = tableSchema.fields.toSeq
      .filter(f => !f.nullable &&
        df.schema.find(_.name == f.name).forall(_.nullable))
      .map(f => s"NOT NULL column ${f.name}" -> quotedCol(f.name).isNotNull)
    // the spec's COLUMN INVARIANTS (legacy writer-2 `invariants`
    // feature): `delta.invariants` field metadata carries
    // {"expression":{"expression":"<sql>"}} — enforced with the same
    // strict must-be-TRUE rule as CHECK constraints, so this engine's
    // claimed `invariants` writer support is honest for external
    // tables that actually carry them
    val invariants = tableSchema.fields.toSeq.flatMap { f =>
      if (!f.metadata.contains("delta.invariants")) None
      else {
        val sql =
          try {
            val n = mapper.readTree(f.metadata.getString("delta.invariants"))
            Option(n.get("expression"))
              .flatMap(e => Option(e.get("expression"))).map(_.asText())
          } catch { case _: Exception => None }
        sql.map(sq =>
          s"INVARIANT on ${f.name} ($sq)" -> (expr(sq) <=> lit(true)))
      }
    }
    val checks = config.toSeq.sortBy(_._1).collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        s"CHECK ${k.stripPrefix(ConstraintPrefix)} ($v)" -> (expr(v) <=> lit(true))
    }
    val all = notNull ++ invariants ++ checks
    if (all.isEmpty) return
    val aggs = all.map { case (_, c) => sum(when(c, 0L).otherwise(1L)) }
    val row =
      try df.agg(aggs.head, aggs.tail: _*).collect()(0)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$ctx: a table constraint references columns absent from " +
              s"the written schema — drop the constraint first (${e.getMessage})", e)
      }
    val violated = all.zipWithIndex.collect {
      case ((n, _), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$n: ${row.getLong(i)} row(s)"
    }
    require(violated.isEmpty, s"$ctx violates ${violated.mkString("; ")}")
  }
}
