package graft.stac

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType}
import scala.jdk.CollectionConverters._

/** Change-feed and streaming-support surface of [[PortableDelta]]:
  * readChanges / readAppends (CDF + append windows) and the pinned
  * snapshot slice state that rate-limited initial-snapshot drains use.
  * Split from PortableDelta.scala; self-typed — behavior unchanged. */
private[stac] trait DeltaChangeFeedOps extends Serializable { self: PortableDelta.type =>

  /** Change Data Feed: reconstruct ROW-LEVEL changes for versions
    * `fromVersion..toVersion` (inclusive) from the log alone — the
    * incremental-consumer API (downstream sync, audit, streaming
    * backfill) that turns "re-read the table and diff" into "read
    * exactly what changed". No cdc files are materialized; changes
    * derive from the file actions, which is exactly what DV-era engines
    * do for non-CDF tables:
    *
    *   - a NEW file with `dataChange=true` → its rows (minus any DV it
    *     was born with) are `insert`s;
    *   - a re-stated file whose DV GREW → the rows at positions in
    *     (newDV \ oldDV) are `delete`s (the DELETE/MERGE shape; the
    *     probe is two broadcast bitmaps, never a position list);
    *   - a removed file (`dataChange=true`, not re-stated in the same
    *     commit) → its then-live rows are `delete`s;
    *   - `dataChange=false` actions (OPTIMIZE, compaction) produce
    *     NOTHING — layout changes are not data changes.
    *
    * Output = table schema + `_change_type` (insert|delete) +
    * `_commit_version`. An update appears as its delete + insert pair
    * (this writer's MERGE commits exactly that). Requires the JSON
    * commits for the requested range — checkpoint-truncated versions
    * fail by name, never silently. Work is bounded by the CHANGED files
    * per version, not table size. */
  def readChanges(spark: SparkSession, path: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, udf}
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"bad CDF range [$fromVersion, $toVersion]")
    val conf = spark.sessionState.newHadoopConf()
    val fs = logDir(path).getFileSystem(conf)
    val endSnap = snapshotAt(spark, path, toVersion)
    var live: Map[String, AddFile] =
      if (fromVersion == 0) Map.empty
      else snapshotAt(spark, path, fromVersion - 1).files.map(f => f.path -> f).toMap

    def loadDv(d: DvDescriptor): DeletionVectors.Dv =
      DeletionVectors.load(conf, path, d.storageType, d.pathOrInlineDv,
        d.offset, d.sizeInBytes)
    // row positions key by the scan's suffix column, not the raw add
    // path (which may be absolute for clone-style tables)
    val relDepth = endSnap.partitionColumns.size + 1
    def keyOf(f: AddFile): String = logKey(f.path, relDepth)
    def scanFiles(files: Seq[AddFile]) =
      buildScan(spark, path, endSnap.copy(files = files),
        withPos = true, applyDvs = false)
    val outSchema = StructType(endSnap.schema.fields.toSeq ++ Seq(
      StructField("_change_type", StringType),
      StructField("_commit_version", LongType),
      StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType)))
    def finish(df: DataFrame, change: String, v: Long): DataFrame =
      df.drop(PosIdxCol).drop(PosFileCol)
        .withColumn("_change_type", lit(change))
        .withColumn("_commit_version", lit(v))
    val pieces = Seq.newBuilder[DataFrame]

    for (v <- fromVersion to toVersion) {
      val p = new Path(logDir(path), versionFileName(v))
      require(fs.exists(p),
        s"CDF needs commit $v of $path but its JSON is not available " +
          "(checkpoint-truncated log)")
      val nodes = jsonActions(fs, p)
      // spec CDF precedence: when a commit carries `cdc` actions
      // (AddCDCFile — what delta-spark with delta.enableChangeDataFeed
      // writes), those files ARE the complete change description for the
      // version, including update_preimage/update_postimage rows the
      // file-diff reconstruction below cannot express. Read them and
      // SKIP reconstruction; add/remove still advance the pre-state.
      val cdcs = nodes.filter(_.has("cdc")).map(_.get("cdc"))
      if (cdcs.nonEmpty) {
        // ONE scan per distinct partitionValues tuple, not per cdc part
        // file — a commit's change frame can stage dozens of parts, and
        // a scan node each would put the analyzer back on the critical
        // path (the same lesson as the chunked assembly below)
        val byPv: Seq[(Map[String, String], Seq[String])] = cdcs.map { c =>
          val file = resolvedDataPath(path, c.get("path").asText()).toString
          val pv: Map[String, String] =
            Option(c.get("partitionValues")).filterNot(_.isNull)
              .map(_.asInstanceOf[ObjectNode].properties().asScala.map(e =>
                e.getKey -> (if (e.getValue.isNull) null
                             else e.getValue.asText())).toMap)
              .getOrElse(Map.empty)
          (pv, file)
        }.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
        val cdcParts = byPv.map { case (pv, files) =>
          var df = spark.read.parquet(files: _*)
          require(df.columns.contains("_change_type"),
            s"cdc files ${files.head}... of $path carry no _change_type column")
          // cdc parquet carries PHYSICAL names on mapped tables (the
          // physicalName is preserved through renames, so pre-rename cdc
          // files keep resolving); partition columns live in the action,
          // not the parquet bytes — physical-keyed under mapping, with
          // logical-keyed tolerance for plainer writers
          endSnap.schema.fields.foreach { f =>
            val pn = physFieldName(f)
            if (!df.columns.contains(pn) &&
                (pv.contains(pn) || pv.contains(f.name)))
              df = df.withColumn(pn,
                lit(pv.get(pn).orElse(pv.get(f.name)).orNull).cast(f.dataType))
          }
          // cast targets are deep-NULLABLE: parquet relaxes struct-field
          // nullability on write, and nullable→required struct casts
          // refuse — feed content is read-only, so nullable is sound
          df.select(endSnap.schema.fields.toSeq.map(f =>
            quotedCol(physFieldName(f)).cast(deepNullable(f.dataType))
              .as(f.name)) :+
            col("_change_type").cast("string").as("_change_type"): _*)
        }
        pieces += cdcParts.reduce(_ unionByName _)
          .withColumn("_commit_version", lit(v))
      }
      val adds = nodes.filter(_.has("add")).map(_.get("add"))
        .filter(a => cdcs.isEmpty &&
          Option(a.get("dataChange")).forall(_.asBoolean()))
        .map(parseAddNode)
      val removedPaths = nodes.filter(_.has("remove")).map(_.get("remove"))
        .filter(r => cdcs.isEmpty &&
          Option(r.get("dataChange")).forall(_.asBoolean()))
        .map(_.get("path").asText())

      val (restated, born) = adds.partition(a => live.contains(a.path))
      val gone = removedPaths.filterNot(rp => adds.exists(_.path == rp))
        .flatMap(live.get) // a foreign tombstone has no pre-state: no-op
      // Row tracking: an UPDATE-shaped commit (rows dying — removed
      // files OR grown DVs — alongside born files, no cdc) pairs
      // pre/post images BY ROW ID: a row's ID is coalesce(materialized
      // column, baseRowId + row index), stable across rewrites, so
      // matched IDs are updates, unmatched dead rows are deletes,
      // unmatched born rows are inserts. This is the reconstruction the
      // plain file-diff below cannot express (it labels every rewrite
      // delete+insert).
      val grewRt = restated.filter(f =>
        f.dv.map(_.cardinality).getOrElse(0L) >
          live(f.path).dv.map(_.cardinality).getOrElse(0L))
      val paired = rowTrackingEnabled(endSnap.configuration) &&
        born.nonEmpty && (gone.nonEmpty || grewRt.nonEmpty) &&
        (born ++ gone ++ grewRt).forall(_.baseRowId.isDefined)
      if (paired) {
        val mcol = endSnap.configuration.get(MaterializedRowIdProp)
        def withRid(files: Seq[AddFile]): DataFrame = {
          val base = buildScan(spark, path, endSnap.copy(files = files),
            withPos = true, applyDvs = false, extraCols = mcol.toSeq)
          val baseByKey = files.map(f => keyOf(f) -> f.baseRowId.get).toMap
          import org.apache.spark.sql.functions.{coalesce, element_at, typedLit}
          val defaultRid =
            element_at(typedLit(baseByKey), col(PosFileCol)) + col(PosIdxCol)
          base.withColumn(RidCol,
            mcol.map(m => coalesce(quotedCol(m), defaultRid)).getOrElse(defaultRid))
        }
        def strip(df: DataFrame): DataFrame =
          df.drop(PosFileCol, PosIdxCol).drop(mcol.toSeq: _*)
        // pre side 1: then-live rows of removed files (minus their DV)
        val preGone = if (gone.isEmpty) None else Some {
          val dvFiles = gone.filter(_.dv.isDefined)
          val base = withRid(gone)
          if (dvFiles.isEmpty) base
          else {
            val bc = spark.sparkContext.broadcast(
              dvFiles.map(f => keyOf(f) -> loadDv(f.dv.get)).toMap)
            val keep = udf((rel: String, idx: Long) =>
              !bc.value.get(rel).exists(_.contains(idx)))
            base.filter(keep(col(PosFileCol), col(PosIdxCol)))
          }
        }
        // pre side 2: this commit's newly-dead positions (newDV \ oldDV)
        val preGrew = if (grewRt.isEmpty) None else Some {
          val bc = spark.sparkContext.broadcast(grewRt.map { f =>
            keyOf(f) -> (live(f.path).dv.map(loadDv), loadDv(f.dv.get))
          }.toMap)
          val diff = udf((rel: String, idx: Long) =>
            bc.value.get(rel).exists { case (old, nw) =>
              nw.contains(idx) && !old.exists(_.contains(idx))
            })
          withRid(grewRt).filter(diff(col(PosFileCol), col(PosIdxCol)))
        }
        val pre = strip((preGone.toSeq ++ preGrew.toSeq).reduce(_ unionByName _))
        // post side: rows of the born files (minus any DV they were
        // born with)
        val post = strip {
          val dvFiles = born.filter(_.dv.isDefined)
          val base = withRid(born)
          if (dvFiles.isEmpty) base
          else {
            val bc = spark.sparkContext.broadcast(
              dvFiles.map(f => keyOf(f) -> loadDv(f.dv.get)).toMap)
            val keep = udf((rel: String, idx: Long) =>
              !bc.value.get(rel).exists(_.contains(idx)))
            base.filter(keep(col(PosFileCol), col(PosIdxCol)))
          }
        }
        val preIds = pre.select(col(RidCol))
        val postIds = post.select(col(RidCol))
        pieces += finish(pre.join(postIds, Seq(RidCol), "left_semi")
          .drop(RidCol), "update_preimage", v)
        pieces += finish(post.join(preIds, Seq(RidCol), "left_semi")
          .drop(RidCol), "update_postimage", v)
        pieces += finish(pre.join(postIds, Seq(RidCol), "left_anti")
          .drop(RidCol), "delete", v)
        pieces += finish(post.join(preIds, Seq(RidCol), "left_anti")
          .drop(RidCol), "insert", v)
      }
      // fresh files: inserts (minus any DV they were born with)
      if (!paired && born.nonEmpty) {
        val withDv = born.filter(_.dv.isDefined)
        val base = scanFiles(born)
        val df =
          if (withDv.isEmpty) base
          else {
            val bc = spark.sparkContext.broadcast(
              withDv.map(f => keyOf(f) -> loadDv(f.dv.get)).toMap)
            val keep = udf((rel: String, idx: Long) =>
              !bc.value.get(rel).exists(_.contains(idx)))
            base.filter(keep(col(PosFileCol), col(PosIdxCol)))
          }
        pieces += finish(df, "insert", v)
      }
      // re-stated files: the DV growth is this commit's deletes
      // (consumed by the row-ID pairing above when it ran)
      val grew = if (paired) Nil else grewRt
      if (grew.nonEmpty) {
        val bc = spark.sparkContext.broadcast(grew.map { f =>
          keyOf(f) -> (live(f.path).dv.map(loadDv), loadDv(f.dv.get))
        }.toMap)
        val diff = udf((rel: String, idx: Long) =>
          bc.value.get(rel).exists { case (old, nw) =>
            nw.contains(idx) && !old.exists(_.contains(idx))
          })
        pieces += finish(
          scanFiles(grew).filter(diff(col(PosFileCol), col(PosIdxCol))),
          "delete", v)
      }
      // removed (and not re-stated) files: their then-live rows die
      if (!paired && gone.nonEmpty) {
        val withDv = gone.filter(_.dv.isDefined)
        val base = scanFiles(gone)
        val df =
          if (withDv.isEmpty) base
          else {
            val bc = spark.sparkContext.broadcast(
              withDv.map(f => keyOf(f) -> loadDv(f.dv.get)).toMap)
            val keep = udf((rel: String, idx: Long) =>
              !bc.value.get(rel).exists(_.contains(idx)))
            base.filter(keep(col(PosFileCol), col(PosIdxCol)))
          }
        pieces += finish(df, "delete", v)
      }
      // advance the pre-state: all actions apply, dataChange or not
      nodes.foreach { n =>
        if (n.has("add")) {
          val f = parseAddNode(n.get("add"))
          live = live + (f.path -> f)
        }
        if (n.has("remove"))
          live = live - n.get("remove").get("path").asText()
      }
    }
    val all = pieces.result()
    if (all.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    else {
      // _commit_timestamp, as external CDF readers surface it: the
      // commit's time per [[history]] (inCommitTimestamp-aware, so on
      // ICT tables the column is clock-skew-proof). Bounded map literal
      // — one entry per version in the requested range.
      import org.apache.spark.sql.functions.{element_at, typedLit}
      val tsByV: Map[Long, Long] = history(conf, path)
        .filter(h => h._1 >= fromVersion && h._1 <= toVersion)
        .map(h => h._1 -> h._3).toMap
      // Lineage-bounded assembly: one union plan over THOUSANDS of
      // version pieces makes the ANALYZER the cost (Catalyst re-walks
      // the whole tree per downstream action — the d16 lesson applied
      // to CDF). Chunk the pieces and truncate SQL lineage per chunk
      // (createDataFrame over the chunk's RDD), so plan size stays
      // O(versions / chunk + chunk) however long the range is; work
      // per version stays bounded by that commit's changed files.
      val chunked = all.grouped(32).map { chunk =>
        val u = chunk.reduce(_ unionByName _)
        if (chunk.size == 1) u
        else spark.createDataFrame(u.rdd, u.schema)
      }.toSeq
      chunked.reduce(_ unionByName _)
        .withColumn("_commit_timestamp",
          (element_at(typedLit(tsByV), col("_commit_version")) / 1000L)
            .cast("timestamp"))
    }
  }

  /** CDF over a TIME window — the delta-spark `startingTimestamp` /
    * `endingTimestamp` read: the changes of every version whose commit
    * time falls in `[fromTsMillis, toTsMillis]`, resolved over
    * truncation-surviving [[history]] with the same ICT-aware
    * monotonic healing as [[versionAtTimestamp]]. Errors (never an
    * empty guess) when the window holds no commits. */
  def readChangesBetweenTimestamps(spark: SparkSession, path: String,
                                   fromTsMillis: Long,
                                   toTsMillis: Long): DataFrame = {
    require(fromTsMillis <= toTsMillis,
      s"bad CDF time window [$fromTsMillis, $toTsMillis]")
    val conf = spark.sessionState.newHadoopConf()
    val commits = history(conf, path).sortBy(_._1)
    var run = Long.MinValue
    val mono = commits.map { case (v, _, ts) =>
      run = math.max(run, ts); (v, run)
    }
    val inWindow = mono.filter(t => t._2 >= fromTsMillis && t._2 <= toTsMillis)
    require(inWindow.nonEmpty,
      s"no commits of $path in time window [$fromTsMillis, $toTsMillis] " +
        s"(commit times span [${mono.headOption.map(_._2).getOrElse(-1L)}, " +
        s"${mono.lastOption.map(_._2).getOrElse(-1L)}])")
    readChanges(spark, path, inWindow.map(_._1).min, inWindow.map(_._1).max)
  }

  /** The rows APPENDED in versions `[fromVersion, toVersion]` — the
    * delta-spark plain streaming-source read (`readStream.format
    * ("delta")`): each commit contributes exactly its `dataChange=true`
    * add files (compaction/backfill rewrites are `dataChange=false` and
    * contribute nothing), read with the end-version schema and any
    * born-with deletion vector applied. An append stream cannot
    * represent row changes or deletions, so a commit that also REMOVES
    * data errors by version unless the caller opts into the delta
    * source's two escape hatches: `skipChangeCommits` drops every
    * data-changing commit wholesale (its adds included — the
    * delta-spark option), `ignoreDeletes` additionally permits
    * DELETE-only commits (removes without adds, e.g. retention
    * deletes), skipping them. Rewriting commits still refuse under
    * `ignoreDeletes` alone — re-delivering rewritten files would
    * duplicate rows. Row-change fidelity wants [[readChanges]] / the
    * CDF source instead.
    *
    * Scale: the window's JSON commits parse on the driver (bounded by
    * the caller's trigger size), and the born files scan as ONE plan
    * regardless of how many commits contributed — never a scan node
    * per commit file. */
  def readAppends(spark: SparkSession, path: String,
                  fromVersion: Long, toVersion: Long,
                  ignoreDeletes: Boolean = false,
                  skipChangeCommits: Boolean = false): DataFrame = {
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"bad append-stream range [$fromVersion, $toVersion]")
    val conf = spark.sessionState.newHadoopConf()
    val fs = logDir(path).getFileSystem(conf)
    val endSnap = snapshotAt(spark, path, toVersion)
    val born = Seq.newBuilder[AddFile]
    for (v <- fromVersion to toVersion)
      born ++= appendAddsOf(fs, path, v, ignoreDeletes, skipChangeCommits)
    buildScan(spark, path, endSnap.copy(files = born.result()),
      withPos = false, applyDvs = true)
  }

  /** One commit's append-stream contribution: its `dataChange=true` add
    * files in commit order — empty when the commit is skippable under
    * the caller's options, error when it changes rows and is not. */
  private[stac] def appendAddsOf(fs: org.apache.hadoop.fs.FileSystem, path: String,
                           v: Long, ignoreDeletes: Boolean,
                           skipChangeCommits: Boolean): Seq[AddFile] = {
    val p = new Path(logDir(path), versionFileName(v))
    require(fs.exists(p),
      s"append stream needs commit $v of $path but its JSON is not " +
        "available (checkpoint-truncated log)")
    val nodes = jsonActions(fs, p)
    val adds = nodes.filter(_.has("add")).map(_.get("add"))
      .filter(a => Option(a.get("dataChange")).forall(_.asBoolean()))
      .map(parseAddNode)
    val removes = nodes.filter(_.has("remove")).map(_.get("remove"))
      .filter(r => Option(r.get("dataChange")).forall(_.asBoolean()))
    if (removes.isEmpty) adds
    else if (skipChangeCommits) Nil // the whole commit is skipped, adds too
    else if (adds.isEmpty && ignoreDeletes) Nil // delete-only commit
    else throw new IllegalStateException(
      s"version $v of $path ${if (adds.isEmpty) "deletes" else "changes"} " +
        "existing rows; an append stream cannot represent that — set " +
        "skipChangeCommits=true (skip data-changing commits) or, for " +
        "delete-only commits, ignoreDeletes=true; row-level fidelity " +
        "wants the CDF source (readChanges)")
  }

  /** A FILE-GRANULAR append-stream window (the delta source's
    * `maxFilesPerTrigger` shape): starting at `fromVersion` with
    * `fromFileOffset` of its add files already consumed, take up to
    * `maxFiles` files across at most `maxVersions` commits (bounded by
    * `toVersionMax`) and return them as ONE scan plus the end offset —
    * `(df, endVersion, filesConsumedOfEndVersion, endVersionComplete)`.
    * A commit bigger than the budget is split across triggers in commit
    * order, so a 50k-file backfill commit drains in bounded batches
    * instead of one giant plan. `maxBytes` is the delta source's
    * `maxBytesPerTrigger` soft max: files admit while the cumulative
    * logged size is under budget (overshoot ≤ one file; the window's
    * first file always admits, so progress is guaranteed). Files scan
    * with the END version's schema (mid-window schema changes surface
    * at the scan, same as [[readAppends]]). */
  def readAppendsWindow(spark: SparkSession, path: String,
                        fromVersion: Long, fromFileOffset: Int,
                        toVersionMax: Long, maxVersions: Int, maxFiles: Int,
                        ignoreDeletes: Boolean = false,
                        skipChangeCommits: Boolean = false,
                        maxBytes: Long = Long.MaxValue)
      : (DataFrame, Long, Int, Boolean) = {
    require(fromVersion >= 0 && fromFileOffset >= 0 &&
      maxVersions >= 1 && maxFiles >= 1 && maxBytes >= 1,
      s"bad window args ($fromVersion, $fromFileOffset, $maxVersions, " +
        s"$maxFiles, $maxBytes)")
    require(fromVersion <= toVersionMax,
      s"window start $fromVersion past table version $toVersionMax")
    val (taken, endV, endOff, endComplete) = appendsWindowPlan(spark, path,
      fromVersion, fromFileOffset, toVersionMax, maxVersions, maxFiles,
      ignoreDeletes, skipChangeCommits, maxBytes)
    val endSnap = snapshotAt(spark, path, endV)
    (buildScan(spark, path, endSnap.copy(files = taken),
      withPos = false, applyDvs = true), endV, endOff, endComplete)
  }

  /** The admission loop of [[readAppendsWindow]], without the scan:
    * (taken files, endVersion, endFileOffset, endComplete). Driver-side
    * JSON reads of exactly the window's commits. */
  private[stac] def appendsWindowPlan(spark: SparkSession, path: String,
      fromVersion: Long, fromFileOffset: Int,
      toVersionMax: Long, maxVersions: Int, maxFiles: Int,
      ignoreDeletes: Boolean, skipChangeCommits: Boolean,
      maxBytes: Long): (Seq[AddFile], Long, Int, Boolean) = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = logDir(path).getFileSystem(conf)
    val taken = Seq.newBuilder[AddFile]
    var took = 0
    var tookBytes = 0L
    var v = fromVersion
    var off = fromFileOffset
    var endV = fromVersion
    var endOff = fromFileOffset
    var endComplete = false
    var versions = 0
    var done = false
    while (!done) {
      val adds = appendAddsOf(fs, path, v, ignoreDeletes, skipChangeCommits)
      require(off <= adds.size,
        s"offset $off past the ${adds.size} append files of commit $v at $path")
      val avail = adds.slice(off, adds.size)
      var take = 0
      while (take < avail.size && took + take < maxFiles &&
             (took + take == 0 || tookBytes < maxBytes)) {
        tookBytes += avail(take).size
        take += 1
      }
      taken ++= avail.take(take)
      took += take
      endV = v; endOff = off + take; endComplete = endOff == adds.size
      versions += 1
      if (!endComplete || v == toVersionMax || took >= maxFiles ||
          tookBytes >= maxBytes || versions >= maxVersions) done = true
      else { v += 1; off = 0 }
    }
    (taken.result(), endV, endOff, endComplete)
  }

  /** End offset a rate-limited window WOULD reach, without building the
    * scan — the declarative streaming source's `getOffset` planning
    * read ([[graft.streaming.PortableDeltaStreamSource]]). */
  private[graft] def appendsWindowEnd(spark: SparkSession, path: String,
      fromVersion: Long, fromFileOffset: Int,
      toVersionMax: Long, maxVersions: Int, maxFiles: Int,
      ignoreDeletes: Boolean, skipChangeCommits: Boolean,
      maxBytes: Long): (Long, Int, Boolean) = {
    val (_, v, off, complete) = appendsWindowPlan(spark, path, fromVersion,
      fromFileOffset, toVersionMax, maxVersions, maxFiles, ignoreDeletes,
      skipChangeCommits, maxBytes)
    (v, off, complete)
  }

  /** The EXACT append window (fromVersion@fromFileOffset ..
    * endVersion@endFileOffset] as one scan — the declarative streaming
    * source's `getBatch` reconstruction: Spark's offset log names both
    * ends, and the read must honor them even if the stream restarted
    * with different rate limits. `endFileOffset = None` means all of
    * `endVersion`'s append files. Deterministic because commit JSONs
    * are immutable and [[appendAddsOf]] preserves commit order. */
  private[graft] def readAppendsRange(spark: SparkSession, path: String,
      fromVersion: Long, fromFileOffset: Int,
      endVersion: Long, endFileOffset: Option[Int],
      ignoreDeletes: Boolean, skipChangeCommits: Boolean): DataFrame = {
    require(fromVersion >= 0 && fromVersion <= endVersion,
      s"bad append range [$fromVersion@$fromFileOffset, " +
        s"$endVersion@$endFileOffset]")
    val conf = spark.sessionState.newHadoopConf()
    val fs = logDir(path).getFileSystem(conf)
    val taken = Seq.newBuilder[AddFile]
    for (v <- fromVersion to endVersion) {
      val adds = appendAddsOf(fs, path, v, ignoreDeletes, skipChangeCommits)
      val from = if (v == fromVersion) fromFileOffset else 0
      val to = if (v == endVersion) endFileOffset.getOrElse(adds.size)
               else adds.size
      require(from <= adds.size && to <= adds.size && from <= to,
        s"append range slice [$from, $to) out of bounds for the " +
          s"${adds.size} append files of commit $v at $path")
      taken ++= adds.slice(from, to)
    }
    val endSnap = snapshotAt(spark, path, endVersion)
    buildScan(spark, path, endSnap.copy(files = taken.result()),
      withPos = false, applyDvs = true)
  }

  /** End offset a rate-limited snapshot slice WOULD reach, without
    * collecting its add rows: (endFileOffset, complete). Same two
    * executor passes as [[readSnapshotSlice]] but the second only
    * counts; never evicts the pinned ordering (only a real slice read
    * completes the drain). */
  private[graft] def snapshotSliceEnd(spark: SparkSession, path: String,
      versionAsOf: Long, fromFile: Int, maxFiles: Int,
      maxBytes: Long = Long.MaxValue): (Int, Boolean) = {
    require(fromFile >= 0 && maxFiles >= 1 && maxBytes >= 1L,
      s"bad slice args ($fromFile, $maxFiles, $maxBytes)")
    val (_, ordered, starts) = pinnedSliceState(spark, path, versionAsOf)
    val total = starts.last
    require(fromFile <= total,
      s"slice offset $fromFile past the $total live files of " +
        s"$path@$versionAsOf")
    val from = fromFile.toLong
    val mf = maxFiles.toLong
    val partBytes = ordered.rdd.mapPartitionsWithIndex { (pi, it) =>
      var idx = starts(pi); var sum = 0L
      it.foreach { r => if (idx >= from) sum += r.getLong(1); idx += 1 }
      Iterator.single(pi -> sum)
    }.collect().sortBy(_._1).map(_._2)
    val bytesBefore = partBytes.scanLeft(0L)(_ + _)
    val admitted = ordered.rdd.mapPartitionsWithIndex { (pi, it) =>
      var idx = starts(pi); var bytes = bytesBefore(pi); var n = 0L
      it.foreach { r =>
        val g = idx; idx += 1
        if (g >= from) {
          val pos = g - from
          if (pos < mf && (pos == 0L || bytes < maxBytes)) n += 1
          bytes += r.getLong(1)
        }
      }
      Iterator.single(n)
    }.collect().sum
    val end = fromFile + admitted.toInt
    (end, end == total)
  }

  /** One commit's CHANGE LOAD — (changed file actions, changed bytes)
    * over add + cdc + remove: the admission weight a CDF rate limit
    * packs against (the [[graft.streaming.DeltaCdfSource]] rule). */
  private[graft] def cdfCommitLoad(conf: org.apache.hadoop.conf.Configuration,
      path: String, v: Long): (Int, Long) = {
    val p = new Path(logDir(path), versionFileName(v))
    val fs = p.getFileSystem(conf)
    var files = 0; var bytes = 0L
    jsonActions(fs, p).foreach { n =>
      Seq("add", "cdc", "remove").foreach { k =>
        if (n.has(k)) {
          files += 1
          val sz = n.get(k).get("size")
          if (sz != null && sz.isNumber) bytes += sz.asLong()
        }
      }
    }
    (files, bytes)
  }

  /** Pinned-snapshot slice state, cached across a drain's triggers: the
    * small state at `versionAsOf`, the live add rows SORTED by path as a
    * persisted DataFrame (the ordering stays on executors), and the
    * partition-start index array (length nPartitions+1; last = total).
    * On a checkpoint-seeded table the adds never materialize on the
    * driver; the pre-checkpoint fallback replays the bounded young JSON
    * log. Keyed per SESSION so two live sessions draining the same
    * pinned snapshot keep independent orderings instead of mutually
    * evicting each other's persisted frame every trigger; stale
    * stopped-session entries are swept on each build. Evicted when a
    * drain completes (or LRU past 4 entries). */
  @transient private[stac] lazy val sliceStateCache =
    new java.util.LinkedHashMap[(SparkSession, String, Long), (Snapshot, DataFrame, Array[Long])](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, Long), (Snapshot, DataFrame, Array[Long])]): Boolean = {
        val evict = size() > 4
        if (evict) safeUnpersist(e.getValue._2)
        evict
      }
    }

  /** Unpersist that tolerates an already-stopped owning session (a
    * stale cache entry after a driver restart within the JVM). */
  private[stac] def safeUnpersist(df: DataFrame): Unit =
    try { if (!df.sparkSession.sparkContext.isStopped) { df.unpersist(blocking = false); () } }
    catch { case _: Throwable => () }

  /** Test hook: whether a pinned slice ordering is cached for
    * (path, version) — the drain lifecycle contract (built on first
    * slice, evicted + unpersisted when the drain completes). */
  private[stac] def sliceStateCached(path: String, versionAsOf: Long): Boolean =
    sliceStateCache.synchronized {
      val it = sliceStateCache.keySet().iterator()
      var found = false
      while (!found && it.hasNext) {
        val k = it.next()
        found = k._2 == path && k._3 == versionAsOf
      }
      found
    }

  private[stac] def pinnedSliceState(spark: SparkSession, path: String,
                               versionAsOf: Long): (Snapshot, DataFrame, Array[Long]) = {
    val key = (spark, path, versionAsOf)
    sliceStateCache.synchronized {
      // sweep entries whose owning session can no longer run jobs —
      // they hold persisted frames that would otherwise linger
      val it = sliceStateCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1.sparkContext.isStopped) {
          safeUnpersist(e.getValue._2); it.remove()
        }
      }
      val hit = sliceStateCache.get(key)
      if (hit != null && !spark.sparkContext.isStopped) return hit
    }
    // build OUTSIDE the lock: the sort/persist/count are Spark jobs —
    // holding the global monitor through them would serialize unrelated
    // tables' drains behind one build
    // checkpoint-seeded state keeps its adds a DataFrame end-to-end
    val ls = logState(spark, path, Some(versionAsOf))
    val snapBase = ls.small
    val ordered = ls.addsDf(spark).sort("path")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = ordered.rdd
      .mapPartitionsWithIndex((pi, it) => Iterator.single(pi -> it.size.toLong))
      .collect().sortBy(_._1).map(_._2)
    val starts = counts.scanLeft(0L)(_ + _)
    val state = (snapBase, ordered, starts)
    sliceStateCache.synchronized {
      val race = sliceStateCache.get(key)
      // a concurrent same-session build won the put: keep theirs,
      // release ours (keys carry the session, so a hit here is always
      // this session's own entry — foreign sessions occupy other keys)
      if (race != null) {
        safeUnpersist(ordered)
        race
      } else {
        sliceStateCache.put(key, state)
        state
      }
    }
  }

  /** A bounded SLICE of a pinned snapshot's live files in deterministic
    * path order — the rate-limited INITIAL-SNAPSHOT batch of a streaming
    * consumer joining a huge table (a 100-TB table must not arrive as
    * one batch): files from `fromFile` admitted under `maxFiles` and the
    * soft `maxBytes` budget (the first file always admits, so the stream
    * progresses past any oversized file). DVs apply per file, so slices
    * compose to exactly the snapshot's live rows. Returns
    * (df, endFileOffset, complete).
    *
    * Scale: the pinned ordering is a persisted, range-sorted DataFrame
    * built once per drain ([[pinnedSliceState]]); each slice runs two
    * cheap executor-side passes over it (per-partition byte prefix, then
    * admit-and-collect) and only the SLICE'S files ever reach the
    * driver — a million-add table costs the driver O(slice), not
    * O(table), per trigger. */
  def readSnapshotSlice(spark: SparkSession, path: String, versionAsOf: Long,
                        fromFile: Int, maxFiles: Int,
                        maxBytes: Long = Long.MaxValue): (DataFrame, Int, Boolean) = {
    require(fromFile >= 0 && maxFiles >= 1 && maxBytes >= 1L,
      s"bad slice args ($fromFile, $maxFiles, $maxBytes)")
    val (snapBase, ordered, starts) = pinnedSliceState(spark, path, versionAsOf)
    val total = starts.last
    require(fromFile <= total,
      s"slice offset $fromFile past the $total live files of " +
        s"$path@$versionAsOf")
    val from = fromFile.toLong
    val mf = maxFiles.toLong
    // pass 1: per-partition byte sums of rows at global index >= from
    // (tiny O(nPartitions) collect) -> byte prefix entering each partition
    val partBytes = ordered.rdd.mapPartitionsWithIndex { (pi, it) =>
      var idx = starts(pi); var sum = 0L
      it.foreach { r => if (idx >= from) sum += r.getLong(1); idx += 1 }
      Iterator.single(pi -> sum)
    }.collect().sortBy(_._1).map(_._2)
    val bytesBefore = partBytes.scanLeft(0L)(_ + _)
    // pass 2: admit the budgeted prefix and collect ONLY those rows.
    // Admission is prefix-closed (position and cumulative bytes both
    // grow monotonically), so per-partition local decisions with the
    // global prefix are exactly the sequential rule.
    val admitted = ordered.rdd.mapPartitionsWithIndex { (pi, it) =>
      var idx = starts(pi); var bytes = bytesBefore(pi)
      it.flatMap { r =>
        val g = idx; idx += 1
        if (g < from) None
        else {
          val pos = g - from
          val admit = pos < mf && (pos == 0L || bytes < maxBytes)
          bytes += r.getLong(1)
          if (admit) Some(r) else None
        }
      }
    }.collect()
    val take = admitted.length
    val end = fromFile + take
    val complete = end == total
    if (complete) sliceStateCache.synchronized {
      val st = sliceStateCache.remove((spark, path, versionAsOf))
      if (st != null) safeUnpersist(st._2)
    }
    (buildScan(spark, path,
      snapBase.copy(files = admitted.map(rowToAddFile).toSeq),
      withPos = false, applyDvs = true), end, complete)
  }
}
