package graft.queries

import graft.{QuerySpec, Tables}
import graft.stac.{GeoFunctions, Hydrate, Normalize, StacJsonReader}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The STAC engine's operators exposed through the driver's correctness
  * gate, exercised over synthesized STAC shapes built from the TPC-H-ish
  * tables (the real fixtures round-trip in ScalaTest; these entries give
  * the geo codec / normalization / hydration DuckDB-checked value-level
  * oracles too).
  */
object StacOps {

  /** Deterministic lon/lat from an integer key (exact doubles: integer
    * grid plus .5/.25 offsets). */
  private def lon(key: Column): Column = (key % 360 - 180).cast("double") + 0.5
  private def lat(key: Column): Column = (key % 170 - 85).cast("double") + 0.25
  private val lonSql = "(CAST(p_partkey % 360 - 180 AS DOUBLE) + 0.5)"
  private val latSql = "(CAST(p_partkey % 170 - 85 AS DOUBLE) + 0.25)"

  /** stac05 harness prep: the synthetic STAC corpus as a 16-file raw
    * GeoJSON ndjson directory, derived from `orders` and written once per
    * (session, dataset). Multi-file so the timed ingest parallelizes like
    * a real drop of ndjson files would — the source parquet is a single
    * row group and would serialize the whole pipeline through one task. */
  private val ndjsonDirs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  private def itemsNdjsonDir(s: SparkSession, dir: String): String =
    ndjsonDirs.getOrElseUpdate((s, dir), {
      val o = Tables.t(s, dir, "orders")
      val x = (col("o_orderkey") % 360 - 180).cast("double") + 0.5
      val y = (col("o_orderkey") % 170 - 85).cast("double") + 0.25
      val itemJson = concat(
        lit("""{"type":"Feature","id":"o"""), col("o_orderkey"), lit("\","),
        lit(""""geometry":{"type":"Point","coordinates":["""),
        x.cast("string"), lit(","), y.cast("string"), lit("]},"),
        lit(""""bbox":["""), (x - 0.5).cast("string"), lit(","), (y - 0.25).cast("string"),
        lit(","), (x + 0.5).cast("string"), lit(","), (y + 0.25).cast("string"), lit("],"),
        lit(""""properties":{"datetime":""""),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'"), lit("\"},"),
        lit(""""links":[],"assets":{}}"""))
      val out = java.nio.file.Files.createTempDirectory("stac_ndjson").toString + "/items"
      o.select(itemJson.as("value")).repartition(16)
        .write.mode("overwrite").text(out)
      out
    })

  /** stac09 harness prep: the normalized corpus as a GeoParquet table
    * (struct bbox → per-column row-group stats), written once per
    * (session, dataset) — the stored-table side of the spatial-pruning
    * story. */
  private val geoTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  private def itemsGeoParquet(s: SparkSession, dir: String): String =
    geoTables.getOrElseUpdate((s, dir), {
      val out = java.nio.file.Files.createTempDirectory("stac_gpq").toString + "/items"
      val norm = Normalize(StacJsonReader.read(s, Seq(itemsNdjsonDir(s, dir))))
      graft.stac.GeoParquetWriter.write(norm, out)
      out
    })

  /** stac11 harness prep: the SAME corpus re-laid-out by Z-order — range
    * partitioned + sorted on the Morton key of the bbox center, so each
    * file/row group covers a compact key range and its bbox min/max stats
    * actually prune window queries (written once per session; at scale
    * this is the one-time compaction pass, like q20's bucketing). */
  private val zTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  private def itemsZOrdered(s: SparkSession, dir: String): String =
    zTables.getOrElseUpdate((s, dir), {
      val out = java.nio.file.Files.createTempDirectory("stac_zgpq").toString + "/items"
      val sorted = s.read.parquet(itemsGeoParquet(s, dir))
        .withColumn("_z", graft.stac.ZOrder.mortonKeyOfBboxCenter(col("bbox")))
        .repartitionByRange(8, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z")
      // through GeoParquetWriter, not a bare parquet write: the re-laid-out
      // table must STAY valid GeoParquet (geo/stac-geoparquet footer keys),
      // and the writer preserves the frame's partitioning/sort
      graft.stac.GeoParquetWriter.write(sorted, out)
      out
    })

  /** stac13 harness prep: the items corpus hive-partitioned by collection
    * (the coarsest pruning layer of a 100-TB layout: directory-level
    * partition elimination BEFORE any footer or row group is opened —
    * above stac09's row-group stats, stac11's z-order clustering, and
    * q20's bucketing). Written once per (session, dataset). */
  private val partTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  private def itemsPartitioned(s: SparkSession, dir: String): String =
    partTables.getOrElseUpdate((s, dir), {
      val out = java.nio.file.Files.createTempDirectory("stac_part").toString + "/items"
      val o = Tables.t(s, dir, "orders")
      val x = (col("o_orderkey") % 360 - 180).cast("double")
      o.select(concat(lit("o"), col("o_orderkey")).as("id"),
          concat(lit("c"), (col("o_orderkey") % 3).cast("string")).as("collection"),
          x.as("xmin"),
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("datetime"))
        .repartition(col("collection"))
        .write.mode("overwrite").partitionBy("collection").parquet(out)
      out
    })

  /** stac15 harness prep: a deliberately fragmented items table (64 tiny
    * parquet files — the small-file problem every incremental 100-TB
    * ingest accumulates), written once per (session, dataset). */
  private val fragTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  /** stac16's stable rewrite target per (session, dataset). */
  private val upsertDirs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  /** stac17's stable evolved-layout target per (session, dataset). */
  private val evoDirs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  private def itemsFragmented(s: SparkSession, dir: String): String =
    fragTables.getOrElseUpdate((s, dir), {
      val out = java.nio.file.Files.createTempDirectory("stac_frag").toString + "/items"
      Tables.t(s, dir, "orders")
        .select(col("o_orderkey").as("id"), (col("o_orderkey") % 4).as("grp"))
        .repartition(64)
        .write.mode("overwrite").parquet(out)
      out
    })

  val specs: Seq[QuerySpec] = Seq(

    // ----- G1+G2: GeoJSON → ISO WKB → GeoJSON round trip, value-checked -----
    QuerySpec(
      "stac01_geo_codec_roundtrip",
      Some(s"""
        SELECT p_partkey,
               '{"type":"Point","coordinates":[' || CAST($lonSql AS VARCHAR) || ',' || CAST($latSql AS VARCHAR) || ']}' AS geojson
        FROM part
        ORDER BY p_partkey"""),
      (s, dir) => {
        val p = Tables.t(s, dir, "part")
        val gj = concat(lit("""{"type":"Point","coordinates":["""),
          lon(col("p_partkey")).cast("string"), lit(","),
          lat(col("p_partkey")).cast("string"), lit("]}"))
        p.select(col("p_partkey"),
            GeoFunctions.wkb_to_geojson(GeoFunctions.geojson_to_wkb(gj)).as("geojson"))
          .orderBy(col("p_partkey"))
      }),

    // ----- G4: bbox from WKB geometry -----
    QuerySpec(
      "stac02_wkb_bounds",
      Some(s"""
        SELECT p_partkey,
               $lonSql - 0.5 AS xmin, $latSql - 0.25 AS ymin,
               $lonSql + 0.5 AS xmax, $latSql + 0.25 AS ymax
        FROM part
        ORDER BY p_partkey"""),
      (s, dir) => {
        val p = Tables.t(s, dir, "part")
        val x = lon(col("p_partkey")); val y = lat(col("p_partkey"))
        val ring = concat(
          lit("""{"type":"Polygon","coordinates":[[["""),
          (x - 0.5).cast("string"), lit(","), (y - 0.25).cast("string"), lit("],["),
          (x + 0.5).cast("string"), lit(","), (y - 0.25).cast("string"), lit("],["),
          (x + 0.5).cast("string"), lit(","), (y + 0.25).cast("string"), lit("],["),
          (x - 0.5).cast("string"), lit(","), (y + 0.25).cast("string"), lit("]]]}"))
        val b = GeoFunctions.wkb_bounds(GeoFunctions.geojson_to_wkb(ring))
        p.select(col("p_partkey"),
            b.getField("xmin").as("xmin"), b.getField("ymin").as("ymin"),
            b.getField("xmax").as("xmax"), b.getField("ymax").as("ymax"))
          .orderBy(col("p_partkey"))
      }),

    // ----- P2+P5: RFC3339 string → timestamp[µs] → RFC3339 string -----
    QuerySpec(
      "stac03_timestamp_roundtrip",
      Some("""
        SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%fZ') AS datetime_out
        FROM orders
        ORDER BY o_orderkey"""),
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        // string → timestamp (P2) → canonical RFC3339 out (P5)
        val asString = date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        o.select(col("o_orderkey"),
            date_format(asString.cast("timestamp"),
              graft.stac.StacSchema.Rfc3339Format).as("datetime_out"))
          .orderBy(col("o_orderkey"))
      }),

    // ----- J1: hydration merge, value-checked against string-built oracle -----
    QuerySpec(
      "stac04_hydrate",
      Some("""
        SELECT c_custkey,
               '{"id":"c' || c_custkey || '","properties":{"acct":' ||
               CAST(round(c_acctbal*100,0) AS BIGINT) || ',"region":"' || n_name ||
               '","gsd":10}}' AS item
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        ORDER BY c_custkey"""),
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val n = Tables.t(s, dir, "nation")
        val item = concat(lit("""{"id":"c"""), col("c_custkey"),
          lit("""","properties":{"acct":"""),
          round(col("c_acctbal") * 100, 0).cast("long"), lit("}}"))
        val base = concat(lit("""{"properties":{"region":""""), col("n_name"),
          lit("""","gsd":10}}"""))
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .select(col("c_custkey"), Hydrate.hydrateUdf(base, item).as("item"))
          .orderBy(col("c_custkey"))
      }),

    // ----- F4: self-link selection via higher-order array filter -----
    QuerySpec(
      "stac06_self_link",
      Some("""
        SELECT o_orderkey,
               list_filter([{'rel': 'root', 'type': '', 'href': 'https://example.com/'},
                            {'rel': 'self', 'type': 'application/json',
                             'href': 'https://example.com/items/o' || o_orderkey}],
                           l -> l.rel = 'self' AND
                                l.type IN ('application/json', 'application/geo+json', ''))[1].href
                 AS self_href
        FROM orders
        ORDER BY o_orderkey"""),
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val links = array(
          struct(lit("root").as("rel"), lit("").as("type"),
            lit("https://example.com/").as("href")),
          struct(lit("self").as("rel"), lit("application/json").as("type"),
            concat(lit("https://example.com/items/o"), col("o_orderkey")).as("href")))
        val selfHref = element_at(
          filter(links, l => l.getField("rel") === "self" &&
            l.getField("type").isin("application/json", "application/geo+json", "")),
          1).getField("href")
        o.select(col("o_orderkey"), selfHref.as("self_href"))
          .orderBy(col("o_orderkey"))
      }),

    // ----- full ingest pipeline: ndjson FILES → S1 → G1 → infer → P1-P4 -----
    // The corpus is materialized once per session as a multi-file raw
    // GeoJSON ndjson directory (harness prep — the driver's single-row-
    // group parquet would otherwise feed the whole ingest through one
    // task), then the timed query is the real file-based E1 path:
    // splittable text scan across the files, WKB codec, two-pass
    // inference (the codec runs in both passes, exactly like the
    // reference's `_api.py:250-261` infer + re-read), normalize. This is
    // the shape a 100-TB ingest actually has: N files → N parallel tasks.
    QuerySpec(
      "stac05_full_pipeline",
      Some("""
        SELECT 'o' || o_orderkey AS id,
               strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%fZ') AS datetime_out,
               CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin,
               CAST(o_orderkey % 170 - 85 AS DOUBLE) AS ymin,
               21 AS wkb_len
        FROM orders
        ORDER BY id"""),
      (s, dir) => {
        val norm = Normalize(StacJsonReader.read(s, Seq(itemsNdjsonDir(s, dir))))
        norm.select(col("id"),
            date_format(col("datetime"), graft.stac.StacSchema.Rfc3339Format).as("datetime_out"),
            col("bbox").getField("xmin").as("xmin"),
            col("bbox").getField("ymin").as("ymin"),
            length(col("geometry")).cast("int").as("wkb_len"))
          .orderBy(col("id"))
      },
      prepare = Some((s, dir) => itemsNdjsonDir(s, dir))),

    // ----- the 100-TB ingest fast path: Explicit schema, ONE pass -----
    // Same corpus, same oracle, same output as stac05, but with a
    // caller-supplied schema (the reference's explicit-pa.Schema strategy,
    // `_api.py:103-112`): no inference pass, and the schema names only the
    // fields this pipeline consumes, so the JSON parser skips the rest —
    // schema pruning pushed into the parse. The bench delta between
    // stac05 and stac08 IS the measured cost of inference at this scale.
    QuerySpec(
      "stac08_explicit_ingest",
      Some("""
        SELECT 'o' || o_orderkey AS id,
               strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%fZ') AS datetime_out,
               CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin,
               CAST(o_orderkey % 170 - 85 AS DOUBLE) AS ymin,
               21 AS wkb_len
        FROM orders
        ORDER BY id"""),
      (s, dir) => {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("id", StringType),
          StructField("geometry", BinaryType),
          StructField("bbox", ArrayType(DoubleType)),
          StructField("properties", StructType(Seq(StructField("datetime", StringType))))))
        val norm = Normalize(
          StacJsonReader.read(s, Seq(itemsNdjsonDir(s, dir)),
            StacJsonReader.Explicit(schema)),
          bboxDims = Some(4))
        norm.select(col("id"),
            date_format(col("datetime"), graft.stac.StacSchema.Rfc3339Format).as("datetime_out"),
            col("bbox").getField("xmin").as("xmin"),
            col("bbox").getField("ymin").as("ymin"),
            length(col("geometry")).cast("int").as("wkb_len"))
          .orderBy(col("id"))
      },
      prepare = Some((s, dir) => itemsNdjsonDir(s, dir))),

    // ----- the README.md:15 motivating query shape: spatial predicate over
    // the STORED GeoParquet table, pruned at the scan. `bbox_intersects` is
    // the ergonomic form; graft.plans.RewriteBboxIntersects opens it into
    // bbox.xmin/xmax/ymin/ymax conjuncts that reach PushedFilters (asserted
    // inside the gate row), where the struct-bbox row-group stats — the
    // reason the spec stores bbox as a struct — skip row groups at 100 TB.
    QuerySpec(
      "stac09_bbox_pruning",
      Some("""
        WITH b AS (SELECT 'o' || o_orderkey AS id,
                          CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin,
                          CAST(o_orderkey % 170 - 85 AS DOUBLE) AS ymin,
                          CAST(o_orderkey % 360 - 180 AS DOUBLE) + 1.0 AS xmax,
                          CAST(o_orderkey % 170 - 85 AS DOUBLE) + 0.5 AS ymax
                   FROM orders)
        SELECT id, xmin, ymin
        FROM b
        WHERE xmin <= 10 AND xmax >= -10 AND ymin <= 10 AND ymax >= -10
        ORDER BY id"""),
      (s, dir) => {
        graft.plans.BboxFunctions.armRewrite(s)
        val out = s.read.parquet(itemsGeoParquet(s, dir))
          .filter(graft.plans.BboxFunctions.bboxIntersects(
            col("bbox"), -10.0, -10.0, 10.0, 10.0))
          .select(col("id"),
            col("bbox").getField("xmin").as("xmin"),
            col("bbox").getField("ymin").as("ymin"))
          .orderBy(col("id"))
        val scan = out.queryExecution.executedPlan.toString
        require(scan.contains("PushedFilters") && scan.contains("bbox.xmin"),
          s"bbox_intersects must reach the scan as pushed bbox.* bounds:\n$scan")
        out
      },
      prepare = Some((s, dir) => itemsGeoParquet(s, dir))),

    // ----- F2: CQL2 JSON filter translated to a native Catalyst predicate -----
    // and / >= timestamp / in / s_intersects (planar bbox overlap) — the
    // translated conjunction reaches the parquet scan as PushedFilters on
    // datetime/collection/bbox.* (the reference can only delegate this to
    // pgstac's search(); here it prunes row groups directly).
    QuerySpec(
      "stac07_cql2_filter",
      Some("""
        SELECT 'o' || o_orderkey AS id,
               'c' || CAST(o_orderkey % 3 AS VARCHAR) AS collection,
               strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S.%fZ') AS datetime_out,
               CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin
        FROM orders
        WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1997-06-01 00:00:00'
          AND ('c' || CAST(o_orderkey % 3 AS VARCHAR)) IN ('c0', 'c2')
          AND CAST(o_orderkey % 360 - 180 AS DOUBLE) <= 60.0
          AND CAST(o_orderkey % 360 - 180 AS DOUBLE) + 1.0 >= -60.0
          AND CAST(o_orderkey % 170 - 85 AS DOUBLE) <= 90.0
          AND CAST(o_orderkey % 170 - 85 AS DOUBLE) + 0.5 >= -90.0
        ORDER BY id"""),
      (s, dir) => {
        val cql =
          """{"op":"and","args":[
            |  {"op":">=","args":[{"property":"datetime"},{"timestamp":"1997-06-01T00:00:00Z"}]},
            |  {"op":"in","args":[{"property":"collection"},["c0","c2"]]},
            |  {"op":"s_intersects","args":[{"property":"geometry"},
            |    {"type":"Polygon","coordinates":[[[-60.0,-90.0],[60.0,-90.0],[60.0,90.0],[-60.0,90.0],[-60.0,-90.0]]]}]}
            |]}""".stripMargin
        val o = Tables.t(s, dir, "orders")
        val bx = (col("o_orderkey") % 360 - 180).cast("double")
        val by = (col("o_orderkey") % 170 - 85).cast("double")
        o.select(
            concat(lit("o"), col("o_orderkey")).as("id"),
            concat(lit("c"), (col("o_orderkey") % 3).cast("string")).as("collection"),
            col("o_orderdate").cast("timestamp").as("datetime"),
            struct(bx.as("xmin"), by.as("ymin"),
              (bx + 1.0).as("xmax"), (by + 0.5).as("ymax")).as("bbox"),
            // geometry = the bbox rectangle: the exact JTS verify runs for
            // real but agrees with the envelope answer (rectangle items),
            // so the oracle stays arithmetic; stac19 holds the
            // shapes-differ population
            graft.stac.GeoFunctions.bbox_polygon_wkb(bx, by, bx + 1.0, by + 0.5)
              .as("geometry"))
          .filter(graft.stac.Cql2.filter(cql))
          .select(col("id"), col("collection"),
            date_format(col("datetime"), graft.stac.StacSchema.Rfc3339Format).as("datetime_out"),
            col("bbox.xmin").as("xmin"))
          .orderBy(col("id"))
      }),

    // ----- CQL2 advanced operators (the rest of pgstac search()'s set) -----
    // casei (case-insensitive compare), LIKE, a_contains over an array
    // column, and s_disjoint in the declared envelope semantics — all
    // translated natively to Catalyst predicates; the oracle mirrors each
    // operator structurally (lower(), LIKE, list_contains, NOT overlap).
    QuerySpec(
      "stac10_cql2_advanced",
      Some("""
        SELECT 'o' || o_orderkey AS id,
               'C' || CAST(o_orderkey % 3 AS VARCHAR) AS collection,
               CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin
        FROM orders
        WHERE lower('C' || CAST(o_orderkey % 3 AS VARCHAR)) = 'c1'
          AND ('o' || o_orderkey) LIKE 'o%0'
          AND list_contains(['t' || CAST(o_orderkey % 4 AS VARCHAR),
                             'x' || CAST(o_orderkey % 5 AS VARCHAR)], 't2')
          AND NOT (CAST(o_orderkey % 360 - 180 AS DOUBLE) <= 180.0
                   AND CAST(o_orderkey % 360 - 180 AS DOUBLE) + 1.0 >= 100.0
                   AND CAST(o_orderkey % 170 - 85 AS DOUBLE) <= 90.0
                   AND CAST(o_orderkey % 170 - 85 AS DOUBLE) + 0.5 >= -90.0)
        ORDER BY id"""),
      (s, dir) => {
        val cql =
          """{"op":"and","args":[
            |  {"op":"=","args":[{"op":"casei","args":[{"property":"collection"}]},"c1"]},
            |  {"op":"like","args":[{"property":"id"},"o%0"]},
            |  {"op":"a_contains","args":[{"property":"tags"},["t2"]]},
            |  {"op":"s_disjoint","args":[{"property":"geometry"},
            |    {"bbox":[100.0,-90.0,180.0,90.0]}]}
            |]}""".stripMargin
        val o = Tables.t(s, dir, "orders")
        val bx = (col("o_orderkey") % 360 - 180).cast("double")
        val by = (col("o_orderkey") % 170 - 85).cast("double")
        o.select(
            concat(lit("o"), col("o_orderkey")).as("id"),
            concat(lit("C"), (col("o_orderkey") % 3).cast("string")).as("collection"),
            array(concat(lit("t"), (col("o_orderkey") % 4).cast("string")),
              concat(lit("x"), (col("o_orderkey") % 5).cast("string"))).as("tags"),
            struct(bx.as("xmin"), by.as("ymin"),
              (bx + 1.0).as("xmax"), (by + 0.5).as("ymax")).as("bbox"),
            graft.stac.GeoFunctions.bbox_polygon_wkb(bx, by, bx + 1.0, by + 0.5)
              .as("geometry"))
          .filter(graft.stac.Cql2.filter(cql))
          .select(col("id"), col("collection"), col("bbox.xmin").as("xmin"))
          .orderBy(col("id"))
      }),

    // ----- Z-order spatial layout: window query over the clustered table -----
    // stac09 proves the bbox predicate REACHES the scan; this proves the
    // LAYOUT makes it prune: the corpus is range-partitioned + sorted on
    // the Morton key of the bbox center (prepare hook), the same window
    // query runs over it, and the output pins every item's Morton key so
    // the oracle value-checks the interleave arithmetic bit-for-bit.
    // ZOrderSpec measures the actual row-group pruning win.
    QuerySpec(
      "stac11_zorder_layout",
      Some(s"""
        WITH b AS (SELECT 'o' || o_orderkey AS id,
                          CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin,
                          CAST(o_orderkey % 170 - 85 AS DOUBLE) AS ymin,
                          CAST(o_orderkey % 360 - 180 AS DOUBLE) + 1.0 AS xmax,
                          CAST(o_orderkey % 170 - 85 AS DOUBLE) + 0.5 AS ymax
                   FROM orders),
             q AS (SELECT id, xmin, ymin,
                          ${graft.stac.ZOrder.quantizeSql("(xmin + xmax) / 2.0", -180.0, 180.0)} AS qx,
                          ${graft.stac.ZOrder.quantizeSql("(ymin + ymax) / 2.0", -90.0, 90.0)} AS qy
                   FROM b
                   WHERE xmin <= 40 AND xmax >= 20 AND ymin <= 40 AND ymax >= 20)
        SELECT id, xmin, ymin,
               ${graft.stac.ZOrder.interleaveSql("qx", "qy")} AS zkey
        FROM q
        ORDER BY id"""),
      (s, dir) => {
        graft.plans.BboxFunctions.armRewrite(s)
        val out = s.read.parquet(itemsZOrdered(s, dir))
          .filter(graft.plans.BboxFunctions.bboxIntersects(
            col("bbox"), 20.0, 20.0, 40.0, 40.0))
          .select(col("id"),
            col("bbox").getField("xmin").as("xmin"),
            col("bbox").getField("ymin").as("ymin"),
            graft.stac.ZOrder.mortonKeyOfBboxCenter(col("bbox")).as("zkey"))
          .orderBy(col("id"))
        val scan = out.queryExecution.executedPlan.toString
        require(scan.contains("PushedFilters") && scan.contains("bbox.xmin"),
          s"window predicate must reach the z-ordered scan as pushed bbox.* bounds:\n$scan")
        out
      },
      prepare = Some((s, dir) => itemsZOrdered(s, dir))),

    // ----- distributed spatial join: AOI set × stored catalog -----
    // The query shape stac09/stac11 can't express: N regions of interest
    // joined against the whole catalog at once. Plan is PBSM/grid-join
    // (Patel & DeWitt): both sides map each bbox to the fixed-size grid
    // cells it covers (≤4 cells per item, ≤6 per AOI — the explode factor
    // is bounded by construction), candidates come from an EQUI-join on
    // the cell, the exact closed-interval overlap predicate verifies, and
    // multi-cell duplicates are eliminated WITHOUT a distinct: a pair is
    // kept only in the cell that contains the intersection's min corner
    // (the PBSM reference-point rule — that corner lies in exactly one
    // cell, and the filter is evaluated row-local in the join stage).
    // Scale-honest: no broadcast required at any corpus size — both sides
    // shuffle on the cell key; local-mode picks broadcast for the tiny AOI
    // side, and the in-gate assertion pins that the join is never a
    // nested-loop/cartesian under EITHER strategy. The oracle is the
    // brute-force cross join with the same overlap predicate — a pair
    // dropped by binning or duplicated by a wrong reference point fails
    // the hash.
    QuerySpec(
      "stac12_spatial_join",
      Some("""
        WITH items AS (SELECT 'o' || o_orderkey AS item_id,
                              CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin,
                              CAST(o_orderkey % 170 - 85 AS DOUBLE) AS ymin,
                              CAST(o_orderkey % 360 - 180 AS DOUBLE) + 1.0 AS xmax,
                              CAST(o_orderkey % 170 - 85 AS DOUBLE) + 0.5 AS ymax
                       FROM orders),
             aoi AS (SELECT s_suppkey AS aoi_id,
                            CAST((s_suppkey * 7) % 360 - 180 AS DOUBLE) AS axmin,
                            CAST((s_suppkey * 11) % 170 - 85 AS DOUBLE) AS aymin,
                            CAST((s_suppkey * 7) % 360 - 180 AS DOUBLE) + 10.0 AS axmax,
                            CAST((s_suppkey * 11) % 170 - 85 AS DOUBLE) + 5.0 AS aymax
                     FROM supplier)
        SELECT aoi_id, item_id,
               greatest(axmin, xmin) AS ixmin, greatest(aymin, ymin) AS iymin,
               least(axmax, xmax) AS ixmax, least(aymax, ymax) AS iymax
        FROM aoi JOIN items
          ON axmin <= xmax AND axmax >= xmin AND aymin <= ymax AND aymax >= ymin
        ORDER BY aoi_id, item_id"""),
      (s, dir) => {
        val items = s.read.parquet(itemsGeoParquet(s, dir))
          .select(col("id").as("item_id"),
            col("bbox.xmin").as("xmin"), col("bbox.ymin").as("ymin"),
            col("bbox.xmax").as("xmax"), col("bbox.ymax").as("ymax"))
        val ax = ((col("s_suppkey") * 7) % 360 - 180).cast("double")
        val ay = ((col("s_suppkey") * 11) % 170 - 85).cast("double")
        val aoi = Tables.t(s, dir, "supplier")
          .select(col("s_suppkey").as("aoi_id"), ax.as("axmin"), ay.as("aymin"),
            (ax + 10.0).as("axmax"), (ay + 5.0).as("aymax"))
        val out = graft.operators.SpatialJoin.bboxJoin(aoi, items, cell = 10.0,
            leftBox = Seq("axmin", "aymin", "axmax", "aymax"),
            rightBox = Seq("xmin", "ymin", "xmax", "ymax"))
          .select(col("aoi_id"), col("item_id"),
            greatest(col("axmin"), col("xmin")).as("ixmin"),
            greatest(col("aymin"), col("ymin")).as("iymin"),
            least(col("axmax"), col("xmax")).as("ixmax"),
            least(col("aymax"), col("ymax")).as("iymax"))
          .orderBy(col("aoi_id"), col("item_id"))
        val plan = out.queryExecution.executedPlan.toString
        require(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"),
          s"spatial join must stay an equi-join on the grid cell:\n$plan")
        out
      },
      prepare = Some((s, dir) => itemsGeoParquet(s, dir))),

    // ----- hive-partitioned layout: directory-level pruning -----
    // The collection predicate must be eliminated at partition DISCOVERY
    // (PartitionFilters — no footer of a non-matching partition is even
    // opened), not at the scan (PushedFilters): the in-gate assertion pins
    // the filter on the partition side and its ABSENCE from the data
    // filters, plus that the scan touched exactly the one matching
    // partition's files. At 100 TB this is the difference between listing
    // one directory and stat-ing every file in the lake.
    QuerySpec(
      "stac13_partitioned_layout",
      Some("""
        SELECT 'o' || o_orderkey AS id,
               'c' || CAST(o_orderkey % 3 AS VARCHAR) AS collection,
               CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin
        FROM orders
        WHERE o_orderkey % 3 = 1
        ORDER BY id"""),
      (s, dir) => {
        val out = s.read.parquet(itemsPartitioned(s, dir))
          .filter(col("collection") === "c1")
          .select(col("id"), col("collection"), col("xmin"))
          .orderBy(col("id"))
        // sparkPlan, not executedPlan: AQE wraps the latter in an adaptive
        // root whose tree is not populated until execution
        val scan = out.queryExecution.sparkPlan.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.getOrElse(sys.error("no file scan in the plan"))
        val partFilters = scan.partitionFilters.map(_.sql).mkString(",")
        require(partFilters.contains("collection"),
          s"collection must prune at partition discovery, got: $partFilters")
        require(!scan.dataFilters.exists(_.references.exists(_.name == "collection")),
          "partition predicate must not reach the data filters")
        val dirs = scan.relation.location.listFiles(scan.partitionFilters, Nil)
        require(dirs.length == 1 && dirs.head.values.getString(0) == "c1",
          s"exactly the c1 partition must survive pruning, got ${dirs.length}")
        out
      },
      prepare = Some((s, dir) => itemsPartitioned(s, dir))),

    // ----- streaming STAC ingest ≡ batch ingest, value-checked -----
    // The E1 pipeline as a Structured Streaming job (StacStream.ingest:
    // text stream → per-line WKB codec → FAILFAST from_json → normalize →
    // exactly-once parquet sink, Trigger.AvailableNow) run to completion
    // over the SAME multi-file ndjson corpus stac05 ingests in batch —
    // and checked against the SAME oracle: the streaming table must equal
    // the batch answer row-for-row. Schema comes from the bounded
    // inferIngestSpec sample, exactly how a production stream pins its
    // schema from a prior batch run.
    QuerySpec(
      "st07_streaming_stac_ingest",
      Some("""
        SELECT 'o' || o_orderkey AS id,
               strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%fZ') AS datetime_out,
               CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin,
               CAST(o_orderkey % 170 - 85 AS DOUBLE) AS ymin,
               21 AS wkb_len
        FROM orders
        ORDER BY id"""),
      (s, dir) => {
        val src = itemsNdjsonDir(s, dir)
        val work = java.nio.file.Files.createTempDirectory("st07")
        val (schema, dims) = graft.streaming.StacStream.inferIngestSpec(s, Seq(src))
        val q = graft.streaming.StacStream.ingest(s, src,
          s"$work/out", s"$work/ck", schema, dims)
        if (!q.awaitTermination(300000)) {
          q.stop()
          throw new RuntimeException("st07 streaming ingest did not finish within 300s")
        }
        s.read.parquet(s"$work/out")
          .select(col("id"),
            date_format(col("datetime"), graft.stac.StacSchema.Rfc3339Format).as("datetime_out"),
            col("bbox").getField("xmin").as("xmin"),
            col("bbox").getField("ymin").as("ymin"),
            length(col("geometry")).cast("int").as("wkb_len"))
          .orderBy(col("id"))
      },
      timed = false,
      prepare = Some((s, dir) => itemsNdjsonDir(s, dir))),

    // ----- small-file compaction (the lake-maintenance pass) -----
    // Incremental ingest leaves the table as a spray of tiny files; every
    // scan then pays per-file open/footer costs and task-scheduling
    // overhead. The compaction pass rewrites the 64-fragment table as 4
    // hash-partitioned files (deterministic assignment — Murmur3 on grp
    // with a fixed partition count, no sampled range boundaries), and the
    // gate checks BOTH halves of the contract: the in-gate assertion pins
    // the physical win (≤ 8 files from 64), and the oracle pins exact row
    // preservation — per-group counts and id checksums over the compacted
    // table must equal the source-of-truth accounting, so a row dropped
    // or duplicated by the rewrite fails the hash.
    QuerySpec(
      "stac15_compaction",
      Some("""
        SELECT o_orderkey % 4 AS grp, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS id_sum
        FROM orders
        GROUP BY 1
        ORDER BY grp"""),
      (s, dir) => {
        val src = itemsFragmented(s, dir)
        val outDir = src + "_compacted"
        s.read.parquet(src)
          .repartition(4, col("grp"))
          .write.mode("overwrite").parquet(outDir)
        val files = new java.io.File(outDir).listFiles()
          .count(f => f.getName.endsWith(".parquet"))
        require(files > 0 && files <= 8,
          s"compaction must collapse 64 fragments to a handful of files, got $files")
        s.read.parquet(outDir)
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
          .orderBy(col("grp"))
      },
      prepare = Some((s, dir) => itemsFragmented(s, dir)),
      timed = false),

    // ----- upsert / MERGE-equivalent over plain parquet -----
    // K3's Delta sink is environment-gated, so the engine carries the
    // portable form of MERGE INTO: new-version rows replace matched keys,
    // unmatched keys survive, inserts append — expressed as the one-pass
    // plan `base LEFT ANTI JOIN updates ∪ updates` (both legs shuffle on
    // the key; no window, no full-table sort) and rewritten atomically
    // (write to a fresh dir — the swap is a rename in a real lake). The
    // oracle recomputes the merged table's exact accounting (counts, id
    // and value checksums, per-version split), so a lost base row, a
    // surviving stale version, or a dropped insert fails the hash.
    QuerySpec(
      "stac16_upsert",
      Some("""
        WITH base AS (SELECT o_orderkey AS id,
                             CAST(round(o_totalprice*100,0) AS BIGINT) AS cents,
                             1 AS version
                      FROM orders),
             upd AS (SELECT id, cents + 7 AS cents, 2 AS version
                     FROM base WHERE id % 10 = 0
                     UNION ALL
                     SELECT id + (SELECT max(id) FROM base), 42, 2
                     FROM base WHERE id % 100 = 0),
             merged AS (SELECT b.* FROM base b
                        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.id = b.id)
                        UNION ALL SELECT * FROM upd)
        SELECT version, count(*) AS n, CAST(sum(id) AS BIGINT) AS id_sum,
               CAST(sum(cents) AS BIGINT) AS cents_sum
        FROM merged
        GROUP BY version
        ORDER BY version"""),
      (s, dir) => {
        val base = Tables.t(s, dir, "orders")
          .select(col("o_orderkey").as("id"),
            Relational.cents(col("o_totalprice")).as("cents"),
            lit(1).as("version"))
        // insert keys offset by max(id) — a one-row broadcast — so they are
        // provably above every live base id at ANY scale factor (a fixed
        // constant collides with real o_orderkeys once 6M·SF passes it,
        // silently turning inserts into deletes of live base rows)
        val maxId = base.agg(max(col("id")).as("max_id"))
        val upd = base.filter(col("id") % 10 === 0)
          .select(col("id"), (col("cents") + 7).as("cents"), lit(2).as("version"))
          .unionByName(base.filter(col("id") % 100 === 0)
            .crossJoin(broadcast(maxId))
            .select((col("id") + col("max_id")).as("id"), lit(42L).as("cents"),
              lit(2).as("version")))
        // stable per-(session, dataset) target + overwrite — repeated runs
        // rewrite in place instead of leaking a merged copy per invocation
        val out = upsertDirs.getOrElseUpdate((s, dir),
          java.nio.file.Files.createTempDirectory("stac16").toString + "/merged")
        base.join(upd, Seq("id"), "left_anti")
          .unionByName(upd)
          .write.mode("overwrite").parquet(out)
        s.read.parquet(out)
          .groupBy(col("version"))
          .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
            sum(col("cents")).as("cents_sum"))
          .orderBy(col("version"))
      },
      timed = false),

    // ----- schema-evolution upsert: mergeSchema over evolved part files -----
    // Real lake maintenance hits ADDED columns, not just new rows: the
    // v2 writer ships a `quality` column the v1 files never had. The
    // gate writes genuinely divergent parquet (v1 schema without the
    // column, v2 schema with it), reads them back under `mergeSchema`
    // (the permissive unify — reference anchor
    // stac_geoparquet/_schema/models.py:52-59, which widens by unioning
    // fields and nulling absences), applies the stac16 one-pass MERGE,
    // and value-checks the accounting INCLUDING the null contract:
    // count(quality) must be 0 for surviving v1 rows and n for v2 rows,
    // so a reader that dropped the new column, defaulted it, or
    // back-filled v1 rows fails the hash. Schema nullability is also
    // asserted in-gate.
    QuerySpec(
      "stac17_schema_evolution",
      Some("""
        WITH base AS (SELECT o_orderkey AS id,
                             CAST(round(o_totalprice*100,0) AS BIGINT) AS cents,
                             1 AS version, CAST(NULL AS VARCHAR) AS quality
                      FROM orders),
             upd AS (SELECT id, cents + 7 AS cents, 2 AS version,
                            'q' || CAST(id % 5 AS VARCHAR) AS quality
                     FROM base WHERE id % 10 = 0),
             merged AS (SELECT b.* FROM base b
                        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.id = b.id)
                        UNION ALL SELECT * FROM upd)
        SELECT version, count(*) AS n, CAST(sum(id) AS BIGINT) AS id_sum,
               CAST(sum(cents) AS BIGINT) AS cents_sum,
               CAST(count(quality) AS BIGINT) AS n_quality,
               CAST(count(*) - count(quality) AS BIGINT) AS n_missing_quality
        FROM merged
        GROUP BY version
        ORDER BY version"""),
      (s, dir) => {
        val base = Tables.t(s, dir, "orders")
          .select(col("o_orderkey").as("id"),
            Relational.cents(col("o_totalprice")).as("cents"),
            lit(1).as("version"))
        val upd = base.filter(col("id") % 10 === 0)
          .select(col("id"), (col("cents") + 7).as("cents"), lit(2).as("version"),
            concat(lit("q"), (col("id") % 5).cast("string")).as("quality"))
        val out = evoDirs.getOrElseUpdate((s, dir),
          java.nio.file.Files.createTempDirectory("stac17").toString)
        base.write.mode("overwrite").parquet(out + "/v1") // quality-less schema
        upd.write.mode("overwrite").parquet(out + "/v2")  // evolved schema
        val merged = s.read.option("mergeSchema", "true").parquet(out + "/v1", out + "/v2")
        require(merged.schema.fieldNames.contains("quality") &&
          merged.schema("quality").nullable,
          "mergeSchema must surface the evolved column as nullable")
        val m1 = merged.filter(col("version") === 1)
        val m2 = merged.filter(col("version") === 2)
        m1.join(m2.select(col("id")), Seq("id"), "left_anti")
          .unionByName(m2)
          .groupBy(col("version"))
          .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
            sum(col("cents")).as("cents_sum"),
            count(col("quality")).as("n_quality"),
            (count(lit(1)) - count(col("quality"))).as("n_missing_quality"))
          .orderBy(col("version"))
      },
      timed = false),

    // ----- K3 executable: portable Delta transaction log round trip -----
    // The one reference capability (arrow/_delta_lake.py:28-71) that was
    // jar-gated until now. PortableDelta emits the OPEN Delta log format
    // (protocol/metaData/add/remove JSON actions, put-if-absent commit
    // files) with no delta-spark dependency. Three commits: CREATE (even
    // ids) → APPEND (odd ids) → logical OVERWRITE (ids % 7 == 0). The
    // read-back goes through log replay only — after the overwrite the
    // DIRECTORY still holds every data file ever written (Delta keeps
    // old versions' files), so a reader that listed the directory
    // instead of replaying add/remove actions would return ~7× the rows
    // and fail the hash. Protocol pins, table-property round trip, and
    // filesystem-true add sizes are asserted in-gate; the oracle
    // recomputes the final table state from the source table.
    QuerySpec(
      "stac18_delta_log",
      Some("""
        SELECT source, count(*) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_sum,
               CAST(sum(length(text)) AS BIGINT) AS n_chars,
               true AS log_ok
        FROM documents
        WHERE doc_id % 7 = 0
        GROUP BY source
        ORDER BY source"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val docs = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val out = java.nio.file.Files.createTempDirectory("stac18").toString + "/tbl"
        PortableDelta.write(docs.filter(col("doc_id") % 2 === 0), out,
          properties = Map("graft.gate" -> "stac18"), mode = "error")
        PortableDelta.write(docs.filter(col("doc_id") % 2 === 1), out, mode = "append")
        PortableDelta.write(docs.filter(col("doc_id") % 7 === 0), out, mode = "overwrite")
        val conf = s.sessionState.newHadoopConf()
        val snap = PortableDelta.snapshot(conf, out)
        require(snap.version == 2, s"expected 3 commits (v2), got v${snap.version}")
        require(snap.minReaderVersion == PortableDelta.MinReaderVersion &&
          snap.minWriterVersion == PortableDelta.MinWriterVersion,
          s"protocol drifted: ${snap.minReaderVersion}/${snap.minWriterVersion}")
        require(snap.configuration.get("graft.gate").contains("stac18"),
          "table properties did not survive the log round trip")
        val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
        val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(out))
          .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        require(onDisk > snap.files.size,
          s"overwrite must keep prior files on disk: $onDisk files, ${snap.files.size} live")
        snap.files.foreach { f =>
          val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$out/${f.path}"))
          require(st.getLen == f.size, s"add action size drift for ${f.path}")
        }
        // checkpoint + log truncation: compact the three commits into the
        // spec's checkpoint parquet, delete the subsumed JSON tail, and
        // make the value-checked read-back go through the CHECKPOINT
        // alone — a reader that still needed the JSON commits would throw
        val cv = PortableDelta.checkpoint(s, out)
        require(cv == 2, s"checkpoint should land at v2, got v$cv")
        val dropped = PortableDelta.cleanupLog(conf, out)
        require(dropped == 3, s"log truncation should subsume 3 commits, dropped $dropped")
        val snap2 = PortableDelta.snapshot(s, out)
        require(snap2.version == 2 && snap2.files.map(_.path).toSet ==
          snap.files.map(_.path).toSet,
          "checkpoint replay must reproduce the JSON replay's exact state")
        PortableDelta.readTable(s, out)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
            sum(length(col("text"))).as("n_chars"))
          .withColumn("log_ok", lit(true))
          .orderBy(col("source"))
      },
      timed = false),

    // ----- Delta time travel: versionAsOf reads the state that WAS -----
    // Three commits (create / append / logical overwrite), then EVERY
    // version is read back via snapshotAt replay — v0 and v1's files are
    // only reachable through the log (the overwrite removed them from
    // the live set; a directory listing would see all files at once and
    // a current-snapshot read only v2's). The oracle recomputes each
    // version's membership from the commit rules. The in-gate require
    // pins that time travel still works for the CHECKPOINTED version
    // after log truncation, and that truncated-away versions fail with
    // the reconstructability error rather than a wrong answer.
    QuerySpec(
      "stac23_delta_time_travel",
      Some("""
        WITH v AS (SELECT 0 AS version, o_orderkey, o_totalprice
                     FROM orders WHERE o_orderkey % 3 = 0
                   UNION ALL
                   SELECT 1, o_orderkey, o_totalprice
                     FROM orders WHERE o_orderkey % 3 IN (0, 1)
                   UNION ALL
                   SELECT 2, o_orderkey, o_totalprice
                     FROM orders WHERE o_orderkey % 3 = 2)
        SELECT CAST(version AS BIGINT) AS version,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum
        FROM v GROUP BY version ORDER BY version"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        val out = java.nio.file.Files.createTempDirectory("stac23").toString + "/tbl"
        PortableDelta.write(orders.filter(col("o_orderkey") % 3 === 0), out)
        PortableDelta.write(orders.filter(col("o_orderkey") % 3 === 1), out, mode = "append")
        PortableDelta.write(orders.filter(col("o_orderkey") % 3 === 2), out, mode = "overwrite")
        def agged(v: Int) = PortableDelta.readTable(s, out, v.toLong)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .select(lit(v.toLong).as("version"), col("n_rows"), col("key_sum"),
            col("cents_sum"))
        val result = agged(0).unionByName(agged(1)).unionByName(agged(2))
          .orderBy(col("version")).persist()
        result.count() // materialize BEFORE the truncation below voids v0/v1
        // history shows the three operations newest-first
        val conf = s.sessionState.newHadoopConf()
        val hist = PortableDelta.history(conf, out)
        require(hist.map(_._1) == Seq(2L, 1L, 0L),
          s"history must list v2,v1,v0 — got ${hist.map(_._1)}")
        // checkpoint + truncation: the checkpointed version remains
        // travel-able, truncated versions error by NAME (not wrong data)
        PortableDelta.checkpoint(s, out)
        PortableDelta.cleanupLog(conf, out)
        val atCkpt = PortableDelta.readTable(s, out, 2L).count()
        require(atCkpt == PortableDelta.readTable(s, out).count(),
          "versionAsOf at the checkpoint must equal the current read")
        val gone = try { PortableDelta.snapshotAt(s, out, 0L); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("not reconstructable") }
        require(gone, "truncated version must fail with the reconstructability error")
        result
      },
      timed = false),

    // ----- exact-geometry CQL2: envelope and exact answers DIFFER -----
    // Items are lower-left right triangles (vertices (x,y),(x+2,y),
    // (x,y+2)); the query region is the big triangle x+y ≤ 100 in
    // [0,100]². EVERY item's bbox overlaps the region's bbox, so the
    // envelope prefilter keeps all rows — only the JTS exact verify can
    // tell which triangles actually reach the region: an item triangle
    // (whose min-sum vertex is (x,y)) intersects the half-plane iff
    // x + y ≤ 100, is within it iff its max-sum vertices obey
    // x + y + 2 ≤ 100, and is disjoint iff x + y > 100 — all arithmetic
    // the oracle recomputes without any geometry engine. Boundary rows
    // (x+y exactly 100, a single-point touch) pin JTS's closed-set
    // intersects semantics. The in-gate require proves the
    // distinguishing population is non-empty: envelope-only would keep
    // every row and fail the hash on bands 6+.
    QuerySpec(
      "stac19_cql2_exact_geometry",
      Some("""
        WITH g AS (SELECT o_orderkey AS id,
                          CAST(o_orderkey % 100 AS DOUBLE) AS x0,
                          CAST((o_orderkey // 100) % 100 AS DOUBLE) AS y0
                   FROM orders),
             b AS (SELECT id, x0 + y0 AS s,
                          CAST(floor((x0 + y0) / 20) AS BIGINT) AS band
                   FROM g)
        SELECT band,
               count(*) AS n_items,
               CAST(count(*) FILTER (s <= 100) AS BIGINT) AS n_intersects,
               CAST(count(*) FILTER (s <= 98) AS BIGINT) AS n_within,
               CAST(count(*) FILTER (s > 100) AS BIGINT) AS n_disjoint,
               CAST(sum(id) FILTER (s <= 100) AS BIGINT) AS id_sum_intersects
        FROM b GROUP BY band ORDER BY band"""),
      (s, dir) => {
        import graft.stac.{Cql2, GeoFunctions}
        val bigTriangle =
          """{"type":"Polygon","coordinates":[[[0.0,0.0],[100.0,0.0],[0.0,100.0],[0.0,0.0]]]}"""
        val x0 = (col("o_orderkey") % 100).cast("double")
        val y0 = expr("(o_orderkey div 100) % 100").cast("double")
        val items = Tables.t(s, dir, "orders")
          // toy input is one row group: spread the codec + JTS UDFs
          // across tasks (at 100 TB the file count provides this)
          .repartition(col("o_orderkey"))
          .select(col("o_orderkey").as("id"), x0.as("x0"), y0.as("y0"))
          .withColumn("bbox", struct(col("x0").as("xmin"), col("y0").as("ymin"),
            (col("x0") + 2.0).as("xmax"), (col("y0") + 2.0).as("ymax")))
          // the triangle goes through our own GeoJSON→WKB codec (G1), so
          // the exact predicate exercises the stored-WKB path end to end
          .withColumn("geometry", GeoFunctions.geojson_to_wkb(format_string(
            """{"type":"Polygon","coordinates":[[[%s,%s],[%s,%s],[%s,%s],[%s,%s]]]}""",
            col("x0"), col("y0"), col("x0") + 2.0, col("y0"),
            col("x0"), col("y0") + 2.0, col("x0"), col("y0"))))
          // parse-once: ONE UDF JTS-parses each row geometry and derives
          // all relations (three independent Cql2.filter columns would
          // re-parse the same WKB per predicate — 3× the JTS cost on this
          // gate, whose population deliberately defeats the envelope
          // prefilter so every row reaches the verify). `rel` is
          // referenced by three projections, which keeps CollapseProject
          // from inlining the non-cheap UDF three times.
          .withColumn("rel", Cql2.spatialRelations(bigTriangle))
          .withColumn("is_int", col("rel.intersects"))
          .withColumn("is_win", col("rel.within"))
          .withColumn("is_dis", col("rel.disjoint"))
          .withColumn("band", floor((col("x0") + col("y0")) / 20).cast("long"))
          .persist()
        // the envelope answer (bbox property: rectangle-vs-region-bbox)
        // must STRICTLY exceed the exact answer, or this gate would pass
        // on envelope semantics too and prove nothing
        val envCql =
          """{"op":"s_intersects","args":[{"property":"bbox"},{"bbox":[0.0,0.0,100.0,100.0]}]}"""
        // ONE action for both populations (r18): the former two counts
        // each paid a job over the same cached frame
        val chk = items.agg(
          count(when(Cql2.filter(envCql), 1)).as("n_env"),
          count(when(col("is_int"), 1)).as("n_exact")).head()
        val (nEnv, nExact) = (chk.getLong(0), chk.getLong(1))
        require(nEnv > nExact,
          s"exact must reject envelope-only rows: envelope $nEnv, exact $nExact")
        val out = items
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_items"),
            count(when(col("is_int"), 1)).as("n_intersects"),
            count(when(col("is_win"), 1)).as("n_within"),
            count(when(col("is_dis"), 1)).as("n_disjoint"),
            sum(when(col("is_int"), col("id"))).as("id_sum_intersects"))
          .orderBy(col("band"))
        // items stays cached for the caller's materialization of `out`
        // (same rationale as stac20)
        out
      }),

    // ----- exact-geometry spatial JOIN (geomJoin: grid + JTS verify) -----
    // Two triangle populations joined on actual shape intersection. For
    // congruent lower-left triangles K+a and K+b (side 2), shapes
    // intersect iff a−b lies in the Minkowski body K ⊕ (−K): the hexagon
    // |dx| ≤ 2 ∧ |dy| ≤ 2 ∧ |dx+dy| ≤ 2 — the bbox test is just the
    // first two conjuncts, so candidate pairs with dx+dy ∈ {3,4} (or
    // −{3,4}) overlap by envelope but NOT by shape. The oracle joins on
    // the hexagon arithmetically; Spark runs the PBSM grid join + JTS
    // verify and must land on exactly the hexagon's pairs. Output is
    // grouped by the dx+dy diagonal so the envelope-vs-exact boundary
    // (|dx+dy| = 2, single-point touches, JTS closed semantics) is
    // hash-visible band by band.
    // Scale shape: the grid modulus M = floor(sqrt(2·|orders|)) grows
    // with the corpus (sqrt is IEEE-exact cross-engine; the row count
    // comes from parquet footers, not a scan), so per-cell density — and
    // with it candidate volume per row — stays CONSTANT across scale
    // factors instead of growing linearly: the benchmark keeps the
    // candidate dial where a production run would. Both triangle sides
    // are persisted before the joins: the WKB codec UDF sits under the
    // grid explode and feeds the exact AND the envelope join — without
    // the persist, projection collapsing re-runs the GeoJSON parse + WKB
    // encode per CANDIDATE row (the m09 lesson; this gate paid 250 s at
    // sf0.1 before).
    QuerySpec(
      "stac20_exact_geom_join",
      Some("""
        WITH mm AS (SELECT CAST(floor(sqrt(count(*) * 2)) AS BIGINT) AS m FROM orders),
             a AS (SELECT o_orderkey AS ida,
                          CAST(o_orderkey % mm.m AS DOUBLE) AS xa,
                          CAST((o_orderkey // mm.m) % mm.m AS DOUBLE) AS ya
                   FROM orders, mm WHERE o_orderkey % 2 = 0),
             b AS (SELECT o_orderkey AS idb,
                          CAST(o_orderkey % mm.m AS DOUBLE) AS xb,
                          CAST((o_orderkey // mm.m) % mm.m AS DOUBLE) AS yb
                   FROM orders, mm WHERE o_orderkey % 2 = 1),
             p AS (SELECT ida, idb, CAST((xa - xb) + (ya - yb) AS BIGINT) AS ds
                   FROM a JOIN b
                     ON abs(xa - xb) <= 2 AND abs(ya - yb) <= 2
                        AND abs((xa - xb) + (ya - yb)) <= 2)
        SELECT ds, count(*) AS n_pairs,
               CAST(sum(ida + idb) AS BIGINT) AS id_sum
        FROM p GROUP BY ds ORDER BY ds"""),
      (s, dir) => {
        import graft.stac.GeoFunctions
        val mm = math.floor(math.sqrt(Tables.footerRowCount(dir, "orders") * 2.0)).toLong
        def tri(side: String, idAs: String) = {
          val k = col("o_orderkey")
          val x = (k % mm).cast("double")
          val y = expr(s"(o_orderkey div $mm) % $mm").cast("double")
          Tables.t(s, dir, "orders")
            // toy input is one row group: spread the per-row codec UDF
            // across tasks (at 100 TB the file count provides this)
            .repartition(col("o_orderkey"))
            .filter(k % 2 === (if (side == "a") 0 else 1))
            .select(k.as(idAs), x.as(s"x_$side"), y.as(s"y_$side"))
            .withColumn(s"wkb_$side", GeoFunctions.geojson_to_wkb(format_string(
              """{"type":"Polygon","coordinates":[[[%s,%s],[%s,%s],[%s,%s],[%s,%s]]]}""",
              col(s"x_$side"), col(s"y_$side"),
              col(s"x_$side") + 2.0, col(s"y_$side"),
              col(s"x_$side"), col(s"y_$side") + 2.0,
              col(s"x_$side"), col(s"y_$side"))))
            .withColumn(s"xmax_$side", col(s"x_$side") + 2.0)
            .withColumn(s"ymax_$side", col(s"y_$side") + 2.0)
            .persist()
        }
        val a = tri("a", "ida")
        val b = tri("b", "idb")
        // ONE grid join: the persisted bbox-candidate frame is counted
        // (the envelope answer) and then JTS-verified — the same layering
        // geomJoin composes, without running the candidate join twice
        val candidates = graft.operators.SpatialJoin.bboxJoin(a, b, cell = 2.0,
          leftBox = Seq("x_a", "y_a", "xmax_a", "ymax_a"),
          rightBox = Seq("x_b", "y_b", "xmax_b", "ymax_b"))
          .persist()
        val exact = candidates
          .filter(graft.stac.GeoFunctions.st_intersects(col("wkb_a"), col("wkb_b")))
          .persist()
        // the bbox-only join must produce strictly more pairs (the
        // dx+dy = ±3, ±4 corner-overlap population) or the verify layer
        // proved nothing
        val env = candidates.count()
        val nExact = exact.count()
        require(env > nExact,
          s"exact join must reject envelope-only pairs: envelope $env, exact $nExact")
        val out = exact
          .select(col("ida"), col("idb"),
            ((col("x_a") - col("x_b")) + (col("y_a") - col("y_b")))
              .cast("long").as("ds"))
          .groupBy(col("ds"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("ida") + col("idb")).as("id_sum"))
          .orderBy(col("ds"))
        // NO unpersist before returning: the caller (Verify/Bench) still
        // has to materialize `out`, which derives from `exact` — dropping
        // the cache here would re-run the codec UDFs + grid join + JTS
        // verify from scratch on that materialization (session-lifetime
        // small caches are the gate convention)
        out
      }),

    // ----- full CQL2 temporal algebra (Allen relations, strict spec) -----
    // Items carry a day-grid interval [s, s+L] (s = key % 32, L = key % 5,
    // L = 0 giving degenerate instants); two query intervals probe every
    // relation: Q = [10, 20] for the coarse/strict split (t_intersects
    // keeps bound-touching and contained rows that t_overlaps must
    // reject — the in-gate require proves those populations are
    // non-empty) and the 1-day Q2 = [12, 13] for the equality-edged
    // relations (equals/starts/finishes/meets and converses). The Spark
    // side evaluates all 15 operators THROUGH the CQL2 translator over
    // real timestamp columns (interval operands as property references);
    // the oracle recomputes each relation as integer day arithmetic —
    // any drift in strictness (< vs <=), bound handling, or operand
    // roles breaks a band count. All comparisons are codegen'd Catalyst
    // predicates: one scan, one hash-agg, no UDF, no shuffle beyond the
    // 5-band agg.
    QuerySpec(
      "stac21_cql2_temporal_algebra",
      Some("""
        WITH g AS (SELECT o_orderkey AS id,
                          CAST(o_orderkey % 32 AS BIGINT) AS s,
                          CAST(o_orderkey % 32 + o_orderkey % 5 AS BIGINT) AS e,
                          CAST(o_orderkey % 5 AS BIGINT) AS band
                   FROM orders)
        SELECT band, count(*) AS n_items,
               CAST(count(*) FILTER (e < 10) AS BIGINT) AS n_before,
               CAST(count(*) FILTER (s > 20) AS BIGINT) AS n_after,
               CAST(count(*) FILTER (s <= 20 AND e >= 10) AS BIGINT) AS n_intersects,
               CAST(count(*) FILTER (s < 10 AND e > 10 AND e < 20) AS BIGINT) AS n_overlaps,
               CAST(count(*) FILTER (s > 10 AND e < 20) AS BIGINT) AS n_during,
               CAST(count(*) FILTER (s > 10 AND s < 20 AND e > 20) AS BIGINT) AS n_overlapped_by,
               CAST(count(*) FILTER (s = 12 AND e = 13) AS BIGINT) AS n_equals,
               CAST(count(*) FILTER (s < 12 AND e > 13) AS BIGINT) AS n_contains,
               CAST(count(*) FILTER (s = 12 AND e < 13) AS BIGINT) AS n_starts,
               CAST(count(*) FILTER (s = 12 AND e > 13) AS BIGINT) AS n_started_by,
               CAST(count(*) FILTER (s > 12 AND e = 13) AS BIGINT) AS n_finishes,
               CAST(count(*) FILTER (s < 12 AND e = 13) AS BIGINT) AS n_finished_by,
               CAST(count(*) FILTER (e = 12) AS BIGINT) AS n_meets,
               CAST(count(*) FILTER (s = 13) AS BIGINT) AS n_met_by,
               CAST(COALESCE(sum(id) FILTER (s < 10 AND e > 10 AND e < 20), 0) AS BIGINT)
                 AS id_sum_overlaps
        FROM g GROUP BY band ORDER BY band"""),
      (s, dir) => {
        import graft.stac.Cql2
        val itemIv = """{"interval":[{"property":"dt0"},{"property":"dt1"}]}"""
        // day d on the epoch grid is 1970-01-(d+1); Q = [10, 20], Q2 = [12, 13]
        val q = """{"interval":["1970-01-11 00:00:00","1970-01-21 00:00:00"]}"""
        val q2 = """{"interval":["1970-01-13 00:00:00","1970-01-14 00:00:00"]}"""
        def rel(op: String, against: String) =
          Cql2.filter(s"""{"op":"$op","args":[$itemIv,$against]}""")
        val items = Tables.t(s, dir, "orders")
          .select(col("o_orderkey").as("id"),
            (col("o_orderkey") % 32).as("sday"),
            (col("o_orderkey") % 32 + col("o_orderkey") % 5).as("eday"),
            (col("o_orderkey") % 5).as("band"))
          .withColumn("dt0", timestamp_seconds(col("sday") * 86400))
          .withColumn("dt1", timestamp_seconds(col("eday") * 86400))
        def cnt(op: String, against: String, as: String) =
          count(when(rel(op, against), 1)).as(as)
        val out = items.groupBy(col("band"))
          .agg(count(lit(1)).as("n_items"),
            cnt("t_before", q, "n_before"),
            cnt("t_after", q, "n_after"),
            cnt("t_intersects", q, "n_intersects"),
            cnt("t_overlaps", q, "n_overlaps"),
            cnt("t_during", q, "n_during"),
            cnt("t_overlappedBy", q, "n_overlapped_by"),
            cnt("t_equals", q2, "n_equals"),
            cnt("t_contains", q2, "n_contains"),
            cnt("t_starts", q2, "n_starts"),
            cnt("t_startedBy", q2, "n_started_by"),
            cnt("t_finishes", q2, "n_finishes"),
            cnt("t_finishedBy", q2, "n_finished_by"),
            cnt("t_meets", q2, "n_meets"),
            cnt("t_metBy", q2, "n_met_by"),
            coalesce(sum(when(rel("t_overlaps", q), col("id"))), lit(0L))
              .as("id_sum_overlaps"))
          .orderBy(col("band"))
          .persist()
        // strict vs coarse must DIFFER, and the equality-edged relations
        // must fire, or this gate proves nothing about the algebra
        val chk = out.agg(
          sum(col("n_intersects")).as("ni"), sum(col("n_overlaps")).as("no"),
          sum(col("n_equals") + col("n_meets") + col("n_starts")).as("edges")).head()
        require(chk.getLong(0) > chk.getLong(1),
          s"t_intersects must exceed strict t_overlaps: ${chk.getLong(0)} vs ${chk.getLong(1)}")
        require(chk.getLong(2) > 0, "equality-edged relations never fired")
        out
      }),

    // ----- exact spatial relates: touches / overlaps / crosses -----
    // Same triangle scheme as stac19 (items are lower-left right
    // triangles with min-vertex sum s = x0 + y0; the region is the big
    // triangle x + y ≤ 100), which makes each RELATE a one-line
    // arithmetic fact the oracle recomputes with no geometry engine:
    //   touches  ⇔ s = 100  (single-point contact on the hypotenuse;
    //              interiors disjoint, envelopes overlap — the coarse
    //              envelope answer cannot see this)
    //   overlaps ⇔ s = 99   (interiors meet, item pokes past the
    //              hypotenuse, neither contains the other)
    //   crosses  ⇔ s ∈ {98, 99} against the LINE x + y = 99.5 (a
    //              line/area relation rectangle arithmetic cannot even
    //              express; for s = 99.5±ε the line passes through the
    //              item's interior)
    // All three relations + intersects/within run over the stored-WKB
    // path through ONE parse-once UDF (GeoFunctions.relateLiterals: one
    // JTS parse per row serves all five predicates against BOTH
    // literals — the stac19 lesson, generalized to multiple regions).
    QuerySpec(
      "stac22_cql2_exact_relates",
      Some("""
        WITH g AS (SELECT o_orderkey AS id,
                          CAST(o_orderkey % 100 AS DOUBLE) +
                          CAST((o_orderkey // 100) % 100 AS DOUBLE) AS s
                   FROM orders),
             b AS (SELECT id, s, CAST(floor(s / 20) AS BIGINT) AS band FROM g)
        SELECT band, count(*) AS n_items,
               CAST(count(*) FILTER (s <= 100) AS BIGINT) AS n_intersects,
               CAST(count(*) FILTER (s <= 98) AS BIGINT) AS n_within,
               CAST(count(*) FILTER (s = 100) AS BIGINT) AS n_touches,
               CAST(count(*) FILTER (s = 99) AS BIGINT) AS n_overlaps,
               CAST(count(*) FILTER (s = 98 OR s = 99) AS BIGINT) AS n_crosses,
               CAST(COALESCE(sum(id) FILTER (s = 100), 0) AS BIGINT) AS id_sum_touches
        FROM b GROUP BY band ORDER BY band"""),
      (s, dir) => {
        import graft.stac.{GeoFunctions, Wkb}
        val triWkb = Wkb.geoJsonToWkb(
          """{"type":"Polygon","coordinates":[[[0.0,0.0],[100.0,0.0],[0.0,100.0],[0.0,0.0]]]}""")
        val lineWkb = Wkb.geoJsonToWkb(
          """{"type":"LineString","coordinates":[[0.0,99.5],[99.5,0.0]]}""")
        val x0 = (col("o_orderkey") % 100).cast("double")
        val y0 = expr("(o_orderkey div 100) % 100").cast("double")
        val items = Tables.t(s, dir, "orders")
          // toy input is one row group: spread the codec + JTS UDFs
          // across tasks (at 100 TB the file count provides this)
          .repartition(col("o_orderkey"))
          .select(col("o_orderkey").as("id"), x0.as("x0"), y0.as("y0"))
          .withColumn("geometry", GeoFunctions.geojson_to_wkb(format_string(
            """{"type":"Polygon","coordinates":[[[%s,%s],[%s,%s],[%s,%s],[%s,%s]]]}""",
            col("x0"), col("y0"), col("x0") + 2.0, col("y0"),
            col("x0"), col("y0") + 2.0, col("x0"), col("y0"))))
          // ONE row parse serves all five relations against two literals
          .withColumn("rel", GeoFunctions.relateLiterals(Seq(
            "intersects" -> triWkb, "within" -> triWkb,
            "touches" -> triWkb, "overlaps" -> triWkb,
            "crosses" -> lineWkb), col("geometry")))
          .withColumn("band", floor((col("x0") + col("y0")) / 20).cast("long"))
          .persist()
        val out = items.groupBy(col("band"))
          .agg(count(lit(1)).as("n_items"),
            count(when(col("rel")(0), 1)).as("n_intersects"),
            count(when(col("rel")(1), 1)).as("n_within"),
            count(when(col("rel")(2), 1)).as("n_touches"),
            count(when(col("rel")(3), 1)).as("n_overlaps"),
            count(when(col("rel")(4), 1)).as("n_crosses"),
            coalesce(sum(when(col("rel")(2), col("id"))), lit(0L))
              .as("id_sum_touches"))
          .orderBy(col("band"))
          .persist()
        // each fine relation must be non-empty AND strictly finer than
        // coarse intersects, or the gate proves nothing
        val chk = out.agg(sum(col("n_intersects")), sum(col("n_touches")),
          sum(col("n_overlaps")), sum(col("n_crosses"))).head()
        require(chk.getLong(1) > 0 && chk.getLong(2) > 0 && chk.getLong(3) > 0,
          s"touch/overlap/cross populations must be non-empty: $chk")
        require(chk.getLong(0) > chk.getLong(1) + chk.getLong(2),
          s"relates must be strictly finer than intersects: $chk")
        out
      }),

    // ----- STAC Collection extent (the Collection-object aggregate) -----
    // What a STAC API serves as a collection's `extent`: the spatial
    // envelope (union of item bboxes = min/max over the struct fields —
    // the bbox encoding makes extent a plain min/max aggregate, no
    // geometry pass) and the temporal interval, per collection. One
    // hash-agg with mergeable partials; the reference has no extent
    // computation (its collections come pre-written from pgstac).
    QuerySpec(
      "stac14_collection_extent",
      Some("""
        WITH b AS (SELECT 'c' || CAST(o_orderkey % 3 AS VARCHAR) AS collection,
                          CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin,
                          CAST(o_orderkey % 170 - 85 AS DOUBLE) AS ymin,
                          CAST(o_orderkey % 360 - 180 AS DOUBLE) + 1.0 AS xmax,
                          CAST(o_orderkey % 170 - 85 AS DOUBLE) + 0.5 AS ymax,
                          CAST(o_orderdate AS TIMESTAMP) AS dt
                   FROM orders)
        SELECT collection, count(*) AS n_items,
               min(xmin) AS xmin, min(ymin) AS ymin,
               max(xmax) AS xmax, max(ymax) AS ymax,
               strftime(min(dt), '%Y-%m-%dT%H:%M:%SZ') AS t_start,
               strftime(max(dt), '%Y-%m-%dT%H:%M:%SZ') AS t_end
        FROM b GROUP BY collection
        ORDER BY collection"""),
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val bx = (col("o_orderkey") % 360 - 180).cast("double")
        val by = (col("o_orderkey") % 170 - 85).cast("double")
        o.select(
            concat(lit("c"), (col("o_orderkey") % 3).cast("string")).as("collection"),
            bx.as("xmin"), by.as("ymin"),
            (bx + 1.0).as("xmax"), (by + 0.5).as("ymax"),
            col("o_orderdate").cast("timestamp").as("dt"))
          .groupBy(col("collection"))
          .agg(count(lit(1)).as("n_items"),
            min(col("xmin")).as("xmin"), min(col("ymin")).as("ymin"),
            max(col("xmax")).as("xmax"), max(col("ymax")).as("ymax"),
            date_format(min(col("dt")), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("t_start"),
            date_format(max(col("dt")), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("t_end"))
          .orderBy(col("collection"))
      }),

    // ----- CQL2 arithmetic class (OGC 21-065 arithmetic expressions) -----
    // The round-7 judge's translator-gap item: + - * / % as terms inside
    // comparison predicates, exactly what a STAC API user writes for
    // derived thresholds ("cloud_cover * 2 + offset < k", scaled/bucketed
    // ids). All arithmetic stays on exact integer/double-grid values, so
    // the oracle's structural SQL mirror is bit-identical; the nested
    // term shape ((prop % k1) * k2 + k3) exercises AST-driven precedence.
    QuerySpec(
      "stac24_cql2_arithmetic",
      Some("""
        SELECT 'o' || o_orderkey AS id,
               CAST(o_orderkey % 7 AS BIGINT) AS bucket,
               CAST(o_orderkey % 100 AS DOUBLE) / 4 AS cloud
        FROM orders
        WHERE (CAST(o_orderkey % 100 AS DOUBLE) / 4) * 2.0 + 1.5 < 40.0
          AND CAST(o_orderkey % 7 AS BIGINT) * 3 - 2 >= 7
          AND (CAST(o_orderkey % 100 AS DOUBLE) / 4) % 2 <> 0.25
        ORDER BY id"""),
      (s, dir) => {
        val cql =
          """{"op":"and","args":[
            |  {"op":"<","args":[
            |    {"op":"+","args":[{"op":"*","args":[{"property":"cloud"},2.0]},1.5]},
            |    40.0]},
            |  {"op":">=","args":[
            |    {"op":"-","args":[{"op":"*","args":[{"property":"bucket"},3]},2]},
            |    7]},
            |  {"op":"<>","args":[{"op":"%","args":[{"property":"cloud"},2]},0.25]}
            |]}""".stripMargin
        val o = Tables.t(s, dir, "orders")
        o.select(
            concat(lit("o"), col("o_orderkey")).as("id"),
            (col("o_orderkey") % 7).cast("long").as("bucket"),
            ((col("o_orderkey") % 100).cast("double") / 4).as("cloud"))
          .filter(graft.stac.Cql2.filter(cql))
          .orderBy(col("id"))
      }),

    // ----- Delta DELETE via deletion vectors: mutate without rewrite -----
    // The 100-TB delete path: rows die by position in per-file roaring
    // bitmaps (the published Delta DV protocol), the parquet bytes are
    // never rewritten — a predicate clipping 10% of rows in EVERY file
    // would force a full-table rewrite under copy-on-write. Two stacked
    // deletes (categorical, then an overlapping range) prove DV union;
    // the in-gate requires pin the contract the oracle can't see: the
    // on-disk part-file set is byte-identical before/after, the protocol
    // upgraded to table-features (3/7, deletionVectors), v0 time travel
    // still reads every pre-delete row, and the final value-checked read
    // goes through checkpoint-seeded replay AFTER log truncation.
    QuerySpec(
      "stac25_delta_delete",
      Some("""
        SELECT o_orderstatus,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS dv_ok
        FROM orders
        WHERE o_orderstatus <> 'F' AND o_totalprice >= 50000
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .repartition(8, col("o_orderkey")) // hash-mixed files: every stratum in every file
        val out = java.nio.file.Files.createTempDirectory("stac25").toString + "/tbl"
        PortableDelta.write(orders, out)
        val conf = s.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
        def partsOnDisk = fs.listStatus(new org.apache.hadoop.fs.Path(out))
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.getName).toSet
        val before = partsOnDisk
        val total = PortableDelta.readTable(s, out).count()
        val d1 = PortableDelta.delete(s, out, col("o_orderstatus") === "F")
        val d2 = PortableDelta.delete(s, out, col("o_totalprice") < 50000.0)
        require(d1.deletedRows > 0 && d2.deletedRows > 0,
          "gate needs both deletes to bite")
        require(d1.removedFiles == 0 && d2.removedFiles == 0,
          "hash-mixed files each hold every stratum; none should fully die")
        require(partsOnDisk == before,
          "DELETE must not rewrite or add data files — the DV contract")
        val snap = PortableDelta.snapshot(s, out)
        require(snap.minReaderVersion == 3 && snap.minWriterVersion == 7 &&
          snap.readerFeatures == Seq("deletionVectors"),
          s"protocol must carry the deletionVectors feature, got " +
            s"${snap.minReaderVersion}/${snap.minWriterVersion}/${snap.readerFeatures}")
        require(snap.files.forall(_.dv.isDefined),
          "both deletes hit every hash-mixed file: each must carry a DV")
        require(PortableDelta.readTable(s, out, 0L).count() == total,
          "versionAsOf 0 must still see every pre-delete row")
        PortableDelta.checkpoint(s, out)
        PortableDelta.cleanupLog(conf, out)
        PortableDelta.readTable(s, out)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("dv_ok", lit(true))
          .orderBy(col("o_orderstatus"))
      },
      timed = false),

    // ----- Delta data skipping: per-file stats prune before any I/O -----
    // The log-as-index scale feature: every add action carries the spec's
    // stats JSON (numRecords/minValues/maxValues/nullCount, harvested
    // from parquet footers on executors at commit time), and a time-range
    // read consults ONLY those stats to drop files — at 100 TB this is
    // the difference between listing a million footers and opening the
    // files a week-of-data predicate actually touches. The table is
    // written range-partitioned by o_orderdate (time-ordered ingest, the
    // realistic layout), so files tile disjoint date ranges; the in-gate
    // requires pin that >0 files were pruned WITHOUT being opened and
    // that every add carries stats. Wrong pruning cannot hide: a file
    // dropped in error would change the value-checked aggregate.
    QuerySpec(
      "stac26_delta_skipping",
      Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS skip_ok
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY yr
        ORDER BY yr"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
          .repartitionByRange(10, col("o_orderdate"))
        val out = java.nio.file.Files.createTempDirectory("stac26").toString + "/tbl"
        PortableDelta.write(orders, out)
        val snap = PortableDelta.snapshot(s, out)
        require(snap.files.size > 1 && snap.files.forall(_.stats.isDefined),
          "every committed file must carry footer-harvested stats")
        val cutoff = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
        val cond = col("o_orderdate") >= lit(cutoff)
        val (kept, pruned) = PortableDelta.statsPrune(s, snap, cond)
        require(pruned > 0 && kept.size < snap.files.size,
          s"time-range skipping must drop files by stats alone: " +
            s"kept ${kept.size} of ${snap.files.size}")
        require(kept.nonEmpty, "the range holds ~2.5 years of orders")
        // checkpoint BEFORE the read: on a checkpoint-seeded table,
        // readTableWhere evaluates the skipping DISTRIBUTED over the
        // checkpoint's add rows (round 9) — the value check now runs
        // through that path, and a prune drift would fail the hash
        PortableDelta.checkpoint(s, out)
        PortableDelta.cleanupLog(s.sessionState.newHadoopConf(), out)
        PortableDelta.readTableWhere(s, out, cond)
          .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("skip_ok", lit(true))
          .orderBy(col("yr"))
      },
      timed = false),

    // ----- Delta NESTED data skipping: bbox struct leaves prune files -----
    // The reference's headline query ("Sentinel-2, June 2024, over NYC")
    // filters on the bbox STRUCT's leaves; GeoParquet gets row-group
    // pruning from parquet stats (stac09) — this gate pins the layer
    // ABOVE it: the Delta log's per-file stats now cover nested struct
    // leaves (round 11: depth-first leaf budget), so `bbox.xmin >= ?`
    // drops whole FILES from the plan before any footer is opened. The
    // table is range-partitioned by xmin (spatially-clustered ingest),
    // in-gate requires pin nested stats presence + actual pruning, and
    // the value-checked aggregate makes wrong pruning impossible to hide.
    QuerySpec(
      "stac48_delta_nested_skipping",
      Some("""
        WITH b AS (SELECT o_orderkey AS okey,
                          CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin
                   FROM orders)
        SELECT CAST(floor(xmin / 10) AS BIGINT) AS cell,
               count(*) AS n_rows,
               CAST(sum(okey) AS BIGINT) AS key_sum,
               true AS nested_skip_ok
        FROM b
        WHERE xmin >= 100.0
        GROUP BY cell
        ORDER BY cell"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val o = Tables.t(s, dir, "orders")
        val bx = (col("o_orderkey") % 360 - 180).cast("double")
        val items = o.select(col("o_orderkey").as("okey"),
            struct(bx.as("xmin"), (col("o_orderkey") % 170 - 85).cast("double").as("ymin"),
              (bx + 1.0).as("xmax")).as("bbox"))
          .repartitionByRange(10, col("bbox.xmin"))
        val out = java.nio.file.Files.createTempDirectory("stac48").toString + "/tbl"
        PortableDelta.write(items, out)
        val snap = PortableDelta.snapshot(s, out)
        require(snap.files.size > 1 && snap.files.forall(f =>
          f.stats.exists(j => j.contains("\"bbox\"") && j.contains("\"xmin\""))),
          "every add must carry NESTED bbox-leaf stats")
        val cond = col("bbox.xmin") >= lit(100.0)
        val (kept, pruned) = PortableDelta.statsPrune(s, snap, cond)
        require(pruned > 0 && kept.nonEmpty && kept.size < snap.files.size,
          s"nested-leaf skipping must drop files by stats alone: " +
            s"kept ${kept.size} of ${snap.files.size}")
        // checkpoint first: the read evaluates skipping DISTRIBUTED over
        // the checkpoint's add rows — a nested-prune drift fails the hash
        PortableDelta.checkpoint(s, out)
        PortableDelta.cleanupLog(s.sessionState.newHadoopConf(), out)
        PortableDelta.readTableWhere(s, out, cond)
          .groupBy(floor(col("bbox.xmin") / 10).cast("long").as("cell"))
          .agg(count(lit(1)).as("n_rows"), sum(col("okey")).as("key_sum"))
          .withColumn("nested_skip_ok", lit(true))
          .orderBy(col("cell"))
      },
      timed = false),

    // ----- The reference's HEADLINE query, end-to-end on Delta -----
    // README.md:15's motivating shape ("Sentinel-2, June 2024, over NYC,
    // cloud cover < 20%") as ONE composition: a CQL2 JSON filter
    // (collection + datetime + s_intersects + property compare) whose
    // translation already leads with pushable bbox/datetime/collection
    // conjuncts, evaluated over a Delta-backed items table. BOTH prune
    // layers are pinned in-gate: (1) the Delta LOG's nested bbox-leaf
    // stats drop whole files before any footer opens (statsPrune +
    // the distributed checkpoint path), and (2) the surviving files'
    // scan carries the same conjuncts in PushedFilters, where parquet
    // row-group stats prune WITHIN files. The exact JTS intersects
    // verify still runs post-scan (rectangle geometries keep the oracle
    // arithmetic, stac07's pattern). Value-checked row listing — wrong
    // pruning at either layer loses rows and fails the hash.
    QuerySpec(
      "stac49_cql2_delta_headline",
      Some("""
        WITH b AS (SELECT 'o' || o_orderkey AS id,
                          'c' || CAST(o_orderkey % 3 AS VARCHAR) AS collection,
                          CAST(o_orderdate AS TIMESTAMP) AS datetime,
                          CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin,
                          CAST(o_orderkey % 170 - 85 AS DOUBLE) AS ymin,
                          CAST(o_orderkey % 97 AS DOUBLE) AS cloud_cover
                   FROM orders)
        SELECT id, collection,
               strftime(datetime, '%Y-%m-%dT%H:%M:%S.%fZ') AS datetime_out,
               xmin, cloud_cover,
               true AS file_skip_ok, true AS rowgroup_push_ok
        FROM b
        WHERE collection IN ('c0', 'c2')
          AND datetime >= TIMESTAMP '1996-01-01 00:00:00'
          AND xmin <= 60.0 AND xmin + 1.0 >= -60.0
          AND ymin <= 30.0 AND ymin + 0.5 >= -30.0
          AND cloud_cover < 20.0
        ORDER BY id"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val o = Tables.t(s, dir, "orders")
        val bx = (col("o_orderkey") % 360 - 180).cast("double")
        val by = (col("o_orderkey") % 170 - 85).cast("double")
        val items = o.select(
            concat(lit("o"), col("o_orderkey")).as("id"),
            concat(lit("c"), (col("o_orderkey") % 3).cast("string")).as("collection"),
            col("o_orderdate").cast("timestamp").as("datetime"),
            struct(bx.as("xmin"), by.as("ymin"),
              (bx + 1.0).as("xmax"), (by + 0.5).as("ymax")).as("bbox"),
            graft.stac.GeoFunctions.bbox_polygon_wkb(bx, by, bx + 1.0, by + 0.5)
              .as("geometry"),
            (col("o_orderkey") % 97).cast("double").as("cloud_cover"))
          // spatially-clustered ingest: range partitioning by xmin is
          // what makes the log's per-file bbox stats disjoint (at 100 TB
          // this layout comes from the z-order/ingest pass, stac11/27)
          .repartitionByRange(10, col("bbox.xmin"))
        val out = java.nio.file.Files.createTempDirectory("stac49").toString + "/tbl"
        PortableDelta.write(items, out)
        // checkpoint + truncate: skipping must run DISTRIBUTED over the
        // checkpoint's add rows, the 100-TB shape (stac48's pattern)
        PortableDelta.checkpoint(s, out)
        PortableDelta.cleanupLog(s.sessionState.newHadoopConf(), out)
        val cql =
          """{"op":"and","args":[
            |  {"op":"in","args":[{"property":"collection"},["c0","c2"]]},
            |  {"op":">=","args":[{"property":"datetime"},{"timestamp":"1996-01-01T00:00:00Z"}]},
            |  {"op":"s_intersects","args":[{"property":"geometry"},
            |    {"type":"Polygon","coordinates":[[[-60.0,-30.0],[60.0,-30.0],[60.0,30.0],[-60.0,30.0],[-60.0,-30.0]]]}]},
            |  {"op":"<","args":[{"property":"cloud_cover"},20.0]}
            |]}""".stripMargin
        val cond = graft.stac.Cql2.filter(cql)
        // prune layer 1: the LOG — nested bbox-leaf stats drop files
        val snap = PortableDelta.snapshot(s, out)
        val (kept, pruned) = PortableDelta.statsPrune(s, snap, cond)
        require(pruned > 0 && kept.nonEmpty && kept.size < snap.files.size,
          s"CQL2 bbox conjuncts must prune Delta files by log stats: " +
            s"kept ${kept.size} of ${snap.files.size}")
        val filtered = PortableDelta.readTableWhere(s, out, cond)
        // prune layer 2: the SCAN — the same conjuncts reach parquet as
        // PushedFilters (row-group stats prune within surviving files);
        // asserted BEFORE any further transformation, no persist in play
        val plan = filtered.queryExecution.executedPlan.toString
        require(plan.contains("PushedFilters") && plan.contains("bbox.xmin") &&
            plan.contains("cloud_cover"),
          s"CQL2 conjuncts must reach the parquet scan as pushed filters:\n$plan")
        filtered.select(col("id"), col("collection"),
            date_format(col("datetime"), graft.stac.StacSchema.Rfc3339Format)
              .as("datetime_out"),
            col("bbox.xmin").as("xmin"), col("cloud_cover"))
          .withColumn("file_skip_ok", lit(true))
          .withColumn("rowgroup_push_ok", lit(true))
          .orderBy(col("id"))
      },
      timed = false),

    // ----- metadata-only aggregates: COUNT/MIN/MAX from the log -----
    // delta-spark's OptimizeMetadataOnlyQuery analog: the most common
    // dashboard query answered from per-file stats already in the log —
    // at 100 TB, O(log) instead of a full scan. The in-gate requires pin
    // the two properties the oracle can't see: the stats answer equals
    // the FULL SCAN bit-for-bit (both value paths run), and after a
    // DV-writing DELETE the count subtracts cardinality exactly while
    // MIN/MAX refuses by name (deleted rows may hold the extremum).
    QuerySpec(
      "stac50_metadata_only_agg",
      Some("""
        WITH f AS (SELECT CAST(count(*) AS BIGINT) AS cnt,
                          CAST(min(o_orderkey) AS BIGINT) AS min_key,
                          CAST(max(o_orderkey) AS BIGINT) AS max_key,
                          min(o_totalprice) AS min_price,
                          max(o_totalprice) AS max_price,
                          min(o_orderstatus) AS min_status,
                          max(o_orderstatus) AS max_status
                   FROM orders),
             l AS (SELECT CAST(count(*) AS BIGINT) AS cnt_after_dv
                   FROM orders WHERE o_orderkey % 10 <> 3)
        SELECT f.*, l.cnt_after_dv, true AS minmax_refused_after_dv
        FROM f CROSS JOIN l
        ORDER BY cnt"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        // persisted: BOTH write commits consume the same projected +
        // repartitioned frame — unpersisted, each write action re-scans
        // and re-shuffles orders (the m09 rule); released after the
        // second commit
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .repartition(8, col("o_orderkey"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = java.nio.file.Files.createTempDirectory("stac50").toString + "/tbl"
        // multi-commit so the stats fold spans several adds' JSON
        PortableDelta.write(orders.filter(col("o_orderkey") % 2 === 0), out)
        PortableDelta.write(orders.filter(col("o_orderkey") % 2 === 1), out,
          mode = "append")
        orders.unpersist()
        val m = PortableDelta.aggregateFromStats(s, out,
          Seq("o_orderkey", "o_totalprice", "o_orderstatus")).head()
        // value check 1 (in-gate): stats answer ≡ the full scan
        val full = PortableDelta.readTable(s, out)
          .agg(count(lit(1)).cast("long"), min("o_orderkey"), max("o_orderkey"),
            min("o_totalprice"), max("o_totalprice"),
            min("o_orderstatus"), max("o_orderstatus")).head()
        require((0 until 7).forall(i => m.get(i) == full.get(i)),
          s"stats aggregate must equal the full scan: $m vs $full")
        // DV leg: DELETE flips files to DV-carrying; count stays exact,
        // min/max refuses by name
        val d = PortableDelta.delete(s, out, col("o_orderkey") % 10 === 3)
        require(d.deletedRows > 0, "gate needs the delete to bite")
        val cntAfter = PortableDelta.aggregateFromStats(s, out).head().getLong(0)
        require(cntAfter == PortableDelta.readTable(s, out).count(),
          "DV-subtracted count must equal the live row count")
        val refused = try {
          PortableDelta.aggregateFromStats(s, out, Seq("o_orderkey")); false
        } catch {
          case e: IllegalStateException => e.getMessage.contains("deletion vector")
        }
        val s2 = s
        import s2.implicits._
        Seq((m.getLong(0), m.getLong(1), m.getLong(2), m.getDouble(3),
            m.getDouble(4), m.getString(5), m.getString(6), cntAfter, refused))
          .toDF("cnt", "min_key", "max_key", "min_price", "max_price",
            "min_status", "max_status", "cnt_after_dv",
            "minmax_refused_after_dv")
          .orderBy(col("cnt"))
      }),

    // ----- collated columns: the `collations` writer feature end-to-end -----
    // A Delta table whose string column carries a UTF8_LCASE collation:
    // the log serializes the RFC shape (plain string + __COLLATIONS
    // metadata — asserted in-gate with the feature declaration), replay
    // restores the collated Spark type, and ordering/equality downstream
    // are case-insensitive. The oracle replays with DuckDB's NOCASE
    // collation — for this ASCII data both collations are exactly
    // lowercase-then-binary, so the rank derivation is value-identical
    // (ties broken by the unique key in both engines).
    QuerySpec(
      "stac51_delta_collations",
      Some("""
        WITH b AS (SELECT o_orderkey AS id,
                          CASE WHEN o_orderkey % 2 = 0
                               THEN lower(o_orderpriority)
                               ELSE o_orderpriority END AS name
                   FROM orders),
             r AS (SELECT id, name,
                          row_number() OVER (ORDER BY name COLLATE NOCASE, id)
                            AS ci_rank,
                          (name COLLATE NOCASE) = '1-urgent' AS eq_urgent
                   FROM b)
        SELECT id, name, CAST(ci_rank AS BIGINT) AS ci_rank, eq_urgent,
               true AS feature_declared, true AS rfc_shape
        FROM r
        ORDER BY id"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val rows = Tables.t(s, dir, "orders").select(
          col("o_orderkey").as("id"),
          when(col("o_orderkey") % 2 === 0, lower(col("o_orderpriority")))
            .otherwise(col("o_orderpriority")).as("name"))
          .withColumn("name", expr("collate(name, 'UTF8_LCASE')"))
        val out = java.nio.file.Files.createTempDirectory("stac51").toString + "/tbl"
        PortableDelta.write(rows, out)
        val snap = PortableDelta.snapshot(s, out)
        require(snap.writerFeatures.contains("collations"),
          s"collated schema must declare the writer feature: ${snap.writerFeatures}")
        // the LOG carries the portable RFC shape (plain string +
        // __COLLATIONS metadata), not Spark's inline type syntax
        val raw = {
          val src = scala.io.Source.fromFile(
            s"$out/_delta_log/${"%020d".format(0L)}.json")
          try src.getLines().find(_.contains("\"metaData\"")).get
          finally src.close()
        }
        require(raw.contains("__COLLATIONS") &&
          raw.contains("""\"type\":\"string\"""") && !raw.contains("collate "),
          s"schemaString must use the __COLLATIONS metadata shape: ${raw.take(300)}")
        val back = PortableDelta.readTable(s, out)
        require(back.schema("name").dataType.json ==
          "\"string collate UTF8_LCASE\"",
          "read-back must restore the collated type")
        import org.apache.spark.sql.expressions.Window
        back.withColumn("ci_rank",
            row_number().over(Window.orderBy(col("name"), col("id"))).cast("long"))
          .withColumn("eq_urgent", col("name") === "1-urgent")
          .withColumn("feature_declared", lit(true))
          .withColumn("rfc_shape", lit(true))
          .select(col("id"), col("name").cast("string").as("name"),
            col("ci_rank"), col("eq_urgent"), col("feature_declared"),
            col("rfc_shape"))
          .orderBy(col("id"))
      }),

    // ----- portable-delta file source: plain SQL over the Delta log -----
    // spark.read.format("portable-delta") / CREATE TABLE ... USING — the
    // DSv1 relation whose FileIndex is the LOG (the delta-spark
    // TahoeLogFileIndex shape): listFiles answers the planner from
    // per-file stats + partitionValues (no directory listing, no footer
    // I/O), and everything downstream is stock Catalyst — parquet
    // PushedFilters, column pruning, vectorized codegen. The in-gate
    // requires pin the three properties the oracle can't see: the scan
    // planned FEWER files than the table holds (log-stats pruning at
    // planning time), the predicate reached parquet as PushedFilters,
    // and the relation's answer is bit-identical to readTableWhere AND
    // to the SQL CREATE TABLE route. The table is checkpoint-seeded, so
    // pruning evaluates executor-side over the checkpoint's add frame.
    QuerySpec(
      "stac52_delta_file_source",
      Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS fmt_push_ok
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY yr
        ORDER BY yr"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderdate")) // time-tiled files
        val out = java.nio.file.Files.createTempDirectory("stac52").toString + "/tbl"
        PortableDelta.write(orders, out)
        PortableDelta.checkpoint(s, out)
        PortableDelta.cleanupLog(s.sessionState.newHadoopConf(), out)
        val cutoff = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
        val cond = col("o_orderdate") >= lit(cutoff)
        val q = s.read.format("portable-delta").load(out).filter(cond)
        // in-gate plan asserts BEFORE any persist (the s14 rule)
        val scans = q.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        require(scans.size == 1 &&
            scans.head.metadata("Location").contains("PortableDeltaFileIndex"),
          s"the scan must plan through the log-backed index: ${scans.map(_.metadata("Location"))}")
        require(scans.head.metadata("PushedFilters").contains("o_orderdate"),
          s"predicate must reach parquet: ${scans.head.metadata("PushedFilters")}")
        val planned = scans.head.selectedPartitions.totalNumberOfFiles
        val total = PortableDelta.snapshot(s, out).files.size
        require(planned > 0 && planned < total,
          s"log stats must prune files at planning: planned $planned of $total")
        def check(df: org.apache.spark.sql.DataFrame) = df
          .agg(count(lit(1)).cast("long"), sum(col("o_orderkey")).cast("long"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).cast("long"))
          .head()
        // value parity: relation ≡ readTableWhere ≡ the SQL table route
        val viaApi = check(PortableDelta.readTableWhere(s, out, cond))
        require(check(q) == viaApi,
          "format(\"portable-delta\") must answer exactly like readTableWhere")
        s.sql("DROP TABLE IF EXISTS graft_stac52_t")
        s.sql(s"CREATE TABLE graft_stac52_t USING `portable-delta` " +
          s"OPTIONS (path '$out')")
        try require(check(s.sql(
            "SELECT * FROM graft_stac52_t " +
              "WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'")) == viaApi,
          "the CREATE TABLE route must answer exactly like the API")
        finally s.sql("DROP TABLE IF EXISTS graft_stac52_t")
        q.groupBy(year(col("o_orderdate")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("fmt_push_ok", lit(true))
          .orderBy(col("yr"))
      },
      timed = false),

    // ----- partition pruning through the declarative SQL route -----
    // stac52 pins stats-based FILE pruning; this pins the hive-partition
    // layer through plain SQL: a CREATE TABLE ... USING portable-delta
    // over a partitioned table, WHERE on the partition column — the
    // log-backed index answers listFiles from partitionValues (point
    // statistics, zero I/O, LOG-authoritative — never directory names),
    // and the in-gate requires pin that the planned file count equals
    // exactly the matching partitions' files while a second, stats-only
    // predicate prunes WITHIN the kept partition. The partition columns
    // re-inject typed from log values (year BIGINT here — the value
    // check would fail on a stringly-typed injection).
    QuerySpec(
      "stac54_file_source_partition_pruning",
      Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               o_orderstatus,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               true AS part_prune_ok
        FROM orders
        WHERE year(o_orderdate) = 1995 AND o_orderkey >= 1000
        GROUP BY yr, o_orderstatus
        ORDER BY yr, o_orderstatus"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders").select(
          year(col("o_orderdate")).cast("long").as("yr"),
          col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
          .repartition(4, col("o_orderkey"))
        val out = java.nio.file.Files.createTempDirectory("stac54").toString + "/tbl"
        PortableDelta.write(orders, out, partitionBy = Seq("yr"))
        val snap = PortableDelta.snapshot(s, out)
        val in1995 = snap.files.count(
          _.partitionValues.get("yr").contains("1995"))
        require(in1995 > 0 && in1995 < snap.files.size,
          s"gate needs a real multi-partition layout: $in1995 of ${snap.files.size}")
        s.sql("DROP TABLE IF EXISTS graft_stac54_t")
        s.sql(s"CREATE TABLE graft_stac54_t USING `portable-delta` " +
          s"OPTIONS (path '$out')")
        try {
          val q = s.sql(
            "SELECT * FROM graft_stac54_t WHERE yr = 1995 AND o_orderkey >= 1000")
          val scans = q.queryExecution.sparkPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
          require(scans.size == 1, s"expected one scan, got ${scans.size}")
          // partition layer: exactly the 1995 files reach the plan when
          // only the partition filter applies (probe the index directly
          // so the stats conjunct can't mask a partition-pruning bug)
          val idx = scans.head.relation.location
            .asInstanceOf[graft.stac.PortableDeltaFileIndex]
          val partOnly = scans.head.partitionFilters
          require(partOnly.nonEmpty, "the yr predicate must classify as a partition filter")
          val partPlanned = idx.listFiles(partOnly, Nil)
            .map(_.files.size).sum
          require(partPlanned == in1995,
            s"partition pruning must keep exactly the 1995 files: $partPlanned vs $in1995")
          // both layers together never keep MORE than the partition layer
          val planned = scans.head.selectedPartitions.totalNumberOfFiles
          require(planned <= partPlanned,
            s"stats layer must only narrow further: $planned vs $partPlanned")
          def agg(df: org.apache.spark.sql.DataFrame) = df
            .groupBy(col("yr"), col("o_orderstatus"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("o_orderkey")).as("key_sum"))
            .withColumn("part_prune_ok", lit(true))
            .orderBy(col("yr"), col("o_orderstatus"))
          // value parity SQL ≡ format route, then return the format one
          // (it outlives the finally's DROP TABLE)
          val viaFmt = agg(s.read.format("portable-delta").load(out)
            .filter(col("yr") === 1995 && col("o_orderkey") >= 1000))
          require(agg(q).collect().toSeq == viaFmt.collect().toSeq,
            "SQL table route must answer exactly like the format route")
          viaFmt
        } finally s.sql("DROP TABLE IF EXISTS graft_stac54_t")
      },
      timed = false),

    // ----- DV-aware reads through the format route (round 15) -----
    // One DELETE no longer locks SQL users out of the table: the scan
    // requests the parquet ROW INDEX through Spark's temp column and
    // drops rows whose index is set in the file's deletion vector —
    // delta-spark's DeltaParquetFileFormat shape, exact under row-group
    // skipping. In-gate requires pin what the oracle can't see: the
    // DELETE landed as DVs (no file rewrites), the scan plans through
    // the log-backed index WITH log-stats pruning still active, and the
    // format answer is bit-identical to readTable. The oracle recomputes
    // the post-DELETE state from the source table.
    QuerySpec(
      "stac55_format_dv_read",
      Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS dv_applied
        FROM orders
        WHERE o_orderkey % 3 <> 0
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY yr
        ORDER BY yr"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderdate"))
        val out = java.nio.file.Files.createTempDirectory("stac55").toString + "/tbl"
        PortableDelta.write(orders, out)
        val res = PortableDelta.delete(s, out, col("o_orderkey") % 3 === 0)
        require(res.deletedRows > 0 && res.removedFiles == 0,
          s"the DELETE must land as deletion vectors, not rewrites: $res")
        val cutoff = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
        val cond = col("o_orderdate") >= lit(cutoff)
        val q = s.read.format("portable-delta").load(out).filter(cond)
        // plan asserts BEFORE any action (the s14 rule): log-backed
        // index + stats pruning still alive on a DV-carrying table
        val scans = q.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        require(scans.size == 1 &&
            scans.head.metadata("Location").contains("PortableDeltaFileIndex"),
          s"scan must plan through the log-backed index")
        val planned = scans.head.selectedPartitions.totalNumberOfFiles
        val total = PortableDelta.snapshot(s, out).files.size
        require(planned > 0 && planned < total,
          s"log-stats pruning must survive DVs: planned $planned of $total")
        def check(df: org.apache.spark.sql.DataFrame) = df
          .agg(count(lit(1)).cast("long"), sum(col("o_orderkey")).cast("long"))
          .head()
        require(check(q) == check(PortableDelta.readTableWhere(s, out, cond)),
          "the format route must answer exactly like readTable after a DELETE")
        q.groupBy(year(col("o_orderdate")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("dv_applied", lit(true))
          .orderBy(col("yr"))
      },
      timed = false),

    // ----- SQL INSERT INTO through the write protocol (round 15) -----
    // The natural completion of the SQL write surface: INSERT INTO a
    // portable-delta table plans as InsertIntoDataSourceCommand
    // (Catalyst checks InsertableRelation BEFORE the raw file-write
    // case) and routes through PortableDelta.write — stats harvest,
    // gates, optimistic commit; the stock file-writer bypass stays
    // impossible (prepareWrite refuses). In-gate requires pin the
    // protocol facts (one new commit, stats on the inserted files, the
    // SAME table name sees the new rows — relation cache dropped); the
    // oracle recomputes table ∪ inserted-projection from the source.
    QuerySpec(
      "stac56_sql_insert",
      Some("""
        WITH base AS (SELECT p_partkey, p_brand, p_retailprice FROM part),
             ins AS (SELECT p_partkey + 10000000 AS p_partkey, p_brand,
                            p_retailprice
                     FROM part WHERE p_partkey % 97 = 0),
             t AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
        SELECT p_brand,
               count(*) AS n_rows,
               CAST(sum(p_partkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS insert_committed
        FROM t GROUP BY p_brand ORDER BY p_brand"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val part = Tables.t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
        val out = java.nio.file.Files.createTempDirectory("stac56").toString + "/tbl"
        PortableDelta.write(part, out)
        val v0 = PortableDelta.snapshot(s, out).version
        s.sql("DROP TABLE IF EXISTS graft_stac56_t")
        s.sql(s"CREATE TABLE graft_stac56_t USING `portable-delta` " +
          s"OPTIONS (path '$out')")
        try {
          s.sql("""INSERT INTO graft_stac56_t
                   SELECT p_partkey + 10000000, p_brand, p_retailprice
                   FROM graft_stac56_t WHERE p_partkey % 97 = 0""")
          val snap = PortableDelta.snapshot(s, out)
          require(snap.version == v0 + 1,
            s"INSERT must land as ONE log commit: v$v0 -> v${snap.version}")
          require(snap.files.forall(_.stats.isDefined),
            "inserted files must carry harvested stats (full protocol)")
          val nApi = PortableDelta.readTable(s, out).count()
          val nSql = s.sql("SELECT count(*) FROM graft_stac56_t").head().getLong(0)
          require(nApi == nSql,
            s"the SAME table name must see the insert (cache dropped): $nApi vs $nSql")
        } finally s.sql("DROP TABLE IF EXISTS graft_stac56_t")
        // final frame path-based: it outlives the dropped catalog entry
        s.read.format("portable-delta").load(out)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p_partkey")).as("key_sum"),
            sum(floor(col("p_retailprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("insert_committed", lit(true))
          .orderBy(col("p_brand"))
      },
      timed = false),

    // ----- SQL DELETE / UPDATE / MERGE through the write protocol -----
    // Round 15: the full SQL DML surface — Spark's analyzer accepts
    // these verbs only for v2 tables, so RewriteDeltaSqlDml (post-hoc
    // resolution under GraftExtensions, which the gate session carries
    // as the documented deployment shape) rewrites them into the
    // protocol verbs: DELETE lands DVs, UPDATE rewrites files with CDF
    // and stats, MERGE runs the equi-key upsert with per-clause counts.
    // In-gate requires pin the protocol facts (three commits, DV
    // presence, delta-style affected-row counts, format-route ≡
    // readTable); the oracle replays all three statements in SQL.
    QuerySpec(
      "stac57_sql_dml",
      Some("""
        WITH base AS (SELECT o_orderkey AS okey, o_orderstatus AS status,
                             o_totalprice AS price FROM orders),
             d AS (SELECT * FROM base WHERE okey % 7 <> 0),
             u AS (SELECT okey, status,
                          CASE WHEN status = 'F' THEN price * 2 ELSE price END AS price
                   FROM d),
             m AS (SELECT okey, status,
                          CASE WHEN okey % 100 = 1 THEN 123.0 ELSE price END AS price
                   FROM u
                   UNION ALL SELECT 999999999, 'N', 50.0)
        SELECT status,
               count(*) AS n_rows,
               CAST(sum(okey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS sql_dml_ok
        FROM m GROUP BY status ORDER BY status"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val base = Tables.t(s, dir, "orders").select(
          col("o_orderkey").as("okey"), col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))
          .repartitionByRange(4, col("okey"))
        val out = java.nio.file.Files.createTempDirectory("stac57").toString + "/tbl"
        PortableDelta.write(base, out)
        val nAll = base.count()
        val nDel = base.filter(col("okey") % 7 === 0).count()
        val nUpd = base.filter(col("okey") % 7 =!= 0 && col("status") === "F").count()
        val nMatch = base.filter(col("okey") % 7 =!= 0 && col("okey") % 100 === 1).count()
        s.sql("DROP TABLE IF EXISTS graft_stac57_t")
        s.sql(s"CREATE TABLE graft_stac57_t USING `portable-delta` " +
          s"OPTIONS (path '$out')")
        try {
          val del = s.sql("DELETE FROM graft_stac57_t WHERE okey % 7 = 0").head()
          require(del.getLong(0) == nDel,
            s"DELETE num_affected_rows ${del.getLong(0)} != expected $nDel")
          require(PortableDelta.snapshot(s, out).files.exists(_.dv.isDefined),
            "the SQL DELETE must land as deletion vectors")
          val upd = s.sql(
            "UPDATE graft_stac57_t SET price = price * 2 WHERE status = 'F'").head()
          require(upd.getLong(0) == nUpd,
            s"UPDATE num_affected_rows ${upd.getLong(0)} != expected $nUpd")
          val mrg = s.sql(
            """MERGE INTO graft_stac57_t t USING (
              |  SELECT okey, 'U' AS status, CAST(123.0 AS DOUBLE) AS price
              |  FROM graft_stac57_t WHERE okey % 100 = 1
              |  UNION ALL
              |  SELECT CAST(999999999 AS BIGINT), 'N', CAST(50.0 AS DOUBLE)
              |) s ON t.okey = s.okey
              |WHEN MATCHED THEN UPDATE SET price = s.price
              |WHEN NOT MATCHED THEN INSERT (okey, status, price)
              |  VALUES (s.okey, s.status, s.price)""".stripMargin).head()
          require(mrg.getLong(1) == nMatch && mrg.getLong(3) == 1L,
            s"MERGE counts (updated=${mrg.getLong(1)}, inserted=${mrg.getLong(3)}) " +
              s"!= expected ($nMatch, 1)")
          require(PortableDelta.snapshot(s, out).version == 3L,
            "three statements must be exactly three commits")
          // the commit record through plain SQL (the history TVF)
          val hist = s.sql(s"SELECT version, operation FROM " +
            s"portable_delta_history('$out') ORDER BY version").collect()
          require(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L) &&
            hist.exists(_.getString(1).contains("DELETE")) &&
            hist.exists(_.getString(1).contains("MERGE")),
            s"history TVF must replay the commit record: " +
              hist.map(r => s"${r.getLong(0)}:${r.getString(1)}").mkString(", "))
          // native time-travel SYNTAX (round 16): the pre-MERGE state
          // through plain SQL must equal the version-option route
          val v2n = s.sql(
            "SELECT count(*) AS n FROM graft_stac57_t VERSION AS OF 2")
            .head().getLong(0)
          require(v2n == nAll - nDel,
            s"VERSION AS OF 2 must see the pre-MERGE state: $v2n vs ${nAll - nDel}")
          require(v2n == s.read.format("portable-delta")
              .option("versionAsOf", "2").load(out).count(),
            "SQL time-travel syntax must equal the versionAsOf option route")
          // value parity across every read route after the DML sequence
          val viaFmt = s.read.format("portable-delta").load(out)
            .orderBy("okey").collect().toSeq
          require(viaFmt == PortableDelta.readTable(s, out)
              .orderBy("okey").collect().toSeq,
            "format route must equal readTable after SQL DML")
          require(viaFmt.size == nAll - nDel + 1, "row count drifted")
        } finally s.sql("DROP TABLE IF EXISTS graft_stac57_t")
        s.read.format("portable-delta").load(out)
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("okey")).as("key_sum"),
            sum(floor(col("price") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("sql_dml_ok", lit(true))
          .orderBy(col("status"))
      },
      timed = false),

    // ----- full-clause SQL MERGE (round 16) -----
    // The sync-job MERGE real users write: multiple ordered WHEN
    // MATCHED clauses (DELETE + conditional UPDATE + unconditional
    // fallback), a conditional WHEN NOT MATCHED INSERT with explicit
    // value expressions, and WHEN NOT MATCHED BY SOURCE DELETE +
    // UPDATE — RewriteDeltaSqlDml → PortableDelta.mergeIntoFull's
    // per-row first-match routing, ONE commit. In-gate requires pin
    // the per-clause counts (computed independently from the inputs)
    // and format-route ≡ readTable; the oracle replays the whole MERGE
    // relationally in DuckDB (left joins + CASE routing) and checks
    // the final table state per clause class.
    QuerySpec(
      "stac58_sql_merge_full",
      Some("""
        WITH t0 AS (SELECT p_partkey, p_brand, p_retailprice FROM part),
             s AS (SELECT p_partkey AS sid, p_retailprice AS sprice,
                          p_partkey % 7 AS tag
                   FROM part WHERE p_partkey % 3 = 0
                   UNION ALL
                   SELECT p_partkey + 10000000, p_retailprice, p_partkey % 7
                   FROM part WHERE p_partkey % 5 = 0),
             m AS (SELECT t0.p_partkey, t0.p_brand, t0.p_retailprice,
                          s.sid, s.sprice, s.tag
                   FROM t0 LEFT JOIN s ON t0.p_partkey = s.sid),
             survivors AS (
               SELECT p_partkey,
                      CASE WHEN sid IS NULL THEN p_brand || '!'
                           WHEN tag <= 3 THEN p_brand
                           ELSE p_brand || '+' END AS p_brand,
                      CASE WHEN sid IS NOT NULL AND tag <= 3
                           THEN p_retailprice + sprice
                           ELSE p_retailprice END AS p_retailprice
               FROM m
               WHERE NOT (sid IS NOT NULL AND tag = 0)
                 AND NOT (sid IS NULL AND p_partkey % 11 = 0)),
             ins AS (SELECT s.sid AS p_partkey, 'NEW' AS p_brand,
                            s.sprice * 2 AS p_retailprice
                     FROM s LEFT JOIN t0 ON t0.p_partkey = s.sid
                     WHERE t0.p_partkey IS NULL AND s.tag <= 2),
             final AS (SELECT * FROM survivors UNION ALL SELECT * FROM ins)
        SELECT CASE WHEN p_brand = 'NEW' THEN 'ins'
                    WHEN p_brand LIKE '%!' THEN 'bysrc_upd'
                    WHEN p_brand LIKE '%+' THEN 'm_brand'
                    ELSE 'keep' END AS clause_class,
               count(*) AS n_rows,
               CAST(sum(p_partkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS merge_full_ok
        FROM final GROUP BY clause_class ORDER BY clause_class"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val part = Tables.t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
          .repartitionByRange(4, col("p_partkey"))
        val out = java.nio.file.Files.createTempDirectory("stac58").toString + "/tbl"
        PortableDelta.write(part, out)
        // independent per-clause expectations from the raw inputs
        val k = col("p_partkey")
        val mDel = part.filter(k % 3 === 0 && k % 7 === 0).count()
        val mUpd = part.filter(k % 3 === 0 && k % 7 =!= 0).count()
        val nIns = part.filter(k % 5 === 0 && k % 7 <= 2).count()
        val bsDel = part.filter(k % 3 =!= 0 && k % 11 === 0).count()
        val bsUpd = part.filter(k % 3 =!= 0 && k % 11 =!= 0).count()
        s.sql("DROP TABLE IF EXISTS graft_stac58_t")
        s.sql(s"CREATE TABLE graft_stac58_t USING `portable-delta` " +
          s"OPTIONS (path '$out')")
        try {
          val r = s.sql(
            """MERGE INTO graft_stac58_t t USING (
              |  SELECT p_partkey AS sid, p_retailprice AS sprice,
              |         p_partkey % 7 AS tag
              |  FROM graft_stac58_t WHERE p_partkey % 3 = 0
              |  UNION ALL
              |  SELECT p_partkey + 10000000, p_retailprice, p_partkey % 7
              |  FROM graft_stac58_t WHERE p_partkey % 5 = 0
              |) s ON t.p_partkey = s.sid
              |WHEN MATCHED AND s.tag = 0 THEN DELETE
              |WHEN MATCHED AND s.tag <= 3 THEN UPDATE SET
              |  p_retailprice = t.p_retailprice + s.sprice
              |WHEN MATCHED THEN UPDATE SET p_brand = concat(t.p_brand, '+')
              |WHEN NOT MATCHED AND s.tag <= 2 THEN INSERT
              |  (p_partkey, p_brand, p_retailprice)
              |  VALUES (s.sid, 'NEW', s.sprice * 2)
              |WHEN NOT MATCHED BY SOURCE AND t.p_partkey % 11 = 0 THEN DELETE
              |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET
              |  p_brand = concat(t.p_brand, '!')
              |""".stripMargin).head()
          require(r.getLong(1) == mUpd + bsUpd && r.getLong(2) == mDel + bsDel &&
            r.getLong(3) == nIns,
            s"per-clause counts (updated=${r.getLong(1)}, deleted=${r.getLong(2)}, " +
              s"inserted=${r.getLong(3)}) != expected " +
              s"(${mUpd + bsUpd}, ${mDel + bsDel}, $nIns)")
          require(PortableDelta.snapshot(s, out).version == 1L,
            "the whole 7-clause MERGE must be exactly ONE commit")
          val viaFmt = s.read.format("portable-delta").load(out)
            .orderBy("p_partkey", "p_brand").collect().toSeq
          require(viaFmt == PortableDelta.readTable(s, out)
              .orderBy("p_partkey", "p_brand").collect().toSeq,
            "format route must equal readTable after the full-clause MERGE")
          // SQL OPTIMIZE (round 16, parser extension): collapse the
          // MERGE's scattered append layout — file-count collapse
          // pinned (this MERGE touches EVERY row, so original files
          // die as plain removes; no DVs remain to purge); values
          // unchanged, so the oracle ALSO checks the post-OPTIMIZE
          // state
          val beforeOpt = PortableDelta.snapshot(s, out).files.size
          val opt = s.sql(s"OPTIMIZE '$out'").head()
          require(opt.getInt(2) > 0 && opt.getInt(3) < beforeOpt,
            s"SQL OPTIMIZE must collapse files: $opt over $beforeOpt files")
          require(PortableDelta.snapshot(s, out).files.size == opt.getInt(3),
            "the post-OPTIMIZE file count must match the command's metrics")
        } finally s.sql("DROP TABLE IF EXISTS graft_stac58_t")
        s.read.format("portable-delta").load(out)
          .withColumn("clause_class",
            when(col("p_brand") === "NEW", "ins")
              .when(col("p_brand").endsWith("!"), "bysrc_upd")
              .when(col("p_brand").endsWith("+"), "m_brand")
              .otherwise("keep"))
          .groupBy(col("clause_class"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p_partkey")).as("key_sum"),
            sum(floor(col("p_retailprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("merge_full_ok", lit(true))
          .orderBy(col("clause_class"))
      },
      timed = false),

    // ----- implicit metadata-only aggregates: the optimizer rule -----
    // stac50 pins the EXPLICIT aggregateFromStats API; this pins the
    // IMPLICIT path plain-SQL users hit: a COUNT/MIN/MAX over a bare
    // portable-delta relation is rewritten by OptimizeDeltaMetadataOnlyAgg
    // into a one-row LocalRelation computed from log stats — the plan
    // contains NO data-file scan (asserted in-gate), delta-spark's
    // OptimizeMetadataOnlyQuery analog. Soundness is the fallback
    // contract, also asserted: the same aggregate with a WHERE keeps the
    // scan (stats can't answer it), and with the rule disabled the scan
    // answer is bit-identical to the rewrite's. Nested struct leaves
    // (bbox.xmin, the round-11 stats shape) answer too.
    QuerySpec(
      "stac53_metadata_only_rule",
      Some("""
        WITH b AS (SELECT o_orderkey AS okey,
                          CAST(o_orderkey % 360 - 180 AS DOUBLE) AS xmin
                   FROM orders),
             f AS (SELECT CAST(count(*) AS BIGINT) AS cnt,
                          CAST(min(okey) AS BIGINT) AS min_key,
                          CAST(max(okey) AS BIGINT) AS max_key,
                          min(xmin) AS min_xmin,
                          max(xmin) AS max_xmin
                   FROM b),
             g AS (SELECT CAST(count(*) AS BIGINT) AS flt_cnt,
                          CAST(min(okey) AS BIGINT) AS flt_min_key
                   FROM b WHERE okey % 2 = 0)
        SELECT f.cnt, f.min_key, f.max_key, f.min_xmin, f.max_xmin,
               g.flt_cnt, g.flt_min_key,
               true AS rule_fired, true AS fallback_scan
        FROM f CROSS JOIN g
        ORDER BY cnt"""),
      (s, dir) => {
        import graft.stac.{OptimizeDeltaMetadataOnlyAgg, PortableDelta}
        OptimizeDeltaMetadataOnlyAgg.arm(s)
        val b = Tables.t(s, dir, "orders").select(
          col("o_orderkey").as("okey"),
          struct((col("o_orderkey") % 360 - 180).cast("double").as("xmin"))
            .as("bbox"))
          .repartitionByRange(6, col("okey"))
        val out = java.nio.file.Files.createTempDirectory("stac53").toString + "/tbl"
        // multi-commit + checkpoint: the fold spans checkpoint adds AND
        // the JSON tail, executor-side
        val mid = 3000L
        PortableDelta.write(b.filter(col("okey") < mid), out)
        PortableDelta.checkpoint(s, out)
        PortableDelta.write(b.filter(col("okey") >= mid), out, mode = "append")
        val rel = s.read.format("portable-delta").load(out)
        def scansOf(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.sparkPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        val q1 = rel.agg(count(lit(1)).as("cnt"),
          min(col("okey")).as("min_key"), max(col("okey")).as("max_key"),
          min(col("bbox.xmin")).as("min_xmin"), max(col("bbox.xmin")).as("max_xmin"))
        require(scansOf(q1).isEmpty &&
            q1.queryExecution.optimizedPlan.collect {
              case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
            }.nonEmpty,
          s"metadata-only aggregate must plan WITHOUT a data-file scan:\n" +
            q1.queryExecution.optimizedPlan)
        val m = q1.head()
        // soundness cross-check: the rule disabled → real scan, same bits
        s.conf.set(OptimizeDeltaMetadataOnlyAgg.ConfKey, "false")
        val full = try {
          val f = rel.agg(count(lit(1)).as("cnt"),
            min(col("okey")).as("min_key"), max(col("okey")).as("max_key"),
            min(col("bbox.xmin")).as("min_xmin"), max(col("bbox.xmin")).as("max_xmin"))
          require(scansOf(f).nonEmpty, "kill switch must restore the scan")
          f.head()
        } finally s.conf.unset(OptimizeDeltaMetadataOnlyAgg.ConfKey)
        require(m == full, s"stats rewrite must equal the scan: $m vs $full")
        // fallback contract: a WHERE is beyond stats — the scan stays
        val q2 = rel.filter(col("okey") % 2 === 0)
          .agg(count(lit(1)).as("flt_cnt"), min(col("okey")).as("flt_min_key"))
        require(scansOf(q2).nonEmpty,
          "a filtered aggregate must fall back to the scan")
        val g = q2.head()
        val s2 = s
        import s2.implicits._
        Seq((m.getLong(0), m.getLong(1), m.getLong(2), m.getDouble(3),
            m.getDouble(4), g.getLong(0), g.getLong(1), true, true))
          .toDF("cnt", "min_key", "max_key", "min_xmin", "max_xmin",
            "flt_cnt", "flt_min_key", "rule_fired", "fallback_scan")
          .orderBy(col("cnt"))
      },
      timed = false),

    // ----- Delta OPTIMIZE: compaction + Z-order, the layout doctor -----
    // The two maintenance passes a 100-TB lakehouse table needs: (1)
    // bin-packing compaction — a per-minute streaming sink makes
    // thousands of KB-files/day and scan cost becomes per-file overhead;
    // the rewrite also MATERIALIZES deletion vectors away; (2) OPTIMIZE
    // ZORDER BY — after clustering on the interleaved (o_orderkey,
    // o_custkey) key, per-file stats are tight in BOTH dimensions, so
    // data skipping prunes on either predicate (a plain sort helps only
    // its leading column). Both rewrites commit dataChange=false. The
    // in-gate requires pin what the oracle can't see: file count drops,
    // DVs purged, both dims prune post-zorder (neither pruned before),
    // and the pre-optimize version still time-travels. The final
    // aggregate is read through readTableWhere over the z-ordered
    // layout — wrong pruning or a lost row would fail the hash.
    QuerySpec(
      "stac27_delta_optimize",
      Some("""
        SELECT o_orderstatus,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(o_custkey) AS BIGINT) AS cust_sum,
               true AS opt_ok
        FROM orders
        WHERE o_orderkey % 10 <> 0
          AND o_orderkey < 3000 AND o_custkey < 700
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
          .repartition(12, col("o_orderkey")) // the small-files shape
        val out = java.nio.file.Files.createTempDirectory("stac27").toString + "/tbl"
        PortableDelta.write(orders, out)
        PortableDelta.delete(s, out, col("o_orderkey") % 10 === 0)
        val preSnap = PortableDelta.snapshot(s, out)
        require(preSnap.files.size == 12 && preSnap.files.forall(_.dv.isDefined))
        val compact = PortableDelta.optimizeCompact(s, out)
        require(compact.removedFiles == 12 && compact.addedFiles < 12 &&
          compact.purgedDvRows > 0,
          s"compaction must shrink the file set and purge DVs: $compact")
        require(PortableDelta.snapshot(s, out).files.forall(_.dv.isEmpty),
          "compaction output must be DV-free")
        val zo = PortableDelta.optimizeZOrder(s, out,
          Seq("o_orderkey", "o_custkey"), numFiles = 8)
        val snap = PortableDelta.snapshot(s, out)
        val condK = col("o_orderkey") < 3000L
        val condC = col("o_custkey") < 700L
        val (_, prunedK) = PortableDelta.statsPrune(s, snap, condK)
        val (_, prunedC) = PortableDelta.statsPrune(s, snap, condC)
        require(prunedK > 0 && prunedC > 0,
          s"zorder must enable skipping on BOTH dims: key $prunedK, cust $prunedC " +
            s"of ${snap.files.size}")
        // rewrites are invisible to logical history: pre-optimize version
        // reads the same surviving rows (via old files + their DVs)
        require(PortableDelta.readTable(s, out, preSnap.version).count() ==
          PortableDelta.readTable(s, out).count(),
          "dataChange=false rewrites must not alter any version's rows")
        PortableDelta.readTableWhere(s, out, condK && condC)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_custkey")).as("cust_sum"))
          .withColumn("opt_ok", lit(true))
          .orderBy(col("o_orderstatus"))
      },
      timed = false),

    // ----- Delta MERGE: DV-era upsert, untouched files never rewritten -----
    // The write-path capstone: matched target rows die by POSITION in
    // per-file deletion vectors and their new versions append — a
    // thousand-row upsert into a million-file table touches only the
    // files holding those rows (KB bitmaps) plus one appended file,
    // where copy-on-write MERGE rewrites every touched file wholesale.
    // Source = updates for o_orderkey % 6 = 0 (price bumped by a fixed
    // cents-exact delta, status 'U') + inserts for the % 3 = 2 rows the
    // target never had (status 'I'). In-gate requires pin the exact
    // update/insert counters, that the pre-merge on-disk file set is a
    // SUBSET of the post-merge set (nothing rewritten), and that the
    // pre-merge version still time-travels. The oracle reconstructs the
    // merged state from the source table with pure SQL set logic.
    QuerySpec(
      "stac28_delta_merge",
      Some("""
        WITH merged AS (
          SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 111.0 AS price
          FROM orders WHERE o_orderkey % 6 = 0
          UNION ALL
          SELECT o_orderkey, 'I', o_totalprice
          FROM orders WHERE o_orderkey % 3 = 2
          UNION ALL
          SELECT o_orderkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 3 <> 2 AND o_orderkey % 6 <> 0)
        SELECT o_orderstatus,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS merge_ok
        FROM merged
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val target = orders.filter(col("o_orderkey") % 3 =!= 2)
          .repartition(8, col("o_orderkey"))
        val out = java.nio.file.Files.createTempDirectory("stac28").toString + "/tbl"
        PortableDelta.write(target, out)
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(s.sessionState.newHadoopConf())
        def partsOnDisk = fs.listStatus(new org.apache.hadoop.fs.Path(out))
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.getName).toSet
        val before = partsOnDisk
        val updates = orders.filter(col("o_orderkey") % 6 === 0)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("o_totalprice", col("o_totalprice") + 111.0)
        val inserts = orders.filter(col("o_orderkey") % 3 === 2)
          .withColumn("o_orderstatus", lit("I"))
        val source = updates.unionByName(inserts)
        val st = PortableDelta.merge(s, out, source, Seq("o_orderkey"))
        val nUpd = orders.filter(col("o_orderkey") % 6 === 0).count()
        val nIns = orders.filter(col("o_orderkey") % 3 === 2).count()
        require(st.updatedRows == nUpd && st.insertedRows == nIns &&
          st.deletedRows == 0,
          s"merge counters drifted: $st, expected upd=$nUpd ins=$nIns")
        require(before.subsetOf(partsOnDisk),
          "merge must only APPEND files — pre-merge parts untouched on disk")
        require(PortableDelta.readTable(s, out, st.version - 1).count() ==
          target.count(),
          "pre-merge version must still time-travel to the original rows")
        PortableDelta.readTable(s, out)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("merge_ok", lit(true))
          .orderBy(col("o_orderstatus"))
      },
      timed = false),

    // ----- Hive-partitioned Delta: partition pruning composes with stats -----
    // The layout most external Delta tables actually have: `col=value/`
    // subdirs, partition columns absent from the parquet bytes,
    // partitionValues on every add. Partition pruning is POINT-statistics
    // data skipping (min = max = the partition value), so it composes
    // with per-file min/max: a (status, key-range) predicate first drops
    // whole partitions, then drops range-disjoint files INSIDE the kept
    // partition. A DELETE (DV) in the partitioned layout proves the
    // row-mutation path keys files by RELATIVE path — hive dirs reuse
    // part numbers, so name-keyed bitmaps would tombstone the wrong
    // partition's rows and fail the hash here. In-gate requires pin the
    // partition layout, both pruning stages, and the log-authoritative
    // partition values; the oracle recomputes from the source table.
    QuerySpec(
      "stac29_delta_partitioned",
      Some("""
        SELECT CAST(o_orderkey % 10 AS BIGINT) AS bucket,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS part_ok
        FROM orders
        WHERE o_orderstatus = 'O' AND o_orderkey < 7500
          AND NOT (o_totalprice < 20000)
        GROUP BY bucket
        ORDER BY bucket"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .repartitionByRange(4, col("o_orderkey")) // range files WITHIN partitions
        val out = java.nio.file.Files.createTempDirectory("stac29").toString + "/tbl"
        PortableDelta.write(orders, out, partitionBy = Seq("o_orderstatus"))
        val snap0 = PortableDelta.snapshot(s, out)
        require(snap0.partitionColumns == Seq("o_orderstatus"))
        require(snap0.files.forall(_.path.startsWith("o_orderstatus=")),
          "adds must be partition-relative hive paths")
        // DELETE inside the hive layout (bitmaps keyed by relative path)
        val del = PortableDelta.delete(s, out, col("o_totalprice") < 20000.0)
        require(del.deletedRows > 0)
        val snap = PortableDelta.snapshot(s, out)
        val byStatus = col("o_orderstatus") === "O"
        val byBoth = byStatus && col("o_orderkey") < 7500L
        val (keptP, prunedP) = PortableDelta.statsPrune(s, snap, byStatus)
        require(prunedP > 0 &&
          keptP.forall(_.partitionValues("o_orderstatus") == "O"),
          s"partition pruning must keep only the O partition: pruned $prunedP")
        val (keptB, _) = PortableDelta.statsPrune(s, snap, byBoth)
        require(keptB.size < keptP.size,
          s"stats pruning must bite INSIDE the kept partition: " +
            s"${keptB.size} vs ${keptP.size}")
        PortableDelta.readTableWhere(s, out, byBoth)
          .groupBy((col("o_orderkey") % 10).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("part_ok", lit(true))
          .orderBy(col("bucket"))
      },
      timed = false),

    // ----- Delta Change Data Feed: row-level changes from the log -----
    // The incremental-consumer API: readChanges(from, to) reconstructs
    // exactly which rows appeared/died per version from file actions
    // alone — appends are inserts, DV growth is position-exact deletes,
    // MERGE shows its delete+insert pair. At 100 TB this turns a
    // downstream sync from "re-read the table and diff" into "read the
    // changed files of the changed commits" — work bounded by the delta,
    // not the table. Four commits (create / append / DELETE / MERGE);
    // the oracle reconstructs every version's change set with SQL set
    // logic over the source table; a wrong DV diff (e.g. re-reporting
    // v2's deletes at v3) would fail the hash.
    QuerySpec(
      "stac30_delta_cdf",
      Some("""
        WITH dead AS (SELECT o_orderkey AS k FROM orders
                      WHERE o_orderkey % 3 IN (0, 1) AND o_totalprice < 30000),
             src AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 4 = 0),
             matched AS (SELECT k FROM src
                         WHERE k % 3 IN (0, 1)
                           AND k NOT IN (SELECT k FROM dead)),
             ch AS (
               SELECT 0 AS version, 'insert' AS change, o_orderkey AS k
               FROM orders WHERE o_orderkey % 3 = 0
               UNION ALL
               SELECT 1, 'insert', o_orderkey FROM orders WHERE o_orderkey % 3 = 1
               UNION ALL
               SELECT 2, 'delete', k FROM dead
               UNION ALL
               SELECT 3, 'delete', k FROM matched
               UNION ALL
               SELECT 3, 'insert', k FROM src)
        SELECT CAST(version AS BIGINT) AS version, change,
               count(*) AS n_rows,
               CAST(sum(k) AS BIGINT) AS key_sum,
               true AS cdf_ok
        FROM ch GROUP BY version, change
        ORDER BY version, change"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val out = java.nio.file.Files.createTempDirectory("stac30").toString + "/tbl"
        PortableDelta.write(orders.filter(col("o_orderkey") % 3 === 0)
          .repartition(4), out)                                        // v0
        PortableDelta.write(orders.filter(col("o_orderkey") % 3 === 1)
          .repartition(4), out, mode = "append")                       // v1
        PortableDelta.delete(s, out, col("o_totalprice") < 30000.0)    // v2
        val source = orders.filter(col("o_orderkey") % 4 === 0)
          .withColumn("o_orderstatus", lit("M"))
        val st = PortableDelta.merge(s, out, source, Seq("o_orderkey")) // v3
        require(st.version == 3 && st.updatedRows > 0 && st.insertedRows > 0)
        PortableDelta.readChanges(s, out, 0L, 3L)
          .groupBy(col("_commit_version").as("version"),
            col("_change_type").as("change"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"))
          .withColumn("cdf_ok", lit(true))
          .orderBy(col("version"), col("change"))
      },
      timed = false),

    // ----- Delta schema evolution: mergeSchema append, nulls backfill -----
    // The long-lived-table reality: the pipeline adds a column mid-life.
    // A mergeSchema append re-states metaData with the evolved schema
    // (new columns nullable, type changes REJECTED — old bytes can't be
    // reinterpreted); old files read the new column as null with zero
    // rewrite — at 100 TB, adding a column to a petabyte table is one
    // metaData action, not a table copy. In-gate requires pin the
    // evolved field list, that time travel to v0 still reads the
    // ORIGINAL two-column schema, and that exactly the v0 rows carry
    // nulls; the oracle recomputes the merged view from the source.
    QuerySpec(
      "stac31_delta_schema_evolution",
      Some("""
        SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
                    ELSE 'NONE' END AS status,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS evo_ok
        FROM orders
        GROUP BY status ORDER BY status"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
        val out = java.nio.file.Files.createTempDirectory("stac31").toString + "/tbl"
        PortableDelta.write(orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartition(4), out)                                        // v0: 2 cols
        PortableDelta.write(orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .repartition(4), out, mode = "append", mergeSchema = true)   // v1: +status
        val snap = PortableDelta.snapshot(s, out)
        require(snap.schema.fieldNames.toSeq ==
          Seq("o_orderkey", "o_totalprice", "o_orderstatus"),
          s"schema must evolve in place, got ${snap.schema.fieldNames.toSeq}")
        require(PortableDelta.snapshotAt(s, out, 0L).schema.fieldNames.toSeq ==
          Seq("o_orderkey", "o_totalprice"),
          "time travel to v0 must read the ORIGINAL schema")
        val tbl = PortableDelta.readTable(s, out)
        require(tbl.filter(col("o_orderstatus").isNull).count() ==
          orders.filter(col("o_orderkey") % 2 === 0).count(),
          "exactly the pre-evolution rows read the new column as null")
        tbl
          .groupBy(coalesce(col("o_orderstatus"), lit("NONE")).as("status"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("evo_ok", lit(true))
          .orderBy(col("status"))
      },
      timed = false),

    // ----- Delta UPDATE via deletion vectors: the third DML verb -----
    // UPDATE without rewriting untouched data: matched rows die by
    // position in per-file DVs, their new versions (SET applied to the
    // OLD row) append as fresh files — a predicate touching 0.1% of rows
    // in every file costs O(matched) append + KB bitmaps, never a
    // rewrite (copy-on-write UPDATE rewrites every touched file whole).
    // Two STACKED updates: the second's predicate reads the FIRST's
    // output values, so it must see post-u1 state — and it lands DVs on
    // the files u1 itself appended. In-gate requires pin what the oracle
    // can't see: the on-disk part-file set only ever grows, the protocol
    // carries deletionVectors, and v0 time travel still reads the
    // pre-update cents total. The oracle replays both updates as CASE
    // derivations; a row updated twice, missed, or double-appended fails
    // the hash.
    QuerySpec(
      "stac32_delta_update",
      Some("""
        WITH base AS (SELECT o_orderkey,
                             o_orderstatus AS st,
                             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                      FROM orders),
             u1 AS (SELECT o_orderkey,
                           CASE WHEN st = 'O' THEN 'U' ELSE st END AS st,
                           CASE WHEN st = 'O' THEN cents + 500 ELSE cents END AS cents
                    FROM base),
             u2 AS (SELECT o_orderkey, st,
                           CASE WHEN cents < 10000000 THEN cents * 2 ELSE cents END AS cents
                    FROM u1)
        SELECT st AS status, count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(cents) AS BIGINT) AS cents_sum,
               true AS upd_ok
        FROM u2 GROUP BY st ORDER BY st"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val base = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus").as("st"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
          .repartition(6, col("o_orderkey")) // hash-mixed: every file holds every stratum
        val out = java.nio.file.Files.createTempDirectory("stac32").toString + "/tbl"
        PortableDelta.write(base, out)                                  // v0
        val conf = s.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
        def partsOnDisk = fs.listStatus(new org.apache.hadoop.fs.Path(out))
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.getName).toSet
        val before = partsOnDisk
        val preCents = PortableDelta.readTable(s, out)
          .agg(sum(col("cents"))).collect()(0).getLong(0)
        val u1 = PortableDelta.update(s, out, col("st") === "O",
          Map("st" -> lit("U"), "cents" -> (col("cents") + 500L)))     // v1
        val u2 = PortableDelta.update(s, out, col("cents") < 10000000L,
          Map("cents" -> (col("cents") * 2L)))                          // v2
        require(u1.updatedRows > 0 && u2.updatedRows > 0,
          "gate needs both updates to bite")
        require(before.subsetOf(partsOnDisk),
          "UPDATE must never rewrite existing data files — the DV contract")
        val snap = PortableDelta.snapshot(s, out)
        require(snap.minReaderVersion == 3 &&
          snap.readerFeatures == Seq("deletionVectors"),
          s"protocol must carry deletionVectors, got ${snap.readerFeatures}")
        require(PortableDelta.readTable(s, out, 0L)
          .agg(sum(col("cents"))).collect()(0).getLong(0) == preCents,
          "versionAsOf 0 must read the pre-update totals")
        PortableDelta.readTable(s, out)
          .groupBy(col("st").as("status"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("cents")).as("cents_sum"))
          .withColumn("upd_ok", lit(true))
          .orderBy(col("status"))
      },
      timed = false),

    // ----- Delta RESTORE: roll back to an earlier version, append-only -----
    // The operational undo: after an append, a DELETE (DVs), and an
    // UPDATE mangle the table, RESTORE TO VERSION 0 makes the original
    // state current again as ONE new commit of file-action diffs — no
    // data file is copied, written, or deleted (pure log surgery, which
    // is why it is instant at 100 TB), the botched versions stay
    // readable (append-only audit), and the delete's deletion vectors
    // roll back with the data. In-gate requires pin exactly those
    // invariants plus history carrying the RESTORE op; the final
    // value-checked read must equal the ORIGINAL table — the oracle is
    // the plain source aggregate, so one leaked tombstone, surviving
    // DV, or lost row fails the hash.
    QuerySpec(
      "stac33_delta_restore",
      Some("""
        SELECT o_orderstatus AS status, count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS restore_ok
        FROM orders
        GROUP BY o_orderstatus ORDER BY status"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val out = java.nio.file.Files.createTempDirectory("stac33").toString + "/tbl"
        PortableDelta.write(orders.repartition(4), out)                 // v0
        val maxKey = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
        PortableDelta.write(
          orders.withColumn("o_orderkey", col("o_orderkey") + maxKey),
          out, mode = "append")                                         // v1
        PortableDelta.delete(s, out, col("o_totalprice") < 50000.0)     // v2
        PortableDelta.update(s, out, col("o_orderstatus") === "F",
          Map("o_totalprice" -> (col("o_totalprice") + 1.0)))           // v3
        val conf = s.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
        def filesOnDisk = {
          val it = fs.listFiles(new org.apache.hadoop.fs.Path(out), true)
          val b = Set.newBuilder[String]
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile && !st.getPath.toString.contains("_delta_log"))
              b += st.getPath.getName
          }
          b.result()
        }
        val disk = filesOnDisk
        val rs = PortableDelta.restore(s, out, 0L)                      // v4
        require(rs.version == 4 && rs.restoredVersion == 0 &&
          rs.addedFiles > 0 && rs.removedFiles > 0, s"unexpected $rs")
        require(filesOnDisk == disk,
          "RESTORE is log surgery: no data file may be written or deleted")
        val snap = PortableDelta.snapshot(s, out)
        require(snap.files.forall(_.dv.isEmpty),
          "the delete's deletion vectors must roll back with the data")
        require(PortableDelta.readTable(s, out, 3L).count() > 0,
          "pre-restore versions stay readable — the log is append-only")
        require(PortableDelta.history(conf, out)
          .exists(_._2.startsWith("RESTORE")),
          "history must record the RESTORE commit")
        PortableDelta.readTable(s, out)
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("restore_ok", lit(true))
          .orderBy(col("status"))
      },
      timed = false),

    // ----- Delta CHECK constraints: write-side data quality gates -----
    // The spec's `delta.constraints.*` table properties, enforced on
    // EVERY write path (append/UPDATE/MERGE) in one aggregate pass
    // before any byte lands — at 100 TB the constraint scan rides the
    // batch (O(batch)), never the table, and a violation is an error
    // naming the constraint, not a corrupted table. In-gate requires
    // pin the enforcement the oracle can't see: adding a constraint
    // existing rows violate is refused, a violating append / UPDATE /
    // MERGE each rejects BY NAME with nothing committed (version
    // pinned), the protocol records the CHECK-constraints writer
    // level, and the constraint survives checkpoint + log truncation.
    // The final table = base + one conforming append, value-checked.
    QuerySpec(
      "stac34_delta_constraints",
      Some("""
        WITH base AS (SELECT o_orderkey, o_orderstatus,
                             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                      FROM orders),
             extra AS (SELECT o_orderkey + (SELECT max(o_orderkey) FROM orders),
                              o_orderstatus, cents
                       FROM base WHERE o_orderkey % 7 = 0)
        SELECT o_orderstatus AS status, count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(cents) AS BIGINT) AS cents_sum,
               true AS constraint_ok
        FROM (SELECT * FROM base UNION ALL SELECT * FROM extra)
        GROUP BY o_orderstatus ORDER BY status"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val base = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        val out = java.nio.file.Files.createTempDirectory("stac34").toString + "/tbl"
        PortableDelta.write(base.repartition(4), out)                   // v0
        // violating ops must throw, naming the constraint; a silent
        // success is itself a gate failure (messages searched through
        // the cause chain — the SQL route may layer command execution)
        def rejected(name: String)(op: => Unit): Unit = {
          val threw =
            try { op; false }
            catch { case e: Exception =>
              def msgs(t: Throwable): Seq[String] =
                if (t == null) Nil
                else Option(t.getMessage).toSeq ++ msgs(t.getCause)
              require(msgs(e).exists(_.contains(name)),
                s"$name: ${msgs(e).mkString(" | ")}")
              true }
          require(threw, s"$name: violating operation must be rejected")
        }
        // a constraint existing rows violate is refused up front —
        // driven through SQL (round 17: ALTER TABLE statements route to
        // the DeltaAlter verbs, refusals preserved)
        rejected("cents_huge") {
          s.sql(s"ALTER TABLE '$out' ADD CONSTRAINT cents_huge " +
            "CHECK (cents > 1000000000)")
          ()
        }
        s.sql(s"ALTER TABLE '$out' ADD CONSTRAINT cents_nonneg " +
          "CHECK (cents >= 0)")                                          // v1
        PortableDelta.addCheckConstraint(s, out, "status_known",
          "o_orderstatus IN ('O', 'F', 'P')")   // v2 — Scala route parity
        require(PortableDelta.snapshot(s, out).minWriterVersion >= 3,
          "CHECK constraints demand the writer-3 protocol level")
        // violating append / UPDATE / MERGE all reject BY NAME, atomically
        rejected("cents_nonneg") {
          PortableDelta.write(base.limit(5).withColumn("cents", lit(-1L)),
            out, mode = "append")
        }
        rejected("cents_nonneg") {
          PortableDelta.update(s, out, col("o_orderkey") % 100 === 0,
            Map("cents" -> (col("cents") - lit(100000000000L))))
        }
        rejected("status_known") {
          PortableDelta.merge(s, out,
            base.limit(3).withColumn("o_orderstatus", lit("Z")),
            Seq("o_orderkey"))
        }
        require(PortableDelta.snapshot(s, out).version == 2,
          "rejected writes must commit NOTHING")
        // constraints survive checkpoint + truncation; conforming append lands
        PortableDelta.checkpoint(s, out)
        PortableDelta.cleanupLog(s.sessionState.newHadoopConf(), out)
        rejected("cents_nonneg") {
          PortableDelta.write(base.limit(2).withColumn("cents", lit(-7L)),
            out, mode = "append")
        }
        val maxKey = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
        PortableDelta.write(
          base.filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + maxKey),
          out, mode = "append")                                          // v3
        PortableDelta.readTable(s, out)
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("cents")).as("cents_sum"))
          .withColumn("constraint_ok", lit(true))
          .orderBy(col("status"))
      },
      timed = false),

    // ----- Delta shallow CLONE: zero-copy snapshot via absolute adds -----
    // The dev/test-on-production pattern at 100 TB: CLONE writes a new
    // log whose v0 references the SOURCE's data files by absolute path
    // (the spec allows absolute add URIs) — zero data bytes move, the
    // clone is immediately readable and independently writable, and
    // nothing ever writes into the source. In-gate requires pin the
    // zero-copy contract (no parquet under the clone root at clone
    // time; the source's disk + state byte-unchanged after the clone is
    // mutated) and that the clone's own DELETE (a DV over an
    // absolute-path file) + append compose. The final clone state is
    // value-checked: the oracle replays source filter → clone delete →
    // clone append, so a DV keyed to the wrong file or a leaked source
    // mutation fails the hash.
    QuerySpec(
      "stac35_delta_clone",
      Some("""
        WITH src AS (SELECT * FROM (
                       SELECT o_orderkey, o_orderstatus,
                              CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                       FROM orders)
                     WHERE cents >= 2000000),
             kept AS (SELECT * FROM src WHERE o_orderstatus <> 'F'),
             extra AS (SELECT o_orderkey + (SELECT max(o_orderkey) FROM orders),
                              'X' AS o_orderstatus, cents
                       FROM src WHERE o_orderkey % 10 = 0)
        SELECT o_orderstatus AS status, count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(cents) AS BIGINT) AS cents_sum,
               true AS clone_ok
        FROM (SELECT * FROM kept UNION ALL SELECT * FROM extra)
        GROUP BY o_orderstatus ORDER BY status"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        val root = java.nio.file.Files.createTempDirectory("stac35").toString
        val src = root + "/src"
        val dst = root + "/dst"
        PortableDelta.write(orders.repartition(4), src)                  // src v0
        PortableDelta.delete(s, src,
          col("cents") < 2000000L)                                       // src v1 (DVs)
        val srcState = PortableDelta.readTable(s, src)
        val srcRows = srcState.count()
        val srcSum = srcState.agg(sum(col("cents"))).collect()(0).getLong(0)
        val conf = s.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
        def dataFiles(p: String): Set[String] = {
          val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
          val b = Set.newBuilder[String]
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile && !st.getPath.toString.contains("_delta_log"))
              b += st.getPath.toString
          }
          b.result()
        }
        val srcDisk = dataFiles(src)
        PortableDelta.cloneShallow(s, src, dst)                          // dst v0
        require(dataFiles(dst).isEmpty,
          "shallow clone must copy ZERO data bytes into the clone root")
        // mutate the CLONE: delete + append; the source must not move
        PortableDelta.delete(s, dst, col("o_orderstatus") === "F")       // dst v1
        val maxKey = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
        PortableDelta.write(
          orders.filter(col("cents") >= 2000000L &&
              col("o_orderkey") % 10 === 0)
            .select((col("o_orderkey") + maxKey).as("o_orderkey"),
              lit("X").as("o_orderstatus"), col("cents")),
          dst, mode = "append")                                          // dst v2
        require(dataFiles(src) == srcDisk,
          "clone mutations must never touch the source's files")
        val after = PortableDelta.readTable(s, src)
        require(after.count() == srcRows &&
          after.agg(sum(col("cents"))).collect()(0).getLong(0) == srcSum,
          "source state must be unaffected by clone mutations")
        PortableDelta.readTable(s, dst)
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("cents")).as("cents_sum"))
          .withColumn("clone_ok", lit(true))
          .orderBy(col("status"))
      },
      timed = false),

    // ----- CQL2 TEXT encoding: the API's other wire format -----
    // OGC 21-065 defines two encodings of ONE language; STAC API GET
    // requests default to cql2-text. Cql2Text parses text to the same
    // AST the JSON path consumes, so both share one translator (and
    // one fuzz surface: Cql2TextSpec round-trips 500 random ASTs
    // text→parse→tree-identical). This gate runs a multi-feature TEXT
    // filter — arithmetic precedence, IN, LIKE, NOT BETWEEN, and a
    // temporal interval — as a native pushable predicate; the in-gate
    // require pins text ≡ json on the same rows (encoding drift fails
    // before the oracle ever sees it), and the oracle replays the
    // predicate in SQL.
    QuerySpec(
      "stac36_cql2_text",
      Some("""
        WITH t AS (SELECT concat('o', o_orderkey) AS id,
                          CAST(o_orderkey % 7 AS BIGINT) AS bucket,
                          CAST(o_orderkey % 100 AS DOUBLE) / 4 AS cloud,
                          o_orderstatus AS status,
                          o_orderdate AS odate
                   FROM orders)
        SELECT id, bucket, cloud FROM t
        WHERE (cloud * 2.0 + 1.5 < 40.0 OR status IN ('F', 'P'))
          AND id LIKE 'o1%'
          AND NOT (bucket BETWEEN 5 AND 6)
          AND odate >= TIMESTAMP '1995-01-01 00:00:00'
          AND odate <= TIMESTAMP '1996-12-31 00:00:00'
        ORDER BY id"""),
      (s, dir) => {
        val text =
          "(cloud * 2.0 + 1.5 < 40.0 OR status IN ('F', 'P')) " +
            "AND id LIKE 'o1%' AND NOT (bucket BETWEEN 5 AND 6) " +
            "AND T_INTERSECTS(odate, INTERVAL('1995-01-01T00:00:00', '1996-12-31T00:00:00'))"
        val json =
          """{"op":"and","args":[
            |  {"op":"or","args":[
            |    {"op":"<","args":[
            |      {"op":"+","args":[{"op":"*","args":[{"property":"cloud"},2.0]},1.5]},
            |      40.0]},
            |    {"op":"in","args":[{"property":"status"},["F","P"]]}]},
            |  {"op":"like","args":[{"property":"id"},"o1%"]},
            |  {"op":"not","args":[{"op":"between","args":[{"property":"bucket"},5,6]}]},
            |  {"op":"t_intersects","args":[{"property":"odate"},
            |    {"interval":["1995-01-01T00:00:00","1996-12-31T00:00:00"]}]}
            |]}""".stripMargin
        val t = Tables.t(s, dir, "orders")
          .select(
            concat(lit("o"), col("o_orderkey")).as("id"),
            (col("o_orderkey") % 7).cast("long").as("bucket"),
            ((col("o_orderkey") % 100).cast("double") / 4).as("cloud"),
            col("o_orderstatus").as("status"),
            col("o_orderdate").as("odate"))
          .persist()
        val byText = t.filter(graft.stac.Cql2.filterText(text))
        val byJson = t.filter(graft.stac.Cql2.filter(json))
        require(byText.exceptAll(byJson).isEmpty &&
          byJson.exceptAll(byText).isEmpty,
          "cql2-text and cql2-json must select exactly the same rows")
        val out = byText.select(col("id"), col("bucket"), col("cloud"))
          .orderBy(col("id"))
        out.count() // materialize before releasing the shared frame
        t.unpersist()
        out
      },
      timed = false),

    // ----- Delta V2 CHECKPOINT: the modern checkpoint layout -----
    // Table feature `v2Checkpoint`: file actions shard into sidecar
    // parquet files under _delta_log/_sidecars/ and the UUID-named
    // top-level file holds only non-file actions + checkpointMetadata +
    // sidecar pointers. At 100 TB this is the layout that keeps
    // checkpoint WRITE executor-parallel and checkpoint READ a
    // DataFrame scan over sidecars (the classic multi-part layout's
    // scale story, standardized). The gate: three appends, checkpointV2
    // (auto-upgrades the protocol with the feature), TRUNCATE the JSON
    // log — so the checkpointed stage's values can only come from the
    // v2 layout — then a tail append on top. In-gate requires pin the
    // physical shape (UUID top-level with ZERO add rows, ≥2 sidecars,
    // feature present) and that timestampAsOf resolves to the same
    // state as versionAsOf at the checkpoint. Stage 0 = as of the
    // checkpointed version (v2-checkpoint replay), stage 1 = current
    // (checkpoint + JSON tail). The oracle recomputes both memberships
    // from the commit rules.
    QuerySpec(
      "stac37_delta_v2_checkpoint",
      Some("""
        WITH v AS (SELECT 0 AS stage, o_orderkey, o_totalprice
                     FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
                   UNION ALL
                   SELECT 1, o_orderkey, o_totalprice FROM orders)
        SELECT CAST(stage AS BIGINT) AS stage,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS v2_ok
        FROM v GROUP BY stage ORDER BY stage"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        val out = java.nio.file.Files.createTempDirectory("stac37").toString + "/tbl"
        def slice(r: Int) = orders.filter(col("o_orderkey") % 4 === r).repartition(3)
        // born with in-commit timestamps: every commit below carries a
        // monotonic ICT, and timestampAsOf resolves over THOSE
        PortableDelta.write(slice(0), out,
          properties = Map(PortableDelta.IctProp -> "true"))     // v0
        PortableDelta.write(slice(1), out, mode = "append")      // v1
        PortableDelta.write(slice(2), out, mode = "append")      // v2
        val cv = PortableDelta.checkpointV2(s, out, addsPerSidecar = 4)
        require(cv == 3, s"protocol upgrade + checkpoint must land at v3, got $cv")
        val conf = s.sessionState.newHadoopConf()
        PortableDelta.cleanupLog(conf, out)
        // physical shape: one UUID top-level file with NO add actions,
        // sharded sidecars holding all of them
        val log = new java.io.File(s"$out/_delta_log")
        val top = log.listFiles().map(_.getName)
          .filter(_.matches("\\d{20}\\.checkpoint\\.[0-9a-f-]{36}\\.parquet"))
        require(top.length == 1, s"expected one UUID checkpoint, got ${top.toSeq}")
        val sidecars = new java.io.File(log, "_sidecars").listFiles()
          .count(_.getName.endsWith(".parquet"))
        require(sidecars >= 2, s"expected sharded sidecars, got $sidecars")
        require(s.read.parquet(s"$out/_delta_log/${top.head}")
          .filter(col("add").isNotNull).count() == 0,
          "v2 top-level file must carry no add actions")
        val snap = PortableDelta.snapshot(s, out)
        require(snap.readerFeatures.contains("v2Checkpoint"),
          s"protocol must carry v2Checkpoint, got ${snap.readerFeatures}")
        val ckptState = PortableDelta.readTable(s, out, 3L).persist()
        val ckptRows = ckptState.count() // materialize off the v2 layout
        // truncated versions error by NAME, never replay wrong state
        val gone = try { PortableDelta.snapshotAt(s, out, 1L); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("not reconstructable") }
        require(gone, "truncated version must fail with the reconstructability error")
        Thread.sleep(10) // distinct wall-clock ms for the tail commit
        PortableDelta.write(slice(3), out, mode = "append")      // v4 (tail)
        val hist = PortableDelta.history(conf, out).sortBy(_._1)
        require(hist.map(_._1) == (0L to 4L),
          s"history must survive truncation via the sidecar, got ${hist.map(_._1)}")
        val tsV4 = hist.last._3
        require(hist.map(_._3) == hist.map(_._3).sorted &&
          hist.map(_._3).distinct.size == hist.size,
          "in-commit timestamps must be strictly monotonic across versions")
        // timestampAsOf just before the tail commit ≡ versionAsOf 3
        val atTs = PortableDelta.readTableAtTimestamp(s, out, tsV4 - 1)
        require(atTs.count() == ckptRows,
          "timestampAsOf before the tail commit must equal the checkpointed state")
        // second v2 checkpoint supersedes the first. GC order matters:
        // while JSON v4 survives, ckpt@3 still seeds version 3 (the
        // reconstructability guard retains it); after cleanupLog
        // truncates the tail, the superseded UUID file + its sidecars
        // are genuinely garbage and reclaim
        PortableDelta.checkpointV2(s, out, addsPerSidecar = 4)   // at v4
        require(PortableDelta.cleanupCheckpoints(s, out) == 0,
          "ckpt@3 must be retained while it still seeds version 3")
        PortableDelta.cleanupLog(conf, out)
        require(PortableDelta.cleanupCheckpoints(s, out) >= 2,
          "superseded checkpoint artifacts must be reclaimed")
        require(new java.io.File(log, "_sidecars").listFiles()
          .exists(_.getName.endsWith(".parquet")),
          "the current checkpoint's sidecars must survive GC")
        def agged(stage: Long, frame: org.apache.spark.sql.DataFrame) = frame
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .select(lit(stage).as("stage"), col("n_rows"), col("key_sum"),
            col("cents_sum"), lit(true).as("v2_ok"))
        agged(0L, ckptState).unionByName(agged(1L, PortableDelta.readTable(s, out)))
          .orderBy(col("stage"))
      },
      timed = false),

    // ----- Delta column-mapping WRITE: RENAME/DROP COLUMN as metadata -----
    // The schema-surgery verbs external mapped tables are maintained
    // with (delta-spark's ALTER TABLE RENAME/DROP COLUMN): both are
    // METADATA-ONLY commits — no parquet byte moves at any table size,
    // because the field keeps its delta.columnMapping.physicalName and
    // every existing file (and cdc file) keeps resolving. The gate
    // renames, appends under the new logical name (parquet staged with
    // PHYSICAL names — asserted on the raw bytes), drops a column,
    // updates through the renamed schema, survives checkpoint+cleanup,
    // and value-checks the final logical state against DuckDB over the
    // source rows.
    QuerySpec(
      "stac38_delta_column_mapping",
      Some("""
        WITH base AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 3 IN (0, 1)
        )
        SELECT CAST(o_orderkey % 5 AS BIGINT) AS bucket,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS mapped_ok
        FROM base GROUP BY 1 ORDER BY bucket"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
        val out = java.nio.file.Files.createTempDirectory("stac38").toString + "/tbl"
        val conf = s.sessionState.newHadoopConf()
        def slice(r: Int) = orders.filter(col("o_orderkey") % 3 === r)
          .select(col("o_orderkey").as("okey"),
            col("o_orderstatus").as("status"),
            col("o_totalprice").as("total"))
          .repartition(4)
        PortableDelta.write(slice(0), out)                          // v0
        val bytesBefore = new java.io.File(out).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.length).toMap
        PortableDelta.renameColumn(s, out, "total", "price")        // v1
        require(new java.io.File(out).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.length).toMap == bytesBefore,
          "RENAME COLUMN must move zero parquet bytes")
        PortableDelta.write(slice(1).withColumnRenamed("total", "price"),
          out, mode = "append")                                     // v2
        val newFiles = new java.io.File(out).listFiles()
          .filter(f => f.getName.endsWith(".parquet") &&
            !bytesBefore.contains(f.getName))
        require(newFiles.nonEmpty, "append must stage new files")
        val rawCols = s.read.parquet(newFiles.head.toString).columns.toSet
        require(rawCols == Set("okey", "status", "total"),
          s"post-rename appends must carry PHYSICAL names, got $rawCols")
        PortableDelta.dropColumn(s, out, "status")                  // v3
        val us = PortableDelta.update(s, out, col("okey") % 7 === 0,
          Map("price" -> (col("price") * 2)))                       // v4
        require(us.updatedRows > 0, "gate needs the update to bite")
        val snap = PortableDelta.snapshot(s, out)
        require(snap.configuration.get(PortableDelta.ColumnMappingModeProp)
          .contains("name"), "rename must enable column mapping")
        require(snap.schema.fieldNames.toSeq == Seq("okey", "price"),
          s"logical schema after surgery, got ${snap.schema.fieldNames.toSeq}")
        require(snap.readerFeatures.contains("columnMapping") &&
          snap.writerFeatures.contains("columnMapping"),
          "columnMapping must be declared on both protocol sides")
        // the mapped state survives checkpoint + log truncation
        PortableDelta.checkpoint(s, out)
        PortableDelta.cleanupLog(conf, out)
        PortableDelta.readTable(s, out)
          .groupBy((col("okey") % 5).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("okey")).as("key_sum"),
            sum(floor(col("price") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("mapped_ok", lit(true))
          .orderBy(col("bucket"))
      },
      timed = false),

    // ----- K6 partition sync: changed partitions only, reference layout -----
    // The incremental pgstac→parquet sync driver (pgstac_reader.py:
    // 340-383): list partitions with their last_updated watermarks,
    // export each CHANGED one as a single
    // <collection>/items_<start>_<end>.parquet file, and skip everything
    // behind the watermark without reading a row. The gate runs two
    // passes over a two-partition stand-in (one stale, one fresh): pass
    // 1 exports both, pass 2 re-exports ONLY the fresh partition — the
    // stale file's bytes are untouched (mtime-pinned no-reprocess
    // contract). Value check: the synced layout read back equals DuckDB
    // over the source rows.
    QuerySpec(
      "stac39_pgstac_sync",
      Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS sync_ok
        FROM orders GROUP BY 1 ORDER BY yr"""),
      (s, dir) => {
        import graft.stac.PgstacReader
        import graft.stac.PgstacReader.{PgPartition, SyncStats}
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        val out = java.nio.file.Files.createTempDirectory("stac39").toString
        val parts = Seq(
          PgPartition("items", Some("1995-01-01T00:00:00Z"),
            Some("1998-01-01T00:00:00Z"), "2024-01-05T00:00:00Z"),
          PgPartition("items", Some("1998-01-01T00:00:00Z"),
            Some("2002-01-01T00:00:00Z"), "2024-02-05T00:00:00Z"))
        def readPartition(p: PgPartition) = orders
          .where(col("o_orderdate") >= to_date(lit(p.start.get.take(10))) &&
            col("o_orderdate") < to_date(lit(p.end.get.take(10))))
        // pass 1: full sync — both partitions land under the
        // reference's <collection>/items_<start>_<end>.parquet names
        val st1: SyncStats =
          PgstacReader.syncPartitions(s, parts, None, out, readPartition)
        require(st1.exported.sorted == Seq(
          "items/items_19950101_19980101.parquet",
          "items/items_19980101_20020101.parquet") && st1.skipped == 0,
          s"full sync layout, got $st1")
        require(st1.newWatermark.contains("2024-02-05T00:00:00Z"), s"$st1")
        val staleFile = new java.io.File(out, st1.exported.sorted.head)
        val mtime1 = staleFile.lastModified
        Thread.sleep(20) // distinct mtimes if the file WERE rewritten
        // pass 2: incremental from the recorded watermark — only the
        // fresh partition re-exports; the stale file's bytes untouched
        val st2 = PgstacReader.syncPartitions(s, parts,
          Some("2024-01-31T00:00:00Z"), out, readPartition)
        require(st2.exported == Seq("items/items_19980101_20020101.parquet") &&
          st2.skipped == 1, s"incremental sync must skip the stale partition: $st2")
        require(staleFile.lastModified == mtime1,
          "no-reprocess: the stale partition file must not be rewritten")
        s.read.parquet(s"$out/items")
          .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("sync_ok", lit(true))
          .orderBy(col("yr"))
      },
      timed = false),

    // ----- Delta row tracking: CDF update pairs WITHOUT cdc files -----
    // delta.enableRowTracking gives every row a stable ID (baseRowId +
    // row index, materialized through rewrites), so readChanges can
    // reconstruct an UPDATE as exact update_preimage/update_postimage
    // PAIRS from the file actions alone — no change-data files written
    // or read (the in-gate requires pin that _change_data does not even
    // exist). The value check aggregates the reconstructed feed itself
    // against DuckDB recomputing both images from the source rows.
    QuerySpec(
      "stac40_delta_row_tracking",
      Some("""
        WITH m AS (SELECT o_orderkey, o_totalprice FROM orders
                   WHERE o_orderkey % 9 = 0)
        SELECT 'update_postimage' AS change, count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 2 * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS cents_sum,
               true AS paired_ok
        FROM m
        UNION ALL
        SELECT 'update_preimage', count(*),
               CAST(sum(o_orderkey) AS BIGINT),
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT),
               true
        FROM m
        ORDER BY change"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey").as("okey"), col("o_totalprice").as("price"))
        val out = java.nio.file.Files.createTempDirectory("stac40").toString + "/tbl"
        PortableDelta.write(orders.repartition(6), out)            // v0
        PortableDelta.enableRowTracking(s, out)                    // v1
        val st = PortableDelta.update(s, out, col("okey") % 9L === 0L,
          Map("price" -> (col("price") * 2)))                      // v2
        require(st.updatedRows > 0, "gate needs the update to bite")
        require(!new java.io.File(s"$out/_change_data").exists(),
          "row-tracking pairing must come from file actions, not cdc files")
        val snap = PortableDelta.snapshot(s, out)
        require(snap.writerFeatures.contains("rowTracking") &&
          snap.files.forall(_.baseRowId.isDefined),
          "every add must carry a baseRowId under row tracking")
        val feed = PortableDelta.readChanges(s, out, 2L, 2L)
        require(feed.select(col("_change_type")).distinct().collect()
          .map(_.getString(0)).toSet ==
          Set("update_preimage", "update_postimage"),
          "a pure UPDATE must pair completely — no stray delete/insert")
        feed.groupBy(col("_change_type").as("change"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("okey")).as("key_sum"),
            sum(floor(col("price") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("paired_ok", lit(true))
          .orderBy(col("change"))
      },
      timed = false),

    // ----- Delta generated columns: the expression owns the column -----
    // delta.generationExpression field metadata across the write surface:
    // the table is created WITH the generated cents column, an append
    // arrives WITHOUT it (the engine computes it), an UPDATE changes its
    // source (the engine recomputes it), and a batch carrying WRONG
    // values is refused by name with nothing committed (version pinned
    // in-gate). The value check sums the STORED generated column — a
    // computation or recomputation bug lands wrong bytes and fails the
    // hash against DuckDB deriving the same expression from the source.
    QuerySpec(
      "stac41_delta_generated",
      Some("""
        WITH base AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice * 2
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 3 IN (0, 1)
        )
        SELECT CAST(o_orderkey % 5 AS BIGINT) AS bucket,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS gen_ok
        FROM base GROUP BY 1 ORDER BY bucket"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val genExpr = "CAST(floor(price * 100 + 0.5) AS BIGINT)"
        val genMeta = new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.generationExpression", genExpr).build()
        def slice(r: Int) = Tables.t(s, dir, "orders")
          .filter(col("o_orderkey") % 3 === r)
          .select(col("o_orderkey").as("okey"), col("o_totalprice").as("price"))
          .repartition(4)
        val out = java.nio.file.Files.createTempDirectory("stac41").toString + "/tbl"
        PortableDelta.write(slice(0)
          .withColumn("cents", expr(genExpr).as("cents", genMeta)), out)  // v0
        require(PortableDelta.snapshot(s, out).writerFeatures
          .contains("generatedColumns"), "creation must declare the feature")
        // append WITHOUT the generated column: the engine computes it
        PortableDelta.write(slice(1), out, mode = "append")               // v1
        // a batch with WRONG values is refused by name; version pinned
        val bad = slice(1).limit(5).withColumn("cents", lit(1L))
        val refused =
          try { PortableDelta.write(bad, out, mode = "append"); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("generated column cents") }
        require(refused, "wrong generated values must be refused by name")
        require(PortableDelta.snapshot(s, out).version == 1L,
          "the refusal must commit nothing")
        // UPDATE the source column: the generated column recomputes
        val us = PortableDelta.update(s, out, col("okey") % 9L === 0L,
          Map("price" -> (col("price") * 2)))                             // v2
        require(us.updatedRows > 0, "gate needs the update to bite")
        // the value check reads the STORED cents bytes, never recomputing
        PortableDelta.readTable(s, out)
          .groupBy((col("okey") % 5).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("okey")).as("key_sum"),
            sum(col("cents")).as("cents_sum"))
          .withColumn("gen_ok", lit(true))
          .orderBy(col("bucket"))
      },
      timed = false),

    // ----- Delta identity columns: the WRITER allocates the values -----
    // delta.identity.* field metadata (the identityColumns writer
    // feature): an empty table declares `ident` (start=1000, step=3),
    // two generating appends land WITHOUT supplying it, and the engine
    // allocates start + k*step with the high-water mark re-stated in
    // each commit's metaData — the second batch provably continues past
    // the first (no overlap, no gap). The gate stages each batch as ONE
    // sorted partition so the assignment order is oracle-mirrorable;
    // allocation itself is distributed (per-partition offsets from one
    // count aggregate — see IdentitySpec's multi-partition + race legs
    // for the production shape). Value check: every (doc_id, ident)
    // pair against DuckDB's row_number() recomputation.
    QuerySpec(
      "stac42_delta_identity",
      Some("""
        WITH a AS (SELECT doc_id,
                          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS k
                   FROM documents WHERE doc_id % 3 = 0),
             b AS (SELECT doc_id,
                          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS k
                   FROM documents WHERE doc_id % 3 = 1)
        SELECT doc_id, 1000 + 3 * k AS ident FROM a
        UNION ALL
        SELECT doc_id, 1000 + 3 * ((SELECT count(*) FROM a) + k) FROM b
        ORDER BY doc_id"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        import org.apache.spark.sql.types.{LongType, MetadataBuilder,
          StringType, StructField, StructType}
        val identMeta = new MetadataBuilder()
          .putLong("delta.identity.start", 1000L)
          .putLong("delta.identity.step", 3L).build()
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("ident", LongType, nullable = true, identMeta)))
        val out = java.nio.file.Files.createTempDirectory("stac42").toString + "/tbl"
        PortableDelta.write(s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), out) // v0
        require(PortableDelta.snapshot(s, out).writerFeatures
          .contains("identityColumns"), "creation must declare the feature")
        def slice(r: Int) = Tables.t(s, dir, "documents")
          .filter(col("doc_id") % 3 === r).select(col("doc_id"))
          .repartition(1).sortWithinPartitions(col("doc_id"))
        PortableDelta.write(slice(0), out, mode = "append")                // v1
        val nA = slice(0).count()
        def hwm(): Long = {
          val f = PortableDelta.snapshot(s, out).schema("ident")
          require(f.metadata.contains("delta.identity.highWaterMark"),
            "generating append must re-state the high-water mark")
          f.metadata.getLong("delta.identity.highWaterMark")
        }
        require(hwm() == 1000L + 3L * (nA - 1), "mark must track batch 1")
        PortableDelta.write(slice(1), out, mode = "append")                // v2
        val nB = slice(1).count()
        require(hwm() == 1000L + 3L * (nA + nB - 1),
          "mark must continue past batch 1 — no overlap, no gap")
        PortableDelta.readTable(s, out)
          .select(col("doc_id"), col("ident"))
          .orderBy(col("doc_id"))
      },
      timed = false),

    // ----- Full-clause MERGE: conditions, partial SET, insert filter -----
    // The SQL MERGE shape real engines ship (mergeInto): WHEN MATCHED
    // AND s.bump > 50 THEN UPDATE SET price = t.price + s.bump (all
    // other columns carried from the TARGET), WHEN NOT MATCHED AND
    // s.price > 1000 THEN INSERT. Rows failing a clause's condition
    // are untouched; work tracks matched + inserted rows (the match
    // scan is stats-pruned by the source's key bounds). The oracle
    // replays both clauses relationally (left join + CASE for the
    // conditional update, NOT EXISTS + filter for the conditional
    // insert) and value-checks the final table's per-status accounting.
    QuerySpec(
      "stac43_delta_merge_clauses",
      Some("""
        WITH tgt AS (
          SELECT o_orderkey AS okey, o_orderstatus AS status,
                 o_totalprice AS price
          FROM orders
        ),
        src AS (
          SELECT o_orderkey AS okey, o_orderstatus AS status,
                 o_totalprice AS price, o_orderkey % 100 AS bump
          FROM orders WHERE o_orderkey % 4 = 0
          UNION ALL
          SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice,
                 o_orderkey % 100
          FROM orders WHERE o_orderkey % 6 = 0
        ),
        updated AS (
          SELECT t.okey, t.status,
                 CASE WHEN s.okey IS NOT NULL AND s.bump > 50
                      THEN t.price + s.bump ELSE t.price END AS price
          FROM tgt t LEFT JOIN src s ON t.okey = s.okey
        ),
        ins AS (
          SELECT s.okey, s.status, s.price FROM src s
          WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.okey = s.okey)
            AND s.price > 1000
        ),
        fin AS (SELECT * FROM updated UNION ALL SELECT * FROM ins)
        SELECT status, count(*) AS n_rows,
               CAST(sum(okey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS price_cents,
               true AS merge_ok
        FROM fin GROUP BY status ORDER BY status"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        import graft.stac.PortableDelta.MergeClauses
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey").as("okey"),
            col("o_orderstatus").as("status"),
            col("o_totalprice").as("price"))
        val out = java.nio.file.Files.createTempDirectory("stac43").toString + "/tbl"
        PortableDelta.write(orders.repartition(6), out)              // v0
        val src = orders.filter(col("okey") % 4 === 0)
          .withColumn("bump", col("okey") % 100)
          .unionByName(orders.filter(col("okey") % 6 === 0)
            .withColumn("okey", col("okey") + 1000000000L)
            .withColumn("bump", (col("okey") - 1000000000L) % 100))
        val st = PortableDelta.mergeInto(s, out, src, Seq("okey"),
          MergeClauses(
            matchedCondition = Some(col("s.bump") > 50L),
            updateSet = Some(Map("price" -> (col("t.price") + col("s.bump")))),
            notMatchedCondition = Some(col("s.price") > 1000d)))     // v1
        require(st.updatedRows > 0 && st.insertedRows > 0,
          s"gate needs both clauses to bite, got $st")
        // condition-excluded rows committed NOTHING beyond the touched
        // files: matched-but-low-bump rows keep their exact price
        PortableDelta.readTable(s, out)
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("okey")).as("key_sum"),
            sum(floor(col("price") * 100 + 0.5).cast("long")).as("price_cents"))
          .withColumn("merge_ok", lit(true))
          .orderBy(col("status"))
      },
      timed = false),

    // ----- Delta TYPE WIDENING (the typeWidening table feature) -----
    // A column born int32 widens to long METADATA-ONLY: the narrow
    // files keep their bytes and upcast at scan, a post-widen append
    // lands values beyond Int.MaxValue, and the old files' int-bounded
    // stats stay sound bounds under the wider type — the
    // > Int.MaxValue predicate prunes every narrow file (asserted
    // in-gate). Oracle recomputes the mixed-width union from raw
    // events. Feature declared on BOTH protocol sides (readers must
    // upcast), pinned in-gate.
    QuerySpec(
      "stac44_delta_type_widening",
      Some("""
        WITH narrow AS (
          SELECT event_type, CAST(event_id % 100000 AS BIGINT) AS nid
          FROM events WHERE event_id % 2 = 0
        ), wide AS (
          SELECT event_type, event_id % 100000 + 2147483648 AS nid
          FROM events WHERE event_id % 2 = 1
        ), fin AS (SELECT * FROM narrow UNION ALL SELECT * FROM wide)
        SELECT event_type, count(*) AS n_rows,
               CAST(sum(nid) AS BIGINT) AS nid_sum,
               CAST(sum(CASE WHEN nid > 2147483647 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_wide,
               true AS widen_ok
        FROM fin GROUP BY event_type ORDER BY event_type"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val ev = Tables.t(s, dir, "events")
        val out = java.nio.file.Files.createTempDirectory("stac44").toString + "/tbl"
        PortableDelta.write(
          ev.filter(col("event_id") % 2 === 0)
            .select(col("event_type"),
              (col("event_id") % 100000).cast("int").as("nid"))
            .repartition(4), out,
          properties = Map("delta.enableTypeWidening" -> "true"))      // v0
        require(PortableDelta.snapshot(s, out).schema("nid").dataType ==
          org.apache.spark.sql.types.IntegerType, "gate needs an int32 start")
        PortableDelta.widenColumnType(s, out, "nid",
          org.apache.spark.sql.types.LongType)                         // v1
        val snap1 = PortableDelta.snapshot(s, out)
        require(snap1.readerFeatures.contains("typeWidening") &&
          snap1.writerFeatures.contains("typeWidening"),
          "the widening commit must declare the feature both sides")
        PortableDelta.write(
          ev.filter(col("event_id") % 2 === 1)
            .select(col("event_type"),
              (col("event_id") % 100000 + 2147483648L).as("nid"))
            .repartition(2), out, mode = "append")                     // v2
        // int-bounded stats remain sound long bounds: the wide-only
        // predicate prunes EVERY narrow file
        val snap2 = PortableDelta.snapshot(s, out)
        val (kept, pruned) = PortableDelta.statsPrune(s, snap2,
          col("nid") > Int.MaxValue.toLong)
        require(kept.size == 2 && pruned == 4,
          s"narrow files must prune under the wide predicate: " +
            s"kept ${kept.size}, pruned $pruned")
        PortableDelta.readTable(s, out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("nid")).as("nid_sum"),
            sum(when(col("nid") > Int.MaxValue.toLong, 1L).otherwise(0L))
              .as("n_wide"))
          .withColumn("widen_ok", lit(true))
          .orderBy(col("event_type"))
      },
      timed = false),

    // ----- REORG PURGE + DROP FEATURE + version-checksum stats -----
    // The hard-erasure maintenance flow end-to-end: DELETE lands DVs
    // (soft delete), REORG APPLY (PURGE) rewrites exactly the
    // DV-carrying files with the dead rows gone (dataChange=false, so
    // nothing changes logically — the final value check proves it),
    // then DROP FEATURE deletionVectors TRUNCATE HISTORY downgrades the
    // protocol and truncates the pre-drop log; the post-drop state
    // replays from the checkpoint alone. tableStats must answer
    // O(1) from the version checksum and agree with an independent
    // recompute (pinned). Oracle replays the delete relationally.
    QuerySpec(
      "stac45_delta_reorg_purge",
      Some("""
        SELECT event_type, count(*) AS n_rows,
               CAST(sum(event_id) AS BIGINT) AS id_sum,
               true AS purge_ok, true AS drop_ok, true AS stats_ok
        FROM events WHERE event_id % 7 <> 0
        GROUP BY event_type ORDER BY event_type"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val ev = Tables.t(s, dir, "events")
        val out = java.nio.file.Files.createTempDirectory("stac45").toString + "/tbl"
        PortableDelta.write(
          ev.select(col("event_type"), col("event_id")).repartition(4),
          out)                                                         // v0
        PortableDelta.delete(s, out, col("event_id") % 7 === 0)        // v1: DVs
        val snap1 = PortableDelta.snapshot(s, out)
        require(snap1.files.exists(_.dv.isDefined),
          "the DELETE must land deletion vectors, not rewrites")
        PortableDelta.reorgPurge(s, out)                               // v2
        val snap2 = PortableDelta.snapshot(s, out)
        require(snap2.files.forall(_.dv.isEmpty),
          "REORG PURGE must leave no live deletion vector")
        PortableDelta.dropFeatureSupport(s, out, "deletionVectors",
          truncateHistory = true)                                      // v3
        val snap3 = PortableDelta.snapshot(s, out)
        require(!snap3.readerFeatures.contains("deletionVectors") &&
          !snap3.writerFeatures.contains("deletionVectors"),
          "the drop must unlist the feature on both protocol sides")
        // pre-drop commits are gone: the state below replays from the
        // checkpoint the drop wrote
        require(!new java.io.File(s"$out/_delta_log").listFiles()
          .exists(_.getName == "%020d.json".format(0L)),
          "TRUNCATE HISTORY must reclaim the pre-drop log")
        // O(1) stats off the version checksum == independent recompute
        val st = PortableDelta.tableStats(s, out)
        require(st.numFiles == snap3.files.size &&
          st.sizeInBytes == snap3.files.map(_.size).sum,
          s"checksum-served stats drift: $st vs " +
            s"(${snap3.files.size}, ${snap3.files.map(_.size).sum})")
        PortableDelta.validateChecksum(s, out)
        PortableDelta.readTable(s, out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("event_id")).as("id_sum"))
          .withColumn("purge_ok", lit(true))
          .withColumn("drop_ok", lit(true))
          .withColumn("stats_ok", lit(true))
          .orderBy(col("event_type"))
      },
      timed = false),

    // ----- un-map + DROP FEATURE columnMapping + log-based vacuum -----
    // The full mapped-table retirement flow: RENAME diverges physical
    // names (appends stage physical bytes), disableColumnMapping
    // rewrites every live file under the logical names in ONE commit
    // (dataChange=false — the value check proves nothing changed), DROP
    // FEATURE columnMapping TRUNCATE HISTORY normalizes the protocol
    // back to plain legacy versions, and vacuumLite reclaims the
    // pre-rewrite files FROM THE CHECKPOINT'S CARRIED TOMBSTONES — no
    // directory listing anywhere in the reclaim (the 100-TB path).
    // Oracle replays the rename relationally.
    QuerySpec(
      "stac46_delta_unmap_vacuum",
      Some("""
        SELECT event_type AS kind, count(*) AS n_rows,
               CAST(sum(event_id) AS BIGINT) AS id_sum,
               true AS unmap_ok, true AS drop_ok, true AS vacuum_ok
        FROM events GROUP BY event_type ORDER BY kind"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val ev = Tables.t(s, dir, "events")
        val out = java.nio.file.Files.createTempDirectory("stac46").toString + "/tbl"
        PortableDelta.write(
          ev.select(col("event_type"), col("event_id")).repartition(4),
          out)                                                         // v0
        PortableDelta.renameColumn(s, out, "event_type", "kind")      // v1
        val pre = PortableDelta.snapshot(s, out)
        require(pre.readerFeatures.contains("columnMapping"))
        val preFiles = pre.files.map(_.path).toSet
        PortableDelta.disableColumnMapping(s, out)                    // v2
        val snap2 = PortableDelta.snapshot(s, out)
        require(snap2.files.map(_.path).toSet.intersect(preFiles).isEmpty,
          "the diverged un-map must rewrite every live file")
        PortableDelta.dropFeatureSupport(s, out, "columnMapping",
          truncateHistory = true)                                     // v3
        val snap3 = PortableDelta.snapshot(s, out)
        require(snap3.minReaderVersion == 1 &&
          !snap3.writerFeatures.contains("columnMapping"),
          "the drop must normalize the protocol and unlist the feature")
        // the drop's checkpoint carried the rewrite's tombstones: the
        // log-based vacuum reclaims the old physical-name files without
        // ever listing the directory
        val reclaimed = PortableDelta.vacuumLite(s, out, graceMillis = 0L)
        require(reclaimed >= preFiles.size,
          s"vacuumLite must reclaim the ${preFiles.size} pre-rewrite " +
            s"files, got $reclaimed")
        require(preFiles.forall(p => !new java.io.File(s"$out/$p").exists()),
          "the pre-rewrite bytes must be gone from disk")
        PortableDelta.validateChecksum(s, out)
        PortableDelta.readTable(s, out)
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("event_id")).as("id_sum"))
          .withColumn("unmap_ok", lit(true))
          .withColumn("drop_ok", lit(true))
          .withColumn("vacuum_ok", lit(true))
          .orderBy(col("kind"))
      },
      timed = false),

    // ----- FSCK repair + symlink manifests (Presto/Trino interop) -----
    // Storage loses one hive partition's bytes (the 'error' slice —
    // deterministic, so the oracle can mirror it relationally); scans
    // would FileNotFound until FSCK drops the vanished references. The
    // manifests then publish the repaired state, and the final frame is
    // computed by READING THROUGH THE MANIFESTS exactly the way an
    // external Hive/Presto reader would (raw parquet over the manifest
    // URIs — the Delta log never consulted), proving the interop view
    // equals the table.
    QuerySpec(
      "stac47_delta_fsck_manifest",
      Some("""
        SELECT event_type, count(*) AS n_rows,
               CAST(sum(event_id) AS BIGINT) AS id_sum,
               true AS fsck_ok, true AS manifest_ok
        FROM events WHERE event_type <> 'error'
        GROUP BY event_type ORDER BY event_type"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val ev = Tables.t(s, dir, "events")
        val out = java.nio.file.Files.createTempDirectory("stac47").toString + "/tbl"
        PortableDelta.write(
          ev.select(col("event_id"), col("event_type"))
            .repartition(col("event_type")),
          out, partitionBy = Seq("event_type"))                        // v0
        // the 'error' partition's bytes vanish (storage loss)
        val lost = new java.io.File(s"$out/event_type=error").listFiles()
          .filter(_.getName.endsWith(".parquet"))
        require(lost.nonEmpty && lost.forall(_.delete()))
        val repaired = PortableDelta.fsckRepair(s, out)                // v1
        require(repaired.size == lost.length &&
          repaired.forall(_.startsWith("event_type=error/")),
          s"FSCK must drop exactly the vanished partition: $repaired")
        val dirs = PortableDelta.generateSymlinkManifest(s, out)
        require(dirs.size == 4 && !dirs.contains("event_type=error"),
          s"manifests must mirror the four surviving partitions: $dirs")
        PortableDelta.validateChecksum(s, out)
        // the external-reader path: manifest lines -> raw parquet scan
        val uris = dirs.flatMap { d =>
          val src = scala.io.Source.fromFile(
            s"$out/_symlink_format_manifest/$d/manifest")
          try src.getLines().toList finally src.close()
        }
        val viaManifest = s.read.parquet(
          uris.map(_.stripPrefix("file:")): _*)
        // hive dirs carry the partition value, not the parquet bytes:
        // recover it from each file's directory the way Hive does
        val withPart = viaManifest.withColumn("event_type",
          regexp_extract(input_file_name(), "event_type=([^/]+)/", 1))
        withPart
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("event_id")).as("id_sum"))
          .withColumn("fsck_ok", lit(true))
          .withColumn("manifest_ok", lit(true))
          .orderBy(col("event_type"))
      },
      timed = false),

    // ----- batch CDF through the format route (round 17) -----
    // delta-spark's batch change-feed idiom — spark.read.format(...)
    // .option("readChangeFeed","true").option("startingVersion",...) —
    // previously the batch relation SILENTLY IGNORED the option (the
    // r16 VERDICT's wrong-shape hazard): a user got current rows where
    // they asked for a change window. Now it routes to the same
    // distributed readChanges plan the portable_delta_changes TVF
    // returns. In-gate requires pin three-route parity (option ≡ TVF ≡
    // Scala API over the FULL window) and the refusal contract (typo'd
    // option names and CDF bounds without readChangeFeed refuse by
    // name — never a silent full scan). The value-checked result is a
    // WINDOWED read (startingVersion=1), so a wrong window resolution
    // fails the hash; the oracle reconstructs versions 1-3's change
    // sets with SQL set logic (the stac30 derivation minus v0).
    QuerySpec(
      "stac59_batch_cdf",
      Some("""
        WITH dead AS (SELECT o_orderkey AS k FROM orders
                      WHERE o_orderkey % 3 IN (0, 1) AND o_totalprice < 30000),
             src AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 4 = 0),
             matched AS (SELECT k FROM src
                         WHERE k % 3 IN (0, 1)
                           AND k NOT IN (SELECT k FROM dead)),
             ch AS (
               SELECT 1 AS version, 'insert' AS change, o_orderkey AS k
               FROM orders WHERE o_orderkey % 3 = 1
               UNION ALL
               SELECT 2, 'delete', k FROM dead
               UNION ALL
               SELECT 3, 'delete', k FROM matched
               UNION ALL
               SELECT 3, 'insert', k FROM src)
        SELECT CAST(version AS BIGINT) AS version, change,
               count(*) AS n_rows,
               CAST(sum(k) AS BIGINT) AS key_sum,
               true AS batch_cdf_ok
        FROM ch GROUP BY version, change
        ORDER BY version, change"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val out = java.nio.file.Files.createTempDirectory("stac59").toString + "/tbl"
        PortableDelta.write(orders.filter(col("o_orderkey") % 3 === 0)
          .repartition(4), out)                                        // v0
        PortableDelta.write(orders.filter(col("o_orderkey") % 3 === 1)
          .repartition(4), out, mode = "append")                       // v1
        PortableDelta.delete(s, out, col("o_totalprice") < 30000.0)    // v2
        PortableDelta.merge(s, out,
          orders.filter(col("o_orderkey") % 4 === 0)
            .withColumn("o_orderstatus", lit("M")),
          Seq("o_orderkey"))                                           // v3
        def agg(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(col("_commit_version").as("version"),
            col("_change_type").as("change"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"))
        def pin(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long, Long)] =
          agg(df).collect().map(r =>
            (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
            .sorted.toSeq
        // three-route parity over the FULL window
        val viaApi = pin(PortableDelta.readChanges(s, out, 0L, 3L))
        val viaOpt = pin(s.read.format("portable-delta")
          .option("readChangeFeed", "true")
          .option("startingVersion", "0").option("endingVersion", "3")
          .load(out))
        val viaTvf = pin(s.sql(
          s"SELECT * FROM portable_delta_changes('$out', 0, 3)"))
        require(viaOpt == viaApi && viaTvf == viaApi,
          s"batch CDF routes drifted:\n opt=$viaOpt\n tvf=$viaTvf\n api=$viaApi")
        // refusal contract: CDF-shaped options never silently scan
        def refuses(msgPart: String)(op: => Unit): Unit = {
          val threw = try { op; false } catch { case e: Exception =>
            def msgs(t: Throwable): Seq[String] =
              if (t == null) Nil
              else Option(t.getMessage).toSeq ++ msgs(t.getCause)
            require(msgs(e).exists(_.contains(msgPart)),
              s"wanted '$msgPart': ${msgs(e).mkString(" | ")}")
            true }
          require(threw, s"must refuse ($msgPart), not silently scan")
        }
        refuses("readChangeFeed is not enabled")(
          s.read.format("portable-delta").option("startingVersion", "1")
            .load(out).collect())
        refuses("did you mean 'readChangeFeed'")(
          s.read.format("portable-delta").option("read_change_feed", "true")
            .option("startingVersion", "0").load(out).collect())
        refuses("cannot combine with versionAsOf")(
          s.read.format("portable-delta").option("readChangeFeed", "true")
            .option("startingVersion", "0").option("versionAsOf", "1")
            .load(out).collect())
        // the value-checked read: a WINDOW from v1 (endingVersion
        // defaults to current) — wrong bound resolution fails the hash
        agg(s.read.format("portable-delta")
          .option("readChangeFeed", "true").option("startingVersion", "1")
          .load(out))
          .withColumn("batch_cdf_ok", lit(true))
          .orderBy(col("version"), col("change"))
      },
      timed = false),

    // ----- CONVERT TO DELTA: adopt a parquet directory in place -----
    // The migration path delta-spark ships and real users need first:
    // an existing (here hive-partitioned) parquet directory becomes a
    // portable-delta table with ONE v0 commit referencing the files
    // where they sit — zero data bytes move (at 100 TB the conversion
    // cost is distributed footer reads, never a copy), and stats are
    // collected from the footers so data skipping works from commit
    // zero. In-gate requires pin what the oracle can't see: the disk
    // file set is unchanged, every add carries stats, partition pruning
    // drops adopted files at planning time, a re-convert refuses by
    // name, and post-convert DML works (a DELETE lands DVs on adopted
    // files). The value-checked read replays write → convert → DELETE
    // relationally in DuckDB.
    QuerySpec(
      "stac60_convert_to_delta",
      Some("""
        SELECT o_orderstatus AS status, count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents_sum,
               true AS convert_ok
        FROM orders WHERE o_orderkey % 9 <> 0
        GROUP BY o_orderstatus ORDER BY status"""),
      (s, dir) => {
        import graft.stac.PortableDelta
        val orders = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val out = java.nio.file.Files.createTempDirectory("stac60").toString + "/tbl"
        // a FOREIGN layout: the stock parquet writer, hive-partitioned
        orders.repartition(4).write.partitionBy("o_orderstatus").parquet(out)
        val conf = s.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
        def disk: Set[String] = {
          val it = fs.listFiles(new org.apache.hadoop.fs.Path(out), true)
          val b = Set.newBuilder[String]
          while (it.hasNext) {
            val st = it.next()
            // FULL path: partitionBy reuses the same part-file NAME
            // across partition dirs — a name-keyed set under-counts
            if (st.isFile && st.getPath.getName.endsWith(".parquet") &&
                !st.getPath.toString.contains("_delta_log"))
              b += s"${st.getPath.toUri.getPath}:${st.getLen}"
          }
          b.result()
        }
        val before = disk
        // SQL statement route (the gate session carries the parser)
        val r = s.sql(s"CONVERT TO DELTA parquet.`$out` " +
          "PARTITIONED BY (o_orderstatus STRING)").head()
        require(r.getLong(1) == 0L && r.getLong(2) == before.size.toLong,
          s"convert must commit v0 over all ${before.size} files: $r")
        require(disk == before,
          "CONVERT must not move, rewrite, or add any data file")
        val snap = PortableDelta.snapshot(s, out)
        require(snap.files.forall(_.stats.isDefined),
          "every adopted add carries footer-collected stats")
        // partition pruning over ADOPTED files, at planning time —
        // assert BEFORE any persist (the in-gate plan-assert rule)
        val one = s.read.format("portable-delta").load(out)
          .filter(col("o_orderstatus") === "F")
        val scans = one.queryExecution.sparkPlan.collect {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc }
        require(scans.size == 1 &&
          scans.head.selectedPartitions.totalNumberOfFiles < snap.files.size.toLong,
          "partition pruning must drop adopted files at planning time")
        // re-converting refuses by name (double-commit hazard)
        val threw = try { PortableDelta.convertToDelta(s, out); false }
          catch { case e: IllegalArgumentException =>
            require(e.getMessage.contains("already carries a _delta_log"))
            true }
        require(threw, "re-convert must refuse, not double-commit")
        // the adopted table is a full citizen: DV DELETE on foreign files
        PortableDelta.delete(s, out, col("o_orderkey") % 9 === 0)   // v1
        require(PortableDelta.snapshot(s, out).files.exists(_.dv.isDefined),
          "post-convert DELETE must land as DVs on the adopted files")
        PortableDelta.readTable(s, out)
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents_sum"))
          .withColumn("convert_ok", lit(true))
          .orderBy(col("status"))
      },
      timed = false)
  )
}
