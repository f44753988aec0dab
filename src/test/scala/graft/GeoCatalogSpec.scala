package graft

import graft.tables.{GeoCatalog, GeoManifest, GeoSql, GeoTable}

import org.apache.spark.sql.functions._

/**
 * DataSourceV2 catalog resolution for GeoTables (SURVEY.md §2.8b): the
 * catalog leg the reference gets from Iceberg — `spark.sql.catalog.demo`
 * in TestSedonaIcebergExtension.scala:44-53 makes its spatial tables real
 * catalog tables; App.scala:71-72 runs `CACHE TABLE` against one. Here the
 * same surface resolves through [[GeoCatalog]]: SELECT / SHOW TABLES /
 * DESCRIBE / CACHE TABLE / INSERT / ALTER / DROP on `geo.db.t` names, plus
 * spatial UPDATE/DELETE through the GeoSql front-end on the same names.
 */
class GeoCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("geo_warehouse").toString
    spark.conf.set("spark.sql.catalog.geo", classOf[GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.geo.warehouse", dir)
    dir
  }

  test("create + insert + select resolve natively through the catalog") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE geo.db.pts (id BIGINT, name STRING, g BINARY) USING geo " +
      "TBLPROPERTIES('geometry.column'='g')")
    spark.sql("INSERT INTO geo.db.pts SELECT 1L, 'a', st_point(1.0D, 2.0D)")
    spark.sql("INSERT INTO geo.db.pts SELECT 2L, 'b', st_point(3.0D, 4.0D)")

    val rows = spark.sql("SELECT id, name, st_x(g) AS x FROM geo.db.pts ORDER BY id")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "a", 1.0), (2L, "b", 3.0)))
    // spark.table() resolves the same way
    assert(spark.table("geo.db.pts").count() == 2)
    // the manifest is the storage: two appends = two commits
    assert(GeoManifest.read(spark, s"$warehouse/db/pts").version == 2)
  }

  test("VERSION AS OF / TIMESTAMP AS OF time travel through the catalog") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE geo.db.tt (id BIGINT, g BINARY) USING geo " +
      "TBLPROPERTIES('geometry.column'='g')")
    spark.sql("INSERT INTO geo.db.tt SELECT 1L, st_point(0.0D, 0.0D)")   // v1
    Thread.sleep(1100) // manifest mtime granularity guard for TIMESTAMP AS OF
    val betweenMs = System.currentTimeMillis()
    spark.sql("INSERT INTO geo.db.tt SELECT 2L, st_point(1.0D, 1.0D)")   // v2
    assert(spark.sql("SELECT COUNT(*) FROM geo.db.tt").head.getLong(0) == 2)
    assert(spark.sql("SELECT COUNT(*) FROM geo.db.tt VERSION AS OF 1").head.getLong(0) == 1)
    assert(spark.sql("SELECT COUNT(*) FROM geo.db.tt VERSION AS OF 0").head.getLong(0) == 0)
    assert(spark.sql("SELECT id FROM geo.db.tt VERSION AS OF 1").head.getLong(0) == 1L)
    val ts = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(betweenMs))
    assert(spark.sql(s"SELECT COUNT(*) FROM geo.db.tt TIMESTAMP AS OF '$ts'")
      .head.getLong(0) == 1)
    // out-of-range snapshot is a clean error
    val e = intercept[Exception] { spark.sql("SELECT * FROM geo.db.tt VERSION AS OF 99").collect() }
    assert(e.getMessage.contains("no snapshot version 99") || e.getMessage.contains("99"))
    // resolution reads the COMMIT ts inside the manifest, not file mtime:
    // scramble every manifest's mtime (as a filesystem copy/restore would)
    // and the answers must not move
    val fs = GeoManifest.fs(spark, s"$warehouse/db/tt")
    (0 to 2).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(s"$warehouse/db/tt/_manifests/m$v.txt"),
        System.currentTimeMillis() + 864000000L, -1)
    }
    assert(spark.sql(s"SELECT COUNT(*) FROM geo.db.tt TIMESTAMP AS OF '$ts'")
      .head.getLong(0) == 1)
    val committedAt = spark.sql(
        "SELECT version, committed_at FROM geo.db.tt.snapshots ORDER BY version")
      .collect().map(r => r.getTimestamp(1).getTime)
    assert(committedAt.sameElements(committedAt.sorted) && committedAt.last < betweenMs + 3600000L,
      s"committed_at must come from the manifest ts, got ${committedAt.toSeq}")
  }

  test("all_files reports the version that added each file") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    GeoTable.create(spark, s"$warehouse/db/added_at",
      spark.range(1).toDF("id").coalesce(1), None)      // v0
    spark.sql("INSERT INTO geo.db.added_at SELECT 1L")  // v1
    spark.sql("INSERT INTO geo.db.added_at SELECT 2L")  // v2
    // no equality delete was ever live, and each file still names the
    // commit that added it
    val added = spark.sql("SELECT added_at_version FROM geo.db.added_at.all_files " +
        "ORDER BY added_at_version").as[Int].collect().toSeq
    assert(added == Seq(0, 1, 2), s"added_at_version: $added")
  }

  test("snapshots / files metadata tables resolve like Iceberg's") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE geo.db.meta_t (id BIGINT, g BINARY) USING geo " +
      "TBLPROPERTIES('geometry.column'='g')")
    spark.sql("INSERT INTO geo.db.meta_t SELECT 1L, st_point(2.0D, 3.0D)")
    spark.sql("INSERT INTO geo.db.meta_t SELECT 2L, st_point(7.0D, 8.0D)")
    val snaps = spark.sql(
        "SELECT version, data_files, total_rows FROM geo.db.meta_t.snapshots ORDER BY version")
      .as[(Int, Int, Long)].collect().toSeq
    assert(snaps == Seq((0, 0, 0L), (1, 1, 1L), (2, 2, 2L)))
    val files = spark.sql("SELECT path, rows, xmin, ymax FROM geo.db.meta_t.files ORDER BY path")
      .collect()
    assert(files.length == 2 && files.forall(_.getLong(1) == 1L))
    assert(files.map(_.getDouble(2)).sorted.toSeq == Seq(2.0, 7.0))
    // timestamps are real and non-decreasing
    val ts = spark.sql("SELECT committed_at FROM geo.db.meta_t.snapshots ORDER BY version")
      .collect().map(_.getTimestamp(0).getTime)
    assert(ts.sorted.toSeq == ts.toSeq && ts.head > 0)
    // operation provenance (Iceberg snapshot-summary `operation` analog):
    // create -> append -> append, and DML labels its own verb
    val ops = spark.sql("SELECT operation FROM geo.db.meta_t.snapshots ORDER BY version")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("create", "append", "append"), s"ops: $ops")
    // snapshot summary counts (Iceberg added/removed analog): each
    // append added one 1-row file, nothing removed
    val summ = spark.sql("SELECT added_files, added_rows, removed_files " +
        "FROM geo.db.meta_t.snapshots ORDER BY version")
      .as[(Int, Long, Int)].collect().toSeq
    assert(summ == Seq((0, 0L, 0), (1, 1L, 0), (1, 1L, 0)), s"summary: $summ")
    // history mirrors Iceberg's: made_current_at per version, current flag
    val hist = spark.sql(
        "SELECT version, is_current FROM geo.db.meta_t.history ORDER BY version")
      .as[(Int, Boolean)].collect().toSeq
    assert(hist == Seq((0, false), (1, false), (2, true)))
    // DML labels its own verb in the snapshot provenance
    spark.sql("DELETE FROM geo.db.meta_t WHERE id = 2")
    val lastOp = spark.sql(
      "SELECT operation FROM geo.db.meta_t.snapshots ORDER BY version DESC LIMIT 1")
      .head.getString(0)
    assert(lastOp == "delete", s"DML op: $lastOp")
    // t.all_files (Iceberg all_data_files analog): every file any
    // reachable snapshot references, deduped, with liveness — the
    // delete's removed/rewritten file shows live=false, current files
    // live=true, and the live set equals t.files
    val allF = spark.sql(
        "SELECT path, live FROM geo.db.meta_t.all_files ORDER BY path")
      .as[(String, Boolean)].collect().toSeq
    val curF = spark.sql("SELECT path FROM geo.db.meta_t.files")
      .as[String].collect().toSet
    assert(allF.map(_._1).distinct.length == allF.length, "all_files must dedup by path")
    assert(allF.filter(_._2).map(_._1).toSet == curF, s"live set != current files: $allF")
    assert(allF.exists(!_._2), "the DML's dropped/rewritten file must appear live=false")
    // t.manifests: metadata inventory — inline table = one `list` row
    // carrying every file entry; under a forced shard size the list row
    // slims down and `shard` rows carry the entries
    val inline = spark.sql("SELECT kind, file_count FROM geo.db.meta_t.manifests").collect()
    assert(inline.length == 1 && inline.head.getString(0) == "list")
    spark.conf.set("spark.graft.manifest.shardSize", "1")
    try {
      spark.sql("INSERT INTO geo.db.meta_t SELECT 3L, st_point(1.0D, 1.0D)")
      val sharded = spark.sql(
        "SELECT kind, file_count, size_bytes FROM geo.db.meta_t.manifests").collect()
      assert(sharded.count(_.getString(0) == "shard") >= 1, sharded.mkString(", "))
      assert(sharded.forall(_.getLong(2) > 0), "sizes must be real")
      val total = sharded.map(_.getInt(1)).sum
      val files = spark.sql("SELECT COUNT(*) FROM geo.db.meta_t.files").head.getLong(0)
      assert(total == files, s"inventory covers $total of $files entries")
    } finally spark.conf.unset("spark.graft.manifest.shardSize")
    // a real table named like a metadata kind shadows the metadata path
    spark.sql("CREATE TABLE geo.db.snapshots (id BIGINT, g BINARY) USING geo " +
      "TBLPROPERTIES('geometry.column'='g')")
    assert(spark.sql("SELECT COUNT(*) FROM geo.db.snapshots").head.getLong(0) == 0)
  }

  test("SHOW TABLES / DESCRIBE / SHOW NAMESPACES see geo tables") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE IF NOT EXISTS geo.db.pts2 (id BIGINT, g BINARY) USING geo " +
      "TBLPROPERTIES('geometry.column'='g')")
    val tables = spark.sql("SHOW TABLES IN geo.db").select("tableName").as[String].collect().toSet
    assert(tables.contains("pts2"), s"SHOW TABLES must list pts2, got $tables")
    val ns = spark.sql("SHOW NAMESPACES IN geo").select("namespace").as[String].collect().toSet
    assert(ns.contains("db"), s"SHOW NAMESPACES must list db, got $ns")
    val desc = spark.sql("DESCRIBE TABLE geo.db.pts2").collect().map(_.getString(0)).toSet
    assert(desc.contains("id") && desc.contains("g"))
    val props = spark.sql("DESCRIBE TABLE EXTENDED geo.db.pts2").collect()
      .map(r => r.getString(0) + "=" + r.getString(1)).mkString("\n")
    assert(props.contains("geometry.column"), s"table properties must surface the geometry column:\n$props")
  }

  test("CACHE TABLE works on a catalog geo table (reference App.scala:71)") {
    warehouse
    spark.sql("CREATE TABLE IF NOT EXISTS geo.db.cache_me (id BIGINT, g BINARY) USING geo")
    spark.sql("INSERT INTO geo.db.cache_me SELECT 7L, st_point(0.5D, 0.5D)")
    spark.sql("CACHE TABLE geo.db.cache_me")
    try {
      assert(spark.sql("SELECT count(*) FROM geo.db.cache_me").head.getLong(0) == 1L)
    } finally spark.sql("UNCACHE TABLE geo.db.cache_me")
  }

  test("catalog scan pushes filters and prunes columns (vectorized parquet path)") {
    warehouse
    spark.sql("CREATE TABLE IF NOT EXISTS geo.db.scan_t (id BIGINT, payload STRING, g BINARY) USING geo")
    spark.sql("INSERT INTO geo.db.scan_t SELECT id, concat('p', id), st_point(CAST(id AS DOUBLE), 0.0D) " +
      "FROM range(100)")
    val df = spark.sql("SELECT id FROM geo.db.scan_t WHERE id > 90")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)]"),
      s"filter must reach the parquet scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint>"),
      s"column pruning must reach the scan (no payload/g):\n$plan")
    assert(df.as[Long].collect().toSet == (91L to 99L).toSet)
  }

  test("GEOMETRY DDL via the SQL front-end lands in the catalog warehouse") {
    warehouse
    GeoSql.exec(spark, "CREATE TABLE geo.db.zones (zid INT, geo GEOMETRY) USING GEO")
    GeoSql.exec(spark, "INSERT INTO geo.db.zones VALUES " +
      "(1, st_polygonfromenvelope(0.0D, 0.0D, 10.0D, 10.0D))")
    // catalog sees it natively; GEOMETRY metadata tag survives resolution
    val schema = spark.table("geo.db.zones").schema
    assert(graft.tables.GeoSchema.geometryColumns(schema).map(_._1) == Seq("geo"),
      s"GEOMETRY tag must survive catalog resolution, got ${schema.json}")
    assert(spark.sql("SELECT st_area(geo) FROM geo.db.zones").head.getDouble(0) == 100.0)
  }

  test("native CREATE TABLE with the GEOMETRY type — no TBLPROPERTIES workaround") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    // Spark 4.1 parses GEOMETRY(srid)/GEOMETRY(ANY) natively behind this
    // conf; the catalog maps the GeometryType to geometry-tagged BINARY
    // (WKB) at CREATE time — no TBLPROPERTIES('geometry.column') needed
    spark.conf.set("spark.sql.geospatial.enabled", "true")
    try {
      spark.sql("CREATE TABLE geo.db.typed (id INT, geo GEOMETRY(4326)) USING geo")
      val m = GeoManifest.read(spark, s"$warehouse/db/typed")
      assert(m.geomCol.contains("geo"), s"GEOMETRY column must be auto-detected, got ${m.geomCol}")
      assert(graft.tables.GeoSchema.isGeometry(m.schema("geo")))
      assert(graft.tables.GeoSchema.crsOf(m.schema("geo")) == "EPSG:4326")
      spark.sql("INSERT INTO geo.db.typed SELECT 1, st_point(1.0D, 2.0D)")
      assert(spark.sql("SELECT st_astext(geo) FROM geo.db.typed").head.getString(0) == "POINT (1 2)")
      // DESCRIBE surfaces the geometry tag through table properties
      val props = spark.sql("DESCRIBE TABLE EXTENDED geo.db.typed").collect()
        .map(r => r.getString(0) + "=" + r.getString(1)).mkString("\n")
      assert(props.contains("geometry.column"), s"DESCRIBE must show the geometry tag:\n$props")
      // non-default SRID carries the CRS into the tag; GEOMETRY(ANY) maps
      // to the default CRS
      spark.sql("CREATE TABLE geo.db.typed_srid (id INT, geo GEOMETRY(3857)) USING geo")
      val m2 = GeoManifest.read(spark, s"$warehouse/db/typed_srid")
      assert(graft.tables.GeoSchema.crsOf(m2.schema("geo")) == "EPSG:3857")
      spark.sql("CREATE TABLE geo.db.typed_any (id INT, geo GEOMETRY(ANY)) USING geo")
      val mAny = GeoManifest.read(spark, s"$warehouse/db/typed_any")
      assert(graft.tables.GeoSchema.isGeometry(mAny.schema("geo")))
      // ALTER TABLE ADD COLUMN parses the native type too, and lands on
      // the same design rule as the front-end: adding a geometry column
      // post-hoc is rejected (per-file bbox stats would need a rewrite)
      val alterErr = intercept[Exception](
        spark.sql("ALTER TABLE geo.db.typed ADD COLUMN extra GEOMETRY(4326)"))
      assert(alterErr.getMessage.contains("cannot ADD a GEOMETRY column"),
        s"expected the targeted geometry-ADD rejection, got: ${alterErr.getMessage}")
      // the ST_ function surface on the typed column is the graft one
      assert(spark.sql("SELECT st_x(geo) FROM geo.db.typed").head.getDouble(0) == 1.0)
      // the bare `geo GEOMETRY` spelling (the reference's DDL, which the
      // native grammar does not know) still works via the front-end even
      // with the conf on — the step-aside is per-statement, not global
      spark.sql("CREATE TABLE geo.db.typed_bare (id INT, geo GEOMETRY) USING geo")
      val mb = GeoManifest.read(spark, s"$warehouse/db/typed_bare")
      assert(graft.tables.GeoSchema.isGeometry(mb.schema("geo")))
    } finally {
      spark.conf.set("spark.sql.geospatial.enabled", "false")
      Seq("typed", "typed_srid", "typed_any", "typed_bare")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS geo.db.$t"))
    }
  }

  test("spatial UPDATE / DELETE / MERGE run NATIVELY on catalog tables") {
    warehouse
    GeoSql.exec(spark, "CREATE TABLE geo.db.dml (id INT, flag INT, geo GEOMETRY) USING GEO")
    GeoSql.exec(spark, "INSERT INTO geo.db.dml SELECT id, 0, st_point(CAST(id AS DOUBLE), 0.0D) " +
      "FROM range(10)")
    // these parse and rewrite through Spark's OWN row-level path
    // (SupportsRowLevelOperations), not the GeoSql regex front-end —
    // native DML returns an empty frame, and the statement text never
    // reaches maybeCommand's registered-table guards
    assert(GeoSql.maybeCommand(
      "UPDATE geo.db.dml SET flag = 1 WHERE ST_Within(geo, st_makeenvelope(2.5D, -1.0D, 6.5D, 1.0D))").isEmpty)
    spark.sql(
      "UPDATE geo.db.dml SET flag = 1 WHERE ST_Within(geo, st_makeenvelope(2.5D, -1.0D, 6.5D, 1.0D))")
    spark.sql("DELETE FROM geo.db.dml WHERE id >= 8")
    val left = spark.sql("SELECT id, flag FROM geo.db.dml ORDER BY id").as[(Int, Int)].collect().toSeq
    assert(left.map(_._1) == (0 to 7))
    assert(left.filter(_._2 == 1).map(_._1) == Seq(3, 4, 5, 6))
    // native MERGE: update + delete + insert clauses with analyzer checks
    spark.sql(
      """MERGE INTO geo.db.dml t USING (
        |  SELECT CAST(id * 2 AS INT) AS sid, CAST(id AS DOUBLE) AS sx FROM range(8)
        |) s ON t.id = s.sid
        |WHEN MATCHED AND s.sid >= 6 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET flag = 9
        |WHEN NOT MATCHED THEN INSERT (id, flag, geo) VALUES (s.sid, -1, st_point(s.sx, 0.0D))
        |""".stripMargin)
    val merged = spark.sql("SELECT id, flag FROM geo.db.dml ORDER BY id")
      .as[(Int, Int)].collect().toSeq
    // matched even ids 0,2,4 updated to 9; 6 deleted; odd ids keep flags;
    // sources 8,10,12,14 inserted with flag -1
    assert(merged == Seq(0 -> 9, 1 -> 0, 2 -> 9, 3 -> 1, 4 -> 9, 5 -> 1, 7 -> 0,
      8 -> -1, 10 -> -1, 12 -> -1, 14 -> -1))
  }

  test("MERGE ... WHEN NOT MATCHED BY SOURCE runs natively (Spark 3.4+ clause)") {
    warehouse
    GeoSql.exec(spark, "CREATE TABLE geo.db.mbs (id INT, v STRING) USING GEO")
    GeoSql.exec(spark,
      "INSERT INTO geo.db.mbs SELECT id, concat('v', id) FROM range(10)")
    // target rows absent from the source are reachable as their own
    // clause — the full Delta/Iceberg MERGE surface, riding Spark's own
    // row-level rewrite (no front-end involvement)
    spark.sql(
      """MERGE INTO geo.db.mbs t USING (
        |  SELECT CAST(id AS INT) AS sid FROM range(3)
        |) s ON t.id = s.sid
        |WHEN MATCHED THEN UPDATE SET v = 'kept'
        |WHEN NOT MATCHED BY SOURCE AND t.id >= 8 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'
        |""".stripMargin)
    val out = spark.sql("SELECT id, v FROM geo.db.mbs ORDER BY id")
      .as[(Int, String)].collect().toSeq
    assert(out == Seq(0 -> "kept", 1 -> "kept", 2 -> "kept",
      3 -> "stale", 4 -> "stale", 5 -> "stale", 6 -> "stale", 7 -> "stale"))
  }

  test("native UPDATE rewrites only the files holding matches (CoW groups)") {
    warehouse
    spark.sql("CREATE TABLE geo.db.cow (id BIGINT, v INT, g BINARY) USING geo " +
      "TBLPROPERTIES('geometry.column'='g')")
    // four separate commits = four distinct data files
    (0 until 4).foreach { b =>
      spark.sql(s"INSERT INTO geo.db.cow SELECT id + ${b * 100}, 0, " +
        s"st_point(CAST(id + ${b * 100} AS DOUBLE), 0.0D) FROM range(100)")
    }
    val root = s"$warehouse/db/cow"
    val before = GeoManifest.read(spark, root)
    assert(before.files.length >= 4)
    // touches rows only in the b=1 block => runtime group filtering must
    // narrow the rewrite to the file(s) holding them
    spark.sql("UPDATE geo.db.cow SET v = 7 WHERE id >= 150 AND id < 160")
    val after = GeoManifest.read(spark, root)
    val beforeKeys = before.files.map(_.key).toSet
    val carried = after.files.count(f => beforeKeys.contains(f.key))
    assert(carried >= 3,
      s"untouched files must carry over by reference: before=${before.files.length}, " +
        s"after=${after.files.length}, carried=$carried")
    assert(after.files.map(_.rows).sum == 400)
    assert(spark.sql("SELECT COUNT(*) FROM geo.db.cow WHERE v = 7").head.getLong(0) == 10)
    // the _file metadata column is readable directly, like Iceberg's
    assert(spark.sql("SELECT DISTINCT _file FROM geo.db.cow").count() == after.files.length)
  }

  test("native ALTER TABLE ADD/RENAME/DROP COLUMN route through the catalog") {
    warehouse
    spark.sql("CREATE TABLE IF NOT EXISTS geo.db.evolve (id BIGINT, g BINARY) USING geo")
    spark.sql("INSERT INTO geo.db.evolve SELECT 1L, st_point(1.0D, 1.0D)")
    spark.sql("ALTER TABLE geo.db.evolve ADD COLUMNS (score DOUBLE, tag STRING)")
    assert(spark.table("geo.db.evolve").columns.toSeq == Seq("id", "g", "score", "tag"))
    spark.sql("ALTER TABLE geo.db.evolve RENAME COLUMN tag TO label")
    spark.sql("ALTER TABLE geo.db.evolve DROP COLUMN score")
    assert(spark.table("geo.db.evolve").columns.toSeq == Seq("id", "g", "label"))
    // pre-evolution rows read back with NULL for the added column
    assert(spark.sql("SELECT label FROM geo.db.evolve").head.isNullAt(0))
  }

  test("INSERT OVERWRITE replaces contents in one commit; DROP TABLE removes the table") {
    warehouse
    spark.sql("CREATE TABLE IF NOT EXISTS geo.db.ow (id BIGINT, g BINARY) USING geo")
    spark.sql("INSERT INTO geo.db.ow SELECT id, st_point(1.0D, 1.0D) FROM range(5)")
    spark.sql("INSERT OVERWRITE geo.db.ow SELECT id, st_point(2.0D, 2.0D) FROM range(3)")
    assert(spark.table("geo.db.ow").count() == 3)
    spark.sql("DROP TABLE geo.db.ow")
    intercept[Exception] { spark.table("geo.db.ow").count() }
  }

  test("CTAS with a catalog name lands in the warehouse and keeps geometry") {
    warehouse
    GeoSql.exec(spark, "CREATE TABLE geo.db.ctas_t USING GEO AS " +
      "SELECT id, st_point(CAST(id AS DOUBLE), 0.0D) AS geo FROM range(4)")
    assert(spark.table("geo.db.ctas_t").count() == 4)
    assert(GeoManifest.read(spark, s"$warehouse/db/ctas_t").geomCol.contains("geo"))
  }

  test("native DML commit rejects a concurrent rewrite of a scanned file") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE geo.db.conflict (id BIGINT, g BINARY) USING geo " +
      "TBLPROPERTIES('geometry.column'='g')")
    spark.sql("INSERT INTO geo.db.conflict SELECT 1L, st_point(0.0D, 0.0D)")
    val root = s"$warehouse/db/conflict"
    val m = GeoManifest.read(spark, root)
    // a scanned-file set naming a key that is NOT in the live manifest =
    // the state after a concurrent commit rewrote that file between this
    // operation's scan and its commit — must fail, not duplicate rows
    val stale = GeoManifest.FileEntry("/gone/part-00000.parquet", 1L, 0, 0, 0, 0)
    val w = new graft.tables.GeoCowBatchWrite(root, m.schema, () => Some(Seq(stale)))
    val e = intercept[java.util.ConcurrentModificationException](w.commit(Array.empty))
    assert(e.getMessage.contains("concurrent"), e.getMessage)
    // and the table is untouched
    assert(GeoManifest.read(spark, root).version == m.version)
  }

  test("PARTITIONED BY: supported transforms create; unsupported ones hint, not bare-error") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    // identity / bucket / days are native now (r11): DDL round-trips and
    // DESCRIBE shows the transforms
    spark.sql("CREATE TABLE geo.db.parted (id BIGINT, ts TIMESTAMP, g BINARY) USING geo " +
      "PARTITIONED BY (days(ts), bucket(16, id))")
    val desc = spark.sql("DESCRIBE TABLE geo.db.parted").collect().map(_.mkString("|")).mkString("\n")
    assert(desc.contains("days(ts)") && desc.contains("bucket(16, id)"), s"got:\n$desc")
    spark.sql("DROP TABLE geo.db.parted")
    // truncate is native too (r11): DDL round-trips on string columns
    spark.sql("CREATE TABLE geo.db.parted (id BIGINT, s STRING, g BINARY) USING geo " +
      "PARTITIONED BY (truncate(4, s))")
    val desc2 = spark.sql("DESCRIBE TABLE geo.db.parted").collect().map(_.mkString("|")).mkString("\n")
    assert(desc2.contains("truncate"), s"got:\n$desc2")
    spark.sql("DROP TABLE geo.db.parted")
    // an unsupported transform (truncate of a non-integral/string column)
    // still gets a targeted hint
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE geo.db.parted (id BIGINT, f DOUBLE, g BINARY) USING geo " +
        "PARTITIONED BY (truncate(4, f))"))
    assert(e.getMessage.contains("integral/string"),
      s"truncate on a double must name the accepted column types:\n${e.getMessage}")
    // and a transform on an incompatible column names the reason
    val e2 = intercept[Exception](spark.sql(
      "CREATE TABLE geo.db.parted (id BIGINT, s STRING, g BINARY) USING geo " +
        "PARTITIONED BY (days(s))"))
    assert(e2.getMessage.contains("date/timestamp"), e2.getMessage)
    assert(!spark.catalog.tableExists("geo.db.parted"))
  }

  test("trap: vanilla statements containing geo-shaped text stay with Spark") {
    warehouse
    // a string literal mentioning USING GEO / WHERE / VALUES must not mis-route
    val s = spark.sql("SELECT 'CREATE TABLE x (id INT) USING GEO' AS stmt").head.getString(0)
    assert(s.contains("USING GEO"))
    // UPDATE against a non-geo name is not intercepted: Spark's own error surfaces
    val err = intercept[Exception] {
      spark.sql("UPDATE not_a_geo_table SET x = 1 WHERE 'USING GEO' = 'y'")
    }
    assert(!err.getMessage.contains("geo table"),
      s"vanilla UPDATE must get Spark's error, not ours: ${err.getMessage}")
    // a parse failure inside the geo front-half bails to Spark rather than half-claiming
    assert(GeoSql.maybeCommand("MERGE INTO geo.db.dml USING").isEmpty)
  }

  test("catalog tables report real size statistics: small geo tables auto-broadcast") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE IF NOT EXISTS geo.db.dim (id BIGINT, name STRING) USING geo")
    spark.sql("INSERT INTO geo.db.dim SELECT id, concat('n', id) FROM range(100)")
    val big = spark.range(10000).withColumnRenamed("id", "id")
    val joined = big.join(spark.table("geo.db.dim"), "id")
    val plan = joined.queryExecution.executedPlan.toString
    // without SupportsReportStatistics the scan reports defaultSizeInBytes
    // (Long.Max) and this join sort-merges
    assert(plan.contains("BroadcastHashJoin"),
      s"100-row geo table must broadcast, got:\n$plan")
    assert(joined.count() == 100)
  }

  test("aggregate pushdown reaches parquet footers on plain catalog reads") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE IF NOT EXISTS geo.db.aggpd (id BIGINT, v DOUBLE) USING geo")
    spark.sql("INSERT INTO geo.db.aggpd SELECT id, id * 0.5 FROM range(1000)")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val df = spark.sql("SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM geo.db.aggpd")
      // pushdown rewrites the relation output to the pre-aggregated columns
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("count(*)#") && plan.contains("RelationV2"),
        s"count/min/max must push into the parquet footer scan:\n$plan")
      val desc = df.queryExecution.executedPlan.toString
      assert(desc.contains("PushedAggregation") || plan.contains("agg_func"),
        s"expected pushed aggregation marker:\n$desc")
      val r = df.head
      assert(r.getLong(0) == 1000 && r.getLong(1) == 0L && r.getLong(2) == 999L)
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
  }

  test("BatchWrite.abort after a successful commit never deletes live data") {
    warehouse
    val root = s"$warehouse/db/abortsafe"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE IF NOT EXISTS geo.db.abortsafe (id BIGINT) USING geo")
    spark.sql("INSERT INTO geo.db.abortsafe SELECT id FROM range(10)")
    val before = GeoManifest.read(spark, root)
    // drive the CoW write surface directly: replace ALL files with a
    // freshly written one, commit, then fire abort() as Spark would after
    // a post-commit hiccup — committed data must survive
    val bw = new graft.tables.GeoCowBatchWrite(root, before.schema,
      () => Some(before.files),
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    val factory = bw.createBatchWriterFactory(null)
    val w = factory.createWriter(0, 7L)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(Array[org.apache.spark.sql.types.DataType](org.apache.spark.sql.types.LongType))
    (100L until 105L).foreach { i =>
      w.write(proj(org.apache.spark.sql.catalyst.InternalRow(i)))
    }
    val msg = w.commit()
    bw.commit(Array(msg))
    assert(spark.table("geo.db.abortsafe").count() == 5)
    bw.abort(Array(msg)) // post-commit abort: must be a no-op for live files
    spark.sql("REFRESH TABLE geo.db.abortsafe")
    val ids = spark.table("geo.db.abortsafe").as[Long].collect().sorted.toSeq
    assert(ids == (100L until 105L).toSeq,
      s"abort after commit destroyed committed rows: $ids")
  }

  test("renameTable moves the table directory") {
    warehouse
    spark.sql("CREATE TABLE IF NOT EXISTS geo.db.oldname (id BIGINT) USING geo")
    // v2 semantics: the RENAME TO target is resolved within the same catalog
    spark.sql("ALTER TABLE geo.db.oldname RENAME TO db.newname")
    val tables = spark.sql("SHOW TABLES IN geo.db").select("tableName").as[String].collect().toSet
    assert(tables.contains("newname") && !tables.contains("oldname"), s"got $tables")
    spark.sql("DROP TABLE geo.db.newname")
  }

  test("column DEFAULTs through Spark's native DDL: every spelling, both sides") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("DROP TABLE IF EXISTS geo.db.dft")
    // CREATE TABLE with a DEFAULT (capability-gated native parse)
    spark.sql("CREATE TABLE geo.db.dft (id BIGINT, tier BIGINT DEFAULT 7) USING geo")
    spark.sql("INSERT INTO geo.db.dft (id) VALUES (1)")
    assert(spark.sql("SELECT tier FROM geo.db.dft WHERE id = 1").head.getLong(0) == 7)
    // parenthesized ALTER spelling — rides the native parser too
    spark.sql("ALTER TABLE geo.db.dft ADD COLUMNS (band INT DEFAULT 2 + 3)")
    // pre-existing row reads the FOLDED default; omitted-column insert fills it
    assert(spark.sql("SELECT band FROM geo.db.dft WHERE id = 1").head.getInt(0) == 5)
    spark.sql("INSERT INTO geo.db.dft (id) VALUES (2)")
    assert(spark.sql("SELECT tier, band FROM geo.db.dft WHERE id = 2").head ==
      org.apache.spark.sql.Row(7L, 5))
    // explicit DEFAULT keyword
    spark.sql("INSERT INTO geo.db.dft VALUES (3, 9, DEFAULT)")
    assert(spark.sql("SELECT tier, band FROM geo.db.dft WHERE id = 3").head ==
      org.apache.spark.sql.Row(9L, 5))
    spark.sql("DROP TABLE geo.db.dft")
  }

  test("SET/DROP DEFAULT moves future writes only; ADD-time fill is history") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("DROP TABLE IF EXISTS geo.db.sdf")
    spark.sql("CREATE TABLE geo.db.sdf (id BIGINT) USING geo")
    spark.sql("INSERT INTO geo.db.sdf VALUES (1)") // pre-add row
    spark.sql("ALTER TABLE geo.db.sdf ADD COLUMNS (tier BIGINT DEFAULT 7)")
    spark.sql("ALTER TABLE geo.db.sdf ALTER COLUMN tier SET DEFAULT 99")
    spark.sql("INSERT INTO geo.db.sdf (id) VALUES (2)") // new current default
    // the pre-add row KEEPS reading the ADD-time constant — SET DEFAULT
    // must not rewrite committed history
    assert(spark.sql("SELECT tier FROM geo.db.sdf WHERE id = 1").head.getLong(0) == 7)
    assert(spark.sql("SELECT tier FROM geo.db.sdf WHERE id = 2").head.getLong(0) == 99)
    spark.sql("ALTER TABLE geo.db.sdf ALTER COLUMN tier DROP DEFAULT")
    spark.sql("INSERT INTO geo.db.sdf (id) VALUES (3)") // NULL again
    assert(spark.sql("SELECT tier FROM geo.db.sdf WHERE id = 3").head.isNullAt(0))
    assert(spark.sql("SELECT tier FROM geo.db.sdf WHERE id = 1").head.getLong(0) == 7)
    // validation still bites through the ALTER spelling
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE geo.db.sdf ALTER COLUMN tier SET DEFAULT rand()"))
    assert(e.getMessage.contains("constant") || e.getMessage.contains("DEFAULT"),
      e.getMessage)
    spark.sql("DROP TABLE geo.db.sdf")
  }

  test("path INSERT with a column list fills declared DEFAULTs, not NULL") {
    warehouse
    val root = java.nio.file.Files.createTempDirectory("geo_dft_p").toString + "/t"
    GeoTable.create(spark, root, Seq((1L, 10L)).toDF("id", "amt"), geomCol = None)
    GeoTable.register(spark, "dft_path_t", root)
    GeoSql.exec(spark, "ALTER TABLE dft_path_t ADD COLUMN tier BIGINT DEFAULT 40 + 2")
    GeoSql.exec(spark, "INSERT INTO dft_path_t (id, amt) SELECT 2L, 20L")
    val rows = GeoTable.read(spark, root).orderBy("id")
      .select("id", "tier").as[(Long, Long)].collect().toSeq
    // row 1 reads the default via EXISTS_DEFAULT; row 2 had it WRITTEN via
    // the front-end's CURRENT_DEFAULT fill (not a physical NULL)
    assert(rows == Seq((1L, 42L), (2L, 42L)), rows)
  }

  test("RESTORE TABLE rolls back data as a new history-preserving commit") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE geo.db.rst (id BIGINT, v STRING) USING geo")
    spark.sql("INSERT INTO geo.db.rst SELECT id, 'a' FROM range(0, 10)")   // v1
    spark.sql("INSERT INTO geo.db.rst SELECT id, 'b' FROM range(10, 15)")  // v2
    spark.sql("DELETE FROM geo.db.rst WHERE id < 3")                       // v3
    assert(spark.table("geo.db.rst").count() == 12)

    val restored = spark.sql("RESTORE TABLE geo.db.rst TO VERSION AS OF 1").head.getLong(0)
    assert(restored == 10, s"restore returns the snapshot's row count, got $restored")
    val root = s"$warehouse/db/rst"
    val m = GeoManifest.read(spark, root)
    assert(m.version == 4, "restore is a NEW commit, not a pointer rewind")
    assert(spark.table("geo.db.rst").select(sum("id")).head.getLong(0) == 45L)
    assert(spark.table("geo.db.rst").where("v = 'b'").count() == 0)
    // the undone versions stay time-travelable until vacuum
    assert(spark.sql("SELECT COUNT(*) FROM geo.db.rst VERSION AS OF 3").head.getLong(0) == 12)
    // restore forward again: the rolled-back state is itself a snapshot
    spark.sql("RESTORE TABLE geo.db.rst TO VERSION AS OF 3")
    assert(spark.table("geo.db.rst").count() == 12)
    // timestamp form resolves through the same rule as TIMESTAMP AS OF
    val ts1 = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(GeoManifest.commitTsOf(spark, root, 1)))
    spark.sql(s"RESTORE TABLE geo.db.rst TO TIMESTAMP AS OF '$ts1'")
    assert(spark.table("geo.db.rst").count() == 10)
  }

  test("RESTORE refuses a vacuumed snapshot instead of committing dangling files") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE geo.db.rsv (id BIGINT) USING geo")
    spark.sql("INSERT INTO geo.db.rsv SELECT id FROM range(0, 5)")     // v1
    spark.sql("INSERT OVERWRITE geo.db.rsv SELECT id FROM range(5, 8)") // v2 (replaces files)
    val root = s"$warehouse/db/rsv"
    GeoTable.vacuum(spark, root, keepVersions = 1)
    val e = intercept[Exception] {
      spark.sql("RESTORE TABLE geo.db.rsv TO VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("vacuum"), s"got: ${e.getMessage}")
    // table unharmed
    assert(spark.table("geo.db.rsv").count() == 3)
  }

  test("SET/UNSET TBLPROPERTIES resolve natively; SHOW + t.properties surface them") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE geo.db.props (id BIGINT) USING geo")
    spark.sql("INSERT INTO geo.db.props VALUES (1), (2)")
    // Spark's native parser → alterTable(SetProperty) → one manifest
    // commit ('owner'/'location'/'provider' are SPARK-reserved in SQL —
    // its parser refuses them before the catalog ever sees the change)
    spark.sql("ALTER TABLE geo.db.props SET TBLPROPERTIES " +
      "('team'='data-eng', 'retention.days'='30')")
    val root = s"$warehouse/db/props"
    val m1 = GeoManifest.read(spark, root)
    assert(m1.props == Map("team" -> "data-eng", "retention.days" -> "30"))
    assert(m1.op.contains("set-properties"))
    // SHOW TBLPROPERTIES rides properties(); user keys surface verbatim
    val shown = spark.sql("SHOW TBLPROPERTIES geo.db.props")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown("team") == "data-eng" && shown("retention.days") == "30")
    // t.properties metadata table: USER props only, sorted
    val meta = spark.sql("SELECT key, value FROM geo.db.props.properties")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(meta == Seq("retention.days" -> "30", "team" -> "data-eng"))
    // UNSET removes; both changes in their own single commits
    spark.sql("ALTER TABLE geo.db.props UNSET TBLPROPERTIES ('retention.days')")
    assert(GeoTable.properties(spark, root) == Map("team" -> "data-eng"))
    // props ride data commits untouched
    spark.sql("INSERT INTO geo.db.props VALUES (3)")
    assert(GeoTable.properties(spark, root) == Map("team" -> "data-eng"))
    // reserved config keys refuse loudly instead of half-working
    val err = intercept[Exception](spark.sql(
      "ALTER TABLE geo.db.props SET TBLPROPERTIES ('sort.order'='id')"))
    assert(err.getMessage.contains("reserved"), err.getMessage)
  }

  test("CREATE-time TBLPROPERTIES persist as user props; config keys stay config") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    // user keys land in the manifest; the consumed config keys
    // (geometry.column / sort.order / ...) and Spark-injected metadata
    // (owner/provider/...) do NOT masquerade as user properties
    spark.sql("CREATE TABLE geo.db.cprops (id BIGINT, g BINARY) USING geo " +
      "TBLPROPERTIES ('geometry.column'='g', 'sort.order'='id', " +
      "'team'='data-eng', 'pipeline'='ingest-v2')")
    val root = s"$warehouse/db/cprops"
    val m = GeoManifest.read(spark, root)
    assert(m.props == Map("team" -> "data-eng", "pipeline" -> "ingest-v2"), m.props)
    assert(m.geomCol.contains("g"), "config keys must still configure")
    assert(m.partitions.exists(p => p.kind == "sort" && p.col == "id"))
    // ... and they survive INSERTs + surface through SHOW TBLPROPERTIES
    spark.sql("INSERT INTO geo.db.cprops SELECT 1L, st_point(1.0D, 2.0D)")
    val shown = spark.sql("SHOW TBLPROPERTIES geo.db.cprops")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("team").contains("data-eng") &&
      shown.get("pipeline").contains("ingest-v2"), shown)
    // a RESERVED manifest key at CREATE refuses loudly (never a silent
    // drop, never a fake user prop shadowing the derived fact)
    val err = intercept[Exception](spark.sql(
      "CREATE TABLE geo.db.cprops2 (id BIGINT) USING geo " +
        "TBLPROPERTIES ('format-version'='9')"))
    assert(err.getMessage.contains("reserved"), err.getMessage)
    assert(!spark.catalog.tableExists("geo.db.cprops2"))
  }

  test("RESTORE keeps streaming watermarks monotone (epoch dedup survives rollback)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    spark.sql("CREATE TABLE geo.db.rsw (id BIGINT) USING geo")
    val root = s"$warehouse/db/rsw"
    GeoTable.append(spark, root, Seq(1L).toDF("id"), streamCommit = Some("sinkA" -> 7L)) // v1
    GeoTable.append(spark, root, Seq(2L).toDF("id"), streamCommit = Some("sinkA" -> 8L)) // v2
    GeoTable.restore(spark, root, 1)
    val m = GeoManifest.read(spark, root)
    assert(m.streamCommits == Map("sinkA" -> 8L),
      s"watermarks must NOT roll back with the data, got ${m.streamCommits}")
    assert(spark.table("geo.db.rsw").count() == 1)
  }
}
