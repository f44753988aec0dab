package graft

import graft.tables.{GeoCatalog, GeoManifest, GeoPartition, GeoSql, GeoTable}

import org.apache.spark.sql.functions._

/**
 * Equality deletes (Iceberg v2 equality-delete analog):
 * keyed DELETE/UPSERT commit a key sidecar in O(keys) — no data-file
 * scan or rewrite — and every read path anti-joins the keys back out,
 * scoped by per-file data sequence numbers so later appends (including
 * the upsert's own rows) are exempt. OPTIMIZE folds them away.
 */
class GeoEqDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(n: Int = 100, nFiles: Int = 4): String = {
    val root = java.nio.file.Files.createTempDirectory("geo_eq").toString + "/t"
    val df = spark.range(n).select($"id",
      concat(lit("v"), $"id").as("v")).repartition(nFiles)
    GeoTable.create(spark, root, df, None)
    root
  }

  test("deleteByKey hides exactly the keyed rows without touching data files") {
    val root = freshTable()
    val before = GeoManifest.read(spark, root)
    val n = GeoTable.deleteByKey(spark, root, Seq("id"),
      Seq(3L, 17L, 42L, 999L).toDF("id")) // 999 matches nothing — still a key
    assert(n == 4, s"4 distinct key tuples filed, got $n")
    val after = GeoManifest.read(spark, root)
    assert(after.files.map(_.key).toSet == before.files.map(_.key).toSet,
      "equality delete must not rewrite data files")
    assert(after.eqDeletes.nonEmpty && after.deletes.isEmpty)
    val ids = GeoTable.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 100L).filterNot(Set(3L, 17L, 42L)))
    // time travel: the pre-delete snapshot still shows all rows
    assert(GeoTable.readAt(spark, root, before.version).count() == 100)
  }

  test("equality and CoW DELETE produce identical visible rows") {
    val rootA = freshTable(200, 5)
    val rootB = freshTable(200, 5)
    val keys = (0L until 200L).filter(i => i % 17 == 3 || i == 111L)
    val nA = GeoTable.delete(spark, rootA, $"id".isin(keys: _*), mode = "cow")
    val nB = GeoTable.deleteByKey(spark, rootB, Seq("id"), keys.toDF("id"))
    assert(nA == keys.length && nB == keys.length)
    val a = GeoTable.read(spark, rootA).as[(Long, String)].collect().sortBy(_._1).toSeq
    val b = GeoTable.read(spark, rootB).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(a == b, "CoW and equality-delete reads must be indistinguishable")
    assert(GeoManifest.read(spark, rootB).eqDeletes.nonEmpty)
  }

  test("upsertByKey replaces keyed rows atomically; its own rows survive") {
    val root = freshTable(50, 3)
    val upserts = Seq((10L, "NEW10"), (20L, "NEW20"), (77L, "NEW77")).toDF("id", "v")
    val n = GeoTable.upsertByKey(spark, root, Seq("id"), upserts)
    assert(n == 3)
    val got = GeoTable.read(spark, root).as[(Long, String)].collect().sortBy(_._1).toSeq
    val want = ((0L until 50L).filterNot(Set(10L, 20L)).map(i => (i, s"v$i")) ++
      Seq((10L, "NEW10"), (20L, "NEW20"), (77L, "NEW77"))).sortBy(_._1)
    assert(got == want, s"got $got")
    // one atomic commit: delete + append share a version
    val m = GeoManifest.read(spark, root)
    assert(m.version == 1 && m.eqDeletes.nonEmpty)
    // a second upsert on the same key wins again (versions stack)
    GeoTable.upsertByKey(spark, root, Seq("id"), Seq((10L, "NEWER10")).toDF("id", "v"))
    val v10 = GeoTable.read(spark, root).where($"id" === 10L)
      .select($"v").as[String].collect().toSeq
    assert(v10 == Seq("NEWER10"))
  }

  test("multi-column keys and null keys: null never matches") {
    val root = java.nio.file.Files.createTempDirectory("geo_eq").toString + "/t"
    val df = Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "a", 3.0),
      (3L, null.asInstanceOf[String], 4.0)).toDF("k1", "k2", "x")
    GeoTable.create(spark, root, df, None)
    GeoTable.deleteByKey(spark, root, Seq("k1", "k2"),
      Seq((1L, "a"), (3L, null.asInstanceOf[String])).toDF("k1", "k2"))
    val got = GeoTable.read(spark, root).select($"x").as[Double].collect().sorted.toSeq
    // (1,a) deleted; the (3,null) key tuple is dropped, so row x=4.0 stays
    assert(got == Seq(2.0, 3.0, 4.0), s"got $got")
  }

  test("driver sidecar fast path == distributed path (ranges, casts, nulls)") {
    // literal key sets route to the driver-side sidecar writer (zero
    // Spark jobs); forcing driverMaxKeys=0 sends the SAME keys down the
    // distributed path — resulting state and manifest entries must agree
    def build(tag: String, force: Boolean): (String, GeoManifest.EqDeleteEntry, Seq[Long]) = {
      val root = java.nio.file.Files.createTempDirectory(s"geo_eqdrv$tag").toString + "/t"
      GeoTable.create(spark, root,
        spark.range(200).select($"id", concat(lit("v"), $"id").as("v"))
          .repartitionByRange(4, $"id"), None,
        partitions = Seq(GeoPartition.PTransform("stats", 0, "id")))
      try {
        if (force) spark.conf.set("spark.graft.eqdelete.driverMaxKeys", "0")
        // INT literals against the BIGINT key: the cast must widen, dups
        // and a null must drop, ranges must record over casted values
        GeoTable.deleteByKey(spark, root, Seq("id"),
          Seq[Integer](150, 155, 155, null).toDF("id"))
      } finally spark.conf.unset("spark.graft.eqdelete.driverMaxKeys")
      val m = GeoManifest.read(spark, root)
      (root, m.eqDeletes.head,
        GeoTable.read(spark, root).select($"id").as[Long].collect().sorted.toSeq)
    }
    val (_, eDrv, rowsDrv) = build("a", force = false)
    val (_, eDst, rowsDst) = build("b", force = true)
    assert(rowsDrv == rowsDst && rowsDrv.length == 198)
    assert(eDrv.rows == 2 && eDst.rows == 2, s"${eDrv.rows} vs ${eDst.rows}")
    assert(eDrv.kmin == eDst.kmin && eDrv.kmax == eDst.kmax &&
      eDrv.kmin.contains(150L) && eDrv.kmax.contains(155L))
    // the driver-written sidecar parquet reads back with the table types
    assert(spark.read.parquet(eDrv.path).as[Long].collect().sorted.toSeq == Seq(150L, 155L))
    // a keys frame with the key COLUMNS' NAMES in a different order
    // binds by name, not position (positional binding only applies to
    // anonymous/derived frames)
    val r4 = java.nio.file.Files.createTempDirectory("geo_eqdrvo").toString + "/t"
    GeoTable.create(spark, r4,
      Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("k", "s"), None)
    GeoTable.deleteByKey(spark, r4, Seq("k", "s"),
      Seq(("x", 1L), ("y", 2L)).toDF("s", "k")) // reversed column order
    assert(GeoTable.read(spark, r4).select($"k").as[Long].collect().sorted.toSeq ==
      Seq(3L), "reordered same-named key columns must bind by name")

    // malformed casts fail loudly on BOTH paths
    val r3 = java.nio.file.Files.createTempDirectory("geo_eqdrvc").toString + "/t"
    GeoTable.create(spark, r3, spark.range(10).toDF("id"), None)
    val bad = intercept[IllegalArgumentException] {
      GeoTable.deleteByKey(spark, r3, Seq("id"), Seq("5", "oops").toDF("id"))
    }
    assert(bad.getMessage.contains("malformed"), bad.getMessage)
  }

  test("catalog SQL reads merge equality deletes, pruned columns included") {
    val wh = java.nio.file.Files.createTempDirectory("geo_eq_wh").toString
    spark.conf.set("spark.sql.catalog.geoeq", classOf[GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.geoeq.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geoeq.db")
    spark.sql("CREATE TABLE geoeq.db.t (id BIGINT, v STRING) USING geo")
    spark.sql("INSERT INTO geoeq.db.t SELECT id, concat('v', id) FROM range(0, 60)")
    GeoTable.deleteByKey(spark, s"$wh/db/t", Seq("id"), Seq(5L, 6L, 7L).toDF("id"))
    // full row read
    val ids = spark.sql("SELECT id FROM geoeq.db.t ORDER BY id").as[Long].collect().toSeq
    assert(ids == (0L until 60L).filterNot(Set(5L, 6L, 7L)))
    // pruned read NOT containing the key column: v for the deleted ids gone
    val vs = spark.sql("SELECT v FROM geoeq.db.t").as[String].collect().toSet
    assert(!vs("v5") && !vs("v6") && vs("v8"))
    assert(spark.sql("SELECT COUNT(*) FROM geoeq.db.t").as[Long].head() == 57)
    // appends after the delete are exempt, even with recycled keys
    spark.sql("INSERT INTO geoeq.db.t SELECT id, 'resurrected' FROM range(5, 7)")
    val got = spark.sql("SELECT v FROM geoeq.db.t WHERE id IN (5, 6) ORDER BY v")
      .as[String].collect().toSeq
    assert(got == Seq("resurrected", "resurrected"), s"got $got")
  }

  test("equality deletes compose with MoR position deletes and CoW rewrites") {
    val root = freshTable(100, 4)
    GeoTable.delete(spark, root, $"id" === 1L, mode = "mor")           // v1 pos sidecar
    GeoTable.deleteByKey(spark, root, Seq("id"), Seq(2L, 3L).toDF("id")) // v2 eq
    GeoTable.delete(spark, root, $"id" === 4L, mode = "cow")           // v3 rewrite
    val ids = GeoTable.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 100L).filterNot(Set(1L, 2L, 3L, 4L)), s"got $ids")
    // the CoW rewrite must not resurrect eq-deleted rows (rewritten files
    // carry a new sequence number, but their rows were merged pre-rewrite)
    val m = GeoManifest.read(spark, root)
    assert(m.eqDeletes.nonEmpty && m.deletes.nonEmpty)
    assert(GeoTable.read(spark, root).count() == 96)
  }

  test("OPTIMIZE folds equality deletes; manifest drops back below v6") {
    val root = freshTable(80, 4)
    GeoTable.deleteByKey(spark, root, Seq("id"), Seq(8L, 9L).toDF("id"))
    GeoTable.compact(spark, root, targetFiles = 2)
    val m = GeoManifest.read(spark, root)
    assert(m.eqDeletes.isEmpty && m.deletes.isEmpty, "compaction folds sidecars")
    assert(GeoTable.read(spark, root).count() == 78)
    assert(GeoTable.read(spark, root).where($"id".isin(8L, 9L)).count() == 0)
  }

  test("manifests round-trip addedAt; fully-inapplicable deletes are GC'd") {
    // every file line carries its data sequence number: a file appended
    // before any delete exists keeps its true version, and so do files
    // appended while a delete is live
    val root = freshTable(40, 2)                                           // v0
    GeoTable.append(spark, root, spark.range(40, 50)
      .select($"id", concat(lit("v"), $"id").as("v")))                     // v1
    assert(GeoManifest.read(spark, root).files.map(_.addedAt).toSet == Set(0, 1),
      "a file appended before any delete keeps its true version")
    GeoTable.deleteByKey(spark, root, Seq("id"), Seq(0L, 45L, 105L).toDF("id")) // v2
    GeoTable.append(spark, root, spark.range(100, 110)
      .select($"id", concat(lit("v"), $"id").as("v")))                     // v3
    val m = GeoManifest.read(spark, root)
    assert(m.files.map(_.addedAt).toSet == Set(0, 1, 3),
      s"addedAt must persist, got ${m.files.map(_.addedAt).distinct}")
    assert(m.eqDeletes.head.version == 2)
    // the v3 append is EXEMPT from the v2 delete: id 105 lives, ids 0 and
    // 45 (files added at v0 and v1) do not
    val got = GeoTable.read(spark, root).where($"id".isin(0L, 45L, 105L))
      .select($"id").as[Long].collect().toSeq
    assert(got == Seq(105L), s"got $got")
    // CoW-rewrite every file: the delete applies to nothing afterwards -> GC'd
    GeoTable.delete(spark, root, $"id" >= 0L, mode = "cow")
    assert(GeoManifest.read(spark, root).eqDeletes.isEmpty,
      "an equality delete no remaining file predates must be GC'd at commit")
  }

  test("changes() and netChanges() emit equality-deleted rows as deletes") {
    val root = freshTable(50, 3)                                        // v0
    GeoTable.deleteByKey(spark, root, Seq("id"), Seq(4L, 9L).toDF("id")) // v1
    val ch = GeoTable.changes(spark, root, 0, 1)
      .select($"id", col("_change_type").as("ct")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(ch == Seq((4L, "delete"), (9L, "delete")), s"got $ch")
    val net = GeoTable.netChanges(spark, root, 0, 1)
      .select($"id", col("_change_type").as("ct")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(net == Seq((4L, "delete"), (9L, "delete")), s"got $net")
    // an upsert commit nets to delete(old) + insert(new)
    GeoTable.upsertByKey(spark, root, Seq("id"), Seq((5L, "NEW5")).toDF("id", "v")) // v2
    val up = GeoTable.netChanges(spark, root, 1, 2)
      .select($"id", $"v", col("_change_type").as("ct")).as[(Long, String, String)]
      .collect().sortBy(r => (r._3, r._1)).toSeq
    assert(up == Seq((5L, "v5", "delete"), (5L, "NEW5", "insert")), s"got $up")
  }

  test("CDC stream replays equality deletes row-granularly, stream==batch") {
    val wh = java.nio.file.Files.createTempDirectory("geo_eqcd_wh").toString
    spark.conf.set("spark.sql.catalog.geoeqc", classOf[GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.geoeqc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geoeqc.db")
    spark.sql("CREATE TABLE geoeqc.db.t (id BIGINT, v STRING) USING geo")
    spark.sql("INSERT INTO geoeqc.db.t SELECT id, concat('v', id) FROM range(0, 30)") // v1
    GeoTable.deleteByKey(spark, s"$wh/db/t", Seq("id"), Seq(3L, 11L).toDF("id"))      // v2
    GeoTable.upsertByKey(spark, s"$wh/db/t", Seq("id"),
      Seq((11L, "BACK11")).toDF("id", "v"))                                           // v3
    val q = spark.readStream.table("geoeqc.db.t.changes")
      .writeStream.format("memory").queryName("geo_eq_cdc").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String, Int)] =
      df.select($"id", $"v", col("_change_type").as("ct"), col("_commit_version").as("cv"))
        .as[(Long, String, String, Int)].collect().sortBy(r => (r._4, r._3, r._1)).toSeq
    val streamed = canon(spark.table("geo_eq_cdc"))
    val batch = canon(GeoTable.changes(spark, s"$wh/db/t", 0, 3))
    assert(streamed == batch, s"stream must equal batch:\n$streamed\nvs\n$batch")
    assert(streamed.filter(_._4 == 2) ==
      Seq((3L, "v3", "delete", 2), (11L, "v11", "delete", 2)))
    // the upsert streams as delete(pre-image) at its version + insert(new)
    assert(streamed.filter(_._4 == 3).toSet ==
      Set((11L, "BACK11", "insert", 3)), s"v3 legs: ${streamed.filter(_._4 == 3)}")
  }

  test("live sidecar volume is bounded: crossing the ceiling folds inline") {
    val root = freshTable(400, 8)
    spark.conf.set("spark.graft.mor.maxLiveDeleteRows", "25")
    try {
      // two keyed deletes of 10 rows each stay under the 25-row ceiling
      GeoTable.deleteByKey(spark, root, Seq("id"), (0L until 10L).toDF("id"))
      GeoTable.delete(spark, root, $"id" >= 10L && $"id" < 20L, mode = "mor")
      val m1 = GeoManifest.read(spark, root)
      assert(m1.eqDeletes.nonEmpty && m1.deletes.nonEmpty, "under the bound: sidecars live")
      // the third crosses 25 total live delete rows -> inline fold commit:
      // only sidecar-touched files rewrite, all sidecars clear
      GeoTable.deleteByKey(spark, root, Seq("id"), (20L until 30L).toDF("id"))
      val m2 = GeoManifest.read(spark, root)
      assert(m2.eqDeletes.isEmpty && m2.deletes.isEmpty,
        s"crossing the ceiling must fold sidecars (eq=${m2.eqDeletes.length}, pos=${m2.deletes.length})")
      assert(m2.version == m1.version + 2, "DML commit + one maintenance commit")
      val ids = GeoTable.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
      assert(ids == (30L until 400L), s"fold must preserve visible rows")
    } finally spark.conf.unset("spark.graft.mor.maxLiveDeleteRows")
  }

  test("equality deletes on a partitioned table: pruning + upsert clustering hold") {
    val wh = java.nio.file.Files.createTempDirectory("geo_eqpt_wh").toString
    spark.conf.set("spark.sql.catalog.geoeqp", classOf[GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.geoeqp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geoeqp.db")
    spark.sql("CREATE TABLE geoeqp.db.t (id BIGINT, v STRING) USING geo " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO geoeqp.db.t SELECT id, concat('v', id) FROM range(0, 400)")
    GeoTable.deleteByKey(spark, s"$wh/db/t", Seq("id"), Seq(7L, 8L).toDF("id"))
    GeoTable.upsertByKey(spark, s"$wh/db/t", Seq("id"),
      Seq((9L, "NEW9"), (500L, "NEW500")).toDF("id", "v"))
    // the upsert's fresh files carry partition stats (layout applied)
    val m = GeoManifest.read(spark, s"$wh/db/t")
    assert(m.files.filter(_.rows > 0).forall(_.pstats.nonEmpty),
      "upsert commits must keep per-file transform stats")
    // merged read through a bucket-pruned scan
    val got = spark.sql("SELECT v FROM geoeqp.db.t WHERE id IN (7, 8, 9, 500) ORDER BY v")
      .as[String].collect().toSeq
    assert(got == Seq("NEW500", "NEW9"), s"got $got")
    assert(spark.sql("SELECT COUNT(*) FROM geoeqp.db.t").head.getLong(0) == 399)
  }

  test("the plain streaming source treats an equality-delete commit as non-append") {
    val wh = java.nio.file.Files.createTempDirectory("geo_eqst_wh").toString
    spark.conf.set("spark.sql.catalog.geoeqs", classOf[GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.geoeqs.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geoeqs.db")
    spark.sql("CREATE TABLE geoeqs.db.t (id BIGINT, v STRING) USING geo")
    spark.sql("INSERT INTO geoeqs.db.t SELECT id, 'a' FROM range(0, 10)")
    GeoTable.deleteByKey(spark, s"$wh/db/t", Seq("id"), Seq(3L).toDF("id"))
    // appends-only stream must fail with guidance on the eqdelete commit
    val q = spark.readStream.table("geoeqs.db.t")
      .writeStream.format("memory").queryName("geo_eq_stream").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    val msg = err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("non-append"), s"got: $msg")
    // skip-overwrite-commits skips it (appends-only view)
    val q2 = spark.readStream.option("skip-overwrite-commits", "true")
      .table("geoeqs.db.t")
      .writeStream.format("memory").queryName("geo_eq_stream_skip").start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.table("geo_eq_stream_skip").count() == 10,
      "skip mode replays the append only (pre-delete rows)")
  }

  test("SQL DELETE WHERE k IN (...) on a catalog table auto-selects the eq-delete mode") {
    val wh = java.nio.file.Files.createTempDirectory("geo_eqsql_wh").toString
    spark.conf.set("spark.sql.catalog.geoeqsql", classOf[GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.geoeqsql.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geoeqsql.db")
    spark.sql("CREATE TABLE geoeqsql.db.t (id BIGINT, v STRING) USING geo")
    spark.sql("INSERT INTO geoeqsql.db.t SELECT id, concat('v', id) FROM range(0, 100)")
    val root = s"$wh/db/t"
    val before = GeoManifest.read(spark, root)

    // keyed IN-list: eq sidecar, NO data file rewritten, no scan-based probe
    spark.sql("DELETE FROM geoeqsql.db.t WHERE id IN (3, 17, 42)")
    val afterIn = GeoManifest.read(spark, root)
    assert(afterIn.files.map(_.key).toSet == before.files.map(_.key).toSet,
      "keyed DELETE must not rewrite or drop data files")
    assert(afterIn.eqDeletes.length == 1 && afterIn.deletes.isEmpty,
      s"want one eq sidecar, got eq=${afterIn.eqDeletes.length} pos=${afterIn.deletes.length}")
    assert(afterIn.eqDeletes.head.rows == 3)
    assert(sql1("SELECT COUNT(*) FROM geoeqsql.db.t") == 97L)

    // keyed equality: same path
    spark.sql("DELETE FROM geoeqsql.db.t WHERE id = 50")
    val afterEq = GeoManifest.read(spark, root)
    assert(afterEq.eqDeletes.length == 2 && afterEq.deletes.isEmpty)
    assert(sql1("SELECT COUNT(*) FROM geoeqsql.db.t") == 96L)

    // NON-keyed predicate: falls back to the row-level rewrite paths
    spark.sql("DELETE FROM geoeqsql.db.t WHERE id < 10")
    val afterRange = GeoManifest.read(spark, root)
    assert(afterRange.eqDeletes.length <= 2, "a range DELETE must not mint eq sidecars")
    assert(sql1("SELECT COUNT(*) FROM geoeqsql.db.t") == 87L) // 10 minus the already-gone id 3

    // TRUNCATE TABLE: pure-metadata empty snapshot
    spark.sql("TRUNCATE TABLE geoeqsql.db.t")
    assert(sql1("SELECT COUNT(*) FROM geoeqsql.db.t") == 0L)
    assert(GeoManifest.read(spark, root).files.isEmpty)
  }

  test("path-table SQL: keyed DELETE (subquery) and keyed MERGE take the eq path") {
    val root = freshTable(80, 4)
    GeoTable.register(spark, "eqsql_t", root)
    spark.range(0, 80).filter($"id" % 9 === 2).select($"id".as("k"))
      .createOrReplaceTempView("eqsql_keys")
    val before = GeoManifest.read(spark, root)

    // IN (subquery): eq sidecar, no rewrite
    GeoSql.exec(spark, "DELETE FROM eqsql_t WHERE id IN (SELECT k FROM eqsql_keys)")
    val after1 = GeoManifest.read(spark, root)
    assert(after1.files.map(_.key).toSet == before.files.map(_.key).toSet)
    assert(after1.eqDeletes.length == 1, s"got ${after1.eqDeletes.length}")
    val gone = (0L until 80L).filter(_ % 9 == 2).toSet
    assert(GeoTable.read(spark, root).select($"id").as[Long].collect().toSet ==
      (0L until 80L).toSet.diff(gone))

    // keyed MERGE (ON t.id = s.id, full-row UPDATE + INSERT *): upsertByKey
    spark.range(0, 5).select(($"id" * 10).as("id"), lit("UP").as("v"))
      .createOrReplaceTempView("eqsql_src")
    GeoSql.exec(spark,
      """MERGE INTO eqsql_t t USING eqsql_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET id = s.id, v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after2 = GeoManifest.read(spark, root)
    assert(after2.files.map(_.key).toSet.intersect(before.files.map(_.key).toSet) ==
      before.files.map(_.key).toSet, "keyed MERGE must append, never rewrite target files")
    assert(after2.eqDeletes.length == 2, s"got ${after2.eqDeletes.length}")
    val got = GeoTable.read(spark, root).as[(Long, String)].collect().toMap
    Seq(0L, 10L, 20L, 30L, 40L).foreach(k => assert(got(k) == "UP", s"key $k: ${got.get(k)}"))
    assert(got(1L) == "v1", "unmatched target rows untouched")

    // a PARTIAL update (not full-row) must use the classic CoW merge
    GeoSql.exec(spark,
      """MERGE INTO eqsql_t t USING eqsql_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = 'partial'""".stripMargin)
    val after3 = GeoManifest.read(spark, root)
    assert(after3.eqDeletes.length <= 2, "partial MERGE must not mint eq sidecars")
    assert(GeoTable.read(spark, root).where($"v" === "partial").count() == 5)
  }

  test("sidecar materializations are memoized: repeated scans load once") {
    val wh = java.nio.file.Files.createTempDirectory("geo_eqc_wh").toString
    spark.conf.set("spark.sql.catalog.geoeqmc", classOf[GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.geoeqmc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geoeqmc.db")
    spark.sql("CREATE TABLE geoeqmc.db.t (id BIGINT, v STRING) USING geo")
    spark.sql("INSERT INTO geoeqmc.db.t SELECT id, concat('v', id) FROM range(0, 100)")
    val root = s"$wh/db/t"
    GeoTable.delete(spark, root, $"id" === 1L, mode = "mor")             // pos sidecar
    GeoTable.deleteByKey(spark, root, Seq("id"), Seq(2L, 3L).toDF("id")) // eq sidecar
    def readAll(): Long = spark.sql("SELECT COUNT(*) FROM geoeqmc.db.t").head.getLong(0)
    def loads(): Long = graft.tables.GeoSidecarCache.loadsFor(root)
    (1 to 4).foreach(_ => assert(readAll() == 97))
    assert(loads() == 2, // one position set + one eq sidecar, loaded ONCE each
      s"repeated scans of an unchanged table must load each sidecar once, got ${loads()}")
    // a new delete commit mints a new sidecar path -> exactly one new load
    GeoTable.deleteByKey(spark, root, Seq("id"), Seq(4L).toDF("id"))
    (1 to 3).foreach(_ => assert(readAll() == 96))
    assert(loads() == 3, s"got ${loads()} loads after a new delete commit")
  }

  test("equality-delete key ranges exempt non-intersecting files") {
    // 4 range-clustered files over id 0..999 with a stats transform on id:
    // a delete keyed in the LAST file's range must record kmin/kmax in the
    // manifest, exempt the other files (eqApplies), and fold by rewriting
    // ONLY the intersecting file — the untouched files carry over by path
    val root = java.nio.file.Files.createTempDirectory("geo_eqr").toString + "/t"
    GeoTable.create(spark, root,
      spark.range(1000).select($"id", concat(lit("v"), $"id").as("v"))
        .repartitionByRange(4, $"id"), None,
      partitions = Seq(GeoPartition.PTransform("stats", 0, "id")))
    GeoTable.deleteByKey(spark, root, Seq("id"), (900L to 909L).toDF("id"))
    val m = GeoManifest.read(spark, root)
    assert(m.eqDeletes.length == 1)
    val e = m.eqDeletes.head
    assert(e.kmin.contains(900L) && e.kmax.contains(909L),
      s"sidecar must record its key range, got ${e.kmin}..${e.kmax}")
    val exempt = m.files.filter(f => !m.eqApplies(e, f)).map(_.key).toSet
    val touched = m.files.filterNot(f => exempt.contains(f.key)).map(_.key).toSet
    assert(exempt.size == 3 && touched.size == 1,
      s"3 of 4 range files must be exempt: exempt=${exempt.size} touched=${touched.size}")
    assert(GeoTable.read(spark, root).count() == 990)
    GeoTable.foldSidecars(spark, root)
    val m2 = GeoManifest.read(spark, root)
    assert(m2.eqDeletes.isEmpty)
    assert(exempt.subsetOf(m2.files.map(_.key).toSet),
      "fold must carry every exempt file over by reference")
    assert(touched.intersect(m2.files.map(_.key).toSet).isEmpty,
      "fold must rewrite the intersecting file")
    assert(GeoTable.read(spark, root).count() == 990)
    assert(GeoTable.read(spark, root).where($"id" === 905L).count() == 0)
    assert(GeoTable.read(spark, root).where($"id" === 899L).count() == 1)
  }

  test("multi-column keys prune by the LEADING column's range") {
    // a (id, v) key sidecar records min/max over id: files whose id range
    // cannot intersect are exempt — a valid superset bound (no tuple can
    // match a row whose leading value cannot)
    val root = java.nio.file.Files.createTempDirectory("geo_eqm").toString + "/t"
    GeoTable.create(spark, root,
      spark.range(400).select($"id", concat(lit("v"), $"id").as("v"))
        .repartitionByRange(4, $"id"), None,
      partitions = Seq(GeoPartition.PTransform("stats", 0, "id")))
    GeoTable.deleteByKey(spark, root, Seq("id", "v"),
      Seq((350L, "v350"), (360L, "nomatch")).toDF("id", "v"))
    val m = GeoManifest.read(spark, root)
    val e = m.eqDeletes.head
    assert(e.kmin.contains(350L) && e.kmax.contains(360L))
    assert(m.files.count(f => !m.eqApplies(e, f)) == 3,
      "3 of 4 range files must be exempt via the leading column")
    assert(GeoTable.read(spark, root).count() == 399) // only (350,v350) matches
    assert(GeoTable.read(spark, root).where($"id" === 360L).count() == 1)
  }

  test("full-tuple key ranges: a second-column-disjoint delete exempts files") {
    // Files clustered by grp, so every file's ID range spans the whole
    // space (leading-column bound exempts NOTHING) while grp ranges are
    // tight per file. A delete keyed (id, grp) with a grp range touching
    // only the last file must exempt the other 3 via the SECOND column —
    // the realistic composite-key CDC shape (tenant, id).
    val root = java.nio.file.Files.createTempDirectory("geo_eqft").toString + "/t"
    GeoTable.create(spark, root,
      spark.range(1000).select($"id", ($"id" % 4).as("grp"),
          concat(lit("v"), $"id").as("v"))
        .repartitionByRange(4, $"grp"), None,
      partitions = Seq(GeoPartition.PTransform("stats", 0, "id"),
        GeoPartition.PTransform("stats", 0, "grp")))
    // tuples (10..19, grp=2): ids 10,14,18 really carry grp 2 → 3 rows die
    GeoTable.deleteByKey(spark, root, Seq("id", "grp"),
      (10L to 19L).map(i => (i, 2L)).toDF("id", "grp"))
    val m = GeoManifest.read(spark, root)
    assert(m.eqDeletes.length == 1, s"delete must survive commit: ${m.eqDeletes}")
    val e = m.eqDeletes.head
    // manifest round-trip of the full tuple ranges (m is parsed from disk)
    assert(e.kmin.contains(10L) && e.kmax.contains(19L),
      s"leading range, got ${e.kmin}..${e.kmax}")
    assert(e.kranges == Seq(Some((2L, 2L))),
      s"second-column range must round-trip, got ${e.kranges}")
    // leading bound alone exempts nothing (every grp file holds some id
    // in 10..19); the grp range exempts all but the grp=2 file
    val leadingOnly = e.copy(kranges = Seq.empty)
    assert(m.files.count(f => !m.eqApplies(leadingOnly, f)) == 0,
      "precondition: the leading-column bound must NOT exempt these files")
    assert(m.files.count(f => !m.eqApplies(e, f)) == 3,
      "3 of 4 grp-clustered files must be exempt via the second column")
    assert(GeoTable.read(spark, root).count() == 997)
    // fold rewrites ONLY the intersecting file
    val exempt = m.files.filter(f => !m.eqApplies(e, f)).map(_.key).toSet
    GeoTable.foldSidecars(spark, root)
    val m2 = GeoManifest.read(spark, root)
    assert(m2.eqDeletes.isEmpty)
    assert(exempt.subsetOf(m2.files.map(_.key).toSet),
      "fold must carry second-column-exempt files over by reference")
    assert(GeoTable.read(spark, root).count() == 997)
    assert(GeoTable.read(spark, root).where($"id".isin(10L, 14L, 18L)).count() == 0)
    assert(GeoTable.read(spark, root).where($"id" === 11L).count() == 1)
  }

  test("a delete whose key range misses every file GCs at its own commit") {
    val root = java.nio.file.Files.createTempDirectory("geo_eqg").toString + "/t"
    GeoTable.create(spark, root,
      spark.range(100).select($"id", concat(lit("v"), $"id").as("v")),
      None, partitions = Seq(GeoPartition.PTransform("stats", 0, "id")))
    GeoTable.deleteByKey(spark, root, Seq("id"), (5000L to 5009L).toDF("id"))
    val m = GeoManifest.read(spark, root)
    assert(m.eqDeletes.isEmpty,
      "a range-disjoint delete can never match and must GC at commit")
    assert(GeoTable.read(spark, root).count() == 100)
  }

  test("t.deletes metadata table lists live sidecars with key ranges") {
    val wh = java.nio.file.Files.createTempDirectory("geo_eqmt_wh").toString
    spark.conf.set("spark.sql.catalog.geoeqmt", classOf[GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.geoeqmt.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geoeqmt.db")
    spark.sql("CREATE TABLE geoeqmt.db.t (id BIGINT, v STRING) USING geo")
    spark.sql("INSERT INTO geoeqmt.db.t SELECT id, concat('v', id) FROM range(0, 100)")
    val root = s"$wh/db/t"
    GeoTable.delete(spark, root, $"id" === 1L, mode = "mor")              // position
    GeoTable.deleteByKey(spark, root, Seq("id"), Seq(7L, 9L).toDF("id"))  // equality
    val rows = spark.sql(
      "SELECT type, rows, key_columns, key_min, key_max FROM geoeqmt.db.t.deletes " +
        "ORDER BY type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    assert(rows == Seq(
      ("equality", 2L, "id", 7L, 9L),
      ("position", 1L, null, -1L, -1L)), rows.toString)
  }

  test("sidecar cache eviction is LRU: a hot key survives 256+ other inserts") {
    // the old bound cleared the WHOLE cache at capacity, dumping every
    // memoized sidecar at once; access-ordered LRU must keep a key that is
    // touched between inserts alive through 300 cold insertions (if it
    // were evicted, the load thunk below would run and fail the test)
    val hot = s"lru-spec-hot-${System.nanoTime()}"
    val v = graft.tables.GeoSidecarCache.getOrLoad(hot)(java.lang.Long.valueOf(42L))
    assert(v.longValue() == 42L)
    (1 to 300).foreach { i =>
      graft.tables.GeoSidecarCache.getOrLoad(s"lru-spec-cold-$hot-$i")(
        java.lang.Long.valueOf(i.toLong)): Unit
      val again = graft.tables.GeoSidecarCache.getOrLoad(hot)(
        sys.error(s"hot key evicted after $i cold inserts"): java.lang.Long)
      assert(again.longValue() == 42L)
    }
  }

  test("restore and vacuum keep equality-delete sidecars consistent") {
    val root = freshTable(60, 3)                                  // v0
    GeoTable.deleteByKey(spark, root, Seq("id"), Seq(7L).toDF("id")) // v1
    GeoTable.append(spark, root, spark.range(200, 205)
      .select($"id", lit("x").as("v")))                           // v2
    GeoTable.restore(spark, root, 1)                              // v3 == v1 state
    assert(GeoTable.read(spark, root).count() == 59)
    assert(GeoTable.read(spark, root).where($"id" === 7L).count() == 0)
    // vacuum to the current version only: eq sidecar must survive as live
    GeoTable.vacuum(spark, root, keepVersions = 1)
    assert(GeoTable.read(spark, root).count() == 59)
    assert(GeoTable.read(spark, root).where($"id" === 7L).count() == 0)
  }
}
