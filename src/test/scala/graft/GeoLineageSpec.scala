package graft

import graft.tables.{GeoCatalog, GeoChangelog, GeoManifest, GeoSql, GeoTable}

import org.apache.spark.sql.functions._

/**
 * Snapshot lineage (SURVEY.md §2.8b): every commit records its parent
 * version, and everything that means "committed main history" — the
 * changelog, TIMESTAMP AS OF, the snapshots/history metadata tables,
 * vacuum's retention window — walks the parent chain from `_current`
 * instead of scanning consecutive manifest numbers. Branch-staged
 * manifests that main slid past (the shared linear number space) and
 * torn orphan manifests from crashed commits must NEVER surface as main
 * commits (Iceberg tracks parent-snapshot-id for exactly this).
 */
class GeoLineageSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("geo_lin_wh").toString
    spark.conf.set("spark.sql.catalog.geolin", classOf[GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.geolin.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geolin.db")
    dir
  }

  test("staged branch commits below _current never enter main history") {
    warehouse
    val root = s"$warehouse/db/stage"
    spark.sql("CREATE TABLE geolin.db.stage (id BIGINT, v STRING) USING geo")
    spark.sql("INSERT INTO geolin.db.stage SELECT id, 'main' FROM range(0, 20)") // v1
    GeoTable.createBranch(spark, root, "wip")
    // staged commit claims the next manifest number (v2)
    GeoTable.appendToBranch(spark, root, "wip",
      spark.range(100, 110).select($"id", lit("staged").as("v")))
    val stagedHead = GeoManifest.refs(spark, root).branches("wip").head
    Thread.sleep(25)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(25)
    // main commit slides PAST the claimed number (v3), parent = v1
    spark.sql("INSERT INTO geolin.db.stage SELECT id, 'raced' FROM range(20, 25)")
    val cur = GeoManifest.read(spark, root).version
    assert(cur > stagedHead, s"main ($cur) must have slid past staged ($stagedHead)")
    assert(GeoManifest.parentOf(spark, root, cur) == 1,
      "the raced main commit's lineage parent is the fork version, not the staged one")

    // changelog over the full main range: no staged rows, ever
    val vals = GeoTable.changes(spark, root, 0, cur)
      .select("v").as[String].collect().toSet
    assert(vals == Set("main", "raced"), s"staged rows leaked into the changelog: $vals")
    val net = GeoTable.netChanges(spark, root, 0, cur)
      .select("v").as[String].collect().toSet
    assert(net == Set("main", "raced"))

    // a changelog range anchored AT the staged version is refused — it is
    // not an ancestor of main, so there is no main lineage to replay
    val e = intercept[IllegalArgumentException] {
      GeoTable.changes(spark, root, stagedHead, cur).collect()
    }
    assert(e.getMessage.contains("not an ancestor"), e.getMessage)

    // TIMESTAMP AS OF between the staged and the raced commits resolves
    // to the fork snapshot — never to the staged one
    assert(GeoManifest.versionAsOf(spark, root, betweenMs) == 1,
      "TIMESTAMP AS OF must not resolve to a staged snapshot")

    // history lists only main's lineage; snapshots adds the pinned branch
    // head (a real ref'd snapshot) but not as main history
    val hist = spark.sql("SELECT version FROM geolin.db.stage.history")
      .as[Int].collect().toSet
    assert(hist == Set(0, 1, cur), s"history must be main's lineage, got $hist")
    val snaps = spark.sql("SELECT version FROM geolin.db.stage.snapshots")
      .as[Int].collect().toSet
    assert(snaps == Set(0, 1, stagedHead, cur), s"got $snaps")

    // after publishing a FRESH branch (no divergence), its commits are
    // legitimately main history and the changelog replays them
    spark.sql("CREATE TABLE geolin.db.pub (id BIGINT, v STRING) USING geo")
    val root2 = s"$warehouse/db/pub"
    spark.sql("INSERT INTO geolin.db.pub SELECT id, 'base' FROM range(0, 5)")
    GeoTable.createBranch(spark, root2, "ok")
    GeoTable.appendToBranch(spark, root2, "ok",
      spark.range(5, 9).select($"id", lit("staged").as("v")))
    GeoTable.publishBranch(spark, root2, "ok")
    val cur2 = GeoManifest.read(spark, root2).version
    val vals2 = GeoTable.changes(spark, root2, 0, cur2)
      .select("v").as[String].collect().toSet
    assert(vals2 == Set("base", "staged"), s"published commits must replay: $vals2")
  }

  test("a torn orphan manifest from a crashed commit is skipped, not replayed") {
    warehouse
    val root = s"$warehouse/db/orphan"
    spark.sql("CREATE TABLE geolin.db.orphan (id BIGINT, v STRING) USING geo")
    spark.sql("INSERT INTO geolin.db.orphan SELECT id, 'a' FROM range(0, 6)") // v1
    // simulate a crashed commit: m2.txt exists (claiming v0's EMPTY file
    // list — a phantom full-delete if ever replayed) but _current never
    // flipped to it
    val fs = GeoManifest.fs(spark, root)
    val m0 = new org.apache.hadoop.fs.Path(root, "_manifests/m0.txt")
    val orphan = new org.apache.hadoop.fs.Path(root, "_manifests/m2.txt")
    org.apache.hadoop.fs.FileUtil.copy(fs, m0, fs, orphan, false,
      spark.sparkContext.hadoopConfiguration)
    // next real commit slides past the orphan number
    spark.sql("INSERT INTO geolin.db.orphan SELECT id, 'b' FROM range(6, 9)")
    val cur = GeoManifest.read(spark, root).version
    assert(cur == 3, s"commit must slide past the orphan, got $cur")
    val steps = GeoChangelog.versionSteps(spark, root, 0, cur).map(_.version)
    assert(steps == Seq(1, 3), s"orphan v2 must not be replayed: $steps")
    val all = GeoTable.changes(spark, root, 0, cur)
    assert(all.where(col(GeoChangelog.ChangeTypeCol) === "delete").count() == 0,
      "the orphan's phantom deletes must never surface")
    assert(all.count() == 9)
    val hist = spark.sql("SELECT version FROM geolin.db.orphan.history")
      .as[Int].collect().toSet
    assert(hist == Set(0, 1, 3))
    // vacuum GCs the orphan manifest (it is nothing's ancestor)
    GeoTable.vacuum(spark, root, keepVersions = 10)
    assert(!fs.exists(orphan), "vacuum must GC the orphan manifest")
  }

  test("vacuum pins a branch's whole staged lineage, including dissolved shards") {
    warehouse
    val root = s"$warehouse/db/brshard"
    spark.conf.set("spark.graft.manifest.shardSize", "8")
    try {
      spark.sql("CREATE TABLE geolin.db.brshard (id BIGINT, v STRING) USING geo")
      // 8 files -> one full shard, so the manifest is sharded (v5)
      GeoTable.append(spark, root,
        spark.range(0, 80).select($"id", lit("base").as("v")).repartition(8))
      GeoTable.createBranch(spark, root, "wip")
      // staged commit #1 writes a 1-entry shard...
      GeoTable.appendToBranch(spark, root, "wip",
        spark.range(100, 105).select($"id", lit("s1").as("v")).coalesce(1))
      val mid = GeoManifest.refs(spark, root).branches("wip").head
      val midShards = GeoManifest.readVersion(spark, root, mid).baseShards.map(_.name).toSet
      // ...which staged commit #2 DISSOLVES (<= shardSize/4 entries fold
      // into a fresh shard): the 1-entry shard is now referenced only by
      // the intermediate staged manifest
      GeoTable.appendToBranch(spark, root, "wip",
        spark.range(105, 110).select($"id", lit("s2").as("v")).coalesce(1))
      val head = GeoManifest.refs(spark, root).branches("wip").head
      val headShards = GeoManifest.readVersion(spark, root, head).baseShards.map(_.name).toSet
      val onlyMid = midShards.diff(headShards)
      assert(onlyMid.nonEmpty, "need a shard referenced only by the intermediate commit")

      GeoTable.vacuum(spark, root, keepVersions = 1)
      val fs = GeoManifest.fs(spark, root)
      onlyMid.foreach { s =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(root, s"_manifests/$s")),
          s"vacuum GC'd shard $s referenced by the staged intermediate manifest")
      }
      // the staged lineage stays fully readable — and after PUBLISH the
      // changelog crosses the intermediate without a missing-shard error
      assert(GeoManifest.readVersion(spark, root, mid).files.nonEmpty)
      GeoTable.publishBranch(spark, root, "wip")
      val vals = GeoTable.changes(spark, root, 1, head)
        .select("v").as[String].collect().toSet
      assert(vals == Set("s1", "s2"), s"got $vals")
    } finally spark.conf.unset("spark.graft.manifest.shardSize")
  }
}
