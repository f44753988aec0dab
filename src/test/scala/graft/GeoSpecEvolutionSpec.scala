package graft

import graft.tables.{GeoCatalog, GeoManifest, GeoPartition, GeoTable}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/**
 * Partition-spec evolution (Iceberg spec-evolution analog): `ALTER TABLE
 * ... SET PARTITIONED BY` is METADATA-ONLY — at 100 TB a repartition
 * that rewrote data would cost a full table pass, so old files keep
 * their retired spec and every stats consumer resolves a file's OWN
 * transform list before touching its positional pstats vector.
 *
 * The central hazard these tests pin: after evolution, transform index
 * i means DIFFERENT columns for old and new files. Interpreting an old
 * file's ranges under the new spec would compare one column's bounds
 * against another column's recorded range and silently DROP files —
 * row loss, the one direction the pruning contract forbids.
 */
class GeoSpecEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("geo_se_wh").toString
    spark.conf.set("spark.sql.catalog.geose", classOf[GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.geose.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geose.db")
    dir
  }

  private def scannedFiles(sql: String): Int = {
    val plan = spark.sql(sql).queryExecution.executedPlan.toString
    val re = "GeoCowScan\\(files=(\\d+)".r
    re.findFirstMatchIn(plan).map(_.group(1).toInt)
      .getOrElse(fail(s"no GeoCowScan in plan:\n$plan"))
  }

  private def shuffles(df: DataFrame): Int = {
    df.queryExecution.executedPlan.collectWithSubqueries {
      case s: ShuffleExchangeExec => s
    }.length
  }

  test("SET PARTITIONED BY is metadata-only; old files keep their spec") {
    warehouse
    spark.sql("CREATE TABLE geose.db.evo (a BIGINT, b BIGINT, v STRING) USING geo " +
      "PARTITIONED BY (a)")
    spark.sql("INSERT INTO geose.db.evo SELECT id % 4, id % 7, concat('v', id) FROM range(0, 4000)")
    val root = warehouse + "/db/evo"
    val m0 = GeoManifest.read(spark, root)
    assert(m0.specId == 0 && m0.pastSpecs.isEmpty)
    val oldPaths = m0.files.map(_.key).toSet

    spark.sql("ALTER TABLE geose.db.evo SET PARTITIONED BY (b)")
    val m1 = GeoManifest.read(spark, root)
    // metadata-only: the commit references exactly the same data files,
    // stats vectors untouched, now stamped with their (retired) spec
    assert(m1.files.map(_.key).toSet == oldPaths, "evolution must move no data")
    assert(m1.files.forall(_.spec == 0), "old files keep spec 0")
    assert(m1.specId == 1, "current spec id advances")
    assert(m1.pastSpecs(0) == m0.partitions, "retired spec preserved verbatim")
    assert(m1.partitions.head == GeoPartition.PTransform("identity", 0, "b"))
    assert(m1.files.map(f => (f.key, f.pstats)).toMap ==
      m0.files.map(f => (f.key, f.pstats)).toMap, "pstats untouched by evolution")

    // new writes cluster by the NEW spec and stamp its id
    spark.sql("INSERT INTO geose.db.evo SELECT 100 + id % 4, id % 7, concat('w', id) " +
      "FROM range(0, 4000)")
    val m2 = GeoManifest.read(spark, root)
    val fresh = m2.files.filterNot(f => oldPaths.contains(f.key))
    assert(fresh.nonEmpty && fresh.forall(_.spec == 1), "new files carry the new spec id")

    // identical layout again: a no-op, no new version
    spark.sql("ALTER TABLE geose.db.evo SET PARTITIONED BY (b)")
    assert(GeoManifest.read(spark, root).version == m2.version, "unchanged layout must not commit")
  }

  test("mixed-spec pruning: each file prunes under its own transforms, no row loss") {
    warehouse
    val root = warehouse + "/db/evo" // table built above
    GeoManifest.read(spark, root) // ensure exists (ordering)
    // b = 3: old files prune via spec 0's auto stats transform on b,
    // new files via spec 1's identity layout on b — and index 0 means
    // `a` for old files but `b` for new ones, so a spec-blind reader
    // would compare b-bounds against a-ranges here
    val all = scannedFiles("SELECT * FROM geose.db.evo")
    val byB = scannedFiles("SELECT * FROM geose.db.evo WHERE b = 3")
    assert(byB < all, s"b = 3 must prune files: $byB vs $all")
    assert(sql1("SELECT COUNT(*) FROM geose.db.evo WHERE b = 3") ==
      2L * Range(0, 4000).count(_ % 7 == 3), "no rows lost across specs")
    // a-filter: old files prune by their layout, new files by their
    // stats transform on a (values 100+ never overlap old 0..3)
    val byA = scannedFiles("SELECT * FROM geose.db.evo WHERE a = 2")
    assert(byA < all, s"a = 2 must prune files: $byA vs $all")
    assert(sql1("SELECT COUNT(*) FROM geose.db.evo WHERE a = 2") == 1000L)
    assert(sql1("SELECT COUNT(*) FROM geose.db.evo WHERE a = 102") == 1000L)
  }

  test("manifests round-trip evolved specs through shards and survive re-reads") {
    warehouse
    spark.conf.set("spark.graft.manifest.shardSize", "3")
    try {
      spark.sql("CREATE TABLE geose.db.sharded (k BIGINT, t BIGINT, v STRING) USING geo " +
        "PARTITIONED BY (k)")
      spark.sql("INSERT INTO geose.db.sharded SELECT id % 4, id % 3, concat('v', id) " +
        "FROM range(0, 2000)")
      spark.sql("ALTER TABLE geose.db.sharded SET PARTITIONED BY (bucket(2, t))")
      spark.sql("INSERT INTO geose.db.sharded SELECT id % 4, id % 3, concat('w', id) " +
        "FROM range(0, 2000)")
      val root = warehouse + "/db/sharded"
      val m = GeoManifest.read(spark, root)
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_manifests", s"m${m.version}.txt")))
      assert(text.startsWith("graftgeo\t10\n"), "evolved tables write the one layout")
      assert(text.contains("curspec\t1"), "current spec id persisted")
      assert(text.contains("spec\t0\t"), "retired spec persisted")
      val specs = m.files.map(_.spec).toSet
      assert(specs == Set(0, 1), s"both specs present, got $specs")
      // a second read (fresh shard parse) sees identical per-file specs
      val again = GeoManifest.read(spark, root)
      assert(again.files.map(f => (f.key, f.spec)).sortBy(_._1) ==
        m.files.map(f => (f.key, f.spec)).sortBy(_._1))
      assert(again.pastSpecs == m.pastSpecs && again.specId == m.specId)
      // mixed-spec pruning through the sharded manifest stays exact
      assert(sql1("SELECT COUNT(*) FROM geose.db.sharded WHERE t = 1") ==
        2L * Range(0, 2000).count(_ % 3 == 1))
    } finally spark.conf.unset("spark.graft.manifest.shardSize")
  }

  test("SPJ withheld on mixed specs, restored by OPTIMIZE (spec migration)") {
    warehouse
    spark.sql("CREATE TABLE geose.db.facts (k BIGINT, x BIGINT) USING geo " +
      "PARTITIONED BY (k)")
    spark.sql("CREATE TABLE geose.db.dims (k BIGINT, name STRING) USING geo " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO geose.db.facts SELECT id % 8, id FROM range(0, 4000)")
    spark.sql("INSERT INTO geose.db.dims SELECT id, concat('n', id) FROM range(0, 8)")

    spark.sql("ALTER TABLE geose.db.facts SET PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO geose.db.facts SELECT id % 8, 10000 + id FROM range(0, 4000)")

    val bucketingConfs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = bucketingConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    bucketingConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def joined = spark.sql(
        "SELECT f.k, f.x, d.name FROM geose.db.facts f JOIN geose.db.dims d ON f.k = d.k")
      // identity-spec files' key tuples live in a different key space —
      // the scan must NOT claim bucket grouping while they remain
      assert(shuffles(joined) > 0,
        "mixed-spec table must shuffle (SPJ withheld)")
      assert(joined.count() == 8000L)

      spark.sql("OPTIMIZE geose.db.facts")
      val m = GeoManifest.read(spark, warehouse + "/db/facts")
      assert(m.pastSpecs.isEmpty, "full rewrite clears retired specs")
      assert(m.files.filter(_.rows > 0).forall(_.spec == m.specId))
      assert(shuffles(joined) == 0,
        s"post-OPTIMIZE co-partitioned join must plan zero Exchange:\n" +
          joined.queryExecution.executedPlan)
      assert(joined.count() == 8000L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("DROP COLUMN remaps stats vectors under every spec") {
    warehouse
    spark.sql("CREATE TABLE geose.db.dropit (a BIGINT, b BIGINT, c BIGINT) USING geo " +
      "PARTITIONED BY (a)")
    spark.sql("INSERT INTO geose.db.dropit SELECT id % 3, id % 5, id FROM range(0, 3000)")
    spark.sql("ALTER TABLE geose.db.dropit SET PARTITIONED BY (b)")
    spark.sql("INSERT INTO geose.db.dropit SELECT 10 + id % 3, id % 5, id FROM range(0, 3000)")
    val root = warehouse + "/db/dropit"
    // c is a stats transform in BOTH specs, at different positions
    // (spec 0: [a, stats b, stats c]; spec 1: [b, stats a, stats c])
    val before = GeoManifest.read(spark, root)
    assert(before.partitions.exists(t => t.kind == "stats" && t.col == "c"))
    assert(before.pastSpecs(0).exists(t => t.kind == "stats" && t.col == "c"))
    spark.sql("ALTER TABLE geose.db.dropit DROP COLUMN c")
    val after = GeoManifest.read(spark, root)
    assert(!after.partitions.exists(_.col.equalsIgnoreCase("c")))
    assert(!after.pastSpecs(0).exists(_.col.equalsIgnoreCase("c")))
    // per-spec vector lengths stay consistent with per-spec transforms
    val specs = after.specSet
    after.files.filter(_.pstats.nonEmpty).foreach { f =>
      assert(f.pstats.length == specs.of(f).length,
        s"file ${f.key} spec ${f.spec}: ${f.pstats.length} vs ${specs.of(f).length}")
    }
    // pruning still exact on both specs after the remap
    assert(sql1("SELECT COUNT(*) FROM geose.db.dropit WHERE b = 2") ==
      2L * Range(0, 3000).count(_ % 5 == 2))
    assert(sql1("SELECT COUNT(*) FROM geose.db.dropit WHERE a = 1") == 1000L)
    // dropping a CURRENT layout anchor still refuses
    val e = intercept[Exception](spark.sql("ALTER TABLE geose.db.dropit DROP COLUMN b"))
    assert(e.getMessage.contains("anchors partition transform"))
  }

  test("unpartitioned table evolves into a partitioned one (onboarding shape)") {
    val root = java.nio.file.Files.createTempDirectory("geo_se_onb").toString + "/t"
    val df = spark.range(0, 2000).select((col("id") % 6).as("g"), col("id").as("x"))
    GeoTable.create(spark, root, df)
    GeoTable.setPartitionSpec(spark, root, Seq(GeoPartition.PTransform("identity", 0, "g")))
    GeoTable.append(spark, root,
      spark.range(0, 2000).select((col("id") % 6).as("g"), (col("id") + 5000).as("x")))
    val m = GeoManifest.read(spark, root)
    assert(m.specId == 1 && m.partitions.head.col == "g")
    assert(GeoTable.read(spark, root).count() == 4000L)
    // scan-path pruning (path tables) resolves per-file specs too
    assert(GeoTable.scan(spark, root, col("g") === 4).count() ==
      2L * Range(0, 2000).count(_ % 6 == 4))
    // time travel to the pre-evolution snapshot still reads format <9
    assert(GeoTable.readAt(spark, root, 0).count() == 2000L)
  }

  test("alignSpec: entries committed across a concurrent spec change keep their meaning") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val specA = Seq(GeoPartition.PTransform("identity", 0, "a"),
      GeoPartition.PTransform("stats", 0, "b"))
    val specB = Seq(GeoPartition.PTransform("identity", 0, "b"),
      GeoPartition.PTransform("stats", 0, "a"))
    val entry = GeoManifest.FileEntry("/t/data/f1", 10, Double.NaN, Double.NaN,
      Double.NaN, Double.NaN, Seq((1L, 2L), (3L, 4L)), pnulls = Seq(false, false))
    val base = GeoManifest.Manifest(3, schema, None, Seq.empty, partitions = specA)
    // no concurrent change: untouched (stamped to current at write)
    assert(GeoManifest.alignSpec(Seq(entry), base, base) == Seq(entry))
    // spec evolved concurrently and fresh still knows the base spec:
    // entries are pinned to it explicitly
    val evolved = base.copy(partitions = specB, specId = 1, pastSpecs = Map(0 -> specA))
    val pinned = GeoManifest.alignSpec(Seq(entry), base, evolved)
    assert(pinned.head.spec == 0 && pinned.head.pstats == entry.pstats)
    assert(evolved.specSet.of(pinned.head) == specA, "stats resolve under the base spec")
    // fresh no longer knows the base spec verbatim (e.g. concurrent DROP
    // COLUMN remapped it): stats are dropped, never misread
    val remapped = base.copy(partitions = specA.take(1))
    val stripped = GeoManifest.alignSpec(Seq(entry), base, remapped)
    assert(stripped.head.pstats.isEmpty && stripped.head.pnulls.isEmpty)
  }

  test("equality deletes keep range exemption across mixed specs") {
    val root = java.nio.file.Files.createTempDirectory("geo_se_eq").toString + "/t"
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 4).as("g"))
    val layout = Seq(GeoPartition.PTransform("identity", 0, "id"))
    GeoTable.create(spark, root, df,
      partitions = layout ++ GeoPartition.statsFor(df.schema, layout))
    GeoTable.setPartitionSpec(spark, root, Seq(GeoPartition.PTransform("identity", 0, "g")))
    GeoTable.append(spark, root,
      spark.range(2000, 3000).select(col("id"), (col("id") % 4).as("g")))
    // keyed delete on id: applies to files of BOTH specs by key range —
    // old files resolve id at position 0 (layout), new at its stats slot
    GeoTable.deleteByKey(spark, root, Seq("id"), spark.range(500, 520).toDF("id"))
    assert(GeoTable.read(spark, root).count() == 1980L)
    assert(GeoTable.read(spark, root).where(col("id").between(500, 519)).count() == 0L)
    // a delete whose key range touches only the NEW id range must leave
    // old-spec files exempt (their id ranges are disjoint)
    GeoTable.deleteByKey(spark, root, Seq("id"), spark.range(2500, 2510).toDF("id"))
    val m = GeoManifest.read(spark, root)
    val eq = m.eqDeletes.maxBy(_.version)
    val exempt = m.files.count(f => !m.eqApplies(eq, f))
    assert(exempt > 0, "range-disjoint old-spec files must be exempt")
    assert(GeoTable.read(spark, root).count() == 1970L)
  }
}
