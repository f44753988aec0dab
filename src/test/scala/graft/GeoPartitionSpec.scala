package graft

import graft.tables.{GeoCatalog, GeoManifest, GeoPartition}

import org.apache.spark.sql.functions._

/**
 * Partition transforms on GeoCatalog tables (SURVEY.md §2.8b; Iceberg
 * hidden-partitioning analog): identity / bucket(n, col) / days|hours|
 * months|years(ts) stored in the manifest, writes clustered by transform
 * value, scans pruned from per-file transform min/max — manifest-first,
 * no hive directories.
 */
class GeoPartitionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("geo_pt_wh").toString
    spark.conf.set("spark.sql.catalog.geopt", classOf[GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.geopt.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geopt.db")
    dir
  }

  /** files=N as reported by the build-time-pruned scan in the plan. */
  private def scannedFiles(sql: String): Int = {
    val plan = spark.sql(sql).queryExecution.executedPlan.toString
    val re = "GeoCowScan\\(files=(\\d+)".r
    re.findFirstMatchIn(plan).map(_.group(1).toInt)
      .getOrElse(fail(s"no GeoCowScan in plan:\n$plan"))
  }

  test("identity partitioning: clustered writes + filter-pruned scans") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.ident (k BIGINT, v STRING) USING geo " +
      "PARTITIONED BY (k)")
    // k takes 4 distinct values; range clustering puts each in its own file(s)
    spark.sql("INSERT INTO geopt.db.ident SELECT id % 4, concat('v', id) FROM range(0, 4000)")
    val m = GeoManifest.read(spark, warehouse + "/db/ident")
    assert(m.partitions == Seq(GeoPartition.PTransform("identity", 0, "k")))
    assert(m.files.count(_.rows > 0) >= 2, "range clustering must split by k")
    assert(m.files.filter(_.rows > 0).forall(_.pstats.nonEmpty), "per-file transform stats")
    val all = scannedFiles("SELECT * FROM geopt.db.ident")
    val one = scannedFiles("SELECT * FROM geopt.db.ident WHERE k = 2")
    assert(one < all, s"k = 2 must prune files: $one vs $all")
    // correctness: pruned scan returns exactly the partition
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.ident WHERE k = 2").head.getLong(0) == 1000)
    // range predicates prune monotonic transforms too
    assert(scannedFiles("SELECT * FROM geopt.db.ident WHERE k >= 3") < all)
  }

  test("bucket partitioning: equality prunes to the bucket's files") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.bkt (k BIGINT, v STRING) USING geo " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO geopt.db.bkt SELECT id, concat('v', id) FROM range(0, 8000)")
    val all = scannedFiles("SELECT * FROM geopt.db.bkt")
    val one = scannedFiles("SELECT * FROM geopt.db.bkt WHERE k = 1234")
    assert(one < all, s"bucket equality must prune: $one vs $all")
    val r = spark.sql("SELECT v FROM geopt.db.bkt WHERE k = 1234").head.getString(0)
    assert(r == "v1234")
    // range predicates must NOT mis-prune a non-monotonic transform
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.bkt WHERE k >= 7000").head.getLong(0) == 1000)
  }

  test("days partitioning on dates: range scans prune to the date window") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.byday (id BIGINT, d DATE, amt DOUBLE) USING geo " +
      "PARTITIONED BY (days(d))")
    spark.sql("""INSERT INTO geopt.db.byday
      SELECT id, date_add(DATE'2024-01-01', CAST(id % 120 AS INT)), id * 1.5
      FROM range(0, 12000)""")
    val all = scannedFiles("SELECT * FROM geopt.db.byday")
    val windowed = scannedFiles(
      "SELECT * FROM geopt.db.byday WHERE d >= DATE'2024-02-01' AND d < DATE'2024-02-08'")
    assert(windowed < all, s"date window must prune files: $windowed vs $all")
    val n = spark.sql(
      "SELECT COUNT(*) FROM geopt.db.byday WHERE d >= DATE'2024-02-01' AND d < DATE'2024-02-08'")
      .head.getLong(0)
    assert(n == 700, s"7 days x 100 rows/day, got $n")
  }

  test("DML on a partitioned table keeps partition stats and pruning") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.dml (k BIGINT, v STRING) USING geo PARTITIONED BY (k)")
    spark.sql("INSERT INTO geopt.db.dml SELECT id % 4, concat('v', id) FROM range(0, 400)")
    spark.sql("UPDATE geopt.db.dml SET v = 'upd' WHERE k = 1 AND v = 'v1'")
    val m = GeoManifest.read(spark, warehouse + "/db/dml")
    assert(m.files.filter(_.rows > 0).forall(_.pstats.nonEmpty),
      "CoW-rewritten files keep per-file transform stats")
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.dml WHERE v = 'upd'").head.getLong(0) == 1)
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.dml").head.getLong(0) == 400)
  }

  test("partition pruning composes with MoR sidecars: pruned scans stay columnar") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.pm (k BIGINT, v STRING) USING geo PARTITIONED BY (k)")
    spark.sql("INSERT INTO geopt.db.pm SELECT id % 16, concat('v', id) FROM range(0, 4000)")
    val root = warehouse + "/db/pm"
    // range clustering gives each file a CONTIGUOUS k range, so with >= 2
    // files the file holding k=0 cannot also hold k=15: deleting at one
    // extreme and querying the other exercises pruned-scan columnar reads
    assert(GeoManifest.read(spark, root).files.count(_.rows > 0) >= 2)
    // hide two rows in partition k=15 via a position-delete sidecar
    graft.tables.GeoTable.delete(spark, root,
      col("k") === 15L && col("v").isin("v15", "v31"), mode = "mor")
    assert(GeoManifest.read(spark, root).deletes.nonEmpty)
    // AQE wraps the plan in AdaptiveSparkPlanExec (a leaf to collect*),
    // so pin it off while inspecting the scan's columnar support
    def scan(sql: String) = {
      val qe = spark.sql(sql).queryExecution
      val columnar = qe.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.supportsColumnar
      }
      (qe, columnar.getOrElse(fail(s"no BatchScanExec in:\n${qe.executedPlan}")))
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // k=0 prunes away every sidecar'd file -> vectorized reads retained
      val (q1, col1) = scan("SELECT COUNT(*) FROM geopt.db.pm WHERE k = 0")
      assert(col1, s"pruned scan must stay columnar:\n${q1.executedPlan}")
      assert(spark.sql("SELECT COUNT(*) FROM geopt.db.pm WHERE k = 0").head.getLong(0) == 250)
      // k=15 hits the sidecar'd files -> row-based merge, rows hidden
      val (_, col2) = scan("SELECT COUNT(*) FROM geopt.db.pm WHERE k = 15")
      assert(!col2, "sidecar'd partition must merge row-based")
      assert(spark.sql("SELECT COUNT(*) FROM geopt.db.pm WHERE k = 15").head.getLong(0) == 248)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.pm").head.getLong(0) == 3998)
  }

  test("multi-transform PARTITIONED BY (bucket(4,id), days(ts)): conjunction prunes") {
    warehouse
    spark.sql("""CREATE TABLE geopt.db.multi (id BIGINT, ts TIMESTAMP, v STRING)
                 USING geo PARTITIONED BY (bucket(4, id), days(ts))""")
    // 8000 rows over ~1000 days, 4 buckets: range clustering over the
    // transform TUPLE (lexicographic) gives several files PER BUCKET,
    // each holding a slice of that bucket's day range — so the secondary
    // transform prunes too, not only the leading one
    spark.conf.set("spark.sql.shuffle.partitions", "16") // >files-per-bucket
    try spark.sql("""INSERT INTO geopt.db.multi
      SELECT id, timestamp_micros(1700000000000000 + (id % 2000) * 43200000000),
             concat('v', id)
      FROM range(0, 8000)""")
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    val m = GeoManifest.read(spark, warehouse + "/db/multi")
    // bucket does not cover its column for stats purposes: an auto
    // stats(id) entry rides along, giving monotone id-range pruning and
    // equality-delete key-range exemption on top of the bucket layout
    assert(m.partitions == Seq(
      GeoPartition.PTransform("bucket", 4, "id"),
      GeoPartition.PTransform("days", 0, "ts"),
      GeoPartition.PTransform("stats", 0, "id")))
    assert(m.files.filter(_.rows > 0).forall(_.pstats.length == 3),
      "per-file stats carry a RANGE PER TRANSFORM")
    val all = scannedFiles("SELECT * FROM geopt.db.multi")
    val byId = scannedFiles("SELECT * FROM geopt.db.multi WHERE id = 77")
    val byTs = scannedFiles(
      "SELECT * FROM geopt.db.multi WHERE ts >= TIMESTAMP '2025-06-01 00:00:00'")
    val byBoth = scannedFiles("SELECT * FROM geopt.db.multi WHERE id = 77 " +
      "AND ts >= TIMESTAMP '2023-11-01 00:00:00' AND ts < TIMESTAMP '2023-12-31 00:00:00'")
    assert(byId < all, s"bucket equality must prune: $byId vs $all")
    assert(byTs < all, s"days range must prune: $byTs vs $all")
    assert(byBoth <= math.min(byId, byTs),
      s"the conjunction must prune at least as hard as each term: $byBoth vs $byId/$byTs")
    // correctness under pruning
    assert(spark.sql("SELECT v FROM geopt.db.multi WHERE id = 77").head.getString(0) == "v77")
    assert(spark.sql(
      "SELECT COUNT(*) FROM geopt.db.multi WHERE ts < TIMESTAMP '2023-11-16 00:00:00'")
      .head.getLong(0) == 12) // ids ≡ 0,1,2 (mod 2000) fall before 2023-11-16
  }

  test("stats-only transforms: data skipping without layout clustering") {
    warehouse
    // NO PARTITIONED BY: eligible columns get automatic stats transforms
    spark.sql("CREATE TABLE geopt.db.cs (k BIGINT, ts TIMESTAMP, v STRING) USING geo")
    val m0 = GeoManifest.read(spark, warehouse + "/db/cs")
    assert(m0.partitions == Seq(
      GeoPartition.PTransform("stats", 0, "k"),
      GeoPartition.PTransform("stats", 0, "ts")), s"got ${m0.partitions}")
    // three appends with disjoint k ranges: per-file min/max is tight per
    // commit even though NOTHING clustered the rows
    Seq((0, 1000), (1000, 2000), (2000, 3000)).foreach { case (a, b) =>
      spark.sql(s"INSERT INTO geopt.db.cs SELECT id, " +
        s"timestamp_micros(1700000000000000 + id * 1000000), concat('v', id) " +
        s"FROM range($a, $b)")
    }
    val m = GeoManifest.read(spark, warehouse + "/db/cs")
    assert(m.files.filter(_.rows > 0).forall(_.pstats.length == 2),
      "stats ranges recorded per file")
    val all = scannedFiles("SELECT * FROM geopt.db.cs")
    val byK = scannedFiles("SELECT * FROM geopt.db.cs WHERE k = 1500")
    val byTs = scannedFiles(
      "SELECT * FROM geopt.db.cs WHERE ts < TIMESTAMP '2023-11-14 22:30:00'")
    assert(byK < all, s"k equality must skip files: $byK vs $all")
    assert(byTs < all, s"ts range must skip files: $byTs vs $all")
    assert(spark.sql("SELECT v FROM geopt.db.cs WHERE k = 1500").head.getString(0) == "v1500")
    // the stats transforms are INVISIBLE as table partitioning
    val ddl = spark.sql("DESCRIBE TABLE EXTENDED geopt.db.cs").collect().map(_.toString)
    assert(!ddl.exists(_.contains("stats(")), "stats transforms must not surface as partitioning")
    // DROP COLUMN on a stats column strips its transform and realigns ranges
    spark.sql("ALTER TABLE geopt.db.cs DROP COLUMN ts")
    val m2 = GeoManifest.read(spark, warehouse + "/db/cs")
    assert(m2.partitions == Seq(GeoPartition.PTransform("stats", 0, "k")))
    assert(m2.files.filter(_.rows > 0).forall(_.pstats.length == 1))
    assert(scannedFiles("SELECT * FROM geopt.db.cs WHERE k = 1500") < all,
      "k skipping survives the realigned stats vector")

    // explicit stats.columns pins the set; layout-partition columns can't drop
    spark.sql("CREATE TABLE geopt.db.cs2 (a BIGINT, b BIGINT) USING geo " +
      "TBLPROPERTIES('stats.columns'='b')")
    assert(GeoManifest.read(spark, warehouse + "/db/cs2").partitions ==
      Seq(GeoPartition.PTransform("stats", 0, "b")))
    val err = intercept[Exception] {
      spark.sql("ALTER TABLE geopt.db.ident DROP COLUMN k")
    }
    assert(err.getMessage.contains("anchors partition transform"), err.getMessage)
  }

  test("hash layout at the default rollMinRows: multi-tuple files prune conservatively") {
    import graft.tables.GeoTable
    // hash mode lands several NON-adjacent buckets in one shuffle
    // partition; at the default rollMinRows (no override here) toy-sized
    // runs never roll, so a file's recorded bucket range spans buckets it
    // does not hold. Pruning may keep such a file; it must never drop a row
    val root = java.nio.file.Files.createTempDirectory("geo_hash_roll").toString + "/t"
    GeoTable.create(spark, root,
      spark.range(0, 3000).select(col("id").as("k"), concat(lit("v"), col("id")).as("v")),
      partitions = Seq(GeoPartition.PTransform("bucket", 16, "k")),
      props = Map(GeoPartition.LayoutModeProp -> "hash"))
    val m = GeoManifest.read(spark, root)
    assert(m.files.exists(_.pstats.headOption.exists { case (lo, hi) => lo < hi }),
      s"test shape: some file must hold several buckets: ${m.files.map(_.pstats)}")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").as[(Long, String)].collect().sorted.toSeq
    val all = GeoTable.read(spark, root)
    val preds = Seq(col("k") === 0L, col("k") === 2999L, col("k").isin(7L, 1234L),
      col("k").isin((0L until 40L by 3): _*), col("k").isin(5000L, 6000L),
      col("k") >= 2990L)
    preds.foreach { p =>
      assert(rows(GeoTable.scan(spark, root, p)) == rows(all.where(p)),
        s"pruned scan dropped or invented rows under $p")
    }
  }

  test("truncate partitioning on integers: equality and ranges prune") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.tri (k BIGINT, v STRING) USING geo " +
      "PARTITIONED BY (truncate(1000, k))")
    spark.sql("INSERT INTO geopt.db.tri SELECT id, concat('v', id) FROM range(0, 8000)")
    val m = GeoManifest.read(spark, warehouse + "/db/tri")
    assert(m.partitions == Seq(GeoPartition.PTransform("truncate", 1000, "k")))
    val all = scannedFiles("SELECT * FROM geopt.db.tri")
    assert(scannedFiles("SELECT * FROM geopt.db.tri WHERE k = 4321") < all)
    assert(scannedFiles("SELECT * FROM geopt.db.tri WHERE k >= 7000") < all)
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.tri WHERE k >= 7000").head.getLong(0) == 1000)
    assert(spark.sql("SELECT v FROM geopt.db.tri WHERE k = 4321").head.getString(0) == "v4321")
  }

  test("truncate partitioning on strings: prefix ranges prune via the packed order") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.trs (name STRING, k BIGINT) USING geo " +
      "PARTITIONED BY (truncate(2, name))")
    // prefixes aa..pp -> 16 distinct truncated values across the files
    spark.sql("""INSERT INTO geopt.db.trs
      SELECT concat(char(97 + id % 16), char(97 + id % 16), '_', id), id
      FROM range(0, 4000)""")
    val all = scannedFiles("SELECT * FROM geopt.db.trs")
    val eq = scannedFiles("SELECT * FROM geopt.db.trs WHERE name = 'cc_2'")
    val rng = scannedFiles(
      "SELECT * FROM geopt.db.trs WHERE name >= 'mm' AND name < 'nn'")
    assert(eq < all, s"string equality must prune: $eq vs $all")
    assert(rng < all, s"string range must prune: $rng vs $all")
    assert(spark.sql("SELECT k FROM geopt.db.trs WHERE name = 'cc_2'").head.getLong(0) == 2L)
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.trs WHERE name >= 'mm' AND name < 'nn'")
      .head.getLong(0) == 250)
  }

  test("truncate literal derivation agrees with the column expression") {
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    // integers, including negatives (floor, not toward-zero)
    val ti = GeoPartition.PTransform("truncate", 10, "k")
    val longs = Seq(-27L, -10L, -1L, 0L, 7L, 10L, 123L)
    val fromCol = spark.createDataset(longs).toDF("k")
      .select(GeoPartition.transformCol(ti,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", LongType)))).as("t"))
      .collect().map(_.getLong(0))
    val fromLit = longs.map(v => GeoPartition.valueOf(ti, v, LongType).get)
    assert(fromCol.toSeq == fromLit, s"$fromCol vs $fromLit")
    assert(fromLit == Seq(-30L, -10L, -10L, 0L, 0L, 10L, 120L))
    // strings, multibyte included: column expression == driver literal
    val ts = GeoPartition.PTransform("truncate", 3, "s")
    val strs = Seq("", "a", "abc", "abcdef", "日本語のテキスト", "éclair", "zz")
    val sCol = spark.createDataset(strs).toDF("s")
      .select(GeoPartition.transformCol(ts,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("s", StringType)))).as("t"))
      .collect().map(_.getLong(0))
    val sLit = strs.map(v => GeoPartition.valueOf(ts, UTF8String.fromString(v), StringType).get)
    assert(sCol.toSeq == sLit, s"$sCol vs $sLit")
    // the packing is an order embedding of the truncated strings
    val sorted = strs.map(UTF8String.fromString).sortWith(_.compareTo(_) < 0).map(_.toString)
    val packedInSortedOrder = sorted.map(v =>
      GeoPartition.packPrefix(UTF8String.fromString(v), 3))
    assert(packedInSortedOrder == packedInSortedOrder.sorted,
      s"packed longs must be monotone over string order: $sorted -> $packedInSortedOrder")
  }

  test("literal transform derivation agrees with the column expression") {
    // bucket: driver murmur3 vs the hash() column for every supported type
    val vals = spark.range(1, 50).select($"id",
      concat(lit("s"), $"id").as("s"),
      to_date(lit("2024-03-05")).as("d"))
    val fromCols = vals.select(
      pmod(hash($"id"), lit(8)).cast("long").as("hb"),
      pmod(hash($"s"), lit(8)).cast("long").as("sb"),
      pmod(hash($"d"), lit(8)).cast("long").as("db")).head
    val t8 = (c: String) => GeoPartition.PTransform("bucket", 8, c)
    assert(GeoPartition.valueOf(t8("id"), 1L, org.apache.spark.sql.types.LongType).get
      == fromCols.getLong(0))
    assert(GeoPartition.valueOf(t8("s"),
      org.apache.spark.unsafe.types.UTF8String.fromString("s1"),
      org.apache.spark.sql.types.StringType).get == fromCols.getLong(1))
    val epochDay = java.time.LocalDate.of(2024, 3, 5).toEpochDay.toInt
    assert(GeoPartition.valueOf(t8("d"), epochDay,
      org.apache.spark.sql.types.DateType).get == fromCols.getLong(2))
    // days on a timestamp literal (micros) matches floor-div semantics
    val td = GeoPartition.PTransform("days", 0, "ts")
    val micros = 1700000000L * 1000000L
    assert(GeoPartition.valueOf(td, micros, org.apache.spark.sql.types.TimestampType).get
      == Math.floorDiv(micros, 86400000000L))
  }

  test("system transform functions resolve in SQL and agree with the layout columns") {
    warehouse
    // the same functions Spark resolves for write distribution are user-
    // callable (Iceberg SparkFunctions parity): geopt.system.<fn>
    val rows = spark.sql("""
      SELECT id,
             geopt.system.bucket(8, id)                AS fb,
             geopt.system.truncate(10, id - 500)       AS ft,
             geopt.system.truncate(3, concat('ab', id)) AS fs,
             geopt.system.days(ts)                     AS fd,
             geopt.system.hours(ts)                    AS fh,
             geopt.system.months(ts)                   AS fm,
             geopt.system.years(ts)                    AS fy
      FROM (SELECT id, timestamp_micros(1700000000000000 + id * 987654321000) AS ts
            FROM range(0, 500))""")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("km", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    def t(kind: String, n: Int, c: String) = GeoPartition.PTransform(kind, n, c)
    val oracle = spark.sql("""
      SELECT id, id - 500 AS km, concat('ab', id) AS s,
             timestamp_micros(1700000000000000 + id * 987654321000) AS ts
      FROM range(0, 500)""")
      .select(col("id"),
        GeoPartition.transformCol(t("bucket", 8, "id"), schema).as("cb"),
        GeoPartition.transformCol(t("truncate", 10, "km"), schema).as("ct"),
        GeoPartition.transformCol(t("truncate", 3, "s"), schema).as("cs"),
        GeoPartition.transformCol(t("days", 0, "ts"), schema).as("cd"),
        GeoPartition.transformCol(t("hours", 0, "ts"), schema).as("ch"),
        GeoPartition.transformCol(t("months", 0, "ts"), schema).as("cm"),
        GeoPartition.transformCol(t("years", 0, "ts"), schema).as("cy"))
    val joined = rows.join(oracle, "id")
    assert(joined.count() == 500)
    val bad = joined.where(
      col("fb") =!= col("cb") || col("ft") =!= col("ct") || col("fs") =!= col("cs") ||
      col("fd") =!= col("cd") || col("fh") =!= col("ch") ||
      col("fm") =!= col("cm") || col("fy") =!= col("cy"))
    assert(bad.isEmpty, s"function/layout disagreement:\n${bad.limit(5).collect().mkString("\n")}")
    // unknown function is a clean error
    val e = intercept[Exception] { spark.sql("SELECT geopt.system.nope(1)").collect() }
    assert(e.getMessage.toLowerCase.contains("nope"))
  }

  test("t.partitions metadata table rolls up files by transform value") {
    warehouse
    spark.sql("""CREATE TABLE geopt.db.pmeta (k BIGINT, ts TIMESTAMP, v STRING)
      USING geo PARTITIONED BY (bucket(4, k), days(ts))""")
    spark.sql("""INSERT INTO geopt.db.pmeta
      SELECT id, timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,CAST(id % 3 AS INT),0,0,0),
             concat('v', id)
      FROM range(0, 400)""")
    val rows = spark.sql(
      "SELECT partition, file_count, row_count FROM geopt.db.pmeta.partitions")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(rows.map(_._3).sum == 400, s"row counts must sum to the table: $rows")
    assert(rows.map(_._2).sum == GeoManifest.read(spark, warehouse + "/db/pmeta").files.length)
    assert(rows.length > 1, s"a bucketed+days table must span partitions: $rows")
    assert(rows.forall(_._1.contains("bucket(4,k)")), s"got $rows")
    assert(rows.forall(_._1.contains("days(ts)")), s"got $rows")
    // unpartitioned table: one `--` bucket covering everything
    spark.sql("CREATE TABLE geopt.db.pnone (id BIGINT) USING geo " +
      "TBLPROPERTIES('stats.columns'='')")
    spark.sql("INSERT INTO geopt.db.pnone SELECT id FROM range(0, 10)")
    val none = spark.sql("SELECT * FROM geopt.db.pnone.partitions").collect()
    assert(none.map(_.getString(0)).toSeq.distinct == Seq("--"), s"got ${none.toSeq}")
    assert(none.map(_.getLong(2)).sum == 10)
  }

  test("OPTIMIZE WHERE compacts only the selected partition's files") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.optw (id BIGINT, nat BIGINT) USING geo " +
      "PARTITIONED BY (nat) TBLPROPERTIES('stats.columns'='')")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO geopt.db.optw SELECT id + ${i * 300}, id % 3 FROM range(0, 300)")
    }
    val root = warehouse + "/db/optw"
    def filesOfNat(m: GeoManifest.Manifest, nat: Long): Set[String] = {
      val i = m.partitions.indexWhere(t => t.kind == "identity" && t.col == "nat")
      m.files.filter(f => f.pstats.lift(i).exists { case (lo, hi) => lo <= nat && hi >= nat })
        .map(_.key).toSet
    }
    val before = GeoManifest.read(spark, root)
    assert(filesOfNat(before, 1L).size >= 3, "three inserts -> three+ files per partition")
    val othersBefore = before.files.map(_.key).toSet -- filesOfNat(before, 1L)
    val n = graft.tables.GeoTable.compactWhere(spark, root, col("nat") === 1L, targetFiles = 1)
    assert(n == filesOfNat(before, 1L).size, s"rewrote $n files")
    val after = GeoManifest.read(spark, root)
    // untouched partitions carry over BY REFERENCE (same paths)
    assert((after.files.map(_.key).toSet -- filesOfNat(after, 1L)) == othersBefore)
    assert(filesOfNat(after, 1L).size == 1, "selected partition compacted to one file")
    def counts(): Map[Long, Long] = spark.table("geopt.db.optw").groupBy("nat").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts() == Map(0L -> 300L, 1L -> 300L, 2L -> 300L))
    // pruning still works post-compaction (clustering preserved)
    assert(scannedFiles("SELECT * FROM geopt.db.optw WHERE nat = 1") == 1)
    // a predicate matching nothing is a no-op (no commit)
    assert(graft.tables.GeoTable.compactWhere(spark, root, col("nat") === 99L, 1) == 0)
    assert(GeoManifest.read(spark, root).version == after.version)

    // MoR leg: the selected partition's position-sidecar rows fold into
    // the rewrite; untouched partitions stay hidden through the sidecar
    graft.tables.GeoTable.delete(spark, root, col("id") % 10 === 0L, mode = "mor")
    spark.sql("REFRESH TABLE geopt.db.optw")
    val preCounts = counts()
    graft.tables.GeoTable.compactWhere(spark, root, col("nat") === 0L, targetFiles = 1)
    spark.sql("REFRESH TABLE geopt.db.optw")
    assert(counts() == preCounts)

    // SQL spelling through the catalog name
    graft.tables.GeoSql.exec(spark, "OPTIMIZE geopt.db.optw INTO 1 FILES WHERE nat = 2")
    assert(counts() == preCounts)
  }

  test("OPTIMIZE SMALL BELOW consolidates only the small files") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.optsm (id BIGINT, nat BIGINT) USING geo " +
      "PARTITIONED BY (nat) TBLPROPERTIES('stats.columns'='')")
    // one right-sized commit + a trickle of small appends (the streaming
    // leftover shape)
    spark.sql("INSERT INTO geopt.db.optsm SELECT id, id % 2 FROM range(0, 2000)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO geopt.db.optsm SELECT ${10000 + i}, ${i % 2}")
    }
    val root = warehouse + "/db/optsm"
    val before = GeoManifest.read(spark, root)
    val big = before.files.filter(_.rows >= 100).map(_.key).toSet
    val small = before.files.filter(f => f.rows > 0 && f.rows < 100)
    assert(big.nonEmpty && small.length == 4, s"shape: ${before.files.map(_.rows)}")
    val n = graft.tables.GeoTable.compactSmall(spark, root, maxRows = 100)
    assert(n >= 4, s"rewrote $n files")
    val after = GeoManifest.read(spark, root)
    // right-sized files carry over BY REFERENCE; small ones consolidated
    assert(big.subsetOf(after.files.map(_.key).toSet))
    assert(after.files.count(f => f.rows > 0 && f.rows < 100) <
      small.length, "small files not consolidated")
    assert(spark.table("geopt.db.optsm").count() == 2004L)
    // partitioned layout preserved: consolidated output is still
    // single-valued per file (clustered rewrite)
    val i = after.partitions.indexWhere(t => t.kind == "identity" && t.col == "nat")
    after.files.filter(f => f.pstats.nonEmpty).foreach { f =>
      val (lo, hi) = f.pstats(i)
      assert(lo == hi, s"straddling file after compactSmall: $f")
    }
    // fewer than 2 small files -> no-op, no commit
    assert(graft.tables.GeoTable.compactSmall(spark, root, maxRows = 2) == 0)
    assert(GeoManifest.read(spark, root).version == after.version)
    // SQL spelling
    spark.sql("INSERT INTO geopt.db.optsm SELECT 20001, 0")
    spark.sql("INSERT INTO geopt.db.optsm SELECT 20002, 1")
    graft.tables.GeoSql.exec(spark, "OPTIMIZE geopt.db.optsm SMALL BELOW 100 ROWS")
    spark.sql("REFRESH TABLE geopt.db.optsm")
    assert(spark.table("geopt.db.optsm").count() == 2006L)
    val e = intercept[Exception] { graft.tables.GeoSql.exec(spark,
      "OPTIMIZE geopt.db.optsm SMALL BELOW 100 ROWS WHERE nat = 0") }
    assert(e.getMessage.contains("alternative selections"))
  }

  test("metadata DELETE: partition-aligned predicates drop whole files with zero jobs") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.mdel (k BIGINT, v STRING) USING geo PARTITIONED BY (k)")
    // roll files at every partition-tuple boundary so each file is
    // single-valued — the aligned shape a production partitioned table
    // has (the default rollMinRows merges these toy 1000-row partitions)
    spark.conf.set("spark.graft.write.rollMinRows", "1")
    try spark.sql("INSERT INTO geopt.db.mdel SELECT id % 4, concat('v', id) FROM range(0, 4000)")
    finally spark.conf.unset("spark.graft.write.rollMinRows")
    val root = warehouse + "/db/mdel"
    val m0 = GeoManifest.read(spark, root)
    val filesBefore = m0.files.map(_.key).toSet
    val sc = spark.sparkContext
    sc.setJobGroup("mdel_drop", "metadata delete")
    spark.sql("DELETE FROM geopt.db.mdel WHERE k < 2")
    sc.clearJobGroup()
    // zero Spark jobs: the drop is manifest-only (no scan, no rewrite)
    assert(sc.statusTracker.getJobIdsForGroup("mdel_drop").isEmpty,
      "partition-aligned DELETE must run no jobs")
    val m1 = GeoManifest.read(spark, root)
    assert(m1.op.contains("delete"))
    // no NEW files (no rewrite), no sidecars — a pure subset drop
    assert(m1.files.map(_.key).toSet.subsetOf(filesBefore), "rewrite minted files")
    assert(m1.deletes.isEmpty && m1.eqDeletes.isEmpty, "sidecars filed")
    assert(m1.files.map(_.rows).sum == 2000)
    assert(spark.sql("SELECT COUNT(*), MIN(k) FROM geopt.db.mdel").head.toSeq == Seq(2000L, 2L))
    // equality form drops the single-valued partition the same way
    spark.sql("DELETE FROM geopt.db.mdel WHERE k = 3")
    val m2 = GeoManifest.read(spark, root)
    assert(m2.files.map(_.key).toSet.subsetOf(filesBefore) && m2.eqDeletes.isEmpty)
    assert(spark.sql("SELECT COUNT(*), MAX(k) FROM geopt.db.mdel").head.toSeq == Seq(1000L, 2L))
    // a predicate stats cannot decide (string column, no transform)
    // falls back to the row-level path and stays exact
    spark.sql("DELETE FROM geopt.db.mdel WHERE v = 'v2'")
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.mdel").head.getLong(0) == 999)
  }

  test("metadata DELETE: day-boundary retention on a days(ts) table, straddle falls back") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.mret (ts TIMESTAMP, v BIGINT) USING geo " +
      "PARTITIONED BY (days(ts))")
    // 4 days of data, hourly rows
    spark.sql("""INSERT INTO geopt.db.mret
      SELECT timestampadd(HOUR, CAST(id AS INT), TIMESTAMP'2025-03-01 00:00:00Z'), id
      FROM range(0, 96)""")
    val root = warehouse + "/db/mret"
    val before = GeoManifest.read(spark, root).files.map(_.key).toSet
    val sc = spark.sparkContext
    sc.setJobGroup("mret_drop", "retention delete")
    // midnight cutoff: the boundary day's file is wholly-outside via the
    // aligned-boundary rule, earlier days wholly-inside — pure drop
    spark.sql("DELETE FROM geopt.db.mret WHERE ts < TIMESTAMP'2025-03-03 00:00:00Z'")
    sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("mret_drop").isEmpty,
      "day-boundary retention must run no jobs")
    val m1 = GeoManifest.read(spark, root)
    assert(m1.files.map(_.key).toSet.subsetOf(before) && m1.deletes.isEmpty)
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.mret").head.getLong(0) == 48)
    // a mid-day cutoff straddles the boundary file: falls back to the
    // row-level path (new files or sidecars appear) and stays exact
    spark.sql("DELETE FROM geopt.db.mret WHERE ts < TIMESTAMP'2025-03-03 12:00:00Z'")
    val m2 = GeoManifest.read(spark, root)
    assert(m2.files.exists(f => !before.contains(f.key)) || m2.deletes.nonEmpty ||
      m2.eqDeletes.nonEmpty, "straddling predicate must take the row-level path")
    assert(spark.sql("SELECT COUNT(*), MIN(v) FROM geopt.db.mret").head.toSeq == Seq(36L, 60L))
  }

  test("metadata DELETE: files that saw nulls never wholly drop; nulls survive") {
    warehouse
    spark.sql("CREATE TABLE geopt.db.mnul (k BIGINT, v STRING) USING geo PARTITIONED BY (k)")
    spark.sql("INSERT INTO geopt.db.mnul " +
      "SELECT CASE WHEN id % 10 = 9 THEN NULL ELSE id % 2 END, concat('v', id) " +
      "FROM range(0, 100)")
    // k < 5 covers every non-null value, but null rows must survive a
    // comparison predicate — the saw-null flags block the whole-file drop
    spark.sql("DELETE FROM geopt.db.mnul WHERE k < 5")
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.mnul").head.getLong(0) == 10,
      "null rows deleted by a comparison predicate")
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.mnul WHERE k IS NULL").head.getLong(0) == 10)
  }

  test("metadata DELETE: path-table API takes the stats-only route") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("geo_mdel_path").toString + "/t"
    val df = spark.range(0, 1000).selectExpr("id % 4 AS cluster", "id AS x")
    spark.conf.set("spark.graft.write.rollMinRows", "1")
    try graft.tables.GeoTable.create(spark, root, df, geomCol = None,
      partitions = Seq(GeoPartition.PTransform("identity", 0, "cluster")))
    finally spark.conf.unset("spark.graft.write.rollMinRows")
    val sc = spark.sparkContext
    sc.setJobGroup("mdel_path", "path metadata delete")
    val n = graft.tables.GeoTable.delete(spark, root, col("cluster") >= 2L)
    sc.clearJobGroup()
    assert(n == 500, s"deleted $n")
    assert(sc.statusTracker.getJobIdsForGroup("mdel_path").isEmpty,
      "path-table aligned DELETE must run no jobs")
    assert(graft.tables.GeoTable.read(spark, root).count() == 500)
    // a provably-empty predicate commits nothing at all
    val v = GeoManifest.read(spark, root).version
    assert(graft.tables.GeoTable.delete(spark, root, col("cluster") > 100L) == 0L)
    assert(GeoManifest.read(spark, root).version == v, "no-op DELETE must not commit")
  }

  test("metadata DELETE GCs position sidecars whose referenced files all dropped") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("geo_mdel_gc").toString + "/t"
    val df = spark.range(0, 1000).selectExpr("id % 4 AS cluster", "id AS x")
    spark.conf.set("spark.graft.write.rollMinRows", "1")
    try graft.tables.GeoTable.create(spark, root, df, geomCol = None,
      partitions = Seq(GeoPartition.PTransform("identity", 0, "cluster")))
    finally spark.conf.unset("spark.graft.write.rollMinRows")
    // a MoR position delete inside cluster 0 (the x<10 leg straddles the
    // file's x-range, so the stats-only route correctly declines)
    val n1 = graft.tables.GeoTable.delete(spark, root,
      col("cluster") === 0L && col("x") < 10L, mode = "mor")
    val m1 = GeoManifest.read(spark, root)
    assert(n1 == 3 && m1.deletes.nonEmpty, s"expected a MoR sidecar, got $m1")
    // whole-file drop of cluster 0: the sidecar only referenced the
    // dropped file — it must GC in the same commit, and the returned
    // count must not re-count the 3 already-deleted rows
    val n2 = graft.tables.GeoTable.delete(spark, root, col("cluster") === 0L)
    assert(n2 == 250 - 3, s"dead sidecar rows re-counted: $n2")
    val m2 = GeoManifest.read(spark, root)
    assert(m2.deletes.isEmpty, s"dead sidecar not GC'd: ${m2.deletes}")
    assert(graft.tables.GeoTable.read(spark, root).count() == 750)
  }

  test("sort.order: ingest-time clustering prunes scans without OPTIMIZE") {
    warehouse
    // s is SCRAMBLED relative to insertion order: without a declared
    // sort, every file covers nearly the full s-range and stats prune
    // nothing; with sort.order the write clusters by s and range filters
    // skip files immediately
    spark.sql("CREATE TABLE geopt.db.so_plain (k BIGINT, s BIGINT, v STRING) USING geo")
    spark.sql("INSERT INTO geopt.db.so_plain " +
      "SELECT id, (id * 7919) % 1000, concat('v', id) FROM range(0, 40000)")
    spark.sql("CREATE TABLE geopt.db.so (k BIGINT, s BIGINT, v STRING) USING geo " +
      "TBLPROPERTIES('sort.order'='s')")
    spark.sql("INSERT INTO geopt.db.so " +
      "SELECT id, (id * 7919) % 1000, concat('v', id) FROM range(0, 40000)")
    val m = GeoManifest.read(spark, warehouse + "/db/so")
    assert(m.partitions.exists(t => t.kind == "sort" && t.col == "s"), m.partitions.toString)
    // no duplicate auto-stats entry for the sort column
    assert(!m.partitions.exists(t => t.kind == "stats" && t.col.equalsIgnoreCase("s")))
    val plainAll = scannedFiles("SELECT * FROM geopt.db.so_plain")
    val plainHit = scannedFiles("SELECT * FROM geopt.db.so_plain WHERE s < 100")
    val sortedAll = scannedFiles("SELECT * FROM geopt.db.so")
    val sortedHit = scannedFiles("SELECT * FROM geopt.db.so WHERE s < 100")
    assert(plainHit == plainAll, "scrambled column should not prune unsorted files")
    assert(sortedHit < sortedAll,
      s"sort.order must make s-ranges prunable: $sortedHit of $sortedAll")
    // same answers either way
    val a = spark.sql("SELECT COUNT(*), SUM(k) FROM geopt.db.so_plain WHERE s < 100").head
    val b = spark.sql("SELECT COUNT(*), SUM(k) FROM geopt.db.so WHERE s < 100").head
    assert(a == b, s"$a vs $b")
    // SHOW TBLPROPERTIES surfaces (and could re-apply) the declared order
    val props = spark.sql("SHOW TBLPROPERTIES geopt.db.so").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("sort.order").contains("s"), props.toString)

    // composes with a bucketed layout: sort keys order rows WITHIN the
    // layout clustering, partition display stays layout-only. Pin the
    // write's task count: files split a bucket's s-range only when a
    // bucket spans several tasks (AQE coalescing on this toy volume
    // would land each bucket in one task — at real scale buckets always
    // span many)
    spark.sql("CREATE TABLE geopt.db.so_b (k BIGINT, s BIGINT, v STRING) USING geo " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES('sort.order'='s')")
    val shufBefore = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try spark.sql("INSERT INTO geopt.db.so_b " +
      "SELECT id, (id * 7919) % 1000, concat('v', id) FROM range(0, 40000)")
    finally {
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      spark.conf.set("spark.sql.shuffle.partitions", shufBefore)
    }
    val allB = scannedFiles("SELECT * FROM geopt.db.so_b")
    val hitB = scannedFiles("SELECT * FROM geopt.db.so_b WHERE s < 100")
    assert(hitB < allB, s"bucketed+sorted must prune on s: $hitB of $allB")
    val desc = spark.sql("DESCRIBE TABLE EXTENDED geopt.db.so_b").collect().mkString
    assert(!desc.contains("sort(s)"), "sort keys must not display as partitioning")
    assert(spark.sql("SELECT COUNT(*) FROM geopt.db.so_b WHERE s < 100").head.getLong(0) ==
      a.getLong(0))
    // partition-spec evolution carries the declared sort order over
    graft.tables.GeoSql.exec(spark,
      "ALTER TABLE geopt.db.so_b SET PARTITIONED BY (bucket(8, k))")
    val m2 = GeoManifest.read(spark, warehouse + "/db/so_b")
    assert(m2.partitions.exists(t => t.kind == "sort" && t.col == "s"),
      s"sort order lost on spec evolution: ${m2.partitions}")
  }

  test("writer-side inline stats agree field-for-field with the read-back scan") {
    // DSv2 INSERT commits manifest entries from the writers' inline stats
    // (no read-back job); this pins their contract: re-running the old
    // collectStats read-back over the same files must reproduce every
    // field — rows, geometry bbox, every transform range — exactly.
    warehouse
    spark.sql("""CREATE TABLE geopt.db.wstats
      (k BIGINT, ts TIMESTAMP, s STRING, g BINARY)
      USING geo PARTITIONED BY (bucket(4, k), days(ts), truncate(3, s))
      TBLPROPERTIES('geometry.column'='g')""")
    spark.sql("""INSERT INTO geopt.db.wstats
      SELECT id,
             timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,CAST(id % 5 AS INT),0,0,0),
             concat('pfx', id % 7),
             CASE WHEN id % 11 = 0 THEN NULL
                  ELSE st_point(CAST(id % 13 AS DOUBLE), CAST(id % 17 AS DOUBLE)) END
      FROM range(0, 500)""")
    val m = GeoManifest.read(spark, warehouse + "/db/wstats")
    assert(m.files.nonEmpty && m.files.map(_.rows).sum == 500)
    val readBack = GeoManifest.collectStats(spark, m.schema,
      m.files.map(_.path), m.geomCol, m.partitions)
    val byKey = readBack.map(e => e.key -> e).toMap
    m.files.foreach { f =>
      val rb = byKey(f.key)
      assert(f.rows == rb.rows, s"${f.path}: rows ${f.rows} vs ${rb.rows}")
      def same(a: Double, b: Double) = (a.isNaN && b.isNaN) || a == b
      assert(same(f.xmin, rb.xmin) && same(f.ymin, rb.ymin) &&
        same(f.xmax, rb.xmax) && same(f.ymax, rb.ymax),
        s"${f.path}: bbox (${f.xmin},${f.ymin},${f.xmax},${f.ymax}) vs " +
          s"(${rb.xmin},${rb.ymin},${rb.xmax},${rb.ymax})")
      assert(f.pstats == rb.pstats, s"${f.path}: pstats ${f.pstats} vs ${rb.pstats}")
    }
  }
}
