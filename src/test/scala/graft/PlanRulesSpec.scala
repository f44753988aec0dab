package graft

import graft.functions.GraftFunctions._
import graft.plans.GeoParquet

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

class PlanRulesSpec extends SparkSpec {
  import spark.implicits._

  private def executedPlan(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  test("GeoBboxPushdown: ST_Contains(lit, g) reaches parquet as PushedFilters") {
    val dir = java.nio.file.Files.createTempDirectory("geoparquet").toString
    val df = spark.range(1000).select(col("id"),
      st_point((col("id") % 100).cast("double"), (col("id") % 53).cast("double")).as("g"))
    GeoParquet.write(df, "g", dir, cellSize = 10.0)

    val back = spark.read.parquet(dir)
    back.createOrReplaceTempView("geo_pts")
    val q = spark.sql(
      "SELECT id FROM geo_pts WHERE st_contains(st_polygonfromenvelope(10.5, 10.5, 20.5, 20.5), g)")

    // optimized plan must contain derived range filters on sidecars
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains(">= 10.5") && optimized.contains("<= 20.5"),
      s"no sidecar conjuncts in:\n$optimized")
    // and they must reach the scan (read the scan's pushed-filter list
    // directly — the rendered plan string truncates long filter lists)
    val pushed = executedPlan(q).collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.dataFilters.map(_.sql)
    }.flatten
    assert(pushed.exists(s => s.contains("g_xmin") && s.contains(">=")),
      s"no pushed bbox filters in: $pushed")

    // correctness unchanged
    val ids = q.as[Long].collect().toSet
    val expected = (0L until 1000L).filter(i => (i % 100) > 10.5 && (i % 100) < 20.5 && (i % 53) > 10.5 && (i % 53) < 20.5).toSet
    assert(ids == expected)
  }

  test("GeoBboxPushdown: cell partition column prunes partitions for containment") {
    val dir = java.nio.file.Files.createTempDirectory("geopart").toString
    spark.conf.set("spark.graft.geoparquet.cellSize", "10.0")
    val df = spark.range(500).select(col("id"),
      st_point((col("id") % 40).cast("double"), (col("id") % 30).cast("double")).as("g"))
    GeoParquet.write(df, "g", dir, cellSize = 10.0, partitionByCell = true)

    spark.read.parquet(dir).createOrReplaceTempView("geo_part")
    try {
      val q = spark.sql(
        "SELECT id FROM geo_part WHERE st_within(g, st_polygonfromenvelope(10.5, 10.5, 19.5, 19.5))")
      val partFilters = executedPlan(q).collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f.partitionFilters.map(_.sql)
      }.flatten
      assert(partFilters.exists(s => s.contains("g_cell") && (s.contains("IN") || s.contains("="))),
        s"no partition pruning in: $partFilters")
      val ids = q.as[Long].collect().toSet
      val expected = (0L until 500L)
        .filter(i => (i % 40) > 10.5 && (i % 40) < 19.5 && (i % 30) > 10.5 && (i % 30) < 19.5).toSet
      assert(ids == expected)
    } finally spark.conf.unset("spark.graft.geoparquet.cellSize")
  }

  test("bucketed tables co-locate the orders/lineitem join (no shuffle on bucketed sides)") {
    spark.sql("DROP TABLE IF EXISTS orders_b"); spark.sql("DROP TABLE IF EXISTS lineitem_b")
    val d = "/root/testdata/sf0.001"
    spark.read.parquet(s"$d/orders.parquet")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
    spark.read.parquet(s"$d/lineitem.parquet")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val j = spark.sql(
        """SELECT o_orderkey, COUNT(*) AS n FROM orders_b JOIN lineitem_b ON l_orderkey = o_orderkey
           GROUP BY o_orderkey""")
      val plan = j.queryExecution.executedPlan.toString
      // co-located: no Exchange between the scans and the join
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected SMJ:\n$plan")
      assert(!plan.substring(joinIdx).contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE orders_b"); spark.sql("DROP TABLE lineitem_b")
    }
  }

  test("SpatialJoinRewrite: SQL ST join avoids BNLJ and equals naive pairs") {
    spark.conf.set("spark.graft.join.cellSize", "20.0")
    spark.range(300).select(col("id").as("pid"),
      st_point(pmod(hash(col("id")), lit(1000)).cast("double") / 10.0,
               pmod(hash(col("id"), lit(1)), lit(1000)).cast("double") / 10.0).as("pt"))
      .createOrReplaceTempView("rw_pts")
    spark.range(20).select(col("id").as("bid"),
      st_polygonFromEnvelope(
        pmod(hash(col("id"), lit(2)), lit(800)).cast("double") / 10.0,
        pmod(hash(col("id"), lit(3)), lit(800)).cast("double") / 10.0,
        pmod(hash(col("id"), lit(2)), lit(800)).cast("double") / 10.0 + 25.0,
        pmod(hash(col("id"), lit(3)), lit(800)).cast("double") / 10.0 + 12.0).as("box"))
      .createOrReplaceTempView("rw_boxes")

    val joined = spark.sql(
      "SELECT bid, pid FROM rw_boxes JOIN rw_pts ON st_contains(box, pt)")
    val plan = executedPlan(joined).toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"spatial join not rewritten:\n$plan")

    val got = joined.as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, "rewrite produced duplicates")
    assert(got.toSet == naivePairs((b, p) => b.contains(p)))
  }

  /** Driver-side JTS ground truth — no Spark plan involved at all. */
  private def naivePairs(
      pred: (org.locationtech.jts.geom.Geometry, org.locationtech.jts.geom.Geometry) => Boolean)
      : Set[(Long, Long)] = {
    val boxes = spark.table("rw_boxes").select("bid", "box")
      .as[(Long, Array[Byte])].collect().map { case (i, b) => (i, graft.geom.Geom.deserialize(b)) }
    val pts = spark.table("rw_pts").select("pid", "pt")
      .as[(Long, Array[Byte])].collect().map { case (i, b) => (i, graft.geom.Geom.deserialize(b)) }
    (for { (bi, bg) <- boxes; (pi, pg) <- pts if pred(bg, pg) } yield (bi, pi)).toSet
  }

  test("SpatialJoinRewrite: dwithin join rewrites and matches naive") {
    spark.conf.set("spark.graft.join.cellSize", "15.0")
    val joined = spark.sql(
      "SELECT bid, pid FROM rw_boxes JOIN rw_pts ON st_dwithin(box, pt, 5.0)")
    val plan = executedPlan(joined).toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    assert(joined.as[(Long, Long)].collect().toSet ==
      naivePairs((b, p) => b.isWithinDistance(p, 5.0)))
  }

  test("headline query plans: broadcast star join, codegen, no cartesian") {
    // plan-regression guard for the bench headliners: q5's five-way star
    // must broadcast the small dims (no shuffle of nation/region/supplier
    // by SMJ) and never fall to a cartesian/BNLJ; the scans must prune
    // columns (lineitem is 16 cols; the query touches 4).
    SparkEntry.prep(spark, "/root/testdata/sf0.001")
    val q5 = SparkEntry.queries("q5_local_supplier")(spark, "/root/testdata/sf0.001")
    q5.collect()
    val plan = q5.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"q5 must broadcast dims:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // codegen stages render as "*(n)" in the AQE final plan string
    assert(plan.contains("*("), s"q5 must stay in whole-stage codegen:\n$plan")
    // scans live inside AQE query stages (leaf nodes to collect), so read
    // the pruned schema off the rendered scan line instead
    val readSchemas = plan.linesIterator
      .filter(l => l.contains("lineitem.parquet") || (l.contains("FileScan") && l.contains("l_extendedprice")))
      .flatMap(l => """ReadSchema: struct<([^>]*)>""".r.findFirstMatchIn(l).map(_.group(1)))
      .toSeq
    assert(readSchemas.nonEmpty, s"no lineitem scan line found in:\n$plan")
    val nCols = readSchemas.head.split(',').length
    assert(nCols <= 6, s"lineitem scan must prune columns, read: ${readSchemas.head}")
  }

  test("joins with a real equi key are left alone") {
    val j = spark.sql(
      "SELECT bid, pid FROM rw_boxes JOIN rw_pts ON bid = pid AND st_contains(box, pt)")
    // must not explode cells: plan has no st_tile_cells generator
    assert(!j.queryExecution.optimizedPlan.toString.contains("st_tile_cells"))
    j.collect() // and it runs
  }
}
