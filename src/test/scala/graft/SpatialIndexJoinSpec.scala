package graft

import graft.functions.GraftFunctions._
import graft.plans.SpatialIndexJoinExec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

/**
 * SQL spatial joins take one of two plans (`SpatialJoinRewrite`): the
 * broadcast index join when a side can be broadcast, the tile join
 * otherwise. Every case runs on both paths — the default
 * `spark.sql.autoBroadcastJoinThreshold` (index) and -1 (tile) — and
 * must equal the driver-side JTS pairs with no duplicates.
 */
class SpatialIndexJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // 300 points and 20 boxes on a 0.1 lattice, so points land on box edges
  // (contains and covers differ there); plus one null and one empty
  // geometry per side, which neither path may match
  private lazy val tables: Unit = {
    spark.range(300).select(col("id").as("pid"),
      st_point(pmod(hash(col("id")), lit(1000)).cast("double") / 10.0,
               pmod(hash(col("id"), lit(1)), lit(1000)).cast("double") / 10.0).as("pt"))
      .union(Seq(300L, 301L).toDF("pid").select(col("pid"),
        when(col("pid") === 301L, st_geomFromText(lit("POINT EMPTY"))).as("pt")))
      .createOrReplaceTempView("ij_pts")
    spark.range(20).select(col("id").as("bid"),
      st_polygonFromEnvelope(
        pmod(hash(col("id"), lit(2)), lit(800)).cast("double") / 10.0,
        pmod(hash(col("id"), lit(3)), lit(800)).cast("double") / 10.0,
        pmod(hash(col("id"), lit(2)), lit(800)).cast("double") / 10.0 + 25.0,
        pmod(hash(col("id"), lit(3)), lit(800)).cast("double") / 10.0 + 12.0).as("box"))
      .union(Seq(20L, 21L).toDF("bid").select(col("bid"),
        when(col("bid") === 21L, st_geomFromText(lit("POLYGON EMPTY"))).as("box")))
      .createOrReplaceTempView("ij_boxes")
    spark.conf.set("spark.graft.join.cellSize", "20.0")
  }

  private def geoms(view: String, key: String, g: String): Seq[(Long, Geometry)] = {
    tables
    spark.table(view).select(key, g).as[(Long, Array[Byte])].collect().toSeq
      .collect { case (k, b) if b != null => (k, graft.geom.Geom.deserialize(b)) }
      .filterNot(_._2.isEmpty)
  }

  /** Driver-side JTS ground truth over (bid, pid) — no Spark plan. */
  private def naivePairs(pred: (Geometry, Geometry) => Boolean,
                         extra: (Long, Long) => Boolean = (_, _) => true): Set[(Long, Long)] = {
    val boxes = geoms("ij_boxes", "bid", "box")
    val pts = geoms("ij_pts", "pid", "pt")
    (for { (b, bg) <- boxes; (p, pg) <- pts if pred(bg, pg) && extra(b, p) } yield (b, p)).toSet
  }

  private def nodes(df: DataFrame): Seq[SparkPlan] = collect(df.queryExecution.executedPlan) { case p => p }

  private def indexJoin(df: DataFrame): Option[SpatialIndexJoinExec] =
    nodes(df).collectFirst { case j: SpatialIndexJoinExec => j }

  private def withThreshold[A](t: Option[String])(body: => A): A = {
    t.foreach(spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** Runs `sql` (selecting bid, pid) on the index path and the tile path;
    * returns the index path's executed join for further checks. */
  private def bothPaths(sql: String, expected: Set[(Long, Long)],
                        tileAtMinusOne: Boolean = true): SpatialIndexJoinExec = {
    tables
    def run(df: DataFrame): Unit = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, s"duplicate pairs:\n${df.queryExecution.executedPlan}")
      assert(got.toSet == expected, s"pairs differ:\n${df.queryExecution.executedPlan}")
      assert(!nodes(df).exists(p =>
        p.isInstanceOf[BroadcastNestedLoopJoinExec] || p.isInstanceOf[CartesianProductExec]),
        s"BNLJ/cartesian in:\n${df.queryExecution.executedPlan}")
    }
    val indexed = withThreshold(None) {
      val df = spark.sql(sql)
      run(df)
      val j = indexJoin(df)
      assert(j.nonEmpty, s"no index join in:\n${df.queryExecution.executedPlan}")
      assert(!nodes(df).exists(_.isInstanceOf[GenerateExec]), "index path must not explode cells")
      j.get
    }
    withThreshold(Some("-1")) {
      val df = spark.sql(sql)
      run(df)
      if (tileAtMinusOne) {
        assert(indexJoin(df).isEmpty, s"threshold -1 must tile:\n${df.queryExecution.executedPlan}")
        assert(df.queryExecution.executedPlan.toString.contains("st_tile_cells"))
      } else assert(indexJoin(df).map(_.buildSide).contains(indexed.buildSide))
    }
    indexed
  }

  private val preds: Seq[(String, String, (Geometry, Geometry) => Boolean)] = Seq(
    ("contains", "st_contains(box, pt)", (b, p) => b.contains(p)),
    ("within", "st_within(pt, box)", (b, p) => p.within(b)),
    ("covers", "st_covers(box, pt)", (b, p) => b.covers(p)),
    ("coveredby", "st_coveredby(pt, box)", (b, p) => p.coveredBy(b)),
    ("intersects", "st_intersects(box, pt)", (b, p) => b.intersects(p)),
    ("dwithin", "st_dwithin(box, pt, 5.0)", (b, p) => b.isWithinDistance(p, 5.0)))

  for ((name, cond, pred) <- preds) {
    test(s"$name: small side on the left or the right, index and tile paths equal JTS") {
      val expected = naivePairs(pred)
      assert(expected.nonEmpty)
      val l = bothPaths(s"SELECT bid, pid FROM ij_boxes JOIN ij_pts ON $cond", expected)
      assert(l.buildSide == BuildLeft)
      val r = bothPaths(s"SELECT bid, pid FROM ij_pts JOIN ij_boxes ON $cond", expected)
      assert(r.buildSide == BuildRight)
    }
  }

  test("an extra non-spatial conjunct is evaluated on both paths") {
    val expected = naivePairs((b, p) => b.intersects(p), (b, p) => p > b * 10)
    bothPaths("SELECT bid, pid FROM ij_boxes JOIN ij_pts ON st_intersects(box, pt) AND pid > bid * 10",
      expected)
  }

  test("a BROADCAST hint indexes the larger side, at any threshold") {
    val sql = "SELECT /*+ BROADCAST(p) */ bid, pid FROM ij_boxes b JOIN ij_pts p ON st_contains(box, pt)"
    val j = bothPaths(sql, naivePairs((b, p) => b.contains(p)), tileAtMinusOne = false)
    assert(j.buildSide == BuildRight)
  }

  test("probe metrics: build rows, index candidates, output rows") {
    // the zone-join shape: 64 zones of 125 x 125 tiling a 1000 x 1000
    // extent, 500 points
    val rnd = new java.util.Random(7)
    val zones = for (i <- 0 until 8; j <- 0 until 8) yield
      (i * 8 + j, i * 125.0, j * 125.0, i * 125.0 + 125.0, j * 125.0 + 125.0)
    val pts = (0 until 500).map(i => (i.toLong, rnd.nextDouble() * 1000.0, rnd.nextDouble() * 1000.0))
    zones.toDF("zid", "x0", "y0", "x1", "y1")
      .select(col("zid"), st_polygonFromEnvelope(col("x0"), col("y0"), col("x1"), col("y1")).as("geom"))
      .createOrReplaceTempView("ij_zones")
    pts.toDF("bid", "x", "y").select(col("bid"), st_point(col("x"), col("y")).as("geom"))
      .createOrReplaceTempView("ij_batch")
    val expected = for {
      (b, x, y) <- pts; (z, x0, y0, x1, y1) <- zones if x > x0 && x < x1 && y > y0 && y < y1
    } yield (b, z)
    val df = spark.sql("SELECT b.bid, z.zid FROM ij_batch b JOIN ij_zones z ON st_contains(z.geom, b.geom)")
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSet == expected.toSet && got.length == expected.size)
    val j = indexJoin(df).getOrElse(fail(s"no index join in:\n${df.queryExecution.executedPlan}"))
    assert(j.buildSide == BuildRight)
    val m = j.metrics.map { case (k, v) => k -> v.value }
    assert(m("numBuildRows") == 64)
    assert(m("numCandidates") >= expected.size && m("numCandidates") <= 64L * 500)
    assert(m("numOutputRows") == expected.size)
  }

  test("a catalog table zone join is indexed; threshold -1 tiles it") {
    tables
    val dir = java.nio.file.Files.createTempDirectory("ij_warehouse").toString
    spark.conf.set("spark.sql.catalog.ijgeo", classOf[graft.tables.GeoCatalog].getName)
    spark.conf.set("spark.sql.catalog.ijgeo.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ijgeo.db")
    graft.tables.GeoTable.create(spark, s"$dir/db/zones",
      spark.table("ij_boxes").where(col("bid") < 20).select(col("bid").as("zid"), col("box").as("geom")),
      geomCol = Some("geom"))
    val sql = "SELECT z.zid AS bid, b.pid AS pid FROM ij_pts b JOIN ijgeo.db.zones z ON ST_Contains(z.geom, b.pt)"
    val expected = naivePairs((b, p) => b.contains(p))
    val j = bothPaths(sql, expected)
    assert(j.buildSide == BuildRight)
  }

  test("a stream-stream spatial join is tiled, so pairs meet across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val pts = MemoryStream[(Long, Double, Double)]
    val boxes = MemoryStream[(Long, Double, Double)]
    pts.toDF().toDF("pid", "x", "y").select(col("pid"), st_point(col("x"), col("y")).as("pt"))
      .createOrReplaceTempView("ij_spts")
    boxes.toDF().toDF("bid", "x", "y").select(col("bid"),
      st_polygonFromEnvelope(col("x"), col("y"), col("x") + 10.0, col("y") + 10.0).as("box"))
      .createOrReplaceTempView("ij_sboxes")
    // each micro-batch of either side is a small local relation: only the
    // streaming guard keeps it from being indexed against one batch alone
    val q = spark.sql("SELECT bid, pid FROM ij_sboxes JOIN ij_spts ON st_contains(box, pt)")
      .writeStream.format("memory").queryName("ij_stream").outputMode("append").start()
    try {
      pts.addData((1L, 5.0, 5.0), (2L, 50.0, 50.0))
      q.processAllAvailable()
      boxes.addData((7L, 0.0, 0.0), (8L, 45.0, 45.0))
      q.processAllAvailable()
      assert(spark.table("ij_stream").as[(Long, Long)].collect().toSet == Set((7L, 1L), (8L, 2L)))
    } finally q.stop()
  }
}
