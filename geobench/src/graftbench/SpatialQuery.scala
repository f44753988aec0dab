package graftbench

import graft.functions.GraftFunctions.st_point
import graft.plans.KnnGridJoin
import graft.tables.GeoTable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.locationtech.jts.geom.{Coordinate, Polygon}

/**
 * Read-only control workload: one static table of clustered points and a
 * zones polygon table. Each cycle runs SQL range queries whose window
 * areas are log-uniform over four decades (small windows are planning and
 * manifest pruning, large ones per-row predicate work), point-batch to zone
 * joins and kNN joins. Nothing commits, so commit-path changes must leave
 * it flat.
 */
final class SpatialQuery(spark: SparkSession, rec: Recorder, seed: Long, tiny: Boolean) extends Workload {
  private val nPoints = if (tiny) 5000 else 60000
  private val rangesPerCycle = 10
  private val zoneJoinsPerCycle = 1
  private val knnJoinsPerCycle = 1
  private val zoneBatch = if (tiny) 100 else 500
  private val knnBatch = 16
  private val extent = 1000.0
  private val K = 10

  val primaryRead = "range"
  val sideClasses = Seq("zone_join", "knn_join")
  val writeClasses = Seq.empty[String]
  val appendClasses = Seq.empty[String]
  val nominalCycleSeconds = 5.0

  private var pts: Gen.Points = _
  private var zones: Seq[Polygon] = Seq.empty
  private var roots: Seq[String] = Seq.empty
  private var cycleOps: Seq[() => Unit] = Seq.empty

  def tableRoots: Seq[String] = roots

  def build(dir: String, keep: Boolean): Unit = {
    val rnd = new java.util.Random(seed)
    pts = Gen.clusteredPoints(rnd, nPoints, 24, extent, 25.0)
    zones = Gen.zones(rnd, 8, extent)
    val sp = spark
    import sp.implicits._
    val p = pts
    val ptsDf = spark.sparkContext
      .parallelize(p.ids.indices.map(i => (p.ids(i), p.xs(i), p.ys(i))), 16)
      .toDF("id", "x", "y").select(col("id"), st_point(col("x"), col("y")).as("geom"))
    GeoTable.create(spark, s"$dir/pts", ptsDf, geomCol = Some("geom"), zorder = true, cellSize = 4.0)
    val zoneDf = zones.zipWithIndex.map { case (z, i) => (i, z.toText) }.toDF("zid", "wkt")
      .select(col("zid"), graft.functions.GraftFunctions.st_geomFromText(col("wkt")).as("geom"))
    GeoTable.create(spark, s"$dir/zones", zoneDf, geomCol = Some("geom"))
    if (keep) {
      roots = Seq(s"$dir/pts", s"$dir/zones")
      cycleOps = plan(new java.util.Random(seed ^ 0x5eed))
    }
  }

  /** The fixed op list every cycle runs, drawn once from the seed. */
  private def plan(rnd: java.util.Random): Seq[() => Unit] = {
    // window sides step geometrically from 2 to 200 (areas over four
    // decades) in a seeded order; only positions and order vary by seed
    val sides = Gen.strata(rnd, rangesPerCycle, 2.0, 200.0)
    val ranges = (0 until rangesPerCycle).map { i =>
      val c = rnd.nextInt(pts.size)
      val w = Gen.square(pts.xs(c), pts.ys(c), sides(i))
      val contains = i % 2 == 0
      val expect = pts.rangeCount(w, contains)
      () => range(w, contains, expect)
    }
    val joins = (0 until zoneJoinsPerCycle).map { _ =>
      val b = Gen.clusteredPoints(rnd, zoneBatch, 8, extent, 60.0)
      val expect = (0 until b.size).flatMap { i =>
        val p = Gen.gf.createPoint(new Coordinate(b.xs(i), b.ys(i)))
        zones.indices.filter(z => zones(z).contains(p)).map(z => (b.ids(i), z))
      }.toSet
      () => zoneJoin(b, expect)
    }
    val knns = (0 until knnJoinsPerCycle).map { _ =>
      val q = Gen.clusteredPoints(rnd, knnBatch, 4, extent, 50.0)
      val expect = (0 until q.size).map(i => q.ids(i) -> pts.knn(q.xs(i), q.ys(i), K)).toMap
      () => knnJoin(q, expect)
    }
    // interleave so every class sees the same table and JIT state
    val side = joins.zip(knns).flatMap { case (a, b) => Seq(a, b) }
    val step = math.max(1, ranges.size / math.max(1, side.size))
    ranges.grouped(step).toSeq.zipAll(side, Seq.empty, () => ()).flatMap { case (rs, s) => rs :+ s }
  }

  def cycle(): Unit = cycleOps.foreach(_())

  private def range(w: Polygon, contains: Boolean, expect: Long): Unit = {
    val wkt = w.toText
    val pred =
      if (contains) s"ST_Contains(ST_GeomFromWKT('$wkt'), geom)"
      else s"ST_Intersects(geom, ST_GeomFromWKT('$wkt'))"
    rec.op("range") {
      val df = spark.sql(s"SELECT count(*) FROM geo.db.pts WHERE $pred")
      rec.span("plans.plan_ms.range")(df.queryExecution.executedPlan)
      df.collect()(0).getLong(0)
    } { got => if (got == expect) None else Some(s"count $got, exact $expect") }
    if (rec.traced) rec.harness(traceRange(w, contains, expect))
  }

  /** Layer attribution for one range window, outside the timed op:
    * manifest pruning through the table API and the rows it examines. */
  private def traceRange(w: Polygon, contains: Boolean, expect: Long): Unit = {
    val root = roots.head
    val g = graft.functions.GraftFunctions.st_geomFromText(org.apache.spark.sql.functions.lit(w.toText))
    val cond =
      if (contains) graft.functions.GraftFunctions.st_contains(g, col("geom"))
      else graft.functions.GraftFunctions.st_intersects(col("geom"), g)
    val live = graft.tables.GeoManifest.read(spark, root).files.size
    val df = rec.span("tables.scan_build_ms")(GeoTable.scan(spark, root, cond))
    rec.sample("tables.files_scanned_ratio", df.inputFiles.length.toDouble / live)
    val before = rec.jobs.all.map(_._1).toSet
    val n = df.count()
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val scanned = rec.jobs.all.filterNot(j => before(j._1)).map(_._2)
    val rows = scanned.map(_.recordsRead).sum
    rec.sample("tables.rows_examined_per_result", rows.toDouble / math.max(n, 1L))
    val area = w.getArea
    if (area >= 0.25 * 200.0 * 200.0 && rows > 0)
      rec.sample("functions.cpu_ns_per_row", scanned.map(_.cpuNs).sum.toDouble / rows)
    if (n != expect) rec.failures += s"traced scan count $n, exact $expect"
  }

  private def zoneJoin(b: Gen.Points, expect: Set[(Long, Int)]): Unit = {
    val sp = spark
    import sp.implicits._
    val batch = b.ids.indices.map(i => (b.ids(i), b.xs(i), b.ys(i))).toDF("bid", "x", "y")
      .select(col("bid"), st_point(col("x"), col("y")).as("geom"))
    rec.op("zone_join") {
      batch.createOrReplaceTempView("batch")
      val df = spark.sql("SELECT b.bid, z.zid FROM batch b JOIN geo.db.zones z ON ST_Contains(z.geom, b.geom)")
      val plan = rec.span("plans.plan_ms.join")(df.queryExecution.executedPlan)
      if (rec.traced) rec.sample("plans.exchanges.join", plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.size.toDouble)
      df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    } { got => if (got == expect) None else Some(s"${got.size} pairs, exact ${expect.size}") }
  }

  private def knnJoin(q: Gen.Points, expect: Map[Long, Seq[Long]]): Unit = {
    val sp = spark
    import sp.implicits._
    val k = K
    val left = q.ids.indices.map(i => (q.ids(i), q.xs(i), q.ys(i))).toDF("qid", "x", "y")
      .select(col("qid"), st_point(col("x"), col("y")).as("qgeom"))
    rec.op("knn_join") {
      val right = spark.table("geo.db.pts")
      val out: DataFrame = rec.span("plans.knn_join_ms")(KnnGridJoin.knnJoinPoints(
        left, col("qgeom"), col("qid"), right, col("geom"), col("id"), k, cellSize = 8.0))
      out.select("qid", "knn_rank", "id").collect()
        .groupBy(_.getLong(0)).map { case (qid, rs) => qid -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    } { got =>
      expect.foreach { case (qid, ex) => rec.recalls += ex.intersect(got.getOrElse(qid, Nil)).size / k.toDouble }
      val bad = expect.count { case (qid, ex) => got.getOrElse(qid, Nil) != ex }
      if (bad == 0) None else Some(s"$bad of ${expect.size} query points differ from brute force")
    }
  }

  // the last decoded geometry, kept so the decode loop cannot be elided
  @volatile private var decoded: org.locationtech.jts.geom.Geometry = _

  def finish(): Map[String, Double] = {
    // WKB decode cost over the workload's own geometries
    if (rec.traced) {
      val wkbs = (0 until math.min(pts.size, 50000)).map(i => graft.geom.Geom.serialize(Gen.gf.createPoint(new Coordinate(pts.xs(i), pts.ys(i)))))
      var best = Double.MaxValue
      for (_ <- 0 until 5) {
        val t0 = System.nanoTime()
        wkbs.foreach(b => decoded = graft.geom.Geom.deserialize(b))
        best = math.min(best, (System.nanoTime() - t0).toDouble / wkbs.size)
      }
      rec.sample("geom.wkb_decode_ns", best)
    }
    Map.empty
  }
}
