package graftbench

import scala.collection.mutable

import graft.functions.GraftFunctions.{st_geomFromText, st_intersects, st_point}
import graft.tables.{GeoManifest, GeoSidecarCache, GeoTable}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.StreamingQuery
import org.locationtech.jts.geom.Polygon

/**
 * Commit-path workload: one geo table of clustered base points under a
 * fixed cycle of small appends, streaming micro-batches, a spatial UPDATE,
 * a keyed upsert and a spatial DELETE, with range reads of the same table
 * between the writes. Every written row lives in a strip east of the base
 * points; the DELETE removes the strip and compact + vacuum close the
 * cycle, so each cycle starts from the same table.
 */
final class TableChurn(spark: SparkSession, rec: Recorder, seed: Long, tiny: Boolean, work: String)
    extends Workload {
  private val nBase = if (tiny) 2000 else 20000
  private val appendsPerCycle = 6
  private val appendRows = 40
  private val streamBatches = 2
  private val readsPerCycle = 12
  private val compactFiles = 8
  private val extent = 1000.0
  private val strip = Gen.rect(extent, 0.0, extent + 100.0, extent)
  // id 8 + grp 4 + val 8 + WKB point 21: the logical size of one user row
  private val rowBytes = 41L

  val primaryRead = "read"
  val writeClasses = Seq("append", "stream", "update", "upsert", "delete")
  val sideClasses = writeClasses
  val appendClasses = Seq("append", "stream")
  val nominalCycleSeconds = 6.0

  private case class Row(id: Long, grp: Int, v: Double, x: Double, y: Double)

  private var root = ""
  private var base: Gen.Points = _
  private val live = mutable.LinkedHashMap.empty[Long, Row]
  private var cycleOps: Seq[() => Unit] = Seq.empty
  private var input: MemoryStream[(Long, Int, Double, Double, Double)] = _
  private var query: StreamingQuery = _

  def tableRoots: Seq[String] = Seq(root)

  private def baseRow(i: Int): Row = Row(base.ids(i), (base.ids(i) % 7).toInt, (base.ids(i) % 1000).toDouble,
    base.xs(i), base.ys(i))

  private def toDf(rows: Seq[Row]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.map(r => (r.id, r.grp, r.v, r.x, r.y)).toDF("id", "grp", "val", "x", "y")
      .select(col("id"), col("grp"), col("val"), st_point(col("x"), col("y")).as("geom"))
  }

  def build(dir: String, keep: Boolean): Unit = {
    val rnd = new java.util.Random(seed)
    base = Gen.clusteredPoints(rnd, nBase, 16, extent, 30.0)
    val b = base
    val sp = spark
    import sp.implicits._
    val df = spark.sparkContext
      .parallelize(b.ids.indices.map(i => (b.ids(i), (b.ids(i) % 7).toInt, (b.ids(i) % 1000).toDouble, b.xs(i), b.ys(i))),
        compactFiles)
      .toDF("id", "grp", "val", "x", "y")
      .select(col("id"), col("grp"), col("val"), st_point(col("x"), col("y")).as("geom"))
    GeoTable.create(spark, s"$dir/churn", df, geomCol = Some("geom"), zorder = true, cellSize = 4.0)
    if (keep) {
      root = s"$dir/churn"
      live.clear()
      base.ids.indices.foreach(i => live(base.ids(i)) = baseRow(i))
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      input = MemoryStream[(Long, Int, Double, Double, Double)]
      query = input.toDF().toDF("id", "grp", "val", "x", "y")
        .select(col("id"), col("grp"), col("val"), st_point(col("x"), col("y")).as("geom"))
        .writeStream.option("checkpointLocation", s"$work/stream-checkpoint")
        .toTable("geo.db.churn")
      cycleOps = plan(new java.util.Random(seed ^ 0xc4a2L))
    }
  }

  /** Rows for the strip with ids from `firstId`. */
  private def stripRows(rnd: java.util.Random, n: Int, firstId: Long): Seq[Row] =
    (0 until n).map { i =>
      val id = firstId + i
      Row(id, (id % 7).toInt, (id % 1000).toDouble, extent + rnd.nextDouble() * 100.0, rnd.nextDouble() * extent)
    }

  /** The fixed op list every cycle runs, drawn once from the seed. */
  private def plan(rnd: java.util.Random): Seq[() => Unit] = {
    var nextId = 1000000L
    val appends = (0 until appendsPerCycle).map { _ =>
      val rows = stripRows(rnd, appendRows, nextId); nextId += appendRows
      () => append(rows)
    }
    val streams = (0 until streamBatches).map { _ =>
      val rows = stripRows(rnd, appendRows, nextId); nextId += appendRows
      () => stream(rows)
    }
    // upsert: half replaces rows appended earlier in the cycle, half is new
    val upsertRows = stripRows(rnd, appendRows / 2, 1000000L).map(r => r.copy(v = r.v + 5000)) ++
      stripRows(rnd, appendRows / 2, nextId)
    val updateWindow = Gen.rect(extent, 0.0, extent + 100.0, extent / 2)
    val sides = Gen.strata(rnd, readsPerCycle, 5.0, 150.0)
    val reads = (0 until readsPerCycle).map { i =>
      // a third of the windows fall on the strip, where the writes land
      val (cx, cy) =
        if (i % 3 == 0) (extent + rnd.nextDouble() * 100.0, rnd.nextDouble() * extent)
        else { val c = rnd.nextInt(base.size); (base.xs(c), base.ys(c)) }
      val w = Gen.square(cx, cy, sides(i))
      () => read(w)
    }
    val writes: Seq[() => Unit] = appends.take(appendsPerCycle / 2) ++ streams ++
      Seq(() => update(updateWindow)) ++ appends.drop(appendsPerCycle / 2) ++
      Seq(() => upsert(upsertRows), () => delete())
    val per = reads.size.toDouble / writes.size
    val mixed = writes.zipWithIndex.flatMap { case (w, i) =>
      w +: reads.slice(math.round(i * per).toInt, math.round((i + 1) * per).toInt)
    }
    mixed :+ (() => maintain())
  }

  def cycle(): Unit = cycleOps.foreach(_())

  private def geomLit(p: Polygon): Column = st_geomFromText(lit(p.toText))

  private def inside(r: Row, p: Polygon): Boolean = {
    val e = p.getEnvelopeInternal
    r.x >= e.getMinX && r.x <= e.getMaxX && r.y >= e.getMinY && r.y <= e.getMaxY
  }

  private def read(w: Polygon): Unit = {
    val expect = rec.harness {
      val rows = live.valuesIterator.filter(inside(_, w)).toSeq
      (rows.size.toLong, rows.map(_.v).sum)
    }
    val misses0 = GeoSidecarCache.misses.get()
    rec.op("read") {
      rec.span("tables.manifest_read_ms")(GeoManifest.read(spark, root))
      val df = rec.span("tables.scan_build_ms")(GeoTable.scan(spark, root, st_intersects(col("geom"), geomLit(w))))
      val r = df.agg(count(lit(1)), sum(col("val"))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
    } { got => if (got == expect) None else Some(s"(count, sum) $got, model $expect") }
    rec.sample("tables.sidecar_loads_per_read", (GeoSidecarCache.misses.get() - misses0).toDouble)
  }

  /** Run one write op, with the per-commit file-system counters traced. */
  private def write(cls: String, rows: Long, changed: Long)(body: => Unit)(applyModel: => Unit): Unit = {
    val fs0 = FsStats.snap()
    val meta0 = rec.harness(metadataFiles())
    val files0 = if (rec.traced) rec.harness(liveFiles().map(_.path).toSet) else Set.empty[String]
    rec.op(cls, rows = rows, bytes = changed * rowBytes)(body) { _ => applyModel; None }
    if (rec.traced) rec.harness {
      val fs1 = FsStats.snap()
      rec.sample("tables.fs_ops_per_commit", (fs1.ops - fs0.ops).toDouble)
      rec.sample("tables.bytes_written_per_commit", (fs1.bytesWritten - fs0.bytesWritten).toDouble)
      rec.sample("tables.metadata_bytes_per_commit", (metadataFiles() -- meta0.keySet).values.sum.toDouble)
      // rows in the data files the op added, per row it changed
      if (changed > 0) rec.sample("tables.rows_rewritten_per_row_changed",
        liveFiles().filterNot(f => files0(f.path)).map(_.rows).sum.toDouble / changed)
    }
  }

  private def liveFiles(): Seq[GeoManifest.FileEntry] = GeoManifest.read(spark, root).files

  private def metadataFiles(): Map[String, Long] = {
    val d = java.nio.file.Paths.get(root, "_manifests")
    if (!rec.traced || !java.nio.file.Files.exists(d)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator().asScala.map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    }
  }

  private def append(rows: Seq[Row]): Unit = {
    val df = toDf(rows)
    write("append", rows.size, rows.size)(GeoTable.append(spark, root, df))(rows.foreach(r => live(r.id) = r))
  }

  private def stream(rows: Seq[Row]): Unit = {
    write("stream", rows.size, rows.size) {
      input.addData(rows.map(r => (r.id, r.grp, r.v, r.x, r.y)))
      query.processAllAvailable()
    }(rows.foreach(r => live(r.id) = r))
    if (rec.traced) Option(query.lastProgress).foreach { p =>
      Option(p.durationMs.get("triggerExecution")).foreach(v => rec.sample("tables.stream_trigger_ms", v.toDouble))
      Option(p.durationMs.get("addBatch")).foreach(v => rec.sample("tables.stream_add_batch_ms", v.toDouble))
    }
  }

  private def update(w: Polygon): Unit = {
    val hit = rec.harness(live.valuesIterator.filter(inside(_, w)).toSeq)
    write("update", 0L, hit.size)(GeoTable.update(spark, root, Seq("val" -> (col("val") + 1.0)),
      st_intersects(col("geom"), geomLit(w))))(hit.foreach(r => live(r.id) = r.copy(v = r.v + 1.0)))
  }

  private def upsert(rows: Seq[Row]): Unit = {
    val df = toDf(rows)
    write("upsert", 0L, rows.size)(GeoTable.upsertByKey(spark, root, Seq("id"), df))(rows.foreach(r => live(r.id) = r))
  }

  private def delete(): Unit = {
    val hit = rec.harness(live.valuesIterator.filter(inside(_, strip)).map(_.id).toSeq)
    write("delete", 0L, hit.size)(GeoTable.delete(spark, root, st_intersects(col("geom"), geomLit(strip))))(
      live --= hit)
  }

  /** Compact + vacuum; the check compares row count and key-set checksum
    * with the model. */
  private def maintain(): Unit = {
    if (rec.traced) {
      val m = GeoManifest.read(spark, root)
      rec.sample("tables.live_files", m.files.size.toDouble)
      rec.sample("tables.live_delete_files", (m.deletes.size + m.eqDeletes.size).toDouble)
    }
    rec.op("maint") {
      rec.span("tables.maint_ms") {
        GeoTable.compact(spark, root, compactFiles, cellSize = 4.0)
        GeoTable.vacuum(spark, root, keepVersions = 1)
      }
    } { _ =>
      val r = GeoTable.read(spark, root).agg(count(lit(1)), sum(col("id")), sum(col("id") * col("id"))).collect()(0)
      val got = (r.getLong(0), r.getLong(1), r.getLong(2))
      val ids = live.keys
      val expect = (ids.size.toLong, ids.sum, ids.map(i => i * i).sum)
      if (got == expect) None else Some(s"(rows, sum id, sum id^2) $got, model $expect")
    }
  }

  def finish(): Map[String, Double] = {
    query.stop()
    Map.empty
  }
}
