package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.tables.{GeoManifest, GeoPartition, GeoTable}

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a set of tables built in setup and a fixed op
  * cycle that leaves them in the state it found them. */
trait Workload {
  /** Op class whose latency is `read_p50_ms` / `read_p90_ms`. */
  def primaryRead: String
  /** Op classes whose per-class medians make up `side_p50_ms`. */
  def sideClasses: Seq[String]
  /** Op classes that write; their per-class medians make up `write_p50_ms`. */
  def writeClasses: Seq[String]
  /** Write classes that append user rows (`ingest_rows_per_s`). */
  def appendClasses: Seq[String]
  /** Nominal cycle length; the timed phase runs ceil(seconds / this) cycles. */
  def nominalCycleSeconds: Double
  /** Roots of the tables the workload reads and writes. */
  def tableRoots: Seq[String]
  /** Generate the inputs and build the tables under `dir`; `keep` marks
    * the build the cycles then run on. */
  def build(dir: String, keep: Boolean): Unit
  /** Run one whole cycle of ops through the recorder. */
  def cycle(): Unit
  /** End-of-run work outside the timed phase; returns extra figures. */
  def finish(): Map[String, Double]
}

object Main {
  /** Builds per run; `setup_s` reports the median, so work moved into
    * set-up shows without one slow build deciding the figure. */
  val SetupRepeats = 3
  /** Nominal length of the untimed warm-up (JIT, caches, sidecars); it
    * runs ceil(WarmSeconds / nominal cycle) whole cycles, at least one. */
  val WarmSeconds = 8.0
  /** Fewest timed cycles: the steady-state guard compares two halves. */
  val MinTimedCycles = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cores = opt("cores").toInt
    val tiny = opt.get("tiny").contains("1")

    val spark = session(work, cores)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    log(f"session ready after $sessionS%.2f s")
    val rec = new Recorder(spark.sparkContext)
    def workload(n: String): Workload = n match {
      case "spatial_query" => new SpatialQuery(spark, rec, seed, tiny)
      case "table_churn" => new TableChurn(spark, rec, seed, tiny, work)
      case "index_churn" => new IndexChurn(spark, rec, seed, tiny)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    if (name == "train") {
      // one tiny pass over every workload: the class-loading profile that
      // the class-data-sharing archive of the build is dumped from
      Seq("spatial_query", "table_churn", "index_churn").foreach { n =>
        val t = workload(n)
        t.build(s"$work/geo/db", keep = true)
        t.cycle()
        t.finish()
      }
      spark.stop()
      return
    }
    val w = workload(name)

    val buildS = (0 until SetupRepeats).map { i =>
      val keep = i == SetupRepeats - 1
      val dir = if (keep) s"$work/geo/db" else s"$work/setup$i"
      val t0 = rec.nowMs
      w.build(dir, keep)
      val s = (rec.nowMs - t0) / 1000.0
      log(f"build $i: $s%.2f s")
      if (!keep) deleteTree(Paths.get(dir))
      s
    }

    val disk = new DiskWatch(w.tableRoots)
    /** Runs `n` whole cycles; returns (start, end, harness) in ms. */
    def runCycles(phase: String, n: Int): (Double, Double, Double) = {
      rec.phase = phase
      val t0 = rec.nowMs
      rec.harnessMs = 0.0
      for (c <- 0 until n) {
        rec.cycle = c
        val c0 = rec.nowMs
        w.cycle()
        log(f"$phase cycle $c: ${(rec.nowMs - c0) / 1000}%.2f s")
        rec.harness {
          val ms = w.tableRoots.map(r => GeoManifest.read(spark, r))
          rec.states += CycleState(phase, c, ms.map(_.files.size).sum,
            ms.map(m => m.deletes.size + m.eqDeletes.size).sum, disk.bytesOnDisk())
        }
      }
      (t0, rec.nowMs, rec.harnessMs)
    }

    runCycles("warm", math.max(1, math.ceil(WarmSeconds / w.nominalCycleSeconds).toInt))
    val cycles = math.max(MinTimedCycles, math.ceil(seconds / w.nominalCycleSeconds).toInt)
    disk.start()
    rec.afterOp = () => disk.scan()
    // a traced run splits the same cycles: untraced first (the base of
    // trace.overhead_pct), then traced
    val untracedCycles = if (trace) math.max(1, cycles / 2) else cycles
    val timed = runCycles("timed", untracedCycles)
    rec.afterOp = () => ()
    val writtenBytes = disk.written
    val gc0 = gcMs()
    val traced = if (trace) {
      rec.traced = true
      val r = runCycles("traced", math.max(1, cycles - untracedCycles))
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      Some(r)
    } else None
    val tracedGcMs = (gcMs() - gc0).toDouble

    val extra = w.finish() + ("traced_gc_ms" -> tracedGcMs)
    val endBytes = disk.bytesOnDisk()
    val refBytes = if (w.writeClasses.isEmpty) 0L else referenceBytes(spark, w.tableRoots, s"$work/reference")
    // the least heap in use over a few full collections: one collection
    // can leave garbage that the next one frees
    val heapMb = (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200) // the ContextCleaner drops collected blocks asynchronously
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val out = Map[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "primary_read" -> w.primaryRead, "side_classes" -> w.sideClasses,
      "write_classes" -> w.writeClasses, "append_classes" -> w.appendClasses,
      "session_s" -> sessionS, "build_s" -> buildS,
      "timed_ms" -> Seq(timed._1, timed._2, timed._3),
      "heap_retained_mb" -> heapMb,
      "written_bytes" -> writtenBytes, "submitted_bytes" -> rec.submittedBytes,
      "end_bytes" -> endBytes, "reference_bytes" -> refBytes,
      "recalls" -> rec.recalls.toSeq, "failures" -> rec.failures.toSeq, "extra" -> extra,
      "ops" -> rec.ops.toSeq.map(o => Seq(o.id, o.cls, o.phase, o.cycle, o.startMs, o.durMs, o.ok, o.rows)),
      "states" -> rec.states.toSeq.map(s => Seq(s.phase, s.cycle, s.liveFiles, s.deleteFiles, s.bytes)),
      "spans" -> rec.spans.toSeq.map(s => Seq(s.op, s.name, s.startMs, s.endMs)),
      "jobs" -> (if (trace) rec.jobs.all else Seq.empty).map { case (id, j) =>
        Seq(id, j.group, j.startMs, j.endMs, j.tasks, j.cpuNs, j.shuffleWriteBytes, j.recordsRead, j.gcMs)
      },
      "samples" -> rec.samples.map { case (k, v) => k -> v.toSeq }.toMap
    ) ++ traced.map(t => "traced_ms" -> Seq(t._1, t._2, t._3))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(Paths.get(opt("out")), json.writeValueAsBytes(out))
    spark.stop()
  }

  def log(msg: String): Unit = System.err.println(s"geobench: $msg")

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("geobench")
      .withExtensions(new graft.extension.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.geo", classOf[graft.tables.GeoCatalog].getName)
      .config("spark.sql.catalog.geo.warehouse", s"$work/geo")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS geo.db")
    s
  }

  /** Bytes of the live rows of each table written once, laid out the way
    * the table lays them out — the denominator of `space_amp`. */
  def referenceBytes(spark: SparkSession, roots: Seq[String], dir: String): Long =
    roots.zipWithIndex.map { case (root, i) =>
      val m = GeoManifest.read(spark, root)
      val ref = s"$dir/t$i"
      GeoTable.create(spark, ref, GeoTable.read(spark, root), geomCol = m.geomCol,
        zorder = m.geomCol.nonEmpty, partitions = m.partitions,
        props = m.props.filter(_._1 == GeoPartition.LayoutModeProp))
      DiskWatch.treeBytes(Paths.get(ref))
    }.sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/**
 * Tracks the bytes written under the table roots: after every timed op it
 * lists the roots, and each file not seen before (new path, size or
 * modification time) adds its size. Files created and deleted inside one
 * op are not seen; every commit leaves its data and metadata in place
 * until the op ends, so they are counted.
 */
final class DiskWatch(roots: Seq[String]) {
  private val seen = mutable.HashSet.empty[(String, Long, Long)]
  var written = 0L

  private def files(): Iterator[(String, Long, Long)] =
    roots.iterator.map(r => Paths.get(r)).filter(Files.exists(_)).flatMap { r =>
      Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        (f.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }
    }

  def start(): Unit = { seen.clear(); seen ++= files(); written = 0L }

  def scan(): Unit = files().foreach { f => if (seen.add(f)) written += f._2 }

  def bytesOnDisk(): Long = roots.map(r => DiskWatch.treeBytes(Paths.get(r))).sum
}

object DiskWatch {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
