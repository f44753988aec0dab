package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed operation of the closed-loop client. */
final case class Op(id: Int, cls: String, phase: String, cycle: Int,
                    startMs: Double, durMs: Double, ok: Boolean, rows: Long)

/** A traced interval inside op `op` (a layer call made by the harness). */
final case class Span(op: Int, name: String, startMs: Double, endMs: Double)

/** Table state at the end of a cycle, compared across cycles by the
  * steady-state guard. */
final case class CycleState(phase: String, cycle: Int, liveFiles: Int,
                            deleteFiles: Int, bytes: Long)

/**
 * Records every op the client runs and, in a traced run, the spans and
 * Spark jobs under it. Ops run one at a time on the driver thread; the
 * Spark job group is set to the op id so the listener can attribute jobs.
 * Spans and job records stay in memory until the run writes them out.
 */
final class Recorder(sc: SparkContext) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Wall clock in epoch milliseconds with nanosecond resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val states = ArrayBuffer.empty[CycleState]
  val failures = ArrayBuffer.empty[String]
  /** Per-layer samples (one value per call or per op); medians are reported. */
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Recall of each checked top-10 answer against the exact one. */
  val recalls = ArrayBuffer.empty[Double]

  var phase = "setup"
  var cycle = -1
  var traced = false
  /** Runs after every op, outside its timing (the timed phase's disk scan). */
  var afterOp: () => Unit = () => ()
  /** Logical bytes of the user rows the ops submitted (`write_amp` base). */
  var submittedBytes = 0L
  /** Time the harness spent on its own work since the last reset. */
  var harnessMs = 0.0
  private var nextId = 0
  private var current = -1

  val jobs = new JobTracker
  sc.addSparkListener(jobs)

  /** Run `body` as one op of class `cls`; `check` returns an error for a
    * wrong answer. An exception or a wrong answer counts as a failed op.
    * `rows` is the number of user rows the op commits (append classes) and
    * `bytes` their logical size. */
  def op[T](cls: String, rows: Long = 0L, bytes: Long = 0L)(body: => T)(check: T => Option[String]): Unit = {
    val id = nextId
    nextId += 1
    sc.setJobGroup(s"op-$id", cls, interruptOnCancel = false)
    current = id
    val t0 = nowMs
    val res = try Right(body) catch { case e: Exception => Left(e) }
    val t1 = nowMs
    current = -1
    sc.clearJobGroup()
    val h0 = nowMs
    val err = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) => try check(v) catch { case e: Exception => Some(s"check threw $e") }
    }
    err.foreach(e => if (failures.size < 20) failures += s"$cls op $id (cycle $cycle): $e")
    ops += Op(id, cls, phase, cycle, t0, t1 - t0, err.isEmpty, rows)
    submittedBytes += bytes
    afterOp()
    harnessMs += nowMs - h0
  }

  /** Run harness work (checks, model upkeep, state snapshots) inside a
    * timed phase; its time is left out of `ops_per_s`. */
  def harness[T](body: => T): T = {
    val t0 = nowMs
    try body finally harnessMs += nowMs - t0
  }

  /** Time one layer call inside the current op; recorded only when traced. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val t0 = nowMs
      try body finally spans += Span(current, name, t0, nowMs)
    }

  /** Record one per-layer sample; recorded only when traced. */
  def sample(name: String, v: Double): Unit =
    if (traced) samples.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v
}

/** Per-job record: the op group it ran under, its interval, and the task
  * metrics summed over its stages. */
final class JobRec(val group: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var recordsRead = 0L
  var gcMs = 0L
}

/** SparkListener that keeps one [[JobRec]] per job, keyed by job id. */
final class JobTracker extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new JobRec(group, e.time))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageToJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    (j, Option(e.taskMetrics)) match {
      case (Some(r), Some(m)) => r.synchronized {
        r.tasks += 1
        r.cpuNs += m.executorCpuTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.recordsRead += m.inputMetrics.recordsRead
        r.gcMs += m.jvmGCTime
      }
      case _ =>
    }
  }

  def all: Seq[(Int, JobRec)] = jobs.asScala.toSeq.sortBy(_._1)
}

/** Hadoop FileSystem statistics of the local file system, summed over
  * threads — the counters the table layer's file I/O moves. */
object FsStats {
  final case class Snap(ops: Long, bytesWritten: Long)

  def snap(): Snap = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Snap(st.map(s => s.getReadOps.toLong + s.getLargeReadOps + s.getWriteOps).sum,
      st.map(_.getBytesWritten).sum)
  }
}
