package graft.plans

import graft.geom.Geom

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.{BuildRight, BuildSide}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.locationtech.jts.geom.Envelope
import org.locationtech.jts.index.strtree.STRtree

import scala.jdk.CollectionConverters._

/**
 * Broadcast index join — the reference's BroadcastIndexJoin (Sedona's
 * JoinQueryDetector plans it when one side is small). [[SpatialJoinRewrite]]
 * emits this node for an inner join on one ST predicate when a side can
 * be broadcast; `buildSide` is that side, `leftGeom`/`rightGeom` are the
 * predicate's geometry expressions over each input and `distance` expands
 * the probe envelope (the `dwithin` distance, else 0). `condition` is the
 * ORIGINAL full join condition: the index only narrows candidates.
 */
case class SpatialIndexJoin(
    left: LogicalPlan, right: LogicalPlan, condition: Expression, buildSide: BuildSide,
    leftGeom: Expression, rightGeom: Expression, distance: Double) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): SpatialIndexJoin =
    copy(left = l, right = r)
}

/**
 * The physical index join. The build child is broadcast as-is
 * (`IdentityBroadcastMode`, so Spark inserts the exchange and AQE can
 * reuse it); the other child streams map-only. Each task bulk-builds one
 * JTS STRtree over the build rows' envelopes, queries it with every
 * streamed row's envelope (expanded by `distance`), and keeps a candidate
 * pair only where the original condition holds on the joined row, in the
 * original left/right order. Rows with a null or empty geometry never
 * match. The tree lives only as long as its task.
 */
case class SpatialIndexJoinExec(
    left: SparkPlan, right: SparkPlan, condition: Expression, buildSide: BuildSide,
    leftGeom: Expression, rightGeom: Expression, distance: Double) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  private def buildRight = buildSide == BuildRight
  private def build = if (buildRight) right else left
  private def streamed = if (buildRight) left else right

  override def requiredChildDistribution: Seq[Distribution] =
    if (buildRight) Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))
    else Seq(BroadcastDistribution(IdentityBroadcastMode), UnspecifiedDistribution)

  override def outputPartitioning: Partitioning = streamed.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numBuildRows" -> SQLMetrics.createMetric(sparkContext, "number of build rows"),
    "numCandidates" -> SQLMetrics.createMetric(sparkContext, "number of index candidate pairs"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val broadcast = build.executeBroadcast[Array[InternalRow]]()
    // the build rows are counted once, on the driver that holds them
    val numBuildRows = longMetric("numBuildRows")
    numBuildRows.set(broadcast.value.length.toLong)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(numBuildRows))
    val numCandidates = longMetric("numCandidates")
    val numOutputRows = longMetric("numOutputRows")
    val buildGeom = BindReferences.bindReference(if (buildRight) rightGeom else leftGeom, build.output)
    val streamGeom = BindReferences.bindReference(if (buildRight) leftGeom else rightGeom, streamed.output)
    val (cond, out, expand, br) = (condition, output, distance, buildRight)
    streamed.execute().mapPartitionsWithIndex { (index, rows) =>
      val built = broadcast.value
      val tree = new STRtree()
      var i = 0
      while (i < built.length) {
        val env = SpatialIndexJoinExec.envelope(buildGeom, built(i), 0.0)
        if (env != null) tree.insert(env, Integer.valueOf(i))
        i += 1
      }
      tree.build() // bulk-build before the first query, as StKnn does
      val pred = Predicate.create(cond, out)
      pred.initialize(index)
      val joined = new JoinedRow
      val project = UnsafeProjection.create(out, out)
      def pair(s: InternalRow, b: Integer): InternalRow =
        if (br) joined(s, built(b)) else joined(built(b), s)
      rows.flatMap { s =>
        val env = SpatialIndexJoinExec.envelope(streamGeom, s, expand)
        if (env == null) Iterator.empty
        else {
          val hits = tree.query(env).asInstanceOf[java.util.List[Integer]]
          numCandidates += hits.size
          hits.asScala.iterator.filter(b => pred.eval(pair(s, b))).map { b =>
            numOutputRows += 1
            project(pair(s, b))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): SpatialIndexJoinExec =
    copy(left = l, right = r)
}

object SpatialIndexJoinExec {
  /** The envelope of `geom` on `row` expanded by `by`, or null when the
    * geometry is null or empty (such a row never matches). */
  private def envelope(geom: Expression, row: InternalRow, by: Double): Envelope =
    geom.eval(row) match {
      case null => null
      case wkb: Array[Byte] =>
        val env = Geom.deserialize(wkb).getEnvelopeInternal
        if (by != 0.0) env.expandBy(by)
        if (env.isNull) null else env
    }
}

/** Plans [[SpatialIndexJoin]]; installed by `GraftExtensions` and by
  * `GraftFunctions.register`. */
object SpatialIndexJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SpatialIndexJoin(l, r, cond, side, lg, rg, d) =>
      SpatialIndexJoinExec(planLater(l), planLater(r), cond, side, lg, rg, d) :: Nil
    case _ => Nil
  }
}
