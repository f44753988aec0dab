package graft.plans

import graft.functions._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, BuildSide}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/**
 * Optimizer rule (SURVEY.md §2.7): detects a Join whose only cross-side
 * condition is an ST predicate (which Spark would execute as BNLJ/cartesian)
 * and plans it one of two ways — the analog of the reference's
 * JoinQueryDetector planner strategy (reference:
 * extension/.../SedonaIcebergExtensions.scala:49):
 *
 *  - index join, when a side can be broadcast: a [[SpatialIndexJoin]] that
 *    broadcasts that side and probes one STRtree over it per task. A side
 *    can be broadcast when a BROADCAST hint names it or its estimated size
 *    is within Spark's own `spark.sql.autoBroadcastJoinThreshold` (so -1
 *    tiles every unhinted join). Hints win over size; between two
 *    qualifying sides the smaller is indexed; a streaming side never is.
 *  - tile join otherwise: explode both sides to grid cells, equi-join on
 *    cell id, bbox prefilter + reference-point dedup + exact refine. The
 *    output is ordinary Catalyst operators, so join selection, AQE and
 *    codegen all still apply. Cell size: `spark.graft.join.cellSize`
 *    (default 1.0; the tile join is its only reader).
 *
 * Both paths evaluate the original condition on every emitted pair.
 * Guard: joins that already expose an equi key are left alone (also makes
 * the rule idempotent — the tiled join has a cell equality, and the index
 * join is no longer a Join).
 */
case class SpatialJoinRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) if eligible(j) =>
      val conjs = splitConj(cond)
      findSpatialPred(conjs, left, right) match {
        case Some((pred, lgeom, rgeom, dist)) =>
          indexSide(left, right, hint) match {
            case Some(side) => SpatialIndexJoin(left, right, cond, side, lgeom, rgeom, dist)
            case None =>
              val cs = spark.conf.getOption("spark.graft.join.cellSize").map(_.toDouble).getOrElse(1.0)
              rewrite(left, right, cond, pred, lgeom, rgeom, dist, cs, hint)
          }
        case None => j
      }
  }

  /** The side to index, or None to tile: the one index-versus-tile
    * decision (see the class doc). */
  private def indexSide(left: LogicalPlan, right: LogicalPlan, hint: JoinHint): Option[BuildSide] = {
    def hinted(h: Option[HintInfo]) = h.exists(_.strategy.contains(BROADCAST))
    def small(p: LogicalPlan) =
      conf.autoBroadcastJoinThreshold >= 0 && p.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold
    val byHint = hinted(hint.leftHint) || hinted(hint.rightHint)
    def can(p: LogicalPlan, h: Option[HintInfo]) =
      !p.isStreaming && (if (byHint) hinted(h) else small(p))
    (can(left, hint.leftHint), can(right, hint.rightHint)) match {
      case (true, true) =>
        Some(if (right.stats.sizeInBytes <= left.stats.sizeInBytes) BuildRight else BuildLeft)
      case (true, false) => Some(BuildLeft)
      case (false, true) => Some(BuildRight)
      case _ => None
    }
  }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  /** Only fire when no equi-join key exists (otherwise Spark is fine). */
  private def eligible(j: Join): Boolean = j match {
    case Join(left, right, _, Some(cond), _) =>
      !splitConj(cond).exists {
        case EqualTo(a, b) =>
          (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
            (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
        case _ => false
      }
    case _ => false
  }

  /** Locate one ST predicate with one side per plan; normalize so the
    * returned (pred, lgeom, rgeom) has lgeom from `left`. Returns the
    * normalized predicate name + geometry expressions (+ dwithin dist). */
  private def findSpatialPred(
      conjs: Seq[Expression], left: LogicalPlan, right: LogicalPlan)
      : Option[(String, Expression, Expression, Double)] = {

    def sides(a: Expression, b: Expression): Option[(Expression, Expression, Boolean)] =
      if (a.references.nonEmpty && b.references.nonEmpty &&
          a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
        Some((a, b, false))
      else if (a.references.nonEmpty && b.references.nonEmpty &&
          a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
        Some((b, a, true))
      else None

    conjs.collectFirst(Function.unlift {
      case StContains(a, b) => sides(a, b).map { case (l, r, f) => (if (f) "within" else "contains", l, r, 0.0) }
      case StWithin(a, b) => sides(a, b).map { case (l, r, f) => (if (f) "contains" else "within", l, r, 0.0) }
      case StCovers(a, b) => sides(a, b).map { case (l, r, f) => (if (f) "coveredby" else "covers", l, r, 0.0) }
      case StCoveredBy(a, b) => sides(a, b).map { case (l, r, f) => (if (f) "covers" else "coveredby", l, r, 0.0) }
      case StIntersects(a, b) => sides(a, b).map { case (l, r, _) => ("intersects", l, r, 0.0) }
      case StDWithin(Seq(a, b, dd)) if dd.foldable =>
        sides(a, b).map { case (l, r, _) => ("dwithin", l, r, StKit.dbl(dd.eval(null))) }
      case _ => None
    })
  }

  private def rewrite(
      left: LogicalPlan, right: LogicalPlan, fullCond: Expression,
      pred: String, lgeom: Expression, rgeom: Expression,
      dist: Double, cs: Double, hint: JoinHint): LogicalPlan = {

    val expand = if (pred == "dwithin") dist else 0.0

    // left: project bbox, explode expanded cells
    val lbox = Alias(StBbox(lgeom), "__lbox")()
    val lproj = Project(left.output :+ lbox, left)
    val lcell = AttributeReference("__lcell", LongType, nullable = false)()
    val lgen = Generate(Explode(StTileCells(Seq(lgeom, Literal(cs), Literal(expand)))),
      Nil, outer = false, None, Seq(lcell), lproj)

    val rbox = Alias(StBbox(rgeom), "__rbox")()
    val rproj = Project(right.output :+ rbox, right)
    val rcell = AttributeReference("__rcell", LongType, nullable = false)()
    val rgen = Generate(Explode(StTileCells(Seq(rgeom, Literal(cs)))),
      Nil, outer = false, None, Seq(rcell), rproj)

    def f(box: Attribute, i: Int): Expression = GetStructField(box, i)
    val (lx0, ly0, lx1, ly1) = (f(lbox.toAttribute, 0), f(lbox.toAttribute, 1), f(lbox.toAttribute, 2), f(lbox.toAttribute, 3))
    val (rx0, ry0, rx1, ry1) = (f(rbox.toAttribute, 0), f(rbox.toAttribute, 1), f(rbox.toAttribute, 2), f(rbox.toAttribute, 3))
    def le(a: Expression, b: Expression) = LessThanOrEqual(a, b)
    def ge(a: Expression, b: Expression) = GreaterThanOrEqual(a, b)
    def plus(a: Expression, v: Double) = if (v == 0.0) a else Add(a, Literal(v))
    def minus(a: Expression, v: Double) = if (v == 0.0) a else Subtract(a, Literal(v))

    val bboxPre: Seq[Expression] = pred match {
      case "contains" | "covers" =>
        Seq(le(lx0, rx0), ge(lx1, rx1), le(ly0, ry0), ge(ly1, ry1))
      case "within" | "coveredby" =>
        Seq(ge(lx0, rx0), le(lx1, rx1), ge(ly0, ry0), le(ly1, ry1))
      case "dwithin" =>
        Seq(le(minus(lx0, dist), rx1), ge(plus(lx1, dist), rx0),
          le(minus(ly0, dist), ry1), ge(plus(ly1, dist), ry0))
      case _ =>
        Seq(le(lx0, rx1), ge(lx1, rx0), le(ly0, ry1), ge(ly1, ry0))
    }

    // reference cell: lower-left of (expanded-left bbox ∩ right bbox)
    val refx = Greatest(Seq(minus(lx0, expand), rx0))
    val refy = Greatest(Seq(minus(ly0, expand), ry0))
    def cellOf(x: Expression, y: Expression): Expression =
      BitwiseOr(
        ShiftLeft(Floor(Divide(x, Literal(cs))), Literal(32)),
        BitwiseAnd(Floor(Divide(y, Literal(cs))), Literal(4294967295L)))
    val dedup = EqualTo(lcell, cellOf(refx, refy))

    val newCond = (Seq(EqualTo(lcell, rcell)) ++ bboxPre ++ Seq(dedup, fullCond)).reduce(And)
    val joined = Join(lgen, rgen, Inner, Some(newCond), hint)
    Project(left.output ++ right.output, joined)
  }
}
