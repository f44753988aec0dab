package graft.extension

import graft.functions.GraftFunctions
import graft.tables.{GeoSchema, GeoSqlParser}

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.BinaryType

/**
 * `spark.sql.extensions=graft.extension.GraftExtensions` entry point —
 * the analog of the reference's SedonaIcebergExtensions
 * (reference: extension/.../SedonaIcebergExtensions.scala:33): registers the
 * full ST_ catalog, the spatial optimizer rules, the index-join planner
 * strategy, the GeoTable SQL DML parser (UPDATE/DELETE/INSERT/CREATE ...
 * USING GEO), and a GEOMETRY-typing check that rejects ST_ functions
 * applied to binary columns explicitly tagged as non-geometry
 * (GeoSchema.OpaqueTag).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.catalog.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
    ext.injectOptimizerRule(graft.plans.GeoBboxPushdown.apply)
    ext.injectOptimizerRule(graft.plans.SpatialJoinRewrite.apply)
    ext.injectPlannerStrategy(_ => graft.plans.SpatialIndexJoinStrategy)
    ext.injectParser((_, delegate) => new GeoSqlParser(delegate))
    // persisted-view name resolution (the Iceberg ResolveViews analog —
    // OSS Spark ships the ViewCatalog API but no analyzer wiring)
    ext.injectResolutionRule(spark => graft.tables.GeoViewResolution(spark))
    ext.injectCheckRule(_ => GraftExtensions.checkOpaqueBinary)
  }
}

object GraftExtensions {
  /** Analysis check: a column tagged `graft.type=opaque` (raw image/audio
    * payload bytes) must not reach an ST_ geometry function — catches the
    * misuse at analysis time instead of as a WKB parse error mid-scan. */
  private[extension] def checkOpaqueBinary(plan: LogicalPlan): Unit =
    plan.foreach { node =>
      node.expressions.foreach(_.foreach { e =>
        if (e.getClass.getName.startsWith("graft.functions.St"))
          e.children.foreach {
            case a: AttributeReference
              if a.dataType == BinaryType && a.metadata.contains(GeoSchema.TypeKey) &&
                a.metadata.getString(GeoSchema.TypeKey) == GeoSchema.OpaqueTag =>
              throw new SparkException(
                s"column '${a.name}' is tagged ${GeoSchema.TypeKey}=${GeoSchema.OpaqueTag} " +
                  s"(non-geometry binary) but is used as geometry in ${e.prettyName}; " +
                  "tag it with GeoSchema.markGeometry if it really holds WKB")
            case _ =>
          }
      })
    }
}
