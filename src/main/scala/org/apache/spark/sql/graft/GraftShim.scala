package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.{Column, SparkSession}

/**
 * Narrow bridge into `private[sql]` Spark internals. Lives under
 * `org.apache.spark.sql` so the package-private pieces (sessionState,
 * ExpressionUtils) are visible — the same escape hatch every production
 * Spark extension uses (Sedona's expressions live in
 * org.apache.spark.sql.sedona_sql for exactly this reason; reference:
 * extension/src/main/scala/org/apache/spark/sql/iceberg/SedonaPredicatePushDown.scala:1
 * does the same for its optimizer rule).
 *
 * Everything else in graft stays in plain `graft.*` packages; only this
 * object touches internals, so an API move in a future Spark release is a
 * one-file fix.
 */
object GraftShim {

  /** Register a Catalyst expression builder on a live session (post-hoc —
    * works on any session, not just those built with our extensions). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression,
      usage: String = ""): Unit = {
    val info =
      if (usage.isEmpty) new ExpressionInfo("graft", name)
      else new ExpressionInfo("graft", null, name, usage, "")
    spark.asInstanceOf[ClassicSparkSession].sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
  }

  /** Install optimizer rules on a live session (post-hoc analog of
    * SparkSessionExtensions.injectOptimizerRule; idempotent). */
  def installOptimizerRules(
      spark: SparkSession,
      rules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]): Unit = {
    val exp = spark.asInstanceOf[ClassicSparkSession].experimental
    val keep = exp.extraOptimizations.filterNot(r => rules.exists(_.getClass == r.getClass))
    exp.extraOptimizations = keep ++ rules
  }

  /** Install planner strategies on a live session (post-hoc analog of
    * SparkSessionExtensions.injectPlannerStrategy; idempotent). */
  def installPlannerStrategies(
      spark: SparkSession,
      strategies: Seq[org.apache.spark.sql.execution.SparkStrategy]): Unit = {
    val exp = spark.asInstanceOf[ClassicSparkSession].experimental
    val keep = exp.extraStrategies.filterNot(s => strategies.exists(_.getClass == s.getClass))
    exp.extraStrategies = keep ++ strategies
  }

  /** True when no Dataset-level cache is pinned in the CacheManager —
    * the cache-hygiene assertion ops specs run after each operator. */
  def pinnedCacheEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[ClassicSparkSession].sharedState.cacheManager.isEmpty

  /** A DSv2 ScanBuilder over an EXPLICIT parquet file list — Spark's own
    * vectorized parquet scan (filter pushdown, column pruning, whole-stage
    * codegen) fed from a GeoTable manifest's file list instead of a
    * directory listing. Lives here because InMemoryFileIndex /
    * ParquetScanBuilder sit in the execution package. */
  def parquetScanBuilder(
      spark: SparkSession,
      files: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
    val index = new InMemoryFileIndex(
      spark, files.map(new org.apache.hadoop.fs.Path(_)), Map.empty, Some(schema))
    ParquetScanBuilder(spark, index, schema, schema, options)
  }

  /** Parse SQL text to an unresolved plan with the session's parser
    * (needed by the view machinery; sessionState is private[sql]). */
  def parsePlan(spark: SparkSession,
                sqlText: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[ClassicSparkSession].sessionState.sqlParser.parsePlan(sqlText)

  /** Analyze + wrap a logical plan as a DataFrame (Dataset.ofRows is
    * private[sql]) — how expanded view bodies become readable frames on
    * sessions without the injected resolution rule. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[ClassicSparkSession], plan)

  /** Wrap a raw Catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column back to its Catalyst Expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
