package graft.tables

import graft.tables.GeoManifest.{FileEntry, Manifest}

import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType, TimestampType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.locationtech.jts.geom.Envelope

/**
 * Versioned copy-on-write geo table over parquet — the Spark-native
 * re-expression of the reference's spatial DML against Iceberg
 * (reference: extension/src/test/scala/org/apache/iceberg/
 * TestSedonaIcebergExtension.scala:85-91 runs
 * `UPDATE ... WHERE ST_Intersects(...)` with file-pruned plans).
 *
 * Design for 100 TB:
 *  - Data files are immutable; every commit writes new files and a new
 *    manifest (GeoManifest) — snapshot isolation for readers, O(1) rollback.
 *  - UPDATE/DELETE rewrite ONLY affected files: manifest bbox stats prune
 *    candidates on the driver (no footer reads), one distributed scan finds
 *    files actually containing matches, untouched files carry over by
 *    reference. A point-update on a Z-ordered table touches a handful of
 *    files regardless of table size — same asymptotics as Iceberg COW.
 *  - DELETE drops fully-matched files as pure metadata (no rewrite at all).
 *  - All row work is DataFrame operations (codegen'd predicates, pushed
 *    filters); the driver only handles file lists and counts.
 */
object GeoTable {

  /** Default age below which vacuum's orphan sweep will NOT delete an
    * unreferenced data/sidecar file (`spark.graft.vacuum.orphanGraceMs`):
    * 3 days, matching Iceberg remove_orphan_files' `older_than` default —
    * long enough that any legitimate writer's data-write phase has either
    * committed a manifest referencing the files or abandoned them. */
  val DefaultOrphanGraceMs: Long = 3L * 24 * 3600 * 1000

  /** name -> table root; the session-agnostic catalog for the SQL front-end. */
  private val registry = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def register(spark: SparkSession, name: String, root: String): Unit = {
    registry.put(name.toLowerCase, root)
    refreshView(spark, name)
  }

  def registeredRoot(name: String): Option[String] = Option(registry.get(name.toLowerCase))

  def drop(spark: SparkSession, name: String): Unit = {
    registry.remove(name.toLowerCase)
    spark.catalog.dropTempView(name)
  }

  private def refreshView(spark: SparkSession, name: String): Unit =
    read(spark, registry.get(name.toLowerCase)).createOrReplaceTempView(name)

  // -------------------------------------------------------------------------
  // Table lifecycle
  // -------------------------------------------------------------------------

  /** Create a table at `root` from `df` (write + stats + manifest v0).
    * `geomCol` enables per-file bbox stats and spatial file pruning.
    * `zorder=true` range-partitions + sorts rows by the geometry's Morton
    * index first, so each FILE covers a tight bbox — without it a
    * scattered write gives every file the full extent and the manifest
    * can't prune anything. `cellSize` is the Morton grid for zorder. */
  def create(spark: SparkSession, root: String, df: DataFrame,
             geomCol: Option[String] = None, zorder: Boolean = false,
             cellSize: Double = 1.0,
             partitions: Seq[GeoPartition.PTransform] = Seq.empty,
             props: Map[String, String] = Map.empty,
             allowStatsProps: Boolean = false): Unit = {
    require(GeoManifest.currentVersion(spark, root).isEmpty, s"GeoTable already exists at $root")
    // allowStatsProps opens the trusted writer channel (graft.bm25.*)
    // for library index builders whose derived stats ride the CREATE
    // commit itself — the same channel append/deleteByKey's propsDelta
    // rides; user-facing CREATE surfaces never set it
    validateProps(props.keys, props.values, allowStats = allowStatsProps)
    val tagged = geomCol.filterNot(g => GeoSchema.isGeometry(df.schema(g)))
      .foldLeft(df)((d, g) => GeoSchema.markGeometry(d, g))
    val laidOut =
      if (zorder) zorderBy(tagged, geomCol.get, cellSize)
      else GeoPartition.layout(tagged, partitions, tagged.schema,
        GeoPartition.layoutMode(props))
    val files = writeCommit(spark, root, laidOut, tagged.schema, geomCol, partitions)
    GeoManifest.write(spark, root,
      Manifest(0, tagged.schema, geomCol, files, partitions = partitions, props = props),
      op = "create")
  }

  /**
   * Create a table by REGISTERING existing parquet files — no rewrite,
   * no data movement (Iceberg `migrate`/`snapshot` + `add_files`
   * analog): onboarding a 100 TB parquet lake costs ONE distributed
   * stats pass (rows/bbox/column ranges per file), not a copy. Files
   * are referenced by absolute path where they are; since they live
   * outside `<root>/data`, vacuum never touches them (the caller keeps
   * ownership — `add_files` semantics). Auto stats transforms are
   * recorded for eligible columns, so pruning works on the imported
   * layout's natural clustering immediately. Returns rows registered.
   */
  def importParquet(spark: SparkSession, root: String, dir: String,
                    geomCol: Option[String] = None): Long = {
    require(GeoManifest.currentVersion(spark, root).isEmpty,
      s"GeoTable already exists at $root — use addFiles to register more files")
    val df0 = spark.read.parquet(dir)
    // Hive-partitioned layouts keep the partition VALUES in directory
    // names, not in the files — a by-reference registration would read
    // those columns back as null forever. Refuse loudly with the way out
    // instead of importing corruption.
    val partCols = df0.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
        fs.partitionSchema.fieldNames.toSeq
    }.getOrElse(Seq.empty)
    require(partCols.isEmpty,
      s"cannot import a Hive-partitioned layout by reference: column(s) " +
        s"${partCols.mkString(", ")} live in directory names, not in the files — " +
        "materialize them (read + GeoTable.create) or import the leaf dirs of one " +
        "partition value and add the column via ALTER/rewrite")
    val paths = df0.inputFiles.toSeq.sorted
    require(paths.nonEmpty, s"no parquet files under $dir")
    importFiles(spark, root, paths, geomCol, df0)
  }

  /** [[importParquet]] over EXPLICIT file paths (Iceberg `snapshot`
    * analog's engine): register existing parquet files as version 0 of a
    * new table by reference — one distributed stats pass, no copy. */
  def importFiles(spark: SparkSession, root: String, paths0: Seq[String],
                  geomCol: Option[String] = None,
                  frame: DataFrame = null): Long = {
    require(GeoManifest.currentVersion(spark, root).isEmpty,
      s"GeoTable already exists at $root — use addFiles to register more files")
    val paths = paths0.sorted
    require(paths.nonEmpty, "importFiles needs at least one path")
    val df0 = Option(frame).getOrElse(spark.read.parquet(paths: _*))
    // Standard GeoParquet interop: with no explicit geomCol, the spec's
    // `geo` footer key (if present) names the geometry columns and the
    // primary — GeoPandas/GDAL datasets onboard by reference WITH typing.
    // Cross-checked across files (same contract as the geoparquet source):
    // importing a mixed-CRS directory fails loudly, not first-file-wins.
    val meta = if (geomCol.isDefined) None
      else graft.sources.GeoParquetMeta.consistentGeoMetaPaths(spark,
        spark.sessionState.newHadoopConf(), paths)
    val tagged = meta.map(m => graft.sources.GeoParquetMeta.tag(df0, m)).getOrElse(df0)
    val geom = geomCol.orElse(meta.map(_.primary).filter(p =>
      tagged.schema.fieldNames.contains(p) && GeoSchema.isGeometry(tagged.schema(p))))
    val df = geom.filterNot(g => GeoSchema.isGeometry(tagged.schema(g)))
      .foldLeft(tagged)((d, g) => GeoSchema.markGeometry(d, g))
    val schema = df.schema
    validateFooters(spark, schema, paths)
    val partitions = GeoPartition.statsFor(schema, Seq.empty)
    val files = GeoManifest.collectStats(spark, schema, paths, geom, partitions)
    GeoManifest.write(spark, root,
      Manifest(0, schema, geom, files, partitions = partitions),
      op = "import")
    files.map(_.rows).sum
  }

  /** Register additional existing parquet files into a table by
    * reference (Iceberg `add_files` analog): one stats pass over ONLY
    * the new files, one manifest commit, no rewrite. Every file's footer
    * is checked for the table's columns (distributed — Iceberg reads all
    * footers for metrics the same way); already-referenced paths are
    * rejected (re-adding would duplicate rows). Returns rows registered. */
  def addFiles(spark: SparkSession, root: String, paths: Seq[String]): Long = {
    require(paths.nonEmpty, "addFiles needs at least one path")
    val m = GeoManifest.read(spark, root)
    val have = m.files.map(_.key).toSet
    val dup = paths.find(p => have.contains(GeoManifest.norm(p)))
    require(dup.isEmpty, s"file already referenced by $root: ${dup.get}")
    validateFooters(spark, m.schema, paths)
    val entries = GeoManifest.collectStats(spark, m.schema, paths, m.geomCol, m.partitions)
    // by-reference rows never passed the row writer: validate them here
    validateChecksOnEntries(spark, m, entries, "the added files")
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1, files = m.files ++ entries), m.version, op = "import")
    entries.map(_.rows).sum
  }

  /** EVERY registered file must physically carry the table's top-level
    * columns: Spark's name-based parquet resolution silently null-fills
    * a missing optional column forever, which is corruption, not an
    * error, by the time anyone reads it. One distributed footer pass
    * (the same footers Iceberg's add_files reads for metrics). */
  private def validateFooters(spark: SparkSession, schema: StructType,
                              paths: Seq[String]): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val required = schema.fieldNames.map(_.toLowerCase).toSeq
    val bad = spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.length, 64)))
      .flatMap { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), conf.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val have = r.getFooter.getFileMetaData.getSchema.getFields
            .asScala.map(_.getName.toLowerCase).toSet
          val miss = required.filterNot(have)
          if (miss.isEmpty) None
          else Some(s"$p lacks column(s) ${miss.mkString(", ")}")
        } finally r.close()
      }.collect() // one fully-parallel job; take(5)'s escalating waves
                  // would serialize the all-valid path into 4 sequential jobs
    require(bad.isEmpty,
      s"cannot register parquet missing table columns (first 5 of ${bad.length}):\n  " +
        bad.take(5).mkString("\n  "))
  }

  /** Morton-clustered layout (same Z-ordering as GeoParquet.write). */
  private def zorderBy(df: DataFrame, geomCol: String, cellSize: Double): DataFrame = {
    import org.apache.spark.sql.graft.GraftShim
    val z = GraftShim.column(graft.functions.StMortonCell(
      GraftShim.expression(col(geomCol)), GraftShim.expression(lit(cellSize))))
    val nParts = math.max(df.rdd.getNumPartitions, 1)
    df.withColumn("__z", z)
      .repartitionByRange(nParts, col("__z")).sortWithinPartitions("__z")
      .drop("__z")
  }

  /**
   * Compact the current snapshot into ~`targetFiles` files (Z-ordered when
   * the table has a geometry column) and commit it as a new version — the
   * small-file/layout maintenance every log-structured table needs. Old
   * versions remain readable until `vacuum`.
   */
  def compact(spark: SparkSession, root: String, targetFiles: Int,
              cellSize: Double = 1.0, zorderBy: Seq[String] = Seq.empty): Unit = {
    val m = GeoManifest.read(spark, root)
    val data = readMerged(spark, m, m.files) // MoR deletes fold in and clear
    val laidOut = compactLayout(data, m, targetFiles, cellSize, zorderBy)
    val files = writeCommit(spark, root, laidOut, m.schema, m.geomCol, m.partitions, checks = m.checks)
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1, files = files, deletes = Seq.empty,
        // every file is rewritten under the current layout — retired
        // partition specs have no surviving files (this is the spec
        // MIGRATION path: OPTIMIZE after SET PARTITIONED BY restores a
        // single-spec table and with it storage-partitioned joins)
        pastSpecs = Map.empty,
        eqDeletes = Seq.empty), m.version, op = "optimize")
  }

  /**
   * Partition-scoped compaction (Iceberg `rewrite_data_files` with a
   * filter): rewrite ONLY the files whose manifest stats — transform
   * ranges and, for spatial predicates, the bbox — can satisfy
   * `predicate`; every other file carries over by reference. Selection is
   * FILE-granular: a selected file is rewritten whole (its non-matching
   * rows included), so content never changes, only layout. This is the
   * routine maintenance shape at scale — compacting one hot partition of
   * a 100 TB table reads and writes that partition, never the table.
   * A predicate no recorded stat can bound selects everything (falls
   * back to [[compact]] semantics for those files).
   *
   * MoR upkeep mirrors the CoW rewrite path: position/equality sidecars
   * fold into the rewritten data ([[readMerged]]); stale sidecar entries
   * reference the replaced paths (match nothing) and new files take
   * `addedAt` = the new version, past every eq delete's scope. When
   * nothing survives untouched both sidecar lists clear, as in a full
   * compact.
   *
   * @return number of files rewritten
   */
  def compactWhere(spark: SparkSession, root: String, predicate: Column,
                   targetFiles: Int, cellSize: Double = 1.0,
                   zorderBy: Seq[String] = Seq.empty): Int = {
    val m = GeoManifest.read(spark, root)
    if (m.files.isEmpty) return 0
    // resolve the predicate against the table schema so transform-range
    // pruning sees bound attributes
    val cond = spark.createDataFrame(
        java.util.Collections.emptyList[Row](), m.schema)
      .where(predicate).queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter].condition
    var selected = GeoPartition.pruneBySpec(m.files, m.specSet, m.schema, Seq(cond))
    for (env <- m.geomCol.flatMap(g => queryEnvelope(spark, m, predicate, g))) {
      val keys = m.prune(env).map(_.key).toSet
      selected = selected.filter(f => keys.contains(f.key))
    }
    if (selected.isEmpty) return 0
    rewriteSelected(spark, root, m, selected, targetFiles, cellSize, zorderBy)
  }

  /**
   * Small-file compaction (Iceberg rewrite_data_files bin-pack with
   * min-input-files semantics): rewrite ONLY the files holding fewer than
   * `maxRows` rows — the shape streaming ingest and trickle appends
   * leave behind — consolidating them under the table's layout; every
   * right-sized file carries over by reference. This is the maintenance
   * loop at scale: after a day of micro-batch commits the rewrite cost
   * tracks the small-file volume, never the table. Needs at least two
   * selected files (one small file has nothing to consolidate with —
   * unless sidecar rows point into it, which [[foldSidecars]] owns).
   *
   * @return number of files rewritten
   */
  def compactSmall(spark: SparkSession, root: String, maxRows: Long,
                   targetFiles: Int = 0, cellSize: Double = 1.0,
                   zorderBy: Seq[String] = Seq.empty): Int = {
    require(maxRows > 0, s"compactSmall needs a positive row threshold, got $maxRows")
    val m = GeoManifest.read(spark, root)
    val selected = m.files.filter(f => f.rows < maxRows)
    if (selected.length < 2) return 0
    // default file target: consolidate to ~maxRows-sized outputs
    val target = if (targetFiles > 0) targetFiles
      else math.max(1, (selected.map(_.rows).sum / math.max(maxRows, 1L)).toInt)
    rewriteSelected(spark, root, m, selected, target, cellSize, zorderBy)
  }

  /** Shared tail of the scoped compactions: rewrite `selected` whole
    * (content-preserving), carry every other file by reference, and keep
    * sidecars/spec bookkeeping consistent with what survives. */
  private def rewriteSelected(spark: SparkSession, root: String, m: Manifest,
                              selected: Seq[FileEntry], targetFiles: Int,
                              cellSize: Double, zorderBy: Seq[String]): Int = {
    val selKeys = selected.map(_.key).toSet
    val untouched = m.files.filterNot(f => selKeys.contains(f.key))
    val data = readMerged(spark, m, selected)
    val laidOut = compactLayout(data, m, targetFiles, cellSize, zorderBy)
    val files = writeCommit(spark, root, laidOut, m.schema, m.geomCol, m.partitions, checks = m.checks)
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1, files = untouched ++ files,
        deletes = if (untouched.isEmpty) Seq.empty else m.deletes,
        eqDeletes = if (untouched.isEmpty) Seq.empty else m.eqDeletes,
        pastSpecs = if (untouched.isEmpty) Map.empty
                    else m.pastSpecs.view.filterKeys(id =>
                      untouched.exists(f => f.spec == id)).toMap),
      m.version, op = "optimize")
    selected.length
  }

  /**
   * Zero-copy SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE`
   * analog): a new table whose first manifest references the SOURCE's
   * data and sidecar files by path — no data moves. The clone then
   * evolves independently: appends/CoW rewrites/MoR sidecars land under
   * the clone's own root, and the clone's VACUUM only ever deletes under
   * its own `data/` dir, so it can never touch source files. Version
   * numbering starts AT the source's cloned version (not 0) so the
   * copied per-file data sequence numbers (`addedAt`) stay below every
   * future clone commit — equality-delete scoping keeps working. The
   * clone's parent lineage starts at the clone (parent = -1): source
   * history is not replayed into the clone's changelog.
   *
   * Caveat (same as Delta's): VACUUM or file-rewriting maintenance on
   * the SOURCE removes files the clone may still reference — clone from
   * tables whose history you retain, or fold the clone onto its own
   * files with `OPTIMIZE` when the source's lifecycle is not yours.
   *
   * @return the cloned version
   */
  def shallowClone(spark: SparkSession, sourceRoot: String, targetRoot: String,
                   versionAsOf: Option[Int] = None): Int = {
    require(GeoManifest.currentVersion(spark, targetRoot).isEmpty,
      s"GeoTable already exists at $targetRoot")
    val v = versionAsOf.getOrElse(GeoManifest.read(spark, sourceRoot).version)
    val src = GeoManifest.readVersion(spark, sourceRoot, v)
    GeoManifest.write(spark, targetRoot, src.copy(
      baseShards = Seq.empty,    // inline the list; shards re-form under the clone
      streamCommits = Map.empty, // fresh sink-identity space
      parent = -1), op = "clone")
    v
  }

  /** Compaction layout: an explicit multi-column Z-order when requested,
    * geometry Morton Z-order when the table has a geometry column, the
    * table's own transform clustering when it is partitioned (a
    * compaction that un-clustered a partitioned table would destroy the
    * tight per-file transform ranges pruning depends on), plain
    * round-robin coalescing otherwise. */
  private def compactLayout(data: DataFrame, m: Manifest, targetFiles: Int,
                            cellSize: Double,
                            zorderBy: Seq[String] = Seq.empty): DataFrame =
    if (zorderBy.nonEmpty) zorderByCols(data, zorderBy, m, targetFiles)
    else m.geomCol match {
      case Some(g) =>
        import org.apache.spark.sql.graft.GraftShim
        val z = GraftShim.column(graft.functions.StMortonCell(
          GraftShim.expression(col(g)), GraftShim.expression(lit(cellSize))))
        data.withColumn("__z", z)
          .repartitionByRange(math.max(targetFiles, 1), col("__z"))
          .sortWithinPartitions("__z").drop("__z")
      case None if m.partitions.exists(_.clusters) =>
        GeoPartition.layout(data, m.partitions, m.schema,
          GeoPartition.layoutMode(m.props))
      case None => data.repartition(math.max(targetFiles, 1))
    }

  /** Multi-column Z-order clustering (`OPTIMIZE ... ZORDER BY (c1, c2)`,
    * the Delta ZORDER analog): each column maps to an order-preserving
    * double embedding, min/max-normalizes to 16 bits (one small agg —
    * OPTIMIZE reads the data anyway), and the bits interleave into one
    * LONG whose range clustering gives every listed column TIGHT per-file
    * min/max simultaneously — so the auto stats transforms prune scans on
    * ANY of the columns, not just a lexicographic prefix. At 100 TB this
    * is the difference between "filters on the sort key prune" and
    * "filters on every hot column prune". Quantization skew only costs
    * pruning PRECISION, never correctness (per-file min/max stay exact).
    * Partitioned tables Z-order WITHIN the partition layout (transform
    * cols lead the range clustering), preserving partition pruning and
    * the spec's single-valued-file shape. Bit ops compose from builtin
    * functions, so the whole layout stays in codegen. */
  private def zorderByCols(data: DataFrame, cols: Seq[String], m: Manifest,
                           targetFiles: Int): DataFrame = {
    import org.apache.spark.sql.graft.GraftShim
    require(cols.nonEmpty && cols.length <= 4,
      s"ZORDER BY takes 1 to 4 columns, got ${cols.length}")
    val schema = m.schema
    val k = cols.length
    // order-preserving double embedding per column
    val embedded = cols.map { c =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"ZORDER BY column '$c' not in ${schema.fieldNames.mkString(", ")}"))
      val c0 = col(f.name)
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType => c0.cast(DoubleType)
        case _: DecimalType => c0.cast(DoubleType)
        case DateType => datediff(c0, to_date(lit("1970-01-01"))).cast(DoubleType)
        case TimestampType => unix_micros(c0).cast(DoubleType)
        case StringType => GraftShim.column(
          StrTruncPack(GraftShim.expression(c0), 8)).cast(DoubleType)
        case dt => throw new IllegalArgumentException(
          s"ZORDER BY cannot order a ${dt.simpleString} column ('${f.name}')")
      }
    }
    val eNames = cols.indices.map(i => s"__graft_ze$i")
    val withE = data.select(
      data.columns.map(col) ++ embedded.zip(eNames).map { case (e, n) => e.as(n) }: _*)
    val aggs = eNames.flatMap(n => Seq(min(col(n)).as(s"lo_$n"), max(col(n)).as(s"hi_$n")))
    val r = withE.agg(aggs.head, aggs.tail: _*).head()
    def d(n: String): Double = Option(r.get(r.fieldIndex(n)))
      .map(_.asInstanceOf[Double]).getOrElse(Double.NaN)
    // 16-bit quantized rank; degenerate spans (constant/all-null column)
    // collapse to 0 — still a total order, just contributing no bits
    val qcols = eNames.map { n =>
      val lo = d(s"lo_$n"); val hi = d(s"hi_$n")
      val span = hi - lo
      if (!(span > 0) || span.isInfinite) lit(0L)
      else least(lit(65535L), greatest(lit(0L),
        floor((nanvl(coalesce(col(n), lit(lo)), lit(lo)) - lit(lo))
          / lit(span) * 65535.0).cast(LongType)))
    }
    val z = (0 until 16).foldLeft(lit(0L)) { (acc, bit) =>
      qcols.zipWithIndex.foldLeft(acc) { case (a, (q, j)) =>
        a.bitwiseOR(shiftleft(shiftright(q, bit).bitwiseAND(lit(1L)), bit * k + j))
      }
    }
    // partitioned tables: transform cols lead, Z breaks ties inside each
    // partition tuple — partition pruning and SPJ-shaped files survive
    val lts = m.partitions.filter(_.layout)
    val prefix = lts.zipWithIndex.map { case (t, i) =>
      GeoPartition.transformCol(t, schema).as(s"__graft_zp$i") }
    val pNames = lts.indices.map(i => s"__graft_zp$i")
    val withAll = withE.withColumn("__graft_z", z)
      .select((withE.columns.map(col) :+ col("__graft_z")) ++ prefix: _*)
    val keys = (pNames ++ Seq("__graft_z")).map(col)
    withAll.repartitionByRange(math.max(targetFiles, 1), keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop((eNames ++ pNames :+ "__graft_z"): _*)
  }

  /**
   * Delete data files not referenced by the manifests of the newest
   * `keepVersions` versions (and drop the older manifests). Returns the
   * number of files removed. Irreversible: time travel beyond the kept
   * window stops working — same contract as Iceberg's expire-snapshots.
   */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 1): Int =
    vacuumExpire(spark, root, None, Some(keepVersions))

  /** The one expiry engine (Iceberg expire_snapshots semantics): expire
    * snapshots older than `cutoffMs` while ALWAYS retaining the newest
    * `retainLast` — either selector alone works, together the kept set is
    * the union (a snapshot survives if it is fresh enough OR recent
    * enough). The current snapshot and ref'd snapshots always stay;
    * [[vacuum]] and [[vacuumOlderThan]] are thin spellings of this. */
  def vacuumExpire(spark: SparkSession, root: String,
                   cutoffMs: Option[Long], retainLast: Option[Int]): Int =
    GeoManifest.withCommitLock(root) {
      require(cutoffMs.nonEmpty || retainLast.nonEmpty,
        "expire needs older_than and/or retain_last")
      retainLast.foreach(n => require(n >= 1,
        "vacuum must keep at least the current version"))
      val cur = GeoManifest.read(spark, root).version
      // the LINEAGE walk (newest first) — a numeric window would miscount
      // when branch commits interleave in the shared manifest number space
      val anc = GeoManifest.ancestry(spark, root, cur)
      val byAge = cutoffMs.map(c => anc.filter { v =>
        v == cur || GeoManifest.commitTsOf(spark, root, v) >= c
      }).getOrElse(Seq.empty)
      val byCount = retainLast.map(n => anc.take(n)).getOrElse(Seq.empty)
      vacuum0(spark, root, (byAge ++ byCount).toSet + cur)
    }

  /** Iceberg remove_orphan_files analog: sweep data files referenced by
    * NO reachable snapshot (crashed commits, lost speculative attempts)
    * past the grace window — and NOTHING else. Every manifest in main's
    * lineage is kept, so committed history and time travel are untouched
    * (unlike [[vacuum]], which expires history). */
  def removeOrphanFiles(spark: SparkSession, root: String,
                        olderThanMs: Option[Long] = None): Int =
    GeoManifest.withCommitLock(root) {
      val cur = GeoManifest.read(spark, root).version
      // `olderThanMs` (Iceberg's older_than) replaces the relative grace
      // window with an absolute cutoff: only orphans last modified at or
      // before it fall — same in-flight-writer protection, caller-pinned
      vacuum0(spark, root, GeoManifest.ancestry(spark, root, cur).toSet,
        orphanCutoffOverride = olderThanMs)
    }

  /** Age-based retention (Iceberg expire_snapshots older_than analog):
    * expire snapshots whose COMMIT timestamp is older than `cutoffMs`;
    * the current snapshot and ref'd snapshots always stay. */
  def vacuumOlderThan(spark: SparkSession, root: String, cutoffMs: Long): Int =
    vacuumExpire(spark, root, Some(cutoffMs), None)

  // under the commit lock: GC must not race an in-flight commit whose new
  // data/shard files are referenced by nothing until the pointer flips.
  // `keepSet` = versions the caller wants retained; the current snapshot
  // must be in it, ref'd snapshots (tags AND branch heads) are added —
  // they PIN their manifest and files regardless of the retention window
  // (Iceberg ref retention).
  private def vacuum0(spark: SparkSession, root: String, keepSet: Set[Int],
                      orphanCutoffOverride: Option[Long] = None): Int = {
    val fs = GeoManifest.fs(spark, root)
    val cur = GeoManifest.read(spark, root)
    require(keepSet.contains(cur.version), "vacuum must keep the current version")
    val r = GeoManifest.refs(spark, root)
    // a branch pins its WHOLE staged lineage (head back to the fork
    // point), not just its head: a shard or data file referenced only by
    // an intermediate staged manifest must survive until publish/drop —
    // after PUBLISH those intermediates sit inside the main changelog
    // range and readVersion/versionSteps over them must still resolve
    val branchChains = r.branches.values.flatMap { b =>
      GeoManifest.ancestry(spark, root, b.head).takeWhile(_ >= b.base)
    }
    val keep = keepSet ++ r.pinned ++ branchChains
    val liveShards = scala.collection.mutable.Set.empty[String]
    val live = keep.toSeq.sorted.flatMap { v =>
      try {
        val mv = GeoManifest.readVersion(spark, root, v)
        liveShards ++= mv.baseShards.map(_.name)
        // sidecars (position + equality + bloom) are live too
        mv.files.map(_.key) ++ mv.deletes.map(_.key) ++
          mv.eqDeletes.map(_.key) ++ mv.blooms.map(_.key)
      } catch { case _: Exception => Seq.empty } // version gap (already vacuumed)
    }.toSet
    // Files referenced by an EXPIRED manifest are committed garbage —
    // deletable regardless of age (Iceberg expire-snapshots semantics).
    // Files referenced by NO manifest at all may belong to an IN-FLIGHT
    // writer: data files and sidecars are written BEFORE the commit takes
    // the lock this sweep holds, so an ageless orphan sweep could delete
    // a concurrent writer's uncommitted files and break the snapshot its
    // commit then publishes. Such true orphans only fall once older than
    // the grace window (Iceberg remove_orphan_files `older_than` analog;
    // 0 is allowed for tests / known-quiesced tables).
    val everRef = scala.collection.mutable.Set.empty[String] ++ live
    if (fs.exists(new org.apache.hadoop.fs.Path(root, "_manifests")))
      fs.listStatus(new org.apache.hadoop.fs.Path(root, "_manifests")).foreach { s =>
        val n = s.getPath.getName
        if (s.isFile && n.startsWith("m") && n.endsWith(".txt"))
          scala.util.Try(n.stripPrefix("m").stripSuffix(".txt").toInt).toOption
            .filterNot(keep).foreach { v =>
              try {
                val mv = GeoManifest.readVersion(spark, root, v)
                everRef ++= mv.files.map(_.key)
                everRef ++= mv.deletes.map(_.key)
                everRef ++= mv.eqDeletes.map(_.key)
                everRef ++= mv.blooms.map(_.key)
              } catch { case _: Exception => () } // torn manifest: its files stay orphans
            }
      }
    val graceMs = spark.conf.getOption("spark.graft.vacuum.orphanGraceMs")
      .map(_.toLong).getOrElse(GeoTable.DefaultOrphanGraceMs)
    val orphanCutoff = orphanCutoffOverride
      .getOrElse(System.currentTimeMillis() - graceMs)
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    var removed = 0
    if (fs.exists(dataDir)) {
      val it = fs.listFiles(dataDir, true)
      val doomed = Seq.newBuilder[org.apache.hadoop.fs.Path]
      while (it.hasNext) {
        val f = it.next()
        val key = GeoManifest.norm(f.getPath.toString)
        if (f.isFile && f.getPath.getName.startsWith("part-") &&
          !live.contains(key) &&
          (everRef.contains(key) || f.getModificationTime <= orphanCutoff))
          doomed += f.getPath
      }
      doomed.result().foreach { p => if (fs.delete(p, false)) removed += 1 }
    }
    // drop expired manifests (kept/ref'd ones stay), then GC shard
    // files no kept manifest references (dissolved by later commits, or
    // only referenced by the just-dropped manifests)
    (0 until cur.version).filterNot(keep).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"_manifests/m$v.txt"), false)
    }
    val mdir = new org.apache.hadoop.fs.Path(root, "_manifests")
    if (fs.exists(mdir)) fs.listStatus(mdir).foreach { s =>
      val n = s.getPath.getName
      if (s.isFile && n.startsWith("s-") && !liveShards.contains(n))
        fs.delete(s.getPath, false)
    }
    removed
  }

  /**
   * RESTORE to an earlier snapshot (Delta `RESTORE TABLE` / Iceberg
   * rollback_to_snapshot analog): commits a NEW version whose data state
   * — schema, file list, delete sidecars, partition spec, geometry
   * column, drop tombstones — is the target snapshot's. History is
   * preserved: time travel still reaches the undone versions until
   * vacuum expires them, and the restore itself shows up in `history`.
   * O(1) data I/O — files are re-referenced, never copied; shard
   * reuse keeps even the metadata write O(changed shards).
   *
   * Streaming watermarks are deliberately NOT restored: epoch dedup must
   * stay monotone or a restarted streaming sink would re-append epochs
   * the table already absorbed. Returns the restored snapshot's row count.
   */
  def restore(spark: SparkSession, root: String, version: Int): Long = {
    val cur = GeoManifest.read(spark, root)
    require(version >= 0 && version <= cur.version,
      s"no snapshot version $version of $root (current is ${cur.version})")
    if (version == cur.version) return cur.totalRows
    // vacuum drops expired manifests, so a missing one means the snapshot
    // is gone for good — say so instead of leaking a raw FS error
    val tgt = try GeoManifest.readVersion(spark, root, version) catch {
      case e: Exception if !GeoManifest.fs(spark, root).exists(
          new org.apache.hadoop.fs.Path(root, s"_manifests/m$version.txt")) =>
        throw new IllegalArgumentException(
          s"cannot restore $root to version $version: the snapshot was vacuumed", e)
    }
    // a vacuumed target references deleted data: check the files the
    // current snapshot does NOT carry (those are known-live) before the
    // pointer moves, so a failed restore cannot corrupt the table
    val fs = GeoManifest.fs(spark, root)
    val live = cur.files.map(_.key).toSet
    (tgt.files.filterNot(f => live.contains(f.key)).map(_.path) ++
      tgt.deletes.filterNot(d => cur.deletes.exists(_.key == d.key)).map(_.path) ++
      tgt.eqDeletes.filterNot(e => cur.eqDeletes.exists(_.key == e.key)).map(_.path) ++
      tgt.blooms.filterNot(b => cur.blooms.exists(_.key == b.key)).map(_.path))
      .foreach { p =>
        require(fs.exists(new org.apache.hadoop.fs.Path(p)),
          s"cannot restore $root to version $version: file $p was vacuumed")
      }
    GeoManifest.commit(spark, root,
      tgt.copy(version = cur.version + 1, streamCommits = cur.streamCommits),
      cur.version, op = "restore")
    tgt.totalRows
  }

  /** [[restore]] resolved by commit timestamp: the newest snapshot whose
    * in-manifest commit ts is <= `cutoffMs` (same resolution rule as
    * `TIMESTAMP AS OF` reads). */
  def restoreAsOf(spark: SparkSession, root: String, cutoffMs: Long): Long =
    restore(spark, root, GeoManifest.versionAsOf(spark, root, cutoffMs))

  // -------------------------------------------------------------------------
  // Tags — named snapshots (Iceberg tag refs): `VERSION AS OF 'name'`
  // resolves through them, and vacuum keeps tagged snapshots alive.
  // -------------------------------------------------------------------------

  private val TagNameRe = "[A-Za-z_][A-Za-z0-9_.-]*".r

  /** Create tag `name` at `version` (default: the current snapshot).
    * Under the commit lock: tag writes must not interleave with each
    * other or with vacuum's liveness scan. Returns the tagged version. */
  def createTag(spark: SparkSession, root: String, name: String,
                version: Option[Int] = None): Int =
    GeoManifest.withCommitLock(root) {
      require(TagNameRe.matches(name), s"bad tag name '$name'")
      val cur = GeoManifest.read(spark, root).version
      val v = version.getOrElse(cur)
      require(v >= 0 && v <= cur, s"no snapshot version $v of $root (current is $cur)")
      require(GeoManifest.fs(spark, root).exists(
        new org.apache.hadoop.fs.Path(root, s"_manifests/m$v.txt")),
        s"cannot tag version $v of $root: the snapshot was vacuumed")
      val r = GeoManifest.refs(spark, root)
      require(!r.branches.contains(name), s"'$name' is already a branch of $root")
      r.tags.get(name).foreach(old => require(old == v,
        s"tag '$name' already points at version $old"))
      GeoManifest.writeTags(spark, root, r.tags + (name -> v))
      v
    }

  def dropTag(spark: SparkSession, root: String, name: String): Unit =
    GeoManifest.withCommitLock(root) {
      val t = GeoManifest.tags(spark, root)
      require(t.contains(name),
        s"no tag '$name' on $root (tags: ${t.keys.toSeq.sorted.mkString(", ")})")
      GeoManifest.writeTags(spark, root, t - name)
    }

  // -------------------------------------------------------------------------
  // Branches — writable refs for write-audit-publish (Iceberg branch +
  // fast_forward analog): staged commits land in the SAME linear manifest
  // sequence but move only the branch head, never `_current`; main
  // readers see nothing until publish fast-forwards the pointer.
  // -------------------------------------------------------------------------

  /** Create branch `name` at the current MAIN version. The fork point is
    * recorded: [[publishBranch]] refuses if main moves past it. */
  def createBranch(spark: SparkSession, root: String, name: String): Int =
    GeoManifest.withCommitLock(root) {
      require(TagNameRe.matches(name), s"bad branch name '$name'")
      val cur = GeoManifest.read(spark, root).version
      val r = GeoManifest.refs(spark, root)
      require(!r.branches.contains(name) && !r.tags.contains(name),
        s"ref '$name' already exists on $root")
      GeoManifest.writeRefs(spark, root, r.copy(branches =
        r.branches + (name -> GeoManifest.BranchRef(cur, cur))))
      cur
    }

  def dropBranch(spark: SparkSession, root: String, name: String): Unit =
    GeoManifest.withCommitLock(root) {
      val r = GeoManifest.refs(spark, root)
      require(r.branches.contains(name),
        s"no branch '$name' on $root (branches: ${r.branches.keys.toSeq.sorted.mkString(", ")})")
      GeoManifest.writeRefs(spark, root, r.copy(branches = r.branches - name))
    }

  /** Append `df` to branch `name`: a full manifest commit (stats, eq/pos
    * sidecars carried, partition layout) that moves only the branch
    * head — main is untouched until [[publishBranch]]. Returns rows. */
  def appendToBranch(spark: SparkSession, root: String, name: String,
                     df: DataFrame): Long = {
    val r = GeoManifest.refs(spark, root)
    val b = r.branches.getOrElse(name, throw new IllegalArgumentException(
      s"no branch '$name' on $root (branches: ${r.branches.keys.toSeq.sorted.mkString(", ")})"))
    val m = GeoManifest.readVersion(spark, root, b.head)
    val aligned = GeoPartition.layout(conform(df, m.schema), m.partitions, m.schema,
      GeoPartition.layoutMode(m.props))
    val files = writeCommit(spark, root, aligned, m.schema, m.geomCol, m.partitions, checks = m.checks)
    GeoManifest.commitBranch(spark, root,
      m.copy(version = b.head + 1, files = m.files ++ files), name, b.head,
      op = "append")
    files.map(_.rows).sum
  }

  /** Publish (fast-forward): point main at the branch head. Refused when
    * main has moved past the branch's fork point — the staged lineage
    * would silently drop those commits; rebase by hand (re-stage on a
    * fresh branch) instead. The branch ref survives publish with its fork
    * point ADVANCED to the published head (main and the branch are
    * identical at that instant), so iterative stage→audit→publish cycles
    * keep working on one branch; drop it when done. */
  def publishBranch(spark: SparkSession, root: String, name: String): Int =
    GeoManifest.withCommitLock(root) {
      val r = GeoManifest.refs(spark, root)
      val b = r.branches.getOrElse(name, throw new IllegalArgumentException(
        s"no branch '$name' on $root (branches: ${r.branches.keys.toSeq.sorted.mkString(", ")})"))
      val cur = GeoManifest.read(spark, root).version
      require(cur == b.base,
        s"cannot publish branch '$name' of $root: main moved $cur != fork point " +
          s"${b.base} — staged commits would drop main's; re-stage on a fresh branch")
      GeoManifest.publishVersion(spark, root, b.head)
      GeoManifest.writeRefs(spark, root, r.copy(branches =
        r.branches + (name -> b.copy(base = b.head))))
      b.head
    }

  /**
   * Cherry-pick (Iceberg `cherrypick_snapshot`): apply snapshot `v`'s
   * APPEND delta — the files it added relative to its own lineage
   * parent — onto the CURRENT head as a new commit. Unlike publish
   * (fast-forward), main may have advanced since `v` was staged; that is
   * the point. Iceberg's restriction applies here too: only snapshots
   * that purely ADD data files can be cherry-picked — one that removed
   * files or minted delete sidecars is refused, because its row-level
   * effects cannot be replayed safely onto a moved base. The picked
   * files RE-SEQUENCE (`addedAt` = the new version), so equality deletes
   * committed between stage and pick do not retroactively apply to them
   * (Iceberg's sequence-number reassignment rule). Zero-copy: only the
   * manifest changes, the snapshot's data files are referenced as-is.
   *
   * @return the new main version
   */
  def cherrypickSnapshot(spark: SparkSession, root: String, v: Int): Int = {
    val picked = GeoManifest.readVersion(spark, root, v)
    require(picked.parent >= 0,
      s"version $v of $root is a root commit — nothing to cherry-pick")
    val parent = GeoManifest.readVersion(spark, root, picked.parent)
    def keys(m: Manifest) = m.files.map(f => GeoManifest.norm(f.path)).toSet
    val parentKeys = keys(parent)
    require((parentKeys -- keys(picked)).isEmpty &&
        picked.deletes == parent.deletes && picked.eqDeletes == parent.eqDeletes,
      s"cannot cherry-pick version $v of $root: only pure APPEND snapshots can " +
        "be cherry-picked; this one removed files or changed delete sidecars")
    val added = picked.files.filterNot(f => parentKeys(GeoManifest.norm(f.path)))
    require(added.nonEmpty,
      s"version $v of $root added no files over its parent ${picked.parent} — nothing to apply")
    val head = GeoManifest.read(spark, root)
    // idempotence by SOURCE SNAPSHOT ID (Iceberg's source-snapshot-id
    // tracking), not just by path: after OPTIMIZE retires the picked
    // files' paths the path guard below passes, and a second pick of the
    // same snapshot would silently duplicate its rows
    require(!head.picked.contains(v),
      s"cannot cherry-pick version $v of $root: this snapshot was already " +
        "cherry-picked onto main")
    val headKeys = keys(head)
    val dup = added.count(f => headKeys(GeoManifest.norm(f.path)))
    require(dup == 0,
      s"cannot cherry-pick version $v of $root: $dup of its added files are " +
        "already referenced by the current version (already published or picked)")
    require(head.schema == picked.schema,
      s"cannot cherry-pick version $v of $root: the table schema changed since it was staged")
    require(head.specId == picked.specId,
      s"cannot cherry-pick version $v of $root: the partition spec changed since it was staged")
    // the picked rows never passed MAIN's row writer, and main may have
    // gained CHECK constraints the branch never saw: validate them here
    validateChecksOnEntries(spark, head, added, s"snapshot $v's added files")
    // addedAt may undershoot the committed number if remapVersion slides
    // past a concurrent branch commit — harmless: it only needs to exceed
    // every eq-delete version already in `head` (all <= head.version)
    val reseq = added.map(_.copy(addedAt = head.version + 1))
    GeoManifest.commit(spark, root,
      head.copy(version = head.version + 1, files = head.files ++ reseq,
        picked = head.picked + v),
      head.version, op = "cherrypick")
    GeoManifest.read(spark, root).version
  }

  /** Create an empty table with the given (possibly GEOMETRY-tagged) schema. */
  def createEmpty(spark: SparkSession, root: String, schema: StructType,
                  geomCol: Option[String],
                  partitions: Seq[GeoPartition.PTransform] = Seq.empty,
                  bloomCols: Seq[GeoBloom.BloomSpec] = Seq.empty,
                  props: Map[String, String] = Map.empty): Unit = {
    require(GeoManifest.currentVersion(spark, root).isEmpty, s"GeoTable already exists at $root")
    GeoSchema.validate(schema)
    validateProps(props.keys, props.values)
    GeoManifest.write(spark, root,
      Manifest(0, schema, geomCol, Seq.empty, partitions = partitions,
        bloomCols = bloomCols, props = props), op = "create")
  }

  /** Enable (or retune) per-file bloom filters on `colsProp` columns
    * (`ALTER TABLE ... SET TBLPROPERTIES('bloom.columns'='a,b')` target).
    * Unlike Iceberg's write-time-only parquet blooms, enabling here also
    * BACKFILLS existing files in one distributed pass (same cost shape as
    * ANALYZE) so point lookups prune immediately. Empty string disables —
    * future commits stop building; old sidecars expire with their
    * snapshots. */
  def setBloomColumns(spark: SparkSession, root: String, colsProp: String,
                      fpp: Option[String] = None, items: Option[String] = None): Unit = {
    val m = GeoManifest.read(spark, root)
    // knobs not named in THIS statement inherit the column's current
    // config — SET of one bloom property must not reset its siblings to
    // session defaults
    val specs = GeoBloom.parseSpecs(spark, m.schema, colsProp, fpp, items).map { s =>
      m.bloomCols.find(_.col.equalsIgnoreCase(s.col)) match {
        case Some(cur) => s.copy(
          fpp = if (fpp.isDefined) s.fpp else cur.fpp,
          items = if (items.isDefined) s.items else cur.items)
        case None => s
      }
    }
    // idempotent SET: no job, no commit — but ONLY when sidecars exist to
    // stand on (RENAME COLUMN keeps the config and drops the sidecars; a
    // re-SET afterwards must rebuild, not no-op into a never-pruning table)
    if (specs == m.bloomCols && (specs.isEmpty || m.blooms.nonEmpty)) return
    // the backfill covers EVERY current file, so it REPLACES the sidecar
    // list — re-tuning must not accumulate duplicate (file, col) rows
    val backfill =
      if (specs.isEmpty) Seq.empty
      else GeoBloom.build(spark, root, m.schema,
        m.files.filter(f => f.addedAt >= 0 && f.rows > 0), specs).toSeq
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1, bloomCols = specs, blooms = backfill),
      m.version, op = "bloom")
  }

  // -------------------------------------------------------------------------
  // Schema evolution (Iceberg-style: the manifest schema is authoritative,
  // data files are never touched unless physically necessary)
  // -------------------------------------------------------------------------

  /** ALTER TABLE ADD COLUMN — metadata-only commit: pre-existing files
    * simply lack the column and read back as NULL via Spark's name-based
    * parquet resolution. Re-adding a previously DROPped name is rejected:
    * old files may still hold that column's data and name-based reads
    * would silently resurrect it (Iceberg solves this with field ids; the
    * manifest's tombstone list is the name-based equivalent). Geometry
    * columns can't be added this way — the table's geometry column anchors
    * per-file bbox stats, which only a write can produce. */
  def addColumn(spark: SparkSession, root: String, colDdl: String): Unit = {
    val parsed = GeoSchema.fromDdl(colDdl)
    require(parsed.fields.nonEmpty, s"ADD COLUMN got no columns in '$colDdl'")
    addColumns(spark, root, parsed.fields.toSeq)
  }

  /**
   * ADD COLUMN with a DEFAULT (Iceberg v3 initial-default / Delta
   * default-value analog), still metadata-only: the constant folds NOW
   * and lands in the field's `EXISTS_DEFAULT` metadata, which Spark's
   * own parquet readers consult when a data file physically lacks the
   * column — so every pre-existing row reads the default with ZERO
   * rewrites, on the catalog scan and the path readers alike (they all
   * read under the manifest schema). CoW rewrites then materialize it.
   * The default must be a foldable constant (Spark's reader eval point
   * cannot run queries), and time travel is unaffected: old manifests
   * keep their own schema.
   */
  def addColumnWithDefault(spark: SparkSession, root: String,
                           colDdl: String, defaultSql: String): Unit =
    addColumnsWithDefaults(spark, root, Seq(colDdl -> Some(defaultSql)))

  /** The multi-column form — `ADD COLUMNS (a INT DEFAULT 5, b INT)` —
    * with a per-column optional DEFAULT: every column parses and every
    * default folds BEFORE anything commits, then all land in ONE
    * metadata commit (a mid-statement failure must not leave half the
    * columns added). */
  def addColumnsWithDefaults(spark: SparkSession, root: String,
                             cols: Seq[(String, Option[String])]): Unit = {
    val fields = cols.map { case (colDdl, defaultSql) =>
      val parsed = GeoSchema.fromDdl(colDdl)
      require(parsed.fields.length == 1,
        s"ADD COLUMN ... DEFAULT takes one column per clause, got '$colDdl'")
      val f = parsed.fields.head
      defaultSql match {
        case None => f
        case Some(sql) =>
          require(!GeoSchema.isGeometry(f), "a GEOMETRY column cannot carry a DEFAULT")
          val folded = foldedDefault(spark, sql, f.dataType)
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("EXISTS_DEFAULT", folded.sql)
            .putString("CURRENT_DEFAULT", sql)
            .build()
          f.copy(metadata = md)
      }
    }
    addColumns(spark, root, fields)
  }

  /** Fold a DEFAULT expression NOW against an empty frame: unresolvable
    * names, type mismatches, and non-constant expressions all fail here
    * with Spark's own errors, never at a later read or write. */
  private[tables] def foldedDefault(spark: SparkSession, defaultSql: String,
                            dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.catalyst.expressions.Literal = {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), new StructType())
    val analyzed = empty.select(expr(defaultSql).cast(dt).as("__d"))
      .queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
      .projectList.head
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child
    require(analyzed.foldable,
      s"DEFAULT must be a constant expression, got '$defaultSql'")
    org.apache.spark.sql.catalyst.expressions.Literal.create(analyzed.eval(), dt)
  }

  /**
   * SET / DROP a column's DEFAULT for FUTURE writes (`ALTER COLUMN c SET
   * DEFAULT v` / `DROP DEFAULT`): only `CURRENT_DEFAULT` moves —
   * `EXISTS_DEFAULT` is pinned at ADD time, because it is what files
   * written BEFORE the column existed read, and that is committed
   * history (re-pointing it would silently rewrite every old row's
   * value). Delta and Iceberg v3 draw the same line. `None` drops the
   * write-side default (omitted columns become NULL again); old files
   * keep reading their ADD-time constant either way.
   */
  def setColumnDefault(spark: SparkSession, root: String, colName: String,
                       defaultSql: Option[String]): Unit = {
    val m = GeoManifest.read(spark, root)
    val f = m.schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$colName' in ${m.schema.fieldNames.mkString(", ")}"))
    require(!GeoSchema.isGeometry(f), "a GEOMETRY column cannot carry a DEFAULT")
    val md = defaultSql match {
      case Some(sql) =>
        foldedDefault(spark, sql, f.dataType) // validates; value unused here
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString("CURRENT_DEFAULT", sql).build()
      case None =>
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove("CURRENT_DEFAULT").build()
    }
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      schema = StructType(m.schema.fields.map(x =>
        if (x.name == f.name) x.copy(metadata = md) else x))),
      m.version, op = "ddl")
  }

  /** Field-based ADD COLUMNS (shared by the DDL front-end and the DSv2
    * catalog's alterTable) — one metadata-only commit for the whole batch. */
  def addColumns(spark: SparkSession, root: String,
                 fields: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    val m = GeoManifest.read(spark, root)
    require(fields.nonEmpty, "ADD COLUMNS got no columns")
    require(fields.map(_.name.toLowerCase).distinct.size == fields.length,
      s"ADD COLUMNS lists a duplicate column name in '${fields.map(_.name).mkString(", ")}'")
    fields.foreach { field =>
      require(!GeoSchema.isGeometry(field),
        "cannot ADD a GEOMETRY column: per-file bbox stats require a rewrite; " +
          "create-table-as-select into a new table instead")
      require(!m.schema.fieldNames.exists(_.equalsIgnoreCase(field.name)),
        s"column '${field.name}' already exists")
      require(!m.dropped.exists(_.equalsIgnoreCase(field.name)),
        s"column '${field.name}' was previously dropped; old data files may still " +
          "hold it and would resurrect — use a different name")
    }
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1,
        schema = StructType(m.schema.fields ++ fields.map(_.copy(nullable = true)))),
      m.version, op = "ddl")
  }

  /** ALTER TABLE DROP COLUMN — metadata-only commit: the column leaves the
    * schema (reads project it away); its name enters the tombstone list.
    * The geometry column can't be dropped (it anchors file stats). */
  def dropColumn(spark: SparkSession, root: String, name: String): Unit = {
    val m = GeoManifest.read(spark, root)
    val actual = m.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no column '$name' in ${m.schema.fieldNames.mkString(", ")}"))
    require(!m.geomCol.exists(_.equalsIgnoreCase(name)),
      "cannot DROP the geometry column (it anchors per-file bbox stats)")
    val refd = checksReferencing(spark, m, name)
    require(refd.isEmpty,
      s"cannot DROP '$name': CHECK constraint(s) ${refd.mkString(", ")} reference it " +
        "(DROP the constraint first)")
    // a CURRENT-spec LAYOUT transform's column anchors the write
    // clustering — reject; a stats-only transform just stops being
    // collected. RETIRED specs are frozen history: any transform of
    // theirs on the column (layout included — it drives nothing
    // anymore) is stripped, and each file's pstats/pnulls vectors remap
    // under ITS OWN spec (indexes are positional per spec).
    val layoutOnIt = m.partitions.zipWithIndex
      .filter(t => t._1.col.equalsIgnoreCase(name) && t._1.layout)
    require(layoutOnIt.isEmpty,
      s"cannot DROP '$name': it anchors partition transform(s) " +
        s"${layoutOnIt.map(_._1.encode).mkString(", ")}")
    val specs = m.specSet
    val perSpecDrop: Map[Int, Set[Int]] = specs.byId.map { case (id, ts) =>
      id -> ts.zipWithIndex.filter(_._1.col.equalsIgnoreCase(name)).map(_._2).toSet
    }
    def strip(ts: Seq[GeoPartition.PTransform], drop: Set[Int]) =
      ts.zipWithIndex.collect { case (p, i) if !drop.contains(i) => p }
    val newParts = strip(m.partitions, perSpecDrop(m.specId))
    val newPast = m.pastSpecs.map { case (id, ts) =>
      id -> strip(ts, perSpecDrop.getOrElse(id, Set.empty)) }
    val newFiles =
      if (perSpecDrop.values.forall(_.isEmpty)) m.files
      else m.files.map { f =>
        val drop = perSpecDrop.getOrElse(if (f.spec < 0) m.specId else f.spec, Set.empty[Int])
        if (drop.isEmpty || f.pstats.isEmpty) f
        else f.copy(
          pstats = f.pstats.zipWithIndex.collect {
            case (ps, i) if !drop.contains(i) => ps },
          pnulls = f.pnulls.zipWithIndex.collect {
            case (pn, i) if !drop.contains(i) => pn })
      }
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1,
        schema = StructType(m.schema.fields.filterNot(_.name == actual.name)),
        dropped = m.dropped :+ actual.name,
        partitions = newParts, files = newFiles, pastSpecs = newPast,
        colStats = m.colStats - actual.name,
        // stop building blooms for the dropped column; existing sidecar
        // rows for it are simply never consulted again
        bloomCols = m.bloomCols.filterNot(_.col.equalsIgnoreCase(name))),
      m.version, op = "ddl")
  }

  /** ALTER TABLE ... SET PARTITIONED BY (...) — partition-spec evolution
    * (Iceberg's flagship metadata-only operation): changing how a table
    * is partitioned NEVER rewrites data. The current spec retires into
    * `pastSpecs` under its id, new writes cluster by (and record stats
    * for) the new spec, and every stats consumer — file pruning,
    * equality-delete key ranges, runtime file filtering, the partitions
    * metadata table — resolves each file's OWN spec before touching its
    * pstats vector. At 100 TB this is the only affordable shape: the
    * alternative (rewrite on repartition) costs a full table pass.
    *
    * Consequences a caller should know: storage-partitioned joins are
    * withheld while files from a retired spec remain (their key tuples
    * live in a different key space) and return after `OPTIMIZE` rewrites
    * the stragglers under the new layout; pruning on old files uses
    * whatever their old spec recorded (often still exact via its auto
    * stats transforms). An empty `layout` makes the table unpartitioned
    * going forward. No-op when the layout is unchanged.
    *
    * `layout` lists LAYOUT transforms only (identity/bucket/truncate/
    * days/hours/months/years); stats transforms stay auto-managed. */
  def setPartitionSpec(spark: SparkSession, root: String,
                       layout: Seq[GeoPartition.PTransform]): Unit = {
    val m = GeoManifest.read(spark, root)
    val canon = layout.map { t =>
      require(t.kind != "stats" && t.kind != "sort",
        "stats transforms are auto-managed and the sort order is a CREATE-time " +
          "table property; declare layout transforms only")
      val f = m.schema.fields.find(_.name.equalsIgnoreCase(t.col)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column '${t.col}' not in ${m.schema.fieldNames.mkString(", ")}"))
      require(GeoPartition.supports(t.kind, f.dataType),
        s"${t.encode}: ${t.kind} cannot partition a ${f.dataType.simpleString} column")
      t.copy(col = f.name)
    }
    require(canon.map(_.col.toLowerCase).distinct.length == canon.length,
      "duplicate partition column in SET PARTITIONED BY")
    // the declared sort order (CREATE-time property) survives spec
    // evolution — unless the new layout itself orders that column
    val keptSort = m.partitions.filter(t => t.kind == "sort" &&
      !canon.exists(c => c.col.equalsIgnoreCase(t.col) && c.kind != "bucket"))
    val newParts = canon ++ keptSort ++
      GeoPartition.statsFor(m.schema, canon ++ keptSort)
    if (newParts == m.partitions) return // layout unchanged — no commit
    // retire the current spec; drop retired specs no file references any
    // more (files are spec-stamped on every committed manifest)
    val retired = m.pastSpecs + (m.specId -> m.partitions)
    val live = retired.view.filterKeys(id => m.files.exists(_.spec == id)).toMap
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1, partitions = newParts,
        pastSpecs = live,
        specId = (m.pastSpecs.keySet + m.specId).max + 1),
      m.version, op = "ddl")
  }

  /** ALTER TABLE RENAME COLUMN — implemented as a full copy-on-write
    * rewrite: without per-field ids, renaming as pure metadata would read
    * pre-rename files' data back as NULL. After the rewrite every live
    * file carries the new name, so no tombstone is needed and the old
    * name is immediately reusable. (Iceberg does this as metadata via
    * field ids — the price of a text manifest is one rewrite per rename.) */
  def renameColumn(spark: SparkSession, root: String, from: String, to: String): Unit = {
    val m = GeoManifest.read(spark, root)
    val actual = m.schema.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(s"no column '$from' in ${m.schema.fieldNames.mkString(", ")}"))
    require(!m.schema.fieldNames.exists(_.equalsIgnoreCase(to)), s"column '$to' already exists")
    require(!m.dropped.exists(_.equalsIgnoreCase(to)),
      s"'$to' was previously dropped; old data files may still hold it")
    val refd = checksReferencing(spark, m, from)
    require(refd.isEmpty,
      s"cannot RENAME '$from': CHECK constraint(s) ${refd.mkString(", ")} reference it " +
        "(DROP the constraint first, re-ADD it against the new name)")
    val newSchema = StructType(m.schema.fields.map { f =>
      if (f.name == actual.name) f.copy(name = to) else f
    })
    val newGeom = m.geomCol.map(g => if (g.equalsIgnoreCase(from)) to else g)
    // partition/stats transforms follow the rename (the rewrite below
    // recollects their per-file ranges under the new name)
    val newParts = m.partitions.map(p =>
      if (p.col.equalsIgnoreCase(from)) p.copy(col = to) else p)
    // the MERGED view: a rename rewrite must not resurrect rows hidden by
    // position or equality delete sidecars — they fold in here and clear
    val renamed = readMerged(spark, m, m.files).select(m.schema.fields.toSeq.map { f =>
      val target = if (f.name == actual.name) to else f.name
      col(f.name).as(target, f.metadata)
    }: _*)
    val files = writeCommit(spark, root, renamed, newSchema, newGeom, newParts,
      cluster = true, checks = m.checks,
      layoutMode = GeoPartition.layoutMode(m.props))
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1, schema = newSchema, geomCol = newGeom,
        files = files, partitions = newParts,
        // the rewrite replaced every file — no retired-spec files remain
        pastSpecs = Map.empty,
        deletes = Seq.empty, eqDeletes = Seq.empty,
        colStats = m.colStats.map { case (c, st) =>
          (if (c.equalsIgnoreCase(from)) to else c) -> st },
        // the rewrite replaced every file, so pre-rename sidecars cover
        // nothing: drop them and let the commit hook rebuild under the
        // renamed column
        bloomCols = m.bloomCols.map(s =>
          if (s.col.equalsIgnoreCase(from)) s.copy(col = to) else s),
        blooms = Seq.empty),
      m.version, op = "ddl")
  }

  /** Current snapshot as a DataFrame (schema from the manifest, so GEOMETRY
    * metadata survives even across mixed-version files). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val m = GeoManifest.read(spark, root)
    readMerged(spark, m, m.files)
  }

  /** Time travel: the snapshot as of `version` (until vacuumed). */
  def readAt(spark: SparkSession, root: String, version: Int): DataFrame = {
    val m = GeoManifest.readVersion(spark, root, version)
    readMerged(spark, m, m.files)
  }

  /** File-granular changelog for `(vFrom, vTo]` — every row added or
    * removed, tagged `_change_type` + `_commit_version`; reads only the
    * changed files (see [[GeoChangelog.changes]]). */
  def changes(spark: SparkSession, root: String, vFrom: Int, vTo: Int): DataFrame =
    GeoChangelog.changes(spark, root, vFrom, vTo)

  /** Net row-level diff between two snapshots — rewrite survivors cancel,
    * so a CoW DELETE shows exactly the deleted rows (see
    * [[GeoChangelog.netChanges]]). */
  def netChanges(spark: SparkSession, root: String, vFrom: Int, vTo: Int): DataFrame =
    GeoChangelog.netChanges(spark, root, vFrom, vTo)

  /** Snapshot restricted to files whose bbox intersects `env` — file-level
    * pruning straight from the manifest, before any footer is opened. */
  def readPruned(spark: SparkSession, root: String, env: Envelope): DataFrame = {
    val m = GeoManifest.read(spark, root)
    readMerged(spark, m, m.prune(env))
  }

  /** Scan with a pushed filter: when `cond` constrains the geometry column
    * with an ST_ predicate against literal geometry, files are pruned via
    * the manifest first; the full `cond` still applies as the refine.
    * With `graft.display.wktPreview=true` a `<geom>_wkt` sibling column is
    * appended for human-readable show() output (see [[GeoDisplay]]). */
  def scan(spark: SparkSession, root: String, cond: Column): DataFrame =
    scanOn(spark, GeoManifest.read(spark, root), cond)

  /** [[scan]] pinned at a snapshot: the same manifest/transform/bloom
    * file pruning and row filter, over `version`'s file set (the
    * time-travel analog of scan — readAt with pushdown). */
  def scanAt(spark: SparkSession, root: String, version: Int,
             cond: Column): DataFrame =
    scanOn(spark, GeoManifest.readVersion(spark, root, version), cond)

  private def scanOn(spark: SparkSession, m: Manifest, cond: Column): DataFrame = {
    var files = m.geomCol.flatMap(g => queryEnvelope(spark, m, cond, g)) match {
      case Some(env) => m.prune(env)
      case None => m.files
    }
    // transform-range + IN-value pruning on the same condition: resolve
    // it against the table schema so derivation sees bound attributes
    // (the compactWhere recipe); an unresolvable condition prunes nothing
    if (m.partitions.nonEmpty || m.pastSpecs.nonEmpty || m.blooms.nonEmpty) scala.util.Try {
      spark.createDataFrame(java.util.Collections.emptyList[Row](), m.schema)
        .where(cond).queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter].condition
    }.foreach { c =>
      files = GeoPartition.pruneBySpec(files, m.specSet, m.schema, Seq(c))
      files = GeoBloom.prune(spark, m.blooms, m.bloomCols, m.schema, Seq(c), files)
    }
    val base = readMerged(spark, m, files).where(cond)
    m.geomCol match {
      case Some(g) if spark.conf.getOption(GeoDisplay.WktPreviewConf).exists(_.toBoolean) =>
        base.withColumn(s"${g}_wkt", graft.functions.GraftFunctions.st_asText(col(g)))
      case _ => base
    }
  }

  def append(spark: SparkSession, root: String, df: DataFrame): Long =
    append(spark, root, df, streamCommit = None)

  /** Append with an optional streaming watermark: `streamCommit = Some(
    * (sinkId, batchId))` records the micro-batch id IN the same atomic
    * manifest commit as the data, so a replayed batch after a crash is
    * detectable (see [[lastStreamBatch]]) — files and watermark can never
    * disagree. `propsDelta` rides the SAME commit: derived bookkeeping a
    * caller keeps in table properties (e.g. a text index's corpus stats)
    * can never disagree with the files it describes — there is no window
    * where one landed and the other didn't. */
  def append(spark: SparkSession, root: String, df: DataFrame,
             streamCommit: Option[(String, Long)],
             propsDelta: Map[String, String] = Map.empty): Long = {
    validateProps(propsDelta.keys, propsDelta.values, allowStats = true)
    val m = GeoManifest.read(spark, root)
    val aligned = GeoPartition.layout(conform(df, m.schema), m.partitions, m.schema,
      GeoPartition.layoutMode(m.props))
    val files = writeCommit(spark, root, aligned, m.schema, m.geomCol, m.partitions, checks = m.checks)
    // a STREAMING append of an empty micro-batch commits nothing (no
    // junk version, no watermark — a replay of the same empty batch is
    // idempotent either way). This lets the sinks drop their per-batch
    // isEmpty probe job: the write itself is the emptiness check.
    if (files.isEmpty && streamCommit.isDefined) return 0L
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1, files = m.files ++ files,
        streamCommits = m.streamCommits ++ streamCommit,
        props = m.props ++ propsDelta), m.version,
      op = if (streamCommit.isDefined) "stream-append" else "append")
    files.map(_.rows).sum
  }

  /** INSERT OVERWRITE semantics: replace the table's contents with `df` in
    * one atomic commit. Old files stay readable via time travel until
    * `vacuum` — same snapshot mechanics as every other commit. */
  def overwrite(spark: SparkSession, root: String, df: DataFrame): Long = {
    val m = GeoManifest.read(spark, root)
    val aligned = GeoPartition.layout(conform(df, m.schema), m.partitions, m.schema,
      GeoPartition.layoutMode(m.props))
    val files = writeCommit(spark, root, aligned, m.schema, m.geomCol, m.partitions, checks = m.checks)
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1, files = files, deletes = Seq.empty,
        eqDeletes = Seq.empty, pastSpecs = Map.empty, blooms = Seq.empty), m.version, op = "overwrite")
    files.map(_.rows).sum
  }

  /** Last micro-batch id committed for `sinkId`, or None if this sink has
    * never committed. Read from the current manifest — no sidecar files. */
  def lastStreamBatch(spark: SparkSession, root: String, sinkId: String): Option[Long] =
    GeoManifest.read(spark, root).streamCommits.get(sinkId)

  /** Keys whose behavior lives OUTSIDE the manifest props map (catalog
    * config resolved at create/ALTER through their own verbs, or derived
    * facts `properties()` reports). Accepting them here would look like it
    * worked while changing nothing — refuse with the real verb instead. */
  private val ReservedPropKeys: Set[String] = Set(
    GeoCatalog.GeomColProp, "stats.columns", "sort.order",
    "bloom.columns", "bloom.fpp", "bloom.items",
    "location", "provider", "format-version", "snapshot-version",
    "data-files", "total-rows")

  /** Prefix of the BM25 index-stats bookkeeping props — maintained by
    * the text-index writers in the postings commit itself and TRUSTED by
    * probes, so a user hand-SET would silently pin wrong corpus stats
    * with no heal. Reserved on every user property surface; the index
    * writers ride the trusted channels ([[setStatsProperties]] and the
    * verbs' propsDelta). */
  private[graft] val StatsPropPrefix = "graft.bm25."

  private[tables] def validateProps(keys: Iterable[String],
                                    values: Iterable[String],
                                    allowStats: Boolean = false): Unit = {
    keys.foreach { k =>
      require(k.nonEmpty && !k.contains('\t') && !k.contains('\n') && !k.contains('\r'),
        s"table property key '$k' must be non-empty and tab/newline-free")
      require(!ReservedPropKeys.contains(k),
        s"'$k' is a reserved table config key — set it through its own verb " +
          "(CREATE TABLE TBLPROPERTIES / ALTER TABLE for bloom.*), not setProperties")
      require(allowStats || !k.startsWith(StatsPropPrefix),
        s"'$k' is index-stats bookkeeping maintained by the text-index " +
          "writers — hand-setting it would silently pin wrong BM25 corpus " +
          "stats; rebuild or mutate the index through its own verbs instead")
    }
    values.foreach { v =>
      require(v != null && !v.contains('\n') && !v.contains('\r'),
        "table property values must be non-null and newline-free")
    }
  }

  /** User table properties of the CURRENT snapshot (Iceberg/Delta
    * TBLPROPERTIES analog). Time travel reads a snapshot's own props;
    * RESTORE reverts them with the rest of the table state. */
  def properties(spark: SparkSession, root: String): Map[String, String] =
    GeoManifest.read(spark, root).props

  /** SET/UNSET table properties in one metadata-only commit (no data I/O;
    * ordinary snapshot — time travel and RESTORE see properties as of each
    * version). Unset keys absent from the table are a no-op; a call that
    * changes nothing still commits (the history records the intent). */
  def setProperties(spark: SparkSession, root: String,
                    set: Map[String, String],
                    unset: Seq[String] = Seq.empty): Unit = {
    require(set.nonEmpty || unset.nonEmpty, "setProperties: nothing to do")
    validateProps(set.keys ++ unset, set.values)
    val m = GeoManifest.read(spark, root)
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      props = (m.props -- unset) ++ set), m.version, op = "set-properties")
  }

  /** The text-index writers' trusted property channel: identical to
    * [[setProperties]] but allowed to touch the reserved
    * [[StatsPropPrefix]] bookkeeping keys (which user SET refuses). */
  private[graft] def setStatsProperties(spark: SparkSession, root: String,
                                        set: Map[String, String]): Unit = {
    require(set.nonEmpty, "setStatsProperties: nothing to do")
    validateProps(set.keys, set.values, allowStats = true)
    val m = GeoManifest.read(spark, root)
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      props = m.props ++ set), m.version, op = "set-properties")
  }

  /** Fraction of the affected files' rows below which DML goes
    * merge-on-read instead of copy-on-write (auto mode). Conservative:
    * MoR trades read-side anti-join work for write amplification, which
    * only pays off when the rewrite would be mostly untouched rows. */
  val MorMaxRatio = 0.1

  /** Ceiling on TOTAL live delete-sidecar rows (position + equality) a
    * table may carry. Each commit is bounded by [[MorMaxRatio]], but
    * sidecars ACCUMULATE across commits and every read pays for them
    * (driver-side position load, per-row merge work) — steady small DML
    * would otherwise grow them without bound. A DML commit that pushes
    * the total past this ceiling triggers an inline [[foldSidecars]]:
    * only sidecar-referenced files rewrite, so the maintenance cost is
    * proportional to the delete volume, not the table.
    * `spark.graft.mor.maxLiveDeleteRows` overrides (default ~4M rows). */
  def maxLiveDeleteRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.mor.maxLiveDeleteRows")
      .map(_.toLong).getOrElse(1L << 22)

  private def liveDeleteRows(m: Manifest): Long =
    m.deletes.map(_.rows).sum + m.eqDeletes.map(_.rows).sum

  /** Inline sidecar compaction: rewrite ONLY the files live delete
    * sidecars actually touch — position-sidecar targets, plus files where
    * an equality delete has key hits (one key-column scan of applicable
    * files finds them) — applying every live delete, then clear all
    * sidecars in the same commit. Untouched files carry over by
    * reference, so cost scales with the deleted volume, not table size
    * (a full OPTIMIZE does strictly more work). Returns rewritten rows. */
  def foldSidecars(spark: SparkSession, root: String): Long = {
    val m = GeoManifest.read(spark, root)
    if (m.deletes.isEmpty && m.eqDeletes.isEmpty) return 0L
    val posKeys: Set[String] =
      if (m.deletes.isEmpty) Set.empty
      else spark.read.parquet(m.deletes.map(_.path): _*)
        .select("file_path").distinct()
        .collect().map(r => GeoManifest.norm(r.getString(0))).toSet
    val eqKeys: Set[String] = m.eqDeletes.flatMap { e =>
      // range-aware: the key-hit scan reads only files whose recorded
      // column range can intersect this sidecar's key range — the fold
      // cost follows the delete's locality, not the table
      val app = m.files.filter(f => m.eqApplies(e, f))
      if (app.isEmpty) Seq.empty
      else {
        val b = readFiles(spark, m.schema, app)
          .select(col("_metadata.file_path").as("__ff"), col("*"))
        joinEq(spark, b, e, "left_semi").select("__ff").distinct()
          .collect().map(r => GeoManifest.norm(r.getString(0)))
      }
    }.toSet
    val touched = m.files.filter(f => posKeys.contains(f.key) || eqKeys.contains(f.key))
    if (touched.isEmpty) {
      // sidecars reference nothing visible (already rewritten / no hits):
      // clearing them is a pure metadata commit
      GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
        deletes = Seq.empty, eqDeletes = Seq.empty), m.version, op = "fold")
      return 0L
    }
    val rewritten = writeCommit(spark, root, readMerged(spark, m, touched),
      m.schema, m.geomCol, m.partitions, cluster = true, checks = m.checks,
      layoutMode = GeoPartition.layoutMode(m.props))
    val untouched = m.files.filterNot(f => touched.exists(_.key == f.key))
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      files = untouched ++ rewritten, deletes = Seq.empty, eqDeletes = Seq.empty),
      m.version, op = "fold")
    touched.map(_.rows).sum
  }

  /** `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`: ONE pass over
    * the visible rows computes approximate NDV (HyperLogLog++), null
    * count, and — for columns with a long embedding — min/max, stored in
    * the manifest and served through the catalog scan's
    * `SupportsReportStatistics.columnStats()`. With CBO enabled Catalyst
    * then estimates filter selectivity from NDV and picks broadcast
    * joins / join orders BEFORE runtime instead of riding AQE alone.
    * Returns the analyzed column names. */
  def analyzeColumns(spark: SparkSession, root: String,
                     cols: Seq[String] = Seq.empty): Seq[String] = {
    val m = GeoManifest.read(spark, root)
    val resolved =
      if (cols.nonEmpty) cols.map { c =>
        m.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"ANALYZE column '$c' is not a table column")).name
      }
      else m.schema.fields.filterNot(GeoSchema.isGeometry).map(_.name).toSeq
    require(resolved.nonEmpty, "no analyzable columns")
    resolved.foreach { c => require(!GeoSchema.isGeometry(m.schema(c)),
      s"ANALYZE column '$c' is a GEOMETRY column; analyze scalar columns") }
    val rows = readMerged(spark, m, m.files)
    val aggs = resolved.flatMap { c =>
      val base = Seq(approx_count_distinct(col(c)).as(s"__ndv_$c"),
        count(when(col(c).isNull, 1)).as(s"__nul_$c"))
      if (GeoPartition.supports("stats", m.schema(c).dataType)) {
        val tc = GeoPartition.transformCol(
          GeoPartition.PTransform("stats", 0, c), m.schema)
        base ++ Seq(min(tc).as(s"__min_$c"), max(tc).as(s"__max_$c"))
      } else base
    }
    val r = rows.agg(aggs.head, aggs.tail: _*).head()
    val stats = resolved.map { c =>
      val mm =
        if (GeoPartition.supports("stats", m.schema(c).dataType) &&
            !r.isNullAt(r.fieldIndex(s"__min_$c")))
          (Some(r.getLong(r.fieldIndex(s"__min_$c"))),
            Some(r.getLong(r.fieldIndex(s"__max_$c"))))
        else (None, None)
      c -> GeoManifest.ColStat(r.getLong(r.fieldIndex(s"__ndv_$c")),
        r.getLong(r.fieldIndex(s"__nul_$c")), mm._1, mm._2)
    }
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      colStats = m.colStats ++ stats), m.version, op = "analyze")
    resolved
  }

  /**
   * ADD CONSTRAINT name CHECK (sql) — Delta-parity table constraint.
   * The expression must analyze as a boolean against the table schema
   * (Spark's own analyzer error names anything unresolvable or
   * ill-typed), and EVERY existing visible row is validated in one scan
   * before the constraint commits — exactly Delta's semantics. From then
   * on every write path enforces it per row inside the shared writer
   * ([[GeoCowDataWriterFactory]]), so path verbs, catalog INSERTs, the
   * streaming sink, and CoW DML rewrites all refuse violating rows with
   * the constraint's name. SQL semantics: only FALSE violates; a NULL
   * evaluation passes (standard CHECK).
   */
  def addCheckConstraint(spark: SparkSession, root: String,
                         name: String, sql: String): Unit = {
    val m = GeoManifest.read(spark, root)
    require("""\w+""".r.matches(name),
      s"bad constraint name '$name' (letters, digits, underscores only)")
    require(!m.checks.exists(_._1.equalsIgnoreCase(name)),
      s"constraint '$name' already exists on $root")
    require(!sql.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "constraint SQL must not contain tabs or newlines")
    // analyze NOW: unresolvable columns / non-boolean types fail here
    // with Spark's own named error, before anything commits
    val bound = GeoManifest.boundCheckExprs(spark, m.schema, Seq(name -> sql))
    // the row writer must be able to EXECUTE it on every future write:
    // nondeterministic expressions (rand()) would make enforcement
    // meaningless, and subqueries cannot run inside a row projection —
    // reject both HERE, not as a codegen crash on the table's next INSERT
    require(bound.head._2.deterministic,
      s"CHECK constraint '$name' must be deterministic ($sql)")
    // a SubqueryExpression survives projection CREATION and only crashes
    // at row-eval time (it is never planned) — reject it by node type
    require(!bound.head._2.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
      s"CHECK constraint '$name' ($sql) cannot run inside the row writer " +
        "(subqueries are not supported in CHECK constraints)")
    try org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      bound.map(_._2))
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"CHECK constraint '$name' ($sql) cannot run inside the row writer " +
          s"(subqueries and non-projectable expressions are not supported): ${e.getMessage}")
    }
    if (m.files.nonEmpty) {
      // NULL passes (=== false filters UNKNOWN out), matching the writer
      val violations = readMerged(spark, m, m.files)
        .where(expr(sql) === false).count()
      require(violations == 0L,
        s"$violations existing row(s) violate CHECK constraint '$name' ($sql) on $root")
    }
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      checks = m.checks :+ (name -> sql)), m.version, op = "add-constraint")
  }

  /** CHECK constraints referencing `colName` (from the ANALYZED, unbound
    * condition — exact attribute references, not text matching). The DDL
    * guard for DROP/RENAME COLUMN: Delta refuses both when a constraint
    * references the column, because the stored SQL would no longer
    * analyze against the evolved schema and poison every later write. */
  private def checksReferencing(spark: SparkSession, m: Manifest,
                                colName: String): Seq[String] = {
    if (m.checks.isEmpty) return Seq.empty
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), m.schema)
    m.checks.collect { case (n, sql) if empty.where(expr(sql))
        .queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]
        .condition.references.exists(_.name.equalsIgnoreCase(colName)) => n
    }
  }

  /** Validate `entries`' ROWS against the table's CHECK constraints in
    * one scan of just those files — the guard for metadata-only file
    * commits (ADD FILES, cherry-pick), which reference rows that never
    * passed through the row writer. */
  private def validateChecksOnEntries(spark: SparkSession, m: Manifest,
                                      entries: Seq[GeoManifest.FileEntry],
                                      what: String): Unit = {
    if (m.checks.isEmpty || entries.isEmpty) return
    val rows = readFiles(spark, m.schema, entries)
    // one pass, one violation counter per constraint
    val aggs = m.checks.map { case (n, sql) =>
      sum(when(expr(sql) === false, 1L).otherwise(0L)).as(s"__v_$n")
    }
    val r = rows.agg(aggs.head, aggs.tail: _*).head()
    m.checks.zipWithIndex.foreach { case ((n, sql), i) =>
      val v = if (r.isNullAt(i)) 0L else r.getLong(i)
      require(v == 0L,
        s"$v row(s) in $what violate CHECK constraint '$n' ($sql) on the target table")
    }
  }

  /** Commit-time CHECK re-validation for optimistic writers
    * (DSv2 batch/branch/CoW/streaming commits, which commit onto a FRESH
    * manifest): writer-side enforcement binds the constraints known at
    * PLAN time, so a constraint ADDed between planning and the commit
    * attempt would otherwise land rows that were never checked against
    * it — a committed constraint silently violated. Delta's rule is to
    * fail such transactions on concurrent metadata change; this is
    * strictly better: re-validate the WRITTEN files against only the
    * constraints that are new-or-changed since plan time (one scan of
    * just the new files — O(write), never O(table)) and abort loudly on
    * a violation. Dropped constraints need nothing. Validation reads
    * under the FRESH schema, so a constraint on a concurrently-added
    * column sees the column's read-time value (DEFAULT or null → UNKNOWN
    * passes, SQL semantics). */
  private[tables] def revalidateNewChecks(spark: SparkSession, fresh: Manifest,
                                          planChecks: Seq[(String, String)],
                                          entries: Seq[GeoManifest.FileEntry],
                                          what: String): Unit = {
    if (fresh.checks.isEmpty || entries.isEmpty) return
    val planned = planChecks.map { case (n, sql) => (n.toLowerCase, sql) }.toSet
    val added = fresh.checks.filterNot { case (n, sql) => planned((n.toLowerCase, sql)) }
    if (added.nonEmpty)
      validateChecksOnEntries(spark, fresh.copy(checks = added), entries, what)
  }

  /** DROP CONSTRAINT name (loud when absent). */
  def dropCheckConstraint(spark: SparkSession, root: String, name: String): Unit = {
    val m = GeoManifest.read(spark, root)
    require(m.checks.exists(_._1.equalsIgnoreCase(name)),
      s"no constraint '$name' on $root " +
        s"(constraints: ${m.checks.map(_._1).sorted.mkString(", ")})")
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      checks = m.checks.filterNot(_._1.equalsIgnoreCase(name))),
      m.version, op = "drop-constraint")
  }

  /**
   * Iceberg `rewrite_position_delete_files` analog: consolidate the live
   * position-delete sidecars into ONE file, dropping dangling entries
   * (rows whose target data file is no longer live — a later rewrite
   * already retired it). DATA FILES ARE NOT REWRITTEN — this is the
   * cheap maintenance verb for MoR-heavy tables between folds: reads go
   * back to opening one sidecar instead of one per DML commit.
   * Equality-delete sidecars are untouched (they are O(keys) by
   * construction and scoped by data sequence number — consolidating
   * them would need re-scoping; [[foldSidecars]] is their maintenance
   * verb, exactly as Iceberg's verb also only rewrites position
   * deletes). Returns the number of sidecar files retired; 0 = already
   * consolidated and nothing dangles.
   */
  def rewritePositionDeletes(spark: SparkSession, root: String): Long = {
    val m = GeoManifest.read(spark, root)
    if (m.deletes.isEmpty) return 0L
    val live = m.files.map(_.key).toSet
    val sidecars = spark.read.parquet(m.deletes.map(_.path): _*)
    // bounded driver set: the distinct data files referenced by any
    // delete row — the same planning envelope foldSidecars pays
    val refd = sidecars.select("file_path").distinct().collect().map(_.getString(0))
    val keep = refd.filter(p => live.contains(GeoManifest.norm(p))).toSeq
    if (m.deletes.length == 1 && keep.length == refd.length) return 0L
    import spark.implicits._
    val keepDf = keep.toDF("file_path")
    // duplicates across sidecars are idempotent position deletes —
    // distinct() preserves semantics and shrinks the consolidated file
    val consolidated = sidecars
      .join(broadcast(keepDf), Seq("file_path"), "left_semi")
      .select("file_path", "pos").distinct()
    val dir = s"$root/data/d${java.util.UUID.randomUUID().toString.take(12)}"
    consolidated.coalesce(1).write.parquet(dir)
    val entries = GeoManifest.listParquet(spark, dir).map { p =>
      GeoManifest.DeleteEntry(p, footerRowCount(spark, p))
    }.filter(_.rows > 0)
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      deletes = entries), m.version, op = "rewrite_deletes")
    m.deletes.length.toLong
  }

  /** Exact row count of one just-written parquet file from its FOOTER
    * metadata (driver-side, no Spark job, no data pages read) — the
    * sidecar writers record counts through this instead of a read-back
    * scan, matching the writer-inline stats discipline everywhere else. */
  private def footerRowCount(spark: SparkSession, path: String): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path),
        spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }

  /** Post-DML bound check: fold sidecars once the live total crosses the
    * ceiling. Commits a maintenance version of its own when it fires. */
  private def maybeFoldSidecars(spark: SparkSession, root: String): Unit = {
    val m = GeoManifest.read(spark, root)
    if (liveDeleteRows(m) > maxLiveDeleteRows(spark)) foldSidecars(spark, root)
  }

  /** SQL-semantics UPDATE: rows matching `cond` get each `sets` column
    * replaced (RHS evaluated against the OLD row); all other rows and all
    * untouched files are carried over unchanged. Returns affected rows.
    *
    * `mode`: "cow" always rewrites affected files; "mor" writes a
    * position-delete sidecar for the old rows plus fresh files holding
    * the updated rows (Iceberg v2 merge-on-read UPDATE); "auto" (default)
    * picks MoR when matches are a small fraction ([[MorMaxRatio]]) of
    * the affected files' rows — the regime where CoW write amplification
    * hurts most at scale. */
  def update(spark: SparkSession, root: String,
             sets: Seq[(String, Column)], cond: Column,
             mode: String = "auto"): Long = {
    require(Set("auto", "cow", "mor").contains(mode), s"unknown DML mode '$mode'")
    val m = GeoManifest.read(spark, root)
    sets.foreach { case (c, _) => require(m.schema.fieldNames.contains(c),
      s"UPDATE SET column '$c' not in table schema ${m.schema.fieldNames.mkString(", ")}") }
    val setMap = sets.toMap
    def cow(): Long = rewrite(spark, root, m, cond, keepNonMatching = true) { (df, hit) =>
      df.select(m.schema.fields.toSeq.map { f =>
        val out = setMap.get(f.name) match {
          case Some(v) => when(hit, v.cast(f.dataType)).otherwise(col(f.name))
          case None => col(f.name)
        }
        out.as(f.name, f.metadata) // explicit metadata: GEOMETRY tags survive computed columns
      }: _*)
    }
    if (mode == "cow") return cow()
    morProbe(spark, root, m, cond, mode) match {
      case None => cow()
      case Some((matched, sidecar)) =>
        // updated rows append as fresh files; old positions die via sidecar
        val newRows = matched.select(m.schema.fields.toSeq.map { f =>
          setMap.get(f.name).map(_.cast(f.dataType)).getOrElse(col(f.name))
            .as(f.name, f.metadata)
        }: _*)
        val appended = writeCommit(spark, root, newRows, m.schema, m.geomCol, m.partitions,
          cluster = true, checks = m.checks,
      layoutMode = GeoPartition.layoutMode(m.props))
        GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
          files = m.files ++ appended, deletes = m.deletes ++ sidecar), m.version, op = "update")
        maybeFoldSidecars(spark, root)
        sidecar.map(_.rows).sum
    }
  }

  /** SQL-semantics DELETE: rows where `cond` is true are removed. A
    * predicate every file is wholly inside/outside of (by manifest
    * transform ranges — the partition-aligned retention shape) commits a
    * pure file-list drop with ZERO data I/O; otherwise files where EVERY
    * row matches are dropped as metadata after one scan (no rewrite).
    * `mode` as in [[update]]: "mor"/small-ratio "auto" writes a
    * position-delete sidecar instead of rewriting files. */
  def delete(spark: SparkSession, root: String, cond: Column,
             mode: String = "auto"): Long = {
    require(Set("auto", "cow", "mor").contains(mode), s"unknown DML mode '$mode'")
    val m = GeoManifest.read(spark, root)
    // stats-only fast path (any mode — strictly less work than all of
    // them): decidable only when no file straddles the predicate. The
    // Column must ANALYZE against the table schema first (Spark 4 column
    // nodes are lazy unresolved trees, same dance as queryEnvelope).
    resolvedCondition(spark, m.schema, cond)
      .flatMap(e => GeoPartition.metadataDeleteSet(m.files, m.specSet, m.schema, Seq(e)))
      match {
        case Some(drop) => return dropFiles(spark, root, m, drop)
        case None => ()
      }
    def cow(): Long = rewrite(spark, root, m, cond, keepNonMatching = false) {
      (df, hit) => df.where(!coalesce(hit, lit(false)))
    }
    if (mode == "cow") return cow()
    morProbe(spark, root, m, cond, mode) match {
      case None => cow()
      case Some((_, sidecar)) =>
        GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
          deletes = m.deletes ++ sidecar), m.version, op = "delete")
        maybeFoldSidecars(spark, root)
        sidecar.map(_.rows).sum
    }
  }

  /** Metadata-only DELETE commit: drop whole files from the manifest —
    * no scan, no rewrite, no fresh sidecar (the Iceberg metadata-delete
    * shape). An empty drop set means the predicate provably matches
    * nothing: no commit at all. Position sidecars whose referenced files
    * ALL dropped are GC'd in the same commit (their rows are dead weight
    * that would otherwise count against the maxLiveDeleteRows fold
    * ceiling forever), and rows already position-deleted inside dropped
    * files are subtracted from the returned count. Note the FILE-granular
    * changelog still replays a dropped file's raw rows as deletes — its
    * documented contract for every file removal (rewrites emit
    * delete+insert pairs); row-exact CDC is netChanges, which reads
    * removed files through the prior snapshot's sidecar merge. Sidecar
    * loads here are the driver-side memoized reads every scan already
    * pays, bounded by the live-delete ceiling — still zero DATA file
    * I/O. */
  private[tables] def dropFiles(spark: SparkSession, root: String,
                                m: Manifest, drop: Seq[FileEntry]): Long = {
    if (drop.isEmpty) return 0L
    val dropKeys = drop.map(_.key).toSet
    val surviving = m.files.filterNot(f => dropKeys.contains(f.key))
    val survivorKeys = surviving.map(_.key).toSet
    var deadRows = 0L
    val keptDeletes =
      if (m.deletes.isEmpty) m.deletes
      else m.deletes.filter { e =>
        val byFile = GeoSidecarCache.positions(spark, Seq(e))
        deadRows += byFile.iterator
          .filter { case (k, _) => dropKeys.contains(k) }.map(_._2.length.toLong).sum
        // keep only sidecars still referencing a live file; a sidecar
        // whose targets are all gone can never subtract anything again
        byFile.keysIterator.exists(survivorKeys.contains)
      }
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      files = surviving, deletes = keptDeletes), m.version,
      op = "delete")
    drop.map(_.rows).sum - deadRows
  }

  /**
   * Equality DELETE (Iceberg v2 equality-delete analog): remove every row
   * whose `keyCols` tuple appears in `keys`, WITHOUT scanning or
   * rewriting any data file — the commit writes one key sidecar and costs
   * O(keys), which is what a keyed streaming deleter needs at 100 TB
   * (a position delete would first have to scan for ordinals). The
   * delete binds to the files present BEFORE this commit via data
   * sequence numbers: files appended later (including in the same commit
   * by [[upsertByKey]]) are exempt. Key tuples containing null are
   * dropped — equality never matches null. Returns the number of
   * distinct key tuples filed.
   */
  def deleteByKey(spark: SparkSession, root: String,
                  keyCols: Seq[String], keys: DataFrame,
                  propsDelta: Map[String, String] = Map.empty,
                  keysPinned: Boolean = false): Long = {
    validateProps(propsDelta.keys, propsDelta.values, allowStats = true)
    val m = GeoManifest.read(spark, root)
    // keysPinned: the caller already localCheckpoint'd `keys` (e.g. a
    // text-index removal that also prices the removed docs from the same
    // pinned batch) — the sidecar writer then skips its own re-pin
    writeEqSidecar(spark, root, m, keyCols, keys, pinned = keysPinned) match {
      case None =>
        // no keys filed — but a caller-supplied props delta that actually
        // CHANGES something still deserves its commit (the caller derived
        // it from this delete's intent; dropping it silently would strand
        // their bookkeeping). Value-identical deltas stay zero-commit.
        if (propsDelta.nonEmpty && (m.props ++ propsDelta) != m.props)
          GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
            props = m.props ++ propsDelta), m.version, op = "set-properties")
        0L
      case Some((entry, n)) =>
        GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
          eqDeletes = m.eqDeletes :+ entry,
          props = m.props ++ propsDelta), m.version, op = "delete")
        maybeFoldSidecars(spark, root)
        n
    }
  }

  /**
   * Keyed UPSERT in one atomic commit: an equality delete on the rows'
   * key tuples plus an append of the rows — the shape a streaming upsert
   * writer produces. The fresh files carry this commit's data sequence
   * number, so the delete leg cannot touch them; pre-existing rows with
   * the same keys stop being visible. Costs O(rows): no target scan.
   * Returns the number of rows appended.
   */
  def upsertByKey(spark: SparkSession, root: String,
                  keyCols: Seq[String], rows: DataFrame): Long =
    upsertByKey(spark, root, keyCols, rows, streamCommit = None)

  /** Upsert with a streaming watermark: `streamCommit = Some((sinkId,
    * batchId))` rides the SAME atomic manifest commit as the delete leg
    * and the appended files — the exactly-once mechanism streaming CDC
    * ingest needs (see [[append]]'s streamCommit for the contract).
    * `propsDelta` rides the same commit too (see [[append]]). */
  def upsertByKey(spark: SparkSession, root: String,
                  keyCols: Seq[String], rows: DataFrame,
                  streamCommit: Option[(String, Long)],
                  propsDelta: Map[String, String] = Map.empty): Long = {
    validateProps(propsDelta.keys, propsDelta.values, allowStats = true)
    val m = GeoManifest.read(spark, root)
    val aligned = GeoPartition.layout(conform(rows, m.schema), m.partitions, m.schema,
        GeoPartition.layoutMode(m.props))
      .localCheckpoint() // pin: the delete keys and the appended rows must agree
    val eq = writeEqSidecar(spark, root, m, keyCols,
      aligned.select(keyCols.map(col): _*), pinned = true)
    val files = writeCommit(spark, root, aligned, m.schema, m.geomCol, m.partitions, checks = m.checks)
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      files = m.files ++ files,
      eqDeletes = m.eqDeletes ++ eq.map(_._1),
      streamCommits = m.streamCommits ++ streamCommit,
      props = m.props ++ propsDelta), m.version, op = "upsert")
    maybeFoldSidecars(spark, root)
    files.map(_.rows).sum
  }

  /**
   * CDC micro-batch by key, ONE atomic commit (the change-data-capture
   * ingest shape): rows where `deleteFlag` is true contribute only their
   * key tuple (equality delete); the rest replace-by-key — delete leg
   * and append ride the same commit, so readers see each batch applied
   * whole or not at all. `rows` carries the table's columns BY NAME plus
   * whatever the flag expression needs. Costs O(batch): no target scan.
   *
   * A key appearing MORE THAN ONCE in a batch needs `sequenceCol`: only
   * the highest-sequence change per key applies (the Debezium/CDF
   * apply-changes contract — an insert+update+delete burst nets to the
   * delete). Without it the batch must carry at most one change per key,
   * or the duplicate upserts all land. Returns (rows upserted, distinct
   * key tuples filed).
   */
  def cdcByKey(spark: SparkSession, root: String,
               keyCols: Seq[String], rows: DataFrame, deleteFlag: Column,
               streamCommit: Option[(String, Long)] = None,
               sequenceCol: Option[Column] = None): (Long, Long) = {
    val m = GeoManifest.read(spark, root)
    // pin once: the flag split, the key union and the appended rows must
    // all see the same batch. With a sequence column the netting window's
    // own EAGER checkpoint below is that pin — its input is consumed
    // exactly once to materialize it, so pinning the raw batch too would
    // just pay a second materialization job per micro-batch.
    val flagged0 = if (sequenceCol.isEmpty) rows.localCheckpoint() else rows
    val flagged = sequenceCol match {
      case None => flagged0
      case Some(seq) =>
        // last-change-wins per key: one window over the batch (O(batch)
        // shuffle on the keys — the same clustering the write wants).
        // Ties on the sequence (same-millisecond source timestamps)
        // break on the full row's hash: deterministic across runs of the
        // same input, and a tie between IDENTICAL rows is harmless.
        // Hash the JSON rendering, not the columns directly — xxhash64
        // rejects MapType columns outright, and a CDC payload with a
        // map column is perfectly ordinary.
        import org.apache.spark.sql.expressions.Window
        val keyRefs = keyCols.map(c =>
          flagged0(flagged0.columns.find(_.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(s"cdcByKey rows are missing key column '$c'"))))
        val tieBreak = xxhash64(to_json(struct(flagged0.columns.map(flagged0(_)): _*)))
        flagged0.withColumn("__graft_cdc_rn", row_number().over(
            Window.partitionBy(keyRefs: _*).orderBy(seq.desc, tieBreak.asc)))
          .where(col("__graft_cdc_rn") === 1).drop("__graft_cdc_rn")
          .localCheckpoint()
    }
    val isDel = coalesce(deleteFlag, lit(false))
    val byName = m.schema.fields.toSeq.map(f =>
      flagged(flagged.columns.find(_.equalsIgnoreCase(f.name)).getOrElse(
        throw new IllegalArgumentException(
          s"cdcByKey rows are missing table column '${f.name}'"))).as(f.name, f.metadata))
    val ups = GeoPartition.layout(
      conform(flagged.where(!isDel).select(byName: _*), m.schema),
      m.partitions, m.schema, GeoPartition.layoutMode(m.props)).localCheckpoint()
    // the delete leg covers EVERY key in the batch: upserted keys must
    // hide their old rows too (the upsertByKey contract); fresh files
    // carry this commit's sequence number, so their own rows survive
    def tableType(c: String) =
      m.schema(m.schema.fieldNames.find(_.equalsIgnoreCase(c)).get).dataType
    val allKeys = ups.select(keyCols.map(col): _*)
      .unionByName(flagged.where(isDel).select(keyCols.map(c =>
        flagged(flagged.columns.find(_.equalsIgnoreCase(c)).get)
          .cast(tableType(c)).as(c)): _*))
    val eq = writeEqSidecar(spark, root, m, keyCols, allKeys, pinned = true)
    val files = writeCommit(spark, root, ups, m.schema, m.geomCol, m.partitions, checks = m.checks)
    // same streaming empty-batch rule as append: nothing to apply ⇒ no
    // commit, no watermark — the sink needs no separate isEmpty probe
    if (files.isEmpty && eq.isEmpty && streamCommit.isDefined) return (0L, 0L)
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      files = m.files ++ files,
      eqDeletes = m.eqDeletes ++ eq.map(_._1),
      streamCommits = m.streamCommits ++ streamCommit), m.version, op = "upsert")
    maybeFoldSidecars(spark, root)
    (files.map(_.rows).sum, eq.map(_._2).getOrElse(0L))
  }

  /** Write a distinct, non-null key sidecar for an equality delete and
    * return its manifest entry (versioned at the NEXT commit); None when
    * no usable key tuples remain (nothing is written — no orphan sidecar
    * dir for vacuum to chase). A key tuple nulled ONLY by the cast to the
    * table's column type (e.g. a non-numeric string against a BIGINT key)
    * is a malformed key, not a null key: silently dropping it would
    * quietly no-op the delete for those rows, so it fails loudly instead.
    * Genuinely-null input keys still drop — equality never matches null. */
  private def writeEqSidecar(spark: SparkSession, root: String, m: Manifest,
                             keyCols: Seq[String], keys0: DataFrame,
                             pinned: Boolean = false)
      : Option[(GeoManifest.EqDeleteEntry, Long)] = {
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    keyCols.foreach { c =>
      val f = m.schema.fields.find(_.name.equalsIgnoreCase(c))
      require(f.isDefined, s"equality-delete key '$c' is not a table column")
      require(!GeoSchema.isGeometry(f.get),
        s"equality-delete key '$c' is a GEOMETRY column; key on scalar columns")
    }
    val resolved = keyCols.map(c => m.schema.fields.find(_.name.equalsIgnoreCase(c)).get.name)
    // Bind BY NAME whenever the keys frame's columns are exactly the key
    // columns under any order (a reordered same-typed frame would
    // otherwise mis-bind positionally and delete the wrong rows, on the
    // driver AND distributed paths alike); frames with anonymous/derived
    // column names keep the documented positional contract.
    val keys = if (keys0.columns.map(_.toLowerCase).sorted.toSeq ==
        resolved.map(_.toLowerCase).sorted)
      keys0.select(resolved.map(c =>
        keys0(keys0.columns.find(_.equalsIgnoreCase(c)).get)): _*)
    else keys0
    // Driver fast path for LITERAL key sets (the `DELETE WHERE k IN
    // (...)` shape builds a LocalRelation): validate, dedup, range and
    // WRITE the sidecar entirely on the driver — zero Spark jobs, where
    // the distributed path pays three (checkpoint, aggregate, write)
    // plus their scheduler gaps. Semantics are identical: the same Cast,
    // the same any-null-tuple drop, the same per-column stats embedding.
    // Iceberg writes its delete files the same way — directly, not as a
    // Spark job. Capped so a huge keys frame still goes distributed.
    // (binary keys stay distributed: Array[Byte] dedups by reference in
    // plain Scala collections, and the distributed count-distinct is the
    // semantics the entry's row count promises)
    val binaryKey = resolved.exists(c =>
      m.schema(c).dataType == org.apache.spark.sql.types.BinaryType)
    // the distributed path's toDF(resolved) fails loudly on an arity
    // mismatch; the positional binding below must enforce the same
    // contract, never bind the wrong columns as keys
    keys.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if !binaryKey && lr.output.length == resolved.length &&
            lr.data.length <= spark.conf
            .getOption("spark.graft.eqdelete.driverMaxKeys").map(_.toInt).getOrElse(10000) =>
        return writeEqSidecarLocal(spark, root, m, resolved, lr)
      case _ => ()
    }
    // `pinned` = the caller already checkpointed the source (upsert's
    // aligned rows): a second checkpoint would re-materialize the same
    // blocks for nothing — the projection over pinned blocks is
    // deterministic, which is all the pin is for
    val castSel = keys.toDF(resolved: _*).select(resolved.map(c =>
      col(c).cast(m.schema(c).dataType).as(c)) ++
      resolved.map(c => col(c).as("__raw_" + c)): _*)
    val withCast = if (pinned) castSel else castSel.localCheckpoint()
    val badCast = resolved.map(c => col("__raw_" + c).isNotNull && col(c).isNull)
      .reduce(_ || _)
    // ONE aggregate pass over the pinned keys computes everything the
    // commit needs: the malformed-cast count, the distinct usable tuple
    // count (multi-arg count(DISTINCT ...) skips any-null tuples, the
    // same rule as the na.drop below), and EVERY key column's min/max in
    // its long embedding (when it has one) — the full-tuple range that
    // lets reads/folds skip every file where ANY column's recorded range
    // cannot intersect (Manifest.eqApplies); one disjoint column is
    // enough, which is what composite-key CDC needs. The sidecar write
    // below recomputes the distinct from the CHECKPOINTED frame, so the
    // counted and written tuple sets agree by construction.
    val rangeCols: Seq[Option[Column]] = resolved.map { rc =>
      if (GeoPartition.supports("stats", m.schema(rc).dataType))
        Some(GeoPartition.transformCol(
          GeoPartition.PTransform("stats", 0, rc), m.schema))
      else None
    }
    val aggs = Seq(count(when(badCast, 1)).as("bad"),
      countDistinct(resolved.head, resolved.tail: _*).as("n")) ++
      rangeCols.zipWithIndex.flatMap { case (tc, i) =>
        tc.toSeq.flatMap(c => Seq(min(c).as(s"kmin$i"), max(c).as(s"kmax$i")))
      }
    val st = withCast.agg(aggs.head, aggs.tail: _*).head()
    val nBad = st.getLong(0)
    require(nBad == 0,
      s"equality delete on ${resolved.mkString(", ")}: $nBad key tuple(s) became null " +
        s"only through the cast to the table column type(s) " +
        s"(${resolved.map(c => m.schema(c).dataType.simpleString).mkString(", ")}) — " +
        "malformed keys, refusing to silently skip them")
    val n = st.getLong(1)
    if (n == 0) return None
    val ranges: Seq[Option[(Long, Long)]] = rangeCols.zipWithIndex.map { case (tc, i) =>
      if (tc.isDefined && !st.isNullAt(st.fieldIndex(s"kmin$i")))
        Some((st.getLong(st.fieldIndex(s"kmin$i")), st.getLong(st.fieldIndex(s"kmax$i"))))
      else None
    }
    // the serialized form keys on the LEADING range being present; tail
    // ranges ride behind it (see the manifest eqdelete line format)
    val (kmin, kmax) = ranges.head match {
      case Some((a, b)) => (Some(a), Some(b))
      case None => (None, None)
    }
    val kranges = if (kmin.isDefined) ranges.tail else Seq.empty[Option[(Long, Long)]]
    val tuples = withCast.select(resolved.map(col): _*).na.drop("any").distinct()
    val dir = s"$root/data/e${java.util.UUID.randomUUID().toString.take(12)}"
    tuples.coalesce(1).write.parquet(dir)
    val path = GeoManifest.listParquet(spark, dir).head
    Some((GeoManifest.EqDeleteEntry(path, n, resolved, m.version + 1, kmin, kmax,
      kranges), n))
  }

  /** [[writeEqSidecar]]'s driver-only variant for literal key sets: the
    * same validate → distinct → per-column range → parquet sidecar, with
    * no Spark job anywhere. Columns of `lr` bind POSITIONALLY to
    * `resolved` (the distributed path's `toDF(resolved)` contract). */
  private def writeEqSidecarLocal(spark: SparkSession, root: String, m: Manifest,
                                  resolved: Seq[String],
                                  lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation)
      : Option[(GeoManifest.EqDeleteEntry, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val casts = resolved.zipWithIndex.map { case (c, i) =>
      val src = lr.output(i).dataType
      val dst = m.schema(c).dataType
      (row: org.apache.spark.sql.catalyst.InternalRow) => {
        val raw = row.get(i, src)
        val casted = if (src == dst) raw
                     else Cast(BoundReference(i, src, nullable = true), dst, tz).eval(row)
        require(raw == null || casted != null,
          s"equality delete on ${resolved.mkString(", ")}: key tuple(s) became null " +
            s"only through the cast to the table column type(s) " +
            s"(${resolved.map(x => m.schema(x).dataType.simpleString).mkString(", ")}) — " +
            "malformed keys, refusing to silently skip them")
        casted
      }
    }
    // distinct usable tuples: any-null tuples drop (equality never
    // matches null), same as the distributed path's count-distinct/na.drop
    val tuples = lr.data.map(r => casts.map(_(r))).filter(_.forall(_ != null)).distinct
    val n = tuples.length.toLong
    if (n == 0) return None
    val ranges: Seq[Option[(Long, Long)]] = resolved.zipWithIndex.map { case (c, i) =>
      val dt = m.schema(c).dataType
      if (!GeoPartition.supports("stats", dt)) None
      else {
        val t = GeoPartition.PTransform("stats", 0, c)
        val vs = tuples.flatMap(tp => GeoPartition.valueOf(t, tp(i), dt))
        if (vs.length == tuples.length) Some((vs.min, vs.max)) else None
      }
    }
    val (kmin, kmax) = ranges.head match {
      case Some((a, b)) => (Some(a), Some(b))
      case None => (None, None)
    }
    val kranges = if (kmin.isDefined) ranges.tail else Seq.empty[Option[(Long, Long)]]
    // driver-direct parquet write (same writer Spark's tasks use)
    val dir = s"$root/data/e${java.util.UUID.randomUUID().toString.take(12)}"
    GeoManifest.fs(spark, root).mkdirs(new org.apache.hadoop.fs.Path(dir))
    val keySchema = StructType(resolved.map(c => m.schema(c).copy(name = c)))
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sparkContext.hadoopConfiguration)
    val owf = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, keySchema)
    val path = s"$dir/part-00000-driver.parquet"
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration,
      new org.apache.hadoop.mapreduce.TaskAttemptID("graft-eq", 0,
        org.apache.hadoop.mapreduce.TaskType.MAP, 0, 0))
    val w = owf.newInstance(path, keySchema, ctx)
    try tuples.foreach { tp =>
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(tp.toArray))
    } finally w.close()
    Some((GeoManifest.EqDeleteEntry(path, n, resolved, m.version + 1, kmin, kmax,
      kranges), n))
  }

  /**
   * MoR admission probe: one merged scan of the bbox-pruned candidate
   * files finds matching rows; their (file, row-ordinal) identities are
   * written as a position-delete sidecar under `data/`. Returns the
   * checkpointed matched rows and the sidecar entries when MoR is chosen
   * (forced, or matches/affected-rows <= [[MorMaxRatio]] in auto mode);
   * None = caller should take the CoW path (the candidate sidecar is
   * removed again). No matches commits nothing and returns a zero-row
   * sidecar for the caller to report 0.
   */
  private def morProbe(spark: SparkSession, root: String, m: Manifest,
                       cond: Column, mode: String)
      : Option[(DataFrame, Seq[GeoManifest.DeleteEntry])] = {
    if (m.files.isEmpty) return Some((readMerged(spark, m, Seq.empty), Seq.empty))
    val candidates = m.geomCol.flatMap(g => queryEnvelope(spark, m, cond, g)) match {
      case Some(env) => m.prune(env)
      case None => m.files
    }
    if (candidates.isEmpty) return Some((readMerged(spark, m, Seq.empty), Seq.empty))
    // one scan: matched rows with their file/ordinal identity, pinned so
    // the sidecar and (for UPDATE) the appended rows see the same set
    // even under a nondeterministic-ish condition
    val matched = readFilesTagged(spark, m, candidates, "t").where(cond).localCheckpoint()
    val perFile = matched.groupBy(col("__graft_file")).agg(count(lit(1)).as("n"))
      .collect().map(r => GeoManifest.norm(r.getString(0)) -> r.getLong(1)).toMap
    val matchedRows = perFile.values.sum
    if (matchedRows == 0) return Some((matched.drop("__graft_file", "__graft_row"), Seq.empty))
    val affectedRows = candidates.filter(f => perFile.contains(f.key)).map(_.rows).sum
    if (mode == "auto" && matchedRows > affectedRows * MorMaxRatio) return None
    val dir = s"$root/data/d${java.util.UUID.randomUUID().toString.take(12)}"
    matched.select(col("__graft_file").as("file_path"), col("__graft_row").as("pos"))
      .coalesce(1).write.parquet(dir)
    val entries = GeoManifest.listParquet(spark, dir).map { p =>
      GeoManifest.DeleteEntry(p, footerRowCount(spark, p))
    }
    Some((matched.drop("__graft_file", "__graft_row"), entries))
  }

  // -------------------------------------------------------------------------
  // MERGE INTO (the Iceberg/Delta upsert verb; reference tables are Iceberg,
  // whose flagship DML is MERGE — same first-match-wins clause semantics)
  // -------------------------------------------------------------------------

  sealed trait MergeAction { def cond: Option[Column] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET c = e, ... (RHS may reference
    * both target and source aliases). */
  final case class MergeUpdate(cond: Option[Column], sets: Seq[(String, Column)]) extends MergeAction
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class MergeDelete(cond: Option[Column]) extends MergeAction
  /** WHEN NOT MATCHED [AND cond] THEN INSERT ...; `values = None` means
    * INSERT * (source columns matched to target columns by name). */
  final case class MergeInsert(cond: Option[Column], values: Option[Seq[(String, Column)]]) extends MergeAction

  /**
   * SQL-semantics MERGE INTO, copy-on-write:
   *
   *  1. One probe scan (target ⋈ broadcast source on `on`) finds the FILES
   *     containing matched rows — plus the per-row match multiplicity; a
   *     target row matching >1 source rows is a cardinality violation
   *     (nondeterministic update), rejected like Delta/Iceberg do.
   *  2. Only affected files are rewritten (left-join against the broadcast
   *     source; first clause in order whose condition holds wins — standard
   *     MERGE clause semantics). Untouched files carry over by reference,
   *     so a point-merge on a Z-ordered table rewrites a handful of files
   *     regardless of table size.
   *  3. NOT MATCHED source rows (anti-join) append as fresh files.
   *
   * Scale: the source is a delta and is broadcast — the target never
   * shuffles; probe + rewrite are map-side joins over (a subset of) target
   * files. Returns matched-and-acted rows + inserted rows.
   */
  def merge(spark: SparkSession, root: String, source: DataFrame, on: Column,
            matched: Seq[MergeAction], notMatched: Seq[MergeInsert],
            targetAlias: String = "t", sourceAlias: String = "s"): Long = {
    require(matched.forall(a => a.isInstanceOf[MergeUpdate] || a.isInstanceOf[MergeDelete]),
      "matched actions must be MergeUpdate or MergeDelete")
    val m = GeoManifest.read(spark, root)
    matched.collect { case MergeUpdate(_, sets) => sets }.flatten.foreach { case (c, _) =>
      require(m.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"MERGE UPDATE SET column '$c' not in table schema ${m.schema.fieldNames.mkString(", ")}")
    }
    val src = source.withColumn("__graft_smatch", lit(true)).alias(sourceAlias)

    // --- 1. probe: affected files + cardinality check (single driver-safe agg)
    val affected: Seq[FileEntry] =
      if (m.files.isEmpty || matched.isEmpty) Seq.empty
      else {
        val probe = readFilesTagged(spark, m, m.files, targetAlias)
          .join(broadcast(src), on, "inner")
          .groupBy(col("__graft_file"), col("__graft_row")).agg(count(lit(1)).as("__n"))
          .groupBy(col("__graft_file")).agg(max("__n").as("__maxn"))
          .collect()
        if (probe.exists(_.getLong(1) > 1))
          throw new IllegalStateException(
            "MERGE cardinality violation: a target row matches more than one source row")
        val hit = probe.map(r => GeoManifest.norm(r.getString(0))).toSet
        m.files.filter(f => hit.contains(f.key))
      }

    // --- 2. rewrite affected files with first-match-wins clause application
    var matchedActed = 0L
    val rewritten: Seq[FileEntry] =
      if (affected.isEmpty) Seq.empty
      else {
        val joined = readFilesTagged(spark, m, affected, targetAlias)
          .join(broadcast(src), on, "left_outer")
        val isMatched = coalesce(col("__graft_smatch"), lit(false))
        val idx = matched.zipWithIndex.foldLeft(when(lit(false), lit(-1))) {
          case (acc, (a, i)) => acc.when(isMatched && a.cond.getOrElse(lit(true)), lit(i))
        }
        val withIdx = joined.withColumn("__graft_action", idx)
        matchedActed += withIdx.where(col("__graft_action").isNotNull).count()
        val delIdx = matched.zipWithIndex.collect { case (_: MergeDelete, i) => i }
        val kept =
          if (delIdx.isEmpty) withIdx
          else withIdx.where(coalesce(!col("__graft_action").isin(delIdx: _*), lit(true)))
        val out = kept.select(m.schema.fields.toSeq.map { f =>
          val base: Column = col(s"$targetAlias.${f.name}")
          val v = matched.zipWithIndex.foldLeft(base) {
            case (acc, (MergeUpdate(_, sets), i)) =>
              sets.find(_._1.equalsIgnoreCase(f.name)) match {
                case Some((_, e)) => when(col("__graft_action") === i, e.cast(f.dataType)).otherwise(acc)
                case None => acc
              }
            case (acc, _) => acc
          }
          v.as(f.name, f.metadata)
        }: _*)
        writeCommit(spark, root, out, m.schema, m.geomCol, m.partitions, cluster = true, checks = m.checks,
      layoutMode = GeoPartition.layoutMode(m.props))
      }

    // --- 3. NOT MATCHED inserts (anti-join; equi `on` keys shuffle, never BNL
    //     unless the ON condition itself is non-equi)
    val inserted: Seq[FileEntry] =
      if (notMatched.isEmpty) Seq.empty
      else {
        val tgtForAnti = readMerged(spark, m, m.files).alias(targetAlias)
        val srcOnly = src.join(tgtForAnti, on, "left_anti")
        val idx = notMatched.zipWithIndex.foldLeft(when(lit(false), lit(-1))) {
          case (acc, (a, i)) => acc.when(a.cond.getOrElse(lit(true)), lit(i))
        }
        val withIdx = srcOnly.withColumn("__graft_action", idx)
          .where(col("__graft_action").isNotNull)
        val rows = withIdx.select(m.schema.fields.toSeq.map { f =>
          val v = notMatched.zipWithIndex.foldLeft(lit(null).cast(f.dataType)) {
            case (acc, (MergeInsert(_, values), i)) =>
              val e = values match {
                case None => col(s"$sourceAlias.${f.name}")
                case Some(vs) => vs.find(_._1.equalsIgnoreCase(f.name)).map(_._2).getOrElse(lit(null))
              }
              when(col("__graft_action") === i, e.cast(f.dataType)).otherwise(acc)
          }
          v.as(f.name, f.metadata)
        }: _*)
        writeCommit(spark, root, rows, m.schema, m.geomCol, m.partitions, cluster = true, checks = m.checks,
      layoutMode = GeoPartition.layoutMode(m.props))
      }

    if (affected.isEmpty && inserted.isEmpty) return 0L
    val untouched = m.files.filterNot(f => affected.exists(_.key == f.key))
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1, files = untouched ++ rewritten ++ inserted), m.version, op = "merge")
    matchedActed + inserted.map(_.rows).sum
  }

  /** Files + stable per-row identity (`_metadata` file path / row index) for
    * MERGE's probe and rewrite joins. */
  private def readFilesTagged(spark: SparkSession, m: Manifest,
                              files: Seq[FileEntry], alias: String): DataFrame = {
    def posMerged(fs: Seq[FileEntry]): DataFrame = {
      val base = readFiles(spark, m.schema, fs)
        .select(col("*"),
          col("_metadata.file_path").as("__graft_file"),
          col("_metadata.row_index").as("__graft_row"))
      deletePairs(spark, m) match {
        case None => base
        case Some(d) => base.join(d, base("__graft_file") === d("file_path") &&
            base("__graft_row") === d("pos"), "left_anti")
      }
    }
    applyEqDeletes(spark, m, files)(posMerged).alias(alias)
  }

  /** Shared COW machinery: find affected files, transform them, commit.
    * `keepNonMatching=false` (DELETE) additionally drops fully-matched files
    * without rewriting them. */
  private def rewrite(spark: SparkSession, root: String, m: Manifest, cond: Column,
                      keepNonMatching: Boolean)
                     (transform: (DataFrame, Column) => DataFrame): Long = {
    if (m.files.isEmpty) return 0L
    // 1. driver-side file pruning from manifest bbox stats
    val candidates = m.geomCol.flatMap(g => queryEnvelope(spark, m, cond, g)) match {
      case Some(env) => m.prune(env)
      case None => m.files
    }
    if (candidates.isEmpty) return 0L
    // 2. one distributed scan: which candidate files hold matching rows?
    //    (the MERGED view — MoR-deleted rows must neither count nor match;
    //    the file tag comes from `_metadata` BELOW the merge anti-join,
    //    where input_file_name() would see two sources)
    val hits = readFilesTagged(spark, m, candidates, "h")
      .where(cond)
      .groupBy("__graft_file").agg(count(lit(1)).as("n"))
      .collect().map(r => GeoManifest.norm(r.getString(0)) -> r.getLong(1)).toMap
    if (hits.isEmpty) return 0L
    val affected = candidates.filter(f => hits.contains(f.key))
    // 3. DELETE fast path: fully-matched files vanish as metadata (only
    //    safe when no sidecar can reduce the file's live count below raw)
    val (dropOnly, toRewrite) =
      if (keepNonMatching) (Seq.empty[FileEntry], affected)
      else if (m.deletes.nonEmpty || m.eqDeletes.nonEmpty) (Seq.empty[FileEntry], affected)
      else affected.partition(f => hits(f.key) == f.rows)
    // 4. rewrite only the files that keep some rows
    val newFiles =
      if (toRewrite.isEmpty) Seq.empty[FileEntry]
      else writeCommit(spark, root,
        transform(readMerged(spark, m, toRewrite), cond), m.schema, m.geomCol, m.partitions,
        cluster = true, checks = m.checks,
      layoutMode = GeoPartition.layoutMode(m.props))
    val untouched = m.files.filterNot(f => affected.exists(_.key == f.key))
    GeoManifest.commit(spark, root,
      m.copy(version = m.version + 1, files = untouched ++ newFiles), m.version,
      op = if (keepNonMatching) "update" else "delete")
    hits.values.sum
  }

  // -------------------------------------------------------------------------
  // Internals
  // -------------------------------------------------------------------------

  private def readFiles(spark: SparkSession, schema: StructType, files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else
      spark.read.schema(schema).parquet(files.map(_.path): _*)

  /** The manifest's position-delete sidecars as (file_path, pos) rows, or
    * None when the snapshot has no merge-on-read deletes. */
  private[tables] def deletePairs(spark: SparkSession, m: Manifest): Option[DataFrame] =
    if (m.deletes.isEmpty) None
    else Some(spark.read.parquet(m.deletes.map(_.path): _*)
      .select(col("file_path"), col("pos")))

  /** Anti-join `df` against one equality-delete sidecar on its key
    * columns. Null keys never match equality (rows with a null key column
    * are never equality-deleted), so plain `===` is the exact semantic. */
  private[tables] def joinEq(spark: SparkSession, df: DataFrame,
                             e: GeoManifest.EqDeleteEntry, joinType: String): DataFrame = {
    val keys = broadcast(spark.read.parquet(e.path)
      .toDF(e.cols.map("__gk_" + _): _*))
    df.join(keys, e.cols.map(c => df(c) === keys("__gk_" + c)).reduce(_ && _), joinType)
  }

  /** One anti-join for SEVERAL sidecars sharing a key-column list: within
    * a cohort every applicable delete hits every file, so subtracting the
    * UNION of their key sets is exact — and one broadcast replaces N
    * (each broadcast is its own driver job; a CDC table accumulates many
    * small same-key sidecars between folds). */
  private def antiJoinEqMany(spark: SparkSession, df: DataFrame, cols: Seq[String],
                             es: Seq[GeoManifest.EqDeleteEntry]): DataFrame = {
    val keys = broadcast(spark.read.parquet(es.map(_.path): _*)
      .toDF(cols.map("__gk_" + _): _*))
    df.join(keys, cols.map(c => df(c) === keys("__gk_" + c)).reduce(_ && _), "left_anti")
  }

  /** Apply the manifest's equality deletes to rows read from `files`.
    * An equality delete hits only files with a SMALLER data sequence
    * number, so files group into cohorts by their applicable delete set
    * (monotone in `addedAt` — at most #distinct-delete-versions + 1
    * cohorts); each cohort anti-joins its deletes, unions recombine.
    * `readCohort` supplies the position-merged base rows per cohort. */
  private[tables] def applyEqDeletes(spark: SparkSession, m: Manifest, files: Seq[FileEntry])
                                    (readCohort: Seq[FileEntry] => DataFrame): DataFrame = {
    if (m.eqDeletes.isEmpty || files.isEmpty) return readCohort(files)
    // cohorts by range-aware applicable set: key-range pruning exempts
    // whole files from a delete's anti-join (and often leaves the empty
    // cohort, which reads with no eq work at all)
    files.groupBy(f => m.eqDeletes.filter(m.eqApplies(_, f)).map(_.key).toSet)
      .map { case (keys, fs) =>
        val applicable = m.eqDeletes.filter(e => keys.contains(e.key))
        applicable.groupBy(_.cols).toSeq.sortBy(_._1.mkString(","))
          .foldLeft(readCohort(fs)) { case (df, (cols, es)) =>
            antiJoinEqMany(spark, df, cols, es)
          }
      }.reduce(_ unionByName _)
  }

  /** Snapshot rows with merge-on-read deletes applied: an anti-join of
    * the data files against the position-delete sidecars on (file,
    * row-ordinal), then against any equality-delete sidecars on their key
    * columns. Delete sides are commit-bounded and small by the MoR
    * admission rule, so Spark broadcasts them — the scan never shuffles. */
  private[tables] def readMerged(spark: SparkSession, m: Manifest,
                                 files: Seq[FileEntry]): DataFrame = {
    def posMerged(fs: Seq[FileEntry]): DataFrame = deletePairs(spark, m) match {
      case None => readFiles(spark, m.schema, fs)
      case Some(d) =>
        val base = readFiles(spark, m.schema, fs).select(col("*"),
          col("_metadata.file_path").as("__graft_mf"),
          col("_metadata.row_index").as("__graft_mp"))
        base.join(d, base("__graft_mf") === d("file_path") &&
            base("__graft_mp") === d("pos"), "left_anti")
          .drop("__graft_mf", "__graft_mp")
    }
    if (m.eqDeletes.isEmpty) posMerged(files)
    else if (files.isEmpty) readFiles(spark, m.schema, files)
    else applyEqDeletes(spark, m, files)(posMerged)
  }

  /** Write `df` as a fresh immutable commit dir and stat the new files.
    * `cluster` = run the transform-space layout here (DML rewrite paths,
    * whose input arrives in scan order): clustered rows reach the rolling
    * writer sorted, so rewritten files stay single-valued per layout
    * tuple and DML preserves the storage-partitioned-join precondition.
    * Batch ingest paths pre-layout and leave it false. */
  private def writeCommit(spark: SparkSession, root: String, df0: DataFrame,
                          schema: StructType, geomCol: Option[String],
                          partitions: Seq[GeoPartition.PTransform] = Seq.empty,
                          cluster: Boolean = false,
                          checks: Seq[(String, String)] = Seq.empty,
                          layoutMode: String = "range"): Seq[FileEntry] = {
    val df = if (cluster && partitions.exists(_.clusters))
      GeoPartition.layout(df0, partitions, schema, layoutMode) else df0
    // write through the same stats-collecting writer as the DSv2 paths
    // (GeoCowDataWriterFactory): per-file rows/bbox/transform ranges
    // accumulate INLINE as rows stream out, so the commit needs no
    // read-back scan of the fresh files. Task failures abort their own
    // file; a lost speculative attempt's file is never referenced by the
    // collected messages and falls to vacuum — the DSv2 contract.
    import org.apache.hadoop.mapreduce.Job
    import org.apache.spark.util.SerializableConfiguration
    val dir = s"$root/data/c${java.util.UUID.randomUUID().toString.take(12)}"
    val (se, hasBbox) = GeoManifest.boundStatsExprs(spark, schema, geomCol, partitions)
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val owf = graft.sources.GeoParquetMeta.prepareWrite(spark, job, schema, geomCol)
    GeoManifest.fs(spark, root).mkdirs(new org.apache.hadoop.fs.Path(dir))
    val incoming = df.schema
    val dataIdx = schema.fields.map(f => incoming.fieldIndex(f.name))
    // layout()-clustered input arrives sorted by the layout transforms:
    // the writer rolls files at tuple boundaries (single-valued files,
    // the storage-partitioned-join precondition)
    // CHECK constraints come from the caller's manifest (empty for a
    // first write): every path verb funnels here, enforcement is uniform
    val boundChecks = GeoManifest.boundCheckExprs(spark, schema, checks)
    val factory = GeoCowDataWriterFactory(owf,
      new SerializableConfiguration(job.getConfiguration),
      dir, schema, incoming, dataIdx, statsExprs = se, statsHasBbox = hasBbox,
      rollIdx = partitions.zipWithIndex.filter(_._1.layout).map(_._2).toArray,
      rollMinRows = GeoRowLevel.rollMinRows(spark), checks = boundChecks)
    // Driver fast path for LITERAL row sets (index metadata tables — a
    // k-row centroid table, m*k codebooks — and other tiny local
    // frames): run the SAME stats-collecting writer inline on the
    // driver — identical file format, stats, manifest entries — instead
    // of paying a Spark job for a handful of rows. Mirrors
    // writeEqSidecarLocal's contract (Iceberg writes metadata-sized
    // files driver-side the same way); capped so anything big stays
    // distributed. Layout-clustered writes arrive as a repartition plan,
    // never a LocalRelation, so they always take the distributed path.
    // cap from conf (mirrors the eq-delete sidecar fast path's
    // spark.graft.eqdelete.driverMaxKeys): operators can tune a wide
    // local frame's cutoff or disable the driver write with 0
    val driverMaxRows = spark.conf
      .getOption("spark.graft.write.driverMaxRows").map(_.toLong).getOrElse(10000L)
    val localRows = df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.data.length <= driverMaxRows => Some(lr.data)
      case _ => None
    }
    val msgs = GeoCowCommitMessage.flatten(localRows match {
      case Some(rows) =>
        val w = factory.createWriter(0, 0L)
        try { rows.foreach(w.write); Seq(w.commit()) }
        catch { case t: Throwable => w.abort(); throw t }
      case None =>
        df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
          val w = factory.createWriter(pid, org.apache.spark.TaskContext.get().taskAttemptId())
          try {
            while (it.hasNext) w.write(it.next())
            Iterator.single(w.commit())
          } catch { case t: Throwable => w.abort(); throw t }
        }.collect().toSeq
    })
    // empty shuffle partitions (common under pinned-count partition
    // layout) write zero-row files: drop them from disk AND the manifest
    val empty = msgs.filter(_.rows == 0)
    if (empty.nonEmpty) {
      val fs = GeoManifest.fs(spark, root)
      empty.foreach(e => try fs.delete(new org.apache.hadoop.fs.Path(e.path), false)
        catch { case scala.util.control.NonFatal(_) => () })
    }
    // an all-empty write produced nothing any manifest will ever
    // reference — remove the commit dir too, so an idle stream's
    // empty micro-batches (whose commit the caller then skips) stop
    // leaving one junk directory per trigger for vacuum to sweep
    if (msgs.forall(_.rows == 0))
      try GeoManifest.fs(spark, root)
        .delete(new org.apache.hadoop.fs.Path(dir), true): Unit
      catch { case scala.util.control.NonFatal(_) => () }
    GeoManifest.entriesFromMessages(spark, schema, msgs, geomCol, partitions)
  }

  /** Align column order/types (+ GEOMETRY metadata) to the table schema. */
  private def conform(df: DataFrame, schema: StructType): DataFrame = {
    require(df.columns.length == schema.fields.length,
      s"INSERT has ${df.columns.length} columns; table expects ${schema.fields.length}")
    // positional rename first: source column names may contain dots/parens
    // (e.g. an unaliased `st_point(20.0, 30.0)` from INSERT ... SELECT)
    df.toDF(schema.fieldNames.toSeq: _*).select(schema.fields.toSeq.map { f =>
      col(f.name).cast(f.dataType).as(f.name, f.metadata)
    }: _*)
  }

  /** Resolve `cond` against the table's schema, then extract the implied
    * bbox for `geomCol` (SpatialFilters) for driver-side file pruning. */
  private def queryEnvelope(spark: SparkSession, m: Manifest, cond: Column,
                            geomCol: String): Option[Envelope] = {
    val probe = spark.createDataFrame(java.util.Collections.emptyList[Row](), m.schema)
    try probe.where(cond).queryExecution.analyzed match {
      case f: LFilter => graft.plans.SpatialFilters.queryEnvelope(f.condition, geomCol)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** A DML `Column` condition resolved against the table schema as a
    * catalyst expression (driver-only analysis, no jobs) — what the
    * stats-only evaluators parse. */
  private def resolvedCondition(spark: SparkSession, schema: StructType, cond: Column)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val probe = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    try probe.where(cond).queryExecution.analyzed match {
      case f: LFilter => Some(f.condition)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
