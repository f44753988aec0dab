package graft.tables

import graft.tables.GeoManifest.{FileEntry, Manifest}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * Incremental reads of GeoTables: version-range changelogs and a
 * micro-batch streaming source — the consumption side of the snapshot
 * history the manifest already keeps (capability match for Iceberg's
 * incremental scan / changelog over the reference's `USING ICEBERG`
 * tables — reference: extension/src/test/scala/org/apache/iceberg/
 * TestSedonaIcebergExtension.scala:53).
 *
 * Everything is FILE-granular manifest diffing: a version step's change
 * set is (files added, files removed) between consecutive manifests —
 * no data is scanned to discover changes, and reading a changelog
 * touches ONLY the changed files, never the table. At 100 TB a
 * changelog between adjacent versions costs exactly the new data.
 *
 *  - [[GeoChangelog.changes]]: every row of every added file tagged
 *    `insert`, every row of every removed file tagged `delete`, with the
 *    commit version that did it (Iceberg changelog-scan semantics; a CoW
 *    rewrite shows its surviving rows as delete+insert pairs). Removed
 *    files replay their RAW rows — including rows an earlier sidecar
 *    commit already deleted (whose delete events that commit emitted):
 *    that is the file-granular contract; consumers needing row-exact
 *    one-event-per-row CDC use [[netChanges]], which reads removed files
 *    through the prior snapshot's sidecar merge.
 *  - [[GeoChangelog.netChanges]]: the row-level diff between two
 *    snapshots, computed from changed files only — common files cancel
 *    at file level (free), rewrite survivors cancel via `exceptAll` (a
 *    shuffle over changed rows only). This is the CDC shape users feed
 *    downstream (Iceberg's create_changelog_view with computed updates).
 *  - [[GeoChangesTable]]: the same file-granular changelog as a SQL
 *    surface — `SELECT * FROM geo.db.t.changes` (bounds via
 *    `spark.read.option("from-version", ...)`).
 *  - [[GeoMicroBatchStream]]: `spark.readStream.table("geo.db.t")` —
 *    offsets ARE manifest versions, each micro-batch reads the files
 *    appended in `(start, end]`. Replay is deterministic (manifests are
 *    immutable), which is what makes checkpoint recovery exactly-once.
 */
object GeoChangelog {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** File-level diff of one commit: version v's manifest vs v-1's.
    * `addedDeletes` are position-delete sidecars the commit introduced
    * (merge-on-read DML) — a non-append commit, like `removed`;
    * `addedEqDeletes` are equality-delete sidecars (keyed deletes), also
    * non-append. `prevManifest` is the base snapshot — the state the
    * commit's deletes subtract from. */
  final case class VersionStep(version: Int, commitTs: Long,
                               added: Seq[FileEntry], removed: Seq[FileEntry],
                               addedDeletes: Seq[GeoManifest.DeleteEntry] = Seq.empty,
                               addedEqDeletes: Seq[GeoManifest.EqDeleteEntry] = Seq.empty,
                               prevManifest: Option[Manifest] = None) {
    def isOverwrite: Boolean =
      removed.nonEmpty || addedDeletes.nonEmpty || addedEqDeletes.nonEmpty
  }

  /** Default [[ReadLimit]] from the stream's read options —
    * `max-files-per-micro-batch` / `max-rows-per-micro-batch` (the
    * Iceberg option-name contract). Absent = all available. */
  private[tables] def optionReadLimit(options: CaseInsensitiveStringMap): ReadLimit = {
    val f = Option(options.get("max-files-per-micro-batch")).map(_.toInt)
    val r = Option(options.get("max-rows-per-micro-batch")).map(_.toLong)
    f.foreach(v => require(v > 0, s"max-files-per-micro-batch must be > 0, got $v"))
    r.foreach(v => require(v > 0, s"max-rows-per-micro-batch must be > 0, got $v"))
    (f, r) match {
      case (Some(a), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(a), ReadLimit.maxRows(b)))
      case (Some(a), None) => ReadLimit.maxFiles(a)
      case (None, Some(b)) => ReadLimit.maxRows(b)
      case _ => ReadLimit.allAvailable()
    }
  }

  /** File/row caps from a Spark [[ReadLimit]]; (None, None) = unbounded.
    * minRows/maxBytes don't map to whole-version admission and are
    * treated as unbounded (Spark composes them with the bounded kinds). */
  private def readCaps(limit: ReadLimit): (Option[Int], Option[Long]) = limit match {
    case f: ReadMaxFiles => (Some(f.maxFiles), None)
    case r: ReadMaxRows => (None, Some(r.maxRows))
    case c: CompositeReadLimit =>
      val parts = c.getReadLimits.toSeq.map(readCaps)
      (parts.flatMap(_._1).minOption, parts.flatMap(_._2).minOption)
    case _ => (None, None)
  }

  /** Ancestor chain of `vTo` down to (exclusive) `vFrom`, NEWEST first,
    * following the in-manifest parent lineage. `parentMemo` caches parent
    * pointers across calls — committed lineage is immutable, so a
    * tailing stream's admission walk pays one header read per NEW
    * version EVER, not per trigger (single-caller maps; not
    * thread-safe). */
  private def ancestorChain(spark: SparkSession, root: String, vFrom: Int, vTo: Int,
      parentMemo: scala.collection.mutable.Map[Int, Int] = null): Seq[Int] = {
    val chain = Seq.newBuilder[Int]
    var w = vTo
    while (w > vFrom) {
      chain += w
      val p =
        if (parentMemo == null) GeoManifest.parentOf(spark, root, w)
        else parentMemo.getOrElseUpdate(w, GeoManifest.parentOf(spark, root, w))
      require(p < w, s"corrupt lineage at $root: m$w.txt claims parent $p")
      w = p
    }
    require(w == vFrom,
      s"changelog range ($vFrom, $vTo] of $root does not follow one lineage: " +
        s"$vFrom is not an ancestor of $vTo (it may be a staged branch snapshot)")
    chain.result()
  }

  /** One commit's diff vs its parent snapshot: (added files, removed
    * files, fresh position sidecars, fresh equality sidecars) — the ONE
    * definition both the changelog replay and streaming admission count
    * against, so they can never disagree. */
  private def stepDiff(prev: Manifest, cur: Manifest,
      withSidecars: Boolean = true): (Seq[FileEntry], Seq[FileEntry],
      Seq[GeoManifest.DeleteEntry], Seq[GeoManifest.EqDeleteEntry]) = {
    val prevKeys = prev.files.map(_.key).toSet
    val curKeys = cur.files.map(_.key).toSet
    val added = cur.files.filterNot(f => prevKeys.contains(f.key))
    val removed = prev.files.filterNot(f => curKeys.contains(f.key))
    // the append stream's admission never reads removed files or
    // sidecars — skip building their key sets on that path
    if (!withSidecars) return (added, removed, Seq.empty, Seq.empty)
    val prevDel = prev.deletes.map(_.key).toSet
    val prevEq = prev.eqDeletes.map(_.key).toSet
    (added, removed,
      cur.deletes.filterNot(d => prevDel.contains(d.key)),
      cur.eqDeletes.filterNot(e => prevEq.contains(e.key)))
  }

  /** Admission control for the streaming sources: advance `from` toward
    * `target` admitting WHOLE versions (offsets are manifest versions)
    * until the read limit is reached — the Iceberg
    * max-files/rows-per-micro-batch contract. A 100 TB table's first
    * micro-batch must not replay the entire backlog in one go: caps turn
    * catch-up into bounded, checkpointed steps.
    *
    * Always admits at least one version when anything is available (the
    * progress guarantee Spark's file source gives when a single file
    * exceeds maxBytes). Manifests are read INCREMENTALLY oldest-first and
    * the walk stops at the cap, so a trigger costs O(admitted versions)
    * manifest reads — the lineage pointer walk itself memoizes through
    * `parentMemo`, so deep backlogs pay each version's header read once
    * across the whole catch-up, not once per trigger. `countRemoved` —
    * the CDC stream replays removed files as delete rows, so they count
    * against the caps; the append-only stream never reads them. */
  private[graft] def admit(spark: SparkSession, root: String, from: Int,
                           target: Int, limit: ReadLimit, countRemoved: Boolean,
                           parentMemo: scala.collection.mutable.Map[Int, Int] = null): Int = {
    if (target <= from) return target
    val (maxF, maxR) = readCaps(limit)
    if (maxF.isEmpty && maxR.isEmpty) return target
    val chain = ancestorChain(spark, root, from, target, parentMemo)
    var prev = GeoManifest.readVersion(spark, root, from)
    var files = 0L
    var rows = 0L
    var end = from
    var stop = false
    chain.reverse.foreach { v =>
      if (!stop) {
        val cur = GeoManifest.readVersion(spark, root, v)
        val (added, removed0, newDel, newEq) = stepDiff(prev, cur, countRemoved)
        // the CDC stream also replays removed files as delete rows and
        // fresh delete sidecars as row-granular delete legs — both count;
        // the append stream reads neither
        val removed = if (countRemoved) removed0 else Seq.empty[FileEntry]
        val sidecars = if (countRemoved) newDel.length + newEq.length else 0
        val sidecarRows =
          if (countRemoved) newDel.map(_.rows).sum + newEq.map(_.rows).sum else 0L
        val f = added.length + removed.length + sidecars
        val r = added.map(_.rows).sum + removed.map(_.rows).sum + sidecarRows
        // admit unless this version would breach a cap AND progress is
        // already guaranteed; versions past the first rejection must NOT
        // be admitted — offsets cover contiguous lineage ranges
        if (end == from || (maxF.forall(files + f <= _) && maxR.forall(rows + r <= _))) {
          files += f; rows += r; end = v; prev = cur
        } else stop = true
      }
    }
    end
  }

  /** Per-commit file diffs for `(vFrom, vTo]`, oldest first. Requires the
    * manifests to still exist (VACUUM removes expired snapshots). The
    * commits replayed are vTo's ANCESTORS down to vFrom (the in-manifest
    * parent lineage), never a consecutive-number scan: branch-staged
    * manifests main slid past and torn orphans from crashed commits live
    * in the same number space but are no snapshot's ancestor — replaying
    * them would emit phantom insert/delete rows of unaudited data. */
  def versionSteps(spark: SparkSession, root: String, vFrom: Int, vTo: Int): Seq[VersionStep] = {
    require(vFrom <= vTo, s"changelog range is reversed: ($vFrom, $vTo]")
    if (vFrom == vTo) return Seq.empty
    val chain = ancestorChain(spark, root, vFrom, vTo)
    var prev = GeoManifest.readVersion(spark, root, vFrom)
    chain.reverse.map { v =>
      val cur = GeoManifest.readVersion(spark, root, v)
      val (added, removed, newDel, newEq) = stepDiff(prev, cur)
      val step = VersionStep(v, cur.commitTs,
        added = added, removed = removed,
        addedDeletes = newDel, addedEqDeletes = newEq,
        prevManifest = Some(prev))
      prev = cur
      step
    }
  }

  private def readFiles(spark: SparkSession, schema: StructType,
                        files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files.map(_.path): _*)

  /** File-granular changelog for `(vFrom, vTo]`: table columns +
    * `_change_type` ('insert'|'delete') + `_commit_version`. Rows come
    * straight off the changed files; old files missing later-added
    * columns read as NULL (the same name-based resolution as time
    * travel). */
  def changes(spark: SparkSession, root: String, vFrom: Int, vTo: Int): DataFrame = {
    val endSchema = GeoManifest.readVersion(spark, root, vTo).schema
    val steps = versionSteps(spark, root, vFrom, vTo)
    val legs = steps.flatMap { s =>
      val fileLegs = Seq(
        (s.added, "insert"),
        (s.removed, "delete")).collect { case (fs, tag) if fs.nonEmpty =>
        readFiles(spark, endSchema, fs)
          .withColumn(ChangeTypeCol, lit(tag))
          .withColumn(CommitVersionCol, lit(s.version))
      }
      // merge-on-read commit: the sidecar names exactly the deleted rows —
      // read them back from their (still-live) data files by position
      val morLeg =
        if (s.addedDeletes.isEmpty) Seq.empty
        else Seq(rowsAt(spark, root, s.version, s.addedDeletes)
          .withColumn(ChangeTypeCol, lit("delete"))
          .withColumn(CommitVersionCol, lit(s.version)))
      // equality-delete commit: the deleted rows are the base snapshot's
      // visible rows (in files the delete applies to) matching the keys
      val eqLeg =
        if (s.addedEqDeletes.isEmpty) Seq.empty
        else Seq(eqDeletedRows(spark, s.prevManifest.get, endSchema, s.addedEqDeletes,
            keepMeta = false)
          .withColumn(ChangeTypeCol, lit("delete"))
          .withColumn(CommitVersionCol, lit(s.version)))
      fileLegs ++ morLeg ++ eqLeg
    }
    if (legs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(endSchema.fields ++ changeFields))
    else legs.reduce(_ unionByName _)
  }

  /** Rows an equality-delete commit removed: the base snapshot's visible
    * rows, restricted to the files the deletes apply to, semi-joined per
    * key sidecar (chained anti-joins dedup rows matching several
    * sidecars). All entries come from ONE commit, so they share a version
    * and therefore an applicable-file set. `keepMeta` retains the
    * (file, row-ordinal) identity columns `__vf`/`__vp` for callers that
    * need positions (the CDC stream legs). */
  private[tables] def eqDeletedRows(spark: SparkSession, base: Manifest,
                                    schema: StructType,
                                    entries: Seq[GeoManifest.EqDeleteEntry],
                                    keepMeta: Boolean,
                                    extraPos: Option[DataFrame] = None): DataFrame = {
    // range-aware: a sidecar's recorded key range exempts files whose
    // column range cannot intersect, so the CDC scan reads only files the
    // delete could actually have touched
    val affected = base.files.filter(f => entries.exists(base.eqApplies(_, f)))
    def visible(fs: Seq[FileEntry]): DataFrame = {
      var b = readFiles(spark, schema, fs).select(col("*"),
        col("_metadata.file_path").as("__vf"), col("_metadata.row_index").as("__vp"))
      (GeoTable.deletePairs(spark, base).toSeq ++ extraPos.toSeq).foreach { d =>
        b = b.join(d, b("__vf") === d("file_path") && b("__vp") === d("pos"), "left_anti")
      }
      b
    }
    if (affected.isEmpty) {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      return if (!keepMeta) empty
             else empty.withColumn("__vf", lit(null).cast(StringType))
               .withColumn("__vp", lit(null).cast(LongType))
    }
    val baseRows = GeoTable.applyEqDeletes(spark, base.copy(schema = schema), affected)(visible)
    var remaining = baseRows
    val legs = entries.sortBy(_.key).map { e =>
      val leg = GeoTable.joinEq(spark, remaining, e, "left_semi")
      remaining = GeoTable.joinEq(spark, remaining, e, "left_anti")
      leg
    }
    val out = legs.reduce(_ unionByName _)
    if (keepMeta) out else out.drop("__vf", "__vp")
  }

  /** Rows named by position-delete sidecars, resolved against version v's
    * data files: a semi-join of the referenced files on (file, ordinal).
    * Only the referenced files are read (their paths collect driver-side
    * from the sidecars — sidecar row counts are commit-bounded). */
  private def rowsAt(spark: SparkSession, root: String, v: Int,
                     sidecars: Seq[GeoManifest.DeleteEntry]): DataFrame = {
    val m = GeoManifest.readVersion(spark, root, v)
    val pairs = spark.read.parquet(sidecars.map(_.path): _*)
      .select(col("file_path"), col("pos"))
    val refKeys = pairs.select("file_path").distinct().collect()
      .map(r => GeoManifest.norm(r.getString(0))).toSet
    val refFiles = m.files.filter(f => refKeys.contains(f.key))
    val base = readFiles(spark, m.schema, refFiles).select(col("*"),
      col("_metadata.file_path").as("__cf"), col("_metadata.row_index").as("__cp"))
    base.join(pairs, base("__cf") === pairs("file_path") && base("__cp") === pairs("pos"),
      "left_semi").drop("__cf", "__cp")
  }

  /** Net row-level diff between snapshot vFrom and snapshot vTo: rows in
    * vTo but not vFrom tagged 'insert', rows in vFrom but not vTo tagged
    * 'delete' (bag semantics — duplicates diff by count). Reads ONLY the
    * files in the manifests' symmetric difference; `exceptAll` shuffles
    * just those rows, so a one-commit diff on a 100 TB table costs the
    * changed data, not the table. */
  def netChanges(spark: SparkSession, root: String, vFrom: Int, vTo: Int): DataFrame = {
    val from = GeoManifest.readVersion(spark, root, vFrom)
    val to = GeoManifest.readVersion(spark, root, vTo)
    require(vFrom <= vTo, s"changelog range is reversed: ($vFrom, $vTo]")
    val fromKeys = from.files.map(_.key).toSet
    val toKeys = to.files.map(_.key).toSet
    val addedFiles = to.files.filterNot(f => fromKeys.contains(f.key))
    val removedFiles = from.files.filterNot(f => toKeys.contains(f.key))
    // rows visible at vTo that are new: added files through the full vTo
    // merge (position AND equality deletes — a row inserted and deleted
    // inside the range never becomes visible)
    val addedRows =
      if (addedFiles.isEmpty) readFiles(spark, to.schema, Seq.empty)
      else GeoTable.readMerged(spark, to, addedFiles)
    // rows visible at vFrom that are gone: removed files as seen at vFrom
    // (vFrom's own deletes already hid some of their rows)...
    val removedRows =
      if (removedFiles.isEmpty) readFiles(spark, to.schema, Seq.empty)
      else GeoTable.readMerged(spark, from.copy(schema = to.schema), removedFiles)
    // ...plus rows of files PRESENT IN BOTH that sidecars added in the
    // range deleted in place (the merge-on-read delete leg)
    val fromDel = from.deletes.map(_.key).toSet
    val newSidecars = to.deletes.filterNot(d => fromDel.contains(d.key))
    val commonFiles = to.files.filter(f => fromKeys.contains(f.key))
    val newPairs =
      if (newSidecars.isEmpty) None
      else Some(spark.read.parquet(newSidecars.map(_.path): _*)
        .select(col("file_path"), col("pos")))
    val morDeleted = newPairs.flatMap { pairs =>
      if (commonFiles.isEmpty) None
      else {
        val refKeys = pairs.select("file_path").distinct().collect()
          .map(r => GeoManifest.norm(r.getString(0))).toSet
        val refFiles = commonFiles.filter(f => refKeys.contains(f.key))
        if (refFiles.isEmpty) None
        else {
          val base = readFiles(spark, to.schema, refFiles).select(col("*"),
            col("_metadata.file_path").as("__cf"), col("_metadata.row_index").as("__cp"))
          Some(base.join(pairs, base("__cf") === pairs("file_path") &&
            base("__cp") === pairs("pos"), "left_semi").drop("__cf", "__cp"))
        }
      }
    }
    // ...plus rows of common files that EQUALITY deletes added in the
    // range removed: per delete version, the vFrom-visible rows of the
    // files it applies to, matching the keys — excluding rows the new
    // position sidecars already counted (pos-deleted then eq-matched)
    val fromEq = from.eqDeletes.map(_.key).toSet
    val newEq = to.eqDeletes.filterNot(e => fromEq.contains(e.key))
    // per delete version, oldest first; earlier new deletes fold into the
    // base manifest so a row matching keys of TWO range deletes nets to
    // one delete, not two
    var absorbed = from.eqDeletes
    val eqDeleted = newEq.groupBy(_.version).toSeq.sortBy(_._1).map {
      case (_, entries) =>
        val base = from.copy(files = commonFiles, eqDeletes = absorbed)
        absorbed = absorbed ++ entries
        eqDeletedRows(spark, base, to.schema, entries,
          keepMeta = false, extraPos = newPairs)
    }
    val inserts = addedRows.exceptAll(removedRows).withColumn(ChangeTypeCol, lit("insert"))
    val deletes = removedRows.exceptAll(addedRows).withColumn(ChangeTypeCol, lit("delete"))
    (Seq(inserts.unionByName(deletes)) ++
      morDeleted.map(_.withColumn(ChangeTypeCol, lit("delete"))) ++
      eqDeleted.map(_.withColumn(ChangeTypeCol, lit("delete"))))
      .reduce(_ unionByName _)
  }

  /** Anti-join `df` (which must come straight off the data files, so
    * `_metadata` is still addressable) against delete sidecars. */
  private def applyDeletes(spark: SparkSession, df: DataFrame,
                           sidecars: Seq[GeoManifest.DeleteEntry]): DataFrame =
    if (sidecars.isEmpty) df
    else {
      val pairs = spark.read.parquet(sidecars.map(_.path): _*)
        .select(col("file_path"), col("pos"))
      val base = df.select(col("*"),
        col("_metadata.file_path").as("__cf"), col("_metadata.row_index").as("__cp"))
      base.join(pairs, base("__cf") === pairs("file_path") && base("__cp") === pairs("pos"),
        "left_anti").drop("__cf", "__cp")
    }

  private[tables] def changeFields: Seq[StructField] = Seq(
    StructField(ChangeTypeCol, StringType, nullable = false),
    StructField(CommitVersionCol, IntegerType, nullable = false))

  private[tables] val RowIdxCol =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Parquet scan template for merge-on-read delete legs: the pruned table
    * columns plus Spark's GENERATED parquet row-index column (the same
    * machinery as `_metadata.row_index` — correct across file splits and
    * row-group skipping). File-list independent: the reader factory comes
    * off this template, per-file splits come off single-file copies. */
  private[tables] def morScanTemplate(spark: SparkSession, tableSchema: StructType,
                                      pruned: StructType,
                                      options: CaseInsensitiveStringMap): ParquetScan = {
    val b = org.apache.spark.sql.graft.GraftShim
      .parquetScanBuilder(spark, Seq.empty, tableSchema, options)
      .asInstanceOf[FileScanBuilder]
    b.pruneColumns(StructType(pruned.fields :+
      StructField(RowIdxCol, LongType, nullable = true)))
    b.build().asInstanceOf[ParquetScan]
  }

  /** (file, sorted row ordinals) of the rows an equality-delete step
    * removed — one planning-time job over the applicable files (the same
    * scan any consumer of the delete would have to pay); lets the CDC
    * surfaces replay a keyed delete through position-based row legs.
    *
    * The ordinals collect DRIVER-side, and unlike a position sidecar an
    * equality delete's matched-row count is not bounded by its commit
    * (O(keys) admission; duplicate key values multiply matches) — so the
    * collect is capped at [[GeoTable.maxLiveDeleteRows]]. Past the cap
    * the step refuses with a pointer at the DataFrame changes surface,
    * which streams the same rows without a driver materialization. */
  private[tables] def eqStepPositions(spark: SparkSession, s: VersionStep)
      : Seq[(FileEntry, Array[Long])] = {
    val base = s.prevManifest.get
    val bound = GeoTable.maxLiveDeleteRows(spark)
    require(bound < Int.MaxValue, s"spark.graft.mor.maxLiveDeleteRows=$bound too large " +
      "for a driver-side position collect")
    // limit(bound+1) returns ALL rows when under the cap and exactly
    // bound+1 when over — one job, no separate count scan
    val rows = eqDeletedRows(spark, base, base.schema, s.addedEqDeletes, keepMeta = true)
      .select(col("__vf"), col("__vp")).limit(bound.toInt + 1).collect()
    if (rows.length > bound)
      throw new IllegalStateException(
        s"equality-delete commit ${s.version} matched more than $bound rows; replaying " +
          "it row-granularly would materialize every ordinal on the driver — read the " +
          "range through GeoChangelog.changes/netChanges (DataFrame surface) instead, " +
          "or raise spark.graft.mor.maxLiveDeleteRows")
    val byFile = rows
      .groupBy(r => GeoManifest.norm(r.getString(0)))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).sorted.toArray }
    base.files.filter(f => byFile.contains(f.key)).map(f => f -> byFile(f.key))
  }

  /** Row-level changelog legs for delete commits that name row SUBSETS of
    * live files: one partition per referenced data-file split, carrying
    * the deleted ordinals for that file. Merge-on-read commits take the
    * ordinals straight off their position sidecars; equality-delete
    * commits resolve keys to ordinals with one planning-time job
    * ([[eqStepPositions]]). The reader re-reads the (still-live) data
    * files and keeps ONLY those row indexes — the row-granular CDC
    * Delta's change feed emits for deletes, where whole-file constant
    * tagging can't express a row subset. Sidecar content collects
    * driver-side (bounded per commit by the MoR admission ratio / the
    * keyed-delete size). */
  private[tables] def rowDeletePartitions(spark: SparkSession, root: String,
      template: ParquetScan, tableSchema: StructType,
      steps: Seq[VersionStep], startIndex: Int): Array[InputPartition] = {
    var i = startIndex - 1
    steps.filter(s => s.addedDeletes.nonEmpty || s.addedEqDeletes.nonEmpty).flatMap { s =>
      val morLegs: Seq[(FileEntry, Array[Long])] =
        if (s.addedDeletes.isEmpty) Seq.empty
        else {
          val byFile = GeoSidecarCache.positions(spark, s.addedDeletes)
          val m = GeoManifest.readVersion(spark, root, s.version)
          m.files.filter(f => byFile.contains(f.key)).map(f => f -> byFile(f.key))
        }
      val eqLegs = if (s.addedEqDeletes.isEmpty) Seq.empty else eqStepPositions(spark, s)
      (morLegs ++ eqLegs).flatMap { case (f, positions) =>
        val plan = template.copy(fileIndex = new InMemoryFileIndex(
          spark, Seq(new Path(f.path)), Map.empty, Some(tableSchema)))
          .toBatch.planInputPartitions()
        plan.flatMap(_.asInstanceOf[FilePartition].files).map { pf =>
          i += 1
          GeoMorDeletePartition(FilePartition(i, Array(pf)), s.version, positions)
            : InputPartition
        }
      }
    }.toArray
  }

  /** One single-file [[GeoTaggedPartition]] per (file, role): the parquet
    * template re-plans each file alone so the reader can append that
    * role's change constants. Shared by the batch changes scan and the
    * CDC stream. */
  private[tables] def taggedPartitions(spark: SparkSession, inner0: ParquetScan,
                                       tableSchema: StructType,
                                       fileTags: Seq[(FileEntry, String, Int)])
      : Array[InputPartition] = {
    var i = -1
    fileTags.flatMap { case (f, tag, v) =>
      val plan = inner0.copy(fileIndex = new InMemoryFileIndex(
        spark, Seq(new Path(f.path)), Map.empty, Some(tableSchema))).toBatch.planInputPartitions()
      plan.flatMap(_.asInstanceOf[FilePartition].files).map { pf =>
        i += 1
        GeoTaggedPartition(FilePartition(i, Array(pf)), tag, v): InputPartition
      }
    }.toArray
  }
}

/**
 * `geo.db.t.changes` — the file-granular changelog as a DSv2 metadata
 * table. Reads ride the stock vectorized parquet scan over the changed
 * files; `_change_type` / `_commit_version` are appended as per-file
 * constants by the reader wrapper (one split per file, same mechanism as
 * the DML `_file` column). Version bounds come from read options:
 * `spark.read.option("from-version", 3).option("to-version", 7)
 * .table("geo.db.t.changes")`; defaults are table-start to current.
 * Timestamp bounds compose the same way (`from-timestamp` /
 * `to-timestamp`, epoch millis or ISO-8601): `from` is EXCLUSIVE of
 * commits before the cutoff (changes AT/AFTER it are included, matching
 * stream-from-timestamp), `to` resolves by the TIMESTAMP AS OF rule
 * (newest commit at/before it).
 */
class GeoChangesTable(tableName: String, sparkAtLoad: SparkSession,
                      root: String, current: Int)
  extends Table with SupportsRead {

  override def name(): String = tableName

  private lazy val endSchemaOf: Int => StructType =
    v => GeoManifest.readVersion(sparkAtLoad, root, v).schema

  override def schema(): StructType =
    StructType(endSchemaOf(current).fields ++ GeoChangelog.changeFields)

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def one(kind: String, byVersion: Option[String], byTs: Option[String],
            resolve: Long => Int, default: Int): Int = {
      require(byVersion.isEmpty || byTs.isEmpty,
        s"set $kind-version OR $kind-timestamp, not both")
      byVersion.map(_.toInt)
        .orElse(byTs.map(raw => resolve(GeoManifest.parseTsMillis(raw))))
        .getOrElse(default)
    }
    val vTo = one("to", Option(options.get("to-version")),
      Option(options.get("to-timestamp")),
      ts => GeoManifest.versionAsOf(sparkAtLoad, root, ts), current)
    val vFrom = one("from", Option(options.get("from-version")),
      Option(options.get("from-timestamp")),
      ts => GeoManifest.versionBefore(sparkAtLoad, root, ts), 0)
    // Batch fileTags are computed eagerly (the parquet template scans the
    // changed files, which also feeds planning statistics). A STREAMING
    // read plans its own per-batch ranges from checkpoint offsets, so a
    // batch-range failure here (e.g. vacuumed history before a stream's
    // resume point) is deferred and only thrown on actual batch use.
    val (fileTags, morSteps, batchErr) =
      try {
        val steps = GeoChangelog.versionSteps(sparkAtLoad, root, vFrom, vTo)
        // merge-on-read commits delete row SUBSETS of files — those rows
        // get their own row-granular legs (GeoMorDeletePartition) next to
        // the whole-file constant-tagged ones
        (steps.flatMap { s =>
          s.added.map((_, "insert", s.version)) ++ s.removed.map((_, "delete", s.version))
        }, steps.filter(st => st.addedDeletes.nonEmpty || st.addedEqDeletes.nonEmpty), None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          (Seq.empty[(FileEntry, String, Int)], Seq.empty[GeoChangelog.VersionStep], Some(e))
      }
    new GeoChangesScanBuilder(sparkAtLoad, root, tableName, endSchemaOf(vTo),
      fileTags, morSteps, batchErr, options)
  }
}

/** ScanBuilder for the changes table: delegates pruning to the inner
  * parquet builder, tracks whether the two change-metadata columns are
  * required. Files carrying both roles (rewritten within the range) are
  * listed twice under distinct scan paths via per-role planning. */
class GeoChangesScanBuilder(spark: SparkSession, root: String, tableName: String,
                            tableSchema: StructType,
                            fileTags: Seq[(FileEntry, String, Int)],
                            morSteps: Seq[GeoChangelog.VersionStep],
                            batchErr: Option[Throwable],
                            options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private val inner = org.apache.spark.sql.graft.GraftShim
    .parquetScanBuilder(spark, fileTags.map(_._1.path).distinct, tableSchema, options)
    .asInstanceOf[FileScanBuilder]
  private var needMeta = true

  override def pruneColumns(required: StructType): Unit = {
    val metaNames = GeoChangelog.changeFields.map(_.name).toSet
    needMeta = required.fieldNames.exists(metaNames.contains)
    inner.pruneColumns(StructType(required.fields.filterNot(f => metaNames.contains(f.name))))
  }

  override def build(): Scan =
    new GeoChangesScan(spark, root, tableName, inner.build().asInstanceOf[ParquetScan],
      tableSchema, fileTags, morSteps, batchErr, needMeta, options)
}

/**
 * The changes scan: plans one parquet split-set per (file, role) so the
 * reader can append that role's `(_change_type, _commit_version)` as a
 * constant suffix. A file that is both inserted and later removed within
 * the range is read twice — once per role — exactly the changelog
 * semantics.
 */
class GeoChangesScan(spark: SparkSession, root: String, tableName: String,
                     inner0: ParquetScan, tableSchema: StructType,
                     fileTags: Seq[(FileEntry, String, Int)],
                     morSteps: Seq[GeoChangelog.VersionStep],
                     batchErr: Option[Throwable],
                     needMeta: Boolean, options: CaseInsensitiveStringMap)
  extends Scan with Batch with SupportsReportStatistics {

  // merge-on-read delete legs re-read the live data files with the same
  // pruned columns plus the generated row-index column
  private lazy val morTemplate: ParquetScan =
    GeoChangelog.morScanTemplate(spark, tableSchema, inner0.readSchema(), options)

  override def readSchema(): StructType =
    if (needMeta) StructType(inner0.readSchema().fields ++ GeoChangelog.changeFields)
    else inner0.readSchema()

  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics = inner0.estimateStatistics()

  override def planInputPartitions(): Array[InputPartition] = {
    batchErr.foreach(e => throw e)
    val tagged = GeoChangelog.taggedPartitions(spark, inner0, tableSchema, fileTags)
    if (morSteps.isEmpty) tagged
    else tagged ++ GeoChangelog.rowDeletePartitions(
      spark, root, morTemplate, tableSchema, morSteps, tagged.length)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val f = inner0.toBatch.createReaderFactory()
    val taggedF = if (!needMeta) GeoUnwrapReaderFactory(f) else GeoAppendChangeReaderFactory(f)
    if (morSteps.isEmpty) taggedF
    else GeoChangesDispatchFactory(taggedF, GeoMorDeleteReaderFactory(
      morTemplate.toBatch.createReaderFactory(), morTemplate.readSchema(), needMeta))
  }

  /** Streaming CDC: `spark.readStream.table("geo.db.t.changes")`. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GeoChangesCdcStream(spark, root, inner0, tableSchema, needMeta, options)

  override def description(): String =
    s"GeoChangesScan(files=${fileTags.length}) ${inner0.description()}"
}

/** A file split plus the change-role constants its rows carry. */
case class GeoTaggedPartition(part: FilePartition, changeType: String, version: Int)
  extends InputPartition {
  override def preferredLocations(): Array[String] = part.preferredLocations()
}

/** A single-file split of a merge-on-read delete commit: the reader emits
  * ONLY rows whose generated row index appears in `positions`, as
  * ('delete', version) changelog rows. */
case class GeoMorDeletePartition(part: FilePartition, version: Int, positions: Array[Long])
  extends InputPartition {
  override def preferredLocations(): Array[String] = part.preferredLocations()
}

/** Reader for [[GeoMorDeletePartition]]: inner rows carry the pruned table
  * columns plus the generated parquet row-index column; keep exactly the
  * sidecar-named ordinals, project the index column away, and (when the
  * query kept them) append the change-metadata constants. */
case class GeoMorDeleteReaderFactory(inner: PartitionReaderFactory,
                                     innerSchema: StructType, needMeta: Boolean)
  extends PartitionReaderFactory {

  private val idxOrd = innerSchema.fieldIndex(GeoChangelog.RowIdxCol)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[GeoMorDeletePartition]
    val r = inner.createReader(mp.part)
    val keep = innerSchema.fields.indices.filterNot(_ == idxOrd)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      keep.map(i => org.apache.spark.sql.catalyst.expressions.BoundReference(
        i, innerSchema(i).dataType, innerSchema(i).nullable)).toArray)
    new PartitionReader[InternalRow] {
      private val joined = new JoinedRow
      private val suffix = InternalRow(UTF8String.fromString("delete"), mp.version)
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          if (java.util.Arrays.binarySearch(mp.positions, row.getLong(idxOrd)) >= 0) {
            cur = proj(row); return true
          }
        }
        false
      }
      override def get(): InternalRow = if (needMeta) joined(cur, suffix) else cur
      override def close(): Unit = r.close()
    }
  }

  override def supportColumnarReads(p: InputPartition): Boolean = false
}

/** Routes changes-scan partitions to their reader: whole-file tagged legs
  * (columnar-capable) vs merge-on-read deleted-row legs (row-based). */
case class GeoChangesDispatchFactory(tagged: PartitionReaderFactory,
                                     mor: PartitionReaderFactory)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case _: GeoMorDeletePartition => mor.createReader(p)
    case _ => tagged.createReader(p)
  }
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    tagged.createColumnarReader(p)
  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: GeoMorDeletePartition => false
    case _ => tagged.supportColumnarReads(p)
  }
}

/** Reader wrapper appending `(_change_type, _commit_version)` as a
  * constant suffix per partition. */
case class GeoAppendChangeReaderFactory(inner: PartitionReaderFactory)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val tp = p.asInstanceOf[GeoTaggedPartition]
    val r = inner.createReader(tp.part)
    new PartitionReader[InternalRow] {
      private val joined = new JoinedRow
      private val suffix = InternalRow(UTF8String.fromString(tp.changeType), tp.version)
      override def next(): Boolean = r.next()
      override def get(): InternalRow = joined(r.get(), suffix)
      override def close(): Unit = r.close()
    }
  }

  override def supportColumnarReads(p: InputPartition): Boolean = false
}

/** Reader wrapper that only unwraps [[GeoTaggedPartition]] (metadata
  * columns pruned away — rows pass through untouched, columnar batches
  * included). */
case class GeoUnwrapReaderFactory(inner: PartitionReaderFactory)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    inner.createReader(p.asInstanceOf[GeoTaggedPartition].part)
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(p.asInstanceOf[GeoTaggedPartition].part)
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p.asInstanceOf[GeoTaggedPartition].part)
}

/** Manifest-version offset for the streaming source. */
case class GeoStreamOffset(version: Int) extends Offset {
  override def json(): String = version.toString
}

/** Shared admission control for the two geo streams
  * (SupportsAdmissionControl via SupportsTriggerAvailableNow):
  * whole-version steps under `max-files-per-micro-batch` /
  * `max-rows-per-micro-batch`, AvailableNow pinning, and the memoized
  * lineage walk — ONE implementation, so the sources can never diverge
  * in admission behavior. */
private[tables] trait GeoAdmissionControl extends SupportsTriggerAvailableNow {
  protected def admitSpark: SparkSession
  protected def admitRoot: String
  protected def admitOptions: CaseInsensitiveStringMap
  /** The CDC stream replays removed files and fresh delete sidecars as
    * delete rows, so they count against the caps; the append-only
    * stream never reads them. */
  protected def countRemoved: Boolean

  @volatile private var availableNowCap: Option[Int] = None
  // parent pointers of committed versions are immutable — memoizing them
  // across triggers makes deep-backlog catch-up pay each version's
  // header read once ever, not once per trigger. Single stream-exec
  // thread per source: no synchronization needed.
  private val parentMemo = scala.collection.mutable.Map.empty[Int, Int]

  private def currentVersion: Int =
    GeoManifest.currentVersion(admitSpark, admitRoot).getOrElse(0)

  /** Where replay starts (EXCLUSIVE — batches cover `(start, end]`):
    * `stream-from-version` = n | "current" (tail only), or
    * `stream-from-timestamp` = epoch millis | ISO-8601 instant — replay
    * begins at the first commit AT or AFTER the timestamp (the Iceberg
    * stream-from-timestamp contract: the newest commit strictly before
    * it is the exclusive start). Default 0 = replay the whole table. */
  protected lazy val startVersion: Int = {
    val byVersion = Option(admitOptions.get("stream-from-version"))
    val byTs = Option(admitOptions.get("stream-from-timestamp"))
    require(byVersion.isEmpty || byTs.isEmpty,
      "set stream-from-version OR stream-from-timestamp, not both")
    (byVersion, byTs) match {
      case (Some("current"), _) => currentVersion
      case (Some(v), _) => v.toInt
      case (_, Some(raw)) =>
        GeoManifest.versionBefore(admitSpark, admitRoot,
          GeoManifest.parseTsMillis(raw))
      case _ => 0
    }
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentVersion)

  override def getDefaultReadLimit: ReadLimit =
    GeoChangelog.optionReadLimit(admitOptions)

  override def reportLatestOffset(): Offset = GeoStreamOffset(currentVersion)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowCap.getOrElse(currentVersion)
    GeoStreamOffset(GeoChangelog.admit(admitSpark, admitRoot,
      start.asInstanceOf[GeoStreamOffset].version, target, limit,
      countRemoved, parentMemo))
  }
}

/**
 * Micro-batch streaming source over a GeoTable: `spark.readStream
 * .table("geo.db.t")`. Offsets are manifest versions; each batch reads
 * the files APPENDED in `(start, end]` through the same vectorized
 * parquet machinery as batch reads (pruned columns and pushed filters
 * carry over from the scan). Non-append commits (CoW rewrites from
 * UPDATE/DELETE/OPTIMIZE) fail the stream by default — replaying a
 * rewrite's files would duplicate rows downstream; opt into skipping
 * them with `.option("skip-overwrite-commits", true)` (the Iceberg
 * streaming-skip-overwrite-snapshots contract).
 *
 * Options: `stream-from-version` = n | "current" (default 0: replay the
 * whole table, then tail); `max-files-per-micro-batch` /
 * `max-rows-per-micro-batch` = admission caps — catch-up over a large
 * backlog proceeds in bounded, checkpointed micro-batches instead of
 * replaying 100 TB in one (the Iceberg streaming read-limit contract);
 * `Trigger.AvailableNow` composes: consume to a pinned end under the
 * caps, then stop.
 */
class GeoMicroBatchStream(spark: SparkSession, root: String, inner0: ParquetScan,
                          tableSchema: StructType, options: CaseInsensitiveStringMap)
  extends MicroBatchStream with GeoAdmissionControl {

  override protected def admitSpark: SparkSession = spark
  override protected def admitRoot: String = root
  override protected def admitOptions: CaseInsensitiveStringMap = options
  override protected def countRemoved: Boolean = false

  private val skipOverwrites =
    Option(options.get("skip-overwrite-commits")).exists(_.toBoolean)
  override def initialOffset(): Offset = GeoStreamOffset(startVersion)

  override def latestOffset(): Offset =
    GeoStreamOffset(GeoManifest.currentVersion(spark, root).getOrElse(0))

  override def deserializeOffset(json: String): Offset = GeoStreamOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (v0, v1) = (start.asInstanceOf[GeoStreamOffset].version,
      end.asInstanceOf[GeoStreamOffset].version)
    if (v0 >= v1) return Array.empty
    val steps = GeoChangelog.versionSteps(spark, root, v0, v1)
    val bad = steps.filter(_.isOverwrite)
    if (bad.nonEmpty && !skipOverwrites)
      throw new IllegalStateException(
        s"streaming read of $root hit non-append commit(s) at version(s) " +
          s"${bad.map(_.version).mkString(", ")} (UPDATE/DELETE/OPTIMIZE rewrite); " +
          "streams replay appends only — set option skip-overwrite-commits=true to " +
          "skip rewrites, or use GeoChangelog.netChanges for CDC")
    val files = steps.filterNot(s => s.isOverwrite && skipOverwrites).flatMap(_.added)
    if (files.isEmpty) return Array.empty
    inner0.copy(fileIndex = new InMemoryFileIndex(
      spark, files.map(f => new Path(f.path)), Map.empty, Some(tableSchema)))
      .toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    inner0.toBatch.createReaderFactory()

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/**
 * Streaming CDC feed over a GeoTable: `spark.readStream
 * .table("geo.db.t.changes")` (the Delta readChangeFeed / Iceberg
 * changelog-stream analog). Offsets are manifest versions; each
 * micro-batch emits the file-granular changelog of `(start, end]` —
 * appended files' rows tagged `insert`, removed files' rows tagged
 * `delete` (a CoW rewrite emits delete+insert pairs), each with its
 * commit version. Replay is deterministic from immutable manifests, so
 * checkpoint recovery is exactly-once. Merge-on-read delete commits name
 * row SUBSETS of live files — those get row-granular legs: the reader
 * re-reads the referenced data files by generated row index and emits
 * exactly the sidecar-named rows as deletes (the Delta change-feed
 * behavior for row-level deletes).
 *
 * Options: `stream-from-version` = n | "current" (default 0: emit the
 * whole current state as inserts, then tail);
 * `max-files-per-micro-batch` / `max-rows-per-micro-batch` = admission
 * caps over whole versions (removed files count too — the CDC stream
 * replays them as delete rows); `Trigger.AvailableNow` composes.
 */
class GeoChangesCdcStream(spark: SparkSession, root: String, inner0: ParquetScan,
                          tableSchema: StructType, needMeta: Boolean,
                          options: CaseInsensitiveStringMap)
  extends MicroBatchStream with GeoAdmissionControl {

  override protected def admitSpark: SparkSession = spark
  override protected def admitRoot: String = root
  override protected def admitOptions: CaseInsensitiveStringMap = options
  override protected def countRemoved: Boolean = true

  override def initialOffset(): Offset = GeoStreamOffset(startVersion)

  override def latestOffset(): Offset =
    GeoStreamOffset(GeoManifest.currentVersion(spark, root).getOrElse(0))

  override def deserializeOffset(json: String): Offset = GeoStreamOffset(json.trim.toInt)

  private lazy val morTemplate: ParquetScan =
    GeoChangelog.morScanTemplate(spark, tableSchema, inner0.readSchema(), options)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (v0, v1) = (start.asInstanceOf[GeoStreamOffset].version,
      end.asInstanceOf[GeoStreamOffset].version)
    if (v0 >= v1) return Array.empty
    val steps = GeoChangelog.versionSteps(spark, root, v0, v1)
    val fileTags = steps.flatMap { s =>
      s.added.map((_, "insert", s.version)) ++ s.removed.map((_, "delete", s.version))
    }
    val tagged = GeoChangelog.taggedPartitions(spark, inner0, tableSchema, fileTags)
    val mor = steps.filter(st => st.addedDeletes.nonEmpty || st.addedEqDeletes.nonEmpty)
    if (mor.isEmpty) tagged
    else tagged ++ GeoChangelog.rowDeletePartitions(
      spark, root, morTemplate, tableSchema, mor, tagged.length)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val f = inner0.toBatch.createReaderFactory()
    val taggedF = if (needMeta) GeoAppendChangeReaderFactory(f) else GeoUnwrapReaderFactory(f)
    // the MoR leg's factory is file-list independent — always safe to
    // install, it only activates when a batch plans GeoMorDeletePartitions
    GeoChangesDispatchFactory(taggedF, GeoMorDeleteReaderFactory(
      morTemplate.toBatch.createReaderFactory(), morTemplate.readSchema(), needMeta))
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
