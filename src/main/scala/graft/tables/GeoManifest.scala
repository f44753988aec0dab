package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.locationtech.jts.geom.Envelope

import java.nio.charset.StandardCharsets

/**
 * File-level metadata for GeoTable (SURVEY.md §2.8): the Spark-native analog
 * of an Iceberg manifest (reference: the extension's DML tests rely on
 * Iceberg manifests for file-level predicate pruning —
 * extension/.../SedonaPredicatePushDown.scala:59). Each table version is one
 * manifest listing immutable data files with per-file row counts and the
 * geometry column's bbox; a query envelope prunes FILES on the driver
 * before Spark ever opens a footer — at 100k-file scale that is the
 * difference between listing metadata and reading 100k parquet footers.
 *
 * Format (line-oriented text, tab-separated; no external JSON dep). One
 * layout, written by every commit and the only one the reader accepts;
 * lines appear in this order:
 * {{{
 *   graftgeo   10
 *   ts         <commit wall-clock, epoch millis>
 *   parent     <lineage parent version; -1 for the root commit>
 *   op         <operation label>                          (0..1)
 *   check      <name>  <SQL>                              (0..n)
 *   picked     <version,version,...>                      (0..1)
 *   prop       <key>  <value>                             (0..n)
 *   schema     <StructType.json — carries GEOMETRY field metadata>
 *   geom       <geometry column name, or -- when none>
 *   dropped    <tombstoned column name>                   (0..n)
 *   stream     <sinkId>  <last committed batchId>         (0..n)
 *   partition  <transform of the current spec>            (0..n)
 *   curspec    <current spec id>
 *   spec       <retired spec id>  <transform>...          (0..n)
 *   file       <path> <rows> <xmin> <ymin> <xmax> <ymax>
 *              <addedAt> <spec> <null bits, - = unknown> [<lo> <hi>]...
 *   shard      <shard file name>  <entry count>           (instead of file lines)
 *   delete     <path>  <rows>                             (0..n)
 *   eqdelete   <path> <rows> <version> <col,col> [<kmin> <kmax> [<lo|-> <hi|->]...]
 *   colstat    <column> <ndv> <nulls> [<min> <max>]       (0..n)
 *   bloomspec  <column> <fpp> <items>                     (0..n)
 *   bloom      <path>  <col,col>                          (0..n)
 *   end        <CRC32 of every preceding byte, 8 hex digits>
 * }}}
 * `ts` keeps the commit timestamp INSIDE the manifest, so TIMESTAMP AS
 * OF and the snapshots/history metadata tables survive filesystem copies
 * and clock-skewed writers that reorder file mtimes (Iceberg stores
 * commit timestamps in metadata for the same reason). At
 * `spark.graft.manifest.shardSize` entries and above the manifest becomes
 * a LIST whose `shard` lines reference immutable shard files
 * (`_manifests/s-*.txt`: a `graftshard 10` header, then `file` lines
 * only) — the Iceberg manifest-list/manifest split, so an append commit
 * rewrites one small shard plus the list instead of the full file
 * inventory. A file's pstats pairs are positional against ITS OWN
 * partition spec (`spec` column; `partition` lines are the current
 * spec, `spec` lines the retired ones). The `end` trailer is mandatory:
 * a manifest without it, with any byte changed, or with any other
 * header or tag fails the read loudly — a torn or foreign line never
 * turns into silently missing data files.
 * Layout under a table root:
 * {{{
 *   <root>/_manifests/m<N>.txt   manifest per version (immutable)
 *   <root>/_current               text pointer: current N
 *   <root>/data/c<uuid>/part-*    immutable data files, one dir per commit
 * }}}
 * Single-writer assumption (documented contract, like a Hive table without
 * a lock service): concurrent readers always see a complete manifest
 * because manifests are immutable and `_current` flips last.
 */
object GeoManifest {

  /** One immutable data file. bbox is NaN-bounded when rows have no
    * geometry (empty file or no geometry column). `addedAt` is the data
    * sequence number (Iceberg analog): the commit version that introduced
    * the file. -1 = freshly built this commit (stamped to the committing
    * version inside [[write]]). An equality delete applies to a file iff
    * `addedAt < delete.version` — which is what lets a keyed upsert
    * (delete + append in one commit) leave its own fresh rows alive.
    *
    * `pnulls(i)` = transform i's SOURCE column held at least one NULL in
    * this file. min/max stats ignore nulls, so `pstats` alone cannot
    * distinguish "single-valued X" from "X plus nulls" — and NULL is a
    * legal partition value, so SPJ key reconstruction must NOT claim such
    * a file is single-valued (null rows would be mis-clustered under
    * KeyGroupedPartitioning: duplicate NULL groups in exchange-eliminated
    * GROUP BY, missed matches in null-safe joins). Empty = unknown
    * (written `-`): pruning is unaffected, SPJ is disabled for the file —
    * the conservative direction.
    *
    * `spec` is the PARTITION SPEC the file's pstats were recorded under
    * (Iceberg spec-id analog): after `ALTER TABLE ... SET PARTITIONED
    * BY`, old files keep their old spec — evolution is metadata-only,
    * nothing rewrites the data — and every stats consumer must resolve
    * the file's own transform list before indexing into pstats. -1 =
    * freshly built this commit (stamped to the committing manifest's
    * current spec inside [[write]]); a table that never evolved its spec
    * has exactly one, id 0. */
  final case class FileEntry(path: String, rows: Long,
                             xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                             pstats: Seq[(Long, Long)] = Seq.empty,
                             addedAt: Int = -1,
                             pnulls: Seq[Boolean] = Seq.empty,
                             spec: Int = -1) {
    def intersects(e: Envelope): Boolean =
      !xmin.isNaN && xmin <= e.getMaxX && xmax >= e.getMinX &&
        ymin <= e.getMaxY && ymax >= e.getMinY
    /** Normalized key matching Spark's `input_file_name()` form. Cached:
      * sharded-manifest commits key every entry of a large table, and a
      * URI parse per call would dominate the commit. */
    lazy val key: String = GeoManifest.norm(path)
  }

  /** `dropped` is the tombstone list for schema evolution: names of
    * columns ever removed by ALTER TABLE DROP COLUMN. Data files written
    * before the drop still hold that column, and name-based parquet
    * resolution would silently resurrect it if the name were re-added —
    * Iceberg prevents this with field ids; tombstones are the name-based
    * equivalent. */
  /** `streamCommits` maps a streaming sink id (derived from the
    * checkpoint location) to the last micro-batch id whose append is in
    * this manifest. Because it rides in the SAME atomic manifest commit
    * as the appended files, a replayed micro-batch (crash between table
    * commit and the streaming checkpoint write) is detected and skipped —
    * the same idempotence mechanism as Iceberg's streaming sink. */
  /** `commitTs` is the commit wall-clock (epoch millis) read from the
    * manifest's `ts` line; 0 on a manifest not yet committed. It is
    * stamped at write time — a `copy()`-derived next version never
    * carries the base's ts. */
  /** One immutable position-delete sidecar (merge-on-read): a parquet
    * file of (file_path, pos) pairs naming rows that are deleted from
    * data files still in the manifest. Entries bind to the exact data
    * file PATH — CoW rewrites mint new paths, so stale entries for
    * replaced files match nothing by construction. */
  final case class DeleteEntry(path: String, rows: Long) {
    def key: String = GeoManifest.norm(path)
  }

  /** One immutable equality-delete sidecar (Iceberg v2 eqdelete analog):
    * a parquet file of key tuples over `cols`; every row of a data file
    * with `addedAt < version` whose key tuple appears here is deleted.
    * Written WITHOUT scanning data files — the commit costs O(keys),
    * which is what a streaming upsert writer needs. Null keys never
    * match (rows with a null key column are never equality-deleted).
    *
    * `kmin`/`kmax` (the LEADING key column, when it has a long
    * embedding — the same embedding per-file transform stats use) bound
    * the sidecar's key range: a file whose recorded range for that
    * column cannot intersect it is exempt from this delete — reads skip
    * the probe AND the sidecar load, folds skip the rewrite (see
    * [[Manifest.eqApplies]]). None = unknown, the conservative
    * applies-everywhere direction.
    *
    * `kranges` extends the bound to the FULL key tuple: per-column
    * min/max for the TAIL key columns (index i = cols(i + 1)), None for
    * a column with no long embedding. Applicability is the INTERSECTION
    * on every column — one disjoint column proves no tuple can match any
    * row of the file, which is what gives a composite-key CDC stream
    * (realistic upserts key on e.g. (tenant, id)) real range exemption
    * instead of riding the leading column alone. */
  final case class EqDeleteEntry(path: String, rows: Long,
                                 cols: Seq[String], version: Int,
                                 kmin: Option[Long] = None,
                                 kmax: Option[Long] = None,
                                 kranges: Seq[Option[(Long, Long)]] = Seq.empty) {
    def key: String = GeoManifest.norm(path)
    /** True when this delete can affect rows of `f` by SEQUENCE NUMBER
      * alone; range-aware callers use [[Manifest.eqApplies]]. */
    def appliesTo(f: FileEntry): Boolean = f.addedAt < version
  }

  /** Sequence-number + key-range applicability of an equality delete to a
    * file: on top of `addedAt < version`, when the sidecar recorded a key
    * range and some identity/stats transform recorded the file's range
    * for that column, disjoint ranges prove the delete cannot match any
    * row of the file. The check runs per KEY COLUMN (full-tuple ranges):
    * a tuple matches a row only when every column matches, so a single
    * disjoint column exempts the file even when the others overlap.
    * Every missing piece keeps the conservative answer. */
  def eqApplies(partitions: Seq[GeoPartition.PTransform],
                e: EqDeleteEntry, f: FileEntry): Boolean =
    e.appliesTo(f) && {
      val leading: (String, Option[(Long, Long)]) =
        e.cols.head -> (for (a <- e.kmin; b <- e.kmax) yield (a, b))
      val colRanges: Seq[(String, Option[(Long, Long)])] =
        leading +: e.cols.tail.zipWithIndex.map { case (c, i) =>
          c -> e.kranges.lift(i).flatten
        }
      colRanges.forall { case (cName, r) =>
        r.forall { case (kmin, kmax) =>
          // sort-kind entries record the identical raw-column min/max,
          // so a declared sort order keeps the range exemption the
          // auto-stats entry it replaces would have given
          val i = partitions.indexWhere(t =>
            (t.kind == "identity" || t.kind == "stats" || t.kind == "sort") &&
              t.col.equalsIgnoreCase(cName))
          i < 0 || f.pstats.lift(i).forall { case (lo, hi) =>
            hi >= kmin && lo <= kmax
          }
        }
      }
    }

  /** Table-level column statistics from `ANALYZE TABLE ... FOR COLUMNS`
    * (Iceberg table-stats analog): approximate NDV + null count, plus
    * min/max in the long embedding for columns that have one (the same
    * embedding per-file transform stats use). Surfaced through the scan's
    * `SupportsReportStatistics.columnStats()` so Catalyst's CBO can pick
    * broadcast joins and order joins BEFORE runtime. Estimates, not
    * invariants: DML after an ANALYZE leaves them stale until the next
    * ANALYZE, exactly as every table format treats column stats. */
  final case class ColStat(ndv: Long, nulls: Long,
                           min: Option[Long], max: Option[Long])

  /** One immutable manifest shard: `name` under `<root>/_manifests/`,
    * holding a slice of the version's `file` lines. `baseShards` on a
    * read manifest records the layout so the NEXT commit can reference
    * unchanged shards instead of rewriting the full file list; derived
    * manifests keep it through `copy()`. */
  final case class ShardRef(name: String, entries: Seq[FileEntry])

  /** `parent` is the snapshot this commit derived from (-1 for the root
    * commit) — the lineage line that keeps branch-staged and torn-orphan
    * manifests OUT of main history: changelog/versionAsOf/metadata walks
    * follow the parent chain from `_current`, never consecutive numbers
    * (Iceberg records parent-snapshot-id for the same reason). The commit
    * paths set it to their optimistic base. */
  /** `partitions` is the CURRENT spec's transform list — every write
    * path (layout clustering, stats collection, SPJ sort orders) uses it
    * unchanged. `specId` names it; `pastSpecs` holds every RETIRED
    * spec's full transform list by id (partition-spec evolution:
    * non-empty only after `ALTER TABLE ... SET PARTITIONED BY`). A
    * file's pstats are positional against ITS OWN spec — resolve
    * through [[specSet]], never index with `partitions` directly unless
    * the file is known current-spec. */
  final case class Manifest(version: Int, schema: StructType,
                            geomCol: Option[String], files: Seq[FileEntry],
                            dropped: Seq[String] = Seq.empty,
                            streamCommits: Map[String, Long] = Map.empty,
                            commitTs: Long = 0L,
                            deletes: Seq[DeleteEntry] = Seq.empty,
                            partitions: Seq[GeoPartition.PTransform] = Seq.empty,
                            baseShards: Seq[ShardRef] = Seq.empty,
                            eqDeletes: Seq[EqDeleteEntry] = Seq.empty,
                            parent: Int = -1,
                            colStats: Map[String, ColStat] = Map.empty,
                            pastSpecs: Map[Int, Seq[GeoPartition.PTransform]] = Map.empty,
                            specId: Int = 0,
                            bloomCols: Seq[GeoBloom.BloomSpec] = Seq.empty,
                            blooms: Seq[GeoBloom.BloomEntry] = Seq.empty,
                            op: Option[String] = None,
                            checks: Seq[(String, String)] = Seq.empty,
                            picked: Set[Int] = Set.empty,
                            props: Map[String, String] = Map.empty) {
    /** Per-file spec resolution for every pstats consumer. Lazy: the
      * eq-applicability loops call this per (file × delete) pair. */
    lazy val specSet: GeoPartition.SpecSet =
      GeoPartition.SpecSet(specId, pastSpecs + (specId -> partitions))
    /** Range-aware equality-delete applicability under the FILE's own
      * transform list — see [[GeoManifest.eqApplies]]. */
    def eqApplies(e: EqDeleteEntry, f: FileEntry): Boolean =
      GeoManifest.eqApplies(specSet.of(f), e, f)
    /** Exact for position deletes; an UPPER bound while equality deletes
      * are live (their matched-row count is unknown until a scan). */
    def totalRows: Long = files.map(_.rows).sum - deletes.map(_.rows).sum
    /** Files that can contain rows whose geometry bbox-intersects `e`. */
    def prune(e: Envelope): Seq[FileEntry] = files.filter(_.intersects(e))
  }

  /** file:///a/b, file:/a/b, hdfs://nn/a/b and /a/b all compare equal. */
  def norm(p: String): String = {
    // fast path: no scheme separator before the first slash means the
    // string is already a bare path — skip the URI allocation+parse
    val colon = p.indexOf(':')
    val slash = p.indexOf('/')
    if (colon < 0 || (slash >= 0 && slash < colon)) return p
    try {
      val u = new java.net.URI(p)
      if (u.getPath == null || u.getPath.isEmpty) p else u.getPath
    } catch { case _: Exception => p }
  }

  def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // -------------------------------------------------------------------------
  // IO
  // -------------------------------------------------------------------------

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Create-EXCLUSIVE text write for manifest list files. Same-JVM
    * writers are serialized by the commit lock and never collide on a
    * version number; a collision therefore means a SECOND JVM committed
    * the same version (the optimistic check is only atomic per JVM) or a
    * crashed commit left its manifest behind. Overwriting would silently
    * discard the other writer's commit — fail loudly instead (the
    * Iceberg HadoopTableOperations rename-if-absent contract). */
  private def writeTextExclusive(fs: FileSystem, p: Path, text: String): Unit = {
    // ConcurrentModificationException on purpose: every commit path's
    // existing retry loop (batch write, branch write, streaming epoch)
    // catches it, and a retry IS productive here — it re-reads the fresh
    // manifest and remapVersion slides past the other writer's (or a
    // crashed commit's) file to the next free number.
    def collision(e: Throwable) = {
      val ex = new java.util.ConcurrentModificationException(
        s"manifest $p already exists — a concurrent writer in another JVM " +
          "committed this version (lost-commit race), or an earlier commit " +
          "crashed between its manifest write and the pointer flip. Re-read " +
          "the table and retry; if the file is a torn leftover, inspect and " +
          "remove it manually.")
      ex.initCause(e)
      ex
    }
    val out =
      try fs.create(p, false)
      catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException => throw collision(e)
        // some FS impls signal the no-overwrite case as a plain IOException
        case e: java.io.IOException if fs.exists(p) => throw collision(e)
      }
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  def currentVersion(spark: SparkSession, root: String): Option[Int] = {
    val f = fs(spark, root)
    val cur = new Path(root, "_current")
    if (!f.exists(cur)) return None
    // The pointer flip is a truncate+write of a few bytes; a reader
    // racing a committer can see an empty file or a checksum tear.
    // Streaming sources poll this in a tight loop, so treat those as
    // transient and retry briefly rather than failing the query.
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt < 6) {
      try {
        val txt = readText(f, cur).trim
        if (txt.nonEmpty) return Some(txt.toInt)
      } catch { case scala.util.control.NonFatal(e) => lastErr = e }
      attempt += 1
      Thread.sleep(15L * attempt)
    }
    throw new IllegalStateException(
      s"_current at $root unreadable after $attempt attempts", lastErr)
  }

  /** Per-root commit locks: makes the check-then-flip below atomic for
    * writers in ONE JVM (local mode, multiple streaming sinks in a
    * session). Cross-JVM safety is still the optimistic check only. */
  private val commitLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` under the root's commit lock. VACUUM takes this too: its
    * GC deletes files no kept manifest references, and an in-flight
    * commit's freshly written data/shard files are referenced by NOTHING
    * until the pointer flips — unsynchronized GC could delete them out
    * from under the commit. (Cross-JVM, that window is the same
    * single-writer caveat as the optimistic commit itself.) */
  private[tables] def withCommitLock[A](root: String)(body: => A): A = {
    val lock = commitLocks.computeIfAbsent(norm(root), _ => new Object)
    lock.synchronized(body)
  }

  /** Commit with an optimistic concurrency check: fails when `_current`
    * no longer points at `expectedBase` (another writer committed since
    * this operation read its snapshot). Atomic for same-JVM writers (per
    * root lock); best-effort across JVMs on filesystems without atomic
    * pointer swap — true multi-writer safety needs a lock service, as
    * with any file-based table format. */
  def commit(spark: SparkSession, root: String, m0: Manifest, expectedBase: Int,
             op: String = ""): Unit = {
    // bloom sidecar build runs BEFORE the lock (it is a Spark job over the
    // fresh files); a lost optimistic race leaves an unreferenced sidecar
    // for the vacuum orphan sweep, same as a lost data-write race.
    // The operation label is stamped HERE from the caller's argument —
    // copy()-derived manifests carry the BASE's op, and inheriting it
    // would mislabel history the way an inherited ts would corrupt it.
    val m = GeoBloom.withBlooms(spark, root,
      m0.copy(op = Option(op).filter(_.nonEmpty)))
    withCommitLock(root) {
      val cur = currentVersion(spark, root)
      if (!cur.contains(expectedBase))
        throw new java.util.ConcurrentModificationException(
          s"GeoTable at $root moved to version ${cur.orNull} while this operation " +
            s"was based on $expectedBase; re-read and retry")
      // the optimistic base IS the commit's lineage parent
      write0(spark, root, remapVersion(spark, root, m).copy(parent = expectedBase))
    }
  }

  /** Branch and main commits share ONE linear manifest number space:
    * when a branch has claimed the caller's intended number, slide this
    * commit to the next free one (remapping the eqdelete entries minted
    * for it — they must carry the commit's actual sequence number).
    * No-op on tables without branches. Call under the commit lock. */
  private def remapVersion(spark: SparkSession, root: String, m: Manifest): Manifest = {
    val actual = nextFreeVersion(spark, root)
    if (actual <= m.version) m
    else m.copy(version = actual,
      eqDeletes = m.eqDeletes.map(e =>
        if (e.version == m.version) e.copy(version = actual) else e))
  }

  /** Point `_current` at an already-written manifest (publish /
    * fast-forward). Call under the commit lock. */
  private[tables] def publishVersion(spark: SparkSession, root: String, v: Int): Unit = {
    val f = fs(spark, root)
    require(f.exists(new Path(root, s"_manifests/m$v.txt")),
      s"cannot publish version $v of $root: no such manifest")
    writeText(f, new Path(root, "_current"), v.toString)
  }

  /** max existing manifest number + 1 (branch heads included). */
  private[tables] def nextFreeVersion(spark: SparkSession, root: String): Int = {
    val f = fs(spark, root)
    val dir = new Path(root, "_manifests")
    val re = "m(\\d+)\\.txt".r
    val nums = if (!f.exists(dir)) Seq.empty else
      f.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
        case re(v) => Some(v.toInt)
        case _ => None
      })
    if (nums.isEmpty) 0 else nums.max + 1
  }

  /** Commit onto a BRANCH: writes the manifest into the shared linear
    * number space and moves the branch head — `_current` (main) does not
    * move, so main readers never see staged commits (the write side of
    * write-audit-publish). Optimistic check against the branch head. */
  def commitBranch(spark: SparkSession, root: String, m0: Manifest,
                   branch: String, expectedHead: Int, op: String = ""): Int = {
    val m = GeoBloom.withBlooms(spark, root, // Spark job: before the lock
      m0.copy(op = Option(op).filter(_.nonEmpty)))
    withCommitLock(root) {
      val r = refs(spark, root)
      val b = r.branches.getOrElse(branch, throw new IllegalArgumentException(
        s"no branch '$branch' on $root (branches: ${r.branches.keys.toSeq.sorted.mkString(", ")})"))
      if (b.head != expectedHead)
        throw new java.util.ConcurrentModificationException(
          s"branch '$branch' of $root moved to ${b.head} while this operation " +
            s"was based on $expectedHead; re-read and retry")
      val fixed = remapVersion(spark, root, m).copy(parent = expectedHead)
      writeManifestFile(spark, root, fixed)
      writeRefs(spark, root, r.copy(branches =
        r.branches + (branch -> b.copy(head = fixed.version))))
      fixed.version
    }
  }

  /** The one on-disk layout: the list file's and every shard file's first
    * line. A table written under any other layout fails its read (see
    * [[requireHeader]]) rather than being misparsed. */
  private val Format = 10
  private val ManifestHeader = s"graftgeo\t$Format"
  private val ShardHeader = s"graftshard\t$Format"

  /** Fixed positions: path, rows, bbox, addedAt, spec, the saw-null bits
    * (bit i = transform i's source column held a NULL in this file; `-`
    * when unknown), then the per-transform min/max pairs. */
  private def fileLine(e: FileEntry): String = {
    val nulls =
      if (e.pstats.nonEmpty && e.pnulls.length == e.pstats.length)
        e.pnulls.zipWithIndex.foldLeft(0L) {
          case (acc, (true, i)) => acc | (1L << i)
          case (acc, _) => acc
        }.toString
      else "-"
    val ps = e.pstats.map { case (a, b) => s"\t$a\t$b" }.mkString
    s"file\t${e.path}\t${e.rows}\t${e.xmin}\t${e.ymin}\t${e.xmax}\t${e.ymax}" +
      s"\t${e.addedAt}\t${e.spec}\t$nulls$ps\n"
  }

  /** Files-per-shard for manifest lists. Below this many entries the
    * file list stays inline — the measured envelope
    * (ManifestScale) holds one text read to ~1M files, but every commit
    * rewrites it all; sharding makes commits O(changed files). */
  def shardSize(spark: SparkSession): Int =
    spark.conf.get("spark.graft.manifest.shardSize", "25000").toInt

  /** Write shard files for `m.files` and return (name, count) list lines.
    * Base shards whose entries all survive verbatim are referenced
    * unchanged; shards at or below ss/4 entries are folded back into the
    * fresh pool so repeated single-file appends cannot grow the shard
    * list without bound (amortized O(ss) rewrite per commit). */
  private def writeShards(f: FileSystem, root: String, m: Manifest, ss: Int): Seq[ShardRef] = {
    // Identity-based coverage: derived manifests share FileEntry
    // INSTANCES with the base they were read from (every mutation is a
    // copy() around the read file list), so membership checks need no
    // string hashing over a million paths. A shard is reusable iff every
    // one of its entry instances appears in m.files — an entry that was
    // rebuilt structurally rather than carried over just misses, and its
    // shard is rewritten: always correct, only less incremental.
    val shardOf = new java.util.IdentityHashMap[FileEntry, ShardRef](m.files.length * 2)
    m.baseShards.foreach(s => s.entries.foreach(e => shardOf.put(e, s)))
    val present = new java.util.IdentityHashMap[ShardRef, Array[Int]]()
    m.files.foreach { e =>
      val s = shardOf.get(e)
      if (s != null) present.computeIfAbsent(s, _ => Array(0))(0) += 1
    }
    def reusable(s: ShardRef): Boolean =
      s.entries.length > ss / 4 && {
        val c = present.get(s); c != null && c(0) == s.entries.length
      }
    val reused = m.baseShards.filter(reusable)
    val fresh = m.files.filter { e =>
      val s = shardOf.get(e); s == null || !reusable(s)
    }
    val freshRefs = fresh.grouped(ss).map { es =>
      val name = s"s-${java.util.UUID.randomUUID().toString.take(13)}.txt"
      val sb = new StringBuilder(ShardHeader).append('\n')
      es.foreach(e => sb ++= fileLine(e))
      writeText(f, new Path(root, s"_manifests/$name"), sb.toString)
      ShardRef(name, es)
    }.toSeq
    reused ++ freshRefs
  }

  def write(spark: SparkSession, root: String, m0: Manifest, op: String = ""): Unit =
    write0(spark, root, GeoBloom.withBlooms(spark, root,
      m0.copy(op = Option(op).filter(_.nonEmpty))))

  /** [[write]] minus the bloom hook — [[commit]] hooks before its lock. */
  private def write0(spark: SparkSession, root: String, m0: Manifest): Unit = {
    writeManifestFile(spark, root, m0)
    writeText(fs(spark, root), new Path(root, "_current"), m0.version.toString)
  }

  /** The manifest (and its shards) WITHOUT the `_current` flip — branch
    * commits publish through their ref instead of the main pointer. */
  private def writeManifestFile(spark: SparkSession, root: String, m0: Manifest): Unit = {
    val f = fs(spark, root)
    val ss = shardSize(spark)
    // stamp data sequence numbers AND partition-spec ids: entries built
    // this commit carry the sentinels -1 and become this version / the
    // current spec; carried-over entries keep theirs. Copies touch ONLY
    // fresh entries, so the identity-based shard-reuse check still
    // recognizes every carried-over instance.
    val stamped = m0.files.map(e =>
      if (e.addedAt < 0 || e.spec < 0)
        e.copy(addedAt = if (e.addedAt < 0) m0.version else e.addedAt,
               spec = if (e.spec < 0) m0.specId else e.spec)
      else e)
    // an equality delete that no remaining file predates can never match
    // again (future files always get higher sequence numbers) — and one
    // whose key range misses every remaining file's range is equally
    // dead: GC both here. Range applicability resolves each file's OWN
    // spec's transforms (the stamped list shares specs with m0).
    val liveEq = m0.eqDeletes.filter(e => stamped.exists(f => m0.eqApplies(e, f)))
    val m = m0.copy(files = stamped, eqDeletes = liveEq)
    val lines = new StringBuilder(ManifestHeader).append('\n')
    // always stamp NOW: manifests are derived from the base via copy(),
    // and inheriting the base's commit ts would corrupt the history order
    lines ++= s"ts\t${System.currentTimeMillis()}\n"
    lines ++= s"parent\t${m.parent}\n"
    // operation provenance (Iceberg snapshot-summary `operation` analog);
    // absent = a tool's direct write
    m.op.foreach { o => lines ++= s"op\t$o\n" }
    // CHECK constraints (Delta-parity), enforced by every writer that
    // reads this manifest; the SQL text is tab/newline-free by the ADD
    // CONSTRAINT verb's contract
    m.checks.foreach { case (n, sql) => lines ++= s"check\t$n\t$sql\n" }
    // cherry-picked source snapshot ids (Iceberg source-snapshot-id
    // tracking): the idempotence record that survives OPTIMIZE retiring
    // the picked files' paths
    if (m.picked.nonEmpty)
      lines ++= s"picked\t${m.picked.toSeq.sorted.mkString(",")}\n"
    // user table properties (Iceberg/Delta TBLPROPERTIES analog). They
    // ride EVERY commit via copy(), so a property set and the data change
    // it describes can share one atomic commit (setProperties validates
    // keys/values newline-free and keys tab-free; values rejoin on read
    // like `check` lines, so embedded tabs survive)
    m.props.toSeq.sortBy(_._1).foreach { case (k, v) =>
      lines ++= s"prop\t$k\t$v\n"
    }
    lines ++= s"schema\t${m.schema.json}\n"
    lines ++= s"geom\t${m.geomCol.getOrElse("--")}\n"
    m.dropped.foreach { d => lines ++= s"dropped\t$d\n" }
    m.streamCommits.toSeq.sortBy(_._1).foreach { case (sink, batch) =>
      lines ++= s"stream\t$sink\t$batch\n"
    }
    m.partitions.foreach { p => lines ++= s"partition\t${p.encode}\n" }
    // spec evolution bookkeeping: `curspec` names the id of the CURRENT
    // spec (the `partition` lines above); each `spec` line is a retired
    // spec's full transform list, tab-separated
    lines ++= s"curspec\t${m.specId}\n"
    m.pastSpecs.toSeq.sortBy(_._1).foreach { case (id, ts) =>
      lines ++= (s"spec\t$id" + ts.map(t => s"\t${t.encode}").mkString + "\n")
    }
    if (m.files.length >= ss)
      writeShards(f, root, m, ss).foreach { s =>
        lines ++= s"shard\t${s.name}\t${s.entries.length}\n"
      }
    else m.files.foreach { e => lines ++= fileLine(e) }
    m.deletes.foreach { d => lines ++= s"delete\t${d.path}\t${d.rows}\n" }
    m.eqDeletes.foreach { e =>
      // optional trailing kmin/kmax for the leading key column, then the
      // tail columns' ranges as further pairs, '-' marking a column with
      // no long embedding; no range at all = applies everywhere
      val range = (e.kmin, e.kmax) match {
        case (Some(a), Some(b)) =>
          val tail = e.kranges.map {
            case Some((lo, hi)) => s"\t$lo\t$hi"
            case None => "\t-\t-"
          }.mkString
          s"\t$a\t$b$tail"
        case _ => ""
      }
      lines ++= s"eqdelete\t${e.path}\t${e.rows}\t${e.version}\t${e.cols.mkString(",")}$range\n"
    }
    m.colStats.toSeq.sortBy(_._1).foreach { case (c, s) =>
      val mm = (s.min, s.max) match {
        case (Some(a), Some(b)) => s"\t$a\t$b"
        case _ => ""
      }
      lines ++= s"colstat\t$c\t${s.ndv}\t${s.nulls}$mm\n"
    }
    m.bloomCols.foreach { s =>
      lines ++= s"bloomspec\t${s.col}\t${s.fpp}\t${s.items}\n"
    }
    m.blooms.foreach { e =>
      lines ++= s"bloom\t${e.path}\t${e.cols.mkString(",")}\n"
    }
    // integrity trailer: the CRC32 of every preceding byte, so any
    // in-file mangling — tag OR field bytes — or a torn tail fails the
    // read loudly instead of silently dropping or misparsing a line
    val crc = new java.util.zip.CRC32()
    crc.update(lines.toString.getBytes(StandardCharsets.UTF_8))
    lines ++= f"end\t${crc.getValue}%08x\n"
    // manifest first (immutable, new name); the caller flips the pointer
    // (`_current` for main commits, the branch ref for branch commits)
    // last. The main flip is an in-place truncate+write of a few bytes;
    // readers that race it (a streaming source polling latestOffset) can
    // catch the truncated window or a checksum tear — currentVersion
    // retries those as transient instead of failing the stream.
    writeTextExclusive(f, new Path(root, s"_manifests/m${m.version}.txt"), lines.toString)
  }

  def read(spark: SparkSession, root: String): Manifest = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no GeoTable at $root (missing _current)"))
    readVersion(spark, root, v)
  }

  /** Fail a manifest or shard file whose first line is not this
    * library's one layout header: a table written in an earlier layout is
    * refused, never guessed at. */
  private def requireHeader(text: String, header: String, file: String, root: String): Unit =
    if (!text.startsWith(header + "\n"))
      throw new IllegalArgumentException(
        s"$file at $root starts with '${text.takeWhile(_ != '\n').take(40)}', not " +
          s"'${header.replace('\t', ' ')}': it is in a manifest layout this library " +
          "does not read; rewrite the table (export its rows with the library " +
          "version that wrote it and create the table anew)")

  private def badLine(file: String, root: String, line: String) =
    new IllegalArgumentException(s"bad manifest line in $file at $root: '$line'")

  /** The body lines of manifest `m<v>.txt`: the header is checked and the
    * mandatory `end` trailer verified against the CRC32 of every byte
    * before it; both are stripped. */
  private def manifestLines(f: FileSystem, root: String, v: Int): Array[String] = {
    val file = s"m$v.txt"
    val text = readText(f, new Path(root, s"_manifests/$file"))
    requireHeader(text, ManifestHeader, file, root)
    val endAt = text.lastIndexOf("\nend\t")
    require(endAt >= 0, s"manifest $file at $root has no end trailer (torn write)")
    val nl = text.indexOf('\n', endAt + 1)
    val stop = if (nl < 0) text.length else nl
    require(text.substring(stop).forall(_ == '\n'),
      s"manifest $file at $root has content after its end trailer " +
        "(torn or tampered write)")
    val crc = new java.util.zip.CRC32()
    crc.update(text.substring(0, endAt + 1).getBytes(StandardCharsets.UTF_8))
    require(f"${crc.getValue}%08x" == text.substring(endAt + "\nend\t".length, stop),
      s"manifest $file at $root fails its end checksum (corrupted or torn write)")
    text.substring(0, endAt).split('\n').drop(1)
  }

  /** (ts, parent, op) from the fixed first lines of a manifest body. */
  private def header(lines: Array[String], file: String, root: String)
      : (Long, Int, Option[String]) = {
    def tagged(i: Int, tag: String): Option[String] =
      lines.lift(i).filter(_.startsWith(tag + "\t")).map(_.substring(tag.length + 1))
    def missing(tag: String) =
      new IllegalArgumentException(s"manifest $file at $root has no $tag line")
    (tagged(0, "ts").getOrElse(throw missing("ts")).toLong,
      tagged(1, "parent").getOrElse(throw missing("parent")).toInt,
      tagged(2, "op"))
  }

  /** One `file` line in the positional layout of [[fileLine]]. */
  private def parseFileEntry(parts: Array[String], file: String, root: String): FileEntry = {
    def bad = badLine(file, root, parts.mkString("\t"))
    if (parts.length < 10) throw bad
    val ps = parts.drop(10).grouped(2).map {
      case Array(a, b) => (a.toLong, b.toLong)
      case _ => throw bad
    }.toSeq
    val pn =
      if (parts(9) == "-") Seq.empty[Boolean]
      else {
        val bits = parts(9).toLong
        ps.indices.map(i => (bits & (1L << i)) != 0L)
      }
    FileEntry(parts(1), parts(2).toLong,
      parts(3).toDouble, parts(4).toDouble, parts(5).toDouble, parts(6).toDouble,
      ps, parts(7).toInt, pn, parts(8).toInt)
  }

  /** Read shard files, in parallel — a 1M-file table is ~40 shard
    * reads, and on remote filesystems the per-file round-trip dominates.
    * Each shard must hold the entry count its `shard` line records, so a
    * shard cut at a line boundary fails instead of reading short. */
  private def readShards(f: FileSystem, root: String, v: Int,
                         names: Seq[(String, Int)]): Seq[ShardRef] = {
    if (names.isEmpty) return Seq.empty
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(8, names.length))
    try {
      val futs = names.map { case (n, count) =>
        pool.submit(new java.util.concurrent.Callable[ShardRef] {
          override def call(): ShardRef = {
            val file = s"$n (shard of m$v.txt)"
            val text = readText(f, new Path(root, s"_manifests/$n"))
            requireHeader(text, ShardHeader, file, root)
            val entries = text.split('\n').toSeq.drop(1).map { line =>
              val parts = line.split('\t')
              if (parts(0) != "file") throw badLine(file, root, line)
              parseFileEntry(parts, file, root)
            }
            require(entries.length == count,
              s"$file at $root holds ${entries.length} entries but m$v.txt records " +
                s"$count (truncated or tampered shard)")
            ShardRef(n, entries)
          }
        })
      }
      // surface a bad shard's own error (it names the file), not the wrapper
      futs.map { fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }

  def readVersion(spark: SparkSession, root: String, v: Int): Manifest = {
    val f = fs(spark, root)
    val file = s"m$v.txt"
    val lines = manifestLines(f, root, v)
    val (commitTs, parent, op) = header(lines, file, root)
    var schema: StructType = null
    var geomCol: Option[String] = None
    val files = Seq.newBuilder[FileEntry]
    val shardNames = Seq.newBuilder[(String, Int)]
    val deletes = Seq.newBuilder[DeleteEntry]
    val eqDeletes = Seq.newBuilder[EqDeleteEntry]
    val partitions = Seq.newBuilder[GeoPartition.PTransform]
    val dropped = Seq.newBuilder[String]
    val streams = Map.newBuilder[String, Long]
    val colStats = Map.newBuilder[String, ColStat]
    var specId = 0
    val pastSpecs = Map.newBuilder[Int, Seq[GeoPartition.PTransform]]
    val bloomCols = Seq.newBuilder[GeoBloom.BloomSpec]
    val blooms = Seq.newBuilder[GeoBloom.BloomEntry]
    val checks = Seq.newBuilder[(String, String)]
    var picked = Set.empty[Int]
    var props = Map.empty[String, String]
    lines.drop(if (op.isEmpty) 2 else 3).foreach { line =>
      val parts = line.split('\t')
      parts(0) match {
        case "schema" =>
          schema = org.apache.spark.sql.types.DataType.fromJson(
            line.substring("schema\t".length)).asInstanceOf[StructType]
        case "geom" => geomCol = Some(parts(1)).filter(_ != "--")
        // rejoin defensively even though the verb forbids tabs in the SQL
        case "check" => checks += parts(1) -> parts.drop(2).mkString("\t")
        case "picked" => picked ++= parts(1).split(',').map(_.toInt)
        // value rejoins on tabs (like `check`); a trailing empty value
        // drops its split cell, so absent parts(2) reads as ""
        case "prop" =>
          props += parts(1) -> (if (parts.length > 2) parts.drop(2).mkString("\t") else "")
        case "dropped" => dropped += parts(1)
        case "stream" => streams += parts(1) -> parts(2).toLong
        case "file" => files += parseFileEntry(parts, file, root)
        case "shard" => shardNames += parts(1) -> parts(2).toInt
        case "delete" => deletes += DeleteEntry(parts(1), parts(2).toLong)
        case "eqdelete" =>
          val kranges =
            if (parts.length >= 9) parts.drop(7).grouped(2).collect {
              case Array("-", "-") => None
              case Array(a, b) => Some((a.toLong, b.toLong))
            }.toSeq
            else Seq.empty[Option[(Long, Long)]]
          eqDeletes += EqDeleteEntry(parts(1), parts(2).toLong,
            parts(4).split(',').toSeq, parts(3).toInt,
            kmin = if (parts.length >= 7) Some(parts(5).toLong) else None,
            kmax = if (parts.length >= 7) Some(parts(6).toLong) else None,
            kranges = kranges)
        case "partition" => partitions += GeoPartition.decode(parts(1))
        case "curspec" => specId = parts(1).toInt
        case "spec" =>
          pastSpecs += parts(1).toInt -> parts.drop(2).map(GeoPartition.decode).toSeq
        case "colstat" =>
          colStats += parts(1) -> ColStat(parts(2).toLong, parts(3).toLong,
            if (parts.length >= 6) Some(parts(4).toLong) else None,
            if (parts.length >= 6) Some(parts(5).toLong) else None)
        case "bloomspec" =>
          bloomCols += GeoBloom.BloomSpec(parts(1), parts(2).toDouble, parts(3).toLong)
        case "bloom" =>
          blooms += GeoBloom.BloomEntry(parts(1), parts(2).split(',').toSeq)
        case _ => throw badLine(file, root, line)
      }
    }
    require(schema != null, s"manifest $file at $root has no schema line")
    GeoSchema.validate(schema)
    val shards = readShards(f, root, v, shardNames.result())
    shards.foreach(s => files ++= s.entries)
    Manifest(v, schema, geomCol, files.result(), dropped.result(), streams.result(),
      commitTs, deletes.result(), partitions.result(), shards, eqDeletes.result(),
      parent, colStats.result(), pastSpecs.result(), specId,
      bloomCols.result(), blooms.result(), op, checks.result(), picked, props)
  }

  /** (commit ts, lineage parent, op) of snapshot `v` from its manifest's
    * fixed first lines — lineage/timestamp resolution loops over versions
    * (TIMESTAMP AS OF, history, ancestry walks), so this must not parse
    * the schema or resolve shard files. */
  private[graft] def headerOf(spark: SparkSession, root: String, v: Int)
      : (Long, Int, Option[String]) =
    header(manifestLines(fs(spark, root), root, v), s"m$v.txt", root)

  /** Commit wall-clock of snapshot `v` (see [[headerOf]]). */
  def commitTsOf(spark: SparkSession, root: String, v: Int): Long =
    headerOf(spark, root, v)._1

  /** Lineage parent of snapshot `v`; -1 for a root commit. */
  def parentOf(spark: SparkSession, root: String, v: Int): Int =
    headerOf(spark, root, v)._2

  /** Whether snapshot `v`'s manifest is still on disk (not vacuumed). */
  def hasVersion(spark: SparkSession, root: String, v: Int): Boolean =
    fs(spark, root).exists(new Path(root, s"_manifests/m$v.txt"))

  /** Ancestor versions of `top` (inclusive), NEWEST FIRST, following the
    * in-manifest parent lineage; stops at the root commit or at the first
    * vacuumed (missing) manifest. This — never a consecutive-number
    * scan — defines committed history: branch-staged manifests that main
    * slid past and torn orphans from crashed commits live in the same
    * `_manifests` dir but are no snapshot's ancestor, so changelogs,
    * TIMESTAMP AS OF and the metadata tables never see them. */
  def ancestry(spark: SparkSession, root: String, top: Int): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var v = top
    while (v >= 0 && hasVersion(spark, root, v)) {
      out += v
      val p = parentOf(spark, root, v)
      require(p < v, s"corrupt lineage at $root: m$v.txt claims parent $p")
      v = p
    }
    out.result()
  }

  /** One writable branch ref: `head` is the branch's latest committed
    * snapshot, `base` the MAIN version it forked from — publish
    * (fast-forward) requires main to still sit at `base`. */
  final case class BranchRef(head: Int, base: Int)

  /** The `_refs` file: immutable tags + movable branches. Both PIN their
    * snapshot: vacuum keeps a ref'd version's manifest and files alive
    * regardless of the retention window. */
  final case class Refs(tags: Map[String, Int] = Map.empty,
                        branches: Map[String, BranchRef] = Map.empty) {
    /** `VERSION AS OF 'name'` resolution: tags win on a name clash. */
    def versionOf(name: String): Option[Int] =
      tags.get(name).orElse(branches.get(name).map(_.head))
    def names: Seq[String] = (tags.keys ++ branches.keys).toSeq.sorted
    /** Versions vacuum must keep alive. */
    def pinned: Set[Int] = tags.values.toSet ++ branches.values.map(_.head)
    def isEmpty: Boolean = tags.isEmpty && branches.isEmpty
  }

  /** Named snapshot refs from the `_refs` file. Small file,
    * torn-write-safe via one re-read. */
  def refs(spark: SparkSession, root: String): Refs = {
    val f = fs(spark, root)
    val p = new Path(root, "_refs")
    if (!f.exists(p)) return Refs()
    def parse(): Refs = {
      val tags = Map.newBuilder[String, Int]
      val branches = Map.newBuilder[String, BranchRef]
      readText(f, p).split('\n').filter(_.nonEmpty).foreach { line =>
        val parts = line.split('\t')
        parts(0) match {
          case "tag" if parts.length == 3 => tags += parts(1) -> parts(2).toInt
          case "branch" if parts.length == 4 =>
            branches += parts(1) -> BranchRef(parts(2).toInt, parts(3).toInt)
          case _ => throw new IllegalArgumentException(s"bad _refs line: '$line'")
        }
      }
      Refs(tags.result(), branches.result())
    }
    try parse() catch { case scala.util.control.NonFatal(_) => parse() }
  }

  /** Tag refs only (see [[refs]] for the full set). */
  def tags(spark: SparkSession, root: String): Map[String, Int] =
    refs(spark, root).tags

  private[tables] def writeRefs(spark: SparkSession, root: String, r: Refs): Unit = {
    val f = fs(spark, root)
    val p = new Path(root, "_refs")
    if (r.isEmpty) { f.delete(p, false); () }
    else writeText(f, p,
      r.tags.toSeq.sortBy(_._1).map { case (n, v) => s"tag\t$n\t$v\n" }.mkString +
        r.branches.toSeq.sortBy(_._1).map { case (n, b) =>
          s"branch\t$n\t${b.head}\t${b.base}\n" }.mkString)
  }

  private[tables] def writeTags(spark: SparkSession, root: String,
                                t: Map[String, Int]): Unit =
    writeRefs(spark, root, refs(spark, root).copy(tags = t))

  /** Newest committed snapshot whose commit timestamp is <= `cutoffMs` —
    * the `TIMESTAMP AS OF` resolution rule. Only `_current`'s ANCESTRY
    * counts: a manifest written by a failed commit (no pointer flip) or
    * staged on a branch is not a committed main snapshot, even when its
    * number sits below `_current` (main slid past it). */
  def versionAsOf(spark: SparkSession, root: String, cutoffMs: Long): Int = {
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no GeoTable at $root"))
    val versions = ancestry(spark, root, cur)
      .filter(v => commitTsOf(spark, root, v) <= cutoffMs)
    require(versions.nonEmpty,
      s"no snapshot of $root as of ${java.time.Instant.ofEpochMilli(cutoffMs)}")
    versions.max
  }

  /** Newest committed snapshot STRICTLY BEFORE `cutoffMs` — the
    * EXCLUSIVE-start rule the incremental reads share (a changelog or
    * stream starting here includes every commit at/after the cutoff,
    * the Iceberg stream-from-timestamp contract). 0 when every commit
    * is at/after the cutoff (replay everything). */
  def versionBefore(spark: SparkSession, root: String, cutoffMs: Long): Int = {
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no GeoTable at $root"))
    ancestry(spark, root, cur)
      .filter(v => commitTsOf(spark, root, v) < cutoffMs)
      .maxOption.getOrElse(0)
  }

  /** A user-supplied timestamp option: epoch millis or an ISO-8601
    * instant. One parser for every incremental-read surface. */
  def parseTsMillis(raw: String): Long =
    raw.trim.toLongOption.getOrElse(java.time.Instant.parse(raw.trim).toEpochMilli)

  // -------------------------------------------------------------------------
  // Stats collection
  // -------------------------------------------------------------------------

  /** Bound expressions computing per-row write-side stats — optionally a
    * bbox struct over the geometry column first, then each partition/stats
    * transform as LongType — bound against the TABLE schema so
    * [[GeoCowDataWriterFactory]] can evaluate them on the projected row
    * executor-side with no session. Returns (exprs, hasBbox). */
  def boundStatsExprs(spark: SparkSession, schema: StructType,
                      geomCol: Option[String],
                      partitions: Seq[GeoPartition.PTransform])
      : (Seq[org.apache.spark.sql.catalyst.expressions.Expression], Boolean) = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.graft.GraftShim
    val bboxCol = geomCol.map(g =>
      GraftShim.column(graft.functions.StBbox(GraftShim.expression(col(g)))))
    val cols = bboxCol.toSeq ++ partitions.map(t => GeoPartition.transformCol(t, schema))
    if (cols.isEmpty) return (Seq.empty, false)
    val df = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema).select(cols: _*)
    val pr = df.queryExecution.analyzed.asInstanceOf[Project]
    val exprs = pr.projectList.map {
      case a: Alias => a.child
      case e => e
    }.map(_.transformDown {
      // the analyzer leaves RuntimeReplaceable nodes (to_date, ...) for
      // the optimizer to rewrite; these exprs bypass the optimizer, so
      // apply the replacement here — eval on the original node asserts
      case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
        r.replacement
    }).map(e => BindReferences.bindReference(e, pr.child.output))
    (exprs, bboxCol.isDefined)
  }

  /**
   * CHECK constraints as bound boolean expressions for the row writer
   * ([[boundStatsExprs]]'s analysis recipe): each constraint's SQL text
   * analyzes against the TABLE schema, RuntimeReplaceable nodes rewrite
   * (these expressions bypass the optimizer), and the result binds to
   * schema ordinals — the writer evaluates them on the projected data
   * row, so every write path (path verbs, DSv2 batch, streaming sink,
   * CoW DML rewrites) enforces identically. SQL semantics: only a FALSE
   * evaluation violates; UNKNOWN (null) passes.
   */
  def boundCheckExprs(spark: SparkSession, schema: StructType,
                      checks: Seq[(String, String)])
      : Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = {
    if (checks.isEmpty) return Seq.empty
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    checks.map { case (name, sql) =>
      val cond = empty.where(expr(sql)).queryExecution.analyzed
        .asInstanceOf[Filter]
      val e = cond.condition.transformDown {
        case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
          r.replacement
      }
      name -> BindReferences.bindReference(e, cond.child.output)
    }
  }

  /** Fresh entries whose stats were recorded under `base`'s partition
    * spec, about to be committed onto `fresh` (writers that tolerate
    * concurrent commits re-read the manifest at commit time): when a
    * concurrent `SET PARTITIONED BY` changed the current spec in
    * between, the default stamp-to-current would attribute the entries'
    * positional stats to the WRONG transform list — silent mispruning.
    * Stamp them with the base spec's id when `fresh` still knows it
    * verbatim; otherwise drop their stats entirely (stat-less entries
    * are always kept by pruning and never claim SPJ — conservative). */
  def alignSpec(entries: Seq[FileEntry], base: Manifest, fresh: Manifest): Seq[FileEntry] =
    if (fresh.specId == base.specId && fresh.partitions == base.partitions) entries
    else if (fresh.pastSpecs.get(base.specId).contains(base.partitions))
      entries.map(_.copy(spec = base.specId))
    else entries.map(_.copy(pstats = Seq.empty, pnulls = Seq.empty))

  /** FileEntries straight from the writers' inline stats when every
    * non-empty commit message carries them (the write-side stats path —
    * no read-back scan); falls back to [[collectStats]] otherwise. The
    * semantics match collectStats exactly: NaN bbox when no geometry was
    * seen, and NO pstats when any transform saw only nulls (the
    * conservative always-keep direction for pruning). */
  def entriesFromMessages(spark: SparkSession, schema: StructType,
                          messages: Seq[GeoCowCommitMessage],
                          geomCol: Option[String],
                          partitions: Seq[GeoPartition.PTransform]): Seq[FileEntry] = {
    val nonEmpty = messages.filter(_.rows > 0)
    if (nonEmpty.forall(_.stats.isDefined))
      nonEmpty.map { m =>
        val st = m.stats.get
        val ps =
          if (st.pSeen.length == partitions.length && st.pSeen.forall(identity))
            st.pmins.zip(st.pmaxs).toSeq
          else Seq.empty[(Long, Long)]
        val pn = if (ps.nonEmpty && st.pNull.length == ps.length) st.pNull.toSeq
                 else Seq.empty[Boolean]
        FileEntry(m.path, m.rows, st.xmin, st.ymin, st.xmax, st.ymax, ps, pnulls = pn)
      }
    else collectStats(spark, schema, nonEmpty.map(_.path), geomCol, partitions)
  }

  /** Per-file row counts + geometry bbox for freshly written files: one
    * distributed scan grouped by `input_file_name()` (the write-side stats
    * collection Iceberg does inline; kept as the fallback/read-back path —
    * [[entriesFromMessages]] uses writer-collected stats when present). */
  def collectStats(spark: SparkSession, schema: StructType,
                   paths: Seq[String], geomCol: Option[String],
                   partitions: Seq[GeoPartition.PTransform] = Seq.empty): Seq[FileEntry] = {
    if (paths.isEmpty) return Seq.empty
    import graft.functions.GraftFunctions._
    val df = spark.read.schema(schema).parquet(paths: _*)
      .withColumn("__graft_file", input_file_name())
    // ONE stats pass: row count + bbox + partition-transform min/max
    val bboxAggs = geomCol match {
      case Some(g) => Seq(
        min(st_xmin(col(g))).as("xmin"), min(st_ymin(col(g))).as("ymin"),
        max(st_xmax(col(g))).as("xmax"), max(st_ymax(col(g))).as("ymax"))
      case None => Seq(
        min(lit(Double.NaN)).as("xmin"), min(lit(Double.NaN)).as("ymin"),
        max(lit(Double.NaN)).as("xmax"), max(lit(Double.NaN)).as("ymax"))
    }
    val pAggs = partitions.zipWithIndex.flatMap { case (t, i) =>
      val tc = GeoPartition.transformCol(t, schema)
      // count(tc) skips nulls: rows > count ⇒ the transform saw a null
      Seq(min(tc).as(s"__p${i}min"), max(tc).as(s"__p${i}max"),
        count(tc).as(s"__p${i}cnt"))
    }
    val aggs = Seq(count(lit(1)).as("rows")) ++ bboxAggs ++ pAggs
    val grouped = df.groupBy("__graft_file").agg(aggs.head, aggs.tail: _*)
    val byKey = grouped.collect().map { r =>
      def d(n: String): Double =
        Option(r.get(r.fieldIndex(n))).fold(Double.NaN)(_ => r.getDouble(r.fieldIndex(n)))
      val ps = partitions.indices.map { i =>
        val lo = r.get(r.fieldIndex(s"__p${i}min"))
        val hi = r.get(r.fieldIndex(s"__p${i}max"))
        if (lo == null || hi == null) null
        else (lo.asInstanceOf[Long], hi.asInstanceOf[Long])
      }
      val rowsN = r.getLong(r.fieldIndex("rows"))
      // an all-null partition value in any transform → no pstats for the
      // file (it is always kept by pruning, the conservative direction)
      val pstats = if (ps.exists(_ == null)) Seq.empty[(Long, Long)] else ps.toSeq
      val pnulls =
        if (pstats.isEmpty) Seq.empty[Boolean]
        else partitions.indices.map(i =>
          r.getLong(r.fieldIndex(s"__p${i}cnt")) < rowsN)
      norm(r.getString(0)) -> (rowsN,
        d("xmin"), d("ymin"), d("xmax"), d("ymax"), pstats, pnulls)
    }.toMap
    // a written file with zero rows (possible from empty partitions) still
    // needs an entry so the manifest's file list matches the directory
    paths.map { p =>
      byKey.get(norm(p)) match {
        case Some((rows, x0, y0, x1, y1, ps, pn)) =>
          FileEntry(p, rows, x0, y0, x1, y1, ps, pnulls = pn)
        case None => FileEntry(p, 0L, Double.NaN, Double.NaN, Double.NaN, Double.NaN)
      }
    }
  }

  /** List the part files of a freshly written parquet commit dir. */
  def listParquet(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    f.listStatus(new Path(dir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
  }
}
