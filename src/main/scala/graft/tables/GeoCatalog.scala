package graft.tables

import graft.tables.GeoManifest.Manifest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/**
 * DataSourceV2 `TableCatalog` over a warehouse of GeoTables — the catalog
 * leg of the reference's table stack (reference: extension/src/test/scala/
 * org/apache/iceberg/TestSedonaIcebergExtension.scala:44-53 configures
 * `spark.sql.catalog.demo` so its spatial tables resolve as real catalog
 * tables; example/.../App.scala:71-72 runs `CACHE TABLE` against one).
 *
 * Register on any session — at build time or dynamically:
 * {{{
 *   spark.conf.set("spark.sql.catalog.geo", classOf[GeoCatalog].getName)
 *   spark.conf.set("spark.sql.catalog.geo.warehouse", "/data/geo_warehouse")
 * }}}
 * then `SELECT * FROM geo.db.t`, `SHOW TABLES IN geo.db`, `DESCRIBE TABLE
 * geo.db.t`, `CACHE TABLE`, `INSERT INTO`, `CREATE TABLE ... USING geo`,
 * CTAS, `DROP TABLE` — and since round 10 also `UPDATE`, `DELETE FROM`
 * and `MERGE INTO` (SupportsRowLevelOperations group-based copy-on-write,
 * [[GeoRowLevelOperation]]) — all resolve through Spark's own analyzer;
 * no regex front-end involved anywhere on the catalog path.
 *
 * The catalog is STATELESS over the filesystem: a table exists iff
 * `<warehouse>/<ns...>/<name>/_current` exists, namespaces are directories.
 * Tables created through the SQL front-end (`CREATE TABLE geo.db.t (...)
 * USING GEO`) are therefore immediately visible here and vice versa — one
 * source of truth, the manifest, exactly like an Iceberg warehouse dir.
 *
 * Scale: `loadTable` reads one small manifest text file; scan planning
 * feeds the manifest's file list straight into Spark's parquet scan
 * (vectorized reader, filter pushdown, column pruning — everything the
 * native path has). No directory listing of data dirs ever happens on the
 * read path beyond resolving the manifest's explicit file list.
 */
class GeoCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
  with ViewCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/")).getOrElse(
      throw new IllegalArgumentException(
        s"GeoCatalog '$name' needs a warehouse: set spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** Column DEFAULTs are first-class: Spark's parser then accepts the
    * DEFAULT clause in CREATE TABLE / ALTER TABLE for this catalog and
    * delivers it on the V2 column / TableChange, where createTable's
    * schema conversion and alterTable's AddColumn handling persist it
    * into the manifest schema's field metadata. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private[tables] def tableRoot(ident: Identifier): String =
    (warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/")

  private def nsPath(namespace: Array[String]): Path =
    new Path((warehouse +: namespace.toSeq).mkString("/"))

  private def fs = GeoManifest.fs(spark, warehouse)

  private def isTableDir(p: Path): Boolean = fs.exists(new Path(p, "_current"))

  // -------------------------------------------------------------------------
  // FunctionCatalog — the partition transforms as resolvable V2 functions
  // (`geo.system.bucket(8, id)` in SQL; write distribution resolution)
  // -------------------------------------------------------------------------

  private def isSystemNs(ns: Array[String]): Boolean =
    ns.isEmpty || (ns.length == 1 && ns(0).equalsIgnoreCase("system"))

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (isSystemNs(namespace))
      GeoFunctions.names.map(n => Identifier.of(Array("system"), n)).toArray
    else throw new NoSuchNamespaceException(catalogName +: namespace)

  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    if (isSystemNs(ident.namespace))
      GeoFunctions.load(ident.name).getOrElse(throw new NoSuchFunctionException(ident))
    else throw new NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean =
    isSystemNs(ident.namespace) && GeoFunctions.load(ident.name).isDefined

  // -------------------------------------------------------------------------
  // ProcedureCatalog -- Iceberg-style maintenance procedures, resolved by
  // Spark's own CALL machinery (ResolveProcedures/BindProcedures)
  // -------------------------------------------------------------------------

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (isSystemNs(namespace))
      GeoProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else if (namespaceExists(namespace)) Array.empty // an existing data
      // namespace simply HOLDS no procedures -- not an unknown namespace
    else throw new NoSuchNamespaceException(catalogName +: namespace)

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    (if (isSystemNs(ident.namespace)) GeoProcedures.load(catalogName, ident.name)
     else None).getOrElse(throw new IllegalArgumentException(
      s"unknown procedure ${ident.toString}; available under $catalogName.system: " +
        GeoProcedures.names.mkString(", ")))

  // -------------------------------------------------------------------------
  // ViewCatalog — persisted SQL views stored beside the table manifests
  // (Iceberg ViewCatalog analog; resolution wiring in GeoViewResolution)
  // -------------------------------------------------------------------------

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!fs.exists(nsPath(ns))) throw new NoSuchNamespaceException(catalogName +: ns)
    GeoViews.list(spark, warehouse, ns.toSeq).map(n => Identifier.of(ns, n)).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    GeoViews.exists(spark, warehouse, ident.namespace.toSeq, ident.name)

  override def loadView(ident: Identifier): View = {
    val d = GeoViews.load(spark, warehouse, ident.namespace.toSeq, ident.name)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    new GeoSparkView(s"$catalogName.${ident.toString}", d)
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    GeoViews.store(spark, warehouse, ident.namespace.toSeq, ident.name,
      GeoViews.ViewDef(info.sql, info.currentCatalog, info.currentNamespace.toSeq,
        info.schema.json, info.properties.asScala.toMap),
      overwrite = false)
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val ns = ident.namespace.toSeq
    val d = GeoViews.load(spark, warehouse, ns, ident.name)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val props = changes.foldLeft(d.properties) {
      case (p, s: ViewChange.SetProperty) => p + (s.property() -> s.value())
      case (p, r: ViewChange.RemoveProperty) => p - r.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"ALTER VIEW: ${other.getClass.getSimpleName} is not supported on " +
          s"$catalogName views (only SET/UNSET TBLPROPERTIES)")
    }
    GeoViews.store(spark, warehouse, ns, ident.name, d.copy(properties = props),
      overwrite = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    GeoViews.delete(spark, warehouse, ident.namespace.toSeq, ident.name)

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val d = GeoViews.load(spark, warehouse, oldIdent.namespace.toSeq, oldIdent.name)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent))
    if (viewExists(newIdent) || tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    GeoViews.store(spark, warehouse, newIdent.namespace.toSeq, newIdent.name, d,
      overwrite = false)
    GeoViews.delete(spark, warehouse, oldIdent.namespace.toSeq, oldIdent.name): Unit
  }

  // -------------------------------------------------------------------------
  // TableCatalog
  // -------------------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(catalogName +: namespace)
    fs.listStatus(dir).filter(s => s.isDirectory && isTableDir(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName)).sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    GeoManifest.currentVersion(spark, tableRoot(ident)).isDefined

  override def loadTable(ident: Identifier): Table = {
    val root = tableRoot(ident)
    if (GeoManifest.currentVersion(spark, root).isDefined)
      new GeoV2Table(s"$catalogName.${ident.toString}", root,
        GeoManifest.read(spark, root))
    else metaTable(ident).getOrElse(throw new NoSuchTableException(ident))
  }

  /** Iceberg-style metadata tables: `SELECT * FROM geo.db.t.snapshots`
    * (one row per committed manifest) and `geo.db.t.files` (current
    * snapshot's data files with row counts and bbox stats). Real tables
    * shadow metadata names — this only resolves when `ident` itself is
    * not a table but its parent is. */
  private def metaTable(ident: Identifier): Option[Table] = {
    val kind = ident.name.toLowerCase
    if (ident.namespace.isEmpty ||
        !(GeoMetaTable.Kinds.contains(kind) || kind == "changes" ||
          kind.startsWith("branch_"))) return None
    val proot = (warehouse +: ident.namespace.toSeq).mkString("/")
    GeoManifest.currentVersion(spark, proot).flatMap { cur =>
      if (kind.startsWith("branch_")) {
        // `geo.db.t.branch_<name>` — the branch as a writable table:
        // SELECT reads the staged head, INSERT INTO appends a staged
        // commit (Iceberg's branch-write spelling); pure-SQL WAP staging
        val bname = ident.name.substring("branch_".length)
        GeoManifest.refs(spark, proot).branches.get(bname).map { b =>
          new GeoBranchTable(s"$catalogName.${ident.toString}", proot, bname,
            GeoManifest.readVersion(spark, proot, b.head)): Table
        }
      } else if (kind == "changes")
        Some(new GeoChangesTable(s"$catalogName.${ident.toString}", spark, proot, cur))
      else
        Some(new GeoMetaTable(s"$catalogName.${ident.toString}", spark, proot, cur, kind))
    }
  }

  /** `SELECT ... FROM t VERSION AS OF n` — manifest versions are the
    * snapshot ids (Iceberg-style time travel; GeoTable.readAt's SQL leg).
    * A NON-integer version is a named ref: `VERSION AS OF 'ref'` resolves
    * through the table's tags (Iceberg tag refs; vacuum pins tagged
    * snapshots, so a ref outlives the retention window). Snapshots stay
    * resolvable until VACUUM removes their files. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = tableRoot(ident)
    val cur = GeoManifest.currentVersion(spark, root).getOrElse(throw new NoSuchTableException(ident))
    val v = version.trim.toIntOption match {
      case Some(n) =>
        require(n >= 0 && n <= cur,
          s"no snapshot version $n of ${ident.toString} (current is $cur)")
        n
      case None =>
        // a ref may point ABOVE main (a staged branch head) — the
        // manifest exists, only `_current` hasn't caught up
        val r = GeoManifest.refs(spark, root)
        r.versionOf(version.trim).getOrElse(throw new IllegalArgumentException(
          s"'${version.trim}' is neither a snapshot version nor a ref of ${ident.toString}" +
            (if (r.isEmpty) "" else s" (refs: ${r.names.mkString(", ")})")))
    }
    new GeoV2Table(s"$catalogName.${ident.toString}", root, GeoManifest.readVersion(spark, root, v))
  }

  /** `SELECT ... FROM t TIMESTAMP AS OF ts` — resolves to the newest
    * committed manifest whose COMMIT timestamp (the manifest's own `ts`
    * line) is <= ts (the DSv2 contract passes microseconds since epoch).
    * Using the in-manifest timestamp means filesystem copies/restores
    * and clock-skewed writers that reorder mtimes cannot reorder history
    * — same reasoning as Iceberg keeping commit timestamps in table
    * metadata. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val root = tableRoot(ident)
    GeoManifest.currentVersion(spark, root).getOrElse(throw new NoSuchTableException(ident))
    val v = GeoManifest.versionAsOf(spark, root, Math.floorDiv(timestampMicros, 1000L))
    new GeoV2Table(s"$catalogName.${ident.toString}", root,
      GeoManifest.readVersion(spark, root, v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    // a table must not shadow a view: the two resolution paths would
    // return different data for the same name (views win in the injected
    // rule, tables in ResolveRelations) — symmetric with createView's
    // tableExists check
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    // Partition transforms: identity / bucket(n, col) / days|hours|
    // months|years(ts) are NATIVE — writes cluster rows by transform
    // value, the manifest records per-file transform min/max, scans
    // prune files from pushed filters (manifest-first "hidden
    // partitioning", no hive directories). Anything else still gets a
    // targeted migration hint.
    val schemaForPt = StructType(schema.fields.map(GeoCatalog.fromSpatialDdl))
    val (supported, unsupported) = partitions.partition(t =>
      GeoPartition.parseDdl(t, schemaForPt).isRight)
    if (unsupported.nonEmpty) {
      val hints = unsupported.map { t =>
        val reason = GeoPartition.parseDdl(t, schemaForPt).left.getOrElse("")
        val s = t.toString
        val hint =
          if (s.startsWith("truncate")) "materialize the truncated value as a column " +
            "and partition by identity on it"
          else "drop the transform; GeoTable prunes files via the manifest's per-file " +
            "stats after OPTIMIZE (Z-order)"
        s"$s ($reason) -> $hint"
      }
      throw new UnsupportedOperationException(
        s"PARTITIONED BY transform(s) not supported for ${ident.toString}: " +
          hints.mkString("; "))
    }
    val ptransforms = supported.map(t => GeoPartition.parseDdl(t, schemaForPt)
      .getOrElse(throw new IllegalStateException(s"unreachable: $t")))
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val root = Option(properties.get(TableCatalog.PROP_LOCATION)).getOrElse(tableRoot(ident))
    // Spark 4.1's native GEOMETRY DDL type (parser accepts it when
    // spark.sql.geospatial.enabled=true): `CREATE TABLE geo.db.t (geo
    // GEOMETRY) USING geo` arrives here with a GeometryType field — store
    // it as geometry-tagged BINARY (WKB), the engine's stable
    // representation (GeometryType's expression/parquet surface is
    // internal in 4.1; see GeoSchema's scaladoc). GEOMETRY(srid) carries
    // the CRS into the tag. This makes the TBLPROPERTIES
    // ('geometry.column'=...) workaround optional.
    val schema0 = StructType(schema.fields.map(GeoCatalog.fromSpatialDdl))
    // geometry column: explicit table property, else first GEOMETRY-tagged field
    val tagged = Option(properties.get(GeoCatalog.GeomColProp)) match {
      case Some(g) =>
        require(schema0.fieldNames.exists(_.equalsIgnoreCase(g)),
          s"${GeoCatalog.GeomColProp}='$g' is not a column of the table")
        StructType(schema0.fields.map { f =>
          if (f.name.equalsIgnoreCase(g) && !GeoSchema.isGeometry(f)) {
            require(f.dataType == org.apache.spark.sql.types.BinaryType,
              s"geometry column '$g' must be BINARY (WKB), got ${f.dataType.simpleString}")
            f.copy(metadata = GeoSchema.geometryMetadata(base = f.metadata))
          } else f
        })
      case None => schema0
    }
    val geomCol = GeoSchema.geometryColumns(tagged).headOption.map(_._1)
    // stats-only transforms: per-file min/max on eligible non-partition
    // columns (data skipping without layout cost). Default: automatic;
    // TBLPROPERTIES('stats.columns'='a,b') pins the set ('' disables).
    val statsT = Option(properties.get("stats.columns")) match {
      case Some(cols) => cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { c =>
        val f = tagged.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(s"stats.columns: '$c' is not a table column"))
        require(GeoPartition.supports("stats", f.dataType),
          s"stats.columns: '$c' (${f.dataType.simpleString}) has no ordered long embedding")
        GeoPartition.PTransform("stats", 0, f.name)
      }
      case None if spark.conf.get("spark.graft.stats.auto", "true").toBoolean =>
        GeoPartition.statsFor(tagged, ptransforms.toSeq)
      case None => Seq.empty
    }
    // declared write sort order (Iceberg write.sort-order analog):
    // TBLPROPERTIES('sort.order'='c1[,c2...]') — writes cluster by these
    // columns AFTER the layout keys, so their per-file min/max stay
    // tight on every ingest (pruning without OPTIMIZE); no partition
    // tuples, no file rolling, SPJ unaffected
    val sortT = Option(properties.get("sort.order"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { c =>
        val f = tagged.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(s"sort.order: '$c' is not a table column"))
        require(GeoPartition.supports("sort", f.dataType),
          s"sort.order: '$c' (${f.dataType.simpleString}) has no ordered long embedding")
        require(!ptransforms.exists(t => t.layout && t.col.equalsIgnoreCase(c) &&
            t.kind != "bucket"),
          s"sort.order: '$c' already orders the layout via its partition transform")
        GeoPartition.PTransform("sort", 0, f.name)
      }).getOrElse(Seq.empty)
    // per-file bloom filters (point-lookup file skipping):
    // TBLPROPERTIES('bloom.columns'='a,b'[, 'bloom.fpp'=.., 'bloom.items'=..])
    val bloomT = Option(properties.get("bloom.columns"))
      .map(cols => GeoBloom.parseSpecs(spark, tagged, cols,
        Option(properties.get("bloom.fpp")), Option(properties.get("bloom.items"))))
      .getOrElse(Seq.empty)
    // CREATE-time user TBLPROPERTIES: everything not consumed as engine
    // config above and not Spark-injected table metadata rides into the
    // manifest as user properties — the same clause already works on
    // path tables and via ALTER ... SET TBLPROPERTIES, so the catalog
    // route must neither drop them silently nor accept reserved keys
    // (createEmpty's validateProps refuses those loudly)
    val consumedConfig = Set(GeoCatalog.GeomColProp, "stats.columns", "sort.order",
      "bloom.columns", "bloom.fpp", "bloom.items")
    val sparkInjected = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION)
    val nonConfig = properties.asScala.toMap.filterNot { case (k, _) =>
      consumedConfig.contains(k) || sparkInjected.contains(k)
    }
    // CHECK constraints Delta-style ('graft.constraints.<name>'='expr' —
    // the spelling SHOW CREATE TABLE emits), same routing as the path
    // CREATE front-end; the table is empty, so ADD-time validation is
    // trivially green
    val (checkProps, userProps) = nonConfig.partition(_._1.startsWith("graft.constraints."))
    // order matters: layout keys, then sort keys (the clustering key
    // order layout() uses), then the stats-only tail
    GeoTable.createEmpty(spark, root, tagged, geomCol,
      ptransforms.toSeq ++ sortT ++ statsFiltered(statsT, sortT),
      bloomCols = bloomT, props = userProps)
    checkProps.toSeq.sortBy(_._1).foreach { case (k, expr) =>
      GeoTable.addCheckConstraint(spark, root,
        k.stripPrefix("graft.constraints."), expr)
    }
    new GeoV2Table(s"$catalogName.${ident.toString}", root, GeoManifest.read(spark, root))
  }

  /** Auto stats entries for columns a declared sort order already
    * covers are redundant (the sort transform records the same per-file
    * min/max) — drop them. */
  private def statsFiltered(statsT: Seq[GeoPartition.PTransform],
                            sortT: Seq[GeoPartition.PTransform]): Seq[GeoPartition.PTransform] =
    statsT.filterNot(s => sortT.exists(_.col.equalsIgnoreCase(s.col)))

  /** ALTER TABLE through the catalog: ADD/DROP/RENAME COLUMN map onto
    * GeoTable's schema-evolution commits (same tombstone/CoW semantics as
    * the SQL front-end); property changes are rejected — the manifest is
    * the only metadata store. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = tableRoot(ident)
    if (GeoManifest.currentVersion(spark, root).isEmpty) throw new NoSuchTableException(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    adds.foreach { a => require(a.fieldNames.length == 1,
      s"nested ADD COLUMN not supported: ${a.fieldNames.mkString(".")}") }
    if (adds.nonEmpty)
      GeoTable.addColumns(spark, root,
        adds.map { a =>
          val base = GeoCatalog.fromSpatialDdl(
            StructField(a.fieldNames.head, a.dataType, nullable = true))
          // DEFAULT rides the declared SUPPORT_COLUMN_DEFAULT_VALUE
          // capability: CURRENT_DEFAULT = the user's SQL, EXISTS_DEFAULT
          // = the analyzer's folded literal — dropping it silently would
          // leave old rows NULL against the user's stated intent
          Option(a.defaultValue()) match {
            case None => base
            case Some(d) =>
              val folded = org.apache.spark.sql.catalyst.expressions.Literal
                .create(d.getValue.value(), d.getValue.dataType())
              base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(base.metadata)
                .putString("EXISTS_DEFAULT", folded.sql)
                .putString("CURRENT_DEFAULT", d.getSql)
                .build())
          }
        })
    // SET TBLPROPERTIES('bloom.columns'=...): one commit for the whole
    // bloom property group — fpp/items ride along with the column list
    val setProps = changes.collect { case p: TableChange.SetProperty => p }
      .map(p => p.property -> p.value).toMap
    val bloomKeys = Set("bloom.columns", "bloom.fpp", "bloom.items")
    if (setProps.keySet.exists(bloomKeys)) {
      // tuning fpp/items without re-listing columns keeps the current set
      val cols = setProps.getOrElse("bloom.columns",
        GeoManifest.read(spark, root).bloomCols.map(_.col).mkString(","))
      GeoTable.setBloomColumns(spark, root, cols,
        setProps.get("bloom.fpp"), setProps.get("bloom.items"))
    }
    // everything that is not a bloom/config knob is a USER table property
    // (Iceberg SET TBLPROPERTIES parity): the whole non-bloom group lands
    // in ONE manifest commit; reserved config keys are refused loudly in
    // GeoTable.validateProps rather than half-honored
    val userSet = setProps -- bloomKeys
    val userUnset = changes.collect {
      case p: TableChange.RemoveProperty if !bloomKeys.contains(p.property) =>
        p.property
    }
    if (userSet.nonEmpty || userUnset.nonEmpty)
      GeoTable.setProperties(spark, root, userSet, userUnset)
    changes.foreach {
      case _: TableChange.AddColumn => // handled above (single commit)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1, "nested DROP COLUMN not supported")
        GeoTable.dropColumn(spark, root, d.fieldNames.head)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1, "nested RENAME COLUMN not supported")
        GeoTable.renameColumn(spark, root, r.fieldNames.head, r.newName)
      case _: TableChange.SetProperty => // handled above (grouped commits)
      case p: TableChange.RemoveProperty if p.property == "bloom.columns" =>
        GeoTable.setBloomColumns(spark, root, "")
      // UNSET of a tuning knob returns THAT knob to the session default,
      // keeping the column list and the sibling knob
      case p: TableChange.RemoveProperty
        if p.property == "bloom.fpp" || p.property == "bloom.items" =>
        val cur = GeoManifest.read(spark, root).bloomCols
        if (cur.nonEmpty) GeoTable.setBloomColumns(spark, root,
          cur.map(_.col).mkString(","),
          fpp = if (p.property == "bloom.fpp")
            Some(GeoBloom.fppDefault(spark).toString) else None,
          items = if (p.property == "bloom.items")
            Some(GeoBloom.itemsDefault(spark).toString) else None)
      case _: TableChange.RemoveProperty => // user property, handled above
      // SET / DROP DEFAULT (capability-routed): future writes only —
      // EXISTS_DEFAULT stays pinned at ADD time (committed history)
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames.length == 1, "nested ALTER COLUMN not supported")
        GeoTable.setColumnDefault(spark, root, u.fieldNames.head,
          Option(u.newDefaultValue()).filter(_.nonEmpty))
      case other =>
        throw new UnsupportedOperationException(
          s"GeoCatalog does not support table change ${other.getClass.getSimpleName}")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = tableRoot(ident)
    if (GeoManifest.currentVersion(spark, root).isEmpty) false
    else fs.delete(new Path(root), true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    if (viewExists(to))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(to)
    // the target namespace must already exist — otherwise a target spelled
    // with a stray catalog prefix would silently mint a new directory tree
    if (!namespaceExists(to.namespace)) throw new NoSuchNamespaceException(catalogName +: to.namespace)
    val dest = new Path(tableRoot(to))
    if (!fs.rename(new Path(tableRoot(from)), dest))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  // -------------------------------------------------------------------------
  // SupportsNamespaces (namespaces are warehouse subdirectories)
  // -------------------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir))
      if (namespace.isEmpty) return Array.empty
      else throw new NoSuchNamespaceException(catalogName +: namespace)
    fs.listStatus(dir).filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => namespace :+ s.getPath.getName).sortBy(_.mkString("."))
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val p = nsPath(namespace)
      fs.exists(p) && !isTableDir(p)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(catalogName +: namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    require(namespace.nonEmpty, "cannot create the root namespace")
    fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("GeoCatalog namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    if (!cascade && (listTables(namespace).nonEmpty || listNamespaces(namespace).nonEmpty ||
        GeoViews.list(spark, warehouse, namespace.toSeq).nonEmpty))
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    val ok = fs.delete(nsPath(namespace), true)
    // view files went with the directory — drop the existence memo too
    GeoViews.invalidateAll()
    ok
  }
}

object GeoCatalog {
  /** Table property naming the geometry column at CREATE time (for plain
    * DDL that can't spell the GEOMETRY type, e.g. native `CREATE TABLE ...
    * (g BINARY) USING geo TBLPROPERTIES('geometry.column'='g')`). */
  val GeomColProp = "geometry.column"

  /** Map Spark 4.1's native spatial DDL types onto the engine's stable
    * storage form: GEOMETRY[(srid)] becomes geometry-tagged BINARY (WKB)
    * with the SRID carried into the CRS tag; GEOGRAPHY is rejected with a
    * pointer at the planar + geodesic-measure alternative. Fields of any
    * other type pass through untouched. */
  def fromSpatialDdl(f: StructField): StructField = f.dataType match {
    case g: org.apache.spark.sql.types.GeometryType =>
      val crs =
        if (g.srid == org.apache.spark.sql.types.GeometryType.GEOMETRY_DEFAULT_SRID ||
            g.srid == org.apache.spark.sql.types.GeometryType.MIXED_SRID)
          GeoSchema.DefaultCrs
        else s"EPSG:${g.srid}"
      f.copy(dataType = org.apache.spark.sql.types.BinaryType,
        metadata = GeoSchema.geometryMetadata(crs, f.metadata))
    case _: org.apache.spark.sql.types.GeographyType =>
      throw new UnsupportedOperationException(
        s"column '${f.name}': GEOGRAPHY is not supported by GeoCatalog; " +
          "use GEOMETRY (planar WKB) — geodesic measures are available as " +
          "st_distancesphere/st_distancespheroid over GEOMETRY columns")
    case _ => f
  }

  /** Root for `cat.db.t` when `cat` is a configured GeoCatalog on the
    * active session — lets the SQL front-end resolve catalog-qualified
    * names without the path registry. */
  def resolveWarehouseRoot(name: String): Option[String] = {
    val parts = name.split('.')
    if (parts.length < 2) None
    else SparkSession.getActiveSession.flatMap { spark =>
      val cat = parts.head
      val impl = spark.conf.getOption(s"spark.sql.catalog.$cat")
      if (impl.contains(classOf[GeoCatalog].getName))
        spark.conf.getOption(s"spark.sql.catalog.$cat.warehouse")
          .map(wh => (wh.stripSuffix("/") +: parts.tail.toSeq).mkString("/"))
      else None
    }
  }
}

/**
 * Driver-side metadata table (`LocalScan` — metadata is manifest-scale,
 * never a distributed job): `snapshots` walks every committed manifest,
 * `files` lists the current snapshot's data files with stats.
 */
class GeoMetaTable(tableName: String, sparkAtLoad: SparkSession, root: String,
                   current: Int, kind: String)
  extends Table with SupportsRead {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  override def name(): String = tableName

  override def schema(): StructType = kind match {
    case "snapshots" => StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("data_files", IntegerType, nullable = false),
      StructField("total_rows", LongType, nullable = false),
      // per-commit diff vs the lineage parent (Iceberg snapshot-summary
      // added/removed counts); null when the parent was vacuumed
      StructField("added_files", IntegerType, nullable = true),
      StructField("added_rows", LongType, nullable = true),
      StructField("removed_files", IntegerType, nullable = true)))
    case "history" => StructType(Seq(
      StructField("made_current_at", TimestampType, nullable = false),
      StructField("version", IntegerType, nullable = false),
      StructField("is_current", BooleanType, nullable = false)))
    case "files" => StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("xmin", DoubleType, nullable = true),
      StructField("ymin", DoubleType, nullable = true),
      StructField("xmax", DoubleType, nullable = true),
      StructField("ymax", DoubleType, nullable = true)))
    case "refs" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false)))
    case "constraints" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("expr", StringType, nullable = false)))
    case "properties" => StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = false)))
    case "partitions" => StructType(Seq(
      StructField("partition", StringType, nullable = false),
      StructField("file_count", IntegerType, nullable = false),
      StructField("row_count", LongType, nullable = false)))
    case "colstats" => StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("ndv", LongType, nullable = false),
      StructField("null_count", LongType, nullable = false),
      StructField("min", LongType, nullable = true),
      StructField("max", LongType, nullable = true)))
    case "deletes" => StructType(Seq(
      StructField("type", StringType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("key_columns", StringType, nullable = true),
      StructField("sequence", IntegerType, nullable = true),
      StructField("key_min", LongType, nullable = true),
      StructField("key_max", LongType, nullable = true)))
    case "blooms" => StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("column", StringType, nullable = true),
      StructField("fpp", DoubleType, nullable = true),
      StructField("items", LongType, nullable = true),
      StructField("path", StringType, nullable = true)))
    case "manifests" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("file_count", IntegerType, nullable = false),
      StructField("size_bytes", LongType, nullable = false)))
    case "all_files" => StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("added_at_version", IntegerType, nullable = false),
      StructField("live", BooleanType, nullable = false)))
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val tableSchema = schema()
    val data: Array[InternalRow] = kind match {
      // committed_at / made_current_at come from the manifest's own `ts`
      // line — stable under filesystem copies that rewrite mtimes. Listed
      // versions are `_current`'s ANCESTRY plus ref'd (tag/branch)
      // snapshots — never a consecutive-number scan, which would surface
      // staged branch manifests and torn orphans as committed history.
      case "snapshots" =>
        val f = GeoManifest.fs(sparkAtLoad, root)
        // memoized: each version's manifest doubles as its child's parent
        // in the diff below, so the walk stays one read per version
        val cache = scala.collection.mutable.Map.empty[Int, GeoManifest.Manifest]
        def mf(v: Int): Option[GeoManifest.Manifest] =
          if (v < 0 || !f.exists(new Path(root, s"_manifests/m$v.txt"))) None
          else Some(cache.getOrElseUpdate(v, GeoManifest.readVersion(sparkAtLoad, root, v)))
        GeoMetaTable.visibleVersions(sparkAtLoad, root, current).flatMap { v =>
          mf(v).map { m =>
            // per-commit added/removed vs the lineage parent (Iceberg
            // snapshot-summary counts); root commits count everything
            // added, a vacuumed parent yields nulls
            val diff: Option[(Int, Long, Int)] =
              if (m.parent < 0) Some((m.files.length, m.files.map(_.rows).sum, 0))
              else mf(m.parent).map { pm =>
                val pk = pm.files.map(_.key).toSet
                val ck = m.files.map(_.key).toSet
                val added = m.files.filterNot(x => pk.contains(x.key))
                (added.length, added.map(_.rows).sum,
                  pm.files.count(x => !ck.contains(x.key)))
              }
            // operation provenance (Iceberg snapshot-summary analog);
            // "--" = a tool's direct write
            InternalRow(v, m.commitTs * 1000L,
              UTF8String.fromString(m.op.getOrElse("--")), m.files.length, m.totalRows,
              diff.map(d => Int.box(d._1)).orNull,
              diff.map(d => Long.box(d._2)).orNull,
              diff.map(d => Int.box(d._3)).orNull)
          }
        }.toArray
      case "history" =>
        GeoManifest.ancestry(sparkAtLoad, root, current).sorted.map { v =>
          InternalRow(
            GeoManifest.commitTsOf(sparkAtLoad, root, v) * 1000L, v, v == current)
        }.toArray
      case "files" =>
        GeoManifest.read(sparkAtLoad, root).files.map { e =>
          InternalRow(UTF8String.fromString(e.path), e.rows, e.xmin, e.ymin, e.xmax, e.ymax)
        }.toArray
      case "refs" =>
        val r = GeoManifest.refs(sparkAtLoad, root)
        (r.tags.toSeq.map { case (n, v) => (n, "TAG", v) } ++
          r.branches.toSeq.map { case (n, b) => (n, "BRANCH", b.head) })
          .sortBy(_._1).map { case (n, t, v) =>
            InternalRow(UTF8String.fromString(n), UTF8String.fromString(t), v)
          }.toArray
      case "constraints" =>
        GeoManifest.read(sparkAtLoad, root).checks.map { case (n, sql) =>
          InternalRow(UTF8String.fromString(n), UTF8String.fromString(sql))
        }.toArray
      // user TBLPROPERTIES only (Iceberg t.properties analog): the derived
      // config facts live on SHOW TBLPROPERTIES via properties()
      case "properties" =>
        GeoManifest.read(sparkAtLoad, root).props.toSeq.sortBy(_._1).map {
          case (k, v) => InternalRow(UTF8String.fromString(k), UTF8String.fromString(v))
        }.toArray
      // per-partition rollup (Iceberg `partitions` table analog): files
      // group by their layout-transform value tuple from the manifest's
      // per-file transform ranges — the ops-visibility surface for
      // partition skew (file counts, row counts per partition), zero
      // data I/O. A range-clustered file spanning several transform
      // values renders as `lo..hi`; unpartitioned tables roll into `--`.
      case "partitions" =>
        val m = GeoManifest.read(sparkAtLoad, root)
        val specs = m.specSet
        def render(f: GeoManifest.FileEntry): String = {
          // each file renders under ITS OWN spec's layout transforms
          // (spec evolution); files on a retired spec are tagged with
          // their spec id so mixed-spec tables stay legible
          val lts = specs.of(f).zipWithIndex.filter(_._1.layout)
          val base =
            if (lts.isEmpty || f.pstats.isEmpty) "--"
            else lts.map { case (t, i) =>
              f.pstats.lift(i) match {
                case Some((lo, hi)) if lo == hi => s"${t.encode}=$lo"
                case Some((lo, hi)) => s"${t.encode}=$lo..$hi"
                case None => s"${t.encode}=?"
              }
            }.mkString(" / ")
          if (specs.isCurrent(f)) base else s"[spec ${f.spec}] $base"
        }
        m.files.groupBy(render).toSeq.sortBy(_._1).map { case (p, fs) =>
          InternalRow(UTF8String.fromString(p), fs.length, fs.map(_.rows).sum)
        }.toArray
      // ANALYZE-collected column statistics (long-embedding min/max;
      // null for columns without one) — the SQL surface over the
      // manifest's colstat lines, zero data I/O
      case "colstats" =>
        val m = GeoManifest.read(sparkAtLoad, root)
        m.colStats.toSeq.sortBy(_._1).map { case (c, st) =>
          InternalRow(UTF8String.fromString(c), st.ndv, st.nulls,
            st.min.map(Long.box).orNull, st.max.map(Long.box).orNull)
        }.toArray
      // live delete sidecars (ops visibility for merge-on-read state):
      // position sidecars and equality-delete sidecars with their
      // sequence numbers and the key ranges that drive range pruning
      case "deletes" =>
        val m = GeoManifest.read(sparkAtLoad, root)
        (m.deletes.map(d => InternalRow(UTF8String.fromString("position"),
            UTF8String.fromString(d.path), d.rows, null, null, null, null)) ++
          m.eqDeletes.map(e => InternalRow(UTF8String.fromString("equality"),
            UTF8String.fromString(e.path), e.rows,
            UTF8String.fromString(e.cols.mkString(",")),
            Int.box(e.version),
            e.kmin.map(Long.box).orNull, e.kmax.map(Long.box).orNull))).toArray
      // bloom configuration (`spec` rows) + live sidecars (`sidecar`
      // rows) — ops visibility for the point-lookup skipping surface
      case "blooms" =>
        val m = GeoManifest.read(sparkAtLoad, root)
        (m.bloomCols.map(s => InternalRow(UTF8String.fromString("spec"),
            UTF8String.fromString(s.col), s.fpp, s.items, null)) ++
          m.blooms.map(e => InternalRow(UTF8String.fromString("sidecar"),
            UTF8String.fromString(e.cols.mkString(",")), null, null,
            UTF8String.fromString(e.path)))).toArray
      // the current snapshot's metadata inventory (Iceberg all_manifests
      // analog): the list manifest + its shards, with entry counts and
      // on-disk sizes — the ops surface for shard-fold health
      case "manifests" =>
        val m = GeoManifest.read(sparkAtLoad, root)
        val f = GeoManifest.fs(sparkAtLoad, root)
        def size(name: String): Long =
          try f.getFileStatus(new Path(root, s"_manifests/$name")).getLen
          catch { case scala.util.control.NonFatal(_) => -1L }
        val inline = m.files.length - m.baseShards.map(_.entries.length).sum
        (InternalRow(UTF8String.fromString(s"m${m.version}.txt"),
            UTF8String.fromString("list"), inline, size(s"m${m.version}.txt")) +:
          m.baseShards.map(s => InternalRow(UTF8String.fromString(s.name),
            UTF8String.fromString("shard"), s.entries.length, size(s.name)))).toArray
      // every data file any reachable snapshot references (Iceberg
      // all_data_files analog): deduplicated by path, with the version
      // that added it and whether the CURRENT snapshot still holds it —
      // the ops surface for vacuum planning and time-travel footprint
      case "all_files" =>
        val f = GeoManifest.fs(sparkAtLoad, root)
        val live = GeoManifest.read(sparkAtLoad, root).files.map(_.key).toSet
        val seen = scala.collection.mutable.LinkedHashMap.empty[String, InternalRow]
        GeoMetaTable.visibleVersions(sparkAtLoad, root, current).sorted.foreach { v =>
          if (f.exists(new Path(root, s"_manifests/m$v.txt")))
            GeoManifest.readVersion(sparkAtLoad, root, v).files.foreach { e =>
              if (!seen.contains(e.key))
                seen(e.key) = InternalRow(UTF8String.fromString(e.path), e.rows,
                  e.addedAt, live.contains(e.key))
            }
        }
        seen.values.toArray
    }
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] = data
        override def readSchema(): StructType = tableSchema
      }
    }
  }
}

object GeoMetaTable {
  val Kinds: Set[String] = Set("snapshots", "files", "history", "refs", "partitions", "colstats", "deletes", "blooms", "manifests", "all_files", "constraints", "properties")

  /** Snapshot versions the metadata tables list: main ancestry plus
    * ref-pinned snapshots (a tagged version survives vacuum and stays
    * visible even when the untagged versions around it expired; a branch
    * head is a real snapshot, just not main's). Ascending. */
  private[tables] def visibleVersions(spark: SparkSession, root: String,
                                      current: Int): Seq[Int] =
    (GeoManifest.ancestry(spark, root, current) ++
      GeoManifest.refs(spark, root).pinned).distinct.sorted
}

/**
 * The DSv2 `Table` for one GeoTable snapshot. Reads delegate to Spark's
 * parquet scan over the manifest's exact file list (vectorized, pushed
 * filters, pruned columns) through [[GeoCowScanBuilder]], which also
 * serves the `_file` metadata column; writes use the V1 fallback so
 * INSERT INTO / INSERT OVERWRITE / CTAS-append land in
 * [[GeoTable.append]]'s stats-collecting atomic manifest commit.
 * UPDATE/DELETE/MERGE resolve through [[GeoRowLevelOperation]]'s
 * group-based copy-on-write (SupportsRowLevelOperations) — Spark's own
 * row-level rewrite rules + runtime group filtering, no SQL front-end.
 */
class GeoV2Table(tableName: String, root: String, manifest: Manifest)
  extends Table with SupportsRead with SupportsWrite
  with SupportsRowLevelOperations with SupportsMetadataColumns
  with SupportsDeleteV2 {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = tableName

  // -------------------------------------------------------------------------
  // SupportsDeleteV2 — the SQL verb for equality deletes: Spark's
  // OptimizeMetadataOnlyDeleteFromTable asks canDeleteWhere BEFORE
  // running the row-level CoW/MoR rewrite, so `DELETE FROM t WHERE
  // k IN (...)` / `k = ...` on one scalar column commits a key sidecar
  // in O(keys) — no scan, no data-file rewrite (the mode Iceberg picks
  // for keyed predicates). Any other predicate answers false and takes
  // the existing rewrite path. TRUNCATE TABLE arrives as the always-true
  // predicate and commits an empty file list (pure metadata).
  // -------------------------------------------------------------------------

  private def isTruncate(ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean =
    ps.isEmpty || (ps.length == 1 && ps.head.name() == "ALWAYS_TRUE")

  /** `(key column, literal values)` when the predicates are exactly one
    * keyed IN/equality on a scalar table column; None otherwise. */
  private def keyedPredicate(
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Option[(StructField, Seq[org.apache.spark.sql.connector.expressions.Literal[_]])] = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    if (ps.length != 1) return None
    val p = ps.head
    if (p.name() != "IN" && p.name() != "=") return None
    val cs = p.children()
    if (cs.length < 2) return None
    val colName = cs.head match {
      case r: NamedReference if r.fieldNames().length == 1 => r.fieldNames()(0)
      case _ => return None
    }
    val lits = cs.tail.toSeq.map {
      case l: Literal[_] => l
      case _ => return None
    }
    manifest.schema.fields.find(_.name.equalsIgnoreCase(colName))
      .filterNot(GeoSchema.isGeometry)
      .map(f => (f, lits))
  }

  /** V2 filter predicate → catalyst expression, for the stats-only
    * whole-file evaluator. None = a shape it does not reason about. */
  private def v2Expr(
      p: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.connector.expressions.{Literal => VLit, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPred}
    def attr(e: org.apache.spark.sql.connector.expressions.Expression): Option[AttributeReference] =
      e match {
        case r: NamedReference if r.fieldNames().length == 1 =>
          manifest.schema.fields.find(_.name.equalsIgnoreCase(r.fieldNames()(0)))
            .map(f => AttributeReference(f.name, f.dataType)())
        case _ => None
      }
    def lit(e: org.apache.spark.sql.connector.expressions.Expression): Option[Literal] =
      e match {
        // connector literals carry catalyst-internal values: the two-arg
        // Literal constructor takes them as-is (create() would re-convert)
        case l: VLit[_] => Some(Literal(l.value, l.dataType()))
        case _ => None
      }
    p match {
      case pr: VPred => pr.name() match {
        case "AND" =>
          val cs = pr.children()
          for (l <- v2Expr(cs(0)); r <- v2Expr(cs(1))) yield And(l, r)
        case op @ ("=" | "<" | "<=" | ">" | ">=") =>
          val cs = pr.children()
          if (cs.length != 2) None
          else {
            def mk(a: Expression, b: Expression) = op match {
              case "=" => EqualTo(a, b)
              case "<" => LessThan(a, b)
              case "<=" => LessThanOrEqual(a, b)
              case ">" => GreaterThan(a, b)
              case ">=" => GreaterThanOrEqual(a, b)
            }
            attr(cs(0)).flatMap(a => lit(cs(1)).map(l => mk(a, l)))
              .orElse(lit(cs(0)).flatMap(l => attr(cs(1)).map(a => mk(l, a))))
          }
        case "IN" =>
          val cs = pr.children()
          for {
            a <- attr(cs.head)
            ls <- Some(cs.tail.toSeq.map(lit))
            if ls.forall(_.isDefined)
          } yield In(a, ls.flatten)
        case "IS_NULL" => attr(pr.children().head).map(IsNull)
        case "IS_NOT_NULL" => attr(pr.children().head).map(IsNotNull)
        case _ => None
      }
      case _ => None
    }
  }

  /** Whole files to drop when EVERY file is wholly inside/outside the
    * predicates by manifest stats — the zero-I/O retention DELETE. */
  private def metadataDropSet(
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Option[Seq[GeoManifest.FileEntry]] = {
    if (ps.isEmpty) return None
    val exprs = ps.toSeq.map(v2Expr)
    if (!exprs.forall(_.isDefined)) return None
    GeoPartition.metadataDeleteSet(
      manifest.files, manifest.specSet, manifest.schema, exprs.flatten)
  }

  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    isTruncate(predicates) || metadataDropSet(predicates).isDefined ||
      keyedPredicate(predicates).isDefined

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    if (isTruncate(predicates)) {
      // metadata truncate: snapshot with no files (old ones stay readable
      // via time travel until vacuum, like every commit)
      val m = GeoManifest.read(spark, root)
      GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
        files = Seq.empty, deletes = Seq.empty, eqDeletes = Seq.empty), m.version,
        op = "truncate")
    } else {
      // ONE fresh-manifest evaluation (canDeleteWhere's answer may be a
      // scan-build old): whole-file drop when it still applies, else the
      // keyed-sidecar route — which stays correct under concurrent
      // commits, so a snapshot that moved between canDeleteWhere and
      // here degrades to the sidecar instead of failing the statement
      val m = GeoManifest.read(spark, root)
      val exprs = predicates.toSeq.map(v2Expr)
      val drop =
        if (exprs.forall(_.isDefined))
          GeoPartition.metadataDeleteSet(m.files, m.specSet, m.schema, exprs.flatten)
        else None
      drop match {
        case Some(d) => GeoTable.dropFiles(spark, root, m, d): Unit
        case None =>
          val (field, lits) = keyedPredicate(predicates).getOrElse(
            throw new IllegalStateException(
              s"$tableName changed concurrently; metadata DELETE no longer " +
                "applies and the predicate is not keyed — retry the statement"))
          val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(lits.head.dataType())
          val rows: java.util.List[org.apache.spark.sql.Row] =
            lits.map(l => org.apache.spark.sql.Row(conv(l.value)): org.apache.spark.sql.Row)
              .asJava
          val keys = spark.createDataFrame(rows,
            StructType(Seq(StructField(field.name, lits.head.dataType()))))
          GeoTable.deleteByKey(spark, root, Seq(field.name), keys)
      }
    }

  override def schema(): StructType = manifest.schema

  /** DESCRIBE/SHOW surface the stored transforms (Iceberg-style). */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    manifest.partitions.filter(_.layout).map { p =>
      p.kind match {
        case "identity" => Expressions.identity(p.col)
        case "bucket" => Expressions.bucket(p.n, p.col)
        case "truncate" => Expressions.apply("truncate",
          Expressions.literal(p.n), Expressions.column(p.col))
        case "days" => Expressions.days(p.col)
        case "hours" => Expressions.hours(p.col)
        case "months" => Expressions.months(p.col)
        case "years" => Expressions.years(p.col)
      }
    }.toArray
  }

  override def metadataColumns(): Array[MetadataColumn] = GeoRowLevel.metadataColumns

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        new GeoRowLevelOperation(root, info.command())
    }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE)

  override def properties(): util.Map[String, String] = {
    // user TBLPROPERTIES first: the structural/config entries below are
    // derived facts and always win a key collision (reserved keys cannot
    // be set as user props anyway — GeoTable.validateProps refuses them)
    val base = manifest.props ++ Map(
      TableCatalog.PROP_LOCATION -> root,
      TableCatalog.PROP_PROVIDER -> "geo",
      "format-version" -> "2",
      "snapshot-version" -> manifest.version.toString,
      "data-files" -> manifest.files.length.toString,
      "total-rows" -> manifest.totalRows.toString)
    val withGeom = manifest.geomCol match {
      case Some(g) => base + (GeoCatalog.GeomColProp -> g)
      case None => base
    }
    val sortCols = manifest.partitions.filter(_.kind == "sort").map(_.col)
    val withSort =
      if (sortCols.isEmpty) withGeom
      else withGeom + ("sort.order" -> sortCols.mkString(","))
    // SHOW TBLPROPERTIES surfaces the bloom config it was set with.
    // Knobs can DIVERGE per column (sibling-knob inheritance across
    // ALTERs): a uniform value prints once, divergent values print as a
    // comma list aligned with bloom.columns — never misreport one
    // column's tuning as the table's.
    def knob[A](get: GeoBloom.BloomSpec => A): String = {
      val vs = manifest.bloomCols.map(get)
      if (vs.distinct.length == 1) vs.head.toString else vs.mkString(",")
    }
    (if (manifest.bloomCols.isEmpty) withSort
     else withSort +
       ("bloom.columns" -> manifest.bloomCols.map(_.col).mkString(",")) +
       ("bloom.fpp" -> knob(_.fpp)) +
       ("bloom.items" -> knob(_.items))).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Merge-on-read sidecars merge INSIDE the scan: readers drop rows
    // whose (file, row-ordinal) appear in a delete sidecar via the
    // generated parquet row-index column (see GeoMorReaderFactory), so
    // catalog reads never resurrect deleted rows and never need a
    // compaction first.
    new GeoCowScanBuilder(spark, manifest.schema, manifest.files, options, _ => (),
      streamRoot = Some(root), specs = manifest.specSet,
      deletes = manifest.deletes, eqDeletes = manifest.eqDeletes,
      colStats = manifest.colStats,
      bloomCols = manifest.bloomCols, blooms = manifest.blooms)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new Write
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        // Partitioned tables ask Spark to cluster rows in TRANSFORM space
        // (ordered distribution = range partition + local sort): the
        // transform expressions resolve through this catalog's
        // FunctionCatalog (GeoFunctions), V2Writes.prepareQuery injects
        // the shuffle for batch INSERT and streaming epochs alike, and
        // the insert path skips its own re-layout. The partition count is
        // pinned (AQE would coalesce an unsized range shuffle and destroy
        // the file-per-range grouping manifest pruning feeds on).
        import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
        import org.apache.spark.sql.connector.expressions.SortOrder
        private val sorts: Array[SortOrder] = GeoPartition.v2SortOrders(manifest.partitions)
        override def requiredDistribution(): Distribution =
          if (sorts.isEmpty) Distributions.unspecified()
          else Distributions.ordered(sorts)
        override def requiredOrdering(): Array[SortOrder] = sorts
        override def requiredNumPartitions(): Int =
          if (sorts.isEmpty) 0
          else SparkSession.active.sessionState.conf.numShufflePartitions
        // native V2 batch write: INSERT INTO appends, INSERT OVERWRITE
        // (truncate) replaces — Spark executes the distribution-prepared
        // query, so partitioned clustering actually reaches the writers
        // (the V1 fallback ran the pre-prepareQuery plan and lost it)
        override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
          new GeoBatchWrite(root, info.schema(), overwrite)
        // `writeStream.toTable("geo.db.t")` — OutputMode.Complete arrives
        // as truncate() (replace contents each epoch), Append appends.
        // The sink id is the streaming query id, which Spark persists in
        // the checkpoint: stable across restarts, fresh per checkpoint.
        override def toStreaming: GeoStreamingWrite =
          new GeoStreamingWrite(root, info.schema(), s"q-${info.queryId()}", overwrite)
      }
    }
}
