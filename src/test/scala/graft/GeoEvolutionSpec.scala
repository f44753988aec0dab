package graft

import graft.functions.GraftFunctions._
import graft.tables.{GeoManifest, GeoSql, GeoTable}

import org.apache.spark.sql.functions._

/** Schema evolution + table maintenance SQL (Iceberg parity layer):
  * ALTER TABLE ADD/DROP/RENAME COLUMN, OPTIMIZE, VACUUM. */
class GeoEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"geoevo_$tag").toString + "/t"

  private def pointTable(root: String, nFiles: Int = 4): Unit = {
    val df = spark.range(40).toDF("id")
      .withColumn("flag", lit(0))
      .withColumn("geo", st_point(col("id").cast("double"), lit(0.0)))
      .repartitionByRange(nFiles, col("id"))
    GeoTable.create(spark, root, df, Some("geo"))
  }

  test("ADD COLUMN is metadata-only: old rows read NULL, new inserts carry values") {
    val root = tmpRoot("add")
    pointTable(root)
    val filesBefore = GeoManifest.read(spark, root).files.map(_.key).toSet
    GeoTable.addColumn(spark, root, "tier INT")
    val m = GeoManifest.read(spark, root)
    // metadata-only: same data files, schema grew
    assert(m.files.map(_.key).toSet == filesBefore)
    assert(m.schema.fieldNames.last == "tier")
    val afterAdd = GeoTable.read(spark, root)
    assert(afterAdd.where(col("tier").isNull).count() == 40)
    // appended rows carry the new column
    GeoTable.append(spark, root, spark.range(40, 50).toDF("id")
      .withColumn("flag", lit(1))
      .withColumn("geo", st_point(col("id").cast("double"), lit(0.0)))
      .withColumn("tier", lit(7)))
    val all = GeoTable.read(spark, root)
    assert(all.count() == 50)
    assert(all.where(col("tier") === 7).count() == 10)
    assert(all.where(col("tier").isNull).count() == 40)
  }

  test("ADD COLUMN DEFAULT: old rows read the folded default, zero rewrites") {
    val root = tmpRoot("adddef")
    pointTable(root)
    val filesBefore = GeoManifest.read(spark, root).files.map(_.key).toSet
    GeoTable.register(spark, "evo_def_t", root)
    GeoSql.exec(spark, "ALTER TABLE evo_def_t ADD COLUMN tier INT DEFAULT 3 + 2")
    val m = GeoManifest.read(spark, root)
    assert(m.files.map(_.key).toSet == filesBefore, "must stay metadata-only")
    // pre-existing rows read the FOLDED constant, not NULL
    val afterAdd = GeoTable.read(spark, root)
    assert(afterAdd.where(col("tier") === 5).count() == 40, "old rows must read the default")
    // new rows carry explicit values; both populations coexist
    GeoTable.append(spark, root, spark.range(40, 50).toDF("id")
      .withColumn("flag", lit(1))
      .withColumn("geo", st_point(col("id").cast("double"), lit(0.0)))
      .withColumn("tier", lit(7)))
    val all = GeoTable.read(spark, root)
    assert(all.where(col("tier") === 5).count() == 40)
    assert(all.where(col("tier") === 7).count() == 10)
    // a CoW rewrite MATERIALIZES the default (the rewritten file carries it)
    GeoTable.update(spark, root, Seq("flag" -> lit(9)), col("id") === 1, mode = "cow")
    assert(GeoTable.read(spark, root)
      .where(col("id") === 1 && col("tier") === 5).count() == 1)
    // time travel: the pre-add snapshot has no such column
    val old = GeoTable.readAt(spark, root, 0)
    assert(!old.columns.contains("tier"))
    // refusals: non-constant and GEOMETRY defaults
    val e1 = intercept[Exception](
      GeoTable.addColumnWithDefault(spark, root, "r DOUBLE", "rand()"))
    assert(e1.getMessage.contains("constant"), e1.getMessage)
    val e2 = intercept[Exception](
      GeoTable.addColumnWithDefault(spark, root, "g GEOMETRY", "NULL"))
    assert(e2.getMessage.toLowerCase.contains("geometry"), e2.getMessage)
    // multi-column ADD COLUMNS with a per-clause DEFAULT mix, one commit:
    // DEFAULT detection is per top-level-comma clause (a DECIMAL(10, 2)
    // type comma and a 'a,b' literal comma never split)
    val vBefore = GeoManifest.read(spark, root).version
    GeoSql.exec(spark, "ALTER TABLE evo_def_t ADD COLUMNS " +
      "(amt DECIMAL(10, 2) DEFAULT 1.50, note STRING, tag STRING DEFAULT 'a,b')")
    val m2 = GeoManifest.read(spark, root)
    assert(m2.version == vBefore + 1, "ADD COLUMNS must land as ONE commit")
    val multi = GeoTable.read(spark, root)
    assert(multi.where(col("amt") === 1.50 && col("tag") === "a,b").count() == 50,
      "every pre-add row must read both clause defaults")
    assert(multi.where(col("note").isNull).count() == 50,
      "the default-less clause reads NULL")
    // an invalid default in ANY clause commits NOTHING
    val e3 = intercept[Exception](GeoSql.exec(spark,
      "ALTER TABLE evo_def_t ADD COLUMNS (ok1 INT, bad DOUBLE DEFAULT rand())"))
    assert(e3.getMessage.contains("constant"), e3.getMessage)
    assert(!GeoManifest.read(spark, root).schema.fieldNames.contains("ok1"))
  }

  test("DROP COLUMN tombstones the name; re-ADD of it is rejected") {
    val root = tmpRoot("drop")
    pointTable(root)
    GeoTable.dropColumn(spark, root, "flag")
    val m = GeoManifest.read(spark, root)
    assert(!m.schema.fieldNames.contains("flag") && m.dropped == Seq("flag"))
    assert(!GeoTable.read(spark, root).columns.contains("flag"))
    // resurrect guard: the old files still hold 'flag' data on disk
    val err = intercept[IllegalArgumentException] {
      GeoTable.addColumn(spark, root, "flag INT")
    }
    assert(err.getMessage.contains("previously dropped"))
    // geometry column is protected
    assert(intercept[IllegalArgumentException] {
      GeoTable.dropColumn(spark, root, "geo")
    }.getMessage.contains("geometry"))
  }

  test("RENAME COLUMN rewrites files and preserves data; old name reusable") {
    val root = tmpRoot("ren")
    pointTable(root)
    GeoTable.renameColumn(spark, root, "flag", "status")
    val m = GeoManifest.read(spark, root)
    assert(m.schema.fieldNames.toSeq == Seq("id", "status", "geo") && m.dropped.isEmpty)
    val df = GeoTable.read(spark, root)
    assert(df.where(col("status") === 0).count() == 40, "data must survive the rename")
    // no tombstone after rewrite: the old name is immediately reusable
    GeoTable.addColumn(spark, root, "flag STRING")
    assert(GeoTable.read(spark, root).columns.contains("flag"))
    // renaming the geometry column keeps stats-based pruning working
    GeoTable.renameColumn(spark, root, "geo", "shape")
    assert(GeoManifest.read(spark, root).geomCol.contains("shape"))
    assert(GeoTable.readPruned(spark, root,
      new org.locationtech.jts.geom.Envelope(0, 5, -1, 1)).count() < 40)
  }

  test("RENAME on a table with live delete sidecars does not resurrect rows") {
    import spark.implicits._
    val root = tmpRoot("renmor")
    GeoTable.create(spark, root,
      spark.range(100).select($"id", concat(lit("v"), $"id").as("v")).repartition(4), None)
    GeoTable.delete(spark, root, $"id" % 10 === 0, mode = "mor")       // pos sidecar
    GeoTable.deleteByKey(spark, root, Seq("id"), Seq(7L, 8L).toDF("id")) // eq sidecar
    assert(GeoTable.read(spark, root).count() == 88)
    GeoTable.renameColumn(spark, root, "v", "w")
    val m = GeoManifest.read(spark, root)
    assert(m.deletes.isEmpty && m.eqDeletes.isEmpty,
      "the rename rewrite folds sidecars away")
    val ids = GeoTable.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 100L).filterNot(i => i % 10 == 0 || i == 7 || i == 8),
      "hidden rows must stay hidden through the rename rewrite")
    assert(GeoTable.read(spark, root).columns.toSeq == Seq("id", "w"))
  }

  test("age-based vacuum expires by commit timestamp; current and refs stay") {
    import spark.implicits._
    val root = tmpRoot("vage")
    GeoTable.create(spark, root, spark.range(10).toDF("id"), None)        // v0
    GeoTable.append(spark, root, spark.range(10, 20).toDF("id"))          // v1
    GeoTable.createTag(spark, root, "pin", Some(0))
    GeoTable.append(spark, root, spark.range(20, 30).toDF("id"))          // v2
    // cutoff in the future: everything but current + the pinned tag expires
    GeoTable.vacuumOlderThan(spark, root, System.currentTimeMillis() + 60000)
    assert(GeoTable.readAt(spark, root, 0).count() == 10, "tagged snapshot survives")
    assert(GeoTable.read(spark, root).count() == 30, "current survives")
    assert(intercept[Exception](GeoTable.readAt(spark, root, 1).count()) != null,
      "untagged old snapshot expired")
    // cutoff in the past: nothing expires
    val root2 = tmpRoot("vage2")
    GeoTable.create(spark, root2, spark.range(5).toDF("id"), None)
    GeoTable.append(spark, root2, spark.range(5, 9).toDF("id"))
    GeoTable.register(spark, "vage_t", root2)
    try {
      GeoSql.exec(spark, "VACUUM vage_t RETAIN 7 DAYS")
      assert(GeoTable.readAt(spark, root2, 0).count() == 5, "fresh snapshots retained")
    } finally GeoTable.drop(spark, "vage_t")
  }

  test("ALTER / OPTIMIZE / VACUUM through the SQL front-half") {
    val root = tmpRoot("sql")
    pointTable(root, nFiles = 8)
    GeoTable.register(spark, "evo_t", root)
    try {
      GeoSql.exec(spark, "ALTER TABLE evo_t ADD COLUMN note STRING")
      assert(spark.table("evo_t").columns.contains("note"))
      GeoSql.exec(spark, "ALTER TABLE evo_t RENAME COLUMN note TO comment")
      assert(spark.table("evo_t").columns.contains("comment"))
      GeoSql.exec(spark, "ALTER TABLE evo_t DROP COLUMN comment")
      assert(!spark.table("evo_t").columns.contains("comment"))
      // several commits piled up versions + files; compact then vacuum
      val nFiles = GeoSql.exec(spark, "OPTIMIZE evo_t INTO 2 FILES").head().getLong(0)
      assert(nFiles <= 2)
      assert(spark.table("evo_t").count() == 40)
      val removed = GeoSql.exec(spark, "VACUUM evo_t").head().getLong(0)
      assert(removed > 0, "expired-version files must be deleted")
      assert(spark.table("evo_t").count() == 40)
    } finally GeoTable.drop(spark, "evo_t")
  }

  test("ALTER ADD COLUMN keeps parameterized-type parens (DECIMAL(10,2))") {
    val root = tmpRoot("decimal")
    pointTable(root)
    GeoTable.register(spark, "evo_dec_t", root)
    try {
      // regression: a trailing \)? in the old regex stole the closing paren,
      // capturing `price DECIMAL(10,2` and failing DDL parse on valid SQL
      GeoSql.exec(spark, "ALTER TABLE evo_dec_t ADD COLUMN price DECIMAL(10,2)")
      val f = spark.table("evo_dec_t").schema("price")
      assert(f.dataType == org.apache.spark.sql.types.DecimalType(10, 2))
      // parenthesized multi-column list still works
      GeoSql.exec(spark, "ALTER TABLE evo_dec_t ADD COLUMNS (a INT, b DECIMAL(5,1))")
      assert(spark.table("evo_dec_t").schema("b").dataType ==
        org.apache.spark.sql.types.DecimalType(5, 1))
    } finally GeoTable.drop(spark, "evo_dec_t")
  }

  test("ADD COLUMNS with a duplicate name in the list is rejected") {
    import graft.tables.{GeoSchema, GeoTable}
    val root = java.nio.file.Files.createTempDirectory("geoevo_dup").toString + "/t"
    GeoTable.createEmpty(spark, root, GeoSchema.fromDdl("id BIGINT"), None)
    val e = intercept[IllegalArgumentException] {
      GeoTable.addColumn(spark, root, "a INT, A STRING") // case-insensitive dup
    }
    assert(e.getMessage.contains("duplicate"))
    // table schema unchanged
    assert(graft.tables.GeoManifest.read(spark, root).schema.fieldNames.toSeq == Seq("id"))
  }

  test("manifest: one layout, mandatory end CRC; anything else fails loudly") {
    import graft.tables.{GeoManifest, GeoSchema, GeoTable}
    val root = java.nio.file.Files.createTempDirectory("geoevo_tag").toString + "/t"
    GeoTable.createEmpty(spark, root, GeoSchema.fromDdl("id BIGINT"), None)
    val mPath = java.nio.file.Paths.get(root, "_manifests", "m0.txt")
    val original = new String(java.nio.file.Files.readAllBytes(mPath))
    assert(original.startsWith("graftgeo\t10\n"), original.take(40))
    assert(original.linesIterator.exists(_.startsWith("end\t")), "no end trailer")
    // out-of-band edit: drop Hadoop's checksum sidecar or reads fail on CRC
    def editManifest(text: String): Unit = {
      java.nio.file.Files.write(mPath, text.getBytes)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(root, "_manifests", ".m0.txt.crc"))
    }
    def readFails(): String =
      intercept[IllegalArgumentException] { GeoManifest.read(spark, root) }.getMessage
    // every line before the trailer, and the same body re-sealed with a
    // valid CRC so only the edit under test can fail the read
    val body = original.substring(0, original.lastIndexOf("end\t"))
    def withEnd(b: String): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      b + f"end\t${crc.getValue}%08x\n"
    }
    assert(withEnd(body) == original, "the trailer is the CRC32 of every byte before it")
    // a line whose tag got mangled in place fails the end checksum
    editManifest(original.replace("op\tcreate", "o p\tcreate"))
    val eCrc = readFails()
    assert(eCrc.contains("checksum") && eCrc.contains("m0.txt"), eCrc)
    // content appended after the trailer (a torn `file` line) fails too
    editManifest(original + "fil\t/x/part-0.parquet\t5\n")
    val eTail = readFails()
    assert(eTail.contains("end trailer") && eTail.contains("m0.txt"), eTail)
    // a manifest in an earlier layout — sealed (as format 8 and 9 were)
    // or trailer-less (as format 3 was) — is refused, not misparsed
    for (old <- Seq(withEnd(body.replace("graftgeo\t10", "graftgeo\t8")),
                    body.replace("graftgeo\t10", "graftgeo\t3"))) {
      editManifest(old)
      val eOld = readFails()
      assert(eOld.contains("m0.txt") && eOld.contains("rewrite the table"), eOld)
    }
    // a trailer-less manifest in the current layout is a torn write
    editManifest(body)
    val eNoEnd = readFails()
    assert(eNoEnd.contains("no end trailer") && eNoEnd.contains("m0.txt"), eNoEnd)
    // an unknown tag fails even under a valid checksum
    editManifest(withEnd(body + "newtag\tpayload\n"))
    val eTag = readFails()
    assert(eTag.contains("bad manifest line in m0.txt") && eTag.contains("newtag"), eTag)
    editManifest(original)
    assert(GeoManifest.read(spark, root).schema.fieldNames.toSeq == Seq("id"))
  }

  test("stripOuterParens strips only a balanced outer pair") {
    import graft.tables.GeoSql.stripOuterParens
    assert(stripOuterParens("(a INT, b STRING)") == "a INT, b STRING")
    assert(stripOuterParens("price DECIMAL(10,2)") == "price DECIMAL(10,2)")
    assert(stripOuterParens("(a INT) ") == "a INT")
    assert(stripOuterParens("(a MAP(K,V)), b INT") == "(a MAP(K,V)), b INT")
    assert(stripOuterParens("plain INT") == "plain INT")
  }

  test("evolved table still answers spatial DML correctly") {
    val root = tmpRoot("dml")
    pointTable(root)
    GeoTable.register(spark, "evo_dml_t", root)
    try {
      GeoSql.exec(spark, "ALTER TABLE evo_dml_t ADD COLUMN tag STRING")
      val n = GeoSql.exec(spark,
        "UPDATE evo_dml_t SET tag = 'near' WHERE st_dwithin(geo, st_point(10.0D, 0.0D), 2.5D)")
        .head().getLong(0)
      assert(n == 5)
      assert(spark.table("evo_dml_t").where(col("tag") === "near").count() == 5)
      assert(spark.table("evo_dml_t").where(col("tag").isNull).count() == 35)
    } finally GeoTable.drop(spark, "evo_dml_t")
  }
}
