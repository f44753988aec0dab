package graft

import graft.tables.{GeoManifest, GeoTable}
import graft.tables.GeoManifest.{FileEntry, Manifest}

import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sharded manifest file lists (SURVEY.md §2.8b — the Iceberg
  * manifest-list/manifest split). Above `spark.graft.manifest.shardSize`
  * entries the manifest becomes a list referencing immutable shard
  * files, so a commit rewrites O(changed files) metadata, not the whole
  * inventory. */
class GeoManifestShardSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("id", LongType)))

  private def entries(n: Int, from: Int = 0): Seq[FileEntry] =
    (from until from + n).map(i =>
      // addedAt/spec pinned: write() stamps the sentinels -1 to the
      // committing version / current spec id, so round-trip comparisons
      // need the post-commit values
      FileEntry(s"/data/part-$i.parquet", 10L, i, 0.0, i + 1.0, 1.0,
        addedAt = 0, spec = 0))

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"geoshard_$tag").toString + "/t"

  private def shardFilesOnDisk(root: String): Set[String] = {
    val d = new java.io.File(root, "_manifests")
    Option(d.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("s-")).toSet
  }

  private def withShardSize[A](n: Int)(body: => A): A = {
    spark.conf.set("spark.graft.manifest.shardSize", n.toString)
    try body finally spark.conf.unset("spark.graft.manifest.shardSize")
  }

  test("a second write of an existing manifest version fails loudly, first commit intact") {
    // cross-JVM lost-commit detection: same-JVM writers serialize on the
    // commit lock and remapVersion past existing files, so a version-file
    // collision can only be a second JVM's racing commit (the optimistic
    // _current check is atomic per JVM only) — overwriting would silently
    // discard one commit's files
    val root = tmpRoot("excl")
    GeoManifest.write(spark, root, Manifest(0, schema, None, entries(3)))
    // ConcurrentModificationException: the commit paths' retry loops
    // catch it, and retrying slides past the winner to a free version
    val e = intercept[java.util.ConcurrentModificationException] {
      GeoManifest.write(spark, root, Manifest(0, schema, None, entries(5)))
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(GeoManifest.read(spark, root).files.length == 3)
  }

  /** The list file `m<v>.txt` and every shard file start with the one
    * layout header; the list file ends with an `end` line whose CRC32
    * covers every byte before it. */
  private def assertLayout(root: String, m: Manifest): Unit = {
    def text(name: String) =
      java.nio.file.Files.readString(java.nio.file.Path.of(root, "_manifests", name))
    val list = text(s"m${m.version}.txt")
    assert(list.startsWith("graftgeo\t10\n"), list.take(40))
    val endAt = list.lastIndexOf("\nend\t")
    assert(endAt > 0 && list.indexOf('\n', endAt + 1) == list.length - 1,
      s"the list file must end with its end line: ${list.takeRight(40)}")
    val crc = new java.util.zip.CRC32()
    crc.update(list.substring(0, endAt + 1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(list.substring(endAt + 5).trim == f"${crc.getValue}%08x", "end CRC mismatch")
    m.baseShards.foreach { sh =>
      val t = text(sh.name)
      assert(t.startsWith("graftshard\t10\n"), s"${sh.name}: ${t.take(40)}")
    }
  }

  test("fuzz: manifests round-trip arbitrary stats, saw-null flags, eq ranges") {
    // deterministic fuzz over the whole manifest grammar: every
    // combination of bbox/NaN, 0..3 transform pairs, absent/present
    // saw-null flags, addedAt, spec ids and retired specs, leading + tail
    // key ranges, op/props/checks/picked, bloom, colstat, delete, stream
    // and dropped lines — inline AND sharded layouts — must read back
    // exactly (eq deletes modulo the writer's liveness GC, which the test
    // recomputes with the public rule)
    val rnd = new scala.util.Random(421L)
    for (it <- 0 until 40) {
      val nT = rnd.nextInt(4) // transforms
      val parts = (0 until nT).map(i =>
        graft.tables.GeoPartition.PTransform("stats", 0, s"c$i"))
      val sch = StructType(StructField("id", LongType) +:
        (0 until nT).map(i => StructField(s"c$i", LongType)))
      // the current spec id and the retired specs, each a prefix of parts
      val specId = rnd.nextInt(3)
      val pastSpecs = (0 until 3).filter(_ != specId)
        .filter(_ => rnd.nextBoolean()).map(id => id -> parts.take(rnd.nextInt(nT + 1))).toMap
      val nF = 1 + rnd.nextInt(30)
      val files = (0 until nF).map { i =>
        val hasP = nT > 0 && rnd.nextBoolean()
        val ps = if (hasP) (0 until nT).map { _ =>
          val lo = rnd.nextLong() % 100000
          (lo, lo + rnd.nextInt(1000)) } else Seq.empty
        val pn = if (hasP && rnd.nextBoolean()) (0 until nT).map(_ => rnd.nextBoolean())
                 else Seq.empty[Boolean]
        val bbox = if (rnd.nextBoolean()) Seq(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
                   else Seq(rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble() + 1, rnd.nextDouble() + 1)
        FileEntry(s"/data/part-$it-$i.parquet", 1 + rnd.nextInt(100),
          bbox(0), bbox(1), bbox(2), bbox(3), ps, addedAt = rnd.nextInt(8), pnulls = pn,
          spec = (specId +: pastSpecs.keys.toSeq)(rnd.nextInt(1 + pastSpecs.size)))
      }
      val nE = rnd.nextInt(3)
      val eqs = (0 until nE).map { j =>
        val nc = 1 + rnd.nextInt(math.max(nT, 1))
        val cols = (0 until nc).map(i => s"c${i % math.max(nT, 1)}")
        val withRange = rnd.nextBoolean()
        GeoManifest.EqDeleteEntry(s"/data/e$it-$j.parquet", 1 + rnd.nextInt(10),
          cols, version = 5,
          kmin = if (withRange) Some(rnd.nextLong() % 1000) else None,
          kmax = if (withRange) Some(rnd.nextLong() % 1000 + 2000) else None,
          kranges = if (withRange && nc > 1)
            (0 until nc - 1).map(_ =>
              if (rnd.nextBoolean()) Some((rnd.nextLong() % 1000, rnd.nextLong() % 1000 + 2000))
              else None)
          else Seq.empty)
      }
      val op = Seq("", "append", "delete", "rewrite_deletes")(rnd.nextInt(4))
      val props = (0 until rnd.nextInt(3)).map(i =>
        s"k$i" -> Seq("", "plain", "with\ttab")(rnd.nextInt(3))).toMap
      val checks = (0 until rnd.nextInt(2)).map(i => s"chk$i" -> s"id > $i")
      val picked = (0 until rnd.nextInt(3)).map(_ => rnd.nextInt(9)).toSet
      val bloomCols = (0 until rnd.nextInt(3)).map(i =>
        graft.tables.GeoBloom.BloomSpec(s"c$i", 0.01, 1000L + i))
      val blooms = (0 until (if (bloomCols.isEmpty) 0 else rnd.nextInt(3))).map(j =>
        graft.tables.GeoBloom.BloomEntry(s"/data/bl$it/part-$j.parquet",
          bloomCols.map(_.col)))
      val colStats = (0 until rnd.nextInt(3)).map(i => s"c$i" ->
        GeoManifest.ColStat(rnd.nextInt(500), rnd.nextInt(5),
          Some(-i.toLong).filter(_ => i % 2 == 0), Some(i.toLong).filter(_ => i % 2 == 0))).toMap
      val deletes = (0 until rnd.nextInt(3)).map(j =>
        GeoManifest.DeleteEntry(s"/data/d$it-$j.parquet", 1 + rnd.nextInt(10)))
      val streams = (0 until rnd.nextInt(3)).map(j => s"sink$j" -> rnd.nextInt(50).toLong).toMap
      val dropped = (0 until rnd.nextInt(2)).map(j => s"gone$j")
      val root = tmpRoot(s"fuzz$it")
      val written = Manifest(0, sch, None, files, eqDeletes = eqs, partitions = parts,
        specId = specId, pastSpecs = pastSpecs, props = props, checks = checks,
        picked = picked, bloomCols = bloomCols, blooms = blooms, colStats = colStats,
        deletes = deletes, streamCommits = streams, dropped = dropped)
      withShardSize(if (rnd.nextBoolean()) 8 else 100000) {
        GeoManifest.write(spark, root, written, op = op)
      }
      val back = GeoManifest.read(spark, root)
      assertLayout(root, back)
      // the writer GC's eq deletes that can apply to no file — recompute
      // the survivor set with the same public rule, per file spec
      val expectEq0 = eqs.filter(e => files.exists(f =>
        GeoManifest.eqApplies(written.specSet.of(f), e, f)))
      // NaN != NaN under case-class equality — compare via string bboxes
      def norm(f: FileEntry) = (f.path, f.rows,
        Seq(f.xmin, f.ymin, f.xmax, f.ymax).map(_.toString),
        f.pstats.toList, f.addedAt, f.pnulls.toList, f.spec)
      assert(back.files.sortBy(_.path).map(norm) == files.sortBy(_.path).map(norm),
        s"it=$it files mismatch:\n${back.files.sortBy(_.path)}\nvs\n${files.sortBy(_.path)}")
      assert(back.eqDeletes == expectEq0,
        s"it=$it eq mismatch:\n${back.eqDeletes}\nvs\n$expectEq0")
      assert(back.partitions == parts && back.schema == sch)
      assert(back.specId == specId && back.pastSpecs == pastSpecs, s"it=$it specs")
      assert(back.op == Some(op).filter(_.nonEmpty) && back.props == props &&
        back.checks == checks && back.picked == picked, s"it=$it op/props/checks/picked")
      assert(back.bloomCols == bloomCols && back.blooms == blooms, s"it=$it blooms")
      assert(back.colStats == colStats && back.deletes == deletes &&
        back.streamCommits == streams && back.dropped == dropped, s"it=$it other lines")
      assert(back.parent == -1 && back.commitTs > 0, s"it=$it ts/parent")
    }
  }

  test("sharded manifests round-trip; appends reuse unchanged shards") {
    withShardSize(16) {
      val root = tmpRoot("rt")
      val m0 = Manifest(0, schema, None, entries(100))
      GeoManifest.write(spark, root, m0)

      // the list file carries shard lines, no inline file lines
      val listText = java.nio.file.Files.readString(
        java.nio.file.Path.of(root, "_manifests", "m0.txt"))
      assert(listText.contains("\nshard\t") && !listText.contains("\nfile\t"))

      val r0 = GeoManifest.read(spark, root)
      assertLayout(root, r0)
      assert(r0.files.sortBy(_.path) == m0.files.sortBy(_.path))
      assert(r0.schema == schema && r0.baseShards.nonEmpty)
      // header-only ts fast path agrees with the full parse
      assert(GeoManifest.commitTsOf(spark, root, 0) == r0.commitTs)

      // append ONE file: full shards are referenced unchanged, only the
      // tail micro-shard (<= ss/4 entries, folded by design) is rewritten
      val m1 = r0.copy(version = 1, files = r0.files ++ entries(1, from = 100))
      GeoManifest.write(spark, root, m1)
      val r1 = GeoManifest.read(spark, root)
      assert(r1.files.map(_.path).toSet == m1.files.map(_.path).toSet)
      val shared = r1.baseShards.map(_.name).toSet
        .intersect(r0.baseShards.map(_.name).toSet)
      assert(shared.size == 6, // 100 = 6 full shards of 16 + a tail of 4
        s"6 full shards must be reused by reference, shared=$shared")
      assertLayout(root, r1)

      // a shard cut at a line boundary fails by name, not as a shorter list
      val old = r1.baseShards.head.name
      val shardPath = java.nio.file.Path.of(root, "_manifests", old)
      val whole = java.nio.file.Files.readString(shardPath)
      java.nio.file.Files.writeString(shardPath,
        whole.stripSuffix("\n").split('\n').dropRight(1).mkString("", "\n", "\n"))
      java.nio.file.Files.deleteIfExists(java.nio.file.Path.of(root, "_manifests", s".$old.crc"))
      val cut = intercept[IllegalArgumentException](GeoManifest.read(spark, root))
      assert(cut.getMessage.contains(old) && cut.getMessage.contains("entries"), cut.getMessage)
      java.nio.file.Files.writeString(shardPath, whole)
      assert(GeoManifest.read(spark, root).files.length == 101)

      // a shard in an earlier layout is refused by name, not misparsed
      java.nio.file.Files.writeString(shardPath, java.nio.file.Files.readString(shardPath)
        .replaceFirst("graftshard\t10\n", "graftshard\t4\n"))
      java.nio.file.Files.deleteIfExists(java.nio.file.Path.of(root, "_manifests", s".$old.crc"))
      val e = intercept[IllegalArgumentException](GeoManifest.read(spark, root))
      assert(e.getMessage.contains(old) && e.getMessage.contains("rewrite the table"),
        e.getMessage)
    }
  }

  test("removing a file dissolves only its shard") {
    withShardSize(16) {
      val root = tmpRoot("rm")
      GeoManifest.write(spark, root, Manifest(0, schema, None, entries(96)))
      val r0 = GeoManifest.read(spark, root)
      assert(r0.baseShards.length == 6 && r0.baseShards.forall(_.entries.length == 16))
      val victim = r0.baseShards.head.entries.head.path
      val m1 = r0.copy(version = 1, files = r0.files.filterNot(_.path == victim))
      GeoManifest.write(spark, root, m1)
      val r1 = GeoManifest.read(spark, root)
      assert(r1.files.length == 95 && !r1.files.exists(_.path == victim))
      val shared = r1.baseShards.map(_.name).toSet
        .intersect(r0.baseShards.map(_.name).toSet)
      assert(shared.size == 5, s"five untouched shards must survive, shared=$shared")
    }
  }

  test("vacuum drops shard files no kept manifest references") {
    withShardSize(16) {
      val root = tmpRoot("gc")
      GeoManifest.write(spark, root, Manifest(0, schema, None, entries(100)))
      val r0 = GeoManifest.read(spark, root)
      val m1 = r0.copy(version = 1,
        files = r0.files.drop(20) ++ entries(10, from = 100)) // dissolve shard 1+2
      GeoManifest.write(spark, root, m1)
      val before = shardFilesOnDisk(root)
      val r1 = GeoManifest.read(spark, root)
      assert(before.size > r1.baseShards.length, "orphaned v0 shards exist pre-vacuum")

      GeoTable.vacuum(spark, root, keepVersions = 1)
      assert(shardFilesOnDisk(root) == r1.baseShards.map(_.name).toSet,
        "exactly the current version's shards survive vacuum")
      // current snapshot still reads
      assert(GeoManifest.read(spark, root).files.length == 90)
    }
  }

  test("end-to-end: a sharded table serves reads, CoW DML, and time travel") {
    withShardSize(3) {
      val root = tmpRoot("e2e")
      val df = spark.range(100).toDF("id")
        .withColumn("flag", lit(0))
        .withColumn("geo", st_point(col("id").cast("double"), lit(0.0)))
        .repartitionByRange(6, col("id"))
      GeoTable.create(spark, root, df, Some("geo"))
      val v0 = GeoManifest.read(spark, root)
      assert(v0.baseShards.nonEmpty, "6 files >= shardSize 3 must shard")

      val n = GeoTable.update(spark, root, Seq("flag" -> lit(1)),
        expr("st_within(geo, st_makeenvelope(10.5D, -1.0D, 19.5D, 1.0D))"))
      assert(n == 9)
      val v1 = GeoManifest.read(spark, root)
      assert(v1.baseShards.nonEmpty && v1.version == v0.version + 1)

      val flags = GeoTable.read(spark, root).select("id", "flag")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      (0L until 100L).foreach(i =>
        assert(flags(i) == (if (i >= 11 && i <= 19) 1 else 0), s"id $i"))
      // time travel across sharded versions
      val back = GeoTable.readAt(spark, root, v0.version)
      assert(back.filter(col("flag") === 1).count() == 0)
    }
  }
}
