package graft.tools

import graft.tables.{GeoManifest, GeoPartition}
import graft.tables.GeoManifest.{FileEntry, Manifest}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/**
 * Manifest-scale measurement (dev harness): how expensive are manifest
 * write / read / commit at large file counts, inline (every file line in
 * one driver-side text file) vs sharded (a manifest list referencing
 * shard files, the Iceberg split)? The decisive column is commitWrites: an inline commit
 * rewrites the whole inventory; a sharded append commit writes the
 * small list plus one shard (ROUND11_NOTES records the outcome).
 *
 * Usage: runMain graft.tools.ManifestScale [maxFiles]
 */
object ManifestScale {
  def main(args: Array[String]): Unit = {
    val max = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = SparkSession.builder().master("local[2]")
      .appName("graft-manifest-scale")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("g", BinaryType)))
    val pts = Seq(GeoPartition.PTransform("days", 0, "ts"))

    def entries(n: Int): Seq[FileEntry] = (0 until n).map { i =>
      FileEntry(s"data/c0123456789ab/part-$i-0123456789abcdef-c000.snappy.parquet",
        rows = 100000L + i,
        xmin = i % 360 - 180.0, ymin = i % 180 - 90.0,
        xmax = i % 360 - 179.0, ymax = i % 180 - 89.0,
        pstats = Seq((19000L + i % 365, 19001L + i % 365)))
    }

    // inline: the whole file list in one manifest text (shardSize forced
    // out of reach); sharded: manifest lists (the default threshold)
    // where commits rewrite O(changed) metadata
    for (mode <- Seq("inline", "sharded"); n <- Seq(10000, 100000, 300000, 1000000)
         if n <= max) {
      spark.conf.set("spark.graft.manifest.shardSize",
        if (mode == "inline") Int.MaxValue.toString else "25000")
      val root = java.nio.file.Files.createTempDirectory(s"mscale_$n").toString
      val m = Manifest(0, schema, Some("g"), entries(n), partitions = pts)
      val t0 = System.nanoTime()
      GeoManifest.write(spark, root, m)
      val tWrite = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      val back = GeoManifest.read(spark, root)
      val tRead = (System.nanoTime() - t1) / 1e6
      require(back.files.length == n && back.files.head.pstats.nonEmpty)
      // incremental commit cost on a big table: one more append over n
      // files — wall time AND metadata bytes written (the cost that
      // dominates on a remote object store)
      val mdir = new java.io.File(s"$root/_manifests")
      val preexisting = mdir.listFiles().map(_.getName).toSet
      val t2 = System.nanoTime()
      GeoManifest.commit(spark, root,
        back.copy(version = 1, files = back.files ++ entries(1)), 0)
      val tCommit = (System.nanoTime() - t2) / 1e6
      val commitBytes = mdir.listFiles()
        .filterNot(f => preexisting.contains(f.getName)).map(_.length()).sum
      val bytes = mdir.listFiles().filter(f => f.getName == "m0.txt" ||
        f.getName.startsWith("s-")).map(_.length()).sum
      val shards = back.baseShards.length
      println(f"[mscale] mode=$mode%-7s files=$n%7d shards=$shards%3d " +
        f"size=${bytes / 1024.0 / 1024.0}%8.1f MB write=$tWrite%8.1f ms " +
        f"read=$tRead%8.1f ms commit(+1 file)=$tCommit%8.1f ms " +
        f"commitWrites=${commitBytes / 1024.0}%9.1f KB")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
    spark.conf.unset("spark.graft.manifest.shardSize")
    spark.stop()
  }
}
