package graft.ops

import graft.functions.{BandedHyperplaneSig, HyperplaneSig, VecCosine}

import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Similarity search over an embedding column (SURVEY.md §2.10).
 *
 * - `bruteTopK`: exact cosine top-k. `orderBy(..).limit(k)` compiles to
 *   Spark's TakeOrderedAndProject — each partition keeps a k-heap and only
 *   k rows per partition reach the driver; no global sort at 100 TB.
 * - `lshTopK`: random-hyperplane bucketing; only candidates within
 *   `maxHamming` of the query's signature are scored (signature filter is
 *   a cheap long xor/bit_count in codegen; the expensive cosine runs on
 *   the surviving fraction).
 * - `ivfTopK`: IVF-style coarse quantizer — Lloyd-refined centroids,
 *   search only the `nprobe` nearest inverted lists.
 */
object Similarity {

  private def col2(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftShim.column(e)
  private def ex(c: Column) = GraftShim.expression(c)

  def cosine(a: Column, b: Column): Column = col2(VecCosine(ex(a), ex(b)))

  def hyperplaneSig(v: Column, nbits: Int): Column =
    col2(HyperplaneSig(ex(v), ex(lit(nbits))))

  private def queryLit(q: Array[Float]): Column =
    typedlit(q.toSeq)

  /** Exact brute-force cosine top-k against a constant query vector. */
  def bruteTopK(df: DataFrame, vec: Column, id: Column, q: Array[Float], k: Int): DataFrame =
    df.select(id.as("vec_id"), cosine(vec, queryLit(q)).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)

  /** LSH-bucketed approximate top-k: hamming prefilter on
    * hyperplane signatures, cosine rerank of survivors. */
  def lshTopK(df: DataFrame, vec: Column, id: Column, q: Array[Float],
              k: Int, nbits: Int = 16, maxHamming: Int = 4): DataFrame = {
    val withSig = df.select(id.as("vec_id"), vec.as("__v"),
      hyperplaneSig(vec, nbits).as("__sig"))
    withSig
      .withColumn("__qsig", hyperplaneSig(queryLit(q), nbits))
      .where(expr(s"bit_count(__sig ^ __qsig) <= $maxHamming"))
      .select(org.apache.spark.sql.functions.col("vec_id"),
        cosine(org.apache.spark.sql.functions.col("__v"), queryLit(q)).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** Array of `bands` independent `bitsPerBand`-bit hyperplane signatures. */
  def bandedSigs(v: Column, bitsPerBand: Int, bands: Int): Column =
    col2(BandedHyperplaneSig(ex(v), ex(lit(bitsPerBand)), ex(lit(bands))))

  /**
   * bitsPerBand sized so a band's buckets hold ~`targetPerBucket` vectors:
   * bitsPerBand ≈ log2(n / targetPerBucket). With FIXED bitsPerBand the
   * expected bucket occupancy is n / 2^bitsPerBand, so background candidate
   * pairs grow ~n² / 2^bitsPerBand once n overtakes the key space —
   * candidate volume stays ~linear in n only when bitsPerBand tracks
   * log2(n), which is what this helper does. (Recall trade-off: each extra
   * bit multiplies a near-pair's per-band match probability by
   * p = 1 - angle/pi; compensate with more bands.)
   */
  def bitsPerBandFor(n: Long, targetPerBucket: Int = 4): Int = {
    require(n > 0 && targetPerBucket > 0)
    val bits = math.ceil(math.log(n.toDouble / targetPerBucket) / math.log(2.0)).toInt
    math.max(1, math.min(63, bits))
  }

  /**
   * Candidate pairs from banded hyperplane LSH: explode each vector into
   * `bands` (band, key) rows; a pair is a candidate when ANY band matches —
   * the same band-OR equi-join shape as MinHash LSH (Dedup.minhashCandidates).
   * No O(n²) all-pairs join ever runs, and only (band, key, id) rows
   * shuffle; vectors are re-joined by id afterwards. Within-bucket pair
   * volume is controlled by bitsPerBand: size it with [[bitsPerBandFor]]
   * (≈ log2(n/targetBucket)) — a FIXED bitsPerBand goes quadratic in the
   * background-pair count once n outgrows the 2^bitsPerBand key space.
   */
  def cosineCandidatePairs(df: DataFrame, vec: Column, id: Column,
                           bitsPerBand: Int, bands: Int): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    val banded = df.select(id.as("__id"),
        posexplode(bandedSigs(vec, bitsPerBand, bands)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__key")
    val a = banded.select(c("__band"), c("__key"), c("__id").as("id1"))
    val b = banded.select(c("__band").as("__band2"), c("__key").as("__key2"), c("__id").as("id2"))
    a.join(b, a("__band") === b("__band2") && a("__key") === b("__key2") && a("id1") < b("id2"))
      .select("id1", "id2").distinct()
  }

  /**
   * Embedding-cosine near-duplicate pairs: banded-LSH candidates, then
   * exact cosine verify >= threshold. Recall is tuned by (bitsPerBand,
   * bands): per-pair miss probability is (1 - p^bitsPerBand)^bands with
   * p = 1 - angle/pi; the defaults catch cos >= 0.99 pairs with miss
   * < 1e-5 while keeping 2^16 keys per band.
   */
  def cosineNearDupPairs(df: DataFrame, vec: Column, id: Column,
                         threshold: Double, bitsPerBand: Int = 16, bands: Int = 8): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    // (id, vec) feeds three joins (candidate explode + both verify sides):
    // persist so the input scans once, not 3x. The verified pair set is
    // small; localCheckpoint it EAGERLY so the cache can be released before
    // returning — no session-pinned CacheManager entry survives the call
    // (checkpoint blocks are ContextCleaner-freed once the result is GC'd).
    val base = OpsUtil.ensureParallelism(df.select(id.as("__id"), vec.as("__v"))).persist()
    try {
      val cands = cosineCandidatePairs(base, c("__v"), c("__id"), bitsPerBand, bands)
      val v1 = base.select(c("__id").as("id1"), c("__v").as("__v1"))
      val v2 = base.select(c("__id").as("id2"), c("__v").as("__v2"))
      cands.join(v1, "id1").join(v2, "id2")
        .withColumn("cos", cosine(c("__v1"), c("__v2")))
        .where(c("cos") >= threshold)
        .select("id1", "id2", "cos")
        .localCheckpoint()
    } finally base.unpersist(blocking = false)
  }

  /**
   * KNN graph: approximate top-k neighbors for EVERY vector (the
   * similarity-join shape a training pipeline runs corpus-wide). Candidate
   * pairs come from banded hyperplane LSH (band-OR across `bands`
   * independent sub-signatures) so the join is bucket-equi with
   * 2^bitsPerBand keys per band — no all-pairs join — and recall scales
   * with `bands` instead of single-bucket luck; per-vector top-k is a
   * window over candidates only. Size bitsPerBand with [[bitsPerBandFor]]
   * so candidate volume stays ~linear as the corpus grows.
   */
  def knnGraph(df: DataFrame, vec: Column, id: Column, k: Int,
               bitsPerBand: Int = 16, bands: Int = 8): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    // same single-scan + eager-result + release discipline as
    // cosineNearDupPairs: the input is read by three consumers
    val base = OpsUtil.ensureParallelism(df.select(id.as("__id"), vec.as("__v"))).persist()
    try {
      knnGraphOn(base, k, bitsPerBand, bands).localCheckpoint()
    } finally base.unpersist(blocking = false)
  }

  /**
   * Batch ANN: approximate top-k neighbors from the WHOLE corpus for the
   * subset of rows where `isQuery` holds — the "score a query batch
   * against the index" shape, same banded-LSH candidate machinery as
   * [[knnGraph]] but with the probe side restricted before the bucket
   * join, so candidate volume is |queries| x bucket-occupancy, not
   * corpus². Low `bitsPerBand` with many `bands` trades candidate volume
   * for recall: per-pair miss probability is (θ/π)^(bands) at 1 bit.
   */
  def knnQueries(df: DataFrame, vec: Column, id: Column, isQuery: Column, k: Int,
                 bitsPerBand: Int = 4, bands: Int = 48): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    val base = OpsUtil.ensureParallelism(
      df.select(id.as("__id"), vec.as("__v"), isQuery.as("__isq"))).persist()
    try {
      knnGraphOn(base, k, bitsPerBand, bands, queryOnly = true).localCheckpoint()
    } finally base.unpersist(blocking = false)
  }

  private def knnGraphOn(base: DataFrame, k: Int, bitsPerBand: Int, bands: Int,
                         queryOnly: Boolean = false): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    val banded = base.select(c("__id"),
        posexplode(bandedSigs(c("__v"), bitsPerBand, bands)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__key")
    val probeSide = if (queryOnly)
      base.where(c("__isq")).select(c("__id"),
          posexplode(bandedSigs(c("__v"), bitsPerBand, bands)))
        .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__key")
    else banded
    val a = probeSide.select(c("__band"), c("__key"), c("__id").as("id1"))
    val b = banded.select(c("__band").as("__band2"), c("__key").as("__key2"), c("__id").as("id2"))
    // directed candidates (both orders survive: each side needs its own knn).
    // Co-partitioning (§2.3/§2.4): an explicit repartition by id1 BEFORE the
    // dedup — HashPartitioning(id1) satisfies the (id1, id2) distinct's
    // clustering requirement AND the per-id window's, so the dedup
    // aggregation and the top-k window ride ONE exchange instead of each
    // inserting its own (the dedup's (id1,id2) exchange satisfied neither
    // downstream need). The vector re-attachment joins go id2-first so the
    // LAST join is keyed id1 — when they run as shuffle joins at corpus
    // scale, the window then reuses the final join's partitioning too.
    val cands = a.join(b, a("__band") === b("__band2") && a("__key") === b("__key2") && a("id1") =!= b("id2"))
      .select("id1", "id2").repartition(c("id1")).distinct()
    val v1 = base.select(c("__id").as("id1"), c("__v").as("__v1"))
    val v2 = base.select(c("__id").as("id2"), c("__v").as("__v2"))
    val scored = cands.join(v2, "id2").join(v1, "id1")
      .select(c("id1"), c("id2"), cosine(c("__v1"), c("__v2")).as("cos"))
    import org.apache.spark.sql.expressions.Window
    scored.withColumn("knn_rank", row_number().over(
        Window.partitionBy(c("id1")).orderBy(c("cos").desc, c("id2").asc)))
      .where(c("knn_rank") <= k)
      .select("id1", "id2", "cos", "knn_rank")
  }

  /**
   * IVF: Lloyd's k-means on a sample (driver holds only k centroids),
   * assignment + centroid update are groupBy aggregations.
   * Returns (assignments DF with `cluster` column, centroids).
   */
  def kmeansAssign(df: DataFrame, vec: Column, id: Column,
                   k: Int, iters: Int = 3, seed: Long = 42L): (DataFrame, Array[Array[Double]]) = {
    // null vectors can't be assigned (fold would leave cluster = -1).
    // localCheckpoint, not cache(): Lloyd's rounds + the returned
    // assignment all read the same materialized blocks, and those blocks
    // are ContextCleaner-freed when the frames are dropped — a cache()
    // here would stay pinned in the CacheManager for the session lifetime.
    val base = df.select(id.as("vec_id"), vec.as("__v")).where(vec.isNotNull).localCheckpoint()
    kmeansAssignOn(base, k, iters)
  }

  /** Lloyd's over an already-materialized `(vec_id, __v)` base —
    * [[buildIvfPqIndex]] shares ONE checkpointed base between the coarse
    * quantizer and PQ training, so the input is scanned/projected once.
    * `init` (the first-k-by-id rows, pre-collected) lets a caller that
    * already holds a deterministic head sample skip the TakeOrdered job
    * — the values are identical by construction, so centroids stay
    * bit-exact. */
  private def kmeansAssignOn(base: DataFrame, k: Int, iters: Int,
                             init: Option[Array[Array[Double]]] = None)
      : (DataFrame, Array[Array[Double]]) = {
    // deterministic init: first k vectors by id; element type read
    // agnostically (embeddings are float[], centroids/other sources double[])
    var centroids: Array[Array[Double]] = init.getOrElse(
      base.orderBy("vec_id").limit(k).collect()
        .map(_.getSeq[Number](1).map(_.doubleValue()).toArray))
    for (_ <- 1 to iters) {
      val assigned = assignClusters(base, centroids)
      // per-dimension means collected as (cluster, pos, m) rows — k*dim
      // rows, one shuffle (the old second groupBy that pivoted them into
      // a map was a pure reshape: same avg() aggregate, same values, one
      // more exchange per Lloyd's round for nothing)
      val upd = assigned
        .select(org.apache.spark.sql.functions.col("cluster"),
          posexplode(org.apache.spark.sql.functions.col("__v")))
        .groupBy("cluster", "pos").agg(avg(org.apache.spark.sql.functions.col("col")).as("m"))
        .collect()
      val fresh = new java.util.HashMap[Int, Array[Double]]()
      for (r <- upd) {
        val cl = r.getInt(0)
        if (cl >= 0 && cl < centroids.length) { // defensive: unassignable rows fold to -1
          val arr = fresh.computeIfAbsent(cl, c => centroids(c).clone())
          arr(r.getInt(1)) = r.getDouble(2)
        }
      }
      fresh.forEach((cl, arr) => centroids(cl) = arr)
    }
    (assignClusters(base, centroids), centroids)
  }

  /**
   * SemDedup (Abbas et al. 2023, arXiv:2303.09540 — semantic dedup for
   * web-scale corpora): k-means-cluster the embeddings, then drop any row
   * whose cosine to a SMALLER-id row in the SAME cluster is >= `tau`
   * (greedy by id: the smallest id of a duplicate CLIQUE survives; for a
   * chain a~b~c with a!~c both b and c drop — compose [[Dedup.clusterPairs]]
   * over the pair set when transitive keep-one-per-component is wanted).
   * Pairwise
   * work never leaves a cluster, and within a cluster candidates come from
   * the same banded hyperplane LSH as [[cosineNearDupPairs]] with the
   * cluster id prepended to the bucket key, so the join is bucketed both
   * ways — no all-pairs pass at any scale. At corpus scale `k` grows with
   * n to hold cluster populations bounded (the paper's regime); a pair
   * that straddles a cluster boundary is NOT a SemDedup duplicate (both
   * rows keep), exactly the paper's semantics.
   *
   * `iters = 0` pins the centroids to the first `k` vectors by id (no
   * Lloyd's refinement) — fully deterministic, so the correctness oracle
   * can replay assignment AND drop set in closed form; real runs pass
   * `iters > 0` for balanced clusters.
   *
   * Returns (vec_id, cluster, keep).
   */
  def semDedup(df: DataFrame, vec: Column, id: Column, k: Int, tau: Double,
               iters: Int = 3, bitsPerBand: Int = 16, bands: Int = 8): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    // assigned = (vec_id, __v, cluster); feeds the banded projection plus
    // both exact-verify sides — persist for one scan, release before return
    val assigned = kmeansAssign(df, vec, id, k, iters)._1.persist()
    try {
      val banded = assigned.select(c("cluster"), c("vec_id"),
          posexplode(bandedSigs(c("__v"), bitsPerBand, bands)))
        .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__key")
      val aSide = banded.select(c("cluster"), c("__band"), c("__key"), c("vec_id").as("id1"))
      val bSide = banded.select(c("cluster").as("__cl2"), c("__band").as("__band2"),
        c("__key").as("__key2"), c("vec_id").as("id2"))
      val cands = aSide.join(bSide,
          aSide("cluster") === bSide("__cl2") && c("__band") === c("__band2") &&
            c("__key") === c("__key2") && c("id1") < c("id2"))
        .select("id1", "id2").distinct()
      val v1 = assigned.select(c("vec_id").as("id1"), c("__v").as("__v1"))
      val v2 = assigned.select(c("vec_id").as("id2"), c("__v").as("__v2"))
      // id2 > id1 by construction: id2 is the member that drops
      val drops = cands.join(v1, "id1").join(v2, "id2")
        .where(cosine(c("__v1"), c("__v2")) >= tau)
        .select(c("id2").as("vec_id")).distinct()
      assigned.select(c("vec_id"), c("cluster"))
        .join(drops.withColumn("__drop", lit(true)), Seq("vec_id"), "left")
        .select(c("vec_id"), c("cluster"), coalesce(!c("__drop"), lit(true)).as("keep"))
        .localCheckpoint()
    } finally assigned.unpersist(blocking = false)
  }

  private def assignClusters(base: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val cents = typedlit(centroids.map(_.toSeq).toSeq)
    // argmax cosine over the (small, literal) centroid array via an
    // aggregate fold — fully distributed, no UDF.
    base.withColumn("cluster",
      aggregate(
        sequence(lit(0), lit(centroids.length - 1)),
        struct(lit(-1).cast("int").as("best"), lit(-2.0).as("score")),
        (acc, i) => {
          val s = cosine(org.apache.spark.sql.functions.col("__v"), cents.getItem(i))
          when(s > acc("score"), struct(i.cast("int").as("best"), s.as("score"))).otherwise(acc)
        },
        acc => acc("best")))
  }

  // -------------------------------------------------------------------
  // Persisted IVF index (the 100 TB path): k-means runs ONCE at build
  // time; every later probe — in this session or any other — is manifest
  // metadata plus a cluster-pruned scan. Layout:
  //   <indexRoot>/centroids  (cluster INT, centroid ARRAY<DOUBLE>) — k rows
  //   <indexRoot>/vectors    (vec_id, cluster, vec) — a geo table
  //     identity-partitioned by `cluster`, so transform-clustered writes
  //     roll one-file-per-cluster-run and the probe's `cluster IN (...)`
  //     prunes to just the probed clusters' files from per-file stats.
  // -------------------------------------------------------------------

  /** Build the index tables under `indexRoot`. A 100 TB corpus pays
    * Lloyd's once here; [[ivfSearch]] never re-clusters. */
  def buildIvfIndex(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                    df: DataFrame, vec: Column, id: Column,
                    k: Int, iters: Int = 3): Unit = {
    val (assigned, cents) = kmeansAssign(df, vec, id, k, iters)
    writeIvfTables(spark, indexRoot,
      assigned.select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("cluster"),
        org.apache.spark.sql.functions.col("__v").as("vec")), cents)
  }

  /** The shared store step: `vectors` identity-partitioned by `cluster`
    * (clustered writes roll one file per cluster run; probes open only
    * their clusters' files via exact IN-value pruning) + the k-row
    * `centroids` table. The vectors table pins `graft.write.layout=hash`:
    * a range-clustered write would run the range SAMPLER over the
    * assignment frame first — the final k-means assignment computed
    * TWICE, at corpus scale a second full pass per build/append — while
    * the hash exchange assigns and lands rows in ONE pass with identical
    * per-file single-cluster grouping (see GeoPartition.LayoutModeProp).
    * This is the "fuse the final assignment into the clustered write"
    * step: every verb that lays out by cluster (build, append, upsert,
    * stream ingest, rebuild, compaction) inherits it from the prop. */
  private def writeIvfTables(spark: org.apache.spark.sql.SparkSession,
                             indexRoot: String, vectors: DataFrame,
                             cents: Array[Array[Double]]): Unit = {
    import graft.tables.{GeoPartition, GeoTable}
    GeoTable.create(spark, s"$indexRoot/vectors", vectors, geomCol = None,
      partitions = Seq(GeoPartition.PTransform("identity", 0, "cluster")),
      props = Map(GeoPartition.LayoutModeProp -> "hash"))
    val sp = spark
    import sp.implicits._
    GeoTable.create(spark, s"$indexRoot/centroids",
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("cluster", "centroid"),
      geomCol = None)
  }

  /** Persisted IVF-PQ: [[buildIvfIndex]]'s layout with a `pq_code` column
    * on the vectors table and a third table holding the trained
    * codebooks. The 100 TB composition: the coarse quantizer prunes the
    * probe to `nprobe` clusters' FILES, the ADC sweep inside them reads
    * CODES only (the float vectors never load for scoring), and exact
    * cosine reranks just the candidate pool. Lloyd's (both levels) runs
    * once here; [[ivfPqSearch]] is metadata + a pruned code sweep. */
  def buildIvfPqIndex(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                      df: DataFrame, vec: Column, id: Column,
                      k: Int, iters: Int = 3, m: Int = 8, pqK: Int = 16,
                      pqIters: Int = 8, sampleN: Int = 4096): Unit = {
    val c = org.apache.spark.sql.functions.col _
    // ONE materialized (vec_id, __v) base feeds both Lloyd's levels: the
    // coarse quantizer's rounds and the PQ training sample read the same
    // checkpointed blocks instead of re-scanning + re-projecting the input
    val base = df.select(id.as("vec_id"), vec.as("__v")).where(vec.isNotNull).localCheckpoint()
    // ONE deterministic head sample (first max(k, sampleN) rows by id)
    // serves BOTH the coarse quantizer's init (its first k rows — exactly
    // what kmeansAssignOn would have collected) and PQ training (its
    // first sampleN rows): one TakeOrdered pass over the base instead of
    // two. Values are identical by construction, so centroids and
    // codebooks stay bit-exact.
    val head = base.orderBy("vec_id").limit(math.max(k, sampleN)).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val (assigned, cents) = kmeansAssignOn(base, k, iters, init = Some(head.take(k)))
    val cb = pqTrainOnSample(head.take(sampleN), m, pqK, pqIters)
    writeIvfTables(spark, indexRoot,
      assigned
        .withColumn("pq_code", col2(graft.functions.PqEncode(ex(c("__v")), cb)))
        .select(c("vec_id"), c("cluster"), c("__v").as("vec"), c("pq_code")),
      cents)
    val sp = spark
    import sp.implicits._
    graft.tables.GeoTable.create(spark, s"$indexRoot/codebooks",
      (for { j <- cb.indices; ci <- cb(j).indices }
        yield (j, ci, cb(j)(ci).toSeq)).toDF("subspace", "code", "centroid"),
      geomCol = None)
  }

  /** Driver-side cosine of a centroid against the query — k evaluations
    * total, the one intentionally driver-side piece of IVF. */
  private def centroidCos(v: Array[Double], qd: Array[Double]): Double = {
    var d = 0.0; var nv = 0.0; var nq = 0.0; var i = 0
    while (i < math.min(v.length, qd.length)) {
      d += v(i) * qd(i); nv += v(i) * v(i); nq += qd(i) * qd(i); i += 1
    }
    if (nv == 0 || nq == 0) 0.0 else d / math.sqrt(nv * nq)
  }

  /** The `nprobe` cluster ids nearest the query, by centroid cosine. */
  private def nearestClusters(centroids: Seq[(Int, Array[Double])],
                              q: Array[Float], nprobe: Int): Seq[Int] = {
    val qd = q.map(_.toDouble)
    centroids.sortBy { case (_, v) => -centroidCos(v, qd) }.take(nprobe).map(_._1)
  }

  /** The shared probe tail: exact cosine top-k over rows the caller has
    * already restricted to the probed clusters (`vecCol` names the
    * embedding column of `rows`). */
  private def probeTopK(rows: DataFrame, vecCol: String,
                        q: Array[Float], k: Int): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    rows.select(c("vec_id"), cosine(c(vecCol), typedlit(q.toSeq)).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** Probe a prebuilt index: read the k centroid rows, pick the `nprobe`
    * nearest clusters, and top-k ONLY the probed clusters' rows — the
    * scan's IN-value pruning opens only files whose recorded cluster
    * range can hold a probed id. No k-means jobs run here. */
  def ivfSearch(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                q: Array[Float], k: Int, nprobe: Int = 2): DataFrame = {
    import graft.tables.GeoTable
    val probes = nearestClusters(readCentroids(spark, indexRoot), q, nprobe)
    // scan() both file-prunes on the predicate and applies it to rows
    probeTopK(GeoTable.scan(spark, s"$indexRoot/vectors",
      org.apache.spark.sql.functions.col("cluster").isin(probes: _*)), "vec", q, k)
  }

  // Driver-side memo of the tiny index-METADATA tables (k centroid rows,
  // m*k codebook rows, a BM25 index's recomputed corpus stats — never
  // vectors, never results) keyed by (table
  // root, manifest version): index workflows and per-micro-batch ingest
  // re-read these constant tables several times each (probe + encode +
  // rebuild legs), and every re-read is a full Spark job. A version-keyed
  // entry can never go stale — commits mint new versions — and the
  // version lookup is one driver-side `_current` read. Bounded LRU, so
  // driver state stays a handful of k*dim arrays (the same state the
  // probe already holds transiently).
  private val metaCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Int, Long, String), AnyRef](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int, Long, String), AnyRef]): Boolean =
          size() > 32
      })

  /** [[metaCache]] key: (root, version, commit ts, kind + the sorted
    * data-file paths). Version alone could alias a dropped-and-recreated
    * root whose fresh v0 holds different rows; the commit timestamp
    * separates lineages at ms resolution, and the path set (UUID-fresh
    * per commit dir, already in the manifest in memory — no extra I/O)
    * separates even a same-millisecond recreate. The paths enter whole,
    * never as a 32-bit hash that two path sets can share. */
  private[graft] def metaKey(table: String, version: Int, commitTs: Long,
                             kind: String, paths: Seq[String]): (String, Int, Long, String) =
    (graft.tables.GeoManifest.norm(table), version, commitTs,
      kind + "#" + paths.sorted.mkString("\n"))

  private[graft] def cachedMeta[T <: AnyRef](spark: org.apache.spark.sql.SparkSession,
                                      table: String, kind: String)(load: Int => T): T = {
    // Manifest read is one driver-side file, no job.
    val m = graft.tables.GeoManifest.read(spark, table)
    val key = metaKey(table, m.version, m.commitTs, kind, m.files.map(_.path))
    val hit = metaCache.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else { val loaded = load(m.version); metaCache.put(key, loaded); loaded }
  }

  /** The stored centroids, ordered by cluster id (memoized per manifest
    * version — see [[metaCache]]). */
  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            indexRoot: String): Seq[(Int, Array[Double])] =
    cachedMeta(spark, s"$indexRoot/centroids", "centroids") { v =>
      graft.tables.GeoTable.readAt(spark, s"$indexRoot/centroids", v)
        .orderBy("cluster").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toSeq
    }

  /** Whether a persisted index at `indexRoot` carries trained PQ
    * codebooks (i.e. was built by [[buildIvfPqIndex]]) — one manifest
    * HEAD read, no data files open. Callers use this to route probes:
    * codebooks present ⇒ [[ivfPqSearch]] (ADC over codes), absent ⇒
    * [[ivfSearch]] (exact cosine over the probed clusters' floats). */
  def hasPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                     indexRoot: String): Boolean =
    graft.tables.GeoManifest.currentVersion(spark, s"$indexRoot/codebooks").isDefined

  /** The stored PQ codebooks, or None for a plain IVF index (memoized per
    * manifest version — see [[metaCache]]; absence stays a cheap
    * driver-side `_current` check, never cached). */
  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                            indexRoot: String): Option[Array[Array[Array[Double]]]] = {
    if (graft.tables.GeoManifest
        .currentVersion(spark, s"$indexRoot/codebooks").isEmpty) return None
    Some(cachedMeta(spark, s"$indexRoot/codebooks", "codebooks") { v =>
      val rows = graft.tables.GeoTable.readAt(spark, s"$indexRoot/codebooks", v)
        .orderBy("subspace", "code").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      val m = rows.map(_._1).max + 1
      Array.tabulate(m)(j => rows.filter(_._1 == j).sortBy(_._2).map(_._3))
    })
  }

  /** Probe a prebuilt IVF-PQ index: coarse prune to the `nprobe` nearest
    * clusters (file-level — only their files open), ADC-sweep the PQ
    * codes of just those rows, exact-rerank the candidate pool. The
    * sweep is its own FIRST job whose scan reads (vec_id, pq_code) only
    * — column pruning drops the float column, so its parquet pages never
    * load for scoring (at dim=1024/m=8 that is ~100× fewer data bytes
    * per probed row); the rerank then re-opens the probed clusters for
    * just the ≤`candidates` winning ids (id IN-pushdown scan — floats
    * load for the pool alone). The driver holds only the candidate id
    * list, bounded by `candidates`. No k-means or codebook training runs
    * here; the codebooks load as m*k tiny rows. Exact whenever
    * `candidates` covers the true top-k within the probed clusters (the
    * same two recall contracts as [[ivfSearch]] and [[pqTopK]],
    * composed). */
  def ivfPqSearch(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                  q: Array[Float], k: Int, nprobe: Int = 2,
                  candidates: Int = 128): DataFrame = {
    import graft.tables.GeoTable
    import org.apache.spark.sql.functions.{asc, desc}
    val c = org.apache.spark.sql.functions.col _
    val probes = nearestClusters(readCentroids(spark, indexRoot), q, nprobe)
    val cb = readCodebooks(spark, indexRoot).getOrElse(throw new IllegalArgumentException(
      s"$indexRoot has no codebooks table — a plain IVF index probes via ivfSearch"))
    // phase 1 — codes-only ADC sweep: ties at __approx break by vec_id
    // ascending (same rule as pqTopK), so the candidate pool — and with
    // it the exact final top-k — is deterministic
    val ids = GeoTable.scan(spark, s"$indexRoot/vectors", c("cluster").isin(probes: _*))
      .select(c("vec_id"),
        col2(graft.functions.PqAdcScore(ex(c("pq_code")), adcLut(cb, q))).as("__approx"))
      .orderBy(desc("__approx"), asc("vec_id")).limit(candidates)
      .select("vec_id").collect().map(_.get(0))
    // phase 2 — exact rerank of the pool: floats load for these ids only
    probeTopK(GeoTable.scan(spark, s"$indexRoot/vectors",
      c("cluster").isin(probes: _*) && c("vec_id").isin(ids: _*)), "vec", q, k)
  }

  /** Incrementally ADD vectors to a persisted IVF or IVF-PQ index: new
    * rows assign to the EXISTING centroids (nearest-centroid — the same
    * rule probes use, so correctness is unconditional) and re-encode with
    * the STORED codebooks when present; the append lands cluster-
    * clustered, so probes keep opening only their clusters' files. A
    * 100 TB index cannot re-run Lloyd's per ingest batch — training
    * happens at build (and at an explicit rebuild when centroid drift
    * degrades pruning selectivity; results stay exact either way, drift
    * only widens the candidate pool a given nprobe covers). Returns rows
    * appended. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                       df: DataFrame, vec: Column, id: Column): Long =
    graft.tables.GeoTable.append(spark, s"$indexRoot/vectors",
      encodeForIndex(spark, indexRoot, df, vec, id))

  /**
   * Exactly-once MICRO-BATCH ingest into a persisted IVF/IVF-PQ index:
   * the encoded rows and the `(sinkId, batchId)` watermark share one
   * manifest commit on the vectors table, so a crash-replayed batch is
   * skipped, never double-indexed. Returns true when the batch
   * committed, false for a replayed or empty batch.
   */
  def appendToIvfIndexBatch(spark: org.apache.spark.sql.SparkSession,
                            indexRoot: String, df: DataFrame,
                            vec: Column, id: Column,
                            sinkId: String, batchId: Long): Boolean = {
    val root = s"$indexRoot/vectors"
    if (graft.tables.GeoTable.lastStreamBatch(spark, root, sinkId).exists(_ >= batchId))
      return false
    // append itself skips the commit for an empty batch — no isEmpty
    // probe job per micro-batch
    graft.tables.GeoTable.append(spark, root,
      encodeForIndex(spark, indexRoot, df, vec, id), Some(sinkId -> batchId)) > 0
  }

  /** Streaming ANN index ingest as a `foreachBatch` sink: each
    * micro-batch assigns to the STORED centroids (no Lloyd's per batch),
    * re-encodes with the stored codebooks, and lands with its epoch
    * watermark in one atomic commit ([[appendToIvfIndexBatch]]) — the
    * exactly-once contract of the geo table sinks. */
  def ivfIndexSink(stream: DataFrame, indexRoot: String, vec: Column, id: Column,
                   checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendToIvfIndexBatch(batch.sparkSession, indexRoot, batch, vec, id,
          graft.streaming.EventStreams.sinkIdFor(batch.sparkSession, checkpointDir),
          batchId): Unit
      }

  /** The stored-index row encoding shared by append and upsert: assign to
    * the STORED centroids, re-encode with the STORED codebooks when
    * present — so the two ingest verbs can never diverge. */
  private def encodeForIndex(spark: org.apache.spark.sql.SparkSession,
                             indexRoot: String, df: DataFrame,
                             vec: Column, id: Column): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    val centroids = readCentroids(spark, indexRoot).map(_._2).toArray
    val base = df.select(id.as("vec_id"), vec.as("__v")).where(vec.isNotNull)
    val assigned = assignClusters(base, centroids)
    readCodebooks(spark, indexRoot) match {
      case Some(cb) => assigned
        .withColumn("pq_code", col2(graft.functions.PqEncode(ex(c("__v")), cb)))
        .select(c("vec_id"), c("cluster"), c("__v").as("vec"), c("pq_code"))
      case None => assigned.select(c("vec_id"), c("cluster"), c("__v").as("vec"))
    }
  }

  /** REMOVE vectors from a persisted IVF or IVF-PQ index by id — the
    * curation verb for post-build dedup verdicts, takedowns, and CDC
    * replacements (delete + [[appendToIvfIndex]] the new embedding).
    * O(keys), never a rebuild: the ids land as one equality-delete
    * sidecar on the vectors geo table (metadata commit, no vector
    * rewrite); every probe's cluster-pruned scan already merges sidecars,
    * so removed vectors drop out of results immediately. Centroids and
    * codebooks stay — like append-side centroid drift, removals never
    * affect correctness (scoring is exact over surviving rows), they only
    * age the partitioning until an explicit rebuild. Ids absent from the
    * index are a no-op. */
  def removeFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         indexRoot: String, ids: DataFrame): Unit =
    graft.tables.GeoTable.deleteByKey(spark, s"$indexRoot/vectors",
      Seq("vec_id"), ids.toDF("vec_id"))

  /** UPSERT vectors (the CDC-replacement verb): ids already indexed are
    * replaced by their batch embedding, new ids are added — ONE atomic
    * commit via the table's keyed upsert (the equality-delete leg and the
    * fresh rows share the commit; the fresh rows out-sequence the delete,
    * so the new embedding probes immediately and a crash leaves either
    * the whole batch applied or none of it — never a removed-but-not-yet-
    * re-added window). O(batch), no re-clustering: rows assign to the
    * stored centroids and re-encode with the stored codebooks. */
  def upsertIvfIndex(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                     df: DataFrame, vec: Column, id: Column): Long =
    graft.tables.GeoTable.upsertByKey(spark, s"$indexRoot/vectors",
      Seq("vec_id"), encodeForIndex(spark, indexRoot, df, vec, id))

  /** REBUILD a churned IVF/IVF-PQ index: Lloyd's (both levels when the
    * old index is PQ) re-runs over the SURVIVORS and the result lands at
    * `newRoot` — the maintenance verb the churn envelope motivates
    * (tools/ChurnScale: after ~30% cumulative drifted churn the
    * probed-row share had aged 0.126 → 0.198; one rebuild restored the
    * build-day share and probe wall). Training params (k, m, pqK) are
    * read back from the STORED tables, so callers need not remember the
    * build-day tuning; `iters` re-prices Lloyd's. The old index stays
    * readable throughout (rebuild is a reader of it) — cut probes over
    * to `newRoot`, then drop the old directory; the two-root shape is
    * what makes the swap crash-safe without a cross-table transaction.
    * Returns the number of vectors rebuilt. */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      indexRoot: String, newRoot: String,
                      iters: Int = 3): Long = {
    val c = org.apache.spark.sql.functions.col _
    require(graft.tables.GeoManifest.currentVersion(spark, newRoot + "/vectors").isEmpty,
      s"$newRoot already holds an index — rebuild lands at a FRESH root")
    val survivors = graft.tables.GeoTable.read(spark, s"$indexRoot/vectors")
      .select(c("vec_id"), c("vec"))
    // k from the memoized centroid rows (readCentroids) — the old
    // count() re-scanned the k-row table as its own Spark job
    val k = readCentroids(spark, indexRoot).length
    readCodebooks(spark, indexRoot) match {
      case Some(cb) =>
        buildIvfPqIndex(spark, newRoot, survivors, c("vec"), c("vec_id"),
          k = k, iters = iters, m = cb.length, pqK = cb.head.length)
      case None =>
        buildIvfIndex(spark, newRoot, survivors, c("vec"), c("vec_id"),
          k = k, iters = iters)
    }
    // rows rebuilt = the fresh table's manifest row sum: the rebuild just
    // wrote these files with exact per-file stats, the new root is
    // sidecar-free by construction (require'd above: fresh root, and
    // create files no deletes) — a full table re-scan (count()) would
    // recompute what the manifest already records (the Iceberg
    // count-from-stats fast path)
    graft.tables.GeoManifest.read(spark, s"$newRoot/vectors").files.map(_.rows).sum
  }

  /** IVF search: score only rows in the `nprobe` clusters nearest the query. */
  def ivfTopK(assigned: DataFrame, centroids: Array[Array[Double]],
              q: Array[Float], k: Int, nprobe: Int = 2): DataFrame = {
    val probes = nearestClusters(centroids.zipWithIndex.map(_.swap).toSeq, q, nprobe)
    probeTopK(assigned.where(
      org.apache.spark.sql.functions.col("cluster").isin(probes: _*)), "__v", q, k)
  }

  // -------------------------------------------------------------------
  // Product quantization (PQ) — the memory side of 100 TB ANN. A
  // 384-dim float corpus is 1.5 KB/vector; PQ codes at m=8, k=16 are 8
  // small ints (~8 bytes packed) — a ~190x working-set reduction for the
  // candidate sweep. The pipeline is the standard IVF-PQ shape minus the
  // coarse quantizer (compose with ivfSearch for both): train tiny
  // per-subspace codebooks ONCE on a driver sample, encode distributed,
  // answer queries by asymmetric distance (one m x k lookup table per
  // query, scores summed from codes — the vectors themselves never load)
  // and exact-rerank only the top candidates, so the final top-k is
  // EXACT whenever the candidate pool covers it (tunable; the specs and
  // the driver oracle pin exactness at the corpus' tuning).
  // -------------------------------------------------------------------

  /** Train PQ codebooks: `m` subspaces x `k` centroids each, Lloyd's on
    * a deterministic driver-side sample (first `sampleN` rows by id —
    * codebook training reads kilobytes, never the corpus). Vectors are
    * L2-normalized first so summed sub-dot-products approximate COSINE.
    * Returns codebooks(m)(k)(dim/m). */
  def pqTrain(df: DataFrame, vec: Column, id: Column, m: Int = 8, k: Int = 16,
              iters: Int = 8, sampleN: Int = 4096): Array[Array[Array[Double]]] =
    pqTrainOn(df.select(id.as("vec_id"), vec.as("__v")).where(vec.isNotNull),
      m, k, iters, sampleN)

  /** [[pqTrain]] over an already-projected `(vec_id, __v)` base (shared
    * with the coarse quantizer in [[buildIvfPqIndex]] — same rows, same
    * deterministic first-`sampleN`-by-id sample). */
  private def pqTrainOn(base: DataFrame, m: Int, k: Int,
                        iters: Int, sampleN: Int): Array[Array[Array[Double]]] =
    pqTrainOnSample(base
      .orderBy("vec_id").limit(sampleN).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray), m, k, iters)

  /** [[pqTrain]] over an ALREADY-COLLECTED deterministic head sample —
    * [[buildIvfPqIndex]] shares one TakeOrdered collect between k-means
    * init and PQ training. */
  private def pqTrainOnSample(sample: Array[Array[Double]], m: Int, k: Int,
                              iters: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "pqTrain: empty input")
    val dim = sample.head.length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val normed = sample.map(normalize)
    Array.tabulate(m) { j =>
      val sub = normed.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      lloyd(sub, k, iters)
    }
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    if (n == 0.0) v else { val s = 1.0 / math.sqrt(n); v.map(_ * s) }
  }

  /** Plain driver-side Lloyd's over a (tiny) sample: deterministic init
    * by stride so the k seeds spread over the sample. */
  private def lloyd(xs: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val n = xs.length
    val kk = math.min(k, n)
    var cents = Array.tabulate(kk)(i => xs(i * n / kk).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(kk)(new Array[Double](xs.head.length))
      val counts = new Array[Int](kk)
      xs.foreach { x =>
        val c = nearestSub(cents, x)
        counts(c) += 1
        var i = 0
        while (i < x.length) { sums(c)(i) += x(i); i += 1 }
      }
      cents = Array.tabulate(kk)(c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
    }
    // pad degenerate codebooks (sample smaller than k) by repeating: the
    // extra entries are never the argmin winner, codes stay in range
    if (cents.length < k) cents ++ Array.fill(k - cents.length)(cents.head.clone())
    else cents
  }

  private def nearestSub(cents: Array[Array[Double]], x: Array[Double]): Int = {
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < x.length) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Encode each vector as `m` codebook indices (argmin L2 per subspace
    * over the L2-NORMALIZED vector — matching [[pqTrain]]). Distributed
    * via the codegen'd [[graft.functions.PqEncode]] expression: one
    * virtual call into a pre-compiled primitive loop per row (an
    * interpreted higher-order-function formulation of the same argmin
    * measured ~3 orders slower). Output column `pq_code` = array<int>
    * of length m. */
  def pqEncode(df: DataFrame, vec: Column, id: Column,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val base = df.select(id.as("vec_id"), vec.as("__v")).where(vec.isNotNull)
    base.withColumn("pq_code",
      col2(graft.functions.PqEncode(
        ex(org.apache.spark.sql.functions.col("__v")), codebooks)))
  }

  /** Asymmetric-distance top-k over PQ codes + exact rerank: ONE m x k
    * lookup table per query (driver, from the codebooks), approximate
    * score per row = sum over subspaces of lut(j)(code_j) — codes only,
    * the vectors never load for the sweep — then the top `candidates`
    * rows rerank by EXACT cosine. The result equals [[bruteTopK]]
    * whenever the candidate pool covers the true top-k (the PQ recall
    * contract; widen `candidates` to trade wall for certainty). */
  def pqTopK(encoded: DataFrame, codebooks: Array[Array[Array[Double]]],
             q: Array[Float], k: Int, candidates: Int = 128): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    // single-plan sweep+rerank: `encoded` is an ad-hoc frame whose codes
    // were just computed FROM the floats, so a codes-only first pass
    // saves nothing here — the stored-index probe ([[ivfPqSearch]]) is
    // where the sweep runs as its own codes-only scan
    val approx = encoded.withColumn("__approx",
      col2(graft.functions.PqAdcScore(ex(c("pq_code")), adcLut(codebooks, q))))
    val cand = approx.orderBy(desc("__approx"), asc("vec_id")).limit(candidates)
    cand.select(c("vec_id"), cosine(c("__v"), typedlit(q.toSeq)).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** The per-query ADC lookup table: lut(j)(ci) = dot(q_sub_j, centroid)
    * — the approximate-cosine summand for code ci in subspace j, computed
    * once on the driver from the (tiny) codebooks. */
  private def adcLut(codebooks: Array[Array[Array[Double]]],
                     q: Array[Float]): Array[Array[Double]] = {
    val dsub = codebooks.head.head.length
    val qn = normalize(q.map(_.toDouble))
    Array.tabulate(codebooks.length) { j =>
      codebooks(j).map { cent =>
        var d = 0.0; var i = 0
        while (i < dsub) { d += qn(j * dsub + i) * cent(i); i += 1 }
        d
      }
    }
  }
}
