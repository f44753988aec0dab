package graft

import graft.ops.{Dedup, Similarity, TextAnalysis}

import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  /** Every physical-plan node of every action `body` runs, AS PLANNED
    * (AQE's input plan: the final plan may swap an executed stage for an
    * empty relation and hide the scan it already ran). A listener
    * captures the plans; a trailing sentinel action marks the point where
    * the in-order async listener bus has delivered them all. */
  private def plannedNodes(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def nodes(n: SparkPlan): Seq[SparkPlan] = n +: (n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => nodes(a.inputPlan)
      case other => other.children.flatMap(nodes)
    })
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(0, 7, 1, 1).collect()
      var tries = 0
      while (!plans.asScala.exists(_.toString.contains("Range (0, 7")) && tries < 100) {
        Thread.sleep(50); tries += 1
      }
      plans.asScala.toSeq.flatMap(nodes)
    } finally spark.listenerManager.unregister(listener)
  }

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different content about distributed query engines and columnar storage"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (4L, "le chat noir dort sur le canapé dans la maison pendant la nuit")
  ).toDF("doc_id", "text").cache()

  test("dropBoilerplateLines removes recurring long lines, spares short ones") {
    val boiler = "This site uses cookies to improve your experience."
    val withFooters = Seq(
      (1L, s"unique article one\n$boiler\nok"),
      (2L, s"unique article two\n$boiler\nok"),
      (3L, s"unique article three\n$boiler"),
      (4L, s"$boiler"), // all-boilerplate doc must survive as empty
      (5L, "no footer here at all")
    ).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(withFooters, col("doc_id"), col("text"),
        minDocs = 3, minChars = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out(0) == (1L, "unique article one\nok", 2L, 1L))
    assert(out(2) == (3L, "unique article three", 1L, 1L))
    assert(out(3) == (4L, "", 0L, 1L)) // empty, not vanished
    assert(out(4) == (5L, "no footer here at all", 1L, 0L))
    // 'ok' recurs in 2 docs but is short AND below minDocs — kept
    assert(out(1)._2.endsWith("ok"))
  }

  test("exactSubstrWindows flags shared spans at sampled offsets, exact text only") {
    // doc 1 and 2 share a 60-char paragraph at DIFFERENT offsets; doc 3 is
    // unique; doc 4 is shorter than the window and must not explode
    val para = "x" * 26 + "shared paragraph body here" + "y" * 8 // 60 chars
    val fx = Seq(
      (1L, "AAAA" + para + "tail one"),            // para at pos 4
      (2L, para + "completely different tail"),    // para at pos 0
      (3L, "z" * 80),                              // unique long doc
      (4L, "tiny")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrWindows(fx, col("doc_id"), col("text"),
        window = 20, stride = 2, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(out.nonEmpty)
    assert(out.map(_._1).toSet == Set(1L, 2L), s"flagged docs: ${out.map(_._1).toSet}")
    // every flagged window really is a 20-char substring present in BOTH docs
    val t1 = "AAAA" + para + "tail one"
    val t2 = para + "completely different tail"
    out.foreach { case (id, pos, win) =>
      val src = if (id == 1L) t1 else t2
      assert(src.substring(pos, pos + 20) == win, s"offset drift at $id/$pos")
      assert(t1.contains(win) && t2.contains(win), s"non-shared window flagged: $win")
    }
    // doc 3's windows ('zzzz…') recur WITHIN the doc but not across docs
    assert(!out.exists(_._1 == 3L), "within-doc recurrence must not flag")
  }

  test("exact dedup groups identical texts") {
    val groups = Dedup.exact(docs, col("doc_id"), col("text"))
    assert(groups.count() == 4)
    assert(groups.where(col("copies") === 2).select("keep_id").as[Long].head() == 0L)
  }

  test("minhash LSH finds the near-dup pair and exact dup, not unrelated docs") {
    val pairs = Dedup.minhashDedup(docs, col("doc_id"), col("text"), threshold = 0.7)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)), "exact dup must surface")
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 3L)), "near dup must surface")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not pair")
  }

  test("pair clustering finds connected components and keeps min-id representative") {
    // components: {1,2,3,9} (chain 1-2, 2-3, 3-9), {5,7}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 7L)).toDF("id1", "id2")
    val clusters = Dedup.clusterPairs(pairs).as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L && clusters(9L) == 1L)
    assert(clusters(5L) == 5L && clusters(7L) == 5L)
  }

  test("nearDupDrops keeps exactly one doc per near-dup cluster") {
    val drops = Dedup.nearDupDrops(docs, col("doc_id"), col("text"), threshold = 0.7)
      .as[Long].collect().toSet
    // docs 0,1,3 form one cluster (exact + near dups) -> keep 0, drop 1 and 3
    assert(drops == Set(1L, 3L), s"got $drops")
  }

  test("simhash hamming distance: dup=0, near-dup small, unrelated large") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) < ham(sigs(0L), sigs(2L)))
  }

  test("portable simhash single-token signature equals the token hash's low 16 bits") {
    // one token: each bit's vote is just that token's bit (+1 -> set,
    // -1 -> clear), so sig == portableTokenHash & 0xFFFF — ties the
    // codegen'd one-pass expression to the per-token Column arithmetic
    // the DuckDB oracle replays
    val rows = Seq((0L, "spark"), (1L, "graft"), (2L, "a")).toDF("id", "t")
      .select(col("id"), Dedup.simhash16(col("t")).as("sig"),
        Dedup.portableTokenHash(col("t")).bitwiseAND(lit(0xFFFFL)).as("low"))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (id, sig, low) => assert(sig == low, s"row $id") }
  }

  test("portable simhash banding recall equals brute-force hamming pairs") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash16(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    // 16-bit signature, exact dup identical
    assert(sigs.values.forall(s => s >= 0 && s < (1L << 16)))
    assert(sigs(0L) == sigs(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (maxH <- Seq(1, 3)) {
      val brute = (for {
        (i, si) <- sigs.toSeq; (j, sj) <- sigs.toSeq
        if i < j && ham(si, sj) <= maxH
      } yield (i, j)).toSet
      val banded = Dedup.simhashCandidatesPortable(docs, col("doc_id"), col("text"), maxH)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      assert(banded == brute, s"maxHamming=$maxH: banding must be lossless")
    }
  }

  test("jaccard verify computes exact set jaccard") {
    val sh = docs.select(col("doc_id").as("__jid"), Dedup.shinglesExpr(col("text"), 5).as("__sh"))
    val pairs = Seq((0L, 3L)).toDF("id1", "id2")
    val j = Dedup.jaccardVerify(pairs, sh, 0.0).select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("brute-force cosine top-k is exact and ordered") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)),
      (4L, Array(0.5f, 0.5f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteTopK(emb, col("embedding"), col("vec_id"), Array(1.0f, 0.0f, 0.0f), 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(0L, 1L, 4L))
  }

  test("lsh top-k recalls the exact nearest on clustered data") {
    val emb = (0 until 100).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f) else Array(0.0f, 1.0f, 0.0f, 0.0f)
      (i.toLong, base.zipWithIndex.map { case (v, j) => v + 0.01f * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val q = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val brute = Similarity.bruteTopK(emb, col("embedding"), col("vec_id"), q, 5)
      .select("vec_id").as[Long].collect().toSet
    val lsh = Similarity.lshTopK(emb, col("embedding"), col("vec_id"), q, 5, nbits = 8, maxHamming = 2)
      .select("vec_id").as[Long].collect().toSet
    assert((brute intersect lsh).size >= 4, s"poor recall: $brute vs $lsh")
  }

  test("knn graph recalls true nearest neighbors on clustered data") {
    val emb = (0 until 80).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f) else Array(0.0f, 1.0f, 0.0f)
      (i.toLong, base.map(v => v + 0.02f * ((i * 3) % 7)))
    }.toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(emb, col("embedding"), col("vec_id"), k = 3, bitsPerBand = 6, bands = 6)
      .as[(Long, Long, Double, Int)].collect()
    // every vector gets neighbors, and neighbors share the vector's cluster
    val byId = g.groupBy(_._1)
    assert(byId.size >= 75, s"coverage too low: ${byId.size}/80")
    val sameCluster = g.count(r => (r._1 % 2) == (r._2 % 2))
    assert(sameCluster.toDouble / g.length > 0.95, s"poor neighbor quality: $sameCluster/${g.length}")
  }

  test("knnQueries: batch ANN answers only for query rows, exact under dense banding") {
    val emb = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(6)(j => ((i * 13 + j * 7) % 11 - 5).toFloat))
    }.toDF("vec_id", "embedding")
    val g = Similarity.knnQueries(emb, col("embedding"), col("vec_id"),
        isQuery = col("vec_id") % 10 === 0, k = 3, bitsPerBand = 1, bands = 48)
      .as[(Long, Long, Double, Int)].collect()
    // only query rows appear on the probe side, each with a full top-k
    assert(g.map(_._1).toSet == Set(0L, 10L, 20L, 30L, 40L, 50L))
    assert(g.groupBy(_._1).forall(_._2.length == 3))
    // dense banding (1 bit x 48 bands) makes recall exact: compare one
    // query's answer against brute force
    val q0 = emb.where(col("vec_id") === 20).head.getSeq[Float](1).toArray
    val brute = Similarity.bruteTopK(emb.where(col("vec_id") =!= 20),
        col("embedding"), col("vec_id"), q0, 3)
      .select("vec_id").as[Long].collect().toSeq
    val approx = g.filter(_._1 == 20L).sortBy(_._4).map(_._2).toSeq
    assert(approx == brute, s"knnQueries $approx vs brute $brute")
  }

  test("embedding-cosine near-dup pairs surface constructed duplicates") {
    val emb = ((0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 13 + j * 7) % 11 - 5).toFloat))
    } :+ (100L, Array.tabulate(8)(j => ((3 * 13 + j * 7) % 11 - 5).toFloat * 1.001f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(emb, col("embedding"), col("vec_id"),
        threshold = 0.999, bitsPerBand = 6, bands = 8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 100L)), s"expected (3,100) in $pairs")
  }

  test("semDedup: within-cluster duplicates drop greedily, cross-cluster twins keep") {
    // two well-separated directions (clusters) with a duplicate clique in
    // each (scaled copies — cosine is scale-invariant, so clique cosine is
    // exactly 1.0 and LSH recall is guaranteed) plus one non-dup loner per
    // cluster (cos to its clique ~0.92, below tau=0.95).
    val x = Array(1.0f, 0.0f, 0.05f, 0.0f)
    val y = Array(0.0f, 1.0f, 0.0f, 0.05f)
    def scale(v: Array[Float], s: Float) = v.map(_ * s)
    val emb = Seq(
      0L -> x, 1L -> scale(x, 1.01f), 2L -> scale(x, 0.99f), // x-clique
      10L -> y, 11L -> scale(y, 1.02f),                      // y-clique
      20L -> Array(0.7f, 0.3f, 0.05f, 0.0f),                 // x-cluster loner
      21L -> Array(0.3f, 0.7f, 0.0f, 0.05f)                  // y-cluster loner
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, col("embedding"), col("vec_id"),
        k = 2, tau = 0.95, iters = 3, bitsPerBand = 4, bands = 16)
      .as[(Long, Int, Boolean)].collect().sortBy(_._1)
    val keep = out.filter(_._3).map(_._1).toSet
    val drop = out.filterNot(_._3).map(_._1).toSet
    assert(keep == Set(0L, 10L, 20L, 21L), s"keep set was $keep")
    assert(drop == Set(1L, 2L, 11L), s"drop set was $drop")
    // scaled copies must co-cluster with their source
    val byId = out.map(t => t._1 -> t._2).toMap
    assert(byId(0L) == byId(1L) && byId(1L) == byId(2L))
    assert(byId(10L) == byId(11L))
    assert(byId(20L) != byId(21L), "loners should sit in different clusters")
  }

  test("banded LSH candidate volume grows ~linearly with corpus size") {
    // each vector gets exactly one seeded near-dup (scaled copy); the rest
    // are pseudo-random. If banding works, candidates track the number of
    // true pairs (linear), not all-pairs (quadratic).
    def corpus(n: Int) = {
      val rnd = new scala.util.Random(11)
      val base = (0 until n).map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      val dups = base.map { case (i, v) => (i + n.toLong, v.map(_ * 1.01f)) }
      (base ++ dups).toDF("vec_id", "embedding")
    }
    def nCands(n: Int): Long =
      Similarity.cosineCandidatePairs(corpus(n), col("embedding"), col("vec_id"),
        bitsPerBand = 16, bands = 8).count()
    val small = nCands(200) // 400 vectors, 200 true pairs
    val big = nCands(400)   // 800 vectors, 400 true pairs
    assert(small >= 200, s"recall hole: only $small candidates for 200 seeded pairs")
    assert(big <= small * 3, s"candidate blowup: $small -> $big when corpus doubled")
    // sizing helper: bitsPerBand tracks log2(n/targetBucket) and clamps
    assert(Similarity.bitsPerBandFor(1024, 4) == 8)
    assert(Similarity.bitsPerBandFor(2048, 4) == 9, "doubling n adds one bit")
    assert(Similarity.bitsPerBandFor(1L << 40, 4) == 38 && Similarity.bitsPerBandFor(2, 4) == 1)
  }

  test("ivf assigns clusters and finds neighbors in probed lists") {
    val emb = (0 until 60).map { i =>
      val base = if (i < 30) Array(1.0f, 0.0f) else Array(0.0f, 1.0f)
      (i.toLong, base.map(v => v + 0.001f * i))
    }.toDF("vec_id", "embedding")
    val (assigned, cents) = Similarity.kmeansAssign(emb, col("embedding"), col("vec_id"), k = 2, iters = 2)
    assert(assigned.select("cluster").distinct().count() == 2)
    val top = Similarity.ivfTopK(assigned, cents, Array(1.0f, 0.0f), k = 5, nprobe = 1)
      .select("vec_id").as[Long].collect()
    assert(top.forall(_ < 30), "probed wrong inverted list")
  }

  test("lsh/ivf recall against brute force on the real embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") === 7).select("embedding").head.getSeq[Float](0).toArray
    val brute = Similarity.bruteTopK(emb, col("embedding"), col("vec_id"), q, 10)
      .select("vec_id").as[Long].collect().toSet
    val lsh = Similarity.lshTopK(emb, col("embedding"), col("vec_id"), q, 10, nbits = 12, maxHamming = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(brute.contains(7L) && lsh.contains(7L), "query vector must match itself")
    assert((brute intersect lsh).size >= 5, s"LSH recall too low: ${(brute intersect lsh).size}/10")
    val (assigned, cents) = Similarity.kmeansAssign(emb, col("embedding"), col("vec_id"), k = 8, iters = 2)
    val ivf = Similarity.ivfTopK(assigned, cents, q, k = 10, nprobe = 3)
      .select("vec_id").as[Long].collect().toSet
    assert((brute intersect ivf).size >= 4, s"IVF recall too low: ${(brute intersect ivf).size}/10")
  }

  test("PQ: codes compress, ADC candidates cover, rerank equals brute exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqTrain(emb, col("embedding"), col("vec_id"), m = 16, k = 16)
    assert(cb.length == 16 && cb.forall(_.length == 16) && cb.head.head.length == 4)
    // determinism: same input, same codebooks (sample + Lloyd are seeded
    // by construction — first-N sample, stride init)
    val cb2 = Similarity.pqTrain(emb, col("embedding"), col("vec_id"), m = 16, k = 16)
    assert(cb.flatten.flatten.toSeq == cb2.flatten.flatten.toSeq)
    val enc = Similarity.pqEncode(emb, col("embedding"), col("vec_id"), cb)
      .localCheckpoint()
    // every code is m small indices — the 100 TB sweep reads these, not
    // the float vectors
    val codes = enc.select("pq_code").collect().map(_.getSeq[Int](0))
    assert(codes.forall(cs => cs.length == 16 && cs.forall(c => c >= 0 && c < 16)))
    // exactness through rerank: PQ candidates + exact cosine == brute
    // top-10 bit-for-bit at this corpus' tuning
    for (qid <- Seq(7L, 123L, 400L)) {
      val q = emb.where(col("vec_id") === qid).select("embedding").head.getSeq[Float](0).toArray
      val brute = Similarity.bruteTopK(emb, col("embedding"), col("vec_id"), q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val pq = Similarity.pqTopK(enc, cb, q, k = 10, candidates = 128)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(pq == brute, s"q=$qid:\npq   =$pq\nbrute=$brute")
    }
    // the ADC sweep ALONE (no rerank pool slack) already ranks the query
    // vector itself first — sanity that the lut math is the right shape
    val q7 = emb.where(col("vec_id") === 7).select("embedding").head.getSeq[Float](0).toArray
    val adcTop = Similarity.pqTopK(enc, cb, q7, k = 1, candidates = 1)
      .select("vec_id").as[Long].head()
    assert(adcTop == 7L, s"ADC self-match failed: $adcTop")
    // wrong-arity / out-of-range codes score -Inf (never a plausible
    // partial sum that could displace true neighbors from the pool)
    import org.apache.spark.sql.graft.GraftShim
    val lut = Array.fill(16)(Array.fill(16)(-1.0)) // negative entries: the trap case
    def score(codes: Seq[Int]): Double = spark.range(1).select(
      GraftShim.column(graft.functions.PqAdcScore(
        GraftShim.expression(typedlit(codes)), lut))).head.getDouble(0)
    assert(score(Seq.fill(16)(0)) == -16.0)
    assert(score(Seq.fill(4)(0)).isNegInfinity, "short code array must score -Inf")
    assert(score(Seq.fill(16)(99)).isNegInfinity, "out-of-range code must score -Inf")
  }

  test("persisted IVF index: build once, probes re-run no k-means and prune files") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/i"
    val sc = spark.sparkContext
    def jobsInGroup(g: String): Int = sc.statusTracker.getJobIdsForGroup(g).length

    sc.setJobGroup("ivf_build", "index build")
    // per-tuple file rolling pinned on: the multi-file + pruning
    // assertions below are about the SCALE shape (single-cluster files),
    // which production row volumes produce naturally; at toy scale the
    // sample-free hash layout can land several clusters in one partition
    // and rollMinRows would merge their runs into one file
    spark.conf.set("spark.graft.write.rollMinRows", "1")
    try Similarity.buildIvfIndex(spark, idx, emb, col("embedding"), col("vec_id"), k = 8, iters = 2)
    finally spark.conf.unset("spark.graft.write.rollMinRows")
    sc.clearJobGroup()

    val q = emb.where(col("vec_id") === 7).select("embedding").head.getSeq[Float](0).toArray
    val brute = Similarity.bruteTopK(emb, col("embedding"), col("vec_id"), q, 10)
      .select("vec_id").as[Long].collect().toSeq

    // two probes of the PREBUILT index: deterministic, and with nprobe
    // covering all clusters the result is the exact brute-force top-10
    val r1 = Similarity.ivfSearch(spark, idx, q, k = 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    sc.setJobGroup("ivf_probe2", "second probe")
    val r2 = Similarity.ivfSearch(spark, idx, q, k = 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    sc.clearJobGroup()
    assert(r1 == r2, "probes of a persisted index must be deterministic")
    assert(r1 == brute, s"all-cluster probe must equal brute top-10: $r1 vs $brute")

    // the second probe re-ran NO k-means: its job count is a handful
    // (centroid read + the pruned top-k), nowhere near Lloyd's rounds.
    // statusTracker is fed asynchronously — allow it a moment to settle.
    var tries = 0
    while (jobsInGroup("ivf_probe2") == 0 && tries < 50) { Thread.sleep(100); tries += 1 }
    val buildJobs = jobsInGroup("ivf_build")
    val probeJobs = jobsInGroup("ivf_probe2")
    assert(probeJobs > 0 && probeJobs <= 4,
      s"a probe must be metadata + one pruned scan, ran $probeJobs jobs")
    assert(buildJobs > probeJobs,
      s"k-means must run at BUILD only (build $buildJobs vs probe $probeJobs)")

    // cluster-pruning: a sparse 2-cluster probe list opens only the
    // probed clusters' files (identity-partitioned vectors table)
    val m = graft.tables.GeoManifest.read(spark, s"$idx/vectors")
    val total = m.files.count(_.rows > 0)
    val opened = graft.tables.GeoTable.scan(spark, s"$idx/vectors",
        col("cluster").isin(0, 7))
      .select(input_file_name()).distinct().count()
    assert(total >= 4, s"want a multi-file vectors table, got $total")
    assert(opened < total,
      s"IN-value pruning must open fewer files ($opened of $total)")
  }

  test("persisted IVF-PQ index: probes retrain nothing, sweep codes, match brute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString + "/i"
    val sc = spark.sparkContext
    def jobsInGroup(g: String): Int = sc.statusTracker.getJobIdsForGroup(g).length

    sc.setJobGroup("ivfpq_build", "index build")
    Similarity.buildIvfPqIndex(spark, idx, emb, col("embedding"), col("vec_id"),
      k = 8, iters = 2, m = 16, pqK = 16)
    sc.clearJobGroup()
    // the stored vectors table carries the PQ codes next to the floats
    val vschema = graft.tables.GeoManifest.read(spark, s"$idx/vectors").schema
    assert(vschema.fieldNames.toSeq == Seq("vec_id", "cluster", "vec", "pq_code"), vschema)

    val q = emb.where(col("vec_id") === 7).select("embedding").head.getSeq[Float](0).toArray
    val brute = Similarity.bruteTopK(emb, col("embedding"), col("vec_id"), q, 10)
      .select("vec_id").as[Long].collect().toSeq

    val r1 = Similarity.ivfPqSearch(spark, idx, q, k = 10, nprobe = 8, candidates = 256)
      .select("vec_id").as[Long].collect().toSeq
    sc.setJobGroup("ivfpq_probe2", "second probe")
    val r2 = Similarity.ivfPqSearch(spark, idx, q, k = 10, nprobe = 8, candidates = 256)
      .select("vec_id").as[Long].collect().toSeq
    sc.clearJobGroup()
    assert(r1 == r2, "probes of a persisted IVF-PQ index must be deterministic")
    assert(r1 == brute,
      s"all-cluster probe with a covering pool must equal brute top-10: $r1 vs $brute")

    // the probe retrained NOTHING: centroid read + codebook read + the
    // code sweep + the rerank — a handful of jobs vs both Lloyd's levels
    var tries = 0
    while (jobsInGroup("ivfpq_probe2") == 0 && tries < 50) { Thread.sleep(100); tries += 1 }
    val buildJobs = jobsInGroup("ivfpq_build")
    val probeJobs = jobsInGroup("ivfpq_probe2")
    assert(probeJobs > 0 && probeJobs <= 8,
      s"a probe must be metadata + a pruned code sweep, ran $probeJobs jobs")
    assert(buildJobs > probeJobs,
      s"training must run at BUILD only (build $buildJobs vs probe $probeJobs)")
  }

  test("ivfPqSearch ADC sweep reads CODES only; the floats load for the rerank pool alone") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_bytes").toString + "/i"
    Similarity.buildIvfPqIndex(spark, idx, emb, col("embedding"), col("vec_id"),
      k = 8, iters = 2, m = 16, pqK = 16)

    // capture every action's executed plan while the probe runs: the
    // sweep is ivfPqSearch's own internal collect, so a listener is the
    // only honest witness of what its scan actually read
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        captured.add(qe): Unit
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val q = emb.where(col("vec_id") === 7).select("embedding").head.getSeq[Float](0).toArray
      val r = Similarity.ivfPqSearch(spark, idx, q, k = 10, nprobe = 8, candidates = 256)
      val got = r.select("vec_id").as[Long].collect().toSeq
      val brute = Similarity.bruteTopK(emb, col("embedding"), col("vec_id"), q, 10)
        .select("vec_id").as[Long].collect().toSeq
      assert(got == brute, s"covering-pool probe must stay exact: $got vs $brute")

      // path-table reads are the stock V1 parquet scan: walk executed
      // plans (into AQE stages) for FileSourceScanExec's pruned schema
      def fileScans(plan: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
        val buf = scala.collection.mutable.ListBuffer
          .empty[org.apache.spark.sql.execution.FileSourceScanExec]
        def walk(n: org.apache.spark.sql.execution.SparkPlan): Unit = n match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(s.plan)
          case e: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => walk(e.child)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => buf += f
          case other => other.children.foreach(walk)
        }
        walk(plan); buf.toList
      }
      // the listener bus is async — wait for the sweep plan to land
      import scala.jdk.CollectionConverters._
      def sweepScans = captured.asScala.toSeq
        .flatMap(qe => fileScans(qe.executedPlan))
        .filter(_.requiredSchema.fieldNames.contains("pq_code"))
      var tries = 0
      while (sweepScans.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      val sweeps = sweepScans
      assert(sweeps.nonEmpty,
        s"no codes-reading scan captured for the ADC sweep; captured ${captured.size} plans: " +
        captured.asScala.toSeq.map(qe => fileScans(qe.executedPlan)
            .map(_.requiredSchema.fieldNames.mkString("(", ",", ")")).mkString("[", " ", "]"))
          .mkString(" | "))
      sweeps.foreach { s =>
        assert(!s.requiredSchema.fieldNames.contains("vec"),
          s"the ADC sweep must never read the float column, got ${s.requiredSchema}")
      }
      // the rerank (the returned frame's own plan) reads floats but no codes
      val rerank = fileScans(r.queryExecution.executedPlan)
      assert(rerank.nonEmpty, "no rerank scan in the probe plan")
      rerank.foreach { s =>
        val fields = s.requiredSchema.fieldNames.toSeq
        assert(fields.contains("vec") && !fields.contains("pq_code"),
          s"rerank must read floats only, got $fields")
        // the candidate-id predicate reaches the parquet reader
        assert(s.dataFilters.exists(_.references.exists(_.name == "vec_id")),
          s"rerank scan must filter on the candidate ids, got ${s.dataFilters}")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("rebuildIvfIndex: params recovered from storage, flavor preserved, fresh root only") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = java.nio.file.Files.createTempDirectory("ivf_rebuild").toString
    val q = emb.where(col("vec_id") === 7).select("embedding").head.getSeq[Float](0).toArray
    // plain IVF: churn, rebuild, probe == brute over survivors; NO
    // codebooks table minted (flavor preserved)
    Similarity.buildIvfIndex(spark, s"$base/ivf", emb, col("embedding"), col("vec_id"),
      k = 8, iters = 2)
    Similarity.removeFromIvfIndex(spark, s"$base/ivf",
      emb.where(col("vec_id") % 3 === 0).select("vec_id"))
    val n = Similarity.rebuildIvfIndex(spark, s"$base/ivf", s"$base/ivf2")
    assert(n == emb.where(col("vec_id") % 3 =!= 0).count())
    assert(!Similarity.hasPqCodebooks(spark, s"$base/ivf2"),
      "a plain-IVF rebuild must not mint codebooks")
    assert(graft.tables.GeoTable.read(spark, s"$base/ivf2/centroids").count() == 8,
      "k must come back from the stored centroids")
    val got = Similarity.ivfSearch(spark, s"$base/ivf2", q, k = 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteTopK(emb.where(col("vec_id") % 3 =!= 0),
        col("embedding"), col("vec_id"), q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == brute, s"rebuilt probe diverged: $got vs $brute")
    // PQ flavor: m/pqK recovered; an occupied root refuses
    Similarity.buildIvfPqIndex(spark, s"$base/pq", emb, col("embedding"), col("vec_id"),
      k = 8, iters = 2, m = 16, pqK = 16)
    Similarity.rebuildIvfIndex(spark, s"$base/pq", s"$base/pq2")
    assert(Similarity.hasPqCodebooks(spark, s"$base/pq2"))
    val cb2 = graft.tables.GeoTable.read(spark, s"$base/pq2/codebooks")
    assert(cb2.agg(max("subspace"), max("code")).head() ==
      org.apache.spark.sql.Row(15, 15), "m/pqK must come back from storage")
    val err = intercept[IllegalArgumentException](
      Similarity.rebuildIvfIndex(spark, s"$base/pq", s"$base/pq2"))
    assert(err.getMessage.contains("FRESH root"), err.getMessage)
  }

  test("hybridSearch auto-routes the dense leg: PQ index fuses identically to plain IVF") {
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = java.nio.file.Files.createTempDirectory("hyb_pq").toString
    val q = emb.where(col("vec_id") === 7).select("embedding").head.getSeq[Float](0).toArray
    TextAnalysis.buildTextIndex(spark, s"$base/t", docsDf, col("doc_id"), col("text"))
    Similarity.buildIvfIndex(spark, s"$base/ivf", emb, col("embedding"), col("vec_id"),
      k = 8, iters = 2)
    Similarity.buildIvfPqIndex(spark, s"$base/pq", emb, col("embedding"), col("vec_id"),
      k = 8, iters = 2, m = 16, pqK = 16)
    assert(!Similarity.hasPqCodebooks(spark, s"$base/ivf"))
    assert(Similarity.hasPqCodebooks(spark, s"$base/pq"))
    val terms = Seq("quick", "engines", "maison")
    // nprobe covers all clusters and candidates covers the corpus, so the
    // quantized leg is exact and fusion must match the plain-IVF spelling
    // score-for-score
    def run(vIdx: String) = graft.ops.Retrieval
      .hybridSearch(spark, s"$base/t", vIdx, terms, q, k = 10, nprobe = 8,
        candidates = 1024)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val plain = run(s"$base/ivf")
    val pq = run(s"$base/pq")
    assert(plain == pq, s"PQ-backed fusion diverged:\n$plain\nvs\n$pq")
    assert(plain.nonEmpty && plain.map(_._1).distinct.size == plain.size)
  }

  test("appendToIvfIndex: new vectors assign to stored centroids, probes stay exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val total = emb.count()
    val even = emb.where(col("vec_id") % 2 === 0)
    val odd = emb.where(col("vec_id") % 2 === 1)
    // IVF-PQ index built on HALF the corpus, the other half appended —
    // the 100 TB ingest shape (no re-clustering per batch)
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_app").toString + "/i"
    Similarity.buildIvfPqIndex(spark, idx, even, col("embedding"), col("vec_id"),
      k = 8, iters = 2, m = 16, pqK = 16)
    val appended = Similarity.appendToIvfIndex(spark, idx, odd, col("embedding"), col("vec_id"))
    assert(appended == total - even.count(), s"appended $appended")
    val m = graft.tables.GeoManifest.read(spark, s"$idx/vectors")
    assert(m.files.map(_.rows).sum == total, "index must now hold the full corpus")
    // appended rows carry PQ codes (the stored codebooks re-encoded them)
    assert(m.schema.fieldNames.contains("pq_code"))
    // a query vector from the APPENDED half: all-cluster probe with a
    // covering pool equals brute force over the full corpus
    val q = emb.where(col("vec_id") === 7).select("embedding").head.getSeq[Float](0).toArray
    val brute = Similarity.bruteTopK(emb, col("embedding"), col("vec_id"), q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val r = Similarity.ivfPqSearch(spark, idx, q, k = 10, nprobe = 8, candidates = 256)
      .select("vec_id").as[Long].collect().toSeq
    assert(r == brute, s"post-append probe diverged: $r vs $brute")
    // plain IVF index: same append path, no codebooks column
    val idx2 = java.nio.file.Files.createTempDirectory("ivf_app").toString + "/i"
    Similarity.buildIvfIndex(spark, idx2, even, col("embedding"), col("vec_id"), k = 8, iters = 2)
    Similarity.appendToIvfIndex(spark, idx2, odd, col("embedding"), col("vec_id"))
    val m2 = graft.tables.GeoManifest.read(spark, s"$idx2/vectors")
    assert(m2.files.map(_.rows).sum == total && !m2.schema.fieldNames.contains("pq_code"))
    val r2 = Similarity.ivfSearch(spark, idx2, q, k = 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(r2 == brute, s"post-append IVF probe diverged: $r2 vs $brute")
  }

  test("range join == naive between-join across bucket sizes") {
    val vals = (0 until 300).map(i => (i.toLong, (i * 37 % 1000).toDouble)).toDF("vid", "v")
    val ivs = (0 until 20).map(i => (i.toLong, (i * 53 % 800).toDouble, (i * 53 % 800).toDouble + 120.5))
      .toDF("iid", "lo", "hi")
    val expected = vals.crossJoin(ivs)
      .where(col("v") >= col("lo") && col("v") <= col("hi"))
      .select("vid", "iid").as[(Long, Long)].collect().toSet
    for (bs <- Seq(50.0, 130.0, 1000.0)) {
      val got = graft.ops.RangeJoin.bucketJoin(vals, col("v"), ivs, col("lo"), col("hi"), bs)
        .select("vid", "iid").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"dups at bucketSize=$bs")
      assert(got.toSet == expected, s"wrong result at bucketSize=$bs")
    }
  }

  test("asof join: equal timestamps match, earlier rows win, no-match is null") {
    val trades = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 20L, 50L), (4L, 30L, 100L))
      .toDF("trade_id", "acct", "t")
    val quotes = Seq((10L, 100L, 9.5), (10L, 200L, 9.9), (20L, 60L, 1.0))
      .toDF("acct", "t", "px")
    val got = graft.ops.AsofJoin.asofJoin(
        trades, col("acct"), col("t"), quotes, col("acct"), col("t"), Seq("px"))
      .select("trade_id", "asof_px").as[(Long, Option[Double])].collect().toMap
    assert(got(1L).contains(9.5), "equal timestamp must match (<= semantics)")
    assert(got(2L).contains(9.9), "latest prior quote wins")
    assert(got(3L).isEmpty, "quote after the trade must not match")
    assert(got(4L).isEmpty, "key with no quotes yields null")
  }

  test("language id picks marker-bearing language") {
    val out = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(out(0L) == "en" && out(4L) == "fr")
  }

  test("quality score is in [0,1] and favors stopword-bearing text") {
    val scores = docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    assert(scores.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(scores(0L) > scores(2L) * 0.8)
  }

  test("corpus pipeline: drops low-quality, off-language, exact and near dups") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today and it is a fine day for all of the animals in the field", "en"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight and it is a fine day for all of the animals in the field", "en"), // near-dup of 0
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today and it is a fine day for all of the animals in the field", "en"), // exact dup of 0
      (3L, "a completely different long document that is about the architecture of distributed query engines and the storage of columnar data in files", "en"),
      (4L, "der schnelle braune fuchs springt in dem wald und die tiere sind mit ihm in der nacht und das ist ein gutes zeichen für die zukunft", "de"),
      (5L, "short", "en"), // fails minTokens
      (6L, "a long enough document in an unsupported language that should be dropped by the lang filter even though it would pass the quality gate", "zh"))
      .toDF("doc_id", "text", "lang")
    val kept = graft.ops.CorpusPipeline.clean(corpus,
        col("doc_id"), col("text"), col("lang"),
        graft.ops.CorpusPipeline.Config(nearDupThreshold = 0.7))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 4L), s"got $kept")
    val stats = graft.ops.CorpusPipeline.cleanStats(corpus,
        col("doc_id"), col("text"), col("lang"),
        graft.ops.CorpusPipeline.Config(nearDupThreshold = 0.7))
      .as[(String, Long, Long)].collect().map { case (l, n, t) => l -> ((n, t)) }.toMap
    assert(stats("en")._1 == 2 && stats("de")._1 == 1)
  }

  test("ops leave no pinned Dataset cache behind (cache hygiene)") {
    import org.apache.spark.sql.graft.GraftShim
    // the OpsSpec fixture itself is cached; release it for a clean slate
    docs.count(); docs.unpersist(blocking = true)
    spark.catalog.clearCache()

    Dedup.minhashDedup(docs, col("doc_id"), col("text"), threshold = 0.7).collect()
    Dedup.nearDupDrops(docs, col("doc_id"), col("text"), threshold = 0.7).collect()
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Similarity.cosineNearDupPairs(emb,
      expr("transform(embedding, x -> CAST(x AS DOUBLE))"), col("vec_id"),
      threshold = 0.95, bitsPerBand = 8, bands = 4).collect()
    Similarity.knnGraph(emb, col("embedding"), col("vec_id"), k = 3,
      bitsPerBand = 8, bands = 4).collect()
    val (assigned, _) = Similarity.kmeansAssign(emb, col("embedding"), col("vec_id"), k = 4, iters = 1)
    assigned.count()
    SparkEntry.queries("pipeline_clean_corpus")(spark, "/root/testdata/sf0.001").collect()

    assert(GraftShim.pinnedCacheEmpty(spark),
      "an op left a Dataset cache pinned in the CacheManager")
    docs.cache() // restore the fixture for any later test
  }

  test("bm25: tf, idf, and length normalization order documents correctly") {
    val docs = Seq(
      (0L, "alpha beta beta common common common common"), // alpha + 2x beta, short
      (1L, "alpha common x y z w q r s t u v"),            // 1 alpha, long -> penalized
      (2L, "beta common common"),                          // 1 beta, shortest
      (3L, "common common common")                         // no query terms -> no row
    ).toDF("doc_id", "text")
    val top = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
        query = Seq("alpha", "beta"), k = 10)
      .select("doc_id").as[Long].collect()
    // alpha and beta have equal df(=2) hence equal idf; doc0 wins on tf,
    // doc2 beats doc1 purely on length normalization (same tf, same idf)
    assert(top.toSeq == Seq(0L, 2L, 1L), s"order was ${top.toSeq}")
  }

  test("gopher rules: components count exactly and the verdict composes them") {
    import graft.ops.TextAnalysis
    val good = (Seq.fill(20)("the quick be of and that have with") :+ "tail").mkString(" ") // 161 words, all rules pass
    val shortDoc = "too short to pass"
    val symbols = (Seq.fill(60)("word### ok") :+ "the be").mkString(" ")  // symbol ratio ~0.5
    val bullets = Seq.fill(10)("- the be of and that have with item list here").mkString("\n")
    val rows = Seq((0L, good), (1L, shortDoc), (2L, symbols), (3L, bullets))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.gopherStats(col("text")).as("g"))
      .select(col("doc_id"), col("g.n_words"), col("g.n_symbol_words"),
        col("g.n_stop_hits"), col("g.n_bullet_lines"), col("g.n_lines"), col("g.passes"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .toMap
    assert(rows(0L)._1 == 161 && rows(0L)._6, s"good doc: ${rows(0L)}")
    assert(!rows(1L)._6, "short doc must fail the word-count rule")
    assert(rows(2L)._2 == 60 && !rows(2L)._6, s"symbol doc: ${rows(2L)}")
    assert(rows(3L)._4 == 10 && rows(3L)._5 == 10 && !rows(3L)._6,
      s"all-bullet doc must fail the bullet-line rule: ${rows(3L)}")
  }

  test("persisted BM25 index probe reproduces the ad-hoc ranking exactly") {
    import graft.ops.TextAnalysis
    val corpus = (0L until 30L).map { i =>
      val words = (0 until (5 + (i % 7)).toInt).map(j => s"w${(i + 3 * j) % 11}")
      (i, (words :+ (if (i % 3 == 0) "spark" else "other")).mkString(" "))
    }.toDF("doc_id", "text")
    val q = Seq("spark", "w4")
    val adhoc = TextAnalysis.bm25TopK(corpus, col("doc_id"), col("text"), q, k = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val idx = java.nio.file.Files.createTempDirectory("bm25idx").toString + "/i"
    // per-bucket file rolling pinned on for the file-prune assertion (see
    // the IVF pruning test: at toy scale the sample-free hash layout can
    // co-locate buckets whose runs rollMinRows would merge into one file)
    spark.conf.set("spark.graft.write.rollMinRows", "1")
    try TextAnalysis.buildTextIndex(spark, idx, corpus, col("doc_id"), col("text"), buckets = 8)
    finally spark.conf.unset("spark.graft.write.rollMinRows")
    val probed = TextAnalysis.bm25Search(spark, idx, q, k = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.map(_._1).toSeq == adhoc.map(_._1).toSeq,
      s"ranking drifted: ${probed.toSeq} vs ${adhoc.toSeq}")
    probed.zip(adhoc).foreach { case ((_, ps), (_, as)) =>
      assert(math.abs(ps - as) < 1e-12, s"score drifted: $ps vs $as")
    }
    // the probe's term-IN scan must FILE-prune to the query terms' buckets
    // path-table scans manifest-prune at PLAN time: the matching files are
    // listed into the InMemoryFileIndex, so the path count IS the prune
    def filesIn(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.executedPlan.toString
      "InMemoryFileIndex\\((\\d+) paths".r.findFirstMatchIn(plan).map(_.group(1).toInt)
        .getOrElse(fail(s"no InMemoryFileIndex in plan:\n$plan"))
    }
    import graft.tables.GeoTable
    val all = filesIn(GeoTable.read(spark, idx + "/postings"))
    val pruned = filesIn(GeoTable.scan(spark, idx + "/postings", col("term").isin(q: _*)))
    assert(pruned < all, s"probe must prune bucket files: $pruned vs $all")
  }

  test("BM25 index append: probe after ingest equals ad-hoc over the union") {
    import graft.ops.TextAnalysis
    val corpus = (0L until 24L).map { i =>
      val words = (0 until (4 + (i % 5)).toInt).map(j => s"w${(i + 5 * j) % 9}")
      (i, (words :+ (if (i % 4 == 0) "spark" else "other")).mkString(" "))
    }.toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25app").toString + "/i"
    TextAnalysis.buildTextIndex(spark, idx,
      corpus.where(col("doc_id") < 12), col("doc_id"), col("text"), buckets = 8)
    TextAnalysis.appendToTextIndex(spark, idx,
      corpus.where(col("doc_id") >= 12), col("doc_id"), col("text"))
    val q = Seq("spark", "w3")
    val probed = TextAnalysis.bm25Search(spark, idx, q, k = 8)
      .collect().map(_.getLong(0)).toSeq
    val adhoc = TextAnalysis.bm25TopK(corpus, col("doc_id"), col("text"), q, k = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(probed == adhoc, s"post-append ranking drifted: $probed vs $adhoc")
  }

  test("BM25 index: stats commit atomically with every mutation (no stats table)") {
    import graft.ops.TextAnalysis
    import graft.tables.{GeoManifest, GeoTable}
    val corpus = (0L until 16L).map(i =>
      (i, s"w${i % 5} w${(i + 1) % 5} " + (if (i % 2 == 0) "spark" else "other")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25atom").toString + "/i"
    TextAnalysis.buildTextIndex(spark, idx,
      corpus.where(col("doc_id") < 8), col("doc_id"), col("text"), buckets = 4)
    // the crash window of the old two-table design no longer exists:
    // stats live as the postings table's own manifest props
    assert(GeoManifest.currentVersion(spark, idx + "/stats").isEmpty,
      "a fresh index must not materialize a stats table")
    def assertAtomic(): Unit = {
      val m = GeoManifest.read(spark, idx + "/postings")
      assert(m.props("graft.bm25.postings_version").toInt == m.version,
        s"stats props must ride the mutation's own commit (covered " +
          s"${m.props("graft.bm25.postings_version")}, current ${m.version})")
    }
    assertAtomic()
    TextAnalysis.appendToTextIndex(spark, idx,
      corpus.where(col("doc_id") >= 8), col("doc_id"), col("text"))
    assertAtomic()
    val m1 = GeoManifest.read(spark, idx + "/postings")
    TextAnalysis.removeFromTextIndex(spark, idx,
      corpus.where(col("doc_id") === 3).select("doc_id"))
    val m2 = GeoManifest.read(spark, idx + "/postings")
    assert(m2.version == m1.version + 1 && m2.op.contains("delete"),
      "a removal must be ONE commit carrying both the delete and the stats")
    assertAtomic()
    val q = Seq("spark", "w2")
    val probed = TextAnalysis.bm25Search(spark, idx, q, k = 6)
      .collect().map(_.getLong(0)).toSeq
    val adhoc = TextAnalysis.bm25TopK(corpus.where(col("doc_id") =!= 3),
      col("doc_id"), col("text"), q, k = 6).collect().map(_.getLong(0)).toSeq
    assert(probed == adhoc, s"ranking drifted: $probed vs $adhoc")
  }

  test("BM25 per-doc summary rows: pruned pricing is exact, covered, and heals raw appends") {
    import graft.ops.TextAnalysis
    import graft.tables.{GeoManifest, GeoTable}
    val corpus = (0L until 30L).map { i =>
      val words = (0 until (4 + (i % 6)).toInt).map(j => s"w${(i + 7 * j) % 10}")
      (i, (words :+ (if (i % 3 == 0) "spark" else "other")).mkString(" "))
    }.toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25sum").toString + "/i"
    // per-bucket rolling pinned for the file-prune assertion (toy scale)
    spark.conf.set("spark.graft.write.rollMinRows", "1")
    try TextAnalysis.buildTextIndex(spark, idx, corpus, col("doc_id"), col("text"), buckets = 8)
    finally spark.conf.unset("spark.graft.write.rollMinRows")
    val root = idx + "/postings"
    // the reserved summary term is refused as a query term
    val e = intercept[IllegalArgumentException](
      TextAnalysis.bm25Search(spark, idx, Seq("spark", TextAnalysis.DocRowTerm), k = 3))
    assert(e.getMessage.contains("reserved"), e.getMessage)
    // the pricing source file-prunes to the summary term's bucket files
    def filesIn(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.executedPlan.toString
      "InMemoryFileIndex\\((\\d+) paths".r.findFirstMatchIn(plan).map(_.group(1).toInt)
        .getOrElse(fail(s"no InMemoryFileIndex in plan:\n$plan"))
    }
    val v = GeoManifest.read(spark, root).version
    val all = filesIn(GeoTable.read(spark, root))
    val pruned = filesIn(GeoTable.scanAt(spark, root, v,
      col("term") === lit(TextAnalysis.DocRowTerm)))
    assert(pruned < all, s"summary pricing must file-prune: $pruned vs $all")
    // remove a slice, then remove an OVERLAPPING slice (already-removed ids
    // must not re-price — the pruned scan merges the delete sidecar) plus
    // ids that were never indexed (legal no-op, prices zero via fallback)
    TextAnalysis.removeFromTextIndex(spark, idx,
      corpus.where(col("doc_id") % 5 === 0).select("doc_id"))
    TextAnalysis.removeFromTextIndex(spark, idx,
      corpus.where(col("doc_id") % 10 === 0).select("doc_id")
        .union(Seq(901L, 902L).toDF("doc_id")))
    // a DEAD-key-only remove (ids never indexed) opens fewer files than
    // the full table: the uncovered ids price through a scan of their
    // doc_id range whose per-file doc_id stats skip every posting file,
    // never through a scan of the whole snapshot
    val opened = plannedNodes(TextAnalysis.removeFromTextIndex(spark, idx,
        Seq(901L, 902L).toDF("doc_id"))).collect {
      // posting-table scans only (the delete sidecars' key scans aside)
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.dataSchema.fieldNames.contains("term") =>
        f.relation.location.rootPaths.size
    }.sum
    val allNow = filesIn(GeoTable.read(spark, root))
    assert(opened < allNow, s"dead-key pricing must prune files: $opened vs $allNow")
    val survivors = corpus.where(col("doc_id") % 5 =!= 0)
    val truth = survivors.select(
        size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)), sum(col("dl"))).head()
    val m = GeoManifest.read(spark, root)
    assert(m.props("graft.bm25.n_docs").toLong == truth.getLong(0) &&
      m.props("graft.bm25.sum_dl").toLong == truth.getLong(1),
      s"summary-priced stats drifted: ${m.props}")
    // out-of-band RAW append (no summary rows) — a later remove of those
    // very docs must still price exactly (the fallback leg)
    val extra = (100L until 106L).map(i => (i, s"w1 w2 spark extra$i"))
      .toDF("doc_id", "text")
    val raw = extra
      .select(col("doc_id"), split(trim(col("text")), " +").as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf", "dl")
    GeoTable.append(spark, root, raw)
    TextAnalysis.removeFromTextIndex(spark, idx,
      extra.where(col("doc_id") < 103).select("doc_id"))
    val liveTruth = survivors.select(col("doc_id"), col("text"))
      .union(extra.where(col("doc_id") >= 103))
      .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)), sum(col("dl"))).head()
    val m2 = GeoManifest.read(spark, root)
    assert(m2.props("graft.bm25.n_docs").toLong == liveTruth.getLong(0) &&
      m2.props("graft.bm25.sum_dl").toLong == liveTruth.getLong(1),
      s"raw-append fallback pricing drifted: ${m2.props}")
    // and the ranking over the final live set matches ad-hoc exactly
    val q = Seq("spark", "w3")
    val probed = TextAnalysis.bm25Search(spark, idx, q, k = 8)
      .collect().map(_.getLong(0)).toSeq
    val adhoc = TextAnalysis.bm25TopK(
        survivors.union(extra.where(col("doc_id") >= 103)),
        col("doc_id"), col("text"), q, k = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(probed == adhoc, s"post-churn ranking drifted: $probed vs $adhoc")
  }

  test("BM25 index: an interleaved foreign commit is detected and repaired exactly") {
    import graft.ops.TextAnalysis
    import graft.tables.{GeoManifest, GeoTable}
    val corpus = (0L until 14L).map(i =>
      (i, s"w${i % 4} w${(i + 1) % 4} " + (if (i % 2 == 0) "spark" else "other")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25race").toString + "/i"
    TextAnalysis.buildTextIndex(spark, idx,
      corpus.where(col("doc_id") < 7), col("doc_id"), col("text"), buckets = 4)
    // manufacture the interleave aftermath: a raw commit takes a version
    // whose carried props name an OLDER version (what a foreign writer
    // landing inside a mutation's read→commit gap leaves behind)
    val toks = split(trim(col("text")), " +")
    val raw = corpus.where(col("doc_id") >= 7)
      .select(col("doc_id"), toks.as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf", "dl")
    GeoTable.append(spark, idx + "/postings", raw)
    val vRaw = GeoManifest.read(spark, idx + "/postings").version
    assert(!GeoManifest.readVersion(spark, idx + "/postings", vRaw).props
      .get("graft.bm25.postings_version").contains(vRaw.toString),
      "test shape: the raw commit must NOT name itself")
    // detection + repair: one recompute commit, then props are exact
    TextAnalysis.reconcileIfInterleaved(spark, idx + "/postings", vRaw)
    val m = GeoManifest.read(spark, idx + "/postings")
    assert(m.props("graft.bm25.postings_version").toInt == m.version,
      "repair must leave props naming their own commit")
    val truth = corpus.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)), sum(col("dl"))).head()
    assert(m.props("graft.bm25.n_docs").toLong == truth.getLong(0) &&
      m.props("graft.bm25.sum_dl").toLong == truth.getLong(1),
      "repair must commit the exact live-corpus stats")
    // the claimed-commit check passes on the repaired state (idempotent)
    TextAnalysis.reconcileIfInterleaved(spark, idx + "/postings", m.version)
    assert(GeoManifest.read(spark, idx + "/postings").version == m.version,
      "a clean state must not trigger another repair commit")
  }

  test("graft.bm25.* stats props: hand-SET refuses, an incomplete triple fails loudly") {
    import graft.ops.TextAnalysis
    import graft.tables.{GeoManifest, GeoTable}
    val corpus = (0L until 8L).map(i => (i, s"w${i % 3} spark doc"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25resv").toString + "/i"
    TextAnalysis.buildTextIndex(spark, idx, corpus, col("doc_id"), col("text"),
      buckets = 4)
    val root = idx + "/postings"
    // probes TRUST these numbers — user SET/UNSET must refuse, never
    // silently pin wrong stats (both SQL routes call setProperties)
    val e1 = intercept[IllegalArgumentException](
      GeoTable.setProperties(spark, root, Map("graft.bm25.n_docs" -> "999")))
    assert(e1.getMessage.contains("index-stats bookkeeping"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      GeoTable.setProperties(spark, root, Map.empty,
        unset = Seq("graft.bm25.sum_dl")))
    assert(e2.getMessage.contains("index-stats bookkeeping"), e2.getMessage)
    // ... and an ordinary user property still works alongside the stats
    GeoTable.setProperties(spark, root, Map("team" -> "retrieval"))
    assert(TextAnalysis.bm25Search(spark, idx, Seq("spark"), k = 3).count() == 3)
    // an INCOMPLETE triple (a hand-edit that slipped in below the API,
    // or a pre-guard snapshot) is detected at probe time, never trusted
    val m = GeoManifest.read(spark, root)
    GeoManifest.commit(spark, root, m.copy(version = m.version + 1,
      props = m.props - "graft.bm25.sum_dl"), m.version, op = "set-properties")
    val e3 = intercept[IllegalStateException](
      TextAnalysis.bm25Search(spark, idx, Seq("spark"), k = 3).count())
    assert(e3.getMessage.contains("incomplete graft.bm25."), e3.getMessage)
  }

  test("BM25 build, append and upsert run no (doc_id, dl) distinct") {
    import graft.ops.TextAnalysis
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    // id 13 is left out of the index: a gap inside its id range
    val corpus = (0L until 20L).filter(_ != 13L).map(i =>
      (i, s"w${i % 4} w${(i + 1) % 5} " + (if (i % 2 == 0) "spark" else "other")))
      .toDF("doc_id", "text")
    val fresh = Seq((13L, "w1 spark fresh")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25nodistinct").toString + "/i"
    // the summary rows come out of the tokenize pass: no plan of these
    // verbs groups by exactly (doc_id, dl) with no aggregate function
    val distincts = plannedNodes {
      TextAnalysis.buildTextIndex(spark, idx,
        corpus.where(col("doc_id") < 10), col("doc_id"), col("text"), buckets = 4)
      TextAnalysis.appendToTextIndex(spark, idx,
        corpus.where(col("doc_id") >= 10), col("doc_id"), col("text"))
      // replaced ids and one NEW id (13), which prices through the
      // uncovered-key range scan; the files around the gap hold its range
      TextAnalysis.upsertTextIndex(spark, idx,
        corpus.where(col("doc_id") % 3 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" spark")).as("text"))
          .union(fresh),
        col("doc_id"), col("text"))
    }.collect {
      case h: HashAggregateExec if h.aggregateExpressions.isEmpty &&
          h.groupingExpressions.map(_.name) == Seq("doc_id", "dl") => h
    }
    assert(distincts.isEmpty, s"a (doc_id, dl) distinct ran: $distincts")
    val q = Seq("spark", "w2")
    val modified = corpus.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(" spark")))
        .otherwise(col("text")).as("text")).union(fresh)
    assert(TextAnalysis.bm25Search(spark, idx, q, k = 8).collect().map(_.getLong(0)).toSeq ==
      TextAnalysis.bm25TopK(modified, col("doc_id"), col("text"), q, k = 8)
        .collect().map(_.getLong(0)).toSeq, "ranking drifted")
  }

  test("BM25 index: a stats-less index fails with the rebuild message") {
    import graft.ops.TextAnalysis
    import graft.tables.{GeoPartition, GeoTable}
    val corpus = (0L until 12L).map(i =>
      (i, s"w${i % 6} w${(i + 2) % 6} " + (if (i % 3 == 0) "spark" else "other")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25nostats").toString + "/i"
    // a postings table whose build never committed its stats props (the
    // only stats home there is): probes and mutations refuse it alike
    val toks = split(trim(col("text")), " +")
    val postings = corpus
      .select(col("doc_id"), toks.as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf", "dl")
    GeoTable.create(spark, idx + "/postings", postings, geomCol = None,
      partitions = Seq(GeoPartition.PTransform("bucket", 4, "term")))
    def assertRebuild(e: Exception): Unit =
      assert(e.getMessage.contains("not a complete text index") &&
        e.getMessage.contains("rebuild"), e.getMessage)
    assertRebuild(intercept[IllegalArgumentException](
      TextAnalysis.bm25Search(spark, idx, Seq("spark"), k = 3).count()))
    assertRebuild(intercept[IllegalArgumentException](
      TextAnalysis.appendToTextIndex(spark, idx,
        Seq((99L, "spark late")).toDF("doc_id", "text"), col("doc_id"), col("text"))))
  }

  test("BM25 index: probes stay exact after compaction and vacuum") {
    import graft.ops.TextAnalysis
    import graft.tables.{GeoManifest, GeoTable}
    val corpus = (0L until 24L).map { i =>
      val words = (0 until (3 + (i % 5)).toInt).map(j => s"w${(i + 3 * j) % 8}")
      (i, (words :+ (if (i % 3 == 0) "spark" else "other")).mkString(" "))
    }.toDF("doc_id", "text")
    val q = Seq("spark", "w3")
    def adhoc(c: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25TopK(c, col("doc_id"), col("text"), q, k = 8)
        .collect().map(_.getLong(0)).toSeq
    // one compaction: the walk reaches the covered version through the
    // current commit's parent link alone; two: the middle compaction's
    // manifest is expired, so the stats come from the live postings
    for (compactions <- Seq(1, 2)) {
      val idx = java.nio.file.Files.createTempDirectory(s"bm25vac$compactions").toString + "/i"
      val root = idx + "/postings"
      def probe() = TextAnalysis.bm25Search(spark, idx, q, k = 8)
        .collect().map(_.getLong(0)).toSeq
      TextAnalysis.buildTextIndex(spark, idx,
        corpus.where(col("doc_id") < 12), col("doc_id"), col("text"), buckets = 4)
      TextAnalysis.appendToTextIndex(spark, idx,
        corpus.where(col("doc_id") >= 12), col("doc_id"), col("text"))
      (1 to compactions).foreach(_ => GeoTable.compact(spark, root, targetFiles = 2))
      GeoTable.vacuum(spark, root, keepVersions = 1)
      def postingScans(body: => Unit) = plannedNodes(body).count {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.dataSchema.fieldNames.contains("term")
        case _ => false
      }
      var first = Seq.empty[Long]
      val firstScans = postingScans { first = probe() }
      assert(first == adhoc(corpus),
        s"post-vacuum probe drifted after $compactions compaction(s)")
      // a recompute is paid once per snapshot, not by every probe
      val againScans = postingScans(assert(probe() == first, "repeat probe drifted"))
      if (compactions == 2)
        assert(againScans < firstScans, s"recompute repeated: $againScans vs $firstScans")
      // the next mutation re-bases on those stats and commits exact ones
      TextAnalysis.removeFromTextIndex(spark, idx,
        corpus.where(col("doc_id") === 3).select("doc_id"))
      val rest = corpus.where(col("doc_id") =!= 3)
      assert(probe() == adhoc(rest), s"post-remove probe drifted ($compactions)")
      val truth = rest.select(size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
        .agg(count(lit(1)), sum(col("dl"))).head()
      val m = GeoManifest.read(spark, root)
      assert(m.props("graft.bm25.n_docs").toLong == truth.getLong(0) &&
        m.props("graft.bm25.sum_dl").toLong == truth.getLong(1) &&
        m.props("graft.bm25.postings_version").toInt == m.version,
        s"stats after compaction+vacuum drifted ($compactions): ${m.props}")
    }
  }

  test("index metadata cache keys on the whole path set, not its hash") {
    import graft.ops.Similarity
    assert(Seq("Aa").hashCode == Seq("BB").hashCode, "test premise: colliding hashes")
    def key(paths: Seq[String]) = Similarity.metaKey("/idx/centroids", 3, 7L, "centroids", paths)
    assert(key(Seq("Aa")) != key(Seq("BB")), "colliding path lists must get distinct keys")
    assert(key(Seq("a", "b")) == key(Seq("b", "a")), "the key must not depend on listing order")
  }

  test("BM25 index: an out-of-band postings append self-heals on probe") {
    import graft.ops.TextAnalysis
    val corpus = (0L until 20L).map(i =>
      (i, s"w${i % 7} w${(i + 2) % 7} " + (if (i % 3 == 0) "spark" else "other")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25crash").toString + "/i"
    TextAnalysis.buildTextIndex(spark, idx,
      corpus.where(col("doc_id") < 10), col("doc_id"), col("text"), buckets = 4)
    // out-of-band mutation: append the second half's postings RAW through
    // the table API, bypassing the index verbs (so the committed stats
    // props lag the postings content — the shape a foreign writer leaves)
    val late = corpus.where(col("doc_id") >= 10)
      .select(col("doc_id"), org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.trim(col("text")), " +").as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf", "dl")
    graft.tables.GeoTable.append(spark, idx + "/postings", late)
    // the stored stats now LAG the postings table; the probe must
    // heal them from the changelog (read-only) and rank like ad-hoc
    val q = Seq("spark", "w3")
    val probed = TextAnalysis.bm25Search(spark, idx, q, k = 6)
      .collect().map(_.getLong(0)).toSeq
    val adhoc = TextAnalysis.bm25TopK(corpus, col("doc_id"), col("text"), q, k = 6)
      .collect().map(_.getLong(0)).toSeq
    assert(probed == adhoc, s"stale-stats probe drifted: $probed vs $adhoc")
  }

  test("removeFromTextIndex: survivors rank like ad-hoc; crash heals; re-add works") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val corpus = (0L until 24L).map { i =>
      val words = (0 until (4 + (i % 5)).toInt).map(j => s"w${(i + 5 * j) % 9}")
      (i, (words :+ (if (i % 4 == 0) "spark" else "other")).mkString(" "))
    }.toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25del").toString + "/i"
    TextAnalysis.buildTextIndex(spark, idx,
      corpus.where(col("doc_id") < 12), col("doc_id"), col("text"), buckets = 8)
    TextAnalysis.appendToTextIndex(spark, idx,
      corpus.where(col("doc_id") >= 12), col("doc_id"), col("text"))
    // remove a slice: probe must rank like ad-hoc over exactly the rest
    TextAnalysis.removeFromTextIndex(spark, idx,
      corpus.where(col("doc_id") % 6 === 0).select("doc_id"))
    val q = Seq("spark", "w3")
    val survivors = corpus.where(col("doc_id") % 6 =!= 0)
    def probe() = TextAnalysis.bm25Search(spark, idx, q, k = 8)
      .collect().map(_.getLong(0)).toSeq
    val adhoc1 = TextAnalysis.bm25TopK(survivors, col("doc_id"), col("text"), q, k = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(probe() == adhoc1, s"post-removal ranking drifted: ${probe()} vs $adhoc1")
    // removing ids absent from the index is a no-op
    TextAnalysis.removeFromTextIndex(spark, idx, Seq(900L, 901L).toDF("doc_id"))
    assert(probe() == adhoc1, "absent-id removal must change nothing")
    // out-of-band delete (raw table API, stats props now lag) — the probe
    // must heal N/avgdl from the changelog's DELETE leg (read-only)
    graft.tables.GeoTable.deleteByKey(spark, idx + "/postings",
      Seq("doc_id"), Seq(1L, 2L).toDF("doc_id"))
    val survivors2 = survivors.where(!col("doc_id").isin(1L, 2L))
    val adhoc2 = TextAnalysis.bm25TopK(survivors2, col("doc_id"), col("text"), q, k = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(probe() == adhoc2, "stale-stats probe must heal the delete leg")
    // re-add a removed doc: the fresh postings out-sequence the old
    // equality delete, so the doc scores again
    TextAnalysis.appendToTextIndex(spark, idx,
      corpus.where(col("doc_id") === 6), col("doc_id"), col("text"))
    val survivors3 = survivors2.unionByName(corpus.where(col("doc_id") === 6))
    val adhoc3 = TextAnalysis.bm25TopK(survivors3, col("doc_id"), col("text"), q, k = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(probe() == adhoc3, "a re-added doc must score again")
    // upsert (CDC replace): a doc's text changes; it must score under
    // the NEW text only, ranking like ad-hoc over the modified corpus
    val newText = concat(col("text"), lit(" spark spark w3"))
    TextAnalysis.upsertTextIndex(spark, idx,
      corpus.where(col("doc_id") === 5).select(col("doc_id"), newText.as("text")),
      col("doc_id"), col("text"))
    val modified = survivors3.where(col("doc_id") =!= 5).unionByName(
      corpus.where(col("doc_id") === 5).select(col("doc_id"), newText.as("text")))
    val adhoc4 = TextAnalysis.bm25TopK(modified, col("doc_id"), col("text"), q, k = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(probe() == adhoc4, "an upserted doc must rank under its new text")
    // a sidecar FOLD landing inside the stats window (deleteByKey fires
    // it past the live-delete cap) must not skew the delta: the heal is
    // a NET row diff, so the fold's content-preserving rewrite cancels
    // (the file-granular changelog would double-count every folded doc)
    spark.conf.set("spark.graft.mor.maxLiveDeleteRows", "1")
    try {
      TextAnalysis.removeFromTextIndex(spark, idx,
        corpus.where(col("doc_id") === 10).select("doc_id"))
      assert(graft.tables.GeoManifest.read(spark, idx + "/postings").eqDeletes.isEmpty,
        "the cap must have folded the delete sidecar away")
      val modified2 = modified.where(col("doc_id") =!= 10)
      val adhoc5 = TextAnalysis.bm25TopK(modified2, col("doc_id"), col("text"), q, k = 8)
        .collect().map(_.getLong(0)).toSeq
      assert(probe() == adhoc5, "fold-in-window removal must keep stats exact")
      // bit-exact: the COMMITTED stats props (they rode the delete's own
      // manifest commit) must equal the surviving corpus' true
      // (n_docs, sum_dl) — rank parity alone can mask a small skew
      val props = graft.tables.GeoTable.properties(spark, idx + "/postings")
      val truth = modified2.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
        .agg(count(lit(1)), sum(col("dl"))).head()
      assert(props("graft.bm25.n_docs").toLong == truth.getLong(0) &&
          props("graft.bm25.sum_dl").toLong == truth.getLong(1),
        s"stats props (${props("graft.bm25.n_docs")}, ${props("graft.bm25.sum_dl")}) " +
          s"!= truth (${truth.getLong(0)}, ${truth.getLong(1)})")
    } finally spark.conf.unset("spark.graft.mor.maxLiveDeleteRows")
  }

  test("RRF hybrid retrieval: fusion math, single-leg docs, index parity") {
    import graft.ops.Retrieval
    import spark.implicits._
    val docs = (0L until 30L).map { i =>
      (i, (0 until (4 + (i % 5)).toInt).map(j => s"w${(i + 3 * j) % 7}")
        .mkString(" ") + (if (i % 4 == 0) " spark" else " other"))
    }.toDF("doc_id", "text")
    // embeddings: 2-d unit-ish vectors spread on a quarter circle, so
    // cosine to the query vector orders them deterministically
    val embs = (0L until 30L).map { i =>
      val a = 0.05 * i
      (i, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "embedding")
    val qv = Array(1.0f, 0.0f)
    val q = Seq("spark", "w3")
    val fused = Retrieval.hybridTopK(docs, col("doc_id"), col("text"), q,
      embs, col("vec_id"), col("embedding"), qv, k = 10, perLeg = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    // replay the fusion by hand from the two legs
    val lex = graft.ops.TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"), q, 8)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> 1.0 / (60 + i + 1) }.toMap
    val dense = graft.ops.Similarity.bruteTopK(embs, col("embedding"), col("vec_id"), qv, 8)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> 1.0 / (60 + i + 1) }.toMap
    val expect = (lex.keySet ++ dense.keySet).toSeq
      .map(id => id -> (lex.getOrElse(id, 0.0) + dense.getOrElse(id, 0.0)))
      .sortBy { case (id, s) => (-s, id) }.take(10)
    assert(fused == expect, s"fusion drifted:\n$fused\nvs\n$expect")
    // docs appearing in only one leg must surface with that leg's term
    assert(fused.map(_._1).exists(id => !lex.contains(id) || !dense.contains(id)),
      "test shape must exercise single-leg docs")
    // index-backed spelling returns the identical fusion (all clusters probed)
    val tIdx = java.nio.file.Files.createTempDirectory("hyb_t").toString + "/i"
    val vIdx = java.nio.file.Files.createTempDirectory("hyb_v").toString + "/i"
    graft.ops.TextAnalysis.buildTextIndex(spark, tIdx, docs, col("doc_id"), col("text"), buckets = 4)
    graft.ops.Similarity.buildIvfIndex(spark, vIdx, embs, col("embedding"), col("vec_id"), k = 4, iters = 2)
    val viaIdx = Retrieval.hybridSearch(spark, tIdx, vIdx, q, qv,
      k = 10, perLeg = 8, nprobe = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(viaIdx == expect, s"indexed fusion drifted:\n$viaIdx\nvs\n$expect")
  }

  test("removeFromIvfIndex: probes see only survivors; absent ids are a no-op") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_del").toString + "/i"
    Similarity.buildIvfPqIndex(spark, idx,
      emb.where(col("vec_id") % 2 === 0), col("embedding"), col("vec_id"),
      k = 8, iters = 2, m = 16, pqK = 16)
    Similarity.appendToIvfIndex(spark, idx,
      emb.where(col("vec_id") % 2 === 1), col("embedding"), col("vec_id"))
    Similarity.removeFromIvfIndex(spark, idx,
      emb.where(col("vec_id") % 5 === 2).select("vec_id"))
    val q = emb.where(col("vec_id") === 7).select("embedding").head.getSeq[Float](0).toArray
    val brute = Similarity.bruteTopK(emb.where(col("vec_id") % 5 =!= 2),
        col("embedding"), col("vec_id"), q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val r = Similarity.ivfPqSearch(spark, idx, q, k = 10, nprobe = 8, candidates = 256)
      .select("vec_id").as[Long].collect().toSeq
    assert(r == brute, s"post-removal probe diverged: $r vs $brute")
    assert(!r.exists(_ % 5 == 2), "removed vectors must never surface")
    // absent ids: metadata no-op, probe unchanged
    Similarity.removeFromIvfIndex(spark, idx, Seq(100000L).toDF("vec_id"))
    val r2 = Similarity.ivfPqSearch(spark, idx, q, k = 10, nprobe = 8, candidates = 256)
      .select("vec_id").as[Long].collect().toSeq
    assert(r2 == brute)
    // upsert (CDC replace): vec 7 gets the NEGATED embedding — it must
    // stop matching itself (cosine -1 to the query = its old self)
    Similarity.upsertIvfIndex(spark, idx,
      emb.where(col("vec_id") === 7)
        .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding")),
      col("embedding"), col("vec_id"))
    val r3 = Similarity.ivfPqSearch(spark, idx, q, k = 10, nprobe = 8, candidates = 256)
      .select("vec_id").as[Long].collect().toSeq
    assert(!r3.contains(7L), "the replaced embedding must probe, not the old one")
  }

  test("dsir weights rank target-dialect docs above off-target docs") {
    import graft.ops.TrainingData
    val raw = Seq(
      (0L, "alpha beta alpha gamma beta alpha"),
      (1L, "alpha beta beta alpha common beta"),
      (2L, "zeta eta theta iota zeta eta"),
      (3L, "theta iota zeta common eta iota")
    ).toDF("doc_id", "text")
    val target = Seq(
      Tuple1("alpha beta alpha alpha beta"),
      Tuple1("beta alpha beta common")
    ).toDF("text")
    val w = TrainingData.dsirWeights(raw, col("doc_id"), col("text"),
        target, col("text"), buckets = 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.size == 4)
    assert(Seq(0L, 1L).map(w).min > Seq(2L, 3L).map(w).max,
      s"alpha/beta docs must outweigh zeta/eta docs: $w")
  }

  test("fingerprint is whitespace/case insensitive") {
    val fps = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.fingerprint(col("t")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L) && fps(1L) != fps(3L))
  }
}
