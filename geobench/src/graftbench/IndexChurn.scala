package graftbench

import scala.collection.mutable

import graft.ops.{Retrieval, Similarity, TextAnalysis}
import graft.tables.{GeoManifest, GeoSidecarCache, GeoTable}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * Index workload: an IVF index and a BM25 index over seeded documents and
 * embeddings, built in setup. Each cycle appends two batches of vectors to
 * the IVF index with hybrid top-10 probes and a standalone IVF and BM25
 * probe after each, removes both batches again, and compact + vacuum of the vectors table close
 * the cycle, so each cycle starts from the same indexes. The BM25 index
 * stays as built: a compaction of its postings table makes the next text
 * mutation re-derive the corpus stats from the changelog, which alone cost
 * more than the rest of a cycle. The geo predicate layers sit idle; `ops`
 * does the work.
 */
final class IndexChurn(spark: SparkSession, rec: Recorder, seed: Long, tiny: Boolean) extends Workload {
  private val nDocs = if (tiny) 200 else 400
  private val clusters = 8
  private val nprobe = 2
  private val buckets = 4
  private val K = 10
  private val perLeg = 50
  private val rrfK = 60
  private val hybridPerCycle = 4
  private val ivfPerCycle = 1
  private val bm25PerCycle = 1
  private val batchDocs = 20

  val primaryRead = "hybrid"
  val writeClasses = Seq("ivf_append", "ivf_remove")
  val sideClasses = writeClasses
  val appendClasses = Seq("ivf_append")
  val nominalCycleSeconds = 5.0

  private var textRoot = ""
  private var ivfRoot = ""
  // the documents of the BM25 index (static) and the vectors of the IVF index
  private var texts: Seq[Gen.Doc] = Seq.empty
  private val live = mutable.LinkedHashMap.empty[Long, Gen.Doc]
  // cluster of every live vector, as the index assigned it
  private val clusterOf = mutable.HashMap.empty[Long, Int]
  private var centroids: Array[Array[Double]] = Array.empty
  private var cycleOps: Seq[() => Unit] = Seq.empty

  def tableRoots: Seq[String] = Seq(s"$textRoot/postings", s"$ivfRoot/vectors")

  private def docsDf(docs: Seq[Gen.Doc]): DataFrame = {
    val sp = spark
    import sp.implicits._
    docs.map(d => (d.id, d.text, d.vec.toSeq)).toDF("doc_id", "text", "vec")
  }

  def build(dir: String, keep: Boolean): Unit = {
    val rnd = new java.util.Random(seed)
    val vocab = new Gen.Vocab(400)
    val emb = new Gen.Embedder(rnd, clusters)
    val docs = (0 until nDocs).map(i => Gen.doc(rnd, i.toLong, vocab, emb))
    val df = docsDf(docs).repartition(4)
    TextAnalysis.buildTextIndex(spark, s"$dir/text", df, col("doc_id"), col("text"), buckets)
    Similarity.buildIvfIndex(spark, s"$dir/ivf", df, col("vec"), col("doc_id"), clusters)
    if (keep) {
      textRoot = s"$dir/text"
      ivfRoot = s"$dir/ivf"
      texts = docs
      live.clear()
      docs.foreach(d => live(d.id) = d)
      centroids = GeoTable.read(spark, s"$ivfRoot/centroids").orderBy("cluster").collect()
        .map(_.getSeq[Double](1).toArray)
      clusterOf.clear()
      GeoTable.read(spark, s"$ivfRoot/vectors").select("vec_id", "cluster").collect()
        .foreach(r => clusterOf(r.getLong(0)) = r.getInt(1))
      cycleOps = plan(new java.util.Random(seed ^ 0x1d3L), vocab, emb)
    }
  }

  /** The fixed op list every cycle runs, drawn once from the seed. */
  private def plan(rnd: java.util.Random, vocab: Gen.Vocab, emb: Gen.Embedder): Seq[() => Unit] = {
    // query terms at fixed frequency ranks (a frequent and a middling
    // word), so the postings a probe reads do not depend on the seed
    var qi = 0
    def query(): (Seq[String], Array[Float]) = {
      qi += 1
      (Seq(s"w${3 * qi}", s"w${20 + 9 * qi}"), emb.vec(rnd))
    }
    val hybrids = Seq.fill(hybridPerCycle)(query()).map { case (q, v) =>
      val e = memo(hybridExpect(q, v)); () => hybrid(q, v, e())
    }
    val ivfs = Seq.fill(ivfPerCycle)(query()).map { case (_, v) =>
      val e = memo(ivfExpect(v)); () => ivfProbe(v, e())
    }
    val bm25s = Seq.fill(bm25PerCycle)(query()).map { case (q, _) =>
      val e = memo(bm25Exact(q, K)); () => bm25Probe(q, e())
    }
    val batches = Seq(0, 1).map(b => (0 until batchDocs).map(i => Gen.doc(rnd, 1000000L + b * batchDocs + i, vocab, emb)))
    def interleave(a: Seq[() => Unit], b: Seq[() => Unit]) =
      a.zipAll(b, () => (), () => ()).flatMap { case (x, y) => Seq(x, y) }
    val (h1, h2) = hybrids.splitAt(hybrids.size / 2)
    Seq[() => Unit](() => ivfAppend(batches(0))) ++ interleave(h1, ivfs) ++
      Seq[() => Unit](() => ivfAppend(batches(1))) ++ interleave(h2, bm25s) ++
      batches.map(b => () => ivfRemove(b.map(_.id))) :+ (() => maintain())
  }

  def cycle(): Unit = cycleOps.foreach(_())

  // ---- exact answers over the live model ---------------------------------

  private def bm25Exact(q: Seq[String], k: Int): Seq[(Long, Double)] = {
    val n = texts.size
    val avgdl = texts.map(_.terms.length.toLong).sum.toDouble / math.max(n, 1)
    val df = q.map(t => t -> texts.count(_.terms.contains(t))).toMap
    val (k1, b) = (1.2, 0.75)
    texts.iterator.flatMap { d =>
      val tf = d.terms.groupBy(identity).view.mapValues(_.length).toMap
      val hits = q.filter(tf.contains)
      if (hits.isEmpty) None
      else Some(d.id -> hits.map { t =>
        val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
        idf * tf(t) * (k1 + 1.0) / (tf(t) + k1 * (1.0 - b + b * d.terms.length / avgdl))
      }.sum)
    }.toSeq.sortBy { case (id, s) => (-BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, id) }
      .take(k)
  }

  private def probed(v: Array[Float]): Set[Int] = {
    val qd = v.map(_.toDouble)
    def cos(c: Array[Double]): Double = {
      var d = 0.0; var nc = 0.0; var nq = 0.0; var i = 0
      while (i < math.min(c.length, qd.length)) { d += c(i) * qd(i); nc += c(i) * c(i); nq += qd(i) * qd(i); i += 1 }
      if (nc == 0 || nq == 0) 0.0 else d / math.sqrt(nc * nq)
    }
    centroids.indices.sortBy(i => -cos(centroids(i))).take(nprobe).toSet
  }

  /** Exact cosine top-k, over the probed clusters or (None) all vectors. */
  private def denseExact(v: Array[Float], k: Int, within: Option[Set[Int]]): Seq[(Long, Double)] =
    live.valuesIterator.filter(d => within.forall(_.contains(clusterOf(d.id))))
      .map(d => d.id -> Gen.cosine(d.vec, v)).toSeq.sortBy { case (id, s) => (-s, id) }.take(k)

  private def rrf(legs: Seq[Seq[Long]], k: Int): Seq[Long] =
    legs.flatMap(_.zipWithIndex.map { case (id, r) => id -> 1.0 / (rrfK + r + 1) })
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sum }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)

  private def overlap(a: Seq[Long], b: Seq[Long]): Double = a.intersect(b).size / K.toDouble

  // ---- ops -----------------------------------------------------------------

  /** Computes `f` once, on first use, as harness time: the model is in
    * the same state at the same point of every cycle. */
  private def memo[T](f: => T): () => T = {
    var v: Option[T] = None
    () => v.getOrElse { val x = rec.harness(f); v = Some(x); x }
  }

  /** The fusion the index must return (dense leg over the probed
    * clusters) and the exact one (dense leg over every vector). */
  private case class HybridExpect(expect: Seq[Long], exact: Seq[Long])

  private def hybridExpect(q: Seq[String], v: Array[Float]): HybridExpect = {
    val lex = bm25Exact(q, perLeg).map(_._1)
    HybridExpect(rrf(Seq(lex, denseExact(v, perLeg, Some(probed(v))).map(_._1)), K),
      rrf(Seq(lex, denseExact(v, perLeg, None).map(_._1)), K))
  }

  private case class IvfExpect(expect: Seq[(Long, Double)], exact: Seq[Long])

  private def ivfExpect(v: Array[Float]): IvfExpect =
    IvfExpect(denseExact(v, K, Some(probed(v))), denseExact(v, K, None).map(_._1))

  private def hybrid(q: Seq[String], v: Array[Float], e: HybridExpect): Unit = {
    val HybridExpect(expect, exact) = e
    val misses0 = GeoSidecarCache.misses.get()
    rec.op("hybrid") {
      rec.span("ops.hybrid_probe_ms") {
        Retrieval.hybridSearch(spark, textRoot, ivfRoot, q, v, K, perLeg, rrfK, nprobe)
          .collect().map(_.getAs[Long]("id")).toSeq
      }
    } { got =>
      rec.recalls += overlap(got, exact)
      if (got == expect) None else Some(s"top-$K $got, exact fusion $expect")
    }
    rec.sample("tables.sidecar_loads_per_read", (GeoSidecarCache.misses.get() - misses0).toDouble)
  }

  private def ivfProbe(v: Array[Float], e: IvfExpect): Unit = {
    val IvfExpect(expect, exact) = e
    rec.op("ivf_probe") {
      rec.span("ops.ivf_probe_ms") {
        Similarity.ivfSearch(spark, ivfRoot, v, K, nprobe).collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      }
    } { got =>
      rec.recalls += overlap(got.map(_._1), exact)
      // the index scores float vectors; equal-within-rounding scores may swap
      val ok = got.size == expect.size && got.map(_._1).distinct.size == got.size &&
        got.zip(expect).forall { case ((id, _), (_, s)) =>
          live.get(id).exists(d => math.abs(Gen.cosine(d.vec, v) - s) < 1e-6)
        }
      if (ok) None else Some(s"top-$K $got, exact $expect")
    }
  }

  private def bm25Probe(q: Seq[String], expect: Seq[(Long, Double)]): Unit = {
    rec.op("bm25_probe") {
      rec.span("ops.bm25_probe_ms") {
        TextAnalysis.bm25Search(spark, textRoot, q, K).collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      }
    } { got =>
      // scores must match position by position; equal scores may order by id
      val ok = got.size == expect.size && got.zip(expect).forall { case ((_, a), (_, b)) => math.abs(a - b) < 1e-6 }
      if (ok) None else Some(s"top-$K $got, exact $expect")
    }
  }

  private def nearest(v: Array[Float]): Int = {
    // the stored-centroid assignment rule: argmax cosine, first wins
    var best = -1; var bestS = -2.0
    centroids.indices.foreach { i =>
      val s = Gen.cosine(v, centroids(i).map(_.toFloat))
      if (s > bestS) { best = i; bestS = s }
    }
    best
  }

  /** One index write (one table commit), timed as span `name`; traced
    * runs also count its file-system calls and bytes. */
  private def commit(name: String)(body: => Unit): Unit = {
    val fs0 = FsStats.snap()
    rec.span(name)(body)
    if (rec.traced) {
      val fs1 = FsStats.snap()
      rec.sample("tables.fs_ops_per_commit", (fs1.ops - fs0.ops).toDouble)
      rec.sample("tables.bytes_written_per_commit", (fs1.bytesWritten - fs0.bytesWritten).toDouble)
    }
  }

  private def ivfAppend(docs: Seq[Gen.Doc]): Unit = {
    val df = docsDf(docs)
    rec.op("ivf_append", rows = docs.size, bytes = docs.map(8L + 4L * _.vec.length).sum) {
      commit("ops.ivf_append_ms")(Similarity.appendToIvfIndex(spark, ivfRoot, df, col("vec"), col("doc_id")))
    } { _ => docs.foreach { d => live(d.id) = d; clusterOf(d.id) = nearest(d.vec) }; None }
  }

  private def ivfRemove(ids: Seq[Long]): Unit = {
    val sp = spark
    import sp.implicits._
    val df = ids.toDF("doc_id")
    rec.op("ivf_remove", bytes = 8L * ids.size) {
      commit("ops.ivf_remove_ms")(Similarity.removeFromIvfIndex(spark, ivfRoot, df))
    } { _ => live --= ids; clusterOf --= ids; None }
  }

  /** Compact + vacuum the vectors table; the check compares its row count
    * with the model. */
  private def maintain(): Unit = {
    val vectors = s"$ivfRoot/vectors"
    if (rec.traced) {
      val m = GeoManifest.read(spark, vectors)
      rec.sample("tables.live_files", m.files.size.toDouble)
      rec.sample("tables.live_delete_files", (m.deletes.size + m.eqDeletes.size).toDouble)
    }
    rec.op("maint") {
      rec.span("tables.maint_ms") {
        GeoTable.compact(spark, vectors, clusters)
        GeoTable.vacuum(spark, vectors, keepVersions = 1)
      }
    } { _ =>
      val n = GeoTable.read(spark, vectors).count()
      if (n == live.size) None else Some(s"$n vectors, model ${live.size}")
    }
  }

  def finish(): Map[String, Double] = Map.empty
}
