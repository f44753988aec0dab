package graftbench

import scala.collection.mutable

import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, GeometryFactory, Polygon}

/** Seeded inputs and the driver-side exact answers the checks compare to. */
object Gen {
  val gf = new GeometryFactory()

  /** Points drawn around `clusters` Gaussian centres inside [0, extent)². */
  final class Points(val ids: Array[Long], val xs: Array[Double], val ys: Array[Double]) {
    def size: Int = ids.length
    // ordinals sorted by x, for envelope pre-filtering in the oracles
    private lazy val byX: Array[Int] = (0 until size).sortBy(i => xs(i)).toArray
    private lazy val sortedX: Array[Double] = byX.map(xs)

    /** Ordinals whose point lies inside `env` (closed). */
    def inEnvelope(env: Envelope): Iterator[Int] = {
      var lo = java.util.Arrays.binarySearch(sortedX, env.getMinX)
      if (lo < 0) lo = -lo - 1
      while (lo > 0 && sortedX(lo - 1) >= env.getMinX) lo -= 1
      Iterator.from(lo).takeWhile(i => i < size && sortedX(i) <= env.getMaxX)
        .map(byX).filter(i => ys(i) >= env.getMinY && ys(i) <= env.getMaxY)
    }

    /** Exact count for a range predicate over `window` (JTS semantics). */
    def rangeCount(window: Geometry, contains: Boolean): Long =
      inEnvelope(window.getEnvelopeInternal).count { i =>
        val p = gf.createPoint(new Coordinate(xs(i), ys(i)))
        if (contains) window.contains(p) else p.intersects(window)
      }.toLong

    /** Exact k nearest ids of (qx, qy), ties broken by id. */
    def knn(qx: Double, qy: Double, k: Int): Seq[Long] = {
      // bounded max-heap on (distance, id): the k best seen so far
      val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
      val heap = mutable.PriorityQueue.empty[(Double, Long)](ord)
      var i = 0
      while (i < size) {
        val dx = xs(i) - qx; val dy = ys(i) - qy
        val e = (math.sqrt(dx * dx + dy * dy), ids(i))
        if (heap.size < k) heap.enqueue(e)
        else if (ord.lt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
        i += 1
      }
      heap.toSeq.sorted(ord).map(_._2)
    }
  }

  def clusteredPoints(rnd: java.util.Random, n: Int, clusters: Int, extent: Double,
                      sigma: Double, x0: Double = 0.0, firstId: Long = 0L): Points = {
    val cx = Array.fill(clusters)(x0 + rnd.nextDouble() * extent)
    val cy = Array.fill(clusters)(rnd.nextDouble() * extent)
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    for (i <- 0 until n) {
      val c = rnd.nextInt(clusters)
      xs(i) = clamp(cx(c) + rnd.nextGaussian() * sigma, x0, x0 + extent)
      ys(i) = clamp(cy(c) + rnd.nextGaussian() * sigma, 0.0, extent)
    }
    new Points(Array.tabulate(n)(i => firstId + i), xs, ys)
  }

  private def clamp(v: Double, lo: Double, hi: Double): Double =
    math.min(math.max(v, lo), math.nextDown(hi))

  def rect(x0: Double, y0: Double, x1: Double, y1: Double): Polygon =
    gf.toGeometry(new Envelope(x0, x1, y0, y1)).asInstanceOf[Polygon]

  /** A square of side `side` centred on (cx, cy). */
  def square(cx: Double, cy: Double, side: Double): Polygon =
    rect(cx - side / 2, cy - side / 2, cx + side / 2, cy + side / 2)

  /** `n` values stepping geometrically from `lo` to `hi`, in seeded order:
    * log-uniform coverage without the sampling spread of random draws. */
  def strata(rnd: java.util.Random, n: Int, lo: Double, hi: Double): IndexedSeq[Double] = {
    val vs = (0 until n).map(i => lo * math.pow(hi / lo, if (n == 1) 0.5 else i.toDouble / (n - 1)))
    val order = (0 until n).map(_ => rnd.nextDouble())
    vs.zip(order).sortBy(_._2).map(_._1)
  }

  /** A g×g tiling of [0, extent)² into quadrilaterals with jittered
    * interior corners; adjacent zones share edges, so every point of the
    * extent lies in exactly one zone (boundaries aside). */
  def zones(rnd: java.util.Random, g: Int, extent: Double): Seq[Polygon] = {
    val step = extent / g
    val vx = Array.tabulate(g + 1, g + 1) { (i, j) =>
      if (i == 0 || i == g || j == 0 || j == g) i * step else i * step + (rnd.nextDouble() - 0.5) * step * 0.4
    }
    val vy = Array.tabulate(g + 1, g + 1) { (i, j) =>
      if (i == 0 || i == g || j == 0 || j == g) j * step else j * step + (rnd.nextDouble() - 0.5) * step * 0.4
    }
    for (i <- 0 until g; j <- 0 until g) yield {
      val cs = Seq((i, j), (i + 1, j), (i + 1, j + 1), (i, j + 1), (i, j))
        .map { case (a, b) => new Coordinate(vx(a)(b), vy(a)(b)) }
      gf.createPolygon(cs.toArray)
    }
  }

  // ---- documents for the text + vector indexes ----------------------------

  val Dim = 16

  /** Zipf-weighted vocabulary sampler over words w0..w{v-1}. */
  final class Vocab(v: Int) {
    private val cdf = {
      val w = Array.tabulate(v)(i => 1.0 / (i + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def word(rnd: java.util.Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      s"w${math.min(if (i < 0) -i - 1 else i, v - 1)}"
    }
  }

  final case class Doc(id: Long, text: String, vec: Array[Float]) {
    lazy val terms: Array[String] = text.split(" ")
  }

  /** Embeddings drawn around `centres` random directions. */
  final class Embedder(rnd: java.util.Random, centres: Int) {
    private val cs = Array.fill(centres)(Array.fill(Dim)(rnd.nextGaussian()))
    def vec(rnd: java.util.Random): Array[Float] = {
      val c = cs(rnd.nextInt(centres))
      Array.tabulate(Dim)(d => (c(d) + rnd.nextGaussian() * 0.6).toFloat)
    }
  }

  def doc(rnd: java.util.Random, id: Long, vocab: Vocab, emb: Embedder): Doc = {
    val len = 20 + rnd.nextInt(41)
    Doc(id, Seq.fill(len)(vocab.word(rnd)).mkString(" "), emb.vec(rnd))
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }
}
