package graft.perfbench

/** Seeded Gaussian mixture: `centres` centres uniform in [-1, 1]^dim, each
  * draw a centre plus N(0, sigma²) per coordinate — the shape of the
  * scale harness's `mixtureC` corpus. The centres and the corpus rows are
  * fixed, as a reference dataset is: every seed builds the same index, so
  * build time and recall do not swing with the clustering of a fresh
  * corpus. The seed draws the queries and the writes, from streams apart
  * from the rows', so a query is never a corpus member. */
final class Corpus(seed: Long, val n: Int, val dim: Int, centres: Int, sigma: Double) {
  private val centre: Array[Array[Float]] = {
    val rnd = new java.util.Random(Corpus.CentreSeed)
    Array.fill(centres, dim)(rnd.nextFloat() * 2f - 1f)
  }

  def draw(rnd: java.util.Random): Array[Float] = {
    val c = centre(rnd.nextInt(centre.length))
    Array.tabulate(dim)(j => (c(j) + rnd.nextGaussian() * sigma).toFloat)
  }

  val vectors: Array[Array[Float]] = {
    val rnd = new java.util.Random(Corpus.RowSeed)
    Array.fill(n)(draw(rnd))
  }

  def id(i: Int): String = s"c$i"

  /** A random stream of held-out draws, distinct per `stream`; for seeds
    * of 0 and up never the rows' stream. */
  def queryRandom(stream: Int): java.util.Random = new java.util.Random(seed * 31 + 2 + stream)
}

object Corpus {
  val CentreSeed = 42L
  val RowSeed = -1L
}

object Exact {

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** The benchmark's own brute-force top-k: ids of the k nearest rows by L2. */
  def topK(q: Array[Float], ids: Array[String], vecs: Array[Array[Float]], k: Int): Seq[String] = {
    val heap = new java.util.PriorityQueue[(Double, Int)](k + 1,
      (x: (Double, Int), y: (Double, Int)) => java.lang.Double.compare(y._1, x._1))
    var i = 0
    while (i < vecs.length) {
      val d = l2(q, vecs(i))
      if (heap.size < k) heap.add((d, i))
      else if (d < heap.peek()._1) { heap.poll(); heap.add((d, i)) }
      i += 1
    }
    val out = new Array[(Double, Int)](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out.toSeq.map(p => ids(p._2))
  }

  /** Mean share of the exact top-k found in each reply. */
  def recall(samples: Seq[(Array[Float], Seq[String])], ids: Array[String],
             vecs: Array[Array[Float]], k: Int): Double =
    if (samples.isEmpty) Double.NaN
    else samples.map { case (q, got) =>
      topK(q, ids, vecs, k).toSet.intersect(got.toSet).size.toDouble / k
    }.sum / samples.length
}

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def sample(rnd: java.util.Random): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
