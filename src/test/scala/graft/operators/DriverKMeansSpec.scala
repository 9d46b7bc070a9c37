package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Residency, SparkSpec}

/** The coarse codebook trained on the driver is MLlib's, bit for bit:
  * `trainCenters` returns the centers `ml.clustering.KMeans.fit` finds on
  * the same training frame (`Arrays.equals` on the doubles), and so does
  * its ledger-denied branch, which runs that fit. */
class DriverKMeansSpec extends SparkSpec {

  /** `n` rows around `n / 40` gaussian centres (at most 200), or — with
    * `distinct` — `n` rows cycling over that many vectors. */
  private def corpus(n: Int, dim: Int, seed: Int,
                     distinct: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val nCentres = distinct.getOrElse(math.min(200, math.max(2, n / 40)))
    val centres = Array.fill(nCentres, dim)(rng.nextGaussian().toFloat * 3f)
    (0 until n).map { i =>
      val c = centres(i % nCentres)
      (i.toLong, if (distinct.isDefined) c.toSeq
        else c.map(x => x + rng.nextGaussian().toFloat).toSeq)
    }.toDF("id", "vec")
  }

  private def mllib(vs: DataFrame, nlist: Int, metric: String, n: Long,
                    maxIter: Int): Array[Array[Double]] =
    new KMeans().setK(nlist).setSeed(42L).setMaxIter(maxIter)
      .setDistanceMeasure(if (metric == "COSINE") "cosine" else "euclidean")
      .fit(IvfFlat.trainingSample(vs, nlist, 42L, n)
        .withColumn("features", array_to_vector(col("vec"))))
      .clusterCenters.map(_.toArray)

  /** `f` with the packed-floats line full, so every admission is Busy. */
  private def denied[T](f: => T): T = {
    val hog = Residency.hog(Residency.PackedFloats, Residency.PackedFloats.lineMax)
    try f finally Residency.release(hog)
  }

  private def assertBitEqual(got: Array[Array[Double]],
                             want: Array[Array[Double]], what: String): Unit = {
    assert(got.length == want.length, s"$what: ${got.length} vs ${want.length} centers")
    got.indices.foreach(c => assert(java.util.Arrays.equals(got(c), want(c)),
      s"$what: center $c differs"))
  }

  private def check(n: Int, dim: Int, nlist: Int, metric: String,
                    distinct: Option[Int] = None, maxIter: Int = 10,
                    viaLedger: Boolean = false): Unit = {
    val vs = corpus(n, dim, seed = nlist * 31 + dim, distinct).cache()
    try {
      val what = s"$metric n=$n dim=$dim nlist=$nlist"
      val driver = IvfFlat.trainCenters(vs, nlist, metric, 42L, maxIter, n, dim)
      assertBitEqual(driver, mllib(vs, nlist, metric, n, maxIter), what)
      if (viaLedger)
        assertBitEqual(denied(IvfFlat.trainCenters(vs, nlist, metric, 42L,
          maxIter, n, dim)), driver, s"$what (ledger denied)")
    } finally vs.unpersist()
  }

  for (metric <- Seq("L2", "COSINE")) {
    test(s"driver k-means equals MLlib KMeans.fit: $metric, nlist 2 and 8, dim 128") {
      check(1500, 128, 2, metric)
      check(3000, 128, 8, metric, viaLedger = true)
    }

    test(s"driver k-means equals MLlib KMeans.fit: $metric, nlist 64 and 128, dim 128") {
      check(4000, 128, 64, metric, maxIter = 5)
      // k·k·dim ≥ 1M: MLlib computes its center statistics in a job
      check(4000, 128, 128, metric, maxIter = 5, viaLedger = metric == "L2")
    }

    test(s"driver k-means equals MLlib KMeans.fit: $metric, fewer distinct vectors than nlist") {
      check(600, 16, 8, metric, distinct = Some(5), viaLedger = true)
    }
  }

  test("driver k-means equals MLlib KMeans.fit on a sample of a corpus above 16,384 rows") {
    check(20000, 16, 8, "L2", maxIter = 5, viaLedger = true)
  }

  test("a NaN or infinite element fails the IVF_FLAT build on both branches") {
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity)) {
      import spark.implicits._
      val vs = corpus(300, 8, seed = 3).as[(Long, Seq[Float])]
        .map { case (id, v) => (id, if (id == 17L) v.updated(3, bad) else v) }
        .toDF("id", "vec")
      val onDriver = intercept[IllegalArgumentException](
        IvfFlat.build(vs, nlist = 4))
      assert(onDriver.getMessage.contains(
        "KMeans training sample holds a NaN/Inf element"), onDriver.getMessage)
      val viaMllib = intercept[Exception](denied(IvfFlat.build(vs, nlist = 4)))
      assert(Iterator.iterate[Throwable](viaMllib)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("NaN or Infinity")),
        viaMllib.toString)
    }
  }
}
