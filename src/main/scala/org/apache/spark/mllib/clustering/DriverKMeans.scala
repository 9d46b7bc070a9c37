package org.apache.spark.mllib.clustering

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.mllib.linalg.{BLAS, Vector, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

/** MLlib's k-means (k-means|| init, then Lloyd's iterations) over a
  * training set already held on the driver, one array per partition.
  *
  * A step-for-step mirror of `KMeans.runWithWeight` with unit weights,
  * in a package that can reach MLlib's own kernels: it copies no numeric
  * code. Sampling goes through `BernoulliSampler` seeded the way
  * `PartitionwiseSampledRDD` seeds it, the k-means|| rounds through
  * `XORShiftRandom(seed ^ (step << 16) ^ index)`, the final reduction
  * through `LocalKMeans.kMeansPlusPlus`, and every Lloyd step through
  * `DistanceMeasure.findClosest`, `updateClusterSum`, `centroid` and
  * `BLAS.axpy`. Each partition runs on its own thread in the order its
  * task would, and per-partition results merge in partition order, so
  * the centers are bit-equal to `ml.clustering.KMeans.fit` in local mode
  * on a frame with the same partition layout — with no Spark job. */
object DriverKMeans {

  /** `ml.clustering.KMeans`'s defaults: k-means|| init steps and tol. */
  private val InitSteps = 2
  private val Epsilon = 1e-4

  /** Cluster centers of `parts` (dense rows, one array per partition). */
  def train(parts: Array[Array[Array[Double]]], k: Int, maxIter: Int,
            seed: Long, distanceMeasure: String): Array[Array[Double]] = {
    val measure = DistanceMeasure.decodeFromString(distanceMeasure)
    val data = perPart(parts.length)(p => parts(p).map { v =>
      val dv = Vectors.dense(v)
      new VectorWithNorm(dv, Vectors.norm(dv, 2.0), 1.0)
    })
    val centers = initKMeansParallel(data, measure, k, seed)
    val dims = centers.head.vector.size
    val withStats = DistanceMeasure.shouldComputeStatistics(centers.length)
    var converged = false
    var iteration = 0
    while (iteration < maxIter && !converged) {
      val stats = if (withStats) Some(measure.computeStatistics(centers)) else None
      val sums = perPart(data.length) { p =>
        val s = Array.fill(centers.length)(Vectors.zeros(dims))
        val w = new Array[Double](centers.length)
        data(p).foreach { point =>
          val best = measure.findClosest(centers, stats, point)._1
          measure.updateClusterSum(point, s(best))
          w(best) += point.weight
        }
        (s, w)
      }
      // the reduceByKey merge, in partition order
      val total = new Array[Vector](centers.length)
      val weight = new Array[Double](centers.length)
      sums.foreach { case (s, w) =>
        var j = 0
        while (j < centers.length) {
          if (w(j) > 0) {
            if (total(j) == null) { total(j) = s(j); weight(j) = w(j) }
            else { BLAS.axpy(1.0, s(j), total(j)); weight(j) += w(j) }
          }
          j += 1
        }
      }
      converged = true
      var j = 0
      while (j < centers.length) {
        if (total(j) != null) {
          val c = measure.centroid(total(j), weight(j))
          if (converged && !measure.isCenterConverged(centers(j), c, Epsilon))
            converged = false
          centers(j) = c
        }
        j += 1
      }
      iteration += 1
    }
    centers.map(_.vector.toArray)
  }

  /** `KMeans.initKMeansParallel` (Bahmani et al., "Scalable K-Means++",
    * VLDB 2012) over driver-held partitions. */
  private def initKMeansParallel(data: Array[Array[VectorWithNorm]],
                                 measure: DistanceMeasure, k: Int,
                                 kmSeed: Long): Array[VectorWithNorm] = {
    val seed = new XORShiftRandom(kmSeed).nextInt()
    val sample = takeOne(data, seed)
    require(sample.nonEmpty, "No samples available from the KMeans training set")
    val centers = ArrayBuffer[VectorWithNorm]()
    var newCenters = Array(sample.head.toDense)
    centers ++= newCenters
    var costs = data.map(p => Array.fill(p.length)(Double.PositiveInfinity))
    var step = 0
    while (step < InitSteps) {
      val fresh = newCenters
      val prev = costs
      costs = perPart(data.length)(p =>
        Array.tabulate(data(p).length)(i =>
          math.min(measure.pointCost(fresh, data(p)(i)), prev(p)(i))))
      // RDD.fold(0.0)(_ + _): each task folds from zero, the driver merges
      val sumCosts = costs.map(_.foldLeft(0.0)(_ + _)).foldLeft(0.0)(_ + _)
      val s = step
      val chosen = perPart(data.length) { p =>
        val rand = new XORShiftRandom(seed ^ (s << 16) ^ p)
        data(p).indices.filter(i =>
          rand.nextDouble() < 2.0 * costs(p)(i) * k / sumCosts).map(data(p)(_))
      }
      newCenters = chosen.flatten.map(_.toDense)
      centers ++= newCenters
      step += 1
    }
    val distinctCenters = centers.map(_.vector).distinct.map(new VectorWithNorm(_))
    if (distinctCenters.length <= k) distinctCenters.toArray
    else {
      val cand = distinctCenters.toArray
      val counts = new Array[Long](cand.length)
      perPart(data.length)(p => data(p).map(measure.findClosest(cand, _)._1))
        .foreach(_.foreach(c => counts(c) += 1))
      LocalKMeans.kMeansPlusPlus(0, cand, counts.map(_.toDouble), k, 30)
    }
  }

  /** `RDD.takeSample(withReplacement = false, 1, seed)`. */
  private def takeOne(data: Array[Array[VectorWithNorm]],
                      seed: Long): Array[VectorWithNorm] = {
    val count = data.map(_.length.toLong).sum
    if (count == 0) Array.empty
    else {
      val rand = new java.util.Random(seed)
      if (1 >= count) Utils.randomizeInPlace(data.flatten, rand)
      else {
        val fraction = SamplingUtils.computeFractionForSampleSize(1, count, false)
        var samples = bernoulli(data, fraction, rand.nextInt())
        while (samples.length < 1) samples = bernoulli(data, fraction, rand.nextInt())
        Utils.randomizeInPlace(samples, rand).take(1)
      }
    }
  }

  /** `RDD.sample(false, fraction, seed).collect()`: one sampler per
    * partition, seeded from `Random(seed)` in partition order. */
  private def bernoulli(data: Array[Array[VectorWithNorm]], fraction: Double,
                        seed: Long): Array[VectorWithNorm] = {
    val random = new java.util.Random(seed)
    data.flatMap { part =>
      val sampler = new BernoulliSampler[VectorWithNorm](fraction)
      sampler.setSeed(random.nextLong())
      sampler.sample(part.iterator)
    }
  }

  /** `f` of every partition index, each on a pool thread; results in
    * partition order. */
  private def perPart[T: ClassTag](n: Int)(f: Int => T): Array[T] = {
    val out = new Array[T](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(p => out(p) = f(p))
    out
  }
}
