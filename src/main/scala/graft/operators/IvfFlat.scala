package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._

/** IVF-Flat approximate nearest-neighbor index as Spark batch jobs.
  *
  * Capability mirror of the reference's inverted-file index
  * (reference: src/Pyrope.GarnetServer/Vector/IvfFlatVectorIndex.cs:85-218;
  * KMeans trainer Vector/KMeansUtils.cs:10-93) re-expressed Spark-first:
  *
  *  - Build = k-means coarse codebook + assignment column. The codebook
  *    trains on a bounded hash sample, on the driver, with MLlib's own
  *    kernels (bit-equal to `ml.clustering.KMeans`, see [[trainCenters]]);
  *    at scale the assigned table is written `partitionBy("cluster_id")`
  *    so nprobe becomes parquet partition pruning (SURVEY §4.1).
  *  - Search = query×centroid coarse scoring (broadcast, nlist rows) →
  *    top-nprobe probe set → equi-join into the inverted lists → exact
  *    scoring → bounded top-k.
  *
  * The only shuffle in the search path is the final ≤k-rows-per-partition
  * top-k exchange; the big vector table is joined via broadcast of the
  * (tiny) probe set.
  */
object IvfFlat {

  /** One partition's inverted lists in flat storage: ids + contiguous
    * float vectors, rows grouped by cluster with (start, len) ranges — the
    * reference's flat vector layout (BruteForceVectorIndex.cs:11-25,
    * HnswVectorIndex "Flat Vector Storage") per Spark partition. */
  final class PackedLists(val dim: Int, val ids: Array[Long],
                          val vecs: Array[Float],
                          val ranges: java.util.HashMap[Int, Array[Int]])
    extends Serializable

  /** `rows` is the row count of `assigned`, known to whoever wrote it
    * (0 for a centroids-only handle, as [[assign]] needs). */
  case class Index(assigned: DataFrame, centroids: DataFrame, rows: Long = 0L) {
    /** Driver-side centroid snapshot (nlist rows — driver-sized by
      * construction), fetched once per Index instance: repeated
      * small-batch searches against the same index skip the per-call
      * centroid job entirely. */
    @transient lazy val centroidsLocal: Array[(Int, Array[Float])] =
      centroids.collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))

    /** Serving snapshot: per-partition packed inverted lists, cached as an
      * RDD of LIVE objects (RDD cache stores deserialized objects — no
      * columnar decode, no row materialization on the per-call hot path).
      * Built lazily by one job on first use; repeated small-batch searches
      * then score straight off contiguous float arrays.
      *
      * The pack exchanges rows BY CLUSTER first, so each cluster's whole
      * inverted list lands in exactly one packed partition — the serving
      * analog of writing the assigned table `partitionBy("cluster_id")`:
      * a probe set then maps to a PARTITION set and a small-batch search
      * launches tasks only where probed lists live
      * ([[Index.packedPartsOf]] + PartitionPruningRDD below). Without
      * this, a single nprobe=10 query over a 512-list corpus paid one
      * task per partition — measured 60 ms p50 at the 10M rung, almost
      * all of it launch overhead for tasks that scanned nothing. */
    /** Set once [[packed]] is built — lifecycle callers (snapshot GC)
      * must consult THIS, never the lazy val: under AQE, constructing
      * the packed RDD eagerly executes the cluster-keyed exchange's map
      * stage, and an evictor that "just wants to unpersist" would launch
      * that job against snapshot files it is in the middle of deleting. */
    @transient @volatile private var packedBuilt: Option[org.apache.spark.rdd.RDD[PackedLists]] = None
    def packedIfBuilt: Option[org.apache.spark.rdd.RDD[PackedLists]] = packedBuilt

    @transient lazy val packed: org.apache.spark.rdd.RDD[PackedLists] = {
      val rdd = assigned.select("id", "vec", "cluster_id")
        .repartition(col("cluster_id"))
        .queryExecution.toRdd.mapPartitions { it =>
          val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
          val cls = scala.collection.mutable.ArrayBuffer.empty[Int]
          val vecBuf = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
          while (it.hasNext) {
            val row = it.next()
            ids += row.getLong(0)
            vecBuf += row.getArray(1).toFloatArray()
            cls += row.getInt(2)
          }
          if (ids.isEmpty) Iterator.empty
          else {
            val n = ids.length
            val dim = vecBuf(0).length
            // group rows by cluster: stable order by (cluster, arrival)
            val order = Array.range(0, n).sortBy(i => (cls(i), i))
            val pIds = new Array[Long](n)
            val pVecs = new Array[Float](n * dim)
            val ranges = new java.util.HashMap[Int, Array[Int]]()
            var i = 0
            while (i < n) {
              val src = order(i)
              pIds(i) = ids(src)
              System.arraycopy(vecBuf(src), 0, pVecs, i * dim, dim)
              val c = cls(src)
              val r = ranges.get(c)
              if (r == null) ranges.put(c, Array(i, 1)) else r(1) += 1
              i += 1
            }
            Iterator(new PackedLists(dim, pIds, pVecs, ranges))
          }
        }
      // MEMORY_AND_DISK, not MEMORY_ONLY: under storage pressure an
      // evicted MEMORY_ONLY partition silently recomputes the whole
      // pack-from-parquet per search call (a 20×+ serving regression
      // observed under a cache-heavy JVM); disk spill degrades to a
      // local read instead
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      packedBuilt = Some(rdd)
      rdd
    }

    /** Driver-RESIDENT packed lists for the zero-job serving tier, or
      * None while the [[graft.Residency.PackedFloats]] line denies them.
      * The reference's whole engine is one process's heap — for indexes
      * that fit the explicit byte bound, holding the packed arrays on
      * the driver serves single queries with no job submission at all
      * (the ~25 ms local scheduling floor dominates per-call latency
      * otherwise). Admitted BEFORE collecting, from [[rows]] × vector
      * bytes; oversized indexes keep the distributed path, and a line
      * that is merely full is retried on the next call. */
    def packedDriver: Option[Array[PackedLists]] = packedResident.get

    @transient private[graft] lazy val packedResident =
      new graft.Residency.Memo[Array[PackedLists]]({
        val dim = centroidsLocal.headOption.fold(0)(_._2.length)
        if (rows == 0L) graft.Residency.Admitted(Array.empty[PackedLists])
        else graft.Residency.admit(graft.Residency.PackedFloats,
          rows * (4L * dim + 16L))(packed.collect())
      })

    /** cluster → packed-partition index, read FROM the packed data itself
      * (one tiny metadata job over the cached parts, memoized) rather
      * than re-deriving the exchange's hash placement — correct under
      * any AQE coalescing of the cluster-keyed shuffle. Powers the
      * partition-pruned serving job: a probe set touches only the
      * partitions this map names (parquet partition-pruning semantics,
      * applied to the serving snapshot). */
    @transient lazy val packedPartsOf: Map[Int, Int] = {
      val pairs = packed.mapPartitionsWithIndex { (pid, it) =>
        it.flatMap { p =>
          import scala.jdk.CollectionConverters._
          p.ranges.keySet.asScala.iterator.map(c => (c.intValue, pid))
        }
      }.collect()
      pairs.toMap
    }
  }

  /** Work bound for dispatching a call to the SINGLE-THREADED
    * driver-resident tier: exact scanned float elements (Σ over probed
    * clusters of real list length × probing queries × dim). The
    * single-threaded in-heap scan wins only when the scan is so small
    * that thread-pool handoff (~50-100 µs/task) is a real fraction —
    * sub-millisecond work, e.g. the delta-head tail scans (~tens of K
    * elems). Everything bigger parallelizes well on the shared pool: a
    * measured sweep (r6, single-query serving) moved this bound down
    * from 32M after the MT tier beat single-thread at every probed size
    * — 500k config p50 21.1 → 4.2 ms, 1M p99 61 → 8.4 ms, 100k p50
    * 4.2 → 1.9 ms. ~2M mul-adds ≈ 1 ms single-core is the break-even. */
  val DriverServeMaxScanElems: Long = 2L << 20

  /** Work ceiling for the MULTI-THREADED driver-resident tier: between
    * [[DriverServeMaxScanElems]] and this bound, a resident index scans
    * on a shared daemon pool (one task per query chunk or per packed
    * part) — NO job submission, NO broadcast, NO partial-collect, so
    * mid-size serving batches (the reference-shaped 100-query run is
    * ~128M elems) never depend on the local scheduler's health. Past
    * this ceiling a scan is ≥ ~1 s even at 32 threads and the
    * distributed path's fixed overhead amortizes — and on a REAL
    * cluster the executor fleet has far more cores than the driver, so
    * routing ever-larger scans to driver threads would invert the
    * scaling story; resident corpora are within the
    * [[graft.Residency.PackedFloats]] handle cap (134M float-elems) so
    * per-call work above this ceiling means a genuinely large query
    * batch, exactly what executors are for. */
  val DriverServeMaxScanElemsMT: Long = 8L << 30

  /** Rows per inverted list, summed over driver-resident packed parts'
    * `ranges` — no job: the parts already hold every list's length. */
  private[graft] def listSizes(
      ranges: Iterator[java.util.HashMap[Int, Array[Int]]]): scala.collection.Map[Int, Long] = {
    val sizes = scala.collection.mutable.HashMap.empty[Int, Long]
    ranges.foreach(_.forEach((c, r) => sizes(c) = sizes.getOrElse(c, 0L) + r(1)))
    sizes
  }

  /** Shared daemon pool for the multi-threaded driver tier. Sized to the
    * machine (local mode: same cores the executor threads would use —
    * the tiers trade the scheduler for a plain pool, not CPUs for CPUs). */
  private lazy val driverScanPool: java.util.concurrent.ExecutorService = {
    val n = math.max(2, Runtime.getRuntime.availableProcessors())
    java.util.concurrent.Executors.newFixedThreadPool(n, (r: Runnable) => {
      val t = new Thread(r, "graft-ivf-driver-scan")
      t.setDaemon(true)
      t
    })
  }
  private lazy val driverScanThreads: Int =
    math.max(2, Runtime.getRuntime.availableProcessors())

  /** Serving-tier counters (driver / driverMT / distributed), exposed so
    * the benchmark can print WHICH path served each measured run — the
    * round log then shows tier routing directly instead of leaving a
    * slow run to forensic guessing. */
  private[graft] val tierCounts: java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong] =
    new java.util.concurrent.ConcurrentHashMap()
  private def countTier(name: String): Unit =
    tierCounts.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
  private[graft] def tierCountsSnapshot: Map[String, Long] = {
    val m = scala.collection.mutable.Map.empty[String, Long]
    tierCounts.forEach((k, v) => m(k) = v.get())
    m.toMap
  }

  /** Train the coarse codebook and assign every vector to its inverted list.
    * Cosine metric uses MLlib's cosine distance measure; L2/IP use
    * euclidean — mirroring the reference's metric-aware assignment
    * (reference: Vector/KMeansUtils.cs:70-93).
    * vectors: (id BIGINT, vec ARRAY<FLOAT>). */
  def build(vectors: DataFrame, nlist: Int, metric: String = "L2",
            seed: Long = 42L, maxIter: Int = 10): Index = {
    val spark = vectors.sparkSession
    if (nlist <= 1) {
      // degenerate FLAT index: one inverted list = exact full scan
      // (MLlib KMeans requires k >= 2)
      val shape = vectors.agg(count(lit(1)), max(size(col("vec")))).head
      val dim = if (shape.isNullAt(1)) 0 else shape.getInt(1)
      return Index(vectors.withColumn("cluster_id", lit(0)),
        centroidsFrame(spark, flatCenters(dim)), shape.getLong(0))
    }
    val rows = vectors.count()
    // the first row's width sizes the training sample's reservation
    val dim = if (rows == 0L) 0 else vectors.select(size(col("vec"))).head.getInt(0)
    val centers = trainCenters(vectors, nlist, metric, seed, maxIter, rows, dim)
    Index(assignByCenters(vectors, centers, assignMetric(metric)),
      centroidsFrame(spark, centers), rows)
  }

  /** The single all-zero center of a FLAT (nlist ≤ 1) index. */
  private[graft] def flatCenters(dim: Int): Array[Array[Double]] =
    Array(new Array[Double](dim))

  /** The metric the assignment kernel scores with: COSINE, else L2. */
  private[graft] def assignMetric(metric: String): String =
    if (metric.equalsIgnoreCase("COSINE")) "COSINE" else "L2"

  /** (cluster_id, centroid ARRAY<FLOAT>) — the centers narrowed to float,
    * the table every snapshot writes. */
  private[graft] def centroidsFrame(spark: org.apache.spark.sql.SparkSession,
                                    centers: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centers.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat).toSeq) }
      .toSeq.toDF("cluster_id", "centroid")
  }

  /** MLlib's k-means over a bounded deterministic sample of `vectors`
    * (`nRows` rows of `dim` elements, counted by the caller): the coarse
    * codebook as DOUBLE centers. The training input's plan — hash order,
    * limit, round-robin spread — is the same whoever calls, because its
    * partition layout decides the k-means|| sampling.
    *
    * The sample comes to the driver in one collect, partition by
    * partition, and [[org.apache.spark.mllib.clustering.DriverKMeans]]
    * trains on it with MLlib's own kernels: the centers are bit-equal to
    * `ml.clustering.KMeans.fit` on the same frame, without its ~2 jobs
    * per Lloyd iteration and k-means|| round. The collect first reserves
    * `rows × (12·dim + 96)` bytes on [[graft.Residency.PackedFloats]];
    * on a Denied or Busy answer (large dim × nlist) MLlib fits the same
    * frame with Spark jobs. */
  private[graft] def trainCenters(vectors: DataFrame, nlist: Int,
                                  metric: String, seed: Long, maxIter: Int,
                                  nRows: Long, dim: Int): Array[Array[Double]] = {
    val train = trainingSample(vectors, nlist, seed, nRows)
    val measure = if (metric.equalsIgnoreCase("COSINE")) "cosine" else "euclidean"
    val sampleBytes = math.min(nRows, trainCap(nlist).toLong) * (12L * dim + 96L)
    graft.Residency.admit(graft.Residency.PackedFloats, sampleBytes)(
        collectSample(train)) match {
      case graft.Residency.Admitted(parts) =>
        try {
          checkSample(parts)
          org.apache.spark.mllib.clustering.DriverKMeans
            .train(parts, nlist, maxIter, seed, measure)
        } finally graft.Residency.release(parts)
      case _ =>
        new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
          .setDistanceMeasure(measure)
          .fit(train.withColumn("features", array_to_vector(col("vec"))))
          .clusterCenters.map(_.toArray)
    }
  }

  /** Rows the coarse codebook trains on, at most. */
  private def trainCap(nlist: Int): Int = math.max(nlist * 256, 16384)

  /** The training frame: the `trainCap` rows of `vectors` (`nRows` of
    * them) first in seeded id-hash order, spread round-robin over
    * `defaultParallelism` partitions. */
  private[graft] def trainingSample(vectors: DataFrame, nlist: Int, seed: Long,
                                    nRows: Long): DataFrame = {
    // Train the coarse codebook on a bounded DETERMINISTIC sample and
    // assign the full corpus in one pass — 10 Lloyd iterations over all
    // of a 100-TB corpus is the classic IVF-build scale trap; sampled
    // coarse training is the standard answer (faiss trains coarse
    // quantizers on a bounded sample for exactly this reason), and
    // centroid quality saturates at a few hundred points per centroid.
    // The sample is selected by seeded id-hash order (a pure function of
    // (seed, id), independent of partition layout), so builds are
    // reproducible across cluster layouts. Corpora at or under the cap
    // train on every row, as before.
    val cap = trainCap(nlist)
    val hashExpr = xxhash64(col("id"), lit(seed))
    // Sample SELECTION without a corpus-wide sort (guide §1.2 step 1 /
    // §2.4): `orderBy(hash).limit(cap)` plans a full range-partitioned
    // sort of the corpus — two whole-corpus jobs (range-boundary sample
    // + sort shuffle) just to pick the cap hash-smallest rows (measured
    // ~127 s of the 10M rung's 255 s build in r11).
    // The hash is uniform on the Long range, so the cap-th smallest
    // hash sits near MinValue + (cap/n)·2^64: pre-filter at 4× that
    // quantile (a codegen filter pass that column-prunes to `id` — no
    // vector math, no shuffle) and sort only the ~4·cap survivors.
    // The selected set is PROVABLY the same: if ≥ cap rows pass the
    // filter, every global top-cap row (by (hash, id)) must itself pass
    // (anything above the cutoff orders after all cap of them) — and a
    // shortfall (astronomically unlikely at 4× margin, Chernoff) falls
    // back to the original full sort. Same rows, same sort, same
    // repartition ⇒ bit-identical train set and centroids; engaged only
    // when the margin fits (n ≥ 8·cap), so small corpora — including
    // every oracle-gated config and the 100k recall gauges — keep the
    // exact original plan.
    val spark = vectors.sparkSession
    val preFiltered =
      if (nRows >= 8L * cap) {
        val frac = 4.0 * cap / nRows // ≤ 0.5 by the gate
        val cutoff = Long.MinValue + (frac * math.pow(2.0, 64)).toLong
        val pre = vectors.filter(hashExpr <= lit(cutoff))
        if (pre.count() >= cap) pre else vectors
      } else vectors
    preFiltered
      .orderBy(hashExpr, col("id"))
      .limit(cap)
      // a global limit lands in ONE partition — spread the (small)
      // sample back out, one part per core for the trainer
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** The training frame's `vec` column as doubles, one array per
    * partition in partition order (one job); a null vector or element
    * arrives as a null row for [[checkSample]] to reject. */
  private def collectSample(train: DataFrame): Array[Array[Array[Double]]] =
    train.select("vec").queryExecution.toRdd.mapPartitions { it =>
      val rows = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      it.foreach { r =>
        val a = if (r.isNullAt(0)) null else r.getArray(0)
        rows += (if (a == null) null else {
          val d = new Array[Double](a.numElements())
          var i = 0
          while (i < d.length && !a.isNullAt(i)) { d(i) = a.getFloat(i); i += 1 }
          if (i < d.length) null else d
        })
      }
      Iterator(rows.toArray)
    }.collect()

  /** The vectors `ml.clustering.KMeans` rejects (`checkNonNanVectors`),
    * rejected before the driver trains on them. */
  private def checkSample(parts: Array[Array[Array[Double]]]): Unit =
    parts.foreach(_.foreach { v =>
      require(v != null, "KMeans training sample holds a null vector or element")
      require(v.forall(x => !x.isNaN && !x.isInfinite),
        "KMeans training sample holds a NaN/Inf element")
    })

  /** Nearest-center assignment against DOUBLE cluster centers: one flat
    * centers array, sequential per-center accumulation (same summation
    * order as a plain Σ(a−b)² loop), block-wise L2 early abandonment,
    * first-index tie-break — the argmin MLlib's EuclideanDistanceMeasure
    * computes, without per-row Vector boxing. COSINE matches MLlib's
    * cosine distance (1 − dot/(‖a‖·‖b‖)): argmin over it is argmax of
    * dot/‖c‖ at fixed query norm, computed that way (no abandonment —
    * dot products have no monotone partial bound).
    *
    * Used instead of model.transform (§1.2 step 2): MLlib's transform
    * converts every row to a boxed double DenseVector and its norm-gap
    * pruning bound collapses on same-norm corpora, so each row pays the
    * full nlist×dim distance scan through Vector indirection. (Float
    * rounding of the distance differs from MLlib's norm-identity path in
    * the last ulps; an argmin flip needs two centers equidistant to
    * ~1e-15 relative — AssignKernelSpec pins transform-equality on
    * random data, and every oracle-gated config is
    * exact-by-construction, independent of assignment.) */
  private[graft] final class CenterKernel(centers: Array[Array[Double]],
                                          metricU: String) extends Serializable {
    private val k = centers.length
    private val dim = centers.headOption.map(_.length).getOrElse(0)
    private val flat: Array[Double] = {
      val out = new Array[Double](k * dim)
      var ci = 0
      while (ci < k) {
        System.arraycopy(centers(ci), 0, out, ci * dim, dim); ci += 1
      }
      out
    }
    private val isCos = metricU == "COSINE"
    private val cnorm: Array[Double] =
      if (isCos) centers.map(c => math.sqrt(c.map(x => x * x).sum)) else null

    def nearest(a: Array[Float]): Int = {
      val cs = flat
      if (a.length != dim) throw new graft.DimensionMismatchException(
        s"vector dimension mismatch: ${a.length} vs $dim")
      var best = 0
      if (isCos) {
        val norms = cnorm
        var bestS = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          val off = c * dim
          var dp = 0.0; var i = 0
          while (i < dim) { dp += a(i) * cs(off + i); i += 1 }
          val s = if (norms(c) < 1e-12) Double.NegativeInfinity else dp / norms(c)
          if (s > bestS) { bestS = s; best = c }
          c += 1
        }
      } else {
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val off = c * dim
          var d = 0.0; var i = 0
          var live = true
          while (live && i < dim) {
            val blockEnd = math.min(i + 16, dim)
            while (i < blockEnd) {
              val df = a(i) - cs(off + i); d += df * df; i += 1
            }
            if (d >= bestD) live = false // partial already ≥ best: skip
          }
          if (live && d < bestD) { bestD = d; best = c }
          c += 1
        }
      }
      best
    }
  }

  /** [[CenterKernel]] as a `cluster_id` column over `vectors`. */
  private[graft] def assignByCenters(vectors: DataFrame,
                                         centers: Array[Array[Double]],
                                         metricU: String): DataFrame = {
    val bKernel = vectors.sparkSession.sparkContext
      .broadcast(new CenterKernel(centers, metricU))
    val nearest = udf((v: Seq[Float]) =>
      bKernel.value.nearest(graft.functions.floatArray(v)))
    vectors.withColumn("cluster_id", nearest(col("vec")))
  }

  /** Assign vectors to their nearest EXISTING centroid (no training):
    * one pass with a broadcast centroid array and an argmin kernel — the
    * incremental-add path (the reference adds into inverted lists without
    * retraining, IvfFlatVectorIndex.cs:39-54). Tie-break: lowest
    * cluster_id, matching the probe ranking's tie order. */
  def assign(vectors: DataFrame, index: Index, metric: String = "L2"): DataFrame = {
    val cents = index.centroidsLocal
    val metricU = metric.toUpperCase(java.util.Locale.ROOT)
    val spark = vectors.sparkSession
    val bc = spark.sparkContext.broadcast(cents)
    val nearest = udf { (v: Seq[Float]) =>
      val arr = v.toArray
      val cs = bc.value
      var best = Int.MaxValue; var bestS = Double.NegativeInfinity
      var i = 0
      while (i < cs.length) {
        val s = candidateScore(metricU, arr, cs(i)._2)
        if (s > bestS || (s == bestS && cs(i)._1 < best)) { bestS = s; best = cs(i)._1 }
        i += 1
      }
      best
    }
    vectors.withColumn("cluster_id", nearest(col("vec")))
  }

  /** Persist the index: cluster-partitioned vectors + centroid table
    * (reference snapshot: IvfFlatVectorIndex.cs:233-298). Reading back and
    * filtering on cluster_id gives partition pruning for free. */
  def save(index: Index, path: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("cluster_id").parquet(s"$path/vectors")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val vectors = spark.read.parquet(s"$path/vectors")
    Index(vectors, spark.read.parquet(s"$path/centroids"), vectors.count())
  }

  /** Probe selection: top-nprobe clusters per query, ranked by the metric
    * score against the driver-held centroid snapshot (reference:
    * IvfFlatVectorIndex.cs:183-198). One narrow pass over the query frame
    * (broadcast centroids + rank UDF + explode) — a crossJoin×centroids +
    * aggregate form would shuffle nq×nlist rows for the same answer, and
    * the centroid table is driver-sized by construction (nlist rows).
    * Scores and tie-break identical to [[probesLocal]]: (-score, cid). */
  def probes(index: Index, queries: DataFrame, metric: String, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val bc = spark.sparkContext.broadcast(index.centroidsLocal)
    val metricU = metric.toUpperCase(java.util.Locale.ROOT)
    val probeU = udf { (qv: Seq[Float]) =>
      rankProbes(bc.value, qv.toArray, metricU, nprobe)
    }
    // _outer keeps Catalyst's InferFiltersFromGenerate from re-evaluating
    // the probe-ranking UDF inside synthesized size/notnull filters
    // (row-identical here: the rank array is non-empty for nprobe ≥ 1)
    queries.select(col("query_id"), col("qvec"),
      explode_outer(probeU(col("qvec"))).as("cluster_id"))
  }

  /** Top-nprobe cluster ids for one query (shared ranking kernel). */
  private[graft] def rankProbes(cents: Array[(Int, Array[Float])],
                                q: Array[Float], metricU: String,
                                nprobe: Int): Array[Int] =
    cents.map { case (cid, cv) => (cid, candidateScore(metricU, q, cv)) }
      .sortBy { case (cid, s) => (-s, cid.toLong) }
      .take(nprobe).map(_._1)

  /** Driver-side probe selection: centroids (nlist rows) and the query
    * batch are both driver-sized by construction — exactly the data the
    * reference holds in memory — so the coarse ranking can skip two Spark
    * jobs and feed the probe set straight into the inverted-list join.
    * Semantically identical to [[probes]] (same scores, same id
    * tie-break). */
  private def probesLocal(index: Index, qs: Array[(Long, Seq[Float])],
                          metric: String, nprobe: Int,
                          spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val cents = index.centroidsLocal
    val metricU = metric.toUpperCase(java.util.Locale.ROOT)
    val rows = qs.flatMap { case (qid, qv) =>
      cents.headOption.foreach { case (_, cv) =>
        if (qv.length != cv.length) throw new graft.DimensionMismatchException(
          s"vector dimension mismatch: ${qv.length} vs ${cv.length}")
      }
      val qArr = qv.toArray
      cents.map { case (cid, cv) => (qid, cid, candidateScore(metricU, qArr, cv)) }
        .sortBy { case (_, cid, s) => (-s, cid.toLong) }
        .take(nprobe)
        .map { case (q, cid, _) => (q, cid, qv) }
    }
    import spark.implicits._
    rows.toSeq.toDF("query_id", "cluster_id", "qvec")
      .select("query_id", "qvec", "cluster_id")
  }

  /** Full IVF search: probe top-nprobe inverted lists, exact-score their
    * members, return global top-k per query. Three forms, picked by what
    * is driver-sized:
    *  - query batch local AND index resident (within the
    *    [[graft.Residency.PackedFloats]] handle cap, checked BEFORE any
    *    collect): the tiered packed serving path —
    *    in-heap single- or multi-threaded scan, no join materialization,
    *    no scheduler (spec-pinned equal to the join plan);
    *  - query batch local, index NOT resident: driver-side probe ranking
    *    feeding the distributed inverted-list join — the big corpus
    *    streams from its (pruned) partitions, never materialized whole;
    *  - query batch distributed: fully distributed probe plan + join.
    * Note the local paths materialize probes at call time — the returned
    * DataFrame snapshots them, like the built index itself. */
  def search(index: Index, queries: DataFrame, metric: String,
             k: Int, nprobe: Int, maxLocalQueries: Int = 10000): DataFrame = {
    val spark = queries.sparkSession
    val sample = queries.select("query_id", "qvec").limit(maxLocalQueries + 1).collect()
    if (sample.length <= maxLocalQueries) {
      if (index.packedDriver.isDefined) {
        val qs = sample.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        import spark.implicits._
        searchLocalRows(index, qs, metric, k, nprobe, spark).toSeq
          .toDF("query_id", "rank", "id", "score")
      } else {
        val qs = sample.map(r => (r.getLong(0), r.getSeq[Float](1)))
        searchProbed(index, probesLocal(index, qs, metric, nprobe, spark), metric, k)
      }
    } else searchProbed(index, probes(index, queries, metric, nprobe), metric, k)
  }

  /** Small-batch fast path: the caller already holds the query batch as a
    * local array (the reference's serving regime — queries arrive in
    * memory, one RESP command at a time). ONE fused Spark job: probe
    * ranking runs on the driver against the cached centroid snapshot, the
    * inverted probe map (cluster → probing queries) broadcasts, and each
    * task streams its partition's InternalRows once — membership check,
    * score, bounded per-query top-k — emitting ≤ nq·k rows. No join
    * materialization, no aggregate boundary: this is the reference's
    * serving inner loop (IvfFlatVectorIndex.cs:156-218) with partitions in
    * place of threads. Executes EAGERLY; returns a local result frame. */
  def searchLocal(index: Index, queries: Array[(Long, Array[Float])],
                  metric: String, k: Int, nprobe: Int,
                  spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    searchLocalRows(index, queries, metric, k, nprobe, spark).toSeq
      .toDF("query_id", "rank", "id", "score")
  }

  /** [[searchLocal]] returning the answer as a driver-local array —
    * the true serving form (the reference's RESP reply is exactly this
    * list). The DataFrame wrapper above costs ~100-150 ms of per-call
    * encoder + Catalyst planning, which dwarfs the search itself;
    * latency-sensitive callers and the benchmark use this entry.
    * Indexes inside the [[graft.Residency.PackedFloats]] handle cap serve
    * from the driver-resident packed tier — no job submission, so per-call
    * latency is the scan, not the ~25 ms local scheduler floor. */
  def searchLocalRows(index: Index, queries: Array[(Long, Array[Float])],
                      metric: String, k: Int, nprobe: Int,
                      spark: org.apache.spark.sql.SparkSession,
                      allowedSorted: Array[Long] = null,
                      allowedHash: LongHashSet = null,
                      allowedBits: Array[Array[Long]] = null): Array[(Long, Int, Long, Double)] =
    searchLocalRowsPath(index, queries, metric, k, nprobe, spark,
      forceDistributed = false, allowedSorted = allowedSorted,
      allowedHash = allowedHash, allowedBits = allowedBits)

  /** [[searchLocalRows]] with the tier dispatch exposed for path-equality
    * tests: `forceDistributed = true` always runs the packed-RDD job even
    * when the index fits the driver-resident tier.
    *
    * `allowedSorted` (optional): a SORTED array of admissible surrogate
    * ids — the serving-side conjunctive tag filter (F1) resolved to an id
    * set by the caller. Candidates outside the set are skipped BEFORE
    * scoring (one membership test per probed row, no dot product), so the
    * filtered scan equals the batch plan's filter-then-top-k over the
    * same probed candidate set (the reference filters in-process during
    * its scan, VectorCommandSet.cs:461-480). The tier dispatch is
    * unchanged: the scan still visits every probed row.
    *
    * `allowedHash` (optional): the same membership as a [[LongHashSet]] —
    * the DRIVER tiers test it instead of binary-searching the array
    * (a large allowed set costs ~5-7 cache misses per probed row as a
    * sorted tree, ~1-2 as a probe chain); the distributed branch keeps
    * the sorted array (broadcasting a second, larger copy of the same
    * membership buys nothing on executors). Callers pass a set built
    * from EXACTLY `allowedSorted` — results are identical either way. */
  /** Resident-only filtered serving for callers whose membership exists
    * ONLY in driver-resident form (a per-call AND of row-position
    * bitmaps has no sorted array to hand the distributed branch):
    * Some(rows) when the driver tier served, None when the dispatch
    * would go distributed (over-work batch or non-resident index) —
    * the caller then materializes a broadcastable membership and takes
    * the ordinary path. Same dispatch estimate, same kernels. */
  private[graft] def searchResidentRows(
      index: Index, queries: Array[(Long, Array[Float])],
      metric: String, k: Int, nprobe: Int,
      spark: org.apache.spark.sql.SparkSession,
      allowedBits: Array[Array[Long]]): Option[Array[(Long, Int, Long, Double)]] =
    Option(searchLocalRowsPath(index, queries, metric, k, nprobe, spark,
      forceDistributed = false, allowedBits = allowedBits,
      residentOnly = true))

  private[graft] def searchLocalRowsPath(
      index: Index, queries: Array[(Long, Array[Float])],
      metric: String, k: Int, nprobe: Int,
      spark: org.apache.spark.sql.SparkSession,
      forceDistributed: Boolean,
      stBound: Long = DriverServeMaxScanElems,
      mtBound: Long = DriverServeMaxScanElemsMT,
      allowedSorted: Array[Long] = null,
      allowedHash: LongHashSet = null,
      allowedBits: Array[Array[Long]] = null,
      residentOnly: Boolean = false): Array[(Long, Int, Long, Double)] = {
    val cents = index.centroidsLocal
    queries.headOption.foreach { case (_, qv) =>
      cents.headOption.foreach { case (_, cv) =>
        if (qv.length != cv.length) throw new graft.DimensionMismatchException(
          s"vector dimension mismatch: ${qv.length} vs ${cv.length}")
      }
    }
    val nq = queries.length
    val qvecs = queries.map(_._2)
    val metricU = metric.toUpperCase(java.util.Locale.ROOT)
    // per-query probe ranking (same scores/tie-break as probesLocal),
    // inverted into cluster → probing query indexes
    val byCluster = scala.collection.mutable.HashMap.empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
    var qi = 0
    while (qi < nq) {
      val qv = qvecs(qi)
      cents.map { case (cid, cv) => (cid, candidateScore(metricU, qv, cv)) }
        .sortBy { case (cid, s) => (-s, cid.toLong) }
        .take(nprobe)
        .foreach { case (cid, _) =>
          byCluster.getOrElseUpdate(cid, scala.collection.mutable.ArrayBuffer.empty) += qi
        }
      qi += 1
    }
    val probeMap = byCluster.map { case (c, qs) => (c, qs.toArray) }.toMap
    val kLoc = k
    // Tier dispatch on EXACT probed work — per probed cluster, its real
    // row count × probing-query count × dim, read off the resident
    // parts' ranges — so skewed inverted lists can't route a big scan to
    // a driver tier (a rows/nlist mean estimate underestimates by up to
    // nlist/nprobe× when the probed clusters are the heavy ones).
    //   work ≤ stBound → resident single-thread scan (zero handoff)
    //   work ≤ mtBound → resident MULTI-THREADED scan (daemon pool)
    //   else / non-resident / forced → packed-RDD job
    val resident = if (forceDistributed) None else index.packedDriver
    val scanElems: Long = resident.fold(0L) { parts =>
      val sizes = listSizes(parts.iterator.map(_.ranges))
      val dim = cents.headOption.fold(0)(_._2.length)
      probeMap.foldLeft(0L) { case (s, (cid, probing)) =>
        s + sizes.getOrElse(cid, 0L) * probing.length * dim
      }
    }
    val residentParts = resident.filter(_ => scanElems <= mtBound)
    // resident-only callers (bitmap-only membership) get a null sentinel
    // instead of a distributed job their membership can't ride
    if (residentOnly && residentParts.isEmpty) return null
    val partials: Array[(Int, Long, Double)] =
      residentParts match {
        case Some(parts) if scanElems <= stBound =>
          // zero-job tier: the packed lists live on the driver, so a
          // serving call is a plain in-heap scan — no job submission,
          // no broadcast, no scheduler floor (the reference serves every
          // query from one process's heap; this is the honest analog for
          // indexes inside the residency bound)
          countTier("driver")
          scanPacked(parts.iterator, qvecs, probeMap, metricU, kLoc,
            allowedSorted, allowedHash, allowedBits).toArray
        case Some(parts) =>
          countTier("driverMT")
          scanPackedMT(parts, qvecs, probeMap, metricU, kLoc, allowedSorted,
            allowedHash, allowedBits)
        case None =>
          countTier("distributed")
          // the executor scan filters via the broadcast SORTED array only
          // (hash sets / bitmaps are driver-resident accelerations) — a
          // hash-only filter reaching this tier must fail loudly, never
          // silently scan unfiltered
          require(allowedHash == null || allowedSorted != null,
            "distributed filtered scan needs allowedSorted; " +
              "hash-only membership is a driver-tier acceleration")
          // partition-pruned job: only partitions holding a probed
          // cluster's list get a task (the packed exchange keys by
          // cluster, so the map below is exact) — a single nprobe-10
          // query on a 512-list corpus launches ≤10 tasks, not one per
          // partition
          val parts = probeMap.keysIterator
            .flatMap(index.packedPartsOf.get).toSet
          if (parts.isEmpty) Array.empty[(Int, Long, Double)]
          else {
            val bq = spark.sparkContext.broadcast((qvecs, probeMap, allowedSorted))
            val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(
              index.packed, parts.contains)
            pruned.mapPartitions { pit =>
              val (qv, probes, allowed) = bq.value
              scanPacked(pit, qv, probes, metricU, kLoc, allowed)
            }.collect()
          }
      }
    // final merge: ≤ partitions·nq·k rows, driver-local
    partials.groupBy(_._1).iterator.flatMap { case (i, rows) =>
      rows.sortBy { case (_, id, s) => (-s, id) }.take(k).zipWithIndex
        .map { case ((_, id, s), r) => (queries(i)._1, r + 1, id, s) }
    }.toArray
  }

  /** Shared scan kernel for the packed serving tiers: probe-pruned ranges
    * over flat float storage, L2 early-abandonment, one bounded top-k
    * buffer per query. Runs identically inside an executor task (packed
    * RDD) and on the driver (resident tier) — path equality is spec-pinned. */
  private def scanPacked(pit: Iterator[PackedLists], qv: Array[Array[Float]],
                         probes: Map[Int, Array[Int]], metricU: String,
                         k: Int,
                         allowedSorted: Array[Long] = null,
                         allowedHash: LongHashSet = null,
                         allowedBits: Array[Array[Long]] = null): Iterator[(Int, Long, Double)] = {
    val bufs = Array.fill(qv.length)(new TopKBuf(k))
    // allowedBits is aligned with the DRIVER parts array, indexed by
    // consumption order — executor callers (partition iterators) must
    // pass null, their ordinals are partition-local
    var pi = 0
    while (pit.hasNext) {
      val p = pit.next()
      val bits = if (allowedBits != null) allowedBits(pi) else null
      probes.foreach { case (cid, probing) =>
        val range = p.ranges.get(cid)
        if (range != null)
          scanRangeInto(bufs, p, probing, qv, metricU,
            range(0), range(0) + range(1), allowedSorted, allowedHash, bits)
      }
      pi += 1
    }
    bufs.iterator.zipWithIndex.flatMap { case (b, i) =>
      b.compact()
      (0 until b.n).iterator.map(j => (i, b.ids(j), b.scores(j)))
    }
  }

  /** Row loop shared by [[scanPacked]] and the sub-range tasks of
    * [[scanPackedMT]]'s few-query shape: score rows [start, end) of one
    * packed part for the given probing queries. Splitting a list range
    * across tasks preserves exact results: buffers only ever hold EXACT
    * scores (abandoned partials are inadmissible by construction and
    * rejected by the buffer), a chunk-local k-th-best threshold is ≤ the
    * global one (subset of candidates), so a globally-top-k row is never
    * abandoned in its chunk, and the caller's merge re-sorts on the total
    * (score desc, id asc) order. */
  private def scanRangeInto(bufs: Array[TopKBuf], p: PackedLists,
                            probing: Array[Int], qv: Array[Array[Float]],
                            metricU: String, start: Int, end: Int,
                            allowedSorted: Array[Long],
                            allowedHash: LongHashSet = null,
                            bits: Array[Long] = null): Unit = {
    val isL2 = metricU == "L2"
    val dim = p.dim
    var r = start
    while (r < end) {
      // membership priority: this part's row-position bitmap (sequential
      // bit test) > hash set (1-2 probes) > sorted-array binary search
      if (bits != null && ((bits(r >>> 6) >>> (r & 63)) & 1L) == 0L) {
        r += 1
      } else if (bits == null && (allowedHash != null || allowedSorted != null) &&
          (if (allowedHash != null) !allowedHash.contains(p.ids(r))
           else java.util.Arrays.binarySearch(allowedSorted, p.ids(r)) < 0)) {
        // membership from WHICHEVER representation is present — a caller
        // passing only the hash set must not get the filter silently
        // dropped (engine callers pass both; the signature permits either)
        r += 1
      } else {
        val off = r * dim
        var i = 0
        while (i < probing.length) {
          val q = probing(i)
          val score =
            if (isL2)
              // early-abandon: stop accumulating d² once it exceeds
              // the query's current k-th-best (the reference's scan
              // budget idea applied per candidate)
              l2ScoreBounded(qv(q), p.vecs, off,
                -bufs(q).admissionThreshold)
            else candidateScoreFlat(metricU, qv(q), p.vecs, off)
          bufs(q).add(p.ids(r), score)
          i += 1
        }
        r += 1
      }
    }
  }

  /** Multi-threaded driver-resident scan: the mid-size regime between
    * the single-thread bound and the distributed path. Batch regime
    * (nq ≥ 2×threads): one task per QUERY CHUNK, each scanning every
    * part — results are complete per query, no cross-task merge beyond
    * concatenation. Latency regime (few queries, big probed work): one
    * task per work-proportional ROW SUB-CHUNK of each probed list range
    * (parallelism = pool width, not probed-part count) — partials merged
    * by the caller's existing bounded merge. Both shapes run
    * [[scanRangeInto]], the same row kernel as [[scanPacked]], so tier
    * equality is pinned by the shared kernel. */
  private def scanPackedMT(parts: Array[PackedLists],
                           qv: Array[Array[Float]],
                           probes: Map[Int, Array[Int]], metricU: String,
                           k: Int,
                           allowedSorted: Array[Long] = null,
                           allowedHash: LongHashSet = null,
                           allowedBits: Array[Array[Long]] = null): Array[(Int, Long, Double)] = {
    val pool = driverScanPool
    val nThreads = driverScanThreads
    val nq = qv.length
    val tasks: Seq[java.util.concurrent.Callable[Array[(Int, Long, Double)]]] =
      if (nq >= 2 * nThreads) {
        // chunk queries: each chunk gets a probe map in LOCAL query
        // indices, scans all parts, and remaps indices back to global
        val chunkSize = math.max(1, (nq + 2 * nThreads - 1) / (2 * nThreads))
        (0 until nq by chunkSize).map { lo =>
          val hi = math.min(nq, lo + chunkSize)
          new java.util.concurrent.Callable[Array[(Int, Long, Double)]] {
            override def call(): Array[(Int, Long, Double)] = {
              val localQv = qv.slice(lo, hi)
              val localProbes = probes.iterator.flatMap { case (cid, probing) =>
                val in = probing.filter(q => q >= lo && q < hi)
                if (in.isEmpty) None else Some(cid -> in.map(_ - lo))
              }.toMap
              scanPacked(parts.iterator, localQv, localProbes, metricU, k,
                  allowedSorted, allowedHash, allowedBits)
                .map { case (qi, id, s) => (qi + lo, id, s) }.toArray
            }
          }
        }
      } else {
        // few queries, large probed lists: one task per PART caps the
        // parallelism at the number of probed parts — on a cluster-keyed
        // pack that is ≤ nprobe (10 tasks on a 32-thread pool for a
        // single nprobe-10 query). Split each probed list range into
        // work-proportional row sub-chunks instead, so one query's scan
        // spreads over the whole pool (measured on the 500k single-query
        // config: p50 6.3 → ~2 ms). Chunking preserves exact results —
        // see [[scanRangeInto]]'s invariant note.
        var totalWork = 0L // row-scans: rows × probing queries
        parts.foreach { p =>
          probes.foreach { case (cid, probing) =>
            val range = p.ranges.get(cid)
            if (range != null) totalWork += range(1).toLong * probing.length
          }
        }
        val targetTasks = 4 * nThreads
        val workPerTask =
          math.max(1024L, (totalWork + targetTasks - 1) / targetTasks)
        val units =
          Seq.newBuilder[(PackedLists, Array[Int], Int, Int, Array[Long])]
        var upi = 0
        while (upi < parts.length) {
          val p = parts(upi)
          val bits = if (allowedBits != null) allowedBits(upi) else null
          probes.foreach { case (cid, probing) =>
            val range = p.ranges.get(cid)
            if (range != null) {
              val chunkRows = math.max(256L, workPerTask / probing.length)
                .min(Int.MaxValue - 1L).toInt
              var s = range(0); val end = range(0) + range(1)
              while (s < end) {
                val e = math.min(end, s + chunkRows)
                units += ((p, probing, s, e, bits))
                s = e
              }
            }
          }
          upi += 1
        }
        units.result().map { case (p, probing, s, e, bits) =>
          new java.util.concurrent.Callable[Array[(Int, Long, Double)]] {
            override def call(): Array[(Int, Long, Double)] = {
              val bufs = new Array[TopKBuf](nq)
              probing.foreach(q => bufs(q) = new TopKBuf(k))
              scanRangeInto(bufs, p, probing, qv, metricU, s, e,
                allowedSorted, allowedHash, bits)
              probing.iterator.flatMap { q =>
                val b = bufs(q); b.compact()
                (0 until b.n).iterator.map(j => (q, b.ids(j), b.scores(j)))
              }.toArray
            }
          }
        }
      }
    import scala.jdk.CollectionConverters._
    val futures = pool.invokeAll(tasks.asJava)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    futures.asScala.foreach(f => out ++= f.get())
    out.toArray
  }

  /** -L2² with early abandonment: once the partial sum exceeds `bound`
    * (the max admissible distance²), the exact value no longer matters —
    * any score ≤ -partial is rejected by the top-k buffer. Checked every
    * 16 dims so the hot loop stays branch-light and vectorizable. */
  private def l2ScoreBounded(a: Array[Float], flat: Array[Float], off: Int,
                             bound: Double): Double = {
    var s = 0.0; var i = 0
    val n = a.length
    while (i < n) {
      val blockEnd = math.min(i + 16, n)
      while (i < blockEnd) {
        val d = a(i).toDouble - flat(off + i); s += d * d; i += 1
      }
      if (s > bound) return -s // already inadmissible; partial is enough
    }
    -s
  }

  /** Score against a row inside a flat packed buffer (no per-row array). */
  private def candidateScoreFlat(metricU: String, a: Array[Float],
                                 flat: Array[Float], off: Int): Double =
    metricU match {
      case "L2" =>
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i).toDouble - flat(off + i); s += d * d; i += 1 }
        -s
      case "IP" | "INNERPRODUCT" =>
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * flat(off + i); i += 1 }
        s
      case "COSINE" =>
        var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          val x = a(i).toDouble; val y = flat(off + i).toDouble
          dp += x * y; na += x * x; nb += y * y; i += 1
        }
        val den = math.sqrt(na) * math.sqrt(nb)
        if (den < 1e-6) 0.0 else dp / den
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }

  private[graft] def candidateScore(metricU: String, a: Array[Float], b: Array[Float]): Double =
    metricU match {
      case "L2" =>
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
        -s
      case "IP" | "INNERPRODUCT" =>
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
        s
      case "COSINE" =>
        var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dp += x * y; na += x * x; nb += y * y; i += 1
        }
        val den = math.sqrt(na) * math.sqrt(nb)
        if (den < 1e-6) 0.0 else dp / den
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }

  private def searchProbed(index: Index, probeSet: DataFrame,
                           metric: String, k: Int): DataFrame = {
    val scored = index.assigned
      .join(broadcast(probeSet), Seq("cluster_id"))
      .select(col("query_id"), col("id"),
        vector_score(metric, col("qvec"), col("vec")).as("score"))
    TopK.perGroup(scored, Seq("query_id"), k)
  }
}
