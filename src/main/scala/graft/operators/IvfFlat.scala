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

  /** `rows` is the row count of `assigned`, known to whoever wrote it
    * (0 for a centroids-only handle, as [[assign]] needs). */
  case class Index(assigned: DataFrame, centroids: DataFrame, rows: Long = 0L) {
    /** Driver-side centroid snapshot (nlist rows — driver-sized by
      * construction), fetched once per Index instance: repeated
      * small-batch searches against the same index skip the per-call
      * centroid job entirely. */
    @transient lazy val centroidsLocal: Array[(Int, Array[Float])] =
      graft.Stage.run(centroids.sparkSession, "open.centroids")(centroids.collect())
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))

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
    @transient @volatile private var packedBuilt: Option[org.apache.spark.rdd.RDD[PackedPart[Float]]] = None
    def packedIfBuilt: Option[org.apache.spark.rdd.RDD[PackedPart[Float]]] = packedBuilt

    @transient lazy val packed: org.apache.spark.rdd.RDD[PackedPart[Float]] =
        graft.Stage.run(assigned.sparkSession, "admit.packedFloats") {
      val rdd = ResidentScan.pack(assigned.select("id", "cluster_id", "vec"),
        _.getArray(2).toFloatArray())
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
    def packedDriver: Option[Array[PackedPart[Float]]] = packedResident.get

    @transient private[graft] lazy val packedResident =
      new graft.Residency.Memo[Array[PackedPart[Float]]]({
        val dim = centroidsLocal.headOption.fold(0)(_._2.length)
        if (rows == 0L) graft.Residency.Admitted(Array.empty[PackedPart[Float]])
        else graft.Residency.admit(graft.Residency.PackedFloats,
          rows * (4L * dim + 16L))(graft.Stage.run(assigned.sparkSession,
            "admit.packedFloats")(packed.collect()))
      })

    /** cluster → packed-partition index, read FROM the packed data itself
      * (one tiny metadata job over the cached parts, memoized) rather
      * than re-deriving the exchange's hash placement — correct under
      * any AQE coalescing of the cluster-keyed shuffle. Powers the
      * partition-pruned serving job: a probe set touches only the
      * partitions this map names (parquet partition-pruning semantics,
      * applied to the serving snapshot). */
    @transient lazy val packedPartsOf: Map[Int, Int] =
      graft.Stage.run(assigned.sparkSession, "admit.packedFloats") {
        packed.mapPartitionsWithIndex { (pid, it) =>
          it.flatMap { p =>
            import scala.jdk.CollectionConverters._
            p.ranges.keySet.asScala.iterator.map(c => (c.intValue, pid))
          }
        }.collect()
      }.toMap
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
    * on the shared daemon pool ([[ResidentScan]]: one task per query
    * chunk or per list sub-range) — NO job submission, NO broadcast, NO partial-collect, so
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
    * Scores and tie-break identical to [[ResidentScan.probeMap]]: (-score, cid). */
  def probes(index: Index, queries: DataFrame, metric: String, nprobe: Int): DataFrame =
    probesOver(index.centroidsLocal, queries, metric, nprobe)

  /** [[probes]] against an already-held centroid snapshot `cents`. */
  private[graft] def probesOver(cents: Array[(Int, Array[Float])], queries: DataFrame,
                                metric: String, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val bc = spark.sparkContext.broadcast(cents)
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
    val probes = ResidentScan.probeMap(index.centroidsLocal, qs.map(_._2.toArray),
      metric.toUpperCase(java.util.Locale.ROOT), nprobe)
    val rows = probes.toSeq.flatMap { case (cid, probing) =>
      probing.map(i => (qs(i)._1, cid, qs(i)._2))
    }
    import spark.implicits._
    rows.toDF("query_id", "cluster_id", "qvec")
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
    * latency is the scan, not the ~25 ms local scheduler floor.
    *
    * `allowed`: the serving-side conjunctive tag filter (F1) resolved to
    * an id set by the caller. Candidates outside it are skipped BEFORE
    * scoring (one membership test per probed row, no dot product), so the
    * filtered scan equals the batch plan's filter-then-top-k over the
    * same probed candidate set (the reference filters in-process during
    * its scan, VectorCommandSet.cs:461-480). The tier dispatch is
    * unchanged: the scan still visits every probed row. A membership with
    * no sorted array (hash-only or bitmap-only) serves only resident. */
  def searchLocalRows(index: Index, queries: Array[(Long, Array[Float])],
                      metric: String, k: Int, nprobe: Int,
                      spark: org.apache.spark.sql.SparkSession,
                      allowed: AllowedSet = AllowedSet.All): Array[(Long, Int, Long, Double)] =
    searchLocalRowsPath(index, queries, metric, k, nprobe, spark,
      forceDistributed = false, allowed = allowed).getOrElse(
      throw new IllegalArgumentException("distributed filtered scan needs " +
        "the sorted allowed array; hash and bitmap membership are resident-tier forms"))

  /** [[searchLocalRows]] with the tier dispatch exposed: `forceDistributed
    * = true` always runs the packed-RDD job even when the index fits the
    * resident tier, and the bounds move the ST/MT split (path-equality
    * specs). None when the resident tier does not serve and `allowed`
    * has no sorted array for the executor scan to filter with — the
    * caller then materializes one and calls again. */
  private[graft] def searchLocalRowsPath(
      index: Index, queries: Array[(Long, Array[Float])],
      metric: String, k: Int, nprobe: Int,
      spark: org.apache.spark.sql.SparkSession,
      forceDistributed: Boolean,
      stBound: Long = DriverServeMaxScanElems,
      mtBound: Long = DriverServeMaxScanElemsMT,
      allowed: AllowedSet = AllowedSet.All): Option[Array[(Long, Int, Long, Double)]] = {
    val qvecs = queries.map(_._2)
    val metricU = metric.toUpperCase(java.util.Locale.ROOT)
    val probes = ResidentScan.probeMap(index.centroidsLocal, qvecs, metricU, nprobe)
    val resident = if (forceDistributed) None else index.packedDriver
    ResidentScan.serve(resident, probes, queries.map(_._1), k, stBound, mtBound,
        tier = "", allowed, splitRanges = true, new FlatKernel(qvecs, metricU, allowed))
      .orElse(Option.when(allowed.isAll || allowed.sorted != null) {
        ResidentScan.countTier("distributed")
        // partition-pruned job: only partitions holding a probed
        // cluster's list get a task (the packed exchange keys by
        // cluster, so the map below is exact) — a single nprobe-10
        // query on a 512-list corpus launches ≤10 tasks, not one per
        // partition. Executors filter with the broadcast sorted array.
        val parts = probes.keysIterator.flatMap(index.packedPartsOf.get).toSet
        val partials =
          if (parts.isEmpty) Array.empty[(Int, Long, Double)]
          else {
            val bq = spark.sparkContext.broadcast((qvecs, probes, allowed.sorted))
            val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(
              index.packed, parts.contains)
            pruned.mapPartitions { pit =>
              val (qv, probing, sorted) = bq.value
              val onExecutor = AllowedSet(sorted = sorted)
              ResidentScan.scanParts(pit, probing, qv.indices, k, onExecutor,
                new FlatKernel(qv, metricU, onExecutor))
            }.collect()
          }
        ResidentScan.rankTopK(partials, k)(queries(_)._1)
      })
  }

  /** The IVF_FLAT row kernel: exact float scoring with L2 early
    * abandonment against the query's current k-th best. Runs identically
    * inside an executor task (packed RDD) and on the driver (resident
    * tiers) — path equality is spec-pinned. */
  private final class FlatKernel(qv: Array[Array[Float]], metricU: String,
                                 allowed: AllowedSet) extends RowKernel[Float] {
    private val isL2 = metricU == "L2"

    def scan(bufs: Array[TopKBuf], p: PackedPart[Float], cid: Int,
             probing: Array[Int], start: Int, end: Int,
             partBits: Array[Long]): Unit = {
      val dim = p.width
      val vecs = p.payload
      var r = start
      while (r < end) {
        if (allowed.admits(partBits, r, p.ids(r))) {
          val off = r * dim
          var i = 0
          while (i < probing.length) {
            val q = probing(i)
            val score =
              if (isL2)
                // early-abandon: stop accumulating d² once it exceeds
                // the query's current k-th-best (the reference's scan
                // budget idea applied per candidate)
                l2ScoreBounded(qv(q), vecs, off, -bufs(q).admissionThreshold)
              else candidateScoreFlat(metricU, qv(q), vecs, off)
            bufs(q).add(p.ids(r), score)
            i += 1
          }
        }
        r += 1
      }
    }
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
