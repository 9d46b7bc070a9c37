package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ: coarse inverted lists + product-quantized residuals.
  *
  * Capability mirror of the reference's IvfPqVectorIndex
  * (reference: src/Pyrope.GarnetServer/Vector/IvfPqVectorIndex.cs:55-198):
  * build = coarse KMeans → residual v − centroid → PQ codebooks on
  * residuals → byte codes; search = probe top-nprobe clusters, build one
  * residual ADC table per (query, probed cluster), score candidates by
  * table lookups only.
  */
object IvfPq {

  /** `rows` is the row count of `assigned`, known to whoever wrote it. */
  case class Index(assigned: DataFrame, // (id, cluster_id, codes BINARY)
                   centroids: DataFrame, // (cluster_id, centroid ARRAY<FLOAT>)
                   cb: Pq.Codebook,
                   rows: Long) {

    /** Driver-side centroid snapshot (nlist rows — driver-sized by
      * construction), fetched once per Index handle. */
    @transient lazy val centroidsLocal: Array[(Int, Array[Float])] =
      graft.Stage.run(centroids.sparkSession, "open.centroids")(centroids.collect())
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))

    /** Driver-RESIDENT packed code lists for the zero-job PQ serving
      * tier, or None while the [[graft.Residency.PqCodes]] line denies
      * them (a full line is retried on the next call, like
      * [[IvfFlat.Index.packedDriver]]). Packed per partition on the
      * executors by [[ResidentScan.pack]] (each inverted list whole in one
      * part — same shape as [[IvfFlat.Index.packed]]); the driver collects
      * the already-flat parts, never 10M boxed rows. At M = 8 a packed row
      * is 8 code bytes + 8 id bytes: 10M vectors ≈ 160 MB, 32× under the
      * float corpus — the compression that makes a driver-RESIDENT tier
      * reach corpora whose raw vectors never could. Admitted BEFORE
      * collecting, from [[rows]] × (M code bytes + id bytes). */
    def packedDriver: Option[Array[PackedPart[Byte]]] = packedResident.get

    @transient private[graft] lazy val packedResident =
      new graft.Residency.Memo[Array[PackedPart[Byte]]](
        graft.Residency.admit(graft.Residency.PqCodes,
            rows * (cb.m + 16L))(graft.Stage.run(assigned.sparkSession, "admit.packedCodes") {
          ResidentScan.pack(assigned.select("id", "cluster_id", "codes"),
            _.getBinary(2)).collect()
        }))
  }

  /** Work bound for the single-thread resident scan, in ADC lookups
    * (probed rows × M): ~4M lookups ≈ 1-2 ms single-core — below it the
    * pool handoff is a real fraction of the call; above it the shared
    * pool parallelizes per query chunk. */
  val PqServeMaxLookups: Long = 4L << 20

  /** Ceiling for the multi-threaded resident scan; past it (≥ seconds of
    * scan even pooled) the distributed ADC plan amortizes its overhead
    * and, on a real cluster, the executor fleet out-cores the driver. */
  val PqServeMaxLookupsMT: Long = 8L << 30

  /** Zero-job PQ serving for driver-local query batches: probe ranking on
    * the resident centroids, one residual ADC table per (query, probed
    * cluster), flat byte-code scan with a bounded top-k buffer per query.
    * Returns (query_id, rank, surrogate_id, score) rows where score is
    * the RAW ADC score (−Σ table lookups = −approx ‖rq−rv‖²) — metric
    * folds (COSINE 1+s/2, IP (s+‖q‖²+M²)/2) are the caller's, exactly as
    * with the distributed [[scoredCandidates]]. Queries must already be
    * in codebook space (unit-normalized / MIPS-padded by the caller).
    *
    * Numerically identical to the distributed path: the same
    * [[Pq.adcTableFor]] doubles summed in the same subspace order, the
    * same probe ranking ([[IvfFlat.rankProbes]], L2, id tie-break), the
    * same (score desc, id asc) top-k order — spec-pinned equality.
    *
    * Non-resident indexes (past the byte bounds) fall back to the
    * distributed ADC plan and collect its bounded top-k (nq × k rows).
    * `allowed` (the serving-side conjunctive tag filter) skips
    * non-members BEFORE the ADC lookups; the plan has no filter hook, so
    * a filtered call the resident tier cannot serve fails here. */
  def searchLocalRows(index: Index, queries: Array[(Long, Array[Float])],
                      k: Int, nprobe: Int,
                      spark: org.apache.spark.sql.SparkSession,
                      allowed: AllowedSet = AllowedSet.All): Array[(Long, Int, Long, Double)] =
    searchLocalRowsPath(index, queries, k, nprobe, spark, allowed = allowed)
      .getOrElse(throw new IllegalArgumentException(
        "filtered PQ serving requires the resident tier"))

  /** [[searchLocalRows]] with the tier bounds exposed (the engine's
    * constructor bound; path-equality specs force the MT branch or the
    * plan fallback on small fixtures). None when the resident tier does
    * not serve a FILTERED call — the caller keeps its own distributed
    * filtered plan instead of throwing at serve time (the r7 failure
    * mode: a large filtered batch past PqServeMaxLookupsMT hit the
    * unfiltered plan's require). */
  private[graft] def searchLocalRowsPath(
      index: Index, queries: Array[(Long, Array[Float])],
      k: Int, nprobe: Int,
      spark: org.apache.spark.sql.SparkSession,
      stBound: Long = PqServeMaxLookups,
      mtBound: Long = PqServeMaxLookupsMT,
      allowed: AllowedSet = AllowedSet.All): Option[Array[(Long, Int, Long, Double)]] = {
    if (queries.isEmpty) return Some(Array.empty)
    val cents = index.centroidsLocal
    val qvecs = queries.map(_._2)
    val probes = ResidentScan.probeMap(cents, qvecs, "L2", nprobe)
    ResidentScan.serve(index.packedDriver, probes, queries.map(_._1), k, stBound,
        mtBound, tier = "pq.", allowed, splitRanges = false,
        new AdcKernel(qvecs, cents.toMap, index.cb, allowed))
      .orElse(Option.when(allowed.isAll) {
        ResidentScan.countTier("pq.plan")
        import spark.implicits._
        val qDf = queries.toSeq
          .map { case (qid, qv) => (qid, qv.toSeq) }.toDF("query_id", "qvec")
        search(index, qDf, k, nprobe).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      })
  }

  /** The IVF_PQ row kernel: per (query, probed cluster), residual
    * rq = q − centroid in FLOAT arithmetic (bit-matching the plan's
    * `zip_with` subtraction), flat M×K ADC table from [[Pq.adcTableFor]],
    * then score = −Σ table(mi·K + code(mi)) over the range. The table is
    * built once per (query, range) — the same doubles the distributed
    * path broadcasts — and lookups sum in ascending subspace order, so
    * scores are bit-identical across tiers. */
  private final class AdcKernel(qvecs: Array[Array[Float]],
                                centOf: Map[Int, Array[Float]],
                                cb: Pq.Codebook,
                                allowed: AllowedSet) extends RowKernel[Byte] {
    def scan(bufs: Array[TopKBuf], p: PackedPart[Byte], cid: Int,
             probing: Array[Int], start: Int, end: Int,
             partBits: Array[Long]): Unit = {
      val cent = centOf(cid)
      val kk = cb.k
      val mWidth = p.width
      val codes = p.payload
      var i = 0
      while (i < probing.length) {
        val q = probing(i)
        val qv = qvecs(q)
        val rq = new Array[Float](qv.length)
        var d = 0
        while (d < qv.length) { rq(d) = qv(d) - cent(d); d += 1 }
        val table = Pq.adcTableFor(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(rq), cb)
        val flat = new Array[Double](cb.m * kk)
        var mi = 0
        while (mi < cb.m) {
          System.arraycopy(table(mi), 0, flat, mi * kk, kk)
          mi += 1
        }
        val buf = bufs(q)
        var r = start
        while (r < end) {
          if (allowed.admits(partBits, r, p.ids(r))) {
            val off = r * mWidth
            var s = 0.0
            mi = 0
            while (mi < mWidth) {
              s += flat(mi * kk + (codes(off + mi) & 0xff)); mi += 1
            }
            buf.add(p.ids(r), -s)
          }
          r += 1
        }
        i += 1
      }
    }
  }

  def build(vectors: DataFrame, nlist: Int, m: Int, k: Int,
            seed: Long = 123L): Index =
    buildFrom(IvfFlat.build(vectors, nlist, "L2", seed), m, k, seed)

  /** PQ layer over an ALREADY-BUILT coarse index: residuals → codebook
    * train (bounded sample) → byte codes. Split out so a caller holding
    * a coarse IVF index (e.g. the bench's 10M rung) can measure/pay only
    * the incremental quantization cost instead of a second KMeans. */
  def buildFrom(coarse: IvfFlat.Index, m: Int, k: Int,
                seed: Long = 123L): Index = {
    val dim = coarse.assigned.select(size(col("vec"))).head.getInt(0)
    val (codes, cb) = encodeResiduals(coarse.assigned, coarse.centroids, m, k,
      seed, dim)
    Index(codes, coarse.centroids, cb, coarse.rows)
  }

  /** Residuals of `assigned` (id, cluster_id, vec, `keep`…) against their
    * FLOAT centroids → a codebook trained on the residuals' bounded
    * sample, and the (id, cluster_id, codes, `keep`…) table. */
  private[graft] def encodeResiduals(assigned: DataFrame, centroids: DataFrame,
                                     m: Int, k: Int, seed: Long, dim: Int,
                                     keep: Seq[String] = Nil): (DataFrame, Pq.Codebook) = {
    val residuals = assigned
      .join(broadcast(centroids), Seq("cluster_id"))
      .withColumn("rvec", zip_with(col("vec"), col("centroid"), (x, y) => x - y))
      .select((Seq("id", "cluster_id", "rvec") ++ keep).map(col): _*)
    val cb = Pq.trainWithDim(residuals, dim, m, k, seed, vecCol = "rvec")
    (Pq.encode(residuals, cb, vecCol = "rvec")
      .select((Seq("id", "cluster_id", "codes") ++ keep).map(col): _*), cb)
  }

  /** Persist the IVF-PQ index: cluster-partitioned codes + centroids +
    * PQ codebook (reference snapshot parity: IvfPqVectorIndex.cs:233-298). */
  def save(index: Index, path: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("cluster_id").parquet(s"$path/codes")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    Pq.saveCodebook(index.cb, index.centroids.sparkSession, s"$path/codebooks")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val codes = spark.read.parquet(s"$path/codes")
    Index(codes, spark.read.parquet(s"$path/centroids"),
      Pq.loadCodebook(spark, s"$path/codebooks"), codes.count())
  }

  /** Candidate generation without the final top-k: (query_id, id, score)
    * for every (query, probed-cluster member) pair — lets callers (the
    * engine's delta merge) union other candidate streams before ranking. */
  def scoredCandidates(index: Index, queries: DataFrame, nprobe: Int,
                       maxLocalQueries: Int = 10000): DataFrame = {
    val spark = queries.sparkSession
    // the PQ handle's own memoized centroids: a coarse IvfFlat.Index
    // wrapper would collect the centroid table again on every call
    val probeSet = IvfFlat.probesOver(index.centroidsLocal, queries, "L2", nprobe)
      .join(broadcast(index.centroids), Seq("cluster_id"))
      .withColumn("rq", zip_with(col("qvec"), col("centroid"), (x, y) => x - y))
      .select("query_id", "cluster_id", "rq")

    // probeSet has nq × nprobe rows — bound it in QUERY units so the knob
    // keeps its documented meaning, but ALSO cap the driver's table bytes:
    // each admitted (query, cluster) pair costs one M×K-double ADC table,
    // so large nprobe must flip to the distributed path rather than
    // multiply the driver footprint nprobe-fold (~256 MB ceiling)
    val tableBytes = index.cb.m.toLong * index.cb.k * 8L
    val memCapPairs = math.max(1L, (256L << 20) / math.max(1L, tableBytes))
    val pairCap = (maxLocalQueries.toLong * math.max(1, nprobe))
      .min(memCapPairs).min(Int.MaxValue - 1L).toInt
    val sample = probeSet.limit(pairCap + 1).collect()
    val scored =
      if (sample.length <= pairCap) {
        // One residual ADC table per (query, probed cluster):
        // nq × nprobe × M × K doubles — small here by construction.
        val tables = sample.map { r =>
          (r.getLong(0), r.getInt(1)) -> Pq.adcTableFor(r.getSeq[Float](2), index.cb)
        }.toMap
        val bTables = spark.sparkContext.broadcast(tables)
        val score = udf { (queryId: Long, clusterId: Int, codes: Array[Byte]) =>
          val t = bTables.value((queryId, clusterId))
          var s = 0.0; var mi = 0
          while (mi < codes.length) { s += t(mi)(codes(mi) & 0xff); mi += 1 }
          -s
        }
        import spark.implicits._
        val probePairs = broadcast(
          tables.keys.toSeq.toDF("query_id", "cluster_id"))
        // explicit IN over the probed clusters (≤ nq × nprobe values,
        // driver-known here): a broadcast JOIN alone never prunes the
        // scan, but the IN predicate reaches the parquet reader as a
        // partition filter on cluster-partitioned snapshots — a small
        // batch probing 10 of 512 lists reads 10 lists, not the corpus
        val probedClusters = tables.keys.map(_._2).toSeq.distinct
        index.assigned
          .filter(col("cluster_id").isInCollection(probedClusters))
          .join(probePairs, Seq("cluster_id"))
          .select(col("query_id"), col("id"),
            score(col("query_id"), col("cluster_id"), col("codes")).as("score"))
      } else {
        val kk = index.cb.k
        val bcb = spark.sparkContext.broadcast(index.cb)
        val tableCol = udf { (rq: Seq[Float]) => Pq.adcTableFor(rq, bcb.value).flatten }
        val withTables = probeSet
          .select(col("query_id"), col("cluster_id"), tableCol(col("rq")).as("adc"))
        val score = udf { (adc0: Seq[Double], codes: Array[Byte]) =>
          val adc = graft.functions.doubleArray(adc0)
          var s = 0.0; var mi = 0
          while (mi < codes.length) { s += adc(mi * kk + (codes(mi) & 0xff)); mi += 1 }
          -s
        }
        // same partition-pruning IN as the driver-known branch, via one
        // bounded job (distinct probed clusters ≤ nlist rows): at scale
        // nlist is large and a moderate batch probes a small fraction of
        // the lists — without the predicate this branch scans the whole
        // cluster-partitioned snapshot. The ranking re-evaluation this
        // costs is nq × nlist float ops, noise next to the scan it prunes.
        val probedClusters = probeSet.select("cluster_id").distinct()
          .collect().map(_.getInt(0)).toSeq
        index.assigned
          .filter(col("cluster_id").isInCollection(probedClusters))
          .join(withTables, Seq("cluster_id"))
          .select(col("query_id"), col("id"),
            score(col("adc"), col("codes")).as("score"))
      }
    scored
  }

  def search(index: Index, queries: DataFrame, k: Int, nprobe: Int,
             maxLocalQueries: Int = 10000): DataFrame =
    TopK.perGroup(
      scoredCandidates(index, queries, nprobe, maxLocalQueries),
      Seq("query_id"), k)

  /** ADC candidate generation + exact rerank against the true vectors
    * (see Pq.knnRefined — same rationale). */
  def searchRefined(index: Index, vectors: DataFrame, queries: DataFrame,
                    k: Int, nprobe: Int, refine: Int = 10): DataFrame = {
    val candidates = search(index, queries, k * refine, nprobe)
      .select("query_id", "id")
    Pq.rerank(candidates, vectors, queries, k, "L2")
  }
}
