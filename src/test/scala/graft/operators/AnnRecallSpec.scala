package graft.operators

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Brute-force-as-oracle recall tests for the approximate indexes
  * (our addition — the reference has none; FIXTURES.md §7: clustered
  * Gaussians so IVF pruning is meaningful). */
class AnnRecallSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 32
  private val nCenters = 16
  private val nPoints = 2000
  private val nQueries = 8
  private val K = 10

  private lazy val (vectors, queries): (DataFrame, DataFrame) = {
    val rng = new Random(42)
    val centers = Array.fill(nCenters, dim)(rng.nextFloat() * 2 - 1)
    val pts = (0 until nPoints).map { i =>
      val c = centers(i % nCenters)
      (i.toLong, c.map(x => x + (rng.nextFloat() - 0.5f) * 0.2f).toSeq)
    }
    val qs = (0 until nQueries).map { i =>
      val c = centers(i)
      (i.toLong, c.map(x => x + (rng.nextFloat() - 0.5f) * 0.2f).toSeq)
    }
    (pts.toDF("id", "vec").cache(), qs.toDF("query_id", "qvec").cache())
  }

  private def hitSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def recallVs(exact: Map[Long, Set[Long]], approx: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, e) =>
      approx.get(q).map(a => (a & e).size.toDouble / e.size).getOrElse(0.0)
    }
    per.sum / per.size
  }

  private lazy val exactL2 = hitSets(BruteForceKnn.knn(vectors, queries, "L2", K))

  test("IVF-Flat: recall@10 == 1.0 when nprobe == nlist") {
    val idx = IvfFlat.build(vectors, nlist = 16)
    val got = hitSets(IvfFlat.search(idx, queries, "L2", K, nprobe = 16))
    assert(recallVs(exactL2, got) == 1.0)
  }

  test("IVF-Flat: recall monotone non-decreasing in nprobe, high at nprobe=4") {
    val idx = IvfFlat.build(vectors, nlist = 16)
    val recalls = Seq(1, 2, 4, 16).map { np =>
      recallVs(exactL2, hitSets(IvfFlat.search(idx, queries, "L2", K, np)))
    }
    assert(recalls == recalls.sorted, s"not monotone: $recalls")
    assert(recalls(2) > 0.8, s"nprobe=4 recall too low: ${recalls(2)}")
  }

  test("IVF-Flat cosine metric: recall@10 == 1.0 at nprobe == nlist") {
    val exactCos = hitSets(BruteForceKnn.knn(vectors, queries, "COSINE", K))
    val idx = IvfFlat.build(vectors, nlist = 8, metric = "COSINE")
    val got = hitSets(IvfFlat.search(idx, queries, "COSINE", K, nprobe = 8))
    assert(recallVs(exactCos, got) == 1.0)
  }

  test("IVF-Flat searchLocal (array fast path) == search (DataFrame path)") {
    val idx = IvfFlat.build(vectors, nlist = 16)
    val qsLocal = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    for (metric <- Seq("L2", "COSINE")) {
      val a = hitSets(IvfFlat.search(idx, queries, metric, K, 4))
      val b = hitSets(IvfFlat.searchLocal(idx, qsLocal, metric, K, 4, spark))
      assert(a == b, s"metric=$metric")
    }
  }

  test("driver-resident packed tier == distributed packed path, including exact score ties") {
    // integer coordinates + duplicated vectors force exact float ties at
    // the k-boundary: both tiers must resolve them identically
    // ((score desc, id asc) — TopKBuf compaction and the partial merge
    // use the same order)
    val tied = (0 until 400).map { i =>
      (i.toLong, Seq((i % 5).toFloat, ((i / 5) % 4).toFloat, 1f))
    }.toDF("id", "vec").cache()
    val tq = (0 until 4).map(i => (i.toLong, Seq(i.toFloat, 1f, 1f)))
      .toDF("query_id", "qvec")
    val idx = IvfFlat.build(tied, nlist = 4)
    assert(idx.packedDriver.isDefined, "test corpus must fit the driver tier")
    val qsLocal = tq.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    for (metric <- Seq("L2", "COSINE", "IP")) {
      val a = IvfFlat.searchLocalRowsPath(idx, qsLocal, metric, K, 2, spark,
        forceDistributed = false).get
      val b = IvfFlat.searchLocalRowsPath(idx, qsLocal, metric, K, 2, spark,
        forceDistributed = true).get
      assert(a.sortBy(r => (r._1, r._2)).toSeq == b.sortBy(r => (r._1, r._2)).toSeq,
        s"metric=$metric")
    }
    tied.unpersist()
  }

  test("multi-threaded driver tier == single-thread tier == distributed, both MT shapes") {
    // same tie-forcing fixture as the resident-tier test; the MT tier has
    // two internal shapes (query-chunked for batches, part-parallel for
    // few large queries) — stBound/mtBound injection forces each shape on
    // a small corpus, and all tiers must agree bit-for-bit through ties
    val tied = (0 until 400).map { i =>
      (i.toLong, Seq((i % 5).toFloat, ((i / 5) % 4).toFloat, 1f))
    }.toDF("id", "vec").cache()
    val idx = IvfFlat.build(tied, nlist = 4)
    assert(idx.packedDriver.isDefined)
    // 80 queries >= 2x pool threads is not guaranteed on every machine,
    // so cover both shapes explicitly via batch size: 200 queries
    // (chunked on any machine with <= 100 threads) and 3 (part-parallel)
    val qsBig = (0 until 200).map(i => (i.toLong, Array((i % 5).toFloat, 1f, 1f)))
      .toArray
    val qsSmall = qsBig.take(3)
    for (metric <- Seq("L2", "COSINE", "IP"); qs <- Seq(qsBig, qsSmall)) {
      val st = IvfFlat.searchLocalRowsPath(idx, qs, metric, K, 2, spark,
        forceDistributed = false).get // all work fits the single-thread bound
      val mt = IvfFlat.searchLocalRowsPath(idx, qs, metric, K, 2, spark,
        forceDistributed = false, stBound = 0L, mtBound = Long.MaxValue).get
      val dist = IvfFlat.searchLocalRowsPath(idx, qs, metric, K, 2, spark,
        forceDistributed = true).get
      assert(mt.sortBy(r => (r._1, r._2)).toSeq == st.sortBy(r => (r._1, r._2)).toSeq,
        s"MT != ST: metric=$metric nq=${qs.length}")
      assert(mt.sortBy(r => (r._1, r._2)).toSeq == dist.sortBy(r => (r._1, r._2)).toSeq,
        s"MT != distributed: metric=$metric nq=${qs.length}")
    }
    tied.unpersist()
  }

  test("MT driver tier is safe under concurrent callers (shared pool, no cross-talk)") {
    // the daemon pool is shared JVM-wide by IVF_FLAT and IVF_PQ: their
    // callers' task batches interleave on it. Results must match the
    // single-caller answer exactly for every caller — TopKBufs are
    // per-call, parts immutable.
    val tied = (0 until 400).map { i =>
      (i.toLong, Seq((i % 5).toFloat, ((i / 5) % 4).toFloat, 1f))
    }.toDF("id", "vec").cache()
    val idx = IvfFlat.build(tied, nlist = 4)
    val qsA = (0 until 120).map(i => (i.toLong, Array((i % 5).toFloat, 1f, 1f))).toArray
    val qsB = (0 until 120).map(i => (i.toLong, Array(1f, (i % 4).toFloat, 1f))).toArray
    def mt(qs: Array[(Long, Array[Float])]) =
      IvfFlat.searchLocalRowsPath(idx, qs, "L2", K, 2, spark,
        forceDistributed = false, stBound = 0L, mtBound = Long.MaxValue).get
        .sortBy(r => (r._1, r._2)).toSeq
    // IVF_PQ callers share the same pool: a query-chunked batch and a
    // few-query call (one task per probed list range)
    val pq = IvfPq.build(vectors, nlist = 8, m = 8, k = 16)
    val qsPq = queries.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qsPqBig = (0 until 120).map(i => (i.toLong, qsPq(i % qsPq.length)._2)).toArray
    def pqMt(qs: Array[(Long, Array[Float])]) =
      IvfPq.searchLocalRowsPath(pq, qs, K, nprobe = 3, spark, stBound = 0L,
        mtBound = Long.MaxValue).get.sortBy(r => (r._1, r._2)).toSeq
    val calls: Seq[() => Seq[(Long, Int, Long, Double)]] = Seq(
      () => mt(qsA), () => mt(qsB), () => pqMt(qsPqBig), () => pqMt(qsPq.take(3)))
    val expected = calls.map(_())
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        val ok = (0 until 5).forall(_ => calls(t % 4)() == expected(t % 4))
        results.put(t, ok)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (0 until 8).foreach(t => assert(results.get(t), s"thread $t diverged"))
    tied.unpersist()
  }

  test("IVF-Flat save/load roundtrip preserves search results") {
    val idx = IvfFlat.build(vectors, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    IvfFlat.save(idx, dir)
    val loaded = IvfFlat.load(spark, dir)
    val a = hitSets(IvfFlat.search(idx, queries, "L2", K, 8))
    val b = hitSets(IvfFlat.search(loaded, queries, "L2", K, 8))
    assert(a == b)
  }

  test("SQ8: high recall vs exact; roundtrip error bounded by delta/2") {
    val p = ScalarQuant.train(vectors)
    val enc = ScalarQuant.encode(vectors, p)
    val qEnc = ScalarQuant.encode(queries, p, vecCol = "qvec")
    val got = hitSets(ScalarQuant.knn(enc, qEnc, p, K))
    assert(recallVs(exactL2, got) > 0.8, s"SQ8 recall ${recallVs(exactL2, got)}")

    val err = ScalarQuant.encode(vectors, p)
      .withColumn("rt", ScalarQuant.decodeCol(p)(col("qvec8")))
      .withColumn("maxerr",
        aggregate(zip_with(col("vec"), col("rt"), (a, b) => abs(a - b)),
          lit(0.0f), (acc, x) => greatest(acc, x)))
      .agg(max("maxerr")).head.getFloat(0)
    assert(err <= p.delta / 2 + 1e-6, s"roundtrip err $err > ${p.delta / 2}")
  }

  test("PQ: reconstruction error small relative to vector norm; refined knn recalls well") {
    val cb = Pq.train(vectors, m = 8, k = 16)
    val enc = Pq.encode(vectors, cb) // keeps (id, vec, codes)
    val rec = Pq.decode(enc, cb)
      .withColumn("err", aggregate(
        zip_with(col("vec"), col("decoded"), (a, b) => (a - b) * (a - b)),
        lit(0.0f), (acc, x) => acc + x))
      .withColumn("nrm", aggregate(
        transform(col("vec"), a => a * a), lit(0.0f), (acc, x) => acc + x))
      .agg(sum("err").as("e"), sum("nrm").as("n")).head
    val relErr = rec.getDouble(0) / rec.getDouble(1)
    assert(relErr < 0.05, s"PQ reconstruction relative error $relErr")

    // Raw ADC is a coarse sieve: on this fixture the within-cluster
    // neighbor gaps are below quantization error, so unrefined recall is
    // genuinely low (the reference never measures this); with exact rerank
    // of a 10x candidate pool the recall recovers.
    val refined = hitSets(Pq.knnRefined(enc, vectors, queries, cb, K, refine = 10))
    assert(recallVs(exactL2, refined) > 0.6,
      s"refined PQ recall ${recallVs(exactL2, refined)}")
  }

  test("IVF-PQ: residual PQ + rerank achieves good recall; rerank beats raw ADC") {
    val idx = IvfPq.build(vectors, nlist = 8, m = 8, k = 16)
    val raw = recallVs(exactL2, hitSets(IvfPq.search(idx, queries, K, nprobe = 8)))
    val refined = recallVs(exactL2,
      hitSets(IvfPq.searchRefined(idx, vectors, queries, K, nprobe = 8, refine = 10)))
    assert(refined > raw, s"rerank should improve recall: raw=$raw refined=$refined")
    assert(refined > 0.6, s"IVF-PQ refined recall $refined")
  }

  test("IVF-PQ resident rows tier: bit-exact vs the distributed ADC plan, all three branches") {
    val idx = IvfPq.build(vectors, nlist = 8, m = 8, k = 16)
    val qArr = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planRows = IvfPq.search(idx, queries, K, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    def tier(st: Long, mt: Long) =
      IvfPq.searchLocalRowsPath(idx, qArr, K, nprobe = 3, spark,
        stBound = st, mtBound = mt).get.sortBy(t => (t._1, t._2))
    // single-thread resident, MT resident, and distributed fallback all
    // produce the identical rows — scores included (same ADC doubles,
    // same (score desc, id asc) ties)
    assert(tier(Long.MaxValue, Long.MaxValue).toSeq == planRows.toSeq)
    assert(tier(0L, Long.MaxValue).toSeq == planRows.toSeq)
    assert(tier(0L, 0L).toSeq == planRows.toSeq)

    // Both MT shapes and filtered calls, against the plan's FULL ranking
    // of every probed candidate (k = corpus size): its rank ≤ K rows are
    // the unfiltered answer, and its member rows' first K the
    // filter-then-top-k answer. A 200-query batch is query-chunked on any
    // pool of ≤ 100 threads; a 3-query call runs one task per probed
    // list range.
    val rng = new Random(5)
    val pts = vectors.as[(Long, Seq[Float])].collect()
    val big = Array.tabulate(200) { i =>
      (i.toLong, pts(rng.nextInt(pts.length))._2.map(_ + rng.nextFloat() * 0.1f).toArray)
    }
    val small = big.take(3)
    val allowed = pts.map(_._1).filter(_ % 3 == 0).sorted
    val parts = idx.packedDriver.get
    val memberships = Seq(
      "sorted" -> AllowedSet(sorted = allowed),
      "hash" -> AllowedSet(hash = LongHashSet.from(allowed)),
      "bits" -> AllowedSet(bits = parts.map(p => rowBits(p.ids, allowed))))
    type Row = (Long, Int, Long, Double)
    def cut(ranked: Array[Row], keep: Long => Boolean): Seq[Row] =
      ranked.filter(r => keep(r._3)).groupBy(_._1).toSeq.flatMap { case (q, rs) =>
        rs.sortBy(_._2).take(K).zipWithIndex.map { case (r, i) => (q, i + 1, r._3, r._4) }
      }.sortBy(t => (t._1, t._2))
    def path(qs: Array[(Long, Array[Float])], st: Long, mt: Long,
             allowed: AllowedSet = AllowedSet.All): Seq[Row] =
      IvfPq.searchLocalRowsPath(idx, qs, K, nprobe = 3, spark, stBound = st,
        mtBound = mt, allowed = allowed).get.sortBy(t => (t._1, t._2)).toSeq
    for (qs <- Seq(big, small)) {
      val qDf = qs.toSeq.map { case (q, v) => (q, v.toSeq) }.toDF("query_id", "qvec")
      val ranked = IvfPq.search(idx, qDf, nPoints, nprobe = 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      val plain = cut(ranked, _ => true)
      assert(path(qs, Long.MaxValue, Long.MaxValue) == plain, s"ST nq=${qs.length}")
      assert(path(qs, 0L, Long.MaxValue) == plain, s"MT nq=${qs.length}")
      assert(path(qs, 0L, 0L) == plain, s"plan nq=${qs.length}")
      val filtered = cut(ranked, id => java.util.Arrays.binarySearch(allowed, id) >= 0)
      assert(filtered.nonEmpty)
      for ((name, m) <- memberships) {
        assert(path(qs, Long.MaxValue, Long.MaxValue, m) == filtered,
          s"ST $name nq=${qs.length}")
        assert(path(qs, 0L, Long.MaxValue, m) == filtered, s"MT $name nq=${qs.length}")
      }
    }
  }

  /** A part's row-position bitmap of the ids in sorted `allowed`. */
  private def rowBits(ids: Array[Long], allowed: Array[Long]): Array[Long] = {
    val b = new Array[Long]((ids.length + 63) >>> 6)
    ids.zipWithIndex.foreach { case (id, r) =>
      if (java.util.Arrays.binarySearch(allowed, id) >= 0) b(r >>> 6) |= 1L << (r & 63)
    }
    b
  }

  test("engine IVF_PQ IP (MIPS augmentation): realistic-parameter recall vs brute dot") {
    // norm spread makes IP ranking diverge from L2/cosine — the regime the
    // augmentation exists for. Exact-config correctness is pinned in
    // EngineSpec/engine_pq_ip; this measures the honest approximate path
    // (pruned probes + modest refine) against the brute-dot oracle.
    val rng = new Random(7)
    val scaled = vectors.as[(Long, Seq[Float])].collect().map { case (id, v) =>
      val s = 0.5f + (id % 7) * 0.5f // deterministic 0.5x-3.5x norm spread
      (id, v.map(_ * s))
    }.toSeq.toDF("id", "vec").cache()
    val exactIp = hitSets(BruteForceKnn.knn(scaled, queries, "IP", K))
    val root = java.nio.file.Files.createTempDirectory("ann_ip").toString
    val eng = new graft.GraftEngine(spark, root)
    eng.add(scaled.select(col("id").cast("string").as("id"),
        col("vec").as("vector"))
      .withColumn("tenant_id", lit("t0"))
      .withColumn("index_name", lit("ip"))
      .withColumn("meta", lit(null).cast("string"))
      .withColumn("tags", lit(null).cast("array<string>"))
      .withColumn("updated_at", lit(100L)))
    eng.build("t0", "ip", nlist = 16, metric = "IP", algo = "IVF_PQ",
      pqM = 8, pqK = 16)
    def engineHits(nprobe: Int, refine: Int): Map[Long, Set[Long]] =
      eng.search("t0", "ip", queries, K, metric = "IP", nprobe = nprobe,
          refine = refine)
        .select(col("query_id"), col("id").cast("long").as("id"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // exhaustive probes + rerank-all: exact (the gate config)
    assert(recallVs(exactIp, engineHits(16, 200)) == 1.0)
    // pruned probes + modest refine: the serving config
    val serving = recallVs(exactIp, engineHits(4, 4))
    assert(serving > 0.7, s"IP serving recall $serving")
    scaled.unpersist()
  }

  test("IvfFlat.assign is metric-aware: cosine argmax differs from L2 argmin") {
    // non-unit centroid makes the two geometries disagree: v=(0.5,0.4) is
    // angle-closest to (10,0) but position-closest to (0,1)
    val cents = Seq((0, Seq(10f, 0f)), (1, Seq(0f, 1f))).toDF("cluster_id", "centroid")
    val idx = IvfFlat.Index(spark.emptyDataFrame, cents)
    val v = Seq((1L, Seq(0.5f, 0.4f), "a")).toDF("id", "vec", "id_str")
    assert(IvfFlat.assign(v, idx, "COSINE").select("cluster_id").head.getInt(0) == 0)
    assert(IvfFlat.assign(v, idx, "L2").select("cluster_id").head.getInt(0) == 1)
  }

  test("Delta: fresh head vector beats stale tail with same id (head-wins)") {
    // tail has id=999 far from query; head re-writes id=999 exactly at the query
    val q = Seq((0L, Seq.fill(dim)(5.0f))).toDF("query_id", "qvec")
    val tailVecs = vectors.union(Seq((999999L, Seq.fill(dim)(-5.0f))).toDF("id", "vec"))
    val tail = IvfFlat.build(tailVecs, nlist = 8)
    val head = Seq((999999L, Seq.fill(dim)(5.0f))).toDF("id", "vec")
    val hits = DeltaIndex.search(head, tail, q, "L2", K, nprobe = 8)
      .orderBy("rank").collect()
    assert(hits.head.getAs[Long]("id") == 999999L)
    assert(hits.head.getAs[Double]("score") == 0.0) // the fresh (head) version won
    // and no duplicate id in the merged result
    assert(hits.map(_.getAs[Long]("id")).distinct.length == hits.length)
  }

  test("Delta compact: head row overrides same-id tail row, then IVF search serves it") {
    val head = Seq((7L, Seq.fill(dim)(3.0f))).toDF("id", "vec")
    val compacted = DeltaIndex.compact(head, vectors, nlist = 8)
    val q = Seq((0L, Seq.fill(dim)(3.0f))).toDF("query_id", "qvec")
    val hits = IvfFlat.search(compacted, q, "L2", 1, nprobe = 8).collect()
    assert(hits.head.getAs[Long]("id") == 7L)
    assert(compacted.assigned.count() == nPoints) // no duplicate id added
  }

  test("packed exchange keys by cluster: each inverted list whole in ONE partition; pruning map exact") {
    // the partition-pruned serving job is only correct if a probed
    // cluster's entire list lives in the partition packedPartsOf names —
    // a list split across partitions would silently lose candidates
    // (packedPartsOf.toMap keeps one pid per cluster)
    val vecs = (0 until 500).map(i =>
        (i.toLong, Seq((i % 7).toFloat, (i % 13).toFloat, 1f)))
      .toDF("id", "vec").cache()
    val idx = IvfFlat.build(vecs, nlist = 8)
    idx.packed.count()
    import scala.jdk.CollectionConverters._
    val triples = idx.packed.mapPartitionsWithIndex { (pid, it) =>
      it.flatMap(p => p.ranges.asScala.iterator.map { case (c, r) =>
        (c.intValue, pid, r(1).toLong)
      })
    }.collect()
    val byCluster = triples.groupBy(_._1)
    byCluster.foreach { case (c, ps) =>
      assert(ps.map(_._2).distinct.length == 1,
        s"cluster $c split across packed partitions ${ps.map(_._2).toSeq}")
    }
    // whole list: per-cluster row counts inside the named partition match
    // the assigned table's counts exactly
    assert(byCluster.map { case (c, ps) => c -> ps.map(_._3).sum } ==
      idx.assigned.groupBy("cluster_id").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    assert(idx.packedPartsOf.keySet == byCluster.keySet)
    // and the pruned distributed path answers exactly like the resident
    // tier at a pruning-heavy config (nprobe=1: one task)
    val qs = (0 until 4).map(i => (i.toLong, Array(i.toFloat, 1f, 1f))).toArray
    val a = IvfFlat.searchLocalRowsPath(idx, qs, "L2", K, 1, spark,
      forceDistributed = false).get
    val b = IvfFlat.searchLocalRowsPath(idx, qs, "L2", K, 1, spark,
      forceDistributed = true).get
    assert(a.sortBy(r => (r._1, r._2)).toSeq == b.sortBy(r => (r._1, r._2)).toSeq)
    vecs.unpersist()
  }
}
