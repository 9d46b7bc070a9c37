package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Races between the driver-resident serving tiers and the maintenance
  * paths that rewrite their on-disk sources: [[GraftEngine.searchCachedRows]]
  * probes a resident copy of the entry table while flushCache /
  * compactCacheEntries delete-and-swap the directory under it, and
  * [[GraftEngine.searchRows]] serves the packed tail + memoized head while
  * upserts bump the epoch. The serving contract under every interleaving:
  * NEVER an exception, ALWAYS correct rows (a probe that loses its race
  * degrades to a batch-path miss — correct, just slower); once writers
  * quiesce, the fast path equals the DataFrame plan again. */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def mkRecords(rows: Seq[(String, Seq[Float], Long)]): DataFrame =
    rows.toDF("id", "vector", "updated_at")
      .withColumn("meta", lit(null).cast("string"))
      .withColumn("tags", typedLit(Seq.empty[String]))
      .withColumn("tenant_id", lit("t1"))
      .withColumn("index_name", lit("idx"))
      .withColumn("deleted", lit(false))

  private def runAll(threads: Seq[Thread]): Seq[Throwable] = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    threads.foreach(_.setUncaughtExceptionHandler((_, e) => errs.add(e)))
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    val alive = threads.filter(_.isAlive)
    assert(alive.isEmpty, s"still running after the join: ${alive.map(_.getName)}")
    import scala.jdk.CollectionConverters._
    errs.asScala.toSeq
  }

  /** Eight threads released together on the first `call` of a fresh
    * engine over `root`'s built snapshot: every answer equals one
    * thread's first call on another fresh engine, and the burst submits,
    * module by module, the same jobs as that one call — concurrent first
    * callers wait for one admission per handle. */
  private def firstCallBurst(root: String)(
      call: GraftEngine => Array[(Long, Int, String, Double)]): Unit = {
    val (single, singleJobs) = JobCount.byModule(spark)(call(new GraftEngine(spark, root)))
    assert(single.nonEmpty)
    val eng = new GraftEngine(spark, root)
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Int, String, Double)]]()
    val (errs, burstJobs) = JobCount.byModule(spark) {
      val barrier = new java.util.concurrent.CyclicBarrier(8)
      runAll((1 to 8).map { t =>
        new Thread(() => {
          barrier.await(60, TimeUnit.SECONDS)
          answers.add(call(eng).toSeq)
        }, s"first-call-$t")
      })
    }
    assert(errs.isEmpty, s"first-call burst threw: ${errs.map(_.toString)}")
    import scala.jdk.CollectionConverters._
    assert(answers.size == 8 && answers.asScala.forall(_ == single.toSeq), answers)
    assert(burstJobs == singleJobs, s"burst $burstJobs, one call $singleJobs")
  }

  test("searchCachedRows stays correct while flush/compact rewrite the entry dir") {
    val root = Files.createTempDirectory("conc_cached").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 30).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), 100L))))
    eng.build("t1", "idx", nlist = 2)
    val qv = Array(3f, 1f, 0f)
    val qDf = Seq((7L, qv.toSeq)).toDF("query_id", "qvec")
    // the deterministic answer every call must return, hit or miss
    eng.searchCached("t1", "idx", qDf, k = 5, nprobe = 2, now = 1000L)
    val expected = eng
      .searchCached("t1", "idx", qDf, k = 5, nprobe = 2, now = 1001L)
      .collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("id"),
        r.getAs[Double]("score"))).toSeq

    val start = new CountDownLatch(1)
    val layers = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = (1 to 3).map { t =>
      new Thread(() => {
        start.await(60, TimeUnit.SECONDS)
        (1 to 12).foreach { i =>
          val (layer, rows) = eng.searchCachedRows("t1", "idx", 7L, qv,
            k = 5, nprobe = 2, now = 1000L + i)
          layers.add(layer)
          assert(rows.toSeq == expected,
            s"reader $t iter $i (layer $layer) returned wrong rows")
        }
      }, s"reader-$t")
    }
    val writer = new Thread(() => {
      start.await(60, TimeUnit.SECONDS)
      (1 to 4).foreach { i =>
        eng.flushCache("t1", "idx")
        // re-populate so later probes can hit again, then force a GC swap
        eng.searchCached("t1", "idx", qDf, k = 5, nprobe = 2,
          now = 1000L + i)
        eng.compactCacheEntries("t1", "idx", now = 1000L + i)
      }
    }, "writer")

    start.countDown()
    val errs = runAll(readers :+ writer)
    assert(errs.isEmpty, s"concurrent serving threw: ${errs.map(_.toString)}")
    import scala.jdk.CollectionConverters._
    // liveness of both outcomes over the run as a whole: the resident
    // probe actually served (some hit) and the maintenance races actually
    // pushed some calls onto the batch path or were absorbed — either
    // way, every call already returned `expected`
    assert(layers.asScala.nonEmpty)
    assert(layers.asScala.forall(Set("L0", "L0.5", "L1", "L2", "MISS")))
    // quiesced: the probe serves in-heap again after the last rewrite
    val (_, finalRows) = eng.searchCachedRows("t1", "idx", 7L, qv, k = 5,
      nprobe = 2, now = 1006L)
    assert(finalRows.toSeq == expected)
  }

  test("concurrent rows-native misses: no loss across the pending queue, every repeat hits") {
    val root = Files.createTempDirectory("conc_pending").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 50).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), 100L))))
    eng.build("t1", "idx", nlist = 2)
    // distinct query vectors → every first call is a rows-native miss
    // racing the others through the copy-on-write resident update and
    // the shared pending queue
    val qvs = (0 until 48).map(i => (i.toLong, Array(i * 0.25f + 0.1f, 1f, 0f)))
    val start = new CountDownLatch(1)
    // close vectors may legitimately L1-hit an entry a racing thread just
    // inserted (SimHash is locality-sensitive) — track which calls truly
    // missed and hold the durability bar to exactly those
    val missed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val writers = (0 until 4).map { t =>
      new Thread(() => {
        start.await(60, TimeUnit.SECONDS)
        qvs.filter(_._1 % 4 == t).foreach { case (qid, qv) =>
          val (layer, rows) = eng.searchCachedRows("t1", "idx", qid, qv,
            k = 3, nprobe = 2, now = 2000L)
          if (layer == "MISS") missed.add(qid)
          assert(rows.nonEmpty, s"q$qid first call returned no rows ($layer)")
        }
      }, s"miss-writer-$t")
    }
    start.countDown()
    val errs = runAll(writers)
    assert(errs.isEmpty, s"concurrent misses threw: ${errs.map(_.toString)}")
    assert(!missed.isEmpty, "fixture produced no misses at all")
    // every repeat hits in-heap (no lost update in the races)
    qvs.foreach { case (qid, qv) =>
      val (layer, rows) = eng.searchCachedRows("t1", "idx", qid, qv,
        k = 3, nprobe = 2, now = 2001L)
      assert(layer != "MISS" && rows.nonEmpty, s"q$qid repeat: $layer")
    }
    // and the durable flush lands exactly one L0 entry per true miss
    eng.flushCachePending("t1", "idx")
    val l0 = eng.cacheEntries("t1", "idx").filter(col("layer") === "L0")
      .select("cache_key").collect().map(_.getLong(0))
    assert(l0.length == missed.size && l0.distinct.length == missed.size,
      s"expected ${missed.size} distinct durable L0 entries, got ${l0.length}")
  }

  test("searchRows stays well-formed under concurrent upserts, equals the plan at quiescence") {
    val root = Files.createTempDirectory("conc_rows").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(7)
    eng.add(mkRecords((0 until 40).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), 100L))))
    eng.build("t1", "idx", nlist = 2)
    val qs = Array((0L, Array(0.5f, 0.5f, 0.5f, 0.5f)))

    val start = new CountDownLatch(1)
    val readers = (1 to 3).map { t =>
      new Thread(() => {
        start.await(60, TimeUnit.SECONDS)
        (1 to 10).foreach { _ =>
          val rows = eng.searchRows("t1", "idx", qs, k = 5, nprobe = 2)
          // mid-flight the answer legitimately changes as writes land;
          // well-formedness is the invariant: k rows, dense ranks, no
          // duplicate ids, scores non-increasing
          assert(rows.length == 5)
          assert(rows.sortBy(_._2).map(_._2).toSeq == (1 to 5))
          assert(rows.map(_._3).distinct.length == 5)
          assert(rows.sortBy(_._2).map(_._4).sliding(2)
            .forall(w => w.length < 2 || w(0) >= w(1)))
        }
      }, s"rows-reader-$t")
    }
    val writer = new Thread(() => {
      start.await(60, TimeUnit.SECONDS)
      (1 to 5).foreach { i =>
        eng.upsert(mkRecords(Seq(
          (s"v$i", Seq.fill(4)(rng.nextFloat()), 200L + i))))
      }
    }, "rows-writer")

    start.countDown()
    val errs = runAll(readers :+ writer)
    assert(errs.isEmpty, s"concurrent searchRows threw: ${errs.map(_.toString)}")
    // quiesced: driver fast path == DataFrame plan, scores included
    val fast = eng.searchRows("t1", "idx", qs, k = 5, nprobe = 2)
    val slow = eng.search("t1", "idx",
        Seq((0L, qs(0)._2.toSeq)).toDF("query_id", "qvec"), 5, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    assert(fast.sortBy(_._2).toSeq == slow.sortBy(_._2).toSeq)
  }

  test("PQ/HNSW resident tiers stay well-formed under concurrent writes and a rebuild") {
    val root = Files.createTempDirectory("conc_algo_rows").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(11)
    for (index <- Seq("pq", "hn")) {
      eng.add(mkRecords((0 until 40).map(i =>
        (s"v$i", Seq.fill(4)(rng.nextFloat()), 100L)))
        .withColumn("index_name", lit(index)))
    }
    eng.build("t1", "pq", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    eng.build("t1", "hn", nlist = 2, algo = "HNSW")
    val qs = Array((0L, Array(0.5f, 0.5f, 0.5f, 0.5f)))

    val start = new CountDownLatch(1)
    val readers = Seq("pq", "hn").flatMap { index =>
      (1 to 2).map { t =>
        new Thread(() => {
          start.await(60, TimeUnit.SECONDS)
          (1 to 8).foreach { _ =>
            val rows = eng.searchRows("t1", index, qs, k = 5, nprobe = 2)
            assert(rows.length == 5)
            assert(rows.sortBy(_._2).map(_._2).toSeq == (1 to 5))
            assert(rows.map(_._3).distinct.length == 5)
            assert(rows.sortBy(_._2).map(_._4).sliding(2)
              .forall(w => w.length < 2 || w(0) >= w(1)))
          }
        }, s"$index-reader-$t")
      }
    }
    // writes dirty the heads mid-flight; a REBUILD swaps the pq snapshot
    // version under the memoized resident handles
    val writer = new Thread(() => {
      start.await(60, TimeUnit.SECONDS)
      (1 to 3).foreach { i =>
        for (index <- Seq("pq", "hn"))
          eng.upsert(mkRecords(Seq(
            (s"v$i", Seq.fill(4)(rng.nextFloat()), 200L + i)))
            .withColumn("index_name", lit(index)))
      }
      eng.build("t1", "pq", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    }, "algo-writer")

    // REFINED readers race the same writes/rebuild: the sq16 store is a
    // third per-version resident (own registry) the version swap must
    // evict and rebuild coherently with the codes it reranks
    val refinedReaders = (1 to 2).map { t =>
      new Thread(() => {
        start.await(60, TimeUnit.SECONDS)
        (1 to 8).foreach { _ =>
          val rows = eng.searchRows("t1", "pq", qs, k = 5, nprobe = 2,
            refine = 4)
          assert(rows.length == 5)
          assert(rows.sortBy(_._2).map(_._2).toSeq == (1 to 5))
          assert(rows.map(_._3).distinct.length == 5)
        }
      }, s"pq-refined-reader-$t")
    }

    start.countDown()
    val errs = runAll(readers ++ refinedReaders :+ writer)
    assert(errs.isEmpty, s"concurrent tier serving threw: ${errs.map(_.toString)}")
    // quiesced: both resident tiers equal their batch plans again
    for (index <- Seq("pq", "hn")) {
      val fast = eng.searchRows("t1", index, qs, k = 5, nprobe = 2)
      val slow = eng.search("t1", index,
          Seq((0L, qs(0)._2.toSeq)).toDF("query_id", "qvec"), 5, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      assert(fast.sortBy(_._2).toSeq == slow.sortBy(_._2).toSeq, index)
    }
    // refined quiescence: rows == plan(sq16) after the rebuild settled
    val fastR = eng.searchRows("t1", "pq", qs, k = 5, nprobe = 2, refine = 4)
    val slowR = eng.search("t1", "pq",
        Seq((0L, qs(0)._2.toSeq)).toDF("query_id", "qvec"), 5, nprobe = 2,
        refine = 4, refineStore = "sq16")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    assert(fastR.sortBy(_._2).toSeq == slowR.sortBy(_._2).toSeq)
  }

  test("filtered tiers (tag index + hash + bitmaps) stay well-formed under writes and a rebuild") {
    val root = Files.createTempDirectory("conc_filtered").toString
    // threshold 1 keeps the memoized hash-set + row-bitmap caches in
    // play for every call — the structures a version swap must not
    // corrupt (they memoize per snapshot version, evicted on rebuild)
    val eng = new GraftEngine(spark, root, hashAllowedMinEntries = 1)
    val rng = new scala.util.Random(13)
    def tagged(rows: Seq[(String, Seq[Float], Long)]): DataFrame =
      rows.toDF("id", "vector", "updated_at")
        .withColumn("meta", lit(null).cast("string"))
        .withColumn("tags",
          when(xxhash64(col("id")) % 2 === 0, typedLit(Seq("even")))
            .otherwise(typedLit(Seq("odd"))))
        .withColumn("tenant_id", lit("t1"))
        .withColumn("index_name", lit("idx"))
        .withColumn("deleted", lit(false))
    eng.add(tagged((0 until 50).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), 100L))))
    eng.build("t1", "idx", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    val qs = Array((0L, Array(0.5f, 0.5f, 0.5f, 0.5f)))

    val start = new CountDownLatch(1)
    val readers = (1 to 3).map { t =>
      new Thread(() => {
        start.await(60, TimeUnit.SECONDS)
        (1 to 8).foreach { _ =>
          eng.searchRowsFilteredTraced("t1", "idx", qs, 5, "L2", 2,
            Seq("even")).foreach { case (rows, _) =>
              assert(rows.length <= 5)
              assert(rows.sortBy(_._2).map(_._2).toSeq == (1 to rows.length))
              assert(rows.map(_._3).distinct.length == rows.length)
          }
        }
      }, s"filtered-reader-$t")
    }
    // upserts dirty the head (tagged rows); a rebuild swaps the snapshot
    // version under the memoized tag-index/hash/bitmap caches
    val writer = new Thread(() => {
      start.await(60, TimeUnit.SECONDS)
      (1 to 3).foreach { i =>
        eng.upsert(tagged(Seq((s"v$i", Seq.fill(4)(rng.nextFloat()), 200L + i))))
      }
      eng.build("t1", "idx", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    }, "filtered-writer")

    start.countDown()
    val errs = runAll(readers :+ writer)
    assert(errs.isEmpty, s"concurrent filtered serving threw: ${errs.map(_.toString)}")
    // quiesced: filtered rows tier == the batch plan's filtered search
    val fast = eng.searchRowsFilteredTraced("t1", "idx", qs, 5, "L2", 2,
      Seq("even"))
    assert(fast.isDefined)
    val slow = eng.search("t1", "idx",
        Seq((0L, qs(0)._2.toSeq)).toDF("query_id", "qvec")
          .withColumn("filter_tags", typedLit(Seq("even"))), 5, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    assert(fast.get._1.sortBy(_._2).toSeq == slow.sortBy(_._2).toSeq)
    assert(fast.get._1.nonEmpty)
  }

  test("concurrent first refined IVF_PQ calls share one admission per handle") {
    val root = Files.createTempDirectory("conc_first_pq").toString
    val rng = new scala.util.Random(17)
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 60).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), 100L))))
    eng.build("t1", "idx", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    val qs = Array((0L, Array(0.5f, 0.5f, 0.5f, 0.5f)))
    firstCallBurst(root) { e =>
      val (rows, tr) = e.searchRowsTraced("t1", "idx", qs, k = 5, nprobe = 2,
        refine = 4)
      assert(tr.path == "head+pqtail-refined", tr)
      rows
    }
  }

  test("concurrent first filtered IVF_FLAT calls share one admission per handle") {
    val root = Files.createTempDirectory("conc_first_flat").toString
    val rng = new scala.util.Random(19)
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 60).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), 100L)))
      .withColumn("tags", when(xxhash64(col("id")) % 2 === 0, typedLit(Seq("even")))
        .otherwise(typedLit(Seq("odd")))))
    eng.build("t1", "idx", nlist = 2)
    val qs = Array((0L, Array(0.5f, 0.5f, 0.5f, 0.5f)))
    firstCallBurst(root) { e =>
      val res = e.searchRowsFilteredTraced("t1", "idx", qs, 5, "L2", 2, Seq("even"))
      assert(res.exists(_._2.path == "head+tail-filtered"), res.map(_._2))
      res.get._1
    }
  }

  test("residency ledger: concurrent admissions never overshoot a line or the total") {
    // every line at once, each estimate a third of its line cap, so
    // each line seats at most three and the five lines' thirds together
    // outgrow the total: both kinds of contention occur. The invariants
    // are checked INSIDE each build, while its reservation is held.
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val admitted = new java.util.concurrent.atomic.AtomicInteger()
    val busy = new java.util.concurrent.atomic.AtomicInteger()
    def check(where: String): Unit = {
      Residency.Lines.foreach { l =>
        val u = Residency.used(l)
        if (u > l.lineMax) violations.add(s"$where: ${l.name} used $u > ${l.lineMax}")
      }
      val t = Residency.usedTotal
      if (t > Residency.TotalMaxBytes)
        violations.add(s"$where: total $t > ${Residency.TotalMaxBytes}")
    }
    val start = new CountDownLatch(1)
    val threads = (0 until 12).map { i =>
      new Thread(() => {
        start.await()
        (0 until 20).foreach { j =>
          val line = Residency.Lines((i + j) % Residency.Lines.length)
          Residency.admit(line, line.lineMax / 3, Long.MaxValue) {
            check(s"thread $i build $j")
            Thread.sleep(5)
            new Object
          } match {
            case Residency.Admitted(v) =>
              admitted.incrementAndGet()
              Residency.release(v)
            case _ => busy.incrementAndGet()
          }
        }
      })
    }
    start.countDown()
    val errs = runAll(threads)
    assert(errs.isEmpty, errs)
    import scala.jdk.CollectionConverters._
    assert(violations.isEmpty, violations.asScala.take(5).mkString("; "))
    assert(admitted.get > 0 && busy.get > 0, s"admitted=$admitted busy=$busy")
    // a build that throws returns its reservation
    val line = Residency.PqCodes
    val est = line.lineMax / 4
    var usedInside = -1L
    intercept[IllegalStateException] {
      Residency.admit(line, est) {
        usedInside = Residency.used(line)
        throw new IllegalStateException("build failed")
      }
    }
    assert(usedInside >= est)
    assert(Residency.used(line) <= usedInside - est)
  }
}
