package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end lifecycle over the user-facing engine — mirrors the
  * reference's integration tier (SURVEY §5.2) and the smoke scenario
  * (tests/smoke_test.py): add → search → upsert → delete → build →
  * fresh-head search. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def mkRecords(rows: Seq[(String, Seq[Float], String, Seq[String], Long)],
                        session: SparkSession = spark): DataFrame =
    session.createDataFrame(rows).toDF("id", "vector", "meta", "tags", "updated_at")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("index_name", lit("idx"))
      .withColumn("deleted", lit(false))

  private def q(id: Long, v: Seq[Float], tags: Seq[String] = null): DataFrame = {
    val base = Seq((id, v)).toDF("query_id", "qvec")
    if (tags == null) base
    else base.withColumn("filter_tags", typedLit(tags))
  }

  test("full lifecycle: add, dup-reject, build, search, upsert-over-tail, tombstone, tags, meta") {
    val root = Files.createTempDirectory("engine").toString
    val eng = new GraftEngine(spark, root)

    // ADD the smoke fixture + filler (FIXTURES.md §4)
    val filler = (10 until 40).map(i =>
      (s"f$i", Seq(0.5f + i * 0.01f, 0.5f, 0.3f), null: String, Seq("filler"), 100L))
    assert(eng.add(mkRecords(Seq(
      ("doc1", Seq(1f, 0f, 0f), """{"type":"test"}""", Seq.empty[String], 100L),
      ("doc2", Seq(0f, 1f, 0f), null, Seq("tagA"), 100L)) ++ filler)) == 32)
    val e0 = eng.epoch("t1", "idx")

    // duplicate ADD rejected (VEC.ADD semantics)
    intercept[IllegalArgumentException] {
      eng.add(mkRecords(Seq(("doc1", Seq(9f, 9f, 9f), null, Seq(), 200L))))
    }

    // BUILD, then search: [0.9,0.1,0] → doc1 top-1 (smoke oracle)
    eng.build("t1", "idx", nlist = 4)
    assert(eng.epoch("t1", "idx") > e0) // build bumps epoch
    val hits = eng.search("t1", "idx", q(1L, Seq(0.9f, 0.1f, 0f)), k = 2,
      nprobe = 4, withMeta = true).collect()
    assert(hits.head.getAs[String]("id") == "doc1")
    assert(hits.head.getAs[String]("meta") == """{"type":"test"}""")

    // tag filter: [0,0.9,0] FILTER tagA → doc2 only
    val tagged = eng.search("t1", "idx",
      q(2L, Seq(0f, 0.9f, 0f), Seq("tagA")), k = 5, nprobe = 4).collect()
    assert(tagged.map(_.getAs[String]("id")).toSeq == Seq("doc2"))

    // UPSERT doc1 to a new location AFTER build → head must win over tail
    eng.upsert(mkRecords(Seq(
      ("doc1", Seq(0f, 0f, 1f), """{"v":2}""", Seq.empty[String], 300L))))
    val afterUpsert = eng.search("t1", "idx", q(3L, Seq(1f, 0f, 0f)), k = 2,
      nprobe = 4).collect()
    // doc1 moved away from [1,0,0]: it must NOT come back at its old spot
    assert(afterUpsert.head.getAs[String]("id") != "doc1")
    val nearNew = eng.search("t1", "idx", q(4L, Seq(0f, 0f, 1f)), k = 1,
      nprobe = 4).collect()
    assert(nearNew.head.getAs[String]("id") == "doc1") // found at fresh spot

    // DELETE doc2 (tombstone after build) → masked from tail results
    eng.delete("t1", "idx", Seq("doc2"), version = 400L)
    val afterDel = eng.search("t1", "idx", q(5L, Seq(0f, 0.9f, 0f)), k = 5,
      nprobe = 4).collect()
    assert(!afterDel.map(_.getAs[String]("id")).contains("doc2"))

    // no duplicate ids anywhere in results
    assert(afterDel.map(_.getAs[String]("id")).distinct.length == afterDel.length)

    // stats: every built vector assigned to a cluster
    val total = eng.stats("t1", "idx").agg(sum("n_vectors")).head.getLong(0)
    assert(total == 32)

    // audit log: append + read back (S12)
    eng.audit("admin", "index.build", "t1/idx", ts = 1000L)
    eng.audit("admin", "vector.delete", "t1/idx/doc2", ts = 2000L)
    val log = eng.auditLog().orderBy("ts").collect()
    assert(log.map(_.getAs[String]("action")).toSeq ==
      Seq("index.build", "vector.delete"))

    // rebuild compacts head into tail; doc2 stays gone, doc1 at new spot
    eng.build("t1", "idx", nlist = 4)
    val afterRebuild = eng.search("t1", "idx", q(6L, Seq(0f, 0f, 1f)), k = 1,
      nprobe = 4).collect()
    assert(afterRebuild.head.getAs[String]("id") == "doc1")
    assert(eng.currentState("t1", "idx").count() == 31) // 32 - doc2
  }

  test("maxScans caps BOTH tail and head candidate scans (budget degradation)") {
    val root = Files.createTempDirectory("engine_scans").toString
    val eng = new GraftEngine(spark, root)
    // 20 tail records, build, then 20 fresh head records
    val tail = (0 until 20).map(i =>
      (s"t$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))
    eng.add(mkRecords(tail))
    eng.build("t1", "idx", nlist = 2)
    val head = (0 until 20).map(i =>
      (s"h$i", Seq(i.toFloat, 2f, 0f), null: String, Seq.empty[String], 200L))
    eng.add(mkRecords(head))

    val query = q(1L, Seq(10f, 1f, 0f))
    // uncapped: k=40 returns all 40 candidates
    assert(eng.search("t1", "idx", query, k = 40, nprobe = 2).count() == 40)
    // capped at 3: ≤ 3 tail + ≤ 3 head candidates ever get scored
    val capped = eng.search("t1", "idx", query, k = 40, nprobe = 2, maxScans = 3)
      .collect()
    assert(capped.length <= 6, s"maxScans leak: ${capped.length} candidates")
    assert(capped.length > 0)
    val heads = capped.map(_.getAs[String]("id")).count(_.startsWith("h"))
    assert(heads <= 3, s"head scan uncapped: $heads head hits")
    // deterministic: same cap → same result set
    val again = eng.search("t1", "idx", query, k = 40, nprobe = 2, maxScans = 3)
      .collect()
    assert(capped.map(_.getAs[String]("id")).toSet ==
      again.map(_.getAs[String]("id")).toSet)
  }

  test("algo parity: FLAT and HNSW tails answer like IVF, head still wins") {
    val root = Files.createTempDirectory("engine_algo").toString
    val eng = new GraftEngine(spark, root)
    val recs = (0 until 60).map { i =>
      (s"v$i", Seq(i.toFloat, (60 - i).toFloat, 1f), null: String,
        Seq.empty[String], 100L)
    }
    eng.add(mkRecords(recs))
    val query = q(1L, Seq(30f, 30f, 1f))

    for (algo <- Seq("FLAT", "IVF_FLAT", "HNSW", "IVF_PQ")) {
      eng.build("t1", "idx", nlist = 4, algo = algo, pqM = 3, pqK = 16)
      assert(eng.manifest("t1", "idx").algo == algo)
      val hits = eng.search("t1", "idx", query, k = 3, nprobe = 4).collect()
      assert(hits.head.getAs[String]("id") == "v30", s"algo=$algo")
    }

    // fresh head write after an IVF_PQ build must still override the codes
    eng.upsert(mkRecords(Seq(
      ("v30", Seq(-50f, -50f, -50f), null, Seq.empty[String], 200L))))
    val afterUpsert = eng.search("t1", "idx", query, k = 3, nprobe = 4).collect()
    assert(afterUpsert.head.getAs[String]("id") != "v30")
    assert(afterUpsert.map(_.getAs[String]("id")).distinct.length == afterUpsert.length)
  }

  test("IvfPq save/load roundtrip preserves search results") {
    import scala.util.Random
    val rng = new Random(5)
    val vecs = (0 until 200).map(i => (i.toLong, Seq.fill(8)(rng.nextFloat())))
      .toDF("id", "vec")
    val qs = (0 until 4).map(i => (i.toLong, Seq.fill(8)(rng.nextFloat())))
      .toDF("query_id", "qvec")
    val idx = graft.operators.IvfPq.build(vecs, nlist = 4, m = 4, k = 8)
    val dir = Files.createTempDirectory("ivfpq").toString
    graft.operators.IvfPq.save(idx, dir)
    val loaded = graft.operators.IvfPq.load(spark, dir)
    def hits(ix: graft.operators.IvfPq.Index) =
      graft.operators.IvfPq.search(ix, qs, 5, nprobe = 4)
        .select("query_id", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(hits(idx) == hits(loaded))
  }

  test("ScalarQuant params save/load roundtrip") {
    val p = graft.operators.ScalarQuant.Params(-1.25f, 3.5f)
    val f = Files.createTempDirectory("sq8").toString + "/params.json"
    graft.operators.ScalarQuant.saveParams(p, f)
    assert(graft.operators.ScalarQuant.loadParams(f) == p)
  }

  test("searchCached: cold miss → populate; warm hit at L0; epoch bump invalidates") {
    val root = Files.createTempDirectory("engine_cache").toString
    val eng = new GraftEngine(spark, root)
    val recs = (0 until 40).map { i =>
      (s"v$i", Seq(i.toFloat, (40 - i).toFloat, 1f), null: String, Seq.empty[String], 100L)
    }
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 4)

    val query = q(1L, Seq(20f, 20f, 1f))
    val cold = eng.searchCached("t1", "idx", query, k = 3, nprobe = 4, now = 1000L)
      .collect()
    assert(cold.nonEmpty && cold.forall(!_.getAs[Boolean]("cache_hit")))

    // cache table now has L0 + L1 (+ maybe L2) entries for the query
    val layers = eng.cacheEntries("t1", "idx")
      .select("layer").collect().map(_.getString(0)).toSet
    assert(layers.contains("L0") && layers.contains("L1"), s"layers=$layers")

    // warm second call: identical query → L0 hit, identical hits
    val warm = eng.searchCached("t1", "idx", query, k = 3, nprobe = 4, now = 1010L)
      .collect()
    assert(warm.forall(_.getAs[Boolean]("cache_hit")))
    assert(warm.forall(_.getAs[String]("layer") == "L0"))
    assert(warm.map(r => (r.getAs[Int]("rank"), r.getAs[String]("id"))).toSeq ==
      cold.map(r => (r.getAs[Int]("rank"), r.getAs[String]("id"))).toSeq)

    // L1: positively-scaled vector (identical SimHash signs, different L0 key)
    val scaled = q(2L, Seq(40f, 40f, 2f))
    val l1 = eng.searchCached("t1", "idx", scaled, k = 3, nprobe = 4, now = 1020L)
      .collect()
    assert(l1.forall(_.getAs[Boolean]("cache_hit")))
    assert(l1.forall(_.getAs[String]("layer") == "L1"), s"layer=${l1.head.getAs[String]("layer")}")

    // TTL expiry: same query far in the future → miss again
    val expired = eng.searchCached("t1", "idx", query, k = 3, nprobe = 4, now = 99999L)
      .collect()
    assert(expired.forall(!_.getAs[Boolean]("cache_hit")))

    // epoch bump (a write) invalidates even fresh entries
    eng.upsert(mkRecords(Seq(("v0", Seq(0f, 40f, 1f), null, Seq.empty[String], 200L))))
    val postWrite = eng.searchCached("t1", "idx", query, k = 3, nprobe = 4, now = 1030L)
      .collect()
    assert(postWrite.forall(!_.getAs[Boolean]("cache_hit")))

    // VEC.STATS text: 5 calls above = 2 hits (warm L0 + scaled L1),
    // 3 misses (cold, expired, post-write)
    val stats = eng.statsText("t1", "idx")
    assert(stats.contains("cache_hit_total 2"), stats)
    assert(stats.contains("cache_miss_total 3"), stats)
    assert(stats.contains("""vector_search_latency_ms_bucket{le="+Inf"} 0"""), stats)
  }

  test("SLO shed + budget degradation (steps 8-9): cache-only misses shed; scans halve") {
    val root = Files.createTempDirectory("engine_slo").toString
    val eng = new GraftEngine(spark, root)
    val recs = (0 until 40).map { i =>
      (s"v$i", Seq(i.toFloat, (40 - i).toFloat, 1f), null: String, Seq.empty[String], 100L)
    }
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 4)
    val query = q(1L, Seq(20f, 20f, 1f))

    // low-priority tenant under degraded guardrails → cache-only
    val shedOpts = eng.resolveSearchOptions("t1", "idx", degraded = true, priority = 2)
    assert(shedOpts.cacheOnly)
    val cold = eng.searchCached("t1", "idx", query, k = 3, nprobe = 4,
      now = 1000L, options = shedOpts).collect()
    assert(cold.length == 1 && cold.head.getAs[String]("layer") == "SHED")
    assert(cold.head.isNullAt(cold.head.fieldIndex("id")))

    // warm the cache WITHOUT shedding, then the shed tenant can still hit
    eng.searchCached("t1", "idx", query, k = 3, nprobe = 4, now = 1001L).collect()
    val warmShed = eng.searchCached("t1", "idx", query, k = 3, nprobe = 4,
      now = 1002L, options = shedOpts).collect()
    assert(warmShed.forall(_.getAs[Boolean]("cache_hit")))
    assert(warmShed.forall(_.getAs[String]("layer") == "L0"))

    // normal-priority tenant degrades to capped scans, not shedding
    val degOpts = eng.resolveSearchOptions("t1", "idx", degraded = true,
      priority = 1, degradedMaxScans = 3)
    assert(!degOpts.cacheOnly && degOpts.maxScans == 3)
    // over-budget halves the degraded cap (floor 1)
    val budOpts = eng.resolveSearchOptions("t1", "idx", degraded = true,
      priority = 1, overBudget = true, degradedMaxScans = 3)
    assert(budOpts.maxScans == 1 && budOpts.budgetAdjusted)
    // over-budget alone gets the default ceiling min(1000, n/2) = 20
    val budOnly = eng.resolveSearchOptions("t1", "idx", overBudget = true)
    assert(budOnly.maxScans == 20 && budOnly.budgetAdjusted)
    // high-priority tenant is protected from degradation entirely
    val hiPri = eng.resolveSearchOptions("t1", "idx", degraded = true, priority = 0)
    assert(hiPri == eng.SearchOptions(0, false, false))

    // the capped options actually bound the miss-path candidates
    val q2 = q(9L, Seq(5f, 30f, 1f))
    val capped = eng.searchCached("t1", "idx", q2, k = 40, nprobe = 4,
      now = 1010L, options = degOpts).collect()
    assert(capped.nonEmpty && capped.length <= 6, s"got ${capped.length}")
  }

  test("prefetchIntoCache warms L2 entries that searchCached then hits") {
    val root = Files.createTempDirectory("engine_prefetch").toString
    val eng = new GraftEngine(spark, root)
    val recs = (0 until 40).map { i =>
      (s"v$i", Seq(i.toFloat, (40 - i).toFloat, 1f), null: String, Seq.empty[String], 100L)
    }
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 4)

    val preds = eng.centroids("t1", "idx").select("cluster_id")
    val n = eng.prefetchIntoCache("t1", "idx", preds, k = 3, now = 1000L)
    assert(n == 4L)
    assert(eng.cacheEntries("t1", "idx")
      .filter(col("layer") === "L2").count() == 4)

    // probing with a centroid itself → admitted to its own cluster → L2 hit
    val qs = eng.centroids("t1", "idx")
      .select(col("cluster_id").cast("long").as("query_id"),
        col("centroid").as("qvec"))
    val hits = eng.searchCached("t1", "idx", qs, k = 3, nprobe = 4, now = 1010L)
      .collect()
    assert(hits.nonEmpty)
    assert(hits.forall(_.getAs[Boolean]("cache_hit")))
    assert(hits.forall(_.getAs[String]("layer") == "L2"))

    // prefetch entries expire like any cache entry (5-min default TTL)
    val later = eng.searchCached("t1", "idx", qs, k = 3, nprobe = 4, now = 99999L)
      .collect()
    assert(later.forall(!_.getAs[Boolean]("cache_hit")))
  }

  test("compactIncremental folds head into tail against the existing codebook") {
    val root = Files.createTempDirectory("engine_compact").toString
    val eng = new GraftEngine(spark, root)
    val recs = (0 until 30).map { i =>
      (s"v$i", Seq(i.toFloat, (30 - i).toFloat, 1f), null: String, Seq.empty[String], 100L)
    }
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 3)
    val centsBefore = eng.centroids("t1", "idx")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSet

    // fresh writes + a delete after the build
    eng.upsert(mkRecords(Seq(
      ("w0", Seq(100f, 1f, 1f), """{"fresh":1}""", Seq.empty[String], 200L))))
    eng.delete("t1", "idx", Seq("v5"), version = 300L)

    eng.compactIncremental("t1", "idx")
    // centroids untouched (no retrain)
    val centsAfter = eng.centroids("t1", "idx")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSet
    assert(centsAfter == centsBefore)

    // folded: w0 served from the tail, v5 gone, head empty (watermark moved)
    val hit = eng.search("t1", "idx", q(1L, Seq(100f, 1f, 1f)), k = 1,
      nprobe = 3, withMeta = true).collect()
    assert(hit.head.getAs[String]("id") == "w0")
    assert(hit.head.getAs[String]("meta") == """{"fresh":1}""")
    val all = eng.search("t1", "idx", q(2L, Seq(5f, 25f, 1f)), k = 30,
      nprobe = 3).collect()
    assert(!all.map(_.getAs[String]("id")).contains("v5"))
    assert(all.length == 30) // 30 - v5 + w0
    assert(eng.stats("t1", "idx").agg(sum("n_vectors")).head.getLong(0) == 30)
  }

  test("numeric_fields map is stored and survives the LWW current-state view") {
    val root = Files.createTempDirectory("engine_numf").toString
    val eng = new GraftEngine(spark, root)
    // first write without the column (optional input), then an upsert WITH it
    eng.add(mkRecords(Seq(("d1", Seq(1f, 0f, 0f), null, Seq.empty[String], 100L))))
    eng.upsert(mkRecords(Seq(("d1", Seq(1f, 0f, 0f), null, Seq.empty[String], 200L)))
      .withColumn("numeric_fields",
        map(lit("price"), lit(9.5), lit("stock"), lit(3.0))))
    val cur = eng.currentState("t1", "idx").collect()
    assert(cur.length == 1)
    val nf = cur.head.getAs[Map[String, Double]]("numeric_fields")
    assert(nf == Map("price" -> 9.5, "stock" -> 3.0))
  }

  test("build metric persists: compaction keeps it, mismatched searches are rejected") {
    val root = Files.createTempDirectory("engine_metric").toString
    val eng = new GraftEngine(spark, root)
    val xs = (0 until 15).map(i =>
      (s"x$i", Seq(5f + i, 0.01f, 0f), null: String, Seq.empty[String], 100L))
    val ys = (0 until 15).map(i =>
      (s"y$i", Seq(0.01f, 5f + i, 0f), null: String, Seq.empty[String], 100L))
    eng.add(mkRecords(xs ++ ys))
    eng.build("t1", "idx", nlist = 2, metric = "COSINE")
    assert(eng.manifest("t1", "idx").metric == "COSINE")

    // the tail's cluster geometry is cosine-trained: L2 probes would rank
    // against the wrong geometry, so the mismatch is rejected up front
    intercept[IllegalArgumentException] {
      eng.search("t1", "idx", q(1L, Seq(1f, 0f, 0f)), k = 1)
    }
    intercept[IllegalArgumentException] {
      eng.searchCached("t1", "idx", q(1L, Seq(1f, 0f, 0f)), k = 1, now = 0L)
    }

    // fold a fresh low-magnitude x-direction record: compaction must assign
    // by the persisted cosine metric and keep serving it on the x list
    eng.upsert(mkRecords(Seq(
      ("tiny", Seq(0.5f, 0.01f, 0f), null, Seq.empty[String], 200L))))
    eng.compactIncremental("t1", "idx")
    assert(eng.manifest("t1", "idx").metric == "COSINE")
    val hits = eng.search("t1", "idx", q(2L, Seq(1f, 0.001f, 0f)), k = 16,
      metric = "COSINE", nprobe = 1).collect()
    assert(hits.map(_.getAs[String]("id")).contains("tiny"))
  }

  test("searchCached deduplicates query_ids: warm repeat batch bills one hit, no miss") {
    val root = Files.createTempDirectory("engine_dupq").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 20).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 2)
    // the same query_id twice in one batch (same vector)
    val dup = q(1L, Seq(3f, 1f, 0f)).unionByName(q(1L, Seq(3f, 1f, 0f)))
    eng.searchCached("t1", "idx", dup, k = 3, nprobe = 2, now = 1000L).collect()
    val warm = eng.searchCached("t1", "idx", dup, k = 3, nprobe = 2, now = 1010L)
      .collect()
    assert(warm.nonEmpty && warm.forall(_.getAs[Boolean]("cache_hit")))
    val mlog = spark.read.parquet(s"$root/metrics/t1/idx").orderBy("ts").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(mlog.toSeq == Seq((0L, 1L), (1L, 0L)), mlog.toSeq.toString)
  }

  test("searchCached caches zero-hit misses: the repeat query hits, not re-scans") {
    val root = Files.createTempDirectory("engine_zerohit").toString
    val eng = new GraftEngine(spark, root)
    val recs = (0 until 20).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq("present"), 100L))
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 2)

    // a filter no record satisfies → the search legitimately returns 0 hits
    val qz = q(1L, Seq(3f, 1f, 0f), Seq("no_such_tag"))
    val cold = eng.searchCached("t1", "idx", qz, k = 3, nprobe = 2, now = 1000L)
      .collect()
    assert(cold.isEmpty)

    // the empty result was cached: the warm call bills a hit, not a second
    // miss (the reference caches the serialized empty list, ResultCache.cs)
    val warm = eng.searchCached("t1", "idx", qz, k = 3, nprobe = 2, now = 1010L)
      .collect()
    assert(warm.isEmpty)
    val mlog = spark.read.parquet(s"$root/metrics/t1/idx").orderBy("ts").collect()
    assert(mlog.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 1L), (1L, 0L)))
  }

  test("upsertStream: micro-batches land as last-write-wins records with epoch bumps") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("engine_stream").toString
    val eng = new GraftEngine(spark, root)
    val src = Files.createTempDirectory("stream_src").toString

    val schema = StructType(Seq(
      StructField("tenant_id", StringType), StructField("index_name", StringType),
      StructField("id", StringType),
      StructField("vector", ArrayType(FloatType)),
      StructField("meta", StringType),
      StructField("tags", ArrayType(StringType)),
      StructField("updated_at", LongType)))
    def mkBatch(rows: Seq[(String, Seq[Float], Long)], sub: String): Unit =
      rows.map { case (id, v, ts) => ("t1", "idx", id, v, null: String, null: Seq[String], ts) }
        .toDF("tenant_id", "index_name", "id", "vector", "meta", "tags", "updated_at")
        .coalesce(1).write.parquet(s"$src/$sub")

    mkBatch((0 until 10).map(i => (s"v$i", Seq(i.toFloat, 1f), 100L)), "b1")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/b*/")
    val q = eng.upsertStream(stream, Files.createTempDirectory("ckpt").toString)
    try {
      q.processAllAvailable()
      assert(eng.currentState("t1", "idx").count() == 10)
      val e1 = eng.epoch("t1", "idx")

      // second micro-batch rewrites v3 (LWW) and adds one
      mkBatch(Seq(("v3", Seq(99f, 99f), 200L), ("v10", Seq(10f, 1f), 200L)), "b2")
      q.processAllAvailable()
      assert(eng.currentState("t1", "idx").count() == 11)
      assert(eng.epoch("t1", "idx") > e1) // stream writes invalidate caches
      val v3 = eng.currentState("t1", "idx").filter(col("id") === "v3")
        .select("vector").head.getSeq[Float](0)
      assert(v3 == Seq(99f, 99f))
    } finally q.stop()
  }

  test("engine IVF_PQ refine: exact rerank over retained raw vectors reproduces the exact top-k") {
    val root = Files.createTempDirectory("engine_refine").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(11)
    val recs = (0 until 80).map(i =>
      (s"v$i", Seq.fill(8)(rng.nextFloat()), null: String, Seq.empty[String], 100L))
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 4, algo = "IVF_PQ", pqM = 4, pqK = 16)
    val qv = Seq.fill(8)(rng.nextFloat())
    // local exact-L2 oracle (same double accumulation as the engine kernel)
    val expected = recs.map { case (id, v, _, _, _) =>
      (id, -v.zip(qv).map { case (a, b) => val d = a.toDouble - b; d * d }.sum)
    }.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    // rerank-all (refine·k ≥ corpus): served ranks must be exact
    val got = eng.search("t1", "idx", q(1L, qv), k = 5, nprobe = 4, refine = 16)
      .collect().map(_.getAs[String]("id")).toSeq
    assert(got == expected)
    // ADC-only ranks may differ from exact but serve the same k
    assert(eng.search("t1", "idx", q(2L, qv), k = 5, nprobe = 4).count() == 5)
  }

  test("engine IVF_PQ COSINE: normalized codes rank by cosine; head merges on the same scale") {
    val root = Files.createTempDirectory("engine_pq_cos").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(13)
    // wildly varying norms: cosine ranking must diverge from L2 ranking,
    // so a tail accidentally serving raw L2 would fail the oracle
    val recs = (0 until 80).map { i =>
      val scale = 0.1f + 10f * rng.nextFloat()
      (s"v$i", Seq.fill(8)(rng.nextFloat() * scale), null: String,
        Seq.empty[String], 100L)
    }
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 4, metric = "COSINE", algo = "IVF_PQ",
      pqM = 4, pqK = 16)
    val qv = Seq.fill(8)(rng.nextFloat())
    def cos(v: Seq[Float]): Double = {
      val dot = v.zip(qv).map { case (a, b) => a.toDouble * b }.sum
      val na = math.sqrt(v.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(qv.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val expected = recs.map { case (id, v, _, _, _) => (id, cos(v)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    // rerank-all: exact cosine top-k (rank equality with the local oracle)
    val got = eng.search("t1", "idx", q(1L, qv), k = 5, metric = "COSINE",
        nprobe = 4, refine = 16)
      .collect().map(_.getAs[String]("id")).toSeq
    assert(got == expected)
    // ADC-only scores fold onto the cosine scale (1 + adc/2 ∈ ~[-1, 1])
    val adcScores = eng.search("t1", "idx", q(2L, qv), k = 5,
        metric = "COSINE", nprobe = 4)
      .collect().map(_.getAs[Double]("score"))
    assert(adcScores.length == 5)
    assert(adcScores.forall(s => s >= -1.05 && s <= 1.05), adcScores.toSeq)
    // head merge on one scale: a post-build write aligned with the query
    // but at 100× norm has cos = 1 and must outrank every tail row
    val aligned = qv.map(_ * 100f)
    eng.add(mkRecords(Seq(("vnew", aligned, null, Seq.empty[String], 200L))))
    val merged = eng.search("t1", "idx", q(3L, qv), k = 3, metric = "COSINE",
      nprobe = 4, refine = 32).collect()
    assert(merged.head.getAs[String]("id") == "vnew", merged.toSeq)
    // metric mismatches still fail fast
    intercept[IllegalArgumentException] {
      eng.search("t1", "idx", q(4L, qv), k = 3, metric = "IP")
    }
    intercept[IllegalArgumentException] {
      eng.search("t1", "idx", q(4L, qv), k = 3, metric = "L2")
    }
  }

  test("engine IVF_PQ IP: MIPS-augmented codes rank by dot product; head merges on the same scale") {
    val root = Files.createTempDirectory("engine_pq_ip").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(19)
    // wildly varying norms: IP ranking diverges from both L2 and cosine,
    // so a tail silently serving either would fail the oracle
    val recs = (0 until 80).map { i =>
      val scale = 0.1f + 10f * rng.nextFloat()
      (s"v$i", Seq.fill(8)(rng.nextFloat() * scale), null: String,
        Seq.empty[String], 100L)
    }
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 4, metric = "IP", algo = "IVF_PQ",
      pqM = 4, pqK = 16)
    val qv = Seq.fill(8)(rng.nextFloat())
    def dot(v: Seq[Float]): Double =
      v.zip(qv).map { case (a, b) => a.toDouble * b }.sum
    val expected = recs.map { case (id, v, _, _, _) => (id, dot(v)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    // rerank-all: exact dot top-k (rank + score equality with the oracle)
    val got = eng.search("t1", "idx", q(1L, qv), k = 5, metric = "IP",
        nprobe = 4, refine = 16)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Double]("score")))
    assert(got.map(_._1).toSeq == expected)
    val exactByIds = recs.map { case (id, v, _, _, _) => id -> dot(v) }.toMap
    got.foreach { case (id, s) => assert(math.abs(s - exactByIds(id)) < 1e-9) }
    // ADC-only: the fold (score + ‖q‖² + M²)/2 must land ON the dot scale,
    // not merely rank by it — a wrong persisted M² shifts every score by a
    // constant (≈ M²/2) that ranks identically but fails this closeness
    // check. The tolerance is the PQ-quantization scale (this corpus has
    // deliberately huge norm spread, so codes are coarse): M²/6 ≈ 65 here,
    // well under the ≈ M²/2 ≈ 195 shift a wrong constant produces.
    val maxSq = recs.map { case (_, v, _, _, _) =>
      v.map(x => x.toDouble * x).sum }.max
    val adc = eng.search("t1", "idx", q(2L, qv), k = 5, metric = "IP",
        nprobe = 4)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Double]("score")))
    assert(adc.length == 5)
    adc.foreach { case (id, s) =>
      assert(math.abs(s - exactByIds(id)) < maxSq / 6,
        s"$id folded=$s exact=${exactByIds(id)} maxSq=$maxSq") }
    // head merge on one scale: a post-build write with a huge aligned
    // vector has the largest dot product and must outrank every tail row
    eng.add(mkRecords(Seq(("vbig", qv.map(_ * 50f), null, Seq.empty[String], 200L))))
    val merged = eng.search("t1", "idx", q(3L, qv), k = 3, metric = "IP",
      nprobe = 4).collect()
    assert(merged.head.getAs[String]("id") == "vbig", merged.toSeq)
    // cross-metric searches of the augmented tail fail fast
    intercept[IllegalArgumentException] {
      eng.search("t1", "idx", q(4L, qv), k = 3, metric = "L2")
    }
    intercept[IllegalArgumentException] {
      eng.search("t1", "idx", q(4L, qv), k = 3, metric = "COSINE")
    }
  }

  test("engine searchRows: zero-job serving equals the DataFrame plan; dirty head merges driver-side") {
    val root = Files.createTempDirectory("engine_rows").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(23)
    val recs = (0 until 60).map(i =>
      (s"v$i", Seq.fill(6)(rng.nextFloat()), null: String, Seq.empty[String], 100L))
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 4)
    val qs = (0 until 3).map(i =>
      (i.toLong, Array.fill(6)(rng.nextFloat()))).toArray
    def slow(k: Int): Seq[(Long, Int, String, Double)] = {
      val qDf = qs.toSeq.map { case (q, v) => (q, v.toSeq) }
        .toDF("query_id", "qvec")
      eng.search("t1", "idx", qDf, k, nprobe = 4).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
        .toSeq
    }
    // head-clean: the packed fast path IS the whole answer — exact
    // equality with the DataFrame plan, scores included (same kernels,
    // same surrogate tie-break)
    val fast = eng.searchRows("t1", "idx", qs, k = 5, nprobe = 4)
    assert(fast.sortBy(r => (r._1, r._2)).toSeq == slow(5))
    // post-build writes dirty the head: the driver-side delta merge must
    // serve the fresh row (exact query match), mask the tombstone AND the
    // re-written id, and stay equal to the DataFrame plan
    eng.add(mkRecords(Seq(
      ("vnew", qs(0)._2.toSeq, null, Seq.empty[String], 200L))))
    eng.upsert(mkRecords(Seq(
      ("v0", recs(1)._2, null, Seq.empty[String], 205L)))) // re-write v0
    eng.delete("t1", "idx", Seq("v5"), version = 210L)
    val merged = eng.searchRows("t1", "idx", qs, k = 5, nprobe = 4)
    assert(merged.find(r => r._1 == 0L && r._2 == 1).map(_._3).contains("vnew"),
      merged.toSeq)
    assert(!merged.exists(_._3 == "v5"), "tombstoned id must be masked")
    assert(merged.sortBy(r => (r._1, r._2)).toSeq == slow(5))
    // metric gate matches the DataFrame entry
    intercept[IllegalArgumentException] {
      eng.searchRows("t1", "idx", qs, k = 1, metric = "COSINE")
    }
    // IVF_PQ tails: the resident byte-code tier serves rows-native —
    // same answer as the full plan, scores included (ADC fold parity)
    eng.add(mkRecords(recs).withColumn("index_name", lit("pq")))
    eng.build("t1", "pq", nlist = 4, algo = "IVF_PQ", pqM = 2, pqK = 8)
    val viaPq = eng.searchRows("t1", "pq", qs, k = 3, nprobe = 4)
    val qDf = qs.toSeq.map { case (q, v) => (q, v.toSeq) }
      .toDF("query_id", "qvec")
    val planRows = eng.search("t1", "pq", qDf, 3, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    assert(viaPq.sortBy(r => (r._1, r._2)).toSeq ==
      planRows.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("engine searchRows IVF_PQ: resident tier equals the plan for COSINE/IP folds and dirty heads") {
    val root = Files.createTempDirectory("engine_pqrows").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(41)
    // norm spread so IP ranking genuinely diverges from L2/cosine
    val recs = (0 until 60).map { i =>
      val s = 0.5f + (i % 7) * 0.5f
      (s"v$i", Seq.fill(8)(rng.nextFloat() * s), null: String,
        Seq.empty[String], 100L)
    }
    val qs = (0 until 3).map(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat()))).toArray
    val qDf = qs.toSeq.map { case (q, v) => (q, v.toSeq) }
      .toDF("query_id", "qvec")
    def plan(index: String, metric: String): Seq[(Long, Int, String, Double)] =
      eng.search("t1", index, qDf, 4, metric = metric, nprobe = 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2)).toSeq
    def rows(index: String, metric: String): Seq[(Long, Int, String, Double)] =
      eng.searchRows("t1", index, qs, k = 4, metric = metric, nprobe = 3)
        .sortBy(r => (r._1, r._2)).toSeq
    for ((metric, index) <- Seq(("COSINE", "pqc"), ("IP", "pqi"), ("L2", "pql"))) {
      eng.add(mkRecords(recs).withColumn("index_name", lit(index)))
      eng.build("t1", index, nlist = 4, metric = metric, algo = "IVF_PQ",
        pqM = 4, pqK = 16)
      // clean head: resident ADC tier == plan, fold included
      assert(rows(index, metric) == plan(index, metric), s"clean $metric")
      // dirty head: fresh add + tombstone merge driver-side, still == plan
      eng.add(mkRecords(Seq(
        (s"fresh-$index", qs(0)._2.toSeq, null, Seq.empty[String], 200L)))
        .withColumn("index_name", lit(index)))
      eng.delete("t1", index, Seq("v5"), version = 210L)
      val merged = rows(index, metric)
      assert(merged == plan(index, metric), s"dirty $metric")
      assert(!merged.exists(_._3 == "v5"), s"tombstone masked $metric")
      if (metric == "L2") // exact-match query: distance 0 ⇒ rank 1 certain
        assert(merged.exists(_._3 == s"fresh-$index"), s"fresh row served")
    }
  }

  test("engine searchRows HNSW: resident graph tier equals the plan incl. dirty head") {
    val root = Files.createTempDirectory("engine_hnswrows").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(53)
    val recs = (0 until 80).map(i =>
      (s"v$i", Seq.fill(6)(rng.nextFloat()), null: String,
        Seq.empty[String], 100L))
    eng.add(mkRecords(recs).withColumn("index_name", lit("hn")))
    eng.build("t1", "hn", nlist = 3, algo = "HNSW")
    val qs = (0 until 3).map(i =>
      (i.toLong, Array.fill(6)(rng.nextFloat()))).toArray
    val qDf = qs.toSeq.map { case (q0, v) => (q0, v.toSeq) }
      .toDF("query_id", "qvec")
    def plan(k: Int): Seq[(Long, Int, String, Double)] =
      eng.search("t1", "hn", qDf, k, nprobe = 4).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2)).toSeq
    // clean head: resident graph tier, candidate pool == the plan's
    // parts×k fan-out, bit-equal rows
    val (rows0, tr0) = eng.searchRowsTraced("t1", "hn", qs, k = 5, nprobe = 4)
    assert(tr0.path == "head+hnswtail", tr0)
    assert(rows0.sortBy(r => (r._1, r._2)).toSeq == plan(5))
    // dirty head: fresh add (exact-match rank 1), re-write, tombstone —
    // both tiers over-fetch k + maskInTail before the cut, so masking
    // backfills identically (ConcurrencySpec caught the cut-then-mask
    // shortfall this pins)
    eng.add(mkRecords(Seq(
      ("vnew", qs(0)._2.toSeq, null, Seq.empty[String], 200L)))
      .withColumn("index_name", lit("hn")))
    eng.upsert(mkRecords(Seq(
      ("v0", recs(1)._2, null, Seq.empty[String], 205L)))
      .withColumn("index_name", lit("hn")))
    eng.delete("t1", "hn", Seq("v5"), version = 210L)
    val (merged, tr1) = eng.searchRowsTraced("t1", "hn", qs, k = 5, nprobe = 4)
    assert(tr1.path == "head+hnswtail", tr1)
    assert(merged.find(r => r._1 == 0L && r._2 == 1).map(_._3).contains("vnew"))
    assert(!merged.exists(_._3 == "v5"))
    assert(merged.sortBy(r => (r._1, r._2)).toSeq == plan(5))
  }

  test("per-call trace: serving path, head/tail counts, cache layers, timing") {
    val root = Files.createTempDirectory("engine_trace").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(31)
    val recs = (0 until 40).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), null: String, Seq.empty[String], 100L))
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 2)
    val qs = Array((0L, Array.fill(4)(rng.nextFloat())))
    // clean head: the zero-job path, no head rows scanned, some tail rows
    val (rows0, tr0) = eng.searchRowsTraced("t1", "idx", qs, k = 3, nprobe = 2)
    assert(rows0.nonEmpty)
    assert(tr0.path == "head+tail", tr0)
    assert(tr0.headLive == 0 && tr0.headMasked == 0, tr0)
    assert(tr0.tailRows >= 3, tr0)
    assert(tr0.totalMicros > 0, tr0)
    // dirty head: live + mask counts surface
    eng.add(mkRecords(Seq(("vnew", qs(0)._2.toSeq, null, Seq.empty[String], 200L))))
    eng.delete("t1", "idx", Seq("v5"), version = 210L)
    val (_, tr1) = eng.searchRowsTraced("t1", "idx", qs, k = 3, nprobe = 2)
    assert(tr1.path == "head+tail", tr1)
    assert(tr1.headLive == 1, tr1) // vnew
    // every head-written id masks same-id tail rows: vnew + v5 tombstone
    assert(tr1.headMasked == 2, tr1)
    // IVF_PQ tail: the resident byte-code tier flags its own path name
    // and reports real counts (clean head here)
    eng.add(mkRecords(recs).withColumn("index_name", lit("pq")))
    eng.build("t1", "pq", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    val (_, tr2) = eng.searchRowsTraced("t1", "pq", qs, k = 3, nprobe = 2)
    assert(tr2.path == "head+pqtail", tr2)
    assert(tr2.headLive == 0 && tr2.tailRows >= 3, tr2)
    // cached path: miss records probed layers, hit records the layer
    val qv = recs(3)._2.toArray
    val (lm, _, trMiss) = eng.searchCachedRowsTraced("t1", "idx", 7L, qv,
      k = 3, nprobe = 2, now = 1000L)
    assert(lm == "MISS" && trMiss.path == "cache-miss", trMiss)
    assert(trMiss.probedLayers.contains("L0"), trMiss)
    assert(trMiss.cacheLayer.isEmpty, trMiss)
    val (lh, _, trHit) = eng.searchCachedRowsTraced("t1", "idx", 7L, qv,
      k = 3, nprobe = 2, now = 1005L)
    assert(lh == "L0" && trHit.path == "cache-hit", trHit)
    assert(trHit.cacheLayer.contains("L0"), trHit)
    assert(trHit.probedLayers.headOption.contains("L0"), trHit)
    assert(trHit.totalMicros > 0, trHit)
  }

  test("searchCachedRows: resident L0 hit parity with the batch cascade; TTL and epoch invalidate") {
    val root = Files.createTempDirectory("engine_l0rows").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 30).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 2)
    val qv = Array(3f, 1f, 0f)
    val qDf = q(7L, qv.toSeq)
    // populate via the batch cascade, then capture its warm-hit answer
    eng.searchCached("t1", "idx", qDf, k = 5, nprobe = 2, now = 1000L)
    val warm = eng.searchCached("t1", "idx", qDf, k = 5, nprobe = 2, now = 1005L)
      .collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("id"),
        r.getAs[Double]("score"))).toSeq
    // resident probe: L0 HIT, identical rows, no batch machinery
    val (hit1, rows1) = eng.searchCachedRows("t1", "idx", 7L, qv, k = 5,
      nprobe = 2, now = 1010L)
    assert(hit1 == "L0", s"expected a resident L0 hit, got $hit1")
    assert(rows1.toSeq == warm)
    // L1: a perturbed query shares the SimHash bucket (same sign pattern)
    // but not the exact L0 key
    val qvNear = Array(3.0000005f, 1f, 0f)
    assert(graft.functions.VectorSimHash.simhash64(qvNear.toSeq, 42L) ==
      graft.functions.VectorSimHash.simhash64(qv.toSeq, 42L))
    val (hitL1, rowsL1) = eng.searchCachedRows("t1", "idx", 8L, qvNear, k = 5,
      nprobe = 2, now = 1012L)
    assert(hitL1 == "L1", s"expected an L1 hit, got $hitL1")
    assert(rowsL1.toSeq == warm)
    // stats see the in-memory hits live; flush persists them
    assert(eng.statsText("t1", "idx").contains("cache_hit_total"))
    eng.flushServingMetrics("t1", "idx", now = 1016L)
    val (h3, _) = eng.searchCachedRows("t1", "idx", 7L, qv, k = 5,
      nprobe = 2, now = 1017L)
    assert(h3 == "L0") // counters flushed, serving unaffected
    // TTL expiry: past expires_at the probe must MISS (batch semantics),
    // the delegated call re-populates, and the next probe hits again
    val (hitExpired, rowsExpired) = eng.searchCachedRows("t1", "idx", 7L, qv,
      k = 5, nprobe = 2, now = 1100L)
    assert(hitExpired == "MISS", "expired entry must not serve")
    assert(rowsExpired.toSeq.map(t => (t._1, t._2)) == warm.map(t => (t._1, t._2)))
    val (hitAfter, _) = eng.searchCachedRows("t1", "idx", 7L, qv, k = 5,
      nprobe = 2, now = 1105L)
    assert(hitAfter == "L0", "re-populated entry must serve")
    // epoch invalidation flips every resident entry stale
    eng.invalidateCache("t1", "idx")
    val (hitStale, _) = eng.searchCachedRows("t1", "idx", 7L, qv, k = 5,
      nprobe = 2, now = 1110L)
    assert(hitStale == "MISS", "epoch bump must invalidate the resident tier")
    // k=3 misses the exact-k L0 key but roundKs into the k=5 bucket, so
    // the L1 layer serves it (batch semantics: L1/L2 keys bucket k) —
    // trimmed to the REQUESTED k
    val (hitK, rowsK) = eng.searchCachedRows("t1", "idx", 7L, qv, k = 3,
      nprobe = 2, now = 1111L)
    assert(hitK == "L1", s"roundK bucket sharing should L1-hit, got $hitK")
    assert(rowsK.forall(_._1 <= 3) && rowsK.length == 3, rowsK.toSeq)
  }

  test("filtered rows serving: conjunctive tag parity with the batch plan; head tags win; cached round-trip") {
    val root = Files.createTempDirectory("engine_ftags").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(47)
    // tags: i%3==0 → red, i%3==1 → blue, i%3==2 → none; even adds "even"
    val recs = (0 until 40).map { i =>
      val base = i % 3 match {
        case 0 => Seq("red"); case 1 => Seq("blue"); case _ => Seq.empty[String]
      }
      val tg = if (i % 2 == 0) base :+ "even" else base
      (s"v$i", Seq.fill(6)(rng.nextFloat()), null: String, tg, 100L)
    }
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 4)
    val qv = Array.fill(6)(rng.nextFloat())
    def plan(tags: Seq[String], k: Int = 5): Seq[(Int, String, Double)] =
      eng.search("t1", "idx", q(1L, qv.toSeq, tags), k, nprobe = 4).collect()
        .map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
    def rowsPath(tags: Seq[String], k: Int = 5): Seq[(Int, String, Double)] = {
      val res = eng.searchRowsFilteredTraced("t1", "idx",
        Array((1L, qv)), k, "L2", 4, tags)
      assert(res.isDefined, "IVF_FLAT corpus must be rows-servable")
      res.get._1.map(r => (r._2, r._3, r._4)).toSeq
    }
    // single tag, multi-tag conjunction, and unknown tag — exact parity
    // (same kernels, same tie-break) with the batch plan's F1 filter
    assert(rowsPath(Seq("red")) == plan(Seq("red")))
    assert(rowsPath(Seq("blue", "even")) == plan(Seq("blue", "even")))
    assert(plan(Seq("blue", "even")).forall { case (_, id, _) =>
      val i = id.drop(1).toInt; i % 3 == 1 && i % 2 == 0
    })
    assert(rowsPath(Seq("nope")).isEmpty && plan(Seq("nope")).isEmpty)
    // head overwrite changes tags: head tags must win over the snapshot's
    // (the batch plan's tagsOf union) on BOTH paths
    eng.upsert(mkRecords(Seq(
      ("v0", recs(0)._2, null, Seq("green"), 200L))))
    val green = rowsPath(Seq("green"))
    assert(green.map(_._2) == Seq("v0"), green)
    assert(green == plan(Seq("green")))
    assert(!rowsPath(Seq("red", "even")).exists(_._2 == "v0"))
    assert(rowsPath(Seq("red", "even")) == plan(Seq("red", "even")))
    // cached wire shape: a FILTER miss serves rows-native (trace carries
    // head/tail counts; the batch fallback would report -1), inserts
    // in-heap under tag-scoped keys, and the repeat call L0-hits
    val (lm, rowsM, trM) = eng.searchCachedRowsTraced("t1", "idx", 99L, qv,
      k = 5, nprobe = 4, now = 1000L, tags = Seq("red", "even"))
    assert(lm == "MISS")
    assert(trM.headLive >= 0, s"filtered miss must serve rows-native: $trM")
    assert(rowsM.toSeq == plan(Seq("red", "even")))
    val (lh, rowsH, _) = eng.searchCachedRowsTraced("t1", "idx", 99L, qv,
      k = 5, nprobe = 4, now = 1005L, tags = Seq("red", "even"))
    assert(lh == "L0", s"repeat filtered call must hit, got $lh")
    assert(rowsH.toSeq == rowsM.toSeq)
    // tag-scoped keys must NOT leak into unfiltered serving: same qvec
    // without FILTER derives different cache keys → its own miss
    val (lu, rowsU, _) = eng.searchCachedRowsTraced("t1", "idx", 100L, qv,
      k = 5, nprobe = 4, now = 1006L)
    assert(lu == "MISS", s"unfiltered call must not hit a tag-scoped entry")
    assert(rowsU.toSeq == plan(Nil).map(t => (t._1, t._2, t._3)))
    // IVF_PQ tails serve filtered calls rows-native through the resident
    // byte-code tier — exact parity with the batch plan's filtered answer
    eng.add(mkRecords(recs).withColumn("index_name", lit("pq")))
    eng.build("t1", "pq", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    def planPq(tags: Seq[String]): Seq[(Int, String, Double)] =
      eng.search("t1", "pq", q(1L, qv.toSeq, tags), 3, nprobe = 2).collect()
        .map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
    val resPq = eng.searchRowsFilteredTraced("t1", "pq",
      Array((1L, qv)), 3, "L2", 2, Seq("red"))
    assert(resPq.isDefined, "resident PQ corpus must be rows-servable")
    assert(resPq.get._2.path == "head+pqtail-filtered", resPq.get._2)
    assert(resPq.get._1.map(r => (r._2, r._3, r._4)).toSeq == planPq(Seq("red")))
    val (lpq, rowsPq, trPq) = eng.searchCachedRowsTraced("t1", "pq", 101L,
      qv, k = 3, nprobe = 2, now = 1010L, tags = Seq("red"))
    assert(lpq == "MISS" && trPq.headLive >= 0, trPq) // rows-native now
    assert(rowsPq.toSeq == planPq(Seq("red")))
  }

  test("crash recovery: the pending-queue loss window is bounded and converges; flushed state survives") {
    val root = Files.createTempDirectory("engine_crash").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 30).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 2)
    val qvA = Array(4f, 1f, 0f); val qvB = Array(9f, 1f, 0f)
    // miss A served rows-native, then the deterministic flush makes its
    // entry + billing durable
    val (mA, rowsA) = eng.searchCachedRows("t1", "idx", 1L, qvA, k = 3,
      nprobe = 2, now = 1000L)
    assert(mA == "MISS")
    eng.flushCachePending("t1", "idx")
    // miss B stays in the pending window (< 256 rows, < 1 s old): this is
    // exactly the documented crash-loss bound. k = 8 rounds into a
    // different L1/L2 bucket than A's k = 3, so no cache layer can
    // legitimately alias the two (A's entry serving B via the simhash
    // bucket would be CORRECT cache semantics, not a crash artifact).
    val (mB, rowsB) = eng.searchCachedRows("t1", "idx", 2L, qvB, k = 8,
      nprobe = 2, now = 1001L)
    assert(mB == "MISS")
    // CRASH: a fresh engine on the same root has none of the old
    // instance's heap (resident maps, pending queue, counters) — only
    // what was flushed
    val eng2 = new GraftEngine(spark, root)
    // flushed entry A survives the restart and serves from the reloaded
    // resident tier with the exact pre-crash rows
    val (hA, rowsA2) = eng2.searchCachedRows("t1", "idx", 1L, qvA, k = 3,
      nprobe = 2, now = 1002L)
    assert(hA == "L0", s"flushed entry must survive restart, got $hA")
    assert(rowsA2.toSeq == rowsA.toSeq)
    // pending entry B is the ≤256-row/1-s loss: the repeat call MISSES —
    // a recompute with the same correct answer, never a wrong one
    val (hB, rowsB2) = eng2.searchCachedRows("t1", "idx", 2L, qvB, k = 8,
      nprobe = 2, now = 1003L)
    assert(hB == "MISS", "unflushed pending entry is lost by design")
    assert(rowsB2.toSeq == rowsB.toSeq, "recompute must equal the lost answer")
    // and serving converges: the recompute re-inserted in-heap
    val (hB2, rowsB3) = eng2.searchCachedRows("t1", "idx", 2L, qvB, k = 8,
      nprobe = 2, now = 1004L)
    assert(hB2 == "L0")
    assert(rowsB3.toSeq == rowsB.toSeq)
    // billing floor: the flush persisted miss A before the crash; miss B's
    // in-memory counter died with the instance (documented). The durable
    // log must hold exactly the flushed count — not zero, not B's too.
    val metrics = spark.read.parquet(s"$root/metrics/t1/idx")
      .agg(sum("misses")).head.getLong(0)
    assert(metrics == 1L, s"expected exactly the flushed miss, got $metrics")
  }

  test("rows-native miss populate: locally-written entries serve BOTH the rows and batch cascades") {
    val root = Files.createTempDirectory("engine_rowsmiss").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 30).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 2)
    val qv = Array(4f, 1f, 0f)
    // COLD rows call: the miss serves via the zero-job tier, lands
    // in-heap immediately, and queues its durable append (no batch
    // machinery, no per-call parquet write)
    val (m1, rows1) = eng.searchCachedRows("t1", "idx", 7L, qv, k = 5,
      nprobe = 2, now = 1000L)
    assert(m1 == "MISS")
    assert(rows1.nonEmpty && rows1.head._2 == "v4") // nearest is v4 itself
    // repeat rows call hits the in-heap resident update — no reload race,
    // and no durable flush required first
    val (h1, rowsHit) = eng.searchCachedRows("t1", "idx", 7L, qv, k = 5,
      nprobe = 2, now = 1005L)
    assert(h1 == "L0" && rowsHit.toSeq == rows1.toSeq)
    // cross-path compat: after the deterministic pending flush, the BATCH
    // cascade reads the parquet-mr-written entry as a first-class hit
    // (schema/encoding parity with Spark's own writes) — first batch
    // call, yet cache_hit=true at L0
    eng.flushCachePending("t1", "idx")
    val batch = eng.searchCached("t1", "idx", q(7L, qv.toSeq), k = 5,
      nprobe = 2, now = 1010L)
      .select("query_id", "cache_hit", "layer", "rank", "id", "score").collect()
    assert(batch.nonEmpty && batch.forall(_.getBoolean(1)),
      s"batch cascade must hit the locally-written entry: ${batch.toSeq}")
    assert(batch.forall(_.getString(2) == "L0"))
    assert(batch.map(r => (r.getInt(3), r.getString(4), r.getDouble(5))).toSeq
      .sortBy(_._1) == rows1.toSeq.sortBy(_._1))
    // and the GC compactor folds the mixed dir without losing the entry
    eng.compactCacheEntries("t1", "idx", now = 1015L)
    val (h2, rows2) = eng.searchCachedRows("t1", "idx", 7L, qv, k = 5,
      nprobe = 2, now = 1020L)
    assert(h2 == "L0" && rows2.toSeq == rows1.toSeq)
    // zero-hit miss is cached too (selective corpus: impossible tag-free
    // query still returns the top-k, so use an empty index instead)
    val eng2 = new GraftEngine(spark,
      Files.createTempDirectory("engine_rowsmiss2").toString)
    eng2.add(mkRecords(Seq(("only", Seq(0f, 0f, 1f), null, Seq.empty[String], 100L))))
    eng2.build("t1", "idx", nlist = 1)
    eng2.delete("t1", "idx", Seq("only"), version = 200L)
    val (mz, rz) = eng2.searchCachedRows("t1", "idx", 1L, Array(0f, 0f, 1f),
      k = 3, nprobe = 1, now = 1000L)
    assert(mz == "MISS" && rz.isEmpty)
    val (hz, rz2) = eng2.searchCachedRows("t1", "idx", 1L, Array(0f, 0f, 1f),
      k = 3, nprobe = 1, now = 1005L)
    assert(hz == "L0" && rz2.isEmpty, "zero-hit entry must serve the repeat")
    // the zero-hit entry survives the durable flush too (empty hits array
    // roundtrips the parquet-mr LIST encoding)
    eng2.flushCachePending("t1", "idx")
    val ent = eng2.cacheEntries("t1", "idx")
      .filter(org.apache.spark.sql.functions.col("layer") === "L0").collect()
    assert(ent.nonEmpty && ent.forall(_.getSeq[Any](
      ent.head.fieldIndex("hits")).isEmpty))
  }

  test("rows-native miss pending queue: flushCache drops pending inserts; misses are billed in memory") {
    val root = Files.createTempDirectory("engine_pending").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 10).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 1)
    val (m1, _) = eng.searchCachedRows("t1", "idx", 1L, Array(2f, 1f, 0f),
      k = 3, nprobe = 1, now = 1000L)
    assert(m1 == "MISS")
    // the miss is billed live from memory before any flush
    assert(eng.statsText("t1", "idx").contains("cache_miss_total 1"))
    // an explicit cache flush must drop the pending insert — a later
    // pending flush cannot resurrect an explicitly flushed entry
    eng.flushCache("t1", "idx")
    eng.flushCachePending("t1", "idx")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/cache/t1/idx/entries")),
      "flushed cache must stay empty after a pending flush")
    // ...and the flush must also evict the IN-HEAP copy: on a fresh index
    // the entries dir has never existed, so its fingerprint is 0 both
    // before the first write and after the flush — a stale resident map
    // would serve the flushed entry as an L0 hit forever. The repeat
    // query must MISS.
    val (m2, _) = eng.searchCachedRows("t1", "idx", 1L, Array(2f, 1f, 0f),
      k = 3, nprobe = 1, now = 1001L)
    assert(m2 == "MISS", s"flushed entry kept serving from the resident map: $m2")
    // durable billing: flushAllServingMetrics persists the in-memory
    // counters (the shutdown hook's path), after which the metrics log
    // itself carries both misses
    eng.flushAllServingMetrics(now = 1002L)
    assert(eng.statsText("t1", "idx").contains("cache_miss_total 2"))
    assert(spark.read.parquet(s"$root/metrics/t1/idx")
      .agg(org.apache.spark.sql.functions.sum("misses")).head.getLong(0) == 2L)
  }

  test("rows-native miss quota: at-quota pending flush rejects the append, the miss still served") {
    val root = Files.createTempDirectory("engine_pendquota").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 10).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 1)
    // cacheMemoryMb = 0 → the durable table is permanently at quota
    val (m1, rows1) = eng.searchCachedRows("t1", "idx", 1L, Array(2f, 1f, 0f),
      k = 3, nprobe = 1, now = 1000L, cacheMemoryMb = 0)
    assert(m1 == "MISS" && rows1.nonEmpty)
    eng.flushCachePending("t1", "idx")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/cache/t1/idx/entries")),
      "at-quota flush must reject the durable append")
    // the in-heap copy still serves (bounded by TTL/epoch), mirroring the
    // batch path's 'miss served, just not cached durably'
    val (h1, _) = eng.searchCachedRows("t1", "idx", 1L, Array(2f, 1f, 0f),
      k = 3, nprobe = 1, now = 1001L, cacheMemoryMb = 0)
    assert(h1 == "L0")
    // a steady at-quota tenant: a sweep that freed nothing is memoized, so
    // the next at-quota flush at the same logical time submits no job
    val (m2, _) = eng.searchCachedRows("t1", "idx", 2L, Array(-3f, 5f, 2f),
      k = 3, nprobe = 1, now = 1002L)
    assert(m2 == "MISS")
    eng.flushCachePending("t1", "idx")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/cache/t1/idx/entries")))
    def atQuotaMissFlushJobs(qid: Long, qv: Array[Float]): Int = {
      val (mq, _) = eng.searchCachedRows("t1", "idx", qid, qv, k = 3,
        nprobe = 1, now = 1003L, cacheMemoryMb = 0)
      assert(mq == "MISS")
      jobsDuring(eng.flushCachePending("t1", "idx"))._2
    }
    atQuotaMissFlushJobs(3L, Array(1f, -4f, 7f))
    val jobs = atQuotaMissFlushJobs(4L, Array(-6f, -2f, -5f))
    assert(jobs == 0, s"a fruitless at-quota sweep re-ran: $jobs job(s)")
  }

  test("searchCachedRows: prefetch-warmed L2 entries serve per-call cluster hits") {
    val root = Files.createTempDirectory("engine_l2rows").toString
    val eng = new GraftEngine(spark, root)
    // two tight clusters far apart; centroids land ~on the cluster means
    val recs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 0f else 100f
      (s"v$i", Seq(base + (i / 2) * 1e-3f, 1f, 0f), null: String,
        Seq.empty[String], 100L)
    }
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 2)
    val cents = eng.centroids("t1", "idx").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    eng.prefetchIntoCache("t1", "idx",
      cents.map(_._1).toSeq.toDF("cluster_id"), k = 5, now = 1000L)
    // a query AT a centroid passes the closeness bound → per-call L2 hit
    val (layer, rows) = eng.searchCachedRows("t1", "idx", 9L, cents.head._2,
      k = 5, nprobe = 2, now = 1010L)
    assert(layer == "L2", s"expected a prefetch-warmed L2 hit, got $layer")
    assert(rows.nonEmpty)
  }

  test("engine IVF_FLAT IP metric: exhaustive probes reproduce the exact dot-product top-k") {
    val root = Files.createTempDirectory("engine_ip").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(17)
    // varying norms again: IP ranking differs from both L2 and cosine,
    // so a path silently scoring another metric fails the oracle
    val recs = (0 until 60).map { i =>
      val scale = 0.1f + 5f * rng.nextFloat()
      (s"v$i", Seq.fill(6)(rng.nextFloat() * scale), null: String,
        Seq.empty[String], 100L)
    }
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 4, metric = "IP")
    val qv = Seq.fill(6)(rng.nextFloat())
    val expected = recs.map { case (id, v, _, _, _) =>
      (id, v.zip(qv).map { case (a, b) => a.toDouble * b }.sum)
    }.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    val got = eng.search("t1", "idx", q(1L, qv), k = 5, metric = "IP",
        nprobe = 4)
      .collect().map(_.getAs[String]("id")).toSeq
    assert(got == expected)
    // head merge stays on the IP scale: a post-build write with a huge
    // aligned vector has the largest dot product and must rank first
    eng.add(mkRecords(Seq(("vbig", qv.map(_ * 50f), null, Seq.empty[String], 200L))))
    val merged = eng.search("t1", "idx", q(2L, qv), k = 3, metric = "IP",
      nprobe = 4).collect()
    assert(merged.head.getAs[String]("id") == "vbig", merged.toSeq)
  }

  test("cache-entry GC: compaction bounds the table, preserves live hits, counts evictions") {
    val root = Files.createTempDirectory("engine_gc").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 20).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 2)

    // N populate cycles, each invalidated afterwards → all-stale entries
    (0 until 4).foreach { i =>
      eng.searchCached("t1", "idx", q(i.toLong, Seq(i.toFloat, 1f, 0f)),
        k = 3, nprobe = 2, now = 1000L + i).collect()
      eng.invalidateCache("t1", "idx")
    }
    // plus one LIVE entry under the current epoch
    val live = q(99L, Seq(7f, 1f, 0f))
    eng.searchCached("t1", "idx", live, k = 3, nprobe = 2, now = 2000L).collect()

    val before = eng.cacheEntries("t1", "idx").count()
    val evicted = eng.compactCacheEntries("t1", "idx", now = 2005L)
    assert(evicted > 0)
    val after = eng.cacheEntries("t1", "idx").count()
    assert(after == before - evicted)
    // only the live query's entries survive (≤ 3: L0 + L1 + optional L2)
    assert(after <= 3, s"entries after GC: $after")

    // the surviving entry still serves a warm hit
    val warm = eng.searchCached("t1", "idx", live, k = 3, nprobe = 2, now = 2010L)
      .collect()
    assert(warm.nonEmpty && warm.forall(_.getAs[Boolean]("cache_hit")))

    // real eviction count lands in VEC.STATS (was hard-coded 0)
    val stats = eng.statsText("t1", "idx")
    val evLine = raw"cache_eviction_total (\d+)".r
      .findFirstMatchIn(stats).map(_.group(1).toLong)
    assert(evLine.contains(evicted), stats)

    // second compaction over an already-clean table is a no-op
    assert(eng.compactCacheEntries("t1", "idx", now = 2015L) == 0L)
  }

  test("cache GC equivalence: every warm result is identical before and after compaction") {
    val root = Files.createTempDirectory("engine_gceq").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 30).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 3)

    // a mixed-history table: early entries (some will expire), an epoch
    // bump invalidating them, then a fresh population at varied ks
    (0 until 3).foreach { i =>
      eng.searchCached("t1", "idx", q(i.toLong, Seq(i.toFloat, 1f, 0f)),
        k = 3, nprobe = 3, now = 500L + i).collect()
    }
    eng.invalidateCache("t1", "idx")
    val batch = (10 until 15).map(i =>
      q(i.toLong, Seq(i.toFloat, 1f, 0f))).reduce(_ unionByName _)
    eng.searchCached("t1", "idx", batch, k = 4, nprobe = 3, now = 2000L).collect()

    def warmView() = eng.searchCached("t1", "idx", batch, k = 4, nprobe = 3,
        now = 2010L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getBoolean(4), r.getString(5))).toSeq
    val before = warmView()
    assert(before.nonEmpty && before.forall(_._4), "fixture must be fully warm")
    val evicted = eng.compactCacheEntries("t1", "idx", now = 2010L)
    assert(evicted > 0) // the stale-epoch history went away
    val after = warmView()
    assert(after == before) // GC must be invisible to every served result
  }

  test("CacheMemoryMb quota: at-quota populate is rejected, the miss still serves") {
    val root = Files.createTempDirectory("engine_quota").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 20).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 2)

    val opts = eng.SearchOptions(cacheMemoryMb = 0)
    val query = q(1L, Seq(3f, 1f, 0f))
    val cold = eng.searchCached("t1", "idx", query, k = 3, nprobe = 2,
      now = 1000L, options = opts).collect()
    assert(cold.nonEmpty && cold.forall(!_.getAs[Boolean]("cache_hit")))
    // populate rejected: no entry files were ever written
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/cache/t1/idx/entries")))
    // repeat call: still a (served) miss — nothing was cached
    val again = eng.searchCached("t1", "idx", query, k = 3, nprobe = 2,
      now = 1010L, options = opts).collect()
    assert(again.nonEmpty && again.forall(!_.getAs[Boolean]("cache_hit")))

    // default options (no quota) populate as before on the same engine
    eng.searchCached("t1", "idx", query, k = 3, nprobe = 2, now = 1020L).collect()
    val warm = eng.searchCached("t1", "idx", query, k = 3, nprobe = 2, now = 1030L)
      .collect()
    assert(warm.forall(_.getAs[Boolean]("cache_hit")))
  }

  test("searchCached collapses duplicates whose tags differ only in order") {
    val root = Files.createTempDirectory("engine_tagorder").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 10).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq("x", "y"), 100L))))
    eng.build("t1", "idx", nlist = 2)
    // same request twice, tag order flipped — the key normalization sorts
    // tags, so this is ONE query, not a payload conflict
    val batch = q(1L, Seq(3f, 1f, 0f), Seq("x", "y"))
      .unionByName(q(1L, Seq(3f, 1f, 0f), Seq("y", "x")))
    val res = eng.searchCached("t1", "idx", batch, k = 3, nprobe = 2, now = 1000L)
      .collect()
    assert(res.nonEmpty)
    val mlog = spark.read.parquet(s"$root/metrics/t1/idx").collect()
    assert(mlog.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((0L, 1L)))
  }

  test("searchCached rejects a query_id reused with different payloads") {
    val root = Files.createTempDirectory("engine_dupbad").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords((0 until 10).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 2)
    val conflicting = q(1L, Seq(3f, 1f, 0f)).unionByName(q(1L, Seq(8f, 1f, 0f)))
    intercept[IllegalArgumentException] {
      eng.searchCached("t1", "idx", conflicting, k = 3, nprobe = 2, now = 1000L)
        .collect()
    }
  }

  test("searchCached: L0.5 canonical alias resolves to the canonical entry") {
    val recs = (0 until 20).map { i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L)
    }
    val canonical = q(1L, Seq(5f, 1f, 0f))
    // opposite-direction source: its SimHash cannot collide with the
    // canonical's, so without the alias it would be a clean miss
    val src = q(2L, Seq(-17f, 3f, -9f))

    // first engine: learn both L0 keys (keys are content-derived —
    // tenant/index/k/metric/qvec — so they're identical across roots)
    val eng1 = new GraftEngine(spark, Files.createTempDirectory("alias1").toString)
    eng1.add(mkRecords(recs))
    eng1.build("t1", "idx", nlist = 2)
    eng1.searchCached("t1", "idx", canonical, k = 3, nprobe = 2, now = 1000L).collect()
    val canonKey = eng1.cacheEntries("t1", "idx")
      .filter(col("layer") === "L0").select("cache_key").head.getLong(0)
    val srcMiss = eng1.searchCached("t1", "idx", src, k = 3, nprobe = 2, now = 1001L)
      .collect()
    assert(srcMiss.forall(!_.getAs[Boolean]("cache_hit")),
      "fixture broken: src must not collide with canonical on L1/L2")
    val srcKey = eng1.cacheEntries("t1", "idx")
      .filter(col("layer") === "L0" && col("cache_key") =!= canonKey)
      .select("cache_key").head.getLong(0)

    // second engine: ONLY the canonical entry cached + the alias mapping
    val eng2 = new GraftEngine(spark, Files.createTempDirectory("alias2").toString)
    eng2.add(mkRecords(recs))
    eng2.build("t1", "idx", nlist = 2)
    eng2.searchCached("t1", "idx", canonical, k = 3, nprobe = 2, now = 1000L).collect()
    eng2.putAliases("t1", "idx",
      Seq((srcKey, canonKey, 0.9)).toDF("source_key", "canonical_key", "confidence"))
    val aliased = eng2.searchCached("t1", "idx", src, k = 3, nprobe = 2, now = 1010L)
      .collect()
    assert(aliased.forall(_.getAs[Boolean]("cache_hit")))
    assert(aliased.forall(_.getAs[String]("layer") == "L0.5"),
      s"layer=${aliased.head.getAs[String]("layer")}")
    // and the aliased result IS the canonical entry's hit list
    val canonHits = eng2.searchCached("t1", "idx", canonical, k = 3, nprobe = 2,
      now = 1010L).collect()
    assert(aliased.map(r => (r.getAs[Int]("rank"), r.getAs[String]("id"))).toSeq ==
      canonHits.map(r => (r.getAs[Int]("rank"), r.getAs[String]("id"))).toSeq)
  }

  test("filtered serving: forced hash+bitmap membership equals the default array path") {
    val root = Files.createTempDirectory("engine_hashgate").toString
    // threshold 1 forces the LongHashSet + row-bitmap wiring that
    // production only takes at 131k+ allowed entries
    val forced = new GraftEngine(spark, root, hashAllowedMinEntries = 1)
    val rng = new scala.util.Random(47)
    val recs = (0 until 60).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), null: String,
        Seq(if (i % 2 == 0) "even" else "odd"), 100L))
    forced.add(mkRecords(recs))
    forced.build("t1", "idx", nlist = 2)
    forced.add(mkRecords(Seq(("vh", Seq.fill(4)(0.5f), null, Seq("even"), 200L))))
    val qs = Array((0L, Array.fill(4)(rng.nextFloat())))
    val viaHash = forced.searchRowsFilteredTraced("t1", "idx", qs, 5, "L2", 2,
      Seq("even"))
    val default = new GraftEngine(spark, root)
    val viaArray = default.searchRowsFilteredTraced("t1", "idx", qs, 5, "L2", 2,
      Seq("even"))
    assert(viaHash.isDefined && viaArray.isDefined)
    assert(viaHash.get._1.toSeq == viaArray.get._1.toSeq)
    assert(viaHash.get._1.nonEmpty)
    // same for an IVF_PQ index (the PQ kernel's bitmap branch)
    forced.add(mkRecords(recs).withColumn("index_name", lit("pq")))
    forced.build("t1", "pq", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    val pqHash = forced.searchRowsFilteredTraced("t1", "pq", qs, 5, "L2", 2,
      Seq("even"))
    val pqArray = default.searchRowsFilteredTraced("t1", "pq", qs, 5, "L2", 2,
      Seq("even"))
    assert(pqHash.isDefined && pqArray.isDefined)
    assert(pqHash.get._1.toSeq == pqArray.get._1.toSeq)
    assert(pqHash.get._1.nonEmpty)
  }

  test("multi-LARGE-tag conjunction: per-tag bitmap AND equals the array-intersection path") {
    val root = Files.createTempDirectory("engine_multitag").toString
    // threshold 1 makes EVERY tag 'large' → the conjunction takes the
    // per-tag-bitmap AND fast path (no per-call array intersection);
    // the default engine intersects sorted arrays — results must be
    // identical on both algos, incl. against the batch plan
    val forced = new GraftEngine(spark, root, hashAllowedMinEntries = 1)
    val rng = new scala.util.Random(59)
    // tags: i%2 → even/odd; i%3==0 additionally red. The conjunction
    // (even ∧ red) = multiples of 6
    val recs = (0 until 72).map { i =>
      val t0 = Seq(if (i % 2 == 0) "even" else "odd")
      val tg = if (i % 3 == 0) t0 :+ "red" else t0
      (s"v$i", Seq.fill(4)(rng.nextFloat()), null: String, tg, 100L)
    }
    forced.add(mkRecords(recs))
    forced.build("t1", "idx", nlist = 2)
    forced.add(mkRecords(recs).withColumn("index_name", lit("pq")))
    forced.build("t1", "pq", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    // dirty head: a re-tagged record exercises head-tag precedence on
    // the bitmap path too
    forced.upsert(mkRecords(Seq(
      ("v1", recs(1)._2, null, Seq("even", "red"), 200L))))
    val default = new GraftEngine(spark, root)
    val qs = Array((0L, Array.fill(4)(rng.nextFloat())))
    for (index <- Seq("idx", "pq")) {
      val viaBits = forced.searchRowsFilteredTraced("t1", index, qs, 6,
        "L2", 2, Seq("even", "red"))
      val viaArr = default.searchRowsFilteredTraced("t1", index, qs, 6,
        "L2", 2, Seq("even", "red"))
      assert(viaBits.isDefined && viaArr.isDefined, index)
      assert(viaBits.get._1.toSeq == viaArr.get._1.toSeq, index)
      assert(viaBits.get._1.nonEmpty, index)
      viaBits.get._1.foreach { case (_, _, id, _) =>
        if (id != "v1") {
          val i = id.drop(1).toInt
          assert(i % 6 == 0, s"$index returned non-member $id")
        }
      }
      val plan = default.search("t1", index,
        q(0L, qs(0)._2.toSeq, Seq("even", "red")), 6, nprobe = 2).collect()
        .map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
      assert(viaBits.get._1.map(r => (r._2, r._3, r._4)).toSeq == plan, index)
    }
    // empty conjunction: tags whose intersection is empty short-circuit
    // off the combined bitmap (no scan at all)
    val empty = forced.searchRowsFilteredTraced("t1", "idx", qs, 6, "L2", 2,
      Seq("odd", "red", "even"))
    assert(empty.isDefined && empty.get._1.isEmpty)
  }

  test("refined + filtered plan: the k·refine ADC cut selects from MEMBER candidates only") {
    val root = Files.createTempDirectory("engine_reffilt").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(61)
    // 60 near-origin untagged records + 4 FAR members of tag "rare":
    // the k·refine nearest UNFILTERED ADC candidates to an origin query
    // are all untagged, so a refine cut taken before the tag filter
    // starves the rerank and returns empty where the same query
    // unrefined (filter over ALL probed candidates) answers fully
    val recs = (0 until 60).map(i =>
      (s"n$i", Seq.fill(4)(rng.nextFloat() * 0.1f), null: String,
        Seq.empty[String], 100L)) ++
      (0 until 4).map(i =>
        (s"r$i", Seq.fill(4)(5.0f + rng.nextFloat()), null: String,
          Seq("rare"), 100L))
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    val origin = Seq(0.05f, 0.05f, 0.05f, 0.05f)
    val unrefined = eng.search("t1", "idx", q(1L, origin, Seq("rare")), 4,
        nprobe = 2).collect().map(_.getString(2)).sorted
    assert(unrefined.toSeq == Seq("r0", "r1", "r2", "r3"))
    for (store <- Seq("exact", "sq16")) {
      val refined = eng.search("t1", "idx", q(1L, origin, Seq("rare")), 4,
          nprobe = 2, refine = 2, refineStore = store)
        .collect().map(_.getString(2)).sorted
      assert(refined.toSeq == unrefined.toSeq, s"refineStore=$store")
    }
    // the wire-shaped path for filtered+refined serves this plan
    val (_, hits) = eng.searchCachedRows("t1", "idx", 9L,
      origin.toArray, 4, "L2", 2, now = 1000L, ttlSeconds = 60,
      tags = Seq("rare"), refine = 2)
    assert(hits.map(_._2).sorted.toSeq == unrefined.toSeq)
  }

  test("global-budget contention denial is re-evaluated, not memoized forever") {
    val root = Files.createTempDirectory("engine_contention").toString
    val eng = new GraftEngine(spark, root, hashAllowedMinEntries = 1)
    val rng = new scala.util.Random(67)
    val recs = (0 until 40).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), null: String, Seq("all"), 100L))
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 2)
    val qv = Array.fill(4)(rng.nextFloat())
    // hog the ENTIRE ids-tags line with a fake handle: the
    // pool/tag residents are denied by CONTENTION (their own est fits
    // the per-handle bound), so the rows tier cannot serve
    val hog = Residency.hog(Residency.IdsTags, Residency.IdsTags.lineMax)
    try {
      assert(eng.searchRowsFilteredTraced("t1", "idx", Array((1L, qv)), 5,
        "L2", 2, Seq("all")).isEmpty)
    } finally Residency.release(hog)
    // contender released: the SAME engine must now build and serve —
    // a memoized contention denial would refuse the handle forever
    // (the warm-boot hazard: a fresh instance first touched while the
    // old instance still held the budget)
    val served = eng.searchRowsFilteredTraced("t1", "idx", Array((1L, qv)), 5,
      "L2", 2, Seq("all"))
    assert(served.isDefined && served.get._1.nonEmpty)
    // parity with an uncontended engine
    val free = new GraftEngine(spark, root, hashAllowedMinEntries = 1)
    val resFree = free.searchRowsFilteredTraced("t1", "idx", Array((1L, qv)),
      5, "L2", 2, Seq("all"))
    assert(resFree.isDefined && served.get._1.toSeq == resFree.get._1.toSeq)
  }

  test("pq-codes contention denial is retried on the same engine, not memoized by the handle") {
    val root = Files.createTempDirectory("engine_pqcontention").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(71)
    val recs = (0 until 60).map(i =>
      (s"v$i", Seq.fill(8)(rng.nextFloat()), null: String, Seq.empty[String], 100L))
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 3, algo = "IVF_PQ", pqM = 2, pqK = 16)
    val qs = Array((1L, Array.fill(8)(rng.nextFloat())))
    // hog the ENTIRE pq-codes line: the codes' own estimate fits the
    // per-handle cap, so the first touch is denied by CONTENTION
    val hog = Residency.hog(Residency.PqCodes, Residency.PqCodes.lineMax)
    val (rowsBusy, trBusy) =
      try eng.searchRowsTraced("t1", "idx", qs, 5, "L2", nprobe = 2)
      finally Residency.release(hog)
    assert(trBusy.path == "plan-fallback", trBusy)
    // contender released: the SAME engine (and so the same memoized
    // IVF_PQ handle) must now admit the codes and serve resident
    val (rows, tr) = eng.searchRowsTraced("t1", "idx", qs, 5, "L2", nprobe = 2)
    assert(tr.path == "head+pqtail", tr)
    assert(rows.toSeq == rowsBusy.toSeq)
  }

  /** `f`'s result and the number of Spark jobs it submitted from this
    * thread (its job group). */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val (r, jobs) = JobCount.byStage(spark)(f)
    (r, jobs.values.sum)
  }

  test("warmServing materializes resident handles for every built index, skips unbuilt") {
    val root = Files.createTempDirectory("engine_warm").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(53)
    val recs = (0 until 40).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), null: String, Seq.empty[String], 100L))
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 2)
    eng.add(mkRecords(recs).withColumn("index_name", lit("pq")))
    eng.build("t1", "pq", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    eng.add(mkRecords(recs).withColumn("index_name", lit("pqip")))
    eng.build("t1", "pqip", nlist = 2, metric = "IP", algo = "IVF_PQ",
      pqM = 2, pqK = 8)
    eng.add(mkRecords(recs).withColumn("index_name", lit("hnsw")))
    eng.build("t1", "hnsw", nlist = 2, algo = "HNSW")
    eng.add(mkRecords(recs).withColumn("index_name", lit("unbuilt")))
    // a fresh engine over the same root: nothing memoized yet
    val cold = new GraftEngine(spark, root)
    val (ok, skipped) = cold.warmServing()
    assert(ok == 4, s"($ok, $skipped)")
    assert(skipped == 1, s"($ok, $skipped)") // the unbuilt index
    // post-warm calls serve rows-native immediately with correct results,
    // and submit no Spark job: warm-up paid every first-call cost
    val qs = Array((0L, Array.fill(4)(rng.nextFloat())))
    def firstCall(index: String, metric: String = "L2", refine: Int = 0) = {
      val ((rows, tr), jobs) = jobsDuring(cold.searchRowsTraced("t1", index,
        qs, k = 3, metric = metric, nprobe = 2, refine = refine))
      assert(jobs == 0, s"$index (metric $metric, refine $refine): $jobs job(s), $tr")
      (rows, tr)
    }
    val (rowsF, trF) = firstCall("idx")
    assert(trF.path == "head+tail" && rowsF.nonEmpty, trF)
    val (rowsP, trP) = firstCall("pq")
    assert(trP.path == "head+pqtail" && rowsP.nonEmpty, trP)
    val (rowsR, trR) = firstCall("pq", refine = 2)
    assert(trR.path == "head+pqtail-refined" && rowsR.nonEmpty, trR)
    val (rowsI, trI) = firstCall("pqip", metric = "IP")
    assert(trI.path == "head+pqtail" && rowsI.nonEmpty, trI)
    val (rowsH, trH) = firstCall("hnsw")
    assert(trH.path == "head+hnswtail" && rowsH.nonEmpty, trH)
  }

  test("add's job budget: one grouped aggregation, one append, no touched-set job") {
    val root = Files.createTempDirectory("engine_add_jobs").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(5)
    def recs(from: Int, n: Int) = mkRecords((from until from + n).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), null: String, Seq.empty[String], 100L)))
    // the count and the touched set come from one aggregation (2 jobs:
    // its exchange and its result), then the append: 5 jobs before
    val (n1, emptyLog) = jobsDuring(eng.add(recs(0, 20)))
    assert(n1 == 20L)
    assert(emptyLog == 3, s"add on an empty log ran $emptyLog jobs")
    // the duplicate check joins the LWW state in the same aggregation: 7 before
    val (n2, nonEmptyLog) = jobsDuring(eng.add(recs(20, 5)))
    assert(n2 == 5L)
    assert(nonEmptyLog == 5, s"add on a non-empty log ran $nonEmptyLog jobs")
    assert(eng.epoch("t1", "idx") == 2L)
    intercept[ConflictException](eng.add(recs(0, 1)))
  }

  test("a truncated manifest fails with an error naming the file and the field") {
    val root = Files.createTempDirectory("engine_manifest_trunc").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords(Seq(("a", Seq(1f, 0f), null, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 1)
    val f = java.nio.file.Paths.get(s"$root/indexes/t1/idx/manifest.json")
    val text = Files.readString(f)
    assert(eng.manifest("t1", "idx").version == 1L)
    // cut inside the "version" field's value: the commit point is torn
    Files.writeString(f, text.take(text.indexOf("\"version\"") + 11))
    val err = intercept[IllegalStateException](
      new GraftEngine(spark, root).manifest("t1", "idx"))
    assert(err.getMessage.contains(f.toString), err.getMessage)
    assert(err.getMessage.contains("'version'"), err.getMessage)
  }

  test("a manifest without its version fails instead of reading as version 0") {
    val root = Files.createTempDirectory("engine_manifest_field").toString
    val eng = new GraftEngine(spark, root)
    eng.add(mkRecords(Seq(("a", Seq(1f, 0f), null, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 1)
    val f = java.nio.file.Paths.get(s"$root/indexes/t1/idx/manifest.json")
    Files.writeString(f,
      Files.readString(f).replaceAll("\"version\"\\s*:\\s*\\d+\\s*,\\s*", ""))
    assert(!Files.readString(f).contains("version"))
    val err = intercept[IllegalStateException](
      new GraftEngine(spark, root).manifest("t1", "idx"))
    assert(err.getMessage.contains(f.toString), err.getMessage)
    assert(err.getMessage.contains("'version'"), err.getMessage)
  }

  test("id-pool budget denial: rows path falls back to the plan with identical results") {
    val root = Files.createTempDirectory("engine_idpool").toString
    // a budget too small for ANY pool: every rows-tier call must take the
    // plan fallback (the gate memoizes the denial — measured bytes, not
    // row counts, decide residency)
    val denied = new GraftEngine(spark, root, idPoolMaxBytes = 16L)
    val rng = new scala.util.Random(43)
    val recs = (0 until 40).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), null: String, Seq.empty[String], 100L))
    denied.add(mkRecords(recs))
    denied.build("t1", "idx", nlist = 2)
    val qs = Array((0L, Array.fill(4)(rng.nextFloat())))
    val (rowsD, trD) = denied.searchRowsTraced("t1", "idx", qs, k = 5, nprobe = 2)
    assert(trD.path == "plan-fallback", trD)
    // same root, default budget: serves rows-native with the same answer
    val eng = new GraftEngine(spark, root)
    val (rowsN, trN) = eng.searchRowsTraced("t1", "idx", qs, k = 5, nprobe = 2)
    assert(trN.path == "head+tail", trN)
    assert(rowsD.toSeq == rowsN.toSeq)
    // dirty head exercises headStateOf's pool-absent branch the same way
    denied.add(mkRecords(Seq(("vx", qs(0)._2.toSeq, null, Seq.empty[String], 200L))))
    val (rowsD2, trD2) = denied.searchRowsTraced("t1", "idx", qs, k = 5, nprobe = 2)
    assert(trD2.path == "plan-fallback", trD2)
    val (rowsN2, trN2) = eng.searchRowsTraced("t1", "idx", qs, k = 5, nprobe = 2)
    assert(trN2.path == "head+tail", trN2)
    assert(rowsD2.toSeq == rowsN2.toSeq)
  }

  test("refined PQ serving: rows == plan(sq16) incl. dirty head; budget denial falls back; refine-scoped cache keys") {
    val root = Files.createTempDirectory("engine_refine").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(71)
    val recs = (0 until 60).map(i =>
      (s"v$i", Seq.fill(8)(rng.nextFloat()), null: String, Seq.empty[String], 100L))
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 3, algo = "IVF_PQ", pqM = 2, pqK = 16)
    val qv = Array.fill(8)(rng.nextFloat())
    def planRows(refine: Int, store: String): Seq[(Int, String, Double)] =
      eng.search("t1", "idx", q(1L, qv.toSeq), 5, "L2", nprobe = 2,
          refine = refine, refineStore = store).collect()
        .map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
    // clean head: the refined rows tier must equal the plan's sq16 rerank
    // EXACTLY (same ADC cut, same dequantized floats, same tie order)
    val (rowsR, trR) = eng.searchRowsTraced("t1", "idx", Array((1L, qv)),
      5, "L2", nprobe = 2, refine = 5)
    assert(trR.path == "head+pqtail-refined", trR)
    assert(rowsR.map(r => (r._2, r._3, r._4)).toSeq == planRows(5, "sq16"))
    // the refined answer beats raw ADC at ranking: top-1 of the sq16
    // rerank must match the EXACT rerank's top-1 here (uint16 error is
    // far below the fixture's score gaps)
    assert(planRows(5, "sq16").head._2 == planRows(5, "exact").head._2)
    // dirty head: upsert after build — head merge on both tiers
    eng.upsert(mkRecords(Seq(
      ("v0", qv.map(x => x * 0.99f).toSeq, null, Seq.empty[String], 200L))))
    val (rowsD, trD) = eng.searchRowsTraced("t1", "idx", Array((1L, qv)),
      5, "L2", nprobe = 2, refine = 5)
    assert(trD.path == "head+pqtail-refined", trD)
    assert(rowsD.map(r => (r._2, r._3, r._4)).toSeq == planRows(5, "sq16"))
    assert(rowsD.exists(_._3 == "v0"), "upserted near-query vector must hit")
    // budget denial: an engine whose sq16 budget admits nothing serves
    // the refined answer via the plan fallback — same rows, different path
    val denied = new GraftEngine(spark, root, sq16MaxBytes = 16L)
    val (rowsF, trF) = denied.searchRowsTraced("t1", "idx", Array((1L, qv)),
      5, "L2", nprobe = 2, refine = 5)
    assert(trF.path == "plan-fallback", trF)
    assert(rowsF.toSeq == rowsD.toSeq)
    // refined cache entries live under refine-scoped keys: a refined MISS
    // populates, repeats hit, and an unrefined call NEVER aliases it
    val (m1, hits1, _) = eng.searchCachedRowsTraced("t1", "idx", 10L, qv,
      k = 5, nprobe = 2, now = 1000L, refine = 5)
    assert(m1 == "MISS")
    assert(hits1.toSeq == rowsD.map(r => (r._2, r._3, r._4)).toSeq)
    val (h1, hits2, _) = eng.searchCachedRowsTraced("t1", "idx", 10L, qv,
      k = 5, nprobe = 2, now = 1001L, refine = 5)
    assert(h1 == "L0", s"repeat refined call must hit, got $h1")
    assert(hits2.toSeq == hits1.toSeq)
    val (m2, hitsU, _) = eng.searchCachedRowsTraced("t1", "idx", 11L, qv,
      k = 5, nprobe = 2, now = 1002L)
    assert(m2 == "MISS", "unrefined call must not hit a refined entry")
    assert(hitsU.toSeq != hits1.toSeq ||
      eng.searchRows("t1", "idx", Array((12L, qv)), 5, "L2", 2).nonEmpty)
  }

  test("pool denial must not build or register the sq16 refine store") {
    // the store collect is the most expensive residency decision, so it
    // must run LAST: an engine whose id-pool budget denies every pool
    // can never serve rows-native, and building (and permanently
    // registering, on the ledger's refine line) a store no call
    // will use would strand its bytes for the engine's lifetime
    val root = Files.createTempDirectory("engine_sq16order").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(83)
    val recs = (0 until 60).map(i =>
      (s"v$i", Seq.fill(8)(rng.nextFloat()), null: String, Seq.empty[String], 100L))
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 3, algo = "IVF_PQ", pqM = 2, pqK = 16)
    val qv = Array.fill(8)(rng.nextFloat())
    // pool-denied engine, default sq16 budget (which WOULD admit this
    // tiny store): the refined call must fall back WITHOUT touching the
    // ledger's refine line
    val denied = new GraftEngine(spark, root, idPoolMaxBytes = 16L)
    val before = Residency.used(Residency.Refine)
    val (rowsP, trP) = denied.searchRowsTraced("t1", "idx", Array((1L, qv)),
      5, "L2", nprobe = 2, refine = 5)
    assert(trP.path == "plan-fallback", trP)
    assert(rowsP.nonEmpty)
    // the ledger is WEAK-keyed, so a GC during the call can only
    // SHRINK the global count (earlier suites' dropped stores) — the
    // property under test is that this call added nothing
    assert(Residency.used(Residency.Refine) <= before,
      "a pool-denied refined call must not build the sq16 store")
    // sanity: an unconstrained engine on the same root serves refined
    // rows-native — a path that REQUIRES the store, so its trace proves
    // the build ran (no global-count assert here: the weak ledger can
    // shrink concurrently, making any numeric delta flaky)
    val free = new GraftEngine(spark, root)
    val (rowsF, trF) = free.searchRowsTraced("t1", "idx", Array((1L, qv)),
      5, "L2", nprobe = 2, refine = 5)
    assert(trF.path == "head+pqtail-refined", trF)
    assert(rowsF.toSeq == rowsP.toSeq,
      "both paths must serve the same refined answer")
  }

  test("u8 degraded refine tier: opt-in, budget-gated between sq16 denial and plan fallback") {
    val root = Files.createTempDirectory("engine_u8tier").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(97)
    val recs = (0 until 60).map(i =>
      (s"v$i", Seq.fill(8)(rng.nextFloat()), null: String, Seq.empty[String], 100L))
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 3, algo = "IVF_PQ", pqM = 2, pqK = 16)
    // the build wrote the binary segment sidecar the u8 tier streams
    assert(Files.isRegularFile(java.nio.file.Paths.get(
      s"$root/indexes/t1/idx/v1/sq16/segments/meta.json")))
    val qv = Array.fill(8)(rng.nextFloat())
    // full-precision reference answer (default budgets admit sq16)
    val (rows16, tr16) = eng.searchRowsTraced("t1", "idx", Array((1L, qv)),
      5, "L2", nprobe = 2, refine = 5)
    assert(tr16.path == "head+pqtail-refined", tr16)
    // budget between est8 (1088) and est16 (1568) for this 60×8 store:
    // sq16 denied, u8 admitted — but ONLY with the opt-in flag
    val budget = 1200L
    assert(graft.operators.Sq8Store.estimateBytes(60, 8) <= budget &&
      graft.operators.Sq16Store.estimateBytes(60, 8) > budget,
      "fixture must straddle the two estimates")
    val deg = new GraftEngine(spark, root, sq16MaxBytes = budget,
      refineU8Fallback = true)
    val (rows8, tr8) = deg.searchRowsTraced("t1", "idx", Array((1L, qv)),
      5, "L2", nprobe = 2, refine = 5)
    assert(tr8.path == "head+pqtail-refined-u8", tr8)
    assert(rows8.length == 5)
    // scores are true-metric over dequantized u8 vectors: monotone rank
    assert(rows8.map(_._4).toSeq == rows8.map(_._4).sortBy(-_).toSeq)
    // on this fixture's score gaps the coarser codes must still agree
    // with the full-precision top-k on at least 4 of 5 ids (the gauge
    // recall story; exact equality would pin uint8 rounding artifacts)
    assert(rows8.map(_._3).toSet.intersect(rows16.map(_._3).toSet).size >= 4,
      s"u8=${rows8.toSeq} vs sq16=${rows16.toSeq}")
    // same budget WITHOUT opt-in: plan fallback (scores must match the
    // plan's sq16 rerank — the default never silently degrades)
    val noOpt = new GraftEngine(spark, root, sq16MaxBytes = budget)
    val (rowsN, trN) = noOpt.searchRowsTraced("t1", "idx", Array((1L, qv)),
      5, "L2", nprobe = 2, refine = 5)
    assert(trN.path == "plan-fallback", trN)
    assert(rowsN.toSeq == rows16.toSeq)
    // budget below BOTH estimates: opt-in engine still takes the plan
    val deny = new GraftEngine(spark, root, sq16MaxBytes = 16L,
      refineU8Fallback = true)
    val (rowsD, trD) = deny.searchRowsTraced("t1", "idx", Array((1L, qv)),
      5, "L2", nprobe = 2, refine = 5)
    assert(trD.path == "plan-fallback", trD)
    assert(rowsD.toSeq == rows16.toSeq)
    // a budget-tight engine that OPTED IN and runs the BUILD itself must
    // still write the segment sidecar (the u8 tier streams it; the
    // build gate keying on the full-precision estimate alone stranded
    // exactly this deployment on the plan fallback — r10 review)
    val root2 = Files.createTempDirectory("engine_u8build").toString
    val tight = new GraftEngine(spark, root2, sq16MaxBytes = budget,
      refineU8Fallback = true)
    tight.add(mkRecords(recs))
    tight.build("t1", "idx", nlist = 3, algo = "IVF_PQ", pqM = 2, pqK = 16)
    assert(Files.isRegularFile(java.nio.file.Paths.get(
      s"$root2/indexes/t1/idx/v1/sq16/segments/meta.json")),
      "opted-in tight-budget build must persist the sidecar")
    val (rowsT, trT) = tight.searchRowsTraced("t1", "idx", Array((1L, qv)),
      5, "L2", nprobe = 2, refine = 5)
    assert(trT.path == "head+pqtail-refined-u8", trT)
    assert(rowsT.map(_._3).toSet == rows8.map(_._3).toSet)
    // same tight budget WITHOUT the opt-in: the build skips the sidecar
    // (the transient full-precision merge would buy nothing)
    val root3 = Files.createTempDirectory("engine_u8off").toString
    val tightOff = new GraftEngine(spark, root3, sq16MaxBytes = budget)
    tightOff.add(mkRecords(recs))
    tightOff.build("t1", "idx", nlist = 3, algo = "IVF_PQ", pqM = 2, pqK = 16)
    assert(!Files.exists(java.nio.file.Paths.get(
      s"$root3/indexes/t1/idx/v1/sq16/segments")),
      "non-opted tight-budget build must not pay the sidecar merge")
  }

  test("sq16 global-denial retry upgrades past a resident u8 store and returns its share") {
    // ADVICE r10: a global-line sq16 denial is NOT memoized (headroom
    // can return), so an opted-in engine admits + memoizes the u8
    // store; a later refined call that retries and admits sq16 must
    // EVICT the u8 store's ledger share — otherwise both stores stay
    // counted on the refine line for the snapshot's lifetime
    // while orElse never serves the u8 one again.
    val root = Files.createTempDirectory("engine_u8upgrade").toString
    val builder = new GraftEngine(spark, root)
    val rng = new scala.util.Random(103)
    val recs = (0 until 60).map(i =>
      (s"v$i", Seq.fill(8)(rng.nextFloat()), null: String, Seq.empty[String], 100L))
    builder.add(mkRecords(recs))
    builder.build("t1", "idx", nlist = 3, algo = "IVF_PQ", pqM = 2, pqK = 16)
    val est16 = graft.operators.Sq16Store.estimateBytes(60, 8)
    val est8 = graft.operators.Sq8Store.estimateBytes(60, 8)
    val qv = Array.fill(8)(rng.nextFloat())
    // fresh opted-in engine with a per-store budget that ADMITS sq16 —
    // only the GLOBAL line will deny it
    val eng = new GraftEngine(spark, root, refineU8Fallback = true)
    val base = Residency.used(Residency.Refine)
    // consume global headroom down to a sliver that straddles the two
    // estimates: sq16 denied on the global line, u8 still admitted
    val blocker = Residency.hog(Residency.Refine,
      Residency.Refine.lineMax - base - est16 + 1)
    val usedWithU8 =
      try {
        val (rows8, tr8) = eng.searchRowsTraced("t1", "idx",
          Array((1L, qv)), 5, "L2", nprobe = 2, refine = 5)
        assert(tr8.path == "head+pqtail-refined-u8", tr8)
        assert(rows8.length == 5)
        Residency.used(Residency.Refine)
      } finally Residency.release(blocker)
    // headroom restored: the retry must admit sq16 AND return the u8
    // share (weak-ledger GC can only shrink the count further, so the
    // net-growth bound below is one-sided safe)
    val (rows16, tr16) = eng.searchRowsTraced("t1", "idx",
      Array((1L, qv)), 5, "L2", nprobe = 2, refine = 5)
    assert(tr16.path == "head+pqtail-refined", tr16)
    assert(rows16.length == 5)
    val after = Residency.used(Residency.Refine)
    assert(after - base <= est16,
      s"u8 store not evicted on sq16 upgrade: base=$base withU8=$usedWithU8 " +
        s"after=$after est16=$est16 est8=$est8")
  }

  test("beam-filtered HNSW: new semantics flag returns reachable members the parity post-filter loses; scoped cache keys") {
    val root = Files.createTempDirectory("engine_hnswbeam").toString
    val eng = new GraftEngine(spark, root)
    val rng = new scala.util.Random(101)
    // 56 untagged records near the query; 4 "rare" members far away —
    // the parity plan (fetch k×10 = 30 < 56 near rows, then filter)
    // comes up empty; the beam must return all 4 reachable members
    val near = (0 until 56).map(i =>
      (s"n$i", Seq.fill(8)(0.1f + rng.nextFloat() * 0.1f), null: String,
        Seq.empty[String], 100L))
    val far = (0 until 4).map(i =>
      (s"r$i", Seq.fill(8)(0.9f + rng.nextFloat() * 0.1f), null: String,
        Seq("rare"), 100L))
    eng.add(mkRecords(near ++ far))
    eng.build("t1", "idx", nlist = 1, algo = "HNSW")
    val qv = Array.fill(8)(0.15f)
    // parity semantics (the default): fetch-k×10-then-filter loses them
    val planF = eng.search("t1", "idx", q(1L, qv.toSeq, Seq("rare")), 3,
      nprobe = 1).collect()
    assert(planF.isEmpty,
      s"fixture broken: post-filter should lose the far members, got ${planF.length}")
    // default rows path keeps parity with the plan (HNSW filtered stays
    // on the batch plan → None)
    assert(eng.searchRowsFilteredTraced("t1", "idx", Array((1L, qv)), 3,
      "L2", 1, Seq("rare")).isEmpty)
    // the NEW semantics flag: beam-filtered resident serving
    val beam = eng.searchRowsFilteredTraced("t1", "idx", Array((1L, qv)), 3,
      "L2", 1, Seq("rare"), hnswBeam = true)
    assert(beam.isDefined, "beam mode must serve a resident HNSW index")
    assert(beam.get._2.path == "head+hnswtail-filtered-beam", beam.get._2)
    val beamIds = beam.get._1.map(_._3).toSet
    assert(beam.get._1.length == 3 && beamIds.subsetOf(Set("r0", "r1", "r2", "r3")),
      beam.get._1.toSeq)
    // exact against brute force over the members (ef=50 ≥ corpus: the
    // beam explores the whole component)
    val exact = far.map { case (id, v, _, _, _) =>
      (id, graft.operators.IvfFlat.candidateScore("L2", qv, v.toArray))
    }.sortBy { case (id, s) => (-s, id) }.take(3)
    assert(beam.get._1.map(r => (r._3, r._4)).toSeq == exact.toSeq)
    // head tags win on the beam path too: re-tag a near record as rare —
    // it is FAR closer than the far members and must now rank first
    eng.upsert(mkRecords(Seq(
      ("n0", near.head._2, null, Seq("rare"), 200L))))
    val beam2 = eng.searchRowsFilteredTraced("t1", "idx", Array((1L, qv)), 3,
      "L2", 1, Seq("rare"), hnswBeam = true)
    assert(beam2.isDefined && beam2.get._1.head._3 == "n0", beam2.get._1.toSeq)
    // cached: beam entries live under their own key scope — a beam MISS
    // populates, repeats hit, and a default (post) call never aliases it
    val (mB, rowsB, trB) = eng.searchCachedRowsTraced("t1", "idx", 10L, qv,
      k = 3, nprobe = 1, now = 1000L, tags = Seq("rare"), hnswBeam = true)
    assert(mB == "MISS" && trB.headLive >= 0, s"$mB $trB")
    assert(rowsB.head._2 == "n0")
    val (hB, rowsB2, _) = eng.searchCachedRowsTraced("t1", "idx", 10L, qv,
      k = 3, nprobe = 1, now = 1001L, tags = Seq("rare"), hnswBeam = true)
    assert(hB == "L0" && rowsB2.toSeq == rowsB.toSeq)
    val (mP, rowsP, _) = eng.searchCachedRowsTraced("t1", "idx", 11L, qv,
      k = 3, nprobe = 1, now = 1002L, tags = Seq("rare"))
    assert(mP == "MISS", "post-mode call must not hit a beam-scoped entry")
    // post semantics answer: n0 (head re-tag visible to the plan) — but
    // the far members stay lost to the k×10 cut
    assert(rowsP.map(_._2).toSet.subsetOf(Set("n0")), rowsP.toSeq)
  }

  test("over-budget filtered PQ: sentinel keeps the distributed filtered plan instead of throwing") {
    val root = Files.createTempDirectory("engine_pqftbudget").toString
    // MT lookup bound of 0: EVERY resident filtered PQ scan is over
    // budget — the r7 ADVICE failure mode made this throw
    // IllegalArgumentException from the unfiltered fallback's require;
    // the sentinel must keep the always-correct distributed filtered plan
    val eng = new GraftEngine(spark, root, pqServeMaxLookupsMT = 0L)
    val rng = new scala.util.Random(61)
    val recs = (0 until 40).map { i =>
      val tg = if (i % 2 == 0) Seq("even") else Seq.empty[String]
      (s"v$i", Seq.fill(6)(rng.nextFloat()), null: String, tg, 100L)
    }
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    val qv = Array.fill(6)(rng.nextFloat())
    // rows tier declines (no exception) …
    val res = eng.searchRowsFilteredTraced("t1", "idx",
      Array((1L, qv)), 3, "L2", 2, Seq("even"))
    assert(res.isEmpty, "over-budget filtered PQ must return the sentinel")
    // … and the full cascade still answers via the batch plan, matching
    // an unconstrained engine exactly
    val (layer, rows, tr) = eng.searchCachedRowsTraced("t1", "idx", 1L, qv,
      k = 3, nprobe = 2, now = 1000L, tags = Seq("even"))
    assert(layer == "MISS" && tr.headLive == -1,
      s"over-budget filtered miss must serve via the batch plan: $layer $tr")
    val free = new GraftEngine(spark, root)
    val resFree = free.searchRowsFilteredTraced("t1", "idx",
      Array((1L, qv)), 3, "L2", 2, Seq("even"))
    assert(resFree.isDefined &&
      resFree.get._2.path == "head+pqtail-filtered", resFree.map(_._2))
    assert(rows.toSeq == resFree.get._1.map(r => (r._2, r._3, r._4)).toSeq)
    // the plan-served filtered miss populates under the call's own
    // CacheMemoryMb: at quota 0 a second miss adds no durable row
    eng.flushCachePending("t1", "idx")
    val nEntries = eng.cacheEntries("t1", "idx").count()
    val (layer2, _, _) = eng.searchCachedRowsTraced("t1", "idx", 2L,
      Array.fill(6)(rng.nextFloat()), k = 3, nprobe = 2, now = 1001L,
      tags = Seq("even"), cacheMemoryMb = 0)
    assert(layer2 == "MISS")
    eng.flushCachePending("t1", "idx")
    assert(eng.cacheEntries("t1", "idx").count() == nEntries,
      "an at-quota filtered miss must not populate")
  }

  /** The settled per-tag answers of `eng`'s current snapshot, keyed by
    * tag: None for a denial. */
  private def settled[T <: AnyRef](memos: java.util.concurrent.ConcurrentHashMap[
      String, Residency.Memo[T]]): Map[String, Option[T]] = {
    import scala.jdk.CollectionConverters._
    memos.asScala.toMap.flatMap { case (t, m) => m.settled.map(t -> _) }
  }
  private def tagHashSets(eng: GraftEngine) =
    settled(eng.handlesOf("t1", "idx", eng.manifest("t1", "idx")).tagHashSets)
  private def tagBits(eng: GraftEngine) =
    settled(eng.handlesOf("t1", "idx", eng.manifest("t1", "idx")).tagBits)

  test("tag hash-set budget denial: memoized None, sorted-array path serves identically") {
    val root = Files.createTempDirectory("engine_tagbudget").toString
    val rng = new scala.util.Random(67)
    // every record carries "all" so the tag's hash-set capacity estimate
    // (next pow2 ≥ 2n slots × 8 B) EXCEEDS the id pool's bytes — a budget
    // can then admit the pool + tag index but deny the set
    val recs = (0 until 40).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), null: String, Seq("all"), 100L))
    // pool est ≈ 40·12 + Σ|id| + 32 ≈ 650 B; tag index ≈ 40·8 + 64 = 384 B;
    // hash set est = nextPow2(80)·8 + 32 = 1056 B → denied at 800
    val eng = new GraftEngine(spark, root, idPoolMaxBytes = 800L,
      hashAllowedMinEntries = 1)
    eng.add(mkRecords(recs))
    eng.build("t1", "idx", nlist = 2)
    val qv = Array.fill(4)(rng.nextFloat())
    val res = eng.searchRowsFilteredTraced("t1", "idx",
      Array((1L, qv)), 5, "L2", 2, Seq("all"))
    assert(res.isDefined, "denied hash set must NOT block rows serving")
    // the denial is memoized (None), not silently rebuilt per call
    assert(tagHashSets(eng).values.toSeq == Seq(None),
      tagHashSets(eng))
    // the BITMAP survives the hash-set denial (construction falls back
    // to binary search over the sorted array; the bitmap is ~100×
    // smaller than the set, so the budget that denied the set admits it)
    assert(tagBits(eng).values.toSeq.forall(_.isDefined),
      tagBits(eng))
    // parity with an unconstrained engine whose set IS built
    val free = new GraftEngine(spark, root, hashAllowedMinEntries = 1)
    val resFree = free.searchRowsFilteredTraced("t1", "idx",
      Array((1L, qv)), 5, "L2", 2, Seq("all"))
    assert(resFree.isDefined && tagHashSets(free).values.forall(_.isDefined))
    assert(res.get._1.toSeq == resFree.get._1.toSeq)
    // multi-tag conjunction under the same denial: the per-tag bitmap
    // AND path must serve (no hash sets exist), equal to the free engine
    val recs2 = (0 until 40).map(i =>
      (s"w$i", Seq.fill(4)(rng.nextFloat()), null: String,
        Seq("all", if (i % 2 == 0) "even" else "odd"), 100L))
    val root2 = Files.createTempDirectory("engine_tagbudget2").toString
    // 800 denies the "all" hash set (est 1056) but admits the "even"
    // set (est 544) — the AND path must work with MIXED construction
    // (one bitmap from binary search, one from the probe set)
    val eng2 = new GraftEngine(spark, root2, idPoolMaxBytes = 800L,
      hashAllowedMinEntries = 1)
    eng2.add(mkRecords(recs2))
    eng2.build("t1", "idx", nlist = 2)
    val res2 = eng2.searchRowsFilteredTraced("t1", "idx",
      Array((1L, qv)), 5, "L2", 2, Seq("all", "even"))
    val free2 = new GraftEngine(spark, root2, hashAllowedMinEntries = 1)
    val resFree2 = free2.searchRowsFilteredTraced("t1", "idx",
      Array((1L, qv)), 5, "L2", 2, Seq("all", "even"))
    assert(res2.isDefined && resFree2.isDefined)
    assert(res2.get._1.toSeq == resFree2.get._1.toSeq)
    assert(res2.get._1.forall { case (_, _, id, _) =>
      id.drop(1).toInt % 2 == 0 })
    assert(tagBits(eng2).size == 2 &&
      tagBits(eng2).values.forall(_.isDefined), tagBits(eng2))
  }

  test("a cached miss serves through the overridable searchRowsTraced; a hit does not") {
    // subclasses that wrap the rows tier (a tracing engine, say) see every
    // miss the per-call cascade answers, and no hit
    val root = Files.createTempDirectory("engine_override").toString
    val rowsCalls = new java.util.concurrent.atomic.AtomicInteger()
    val eng = new GraftEngine(spark, root) {
      override def searchRowsTraced(tenant: String, index: String,
                                    queries: Array[(Long, Array[Float])], k: Int,
                                    metric: String, nprobe: Int, refine: Int)
          : (Array[(Long, Int, String, Double)], SearchTrace) = {
        rowsCalls.incrementAndGet()
        super.searchRowsTraced(tenant, index, queries, k, metric, nprobe, refine)
      }
    }
    eng.add(mkRecords((0 until 30).map(i =>
      (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))))
    eng.build("t1", "idx", nlist = 2)
    val qv = Array(3f, 1f, 0f)
    val (miss, missRows, missTr) = eng.searchCachedRowsTraced("t1", "idx", 7L, qv,
      k = 5, nprobe = 2, now = 1000L)
    assert(miss == "MISS" && rowsCalls.get == 1, (miss, rowsCalls.get, missTr))
    val (hit, hitRows, hitTr) = eng.searchCachedRowsTraced("t1", "idx", 7L, qv,
      k = 5, nprobe = 2, now = 1001L)
    assert(hit == "L0" && rowsCalls.get == 1, (hit, rowsCalls.get, hitTr))
    assert(hitRows.toSeq == missRows.toSeq)
  }

  test("an engine keeps the plan's top-k hash-aggregated on a session without the threshold") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val session = spark.newSession()
    assert(session.conf.get(key) == "128", "the session must start at Spark's default")
    val root = Files.createTempDirectory("engine_topk_threshold").toString
    val eng = new GraftEngine(session, root)
    val rng = new scala.util.Random(11)
    eng.add(mkRecords((0 until 64).map(i =>
      (s"v$i", Seq.fill(4)(rng.nextFloat()), null: String, Seq.empty[String], 100L)), session))
    eng.build("t1", "idx", nlist = 2)
    // 256 queries probing both lists: every scoring task aggregates 256
    // query keys, past the default's 128
    val queries = session.createDataFrame((0 until 256).map(i =>
      (i.toLong, Seq.fill(4)(rng.nextFloat())))).toDF("query_id", "qvec")
    val df = eng.search("t1", "idx", queries, k = 5, nprobe = 2)
    assert(df.collect().length == 256 * 5)
    val fallbacks = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
          a.metrics("numTasksFallBacked").value
      }
    assert(fallbacks.nonEmpty && fallbacks.sum == 0, (fallbacks, df.queryExecution.executedPlan))
    assert(session.conf.get(key) == "1000000")
    // a caller's higher setting stays
    val roomy = spark.newSession()
    roomy.conf.set(key, "2000000")
    new GraftEngine(roomy, root)
    assert(roomy.conf.get(key) == "2000000")
  }
}
