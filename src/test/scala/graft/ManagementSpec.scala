package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The management plane (S6) as library calls — mirrors the reference's
  * REST controller tests (tests/Pyrope.GarnetServer.Tests/Api/). */
class ManagementSpec extends SparkSpec {
  import spark.implicits._

  private def mkMgmt() =
    new Management(spark, Files.createTempDirectory("mgmt").toString)

  private def mkRecords(rows: Seq[(String, Seq[Float])], ver: Long = 100L): DataFrame =
    rows.toDF("id", "vector")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("index_name", lit("idx"))
      .withColumn("meta", lit(null).cast("string"))
      .withColumn("tags", lit(null).cast("array<string>"))
      .withColumn("updated_at", lit(ver))
      .withColumn("deleted", lit(false))

  private def q(id: Long, v: Seq[Float]): DataFrame =
    Seq((id, v)).toDF("query_id", "qvec")

  test("tenants: create, dup-reject, quota roundtrip, API key, users + roles") {
    val m = mkMgmt()
    m.createTenant("acme", TenantQuota(maxQps = 50, priority = 2), apiKeyHash = "h1")
    intercept[IllegalArgumentException](m.createTenant("acme"))
    intercept[IllegalArgumentException](m.createTenant("bad name!"))
    assert(m.quota("acme") == TenantQuota(maxQps = 50, priority = 2))

    m.updateQuota("acme", TenantQuota(maxQps = 200, monthlyBudget = 9.5))
    assert(m.quota("acme").maxQps == 200)
    assert(m.quota("acme").monthlyBudget == 9.5)
    // quota update preserves the API key
    assert(m.verifyApiKey("acme", "h1"))
    m.updateApiKey("acme", "h2")
    assert(m.verifyApiKey("acme", "h2") && !m.verifyApiKey("acme", "h1"))
    assert(!m.verifyApiKey("ghost", "h2"))

    m.createUser("acme", "alice", "admin")
    m.createUser("acme", "bob", "reader")
    intercept[IllegalArgumentException](m.createUser("acme", "alice", "writer"))
    intercept[IllegalArgumentException](m.createUser("acme", "carl", "god"))
    assert(m.users("acme") == Map("alice" -> "admin", "bob" -> "reader"))
    m.updateUserRole("acme", "bob", "writer")
    assert(m.users("acme")("bob") == "writer")
  }

  test("a truncated tenant config fails closed; an absent apiKeyHash still means no key") {
    val m = mkMgmt()
    m.createTenant("acme", apiKeyHash = "h1")
    val f = java.nio.file.Paths.get(s"${m.root}/tenants/acme/config.json")
    Files.writeString(f, Files.readString(f).dropRight(2)) // cut inside apiKeyHash
    val e = intercept[IllegalStateException](m.apiKeyConfigured("acme"))
    assert(e.getMessage.contains("config.json") &&
      e.getMessage.contains("apiKeyHash"), e.getMessage)
    intercept[IllegalStateException](m.verifyApiKey("acme", "h1"))
    intercept[IllegalStateException](m.quota("acme"))
    // a well-formed legacy file without the field: a tenant with no key
    Files.writeString(f, """{"maxQps": 7}""")
    assert(!m.apiKeyConfigured("acme"))
    assert(m.quota("acme") == TenantQuota(maxQps = 7))
  }

  test("a tenant config cut inside a UTF-8 character fails naming the file") {
    val m = mkMgmt()
    m.createTenant("utf", apiKeyHash = "clé-ключ")
    val f = java.nio.file.Paths.get(s"${m.root}/tenants/utf/config.json")
    val bytes = Files.readAllBytes(f)
    // keep the first byte of the first two-byte character only
    val cut = bytes.indexWhere(b => (b & 0xe0) == 0xc0) + 1
    assert(cut > 0)
    Files.write(f, java.util.Arrays.copyOf(bytes, cut))
    val e = intercept[IllegalStateException](m.quota("utf"))
    assert(e.getMessage.contains("config.json") && e.getMessage.contains("UTF-8"),
      e.getMessage)
  }

  test("a truncated model registry fails with a named error, not active = 0") {
    val m = mkMgmt()
    val f = java.nio.file.Paths.get(s"${m.root}/models/sem/registry.json")
    Files.createDirectories(f.getParent)
    Files.writeString(f, """{"latest": 2, "active": 2, "previous": 1}""")
    assert(m.activeModel("sem").contains(2L))
    Files.writeString(f, """{"latest": 2, "act""")
    val e = intercept[IllegalStateException](m.activeModel("sem"))
    assert(e.getMessage.contains("registry.json"), e.getMessage)
  }

  test("indexes: declared config drives the build; stats served") {
    val m = mkMgmt()
    m.createIndex("t1", "idx", DeclaredIndex(dim = 3, metric = "L2",
      algo = "IVF_FLAT", nlist = 2))
    intercept[IllegalArgumentException](
      m.createIndex("t1", "idx", DeclaredIndex(dim = 3)))
    intercept[IllegalArgumentException](
      m.createIndex("t1", "idx2", DeclaredIndex(dim = 3, algo = "LOUVAIN")))
    assert(m.indexConfig("t1", "idx").get.nlist == 2)
    assert(m.indexConfig("t1", "nope").isEmpty)

    m.engine.add(mkRecords((0 until 20).map(i => (s"v$i", Seq(i.toFloat, 1f, 0f)))))
    m.buildIndex("t1", "idx")
    intercept[IllegalArgumentException](m.buildIndex("t1", "undeclared"))
    assert(m.indexStats("t1", "idx").agg(sum("n_vectors")).head.getLong(0) == 20)
    assert(m.engine.manifest("t1", "idx").algo == "IVF_FLAT")
  }

  test("snapshot export → import serves the tail on a fresh engine root") {
    val m1 = mkMgmt()
    m1.createIndex("t1", "idx", DeclaredIndex(dim = 3, nlist = 2))
    m1.engine.add(mkRecords((0 until 20).map(i => (s"v$i", Seq(i.toFloat, 1f, 0f)))))
    m1.buildIndex("t1", "idx")
    val dest = Files.createTempDirectory("snap_export").toString
    m1.snapshotIndex("t1", "idx", dest)

    val m2 = mkMgmt()
    m2.loadIndex("t1", "idx", dest)
    val hits = m2.engine.search("t1", "idx", q(1L, Seq(7f, 1f, 0f)), k = 1,
      nprobe = 2).collect()
    assert(hits.head.getAs[String]("id") == "v7")
    // local writes after the import surface through the delta head
    m2.engine.upsert(mkRecords(Seq(("w0", Seq(100f, 1f, 0f))), ver = 200L))
    val fresh = m2.engine.search("t1", "idx", q(2L, Seq(100f, 1f, 0f)), k = 1,
      nprobe = 2).collect()
    assert(fresh.head.getAs[String]("id") == "w0")
  }

  test("snapshot export → import roundtrips an IVF_PQ snapshot (codes+codebooks)") {
    val m1 = mkMgmt()
    m1.createIndex("t1", "idx", DeclaredIndex(dim = 8, algo = "IVF_PQ",
      nlist = 2, pqM = 4, pqK = 8))
    val recs = (0 until 40).map(i =>
      (s"v$i", Seq.tabulate(8)(d => (i * 8 + d).toFloat)))
    m1.engine.add(mkRecords(recs))
    m1.buildIndex("t1", "idx")
    val dest = Files.createTempDirectory("snap_pq").toString
    m1.snapshotIndex("t1", "idx", dest)

    val m2 = mkMgmt()
    m2.loadIndex("t1", "idx", dest)
    assert(m2.engine.manifest("t1", "idx").algo == "IVF_PQ")
    // both engines serve the identical ADC ranking from the moved files
    val q7 = q(1L, recs(7)._2)
    val a = m1.engine.search("t1", "idx", q7, k = 3, nprobe = 2).collect()
      .map(r => (r.getInt(1), r.getString(2)))
    val b = m2.engine.search("t1", "idx", q7, k = 3, nprobe = 2).collect()
      .map(r => (r.getInt(1), r.getString(2)))
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("refine-tier sidecar parity: export → import serves refined resident without the codes table") {
    // r10 verdict #6: a copied snapshot must serve REFINED on the
    // destination from the exported binary segment sidecar — no
    // wave-fetch rebuild. Proof device: delete the sq16 codes TABLE on
    // the destination after import; a resident refined answer can then
    // only come from the sidecar (the wave-fetch path needs the table).
    val m1 = mkMgmt()
    m1.createIndex("t1", "idx", DeclaredIndex(dim = 8, algo = "IVF_PQ",
      nlist = 2, pqM = 4, pqK = 8))
    val rng = new scala.util.Random(11)
    val recs = (0 until 40).map(i => (s"v$i", Seq.fill(8)(rng.nextFloat())))
    m1.engine.add(mkRecords(recs))
    m1.buildIndex("t1", "idx")
    val dest = Files.createTempDirectory("snap_sidecar").toString
    m1.snapshotIndex("t1", "idx", dest)
    // the export tree carries the sidecar verbatim
    assert(Files.isRegularFile(java.nio.file.Paths.get(
      s"$dest/snapshot/sq16/segments/meta.json")),
      "export must carry the binary segment sidecar")
    val root2 = Files.createTempDirectory("mgmt").toString
    val m2 = new Management(spark, root2)
    m2.loadIndex("t1", "idx", dest)
    val ver = m2.engine.manifest("t1", "idx").version
    val codes = java.nio.file.Paths.get(
      s"$root2/indexes/t1/idx/v$ver/sq16/codes")
    assert(Files.isDirectory(codes), "import must land the codes table")
    scala.reflect.io.Directory(new java.io.File(codes.toString))
      .deleteRecursively()
    val qv = recs(7)._2.toArray
    val (rows2, tr2) = m2.engine.searchRowsTraced("t1", "idx",
      Array((1L, qv)), 5, "L2", nprobe = 2, refine = 5)
    assert(tr2.path == "head+pqtail-refined",
      s"destination must serve refined from the sidecar, got $tr2")
    // identical refined answer on both sides of the copy
    val (rows1, tr1) = m1.engine.searchRowsTraced("t1", "idx",
      Array((1L, qv)), 5, "L2", nprobe = 2, refine = 5)
    assert(tr1.path == "head+pqtail-refined", tr1)
    assert(rows2.toSeq == rows1.toSeq,
      "sidecar-served refined answer must match the source engine")
  }

  test("cache invalidate flips warm hits back to misses without flushing files") {
    val m = mkMgmt()
    m.createIndex("t1", "idx", DeclaredIndex(dim = 3, nlist = 2))
    m.engine.add(mkRecords((0 until 20).map(i => (s"v$i", Seq(i.toFloat, 1f, 0f)))))
    m.buildIndex("t1", "idx")
    val query = q(1L, Seq(3f, 1f, 0f))
    m.engine.searchCached("t1", "idx", query, k = 3, nprobe = 2, now = 1000L).collect()
    val warm = m.engine.searchCached("t1", "idx", query, k = 3, nprobe = 2,
      now = 1010L).collect()
    assert(warm.forall(_.getAs[Boolean]("cache_hit")))
    m.invalidateCache("t1", "idx")
    val after = m.engine.searchCached("t1", "idx", query, k = 3, nprobe = 2,
      now = 1020L).collect()
    assert(after.forall(!_.getAs[Boolean]("cache_hit")))
    // entry files still present (lazy, epoch-stale) — flush removes them
    assert(m.engine.cacheEntries("t1", "idx").count() > 0)
  }

  test("billing usage rolls up the cached-search metrics log") {
    val m = mkMgmt()
    m.createIndex("t1", "idx", DeclaredIndex(dim = 3, nlist = 2))
    m.engine.add(mkRecords((0 until 20).map(i => (s"v$i", Seq(i.toFloat, 1f, 0f)))))
    m.buildIndex("t1", "idx")
    val query = q(1L, Seq(3f, 1f, 0f))
    m.engine.searchCached("t1", "idx", query, k = 3, nprobe = 2, now = 1000L).collect()
    m.engine.searchCached("t1", "idx", query, k = 3, nprobe = 2, now = 1010L).collect()
    val usage = m.billingUsage("t1").collect()
    assert(usage.length == 1)
    assert(usage.head.getAs[Long]("cache_hits") == 1L)
    assert(usage.head.getAs[Long]("cache_misses") == 1L)
    assert(usage.head.getAs[Long]("requests") == 2L)
    assert(m.billingUsage("ghost").count() == 0)
  }

  test("audit filters and stats") {
    val m = mkMgmt()
    m.audit("alice", "index.build", "t1/idx", ts = 1000L)
    m.audit("bob", "vector.delete", "t1/idx/v1", ts = 2000L)
    m.audit("alice", "index.build", "t1/idx2", ts = 3000L)
    assert(m.auditLogs(actor = Some("alice")).count() == 2)
    assert(m.auditLogs(action = Some("vector.delete")).count() == 1)
    assert(m.auditLogs(fromTs = Some(1500L), toTs = Some(2500L)).count() == 1)
    val stats = m.auditStats().collect().map(r => (r.getString(0), r.getLong(1)))
    assert(stats.toSeq == Seq(("index.build", 2L), ("vector.delete", 1L)))
    assert(m.health().contains("healthy"))
  }

  test("model registry: train versions, explicit deploy, one-step rollback") {
    val m = mkMgmt()
    val vecs = (0 until 40).map(i => (i.toLong, Seq(i.toFloat, (40 - i).toFloat)))
      .toDF("id", "vec")
    assert(m.trainModel("sem", vecs, k = 2) == 1L)
    assert(m.trainModel("sem", vecs, k = 4) == 2L)
    assert(m.modelVersions("sem") == Seq(1L, 2L))
    assert(m.activeModel("sem").isEmpty) // training never auto-deploys
    m.deployModel("sem", 1L)
    assert(m.activeModel("sem").contains(1L))
    m.deployModel("sem", 2L)
    assert(m.activeModel("sem").contains(2L))
    m.rollbackModel("sem")
    assert(m.activeModel("sem").contains(1L))
    intercept[IllegalArgumentException](m.deployModel("sem", 9L))
    assert(m.modelCentroids("sem", 2L).count() == 4)
  }

  test("deployed semantic model re-keys L2: prefetch warms, probe hits") {
    val m = mkMgmt()
    m.createIndex("t1", "idx", DeclaredIndex(dim = 2, nlist = 2))
    val recs = (0 until 40).map(i => (s"v$i", Seq(i.toFloat, (40 - i).toFloat)))
    m.engine.add(mkRecords(recs))
    m.buildIndex("t1", "idx")

    // external model with its own clustering drives the L2 cache layer
    val vecs = recs.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
      .toDF("id", "vec")
    m.trainModel("sem", vecs, k = 4, seed = 7L)
    m.deployModel("sem", 1L)
    m.deployModelToIndex("sem", "t1", "idx")

    // prefetch every model cluster, then probe with the model's own
    // centroids: every query must hit at L2 without any prior search
    val preds = m.modelCentroids("sem", 1L).select("cluster_id")
    assert(m.engine.prefetchIntoCache("t1", "idx", preds, k = 3, now = 1000L) == 4L)
    val qs = m.modelCentroids("sem", 1L)
      .select(col("cluster_id").cast("long").as("query_id"),
        col("centroid").as("qvec"))
    val hits = m.engine.searchCached("t1", "idx", qs, k = 3, nprobe = 2,
      now = 1010L).collect()
    assert(hits.nonEmpty)
    assert(hits.forall(_.getAs[Boolean]("cache_hit")))
    assert(hits.forall(_.getAs[String]("layer") == "L2"))
  }

  test("RBAC: roles gate operations — reader denied writes, writer builds, admin administers") {
    val m = mkMgmt()
    m.createTenant("acme")
    m.createUser("acme", "root", "admin")
    m.createUser("acme", "bob", "reader", actingUser = "root")
    m.createUser("acme", "wes", "writer", actingUser = "root")
    m.createIndex("acme", "idx", DeclaredIndex(dim = 3, nlist = 2),
      actingUser = "root")
    m.engine.add(mkRecords((0 until 20).map(i => (s"v$i", Seq(i.toFloat, 1f, 0f))))
      .withColumn("tenant_id", lit("acme")))

    // reader: build/flush/invalidate denied (RequirePermission parity)
    intercept[SecurityException](m.buildIndex("acme", "idx", actingUser = "bob"))
    intercept[SecurityException](m.flushCache("acme", "idx", actingUser = "bob"))
    intercept[SecurityException](m.invalidateCache("acme", "idx", actingUser = "bob"))
    // writer: data-plane allowed, tenant administration denied
    intercept[SecurityException](
      m.createUser("acme", "eve", "admin", actingUser = "wes"))
    intercept[SecurityException](
      m.updateQuota("acme", TenantQuota(), actingUser = "wes"))
    // unknown principal: denied outright
    intercept[SecurityException](m.buildIndex("acme", "idx", actingUser = "ghost"))

    m.buildIndex("acme", "idx", actingUser = "wes")
    m.flushCache("acme", "idx", actingUser = "wes")
    // reader-level reads allowed for every role
    assert(m.indexStats("acme", "idx", actingUser = "bob").count() > 0)
    assert(m.metricsText("acme", "idx", actingUser = "bob")
      .contains("cache_hit_total"))
    m.updateQuota("acme", TenantQuota(maxQps = 7), actingUser = "root")
    assert(m.quota("acme").maxQps == 7)
  }

  test("stored CacheMemoryMb quota flows into searchCached and rejects populate") {
    val m = mkMgmt()
    m.createTenant("tiny", TenantQuota(cacheMemoryMb = 0))
    m.createIndex("tiny", "idx", DeclaredIndex(dim = 3, nlist = 2))
    m.engine.add(mkRecords((0 until 20).map(i => (s"v$i", Seq(i.toFloat, 1f, 0f))))
      .withColumn("tenant_id", lit("tiny")))
    m.buildIndex("tiny", "idx")

    val opts = m.searchOptionsFor("tiny", "idx")
    assert(opts.cacheMemoryMb == 0)
    val query = q(1L, Seq(3f, 1f, 0f))
    val cold = m.engine.searchCached("tiny", "idx", query, k = 3, nprobe = 2,
      now = 1000L, options = opts).collect()
    assert(cold.nonEmpty) // the miss is served even though caching is rejected
    val again = m.engine.searchCached("tiny", "idx", query, k = 3, nprobe = 2,
      now = 1010L, options = opts).collect()
    assert(again.forall(!_.getAs[Boolean]("cache_hit")))
    assert(!Files.exists(java.nio.file.Paths.get(s"${m.root}/cache/tiny/idx/entries")))
  }

  test("quota bridge: stored priority/budget drive plan-time degradation") {
    val m = mkMgmt()
    m.createTenant("low", TenantQuota(priority = 2, monthlyBudget = 10.0))
    m.createIndex("low", "idx", DeclaredIndex(dim = 3, nlist = 2))
    m.engine.add(mkRecords((0 until 20).map(i => (s"v$i", Seq(i.toFloat, 1f, 0f))))
      .withColumn("tenant_id", lit("low")))
    m.buildIndex("low", "idx")

    // degraded guardrails + low priority → cache-only shedding
    val shed = m.searchOptionsFor("low", "idx", degraded = true)
    assert(shed.cacheOnly)
    // over monthly budget → scan cap, budget-adjusted
    val capped = m.searchOptionsFor("low", "idx", monthSpend = 11.0)
    assert(capped.budgetAdjusted && capped.maxScans > 0)
    // in budget, not degraded → unconstrained
    val free = m.searchOptionsFor("low", "idx")
    assert(!free.cacheOnly && free.maxScans == 0)
  }
}
