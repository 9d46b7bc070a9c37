package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-tenant quota configuration (reference: Model/TenantConfig.cs:5-57 —
  * same fields, same defaults; priority 0 = high, 1 = normal, 2 = low). */
case class TenantQuota(maxQps: Int = 100,
                       maxConcurrentRequests: Int = 8,
                       cacheMemoryMb: Int = 64,
                       dailyRequestLimit: Long = 100000L,
                       priority: Int = 1,
                       monthlyBudget: Double = 100.0)

/** Cluster-wide cache policy (reference: Model/CachePolicyConfig.cs:3-8 —
  * same fields, same defaults). */
case class CachePolicy(enableCache: Boolean = true,
                       defaultTtlSeconds: Int = 60)

/** Declared per-index schema (reference: Model/IndexConfig.cs:7-33). */
case class DeclaredIndex(dim: Int, metric: String = "L2",
                         algo: String = "IVF_FLAT", nlist: Int = 16,
                         pqM: Int = 8, pqK: Int = 256)

/** The management plane as a typed library facade — every route of the
  * reference's REST controllers (SURVEY §2.1 S6) as a direct call:
  *
  *   - indexes:  create / build / snapshot / load / stats / centroids push
  *               (reference: Controllers/IndexController.cs:13-292)
  *   - tenants:  create, quotas get/update, API key, users + roles
  *               (reference: Controllers/TenantController.cs:11-264)
  *   - cache:    flush / invalidate (reference: Controllers/CacheController.cs)
  *   - billing:  usage rollup (reference: Controllers/BillingController.cs)
  *   - audit:    filtered logs + stats (reference: Controllers/AuditController.cs)
  *   - health/metrics (reference: Controllers/HealthController.cs)
  *   - AI models: train / deploy / rollback / list — the sidecar's semantic
  *               model lifecycle (reference: Controllers/AiController.cs:15-197
  *               + src/Pyrope.AISidecar/semantic_model.py:9-53)
  *
  * Config-plane state (tenants, users, index declarations, model registry)
  * is tiny and driver-written as atomic-rename JSON, exactly like the
  * engine manifest; data-plane state stays in the engine's parquet layout.
  * This class stays transport-free; [[graft.server.HttpPlane]] serves
  * these same calls over the reference's REST routes, and
  * [[graft.server.RespServer]] serves the data plane over RESP.
  */
object Management {
  /** Sentinel principal for in-process trusted callers (the serving stack
    * itself). The reference's middleware likewise skips RequirePermission
    * on excluded internal paths (Program.cs:154-156); every externally
    * attributed call must pass a real user id and clears the role gate. */
  val SystemUser = "__system__"

  // The config-plane records: each writer's exact on-disk form and its
  // strict reader. Absent fields keep their documented defaults (legacy
  // files); a truncated or mistyped record throws an
  // IllegalStateException naming the file and the field.
  private def record(file: String, text: String): Json.Obj =
    Json.parse(s"corrupt config $file", text, new IllegalStateException(_))

  private[graft] def renderTenant(q: TenantQuota, apiKeyHash: String): String =
    s"""{"maxQps": ${q.maxQps}, "maxConcurrentRequests": ${q.maxConcurrentRequests}, "cacheMemoryMb": ${q.cacheMemoryMb}, "dailyRequestLimit": ${q.dailyRequestLimit}, "priority": ${q.priority}, "monthlyBudget": ${q.monthlyBudget}, "apiKeyHash": ${Json.quote(apiKeyHash)}}"""

  /** (quota, apiKeyHash); an absent `apiKeyHash` is "" — no key set. */
  private[graft] def parseTenant(file: String, text: String): (TenantQuota, String) = {
    val (o, d) = (record(file, text), TenantQuota())
    (TenantQuota(o.int("maxQps").getOrElse(d.maxQps),
      o.int("maxConcurrentRequests").getOrElse(d.maxConcurrentRequests),
      o.int("cacheMemoryMb").getOrElse(d.cacheMemoryMb),
      o.long("dailyRequestLimit").getOrElse(d.dailyRequestLimit),
      o.int("priority").getOrElse(d.priority),
      o.double("monthlyBudget").getOrElse(d.monthlyBudget)),
      o.string("apiKeyHash").getOrElse(""))
  }

  private[graft] val Roles: Set[String] = Set("admin", "writer", "reader")

  private[graft] def renderUsers(us: Map[String, String]): String =
    us.toSeq.sorted.map { case (u, r) => s"${Json.quote(u)}: ${Json.quote(r)}" }
      .mkString("{", ", ", "}")

  private[graft] def parseUsers(file: String, text: String): Map[String, String] = {
    val o = record(file, text)
    o.strings.map { case (u, r) =>
      if (!Roles(r)) o.fail(s"field '$u' has unknown role '$r'")
      u -> r
    }
  }

  private[graft] def renderPolicy(p: CachePolicy): String =
    s"""{"enableCache": ${p.enableCache}, "defaultTtlSeconds": ${p.defaultTtlSeconds}}"""

  private[graft] def parsePolicy(file: String, text: String): CachePolicy = {
    val (o, d) = (record(file, text), CachePolicy())
    CachePolicy(o.bool("enableCache").getOrElse(d.enableCache),
      o.int("defaultTtlSeconds").getOrElse(d.defaultTtlSeconds))
  }

  private[graft] def renderIndex(c: DeclaredIndex): String =
    s"""{"dim": ${c.dim}, "metric": ${Json.quote(c.metric)}, "algo": ${Json.quote(c.algo)}, "nlist": ${c.nlist}, "pqM": ${c.pqM}, "pqK": ${c.pqK}}"""

  private[graft] def parseIndex(file: String, text: String): DeclaredIndex = {
    val (o, d) = (record(file, text), DeclaredIndex(dim = 0))
    DeclaredIndex(o.int("dim").getOrElse(d.dim), o.string("metric").getOrElse(d.metric),
      o.string("algo").getOrElse(d.algo), o.int("nlist").getOrElse(d.nlist),
      o.int("pqM").getOrElse(d.pqM), o.int("pqK").getOrElse(d.pqK))
  }

  /** The model registry: (latest, active, previous). */
  private[graft] def renderRegistry(r: (Long, Long, Long)): String =
    s"""{"latest": ${r._1}, "active": ${r._2}, "previous": ${r._3}}"""

  private[graft] def parseRegistry(file: String, text: String): (Long, Long, Long) = {
    val o = record(file, text)
    (o.long("latest").getOrElse(0L), o.long("active").getOrElse(0L),
      o.long("previous").getOrElse(0L))
  }
}

class Management(spark: SparkSession, val root: String) {

  val engine = new GraftEngine(spark, root)

  // -------------------------------------------------------------------
  // RBAC enforcement (reference: RequirePermission on every route, e.g.
  // IndexController.cs:80-82, enforced by the auth middleware
  // Program.cs:154-156): admin ⊃ writer ⊃ reader. Operations take an
  // `actingUser`; unknown users and insufficient roles are rejected.
  // -------------------------------------------------------------------

  private val roleRank = Map("reader" -> 0, "writer" -> 1, "admin" -> 2)

  private def authorize(tenantId: String, actingUser: String,
                        atLeast: String): Unit =
    if (actingUser != Management.SystemUser) {
      val role = users(tenantId).getOrElse(actingUser,
        throw new SecurityException(
          s"unknown user '$actingUser' for tenant $tenantId"))
      if (roleRank(role) < roleRank(atLeast))
        throw new SecurityException(
          s"user '$actingUser' (role $role) lacks '$atLeast' permission " +
            s"on tenant $tenantId")
    }

  private val NamePat = "^[A-Za-z0-9_-]+$"
  private def requireName(s: String, what: String): Unit =
    require(s != null && s.matches(NamePat),
      s"invalid $what: '$s' (allowed: [A-Za-z0-9_-]+)")

  // write-then-atomic-rename, like the engine manifest
  private def writeJson(path: java.nio.file.Path, json: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = Paths.get(path.toString + ".tmp")
    Files.writeString(tmp, json, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    parsed.remove(path.toString)
  }

  /** Parsed records by path, each stamped with its file's (fileKey, mtime,
    * size): the RESP serving path checks the tenant's key and quota and
    * the index's declared dim on every call, and per-call disk reads ride
    * this host's IO storms into serving tails. Every writer renames a
    * fresh file into place, so the next stat re-parses; same-JVM writers
    * also drop the entry synchronously. A damaged file is never stored:
    * it throws on every read. */
  private val parsed =
    new java.util.concurrent.ConcurrentHashMap[String, (Any, Any)]()

  /** The record at `f`, None ONLY when the file is absent — a transient
    * I/O or permission error reported as a missing record would hand the
    * client a wrong, actionable-looking answer during the exact disk
    * storms the memo exists to ride out; those propagate. */
  private def read[T](f: java.nio.file.Path)(parse: (String, String) => T): Option[T] = {
    val attrs =
      try Some(Files.readAttributes(
        f, classOf[java.nio.file.attribute.BasicFileAttributes]))
      catch { case _: java.nio.file.NoSuchFileException => None }
    attrs.map { a =>
      val stamp = (a.fileKey, a.lastModifiedTime, a.size)
      val hit = parsed.get(f.toString)
      if (hit != null && hit._1 == stamp) hit._2.asInstanceOf[T]
      else {
        val v = parse(f.toString, Json.readFile(f))
        parsed.put(f.toString, (stamp, v))
        v
      }
    }
  }

  // -------------------------------------------------------------------
  // tenants (TenantController.cs:25-57 create, 59-108 quotas, 110-143 key)
  // -------------------------------------------------------------------

  private def tenantFile(t: String) = Paths.get(s"$root/tenants/$t/config.json")
  private def usersFile(t: String) = Paths.get(s"$root/tenants/$t/users.json")

  def createTenant(tenantId: String, quota: TenantQuota = TenantQuota(),
                   apiKeyHash: String = ""): Unit = {
    requireName(tenantId, "tenant id")
    if (Files.exists(tenantFile(tenantId)))
      throw new ConflictException("tenant", s"tenant already exists: $tenantId")
    writeJson(tenantFile(tenantId), Management.renderTenant(quota, apiKeyHash))
  }

  def tenantExists(tenantId: String): Boolean = Files.exists(tenantFile(tenantId))

  private def requireTenant(tenantId: String): Unit =
    if (!tenantExists(tenantId)) throw new NotFoundException("tenant", s"no such tenant: $tenantId")

  /** (quota, apiKeyHash). */
  private def tenantConfig(tenantId: String): (TenantQuota, String) =
    read(tenantFile(tenantId))(Management.parseTenant).getOrElse(
      throw new NotFoundException("tenant", s"no such tenant: $tenantId"))

  def quota(tenantId: String): TenantQuota = tenantConfig(tenantId)._1

  def updateQuota(tenantId: String, q: TenantQuota,
                  actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "admin")
    requireTenant(tenantId)
    writeJson(tenantFile(tenantId), Management.renderTenant(q, apiKeyHash(tenantId)))
  }

  /** A damaged config throws rather than reading as "no key": the
    * protocol planes skip key checks for tenants without one. */
  private def apiKeyHash(tenantId: String): String = tenantConfig(tenantId)._2

  def updateApiKey(tenantId: String, newHash: String,
                   actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "admin")
    requireTenant(tenantId)
    writeJson(tenantFile(tenantId), Management.renderTenant(quota(tenantId), newHash))
  }

  /** Whether the tenant has any API key set — the protocol planes only
    * enforce per-command auth for tenants that configured one. */
  def apiKeyConfigured(tenantId: String): Boolean =
    tenantExists(tenantId) && apiKeyHash(tenantId).nonEmpty

  /** Constant-shape comparison of a presented key hash (the reference
    * stores hashes, never plaintext — Security/ApiKeyAuth). */
  def verifyApiKey(tenantId: String, presentedHash: String): Boolean =
    tenantExists(tenantId) && {
      val stored = apiKeyHash(tenantId)
      stored.nonEmpty && java.security.MessageDigest.isEqual(
        stored.getBytes("UTF-8"), presentedHash.getBytes("UTF-8"))
    }

  // users + roles (TenantController.cs:145-264; roles mirror the
  // reference's RBAC permission tiers)
  val Roles: Set[String] = Management.Roles

  def users(tenantId: String): Map[String, String] =
    read(usersFile(tenantId))(Management.parseUsers).getOrElse(Map.empty)

  private def writeUsers(tenantId: String, us: Map[String, String]): Unit =
    writeJson(usersFile(tenantId), Management.renderUsers(us))

  def createUser(tenantId: String, userId: String, role: String,
                 actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "admin")
    requireTenant(tenantId)
    requireName(userId, "user id")
    require(Roles(role), s"unknown role: $role (allowed: ${Roles.mkString("/")})")
    val us = users(tenantId)
    if (us.contains(userId)) throw new ConflictException("user", s"user already exists: $userId")
    writeUsers(tenantId, us + (userId -> role))
  }

  def updateUserRole(tenantId: String, userId: String, role: String,
                     actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "admin")
    require(Roles(role), s"unknown role: $role")
    val us = users(tenantId)
    if (!us.contains(userId)) throw new NotFoundException("user", s"no such user: $userId")
    writeUsers(tenantId, us + (userId -> role))
  }

  def deleteUser(tenantId: String, userId: String,
                 actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "admin")
    val us = users(tenantId)
    if (!us.contains(userId)) throw new NotFoundException("user", s"no such user: $userId")
    writeUsers(tenantId, us - userId)
  }

  // -------------------------------------------------------------------
  // cache policy store (CacheController.cs:26-60 GET/PUT policies;
  // Model/CachePolicyConfig.cs:3-8 — same fields, same defaults).
  // Persisted as config-plane JSON rather than process memory so every
  // driver/gateway sees one policy; callers feed `defaultTtlSeconds`
  // into the engine's `ttlSeconds` search argument.
  // -------------------------------------------------------------------

  private def policyFile = Paths.get(s"$root/cache_policy.json")

  def cachePolicy: CachePolicy =
    read(policyFile)(Management.parsePolicy).getOrElse(CachePolicy())

  def updateCachePolicy(p: CachePolicy,
                        actingUser: String = Management.SystemUser): Unit = {
    require(p.defaultTtlSeconds >= 0, "DefaultTtlSeconds must be >= 0.")
    writeJson(policyFile, Management.renderPolicy(p))
  }

  // -------------------------------------------------------------------
  // indexes (IndexController.cs:29-78 create, 80-123 build, 125-228
  // snapshot/load, 230-249 stats, 251-292 centroids)
  // -------------------------------------------------------------------

  private def indexFile(t: String, i: String) =
    Paths.get(s"$root/indexes/$t/$i/config.json")

  def createIndex(tenantId: String, indexName: String, cfg: DeclaredIndex,
                  actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "admin")
    requireName(tenantId, "tenant id"); requireName(indexName, "index name")
    require(cfg.dim > 0, s"dim must be positive: ${cfg.dim}")
    require(Set("L2", "IP", "COSINE")(cfg.metric.toUpperCase(java.util.Locale.ROOT)),
      s"unknown metric: ${cfg.metric}")
    require(Set("FLAT", "IVF_FLAT", "IVF_PQ", "HNSW")(cfg.algo.toUpperCase(java.util.Locale.ROOT)),
      s"unknown algo: ${cfg.algo}")
    if (Files.exists(indexFile(tenantId, indexName)))
      throw new ConflictException("index", s"index already exists: $tenantId/$indexName")
    writeJson(indexFile(tenantId, indexName), Management.renderIndex(cfg.copy(
      metric = cfg.metric.toUpperCase(java.util.Locale.ROOT),
      algo = cfg.algo.toUpperCase(java.util.Locale.ROOT))))
  }

  def indexConfig(tenantId: String, indexName: String): Option[DeclaredIndex] =
    read(indexFile(tenantId, indexName))(Management.parseIndex)

  /** Build with the DECLARED config — the REST build route has no
    * parameters; everything comes from index creation. */
  def buildIndex(tenantId: String, indexName: String, seed: Long = 42L,
                 actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "writer")
    val cfg = indexConfig(tenantId, indexName)
      .getOrElse(throw new NotFoundException("index",
        s"no such index: $tenantId/$indexName (createIndex first)"))
    engine.build(tenantId, indexName, nlist = cfg.nlist, metric = cfg.metric,
      seed = seed, algo = cfg.algo, pqM = cfg.pqM, pqK = cfg.pqK)
  }

  def indexStats(tenantId: String, indexName: String,
                 actingUser: String = Management.SystemUser): DataFrame = {
    authorize(tenantId, actingUser, "reader")
    engine.stats(tenantId, indexName)
  }

  def snapshotIndex(tenantId: String, indexName: String, dest: String,
                    actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "writer")
    engine.exportSnapshot(tenantId, indexName, dest)
  }

  def loadIndex(tenantId: String, indexName: String, src: String,
                actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "writer")
    engine.importSnapshot(tenantId, indexName, src)
  }

  /** Push externally trained semantic-cluster centroids into the L2 cache
    * layer (sidecar → server flow). */
  def updateCentroids(tenantId: String, indexName: String,
                      centroids: DataFrame,
                      actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "writer")
    engine.setCacheCentroids(tenantId, indexName, centroids)
  }

  // -------------------------------------------------------------------
  // cache (CacheController.cs:62-79 flush, 81-103 invalidate)
  // -------------------------------------------------------------------

  def flushCache(tenantId: String, indexName: String,
                 actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "writer")
    engine.flushCache(tenantId, indexName)
  }

  def invalidateCache(tenantId: String, indexName: String,
                      actingUser: String = Management.SystemUser): Unit = {
    authorize(tenantId, actingUser, "writer")
    engine.invalidateCache(tenantId, indexName)
  }

  /** Entry-table GC on demand (the maintenance form of the lazy sweep —
    * reference: MemoryCacheStorage eviction surfaced through stats).
    * Returns the number of evicted entries. */
  def compactCache(tenantId: String, indexName: String, now: Long,
                   actingUser: String = Management.SystemUser): Long = {
    authorize(tenantId, actingUser, "writer")
    engine.compactCacheEntries(tenantId, indexName, now)
  }

  // -------------------------------------------------------------------
  // billing (BillingController.cs:26-46): usage rollup per tenant/index
  // from the engine's metrics log
  // -------------------------------------------------------------------

  def billingUsage(tenantId: String,
                   actingUser: String = Management.SystemUser): DataFrame = {
    authorize(tenantId, actingUser, "reader")
    val base = Paths.get(s"$root/metrics/$tenantId")
    val indexes =
      if (!Files.isDirectory(base)) Seq.empty[String]
      else {
        val it = Files.list(base).iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) { val p = it.next(); if (Files.isDirectory(p)) buf += p.getFileName.toString }
        buf.toSeq.sorted
      }
    import spark.implicits._
    val frames = indexes.map { idx =>
      spark.read.parquet(s"$root/metrics/$tenantId/$idx")
        .agg(sum("hits").as("cache_hits"), sum("misses").as("cache_misses"))
        .select(lit(tenantId).as("tenant_id"), lit(idx).as("index_name"),
          coalesce(col("cache_hits"), lit(0L)).as("cache_hits"),
          coalesce(col("cache_misses"), lit(0L)).as("cache_misses"))
    }
    val empty = Seq.empty[(String, String, Long, Long)]
      .toDF("tenant_id", "index_name", "cache_hits", "cache_misses")
    frames.foldLeft(empty)(_ unionByName _)
      .withColumn("requests", col("cache_hits") + col("cache_misses"))
  }

  // -------------------------------------------------------------------
  // audit (AuditController.cs:23-95: filtered logs + stats)
  // -------------------------------------------------------------------

  def audit(actor: String, action: String, resource: String, ts: Long): Unit =
    engine.audit(actor, action, resource, ts)

  def auditLogs(actor: Option[String] = None, action: Option[String] = None,
                fromTs: Option[Long] = None, toTs: Option[Long] = None): DataFrame = {
    var df = engine.auditLog()
    actor.foreach(a => df = df.filter(col("actor") === a))
    action.foreach(a => df = df.filter(col("action") === a))
    fromTs.foreach(t => df = df.filter(col("ts") >= t))
    toTs.foreach(t => df = df.filter(col("ts") <= t))
    df.orderBy("ts")
  }

  def auditStats(): DataFrame =
    engine.auditLog().groupBy("action").agg(count(lit(1)).as("n"))
      .orderBy("action")

  // -------------------------------------------------------------------
  // health / metrics (HealthController.cs:16-27)
  // -------------------------------------------------------------------

  def health(): String = """{"status": "healthy"}"""

  def metricsText(tenantId: String, indexName: String,
                  latencies: Option[DataFrame] = None,
                  actingUser: String = Management.SystemUser): String = {
    authorize(tenantId, actingUser, "reader")
    engine.statsText(tenantId, indexName, latencies)
  }

  // -------------------------------------------------------------------
  // AI model registry (AiController.cs:30-196 + semantic_model.py:9-53):
  // versioned centroid models with explicit deploy and one-step rollback
  // -------------------------------------------------------------------

  private def modelDir(name: String) = s"$root/models/$name"
  private def registryFile(name: String) = Paths.get(s"${modelDir(name)}/registry.json")

  private def registry(name: String): (Long, Long, Long) = // (latest, active, previous)
    read(registryFile(name))(Management.parseRegistry).getOrElse((0L, 0L, 0L))

  private def writeRegistry(name: String, latest: Long, active: Long,
                            previous: Long): Unit =
    writeJson(registryFile(name), Management.renderRegistry((latest, active, previous)))

  /** Train a new semantic-cluster model version (KMeans over the given
    * vectors — the sidecar's n_clusters-KMeans, semantic_model.py:17-29).
    * vectors: (id BIGINT, vec ARRAY<FLOAT>). Returns the new version.
    * Training does NOT deploy (the reference deploys explicitly). */
  def trainModel(name: String, vectors: DataFrame, k: Int,
                 seed: Long = 42L): Long = {
    requireName(name, "model name")
    val (latest, active, previous) = registry(name)
    val v = latest + 1
    val idx = graft.operators.IvfFlat.build(vectors, nlist = k, seed = seed)
    idx.centroids.write.mode("overwrite")
      .parquet(s"${modelDir(name)}/v$v/centroids")
    writeRegistry(name, v, active, previous)
    v
  }

  def modelVersions(name: String): Seq[Long] = {
    val (latest, _, _) = registry(name)
    (1L to latest)
  }

  def activeModel(name: String): Option[Long] =
    registry(name) match { case (_, a, _) => if (a > 0) Some(a) else None }

  def deployModel(name: String, version: Long): Unit = {
    val (latest, active, _) = registry(name)
    if (version < 1 || version > latest)
      throw new NotFoundException("version", s"no such version: $name v$version (latest: v$latest)")
    writeRegistry(name, latest, version, active)
  }

  /** One-step rollback to the previously active version. */
  def rollbackModel(name: String): Unit = {
    val (latest, active, previous) = registry(name)
    require(previous > 0, s"nothing to roll back to for $name")
    writeRegistry(name, latest, previous, active)
  }

  def modelCentroids(name: String, version: Long): DataFrame =
    spark.read.parquet(s"${modelDir(name)}/v$version/centroids")

  /** Push the ACTIVE model's centroids into an index's L2 cache layer —
    * the sidecar's trained-model → server centroid-sync flow. */
  def deployModelToIndex(name: String, tenantId: String,
                         indexName: String): Unit = {
    val v = activeModel(name).getOrElse(
      throw new IllegalArgumentException(s"model $name has no active version"))
    updateCentroids(tenantId, indexName, modelCentroids(name, v))
  }

  // -------------------------------------------------------------------
  // quota → plan-time degradation bridge (steps 8-9 of the read path,
  // resolved from the STORED tenant config)
  // -------------------------------------------------------------------

  def searchOptionsFor(tenantId: String, indexName: String,
                       degraded: Boolean = false,
                       monthSpend: Double = 0.0,
                       cacheHintForce: Boolean = false): engine.SearchOptions = {
    val q = quota(tenantId)
    engine.resolveSearchOptions(tenantId, indexName, degraded,
      priority = q.priority, overBudget = monthSpend > q.monthlyBudget,
      cacheHintForce = cacheHintForce, cacheMemoryMb = q.cacheMemoryMb)
  }
}
