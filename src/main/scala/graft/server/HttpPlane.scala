package graft.server

import java.io.OutputStream
import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{CachePolicy, DeclaredIndex, Json, Management, TenantQuota}

/** The reference's REST management plane — every route of the seven
  * controllers (reference: Controllers/IndexController.cs:13-292,
  * TenantController.cs:11-290, CacheController.cs:12-125,
  * BillingController.cs:12-46, AuditController.cs:10-95,
  * HealthController.cs:16-27, AiController.cs:15-215) — served by the
  * JDK's built-in HTTP server in front of the [[graft.Management]]
  * typed facade. Route semantics, bodies and status codes mirror the
  * controllers; capability lives entirely in Management / the engine.
  *
  * Auth (reference: Security/ApiKeyAuthMiddleware.cs:11-81 +
  * RequirePermissionAttribute.cs): tenant-scoped routes on a tenant
  * with a configured API key require `X-API-KEY` whose SHA-256 matches
  * the stored hash — a valid key acts as the tenant's admin
  * (ApiKeyAuthMiddleware.cs:81). An `X-USER-ID` header additionally
  * downscopes the call to that user's RBAC role (the middleware's
  * PyropeUserId); tenants without a key accept attributed or system
  * calls directly, matching the library's `actingUser` trust model.
  *
  * Scale/role note: this is a config/control plane — every handler is a
  * driver-side file read/write or a bounded metadata query (stats,
  * audit, billing aggregates); nothing here is on the serving hot path,
  * and no handler schedules unbounded Spark work. On a real cluster it
  * runs on the driver or a thin gateway next to [[RespServer]].
  */
final class HttpPlane(mgmt: Management, port: Int = 0) {

  private val SystemUser = Management.SystemUser

  @volatile private var server: HttpServer = _

  def start(): Int = {
    require(server == null, "server already started")
    server = HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, port), 64)
    server.createContext("/", (ex: HttpExchange) => route(ex))
    // bounded worker pool AND bounded work queue (the RESP plane's
    // maxConnections analog): 16 workers drain a 64-deep queue, and past
    // that CallerRunsPolicy executes the exchange on the dispatcher
    // thread itself — which stalls ALL of HttpServer's connection I/O
    // for that handler's duration (responses mid-stream to other
    // clients included, not just new accepts); overflow then backs up
    // into the bounded accept backlog (64 above) and the kernel, so a
    // flood can't grow threads OR heap without limit. That plane-wide
    // pause is an accepted trade for a control plane whose handlers are
    // short driver-side file/metadata ops — a data plane would want
    // AbortPolicy + 503 instead.
    server.setExecutor(new java.util.concurrent.ThreadPoolExecutor(
      16, 16, 0L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.ArrayBlockingQueue[Runnable](64),
      (r: Runnable) => {
        val t = new Thread(r, "graft-http")
        t.setDaemon(true); t
      },
      new java.util.concurrent.ThreadPoolExecutor.CallerRunsPolicy()))
    server.start()
    server.getAddress.getPort
  }

  def close(): Unit = if (server != null) server.stop(0)

  /** Bounded by construction: only config/metrics tables flow through
    * here (stats per cluster, audit log, per-tenant billing rollup). */
  private def dfJson(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  // ---- request plumbing ----------------------------------------------

  /** The request body as one strict JSON object: a malformed or
    * truncated body, or a field of the wrong type or range, is an
    * IllegalArgumentException and so a 400 naming the field. */
  private def body(ex: HttpExchange): Json.Obj =
    Json.parse("request body",
      new String(ex.getRequestBody.readAllBytes(), UTF_8))

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap

  private def send(ex: HttpExchange, code: Int, payload: String,
                   contentType: String = "application/json"): Unit = {
    val bytes = payload.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) {
      val os: OutputStream = ex.getResponseBody
      os.write(bytes); os.close()
    }
    ex.close()
  }

  private def sendErr(ex: HttpExchange, code: Int, msg: String): Unit =
    send(ex, code, s"""{"error": ${Json.quote(msg)}}""")

  private def fail(code: Int, msg: String): Nothing =
    throw new HttpPlane.HttpError(code, msg)

  /** Resolve the acting principal for a tenant-scoped call (middleware
    * order of ApiKeyAuthMiddleware.cs:46-81). */
  private def actor(ex: HttpExchange, tenantId: String): String = {
    val key = Option(ex.getRequestHeaders.getFirst("X-API-KEY"))
    val user = Option(ex.getRequestHeaders.getFirst("X-USER-ID"))
    if (mgmt.tenantExists(tenantId) && mgmt.apiKeyConfigured(tenantId)) {
      if (!key.exists(k => mgmt.verifyApiKey(tenantId, sha256Hex(k))))
        fail(401, "Invalid or missing API key.")
      user.getOrElse(SystemUser) // valid key = tenant admin unless downscoped
    } else user.getOrElse(SystemUser)
  }

  /** Acting principal for non-tenant-scoped routes (cache policies,
    * audit, AI models, health): attributed if the caller says who they
    * are, system otherwise. */
  private def globalActor(ex: HttpExchange): String =
    Option(ex.getRequestHeaders.getFirst("X-USER-ID")).getOrElse(SystemUser)

  // ---- router ---------------------------------------------------------

  private def route(ex: HttpExchange): Unit =
    try {
      val method = ex.getRequestMethod.toUpperCase(java.util.Locale.ROOT)
      val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
      (method, parts) match {
        // health / metrics (HealthController.cs:16-27)
        case ("GET", List("v1", "health")) =>
          send(ex, 200, mgmt.health())
        case ("GET", List("v1", "metrics")) =>
          val p = queryParams(ex)
          val (t, i) = (p.getOrElse("tenantId", fail(400, "tenantId required")),
            p.getOrElse("indexName", fail(400, "indexName required")))
          send(ex, 200, mgmt.metricsText(t, i, actingUser = actor(ex, t)),
            "text/plain; charset=utf-8")

        // tenants (TenantController.cs:25-290)
        case ("POST", List("v1", "tenants")) =>
          val b = body(ex)
          val t = b.string("tenantId").getOrElse(fail(400, "Invalid request."))
          mgmt.createTenant(t, quotaOf(b, TenantQuota()),
            b.string("apiKey").map(sha256Hex).getOrElse(""))
          send(ex, 201, s"""{"tenantId": ${Json.quote(t)}}""")
        case ("GET", List("v1", "tenants", t, "quotas")) =>
          actor(ex, t) // auth only; quota read needs no role in the library
          val q = tenantQuotaOr404(t)
          send(ex, 200, quotaJson(q))
        case ("PUT", List("v1", "tenants", t, "quotas")) =>
          val a = actor(ex, t)
          val cur = tenantQuotaOr404(t)
          val q = quotaOf(body(ex), cur)
          mgmt.updateQuota(t, q, a)
          send(ex, 200, quotaJson(q))
        case ("PUT", List("v1", "tenants", t, "apikey")) =>
          val a = actor(ex, t)
          val k = body(ex).string("apiKey")
            .getOrElse(fail(400, "ApiKey is required."))
          mgmt.updateApiKey(t, sha256Hex(k), a)
          send(ex, 200, """{"message": "API key updated."}""")
        case ("POST", List("v1", "tenants", t, "users")) =>
          val a = actor(ex, t)
          val b = body(ex)
          mgmt.createUser(t,
            b.string("userId").getOrElse(fail(400, "userId required")),
            b.string("role").getOrElse(fail(400, "role required")), a)
          send(ex, 201, """{"message": "User created."}""")
        case ("GET", List("v1", "tenants", t, "users")) =>
          actor(ex, t)
          send(ex, 200, Management.renderUsers(mgmt.users(t)))
        case ("PUT", List("v1", "tenants", t, "users", u, "role")) =>
          val a = actor(ex, t)
          mgmt.updateUserRole(t, u,
            body(ex).string("role").getOrElse(fail(400, "role required")), a)
          send(ex, 200, """{"message": "Role updated."}""")
        case ("DELETE", List("v1", "tenants", t, "users", u)) =>
          val a = actor(ex, t)
          mgmt.deleteUser(t, u, a)
          send(ex, 200, """{"message": "User deleted."}""")

        // indexes (IndexController.cs:29-292)
        case ("POST", List("v1", "indexes")) =>
          val b = body(ex)
          val t = b.string("tenantId").getOrElse(fail(400, "Invalid request."))
          val i = b.string("indexName").getOrElse(fail(400, "Invalid request."))
          val a = actor(ex, t)
          val d = DeclaredIndex(dim = 0)
          mgmt.createIndex(t, i, DeclaredIndex(
            b.int("dimension").getOrElse(d.dim),
            b.string("metric").getOrElse(d.metric),
            b.string("algorithm").getOrElse(d.algo),
            b.int("nlist").getOrElse(d.nlist),
            b.int("pqM").getOrElse(d.pqM),
            b.int("pqK").getOrElse(d.pqK)), a)
          send(ex, 201, """{"message": "Index created."}""")
        case ("POST", List("v1", "indexes", t, i, "build")) =>
          mgmt.buildIndex(t, i, actingUser = actor(ex, t))
          send(ex, 200, """{"message": "Index built."}""")
        case ("POST", List("v1", "indexes", t, i, "snapshot")) =>
          val dest = body(ex).string("dest").getOrElse(fail(400, "dest required"))
          mgmt.snapshotIndex(t, i, dest, actor(ex, t))
          send(ex, 200, """{"message": "Snapshot written."}""")
        case ("POST", List("v1", "indexes", t, i, "load")) =>
          val src = body(ex).string("src").getOrElse(fail(400, "src required"))
          mgmt.loadIndex(t, i, src, actor(ex, t))
          send(ex, 200, """{"message": "Snapshot loaded."}""")
        case ("GET", List("v1", "indexes", t, i, "stats")) =>
          send(ex, 200, dfJson(mgmt.indexStats(t, i, actor(ex, t))))
        case ("POST", List("v1", "indexes", t, i, "centroids")) =>
          val model = body(ex).string("model")
            .getOrElse(fail(400, "model required"))
          actor(ex, t) // authn; centroid push rides the active model
          mgmt.deployModelToIndex(model, t, i)
          send(ex, 200, """{"message": "Centroids updated."}""")

        // cache (CacheController.cs:26-125)
        case ("GET", List("v1", "cache", "policies")) =>
          val p = mgmt.cachePolicy
          send(ex, 200, Management.renderPolicy(p))
        case ("PUT", List("v1", "cache", "policies")) =>
          val b = body(ex)
          val cur = mgmt.cachePolicy
          val p = CachePolicy(
            b.bool("enableCache").getOrElse(cur.enableCache),
            b.int("defaultTtlSeconds").getOrElse(cur.defaultTtlSeconds))
          mgmt.updateCachePolicy(p, globalActor(ex))
          send(ex, 200, Management.renderPolicy(p))
        case ("POST", List("v1", "cache", "flush")) =>
          val b = body(ex)
          val t = b.string("tenantId").getOrElse(fail(400, "TenantId and IndexName are required."))
          val i = b.string("indexName").getOrElse(fail(400, "TenantId and IndexName are required."))
          mgmt.flushCache(t, i, actor(ex, t))
          send(ex, 200, """{"message": "Cache flushed."}""")
        case ("POST", List("v1", "cache", "invalidate")) =>
          val b = body(ex)
          val t = b.string("tenantId").getOrElse(fail(400, "TenantId and IndexName are required."))
          val i = b.string("indexName").getOrElse(fail(400, "TenantId and IndexName are required."))
          mgmt.invalidateCache(t, i, actor(ex, t))
          send(ex, 200, """{"message": "Cache invalidated."}""")

        // billing (BillingController.cs:26-46)
        case ("GET", List("v1", "billing", "usage")) =>
          val t = queryParams(ex).getOrElse("tenantId",
            fail(400, "tenantId required"))
          send(ex, 200, dfJson(mgmt.billingUsage(t, actor(ex, t))))

        // audit (AuditController.cs:23-95)
        case ("GET", List("v1", "audit", "logs")) =>
          val p = queryParams(ex)
          send(ex, 200, dfJson(mgmt.auditLogs(
            p.get("actor"), p.get("action"),
            p.get("fromTs").map(_.toLong), p.get("toTs").map(_.toLong))))
        case ("GET", List("v1", "audit", "stats")) =>
          send(ex, 200, dfJson(mgmt.auditStats()))

        // AI model registry (AiController.cs:30-215)
        case ("GET", List("v1", "ai", "models")) =>
          val name = queryParams(ex).getOrElse("name",
            fail(400, "name required"))
          val versions = mgmt.modelVersions(name)
          send(ex, 200,
            s"""{"name": ${Json.quote(name)}, "versions": [${versions.mkString(",")}], "active": ${mgmt.activeModel(name).getOrElse(0L)}}""")
        case ("POST", List("v1", "ai", "models", "train")) =>
          val b = body(ex)
          val name = b.string("name").getOrElse(fail(400, "name required"))
          val t = b.string("tenantId").getOrElse(fail(400, "tenantId required"))
          val i = b.string("indexName").getOrElse(fail(400, "indexName required"))
          val k = b.int("k").getOrElse(8)
          actor(ex, t)
          // training corpus = the index's live vectors (the sidecar trains
          // on the dataset the server exports, semantic_model.py:17-29)
          val vecs = mgmt.engine.currentState(t, i)
            .select(xxhash64(col("id")).as("id"), col("vector").as("vec"))
          val v = mgmt.trainModel(name, vecs, k)
          send(ex, 200, s"""{"name": ${Json.quote(name)}, "version": $v}""")
        case ("POST", List("v1", "ai", "models", "deploy")) =>
          val b = body(ex)
          val name = b.string("name").getOrElse(fail(400, "name required"))
          val v = b.long("version").getOrElse(fail(400, "version is required."))
          mgmt.deployModel(name, v)
          send(ex, 200, s"""{"status": "deployed", "active": $v}""")
        case ("POST", List("v1", "ai", "models", "rollback")) =>
          val name = body(ex).string("name").getOrElse(fail(400, "name required"))
          mgmt.rollbackModel(name)
          send(ex, 200,
            s"""{"status": "rolled back", "active": ${mgmt.activeModel(name).getOrElse(0L)}}""")
        case ("GET", List("v1", "ai", "evaluations")) =>
          // deterministic evaluation surface (the sidecar returns fixed
          // placeholders + bandit epsilon, server.py:248-253); hit rate
          // here is computed from the real metrics log when scoped
          val p = queryParams(ex)
          val rate = (p.get("tenantId"), p.get("indexName")) match {
            case (Some(t), Some(i)) =>
              val rows = mgmt.billingUsage(t, actor(ex, t))
                .filter(col("index_name") === i)
                .agg(sum("cache_hits"), sum("requests")).head()
              val req = if (rows.isNullAt(1)) 0L else rows.getLong(1)
              val hits = if (rows.isNullAt(0)) 0L else rows.getLong(0)
              if (req == 0) 0.0 else hits.toDouble / req
            case _ => 0.0
          }
          send(ex, 200,
            s"""{"cacheHitRate": $rate, "banditEpsilonPct": 10}""")

        case _ => sendErr(ex, 404, s"no route: $method ${ex.getRequestURI.getPath}")
      }
    } catch {
      case e: HttpPlane.HttpError => sendErr(ex, e.code, e.getMessage)
      case e: SecurityException => sendErr(ex, 403, e.getMessage)
      case e: IllegalArgumentException =>
        val code = e match {
          case _: graft.NotFoundException => 404
          case _: graft.ConflictException => 409
          case _ => 400
        }
        sendErr(ex, code, Option(e.getMessage).getOrElse("bad request"))
      case NonFatal(e) =>
        sendErr(ex, 500, Option(e.getMessage).getOrElse(e.getClass.getName))
    }

  private def tenantQuotaOr404(t: String): TenantQuota = {
    if (!mgmt.tenantExists(t)) fail(404, "Tenant not found.")
    mgmt.quota(t)
  }

  /** A quota from the body's fields, `cur` for the fields it omits. */
  private def quotaOf(b: Json.Obj, cur: TenantQuota): TenantQuota =
    TenantQuota(b.int("maxQps").getOrElse(cur.maxQps),
      b.int("maxConcurrentRequests").getOrElse(cur.maxConcurrentRequests),
      b.int("cacheMemoryMb").getOrElse(cur.cacheMemoryMb),
      b.long("dailyRequestLimit").getOrElse(cur.dailyRequestLimit),
      b.int("priority").getOrElse(cur.priority),
      b.double("monthlyBudget").getOrElse(cur.monthlyBudget))

  private def quotaJson(q: TenantQuota): String =
    s"""{"maxQps": ${q.maxQps}, "maxConcurrentRequests": ${q.maxConcurrentRequests}, "cacheMemoryMb": ${q.cacheMemoryMb}, "dailyRequestLimit": ${q.dailyRequestLimit}, "priority": ${q.priority}, "monthlyBudget": ${q.monthlyBudget}}"""
}

object HttpPlane {
  private final class HttpError(val code: Int, msg: String)
      extends RuntimeException(msg)
}
