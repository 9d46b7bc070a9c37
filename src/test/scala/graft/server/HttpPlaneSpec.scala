package graft.server

import java.net.{HttpURLConnection, InetAddress, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{GraftEngine, Management, SparkSpec}

/** Route-level coverage of the REST management plane (reference: the
  * seven Controllers classes): bodies, status codes, X-API-KEY / X-USER-ID
  * auth model, and the full index + tenant + cache + billing + audit +
  * AI-model lifecycles over real HTTP.
  */
class HttpPlaneSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("http").toString
  private lazy val mgmt = new Management(spark, root)
  private lazy val plane = new HttpPlane(mgmt)
  private lazy val port = plane.start()

  private def http(method: String, path: String, body: String = null,
                   headers: Map[String, String] = Map.empty): (Int, String) = {
    val c = new URL("http", InetAddress.getLoopbackAddress.getHostAddress,
      port, path).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    // Spark-backed routes (build/train/snapshot) usually answer in
    // seconds, but this host carries external co-load storms that have
    // stretched one to past 30 s — a read timeout here should mean
    // "the plane hung", not "the machine was busy"
    c.setConnectTimeout(10000); c.setReadTimeout(180000)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    if (body != null) {
      c.setDoOutput(true)
      val os = c.getOutputStream
      os.write(body.getBytes(UTF_8)); os.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else new String(in.readAllBytes(), UTF_8)
    c.disconnect()
    (code, text)
  }

  test("health and 404 routing") {
    assert(http("GET", "/v1/health") == (200, """{"status": "healthy"}"""))
    assert(http("GET", "/v1/nope")._1 == 404)
  }

  test("tenant lifecycle: create, quotas get/put, users CRUD, RBAC via X-USER-ID") {
    val (c1, b1) = http("POST", "/v1/tenants",
      """{"tenantId": "acme", "maxQps": 50}""")
    assert(c1 == 201 && b1.contains("acme"))
    // duplicate -> 409 (Conflict, TenantController.cs:57)
    assert(http("POST", "/v1/tenants", """{"tenantId": "acme"}""")._1 == 409)

    val (c2, b2) = http("GET", "/v1/tenants/acme/quotas")
    assert(c2 == 200 && b2.contains(""""maxQps": 50"""))
    // partial update keeps unmentioned fields
    val (c3, b3) = http("PUT", "/v1/tenants/acme/quotas",
      """{"dailyRequestLimit": 777}""")
    assert(c3 == 200 && b3.contains(""""maxQps": 50""") &&
      b3.contains(""""dailyRequestLimit": 777"""))
    assert(http("GET", "/v1/tenants/ghost/quotas")._1 == 404)

    // users + role-gated calls
    assert(http("POST", "/v1/tenants/acme/users",
      """{"userId": "alice", "role": "admin"}""")._1 == 201)
    assert(http("POST", "/v1/tenants/acme/users",
      """{"userId": "bob", "role": "reader"}""")._1 == 201)
    val (cu, bu) = http("GET", "/v1/tenants/acme/users")
    assert(cu == 200 && bu.contains(""""alice": "admin"""") &&
      bu.contains(""""bob": "reader""""))
    // reader may not manage users (403 via library RBAC)
    assert(http("POST", "/v1/tenants/acme/users",
      """{"userId": "eve", "role": "reader"}""",
      Map("X-USER-ID" -> "bob"))._1 == 403)
    // unknown user id -> 403 too
    assert(http("POST", "/v1/tenants/acme/users",
      """{"userId": "eve", "role": "reader"}""",
      Map("X-USER-ID" -> "mallory"))._1 == 403)
    // admin promotes, then deletes
    assert(http("PUT", "/v1/tenants/acme/users/bob/role",
      """{"role": "writer"}""", Map("X-USER-ID" -> "alice"))._1 == 200)
    assert(http("DELETE", "/v1/tenants/acme/users/bob",
      Map("X-USER-ID" -> "alice"))._1 == 200)
    assert(!http("GET", "/v1/tenants/acme/users")._2.contains("bob"))
  }

  private def http(method: String, path: String,
                   headers: Map[String, String]): (Int, String) =
    http(method, path, null, headers)

  test("API-key gate: keyed tenant requires X-API-KEY; key rotation over the wire") {
    http("POST", "/v1/tenants", """{"tenantId": "sec", "apiKey": "k1"}""")
    assert(http("GET", "/v1/tenants/sec/quotas")._1 == 401)
    assert(http("GET", "/v1/tenants/sec/quotas",
      Map("X-API-KEY" -> "bad"))._1 == 401)
    assert(http("GET", "/v1/tenants/sec/quotas",
      Map("X-API-KEY" -> "k1"))._1 == 200)
    // rotate (PUT apikey), old key dies, new key works
    assert(http("PUT", "/v1/tenants/sec/apikey", """{"apiKey": "k2"}""",
      Map("X-API-KEY" -> "k1"))._1 == 200)
    assert(http("GET", "/v1/tenants/sec/quotas",
      Map("X-API-KEY" -> "k1"))._1 == 401)
    assert(http("GET", "/v1/tenants/sec/quotas",
      Map("X-API-KEY" -> "k2"))._1 == 200)
  }

  test("a field name inside a nested object or a string value is not the field") {
    assert(http("POST", "/v1/tenants",
      """{"tenantId": "nest1", "limits": {"maxQps": 1}, "maxQps": 500}""")._1 == 201)
    assert(mgmt.quota("nest1").maxQps == 500)
    assert(http("POST", "/v1/tenants",
      """{"tenantId": "nest2", "note": "\"maxQps\": 1", "maxQps": 500}""")._1 == 201)
    assert(mgmt.quota("nest2").maxQps == 500)
  }

  test("a mistyped or out-of-Int-range body field is a 400 naming the field") {
    for (v <- Seq("\"fast\"", "4294967297")) {
      val (c, b) = http("POST", "/v1/tenants",
        s"""{"tenantId": "typed", "maxQps": $v}""")
      assert(c == 400 && b.contains("maxQps"), s"maxQps $v: $c $b")
    }
    assert(!mgmt.tenantExists("typed"))
  }

  test("an API key holding an escaped quote authenticates with that same key") {
    // JSON "k\"ey\\" is the key k"ey\
    assert(http("POST", "/v1/tenants",
      """{"tenantId": "quoted", "apiKey": "k\"ey\\"}""")._1 == 201)
    assert(http("GET", "/v1/tenants/quoted/quotas",
      Map("X-API-KEY" -> "k\"ey\\"))._1 == 200)
    assert(http("GET", "/v1/tenants/quoted/quotas",
      Map("X-API-KEY" -> "k\\"))._1 == 401)
  }

  test("a truncated body is a 400, not a partial read") {
    assert(http("POST", "/v1/tenants",
      """{"tenantId": "cut", "maxQps": 5""")._1 == 400)
    assert(!mgmt.tenantExists("cut"))
  }

  test("the status comes from the error's kind, not from text the client sent") {
    http("POST", "/v1/tenants", """{"tenantId": "kinds"}""")
    val (ci, bi) = http("POST", "/v1/indexes",
      """{"tenantId": "kinds", "indexName": "i", "dimension": 3, "metric": "not found"}""")
    assert(ci == 400 && bi.contains("not found"), s"$ci $bi")
    val (ct, bt) = http("POST", "/v1/tenants",
      """{"tenantId": "kinds2", "maxQps": "already exists"}""")
    assert(ct == 400 && bt.contains("maxQps"), s"$ct $bt")
    assert(!mgmt.tenantExists("kinds2"))
    // the kinds themselves still map: a missing tenant 404s, a duplicate 409s
    assert(http("GET", "/v1/tenants/no-such-one/quotas")._1 == 404)
    assert(http("POST", "/v1/tenants", """{"tenantId": "kinds"}""")._1 == 409)
  }

  test("a damaged tenant config refuses the request instead of dropping the key check") {
    http("POST", "/v1/tenants", """{"tenantId": "dmg", "apiKey": "k1"}""")
    assert(http("GET", "/v1/tenants/dmg/quotas", Map("X-API-KEY" -> "k1"))._1 == 200)
    val f = java.nio.file.Paths.get(s"$root/tenants/dmg/config.json")
    Files.writeString(f, Files.readString(f).dropRight(2)) // cut inside apiKeyHash
    val (c, b) = http("GET", "/v1/tenants/dmg/quotas")
    assert(c / 100 != 2 && b.contains("apiKeyHash"), s"$c $b")
  }

  test("index lifecycle + AI models + cache + billing + audit + metrics routes") {
    http("POST", "/v1/tenants", """{"tenantId": "t1"}""")
    val (ci, _) = http("POST", "/v1/indexes",
      """{"tenantId": "t1", "indexName": "idx", "dimension": 3, "metric": "L2", "algorithm": "IVF_FLAT", "nlist": 2}""")
    assert(ci == 201)
    // bad algo -> 400
    assert(http("POST", "/v1/indexes",
      """{"tenantId": "t1", "indexName": "bad", "dimension": 3, "algorithm": "WAT"}""")._1 == 400)

    // data lands through the engine (the data plane is RESP/library)
    mgmt.engine.add(
      (0 until 12).map(i => (s"v$i", Seq(i.toFloat, (12 - i).toFloat, 1f)))
        .toDF("id", "vector")
        .withColumn("tenant_id", lit("t1"))
        .withColumn("index_name", lit("idx"))
        .withColumn("meta", lit(null).cast("string"))
        .withColumn("tags", typedLit(Seq.empty[String]))
        .withColumn("updated_at", lit(100L)))
    assert(http("POST", "/v1/indexes/t1/idx/build", "{}")._1 == 200)

    val (cs, bs) = http("GET", "/v1/indexes/t1/idx/stats")
    assert(cs == 200 && bs.contains("n_vectors"))

    // snapshot -> load roundtrip through the wire
    val snap = Files.createTempDirectory("snap").toString
    assert(http("POST", "/v1/indexes/t1/idx/snapshot",
      s"""{"dest": "$snap"}""")._1 == 200)
    assert(http("POST", "/v1/indexes/t1/idx/load",
      s"""{"src": "$snap"}""")._1 == 200)

    // AI model registry: train on the index's vectors, deploy, push, rollback
    val (ct, bt) = http("POST", "/v1/ai/models/train",
      """{"name": "sem", "tenantId": "t1", "indexName": "idx", "k": 2}""")
    assert(ct == 200 && bt.contains(""""version": 1"""))
    http("POST", "/v1/ai/models/train",
      """{"name": "sem", "tenantId": "t1", "indexName": "idx", "k": 2}""")
    val (cm, bm) = http("GET", "/v1/ai/models?name=sem")
    assert(cm == 200 && bm.contains("[1,2]") && bm.contains(""""active": 0"""))
    assert(http("POST", "/v1/ai/models/deploy",
      """{"name": "sem", "version": 2}""")._1 == 200)
    assert(http("POST", "/v1/indexes/t1/idx/centroids",
      """{"model": "sem"}""")._1 == 200)
    assert(http("POST", "/v1/ai/models/deploy",
      """{"name": "sem", "version": 1}""")._1 == 200)
    val (cr, br) = http("POST", "/v1/ai/models/rollback", """{"name": "sem"}""")
    assert(cr == 200 && br.contains(""""active": 2"""))
    assert(http("POST", "/v1/ai/models/deploy",
      """{"name": "sem", "version": 9}""")._1 == 404)

    // cache policies + flush/invalidate
    assert(http("GET", "/v1/cache/policies") ==
      (200, """{"enableCache": true, "defaultTtlSeconds": 60}"""))
    assert(http("PUT", "/v1/cache/policies",
      """{"defaultTtlSeconds": 30}""") ==
      (200, """{"enableCache": true, "defaultTtlSeconds": 30}"""))
    assert(http("PUT", "/v1/cache/policies",
      """{"defaultTtlSeconds": -5}""")._1 == 400)
    assert(http("POST", "/v1/cache/flush",
      """{"tenantId": "t1", "indexName": "idx"}""")._1 == 200)
    assert(http("POST", "/v1/cache/invalidate",
      """{"tenantId": "t1", "indexName": "idx"}""")._1 == 200)
    assert(http("POST", "/v1/cache/flush", """{"tenantId": "t1"}""")._1 == 400)

    // metrics text + billing + evaluations (no traffic yet -> zeros)
    val (cx, bx) = http("GET", "/v1/metrics?tenantId=t1&indexName=idx")
    assert(cx == 200 && bx.nonEmpty)
    val (cb, bb) = http("GET", "/v1/billing/usage?tenantId=t1")
    assert(cb == 200 && bb.startsWith("["))
    val (ce, be) = http("GET", "/v1/ai/evaluations?tenantId=t1&indexName=idx")
    assert(ce == 200 && be.contains("cacheHitRate"))

    // audit: write through the library, read filtered over the wire
    mgmt.audit("alice", "index.build", "t1/idx", ts = 1000L)
    mgmt.audit("bob", "vector.delete", "t1/idx/v1", ts = 2000L)
    val (ca, ba) = http("GET", "/v1/audit/logs?actor=alice")
    assert(ca == 200 && ba.contains("index.build") && !ba.contains("vector.delete"))
    val (cas, bas) = http("GET", "/v1/audit/stats")
    assert(cas == 200 && bas.contains("index.build"))
  }

  test("bounded worker pool: a burst wider than the pool queues and fully drains") {
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 40).map { _ =>
      new Thread(() => {
        val (c, b) = http("GET", "/v1/health")
        if (c == 200 && b.contains("healthy")) ok.incrementAndGet()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(30000))
    assert(ok.get() == 40, s"only ${ok.get()}/40 burst requests served")
  }
}
