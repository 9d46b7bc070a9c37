package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{DeclaredIndex, GraftEngine, Management, SparkSpec, TenantQuota}

/** Wire-level coverage of the RESP plane (reference:
  * Services/GarnetService.cs:96-107 registration +
  * Extensions/VectorCommandSet.cs command semantics): framing (array and
  * inline forms), the VEC.* grammar, auth / quota / not-found / dim
  * error codes, WITH_META and TRACE reply shapes.
  */
class RespServerSpec extends SparkSpec {
  import spark.implicits._

  // ---- minimal RESP2 client (independent re-implementation of the
  // framing, so the spec cross-checks the server's writer) --------------

  sealed trait Reply
  case class Simple(s: String) extends Reply
  case class Err(s: String) extends Reply
  case class Bulk(s: String) extends Reply // s == null -> nil
  case class Arr(items: Vector[Reply]) extends Reply

  final class Client(port: Int) extends AutoCloseable {
    private val sock = new Socket(InetAddress.getLoopbackAddress, port)
    sock.setSoTimeout(30000)
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = new BufferedOutputStream(sock.getOutputStream)

    def cmd(args: String*): Reply = {
      out.write(s"*${args.length}\r\n".getBytes(UTF_8))
      args.foreach { a =>
        val b = a.getBytes(UTF_8)
        out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
        out.write(b)
        out.write("\r\n".getBytes(UTF_8))
      }
      out.flush()
      read()
    }

    def inline(l: String): Reply = {
      out.write((l + "\r\n").getBytes(UTF_8)); out.flush(); read()
    }

    /** Read a server-initiated reply without sending (busy rejections). */
    def read0(): Reply = read()

    private def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\r') { assert(c != -1, "EOF mid-reply"); sb.append(c.toChar); c = in.read() }
      assert(in.read() == '\n')
      sb.toString
    }

    private def read(): Reply = in.read().toChar match {
      case '+' => Simple(line())
      case '-' => Err(line())
      case '$' =>
        val n = line().toInt
        if (n < 0) Bulk(null)
        else {
          val buf = new Array[Byte](n)
          var off = 0
          while (off < n) {
            val r = in.read(buf, off, n - off); assert(r > 0); off += r
          }
          line() // trailing CRLF
          Bulk(new String(buf, UTF_8))
        }
      case '*' => Arr(Vector.fill(line().toInt)(read()))
      case other => fail(s"unexpected reply type byte '$other'")
    }

    def close(): Unit = sock.close()
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  // ---- one server per suite; tenants partition the tests --------------

  private lazy val root = Files.createTempDirectory("resp").toString
  private lazy val eng = new GraftEngine(spark, root)
  private lazy val mgmt = new Management(spark, root)
  private lazy val server = new RespServer(eng, mgmt, spark)
  private lazy val port = server.start()

  private def withClient[A](f: Client => A): A = {
    val c = new Client(port)
    try f(c) finally c.close()
  }

  private def records(tenant: String, index: String,
                      rows: Seq[(String, Seq[Float], String, Seq[String])]): DataFrame =
    rows.map { case (id, v, m, t) => (id, v, m, t, 100L) }
      .toDF("id", "vector", "meta", "tags", "updated_at")
      .withColumn("tenant_id", lit(tenant))
      .withColumn("index_name", lit(index))

  test("lifecycle over the wire: PING, ADD, dup-reject, SEARCH (+FILTER/WITH_META/TRACE), DEL, STATS") {
    withClient { c =>
      assert(c.cmd("PING") == Simple("PONG"))
      assert(c.inline("PING") == Simple("PONG")) // telnet convenience form

      // writes land through the engine's VEC.ADD path
      assert(c.cmd("VEC.ADD", "open", "idx", "doc1", "VECTOR", "[1,0,0]",
        "META", """{"type":"test"}""") == Simple("VEC_OK"))
      assert(c.cmd("VEC.ADD", "open", "idx", "doc2", "VECTOR", "0,1,0",
        "TAGS", "tagA") == Simple("VEC_OK"))
      assert(c.cmd("VEC.ADD", "open", "idx", "doc3", "VECTOR", "[0,0,1]",
        "NUMERIC_FIELDS", """{"x":1}""") == Simple("VEC_OK"))

      // duplicate id -> the reference's literal error
      c.cmd("VEC.ADD", "open", "idx", "doc1", "VECTOR", "[9,9,9]") match {
        case Err(m) => assert(m.contains("already exists"))
        case other => fail(s"expected dup error, got $other")
      }

      eng.build("open", "idx", nlist = 2)

      // plain search: array of [id, score]
      c.cmd("VEC.SEARCH", "open", "idx", "TOPK", "2", "VECTOR", "[0.9,0.1,0]") match {
        case Arr(hits) =>
          assert(hits.length == 2)
          val Arr(Vector(Bulk(id), Bulk(score))) = hits.head
          assert(id == "doc1")
          assert(score.toDouble < 0.05) // L2^2 to [1,0,0]
        case other => fail(s"expected hits array, got $other")
      }

      // FILTER narrows to the tagged doc
      c.cmd("VEC.SEARCH", "open", "idx", "TOPK", "5", "VECTOR", "[0,0.9,0]",
        "FILTER", "tagA") match {
        case Arr(hits) =>
          assert(hits.map { case Arr(Vector(Bulk(id), _)) => id } == Vector("doc2"))
        case other => fail(s"expected hits array, got $other")
      }

      // WITH_META: triples, meta json for doc1, nil for doc3
      c.cmd("VEC.SEARCH", "open", "idx", "TOPK", "3", "VECTOR", "[1,0,0]",
        "WITH_META") match {
        case Arr(hits) =>
          assert(hits.length == 3)
          val byId = hits.map { case Arr(Vector(Bulk(id), _, meta)) => id -> meta }.toMap
          assert(byId("doc1") == Bulk("""{"type":"test"}"""))
          assert(byId("doc3") == Bulk(null))
        case other => fail(s"expected hits array, got $other")
      }

      // TRACE wraps [hits, traceJson] (VectorCommandSet.cs:849-860)
      c.cmd("VEC.SEARCH", "open", "idx", "TOPK", "1", "VECTOR", "[1,0,0]",
        "TRACE", "REQUEST_ID", "r42") match {
        case Arr(Vector(Arr(hits), Bulk(trace))) =>
          assert(hits.length == 1)
          assert(trace.contains(""""requestId": "r42""""))
          assert(trace.contains(""""cacheHit""""))
          assert(trace.contains(""""latencyMs""""))
        case other => fail(s"expected [hits, trace], got $other")
      }

      // DEL tombstones; the deleted id stops being served
      assert(c.cmd("VEC.DEL", "open", "idx", "doc2") == Simple("VEC_OK"))
      c.cmd("VEC.SEARCH", "open", "idx", "TOPK", "3", "VECTOR", "[0,0.9,0]") match {
        case Arr(hits) =>
          val ids = hits.map { case Arr(Vector(Bulk(id), _)) => id }
          assert(!ids.contains("doc2"))
        case other => fail(s"expected hits array, got $other")
      }

      // STATS: Prometheus-ish text dump
      c.cmd("VEC.STATS", "open", "idx") match {
        case Bulk(text) => assert(text.nonEmpty)
        case other => fail(s"expected bulk stats, got $other")
      }

      // unknown command and unknown index error codes
      c.cmd("NOPE") match {
        case Err(m) => assert(m.contains("unknown command"))
        case other => fail(s"expected error, got $other")
      }
      c.cmd("VEC.SEARCH", "open", "ghost", "TOPK", "1", "VECTOR", "[1,0,0]") match {
        case Err(m) => assert(m.startsWith("VEC_ERR_NOT_FOUND"))
        case other => fail(s"expected not-found, got $other")
      }
      c.cmd("VEC.DEL", "open", "ghost", "doc1") match {
        case Err(m) => assert(m.startsWith("VEC_ERR_NOT_FOUND"))
        case other => fail(s"expected not-found, got $other")
      }

      // malformed grammar -> parse errors, connection stays usable
      c.cmd("VEC.SEARCH", "open", "idx", "TOPK", "0", "VECTOR", "[1,0,0]") match {
        case Err(m) => assert(m.contains("positive"))
        case other => fail(s"expected error, got $other")
      }
      c.cmd("VEC.ADD", "open", "idx", "x", "NOTVECTOR", "[1,0,0]") match {
        case Err(m) => assert(m.contains("VECTOR"))
        case other => fail(s"expected error, got $other")
      }
      assert(c.cmd("PING") == Simple("PONG"))

      assert(c.cmd("QUIT") == Simple("OK"))
    }
  }

  test("REFINE over the wire: IVF_PQ rerank serves; REFINE+FILTER cuts from member candidates") {
    val rng = new scala.util.Random(71)
    // 60 near-origin untagged + 4 FAR "rare" members: under a selective
    // filter the k·refine nearest UNFILTERED ADC candidates contain no
    // member, so a pre-filter cut (the fixed defect) would return empty
    val rows = (0 until 60).map(i =>
      (s"n$i", Seq.fill(4)(rng.nextFloat() * 0.1f), null: String,
        Seq.empty[String])) ++
      (0 until 4).map(i =>
        (s"r$i", Seq.fill(4)(5.0f + rng.nextFloat()), null: String,
          Seq("rare")))
    eng.add(records("refpq", "idx", rows))
    eng.build("refpq", "idx", nlist = 2, algo = "IVF_PQ", pqM = 2, pqK = 8)
    withClient { c =>
      // unrefined + refined both serve over the wire; refined carries the
      // exact-rerank scores (monotone ranks — ids suffice here)
      c.cmd("VEC.SEARCH", "refpq", "idx", "TOPK", "4", "VECTOR",
        "[0.05,0.05,0.05,0.05]", "REFINE", "2") match {
        case Arr(hits) => assert(hits.length == 4)
        case other => fail(s"expected hits array, got $other")
      }
      // REFINE + FILTER: all four far members come back — the refine cut
      // selects from MEMBER candidates, not the unfiltered ADC top
      c.cmd("VEC.SEARCH", "refpq", "idx", "TOPK", "4", "VECTOR",
        "[0.05,0.05,0.05,0.05]", "REFINE", "2",
        "FILTER", "rare") match {
        case Arr(hits) =>
          val ids = hits.map { case Arr(Bulk(id) +: _) => id }.sorted
          assert(ids == Vector("r0", "r1", "r2", "r3"))
        case other => fail(s"expected hits array, got $other")
      }
      // REFINE + WITH_META: the hydration plan honors the refine flag
      // (it was silently dropped — review finding): under the selective
      // filter the members must come back refined AND hydrated, same
      // cut as the wire reply above
      c.cmd("VEC.SEARCH", "refpq", "idx", "TOPK", "4", "VECTOR",
        "[0.05,0.05,0.05,0.05]", "REFINE", "2",
        "FILTER", "rare", "WITH_META") match {
        case Arr(hits) =>
          val ids = hits.map { case Arr(Bulk(id) +: _) => id }.sorted
          assert(ids == Vector("r0", "r1", "r2", "r3"))
        case other => fail(s"expected hydrated refined hits, got $other")
      }
      // malformed REFINE is rejected at parse
      c.cmd("VEC.SEARCH", "refpq", "idx", "TOPK", "1", "VECTOR",
        "[0,0,0,0]", "REFINE", "-3") match {
        case Err(m) => assert(m.contains("REFINE"))
        case other => fail(s"expected REFINE parse error, got $other")
      }
      // unbounded REFINE is rejected at parse (k*refine Int-overflow guard)
      c.cmd("VEC.SEARCH", "refpq", "idx", "TOPK", "1", "VECTOR",
        "[0,0,0,0]", "REFINE", "2000000000") match {
        case Err(m) => assert(m.contains("REFINE"))
        case other => fail(s"expected REFINE bound error, got $other")
      }
      // a flag the index algo cannot honor fails loudly instead of
      // silently serving different semantics: beam needs HNSW
      c.cmd("VEC.SEARCH", "refpq", "idx", "TOPK", "1", "VECTOR",
        "[0,0,0,0]", "FILTER_MODE", "beam") match {
        case Err(m) => assert(m.contains("HNSW"))
        case other => fail(s"expected FILTER_MODE algo error, got $other")
      }
    }
  }

  test("REFINE on a non-IVF_PQ index is rejected, not silently unrefined") {
    val rows = (0 until 8).map(i =>
      (s"f$i", Seq.fill(4)(i * 0.1f), null: String, Seq.empty[String]))
    eng.add(records("refflat", "idx", rows))
    eng.build("refflat", "idx", nlist = 2, algo = "IVF_FLAT")
    withClient { c =>
      c.cmd("VEC.SEARCH", "refflat", "idx", "TOPK", "2", "VECTOR",
        "[0.1,0.1,0.1,0.1]", "REFINE", "5") match {
        case Err(m) => assert(m.contains("IVF_PQ"))
        case other => fail(s"expected REFINE algo error, got $other")
      }
      // and the same call without the flag serves
      c.cmd("VEC.SEARCH", "refflat", "idx", "TOPK", "2", "VECTOR",
        "[0.1,0.1,0.1,0.1]") match {
        case Arr(hits) => assert(hits.length == 2)
        case other => fail(s"expected hits array, got $other")
      }
    }
  }

  test("FILTER_MODE beam + WITH_META is rejected, not silently post-filtered") {
    // the hydration plan has no beam hook: serving it anyway would hand
    // the client post-filter parity semantics under a beam flag (review
    // finding — the WITH_META branch previously dropped the flag)
    val rows = (0 until 8).map(i =>
      (s"h$i", Seq.fill(4)(i * 0.1f), null: String, Seq("t")))
    eng.add(records("beammeta", "idx", rows))
    eng.build("beammeta", "idx", nlist = 1, algo = "HNSW")
    withClient { c =>
      c.cmd("VEC.SEARCH", "beammeta", "idx", "TOPK", "2", "VECTOR",
        "[0.1,0.1,0.1,0.1]", "FILTER", "t", "FILTER_MODE", "beam",
        "WITH_META") match {
        case Err(m) => assert(m.contains("WITH_META"))
        case other => fail(s"expected beam+WITH_META error, got $other")
      }
      // beam WITHOUT meta serves on the same index
      c.cmd("VEC.SEARCH", "beammeta", "idx", "TOPK", "2", "VECTOR",
        "[0.1,0.1,0.1,0.1]", "FILTER", "t", "FILTER_MODE", "beam") match {
        case Arr(hits) => assert(hits.length == 2)
        case other => fail(s"expected beam hits, got $other")
      }
    }
  }

  test("auth: keyed tenants require API_KEY or session AUTH; error code is VEC_ERR_AUTH") {
    mgmt.createTenant("secure", TenantQuota(), apiKeyHash = sha256Hex("secret"))
    withClient { c =>
      // no key -> rejected before any engine work
      c.cmd("VEC.DEL", "secure", "idx", "d1") match {
        case Err(m) => assert(m.startsWith("VEC_ERR_AUTH"))
        case other => fail(s"expected auth error, got $other")
      }
      // per-command key passes auth (then fails not-found, proving we got past it)
      c.cmd("VEC.DEL", "secure", "idx", "d1", "API_KEY", "secret") match {
        case Err(m) => assert(m.startsWith("VEC_ERR_NOT_FOUND"))
        case other => fail(s"expected not-found after auth, got $other")
      }
      // wrong key
      c.cmd("VEC.DEL", "secure", "idx", "d1", "API_KEY", "wrong") match {
        case Err(m) => assert(m.startsWith("VEC_ERR_AUTH"))
        case other => fail(s"expected auth error, got $other")
      }
      // session AUTH (VectorCommandSet.cs:731-744): bad then good
      c.cmd("AUTH", "secure", "wrong") match {
        case Err(m) => assert(m.startsWith("VEC_ERR_AUTH"))
        case other => fail(s"expected auth error, got $other")
      }
      assert(c.cmd("AUTH", "secure", "secret") == Simple("OK"))
      c.cmd("VEC.DEL", "secure", "idx", "d1") match {
        case Err(m) => assert(m.startsWith("VEC_ERR_NOT_FOUND")) // auth now implicit
        case other => fail(s"expected not-found after session auth, got $other")
      }
    }
    // keyless registered tenants stay open (no authenticator configured)
    mgmt.createTenant("keyless")
    withClient { c =>
      c.cmd("VEC.DEL", "keyless", "idx", "d1") match {
        case Err(m) => assert(m.startsWith("VEC_ERR_NOT_FOUND"))
        case other => fail(s"expected not-found (not auth), got $other")
      }
    }
  }

  test("quota: per-tenant QPS window returns VEC_ERR_QUOTA once exceeded") {
    mgmt.createTenant("lim", TenantQuota(maxQps = 1))
    withClient { c =>
      // searches against a missing index are cheap (manifest read only);
      // the quota gate sits before the not-found check, so a burst must
      // show both codes
      val codes = (0 until 10).map { _ =>
        c.cmd("VEC.SEARCH", "lim", "ghost", "TOPK", "1", "VECTOR", "[1]") match {
          case Err(m) => m.split(' ').head
          case other => fail(s"expected error, got $other")
        }
      }
      assert(codes.contains("VEC_ERR_QUOTA"))
    }
  }

  test("declared-dim gate: VEC_ERR_DIM on mismatched query vector") {
    mgmt.createTenant("cfg")
    mgmt.createIndex("cfg", "cidx", DeclaredIndex(dim = 3))
    eng.add(records("cfg", "cidx", Seq(
      ("a", Seq(1f, 0f, 0f), null, Nil),
      ("b", Seq(0f, 1f, 0f), null, Nil),
      ("c", Seq(0f, 0f, 1f), null, Nil))))
    eng.build("cfg", "cidx", nlist = 2)
    withClient { c =>
      c.cmd("VEC.SEARCH", "cfg", "cidx", "TOPK", "1", "VECTOR", "[0.5,0.5]") match {
        case Err(m) => assert(m.startsWith("VEC_ERR_DIM"))
        case other => fail(s"expected dim error, got $other")
      }
      // right dim serves normally
      c.cmd("VEC.SEARCH", "cfg", "cidx", "TOPK", "1", "VECTOR", "[0.9,0.1,0]") match {
        case Arr(hits) =>
          val Arr(Vector(Bulk(id), _)) = hits.head
          assert(id == "a")
        case other => fail(s"expected hits, got $other")
      }
      // the WRITE path applies the same gate (review finding: a
      // wrong-dim ADD was acknowledged +VEC_OK and poisoned the log)
      c.cmd("VEC.ADD", "cfg", "cidx", "bad", "VECTOR", "[1.0,2.0]") match {
        case Err(m) => assert(m.startsWith("VEC_ERR_DIM"))
        case other => fail(s"expected write dim error, got $other")
      }
      c.cmd("VEC.ADD", "cfg", "cidx", "ok3", "VECTOR", "[1.0,2.0,3.0]") match {
        case Simple(s) => assert(s == "VEC_OK")
        case other => fail(s"expected VEC_OK, got $other")
      }
      // malformed FILTER list is rejected, not silently unfiltered
      c.cmd("VEC.SEARCH", "cfg", "cidx", "TOPK", "1", "VECTOR",
        "[0.9,0.1,0]", "FILTER", "[red") match {
        case Err(m) => assert(m.toLowerCase.contains("unterminated"))
        case other => fail(s"expected tag parse error, got $other")
      }
    }
  }

  test("an error's code comes from its kind, not from text the client sent") {
    withClient { c =>
      // the unknown token is echoed back; its text must not pick VEC_ERR_DIM
      c.cmd("VEC.STATS", "echo", "idx", "dimension") match {
        case Err(m) => assert(m.startsWith("ERR ") && m.contains("DIMENSION"), m)
        case other => fail(s"expected an unknown-token error, got $other")
      }
    }
  }

  test("VEC.STATS on a keyed tenant requires auth like every other tenant verb") {
    mgmt.createTenant("statsec", TenantQuota(), apiKeyHash = sha256Hex("sk"))
    eng.add(records("statsec", "idx", Seq(("a", Seq(1f, 0f, 0f, 0f), null, Nil))))
    withClient { c =>
      c.cmd("VEC.STATS", "statsec", "idx") match {
        case Err(m) => assert(m.startsWith("VEC_ERR_AUTH"))
        case other => fail(s"expected auth error, got $other")
      }
      c.cmd("VEC.STATS", "statsec", "idx", "API_KEY", "sk") match {
        case Bulk(text) => assert(text.nonEmpty)
        case other => fail(s"expected stats text, got $other")
      }
    }
  }

  test("concurrent clients: interleaved sessions are isolated") {
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 4).map { _ =>
      new Thread(() => withClient { c =>
        if ((0 until 20).forall(_ => c.cmd("PING") == Simple("PONG")))
          ok.incrementAndGet()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(30000))
    assert(ok.get() == 4)
  }

  // ---- wire-plane hardening: a bounded, self-reaping front end ---------

  test("max-connections bound: excess connections are rejected with VEC_ERR_BUSY, not queued") {
    val srv = new RespServer(eng, mgmt, spark, maxConnections = 2,
      idleTimeoutMs = 60000)
    val p = srv.start()
    try {
      val c1 = new Client(p); val c2 = new Client(p)
      try {
        assert(c1.cmd("PING") == Simple("PONG"))
        assert(c2.cmd("PING") == Simple("PONG"))
        // third connection: rejected at accept with the BUSY code, closed
        val c3 = new Client(p)
        try c3.read0() match {
          case Err(m) => assert(m.startsWith("VEC_ERR_BUSY"))
          case other => fail(s"expected busy rejection, got $other")
        } finally c3.close()
        // the bound frees as connections close: after dropping one, a new
        // client is served again
        c2.close()
        val deadline = System.nanoTime() + 10000000000L // reap isn't instant
        var served = false
        while (!served && System.nanoTime() < deadline) {
          val c4 = new Client(p)
          try served = c4.cmd("PING") == Simple("PONG")
          catch { case _: Throwable => Thread.sleep(50) }
          finally c4.close()
        }
        assert(served, "slot did not free after a connection closed")
      } finally c1.close()
    } finally srv.close()
  }

  test("idle-socket timeout: a connected-but-silent client is reaped and cannot pin a thread") {
    val srv = new RespServer(eng, mgmt, spark, maxConnections = 1,
      idleTimeoutMs = 300)
    val p = srv.start()
    try {
      // stalled client: connects, sends nothing
      val stalled = new Socket(InetAddress.getLoopbackAddress, p)
      try {
        // after the idle timeout fires the server closes the socket; the
        // single connection slot must open up for a working client
        val deadline = System.nanoTime() + 10000000000L
        var served = false
        while (!served && System.nanoTime() < deadline) {
          Thread.sleep(100)
          val c = new Client(p)
          try served = c.cmd("PING") == Simple("PONG")
          catch { case _: Throwable => }
          finally c.close()
        }
        assert(served, "stalled client still pinned the only slot after timeout")
      } finally stalled.close()
    } finally srv.close()
  }

  test("idle-socket timeout: a half-finished command frame can't pin a thread either") {
    val srv = new RespServer(eng, mgmt, spark, maxConnections = 1,
      idleTimeoutMs = 300)
    val p = srv.start()
    try {
      val wedged = new Socket(InetAddress.getLoopbackAddress, p)
      try {
        // opens an array frame then stalls mid-command
        val out = wedged.getOutputStream
        out.write("*2\r\n$4\r\nPING\r\n".getBytes(UTF_8)); out.flush()
        val deadline = System.nanoTime() + 10000000000L
        var served = false
        while (!served && System.nanoTime() < deadline) {
          Thread.sleep(100)
          val c = new Client(p)
          try served = c.cmd("PING") == Simple("PONG")
          catch { case _: Throwable => }
          finally c.close()
        }
        assert(served, "wedged mid-frame client still pinned the only slot")
      } finally wedged.close()
    } finally srv.close()
  }
}
