package graft.streaming

import java.net.{InetAddress, ServerSocket, Socket, SocketTimeoutException}
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions.lit

import graft.{GraftEngine, JobCount, SparkSpec}
import SidecarProto.{SystemMetricsRequest, WarmPathPolicy}

/** The OPERATIONAL sidecar loop: live engine counters out as one
  * ReportSystemMetrics frame, the reply's WarmPathPolicy back, TTL
  * applied to subsequent cache inserts — the reference's 10 s reporter
  * loop (SidecarMetricsReporter.cs:52-110 → DynamicPolicyEngine.cs:31-45)
  * driven tick-by-tick and on its own thread. */
class SidecarLoopSpec extends SparkSpec {
  import spark.implicits._

  private def mkEngine(): GraftEngine = {
    val root = Files.createTempDirectory("sidecar-loop-eng").toString
    val eng = new GraftEngine(spark, root)
    val recs = (0 until 30).map(i =>
        (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))
      .toDF("id", "vector", "meta", "tags", "updated_at")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("index_name", lit("idx"))
      .withColumn("deleted", lit(false))
    eng.add(recs)
    eng.build("t1", "idx", nlist = 2)
    eng
  }

  /** A sidecar whose decision is `decide`, recording every request. */
  private final class Sidecar(
      @volatile var decide: SystemMetricsRequest => Option[WarmPathPolicy] =
        SidecarWireSpec.heuristic) extends AutoCloseable {
    val seen = new ConcurrentLinkedQueue[SystemMetricsRequest]()
    private val srv = new SidecarWire.Server(req => { seen.add(req); decide(req) })
    def client = new SidecarWire.Client("127.0.0.1", srv.port)
    override def close(): Unit = srv.close()
  }

  private def waitFor(what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  test("tick publishes live counters and applies the newest policy's TTL to subsequent inserts") {
    val eng = mkEngine()
    val sidecar = new Sidecar(_ => None)
    val loop = new SidecarLoop(eng, sidecar.client)
    try {
      // serve: two misses, one hit → live counters 1 hit / 2 misses
      eng.searchCachedRows("t1", "idx", 1L, Array(4f, 1f, 0f), k = 3,
        nprobe = 2, now = 1000L)
      eng.searchCachedRows("t1", "idx", 1L, Array(4f, 1f, 0f), k = 3,
        nprobe = 2, now = 1001L)
      eng.searchCachedRows("t1", "idx", 2L, Array(9f, 1f, 0f), k = 8,
        nprobe = 2, now = 1002L)

      // the sidecar declines to decide: the engine keeps its defaults
      loop.tick(windowMs = 1L)
      assert(eng.servingTtl("t1") == 60 && eng.servingPolicyOf("t1").isEmpty)
      val req = sidecar.seen.peek()
      assert(req.cacheHitTotal == 1L && req.cacheMissTotal == 2L, req)
      assert(req.missRate == 2.0 / 3 && req.timestampUnixMs == 1L, req)

      // next tick's reply is applied: miss-rate 2/3 → aggressive ttl 300
      sidecar.decide = SidecarWireSpec.heuristic
      loop.tick(windowMs = 2L)
      assert(eng.servingTtl("t1") == 300, eng.servingPolicyOf("t1"))
      assert(eng.servingPolicyOf("t1").contains((300, 0.05, "aggressive")))
    } finally { loop.close(); sidecar.close() }

    // the applied TTL drives the cache horizon: an insert under ttl 300
    // still serves at +100 s (the default 60 would have expired) and
    // dies past +300
    val qv = Array(13f, 1f, 0f)
    val ttl = eng.servingTtl("t1")
    val (miss, rows) = eng.searchCachedRows("t1", "idx", 3L, qv, k = 3,
      nprobe = 2, now = 2000L, ttlSeconds = ttl)
    assert(miss == "MISS")
    val (hitLate, rowsLate) = eng.searchCachedRows("t1", "idx", 3L, qv,
      k = 3, nprobe = 2, now = 2100L, ttlSeconds = ttl)
    assert(hitLate == "L0", s"ttl 300 entry must outlive the default 60: $hitLate")
    assert(rowsLate.toSeq == rows.toSeq)
    val (missExp, _) = eng.searchCachedRows("t1", "idx", 3L, qv, k = 3,
      nprobe = 2, now = 2301L, ttlSeconds = ttl)
    assert(missExp == "MISS", "entry must expire at the applied horizon")
  }

  test("ttl 0 policy = the reference's NoCache: misses answer but never populate") {
    val eng = mkEngine()
    eng.searchCachedRows("t1", "idx", 1L, Array(4f, 1f, 0f), k = 3,
      nprobe = 2, now = 1000L) // t1 is serving
    val sidecar = new Sidecar(_ => Some(WarmPathPolicy(0.1, 0, 0)))
    try new SidecarLoop(eng, sidecar.client).tick(windowMs = 6L)
    finally sidecar.close()
    assert(eng.servingTtl("t1") == 0)
    val qv = Array(7f, 1f, 0f)
    val (m1, rows1) = eng.searchCachedRows("t1", "idx", 9L, qv, k = 3,
      nprobe = 2, now = 3000L, ttlSeconds = eng.servingTtl("t1"))
    assert(m1 == "MISS" && rows1.nonEmpty)
    // the entry was born expired: the repeat call at a LATER now must
    // miss again (correct answers, no caching — NoCache semantics)
    val (m2, rows2) = eng.searchCachedRows("t1", "idx", 9L, qv, k = 3,
      nprobe = 2, now = 3001L, ttlSeconds = eng.servingTtl("t1"))
    assert(m2 == "MISS", s"NoCache policy must not serve cached: $m2")
    assert(rows2.toSeq == rows1.toSeq)
  }

  test("background loop publishes windows on its own cadence") {
    val eng = mkEngine()
    eng.searchCachedRows("t1", "idx", 1L, Array(4f, 1f, 0f), k = 3,
      nprobe = 2, now = 1000L) // one miss → aggressive
    val sidecar = new Sidecar()
    val loop = new SidecarLoop(eng, sidecar.client)
    loop.start(intervalMs = 100L)
    try {
      waitFor("loop thread must report at least two windows")(sidecar.seen.size >= 2)
      assert(eng.servingTtl("t1") == 300)
    } finally { loop.close(); sidecar.close() }
  }

  test("a tick submits no Spark job") {
    val eng = mkEngine()
    eng.searchCachedRows("t1", "idx", 1L, Array(4f, 1f, 0f), k = 3,
      nprobe = 2, now = 1000L)
    val sidecar = new Sidecar()
    try {
      val loop = new SidecarLoop(eng, sidecar.client)
      val (_, jobs) = JobCount.byModule(spark)(loop.tick(windowMs = 1L))
      assert(jobs.isEmpty, jobs)
      assert(eng.servingTtl("t1") == 300) // the tick did its work
    } finally sidecar.close()
  }

  test("a sidecar that accepts and never replies fails each tick within the interval") {
    val eng = mkEngine()
    val silent = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    val held = new ConcurrentLinkedQueue[Socket]()
    val acceptor = new Thread(() =>
      try while (true) held.add(silent.accept())
      catch { case _: java.io.IOException => }) // closed: done
    acceptor.setDaemon(true)
    acceptor.start()
    val loop = new SidecarLoop(eng, new SidecarWire.Client("127.0.0.1", silent.getLocalPort))
    def loopThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName == "graft-sidecar-loop" && t.isAlive)
    try {
      val t0 = System.nanoTime()
      intercept[SocketTimeoutException](loop.tick(windowMs = 1L, timeoutMs = 200))
      val tookMs = (System.nanoTime() - t0) / 1e6
      assert(tookMs >= 150 && tookMs < 2000, s"direct tick took $tookMs ms")

      // each failed tick is logged and the next one still comes
      loop.start(intervalMs = 200L)
      waitFor("the loop must keep ticking past failed exchanges")(held.size >= 4)
      val c0 = System.nanoTime()
      loop.close()
      val closeMs = (System.nanoTime() - c0) / 1e6
      assert(closeMs < 1000, s"close() took $closeMs ms")
      assert(loopThreads.isEmpty, "the loop thread must have stopped")
    } finally {
      loop.close()
      silent.close()
      held.forEach(_.close())
    }
  }
}
