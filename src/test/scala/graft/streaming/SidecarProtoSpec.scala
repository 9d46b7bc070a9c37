package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions.lit

import graft.{GraftEngine, SparkSpec}
import graft.streaming.SidecarProto._

class SidecarProtoSpec extends SparkSpec {
  import spark.implicits._

  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xFF}%02x").mkString(" ")

  // ---- wire-format byte parity (hand-computed from the public proto3
  // spec: tag = field<<3 | wiretype; doubles fixed64 LE; varint LSB-first)

  test("WarmPathPolicy encodes byte-identically to a protoc encoder") {
    // field 1 double 0.5 → tag 0x09, bits 0x3FE0000000000000 LE
    // field 2 int32 300 → tag 0x10, varint AC 02
    // field 3 int32 1   → tag 0x18, 01
    assert(hex(encodeWarmPathPolicy(WarmPathPolicy(0.5, 300, 1))) ==
      "09 00 00 00 00 00 00 e0 3f 10 ac 02 18 01")
    // proto3 default omission: all-defaults message is ZERO bytes
    assert(encodeWarmPathPolicy(WarmPathPolicy()).isEmpty)
  }

  test("SystemMetricsRequest/Response byte parity incl. string + submessage") {
    // only non-default fields serialize, in field order
    val req = SystemMetricsRequest(cacheHitTotal = 150, cacheMissTotal = 7,
      timestampUnixMs = 1)
    // f6 varint: tag 0x30, 150 → 96 01; f7: tag 0x38, 07; f8: tag 0x40, 01
    assert(hex(encodeSystemMetricsRequest(req)) == "30 96 01 38 07 40 01")
    // status "ok" → tag 0x0a len 2 'o''k'; interval 10000 → tag 0x10,
    // varint 10000 = 90 4e; policy submessage → tag 0x1a len …
    val resp = SystemMetricsResponse("ok", 10000,
      Some(WarmPathPolicy(0.5, 300, 1)))
    assert(hex(encodeSystemMetricsResponse(resp)) ==
      "0a 02 6f 6b 10 90 4e 1a 0e " +
        "09 00 00 00 00 00 00 e0 3f 10 ac 02 18 01")
  }

  test("every message shape roundtrips, including repeated fields") {
    val req = SystemMetricsRequest(12.5, 0.25, 9.75, 0.5, 0.0, 1000, 250,
      1723800000123L)
    assert(decodeSystemMetricsRequest(encodeSystemMetricsRequest(req)) == req)
    val resp = SystemMetricsResponse("ok", 10000,
      Some(WarmPathPolicy(0.05, 300, 2)))
    assert(decodeSystemMetricsResponse(encodeSystemMetricsResponse(resp)) == resp)
    assert(decodeSystemMetricsResponse(Array.empty) == SystemMetricsResponse())
    val rules = GetPrefetchRulesResponse(Seq(
      PrefetchRule(1, 2), PrefetchRule(2, 9), PrefetchRule(1, 2)))
    assert(decodeGetPrefetchRulesResponse(
      encodeGetPrefetchRulesResponse(rules)) == rules)
    val pre = GetPrefetchRulesRequest("t", "unicode-ix-é中")
    assert(decodeGetPrefetchRulesRequest(
      encodeGetPrefetchRulesRequest(pre)) == pre)
  }

  test("unknown fields are skipped by wire type — proto version-skew posture") {
    val base = encodeWarmPathPolicy(WarmPathPolicy(0.5, 300, 1))
    // append unknown field 15 varint (tag 0x78) and unknown field 9
    // length-delimited (tag 0x4a) — a NEWER peer's extra fields
    val extra = Array[Byte](0x78, 0x2a, 0x4a, 0x03, 1, 2, 3)
    val got = decodeWarmPathPolicy(base ++ extra, 0, base.length + extra.length)
    assert(got == WarmPathPolicy(0.5, 300, 1))
    // unknown fixed32 (wiretype 5): field 12 → tag 0x65
    val got2 = decodeSystemMetricsRequest(
      encodeSystemMetricsRequest(SystemMetricsRequest(qps = 2.0)) ++
        Array[Byte](0x65, 9, 9, 9, 9))
    assert(got2.qps == 2.0)
  }

  test("truncation throws the descriptive contract error, never an index exception") {
    val full = encodeSystemMetricsResponse(SystemMetricsResponse("status-x",
      10000, Some(WarmPathPolicy(0.5, 300, 1))))
    // cutting the buffer at EVERY prefix length must throw require's
    // IllegalArgumentException (or decode clean at field boundaries)
    (1 until full.length).foreach { cut =>
      try { decodeSystemMetricsResponse(full.take(cut)); () }
      catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage.contains("proto"), s"cut=$cut: ${e.getMessage}")
      }
    }
    // varint runaway: 11 continuation bytes is corrupt, not a loop
    val runaway = Array.fill[Byte](11)(0x80.toByte)
    val e = intercept[IllegalArgumentException] {
      decodeSystemMetricsRequest(runaway)
    }
    assert(e.getMessage.contains("varint"))
    // length-delimited field claiming more bytes than remain
    val overrun = Array[Byte](0x0a, 0x7f, 'a')
    assert(intercept[IllegalArgumentException] {
      decodeSystemMetricsResponse(overrun)
    }.getMessage.contains("overruns"))
  }

  test("gRPC 5-byte message framing: roundtrip, compression refusal, length lies") {
    val msg = encodeSystemMetricsRequest(SystemMetricsRequest(qps = 1.5))
    val framed = grpcFrame(msg)
    assert(framed.length == msg.length + 5 && framed(0) == 0)
    assert(grpcUnframe(framed).sameElements(msg))
    assert(grpcUnframe(grpcFrame(Array.empty)).isEmpty)
    val compressed = framed.clone(); compressed(0) = 1
    assert(intercept[IllegalArgumentException] {
      grpcUnframe(compressed)
    }.getMessage.contains("compression"))
    val lied = framed.clone(); lied(4) = (lied(4) + 1).toByte
    assert(intercept[IllegalArgumentException] {
      grpcUnframe(lied)
    }.getMessage.contains("disagrees"))
    assert(intercept[IllegalArgumentException] {
      grpcUnframe(Array[Byte](0, 0))
    }.getMessage.contains("prefix"))
  }

  test("eviction code/name mapping is stable both ways") {
    assert(evictionCode("normal") == 0 && evictionCode("default") == 0)
    assert(evictionCode("aggressive") == 1)
    assert(evictionCode("priority_2") == 2)
    assert(evictionCode("whatever") == 0) // unknown → reference default
    assert(evictionName(0) == "normal" && evictionName(1) == "aggressive")
    (0 to 5).foreach(c => assert(evictionCode(evictionName(c)) == c))
  }

  // ---- end-to-end over the wire --------------------------------------

  test("proto metrics RPC over TCP: global request in, WarmPathPolicy back") {
    val srv = new SidecarWire.Server(SidecarWireSpec.heuristic,
      prefetchRules = (t, ix) => if (t == "t1" && ix == "idx") Seq((1, 2), (3, 4))
        else Seq.empty)
    try {
      val client = new SidecarWire.Client("127.0.0.1", srv.port)
      val resp = client.exchangeProto(SystemMetricsRequest(
        cacheHitTotal = 20, cacheMissTotal = 80, timestampUnixMs = 7L))
      assert(resp.status == "ok" && resp.nextReportIntervalMs == 10000)
      assert(resp.policy.contains(WarmPathPolicy(0.05, 300,
        evictionCode("aggressive"))))
      // low miss rate → the normal policy
      assert(client.exchangeProto(SystemMetricsRequest(
        cacheHitTotal = 99, cacheMissTotal = 1)).policy
        .contains(WarmPathPolicy(0.2, 60, 0)))
      // prefetch rules RPC on the same server
      val rules = client.prefetchRulesProto(GetPrefetchRulesRequest("t1", "idx"))
      assert(rules.rules == Seq(PrefetchRule(1, 2), PrefetchRule(3, 4)))
      assert(client.prefetchRulesProto(
        GetPrefetchRulesRequest("nobody", "idx")).rules.isEmpty)
    } finally srv.close()
  }

  test("tickWireProto: global aggregation, reply applied to every live tenant") {
    val root = Files.createTempDirectory("sidecar-proto-eng").toString
    val eng = new GraftEngine(spark, root)
    Seq("t1", "t2").foreach { t =>
      val recs = (0 until 30).map(i =>
          (s"v$i", Seq(i.toFloat, 1f, 0f), null: String, Seq.empty[String], 100L))
        .toDF("id", "vector", "meta", "tags", "updated_at")
        .withColumn("tenant_id", lit(t))
        .withColumn("index_name", lit("idx"))
        .withColumn("deleted", lit(false))
      eng.add(recs)
      eng.build(t, "idx", nlist = 2)
    }
    // t1: two misses; t2: one miss, one hit. t2 alone (miss rate 1/2)
    // would get the normal policy; the GLOBAL rate 3/4 is aggressive
    eng.searchCachedRows("t1", "idx", 1L, Array(4f, 1f, 0f), k = 3,
      nprobe = 2, now = 1000L)
    eng.searchCachedRows("t1", "idx", 2L, Array(9f, 1f, 0f), k = 8,
      nprobe = 2, now = 1001L)
    eng.searchCachedRows("t2", "idx", 1L, Array(4f, 1f, 0f), k = 3,
      nprobe = 2, now = 1000L)
    eng.searchCachedRows("t2", "idx", 1L, Array(4f, 1f, 0f), k = 3,
      nprobe = 2, now = 1001L)
    assert(eng.servingTtl("t1") == 60 && eng.servingTtl("t2") == 60)
    val seen = new ConcurrentLinkedQueue[SystemMetricsRequest]()
    val srv = new SidecarWire.Server(req => { seen.add(req); SidecarWireSpec.heuristic(req) })
    try {
      new SidecarLoop(eng, new SidecarWire.Client("127.0.0.1", srv.port))
        .tick(windowMs = 5L)
      assert(seen.size == 1, "one global request per tick, not one per tenant")
      val req = seen.peek()
      assert(req.cacheHitTotal == 1L && req.cacheMissTotal == 3L, req)
      assert(req.missRate == 0.75 && req.timestampUnixMs == 5L, req)
      Seq("t1", "t2").foreach { t =>
        assert(eng.servingTtl(t) == 300, t)
        assert(eng.servingPolicyOf(t).contains((300, 0.05, "aggressive")), t)
      }
    } finally srv.close()
  }
}
