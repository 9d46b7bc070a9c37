package graft.streaming

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Hand-rolled proto3 wire codec for the sidecar boundary's gRPC message
  * shapes — the one encoding [[SidecarWire]] frames carry.
  *
  * The reference defines the boundary in protobuf and speaks it over
  * gRPC (reference: src/Protos/policy_service.proto — `SystemMetricsRequest`
  * fields 1-8, `SystemMetricsResponse` 1-3, `WarmPathPolicy` 1-3,
  * `GetPrefetchRulesRequest`/`PrefetchRule`; server
  * src/Pyrope.AISidecar/server.py:268-291, consumer
  * Services/PredictivePrefetcher.cs:235-264). This module supplies the
  * proto3 WIRE ENCODING of the messages its two unary RPCs
  * (ReportSystemMetrics, GetPrefetchRules) exchange — exact field numbers
  * and wire types from the reference's .proto — plus gRPC's 5-byte
  * length-prefixed message frame, so a frame produced here is
  * byte-identical to what a protoc-generated encoder emits for the same
  * message. Encoding rules are the public proto3 wire format: varint
  * (base-128, LSB-first, MSB continuation), fixed64 little-endian for
  * doubles, length-delimited for strings/sub-messages; fields at their
  * proto3 default are omitted on encode and read back as defaults;
  * unknown tags are skipped by wire type (the proto version-skew posture
  * — new fields never break an old reader). What remains unbuilt of the
  * literal transport is ONLY the HTTP/2 layer gRPC rides on (stream
  * multiplexing + HPACK); framing, message encoding, and the mTLS channel
  * all exist.
  *
  * Decode hardening matches the repo's other wire codecs: every length
  * is bounds-checked against the buffer BEFORE allocation, varints are
  * capped at 10 bytes, truncation throws a descriptive contract error —
  * never an index exception.
  */
object SidecarProto {

  // ---- message model (field numbers = policy_service.proto) ----------

  /** `SystemMetricsRequest` — the reference's global (tenant-less)
    * ReportSystemMetrics payload. */
  final case class SystemMetricsRequest(qps: Double = 0.0,
                                        missRate: Double = 0.0,
                                        latencyP99Ms: Double = 0.0,
                                        cpuUtilization: Double = 0.0,
                                        gpuUtilization: Double = 0.0,
                                        cacheHitTotal: Long = 0L,
                                        cacheMissTotal: Long = 0L,
                                        timestampUnixMs: Long = 0L)

  /** `WarmPathPolicy` — eviction_priority is int32 in the proto; the
    * repo-wide string form maps through [[evictionName]]/[[evictionCode]]. */
  final case class WarmPathPolicy(admissionThreshold: Double = 0.0,
                                  ttlSeconds: Int = 0,
                                  evictionPriority: Int = 0)

  final case class SystemMetricsResponse(status: String = "",
                                         nextReportIntervalMs: Int = 0,
                                         policy: Option[WarmPathPolicy] = None)

  final case class GetPrefetchRulesRequest(tenantId: String = "",
                                           indexName: String = "")

  final case class PrefetchRule(currentClusterId: Int = 0,
                                nextClusterId: Int = 0)

  final case class GetPrefetchRulesResponse(rules: Seq[PrefetchRule] = Nil)

  /** policy_engine.py's eviction_priority domain is int 0..2 (default 0,
    * aggressive 1 — tests/test_policy_engine.py:17,25); the engine applies
    * policies by name. Unknown names encode as 0 (the reference's
    * default), unknown codes decode to a stable synthetic name. */
  def evictionCode(name: String): Int = name match {
    case "aggressive" => 1
    case "normal" | "default" | "" => 0
    case s if s.startsWith("priority_") &&
      s.stripPrefix("priority_").forall(_.isDigit) =>
      s.stripPrefix("priority_").toInt
    case _ => 0
  }

  def evictionName(code: Int): String = code match {
    case 0 => "normal"
    case 1 => "aggressive"
    case n => s"priority_$n"
  }

  // ---- proto3 wire primitives ----------------------------------------

  private final val WireVarint = 0
  private final val WireFixed64 = 1
  private final val WireLenDelim = 2
  private final val WireFixed32 = 5

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write((v & 0x7F).toInt)
  }

  private def writeTag(out: ByteArrayOutputStream, field: Int, wire: Int): Unit =
    writeVarint(out, (field.toLong << 3) | wire)

  /** proto3 scalar fields at their default value are not serialized. */
  private def writeDoubleField(out: ByteArrayOutputStream, field: Int, v: Double): Unit =
    if (v != 0.0 || java.lang.Double.doubleToRawLongBits(v) != 0L) {
      writeTag(out, field, WireFixed64)
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 0
      while (i < 8) { out.write(((bits >>> (8 * i)) & 0xFF).toInt); i += 1 }
    }

  private def writeInt64Field(out: ByteArrayOutputStream, field: Int, v: Long): Unit =
    if (v != 0L) { writeTag(out, field, WireVarint); writeVarint(out, v) }

  /** int32 encodes as the varint of the sign-extended 64-bit value
    * (negatives are 10 bytes on the wire — proto3 int32 semantics). */
  private def writeInt32Field(out: ByteArrayOutputStream, field: Int, v: Int): Unit =
    if (v != 0) { writeTag(out, field, WireVarint); writeVarint(out, v.toLong) }

  private def writeStringField(out: ByteArrayOutputStream, field: Int, v: String): Unit =
    if (v.nonEmpty) {
      val b = v.getBytes(UTF_8)
      writeTag(out, field, WireLenDelim)
      writeVarint(out, b.length.toLong)
      out.write(b, 0, b.length)
    }

  private def writeMessageField(out: ByteArrayOutputStream, field: Int,
                                body: Array[Byte]): Unit = {
    writeTag(out, field, WireLenDelim)
    writeVarint(out, body.length.toLong)
    out.write(body, 0, body.length)
  }

  /** Bounds-checked cursor over an encoded message. */
  private final class Reader(buf: Array[Byte], from: Int, until: Int) {
    private var pos = from
    def hasMore: Boolean = pos < until

    def readVarint(): Long = {
      var shift = 0; var v = 0L; var n = 0
      while (true) {
        require(pos < until, s"proto frame truncated inside varint at byte $pos")
        require(n < 10, "proto varint exceeds 10 bytes — corrupt frame")
        val b = buf(pos); pos += 1; n += 1
        v |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      v // unreachable
    }

    def readFixed64(): Long = {
      require(pos + 8 <= until, s"proto frame truncated inside fixed64 at byte $pos")
      var v = 0L; var i = 0
      while (i < 8) { v |= (buf(pos + i).toLong & 0xFF) << (8 * i); i += 1 }
      pos += 8
      v
    }

    /** (absolute start, absolute end) of a length-delimited value. */
    def readLenDelim(): (Int, Int) = {
      val len = readVarint()
      require(len >= 0 && len <= (until - pos).toLong,
        s"proto length-delimited field of $len B overruns frame of ${until - pos} B left")
      val s = pos; pos += len.toInt
      (s, pos)
    }

    def skip(wire: Int): Unit = wire match {
      case WireVarint => readVarint(); ()
      case WireFixed64 => readFixed64(); ()
      case WireLenDelim => readLenDelim(); ()
      case WireFixed32 =>
        require(pos + 4 <= until, s"proto frame truncated inside fixed32 at byte $pos")
        pos += 4
      case other =>
        throw new IllegalArgumentException(
          s"unsupported proto wire type $other — corrupt frame")
    }
  }

  private def str(buf: Array[Byte], range: (Int, Int)): String =
    new String(buf, range._1, range._2 - range._1, UTF_8)

  // ---- SystemMetricsRequest ------------------------------------------

  def encodeSystemMetricsRequest(m: SystemMetricsRequest): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeDoubleField(out, 1, m.qps)
    writeDoubleField(out, 2, m.missRate)
    writeDoubleField(out, 3, m.latencyP99Ms)
    writeDoubleField(out, 4, m.cpuUtilization)
    writeDoubleField(out, 5, m.gpuUtilization)
    writeInt64Field(out, 6, m.cacheHitTotal)
    writeInt64Field(out, 7, m.cacheMissTotal)
    writeInt64Field(out, 8, m.timestampUnixMs)
    out.toByteArray
  }

  def decodeSystemMetricsRequest(buf: Array[Byte], from: Int = 0,
                                 until: Int = -1): SystemMetricsRequest = {
    val r = new Reader(buf, from, if (until < 0) buf.length else until)
    var m = SystemMetricsRequest()
    while (r.hasMore) {
      val tag = r.readVarint()
      val (f, w) = ((tag >>> 3).toInt, (tag & 7).toInt)
      (f, w) match {
        case (1, WireFixed64) => m = m.copy(qps = java.lang.Double.longBitsToDouble(r.readFixed64()))
        case (2, WireFixed64) => m = m.copy(missRate = java.lang.Double.longBitsToDouble(r.readFixed64()))
        case (3, WireFixed64) => m = m.copy(latencyP99Ms = java.lang.Double.longBitsToDouble(r.readFixed64()))
        case (4, WireFixed64) => m = m.copy(cpuUtilization = java.lang.Double.longBitsToDouble(r.readFixed64()))
        case (5, WireFixed64) => m = m.copy(gpuUtilization = java.lang.Double.longBitsToDouble(r.readFixed64()))
        case (6, WireVarint) => m = m.copy(cacheHitTotal = r.readVarint())
        case (7, WireVarint) => m = m.copy(cacheMissTotal = r.readVarint())
        case (8, WireVarint) => m = m.copy(timestampUnixMs = r.readVarint())
        case _ => r.skip(w)
      }
    }
    m
  }

  // ---- WarmPathPolicy / SystemMetricsResponse ------------------------

  def encodeWarmPathPolicy(p: WarmPathPolicy): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeDoubleField(out, 1, p.admissionThreshold)
    writeInt32Field(out, 2, p.ttlSeconds)
    writeInt32Field(out, 3, p.evictionPriority)
    out.toByteArray
  }

  def decodeWarmPathPolicy(buf: Array[Byte], from: Int, until: Int): WarmPathPolicy = {
    val r = new Reader(buf, from, until)
    var p = WarmPathPolicy()
    while (r.hasMore) {
      val tag = r.readVarint()
      val (f, w) = ((tag >>> 3).toInt, (tag & 7).toInt)
      (f, w) match {
        case (1, WireFixed64) => p = p.copy(admissionThreshold = java.lang.Double.longBitsToDouble(r.readFixed64()))
        case (2, WireVarint) => p = p.copy(ttlSeconds = r.readVarint().toInt)
        case (3, WireVarint) => p = p.copy(evictionPriority = r.readVarint().toInt)
        case _ => r.skip(w)
      }
    }
    p
  }

  def encodeSystemMetricsResponse(m: SystemMetricsResponse): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeStringField(out, 1, m.status)
    writeInt32Field(out, 2, m.nextReportIntervalMs)
    m.policy.foreach(p => writeMessageField(out, 3, encodeWarmPathPolicy(p)))
    out.toByteArray
  }

  def decodeSystemMetricsResponse(buf: Array[Byte]): SystemMetricsResponse = {
    val r = new Reader(buf, 0, buf.length)
    var m = SystemMetricsResponse()
    while (r.hasMore) {
      val tag = r.readVarint()
      val (f, w) = ((tag >>> 3).toInt, (tag & 7).toInt)
      (f, w) match {
        case (1, WireLenDelim) => m = m.copy(status = str(buf, r.readLenDelim()))
        case (2, WireVarint) => m = m.copy(nextReportIntervalMs = r.readVarint().toInt)
        case (3, WireLenDelim) =>
          val (s, e) = r.readLenDelim()
          m = m.copy(policy = Some(decodeWarmPathPolicy(buf, s, e)))
        case _ => r.skip(w)
      }
    }
    m
  }

  // ---- prefetch RPC messages -----------------------------------------

  def encodeGetPrefetchRulesRequest(m: GetPrefetchRulesRequest): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeStringField(out, 1, m.tenantId)
    writeStringField(out, 2, m.indexName)
    out.toByteArray
  }

  def decodeGetPrefetchRulesRequest(buf: Array[Byte]): GetPrefetchRulesRequest = {
    val r = new Reader(buf, 0, buf.length)
    var m = GetPrefetchRulesRequest()
    while (r.hasMore) {
      val tag = r.readVarint()
      val (f, w) = ((tag >>> 3).toInt, (tag & 7).toInt)
      (f, w) match {
        case (1, WireLenDelim) => m = m.copy(tenantId = str(buf, r.readLenDelim()))
        case (2, WireLenDelim) => m = m.copy(indexName = str(buf, r.readLenDelim()))
        case _ => r.skip(w)
      }
    }
    m
  }

  def encodePrefetchRule(p: PrefetchRule): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt32Field(out, 1, p.currentClusterId)
    writeInt32Field(out, 2, p.nextClusterId)
    out.toByteArray
  }

  private def decodePrefetchRule(buf: Array[Byte], from: Int, until: Int): PrefetchRule = {
    val r = new Reader(buf, from, until)
    var p = PrefetchRule()
    while (r.hasMore) {
      val tag = r.readVarint()
      val (f, w) = ((tag >>> 3).toInt, (tag & 7).toInt)
      (f, w) match {
        case (1, WireVarint) => p = p.copy(currentClusterId = r.readVarint().toInt)
        case (2, WireVarint) => p = p.copy(nextClusterId = r.readVarint().toInt)
        case _ => r.skip(w)
      }
    }
    p
  }

  def encodeGetPrefetchRulesResponse(m: GetPrefetchRulesResponse): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    m.rules.foreach(p => writeMessageField(out, 1, encodePrefetchRule(p)))
    out.toByteArray
  }

  def decodeGetPrefetchRulesResponse(buf: Array[Byte]): GetPrefetchRulesResponse = {
    val r = new Reader(buf, 0, buf.length)
    var m = GetPrefetchRulesResponse()
    while (r.hasMore) {
      val tag = r.readVarint()
      val (f, w) = ((tag >>> 3).toInt, (tag & 7).toInt)
      (f, w) match {
        case (1, WireLenDelim) =>
          val (s, e) = r.readLenDelim()
          m = m.copy(rules = m.rules :+ decodePrefetchRule(buf, s, e))
        case _ => r.skip(w)
      }
    }
    m
  }

  // ---- gRPC length-prefixed message framing --------------------------

  /** gRPC data frame: u8 compressed-flag (0 — no per-message compression)
    * + u32 big-endian length + the proto message bytes. */
  def grpcFrame(message: Array[Byte]): Array[Byte] = {
    require(message.length <= SidecarWire.MaxPayloadBytes - 5,
      s"proto message ${message.length} B exceeds frame bound")
    val out = new Array[Byte](5 + message.length)
    out(0) = 0
    out(1) = ((message.length >>> 24) & 0xFF).toByte
    out(2) = ((message.length >>> 16) & 0xFF).toByte
    out(3) = ((message.length >>> 8) & 0xFF).toByte
    out(4) = (message.length & 0xFF).toByte
    System.arraycopy(message, 0, out, 5, message.length)
    out
  }

  /** Strip a gRPC message frame; refuses compressed frames (no codec was
    * negotiated) and lengths that disagree with the buffer. */
  def grpcUnframe(frame: Array[Byte]): Array[Byte] = {
    require(frame.length >= 5,
      s"gRPC message frame of ${frame.length} B is shorter than its 5-byte prefix")
    require(frame(0) == 0,
      s"gRPC frame claims compression ${frame(0)} — none negotiated")
    val len = ((frame(1) & 0xFF) << 24) | ((frame(2) & 0xFF) << 16) |
      ((frame(3) & 0xFF) << 8) | (frame(4) & 0xFF)
    require(len == frame.length - 5,
      s"gRPC frame length $len disagrees with payload ${frame.length - 5} B")
    java.util.Arrays.copyOfRange(frame, 5, frame.length)
  }
}
