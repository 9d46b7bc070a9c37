package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, FilterInputStream, InputStream, OutputStream}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8

import javax.net.ssl.SSLContext

import scala.util.control.NonFatal

/** The engine ↔ sidecar boundary: length-prefixed frames over TCP,
  * optionally under mutually-authenticated TLS, each carrying one
  * gRPC-framed proto3 message ([[SidecarProto]]).
  *
  * The reference's sidecar speaks gRPC with mTLS (reference:
  * src/Pyrope.AISidecar/server.py:268-291, consumer
  * Services/PredictivePrefetcher.cs:235-264). This module supplies the
  * transport around its two unary RPCs, ReportSystemMetrics and
  * GetPrefetchRules: framing, version handshake, and the mutual-auth
  * channel (JDK TLS with client-auth required — certificate provisioning
  * is the deployment's business, so both endpoints take a pre-built
  * [[SSLContext]]).
  *
  * Frame layout (all ints big-endian):
  * {{{
  *   magic   u32  0x47524654 ("GRFT")
  *   type    u8   3 = ERR (reply; payload = UTF-8 message)
  *                4 = SystemMetricsRequest   5 = SystemMetricsResponse
  *                6 = GetPrefetchRulesRequest 7 = GetPrefetchRulesResponse
  *   version i32  [[Version]] of the SENDER
  *   length  i32  payload byte count (bounded; oversize refused loudly)
  *   payload      gRPC 5-byte-prefixed proto3 message (or the ERR text)
  * }}}
  *
  * Version skew fails the exchange loudly on BOTH sides — the server
  * replies ERR naming both versions (never a silently re-interpreted
  * frame), and a client that receives a reply stamped with a version it
  * does not speak throws before decoding it. Scale shape: one frame per
  * decision window — driver-light by design; the 16 MB payload bound is
  * a refusal threshold, not a target.
  */
object SidecarWire {

  /** Boundary version this module speaks. */
  val Version = 1

  val Magic = 0x47524654
  val TypeErr: Byte = 3
  // payloads are gRPC 5-byte-prefixed proto3 messages ([[SidecarProto]])
  // — the reference's ReportSystemMetrics and GetPrefetchRules unary
  // calls (policy_service.proto), byte-compatible with a protoc encoder.
  // Reply to 4 is 5; reply to 6 is 7.
  val TypeMetricsProto: Byte = 4
  val TypePoliciesProto: Byte = 5
  val TypePrefetchReqProto: Byte = 6
  val TypePrefetchRulesProto: Byte = 7
  val MaxPayloadBytes: Int = 16 << 20

  /** An exchange's default bound: the reference's 10 s report interval. */
  val DefaultTimeoutMs = 10000

  // ---- framing -------------------------------------------------------

  private[streaming] def writeFrame(out: OutputStream, msgType: Byte,
                                    payload: Array[Byte]): Unit = {
    require(payload.length <= MaxPayloadBytes,
      s"frame payload ${payload.length} B exceeds bound $MaxPayloadBytes")
    val d = new DataOutputStream(out)
    d.writeInt(Magic)
    d.writeByte(msgType)
    d.writeInt(Version)
    d.writeInt(payload.length)
    d.write(payload)
    d.flush()
  }

  /** (msgType, senderVersion, payload). Refuses wrong magic and oversized
    * frames before allocating; EOF mid-frame throws. */
  private[streaming] def readFrame(in: InputStream): (Byte, Int, Array[Byte]) = {
    val d = new DataInputStream(in)
    val magic = d.readInt()
    require(magic == Magic,
      f"bad frame magic 0x$magic%08x — not a sidecar wire peer")
    val msgType = d.readByte()
    val version = d.readInt()
    val len = d.readInt()
    require(len >= 0 && len <= MaxPayloadBytes,
      s"frame payload length $len out of bounds [0, $MaxPayloadBytes]")
    val payload = new Array[Byte](len)
    d.readFully(payload)
    (msgType, version, payload)
  }

  // ---- endpoints -----------------------------------------------------

  /** Sidecar-side server: one [[SidecarProto.WarmPathPolicy]] decision
    * per SystemMetricsRequest, and `prefetchRules(tenant, index)` per
    * GetPrefetchRulesRequest.
    *
    * `ssl = Some(ctx)` serves TLS with client auth REQUIRED (mTLS): a
    * peer without a certificate the server's trust material accepts
    * never reaches the handler. Handler failures become ERR frames, not
    * dropped connections. Connections are handled on daemon threads;
    * each carries any number of sequential exchanges. */
  final class Server(handler: SidecarProto.SystemMetricsRequest => Option[SidecarProto.WarmPathPolicy],
                     ssl: Option[SSLContext] = None,
                     prefetchRules: (String, String) => Seq[(Int, Int)] =
                       (_, _) => Seq.empty) extends AutoCloseable {
    private val server: ServerSocket = ssl match {
      case Some(ctx) =>
        val s = ctx.getServerSocketFactory.createServerSocket(
          0, 16, InetAddress.getLoopbackAddress)
        s.asInstanceOf[javax.net.ssl.SSLServerSocket].setNeedClientAuth(true)
        s
      case None =>
        new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    }
    @volatile private var running = true

    def port: Int = server.getLocalPort

    /** Reply with `body`'s message, or ERR when decoding or the handler
      * fails. */
    private def reply(out: OutputStream, replyType: Byte, what: String)(
        body: => Array[Byte]): Unit =
      try writeFrame(out, replyType, SidecarProto.grpcFrame(body))
      catch {
        case NonFatal(e) =>
          writeFrame(out, TypeErr,
            s"$what handler failed: ${e.getMessage}".getBytes(UTF_8))
      }

    private def serve(sock: Socket): Unit = {
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      try {
        while (running) {
          val (msgType, version, payload) =
            try readFrame(in)
            catch { case _: EOFException => return } // peer done
          if (version != Version)
            writeFrame(out, TypeErr,
              (s"contract version skew: peer speaks v$version, " +
                s"this sidecar speaks v$Version").getBytes(UTF_8))
          else msgType match {
            // the reference's ReportSystemMetrics RPC is GLOBAL (no
            // tenant field — policy_service.proto SystemMetricsRequest)
            case TypeMetricsProto => reply(out, TypePoliciesProto, "policy") {
              val req = SidecarProto.decodeSystemMetricsRequest(
                SidecarProto.grpcUnframe(payload))
              SidecarProto.encodeSystemMetricsResponse(
                SidecarProto.SystemMetricsResponse("ok",
                  nextReportIntervalMs = 10000, policy = handler(req)))
            }
            case TypePrefetchReqProto => reply(out, TypePrefetchRulesProto, "prefetch rules") {
              val req = SidecarProto.decodeGetPrefetchRulesRequest(
                SidecarProto.grpcUnframe(payload))
              SidecarProto.encodeGetPrefetchRulesResponse(
                SidecarProto.GetPrefetchRulesResponse(
                  prefetchRules(req.tenantId, req.indexName)
                    .map { case (cur, nxt) => SidecarProto.PrefetchRule(cur, nxt) }))
            }
            case _ =>
              writeFrame(out, TypeErr,
                (s"unexpected frame type $msgType — sidecar accepts " +
                  "METRICS_PROTO, PREFETCH_REQ_PROTO").getBytes(UTF_8))
          }
        }
      } catch {
        case NonFatal(e) if running =>
          System.err.println(s"[sidecar-wire] connection failed: ${e.getMessage}")
      } finally sock.close()
    }

    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          val t = new Thread(() => serve(sock), "graft-sidecar-wire-conn")
          t.setDaemon(true)
          t.start()
        } catch {
          case NonFatal(_) if !running => // close() raced accept(): done
          case NonFatal(e) =>
            // a PERSISTENT accept failure (fd exhaustion, socket error
            // state) must not hot-loop a daemon thread at 100% CPU on
            // the serving driver — back off briefly before retrying
            System.err.println(s"[sidecar-wire] accept failed: ${e.getMessage}")
            try Thread.sleep(100) catch { case _: InterruptedException => }
        }
      }
    }, "graft-sidecar-wire-accept")
    acceptor.setDaemon(true)
    acceptor.start()

    override def close(): Unit = { running = false; server.close() }
  }

  /** Engine-side client: one request/reply round trip per call, bounded
    * by `timeoutMs`: the connect, the TLS handshake and each reply read
    * wait at most the time left. A fresh connection per exchange keeps
    * the client stateless (a window tick every 10 s amortizes nothing
    * worth a pooled socket). */
  final class Client(host: String, port: Int,
                     ssl: Option[SSLContext] = None) {

    /** The reference's unary ReportSystemMetrics: one gRPC-framed
      * SystemMetricsRequest out, one SystemMetricsResponse back. */
    def exchangeProto(req: SidecarProto.SystemMetricsRequest,
                      timeoutMs: Int = DefaultTimeoutMs): SidecarProto.SystemMetricsResponse =
      roundTrip(TypeMetricsProto,
        SidecarProto.grpcFrame(SidecarProto.encodeSystemMetricsRequest(req)),
        TypePoliciesProto, timeoutMs)(p =>
          SidecarProto.decodeSystemMetricsResponse(SidecarProto.grpcUnframe(p)))

    /** The reference's unary GetPrefetchRules. */
    def prefetchRulesProto(req: SidecarProto.GetPrefetchRulesRequest): SidecarProto.GetPrefetchRulesResponse =
      roundTrip(TypePrefetchReqProto,
        SidecarProto.grpcFrame(SidecarProto.encodeGetPrefetchRulesRequest(req)),
        TypePrefetchRulesProto, DefaultTimeoutMs)(p =>
          SidecarProto.decodeGetPrefetchRulesResponse(SidecarProto.grpcUnframe(p)))

    private def roundTrip[A](reqType: Byte, reqPayload: Array[Byte],
                             wantType: Byte, timeoutMs: Int)(
        decode: Array[Byte] => A): A = {
      require(timeoutMs > 0, s"exchange timeout must be positive: $timeoutMs")
      val deadlineNs = System.nanoTime() + timeoutMs * 1000000L
      val raw = new Socket()
      val sock = try {
        raw.connect(new InetSocketAddress(host, port), timeoutMs)
        arm(raw, deadlineNs) // bounds the TLS handshake's reads too
        ssl.fold(raw)(_.getSocketFactory.createSocket(raw, host, port, true))
      } catch { case NonFatal(e) => raw.close(); throw e }
      try {
        sock.setTcpNoDelay(true)
        val out = new BufferedOutputStream(sock.getOutputStream)
        writeFrame(out, reqType, reqPayload)
        val (msgType, version, payload) =
          readFrame(new BufferedInputStream(new DeadlineInput(sock, deadlineNs)))
        require(version == Version,
          s"contract version skew: sidecar replied v$version, " +
            s"this engine speaks v$Version")
        msgType match {
          case t if t == wantType => decode(payload)
          case TypeErr =>
            throw new IllegalStateException(
              s"sidecar refused frame: ${new String(payload, UTF_8)}")
          case other =>
            throw new IllegalStateException(s"unexpected reply type $other")
        }
      } finally sock.close()
    }
  }

  /** Set `sock`'s read timeout to the time left before `deadlineNs`. */
  private def arm(sock: Socket, deadlineNs: Long): Unit = {
    val leftMs = (deadlineNs - System.nanoTime()) / 1000000L
    if (leftMs <= 0) throw new SocketTimeoutException("sidecar exchange deadline passed")
    sock.setSoTimeout(leftMs.toInt)
  }

  /** A socket's input whose reads share one deadline: each read re-arms
    * the read timeout to the time left, so a peer that dribbles bytes
    * cannot stretch an exchange past it. */
  private final class DeadlineInput(sock: Socket, deadlineNs: Long)
      extends FilterInputStream(sock.getInputStream) {
    override def read(): Int = { arm(sock, deadlineNs); super.read() }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      arm(sock, deadlineNs); super.read(b, off, len)
    }
  }
}
