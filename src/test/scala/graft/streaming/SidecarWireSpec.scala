package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.KeyStore
import java.security.cert.{CertificateFactory, X509Certificate}

import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}

import org.scalatest.funsuite.AnyFunSuite

import SidecarProto._

object SidecarWireSpec {

  /** Deterministic sidecar half for the tests: the same decision as
    * Policy.heuristic — a miss rate above 0.5 buys a longer TTL. */
  def heuristic(req: SystemMetricsRequest): Option[WarmPathPolicy] = {
    val total = req.cacheHitTotal + req.cacheMissTotal
    val missRate = if (total == 0) 0.0 else req.cacheMissTotal.toDouble / total
    Some(if (missRate > 0.5) WarmPathPolicy(0.05, 300, evictionCode("aggressive"))
      else WarmPathPolicy(0.2, 60, evictionCode("normal")))
  }

  def metricsFrame(req: SystemMetricsRequest): Array[Byte] =
    grpcFrame(encodeSystemMetricsRequest(req))
}

/** The sidecar boundary's NETWORK transport: version-skew and garbage
  * refusal at the frame layer, truncation anywhere in a frame, and the
  * mutual-TLS channel — client auth required, certificate-less peers
  * rejected in the handshake. */
class SidecarWireSpec extends AnyFunSuite {
  import SidecarWireSpec._

  private val aggressive = WarmPathPolicy(0.05, 300, 1)

  test("truncated frames throw the contract error, never an index exception") {
    val req = SystemMetricsRequest(qps = 12.5, missRate = 0.25,
      cacheHitTotal = 150, cacheMissTotal = 50, timestampUnixMs = 1723800000123L)
    // a wire frame cut at any length is an EOF on the reading side
    val whole = new java.io.ByteArrayOutputStream()
    SidecarWire.writeFrame(whole, SidecarWire.TypeMetricsProto, metricsFrame(req))
    (0 until whole.size).foreach { cut =>
      intercept[java.io.EOFException](SidecarWire.readFrame(
        new java.io.ByteArrayInputStream(whole.toByteArray.take(cut))))
    }
    // a whole frame whose message is cut: the sidecar replies ERR naming
    // the gRPC/proto error (or decodes clean at a field boundary), and
    // the connection keeps serving
    val msg = encodeSystemMetricsRequest(req)
    val cuts = (0 until 5).map(n => metricsFrame(req).take(n)) ++
      (0 until msg.length).map(n => metricsFrame(req).take(5 + n)) ++
      (0 until msg.length).map(n => grpcFrame(msg.take(n)))
    val srv = new SidecarWire.Server(heuristic)
    val sock = new java.net.Socket("127.0.0.1", srv.port)
    try {
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      cuts.foreach { payload =>
        SidecarWire.writeFrame(out, SidecarWire.TypeMetricsProto, payload)
        val (t, _, p) = SidecarWire.readFrame(in)
        val txt = new String(p, UTF_8)
        assert(t == SidecarWire.TypePoliciesProto || (t == SidecarWire.TypeErr &&
          (txt.contains("proto") || txt.contains("gRPC")) &&
          !txt.contains("Index")), s"${payload.length} B: $txt")
      }
      SidecarWire.writeFrame(out, SidecarWire.TypeMetricsProto, metricsFrame(req))
      val (t, _, p) = SidecarWire.readFrame(in)
      assert(t == SidecarWire.TypePoliciesProto &&
        decodeSystemMetricsResponse(grpcUnframe(p)).policy.isDefined)
    } finally { sock.close(); srv.close() }
  }

  test("version skew: server refuses loudly; client refuses a skewed reply") {
    val srv = new SidecarWire.Server(heuristic)
    try {
      // raw peer stamping version+1 → ERR frame naming both versions
      val sock = new java.net.Socket("127.0.0.1", srv.port)
      try {
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        val payload = metricsFrame(SystemMetricsRequest(cacheMissTotal = 1))
        out.writeInt(SidecarWire.Magic)
        out.writeByte(SidecarWire.TypeMetricsProto)
        out.writeInt(SidecarWire.Version + 1)
        out.writeInt(payload.length); out.write(payload); out.flush()
        val in = new java.io.DataInputStream(sock.getInputStream)
        assert(in.readInt() == SidecarWire.Magic)
        assert(in.readByte() == SidecarWire.TypeErr)
        in.readInt() // sender version
        val msg = new Array[Byte](in.readInt()); in.readFully(msg)
        val txt = new String(msg, UTF_8)
        assert(txt.contains("version skew") &&
          txt.contains(s"v${SidecarWire.Version + 1}"))
      } finally sock.close()
      // a versioned peer still sending the retired JSON-lines METRICS
      // type (1) gets the ERR reply too
      val s2 = new java.net.Socket("127.0.0.1", srv.port)
      try {
        SidecarWire.writeFrame(new java.io.BufferedOutputStream(s2.getOutputStream),
          1.toByte, "{}".getBytes(UTF_8))
        val (t, _, p) = SidecarWire.readFrame(
          new java.io.BufferedInputStream(s2.getInputStream))
        assert(t == SidecarWire.TypeErr &&
          new String(p, UTF_8).contains("unexpected frame type 1"))
      } finally s2.close()
    } finally srv.close()

    // a sidecar replying under another version: the client throws before
    // decoding the reply
    val skewed = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val replier = new Thread(() => {
      val s = skewed.accept()
      try {
        SidecarWire.readFrame(new java.io.BufferedInputStream(s.getInputStream))
        val out = new java.io.DataOutputStream(s.getOutputStream)
        val payload = grpcFrame(encodeSystemMetricsResponse(
          SystemMetricsResponse("ok", 10000, Some(aggressive))))
        out.writeInt(SidecarWire.Magic)
        out.writeByte(SidecarWire.TypePoliciesProto)
        out.writeInt(SidecarWire.Version + 1)
        out.writeInt(payload.length); out.write(payload); out.flush()
      } finally s.close()
    })
    replier.setDaemon(true)
    replier.start()
    try {
      val e = intercept[IllegalArgumentException] {
        new SidecarWire.Client("127.0.0.1", skewed.getLocalPort)
          .exchangeProto(SystemMetricsRequest(cacheMissTotal = 1))
      }
      assert(e.getMessage.contains("version skew") &&
        e.getMessage.contains(s"replied v${SidecarWire.Version + 1}"))
    } finally skewed.close()
  }

  test("frame layer refuses bad magic and oversized payloads") {
    val in = new java.io.ByteArrayInputStream(
      Array[Byte](0x12, 0x34, 0x56, 0x78, 1, 0, 0, 0, 1, 0, 0, 0, 0))
    val e = intercept[IllegalArgumentException](SidecarWire.readFrame(in))
    assert(e.getMessage.contains("magic"))
    val big = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(big)
    d.writeInt(SidecarWire.Magic); d.writeByte(1)
    d.writeInt(SidecarWire.Version)
    d.writeInt(SidecarWire.MaxPayloadBytes + 1)
    val e2 = intercept[IllegalArgumentException](SidecarWire.readFrame(
      new java.io.ByteArrayInputStream(big.toByteArray)))
    assert(e2.getMessage.contains("out of bounds"))
    intercept[IllegalArgumentException](
      SidecarWire.writeFrame(new java.io.ByteArrayOutputStream(),
        SidecarWire.TypeMetricsProto, new Array[Byte](SidecarWire.MaxPayloadBytes + 1)))
  }

  // ---- mTLS ----------------------------------------------------------

  private def runKeytool(args: String*): Unit = {
    val pb = new ProcessBuilder(("keytool" +: args): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), UTF_8)
    assert(p.waitFor() == 0, s"keytool failed: $out")
  }

  /** Self-signed identity: PKCS12 keystore + exported certificate. */
  private def genIdentity(dir: Path, name: String): (String, X509Certificate) = {
    val ks = s"$dir/$name.p12"
    runKeytool("-genkeypair", "-alias", name, "-keyalg", "RSA",
      "-keysize", "2048", "-storetype", "PKCS12", "-keystore", ks,
      "-storepass", "changeit", "-dname", s"CN=$name", "-validity", "2")
    val certPath = s"$dir/$name.cer"
    runKeytool("-exportcert", "-alias", name, "-keystore", ks,
      "-storepass", "changeit", "-file", certPath)
    val cf = CertificateFactory.getInstance("X.509")
    val inStream = Files.newInputStream(Paths.get(certPath))
    val cert =
      try cf.generateCertificate(inStream).asInstanceOf[X509Certificate]
      finally inStream.close()
    (ks, cert)
  }

  /** SSLContext from an optional own identity + explicitly trusted peer
    * certs — the deployment-shaped input [[SidecarWire]] endpoints take. */
  private def sslCtx(keystore: Option[String],
                     trusted: Seq[X509Certificate]): SSLContext = {
    val kms = keystore.map { path =>
      val ks = KeyStore.getInstance("PKCS12")
      val in = Files.newInputStream(Paths.get(path))
      try ks.load(in, "changeit".toCharArray) finally in.close()
      val kmf = KeyManagerFactory.getInstance(
        KeyManagerFactory.getDefaultAlgorithm)
      kmf.init(ks, "changeit".toCharArray)
      kmf.getKeyManagers
    }.getOrElse(Array.empty)
    val ts = KeyStore.getInstance("PKCS12")
    ts.load(null, null)
    trusted.zipWithIndex.foreach { case (c, i) =>
      ts.setCertificateEntry(s"trusted$i", c) }
    val tmf = TrustManagerFactory.getInstance(
      TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ts)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kms, tmf.getTrustManagers, null)
    ctx
  }

  test("mTLS: mutual auth serves; a certificate-less client is rejected") {
    val dir = Files.createTempDirectory("sidecar-wire-tls")
    val (serverKs, serverCert) = genIdentity(dir, "sidecar")
    val (clientKs, clientCert) = genIdentity(dir, "engine")
    val serverCtx = sslCtx(Some(serverKs), Seq(clientCert))
    val clientCtx = sslCtx(Some(clientKs), Seq(serverCert))
    val srv = new SidecarWire.Server(heuristic, ssl = Some(serverCtx))
    try {
      val got = new SidecarWire.Client("127.0.0.1", srv.port,
        ssl = Some(clientCtx))
        .exchangeProto(SystemMetricsRequest(cacheHitTotal = 1, cacheMissTotal = 9))
      assert(got.policy.contains(aggressive))

      // same trust of the server but NO client identity → the server's
      // required client auth fails the handshake before any frame
      val anonCtx = sslCtx(None, Seq(serverCert))
      intercept[java.io.IOException] {
        new SidecarWire.Client("127.0.0.1", srv.port, ssl = Some(anonCtx))
          .exchangeProto(SystemMetricsRequest(cacheMissTotal = 1))
      }
      // and the authenticated channel still serves afterwards
      assert(new SidecarWire.Client("127.0.0.1", srv.port,
        ssl = Some(clientCtx))
        .exchangeProto(SystemMetricsRequest(cacheHitTotal = 9, cacheMissTotal = 1))
        .policy.map(_.ttlSeconds).contains(60))
    } finally srv.close()
  }
}
