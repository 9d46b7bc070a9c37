package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{ExecutorService, Executors, ThreadFactory}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftEngine, Json, Management}

/** RESP2 wire codec — the subset the vector command surface needs: a
  * request is an array of bulk strings, replies are simple strings,
  * errors, bulk strings, and (nested) arrays. Numbers travel as bulk
  * strings, matching the reference's numeric replies
  * (reference: Extensions/RespMemoryWriter usage in VectorCommandSet.cs:864-881).
  *
  * This is a from-scratch implementation of the public RESP spec; only
  * the framing lives here — command semantics are in [[RespServer]].
  */
object Resp {

  final class ProtocolException(msg: String) extends RuntimeException(msg)

  /** Read one client command: `*N` then N bulk strings. Returns None on
    * clean EOF (client closed between commands). Inline (non-array)
    * commands are accepted as a single space-split line — the spec's
    * telnet convenience form. */
  def readCommand(in: InputStream): Option[Seq[String]] = {
    val first = in.read()
    if (first == -1) return None
    if (first.toChar == '*') {
      val n = readLine(in).toInt
      if (n < 0) throw new ProtocolException("negative array length")
      Some((0 until n).map(_ => readBulk(in)))
    } else {
      // inline form: rest of the line, whitespace-split
      val line = (first.toChar + readLine(in)).trim
      if (line.isEmpty) Some(Seq.empty) else Some(line.split("\\s+").toSeq)
    }
  }

  /** Bulk-payload bound: a dim-4096 vector in text form is ~50 KB and
    * metadata JSON is KBs, so 16 MB is far past any legitimate request
    * — while an UNbounded `$<len>` header lets one pre-auth connection
    * allocate up to 2 GB on the driver JVM per bulk (×256 connections =
    * an OOM of the process hosting the resident serving tiers). */
  private val MaxBulkBytes = 16 << 20

  private def readBulk(in: InputStream): String = {
    val t = in.read()
    if (t == -1) throw new EOFException("EOF inside command")
    if (t.toChar != '$')
      throw new ProtocolException(s"expected bulk string, got '${t.toChar}'")
    val len = readLine(in).toInt
    if (len < 0) throw new ProtocolException("null bulk in request")
    if (len > MaxBulkBytes)
      throw new ProtocolException(
        s"bulk payload $len B exceeds bound $MaxBulkBytes")
    val buf = new Array[Byte](len)
    var off = 0
    while (off < len) {
      val r = in.read(buf, off, len - off)
      if (r == -1) throw new EOFException("EOF inside bulk payload")
      off += r
    }
    expectCrLf(in)
    new String(buf, UTF_8)
  }

  private def readLine(in: InputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\r') {
      if (c == -1) throw new EOFException("EOF inside line")
      // same driver-protection bound as readBulk: an inline command (or
      // a length header) that never sends \r must not grow a buffer
      // without limit on a pre-auth connection
      if (sb.length >= MaxBulkBytes)
        throw new ProtocolException(s"line exceeds bound $MaxBulkBytes")
      sb.append(c.toChar)
      c = in.read()
    }
    if (in.read() != '\n') throw new ProtocolException("expected \\n after \\r")
    sb.toString
  }

  private def expectCrLf(in: InputStream): Unit = {
    if (in.read() != '\r' || in.read() != '\n')
      throw new ProtocolException("expected CRLF after bulk payload")
  }

  def writeSimple(out: OutputStream, s: String): Unit =
    out.write(s"+$s\r\n".getBytes(UTF_8))

  def writeError(out: OutputStream, s: String): Unit =
    out.write(s"-${s.replace('\r', ' ').replace('\n', ' ')}\r\n".getBytes(UTF_8))

  def writeBulk(out: OutputStream, s: String): Unit = {
    if (s == null) out.write("$-1\r\n".getBytes(UTF_8))
    else {
      val b = s.getBytes(UTF_8)
      out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
      out.write(b)
      out.write("\r\n".getBytes(UTF_8))
    }
  }

  def writeArrayHeader(out: OutputStream, n: Int): Unit =
    out.write(s"*$n\r\n".getBytes(UTF_8))

  /** Scores travel as bulk strings (RESP2 has no double type). */
  def writeDouble(out: OutputStream, d: Double): Unit =
    writeBulk(out, if (d == d.toLong.toDouble) d.toLong.toString else d.toString)
}

/** The reference's RESP command plane — `VEC.ADD` / `VEC.UPSERT` /
  * `VEC.DEL` / `VEC.SEARCH` / `VEC.STATS`
  * (reference: Services/GarnetService.cs:96-107 registration;
  * Extensions/VectorCommandParser.cs:88-365 grammar) — served over a
  * loopback socket in front of [[graft.GraftEngine]].
  *
  * Command grammar (tenant-first string form, VectorCommandParser.cs:88-168):
  * {{{
  *   VEC.ADD    tenant index id VECTOR <payload> [META <json>] [TAGS <t>]
  *              [NUMERIC_FIELDS <json>] [API_KEY <key>]
  *   VEC.UPSERT (same as VEC.ADD)
  *   VEC.DEL    tenant index id [API_KEY <key>]
  *   VEC.SEARCH tenant index TOPK <k> VECTOR <payload> [FILTER <tags>]
  *              [WITH_META] [TRACE] [REQUEST_ID <r>] [CACHE_HINT force]
  *              [API_KEY <key>] [REFINE <r>] [FILTER_MODE post|beam]
  *   VEC.STATS  tenant index
  *   AUTH       tenant key          (session auth, Security/SessionAuthContext)
  *   PING / QUIT
  * }}}
  *
  * Replies mirror VectorCommandSet.cs: writes → `+VEC_OK`; search → array
  * of hits, each `[id, score]` (`[id, score, meta|nil]` with WITH_META),
  * wrapped as `[hits, traceJson]` when TRACE is set (cs:849-860); stats →
  * bulk metrics text; errors → `-VEC_ERR_{DIM,NOT_FOUND,QUOTA,BUSY,AUTH}`
  * with detail (Extensions/VectorErrorCodes.cs:3-11).
  *
  * Scale/role note: this plane is a SERVING front end — every command
  * lands on the engine's zero-job driver-resident serving tiers
  * (searchCachedRowsTraced cascade) or bounded write paths; nothing here
  * schedules per-connection Spark jobs beyond what the library call
  * itself does. On a real cluster this runs on the driver (or a thin
  * gateway) while the heavy lifting stays distributed behind the same
  * library API; thread-per-connection over a cached pool is the classic
  * blocking-RESP shape and is bounded by client count, not data size.
  */
final class RespServer(engine: GraftEngine, mgmt: Management,
                       spark: SparkSession, port: Int = 0,
                       maxConnections: Int = 256,
                       idleTimeoutMs: Int = 300000) {

  import Resp._

  private val Ok = "VEC_OK"
  private val ErrDim = "VEC_ERR_DIM"
  private val ErrNotFound = "VEC_ERR_NOT_FOUND"
  private val ErrQuota = "VEC_ERR_QUOTA"
  private val ErrAuth = "VEC_ERR_AUTH"
  private val ErrBusy = "VEC_ERR_BUSY"

  private val queryIds = new AtomicLong(1L)
  // thread-per-connection is bounded by maxConnections, and an idle socket
  // can't pin its thread past idleTimeoutMs (SO_TIMEOUT on reads) — a
  // stalled or leaked client degrades to one rejected/reaped connection,
  // never an unbounded thread pile-up
  private val activeConnections = new AtomicLong(0L)
  @volatile private var serverSocket: ServerSocket = _
  @volatile private var running = false
  private val pool: ExecutorService = Executors.newCachedThreadPool(
    new ThreadFactory {
      private val n = new AtomicLong(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-resp-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    })

  /** Fixed-window per-tenant QPS gate (reference: Services/QuotaEnforcer —
    * VEC_ERR_QUOTA once a tenant exceeds maxQps in the current second).
    * Driver-memory state only; one entry per active tenant. */
  private val qpsWindows =
    scala.collection.concurrent.TrieMap.empty[String, (AtomicLong, AtomicLong)]

  private def quotaExceeded(tenant: String): Boolean =
    mgmt.tenantExists(tenant) && {
      val maxQps = mgmt.quota(tenant).maxQps
      maxQps > 0 && {
        val (sec, n) = qpsWindows.getOrElseUpdate(tenant,
          (new AtomicLong(-1L), new AtomicLong(0L)))
        val nowSec = System.currentTimeMillis() / 1000L
        sec.synchronized {
          if (sec.get() != nowSec) { sec.set(nowSec); n.set(0L) }
          n.incrementAndGet() > maxQps
        }
      }
    }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  /** Auth is enforced for tenants the management plane knows and that
    * have a stored key hash (keys at rest are hashes, never plaintext —
    * Management.verifyApiKey); unknown tenants are engine-only mode
    * (no authenticator configured for them). Session AUTH matching the
    * command's tenant skips per-command keys
    * (reference: VectorCommandSet.cs:731-744). */
  private def authorized(tenant: String, apiKey: Option[String],
                         sessionTenant: Option[String]): Boolean =
    sessionTenant.contains(tenant) ||
      !mgmt.tenantExists(tenant) ||          // engine-only mode: no authenticator
      !mgmt.apiKeyConfigured(tenant) ||      // tenant with no key stays open
      apiKey.exists(k => mgmt.verifyApiKey(tenant, sha256Hex(k)))

  def start(): Int = {
    require(serverSocket == null, "server already started")
    serverSocket = new ServerSocket(port, 64, InetAddress.getLoopbackAddress)
    running = true
    pool.submit(new Runnable {
      def run(): Unit = acceptLoop()
    })
    serverSocket.getLocalPort
  }

  def close(): Unit = {
    running = false
    if (serverSocket != null) serverSocket.close()
    pool.shutdownNow()
  }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val s = serverSocket.accept()
        if (activeConnections.incrementAndGet() > maxConnections) {
          // reject at the door: the overload reply goes out on the accept
          // thread (a one-shot buffered write on a fresh socket — no read,
          // so a malicious client can't stall the acceptor)
          activeConnections.decrementAndGet()
          try {
            val out = new BufferedOutputStream(s.getOutputStream)
            writeError(out, s"$ErrBusy max connections ($maxConnections) reached")
            out.flush()
          } catch { case NonFatal(_) => }
          finally { try s.close() catch { case NonFatal(_) => } }
        } else
          pool.submit(new Runnable { def run(): Unit = serve(s) })
      } catch {
        case _: SocketException => // closed
        case NonFatal(_) if !running =>
      }
    }

  private def serve(socket: Socket): Unit = {
    // an idle (or wedged) client hits SO_TIMEOUT on the next blocking read
    // and is dropped in the catch below, freeing its pool thread. The
    // counter distinguishes truly idle (no bytes of the next command yet)
    // from stalled MID-frame — the same reap either way, but the error a
    // backpressured-upstream client sees should say which.
    socket.setSoTimeout(idleTimeoutMs)
    val bytesSeen = new java.util.concurrent.atomic.AtomicLong()
    val in: InputStream = new java.io.FilterInputStream(
        new BufferedInputStream(socket.getInputStream)) {
      override def read(): Int = {
        val b = super.read(); if (b >= 0) bytesSeen.incrementAndGet(); b
      }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        val n = super.read(buf, off, len)
        if (n > 0) bytesSeen.addAndGet(n.toLong); n
      }
    }
    val out = new BufferedOutputStream(socket.getOutputStream)
    var sessionTenant: Option[String] = None
    var frameStartBytes = 0L
    try {
      var live = true
      while (live) {
        frameStartBytes = bytesSeen.get()
        readCommand(in) match {
          case None => live = false
          case Some(cmd) if cmd.isEmpty => // ignore blank inline line
          case Some(cmd) =>
            cmd.head.toUpperCase(java.util.Locale.ROOT) match {
              case "PING" => writeSimple(out, "PONG")
              case "QUIT" => writeSimple(out, "OK"); live = false
              case "AUTH" =>
                if (cmd.length != 3) writeError(out, s"$ErrAuth AUTH tenant key")
                else if (mgmt.verifyApiKey(cmd(1), sha256Hex(cmd(2)))) {
                  sessionTenant = Some(cmd(1)); writeSimple(out, "OK")
                } else writeError(out, s"$ErrAuth Unauthorized.")
              case "VEC.ADD" => handleWrite(cmd.tail, add = true, sessionTenant, out)
              case "VEC.UPSERT" => handleWrite(cmd.tail, add = false, sessionTenant, out)
              case "VEC.DEL" => handleDelete(cmd.tail, sessionTenant, out)
              case "VEC.SEARCH" => handleSearch(cmd.tail, sessionTenant, out)
              case "VEC.STATS" => handleStats(cmd.tail, sessionTenant, out)
              case other => writeError(out, s"ERR unknown command '$other'")
            }
            out.flush()
        }
      }
    } catch {
      case _: java.net.SocketTimeoutException =>
        // no read progress for idleTimeoutMs: best-effort notice, then
        // reap — named for what the server observed (idle between
        // commands vs stalled inside one), so a client wedged by
        // upstream backpressure isn't told it was "idle"
        val why =
          if (bytesSeen.get() > frameStartBytes) "read timeout mid-command"
          else "idle timeout"
        try { writeError(out, s"$ErrBusy $why"); out.flush() }
        catch { case NonFatal(_) => }
      case _: EOFException | _: SocketException => // client went away
      case _: Resp.ProtocolException => // malformed framing: drop connection
      case NonFatal(e) =>
        try { writeError(out, s"ERR ${e.getMessage}"); out.flush() }
        catch { case NonFatal(_) => }
    } finally {
      activeConnections.decrementAndGet()
      try socket.close() catch { case NonFatal(_) => }
    }
  }

  // ---- payload / token parsing (VectorCommandParser.cs:88-168) --------

  private def parseVector(payload: String): Array[Float] = {
    val t = payload.trim
    val parts =
      if (t.startsWith("[")) {
        require(t.endsWith("]"), "unterminated JSON vector")
        t.substring(1, t.length - 1).split(",")
      } else t.split(",")
    val out = new Array[Float](parts.length)
    var i = 0
    while (i < parts.length) { out(i) = parts(i).trim.toFloat; i += 1 }
    out
  }

  private def parseTags(v: String): Seq[String] = {
    val t = v.trim
    if (t.isEmpty) Nil
    else if (t.startsWith("[")) {
      // reject an unterminated list instead of silently parsing Nil —
      // a dropped FILTER serves UNfiltered results the caller believes
      // are filtered, and a dropped TAGS writes rows invisible to every
      // future filtered search (parseVector already requires the ']')
      require(t.endsWith("]"), "unterminated JSON tag list")
      t.substring(1, t.length - 1).split(",").toSeq
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
    } else t.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private case class WriteReq(tenant: String, index: String, id: String,
                              vector: Array[Float], meta: Option[String],
                              tags: Seq[String], apiKey: Option[String])

  private def parseWrite(args: Seq[String]): WriteReq = {
    require(args.length >= 5,
      "Expected at least 5 arguments: tenant index id VECTOR <payload>.")
    val Seq(tenant, index, id, vectorTok, payload) = args.take(5)
    require(vectorTok.equalsIgnoreCase("VECTOR"),
      "Expected VECTOR token before payload.")
    var meta: Option[String] = None
    var tags: Seq[String] = Nil
    var apiKey: Option[String] = None
    var i = 5
    while (i < args.length) {
      args(i).toUpperCase(java.util.Locale.ROOT) match {
        case "META" =>
          require(i + 1 < args.length, "META requires a JSON payload.")
          meta = Some(args(i + 1)); i += 2
        case "TAGS" =>
          require(i + 1 < args.length, "TAGS requires a list.")
          tags = parseTags(args(i + 1)); i += 2
        case "NUMERIC_FIELDS" =>
          require(i + 1 < args.length, "NUMERIC_FIELDS requires a JSON object.")
          i += 2 // accepted for wire parity; declared-but-unused in the
                 // reference too (VectorCommandParser.cs:391-395)
        case "API_KEY" =>
          require(i + 1 < args.length, "API_KEY requires a value.")
          apiKey = Some(args(i + 1)); i += 2
        case other => throw new IllegalArgumentException(s"Unknown token '$other'.")
      }
    }
    WriteReq(tenant, index, id, parseVector(payload), meta, tags, apiKey)
  }

  private def handleWrite(args: Seq[String], add: Boolean,
                          sessionTenant: Option[String], out: OutputStream): Unit =
    try {
      val r = parseWrite(args)
      if (!authorized(r.tenant, r.apiKey, sessionTenant)) {
        writeError(out, s"$ErrAuth Unauthorized."); return
      }
      if (quotaExceeded(r.tenant)) {
        writeError(out, s"$ErrQuota Tenant quota exceeded."); return
      }
      // declared-dim gate on WRITES, not just searches: a wrong-dim
      // vector acknowledged with +VEC_OK lands in the record log and
      // poisons later builds/scans — the reference rejects it at the
      // write (VectorCommandSet.cs:607-615)
      if (mgmt.indexConfig(r.tenant, r.index).exists(_.dim != r.vector.length)) {
        writeError(out, s"$ErrDim Vector dimension mismatch."); return
      }
      import spark.implicits._
      val df = Seq((r.tenant, r.index, r.id, r.vector.toSeq,
          r.meta.orNull, r.tags, System.currentTimeMillis()))
        .toDF("tenant_id", "index_name", "id", "vector", "meta", "tags",
          "updated_at")
        .withColumn("vector", col("vector").cast("array<float>"))
      if (add) engine.add(df) else engine.upsert(df)
      writeSimple(out, Ok)
    } catch {
      case NonFatal(e) => writeKnown(out, e)
    }

  private def handleDelete(args: Seq[String], sessionTenant: Option[String],
                           out: OutputStream): Unit =
    try {
      require(args.length >= 3, "Expected 3 arguments: tenant index id.")
      val Seq(tenant, index, id) = args.take(3)
      var apiKey: Option[String] = None
      var i = 3
      while (i < args.length) {
        args(i).toUpperCase(java.util.Locale.ROOT) match {
          case "API_KEY" =>
            require(i + 1 < args.length, "API_KEY requires a value.")
            apiKey = Some(args(i + 1)); i += 2
          case other => throw new IllegalArgumentException(s"Unknown token '$other'.")
        }
      }
      if (!authorized(tenant, apiKey, sessionTenant)) {
        writeError(out, s"$ErrAuth Unauthorized."); return
      }
      // deletes are metered like writes/searches: each one appends a
      // tombstone and bumps the epoch (a cache invalidation), so an
      // unmetered DEL loop defeats the QPS quota the other verbs enforce
      if (quotaExceeded(tenant)) {
        writeError(out, s"$ErrQuota Tenant quota exceeded."); return
      }
      if (!indexKnown(tenant, index)) {
        writeError(out, s"$ErrNotFound Index not found."); return
      }
      engine.delete(tenant, index, Seq(id), System.currentTimeMillis())
      writeSimple(out, Ok)
    } catch {
      case NonFatal(e) => writeKnown(out, e)
    }

  private def indexKnown(tenant: String, index: String): Boolean =
    mgmt.indexConfig(tenant, index).isDefined ||
      engine.manifest(tenant, index).version > 0

  private case class SearchReq(tenant: String, index: String, k: Int,
                               vector: Array[Float], filterTags: Seq[String],
                               withMeta: Boolean, trace: Boolean,
                               requestId: Option[String], apiKey: Option[String],
                               refine: Int, hnswBeam: Boolean)

  private def parseSearch(args: Seq[String]): SearchReq = {
    require(args.length >= 6,
      "Expected at least 6 arguments: tenant index TOPK <k> VECTOR <payload>.")
    val Seq(tenant, index, topkTok, kStr, vectorTok, payload) = args.take(6)
    require(topkTok.equalsIgnoreCase("TOPK"), "Expected TOPK token after index name.")
    val k = kStr.toIntOption.filter(_ > 0)
      .getOrElse(throw new IllegalArgumentException("TOPK must be a positive integer."))
    require(vectorTok.equalsIgnoreCase("VECTOR"), "Expected VECTOR token before payload.")
    var filterTags: Seq[String] = Nil
    var withMeta = false
    var trace = false
    var requestId: Option[String] = None
    var apiKey: Option[String] = None
    var refine = 0
    var hnswBeam = false
    var i = 6
    while (i < args.length) {
      args(i).toUpperCase(java.util.Locale.ROOT) match {
        case "FILTER" =>
          require(i + 1 < args.length, "FILTER requires tag list.")
          filterTags = parseTags(args(i + 1)); i += 2
        case "WITH_META" => withMeta = true; i += 1
        case "TRACE" => trace = true; i += 1
        case "REQUEST_ID" =>
          require(i + 1 < args.length, "REQUEST_ID requires a value.")
          requestId = Some(args(i + 1)); i += 2
        case "CACHE_HINT" =>
          require(i + 1 < args.length, "CACHE_HINT requires a value.")
          require(args(i + 1).equalsIgnoreCase("force"), "CACHE_HINT must be 'force'.")
          i += 2
        case "API_KEY" =>
          require(i + 1 < args.length, "API_KEY requires a value.")
          apiKey = Some(args(i + 1)); i += 2
        case "REFINE" =>
          // IVF_PQ rerank factor: re-score the top k*REFINE ADC
          // candidates against the snapshot's SQ16 store (resident
          // zero-job when the store fits; plan sq16-rerank otherwise)
          require(i + 1 < args.length, "REFINE requires a value.")
          // bounded at the wire: k·REFINE is the rerank cut size, and an
          // unbounded factor lets k*refine overflow Int downstream (the
          // engine also guards in Long, but a 5-digit factor is already
          // past any useful recall — fail here with a clear message)
          refine = args(i + 1).toIntOption.filter(r => r >= 0 && r <= 10000)
            .getOrElse(throw new IllegalArgumentException(
              "REFINE must be an integer in [0, 10000]."))
          i += 2
        case "FILTER_MODE" =>
          // HNSW + FILTER semantics: "post" (default — the reference's
          // fetch-k*10-then-filter parity shape) or "beam"
          // (filter-during-beam: k members whenever reachable)
          require(i + 1 < args.length, "FILTER_MODE requires a value.")
          args(i + 1).toLowerCase(java.util.Locale.ROOT) match {
            case "beam" => hnswBeam = true
            case "post" => hnswBeam = false
            case other => throw new IllegalArgumentException(
              s"FILTER_MODE must be 'post' or 'beam', got '$other'.")
          }
          i += 2
        case other => throw new IllegalArgumentException(s"Unknown token '$other'.")
      }
    }
    SearchReq(tenant, index, k, parseVector(payload), filterTags, withMeta,
      trace, requestId, apiKey, refine, hnswBeam)
  }

  private def handleSearch(args: Seq[String], sessionTenant: Option[String],
                           out: OutputStream): Unit =
    try {
      val r = parseSearch(args)
      if (!authorized(r.tenant, r.apiKey, sessionTenant)) {
        writeError(out, s"$ErrAuth Unauthorized."); return
      }
      if (quotaExceeded(r.tenant)) {
        writeError(out, s"$ErrQuota Tenant quota exceeded."); return
      }
      val m = engine.manifest(r.tenant, r.index)
      if (m.version == 0) {
        writeError(out, s"$ErrNotFound Index not found."); return
      }
      if (mgmt.indexConfig(r.tenant, r.index).exists(_.dim != r.vector.length)) {
        writeError(out, s"$ErrDim Vector dimension mismatch."); return
      }
      // a flag the index's algo cannot honor is a client misconfiguration
      // — fail loudly instead of silently serving post-filter/unrefined
      // semantics (previously TRACE was the only tell)
      if (r.hnswBeam && m.algo != "HNSW") {
        writeError(out,
          s"ERR FILTER_MODE beam requires an HNSW index (algo is ${m.algo})."); return
      }
      if (r.refine > 0 && m.algo != "IVF_PQ") {
        writeError(out,
          s"ERR REFINE requires an IVF_PQ index (algo is ${m.algo})."); return
      }
      val metric = if (m.metric.isEmpty) "L2" else m.metric
      val t0 = System.nanoTime()
      if (r.withMeta) {
        // beam is a rows-tier semantics flag; the hydration plan below
        // has no beam hook — reject rather than silently serving the
        // post-filter parity shape (same fail-loudly contract as the
        // algo checks above)
        if (r.hnswBeam) {
          writeError(out,
            "ERR FILTER_MODE beam does not support WITH_META."); return
        }
        // hydration rides the DataFrame plan (head meta wins, F4/F5);
        // REFINE rides the plan's own refine branch in sq16 mode — the
        // same dequantized floats the rows tier reranks with, so a
        // refined WITH_META reply ranks identically to the refined
        // wire reply (previously the flag was silently dropped here)
        import spark.implicits._
        val base = Seq((queryIds.getAndIncrement(), r.vector.toSeq))
          .toDF("query_id", "qvec")
        val qDf = if (r.filterTags.isEmpty) base
          else base.withColumn("filter_tags", typedLit(r.filterTags))
        val rows = engine.search(r.tenant, r.index, qDf, r.k, metric,
            withMeta = true, refine = r.refine,
            refineStore = engine.refineStoreFor(r.tenant, r.index, m)).collect()
        val hits = rows.map(row => (row.getString(2), row.getDouble(3),
          Option(row.getString(4))))
        if (r.trace) writeArrayHeader(out, 2)
        writeArrayHeader(out, hits.length)
        hits.foreach { case (id, score, meta) =>
          writeArrayHeader(out, 3)
          writeBulk(out, id); writeDouble(out, score)
          meta match { case Some(mj) => writeBulk(out, mj)
                       case None => writeBulk(out, null) }
        }
        if (r.trace) writeBulk(out, traceJson(r.requestId, cacheHit = false,
          "plan-fallback", (System.nanoTime() - t0) / 1e6))
      } else {
        // per-call serving path: resident cache cascade in front of the
        // zero-job head+tail tiers (VectorCommandSet search flow)
        val (layer, hits, tr) = engine.searchCachedRowsTraced(
          r.tenant, r.index, queryIds.getAndIncrement(), r.vector, r.k,
          metric, now = System.currentTimeMillis() / 1000L,
          // cache-insert TTL follows the sidecar-applied policy (the
          // reference's DynamicPolicyEngine.Evaluate consults the policy
          // store per decision; ttl ≤ 0 = its NoCache)
          ttlSeconds = engine.servingTtl(r.tenant),
          tags = r.filterTags,
          cacheMemoryMb =
            if (mgmt.tenantExists(r.tenant)) mgmt.quota(r.tenant).cacheMemoryMb
            else Int.MaxValue,
          refine = r.refine, hnswBeam = r.hnswBeam)
        if (r.trace) writeArrayHeader(out, 2)
        writeArrayHeader(out, hits.length)
        hits.foreach { case (_, id, score) =>
          writeArrayHeader(out, 2)
          writeBulk(out, id); writeDouble(out, score)
        }
        if (r.trace) writeBulk(out, traceJson(r.requestId,
          cacheHit = layer != "MISS", tr.path,
          (System.nanoTime() - t0) / 1e6))
      }
    } catch {
      case NonFatal(e) => writeKnown(out, e)
    }

  /** Client-echoed values are quoted: a quote or backslash in a
    * REQUEST_ID otherwise makes the trace blob unparseable for the very
    * client that sent it. */
  private def traceJson(requestId: Option[String], cacheHit: Boolean,
                        info: String, latencyMs: Double): String = {
    val rid = requestId
      .map(r => s""""requestId": ${Json.quote(r)}, """).getOrElse("")
    f"""{$rid"cacheHit": $cacheHit, "info": ${Json.quote(info)}, "latencyMs": $latencyMs%.3f}"""
  }

  private def handleStats(args: Seq[String], sessionTenant: Option[String],
                          out: OutputStream): Unit =
    try {
      require(args.length >= 2, "Expected 2 arguments: tenant index.")
      val Seq(tenant, index) = args.take(2)
      var apiKey: Option[String] = None
      var i = 2
      while (i < args.length) {
        args(i).toUpperCase(java.util.Locale.ROOT) match {
          case "API_KEY" =>
            require(i + 1 < args.length, "API_KEY requires a value.")
            apiKey = Some(args(i + 1)); i += 2
          case other => throw new IllegalArgumentException(s"Unknown token '$other'.")
        }
      }
      // metrics are tenant data: the HTTP plane's GET /v1/metrics
      // requires the tenant's key, so the RESP form must too — an
      // unauthenticated VEC.STATS was cross-tenant disclosure on a
      // plane whose other tenant verbs all authorize
      if (!authorized(tenant, apiKey, sessionTenant)) {
        writeError(out, s"$ErrAuth Unauthorized."); return
      }
      writeBulk(out, engine.statsText(tenant, index))
    } catch {
      case NonFatal(e) => writeKnown(out, e)
    }

  /** Map engine exceptions onto the reference's error codes
    * (VectorCommandSet.cs:837-847 + write-path literals cs:607-615). */
  private def writeKnown(out: OutputStream, e: Throwable): Unit =
    graft.Errors.kindOf(e) match {
      case Some(_: graft.DimensionMismatchException) =>
        writeError(out, s"$ErrDim Vector dimension mismatch.")
      case Some(c: graft.ConflictException) if c.what == "vector" =>
        writeError(out, "ERR Vector already exists.")
      case Some(nf: graft.NotFoundException) if nf.what == "index" =>
        writeError(out, s"$ErrNotFound Index not found.")
      case _ =>
        writeError(out, s"ERR ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")
    }

}
