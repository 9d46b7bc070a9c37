package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** A RESP2 reply. */
sealed trait Reply
object Reply {
  final case class Simple(s: String) extends Reply
  final case class Error(s: String) extends Reply
  final case class Integer(n: Long) extends Reply
  final case class Bulk(s: String) extends Reply // null for the nil bulk
  final case class Arr(items: IndexedSeq[Reply]) extends Reply // null for the nil array
}

/** The client half of RESP2, written against the public spec: requests
  * are arrays of bulk strings, replies are parsed into [[Reply]]. */
object RespCodec {

  def encode(args: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream(64 + args.map(_.length + 16).sum)
    out.write(s"*${args.length}\r\n".getBytes(UTF_8))
    args.foreach { a =>
      out.write(s"$$${a.length}\r\n".getBytes(UTF_8))
      out.write(a)
      out.write('\r'); out.write('\n')
    }
    out.toByteArray
  }

  def encodeStrings(args: String*): Array[Byte] = encode(args.map(_.getBytes(UTF_8)))

  /** Vector payload in the server's comma-separated text form; every
    * float prints so that it parses back to the same bits. */
  def vectorText(v: Array[Float]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(v.length * 12)
    var i = 0
    while (i < v.length) {
      if (i > 0) sb.append(',')
      sb.append(v(i))
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Reads one reply; `counter` accumulates the bytes consumed. */
  def read(in: InputStream, counter: Array[Long]): Reply = {
    val t = in.read()
    if (t < 0) throw new EOFException("connection closed")
    counter(0) += 1
    val line = readLine(in, counter)
    t.toChar match {
      case '+' => Reply.Simple(line)
      case '-' => Reply.Error(line)
      case ':' => Reply.Integer(line.toLong)
      case '$' =>
        val n = line.toInt
        if (n < 0) Reply.Bulk(null)
        else {
          val buf = new Array[Byte](n)
          var off = 0
          while (off < n) {
            val r = in.read(buf, off, n - off)
            if (r < 0) throw new EOFException("connection closed in bulk")
            off += r
          }
          if (in.read() != '\r' || in.read() != '\n')
            throw new IllegalStateException("bulk not terminated by CRLF")
          counter(0) += n + 2
          Reply.Bulk(new String(buf, UTF_8))
        }
      case '*' =>
        val n = line.toInt
        if (n < 0) Reply.Arr(null)
        else Reply.Arr(IndexedSeq.fill(n)(read(in, counter)))
      case c => throw new IllegalStateException(s"unknown reply type '$c'")
    }
  }

  private def readLine(in: InputStream, counter: Array[Long]): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new EOFException("connection closed in line")
      sb.append(c.toChar)
      c = in.read()
    }
    if (in.read() != '\n') throw new IllegalStateException("expected LF after CR")
    counter(0) += sb.length + 2
    sb.toString
  }

  /** A search reply as (id, score) pairs, or a description of why the
    * reply is not a well-formed hit list. */
  def hits(r: Reply): Either[String, IndexedSeq[(String, Double)]] = r match {
    case Reply.Arr(items) if items != null =>
      val out = items.map {
        case Reply.Arr(IndexedSeq(Reply.Bulk(id), Reply.Bulk(score))) if id != null && score != null =>
          score.toDoubleOption.map(s => (id, s))
        case _ => None
      }
      if (out.forall(_.isDefined)) Right(out.map(_.get))
      else Left(s"malformed hit in $r")
    case Reply.Error(e) => Left(s"error reply: $e")
    case other => Left(s"unexpected reply: $other")
  }
}

/** One blocking connection: one outstanding request at a time. */
final class RespConnection(port: Int) extends AutoCloseable {
  private val socket = new Socket(InetAddress.getLoopbackAddress, port)
  socket.setTcpNoDelay(true)
  private val out: OutputStream = new BufferedOutputStream(socket.getOutputStream, 1 << 16)
  private val in: InputStream = new BufferedInputStream(socket.getInputStream, 1 << 16)
  private val counter = new Array[Long](1)
  var lastRequestBytes = 0L
  var lastReplyBytes = 0L

  def call(request: Array[Byte]): Reply = {
    out.write(request)
    out.flush()
    lastRequestBytes = request.length
    counter(0) = 0
    val r = RespCodec.read(in, counter)
    lastReplyBytes = counter(0)
    r
  }

  def close(): Unit = socket.close()
}
