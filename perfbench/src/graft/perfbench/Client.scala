package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** One connection's operations, preallocated: kind, send and receive
  * times (ns), request and reply bytes. */
final class OpLog(capacity: Int) {
  val kind = new Array[Byte](capacity)
  val t0 = new Array[Long](capacity)
  val t1 = new Array[Long](capacity)
  val reqBytes = new Array[Int](capacity)
  val replyBytes = new Array[Int](capacity)
  var n = 0

  def add(k: Byte, a: Long, b: Long, rq: Long, rp: Long): Unit =
    if (n < capacity) {
      kind(n) = k; t0(n) = a; t1(n) = b; reqBytes(n) = rq.toInt; replyBytes(n) = rp.toInt
      n += 1
    }
}

object OpLog {
  val Search: Byte = 0
  val Poll: Byte = 1
  val Write: Byte = 2

}

/** Answer checks shared by every connection: each failure counts once
  * against the operations attempted; the first few are kept to print. */
final class Checks(corpusRows: Int, k: Int) {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val writtenIds: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (messages.size < 20) messages.add(msg)
  }

  def known(id: String): Boolean =
    writtenIds.contains(id) || (id.length > 1 && id.charAt(0) == 'c' &&
      id.substring(1).toIntOption.exists(i => i >= 0 && i < corpusRows))

  /** A search reply must hold k hits with known ids, best first: the
    * server scores L2 as the negated squared distance, so scores never
    * rise down the list. Returns the hits when the reply passes. */
  def searchReply(r: Reply): Option[IndexedSeq[(String, Double)]] =
    RespCodec.hits(r) match {
      case Left(why) => fail(why); None
      case Right(h) =>
        val ordered = h.indices.drop(1).forall(i => h(i - 1)._2 >= h(i)._2)
        if (h.length != k) { fail(s"search returned ${h.length} hits, expected $k"); None }
        else if (!h.forall(x => known(x._1))) { fail(s"unknown id in ${h.map(_._1)}"); None }
        else if (!ordered) { fail(s"scores out of order: ${h.map(_._2)}"); None }
        else Some(h)
    }
}

/** Request builders for the vector command surface. */
final class Requests(tenant: String, index: String, k: Int, refine: Int) {
  private def b(s: String) = s.getBytes(UTF_8)
  private val searchHead = Seq(b("VEC.SEARCH"), b(tenant), b(index), b("TOPK"), b(k.toString), b("VECTOR"))
  private val searchTail = if (refine > 0) Seq(b("REFINE"), b(refine.toString)) else Nil

  def search(v: Array[Float]): Array[Byte] =
    RespCodec.encode((searchHead :+ RespCodec.vectorText(v)) ++ searchTail)

  def write(verb: String, id: String, v: Array[Float]): Array[Byte] =
    RespCodec.encode(Seq(b(verb), b(tenant), b(index), b(id), b("VECTOR"), RespCodec.vectorText(v)))

  def delete(id: String): Array[Byte] =
    RespCodec.encode(Seq(b("VEC.DEL"), b(tenant), b(index), b(id)))
}

/** The live id set as the benchmark believes it, for picking UPSERT and
  * DEL targets and for the exact scans. Writer-thread only. */
final class LiveSet(corpus: Corpus) {
  private val ids = mutable.ArrayBuffer.tabulate(corpus.n)(corpus.id)
  private val pos = mutable.HashMap.empty[String, Int] ++= ids.indices.map(i => ids(i) -> i)
  private val vec = mutable.HashMap.empty[String, Array[Float]] ++= ids.indices.map(i => ids(i) -> corpus.vectors(i))

  def random(rnd: java.util.Random): String = ids(rnd.nextInt(ids.length))
  def vector(id: String): Array[Float] = vec(id)

  def put(id: String, v: Array[Float]): Unit = {
    if (!pos.contains(id)) { pos(id) = ids.length; ids += id }
    vec(id) = v
  }

  def remove(id: String): Unit = pos.remove(id).foreach { i =>
    val last = ids.remove(ids.length - 1)
    if (last != id) { ids(i) = last; pos(last) = i }
    vec.remove(id)
  }

  def size: Int = ids.length

  def snapshot: (Array[String], Array[Array[Float]]) = (ids.toArray, ids.map(vec).toArray)
}

final case class WriteRecord(verb: Char, sendNs: Long, ackNs: Long, visibleNs: Long)

/** The single writer connection: a fixed verb cycle (5 ADD, 4 UPSERT,
  * 1 DEL per 10), fresh vectors and targets from the seed. After each
  * acknowledged write it polls a search until the write shows. */
final class Writer(conn: RespConnection, req: Requests, corpus: Corpus, live: LiveSet,
                   checks: Checks, log: OpLog, rnd: java.util.Random,
                   visibleTimeoutNs: Long) {
  import Writer._

  val records = mutable.ArrayBuffer.empty[WriteRecord]
  /** Last acknowledged state per written id: its vector, or None once deleted. */
  val acked = mutable.LinkedHashMap.empty[String, Option[Array[Float]]]
  private var added = 0

  def run(count: Int): Unit =
    (0 until count).foreach(_ => one(Cycle(records.length % Cycle.length)))

  private def one(verb: Char): Unit = {
    val (id, v, request) = verb match {
      case 'A' =>
        added += 1
        val id = s"w$added"; val v = corpus.draw(rnd)
        (id, v, req.write("VEC.ADD", id, v))
      case 'U' =>
        val id = live.random(rnd); val v = corpus.draw(rnd)
        (id, v, req.write("VEC.UPSERT", id, v))
      case _ =>
        val id = live.random(rnd)
        (id, live.vector(id), req.delete(id))
    }
    checks.writtenIds.add(id)
    checks.attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val reply = conn.call(request)
    val t1 = System.nanoTime()
    log.add(OpLog.Write, t0, t1, conn.lastRequestBytes, conn.lastReplyBytes)
    if (reply != Reply.Simple("VEC_OK")) {
      checks.fail(s"$verb $id: $reply")
      records += WriteRecord(verb, t0, t1, -1L)
    } else {
      if (verb == 'D') { live.remove(id); acked(id) = None }
      else { live.put(id, v); acked(id) = Some(v) }
      records += WriteRecord(verb, t0, t1, pollVisible(verb, id, v, t0))
    }
  }

  private def pollVisible(verb: Char, id: String, v: Array[Float], sendNs: Long): Long = {
    val request = req.search(v)
    while (true) {
      checks.attempted.incrementAndGet()
      val p0 = System.nanoTime()
      val reply = conn.call(request)
      val p1 = System.nanoTime()
      log.add(OpLog.Poll, p0, p1, conn.lastRequestBytes, conn.lastReplyBytes)
      checks.searchReply(reply) match {
        case Some(h) =>
          val present = h.exists(_._1 == id)
          if (present != (verb == 'D')) return p1
        case None => return -1L
      }
      if (p1 - sendNs > visibleTimeoutNs) {
        checks.fail(s"$verb $id not visible after ${visibleTimeoutNs / 1000000} ms")
        return -1L
      }
    }
    -1L
  }
}

object Writer {
  val Cycle: String = "AUAUADAUAU"

  /** Each verb's median of `f`, weighted by the verb's share of the cycle:
    * the expected cost of a write in the mix, which no one slow write can
    * move far. NaN when a verb has no record. */
  def mixWeighted(recs: collection.Seq[WriteRecord], f: WriteRecord => Double): Double =
    Cycle.distinct.map { v =>
      val share = Cycle.count(_ == v).toDouble / Cycle.length
      share * Stats.percentile(Stats.sortedCopy(recs.filter(_.verb == v).map(f)), 50)
    }.sum
}
