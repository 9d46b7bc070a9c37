package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftEngine, SearchTrace}

/** In-memory span buffers, preallocated so that recording allocates
  * nothing on the serving path. A span is (kind, start, end, parent,
  * thread); search spans also carry the engine's own trace counts. */
final class SpanRecorder(capacity: Int) {
  import SpanRecorder._

  val kind = new Array[Byte](capacity)
  val start = new Array[Long](capacity)
  val end = new Array[Long](capacity)
  val parent = new Array[Int](capacity)
  val thread = new Array[Long](capacity)
  /** Cache spans: the layer that answered. Rows spans: the tier. */
  val code = new Array[Byte](capacity)
  val tailRows = new Array[Int](capacity)
  val headLive = new Array[Int](capacity)
  val results = new Array[Int](capacity)
  private val next = new AtomicInteger(0)
  @volatile var dropped = 0
  private val current = new ThreadLocal[Integer] {
    override def initialValue(): Integer = -1
  }

  def size: Int = math.min(next.get(), capacity)

  /** Opens a span; returns its index, or -1 when the buffer is full. */
  def open(k: Byte): Int = {
    val i = next.getAndIncrement()
    if (i >= capacity) { dropped += 1; -1 }
    else {
      kind(i) = k
      parent(i) = current.get()
      thread(i) = Thread.currentThread().getId
      current.set(i)
      start(i) = System.nanoTime()
      i
    }
  }

  def close(i: Int): Unit =
    if (i >= 0) {
      end(i) = System.nanoTime()
      current.set(parent(i))
    }

  def closeSearch(i: Int, c: Byte, tr: SearchTrace, nResults: Int): Unit =
    if (i >= 0) {
      close(i)
      code(i) = c
      tailRows(i) = tr.tailRows
      headLive(i) = tr.headLive
      results(i) = nResults
    }

  def interval(i: Int): Interval = Interval(start(i), end(i))

  def dump(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("idx\tkind\tstart_ns\tend_ns\tparent\tthread\tcode\ttail_rows\thead_live\tresults\n")
      var i = 0
      while (i < size) {
        w.write(s"$i\t${KindNames(kind(i))}\t${start(i)}\t${end(i)}\t${parent(i)}\t" +
          s"${thread(i)}\t${code(i)}\t${tailRows(i)}\t${headLive(i)}\t${results(i)}\n")
        i += 1
      }
    } finally w.close()
  }
}

object SpanRecorder {
  val Cache: Byte = 0
  val Rows: Byte = 1
  val RowsFiltered: Byte = 2
  val Add: Byte = 3
  val Upsert: Byte = 4
  val Delete: Byte = 5
  val Build: Byte = 6
  val KindNames: IndexedSeq[String] =
    IndexedSeq("cache", "rows", "rows_filtered", "add", "upsert", "delete", "build")

  /** Cache layer codes, in the order the cascade probes them. */
  val CacheLayers: IndexedSeq[String] = IndexedSeq("MISS", "L0", "L0.5", "L1", "L2")
  def cacheCode(layer: String): Byte = math.max(0, CacheLayers.indexOf(layer)).toByte

  /** Rows-tier paths as metric-name suffixes; unknown paths land in "other". */
  val RowsPaths: IndexedSeq[String] = IndexedSeq(
    "head+tail", "head+pqtail", "head+pqtail-refined", "head+pqtail-refined-u8",
    "head+hnswtail", "plan-fallback", "other")
  def rowsCode(path: String): Byte = {
    val i = RowsPaths.indexOf(path)
    (if (i < 0) RowsPaths.length - 1 else i).toByte
  }
}

/** The engine the traced run serves through: every public entry the
  * RESP plane reaches, plus build, records a span around the inherited
  * call and labels the Spark jobs it submits with the operation and the
  * benchmark phase. Searches are traced only while `searchTraceOn`
  * says so, so that one run can compare traced and untraced latency. */
final class TracedEngine(spark: SparkSession, root: String, rec: SpanRecorder,
                         searchTraceOn: () => Boolean, phase: () => String)
    extends GraftEngine(spark, root) {
  import SpanRecorder._

  private def labelled[T](op: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prevOp = sc.getLocalProperty(Listener.OpKey)
    val prevPhase = sc.getLocalProperty(Listener.PhaseKey)
    sc.setLocalProperty(Listener.OpKey, op)
    sc.setLocalProperty(Listener.PhaseKey, phase())
    try f
    finally {
      sc.setLocalProperty(Listener.OpKey, prevOp)
      sc.setLocalProperty(Listener.PhaseKey, prevPhase)
    }
  }

  private def spanned[T](k: Byte, op: String)(f: => T): T = labelled(op) {
    val i = rec.open(k)
    try f finally rec.close(i)
  }

  override def searchCachedRowsTraced(tenant: String, index: String, queryId: Long,
                                      qvec: Array[Float], k: Int, metric: String,
                                      nprobe: Int, now: Long, ttlSeconds: Int,
                                      tags: Seq[String], cacheMemoryMb: Int,
                                      refine: Int, hnswBeam: Boolean)
      : (String, Array[(Int, String, Double)], SearchTrace) =
    labelled("search") {
      if (!searchTraceOn())
        super.searchCachedRowsTraced(tenant, index, queryId, qvec, k, metric, nprobe,
          now, ttlSeconds, tags, cacheMemoryMb, refine, hnswBeam)
      else {
        val i = rec.open(Cache)
        val r = super.searchCachedRowsTraced(tenant, index, queryId, qvec, k, metric,
          nprobe, now, ttlSeconds, tags, cacheMemoryMb, refine, hnswBeam)
        rec.closeSearch(i, cacheCode(r._1), r._3, r._2.length)
        r
      }
    }

  override def searchRowsTraced(tenant: String, index: String,
                                queries: Array[(Long, Array[Float])], k: Int,
                                metric: String, nprobe: Int, refine: Int)
      : (Array[(Long, Int, String, Double)], SearchTrace) =
    if (!searchTraceOn())
      super.searchRowsTraced(tenant, index, queries, k, metric, nprobe, refine)
    else {
      val i = rec.open(Rows)
      val r = super.searchRowsTraced(tenant, index, queries, k, metric, nprobe, refine)
      rec.closeSearch(i, rowsCode(r._2.path), r._2, r._1.length)
      r
    }

  override private[graft] def searchRowsFilteredTraced(
      tenant: String, index: String, queries: Array[(Long, Array[Float])], k: Int,
      metric: String, nprobe: Int, tags: Seq[String], hnswBeam: Boolean)
      : Option[(Array[(Long, Int, String, Double)], SearchTrace)] =
    if (!searchTraceOn())
      super.searchRowsFilteredTraced(tenant, index, queries, k, metric, nprobe, tags, hnswBeam)
    else {
      val i = rec.open(RowsFiltered)
      val r = super.searchRowsFilteredTraced(tenant, index, queries, k, metric, nprobe,
        tags, hnswBeam)
      r match {
        case Some((rows, tr)) => rec.closeSearch(i, rowsCode(tr.path), tr, rows.length)
        case None => rec.close(i)
      }
      r
    }

  override def add(records: DataFrame): Long = spanned(Add, "write")(super.add(records))

  override def upsert(records: DataFrame): Long = spanned(Upsert, "write")(super.upsert(records))

  override def delete(tenant: String, index: String, ids: Seq[String], version: Long): Unit =
    spanned(Delete, "write")(super.delete(tenant, index, ids, version))

  override def build(tenant: String, index: String, nlist: Int, metric: String,
                     seed: Long, algo: String, pqM: Int, pqK: Int): Unit =
    spanned(Build, "build")(super.build(tenant, index, nlist, metric, seed, algo, pqM, pqK))
}

/** Scheduler-side counts: per finished stage, its wall time, task time,
  * shuffle and spill bytes, the module that submitted it, and the
  * (operation, phase) labels of its job. */
final class Listener extends SparkListener {
  import Listener._

  private val jobLabels = mutable.HashMap.empty[Int, (String, String, Option[Long])]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val sqlDetails = mutable.HashMap.empty[Long, String]
  val stages = mutable.ArrayBuffer.empty[StageRow]
  val jobs = mutable.ArrayBuffer.empty[JobRow]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val labels = (prop(OpKey).getOrElse("none"), prop(PhaseKey).getOrElse("none"),
      prop("spark.sql.execution.id").flatMap(_.toLongOption))
    jobLabels(e.jobId) = labels
    e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
    jobs += JobRow(labels._1, labels._2)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlDetails(s.executionId) = s.details }
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val (op, phase, sqlId) = stageJob.get(si.stageId).flatMap(jobLabels.get)
      .getOrElse(("none", "none", None))
    val module = moduleOf(si.details)
      .orElse(sqlId.flatMap(sqlDetails.get).flatMap(moduleOf))
      .getOrElse("unattributed")
    val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L)
    val tm = si.taskMetrics
    val (taskMs, shuffle, spill) =
      if (tm == null) (0L, 0L, 0L)
      else (tm.executorRunTime, tm.shuffleWriteMetrics.bytesWritten,
        tm.memoryBytesSpilled + tm.diskBytesSpilled)
    stages += StageRow(module, op, phase, wall / 1e3, taskMs / 1e3, shuffle, spill)
  }
}

object Listener {
  final case class StageRow(module: String, op: String, phase: String, wallS: Double,
                            taskS: Double, shuffleBytes: Long, spillBytes: Long)
  final case class JobRow(op: String, phase: String)

  val OpKey = "graft.perfbench.op"
  val PhaseKey = "graft.perfbench.phase"

  /** The module of the first `graft.` frame in a Spark call-site text
    * (innermost first), e.g. `graft.operators.IvfFlat$.build(...)` →
    * `IvfFlat`. The benchmark's own frames map to `bench`. */
  def moduleOf(details: String): Option[String] =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft."))
      .map { frame =>
        val qualified = frame.takeWhile(_ != '(')
        val cls = qualified.substring(0, math.max(0, qualified.lastIndexOf('.')))
        if (cls.startsWith("graft.perfbench")) "bench"
        else cls.substring(cls.lastIndexOf('.') + 1).takeWhile(_ != '$')
      }
}
