package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM MXBean readings over the measured window: GC pauses (from the
  * collectors' notifications) and bytes allocated by live threads. */
final class JvmProbe {
  @volatile private var active = false
  private val pauses = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private var alloc0 = 0L
  var allocBytes = 0L
  var startNs = 0L
  var endNs = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala
    .filterNot(_.getName.contains("Concurrent"))
    .foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) =>
          if (active && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            pauses.add(info.getGcInfo.getDuration)
          }, null, null)
      case _ =>
    }

  private def allocated(): Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  def start(): Unit = { alloc0 = allocated(); startNs = System.nanoTime(); active = true }

  def stop(): Unit = {
    active = false
    endNs = System.nanoTime()
    allocBytes = allocated() - alloc0
  }

  def pauseMs: Seq[Long] = pauses.asScala.map(_.longValue).toSeq
}

/** Per-layer metrics of a traced run, from the span buffers, the client
  * op logs, the listener's stage rows and the JVM probe. */
object Layers {
  import SpanRecorder._

  val BuildModules = Seq("GraftEngine", "IvfFlat", "IvfPq", "Pq", "ScalarQuant", "Sq16Store")

  /** Pairs each client search op with the engine's root cache span for
    * it. A connection is served by one server thread and has one request
    * outstanding, so each server thread maps to the connection whose op
    * intervals contain its spans most often; the pair is then the op on
    * that connection that contains the span. */
  def pair(rec: SpanRecorder, logs: Seq[OpLog], windowStart: Long, windowEnd: Long)
      : Seq[(Int, Int, Int)] = { // (connection, op index, span index)
    val roots = (0 until rec.size).filter(i => rec.kind(i) == Cache && rec.parent(i) == -1 &&
      rec.start(i) >= windowStart && rec.end(i) <= windowEnd)
    def containing(c: Int, s: Int): Int = {
      val l = logs(c)
      val pos = java.util.Arrays.binarySearch(l.t0, 0, l.n, rec.start(s))
      val i = if (pos >= 0) pos else -pos - 2
      if (i >= 0 && l.t1(i) >= rec.end(s)) i else -1
    }
    val votes = mutable.HashMap.empty[(Long, Int), Int].withDefaultValue(0)
    roots.foreach(s => logs.indices.foreach(c => if (containing(c, s) >= 0) votes((rec.thread(s), c)) += 1))
    val connOf = votes.toSeq.groupBy(_._1._1).map { case (t, vs) => t -> vs.maxBy(_._2)._1._2 }
    roots.flatMap { s =>
      connOf.get(rec.thread(s)).flatMap { c =>
        val i = containing(c, s)
        if (i >= 0 && logs(c).kind(i) == OpLog.Search) Some((c, i, s)) else None
      }
    }
  }

  def compute(wl: Workload, nproc: Int, rec: SpanRecorder, listener: Listener, jvm: JvmProbe,
              logs: Seq[OpLog], writerLog: OpLog, windowStart: Long, windowEnd: Long,
              buildStart: Long, buildEnd: Long, writesStart: Long,
              recordFiles: Long, writeRecordBytes: Long, cacheFiles: Long,
              sliceNs: Long, warmupWrites: Int, say: String => Unit): Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, v, u))
    def ms(ns: Long): Double = ns / 1e6
    def pcts(prefix: String, xs: Iterable[Double], ps: Seq[Int]): Unit = {
      val s = Stats.sortedCopy(xs)
      ps.foreach(p => put(s"$prefix.p$p", Stats.percentile(s, p), "ms"))
    }
    val children = (0 until rec.size).filter(i => rec.parent(i) >= 0).groupBy(rec.parent(_))
    def kids(s: Int): Seq[Interval] = children.getOrElse(s, Nil).map(rec.interval)

    // resp, engine.cache, engine.rows: one row per traced search request
    val pairs = pair(rec, logs, windowStart, windowEnd)
    val rt = pairs.map { case (c, i, _) => ms(logs(c).t1(i) - logs(c).t0(i)) }
    val respSelf = pairs.map { case (c, i, s) => ms(logs(c).t1(i) - logs(c).t0(i) - rec.interval(s).duration) }
    pcts("resp.self_ms", respSelf, Seq(50, 99))
    val searchOps = logs.flatMap(l => (0 until l.n).filter(l.kind(_) == OpLog.Search).map(i => (l, i)))
    put("resp.req_bytes", Stats.mean(searchOps.map(x => x._1.reqBytes(x._2).toDouble)), "B/op")
    put("resp.reply_bytes", Stats.mean(searchOps.map(x => x._1.replyBytes(x._2).toDouble)), "B/op")

    val spans = pairs.map(_._3)
    val hitSpans = spans.filter(rec.code(_) != 0)
    val missSpans = spans.filter(rec.code(_) == 0)
    put("engine.cache.hit_ratio", hitSpans.length.toDouble / math.max(1, spans.length), "ratio")
    put("engine.cache.lookups", spans.length, "count")
    CacheLayers.indices.drop(1).foreach { c =>
      put(s"engine.cache.hits.${CacheLayers(c).replace('.', '_')}", spans.count(rec.code(_) == c), "count")
    }
    pcts("engine.cache.hit_ms", hitSpans.map(s => ms(rec.interval(s).duration)), Seq(50, 99))
    pcts("engine.cache.miss_self_ms",
      missSpans.map(s => ms(Intervals.selfTime(rec.interval(s), kids(s)))), Seq(50, 99))

    val rowSpans = spans.flatMap(s => children.getOrElse(s, Nil))
      .filter(i => rec.kind(i) == Rows || rec.kind(i) == RowsFiltered)
    pcts("engine.rows.ms", rowSpans.map(i => ms(rec.interval(i).duration)), Seq(50, 99))
    val tailRows = rowSpans.map(rec.tailRows(_).toLong).filter(_ >= 0).sum
    put("engine.rows.tail_rows_per_result", tailRows.toDouble / math.max(1, rowSpans.map(rec.results(_)).sum), "rows")
    // The window runs before any write, so its head is always clean; the
    // head's live rows are read from the searches after the first write
    // (the writer's visibility polls), which serve a dirty head.
    val dirtyRows = (0 until rec.size).filter(i => (rec.kind(i) == Rows || rec.kind(i) == RowsFiltered) &&
      rec.start(i) >= writesStart)
    put("engine.rows.head_live.mean", Stats.mean(dirtyRows.map(rec.headLive(_)).filter(_ >= 0).map(_.toDouble)), "rows")
    RowsPaths.indices.foreach { p =>
      put(s"engine.rows.path.${RowsPaths(p).replace('+', '_').replace('-', '_')}",
        rowSpans.count(rec.code(_) == p), "count")
    }
    put("engine.rows.fallback_ratio",
      rowSpans.count(rec.code(_) == rowsCode("plan-fallback")).toDouble / math.max(1, rowSpans.length), "ratio")

    // Per request, resp self + cache self + rows is the round trip by
    // construction; what can fall short is the pairing. This is the share
    // of traced-slice round-trip time that paired spans account for.
    val tracedRt = searchOps.filter { case (l, i) => ((l.t0(i) - windowStart) / sliceNs) % 2 == 0 }
      .map { case (l, i) => ms(l.t1(i) - l.t0(i)) }
    put("trace.accounted_pct", 100.0 * rt.sum / math.max(1e-9, tracedRt.sum), "%")
    val p50 = (xs: Seq[Double]) => Stats.percentile(Stats.sortedCopy(xs), 50)

    // The layer split at the median: the medians of resp self, cache self
    // and rows (0 when the cache answered), summed, against the round-trip
    // median of the same requests. Over all requests, and over hits and
    // misses apart, since a mix of the two makes the medians not add up.
    val cacheSelf = spans.map(s => ms(Intervals.selfTime(rec.interval(s), kids(s))))
    val rowsOf = spans.map(s => children.getOrElse(s, Nil)
      .filter(i => rec.kind(i) == Rows || rec.kind(i) == RowsFiltered)
      .map(i => ms(rec.interval(i).duration)).sum)
    def layerSum(label: String, sel: Int => Boolean): Double = {
      val ix = spans.indices.filter(j => sel(spans(j)))
      if (ix.isEmpty) { say(s"layer split at the median, $label: no requests"); return Double.NaN }
      val parts = Seq(respSelf, cacheSelf, rowsOf).map(xs => p50(ix.map(xs)))
      val whole = p50(ix.map(rt))
      val pct = 100.0 * parts.sum / whole
      say(f"layer split at the median, $label (${ix.length} requests): resp.self ${parts(0)}%.3f + " +
        f"engine.cache self ${parts(1)}%.3f + engine.rows ${parts(2)}%.3f = ${parts.sum}%.3f ms " +
        f"against a round-trip p50 of $whole%.3f ms: $pct%.1f%%, " +
        (if (math.abs(pct - 100) <= 10) "within" else "NOT within") + " 10%")
      pct
    }
    put("trace.layer_sum_pct", layerSum("all", _ => true), "%")
    layerSum("cache hits", rec.code(_) != 0)
    layerSum("cache misses", rec.code(_) == 0)

    // engine.write: the timed writes only (not the set-up's bulk add, not
    // the untimed first writes)
    val timedWrites = (0 until rec.size)
      .filter(i => Set(Add, Upsert, Delete)(rec.kind(i)) && rec.start(i) >= windowStart)
      .sortBy(rec.start(_)).drop(warmupWrites)
    Seq(Add -> "add", Upsert -> "upsert", Delete -> "delete").foreach { case (k, name) =>
      pcts(s"engine.write.$name.ms", timedWrites.filter(rec.kind(_) == k).map(i => ms(rec.interval(i).duration)), Seq(50, 90))
    }
    val jobs = listener.synchronized(listener.jobs.toList)
    val stages = listener.synchronized(listener.stages.toList)

    // engine.build and the first search: stage wall time by module
    (0 until rec.size).find(rec.kind(_) == Build).foreach(i => put("engine.build.s", rec.interval(i).duration / 1e9, "s"))
    def split(prefix: String, rows: Seq[Listener.StageRow]): Unit = {
      BuildModules.foreach(m => put(s"$prefix.$m", rows.filter(_.module == m).map(_.wallS).sum, "s"))
      put(s"$prefix.other", rows.filterNot(r => BuildModules.contains(r.module)).map(_.wallS).sum, "s")
    }
    val buildStages = stages.filter(r => r.op == "build")
    split("spark.stage_s.build", buildStages)
    put("engine.build.busy_ratio", buildStages.map(_.taskS).sum / ((buildEnd - buildStart) / 1e9 * nproc), "ratio")
    put("engine.build.shuffle_mb", buildStages.map(_.shuffleBytes).sum / 1048576.0, "MB")
    put("engine.build.spill_mb", buildStages.map(_.spillBytes).sum / 1048576.0, "MB")
    split("spark.stage_s.first_search", stages.filter(_.phase == "first_search"))

    // spark: jobs on the request path, searches in the window and writes
    // in the write phase
    val writes = (0 until writerLog.n).count(writerLog.kind(_) == OpLog.Write)
    Seq(("search", "window", searchOps.length), ("write", "writes", writes)).foreach { case (op, ph, n) =>
      put(s"spark.jobs_per_op.$op", jobs.count(j => j.op == op && j.phase == ph) / math.max(1.0, n), "jobs/op")
      put(s"spark.task_s_per_op.$op",
        stages.filter(r => r.op == op && r.phase == ph).map(_.taskS).sum / math.max(1.0, n), "s/op")
    }

    // jvm
    val windowS = (jvm.endNs - jvm.startNs) / 1e9
    val pauses = jvm.pauseMs
    put("jvm.gc_pause_ms_per_s", pauses.sum / windowS, "ms/s")
    put("jvm.gc_pause_max_ms", if (pauses.isEmpty) 0.0 else pauses.max.toDouble, "ms")
    put("jvm.alloc_kb_per_op", jvm.allocBytes / 1024.0 / math.max(1, searchOps.length), "KB/op")

    // storage
    put("storage.records_files", recordFiles, "count")
    put("storage.bytes_per_write", writeRecordBytes.toDouble / math.max(1, writes), "B")
    put("storage.cache_entry_files", cacheFiles, "count")

    // the benchmark: traced vs untraced slices of the same window
    val bySlice = searchOps.map { case (l, i) =>
      (((l.t0(i) - windowStart) / sliceNs) % 2 == 0, ms(l.t1(i) - l.t0(i)))
    }.groupBy(_._1).map { case (on, xs) => on -> p50(xs.map(_._2)) }
    put("trace.overhead_pct",
      100.0 * (bySlice.getOrElse(true, Double.NaN) / bySlice.getOrElse(false, Double.NaN) - 1.0), "%")
    out.toSeq
  }
}
