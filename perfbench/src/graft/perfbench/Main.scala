package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{DeclaredIndex, GraftEngine, Management, TenantQuota}
import graft.server.RespServer

/** A workload: the index it serves and the searches of its measured
  * window; the write phase after the window is the same for both. */
final case class Workload(name: String, algo: String, refine: Int, hot: Boolean,
                          nominalQps: Int)

/** The benchmark: the engine behind its real RESP server in this JVM,
  * driven over loopback by closed-loop client threads.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <work dir>
  *
  * Prints the metrics with unit and direction, then one JSON line. Exits
  * 1 when any answer check fails. */
object Main {
  val Dim = 128
  val Centres = 256
  val Sigma = 1.1
  val K = 10
  /** 6,250 rows over 8 lists keeps the reference config's ~781 rows per
    * inverted list (100k / 128), so a search at the server's nprobe 4
    * scans as many rows as the reference's; set-up at 100k does not fit
    * the run budget. */
  val CorpusRows = 6250
  val NList = 8
  val PqM = 16
  val Refine = 10
  val PoolSize = 2000
  val NoiseEvery = 5
  val NoiseSigma = 0.01
  /** Distinct queries scored against the exact scan, after the window
    * and before any write. */
  val RecallQueries = 200
  val VisibleTimeoutNs = 10L * 1000000000L
  /** The same traffic, a quarter of the window's count, runs unmeasured
    * before the window, so that the window sees compiled code. */
  val WarmupShare = 4
  /** search_p50_ms and the printed search p90 are the median of this many
    * consecutive slices' percentiles. */
  val LatencySlices = 5
  /** Traced runs alternate traced and untraced slices of this length. */
  val SliceNs = 50L * 1000000L
  val Tenant = "bench"
  val Index = "idx"

  /** The window sends a fixed number of searches, nominalQps × --seconds,
    * not as many as fit in the time:
    * each miss adds cache keys, a flush runs every 256 keys and a
    * compaction past 64 entry files, so a fixed count keeps the number of
    * those stalls in a window the same from run to run. */
  val workloads: Seq[Workload] = Seq(
    Workload("search_hot", "IVF_FLAT", refine = 0, hot = true, nominalQps = 480),
    Workload("write_mix", "IVF_PQ", refine = Refine, hot = false, nominalQps = 200))

  /** Search connections. search_hot: one per two cores. A connection
    * keeps about one core busy (its client and server threads take turns),
    * so half the cores stay free for the Spark jobs a search can start and
    * for GC. With one connection per core the host is saturated: on 4 cores
    * median latency doubled on write_mix and, on both workloads, swung by
    * 0.3 (IQR ÷ median over 5 seeds) with how long those jobs held the
    * cores. write_mix: one. Every search there is a miss, and each miss
    * adds cache keys whose flushes start Spark jobs; a second connection
    * mostly waits on those: in single runs the p99 read 48 ms with two
    * connections and 10–15 ms with one, at the same median. */
  def searchConnections(wl: Workload, nproc: Int): Int =
    if (wl.hot) math.max(1, nproc / 2) else 1

  /** The write phase: the first writes compile the write plans and are
    * not timed; the rest of the first verb cycle follows, timed, each write
    * polled until visible (4 ADD, 3 UPSERT, 1 DEL). write_ms and visible_ms
    * weight each verb's median by its share of the cycle: an ADD takes
    * about twice as long as an UPSERT or DEL, so a median over the mix sits
    * on the edge between the two groups and jumps between them from run to
    * run, and a mean over a few writes moves with any one slow write. */
  val WarmupWrites = 2
  val TimedWrites = Writer.Cycle.length - WarmupWrites

  @volatile private var phase = "setup"
  @volatile private var windowStartNs = Long.MaxValue
  @volatile private var windowEndNs = Long.MaxValue

  def traceSliceOn(ns: Long): Boolean =
    ns < windowStartNs || ns >= windowEndNs || ((ns - windowStartNs) / SliceNs) % 2 == 0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors
    val wl = workloads.find(_.name == a.getOrElse("workload", ""))
      .getOrElse { System.err.println(s"unknown workload; have ${workloads.map(_.name)}"); sys.exit(2) }
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val dir = Paths.get(a("dir")).toAbsolutePath
    val ok = run(wl, seed, seconds, traced, dir, nproc)
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  private def cpuTicks(): (Long, Long) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/self/stat"))).trim
    val rest = f.substring(f.lastIndexOf(')') + 2).split(" ")
    (rest(11).toLong, rest(12).toLong) // utime, stime (fields 14 and 15)
  }

  /** Host CPU time stolen from this machine (the steal column of
    * /proc/stat), in clock ticks: a hypervisor running other guests on
    * these cores shows here. */
  private def stealTicks(): Long = {
    val cpu = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next().split("\\s+")
    if (cpu.length > 8) cpu(8).toLong else 0L
  }

  private def loadAvg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")

  def treeBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }

  def run(wl: Workload, seed: Long, seconds: Double, traced: Boolean, dir: Path,
          nproc: Int): Boolean = {
    val tStart = System.nanoTime()
    val (u0, s0) = cpuTicks()
    val steal0 = stealTicks()
    val loadStart = loadAvg()
    Files.createDirectories(dir)
    val root = dir.resolve("root").toString

    // -- set-up: session, corpus, bulk add, build, first search ----------
    // The session is built the way ServerMain builds it, with shuffle
    // partitions at the core count instead of ServerMain's default 32: at
    // 32 a set-up costs ~8 s more, which the run budget lacks.
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-server")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tSession = System.nanoTime()

    val rec = new SpanRecorder(1 << 20)
    val listener = new Listener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val jvm = new JvmProbe

    val mgmt = new Management(spark, root)
    mgmt.createTenant(Tenant, TenantQuota(maxQps = Int.MaxValue))
    mgmt.createIndex(Tenant, Index, DeclaredIndex(Dim, "L2", wl.algo, NList, PqM))
    val engine: GraftEngine =
      if (traced) new TracedEngine(spark, root, rec, () => traceSliceOn(System.nanoTime()), () => phase)
      else mgmt.engine

    val corpus = new Corpus(seed, CorpusRows, Dim, Centres, Sigma)
    val schema = StructType(Seq(
      StructField("tenant_id", StringType), StructField("index_name", StringType),
      StructField("id", StringType), StructField("vector", ArrayType(FloatType)),
      StructField("meta", StringType), StructField("tags", ArrayType(StringType)),
      StructField("updated_at", LongType)))
    val rows = corpus.vectors.indices.map(i =>
      Row(Tenant, Index, corpus.id(i), corpus.vectors(i).toSeq, null, null, 1L))
    val corpusDf = spark.createDataFrame(rows.asJava, schema)
    val tGen = System.nanoTime()
    engine.add(corpusDf)
    val tAdd = System.nanoTime()
    engine.build(Tenant, Index, nlist = NList, metric = "L2", seed = 42L, algo = wl.algo,
      pqM = PqM, pqK = 256)
    val tBuild = System.nanoTime()

    val server = new RespServer(engine, mgmt, spark)
    val port = server.start()
    val checks = new Checks(CorpusRows, K)
    val req = new Requests(Tenant, Index, K, wl.refine)
    phase = "first_search"
    val firstConn = new RespConnection(port)
    checks.attempted.incrementAndGet()
    val tFirst0 = System.nanoTime()
    val firstReply = firstConn.call(req.search(corpus.draw(corpus.queryRandom(1000))))
    val tFirst1 = System.nanoTime()
    checks.searchReply(firstReply)
    val setupS = (tFirst1 - tStart) / 1e9

    // -- measured window --------------------------------------------------
    val conns = Seq.fill(searchConnections(wl, nproc))(new RespConnection(port))
    val writerConn = new RespConnection(port)
    val logs = Seq.fill(conns.length)(new OpLog(1 << 20))
    val writerLog = new OpLog(1 << 16)
    val live = new LiveSet(corpus)
    val writer = new Writer(writerConn, req, corpus, live, checks, writerLog,
      new java.util.Random(seed * 7 + 3), VisibleTimeoutNs)
    val pool = Array.tabulate(PoolSize)(_ => null: Array[Float])
    val poolReq = {
      val rnd = corpus.queryRandom(2000)
      Array.tabulate(PoolSize) { i => pool(i) = corpus.draw(rnd); req.search(pool(i)) }
    }
    val zipf = new Zipf(PoolSize, 1.0)
    def noisy(v: Array[Float], rnd: java.util.Random): Array[Float] =
      v.map(x => (x + rnd.nextGaussian() * NoiseSigma).toFloat)

    /** A closed loop of `count` searches on connection `c`; only the
      * measured window logs its requests. A connection that throws (EOF, a
      * closed socket, a reply the parser rejects) stops there; `done` and
      * `errs` record how far it got and why. */
    def searchLoop(c: Int, stream: Int, log: OpLog, count: Int,
                   done: Array[Int], errs: Array[String]): Runnable = () => {
      val rnd = corpus.queryRandom(stream)
      val conn = conns(c)
      var i = 0
      try {
        while (i < count) {
          val request =
            if (!wl.hot) req.search(corpus.draw(rnd))
            else {
              val r = zipf.sample(rnd)
              if (rnd.nextInt(NoiseEvery) != 0) poolReq(r) else req.search(noisy(pool(r), rnd))
            }
          checks.attempted.incrementAndGet()
          val t0 = System.nanoTime()
          val reply = conn.call(request)
          val t1 = System.nanoTime()
          if (log != null) log.add(OpLog.Search, t0, t1, conn.lastRequestBytes, conn.lastReplyBytes)
          checks.searchReply(reply)
          i += 1
        }
      } catch {
        case e: Throwable => errs(c) = e.toString
      } finally done(c) = i
    }

    val perConn = math.ceil(wl.nominalQps * seconds / conns.length).toInt
    def runClients(stream: Int, logged: Boolean, count: Int): Unit = {
      val done = new Array[Int](conns.length)
      val errs = new Array[String](conns.length)
      val clients = conns.indices.map(c => new Thread(searchLoop(c, stream + c,
        if (logged) logs(c) else null, count, done, errs), s"bench-client-$c"))
      clients.foreach(_.start()); clients.foreach(_.join())
      conns.indices.foreach { c =>
        if (done(c) != count)
          checks.fail(s"connection $c stopped after ${done(c)} of $count searches: ${errs(c)}")
      }
    }
    phase = "warmup"
    runClients(100, logged = false, perConn / WarmupShare)

    val recordBytesBefore = treeBytes(Paths.get(root, "records"))._2
    phase = "window"
    jvm.start()
    val windowStart = System.nanoTime()
    windowStartNs = windowStart
    runClients(0, logged = true, perConn)
    val windowEnd = System.nanoTime()
    windowEndNs = windowEnd
    jvm.stop()

    System.gc(); System.gc()
    val heapUsedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // -- recall, before any write, against the rows the server holds -------
    // search_hot: the first RecallQueries pool vectors, every NoiseEvery-th
    // one with fresh noise, so cache hits (L0 and L1) and misses are scored
    // as the window serves them, each query once. write_mix: fresh queries.
    phase = "recall"
    val tRecall0 = System.nanoTime()
    val (liveIds, liveVecs) = live.snapshot
    val recallSamples: Seq[(Array[Float], Seq[String])] = {
      val rnd = corpus.queryRandom(3000)
      (0 until RecallQueries).flatMap { i =>
        val v =
          if (!wl.hot) corpus.draw(rnd)
          else if (i % NoiseEvery == 0) noisy(pool(i), rnd)
          else pool(i)
        checks.attempted.incrementAndGet()
        checks.searchReply(writerConn.call(req.search(v))).map(h => (v, h.map(_._1)))
      }
    }
    val recall = Exact.recall(recallSamples, liveIds, liveVecs, K)

    // -- write phase, then storage and durability checks ------------------
    phase = "writes"
    val tWrites0 = System.nanoTime()
    writer.run(WarmupWrites + TimedWrites)
    phase = "post"
    val tWrites1 = System.nanoTime()
    val liveRows = live.size
    val (rootFiles, rootBytes) = treeBytes(Paths.get(root))
    val spaceAmp = rootBytes.toDouble / (liveRows.toLong * Dim * 4)
    val (recordFiles, recordBytes) = treeBytes(Paths.get(root, "records"))
    val (cacheFiles, _) = treeBytes(Paths.get(root, "cache"))

    (conns :+ writerConn :+ firstConn).foreach(_.close())
    server.close()
    val tChecks = System.nanoTime()
    durability(spark, root, writer.acked, checks)
    val tDurable = System.nanoTime()

    // -- report -----------------------------------------------------------
    val windowS = (windowEnd - windowStart) / 1e9
    val searchOps = logs.flatMap(l => (0 until l.n).filter(l.kind(_) == OpLog.Search)
      .map(i => (l.t0(i), (l.t1(i) - l.t0(i)) / 1e6)))
    val bySend = searchOps.sortBy(_._1).map(_._2).toArray
    val searchLat = Stats.sortedCopy(bySend)
    val timed = writer.records.drop(WarmupWrites)
    val done = timed.filter(_.visibleNs > 0)
    val writeLat = Stats.sortedCopy(timed.map(r => (r.ackNs - r.sendNs) / 1e6))
    val visLat = Stats.sortedCopy(done.map(r => (r.visibleNs - r.sendNs) / 1e6))
    val (u1, s1) = cpuTicks()

    // Bounded: the result line carries these.
    val e2e = Seq(
      ("setup_s", setupS, "s", "lower", ""),
      ("recall_at_10", recall, "ratio", "higher", s"${recallSamples.length} queries vs exact scan"),
      ("heap_used_mb", heapUsedMb, "MB", "lower", "after full GC at window end"),
      ("space_amp", spaceAmp, "ratio", "lower", s"$rootBytes B under root / $liveRows rows x $Dim x 4"))
    // Printed, not bounded: from run to run on a shared 4-core host they
    // spread wider than any bound the result line may carry (see README).
    val timings = Seq(
      ("search_p50_ms", Stats.slicedPercentile(bySend, 50, LatencySlices), "ms", "lower", slicedNote(bySend.length)),
      ("write_ms", Writer.mixWeighted(timed, r => (r.ackNs - r.sendNs) / 1e6), "ms", "lower", s"${writeLat.length} timed writes"),
      ("visible_ms", Writer.mixWeighted(done, r => (r.visibleNs - r.sendNs) / 1e6), "ms", "lower", s"${visLat.length} timed writes"),
      ("build_s", (tBuild - tAdd) / 1e9, "s", "lower", "one cold call"))
    (e2e ++ timings).foreach { case (n, v, _, _, _) =>
      if (v.isNaN || v.isInfinite || v <= 0) checks.fail(s"metric $n not measured")
    }

    val out = System.out
    out.println(s"# workload ${wl.name} seed $seed seconds $seconds trace ${if (traced) 1 else 0}")
    out.println(s"# session master=${spark.sparkContext.master} " +
      spark.conf.getAll.filter(_._1.startsWith("spark.sql.shuffle")).map { case (k, v) => s"$k=$v" }.mkString(" ") +
      s" spark=${spark.version}")
    out.println(s"# jvm ${System.getProperty("java.vm.name")} ${System.getProperty("java.version")} " +
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).mkString(" "))
    out.println(f"# setup phases: session ${(tSession - tStart) / 1e9}%.3f s, corpus ${(tGen - tSession) / 1e9}%.3f s, " +
      f"add ${(tAdd - tGen) / 1e9}%.3f s, build ${(tBuild - tAdd) / 1e9}%.3f s, first search ${(tFirst1 - tFirst0) / 1e6}%.1f ms")
    out.println(f"# after window: recall ${(tWrites0 - tRecall0) / 1e9}%.3f s, ${WarmupWrites + TimedWrites} writes ${(tWrites1 - tWrites0) / 1e9}%.3f s, storage ${(tChecks - tWrites1) / 1e9}%.3f s, " +
      f"durability check ${(tDurable - tChecks) / 1e9}%.3f s, total since start ${(System.nanoTime() - tStart) / 1e9}%.3f s")
    out.println(f"# run quality: nproc $nproc, heap max ${Runtime.getRuntime.maxMemory / 1048576}%d MB, " +
      f"own cpu user ${(u1 - u0) / 100.0}%.2f s sys ${(s1 - s0) / 100.0}%.2f s, " +
      f"host steal ${(stealTicks() - steal0) / 100.0}%.2f s, " +
      s"loadavg start [$loadStart] end [${loadAvg()}]")
    out.println(s"# storage: $rootFiles files under root, $recordFiles record files ($recordBytes B), " +
      s"$cacheFiles cache files, ${writer.records.length} writes")
    val attempted = checks.attempted.get
    val failed = checks.failed.get
    out.println(f"# checks: $failed failed of $attempted attempted (failed_ratio ${failed.toDouble / math.max(1, attempted)}%.6f)")
    checks.messages.asScala.foreach(m => out.println(s"# FAIL $m"))
    def show(tag: String)(m: (String, Double, String, String, String)): Unit = m match {
      case (n, v, u, better, note) =>
        out.println(f"$tag $n%-16s $v%14.4f $u%-6s ($better is better)${if (note.isEmpty) "" else s"  [$note]"}")
    }
    e2e.foreach(show("metric"))
    timings.foreach(show("timing"))
    out.println(f"# also: first search ${(tFirst1 - tFirst0) / 1e6}%.1f ms, " +
      f"search qps ${searchLat.length / windowS}%.1f over ${windowS}%.2f s, " +
      f"search p90 ${Stats.slicedPercentile(bySend, 90, LatencySlices)}%.3f ms (sliced), " +
      f"search p99 ${Stats.percentile(searchLat, 99)}%.3f ms, " +
      f"write p50 ${Stats.percentile(writeLat, 50)}%.3f ms p90 ${Stats.percentile(writeLat, 90)}%.3f ms, " +
      f"visible p50 ${Stats.percentile(visLat, 50)}%.3f ms")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e.map { case (n, v, u, _, _) => (n, v, u) }
      else {
        Thread.sleep(500) // let the listener bus drain
        val layer = Layers.compute(wl, nproc, rec, listener, jvm, logs, writerLog,
          windowStart, windowEnd, tAdd, tBuild, tWrites0, recordFiles, recordBytes - recordBytesBefore,
          cacheFiles, SliceNs, WarmupWrites, line => out.println(s"# $line"))
        layer.foreach { case (n, v, u) => out.println(f"layer $n%-40s $v%14.4f $u") }
        val tracePath = dir.getParent.resolve(s"trace-${wl.name}-$seed.tsv")
        rec.dump(tracePath)
        out.println(s"# spans: ${rec.size} written to $tracePath (dropped ${rec.dropped})")
        layer
      }
    spark.stop()
    val correct = checks.failed.get == 0
    out.println(Json.result(correct, attempted, checks.failed.get, metrics))
    correct
  }

  private def slicedNote(n: Int): String =
    s"median over $LatencySlices slices of the window; ${nNote(n / LatencySlices)} per slice"

  private def nNote(n: Int): String = {
    val p = Stats.supportedPercentile(n)
    s"n=$n, highest supported percentile ${if (p == 0) "none" else s"p${fmt(p)}"}"
  }

  private def fmt(d: Double): String =
    if (d == math.rint(d)) d.toLong.toString else f"$d%.2f".reverse.dropWhile(_ == '0').reverse

  /** A fresh engine on the same root must show every acknowledged ADD and
    * UPSERT with its last vector, and no acknowledged DEL. */
  private def durability(spark: SparkSession, root: String,
                         acked: collection.Map[String, Option[Array[Float]]],
                         checks: Checks): Unit =
    if (acked.nonEmpty) {
      checks.attempted.incrementAndGet()
      val state = new GraftEngine(spark, root).currentState(Tenant, Index)
        .filter(col("id").isin(acked.keys.toSeq: _*))
        .select("id", "vector").collect()
        .map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap
      val bad = acked.filter {
        case (id, Some(v)) => !state.get(id).exists(java.util.Arrays.equals(_, v))
        case (id, None) => state.contains(id)
      }
      if (bad.nonEmpty)
        checks.fail(s"durability: ${bad.size} of ${acked.size} acknowledged writes wrong " +
          s"after reopen, e.g. ${bad.keys.take(5).mkString(",")}")
    }
}

/** Minimal JSON for the result line. */
object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
}
