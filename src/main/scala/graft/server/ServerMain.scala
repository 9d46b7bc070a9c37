package graft.server

import org.apache.spark.sql.SparkSession

import graft.Management

/** Boot the full server: one SparkSession, one engine/management root,
  * the RESP data plane and the HTTP management plane — the deployable
  * shape of the reference (GarnetService + ASP.NET host in one process,
  * Program.cs). Usage:
  *
  *   sbt "runMain graft.server.ServerMain [root] [respPort] [httpPort] [sidecarHost:port]"
  *
  * Defaults: root=/tmp/graft-server, RESP 6380, HTTP 8080 (0 = ephemeral;
  * chosen ports are printed). On a cluster this process is the driver (or
  * a thin gateway): per-call serving stays on the engine's zero-job
  * resident tiers; index builds and batch analytics run as Spark jobs.
  *
  * Passing a 4th arg (or SPARK_GRAFT_SIDECAR_ADDR), a sidecar's
  * host:port, enables the sidecar decision loop against it: every
  * SPARK_GRAFT_SIDECAR_INTERVAL_MS (default 10 000 — the reference's
  * Sidecar:MetricsIntervalSeconds, SidecarMetricsReporter.cs:52-58) the
  * loop reports the serving counters in one ReportSystemMetrics call and
  * applies the reply's TTL to live cache inserts. */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft-server")
    val respPort = if (args.length > 1) args(1).toInt else 6380
    val httpPort = if (args.length > 2) args(2).toInt else 8080
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-server")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // plan fallbacks' top-k aggregation keeps one bounded buffer per
      // (query, task); the default 128-key fallback would push each
      // scoring batch into sort-based aggregation, ~13× slower
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val mgmt = new Management(spark, root)
    val resp = new RespServer(mgmt.engine, mgmt, spark, respPort)
    val http = new HttpPlane(mgmt, httpPort)
    val rp = resp.start()
    val hp = http.start()
    val sidecarAddr = args.lift(3).orElse(sys.env.get("SPARK_GRAFT_SIDECAR_ADDR"))
    val sidecar = sidecarAddr.map { addr =>
      val at = addr.lastIndexOf(':')
      require(at > 0, s"sidecar address must be host:port, got '$addr'")
      val client = new graft.streaming.SidecarWire.Client(
        addr.substring(0, at), addr.substring(at + 1).toInt)
      val loop = new graft.streaming.SidecarLoop(mgmt.engine, client)
      loop.start(sys.env.getOrElse("SPARK_GRAFT_SIDECAR_INTERVAL_MS", "10000").toLong)
      println(s"sidecar loop up: sidecar=$addr")
      loop
    }
    // warm the resident serving tiers in the background: the planes are
    // already accepting, and any index touched before its warm completes
    // just pays the (memoized) materialization its first call always paid
    val warmer = new Thread(() => {
      val (ok, skipped) = mgmt.engine.warmServing()
      println(s"serving tiers warm: $ok indexes resident, $skipped skipped")
    }, "graft-warm")
    warmer.setDaemon(true)
    warmer.start()
    println(s"graft server up: root=$root RESP=localhost:$rp HTTP=localhost:$hp")
    sys.addShutdownHook {
      sidecar.foreach(_.close())
      resp.close(); http.close()
      // last act: pending cache inserts + in-memory serving counters
      // become durable, so billing and warm entries survive the restart
      try mgmt.engine.flushAllServingMetrics()
      catch { case scala.util.control.NonFatal(_) => }
      spark.stop()
    }
    Thread.currentThread().join() // serve until killed
  }
}
