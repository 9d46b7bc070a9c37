package graft.perfbench

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{DeclaredIndex, Management, TenantQuota}
import graft.server.RespServer

/** Tests of the benchmark's own code: the percentile rule, span self
  * time, stage-to-module attribution, and the RESP client against the
  * real server on a tiny corpus.
  *
  *   python3 perfbench/run.py --self-test
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    val dir = args.sliding(2).collectFirst { case Array("--dir", d) => d }.getOrElse("selftest")

    check("percentile: nearest rank") {
      val xs = Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0)
      eq(Stats.percentile(xs, 50), 5.0)
      eq(Stats.percentile(xs, 90), 9.0)
      eq(Stats.percentile(xs, 99), 10.0)
      eq(Stats.percentile(Array(3.0), 1), 3.0)
      assert(Stats.percentile(Array.empty[Double], 50).isNaN)
    }

    check("sliced percentile: median of the slices' percentiles") {
      // five slices of four; the third slice is a burst of slow requests
      val xs = Array(1.0, 2, 3, 4, 1, 2, 3, 5, 90, 91, 92, 93, 1, 2, 3, 6, 1, 2, 3, 7)
      eq(Stats.slicedPercentile(xs, 50, 5), 2.0)
      eq(Stats.slicedPercentile(xs, 100, 5), 6.0)
      eq(Stats.slicedPercentile(Array(4.0, 1.0, 3.0), 50, 5), 3.0)
    }

    check("supported percentile keeps ten samples beyond it") {
      eq(Stats.supportedPercentile(19), 0.0)
      eq(Stats.supportedPercentile(20), 50.0)
      eq(Stats.supportedPercentile(99), 50.0)
      eq(Stats.supportedPercentile(100), 90.0)
      eq(Stats.supportedPercentile(999), 90.0)
      eq(Stats.supportedPercentile(1000), 99.0)
      eq(Stats.supportedPercentile(10000), 99.9)
    }

    check("write metrics weight each verb's median by its share of the cycle") {
      // ADD 5/10, UPSERT 4/10, DEL 1/10; one slow ADD does not move the ADD median
      val recs = Seq(('A', 100.0), ('A', 900.0), ('A', 110.0), ('U', 50.0), ('U', 60.0), ('D', 40.0))
        .map { case (v, ms) => WriteRecord(v, 0L, (ms * 1e6).toLong, -1L) }
      eq(Writer.mixWeighted(recs, r => r.ackNs / 1e6), 0.5 * 110 + 0.4 * 50 + 0.1 * 40)
      assert(Writer.mixWeighted(recs.filter(_.verb != 'D'), r => r.ackNs / 1e6).isNaN)
    }

    check("self time subtracts the union of clipped children") {
      val span = Interval(0, 100)
      eq(Intervals.selfTime(span, Nil), 100L)
      eq(Intervals.selfTime(span, Seq(Interval(10, 20))), 90L)
      // overlapping children count once; a child running past the span is clipped
      eq(Intervals.covered(span, Seq(Interval(10, 20), Interval(15, 30), Interval(90, 120))), 30L)
      eq(Intervals.selfTime(span, Seq(Interval(15, 30), Interval(10, 20), Interval(90, 120))), 70L)
      eq(Intervals.selfTime(span, Seq(Interval(-5, 200))), 0L)
      eq(Intervals.selfTime(span, Seq(Interval(200, 300))), 100L)
    }

    check("stage module is the first graft frame of the call site") {
      val details =
        """org.apache.spark.sql.Dataset.collect(Dataset.scala:3412)
          |graft.operators.IvfFlat$Index.packedDriver$lzycompute(IvfFlat.scala:148)
          |graft.GraftEngine.searchRowsTraced(Engine.scala:829)
          |graft.perfbench.TracedEngine.searchRowsTraced(Trace.scala:161)""".stripMargin
      eq(Listener.moduleOf(details), Some("IvfFlat"))
      eq(Listener.moduleOf("org.apache.spark.rdd.RDD.count(RDD.scala:1)\n" +
        "graft.GraftEngine.$anonfun$idPoolOf$1(Engine.scala:1838)"), Some("GraftEngine"))
      eq(Listener.moduleOf("graft.perfbench.Main$.run(Main.scala:139)"), Some("bench"))
      eq(Listener.moduleOf("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"), None)
      eq(Listener.moduleOf(null), None)
    }

    check("reply parser reads nested arrays, nil and errors") {
      val bytes = "*2\r\n*2\r\n$2\r\nc1\r\n$4\r\n-1.5\r\n*2\r\n$2\r\nc2\r\n$2\r\n-2\r\n".getBytes(UTF_8)
      val counter = new Array[Long](1)
      val r = RespCodec.read(new ByteArrayInputStream(bytes), counter)
      eq(counter(0), bytes.length.toLong)
      eq(RespCodec.hits(r), Right(IndexedSeq(("c1", -1.5), ("c2", -2.0))))
      eq(RespCodec.read(new ByteArrayInputStream("$-1\r\n".getBytes(UTF_8)), counter), Reply.Bulk(null))
      eq(RespCodec.read(new ByteArrayInputStream("-ERR no\r\n".getBytes(UTF_8)), counter), Reply.Error("ERR no"))
      eq(RespCodec.read(new ByteArrayInputStream(":7\r\n".getBytes(UTF_8)), counter), Reply.Integer(7L))
      assert(RespCodec.hits(Reply.Error("ERR x")).isLeft)
      eq(new String(RespCodec.encodeStrings("PING", "ab"), UTF_8), "*2\r\n$4\r\nPING\r\n$2\r\nab\r\n")
    }

    check("vector text round-trips every float") {
      val v = Array(1.0f / 3, -0.0f, 1e-30f, 123456.78f, Float.MinPositiveValue)
      val back = new String(RespCodec.vectorText(v), UTF_8).split(",").map(_.toFloat)
      assert(java.util.Arrays.equals(v, back), back.mkString(","))
    }

    check("client against the RESP server on a tiny corpus") {
      val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
        .config("spark.sql.shuffle.partitions", "4").config("spark.ui.enabled", "false")
        .config("spark.local.dir", Paths.get(dir, "spark-local").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try {
        val root = Paths.get(dir, "root").toString
        val corpus = new Corpus(5L, 200, 8, 4, 0.5)
        val mgmt = new Management(spark, root)
        mgmt.createTenant("t", TenantQuota(maxQps = Int.MaxValue))
        mgmt.createIndex("t", "i", DeclaredIndex(8, "L2", "IVF_FLAT", 2))
        val schema = StructType(Seq(
          StructField("tenant_id", StringType), StructField("index_name", StringType),
          StructField("id", StringType), StructField("vector", ArrayType(FloatType)),
          StructField("meta", StringType), StructField("tags", ArrayType(StringType)),
          StructField("updated_at", LongType)))
        mgmt.engine.add(spark.createDataFrame(corpus.vectors.indices.map(i =>
          Row("t", "i", corpus.id(i), corpus.vectors(i).toSeq, null, null, 1L)).asJava, schema))
        mgmt.buildIndex("t", "i")
        val server = new RespServer(mgmt.engine, mgmt, spark)
        val conn = new RespConnection(server.start())
        try {
          eq(conn.call(RespCodec.encodeStrings("PING")), Reply.Simple("PONG"))
          val req = new Requests("t", "i", 5, 0)
          val checks = new Checks(200, 5)
          // a corpus member is its own nearest neighbour at distance 0
          val hits = checks.searchReply(conn.call(req.search(corpus.vectors(17)))).get
          eq(hits.head, ("c17", -0.0))
          eq(checks.failed.get, 0L)
          assert(conn.lastRequestBytes > 0 && conn.lastReplyBytes > 0)
          eq(conn.call(req.write("VEC.ADD", "w1", corpus.vectors(3))), Reply.Simple("VEC_OK"))
          checks.writtenIds.add("w1")
          val after = checks.searchReply(conn.call(req.search(corpus.vectors(3)))).get
          eq(after.take(2).map(_._1).toSet, Set("c3", "w1"))
          assert(conn.call(RespCodec.encodeStrings("VEC.SEARCH", "t", "i", "TOPK", "5",
            "VECTOR", "1,2")).isInstanceOf[Reply.Error], "wrong dim must be an error reply")
          eq(conn.call(req.write("VEC.ADD", "w1", corpus.vectors(4))), Reply.Error("ERR Vector already exists."))
          // a malformed reply (wrong count) is a counted failure
          assert(new Checks(200, 6).searchReply(conn.call(req.search(corpus.vectors(1)))).isEmpty)
        } finally { conn.close(); server.close() }
      } finally spark.stop()
    }

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
