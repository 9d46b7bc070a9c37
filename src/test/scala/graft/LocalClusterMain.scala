package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AllowedSet, Components, IvfFlat, IvfPq, TextDedup}

/** Distributed-branch proof under `local-cluster[2,8,4096]` — REAL
  * executor JVMs, unlike local[n] where driver and executors share one
  * heap. In local mode, executor code can accidentally depend on
  * driver-side state (a resident registry, a memoized map, broadcast
  * identity) and never fail; under local-cluster such a dependency is a
  * serialization error or a wrong answer. This main runs each
  * distributed serving/pipeline branch against its driver-resident twin
  * and requires exact equality — run once per round:
  *
  *   SPARK_HOME=/opt/spark sbt "Test/runMain graft.LocalClusterMain"
  *
  * Prints `LOCAL_CLUSTER_OK` on success (the round log greps it).
  */
object LocalClusterMain {
  def main(args: Array[String]): Unit = {
    require(sys.env.contains("SPARK_HOME"),
      "local-cluster mode needs SPARK_HOME (worker launches executors from it)")
    val spark = SparkSession.builder()
      .master("local-cluster[2,8,4096]")
      // executors are separate JVMs: hand them the sbt test classpath
      // (spark jars ride along — the build compiles against /opt/spark/jars)
      .config("spark.executor.extraClassPath",
        sys.props.getOrElse("java.class.path", ""))
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val rng = new scala.util.Random(83)
    var checks = 0
    def check(name: String)(ok: => Boolean): Unit = {
      require(ok, s"local-cluster check FAILED: $name")
      checks += 1
      System.err.println(s"# local-cluster ok: $name")
    }

    // --- 1. IVF_FLAT: distributed packed-RDD serving == resident scan ---
    val vectors = (0 until 4000).map(i =>
      (i.toLong, Seq.fill(16)(rng.nextFloat()))).toDF("id", "vec")
      .repartition(8)
    val idx = IvfFlat.build(vectors, nlist = 8, metric = "L2", seed = 7L)
    idx.assigned.cache().count()
    val queries = Array.tabulate(6)(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat())))
    val resident = IvfFlat.searchLocalRows(idx, queries, "L2", 10,
      nprobe = 3, spark)
    val distributed = IvfFlat.searchLocalRowsPath(idx, queries, "L2", 10,
      nprobe = 3, spark, forceDistributed = true).get
    check("ivf_flat distributed == resident (scores+ties)") {
      distributed.toSeq == resident.toSeq
    }
    // filtered variant through the broadcast allowed set
    val allowed = (0L until 4000L).filter(_ % 2 == 0).toArray
    val resF = IvfFlat.searchLocalRows(idx, queries, "L2", 10, nprobe = 3,
      spark, AllowedSet(sorted = allowed))
    val distF = IvfFlat.searchLocalRowsPath(idx, queries, "L2", 10,
      nprobe = 3, spark, forceDistributed = true,
      allowed = AllowedSet(sorted = allowed)).get
    check("ivf_flat FILTERED distributed == resident") {
      distF.toSeq == resF.toSeq
    }

    // --- 2. IVF_PQ: distributed ADC plan == resident byte-code scan ---
    val pq = IvfPq.build(vectors, nlist = 8, m = 4, k = 16, seed = 7L)
    pq.assigned.cache().count()
    val pqResident = IvfPq.searchLocalRows(pq, queries, 10, nprobe = 3, spark)
    // mtBound = 0 forces the distributed fallback (collects the ADC plan)
    val pqDistributed = IvfPq.searchLocalRowsPath(pq, queries, 10,
      nprobe = 3, spark, stBound = 0L, mtBound = 0L).get
    check("ivf_pq distributed ADC plan == resident byte-code tier") {
      // row ORDER is not part of the contract (the plan's collect order
      // is partition order; the resident tier's is group order) — the
      // ranked content is: compare on (query, rank) order
      pqDistributed.sortBy(t => (t._1, t._2)).toSeq ==
        pqResident.sortBy(t => (t._1, t._2)).toSeq
    }

    // --- 3. Engine end-to-end over real executors ---
    val root = java.nio.file.Files.createTempDirectory("lc_engine").toString
    val eng = new GraftEngine(spark, root)
    val recs = (0 until 300).map(i =>
      (s"v$i", Seq.fill(8)(rng.nextFloat()), null: String,
        (if (i % 2 == 0) Seq("even") else Seq("odd")) ++
          (if (i % 3 == 0) Seq("red") else Seq.empty[String]), 100L))
      .toDF("id", "vector", "meta", "tags", "updated_at")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("index_name", lit("idx"))
      .withColumn("deleted", lit(false))
    eng.add(recs)
    eng.build("t1", "idx", nlist = 4, algo = "IVF_PQ", pqM = 2, pqK = 8)
    val qv = Array.fill(8)(rng.nextFloat())
    val qDf = Seq((1L, qv.toSeq)).toDF("query_id", "qvec")
    val planRows = eng.search("t1", "idx", qDf, 5, "L2", nprobe = 4)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
    val (rows, tr) = eng.searchRowsTraced("t1", "idx", Array((1L, qv)), 5,
      "L2", nprobe = 4)
    check(s"engine rows tier == plan across JVMs (path=${tr.path})") {
      rows.map(r => (r._2, r._3, r._4)).toSeq == planRows
    }
    val planRefined = eng.search("t1", "idx", qDf, 5, "L2", nprobe = 4,
        refine = 5, refineStore = "sq16")
      .collect().map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
    val (rowsR, trR) = eng.searchRowsTraced("t1", "idx", Array((1L, qv)), 5,
      "L2", nprobe = 4, refine = 5)
    check(s"engine REFINED rows == plan(sq16) across JVMs (path=${trR.path})") {
      rowsR.map(r => (r._2, r._3, r._4)).toSeq == planRefined
    }
    val planFiltered = eng.search("t1", "idx",
        qDf.withColumn("filter_tags", typedLit(Seq("even"))), 5, "L2",
        nprobe = 4)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
    val filtered = eng.searchRowsFilteredTraced("t1", "idx",
      Array((1L, qv)), 5, "L2", 4, Seq("even"))
    check("engine FILTERED rows == filtered plan across JVMs") {
      filtered.exists(_._1.map(r => (r._2, r._3, r._4)).toSeq == planFiltered)
    }
    // multi-LARGE-tag conjunction: threshold 1 makes every tag "large",
    // so the per-tag row-bitmap AND fast path serves (not the per-call
    // array intersection) — must equal the plan under real executor JVMs
    val engBits = new GraftEngine(spark, root, hashAllowedMinEntries = 1)
    val planConj = engBits.search("t1", "idx",
        qDf.withColumn("filter_tags", typedLit(Seq("even", "red"))), 5, "L2",
        nprobe = 4)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
    val conj = engBits.searchRowsFilteredTraced("t1", "idx",
      Array((1L, qv)), 5, "L2", 4, Seq("even", "red"))
    check("engine multi-tag bitmap-AND rows == plan across JVMs") {
      planConj.nonEmpty &&
        conj.exists(_._1.map(r => (r._2, r._3, r._4)).toSeq == planConj)
    }

    // --- 4. Dedup pipeline shuffles across real executors ---
    val base = Array.fill(60)(s"w${rng.nextInt(100000)}")
    val docs = ((0 until 25).map { c =>
      val src = Array.fill(60)(s"w${rng.nextInt(100000)}")
      (c * 4, src) +: (1 until 4).map(m => (c * 4 + m,
        src.map(t => if (rng.nextInt(40) == 0) s"m${rng.nextInt(1 << 30)}" else t)))
    }.flatten.map { case (i, toks) => (i.toLong, toks.mkString(" ")) }
      :+ ((100L, base.mkString(" "))))
      .toDF("doc_id", "text").repartition(8)
    val pairs = TextDedup.minhashLshStarPairs(docs, n = 3, tau = 0.5)
    val (comp, rounds) = Components.connectedComponentsWithRounds(pairs)
    val kept = TextDedup.keepCanonicalFrom(docs.select("doc_id"), comp)
      .filter(col("keep")).count()
    check(s"dedup star pipeline over executors (rounds=$rounds kept=$kept)") {
      kept == 26 // 25 cluster canonicals + 1 singleton
    }

    println(s"LOCAL_CLUSTER_OK checks=$checks")
    spark.stop()
  }
}
