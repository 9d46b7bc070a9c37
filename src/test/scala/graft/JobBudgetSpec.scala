package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job budgets, in the style of PlanShapeSpec: the number of Spark jobs
  * each phase submits, per engine stage ([[Stage]]), pinned. Most of a
  * small build's wall time is the driver's per-job overhead, so a job that
  * comes back shows up here by the stage that submitted it, wherever its
  * code lives. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def records(index: String, n: Int, dim: Int, seed: Int,
                      idFrom: Int = 0): DataFrame = {
    val rng = new scala.util.Random(seed)
    val centres = Array.fill(8, dim)(rng.nextGaussian().toFloat * 4f)
    (0 until n).map { i =>
      val c = centres(i % centres.length)
      (s"v${idFrom + i}", c.map(x => x + rng.nextGaussian().toFloat).toSeq, 100L)
    }.toDF("id", "vector", "updated_at")
      .withColumn("meta", lit(null).cast("string"))
      .withColumn("tags", lit(null).cast("array<string>"))
      .withColumn("tenant_id", lit("t1"))
      .withColumn("index_name", lit(index))
  }

  private def show(what: String, jobs: Map[String, Int]): Unit =
    info(s"$what: ${jobs.values.sum} jobs ${jobs.toSeq.sorted.mkString(", ")}")

  /** Adds a corpus, builds it, runs one rows-tier search; returns the
    * per-stage jobs of each phase. */
  private def phases(algo: String, refine: Int = 0)
      : (Map[String, Int], Map[String, Int], Map[String, Int], Map[String, Int]) = {
    val root = Files.createTempDirectory(s"jobs_$algo").toString
    val eng = new GraftEngine(spark, root)
    val corpus = records("idx", 640, 16, 7)
    val (_, addJobs) = JobCount.byStage(spark)(eng.add(corpus))
    val (_, buildJobs) = JobCount.byStage(spark)(
      eng.build("t1", "idx", nlist = 4, algo = algo, pqM = 4, pqK = 16))
    val q = Array((1L, Array.fill(16)(0.5f)))
    val ((rows, tr), searchJobs) = JobCount.byStage(spark)(
      eng.searchRowsTraced("t1", "idx", q, k = 5, nprobe = 2, refine = refine))
    assert(rows.length == 5, tr)
    val (_, add2Jobs) = JobCount.byStage(spark)(
      eng.add(records("idx", 4, 16, 8, idFrom = 10000)))
    show(s"$algo add (empty log)", addJobs)
    show(s"$algo build", buildJobs)
    show(s"$algo first search (${tr.path})", searchJobs)
    show(s"$algo add (non-empty log)", add2Jobs)
    (addJobs, buildJobs, searchJobs, add2Jobs)
  }

  // Every add: the duplicate check's grouped aggregation (2 jobs on an
  // empty log; 4 once it joins the log's LWW state) and one append.
  private val addEmpty = Map("write.dupCheck" -> 2, "write.append" -> 1)
  private val addNonEmpty = Map("write.dupCheck" -> 4, "write.append" -> 1)

  // The state pass is 3 jobs: the cached LWW state's exchange, which AQE
  // runs while the pass's RDD is planned, then the fold. The driver
  // k-means trainer's sample collect is 2.

  test("job budget: IVF_FLAT add, build and first search") {
    val (add, build, search, add2) = phases("IVF_FLAT")
    assert(add == addEmpty && add2 == addNonEmpty, (add, add2))
    assert(build == Map("build.state" -> 3, "build.train" -> 2, "build.assign" -> 1,
      "build.centroids" -> 1, "build.records" -> 1), build)
    // the pack's exchange and collect, then the centroids
    assert(search == Map("admit.idPool" -> 1, "admit.packedFloats" -> 2,
      "open.centroids" -> 1), search)
  }

  test("job budget: IVF_PQ add, build and first refined search") {
    val (add, build, search, add2) = phases("IVF_PQ", refine = 10)
    assert(add == addEmpty && add2 == addNonEmpty, (add, add2))
    // PQ codes, codebooks and SQ16 codes come from driver-held rows
    assert(build == Map("build.state" -> 3, "build.train" -> 2, "build.pq" -> 1,
      "build.centroids" -> 1, "build.codebooks" -> 1, "build.sq16" -> 1,
      "build.records" -> 1), build)
    // the codebook read opens the handle
    assert(search == Map("admit.idPool" -> 1, "admit.packedCodes" -> 2,
      "open.centroids" -> 1, "open.pqIndex" -> 1), search)
  }

  test("job budget: HNSW add, build and first search") {
    val (add, build, search, add2) = phases("HNSW")
    assert(add == addEmpty && add2 == addNonEmpty, (add, add2))
    assert(build == Map("build.state" -> 3, "build.hnsw" -> 5, "build.idmap" -> 1,
      "build.records" -> 1), build)
    // the meta read, the size estimate's dim probe and the graphs'
    // collect (all three tables read with declared schemas)
    assert(search == Map("admit.idPool" -> 1, "admit.hnsw" -> 5), search)
  }

  test("job budget: a repeat IVF_PQ plan call on one handle collects no centroids") {
    val rng = new scala.util.Random(3)
    val vecs = (0 until 400).map(i => (i.toLong, Seq.fill(16)(rng.nextFloat())))
      .toDF("id", "vec")
    // a snapshot-backed handle, as the engine opens: its centroid table
    // is a parquet read, so collecting it is a job
    val dir = Files.createTempDirectory("jobs_pq_plan").toString
    graft.operators.IvfPq.save(
      graft.operators.IvfPq.build(vecs, nlist = 4, m = 4, k = 16), dir)
    val idx = graft.operators.IvfPq.load(spark, dir)
    val q = Seq((1L, Seq.fill(16)(0.5f))).toDF("query_id", "qvec")
    graft.operators.IvfPq.search(idx, q, 5, nprobe = 2).collect()
    val (rows, jobs) = JobCount.byStage(spark)(
      graft.operators.IvfPq.search(idx, q, 5, nprobe = 2).collect())
    assert(rows.length == 5)
    assert(!jobs.contains("open.centroids"), jobs)
  }

  /** The first filtered search on a tagged corpus: besides the tail and
    * the id pool, it admits the tag index. */
  private def firstFiltered(algo: String): Map[String, Int] = {
    val root = Files.createTempDirectory(s"jobs_filtered_$algo").toString
    val eng = new GraftEngine(spark, root)
    eng.add(records("idx", 640, 16, 7).withColumn("tags", array(
      when(substring(col("id"), 2, 9).cast("int") % 2 === 0, "even").otherwise("odd"))))
    eng.build("t1", "idx", nlist = 4, algo = algo, pqM = 4, pqK = 16)
    val q = Array((1L, Array.fill(16)(0.5f)))
    val (res, jobs) = JobCount.byStage(spark)(
      eng.searchRowsFilteredTraced("t1", "idx", q, 5, "L2", 2, Seq("even")))
    assert(res.exists(_._1.length == 5), res.map(_._2))
    show(s"$algo first filtered search (${res.get._2.path})", jobs)
    jobs
  }

  // the tag index: its size aggregation (2 jobs) and its collect over
  // the records table's declared schema
  test("job budget: IVF_FLAT first filtered search") {
    val jobs = firstFiltered("IVF_FLAT")
    assert(jobs == Map("admit.idPool" -> 1, "admit.tagIndex" -> 3,
      "admit.packedFloats" -> 2, "open.centroids" -> 1), jobs)
  }

  test("job budget: IVF_PQ first filtered search") {
    val jobs = firstFiltered("IVF_PQ")
    assert(jobs == Map("admit.idPool" -> 1, "admit.tagIndex" -> 3,
      "admit.packedCodes" -> 2, "open.centroids" -> 1, "open.pqIndex" -> 1), jobs)
  }
}
