package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job budgets, in the style of PlanShapeSpec: the number of Spark jobs
  * each phase submits, per module, pinned. Most of a small build's wall
  * time is the driver's per-job overhead, so a job that comes back shows
  * up here by the module that submitted it. */
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
    * per-module jobs of each phase. */
  private def phases(algo: String, refine: Int = 0)
      : (Map[String, Int], Map[String, Int], Map[String, Int], Map[String, Int]) = {
    val root = Files.createTempDirectory(s"jobs_$algo").toString
    val eng = new GraftEngine(spark, root)
    val corpus = records("idx", 640, 16, 7)
    val (_, addJobs) = JobCount.byModule(spark)(eng.add(corpus))
    val (_, buildJobs) = JobCount.byModule(spark)(
      eng.build("t1", "idx", nlist = 4, algo = algo, pqM = 4, pqK = 16))
    val q = Array((1L, Array.fill(16)(0.5f)))
    val ((rows, tr), searchJobs) = JobCount.byModule(spark)(
      eng.searchRowsTraced("t1", "idx", q, k = 5, nprobe = 2, refine = refine))
    assert(rows.length == 5, tr)
    val (_, add2Jobs) = JobCount.byModule(spark)(
      eng.add(records("idx", 4, 16, 8, idFrom = 10000)))
    show(s"$algo add (empty log)", addJobs)
    show(s"$algo build", buildJobs)
    show(s"$algo first search (${tr.path})", searchJobs)
    show(s"$algo add (non-empty log)", add2Jobs)
    (addJobs, buildJobs, searchJobs, add2Jobs)
  }

  // "unattributed": the job that materializes the cached state for the
  // build's one state pass runs on a query-stage thread with no graft frame.

  test("job budget: IVF_FLAT add, build and first search") {
    val (add, build, search, add2) = phases("IVF_FLAT")
    assert(add.values.sum == 3 && add2.values.sum == 5, (add, add2))
    // 26 jobs before (GraftEngine 7, IvfFlat 19): the count, the
    // watermark aggregation's extra stages. IvfFlat 17 before (MLlib
    // KMeans: k-means|| rounds, one job per Lloyd iteration, the summary);
    // the driver trainer's sample collect is 2 (its shuffle map stage runs
    // on a query-stage thread, hence unattributed 2)
    assert(build == Map("GraftEngine" -> 5, "IvfFlat" -> 1, "unattributed" -> 2), build)
    // 8 before: the row count and the per-list counts, two jobs each
    assert(search == Map("GraftEngine" -> 1, "IvfFlat" -> 2, "unattributed" -> 1), search)
  }

  test("job budget: IVF_PQ add, build and first refined search") {
    val (add, build, search, add2) = phases("IVF_PQ", refine = 10)
    assert(add.values.sum == 3 && add2.values.sum == 5, (add, add2))
    // 43 before (GraftEngine 14, IvfFlat 20, Pq 6, ScalarQuant 2,
    // Sq16Store 1): dim and sample jobs, the codes re-join, the SQ16
    // min/max pass, read-back and wave fetch, a second centroids write
    // IvfFlat 17 before, as for IVF_FLAT
    assert(build == Map("GraftEngine" -> 6, "IvfFlat" -> 1, "Pq" -> 1,
      "unattributed" -> 2), build)
    // 9 before: the row count and the per-list counts, as for IVF_FLAT
    assert(search == Map("GraftEngine" -> 1, "IvfPq" -> 2, "Pq" -> 1,
      "unattributed" -> 1), search)
  }

  test("job budget: HNSW add, build and first search") {
    val (add, build, search, add2) = phases("HNSW")
    assert(add.values.sum == 3 && add2.values.sum == 5, (add, add2))
    // 11 before (GraftEngine 6, Hnsw 5)
    assert(build == Map("GraftEngine" -> 4, "Hnsw" -> 5, "unattributed" -> 1), build)
    // 15 before
    assert(search == Map("GraftEngine" -> 1, "Hnsw" -> 11), search)
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
    val (res, jobs) = JobCount.byModule(spark)(
      eng.searchRowsFilteredTraced("t1", "idx", q, 5, "L2", 2, Seq("even")))
    assert(res.exists(_._1.length == 5), res.map(_._2))
    show(s"$algo first filtered search (${res.get._2.path})", jobs)
    jobs
  }

  // GraftEngine 4: the id pool's collect, then the tag index's size
  // aggregation and collect over the records table's declared schema
  test("job budget: IVF_FLAT first filtered search") {
    val jobs = firstFiltered("IVF_FLAT")
    assert(jobs == Map("GraftEngine" -> 4, "IvfFlat" -> 2, "unattributed" -> 1), jobs)
  }

  test("job budget: IVF_PQ first filtered search") {
    val jobs = firstFiltered("IVF_PQ")
    assert(jobs == Map("GraftEngine" -> 4, "IvfPq" -> 2, "Pq" -> 1,
      "unattributed" -> 1), jobs)
  }
}
