package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IvfFlat

/** The serving handles of a snapshot carry its shape: the row count from
  * the manifest and the per-list lengths from the resident packed lists.
  * Both must match the snapshot's assigned table, on every path that
  * writes one. A snapshot dir left by a build that died before its
  * manifest rename must not leak into the next snapshot written there. */
class SnapshotHandleSpec extends SparkSpec {
  import spark.implicits._

  private def records(n: Int, dim: Int, seed: Int, shift: Float = 0f): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i =>
        (s"v$i", Seq.fill(dim)(rng.nextFloat() + shift), 100L + i))
      .toDF("id", "vector", "updated_at")
      .withColumn("meta", lit(null).cast("string"))
      .withColumn("tags", lit(null).cast("array<string>"))
      .withColumn("tenant_id", lit("t1"))
      .withColumn("index_name", lit("idx"))
  }

  private def build(eng: GraftEngine, algo: String): Unit =
    eng.build("t1", "idx", nlist = 3, algo = algo, pqM = 2, pqK = 16)

  private def counts(df: DataFrame): Map[Int, Long] =
    df.groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** The current snapshot's handle: rows and resident list lengths
    * against a count of its assigned table. */
  private def checkHandle(eng: GraftEngine, algo: String, what: String): Unit = {
    val m = eng.manifest("t1", "idx")
    val (assigned, rows, ranges) =
      if (algo == "IVF_PQ") {
        val h = eng.handlesOf("t1", "idx", m).pqIndex
        (h.assigned, h.rows, h.packedDriver.get.map(_.ranges))
      } else {
        val h = eng.handlesOf("t1", "idx", m).tailIndex
        (h.assigned, h.rows, h.packedDriver.get.map(_.ranges))
      }
    assert(rows == assigned.count(), s"$algo after $what")
    assert(graft.operators.ResidentScan.listSizes(ranges.iterator) == counts(assigned),
      s"$algo after $what")
  }

  for (algo <- Seq("IVF_FLAT", "FLAT", "IVF_PQ"))
    test(s"$algo handle sizes match the assigned table after build, compaction and import") {
      val root = Files.createTempDirectory(s"handles_$algo").toString
      val eng = new GraftEngine(spark, root)
      eng.add(records(90, 8, 11))
      build(eng, algo)
      checkHandle(eng, algo, "build")
      if (algo != "IVF_PQ") {
        eng.add(records(20, 8, 12).withColumn("id", concat(lit("w"), col("id"))))
        eng.compactIncremental("t1", "idx")
        checkHandle(eng, algo, "compactIncremental")
      }
      val dest = Files.createTempDirectory(s"handles_${algo}_export").toString
      eng.exportSnapshot("t1", "idx", dest)
      val other = new GraftEngine(spark,
        Files.createTempDirectory(s"handles_${algo}_import").toString)
      other.importSnapshot("t1", "idx", dest)
      checkHandle(other, algo, "importSnapshot")
    }

  /** Serves `eng`'s tagged corpus every way the rows tier admits a
    * resident: unfiltered, refined (IVF_PQ), and filtered with the per-tag
    * hash set and row bitmaps (the engine's `hashAllowedMinEntries` = 1). */
  private def serveAllWays(eng: GraftEngine, algo: String): Unit = {
    val qs = Array((1L, Array.fill(8)(0.5f)))
    val tail = if (algo == "IVF_PQ") "pqtail" else "tail"
    val (_, tr) = eng.searchRowsTraced("t1", "idx", qs, 5, "L2", nprobe = 2)
    assert(tr.path == s"head+$tail", tr)
    if (algo == "IVF_PQ") {
      val (_, trRefined) = eng.searchRowsTraced("t1", "idx", qs, 5, "L2",
        nprobe = 2, refine = 5)
      assert(trRefined.path == "head+pqtail-refined", trRefined)
    }
    val filtered = eng.searchRowsFilteredTraced("t1", "idx", qs, 5, "L2", 2, Seq("even"))
    assert(filtered.map(_._2.path).contains(s"head+$tail-filtered"), filtered.map(_._2))
  }

  for (algo <- Seq("IVF_FLAT", "IVF_PQ"))
    test(s"$algo: evicting a snapshot version releases everything its handles admitted") {
      val root = Files.createTempDirectory(s"evict_$algo").toString
      val eng = new GraftEngine(spark, root, hashAllowedMinEntries = 1)
      def used = Residency.Lines.map(l => l -> Residency.used(l)).toMap
      // residents of earlier cases return their shares when collected;
      // collect them before the baseline, so they can't mask a leak
      System.gc()
      val baseline = used
      eng.add(records(90, 8, 11).withColumn("tags", array(
        when(substring(col("id"), 2, 9).cast("int") % 2 === 0, "even").otherwise("odd"))))
      build(eng, algo)
      serveAllWays(eng, algo)
      val served = used.map { case (l, u) => l -> (u - baseline(l)) }
      val first = eng.handlesOf("t1", "idx", eng.manifest("t1", "idx"))
      def admitted(m: Residency.Memo[_]) = m.settled.exists(_.isDefined)
      assert(admitted(first.idPool) && admitted(first.tagIndex) &&
        admitted(first.tagHashSets.get("even")) && admitted(first.tagBits.get("even")))
      assert(algo != "IVF_PQ" || admitted(first.sq16))
      val packed = if (algo == "IVF_PQ") None else first.tailIndex.packedIfBuilt.map(_.id)
      assert(algo == "IVF_PQ" || packed.exists(spark.sparkContext.getPersistentRDDs.contains))

      build(eng, algo)
      build(eng, algo)
      val keep = eng.manifest("t1", "idx").version - 1
      import scala.jdk.CollectionConverters._
      assert(eng.handles.keySet.asScala.forall(_._3 >= keep), eng.handles.keySet)
      assert(packed.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)))
      serveAllWays(eng, algo)
      Residency.Lines.foreach { l =>
        assert(Residency.used(l) <= baseline(l) + served(l),
          s"${l.name}: used ${Residency.used(l)}, baseline ${baseline(l)}, served ${served(l)}")
      }
    }

  private def copyTree(src: Path, dest: Path): Unit =
    Files.walk(src).forEach { p =>
      val target = dest.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    }

  test("a crashed build's leftover snapshot dir is cleared before the next build writes it") {
    val corpus = records(60, 8, 21)
    // the sq16 store budget admits the orphan's store (40 rows) but not
    // this corpus's (60): the rebuild writes no segment sidecar
    val budget = graft.operators.Sq16Store.estimateBytes(50, 8)
    assert(graft.operators.Sq16Store.estimateBytes(40, 8) <= budget &&
      graft.operators.Sq16Store.estimateBytes(60, 8) > budget)
    val orphanRoot = Files.createTempDirectory("crash_orphan").toString
    val orphanEng = new GraftEngine(spark, orphanRoot)
    orphanEng.add(records(40, 8, 22, shift = 5f))
    build(orphanEng, "IVF_PQ")
    val orphan = Paths.get(s"$orphanRoot/indexes/t1/idx/v1")
    assert(Files.isRegularFile(orphan.resolve("sq16/segments/meta.json")))

    val root = Files.createTempDirectory("crash_root").toString
    val eng = new GraftEngine(spark, root, sq16MaxBytes = budget)
    eng.add(corpus)
    build(eng, "IVF_PQ")
    // a build of another corpus died after writing v2, before the rename
    copyTree(orphan, Paths.get(s"$root/indexes/t1/idx/v2"))
    build(eng, "IVF_PQ")
    assert(eng.manifest("t1", "idx").version == 2L)

    val cleanRoot = Files.createTempDirectory("crash_clean").toString
    val clean = new GraftEngine(spark, cleanRoot, sq16MaxBytes = budget)
    clean.add(corpus)
    build(clean, "IVF_PQ")
    val qs = Array((1L, Array.fill(8)(0.5f)))
    val (rows, tr) = eng.searchRowsTraced("t1", "idx", qs, 5, "L2",
      nprobe = 2, refine = 5)
    val (want, trClean) = clean.searchRowsTraced("t1", "idx", qs, 5, "L2",
      nprobe = 2, refine = 5)
    assert(rows.length == 5, tr)
    assert(tr.path == trClean.path, (tr, trClean))
    assert(rows.toSeq == want.toSeq, (tr, trClean))
    assert(!Files.exists(Paths.get(s"$root/indexes/t1/idx/v2/sq16/segments")))
  }
}
