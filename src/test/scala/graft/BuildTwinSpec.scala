package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The driver-local build and the distributed build are twins: built
  * from the same corpus, every snapshot artifact comes out the same —
  * the same row sets, centroids and codebooks bit for bit, byte-identical
  * SQ16 segments, params and manifest. */
class BuildTwinSpec extends SparkSpec {
  import spark.implicits._

  /** 300 clustered rows; with `nullAt`, that row's vector has a null
    * element. */
  private def corpus(index: String, nullAt: Option[Int] = None) = {
    val rng = new scala.util.Random(11)
    val centres = Array.fill(5, 8)(rng.nextGaussian().toFloat * 3f)
    (0 until 300).map { i =>
      val c = centres(i % centres.length)
      val v: Seq[java.lang.Float] =
        c.map(x => java.lang.Float.valueOf(x + rng.nextGaussian().toFloat)).toSeq
      (s"id-$i", if (nullAt.contains(i)) v.updated(2, null) else v,
        s"m$i", Seq(s"t${i % 3}"), 100L + i)
    }.toDF("id", "vector", "meta", "tags", "updated_at")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("index_name", lit(index))
  }

  /** A row as text that tells floats apart by their bits and bytes by
    * their values. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case o => o.toString
  }

  private def files(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(dir.relativize).toSeq.sorted
    finally s.close()
  }

  /** The parquet tables under a snapshot: every directory holding a
    * _SUCCESS marker. */
  private def tables(snap: Path): Seq[String] =
    files(snap).filter(_.getFileName.toString == "_SUCCESS")
      .map(p => Option(p.getParent).map(_.toString).getOrElse("")).sorted

  /** An IVF_PQ build's index dir, whether it ran on driver-held rows,
    * and its job count. */
  private def build(metric: String, localMaxBytes: Long,
                    nullAt: Option[Int] = None, nlist: Int = 3): (Path, Boolean, Int) = {
    val root = Files.createTempDirectory(s"twin_$metric")
    val eng = new GraftEngine(spark, root.toString)
    eng.add(corpus("idx", nullAt))
    val (local, jobs) = JobCount.byModule(spark)(
      eng.buildWith("t1", "idx", nlist = nlist, metric = metric, seed = 42L,
        algo = "IVF_PQ", pqM = 4, pqK = 16, localMaxBytes = localMaxBytes))
    (root.resolve("indexes/t1/idx"), local, jobs.values.sum)
  }

  /** Every artifact of two snapshots is the same: sorted rows of each
    * parquet table, and the other files byte for byte. */
  private def assertSameSnapshot(local: Path, dist: Path): Unit = {
    assert(Files.readString(local.resolve("manifest.json")) ==
      Files.readString(dist.resolve("manifest.json")))
    val (ls, ds) = (local.resolve("v1"), dist.resolve("v1"))
    val tabs = tables(ls)
    assert(tabs == tables(ds))
    assert(tabs.contains("records") && tabs.contains("centroids"), tabs)
    tabs.foreach { t =>
      def rows(p: Path) = spark.read.parquet(p.resolve(t).toString).collect()
        .map(canon).sorted.toSeq
      val (a, b) = (rows(ls), rows(ds))
      assert(a.nonEmpty, t)
      assert(a == b, s"table $t differs")
    }
    // non-parquet artifacts (SQ16 params and segments) byte for byte
    val raw = files(ls).filterNot(p => tabs.exists(t => p.startsWith(t)))
    assert(raw == files(ds).filterNot(p => tabs.exists(t => p.startsWith(t))))
    assert(raw.exists(_.toString.startsWith("sq16/segments/seg-")) &&
      raw.contains(Paths.get("sq16/params.json")), raw)
    raw.foreach { p =>
      assert(java.util.Arrays.equals(Files.readAllBytes(ls.resolve(p)),
        Files.readAllBytes(ds.resolve(p))), s"$p differs")
    }
  }

  // Only IVF_PQ builds on the driver: the other algos write one
  // assignment or graph job from the cached state on either path.
  for (metric <- Seq("L2", "COSINE", "IP"))
    test(s"driver-local and distributed builds write the same IVF_PQ/$metric snapshot") {
      val (local, ranLocal, localJobs) = build(metric, 16L << 20)
      val (dist, ranDist, distJobs) = build(metric, 0L)
      assert(ranLocal && !ranDist)
      // the rows come back with the stats; the driver-local path saves
      // the encode, read-back and SQ16 jobs
      assert(localJobs < distJobs,
        s"the driver-local build ran $localJobs jobs, the distributed one $distJobs")
      assertSameSnapshot(local, dist)
    }

  test("a vector with a null element fails the IVF_PQ build on either path") {
    // the distributed build has no value for a null element and fails;
    // the driver-local one must not read it as 0 and write a snapshot
    // (nlist 1: no KMeans job that would fail first)
    def failure(localMaxBytes: Long) = intercept[Exception](
      build("L2", localMaxBytes, nullAt = Some(7), nlist = 1)).getMessage
    val (local, dist) = (failure(16L << 20), failure(0L))
    assert(local.contains("NOT_NULL_ASSERT_VIOLATION"), local)
    assert(dist.contains("NOT_NULL_ASSERT_VIOLATION"), dist)
  }
}
