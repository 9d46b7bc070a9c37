package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IvfFlat
import GraftEngine._

/** The resident handles a [[GraftEngine]] serves from: one
  * [[SnapshotHandles]] per (tenant, index, snapshot version), their
  * eviction once a version leaves the retention window, and the boot-time
  * warm-up that admits them ahead of the first call. */
private[graft] trait ResidentHandles { self: GraftEngine =>

  /** Everything the engine serves one snapshot version from: the read
    * handles, the measured residency estimates, and the resident
    * structures the rows tier admits on the [[Residency]] ledger. All of
    * it is immutable per version. The engine keeps one instance per
    * (tenant, index, version) in [[handles]] and calls [[release]] when
    * the version leaves the retention window. Only the version's fixed
    * manifest fields are read: algo and row count.
    *
    * Each resident is a [[Residency.Memo]]: concurrent first callers wait
    * for one admission, a per-handle denial is kept (the rows tier then
    * falls back to the plan on every later call without re-measuring),
    * and a Busy line is retried. Each estimate is a lazy val apart from
    * its admission, so a retry never reruns a measuring job. Lazy vals
    * share this object's monitor, so no lazy initializer may call a Memo:
    * a Memo admission that reads an estimate would deadlock against it.
    * Initializers only read. */
  private[graft] final class SnapshotHandles(snap: String, m: Manifest,
                                             poolEstSeed: Option[Long]) {
    // release() must not open a read handle that was never opened:
    // opening resolves files that the snapshot GC has deleted by then
    @volatile private var tailOpened, pqOpened = false

    /** Inverted-list handle: lazy driver-side centroids, the packed
      * serving RDD and its resident copy. */
    lazy val tailIndex: IvfFlat.Index = {
      val t = IvfFlat.Index(
        spark.read.schema(VectorsSchema).parquet(s"$snap/vectors"),
        spark.read.schema(CentroidsSchema).parquet(s"$snap/centroids"),
        m.nVectors)
      tailOpened = true
      t
    }

    /** IVF_PQ handle; its resident byte codes and codebook load on first
      * use. */
    lazy val pqIndex: graft.operators.IvfPq.Index = Stage.run(spark, "open.pqIndex") {
      val p = graft.operators.IvfPq.Index(
        spark.read.schema(PqCodesSchema).parquet(s"$snap/ivfpq/codes")
          .select("id", "cluster_id", "codes"),
        spark.read.schema(CentroidsSchema).parquet(s"$snap/ivfpq/centroids"),
        graft.operators.Pq.loadCodebook(spark, s"$snap/ivfpq/codebooks"),
        m.nVectors)
      pqOpened = true
      p
    }

    /** The raw centroid table, apart from [[tailIndex]]'s: every algo but
      * HNSW writes it (IVF_PQ for the cache layer), while opening an
      * IvfFlat.Index resolves `vectors/`, which HNSW and IVF_PQ
      * snapshots don't have. */
    lazy val centroids: Array[(Int, Array[Float])] = Stage.run(spark, "open.centroids")(
      spark.read.schema(CentroidsSchema).parquet(s"$snap/centroids").collect())
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

    /** MIPS fold constant M² of an IP-built IVF_PQ snapshot: reading it
      * per call would put a parquet listing and a head job on the serving
      * hot path. */
    lazy val mipsMaxSq: Double = Stage.run(spark, "open.mips")(
      spark.read.schema(MipsSchema).parquet(s"$snap/ivfpq/mips").head.getDouble(0))

    // (id, id_str): inverted-list snapshots keep it in vectors/, IVF_PQ
    // alongside the codes, HNSW in its idmap table
    private lazy val idTable: DataFrame = {
      val (sub, schema) = m.algo match {
        case "IVF_PQ" => ("ivfpq/codes", PqCodesSchema)
        case "HNSW" => ("idmap", IdMapSchema)
        case _ => ("vectors", VectorsSchema)
      }
      spark.read.schema(schema).parquet(s"$snap/$sub").select(col("id"), col("id_str"))
    }

    private lazy val poolEst: Long = poolEstSeed.getOrElse {
      val stats = idTable.agg(count(lit(1)), sum(octet_length(col("id_str")))).head
      val n = stats.getLong(0)
      val strBytes = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      n * 12L + strBytes + 32L
    }

    /** Surrogate → user-facing string id: a compact [[IdPool]], admitted
      * on the ids-tags line by exact measured bytes before any collect,
      * and built from executor-side pre-sorted packed runs (never n boxed
      * driver rows). */
    val idPool = new Residency.Memo[IdPool](Stage.run(spark, "admit.idPool")(
      Residency.admit(Residency.IdsTags, poolEst, idPoolMaxBytes) {
        IdPool.merge(idTable.queryExecution.toRdd.mapPartitions { it =>
          // toString materializes an owned copy — UnsafeRow buffers are
          // reused across next() calls, so the bytes must not alias them
          IdPool.packRun(it.map(r => (r.getLong(0),
            r.getUTF8String(1).toString
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        }.collect())
      }))

    private lazy val records = spark.read
      .schema("id_str STRING, meta STRING, tags ARRAY<STRING>")
      .parquet(s"$snap/records")
    private def tagsCol = orEmpty(col("tags"))

    // ≈ 8 bytes per (record, tag) entry: the per-DISTINCT-tag key strings
    // are noise next to the long arrays
    private lazy val tagsEst: Long = {
      val stats = records.agg(sum(size(tagsCol))).head
      val entries = if (stats.isNullAt(0)) 0L else stats.getLong(0)
      entries * 8L + 64L
    }

    /** Tag → sorted surrogate array for the filtered rows tier (the
      * reference keeps per-record tags in the same heap it scans,
      * VectorCommandSet.cs:461-480). Sorted arrays, not hash sets, so the
      * scan kernel's membership test is one allocation-free binary
      * search. Built like [[idPool]]: each partition groups its (tag,
      * surrogate) pairs on the executors and the driver concatenates and
      * sorts per tag, so the transient driver footprint is the final
      * index. A denial keeps filtered calls on the distributed plan. */
    val tagIndex = new Residency.Memo[Map[String, Array[Long]]](Stage.run(spark, "admit.tagIndex")(
      Residency.admit(Residency.IdsTags, tagsEst, idPoolMaxBytes) {
        val parts = records
          .select(xxhash64(col("id_str")).as("sg"), explode(tagsCol).as("tag"))
          .queryExecution.toRdd.mapPartitions { it =>
            val local = scala.collection.mutable.HashMap
              .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
            while (it.hasNext) {
              val r = it.next()
              // toString: an owned copy, never the reused UnsafeRow buffer
              local.getOrElseUpdate(r.getUTF8String(1).toString,
                scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(0)
            }
            local.iterator.map { case (t, buf) => (t, buf.toArray) }
          }.collect()
        parts.groupBy(_._1).map { case (t, runs) =>
          val total = runs.map(_._2.length).sum
          val a = new Array[Long](total)
          var o = 0
          runs.foreach { case (_, run) =>
            System.arraycopy(run, 0, a, o, run.length); o += run.length
          }
          java.util.Arrays.sort(a)
          t -> a
        }
      }))

    private lazy val hnswMeta = graft.operators.Hnsw.readMeta(spark, s"$snap/hnsw")
    private lazy val hnswEst: Long =
      graft.operators.Hnsw.residentBytes(spark, s"$snap/hnsw", hnswMeta)

    /** Driver-resident HNSW graphs: an oversized graph set pays the meta
      * read once and every later call short-circuits; a retried (Busy)
      * admission reuses the meta rows and the estimate. */
    val hnswGraphs = new Residency.Memo[Array[(Int, graft.operators.Hnsw.Graph)]](
      Stage.run(spark, "admit.hnsw")(
        graft.operators.Hnsw.loadResident(spark, s"$snap/hnsw", hnswMeta, hnswEst)))

    private def segDir = s"$snap/sq16/segments"
    private lazy val sq16Sidecar = graft.operators.Sq16Store.sidecarExists(segDir)

    // (n, dim); None = permanently ineligible: no sidecar, empty, or
    // mixed dims (no flat layout)
    private lazy val sq16Stats: Option[(Long, Int)] =
      if (sq16Sidecar) {
        // segment sidecar: rows/dim from its meta, no Spark job (the
        // parquet aggregation below scans the whole array column just
        // to size it)
        val (n, d) = graft.operators.Sq16Store.sidecarStats(segDir)
        if (n == 0) None else Some((n, d))
      } else if (!sq16TableExists(snap)) None
      else {
        val stats = spark.read.schema(Sq16CodesSchema).parquet(s"$snap/sq16/codes")
          .agg(count(lit(1)), min(size(col("qvec16"))), max(size(col("qvec16")))).head
        val n = stats.getLong(0)
        if (n == 0 || stats.isNullAt(1) || stats.getInt(1) != stats.getInt(2)) None
        else Some((n, stats.getInt(1)))
      }

    /** Resident SQ16 rerank store, on the ledger's refine line (apart from
      * ids-tags, so refine residency can't starve the pools) under
      * `sq16MaxBytes`. A denial keeps refined calls on the plan. */
    val sq16 = new Residency.Memo[graft.operators.Sq16Store](Stage.run(spark, "admit.sq16")(sq16Stats match {
      case None => Residency.Denied
      case Some((n, dim)) =>
        // the shared estimator counts the per-segment headers, so the
        // admitted estimate never undercounts the built store; segmented
        // (Sq16Store.SegMaxCodes), it has no Int-indexed array ceiling
        val est = graft.operators.Sq16Store.estimateBytes(n, dim)
        Residency.admit(Residency.Refine, est, sq16MaxBytes) {
          // the segment sidecar when the snapshot carries it (a
          // sequential file read, no Spark job); the wave-fetch build
          // for pre-sidecar snapshots
          val store =
            if (sq16Sidecar) graft.operators.Sq16Store.load(segDir)
            else {
              val codes = spark.read.schema(Sq16CodesSchema).parquet(s"$snap/sq16/codes")
              val p = graft.operators.ScalarQuant.loadParams(s"$snap/sq16/params.json")
              graft.operators.Sq16Store.buildResident(codes, dim, p.min, p.max,
                estBytes = est)
            }
          // a u8 store admitted while sq16 was Busy is never served
          // again once this store exists (the serve path's orElse
          // short-circuits): drop it and return its share
          sq8.release()
          store
        }
    }))

    /** Degraded-tier u8 store (see `refineU8Fallback`): the sq16 segment
      * sidecar streamed at half size, on the same refine-store budget (the
      * point is fitting where the full-precision copy did not). Snapshots
      * without a segment sidecar are denied: the degraded tier exists for
      * budget-tight serving, which reads sidecars written at build. */
    val sq8 = new Residency.Memo[graft.operators.Sq8Store](
      if (!sq16Sidecar) Residency.Denied
      else {
        val (n, dim) = graft.operators.Sq16Store.sidecarStats(segDir)
        if (n == 0) Residency.Denied
        else Residency.admit(Residency.Refine,
            graft.operators.Sq8Store.estimateBytes(n, dim), sq16MaxBytes)(
          graft.operators.Sq16Store.loadAsU8(segDir))
      })

    // per-tag hash sets and row bitmaps, only for tags that serve large
    // filtered calls; private[graft]: specs read their settled answers
    private[graft] val tagHashSets =
      new java.util.concurrent.ConcurrentHashMap[String, Residency.Memo[graft.operators.LongHashSet]]()
    private[graft] val tagBits =
      new java.util.concurrent.ConcurrentHashMap[String, Residency.Memo[Array[Array[Long]]]]()

    // the Memo is made inside computeIfAbsent; its admission runs outside
    private def tagMemo[T >: Null <: AnyRef](
        memos: java.util.concurrent.ConcurrentHashMap[String, Residency.Memo[T]],
        tag: String)(admission: => Residency.Admission[T]): T =
      memos.computeIfAbsent(tag, _ => new Residency.Memo(admission)).get.orNull

    /** Hash membership for a large single-tag filter, ~2× the sorted
      * array's bytes, on the ids-tags line. Budgeted before building: a
      * half-corpus tag's set is ~128 MB at 10M rows (capacity = next
      * pow2 ≥ 2n, 8 B/slot), and many large tags could otherwise starve
      * future id pools. A denial is null to the kernels, which keep the
      * binary search: slower, never wrong. The shared estimator keeps the
      * estimate equal to what the built set registers. */
    def tagHashSet(tag: String, sorted: Array[Long]): graft.operators.LongHashSet =
      tagMemo(tagHashSets, tag)(Residency.admit(Residency.IdsTags,
        graft.operators.LongHashSet.estimateBytes(sorted.length),
        idPoolMaxBytes)(graft.operators.LongHashSet.from(sorted)))

    /** Row-position bitmaps for `tag`, aligned with the resident tier's
      * parts (`idsPerPart`): filtered membership becomes a sequential bit
      * test in scan order (~nRows/8 bytes per tag). Alignment is sound
      * because the parts are the handles' resident arrays, whose identity
      * and row order are fixed for the version's lifetime. The estimate
      * is exact: it is what the built bitmaps occupy. */
    def tagRowBits(tag: String, idsPerPart: Array[Array[Long]],
                   member: graft.operators.LongHashSet,
                   sorted: Array[Long]): Array[Array[Long]] =
      tagMemo(tagBits, tag) {
        val est = idsPerPart.iterator
          .map(ids => ((ids.length + 63) >>> 6).toLong * 8L).sum + 64L
        Residency.admit(Residency.IdsTags, est, idPoolMaxBytes) {
          // membership via the probe set when one exists; a budget-denied
          // hash set must not take the bitmap down with it: the one-time
          // construction binary-searches the sorted array instead
          // (~nRows·log|tag| comparisons). The bitmap is ~100× smaller
          // than the set (nRows/8 bytes vs 16 B/entry), so at 10M rows the
          // corpora whose hash sets blow the budget most need this path
          idsPerPart.map { ids =>
            val b = new Array[Long]((ids.length + 63) >>> 6)
            var r = 0
            while (r < ids.length) {
              val in =
                if (member != null) member.contains(ids(r))
                else java.util.Arrays.binarySearch(sorted, ids(r)) >= 0
              if (in) b(r >>> 6) |= 1L << (r & 63)
              r += 1
            }
            b
          }
        }
      }

    /** Return every admitted resident's ledger share and unpersist the
      * packed RDD: called once the version is out of [[handles]]. */
    def release(): Unit = {
      if (tailOpened) {
        // packedIfBuilt, not packed: forcing the lazy would launch the
        // pack job against the snapshot files the GC just deleted
        tailIndex.packedIfBuilt.foreach(_.unpersist(blocking = false))
        tailIndex.packedResident.release()
      }
      if (pqOpened) pqIndex.packedResident.release()
      Seq(idPool, tagIndex, hnswGraphs, sq16, sq8).foreach(_.release())
      tagHashSets.values.forEach(_.release())
      tagBits.values.forEach(_.release())
    }
  }

  /** One [[SnapshotHandles]] per (tenant, index, version). */
  private[graft] val handles =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long), SnapshotHandles]()

  private[graft] def handlesOf(tenant: String, index: String,
                               m: Manifest): SnapshotHandles =
    handles.computeIfAbsent((tenant, index, m.version),
      _ => new SnapshotHandles(snapDir(tenant, index, m), m, poolEstSeed = None))

  private[graft] def sq16TableExists(snap: String): Boolean =
    Files.isDirectory(Paths.get(s"$snap/sq16/codes"))

  /** Refine-store choice for PLAN-path refined calls (the rows tier's
    * fallback, the wire's WITH_META branch and any other direct
    * [[search]] caller that wants tier parity): "sq16" when the snapshot
    * carries the sidecar — the same dequantized floats the rows tier
    * reranks with — else "exact" (pre-sidecar snapshots). */
  private[graft] def refineStoreFor(tenant: String, index: String,
                                    m: Manifest): String =
    if (m.algo == "IVF_PQ" && sq16TableExists(snapDir(tenant, index, m))) "sq16"
    else "exact"

  /** Pre-materialize every built index's resident serving handles
    * (packed floats / byte codes / graphs, plus the id pool) so the
    * FIRST wire call after a process restart serves at steady-state
    * latency instead of paying the one-time pack + pool build (~20-40 s
    * at the 10M rung). The reference is effectively warm at boot — its
    * vectors re-enter process memory during AOF replay before the
    * socket opens; this is the bounded analog, run from ServerMain on a
    * background thread so the planes open immediately. Residency
    * budgets still decide: an over-budget index memoizes its denial
    * here exactly as it would on first call. Per-index failures log and
    * skip — warming is an optimization, never a correctness gate.
    * Returns (warmed, skipped). */
  def warmServing(): (Int, Int) = {
    val base = Paths.get(s"$root/indexes")
    if (!Files.isDirectory(base)) return (0, 0)
    var ok = 0
    var skipped = 0
    import scala.jdk.CollectionConverters._
    def subdirs(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val l = Files.list(p)
      try l.iterator().asScala.toSeq.filter(Files.isDirectory(_))
      finally l.close()
    }
    for (tDir <- subdirs(base); iDir <- subdirs(tDir)) {
      val tenant = tDir.getFileName.toString
      val index = iDir.getFileName.toString
      try {
        val m = manifest(tenant, index)
        if (m.version > 0) {
          // the serving gates decide what warms ([[rowsTierOf]], the
          // resolver every rows call runs): warming an index they deny
          // would strand bytes on the ledger. Then force every lazy the
          // first call's tail kernel would pay: the packed collect, the
          // centroid collect, and the MIPS fold constant of IP-built PQ.
          rowsTierOf(tenant, index, m, refine = false, filtered = false,
              hnsw = true).foreach(_.tail match {
            case FlatTail =>
              val tail = handlesOf(tenant, index, m).tailIndex
              tail.packedDriver
              tail.centroidsLocal
            case PqTail(pq, _) =>
              pq.centroidsLocal
              if (m.metric == "IP") handlesOf(tenant, index, m).mipsMaxSq
            case HnswTail(_) => ()
          })
          // refined calls' store: the resolver's last gate on PQ indexes
          rowsTierOf(tenant, index, m, refine = true, filtered = false,
            hnsw = true)
          ok += 1
        } else skipped += 1
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[warm] $tenant/$index skipped: ${e.getMessage}")
          skipped += 1
      }
    }
    (ok, skipped)
  }

  /** Release the handle sets of snapshot versions older than `keep`,
    * [[gcOldSnapshots]]'s retention window, so repeated builds and
    * compactions don't pin stale residents and packed RDDs for the
    * engine's lifetime. */
  private[graft] def evictStaleHandles(tenant: String, index: String, keep: Long): Unit =
    handles.forEach { (k, h) =>
      if (k._1 == tenant && k._2 == index && k._3 < keep && handles.remove(k, h))
        h.release()
    }
}
