package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col

/** One partition's inverted lists in flat storage: ids plus `width`
  * payload elements per row — float vectors for IVF_FLAT, PQ code bytes
  * for IVF_PQ — rows grouped by cluster with (start, len) ranges. The
  * reference's flat vector layout (BruteForceVectorIndex.cs:11-25,
  * HnswVectorIndex "Flat Vector Storage") per Spark partition. */
final class PackedPart[E](val width: Int, val ids: Array[Long],
                          val payload: Array[E],
                          val ranges: java.util.HashMap[Int, Array[Int]])
  extends Serializable

/** A filter's resolved membership, as the scan kernels test it: a sorted
  * surrogate array, a [[LongHashSet]] built from exactly that array,
  * and/or one row-position bitmap per resident part (aligned with the
  * parts array it was built over). All null admits every row. */
final case class AllowedSet(sorted: Array[Long] = null,
                            hash: LongHashSet = null,
                            bits: Array[Array[Long]] = null) {
  def isAll: Boolean = sorted == null && hash == null && bits == null

  /** Id membership from whichever id form is present: the hash set (1-2
    * probes) before the sorted array (a binary search). */
  def containsId(id: Long): Boolean =
    if (hash != null) hash.contains(id)
    else sorted == null || java.util.Arrays.binarySearch(sorted, id) >= 0

  /** Part `pi`'s row bitmap, or null without bitmaps. */
  def partBits(pi: Int): Array[Long] = if (bits == null) null else bits(pi)

  /** The per-row test of the scan kernels: row `r` (id `id`) of a part
    * whose bitmap is `partBits` — a sequential bit test when the part
    * has one, else id membership. */
  def admits(partBits: Array[Long], r: Int, id: Long): Boolean =
    if (partBits != null) ((partBits(r >>> 6) >>> (r & 63)) & 1L) != 0L
    else containsId(id)
}

object AllowedSet {
  val All: AllowedSet = AllowedSet()
}

/** What differs per algo in a resident scan: score rows [start, end) of
  * part `p`'s list for cluster `cid`, for each probing query (indexes
  * into the call's batch), into that query's buffer. `partBits` is the
  * part's row bitmap or null; the kernel tests every row with
  * [[AllowedSet.admits]] before scoring it. */
trait RowKernel[E] {
  def scan(bufs: Array[TopKBuf], p: PackedPart[E], cid: Int,
           probing: Array[Int], start: Int, end: Int,
           partBits: Array[Long]): Unit
}

/** The resident IVF scan shared by IVF_FLAT and IVF_PQ: the cluster-keyed
  * pack, the probe inversion, the work-bounded tier dispatch, the shared
  * driver pool and the final (score desc, id asc) cut. Only the
  * [[RowKernel]] differs per algo. */
object ResidentScan {

  /** One [[PackedPart]] per partition of `frame` (id BIGINT, cluster_id
    * INT, payload) after a cluster-keyed exchange, so each inverted list
    * lands whole in one part; rows ordered by (cluster, id). `payload`
    * reads a row's owned copy of its payload column. Under AQE, building
    * the RDD already runs the exchange's map stage, so callers build it
    * inside their admission's [[graft.Stage]]. */
  def pack[E: ClassTag](frame: DataFrame,
                        payload: InternalRow => Array[E]): RDD[PackedPart[E]] =
    frame.repartition(col("cluster_id")).queryExecution.toRdd.mapPartitions { it =>
      val ids = ArrayBuffer.empty[Long]
      val cls = ArrayBuffer.empty[Int]
      val rows = ArrayBuffer.empty[Array[E]]
      while (it.hasNext) {
        val row = it.next()
        ids += row.getLong(0)
        cls += row.getInt(1)
        rows += payload(row)
      }
      if (ids.isEmpty) Iterator.empty
      else {
        val n = ids.length
        val width = rows(0).length
        val order = Array.range(0, n).sortBy(i => (cls(i), ids(i)))
        val pIds = new Array[Long](n)
        val pay = new Array[E](n * width)
        val ranges = new java.util.HashMap[Int, Array[Int]]()
        var i = 0
        while (i < n) {
          val src = order(i)
          pIds(i) = ids(src)
          System.arraycopy(rows(src), 0, pay, i * width, width)
          val c = cls(src)
          val r = ranges.get(c)
          if (r == null) ranges.put(c, Array(i, 1)) else r(1) += 1
          i += 1
        }
        Iterator(new PackedPart(width, pIds, pay, ranges))
      }
    }

  /** Rows per inverted list, summed over packed parts' `ranges` — no
    * job: the parts already hold every list's length. */
  private[graft] def listSizes(
      ranges: Iterator[java.util.HashMap[Int, Array[Int]]]): scala.collection.Map[Int, Long] = {
    val sizes = scala.collection.mutable.HashMap.empty[Int, Long]
    ranges.foreach(_.forEach((c, r) => sizes(c) = sizes.getOrElse(c, 0L) + r(1)))
    sizes
  }

  /** cluster → indexes of the queries probing it, from each query's
    * top-`nprobe` ranking ([[IvfFlat.rankProbes]]: metric score, cluster
    * id tie-break). Every query must be as wide as the centroids: a
    * wrong-width query fails with the typed dimension error before any
    * kernel indexes past its end. */
  def probeMap(cents: Array[(Int, Array[Float])], qvecs: Array[Array[Float]],
               metricU: String, nprobe: Int): Map[Int, Array[Int]] = {
    cents.headOption.foreach { case (_, cv) =>
      qvecs.foreach { qv =>
        if (qv.length != cv.length) throw new graft.DimensionMismatchException(
          s"vector dimension mismatch: ${qv.length} vs ${cv.length}")
      }
    }
    val byCluster = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Int]]
    var qi = 0
    while (qi < qvecs.length) {
      IvfFlat.rankProbes(cents, qvecs(qi), metricU, nprobe).foreach { cid =>
        byCluster.getOrElseUpdate(cid, ArrayBuffer.empty) += qi
      }
      qi += 1
    }
    byCluster.map { case (c, qs) => (c, qs.toArray) }.toMap
  }

  /** Resident serving: the ranked rows (query_id, rank, id, score) of
    * `qids`' probed lists over driver-resident `parts`, or None when the
    * parts are not resident or the probed work passes `mtBound` — the
    * caller then takes its own fallback.
    *
    * Dispatch on EXACT probed work — per probed cluster, its real row
    * count × probing queries × row width, read off the parts' ranges — so
    * skewed inverted lists cannot route a big scan to a driver tier:
    *   work ≤ stBound → single-threaded scan in the calling thread;
    *   work ≤ mtBound → the shared pool ([[scanMT]]).
    * `tier` prefixes the counted tier names ("" IVF_FLAT, "pq." IVF_PQ);
    * `splitRanges` lets the few-query MT shape split one list range
    * across tasks. */
  def serve[E](parts: Option[Array[PackedPart[E]]], probes: Map[Int, Array[Int]],
               qids: Array[Long], k: Int, stBound: Long, mtBound: Long,
               tier: String, allowed: AllowedSet, splitRanges: Boolean,
               kernel: RowKernel[E]): Option[Array[(Long, Int, Long, Double)]] =
    parts.flatMap { ps =>
      val sizes = listSizes(ps.iterator.map(_.ranges))
      val rowScans = probes.foldLeft(0L) { case (s, (cid, probing)) =>
        s + sizes.getOrElse(cid, 0L) * probing.length
      }
      val work = rowScans * ps.headOption.fold(0)(_.width)
      Option.when(work <= mtBound) {
        val partials =
          if (work <= stBound) {
            countTier(tier + "driver")
            scanParts(ps.iterator, probes, qids.indices, k, allowed, kernel).toArray
          } else {
            countTier(tier + "driverMT")
            scanMT(ps, probes, qids.length, k, allowed, splitRanges, rowScans, kernel)
          }
        rankTopK(partials, k)(qids(_))
      }
    }

  /** Every probed list of `parts` for `queries` (the indexes `probes`
    * names), one bounded buffer per query: (query index, id, score) of
    * each buffer's best k. Part ordinals index `allowed`'s bitmaps, so an
    * executor task (partition-local ordinals) passes a set without
    * bitmaps. */
  def scanParts[E](parts: Iterator[PackedPart[E]], probes: Map[Int, Array[Int]],
                   queries: Range, k: Int, allowed: AllowedSet,
                   kernel: RowKernel[E]): Iterator[(Int, Long, Double)] = {
    val bufs = new Array[TopKBuf](queries.end)
    queries.foreach(q => bufs(q) = new TopKBuf(k))
    var pi = 0
    while (parts.hasNext) {
      val p = parts.next()
      val bits = allowed.partBits(pi)
      probes.foreach { case (cid, probing) =>
        val range = p.ranges.get(cid)
        if (range != null)
          kernel.scan(bufs, p, cid, probing, range(0), range(0) + range(1), bits)
      }
      pi += 1
    }
    queries.iterator.flatMap(drain(bufs, _))
  }

  /** Buffer `q`'s best k as (q, id, score) rows. */
  private def drain(bufs: Array[TopKBuf], q: Int): Iterator[(Int, Long, Double)] = {
    val b = bufs(q)
    b.compact()
    (0 until b.n).iterator.map(j => (q, b.ids(j), b.scores(j)))
  }

  /** Shared daemon pool for the multi-threaded resident tier, sized to
    * the machine (local mode: the same cores the executor threads would
    * use — the tier trades the scheduler for a plain pool, not CPUs for
    * CPUs). */
  private lazy val poolThreads: Int =
    math.max(2, Runtime.getRuntime.availableProcessors())
  private lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(poolThreads, (r: Runnable) => {
      val t = new Thread(r, "graft-resident-scan")
      t.setDaemon(true)
      t
    })

  /** Multi-threaded resident scan on the shared pool, in one of two
    * shapes:
    *  - batches (nq ≥ 2 × threads): one task per QUERY CHUNK, each
    *    scanning every part for its queries — results complete per query;
    *  - few queries: one task per probed list range of each part, so one
    *    query's scan spreads over the pool instead of one thread per
    *    part. With `splitRanges`, a range further splits into
    *    work-proportional row sub-chunks (floor 256 rows): measured on
    *    the 500k single-query IVF_FLAT config, p50 6.3 → ~2 ms. IVF_PQ
    *    keeps whole ranges — a split would rebuild its per-(query,
    *    cluster) ADC table once per chunk.
    * Splitting preserves exact results: buffers only hold exact scores
    * (an early-abandoned partial is below the buffer's threshold and
    * rejected), a chunk-local k-th best is ≤ the global one, and the final
    * cut re-sorts on the total (score desc, id asc) order.
    * `rowScans` = Σ probed rows × probing queries. */
  private def scanMT[E](parts: Array[PackedPart[E]], probes: Map[Int, Array[Int]],
                        nq: Int, k: Int, allowed: AllowedSet, splitRanges: Boolean,
                        rowScans: Long, kernel: RowKernel[E]): Array[(Int, Long, Double)] = {
    type Task = java.util.concurrent.Callable[Array[(Int, Long, Double)]]
    val tasks: Seq[Task] =
      if (nq >= 2 * poolThreads) {
        val chunk = math.max(1, (nq + 2 * poolThreads - 1) / (2 * poolThreads))
        (0 until nq by chunk).map { lo =>
          val hi = math.min(nq, lo + chunk)
          val chunkProbes = probes.iterator.flatMap { case (cid, probing) =>
            val in = probing.filter(q => q >= lo && q < hi)
            Option.when(in.nonEmpty)(cid -> in)
          }.toMap
          (() => scanParts(parts.iterator, chunkProbes, lo until hi, k, allowed,
            kernel).toArray): Task
        }
      } else {
        val targetTasks = 4 * poolThreads
        val workPerTask = math.max(1024L, (rowScans + targetTasks - 1) / targetTasks)
        val units = Seq.newBuilder[Task]
        var pi = 0
        while (pi < parts.length) {
          val p = parts(pi)
          val bits = allowed.partBits(pi)
          probes.foreach { case (cid, probing) =>
            val range = p.ranges.get(cid)
            if (range != null) {
              val end = range(0) + range(1)
              val step =
                if (!splitRanges) range(1)
                else math.max(256L, workPerTask / probing.length)
                  .min(Int.MaxValue - 1L).toInt
              var s = range(0)
              while (s < end) {
                val (lo, hi) = (s, math.min(end, s + step))
                units += ((() => {
                  val bufs = new Array[TopKBuf](nq)
                  probing.foreach(q => bufs(q) = new TopKBuf(k))
                  kernel.scan(bufs, p, cid, probing, lo, hi, bits)
                  probing.iterator.flatMap(drain(bufs, _)).toArray
                }): Task)
                s = hi
              }
            }
          }
          pi += 1
        }
        units.result()
      }
    import scala.jdk.CollectionConverters._
    pool.invokeAll(tasks.asJava).asScala.iterator.flatMap(_.get()).toArray
  }

  /** One query's candidates cut to its best `k` in (score desc, id asc)
    * order, best first — the order of the plan's TopKHits, exact ties
    * included. */
  def topK(cands: Array[(Long, Double)], k: Int): Array[(Long, Double)] =
    cands.sortBy { case (id, s) => (-s, id) }.take(k)

  /** The final merge: each query's rows cut by [[topK]] and ranked from
    * 1, as (query_id, rank, id, score); `qid` maps a row's query key to
    * its id. */
  def rankTopK[Q](rows: Array[(Q, Long, Double)], k: Int)(
      qid: Q => Long): Array[(Long, Int, Long, Double)] =
    rows.groupBy(_._1).iterator.flatMap { case (q, rs) =>
      val id = qid(q)
      topK(rs.map(r => (r._2, r._3)), k).iterator.zipWithIndex
        .map { case ((i, s), r) => (id, r + 1, i, s) }
    }.toArray

  /** Serving-tier counters, exposed so the benchmark can print WHICH tier
    * served each measured run: IVF_FLAT `driver` / `driverMT` /
    * `distributed`, IVF_PQ `pq.driver` / `pq.driverMT` / `pq.plan`. */
  private val tierCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private[graft] def countTier(name: String): Unit =
    tierCounts.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong())
      .incrementAndGet()

  private[graft] def tierCountsSnapshot: Map[String, Long] = {
    val m = scala.collection.mutable.Map.empty[String, Long]
    tierCounts.forEach((key, v) => m(key) = v.get())
    m.toMap
  }
}
