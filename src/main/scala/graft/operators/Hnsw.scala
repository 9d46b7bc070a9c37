package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.StableHash

/** HNSW approximate nearest-neighbor search, Spark-shaped.
  *
  * Capability mirror of the reference's HNSW index
  * (reference: src/Pyrope.GarnetServer/Vector/HnswVectorIndex.cs:64-411 —
  * multi-layer greedy descent + beam search, flat vector storage,
  * defaults m=16 efConstruction=200 efSearch=10), with two deliberate
  * changes: level assignment is SEEDED (hash of id — the reference uses an
  * unseeded Random, HnswVectorIndex.cs:21, so only recall-level equivalence
  * is even testable), and the graph is built PER PARTITION inside
  * `mapPartitions` with results merged by a bounded top-k — the SURVEY §7.1
  * step-10 design: each executor owns a serialized sub-graph, queries fan
  * out to all sub-graphs, and the per-partition search is sublinear in
  * partition size. Adding partitions scales corpus size linearly at
  * constant per-partition latency.
  */
object Hnsw {

  /** Primitive binary heap of (distance, node) pairs in parallel arrays —
    * the beam search's scratch structure (no boxing, no tuple churn).
    * `max = true` keeps the LARGEST distance at the head (bounded result
    * set), `max = false` the smallest (candidate frontier). Ordering is
    * by distance only; equal-distance order is unspecified, matching the
    * tuple-PriorityQueue ordering it replaces. */
  private final class DistHeap(cap0: Int, max: Boolean) {
    private[this] var ds = new Array[Double](math.max(cap0, 8))
    private[this] var ns = new Array[Int](ds.length)
    var size: Int = 0
    private[this] def before(a: Double, b: Double): Boolean =
      if (max) a > b else a < b
    def headDist: Double = ds(0)
    def headNode: Int = ns(0)
    def distAt(i: Int): Double = ds(i)
    def nodeAt(i: Int): Int = ns(i)
    def add(d: Double, n: Int): Unit = {
      if (size == ds.length) {
        ds = java.util.Arrays.copyOf(ds, size * 2)
        ns = java.util.Arrays.copyOf(ns, size * 2)
      }
      var i = size; size += 1
      while (i > 0) {
        val p = (i - 1) >>> 1
        if (before(d, ds(p))) { ds(i) = ds(p); ns(i) = ns(p); i = p }
        else { ds(i) = d; ns(i) = n; return }
      }
      ds(0) = d; ns(0) = n
    }
    def removeHead(): Unit = {
      size -= 1
      val d = ds(size); val n = ns(size)
      var i = 0
      while (true) {
        val l = 2 * i + 1
        if (l >= size) { ds(i) = d; ns(i) = n; return }
        var c = l
        val r = l + 1
        if (r < size && before(ds(r), ds(l))) c = r
        if (before(ds(c), d)) { ds(i) = ds(c); ns(i) = ns(c); i = c }
        else { ds(i) = d; ns(i) = n; return }
      }
    }
  }

  /** One per-partition navigable small-world graph. */
  final class Graph(val metric: String, val m: Int, val efC: Int, val seed: Long)
      extends Serializable {
    val ids = mutable.ArrayBuffer.empty[Long]
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    // adjacency(level)(node) = neighbor node indexes
    val layers = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[mutable.ArrayBuffer[Int]]]
    var entry: Int = -1
    var maxLevel: Int = -1
    private val mL = 1.0 / math.log(m.toDouble)

    // metric resolved ONCE at construction: dist() is the innermost loop
    // of both build (every neighbor visit) and the serving beam — the
    // previous per-call `metric.toUpperCase(...) match` allocated a fresh
    // String and string-compared on every distance evaluation (hundreds
    // of millions of calls in a 1M-node build)
    private val metricCode: Int =
      metric.toUpperCase(java.util.Locale.ROOT) match {
        case "L2"                  => 0
        case "IP" | "INNERPRODUCT" => 1
        case "COSINE"              => 2
        case x => throw new IllegalArgumentException(s"unknown metric: $x")
      }

    /** "distance": lower is better — negated metric score. */
    private def dist(a: Array[Float], b: Array[Float]): Double =
      if (metricCode == 0) {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
        s
      } else if (metricCode == 1) {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
        -s
      } else {
        var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dp += x * y; na += x * x; nb += y * y; i += 1
        }
        val den = math.sqrt(na) * math.sqrt(nb)
        if (den < 1e-6) 0.0 else -dp / den
      }

    private def levelOf(id: Long): Int = {
      val u = ((StableHash.rehash(id, seed) >>> 11).toDouble + 1.0) / (1L << 53).toDouble
      math.min((-math.log(u) * mL).toInt, 32)
    }

    /** Beam search on one layer: returns up to ef (node, dist) closest. */
    private def searchLayer(q: Array[Float], ep: Int, ef: Int, level: Int): mutable.ArrayBuffer[(Int, Double)] =
      searchLayerFiltered(q, ep, ef, level, null)

    /** [[searchLayer]] with an optional MEMBERSHIP filter (null = none):
      * the beam TRAVERSES every node — non-members still route the walk,
      * exactly like hnswlib/FAISS filter functors, or a sparse filter
      * would disconnect the graph — but only members enter the RESULT
      * set, and the ef bound applies to members. Termination keeps the
      * classic rule (closest candidate worse than the worst of ef
      * results); while fewer than ef members are found the beam keeps
      * expanding, degrading toward a component scan under very selective
      * filters — the honest cost of filtered ANN, bounded by the
      * resident graph's size. */
    private def searchLayerFiltered(q: Array[Float], ep: Int, ef: Int,
                                    level: Int,
                                    member: Int => Boolean): mutable.ArrayBuffer[(Int, Double)] = {
      // Primitive scratch structures: the innermost serving/build loop
      // previously paid a boxed HashSet[Int] insert and tuple
      // PriorityQueue enqueue per visited node — allocation per edge on a
      // path executed hundreds of millions of times in a 1M-node build.
      // visited = flat bitset over node indexes (graphs are partition-
      // local, so index space is dense and small); heaps = parallel
      // double/int arrays, ordered by distance only, exactly the previous
      // Ordering.by(_._1) (ties remain implementation-order, as before).
      val visited = new Array[Long]((ids.length >>> 6) + 1)
      visited(ep >>> 6) |= 1L << ep
      val epD = dist(q, vecs(ep))
      // candidates: closest-first over ALL nodes; results: farthest-first
      // bounded ef over MEMBERS only
      val cand = new DistHeap(16, max = false)
      cand.add(epD, ep)
      val res = new DistHeap(math.min(ef + 1, 1 << 16), max = true)
      if (member == null || member(ep)) res.add(epD, ep)
      var done = false
      while (!done && cand.size > 0) {
        val cd = cand.headDist; val c = cand.headNode
        cand.removeHead()
        if (res.size >= ef && cd > res.headDist) { done = true }
        else {
          val adj = layers(level)(c)
          var i = 0
          while (i < adj.length) {
            val n = adj(i)
            if ((visited(n >>> 6) & (1L << n)) == 0L) {
              visited(n >>> 6) |= 1L << n
              val d = dist(q, vecs(n))
              if (res.size < ef || d < res.headDist) {
                cand.add(d, n)
                if (member == null || member(n)) {
                  res.add(d, n)
                  if (res.size > ef) res.removeHead()
                }
              }
            }
            i += 1
          }
        }
      }
      val out = new mutable.ArrayBuffer[(Int, Double)](res.size)
      var ri = 0
      while (ri < res.size) { out += ((res.nodeAt(ri), res.distAt(ri))); ri += 1 }
      out.sortInPlace()(Ordering.by(_._2))
      out
    }

    def add(id: Long, vec: Array[Float]): Unit = {
      val node = ids.length
      ids += id
      vecs += vec
      val level = levelOf(id)
      while (layers.length <= level) {
        layers += mutable.ArrayBuffer.empty
      }
      for (l <- layers.indices) {
        while (layers(l).length <= node) layers(l) += mutable.ArrayBuffer.empty[Int]
      }
      if (entry < 0) { entry = node; maxLevel = level; return }

      var ep = entry
      // greedy descent through layers above the node's level
      var lc = maxLevel
      while (lc > level) {
        var changed = true
        var best = dist(vec, vecs(ep))
        while (changed) {
          changed = false
          val adj = layers(lc)(ep)
          var i = 0
          while (i < adj.length) {
            val d = dist(vec, vecs(adj(i)))
            if (d < best) { best = d; ep = adj(i); changed = true }
            i += 1
          }
        }
        lc -= 1
      }
      // connect on layers min(level, maxLevel)..0
      lc = math.min(level, maxLevel)
      while (lc >= 0) {
        val cands = searchLayer(vec, ep, efC, lc)
        val mMax = if (lc == 0) 2 * m else m
        val neighbors = cands.take(m)
        neighbors.foreach { case (n, _) =>
          layers(lc)(node) += n
          layers(lc)(n) += node
          if (layers(lc)(n).length > mMax) {
            // shrink: keep the mMax closest (reference neighbor pruning,
            // HnswVectorIndex.cs:375-411)
            val pruned = layers(lc)(n)
              .map(x => (x, dist(vecs(n), vecs(x))))
              .sortBy(_._2).take(mMax).map(_._1)
            layers(lc)(n).clear()
            layers(lc)(n) ++= pruned
          }
        }
        if (neighbors.nonEmpty) ep = neighbors.head._1
        lc -= 1
      }
      if (level > maxLevel) { maxLevel = level; entry = node }
    }

    /** Top-k (id, score) with score = -distance (higher better). */
    def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] =
      searchFiltered(q, k, ef, null)

    /** [[search]] with an optional surrogate-id membership filter: the
      * FILTER-DURING-BEAM semantics (results are the k closest MEMBERS
      * the beam reaches; non-members still route the walk). The greedy
      * upper-layer descent stays unfiltered — it only picks the layer-0
      * entry point, exactly as filter functors do it. */
    def searchFiltered(q: Array[Float], k: Int, ef: Int,
                       member: Long => Boolean): Seq[(Long, Double)] = {
      if (entry < 0) return Seq.empty
      var ep = entry
      var lc = maxLevel
      while (lc > 0) {
        var changed = true
        var best = dist(q, vecs(ep))
        while (changed) {
          changed = false
          val adj = layers(lc)(ep)
          var i = 0
          while (i < adj.length) {
            val d = dist(q, vecs(adj(i)))
            if (d < best) { best = d; ep = adj(i); changed = true }
            i += 1
          }
        }
        lc -= 1
      }
      val nodeMember: Int => Boolean =
        if (member == null) null else (n: Int) => member(ids(n))
      searchLayerFiltered(q, ep, math.max(ef, k), 0, nodeMember)
        .take(k).map { case (n, d) => (ids(n), -d) }.toSeq
    }
  }

  /** Build one graph per partition: (part_id, graph) dataset.
    * vectors: (id BIGINT, vec ARRAY<FLOAT>). `numPartitions` > 0
    * repartitions first (by id hash — deterministic layout).
    *
    * Serialization note: each (part_id, graph) row is ONE kryo-encoded
    * object of ~1.1 KB per node (vecs + adjacency at m=32/dim=128), so a
    * persist/collect of graphs above ~60k nodes per partition overflows
    * kryo's 64m default `spark.kryoserializer.buffer.max` — the session
    * must raise it (the bench sets 512m). This is what silently cost the
    * r11 bench all hnsw_1m rows on its 8-core run (1M/8 = 125k nodes per
    * graph ≈ 137 MB). */
  def build(vectors: DataFrame, metric: String = "L2", m: Int = 16,
            efConstruction: Int = 200, seed: Long = 42L,
            numPartitions: Int = 0): Dataset[(Int, Graph)] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    implicit val enc = Encoders.tuple(Encoders.scalaInt, Encoders.kryo[Graph])
    val vs = if (numPartitions > 0)
      vectors.repartition(numPartitions, col("id")) else vectors
    vs.select("id", "vec").as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val g = new Graph(metric, m, efConstruction, seed)
          // deterministic insert order regardless of scan order
          rows.sortBy(_._1).foreach { case (id, v) => g.add(id, v.toArray) }
          Iterator((org.apache.spark.TaskContext.getPartitionId(), g))
        }
      }
  }

  /** Persist the per-partition graphs as ENGINE-NEUTRAL parquet tables —
    * the same columnar discipline as every other index snapshot (S11),
    * replacing java-serialized blobs whose bytes break on any Graph class
    * change:
    *   meta/   (part_id, metric, m, ef_construction, seed, entry,
    *            max_level, n_levels, n_nodes)   — one row per partition
    *   nodes/  (part_id, node, id, vec)          — flat vector storage
    *   edges/  (part_id, level, node, nbrs)      — adjacency lists
    * Three passes over the (persisted) graph dataset; node indexes are
    * partition-local, exactly the in-memory layout. */
  def save(graphs: Dataset[(Int, Graph)], path: String): Unit = {
    val spark = graphs.sparkSession
    import spark.implicits._
    val g = graphs.persist()
    try {
      g.map { case (p, gr) =>
        (p, gr.metric, gr.m, gr.efC, gr.seed, gr.entry, gr.maxLevel,
          gr.layers.length, gr.ids.length)
      }.toDF("part_id", "metric", "m", "ef_construction", "seed", "entry",
          "max_level", "n_levels", "n_nodes")
        .write.mode("overwrite").parquet(s"$path/meta")
      g.flatMap { case (p, gr) =>
        gr.ids.indices.iterator.map(n => (p, n, gr.ids(n), gr.vecs(n).toSeq))
      }.toDF("part_id", "node", "id", "vec")
        .write.mode("overwrite").parquet(s"$path/nodes")
      g.flatMap { case (p, gr) =>
        for {
          l <- gr.layers.indices.iterator
          n <- gr.layers(l).indices.iterator
          if gr.layers(l)(n).nonEmpty
        } yield (p, l, n, gr.layers(l)(n).toSeq)
      }.toDF("part_id", "level", "node", "nbrs")
        .write.mode("overwrite").parquet(s"$path/edges")
    } finally { g.unpersist(); () }
  }

  /** One graph partition's meta/ row. */
  private[graft] final case class PartMeta(metric: String, m: Int, efC: Int,
                                           seed: Long, entry: Int, maxLevel: Int,
                                           nLevels: Int, nNodes: Int)

  // the snapshot tables' schemas as [[save]] writes them, declared so a
  // read infers nothing (schema inference is one Spark job per table)
  private val MetaSchema = StructType(Seq(
    StructField("part_id", IntegerType), StructField("metric", StringType),
    StructField("m", IntegerType), StructField("ef_construction", IntegerType),
    StructField("seed", LongType), StructField("entry", IntegerType),
    StructField("max_level", IntegerType), StructField("n_levels", IntegerType),
    StructField("n_nodes", IntegerType)))
  private val NodesSchema = StructType(Seq(
    StructField("part_id", IntegerType), StructField("node", IntegerType),
    StructField("id", LongType), StructField("vec", ArrayType(FloatType))))
  private val EdgesSchema = StructType(Seq(
    StructField("part_id", IntegerType), StructField("level", IntegerType),
    StructField("node", IntegerType), StructField("nbrs", ArrayType(IntegerType))))

  /** A snapshot's meta/ table by part_id: driver-sized, one row per graph
    * partition, one job. */
  private[graft] def readMeta(spark: org.apache.spark.sql.SparkSession,
                              path: String): Map[Int, PartMeta] = {
    // a snapshot from before the columnar format (java-serialized blob
    // rows directly at `path`) has no meta/ table — fail with the remedy
    // instead of a path-not-found from the parquet reader
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/meta")),
      s"HNSW snapshot at $path has no meta/ table (pre-columnar blob " +
        "format, or not an HNSW snapshot); rebuild the index")
    spark.read.schema(MetaSchema).parquet(s"$path/meta").collect().map { r =>
      r.getInt(0) -> PartMeta(r.getString(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8))
    }.toMap
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Dataset[(Int, Graph)] =
    load(spark, path, readMeta(spark, path))

  private def load(spark: org.apache.spark.sql.SparkSession, path: String,
                   meta: Map[Int, PartMeta]): Dataset[(Int, Graph)] = {
    import spark.implicits._
    implicit val enc = Encoders.tuple(Encoders.scalaInt, Encoders.kryo[Graph])
    val bMeta = spark.sparkContext.broadcast(meta)
    val nodes = spark.read.schema(NodesSchema).parquet(s"$path/nodes")
      .as[(Int, Int, Long, Seq[Float])]
    val edges = spark.read.schema(EdgesSchema).parquet(s"$path/edges")
      .as[(Int, Int, Int, Seq[Int])]
    nodes.groupByKey(_._1).cogroup(edges.groupByKey(_._1)) { (p, nit, eit) =>
      val pm = bMeta.value(p)
      val g = new Graph(pm.metric, pm.m, pm.efC, pm.seed)
      nit.toArray.sortBy(_._2).foreach { case (_, _, id, vec) =>
        g.ids += id
        g.vecs += vec.toArray
      }
      (0 until pm.nLevels).foreach { _ =>
        g.layers += mutable.ArrayBuffer.fill(pm.nNodes)(mutable.ArrayBuffer.empty[Int])
      }
      eit.foreach { case (_, level, node, nbrs) => g.layers(level)(node) ++= nbrs }
      g.entry = pm.entry
      g.maxLevel = pm.maxLevel
      Iterator((p, g))
    }
  }

  /** Resident heap bytes of a snapshot's graphs (0 = no nodes), from its
    * `meta` rows (n_nodes, m) and one tiny dim probe on nodes/: rows ×
    * (vector + adjacency + ids), estimated conservatively so the bound
    * fails safe. */
  private[graft] def residentBytes(spark: org.apache.spark.sql.SparkSession,
                                   path: String, meta: Map[Int, PartMeta]): Long = {
    val rows = meta.valuesIterator.map(_.nNodes.toLong).sum
    if (rows == 0L) 0L
    else {
      val mWidth = meta.valuesIterator.map(_.m).max
      val dim = spark.read.schema(NodesSchema).parquet(s"$path/nodes")
        .select(size(col("vec"))).head.getInt(0)
      // per node: dim floats + ~2 adjacency lists of ≤ m ints (level-0
      // can hold 2m in classic HNSW; this build prunes to m) + id +
      // object headers
      rows * (4L * dim + 8L * mWidth + 64L)
    }
  }

  /** Load a snapshot's graphs DRIVER-RESIDENT for zero-job serving,
    * admitted on the [[graft.Residency.HnswGraphs]] line against
    * [[residentBytes]] BEFORE collecting (~512 MB of graph state per
    * snapshot; bigger corpora keep the distributed fan-out). `meta` is the
    * snapshot's [[readMeta]], read once per admission. The reference
    * serves every HNSW query from one process's heap (HnswVectorIndex.cs
    * "Flat Vector Storage"); this is the honest analog for graphs inside
    * the bound. */
  private[graft] def loadResident(spark: org.apache.spark.sql.SparkSession, path: String,
                                  meta: Map[Int, PartMeta],
                                  estBytes: Long): graft.Residency.Admission[Array[(Int, Graph)]] =
    if (estBytes == 0L) graft.Residency.Admitted(Array.empty[(Int, Graph)])
    else graft.Residency.admit(graft.Residency.HnswGraphs, estBytes)(
      load(spark, path, meta).collect())

  /** Zero-job HNSW serving for driver-local query batches: each query
    * beam-searches every resident sub-graph (k per graph — the SAME
    * per-graph fetch as the distributed [[search]] fan-out) and a
    * bounded (score desc, id asc) merge takes the global top-k, the
    * exact tie order of the plan's TopKHits. Deterministic graph
    * traversal ⇒ bit-identical rows to the distributed path. Batches
    * parallelize across queries on the common pool (results are
    * per-query, so ordering is unaffected). */
  def searchLocalRows(graphs: Array[(Int, Graph)],
                      queries: Array[(Long, Array[Float])],
                      k: Int, efSearch: Int = 50): Array[(Long, Int, Long, Double)] =
    ResidentScan.rankTopK(searchLocalCandidates(graphs, queries, k, efSearch), k)(identity)

  /** Tag-FILTERED resident serving with FILTER-DURING-BEAM semantics —
    * a NEW capability flag, deliberately NOT the batch plan's
    * fetch-k×10-then-filter (which is reference parity and stays the
    * default): the beam traverses every node but only admissible ids
    * enter the ef-bounded result set, so a SELECTIVE filter still
    * returns k members whenever they are reachable — where post-filter
    * keeps at most the members that happened to survive the unfiltered
    * k×10 cut and comes up short or empty. Costs degrade toward a
    * component scan as selectivity → 0 (the honest filtered-ANN trade,
    * bounded by the resident graph). Membership is `allowed`'s id test,
    * as in the IVF kernels (graphs have no row bitmaps). */
  def searchLocalRowsFiltered(graphs: Array[(Int, Graph)],
                              queries: Array[(Long, Array[Float])],
                              k: Int, efSearch: Int,
                              allowed: AllowedSet): Array[(Long, Int, Long, Double)] = {
    if (queries.isEmpty || graphs.isEmpty) return Array.empty
    val member: Long => Boolean = allowed.containsId
    // (query × graph)-pair parallelism — see searchLocalCandidates
    val nG = graphs.length
    val out = new Array[Array[(Long, Long, Double)]](queries.length * nG)
    val idxs = java.util.stream.IntStream.range(0, queries.length * nG)
    val body = { (pi: Int) =>
      val (qid, qv) = queries(pi / nG)
      val (_, g) = graphs(pi % nG)
      out(pi) = g.searchFiltered(qv, k, efSearch, member).iterator
        .map { case (id, s) => (qid, id, s) }.toArray
    }
    if (queries.length * nG >= 4) idxs.parallel().forEach(pi => body(pi))
    else idxs.forEach(pi => body(pi))
    ResidentScan.rankTopK(out.flatten[(Long, Long, Double)], k)(identity)
  }

  /** The per-(query, graph) top-k pool WITHOUT the global cut —
    * (query_id, id, score) rows, exactly the candidate set the
    * distributed [[search]] feeds its final TopK. ≤ graphs × k rows per
    * query — driver-sized by construction. (Callers needing plan parity
    * under head masking use [[searchLocalRows]] with the SAME over-
    * fetched k the plan passes — both tiers cut identically.) */
  def searchLocalCandidates(graphs: Array[(Int, Graph)],
                            queries: Array[(Long, Array[Float])],
                            k: Int, efSearch: Int = 50): Array[(Long, Long, Double)] = {
    if (queries.isEmpty || graphs.isEmpty) return Array.empty
    // parallelism over (query × graph) PAIRS, not queries: the serving
    // tier's common case is a single-query call, and per-query
    // parallelism left it walking every sub-graph sequentially — at a
    // 1M corpus in 32 graphs that read p50 53 ms where the beams
    // themselves total ~2 ms of parallel work (r10 measurement; the
    // 100k rung's 4 graphs masked it). Each pair's beam is independent;
    // the downstream (-score, id) sort makes the merge order-invariant.
    val nG = graphs.length
    val out = new Array[Array[(Long, Long, Double)]](queries.length * nG)
    val idxs = java.util.stream.IntStream.range(0, queries.length * nG)
    val body = { (pi: Int) =>
      val (qid, qv) = queries(pi / nG)
      val (_, g) = graphs(pi % nG)
      out(pi) = g.search(qv, k, efSearch).iterator
        .map { case (id, s) => (qid, id, s) }.toArray
    }
    if (queries.length * nG >= 4) idxs.parallel().forEach(pi => body(pi))
    else idxs.forEach(pi => body(pi))
    out.flatten
  }

  /** Fan the query batch out to every per-partition graph and merge with a
    * bounded global top-k.
    *
    * The query batch reaches the graphs as broadcast CHUNKS of at most
    * `maxLocalQueries` rows: `toLocalIterator` streams one queries
    * partition at a time through the driver, so driver memory is bounded
    * by max(partition size, chunk size) instead of the whole batch — the
    * same no-unbounded-collect rule as the IVF/PQ paths. Each chunk is an
    * independent graph pass; one global bounded top-k merges them. */
  def search(graphs: Dataset[(Int, Graph)], queries: DataFrame, k: Int,
             efSearch: Int = 50, maxLocalQueries: Int = 10000): DataFrame = {
    val spark = graphs.sparkSession
    import spark.implicits._
    val localIt = queries.select("query_id", "qvec").as[(Long, Seq[Float])]
      .toLocalIterator()
    val partials = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val chunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    def flush(): Unit = if (chunk.nonEmpty) {
      val bq = spark.sparkContext.broadcast(chunk.toArray)
      // each chunk's graph pass runs EAGERLY (localCheckpoint) so its
      // broadcast can be destroyed before the next chunk starts — at most
      // one chunk of query data is alive at a time, which is what makes
      // the driver/executor memory bound actually hold; the materialized
      // partials are ≤ k rows per (query, graph partition)
      val part = graphs.flatMap { case (_, g) =>
        bq.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, k, efSearch).map { case (id, score) => (qid, id, score) }
        }
      }.toDF("query_id", "id", "score").localCheckpoint()
      bq.destroy()
      partials += part
      chunk.clear()
    }
    while (localIt.hasNext) {
      val (qid, v) = localIt.next()
      chunk += ((qid, v.toArray))
      if (chunk.length >= maxLocalQueries) flush()
    }
    flush()
    val partial =
      if (partials.isEmpty) spark.emptyDataset[(Long, Long, Double)]
        .toDF("query_id", "id", "score")
      else partials.reduce(_ unionByName _)
    TopK.perGroup(partial, Seq("query_id"), k)
  }
}
