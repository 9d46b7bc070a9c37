package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{IvfFlat, TopK}

/** Per-call observability record for the rows-serving entries — the
  * reference attaches TRACE JSON fields to each reply
  * (VectorCommandSet.cs:849-912); this is the library-call analog.
  * `path`: which serving tier answered ("head+tail" zero-job,
  * "plan-fallback" DataFrame plan, or "cache-hit"/"cache-miss").
  * `cacheLayer`: the cascade layer that hit (L0/L0.5/L1/L2), if any.
  * `probedLayers`: cache layers probed in order, cached calls only.
  * `headLive`/`headMasked`/`tailRows`: serving-state counts scanned by
  * the call (−1 = not applicable on this path).
  * `totalMicros`: call wall time. */
case class SearchTrace(path: String, cacheLayer: Option[String],
                       probedLayers: Seq[String], headLive: Int,
                       headMasked: Int, tailRows: Int, totalMicros: Long)

object GraftEngine {
  /** IVF_PQ states whose build peak ([[localRowBytes]]) fits this many
    * driver bytes build on the driver (see [[GraftEngine.buildWith]]):
    * ~30k rows at dim 128. Driver memory sets it, not build time: at dim
    * 128, nlist 8, M 16 on 4 cores the driver-local build was the faster
    * one at every size timed, 6,250 to 100k rows (16.3 s against 18.0 s
    * at 100k). */
  private val LocalBuildMaxBytes: Long = 64L << 20

  /** Keys one top-k task may hash-aggregate before its session falls
    * back to sort-based aggregation; see the engine's constructor. */
  private val TopKHashKeys = 1000000L

  /** Peak driver bytes one collected row costs a driver-local IVF_PQ
    * build, so the ledger reservation covers the build and not just the
    * collect. The row itself is 4d + 2b + 96 (floats, id string,
    * surrogate, headers). While the PQ codes are made it also has a unit
    * or MIPS copy and a residual (4d each, the MIPS pad inside the
    * allowance) and a codes row in that write's local relation (~b +
    * 300); while the SQ16 codes are written, its Int codes and their row
    * in that write's relation (8d + 180). The resident SQ16 store is
    * reserved on its own line. */
  private def localRowBytes(dim: Int, idBytes: Long): Long =
    12L * dim + 3L * idBytes + 640L

  /** What one pass over the resolved state tells a build: watermark and
    * row count, the vector size range, the UTF-8 bytes of the string ids
    * (the id pool's size), and — where the build uses them — the element
    * range (the SQ16 params) and the largest squared norm (the MIPS
    * constant M², summed like `vector_dot`). NaN elements never win the
    * element range. */
  private final case class BuildStats(watermark: Long, nVectors: Long, minDim: Int,
                                      maxDim: Int, idBytes: Long, elemMin: Float,
                                      elemMax: Float, maxSq: Double) {
    def merge(o: BuildStats): BuildStats =
      BuildStats(math.max(watermark, o.watermark), nVectors + o.nVectors,
        math.min(minDim, o.minDim), math.max(maxDim, o.maxDim), idBytes + o.idBytes,
        if (o.elemMin < elemMin) o.elemMin else elemMin,
        if (o.elemMax > elemMax) o.elemMax else elemMax, math.max(maxSq, o.maxSq))
  }

  private val NoStats = BuildStats(Long.MinValue, 0L, Int.MaxValue, Int.MinValue, 0L,
    Float.PositiveInfinity, Float.NegativeInfinity, Double.NegativeInfinity)

  /** One partition's part of a state pass: its [[BuildStats]], and its
    * (surrogate, id, vector) rows and their build-peak `bytes` while they
    * fit `maxBytes` and hold no null element — null otherwise. */
  private final class StatePart(val stats: BuildStats, val ids: Array[Long],
                                val idStr: Array[String],
                                val vecs: Array[Array[Float]],
                                val bytes: Long) extends Serializable

  /** A state pass's parts, counted on the ledger by the build peak of the
    * rows they hold. */
  private final class StateParts(val parts: Array[StatePart]) extends Residency.Sized {
    val bytes: Long = parts.map(_.bytes).sum
  }

  private def hasNullElement(v: org.apache.spark.sql.catalyst.util.ArrayData): Boolean = {
    var i = 0
    while (i < v.numElements() && !v.isNullAt(i)) i += 1
    i < v.numElements()
  }

  /** [[StatePart]] of (updated_at, id, vector, surrogate) rows. */
  private def foldState(rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
                        pq: Boolean, ip: Boolean, maxBytes: Long): StatePart = {
    var wm = Long.MinValue; var n = 0L; var minDim = Int.MaxValue
    var maxDim = Int.MinValue; var idBytes = 0L
    var mn = Float.PositiveInfinity; var mx = Float.NegativeInfinity
    var maxSq = Double.NegativeInfinity
    var bytes = 0L
    var kept = maxBytes > 0
    val ids = scala.collection.mutable.ArrayBuilder.make[Long]
    val idStr = scala.collection.mutable.ArrayBuilder.make[String]
    val vecs = scala.collection.mutable.ArrayBuilder.make[Array[Float]]
    while (rows.hasNext) {
      val r = rows.next()
      n += 1
      if (!r.isNullAt(0)) wm = math.max(wm, r.getLong(0))
      val id = r.getUTF8String(1)
      idBytes += id.numBytes
      val v = r.getArray(2)
      val d = v.numElements()
      minDim = math.min(minDim, d); maxDim = math.max(maxDim, d)
      if (pq) {
        var i = 0; var sq = 0.0
        while (i < d) {
          if (!v.isNullAt(i)) {
            val x = v.getFloat(i)
            if (x < mn) mn = x
            if (x > mx) mx = x
            sq += x.toDouble * x.toDouble
          }
          i += 1
        }
        if (ip) maxSq = math.max(maxSq, sq)
      }
      if (kept) {
        bytes += localRowBytes(d, id.numBytes)
        // a null element has no driver twin: the distributed SQ16 encode
        // clamps it to the top code, a float array would read it as 0
        if (bytes > maxBytes || hasNullElement(v)) {
          kept = false; ids.clear(); idStr.clear(); vecs.clear()
        } else {
          ids += r.getLong(3); idStr += id.toString; vecs += v.toFloatArray()
        }
      }
    }
    val st = BuildStats(wm, n, minDim, maxDim, idBytes, mn, mx, maxSq)
    if (kept) new StatePart(st, ids.result(), idStr.result(), vecs.result(), bytes)
    else new StatePart(st, null, null, null, 0L)
  }

  /** Per-index manifest monitors, JVM-global (keyed by root so two engine
    * instances over the same layout share one): every manifest
    * read-modify-write serializes on this, closing the TOCTOU window where
    * a concurrent writer (e.g. an upsertStream micro-batch on another
    * thread) bumps the epoch between a commit's re-read and its rename —
    * which would let build commit headDirty=0 and hide the fresh rows. */
  private val manifestLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Declared schemas of the snapshot and cache tables — what the build
    * and the cache writers write. Opening a table with its schema
    * declared submits no footer-inference job, and `cluster_id`, last as
    * in an inferred read, stays the partition column probes prune on. */
  private[graft] def schemaOf(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })
  private[graft] val VectorsSchema = schemaOf("id" -> LongType,
    "vec" -> ArrayType(FloatType), "id_str" -> StringType, "cluster_id" -> IntegerType)
  private[graft] val PqCodesSchema = schemaOf("id" -> LongType, "codes" -> BinaryType,
    "id_str" -> StringType, "cluster_id" -> IntegerType)
  private[graft] val CentroidsSchema = schemaOf("cluster_id" -> IntegerType,
    "centroid" -> ArrayType(FloatType))
  private[graft] val IdMapSchema = schemaOf("id" -> LongType, "id_str" -> StringType)
  private[graft] val MipsSchema = schemaOf("max_sq" -> DoubleType)
  private[graft] val Sq16CodesSchema = schemaOf("id" -> LongType,
    "qvec16" -> ArrayType(IntegerType))
  private[graft] val CacheEntrySchema = schemaOf("cache_key" -> LongType,
    "layer" -> StringType,
    "hits" -> ArrayType(schemaOf("rank" -> IntegerType, "id" -> StringType,
      "score" -> DoubleType)),
    "epoch" -> LongType, "expires_at" -> LongType, "written_at" -> LongType)

  /** An array<string> column with null read as the empty array (size()
    * yields -1 for null arrays under legacy configs). */
  private[graft] def emptyTags: Column = array().cast("array<string>")
  private[graft] def orEmpty(tags: Column): Column = coalesce(tags, emptyTags)

  /** Per-part AND of two aligned row-position bitmap sets (the
    * multi-tag conjunction on the resident tier). */
  private[graft] def andBits(a: Array[Array[Long]],
                             b: Array[Array[Long]]): Array[Array[Long]] = {
    require(a.length == b.length, "bitmap part count mismatch")
    Array.tabulate(a.length) { p =>
      val x = a(p); val y = b(p)
      require(x.length == y.length, "bitmap word count mismatch")
      val out = new Array[Long](x.length)
      var i = 0
      while (i < x.length) { out(i) = x(i) & y(i); i += 1 }
      out
    }
  }
}

/** The user-facing engine: the reference's command surface (VEC.ADD /
  * VEC.UPSERT / VEC.DEL / VEC.SEARCH / index build / stats — SURVEY §3)
  * re-expressed as batch table operations over an append-only record log.
  *
  * Storage layout under `root`:
  *   records/tenant_id=?/index_name=?/...    append-only write log
  *   indexes/<tenant>/<index>/manifest.json  epoch + watermark + version (commit point)
  *   indexes/<tenant>/<index>/v<N>/...       immutable build snapshot N:
  *     vectors/ (cluster-partitioned tail) + centroids/ + records/
  *     [hnsw/ + idmap/ | ivfpq/{codes,centroids,codebooks}] per algo
  *   cache/<tenant>/<index>/entries|aliases  result-cache tables
  *
  * Write semantics mirror the reference: ADD rejects duplicate live ids
  * (VectorCommandSet.cs:605-615), UPSERT is last-write-wins preserving
  * created_at (VectorStore.cs:23-33), DEL appends a tombstone
  * (VectorStore.cs:41-58). Every write/build bumps the per-index epoch,
  * which invalidates cached results (VectorIndexRegistry.cs:52-68).
  *
  * Search consults the built tail (IVF, partition-pruned by nprobe) AND
  * the fresh head — records written after the build watermark — exactly
  * like the reference's Delta head/tail index (DeltaVectorIndex.cs:76-122).
  *
  * `refineU8Fallback` (OPT-IN, default off): when the sq16 refine
  * store is budget-denied but a HALF-SIZE uint8 copy fits, serve
  * refined rows from the u8 store instead of dropping to the
  * distributed plan — the degraded tier trades measured recall
  * (~0.980 vs 0.995 on the bench gauge) for three orders of latency.
  * Off by default because served scores then differ from the plan's
  * sq16 rerank; the serving trace announces the tier
  * ("head+pqtail-refined-u8").
  *
  * This file holds the write path, the build and the distributed search
  * plan. The other seams are traits mixed in here, each in its own file:
  * [[SnapshotStore]] (manifest, versioned dirs, export/import,
  * incremental compaction), [[ResidentHandles]] (one [[SnapshotHandles]]
  * per snapshot version), [[RowsServing]] (the zero-job rows tier) and
  * [[SemanticCache]] (the result cache, billing and VEC.STATS). */
class GraftEngine(private[graft] val spark: SparkSession, private[graft] val root: String,
                  private[graft] val idPoolMaxBytes: Long = Residency.IdsTags.handleMax,
                  private[graft] val hashAllowedMinEntries: Int = 1 << 17,
                  private[graft] val pqServeMaxLookupsMT: Long =
                    graft.operators.IvfPq.PqServeMaxLookupsMT,
                  private[graft] val sq16MaxBytes: Long = Residency.Refine.handleMax,
                  private[graft] val refineU8Fallback: Boolean = false)
    extends SnapshotStore with ResidentHandles with RowsServing with SemanticCache {
  import GraftEngine._
  // idPoolMaxBytes / sq16MaxBytes: this engine's per-handle caps on the
  // ids-tags and refine lines of the residency ledger ([[Residency]]);
  // the line caps and the JVM total are shared by every engine.

  // Plan fallbacks' top-k aggregation keeps one bounded buffer per
  // (query, task). Past the session's key threshold (Spark's default is
  // 128) each scoring task falls back to sort-based aggregation, ~13×
  // slower, so the engine raises it on its session and never lowers it.
  locally {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    if (spark.conf.get(key).toLong < TopKHashKeys) spark.conf.set(key, TopKHashKeys)
  }

  private[graft] def withManifestLock[T](tenant: String, index: String)(f: => T): T =
    manifestLocks.getOrElseUpdate(s"$root#$tenant/$index", new Object).synchronized(f)

  private def recordsPath = s"$root/records"
  private[graft] def indexPath(tenant: String, index: String) = s"$root/indexes/$tenant/$index"

  /** Declared log schema: reads never infer from a sampled footer, so a
    * log mixing pre-`numeric_fields` files with new ones stays
    * deterministic (absent columns read as null) without mergeSchema's
    * all-footers cost. */
  private val recordSchema = schemaOf("id" -> StringType,
    "vector" -> ArrayType(FloatType), "meta" -> StringType,
    "tags" -> ArrayType(StringType),
    "numeric_fields" -> MapType(StringType, DoubleType), "updated_at" -> LongType,
    "deleted" -> BooleanType, "tenant_id" -> StringType, "index_name" -> StringType)

  private[graft] def readLog(): DataFrame =
    spark.read.schema(recordSchema).parquet(recordsPath)

  // -------------------------------------------------------------------
  // write path (SURVEY §3.2)
  // -------------------------------------------------------------------

  /** Records: (tenant_id, index_name, id, vector ARRAY<FLOAT>, meta STRING,
    * tags ARRAY<STRING>, numeric_fields MAP<STRING,DOUBLE>, updated_at
    * BIGINT, deleted BOOLEAN). `updated_at` is a caller-supplied monotonic
    * version (epoch-micros in practice). `numeric_fields` mirrors the
    * reference's stored-but-never-searched numeric map
    * (Model/VectorRecord.cs:38; parsed at VectorCommandParser.cs:391-395)
    * and is optional on input — absent columns land as null. */
  private def appendLog(records: DataFrame): Unit = {
    val withNum =
      if (records.columns.contains("numeric_fields")) records
      else records.withColumn("numeric_fields",
        lit(null).cast("map<string,double>"))
    Stage.run(spark, "write.append")(withNum
      .select("tenant_id", "index_name", "id", "vector", "meta", "tags",
        "numeric_fields", "updated_at", "deleted")
      .write.mode("append")
      .partitionBy("tenant_id", "index_name")
      .parquet(recordsPath))
  }

  private[graft] def recordsLogExists: Boolean =
    Files.exists(Paths.get(recordsPath))

  /** VEC.ADD: reject ids that already exist live (`ERR Vector already
    * exists`, VectorCommandSet.cs:605-615). Returns the number added.
    * Only the genuinely-missing-log case skips the duplicate check — any
    * other read failure must propagate, not silently disable the
    * invariant. */
  def add(records: DataFrame): Long = {
    // one grouped aggregation decides the dup check, the count and the
    // touched (tenant, index) set; on success the whole batch is fresh,
    // so the append can write `records` directly without re-running the
    // anti-join
    val keys = Seq("tenant_id", "index_name")
    val perIndex = Stage.run(spark, "write.dupCheck") {
      if (!recordsLogExists)
        records.groupBy(keys.map(col): _*).agg(count(lit(1)), lit(0L)).collect()
      else {
        val existing = currentStateAll()
          .select("tenant_id", "index_name", "id")
          .withColumn("dup", lit(true))
        records
          .join(existing, keys :+ "id", "left")
          .groupBy(keys.map(col): _*)
          .agg(count(lit(1)), count(col("dup"))).collect()
      }
    }
    val dups = perIndex.map(_.getLong(3)).sum
    if (dups != 0L) throw new ConflictException("vector", s"Vector already exists: $dups duplicate id(s)")
    appendLog(records.withColumn("deleted", lit(false)))
    perIndex.foreach(r => bumpEpoch(r.getString(0), r.getString(1)))
    perIndex.map(_.getLong(2)).sum
  }

  /** VEC.UPSERT: last-write-wins append. One aggregation pass yields
    * both the row count and the touched (tenant, index) set — the naive
    * count() + distinct() shape costs a third job per call, which is
    * pure fixed overhead on the streaming path where this runs once per
    * micro-batch. */
  def upsert(records: DataFrame): Long = {
    val touchedCounts = Stage.run(spark, "write.count")(
      records.groupBy("tenant_id", "index_name").agg(count(lit(1))).collect())
    val n = touchedCounts.map(_.getLong(2)).sum
    appendLog(records.withColumn("deleted", lit(false)))
    touchedCounts.foreach(r => bumpEpoch(r.getString(0), r.getString(1)))
    n
  }

  /** Streaming ingestion (St1 write side): every micro-batch of the
    * record stream lands through the same [[upsert]] path — last-write-
    * wins semantics, epoch bumps (cache invalidation) per batch. The
    * reference's continuous RESP write stream, as Structured Streaming.
    * Stream schema = the record schema minus `deleted`. */
  def upsertStream(records: DataFrame,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { upsert(batch); () }
      }
      .start()

  /** VEC.DEL: append tombstones (soft delete, VectorStore.cs:41-58). */
  def delete(tenant: String, index: String, ids: Seq[String], version: Long): Unit = {
    import spark.implicits._
    val tombs = ids.toDF("id")
      .withColumn("tenant_id", lit(tenant))
      .withColumn("index_name", lit(index))
      .withColumn("vector", lit(null).cast("array<float>"))
      .withColumn("meta", lit(null).cast("string"))
      .withColumn("tags", lit(null).cast("array<string>"))
      .withColumn("updated_at", lit(version))
      .withColumn("deleted", lit(true))
    appendLog(tombs)
    bumpEpoch(tenant, index)
  }

  // -------------------------------------------------------------------
  // current state (upsert/tombstone resolution — SURVEY §1.5)
  // -------------------------------------------------------------------

  private def currentStateAll(): DataFrame = {
    val w = Window.partitionBy("tenant_id", "index_name", "id")
      .orderBy(col("updated_at").desc)
    readLog()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("deleted"))
      .drop("rn")
  }

  def currentState(tenant: String, index: String): DataFrame =
    currentStateAll()
      .filter(col("tenant_id") === tenant && col("index_name") === index)

  // -------------------------------------------------------------------
  // build (SURVEY §3.3) — compaction into a cluster-partitioned tail
  // -------------------------------------------------------------------

  /** `algo` mirrors IndexConfig.algo (reference: Model/IndexConfig.cs:7-33;
    * registry dispatch incl. IVF_PQ VectorIndexRegistry.cs:96; defaults
    * :87): IVF_FLAT (default), FLAT (exact — a single inverted list, i.e.
    * nlist=1), HNSW (per-partition graphs), IVF_PQ (coarse lists +
    * product-quantized residual codes). */
  def build(tenant: String, index: String, nlist: Int, metric: String = "L2",
            seed: Long = 42L, algo: String = "IVF_FLAT",
            pqM: Int = 8, pqK: Int = 256): Unit = {
    buildWith(tenant, index, nlist, metric, seed, algo, pqM, pqK,
      GraftEngine.LocalBuildMaxBytes)
    ()
  }

  /** A small state held on the driver for one build: surrogate ids,
    * string ids and vectors, row-aligned. */
  private final class LocalState(val ids: Array[Long], val idStr: Array[String],
                                 val vecs: Array[Array[Float]])

  /** The one pass over the resolved state: the build's stats and — when
    * the rows' build peak fits `localMaxBytes` in all, with uniform dims
    * and no null element — the rows themselves, so a small build needs no second job to read them. The
    * bound is reserved on the ledger before the pass and held until
    * `f` returns; a Denied or Busy answer runs the pass for the stats
    * only. Each task folds its partition and keeps its rows while their
    * peak fits its share of the bound, so the build never holds more than
    * the reservation. */
  private def withStatePass[T](tenant: String, index: String, state: DataFrame,
                               pq: Boolean, ip: Boolean, localMaxBytes: Long)
                              (f: (GraftEngine.BuildStats, Option[LocalState]) => T): T = {
    // under AQE, planning the RDD already runs the state's exchange
    val rdd = Stage.run(spark, "build.state")(state.select(col("updated_at"),
      col("id"), col("vector"), xxhash64(col("id"))).queryExecution.toRdd)
    def pass(partBytes: Long) = Stage.run(spark, "build.state")(
      new GraftEngine.StateParts(rdd
        .mapPartitions(it => Iterator(GraftEngine.foldState(it, pq, ip, partBytes)))
        .collect()))
    // the bound is held while the pass runs; the rows that arrived stay
    // counted until the build is done with them
    val admitted =
      if (localMaxBytes <= 0) Residency.Denied
      else Residency.admit(Residency.PackedFloats, localMaxBytes)(
        pass(localMaxBytes / math.max(1, rdd.getNumPartitions)))
    val held = admitted match {
      case Residency.Admitted(p) => p
      case _ => pass(0L)
    }
    val parts = held.parts
    try {
      val st = parts.map(_.stats).foldLeft(GraftEngine.NoStats)(_ merge _)
      require(st.nVectors > 0,
        s"cannot build $tenant/$index: current state is empty (all records tombstoned?)")
      val local =
        if (st.minDim != st.maxDim || parts.exists(_.ids == null)) None
        else Some(new LocalState(parts.flatMap(_.ids), parts.flatMap(_.idStr),
          parts.flatMap(_.vecs)))
      f(st, local)
    } finally Residency.release(held)
  }

  /** [[build]] with the byte bound up to which the state is resolved
    * onto the driver (see [[GraftEngine.LocalBuildMaxBytes]]); specs pass
    * 0 to force the distributed path, whose artifacts must be the same.
    * True when the build ran on driver-held rows. */
  private[graft] def buildWith(tenant: String, index: String, nlist: Int,
                               metric: String, seed: Long, algo: String,
                               pqM: Int, pqK: Int, localMaxBytes: Long): Boolean = {
    val algoU = algo.toUpperCase(java.util.Locale.ROOT)
    val metricU = metric.toUpperCase(java.util.Locale.ROOT)
    algoU match {
      case "IVF_FLAT" | "FLAT" | "HNSW" =>
      case "IVF_PQ" =>
        // PQ codes are L2-trained like the reference (IvfPqVectorIndex.cs:
        // 55-116). COSINE rides the normalization identity: on unit vectors
        // ‖a−b‖² = 2 − 2·cos(a,b), so L2-training + ADC over unit-normalized
        // copies ranks exactly like cosine — the rank-correct form of the
        // reference's raw L2-proxy-for-any-metric (IvfPqVectorIndex.cs:
        // 163-199 comments). Only the coded tail is normalized; `records`
        // keeps raw vectors (hydration/export and the exact rerank, which
        // scores cosine directly — normalization-invariant).
        require(metricU == "L2" || metricU == "COSINE" || metricU == "IP",
          s"IVF_PQ tails are L2-trained (COSINE via unit normalization, " +
            s"IP via MIPS augmentation); cannot build with metric=$metric")
      case other => throw new IllegalArgumentException(s"unknown algo: $other")
    }
    val isPq = algoU == "IVF_PQ"
    // The LWW state resolve is a full-log window sort (payload-wide
    // exchange + sort). Every downstream consumer — the stats pass, the
    // coarse/PQ build, the sq16 codes write, the records snapshot — is an
    // independent action, so an unpersisted plan re-runs that window
    // once PER ACTION (measured 5× at the 10M rung, the dominant share of
    // a 296 s engine build). One materialization, many cache scans;
    // released in the finally.
    val state = currentState(tenant, index)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // Small IVF_PQ states build on the driver: the pass that computes the
    // stats also returns the rows, then assignment, PQ train/encode and
    // the SQ16 codes and store run over the same arrays. Past the bound
    // (or on a ledger denial) the same artifacts come out of Spark jobs,
    // bit for bit. The other algos write their one assignment or graph
    // job from the cached state either way, so driver rows buy them none.
    withStatePass(tenant, index, state, isPq, isPq && metricU == "IP",
        if (isPq) localMaxBytes else 0L) { (st, local) =>
    // IP rides the MIPS→L2 reduction (see functions.vector_mips_augment):
    // codes are trained over [x, sqrt(M²−‖x‖²), 0…] — zero-padded to the
    // next multiple of M for PQ subspace divisibility — so L2 geometry
    // ranks by inner product. M² is persisted next to the codebooks;
    // search folds ADC distances back onto the dot scale. Mixed dims
    // would land the augmentation coordinate at a different subspace
    // position per row — silently wrong IP ranks, so fail loudly (L2/
    // COSINE paths fail in kernel alignment instead; IP would not).
    if (isPq && metricU == "IP")
      require(st.minDim == st.maxDim,
        s"IP IVF_PQ build needs uniform vector dims, got ${st.minDim}..${st.maxDim}")
    val pqDim =
      if (isPq && metricU == "IP") ((st.maxDim + 1 + pqM - 1) / pqM) * pqM
      else st.maxDim
    val m0 = manifest(tenant, index)
    // whole snapshot lands in a fresh versioned dir; nothing below is
    // visible to readers until the manifest swap at the end
    val newVersion = m0.version + 1
    val dir = freshSnapshotDir(tenant, index, newVersion)
    val keyed = state.select(xxhash64(col("id")).as("id"), col("vector").as("vec"),
      col("id").as("id_str"))
    algoU match {
      case "IVF_FLAT" | "FLAT" =>
        val centers = coarseCenters(keyed, if (algoU == "FLAT") 1 else nlist,
          metric, seed, st.nVectors, st.maxDim)
        // keep the string id alongside the numeric surrogate used by the plans
        Stage.run(spark, "build.assign")(
          IvfFlat.assignByCenters(keyed, centers, IvfFlat.assignMetric(metric))
            .write.mode("overwrite").partitionBy("cluster_id")
            .parquet(s"$dir/vectors"))
        Stage.run(spark, "build.centroids")(
          IvfFlat.centroidsFrame(spark, centers).write.mode("overwrite")
            .parquet(s"$dir/centroids"))
      case "HNSW" =>
        Stage.run(spark, "build.hnsw") {
          val graphs = graft.operators.Hnsw.build(keyed.select("id", "vec"), metric,
            numPartitions = math.max(1, nlist))
          graft.operators.Hnsw.save(graphs, s"$dir/hnsw")
        }
        // surrogate→string map for hit resolution
        Stage.run(spark, "build.idmap")(keyed.select("id", "id_str")
          .write.mode("overwrite").parquet(s"$dir/idmap"))
      case "IVF_PQ" =>
        buildPq(dir, keyed, state, st, local, metricU, nlist, seed, pqM,
          math.min(pqK, 256), pqDim)
    }
    // meta/tags snapshot for hydration without re-reading the whole log.
    // IVF_PQ additionally retains the RAW vectors here (the reference
    // keeps an ID → raw-vector map alongside the codes,
    // IvfPqVectorIndex.cs:18-19): codes alone can't serve the exact
    // rerank path, and the inverted lists hold only quantized codes.
    val recCols = Seq(col("id").as("id_str"), col("meta"), col("tags")) ++
      (if (isPq) Seq(col("vector").as("vec")) else Nil)
    Stage.run(spark, "build.records")(state.select(recCols: _*)
      .write.mode("overwrite").parquet(s"$dir/records"))
    val mNew = commitSnapshot(tenant, index, m0.epoch, Manifest(0L, st.watermark,
      algoU, st.nVectors, newVersion, metricU, headDirty = 0))
    // the id pool's residency estimate, from the stats pass: every
    // snapshot's id table holds one row per state row
    handles.putIfAbsent((tenant, index, newVersion), new SnapshotHandles(dir, mNew,
      poolEstSeed = Some(st.nVectors * 12L + st.idBytes + 32L)))
    local.isDefined
    }
    } finally state.unpersist()
  }

  /** The coarse codebook: MLlib's k-means over `vectors` (id, vec, …),
    * or the single zero center of a FLAT (nlist ≤ 1) index. */
  private def coarseCenters(vectors: DataFrame, nlist: Int, metric: String,
                            seed: Long, nRows: Long,
                            dim: Int): Array[Array[Double]] =
    if (nlist <= 1) IvfFlat.flatCenters(dim)
    else Stage.run(spark, "build.train")(IvfFlat.trainCenters(
      vectors.select("id", "vec"), nlist, metric, seed, maxIter = 10, nRows, dim))

  /** Each driver-held vector's nearest center under L2, with the
    * assignment kernel the distributed path runs per row. */
  private def assignLocal(vecs: Array[Array[Float]],
                          centers: Array[Array[Double]]): Array[Int] = {
    val kernel = new IvfFlat.CenterKernel(centers, "L2")
    val out = new Array[Int](vecs.length)
    java.util.stream.IntStream.range(0, vecs.length).parallel()
      .forEach(i => out(i) = kernel.nearest(vecs(i)))
    out
  }

  /** A driver-held table of `row(i)` for every i, ordered by `clusters`
    * (stable), so a cluster-partitioned write of it leaves about one file
    * per cluster. */
  private def localFrame(fields: Seq[(String, DataType)], clusters: Array[Int])
                        (row: Int => Row): DataFrame = {
    val order = Array.range(0, clusters.length).sortBy(clusters(_))
    spark.createDataFrame(java.util.Arrays.asList(order.map(row): _*), schemaOf(fields: _*))
  }

  /** The IVF_PQ artifacts: coarse lists + PQ codes over the (unit or
    * MIPS-augmented) vectors, the codebooks and centroids, and the SQ16
    * refine sidecar over the raw vectors. From driver arrays when
    * `local` holds the state, else as Spark jobs. */
  private def buildPq(dir: String, keyed: DataFrame, state: DataFrame,
                      st: GraftEngine.BuildStats, local: Option[LocalState], metricU: String,
                      nlist: Int, seed: Long, pqM: Int, pqK: Int,
                      pqDim: Int): Unit = {
    val forPq = metricU match {
      case "COSINE" =>
        keyed.withColumn("vec", graft.functions.vector_unit(col("vec")))
      case "IP" =>
        keyed.withColumn("vec",
          graft.functions.vector_mips_augment(col("vec"), lit(st.maxSq),
            lit(pqDim)))
      case _ => keyed
    }
    // Coarse lists are L2 over the transformed vectors, like IvfPq.build.
    val centers = coarseCenters(forPq, nlist, "L2", seed, st.nVectors, pqDim)
    val centersF = centers.map(_.map(_.toFloat))
    val cb = Stage.run(spark, "build.pq")(local match {
      case Some(ls) =>
        val pqVecs = metricU match {
          case "COSINE" => ls.vecs.map(graft.functions.unitArray)
          case "IP" =>
            ls.vecs.map(graft.functions.mipsAugmentArray(_, st.maxSq, pqDim))
          case _ => ls.vecs
        }
        val clusters = assignLocal(pqVecs, centers)
        // residual = vec − its FLOAT centroid, in float arithmetic (the
        // plan's zip_with over the centroid table)
        val resid = Array.tabulate(pqVecs.length) { i =>
          val v = pqVecs(i); val c = centersF(clusters(i))
          Array.tabulate(v.length)(j => v(j) - c(j))
        }
        val cb = graft.operators.Pq.trainLocal(resid, pqDim, pqM, pqK, seed)
        val fcb = new graft.operators.Pq.FlatCodebook(cb)
        val codes = new Array[Array[Byte]](resid.length)
        java.util.stream.IntStream.range(0, resid.length).parallel()
          .forEach(i => codes(i) = graft.operators.Pq.encodeRow(resid(i), fcb))
        localFrame(Seq("id" -> LongType, "cluster_id" -> IntegerType,
          "codes" -> BinaryType, "id_str" -> StringType), clusters)(i =>
          Row(ls.ids(i), clusters(i), codes(i), ls.idStr(i)))
          .write.mode("overwrite").partitionBy("cluster_id")
          .parquet(s"$dir/ivfpq/codes")
        cb
      case None =>
        // the assignment is persisted: the codebook's sample and the
        // codes write are separate actions over it, and an unpersisted
        // assignment re-runs the nlist-centroid kernel over the full
        // corpus once per action (~nlist×dim FLOPs per row per pass)
        val assigned = IvfFlat.assignByCenters(forPq, centers, "L2")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (codes, cb) = graft.operators.IvfPq.encodeResiduals(assigned,
            IvfFlat.centroidsFrame(spark, centers), pqM, pqK, seed, pqDim,
            keep = Seq("id_str"))
          codes.write.mode("overwrite").partitionBy("cluster_id")
            .parquet(s"$dir/ivfpq/codes")
          cb
        } finally assigned.unpersist()
    })
    Stage.run(spark, "build.centroids")(IvfFlat.centroidsFrame(spark, centers)
      .write.mode("overwrite").parquet(s"$dir/ivfpq/centroids"))
    // the same table at the IVF location, so the cache's L2 layer can
    // probe centroids without knowing the algo: a file copy, not a job
    copyTree(Paths.get(s"$dir/ivfpq/centroids"), Paths.get(s"$dir/centroids"))
    Stage.run(spark, "build.codebooks")(
      graft.operators.Pq.saveCodebook(cb, spark, s"$dir/ivfpq/codebooks"))
    if (metricU == "IP") Stage.run(spark, "build.mips") {
      import spark.implicits._
      Seq(st.maxSq).toDF("max_sq")
        .write.mode("overwrite").parquet(s"$dir/ivfpq/mips")
    }
    // SQ16 sidecar over the RAW vectors (2× compression): the refined
    // rows tier reranks ADC candidates against these driver-side — raw
    // floats are past any residency budget exactly when PQ is the right
    // algo; uint16 is the rung between codes (M bytes) and floats whose
    // error prices at exact (uint8's does not on near-equidistant data —
    // the bench gauge measures it). Params are the global element
    // min/max from the stats pass; the encode keeps its portable
    // float-then-double choreography (Sq16Store.encodeCol) at 65535
    // levels, so a SQL oracle reproduces the codes bit-exactly. The
    // rerank scores the TRUE metric on dequantized vectors, so one
    // raw-space store serves L2/COSINE/IP alike.
    val (mn, mx) = (st.elemMin, st.elemMax)
    graft.operators.ScalarQuant.saveParams(
      graft.operators.ScalarQuant.Params(mn, mx), s"$dir/sq16/params.json")
    // (surrogates, codes) of a driver-local build: the codes table and
    // the store below both come from these
    val local16 = local.map(ls =>
      (ls.ids, ls.vecs.map(graft.operators.Sq16Store.encodeRow(_, mn, mx))))
    Stage.run(spark, "build.sq16")(local16 match {
      case Some((ids, c16)) =>
        import spark.implicits._
        ids.indices.map(i => (ids(i), c16(i))).toDF("id", "qvec16")
          .write.mode("overwrite").parquet(s"$dir/sq16/codes")
      case None =>
        state.select(xxhash64(col("id")).as("id"),
            graft.operators.Sq16Store.encodeCol(col("vector"), mn, mx).as("qvec16"))
          .write.mode("overwrite").parquet(s"$dir/sq16/codes")
    })
    // binary SEGMENT sidecar: the merged resident store persisted as raw
    // sorted arrays, so a restarted engine (warmServing, or the first
    // refined call after boot) loads the rerank store by sequential file
    // read (~disk bandwidth) instead of re-running the parquet scan +
    // encode + k-way merge every boot (measured ~27 s at the 10M rung —
    // the r9 warm-boot regression). Gated: written when the full store
    // fits THIS engine's per-store budget (past it, serving would deny
    // residency and the transient merge buys nothing), OR — for a
    // u8-opted-in engine — when the HALF-SIZE store fits (the u8 tier
    // streams this sidecar; without it a budget-tight builder would
    // strand its own serving on the plan fallback, the exact cliff the
    // tier removes; the build then transiently holds the full-precision
    // store it persists). The transient merge is additionally admitted on
    // the ledger's refine line and counted there while alive, so a build
    // inside a loaded serving JVM cannot stack an unaccounted multi-GB
    // store on top of a near-full line. A driver-local build merges the
    // codes it just wrote; the distributed one reads them BACK, so the
    // sidecar is what a segment-less engine would build from the same
    // snapshot (same files, same partition order).
    if (st.nVectors > 0 && st.minDim == st.maxDim) {
      val d16 = st.maxDim
      val est = graft.operators.Sq16Store.estimateBytes(st.nVectors, d16)
      val wanted = est <= sq16MaxBytes ||
        (refineU8Fallback &&
          graft.operators.Sq8Store.estimateBytes(st.nVectors, d16) <= sq16MaxBytes)
      // `wanted` is this store's per-handle check; the ledger's
      // reservation covers the build itself, not just the finished store
      if (wanted) Residency.admit(Residency.Refine, est, Long.MaxValue) {
        local16 match {
          case Some((ids, c16)) =>
            graft.operators.Sq16Store.fromRows(ids, c16, d16, mn, mx)
          case None => Stage.run(spark, "build.sq16")(
            graft.operators.Sq16Store.buildResident(
              spark.read.schema(Sq16CodesSchema).parquet(s"$dir/sq16/codes"),
              d16, mn, mx, estBytes = est))
        }
      } match {
        case Residency.Admitted(store) =>
          try graft.operators.Sq16Store.save(store, s"$dir/sq16/segments")
          finally Residency.release(store)
        case _ =>
      }
    }
  }

  // -------------------------------------------------------------------
  // read path (SURVEY §3.1 steps 10-12)
  // -------------------------------------------------------------------

  /** Deterministic scan cap: keep the `maxScans` hash-smallest candidate
    * ids per query (see [[search]]). Applied uniformly to tail AND head
    * candidate streams. */
  private def capScans(candidates: DataFrame, maxScans: Int): DataFrame =
    if (maxScans <= 0) candidates
    else {
      val wScan = Window.partitionBy("query_id").orderBy(xxhash64(col("id_str")))
      candidates.withColumn("scan_rn", row_number().over(wScan))
        .filter(col("scan_rn") <= maxScans).drop("scan_rn")
    }

  /** Batch search. queries: (query_id BIGINT, qvec ARRAY<FLOAT>,
    * filter_tags ARRAY<STRING> optional). Returns (query_id, rank, id,
    * score[, meta]) — id is the user-facing string id.
    *
    * Plan: tail = built IVF snapshot (nprobe pruning over the
    * cluster-partitioned table) and head = log records fresher than the
    * build watermark (exact scan). Head ids mask tail rows (anti-join), so
    * the two candidate streams are disjoint and one bounded top-k covers
    * the merge. The tag filter runs BEFORE top-k (better recall than the
    * reference's post-filter — deliberate, documented divergence:
    * SURVEY §4.1); hydration joins the ≤k hit ids back to the record
    * snapshot (reference steps 10-12, VectorCommandSet.cs:457-480).
    *
    * `maxScans` > 0 caps the number of scored tail candidates per query —
    * the reference's cost-ceiling / budget-degradation knob (F6,
    * BruteForceVectorIndex.cs:288-344; budget halving
    * VectorCommandSet.cs:436-456). The reference truncates its
    * insertion-order scan; a distributed table has no insertion order, so
    * the deterministic analog keeps the `maxScans` hash-smallest candidate
    * ids per query (documented divergence, COVERAGE.md).
    *
    * `refine` > 0 (IVF_PQ only) re-scores the top `k·refine` ADC
    * candidates per query against the raw vectors retained in the build
    * snapshot — the classic PQ refine step. ADC ranks are approximate;
    * the rerank makes the served top-k exact whenever the true top-k
    * survives the ADC cut (guaranteed at refine·k ≥ candidates), and also
    * removes the approximate-tail/exact-head score asymmetry of the delta
    * merge. 0 = raw ADC scores (the reference's serving behavior).
    * `refineStore` picks the rerank vectors when `refine` > 0: "exact"
    * (default) re-scores against the snapshot's retained raw vectors;
    * "sq16" against the SQ16 sidecar's dequantized vectors — the SAME
    * floats the resident rows tier reranks with, so the two tiers give
    * one refined answer (uint16 error is below the gauge's neighbor
    * margins: wire recall == exact rerank's on the bench gauge). */
  def search(tenant: String, index: String, queries: DataFrame, k: Int,
             metric: String = "L2", nprobe: Int = 4,
             withMeta: Boolean = false, maxScans: Int = 0,
             refine: Int = 0, refineStore: String = "exact"): DataFrame =
    searchImpl(tenant, index, queries, k, metric, nprobe, withMeta, maxScans,
      refine, refineStore)
      .orderBy("query_id", "rank")

  /** [[search]] without the final cosmetic sort — internal callers
    * (the cached cascade) re-order once at their own output, and the
    * range-sort costs a sampling pass per call. */
  private[graft] def searchImpl(tenant: String, index: String, queries: DataFrame, k: Int,
                                metric: String, nprobe: Int,
                                withMeta: Boolean = false, maxScans: Int = 0,
                                refine: Int = 0,
                                refineStore: String = "exact"): DataFrame =
      Stage.run(spark, "search.plan") {
    val m = manifest(tenant, index)
    m.requireMetric(metric)
    val snap = snapDir(tenant, index, m)
    val snapshot = spark.read.parquet(s"$snap/records")

    // head: anything written after the build watermark (fresh adds,
    // upserts AND tombstones — the latter must mask tail hits). Skipped
    // wholesale when the manifest proves the log has no post-watermark
    // rows (headDirty == 0) — the steady serving state after a build.
    val headOpt: Option[(DataFrame, DataFrame)] =
      if (m.headDirty == 0 || !recordsLogExists) None
      else {
        val headLog = readLog()
          .filter(col("tenant_id") === tenant && col("index_name") === index &&
            col("updated_at") > m.buildWatermark)
        val wHead = Window.partitionBy("id").orderBy(col("updated_at").desc)
        val headState = headLog.withColumn("rn", row_number().over(wHead))
          .filter(col("rn") === 1)
        val headIds = headState.select(col("id").as("id_str")).distinct()
        val headLive = headState.filter(!col("deleted"))
          .select(col("id").as("id_str"), col("vector").as("vec"),
            orEmpty(col("tags")).as("tags"), col("meta"))
        Some((headIds, headLive))
      }

    // drop tail candidates whose id was re-written (or tombstoned) in head
    def maskHead(cands: DataFrame): DataFrame = headOpt match {
      case None => cands
      case Some((headIds, _)) =>
        cands
          .join(broadcast(headIds.withColumn("masked", lit(true))), Seq("id_str"), "left")
          .filter(col("masked").isNull)
    }

    val baseQueries = queries.select("query_id", "qvec")

    val tagFilter = queries.columns.contains("filter_tags")
    // F1: every filter tag on the candidate's tags (`tagsOf`: id_str, tags)
    def tagFiltered(cands: DataFrame, tagsOf: DataFrame): DataFrame =
      cands.join(broadcast(queries.select("query_id", "filter_tags")), "query_id")
        .join(tagsOf, Seq("id_str"), "left")
        .filter(coalesce(size(col("filter_tags")), lit(0)) === 0 ||
          forall(col("filter_tags"), t => array_contains(orEmpty(col("tags")), t)))
        .select("query_id", "id_str", "score")

    // tail candidates per the built algo, minus ids re-written in head
    val tailScored = m.algo match {
      case "HNSW" =>
        // graphs return ranked hits already; over-fetch when a tag filter
        // will prune afterwards, the final top-k re-trims.
        // ALSO over-fetch by the head's tail-mask count: the per-graph cut
        // happens BEFORE maskHead, so without it a masked row's slot is
        // lost and the final top-k comes up short (the reference's own
        // delta shortfall, DeltaVectorIndex.cs:76-122) — maskInTail more
        // rows guarantees backfill. The count is the epoch-memoized LWW
        // head state (driver-bounded); corpora past the id-map gate or
        // heads past the serve bound keep the shortfall (and should
        // compact).
        val graphs = graft.operators.Hnsw.load(spark, s"$snap/hnsw")
        val idmap = spark.read.schema(IdMapSchema).parquet(s"$snap/idmap")
        val maskExtra =
          if (m.headDirty == 0 || m.nVectors > RowsServeMaxRows) 0
          else headStateOf(tenant, index, m).map(_.maskInTail).getOrElse(0)
        val kFetch = (if (tagFilter) k * 10 else k) + maskExtra
        val hnswHits = graft.operators.Hnsw.search(graphs, baseQueries, kFetch)
          .select(col("query_id"), col("id"), col("score"))
        maskHead(idmap.join(broadcast(hnswHits), Seq("id")))
          .select("query_id", "id_str", "score")
      case "IVF_PQ" =>
        // ADC-scored candidates from the probed inverted lists (approximate
        // scores vs the head's exact ones — the reference's delta merge has
        // the same asymmetry, DeltaVectorIndex.cs:76-122). The codes are
        // L2-scored by construction; COSINE tails were built over unit
        // vectors (see build), so the ADC score is −‖q̂−v̂‖² and folds onto
        // the cosine scale as 1 + score/2 = cos(q,v) — the head's exact
        // cosine rows then merge on one comparable scale (the conversion
        // the reference derives but skips, IvfPqVectorIndex.cs:178-195).
        val cosinePq = metric.equalsIgnoreCase("COSINE")
        // no INNERPRODUCT alias here: the manifest stores "IP", so the
        // generic metric-match check above already rejects any other
        // spelling before this branch is reached
        val ipPq = metric.equalsIgnoreCase("IP")
        require(metric.equalsIgnoreCase("L2") || cosinePq || ipPq,
          s"IVF_PQ index serves L2, COSINE or IP; cannot search with metric=$metric")
        // the general metric-match check above skips unknown ("") manifest
        // metrics; a COSINE fold over codes NOT built normalized (or an IP
        // fold over codes NOT built augmented) would be meaningless, so pin
        // each to an explicitly matching build metric
        require(!cosinePq || m.metric.equalsIgnoreCase("COSINE"),
          s"COSINE IVF_PQ search needs a COSINE-built tail (normalized " +
            s"codes); this index's build metric is '${m.metric}'")
        require(!ipPq || m.metric.equalsIgnoreCase("IP"),
          s"IP IVF_PQ search needs an IP-built tail (MIPS-augmented " +
            s"codes); this index's build metric is '${m.metric}'")
        val pqIdx = handlesOf(tenant, index, m).pqIndex
        val pqQueries =
          if (cosinePq)
            baseQueries.withColumn("qvec", graft.functions.vector_unit(col("qvec")))
          else if (ipPq) {
            // query side of the MIPS reduction: q' = [q, 0…] zero-padded to
            // the codebook's trained dim — the appended coordinates add
            // nothing to ‖q'−x'‖² beyond the constant M² (folded back below)
            val cbDim = pqIdx.cb.m * pqIdx.cb.dsub
            baseQueries.withColumn("qvec",
              concat(col("qvec"),
                array_repeat(lit(0.0f), lit(cbDim) - size(col("qvec")))))
          } else baseQueries
        val strMap = spark.read.schema(PqCodesSchema)
          .parquet(s"$snap/ivfpq/codes").select("id", "id_str")
        // Edge: a ZERO corpus vector passes vector_unit unchanged, so its
        // ADC distance to a unit query is ≈1 and the fold scores it ≈0.5
        // where exact cosine says 0 — a bounded mid-scale misplacement in
        // ADC-only serving only (the head path and the refine rerank both
        // score true cosine 0; the reference's raw any-metric proxy is
        // wronger for every row, IvfPqVectorIndex.cs:163-199).
        val adcScore =
          if (cosinePq) (lit(1.0) + col("score") / 2).as("score") else col("score")
        val adcRaw = capScans(
          maskHead(
            graft.operators.IvfPq
              .scoredCandidates(pqIdx, pqQueries, nprobe)
              .join(strMap, Seq("id")))
            .select(col("query_id"), col("id_str"), adcScore),
          maxScans)
        val adcCands =
          if (!ipPq) adcRaw
          else {
            // fold the augmented-space ADC distance back onto the dot
            // scale: score = −‖q'−x'‖² = −(‖q‖² + M² − 2⟨q,x⟩) ⇒
            // ⟨q,x⟩ = (score + ‖q‖² + M²)/2. ‖q‖² is per-query (tiny
            // broadcast join); M² was persisted at build (memoized per
            // snapshot — constant, keep the read job off the hot path).
            // The head's exact dot rows then merge on the same scale.
            val maxSq = handlesOf(tenant, index, m).mipsMaxSq
            val qn = baseQueries.select(col("query_id"),
              graft.functions.vector_dot(col("qvec"), col("qvec")).as("qn2"))
            adcRaw.join(broadcast(qn), Seq("query_id"))
              .select(col("query_id"), col("id_str"),
                ((col("score") + col("qn2") + lit(maxSq)) / 2).as("score"))
          }
        if (refine <= 0) adcCands
        else {
          // F1 semantics: the conjunctive tag filter applies BEFORE any
          // ranking cut, so the k·refine ADC cut below must select from
          // MEMBER candidates only — cutting unfiltered candidates would
          // starve the rerank under a selective filter (the k·refine
          // nearest unfiltered rows may contain no member at all) and
          // return short/empty where the same query unrefined answers
          // fully. Tail candidates are head-masked, so the snapshot's
          // tags are authoritative here; head rows join exact-scored
          // after this branch and the downstream filter handles them.
          val adcEligible =
            if (!tagFilter) adcCands
            else tagFiltered(adcCands,
              snapshot.select(col("id_str"), orEmpty(col("tags")).as("tags")))
          // bounded ADC cut (≤ k·refine rows per query), shared by both
          // rerank stores
          val cut = TopK.perGroup(
              adcEligible.select(col("query_id"),
                xxhash64(col("id_str")).as("id"), col("score")),
              Seq("query_id"), refineCutSize(k, refine))
            .select("query_id", "id")
          if (refineStore == "sq16") {
            // rerank against the SQ16 sidecar's DEQUANTIZED vectors — the
            // same floats the resident rows tier scores (this decode
            // expression is the bit-exact twin of Sq16Store.dequant), so
            // rows == plan holds for refined serving exactly like the
            // unrefined tiers
            // the IN-SCOPE manifest m: a second manifest read here could
            // disagree with the snapshot dir derived from m under a
            // concurrent rebuild (check v+1, read v)
            require(sq16TableExists(snap),
              s"$tenant/$index snapshot has no sq16 sidecar; " +
                "rebuild the index or use refineStore=exact")
            val p16 = graft.operators.ScalarQuant.loadParams(
              s"$snap/sq16/params.json")
            val delta16 =
              if (p16.max > p16.min) (p16.max - p16.min) / 65535.0 else 0.0
            val codes16 = spark.read.schema(Sq16CodesSchema)
              .parquet(s"$snap/sq16/codes")
            strMap.join(broadcast(codes16.join(broadcast(cut), Seq("id"))),
                Seq("id"))
              .join(broadcast(baseQueries), Seq("query_id"))
              .select(col("query_id"), col("id_str"),
                graft.functions.vector_score(metric, col("qvec"),
                  transform(col("qvec16"), c =>
                    (lit(p16.min.toDouble) + c * lit(delta16)).cast("float")))
                  .as("score"))
          } else {
            // raw vectors are only retained in refine-era snapshots; an
            // older snapshot must fail with the remedy, not an unresolved-
            // column error
            require(snapshot.columns.contains("vec"),
              s"$tenant/$index snapshot predates raw-vector retention; " +
                "rebuild the index to enable refine")
            // exact rerank: broadcast the tiny cut into the snapshot's
            // raw-vector table → exact score. Same small-side-always-
            // broadcast shape as hit hydration; the corpus-sized snapshot
            // is never shuffled.
            val snapVecs = snapshot.select(col("id_str"), col("vec"))
              .withColumn("id", xxhash64(col("id_str")))
            // raw qvec + raw snapshot vec: cosine is normalization-
            // invariant, so the rerank scores the TRUE metric exactly
            snapVecs.join(broadcast(cut), Seq("id"))
              .join(broadcast(baseQueries), Seq("query_id"))
              .select(col("query_id"), col("id_str"),
                graft.functions.vector_score(metric, col("qvec"), col("vec"))
                  .as("score"))
          }
        }
      case _ => // IVF_FLAT / FLAT share the inverted-list layout
        val tailIdx = handlesOf(tenant, index, m).tailIndex
        val probeSet = IvfFlat.probes(tailIdx, baseQueries, metric, nprobe)
        val tailCandidates = maskHead(
          tailIdx.assigned.join(broadcast(probeSet), Seq("cluster_id")))
        capScans(tailCandidates, maxScans)
          .select(col("query_id"), col("id_str"),
            graft.functions.vector_score(metric, col("qvec"), col("vec")).as("score"))
    }

    // head candidates: exact brute-force scan of the fresh records — capped
    // by the same deterministic maxScans budget as the tail (the reference
    // caps EVERY scan, BruteForceVectorIndex.cs:288-344, including the
    // delta head; uncapped heads would let budget degradation leak)
    val candidates = headOpt match {
      case None => tailScored
      case Some((_, headLive)) =>
        val headScored = capScans(
          headLive.crossJoin(broadcast(baseQueries)), maxScans)
          .select(col("query_id"), col("id_str"),
            graft.functions.vector_score(metric, col("qvec"), col("vec")).as("score"))
        tailScored.unionByName(headScored)
    }

    // conjunctive tag filter BEFORE ranking (F1 semantics)
    val filtered =
      if (!tagFilter) candidates
      else {
        val snapTags = snapshot.select(col("id_str"), orEmpty(col("tags")).as("tags"))
        tagFiltered(candidates, headOpt match {
          case None => snapTags
          case Some((headIds, headLive)) =>
            headLive.select(col("id_str"), col("tags"))
              .unionByName(snapTags.join(headIds, Seq("id_str"), "left_anti"))
        })
      }

    // bounded top-k on a numeric surrogate, then map back to string ids.
    // The tiny side is always the hit list (≤ k·nq rows): restrict the
    // corpus-sized maps with a broadcast semi-join on it FIRST, then
    // broadcast the now-tiny slice — never broadcast the full id universe.
    val hits = TopK.perGroup(
      filtered.select(col("query_id"), xxhash64(col("id_str")).as("id"), col("score")),
      Seq("query_id"), k)
    val hitIds = hits.select("id").distinct()
    // snapshot ids are unique by construction; the union+distinct is only
    // needed when a fresh head can re-introduce ids
    val allIds = headOpt match {
      case None => snapshot.select("id_str")
      case Some((_, headLive)) =>
        snapshot.select("id_str").unionByName(headLive.select("id_str")).distinct()
    }
    val idMap = allIds.withColumn("id", xxhash64(col("id_str")))
      .join(broadcast(hitIds), Seq("id"), "left_semi")
    val withIds = hits.join(broadcast(idMap), Seq("id"))
      .select(col("query_id"), col("rank"), col("id_str").as("id"), col("score"))
    if (!withMeta) withIds
    else {
      // hydration: head meta wins over snapshot meta (F4/F5)
      val snapMeta = snapshot.select(col("id_str"), col("meta"))
      val metaOf = (headOpt match {
        case None => snapMeta
        case Some((headIds, headLive)) =>
          headLive.select(col("id_str"), col("meta"))
            .unionByName(snapMeta.join(headIds, Seq("id_str"), "left_anti"))
      }).join(broadcast(idMap.select("id_str")), Seq("id_str"), "left_semi")
      withIds.join(broadcast(metaOf), withIds("id") === metaOf("id_str"), "left")
        .drop("id_str")
    }
  }

  /** Current snapshot's centroid table (cluster_id, centroid). */
  def centroids(tenant: String, index: String): DataFrame =
    spark.read.parquet(
      s"${snapDir(tenant, index, manifest(tenant, index))}/centroids")

  /** VEC.STATS analog: per-index record/cluster counts. */
  def stats(tenant: String, index: String): DataFrame = {
    val assigned = spark.read.parquet(
      s"${snapDir(tenant, index, manifest(tenant, index))}/vectors")
    assigned.groupBy("cluster_id").agg(count(lit(1)).as("n_vectors"))
      .orderBy("cluster_id")
  }

  // -------------------------------------------------------------------
  // audit log (S12 — reference: Services/AuditLogger.cs, append-only)
  // -------------------------------------------------------------------

  /** Append one audit event. `ts` is caller-supplied epoch-millis so
    * replays stay deterministic. */
  def audit(actor: String, action: String, resource: String, ts: Long): Unit =
    Stage.run(spark, "audit") {
      import spark.implicits._
      Seq((ts, actor, action, resource))
        .toDF("ts", "actor", "action", "resource")
        .write.mode("append").parquet(s"$root/audit")
    }

  def auditLog(): DataFrame = spark.read.parquet(s"$root/audit")
}
