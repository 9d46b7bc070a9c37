package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{BruteForceKnn, DeltaIndex, IvfFlat, TopK}

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
  */
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
  private def lockFor(root: String, tenant: String, index: String): Object =
    manifestLocks.getOrElseUpdate(s"$root#$tenant/$index", new Object)

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

/** `refineU8Fallback` (OPT-IN, default off): when the sq16 refine
  * store is budget-denied but a HALF-SIZE uint8 copy fits, serve
  * refined rows from the u8 store instead of dropping to the
  * distributed plan — the degraded tier trades measured recall
  * (~0.980 vs 0.995 on the bench gauge) for three orders of latency.
  * Off by default because served scores then differ from the plan's
  * sq16 rerank; the serving trace announces the tier
  * ("head+pqtail-refined-u8"). */
class GraftEngine(spark: SparkSession, root: String,
                  idPoolMaxBytes: Long = Residency.IdsTags.handleMax,
                  hashAllowedMinEntries: Int = 1 << 17,
                  pqServeMaxLookupsMT: Long =
                    graft.operators.IvfPq.PqServeMaxLookupsMT,
                  sq16MaxBytes: Long = Residency.Refine.handleMax,
                  refineU8Fallback: Boolean = false) {
  // idPoolMaxBytes / sq16MaxBytes: this engine's per-handle caps on the
  // ids-tags and refine lines of the residency ledger ([[Residency]]);
  // the line caps and the JVM total are shared by every engine.

  private def withManifestLock[T](tenant: String, index: String)(f: => T): T =
    GraftEngine.lockFor(root, tenant, index).synchronized(f)

  private def recordsPath = s"$root/records"
  private def indexPath(tenant: String, index: String) = s"$root/indexes/$tenant/$index"

  /** Declared log schema: reads never infer from a sampled footer, so a
    * log mixing pre-`numeric_fields` files with new ones stays
    * deterministic (absent columns read as null) without mergeSchema's
    * all-footers cost. */
  private val recordSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", StringType),
      StructField("vector", ArrayType(FloatType)),
      StructField("meta", StringType),
      StructField("tags", ArrayType(StringType)),
      StructField("numeric_fields", MapType(StringType, DoubleType)),
      StructField("updated_at", LongType),
      StructField("deleted", BooleanType),
      StructField("tenant_id", StringType),
      StructField("index_name", StringType)))
  }

  /** Declared schemas of the snapshot and cache tables — what the build
    * and the cache writers write. Opening a table with its schema
    * declared submits no footer-inference job, and `cluster_id`, last as
    * in an inferred read, stays the partition column probes prune on. */
  private def schemaOf(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })
  private val VectorsSchema = schemaOf("id" -> LongType,
    "vec" -> ArrayType(FloatType), "id_str" -> StringType, "cluster_id" -> IntegerType)
  private val PqCodesSchema = schemaOf("id" -> LongType, "codes" -> BinaryType,
    "id_str" -> StringType, "cluster_id" -> IntegerType)
  private val CentroidsSchema = schemaOf("cluster_id" -> IntegerType,
    "centroid" -> ArrayType(FloatType))
  private val IdMapSchema = schemaOf("id" -> LongType, "id_str" -> StringType)
  private val MipsSchema = schemaOf("max_sq" -> DoubleType)
  private val Sq16CodesSchema = schemaOf("id" -> LongType,
    "qvec16" -> ArrayType(IntegerType))
  private val CacheEntrySchema = schemaOf("cache_key" -> LongType,
    "layer" -> StringType,
    "hits" -> ArrayType(schemaOf("rank" -> IntegerType, "id" -> StringType,
      "score" -> DoubleType)),
    "epoch" -> LongType, "expires_at" -> LongType, "written_at" -> LongType)

  private def readLog(): DataFrame =
    spark.read.schema(recordSchema).parquet(recordsPath)

  // -------------------------------------------------------------------
  // manifest (epoch + build watermark) — tiny JSON, driver-side
  // -------------------------------------------------------------------

  /** `version` points at the snapshot directory (`v<version>/`) holding
    * this build's artifacts: readers resolve paths THROUGH the manifest, so
    * a build writes its whole snapshot into a fresh versioned dir and the
    * single manifest write is the atomic commit point — the snapshot-
    * isolation form of the reference's temp-dir-rename atomic snapshot
    * (DeltaVectorIndex.cs:160-212). version 0 = never built. */
  /** `headDirty` = 1 when the record log may hold rows newer than the
    * build watermark (any write since the last build/compaction); 0 right
    * after a build. Lets the search plan skip the whole fresh-head subtree
    * (log scan, LWW window, mask anti-joins) when the tail is known
    * current — the overwhelmingly common read regime of a serving index. */
  case class Manifest(epoch: Long, buildWatermark: Long, algo: String = "IVF_FLAT",
                      nVectors: Long = 0L, version: Long = 0L, metric: String = "L2",
                      headDirty: Int = 1) {
    /** The on-disk form: [[manifest]] and [[exportSnapshot]] write it,
      * [[Manifest.parse]] reads it back. */
    def render: String =
      s"""{"epoch": $epoch, "buildWatermark": $buildWatermark, "algo": ${Json.quote(algo)}, "nVectors": $nVectors, "version": $version, "metric": ${Json.quote(metric)}, "headDirty": $headDirty}"""
  }

  object Manifest {
    /** Strict read of [[Manifest.render]]'s output. Truncated or
      * malformed JSON, and a missing or non-integer `epoch`,
      * `buildWatermark`, `nVectors` or `version`, throw an
      * IllegalStateException naming the file and the field — a damaged
      * manifest must never read as epoch 0 / version 0 (an empty or
      * "not found" index). Absent legacy fields keep their documented
      * defaults: `algo` IVF_FLAT, `metric` unknown (""), which skips
      * the cross-metric gate rather than asserting a metric the build
      * may not have used, and `headDirty` 1 (correctness over speed). */
    def parse(file: String, text: String): Manifest = {
      val o = Json.parse(s"corrupt manifest $file", text, new IllegalStateException(_))
      Manifest(o.need("epoch")(o.long), o.need("buildWatermark")(o.long),
        o.string("algo").getOrElse("IVF_FLAT"), o.need("nVectors")(o.long),
        o.need("version")(o.long), o.string("metric").getOrElse(""),
        o.int("headDirty").getOrElse(1))
    }
  }

  private def manifestFile(tenant: String, index: String) =
    Paths.get(s"${indexPath(tenant, index)}/manifest.json")

  /** Current snapshot dir for reads (requires a completed build). */
  private def snapDir(tenant: String, index: String, m: Manifest): String = {
    if (m.version <= 0) throw new NotFoundException("index", s"$tenant/$index has no built snapshot")
    s"${indexPath(tenant, index)}/v${m.version}"
  }

  /** Parsed-manifest memo keyed by the file's (mtime, size): the wire
    * serving path reads the manifest on EVERY call, and a steady-state
    * search was paying a full read + parse per query — with
    * per-call disk reads also riding this host's external IO storms
    * straight into serving tails. Freshness stays anchored to the
    * filesystem (the atomic-rename commit bumps mtime, so ANY writer —
    * this JVM or another process — invalidates the memo on its next
    * stat); same-JVM writers additionally drop the entry synchronously
    * in [[writeManifest]], so only a cross-process write landing within
    * one mtime tick AND at identical byte size could alias (epoch and
    * version both monotonically widen, so sizes collide only between
    * same-width stamps). */
  private val manifestMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (java.nio.file.attribute.FileTime, Long, Manifest)]()

  def manifest(tenant: String, index: String): Manifest = {
    val f = manifestFile(tenant, index)
    val attrs =
      try Some(Files.readAttributes(
        f, classOf[java.nio.file.attribute.BasicFileAttributes]))
      catch {
        // ONLY absence means "never built" — mapping a transient I/O or
        // permission error to the never-built manifest would serve
        // index-not-found for a live index mid-storm; propagate those
        case _: java.nio.file.NoSuchFileException => None
      }
    attrs match {
      case None =>
        // metric = "" (unknown), NOT the case-class "L2" default: a
        // never-built index has recorded no metric, so validation must
        // be skipped — the same convention as an absent field in parse
        Manifest(0L, Long.MinValue, "IVF_FLAT", metric = "")
      case Some(a) =>
        val key = f.toString
        val hit = manifestMemo.get(key)
        if (hit != null && hit._1 == a.lastModifiedTime && hit._2 == a.size)
          hit._3
        else {
          val m = Manifest.parse(f.toString, Json.readFile(f))
          manifestMemo.put(key, (a.lastModifiedTime, a.size, m))
          m
        }
    }
  }

  private def writeManifest(tenant: String, index: String, m: Manifest): Unit = {
    val f = manifestFile(tenant, index)
    Files.createDirectories(f.getParent)
    // write-then-atomic-rename: the manifest swap IS the commit
    val tmp = Paths.get(f.toString + ".tmp")
    Files.writeString(tmp, m.render, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    Files.move(tmp, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // a same-JVM writer must never serve even one stale read off the memo
    manifestMemo.remove(f.toString)
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => Files.deleteIfExists(q))
    }

  /** The dir snapshot `version` is written into, emptied first: a build
    * that died before its manifest rename leaves that dir behind, and
    * none of its files may survive into the snapshot written over it. */
  private def freshSnapshotDir(tenant: String, index: String, version: Long): String = {
    val dir = s"${indexPath(tenant, index)}/v$version"
    deleteTree(Paths.get(dir))
    dir
  }

  /** Best-effort GC of superseded snapshot dirs (single-writer model). */
  private def gcOldSnapshots(tenant: String, index: String, keep: Long): Unit = {
    val base = Paths.get(indexPath(tenant, index))
    if (Files.isDirectory(base)) {
      Files.list(base).forEach { p =>
        val name = p.getFileName.toString
        if (name.startsWith("v") && name.drop(1).forall(_.isDigit) &&
            name.drop(1).toLong < keep) {
          try deleteTree(p)
          catch { case _: java.io.IOException => () }
        }
      }
    }
  }

  def epoch(tenant: String, index: String): Long = manifest(tenant, index).epoch

  private def bumpEpoch(tenant: String, index: String): Unit =
    withManifestLock(tenant, index) {
      val m = manifest(tenant, index)
      writeManifest(tenant, index, m.copy(epoch = m.epoch + 1, headDirty = 1))
    }

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
    withNum
      .select("tenant_id", "index_name", "id", "vector", "meta", "tags",
        "numeric_fields", "updated_at", "deleted")
      .write.mode("append")
      .partitionBy("tenant_id", "index_name")
      .parquet(recordsPath)
  }

  private def recordsLogExists: Boolean =
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
    val perIndex =
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
    val touchedCounts = records.groupBy("tenant_id", "index_name")
      .agg(count(lit(1))).collect()
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
    appendLog(tombs.select("tenant_id", "index_name", "id", "vector", "meta",
      "tags", "updated_at", "deleted"))
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
    val rdd = state.select(col("updated_at"), col("id"), col("vector"),
      xxhash64(col("id"))).queryExecution.toRdd
    def pass(partBytes: Long) = new GraftEngine.StateParts(rdd
      .mapPartitions(it => Iterator(GraftEngine.foldState(it, pq, ip, partBytes)))
      .collect())
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
        IvfFlat.assignByCenters(keyed, centers, IvfFlat.assignMetric(metric))
          .write.mode("overwrite").partitionBy("cluster_id")
          .parquet(s"$dir/vectors")
        IvfFlat.centroidsFrame(spark, centers).write.mode("overwrite")
          .parquet(s"$dir/centroids")
      case "HNSW" =>
        val graphs = graft.operators.Hnsw.build(keyed.select("id", "vec"), metric,
          numPartitions = math.max(1, nlist))
        graft.operators.Hnsw.save(graphs, s"$dir/hnsw")
        // surrogate→string map for hit resolution
        keyed.select("id", "id_str").write.mode("overwrite")
          .parquet(s"$dir/idmap")
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
    state.select(recCols: _*)
      .write.mode("overwrite").parquet(s"$dir/records")
    // concurrent-writer guard (e.g. an upsertStream micro-batch landing
    // between the state read and this commit): any write bumps the epoch,
    // so an epoch moved since m0 means the log holds rows this snapshot
    // never saw — the head must stay dirty or they'd be invisible. The
    // re-read and the rename sit under the per-index manifest lock, so a
    // writer can't slip its bump between them (it either lands before the
    // re-read — seen in mNow — or after the rename, where bumpEpoch itself
    // re-sets headDirty=1).
    val mNew = withManifestLock(tenant, index) {
      val mNow = manifest(tenant, index)
      val mNew = Manifest(mNow.epoch + 1, st.watermark, algoU, st.nVectors, newVersion,
        metricU, headDirty = if (mNow.epoch != m0.epoch) 1 else 0)
      writeManifest(tenant, index, mNew)
      mNew
    }
    // the id pool's residency estimate, from the stats pass: every
    // snapshot's id table holds one row per state row
    handles.putIfAbsent((tenant, index, newVersion), new SnapshotHandles(dir, mNew,
      poolEstSeed = Some(st.nVectors * 12L + st.idBytes + 32L)))
    // keep the previous snapshot too: lazy frames returned by search()
    // before this build may still resolve into it
    gcOldSnapshots(tenant, index, keep = newVersion - 1)
    evictStaleHandles(tenant, index, keep = newVersion - 1)
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
    else IvfFlat.trainCenters(vectors.select("id", "vec"), nlist, metric, seed,
      maxIter = 10, nRows, dim)

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
    spark.createDataFrame(
      java.util.Arrays.asList(order.map(row): _*),
      StructType(fields.map { case (n, t) => StructField(n, t) }))
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
    val cb = local match {
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
    }
    IvfFlat.centroidsFrame(spark, centers).write.mode("overwrite")
      .parquet(s"$dir/ivfpq/centroids")
    // the same table at the IVF location, so the cache's L2 layer can
    // probe centroids without knowing the algo: a file copy, not a job
    copyTree(Paths.get(s"$dir/ivfpq/centroids"), Paths.get(s"$dir/centroids"))
    graft.operators.Pq.saveCodebook(cb, spark, s"$dir/ivfpq/codebooks")
    if (metricU == "IP") {
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
    local16 match {
      case Some((ids, c16)) =>
        import spark.implicits._
        ids.indices.map(i => (ids(i), c16(i))).toDF("id", "qvec16")
          .write.mode("overwrite").parquet(s"$dir/sq16/codes")
      case None =>
        state.select(xxhash64(col("id")).as("id"),
            graft.operators.Sq16Store.encodeCol(col("vector"), mn, mx).as("qvec16"))
          .write.mode("overwrite").parquet(s"$dir/sq16/codes")
    }
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
          case None =>
            graft.operators.Sq16Store.buildResident(
              spark.read.schema(Sq16CodesSchema).parquet(s"$dir/sq16/codes"),
              d16, mn, mx, estBytes = est)
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
    * snapshot (reference steps 10-12, VectorCommandSet.cs:457-480). */
  /** `maxScans` > 0 caps the number of scored tail candidates per query —
    * the reference's cost-ceiling / budget-degradation knob (F6,
    * BruteForceVectorIndex.cs:288-344; budget halving
    * VectorCommandSet.cs:436-456). The reference truncates its
    * insertion-order scan; a distributed table has no insertion order, so
    * the deterministic analog keeps the `maxScans` hash-smallest candidate
    * ids per query (documented divergence, COVERAGE.md). */
  /** Deterministic scan cap: keep the `maxScans` hash-smallest candidate
    * ids per query (see maxScans doc above). Applied uniformly to tail AND
    * head candidate streams. */
  private def capScans(candidates: DataFrame, maxScans: Int): DataFrame =
    if (maxScans <= 0) candidates
    else {
      val wScan = Window.partitionBy("query_id").orderBy(xxhash64(col("id_str")))
      candidates.withColumn("scan_rn", row_number().over(wScan))
        .filter(col("scan_rn") <= maxScans).drop("scan_rn")
    }

  /** `refine` > 0 (IVF_PQ only) re-scores the top `k·refine` ADC
    * candidates per query against the raw vectors retained in the build
    * snapshot — the classic PQ refine step. ADC ranks are approximate;
    * the rerank makes the served top-k exact whenever the true top-k
    * survives the ADC cut (guaranteed at refine·k ≥ candidates), and also
    * removes the approximate-tail/exact-head score asymmetry of the delta
    * merge. 0 = raw ADC scores (the reference's serving behavior). */
  /** `refineStore` picks the rerank vectors when `refine` > 0: "exact"
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

  /** Low-latency serving entry: driver-local query batch in, answer rows
    * out — (query_id, rank, id, score), the reference's RESP reply shape
    * (VectorCommandSet.cs:457-480) without per-call DataFrame planning.
    *
    * Routes per the manifest: a clean head serves straight off the packed
    * tail (IvfFlat.searchLocalRows, which itself dispatches small-work
    * calls to the zero-job driver-resident tier); a dirty head inside
    * [[HeadServeMaxRows]] serves the delta merge driver-side — epoch-
    * memoized LWW head state, exact head scan, tail over-fetch + mask,
    * one bounded merge (the reference's Head+Tail serving shape,
    * DeltaVectorIndex.cs:76-122). IVF_PQ tails serve from resident
    * packed byte codes and HNSW tails from resident graphs (same head
    * merge, plan-exact folds/cuts); oversized corpora or heads, non-
    * resident indexes, and big batches fall back to the full [[search]]
    * plan and collect it — always correct, just not always zero-job.
    * Meta hydration stays on the DataFrame API; tag filters serve
    * rows-native for inverted-list and PQ tails (searchRowsFilteredTraced). */
  def searchRows(tenant: String, index: String,
                 queries: Array[(Long, Array[Float])], k: Int,
                 metric: String = "L2", nprobe: Int = 4,
                 refine: Int = 0): Array[(Long, Int, String, Double)] =
    searchRowsTraced(tenant, index, queries, k, metric, nprobe, refine)._1

  /** [[searchRows]] plus a per-call observability record — the
    * reference's per-reply TRACE fields (VectorCommandSet.cs:849-912)
    * as a typed struct instead of protocol text: which serving path
    * ran, the fresh-head state scanned, tail candidates fetched, and
    * call wall time. Zero extra work on the serving path (every field
    * is a count the call already computed). */
  def searchRowsTraced(tenant: String, index: String,
                       queries: Array[(Long, Array[Float])], k: Int,
                       metric: String = "L2", nprobe: Int = 4,
                       refine: Int = 0)
      : (Array[(Long, Int, String, Double)], SearchTrace) = {
    val tTrace0 = System.nanoTime()
    require(queries.map(_._1).distinct.length == queries.length,
      "searchRows batch contains duplicate query_ids")
    val m = manifest(tenant, index)
    rowsTierOf(tenant, index, m, refine = refine > 0, filtered = false, hnsw = true)
      .flatMap(serveRows(tenant, index, _, queries, k, metric, nprobe, refine,
        tags = Nil, tTrace0))
      .getOrElse {
        val rows = planRows(tenant, index, m, queries, k, metric, nprobe, refine,
          tags = Nil)
        (rows, SearchTrace("plan-fallback", None, Nil,
          headLive = -1, headMasked = -1, tailRows = -1,
          totalMicros = (System.nanoTime() - tTrace0) / 1000L))
      }
  }

  /** Tag-filtered zero-job serving: [[searchRowsTraced]] with the F1
    * conjunctive tag filter applied DURING the scan, not by delegating to
    * the batch cascade — the reference filters in-process inside its scan
    * loop at ~no extra cost (VectorCommandSet.cs:461-480), and before this
    * path a FILTER wire miss paid the ~20-action batch plan, an invisible
    * latency cliff next to the ~5 ms unfiltered miss.
    *
    * Parity with the batch plan's filter-then-top-k (spec-pinned): the
    * filter tags resolve to a sorted surrogate set from the snapshot's own
    * tag table (intersection for the conjunction), the packed scan skips
    * non-members before scoring, head candidates check their OWN head tags
    * (head wins over snapshot for re-written ids, exactly the batch
    * `tagsOf` union), and masking/tie-breaks are unchanged. IVF_PQ
    * indexes serve through the resident byte-code tier (same allowed-set
    * kernel hook, plan-exact metric folds). Returns None when the
    * index/batch is outside the rows-tier gates (HNSW, non-resident PQ,
    * oversized corpus or head, top-k budget) — the caller keeps the
    * always-correct distributed filtered plan. */
  /** `hnswBeam = true` opts a FILTERED call on an HNSW index into the
    * FILTER-DURING-BEAM semantics ([[graft.operators.Hnsw.searchLocalRowsFiltered]])
    * — a NEW capability flag, not reference parity: the default keeps
    * the batch plan's fetch-k×10-then-filter (which the reference's
    * post-filter shape demands and the F1 parity spec pins). Beam mode
    * is resident-only; outside the rows gates the call falls back to
    * the plan's post-filter semantics (callers see that in the trace). */
  private[graft] def searchRowsFilteredTraced(
      tenant: String, index: String,
      queries: Array[(Long, Array[Float])], k: Int,
      metric: String, nprobe: Int, tags: Seq[String],
      hnswBeam: Boolean = false)
      : Option[(Array[(Long, Int, String, Double)], SearchTrace)] = {
    if (tags.isEmpty)
      return Some(searchRowsTraced(tenant, index, queries, k, metric, nprobe))
    val tTrace0 = System.nanoTime()
    require(queries.map(_._1).distinct.length == queries.length,
      "searchRows batch contains duplicate query_ids")
    val m = manifest(tenant, index)
    rowsTierOf(tenant, index, m, refine = false, filtered = true, hnsw = hnswBeam)
      .flatMap(serveRows(tenant, index, _, queries, k, metric, nprobe, refine = 0,
        tags, tTrace0))
  }

  /** The resident tail a rows-tier call scans: the inverted lists (looked
    * up at scan time — their floats admit inside the scan kernel), the
    * PQ byte codes plus the store a refined call reranks with, or the
    * HNSW graphs. */
  private sealed trait RowsTail
  private case object FlatTail extends RowsTail
  private case class PqTail(
      idx: graft.operators.IvfPq.Index,
      store: Option[graft.operators.RefineStore]) extends RowsTail
  private case class HnswTail(
      graphs: Array[(Int, graft.operators.Hnsw.Graph)]) extends RowsTail

  /** What [[rowsTierOf]] admitted for one index: the tail, the id pool
    * that resolves its result surrogates, and (filtered calls only) the
    * tag index. */
  private case class RowsTier(m: Manifest, handles: SnapshotHandles,
                              tail: RowsTail, pool: IdPool,
                              tagIdx: Map[String, Array[Long]])

  /** The rows tier's admission gates, in the one order that serving and
    * [[warmServing]] share. Cheap manifest gates come first, so a
    * dirty-head or oversized index never pays a residency job just to
    * fall back; each residency decision runs only after every earlier one
    * admitted, so a later denial never strands an earlier one's bytes
    * (pool and store admissions are independent ledger lines: long user
    * ids can deny a pool whose corpus the refine line happily admits):
    *   1. algo and row gate (manifest only);
    *   2. the algo's resident tail: PQ byte codes (M bytes/vec, so the
    *      tier reaches corpora whose floats never could) or HNSW graphs;
    *   3. the [[IdPool]] that resolves result surrogates;
    *   4. refined PQ calls: the sq16 rerank store, the multi-GB collect
    *      at 10M+ (or, opted in via `refineU8Fallback`, its half-size u8
    *      copy); filtered calls: the tag index.
    * HNSW serves filtered calls only in beam mode (`hnsw`). Every
    * residency is memoized per snapshot version, so a denied handle
    * short-circuits later calls. None = the call takes the plan. */
  private def rowsTierOf(tenant: String, index: String, m: Manifest,
                         refine: Boolean, filtered: Boolean,
                         hnsw: Boolean): Option[RowsTier] = {
    lazy val h = handlesOf(tenant, index, m)
    val tail: Option[RowsTail] =
      if (m.nVectors > RowsServeMaxRows) None
      else m.algo match {
        case "IVF_FLAT" | "FLAT" => Some(FlatTail)
        case "IVF_PQ" => h.pqIndex.packedDriver.map(_ => PqTail(h.pqIndex, None))
        case "HNSW" if hnsw => h.hnswGraphs.get.map(HnswTail)
        case _ => None
      }
    for {
      t0 <- tail
      pool <- h.idPool.get
      t <- t0 match {
        case PqTail(pq, _) if refine =>
          h.sq16.get
            .orElse(if (refineU8Fallback) h.sq8.get else None)
            .map(store => PqTail(pq, Some(store)))
        case _ => Some(t0)
      }
      tagIdx <-
        if (filtered) h.tagIndex.get
        else Some(Map.empty[String, Array[Long]])
    } yield RowsTier(m, h, t, pool, tagIdx)
  }

  /** Serves one admitted call: fresh-head state → head-work and top-k
    * buffer gates → one tail scan (with the filter's allowed set) → one
    * head merge. None when the head or the batch is outside the tier's
    * budgets, or a filtered scan cannot run resident. The head path is
    * exact-scan; the reference's RESP serving has the same shape (fresh
    * delta head scanned per query, DeltaVectorIndex.cs:76-122). */
  private def serveRows(tenant: String, index: String, tier: RowsTier,
                        queries: Array[(Long, Array[Float])], k: Int,
                        metric: String, nprobe: Int, refine: Int,
                        tags: Seq[String], tTrace0: Long)
      : Option[(Array[(Long, Int, String, Double)], SearchTrace)] = {
    val m = tier.m
    val refineStore = tier.tail match {
      case PqTail(_, store) => store
      case _ => None
    }
    val headState =
      if (m.headDirty == 0) Some(HeadServeState.empty)
      else headStateOf(tenant, index, m)
    headState.filter { hs =>
      val dim = queries.headOption.map(_._2.length).getOrElse(0)
      // scan-work gate counts the FULL head (tombstone-only heads still
      // mask-scan)
      val headWork = queries.length.toLong * hs.maskSurrogates.size * dim
      // only ids that exist in the TAIL can mask tail rows — fresh adds
      // never do, so they must not inflate the per-query over-fetch;
      // refined calls over-fetch the plan's ADC cut (k·refine post-mask,
      // so + maskInTail pre-mask) — the top-k buffer budget prices that
      val tailFetch =
        if (refineStore.isDefined) k.toLong * refine + hs.maskInTail
        else (k + hs.maskInTail).toLong
      headWork <= IvfFlat.DriverServeMaxScanElems &&
        queries.length.toLong * tailFetch <= 4_000_000L // top-k buffer budget
    }.flatMap { hs =>
      // same metric gate as searchImpl (FLAT tails are metric-agnostic)
      require(m.algo == "FLAT" || m.metric.isEmpty ||
          metric.equalsIgnoreCase(m.metric),
        s"index built with metric=${m.metric}; cannot search with metric=$metric")
      val metricU = metric.toUpperCase(java.util.Locale.ROOT)
      // over-fetch from the tail so masking re-written/tombstoned ids
      // can't leave a query short (≤ maskInTail tail rows can be masked)
      val kTail = k + hs.maskInTail
      val tailOpt = tier.tail match {
        case PqTail(pq, Some(store)) =>
          // ADC cut (plan-identical: mask, then top k·refine by raw ADC
          // order) reranked EXACTLY against the resident refine store —
          // rows return already masked, true-metric scored, cut at k
          Some(pqTailRowsRefined(tenant, index, m, pq, queries, metricU, k,
            refine, nprobe, hs, store))
        case _ if tags.isEmpty =>
          scanTail(tenant, index, tier, queries, metric, kTail, nprobe, AllowAll)
        case _ =>
          filteredTail(tenant, index, tier, queries, metric, kTail, nprobe, tags)
      }
      tailOpt.map { tailRows =>
        val byQuery = tailRows.groupBy(_._1)
        val rows = queries.flatMap { case (qid, qv) =>
          val tailCands = byQuery.getOrElse(qid, Array.empty)
            .filter(r => !hs.maskSurrogates.contains(r._3))
            .map(r => (r._3, r._4)) // (surrogate, score)
          // exact head scan — the same kernel both tiers score with. The
          // head predicate: every filter tag on the row's OWN head tags
          // (vacuous unfiltered)
          val headCands = hs.liveVecs.indices.iterator
            .filter(i => tags.forall(t => hs.liveTags(i).contains(t)))
            .map(i => (hs.liveSurrogates(i),
              IvfFlat.candidateScore(metricU, qv, hs.liveVecs(i))))
          // merged bounded top-k, same (score desc, surrogate asc) order as
          // the DataFrame plan's TopKHits — exact-tie parity included
          (tailCands ++ headCands)
            .sortBy { case (surr, s) => (-s, surr) }.take(k).zipWithIndex
            .map { case ((surr, s), r) =>
              (qid, r + 1, hs.liveIdOf.getOrElse(surr, tier.pool(surr)), s)
            }
        }
        val tailName = tier.tail match {
          case PqTail(_, Some(store)) if store.kind == "u8" => "pqtail-refined-u8"
          case PqTail(_, Some(_)) => "pqtail-refined"
          case PqTail(_, None) => "pqtail"
          case HnswTail(_) => "hnswtail"
          case FlatTail => "tail"
        }
        val filterName =
          if (tags.isEmpty) ""
          else if (tier.tail.isInstanceOf[HnswTail]) "-filtered-beam"
          else "-filtered"
        (rows, SearchTrace(s"head+$tailName$filterName", None, Nil,
          headLive = hs.liveVecs.length, headMasked = hs.maskSurrogates.size,
          tailRows = tailRows.length,
          totalMicros = (System.nanoTime() - tTrace0) / 1000L))
      }
    }
  }

  /** A filter's resolved membership for the scan kernels: a sorted
    * surrogate array, plus a [[graft.operators.LongHashSet]] and/or
    * per-part row bitmaps for large tags. All null = unfiltered; bitmaps
    * alone (the multi-tag AND) can only scan the resident tier. */
  private case class AllowedSet(sorted: Array[Long],
                                hash: graft.operators.LongHashSet,
                                bits: Array[Array[Long]])
  private val AllowAll = AllowedSet(null, null, null)

  /** One tail scan per algo, at `kTail` per query. None only when a
    * filtered scan cannot run resident (PQ over its scan bounds or
    * non-resident, bitmap-only inverted lists non-resident) — the caller
    * then keeps the distributed filtered plan. */
  private def scanTail(tenant: String, index: String, tier: RowsTier,
                       queries: Array[(Long, Array[Float])], metric: String,
                       kTail: Int, nprobe: Int,
                       allowed: AllowedSet): Option[Array[(Long, Int, Long, Double)]] =
    tier.tail match {
      case FlatTail =>
        Option(IvfFlat.searchLocalRowsPath(tier.handles.tailIndex,
          queries, metric, kTail, nprobe, spark, forceDistributed = false,
          allowedSorted = allowed.sorted, allowedHash = allowed.hash,
          allowedBits = allowed.bits,
          residentOnly = allowed.sorted == null && allowed.bits != null))
      case PqTail(pq, _) =>
        pqTailRows(tenant, index, tier.m, pq, queries,
          metric.toUpperCase(java.util.Locale.ROOT), kTail, nprobe, allowed)
      case HnswTail(graphs) =>
        // per-graph fetch AND global cut at kTail = k + maskInTail —
        // exactly the plan's kFetch over-fetch, so masking backfills
        // identically on both tiers. Filtered = beam mode: members-only
        // beam over the resident graphs — k members come back whenever
        // reachable, where the parity post-filter keeps at most the
        // members surviving the unfiltered k×10 cut
        Some(
          if (allowed eq AllowAll)
            graft.operators.Hnsw.searchLocalRows(graphs, queries, kTail)
          else graft.operators.Hnsw.searchLocalRowsFiltered(graphs, queries,
            kTail, efSearch = 50, allowedSorted = allowed.sorted,
            allowedHash = allowed.hash))
    }

  /** The filtered tail: resolves the tag conjunction to an
    * [[AllowedSet]] and scans once with it (bitmap AND first for
    * multi-large-tag filters, then the array path). */
  private def filteredTail(tenant: String, index: String, tier: RowsTier,
                           queries: Array[(Long, Array[Float])], metric: String,
                           kTail: Int, nprobe: Int,
                           tags: Seq[String]): Option[Array[(Long, Int, Long, Double)]] = {
    val lists = tags.map(t => tier.tagIdx.getOrElse(t, Array.empty[Long]))
    // conjunctive allowed set: intersect per-tag lists, smallest first —
    // cost |smallest| × (T-1) binary searches, driver-local. The
    // single-tag case (the common wire shape) serves the MEMOIZED
    // array directly: a per-call copy of a half-corpus tag list is
    // milliseconds at 10M, pure waste when there is nothing to
    // intersect (callers never mutate the allowed set).
    // lazy: the multi-large-tag bitmap path below must not pay this
    // intersection at all — that is the point of the bitmaps
    lazy val allowed: Array[Long] =
      if (lists.exists(_.isEmpty)) Array.empty[Long]
      else if (lists.lengthCompare(1) == 0) lists.head
      else {
        val sorted = lists.sortBy(_.length)
        val rest = sorted.tail
        sorted.head.filter(sg => rest.forall(arr =>
          java.util.Arrays.binarySearch(arr, sg) >= 0))
      }
    // per-part surrogate ids of a resident tail (graphs have no parts;
    // non-resident floats scan distributed)
    def residentIds: Option[Array[Array[Long]]] = tier.tail match {
      case PqTail(pq, _) => pq.packedDriver.map(_.map(_.ids))
      case FlatTail => tier.handles.tailIndex.packedDriver.map(_.map(_.ids))
      case HnswTail(_) => None
    }
    // Multi-LARGE-tag fast path: a per-call intersection of T sorted
    // arrays costs |smallest| × (T−1) binary searches — ~10⁸ probes
    // per call for two half-corpus tags at 10M rows. When every tag
    // is large and the tail is resident, AND the MEMOIZED per-tag
    // row-position bitmaps instead: one pass over nRows/64 longs per
    // extra tag (~160k word-ANDs at 10M), per call, zero allocation
    // beyond the combined bitmap. Budget denial of any per-tag
    // structure, a non-resident tail, or an over-work batch falls
    // back to the array path below — spec-pinned result-identical.
    val multiBits: Option[Array[Array[Long]]] =
      if (tags.lengthCompare(1) > 0 &&
          lists.forall(_.length >= HashAllowedMinEntries))
        residentIds.flatMap { partsIds =>
          val per = tags.zip(lists).map { case (t, arr) =>
            // a hash set speeds the ONE-TIME bitmap construction but
            // is never probed again on this path — building (and
            // permanently registering ~16 B/entry against the shared
            // id-pool budget) one per conjunction tag would retain
            // hundreds of MB at 10M just to save a single build pass.
            // Reuse a set a single-tag call already memoized; else the
            // construction binary-searches the sorted array
            val hs = Option(tier.handles.tagHashSets.get(t))
              .flatMap(_.settled.flatten).orNull
            tier.handles.tagRowBits(t, partsIds, hs, arr)
          }
          if (per.exists(_ == null)) None
          else Some(per.reduce(GraftEngine.andBits))
        }
      else None
    multiBits.flatMap { bits =>
      if (!bits.exists(part => part.exists(_ != 0L))) Some(Array.empty[(Long, Int, Long, Double)])
      else scanTail(tenant, index, tier, queries, metric, kTail, nprobe,
        AllowedSet(null, null, bits))
    }.orElse {
      // large single-tag allowed sets get a memoized open-addressing
      // membership set: the sorted array costs ~5-7 cache-missing tree
      // levels PER PROBED ROW at half-corpus sizes, the probe chain 1-2.
      // Small multi-tag intersections are per-call arrays — building a
      // set per call would cost more than it saves, so they stay on
      // binary search.
      val allowedHash: graft.operators.LongHashSet =
        if (tags.lengthCompare(1) == 0 &&
            allowed.length >= HashAllowedMinEntries)
          tier.handles.tagHashSet(tags.head, allowed)
        else null
      // same gate again, one level better: when the tail is RESIDENT,
      // pre-resolve the membership into per-part row bitmaps once per
      // (snapshot, tag) — the scan then tests a sequential bit instead
      // of probing any table at all. Gated on the tag SIZE, not on the
      // hash set having been admitted: a budget-denied set falls back
      // to sorted-array construction inside tagRowBits, and the
      // bitmap still serves (it is ~100× smaller than the set)
      val allowedBits: Array[Array[Long]] =
        if (tags.lengthCompare(1) != 0 ||
            allowed.length < HashAllowedMinEntries) null
        else residentIds.map(tier.handles.tagRowBits(tags.head, _,
          allowedHash, allowed)).orNull
      if (allowed.isEmpty) Some(Array.empty[(Long, Int, Long, Double)])
      else scanTail(tenant, index, tier, queries, metric, kTail, nprobe,
        AllowedSet(allowed, allowedHash, allowedBits))
    }
  }

  /** The distributed plan's answer for a rows call outside the rows
    * gates, collected in the rows shape. A refined call reranks with
    * [[refineStoreFor]]'s store, so plan and rows tiers give the SAME
    * refined answer whichever one served. */
  private def planRows(tenant: String, index: String, m: Manifest,
                       queries: Array[(Long, Array[Float])], k: Int,
                       metric: String, nprobe: Int, refine: Int,
                       tags: Seq[String]): Array[(Long, Int, String, Double)] = {
    import spark.implicits._
    val base = queries.toSeq
      .map { case (qid, qv) => (qid, qv.toSeq) }.toDF("query_id", "qvec")
    val qDf = if (tags.isEmpty) base
      else base.withColumn("filter_tags", typedLit(tags))
    search(tenant, index, qDf, k, metric, nprobe, refine = refine,
        refineStore = refineStoreFor(tenant, index, m)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
  }

  /** PQ tail for the rows serving tier: zero-job ADC scan over the
    * resident packed codes, scores folded onto the SAME scale the batch
    * plan merges on (COSINE: unit-normalized query, fold 1 + s/2; IP:
    * MIPS zero-padded query, fold (s + ‖q‖² + M²)/2; L2: raw −ADC
    * distance² — the head's exact scores merge against it with the same
    * asymmetry as the plan, DeltaVectorIndex.cs:76-122). Every float/
    * double op mirrors the plan's kernels exactly (vector_unit UDF,
    * concat-pad, vector_dot accumulation), so tier parity is bit-level —
    * spec-pinned including exact ties. Folds are strictly monotone per
    * query, so folding AFTER the local top-k preserves ranks/ties.
    * The engine's constructor bound, not the compiled-in default,
    * governs every PQ rows path. Unfiltered, an over-bound batch takes
    * the distributed ADC plan. That plan has no filter hook, so a
    * filtered call serves ONLY from the resident byte-code tier: None
    * (over-budget batch or non-resident codes) keeps the caller's
    * distributed filtered plan instead of throwing at serve time (the r7
    * ADVICE failure: a filtered batch past PqServeMaxLookupsMT hit the
    * unfiltered fallback's require). */
  private def pqTailRows(tenant: String, index: String, m: Manifest,
                         pq: graft.operators.IvfPq.Index,
                         queries: Array[(Long, Array[Float])],
                         metricU: String, kTail: Int, nprobe: Int,
                         allowed: AllowedSet): Option[Array[(Long, Int, Long, Double)]] = {
    val (tq, fold) = pqFoldedQueries(tenant, index, m, pq, queries, metricU)
    val rows =
      if (allowed eq AllowAll)
        Some(graft.operators.IvfPq.searchLocalRowsPath(pq, tq, kTail, nprobe,
          spark, mtBound = pqServeMaxLookupsMT))
      else graft.operators.IvfPq.searchResidentRows(pq, tq, kTail, nprobe,
        mtBound = pqServeMaxLookupsMT, allowedSorted = allowed.sorted,
        allowedHash = allowed.hash, allowedBits = allowed.bits)
    rows.map(_.map { case (qid, rank, surr, s) => (qid, rank, surr, fold(qid, s)) })
  }

  /** Refined PQ tail for the rows tier — the zero-job twin of the plan's
    * refine branch (searchImpl's IVF_PQ refine): take the plan's ADC cut
    * (post-mask top k·refine by ADC order, reproduced here as a pre-mask
    * over-fetch of k·refine + maskInTail, mask, truncate), then re-score
    * each candidate's TRUE metric against the resident SQ16 store's
    * dequantized vector. The dequantization is the plan-side sq16 decode
    * expression's bit-exact driver twin and the scoring kernel is the
    * head-parity [[IvfFlat.candidateScore]], so rows == plan("sq16") is
    * exact, spec-pinned, ties included. Scores come out on the true
    * metric scale — no ADC fold — so the head merge compares exact with
    * exact (the refine rationale: the delta merge's score asymmetry is
    * gone). Returns the per-query top k, already masked. */
  /** k·refine rerank cut size, computed in Long: the wire caps REFINE at
    * 10k but the engine API takes any Int, and an Int product overflows
    * NEGATIVE — max(1, negative) would silently degrade the ADC cut to 1
    * candidate per query instead of failing. */
  private def refineCutSize(k: Int, refine: Int): Int = {
    val c = math.max(1L, k.toLong * refine.toLong)
    require(c <= Int.MaxValue, s"k*refine overflows Int: $k * $refine")
    c.toInt
  }

  private def pqTailRowsRefined(tenant: String, index: String, m: Manifest,
                                pqIdx: graft.operators.IvfPq.Index,
                                queries: Array[(Long, Array[Float])],
                                metricU: String, k: Int, refine: Int,
                                nprobe: Int, hs: HeadServeState,
                                store: graft.operators.RefineStore): Array[(Long, Int, Long, Double)] = {
    val (tq, _) = pqFoldedQueries(tenant, index, m, pqIdx, queries, metricU)
    // the cut is Long-guarded, but + maskInTail can still wrap a cut
    // near Int.MaxValue back negative — keep the whole sum guarded
    val kAdcL = refineCutSize(k, refine).toLong + hs.maskInTail
    require(kAdcL <= Int.MaxValue,
      s"k*refine + head mask overflows Int: $k * $refine + ${hs.maskInTail}")
    val kAdc = kAdcL.toInt
    val adc = graft.operators.IvfPq.searchLocalRowsPath(pqIdx, tq, kAdc,
      nprobe, spark, mtBound = pqServeMaxLookupsMT)
    val byQuery = adc.groupBy(_._1)
    // one scratch vector for the whole call's reranks (queries are
    // processed sequentially here): k·refine fresh dequant arrays per
    // call were ~256 KB of young-gen garbage each, measured as the
    // refined row's p99 tail
    val scratch = new Array[Float](store.dim)
    queries.indices.flatMap { qi =>
      val (qid, qvRaw) = queries(qi)
      // rows arrive rank-ordered (raw ADC desc, surrogate asc — the same
      // total order the plan's TopK cut uses; the metric folds are
      // strictly monotone so cutting on raw ADC = cutting on folded)
      val cut = byQuery.getOrElse(qid, Array.empty)
        .sortBy(_._2) // rank asc
        .iterator
        .filter(r => !hs.maskSurrogates.contains(r._3))
        .take(refineCutSize(k, refine))
      val reranked = cut.map { case (_, _, surr, _) =>
        val row = store.lookup(surr)
        require(row >= 0,
          s"${store.kind} store missing surrogate $surr — snapshot/store version skew")
        store.dequantInto(row, scratch)
        (surr, IvfFlat.candidateScore(metricU, qvRaw, scratch))
      }.toArray
      reranked.sortBy { case (surr, s) => (-s, surr) }.take(k).zipWithIndex
        .map { case ((surr, s), r) => (qid, r + 1, surr, s) }
    }.toArray
  }

  /** Metric transform + score fold shared by the PQ rows tiers: COSINE
    * unit-normalizes queries (bit-matching the plan's `vector_unit`) and
    * folds 1 + s/2; IP zero-pads to codebook dim and folds the MIPS
    * (s + ‖q‖² + M²)/2; L2 passes through. Folds are strictly monotone
    * per query, so folding after the local top-k preserves ranks/ties. */
  private def pqFoldedQueries(tenant: String, index: String, m: Manifest,
                              pqIdx: graft.operators.IvfPq.Index,
                              queries: Array[(Long, Array[Float])],
                              metricU: String): (Array[(Long, Array[Float])], (Long, Double) => Double) =
    metricU match {
      case "COSINE" =>
        (queries.map { case (qid, qv) => (qid, unitLocal(qv)) },
          (_, s) => 1.0 + s / 2)
      case "IP" =>
        val cbDim = pqIdx.cb.m * pqIdx.cb.dsub
        val maxSq = handlesOf(tenant, index, m).mipsMaxSq
        val qn2 = queries.map { case (qid, qv) =>
          var s = 0.0; var i = 0
          while (i < qv.length) { s += qv(i).toDouble * qv(i).toDouble; i += 1 }
          qid -> s
        }.toMap
        (queries.map { case (qid, qv) =>
          (qid, java.util.Arrays.copyOf(qv, cbDim)) },
          (qid, s) => (s + qn2(qid) + maxSq) / 2)
      case _ => (queries, (_, s) => s)
    }

  /** Bit-exact local mirror of the `vector_unit` UDF (same norm
    * accumulation, same Float division) — the COSINE PQ tail transforms
    * queries with it so resident and plan tiers see identical floats. */
  private def unitLocal(a: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i); i += 1 }
    if (s == 0) a
    else {
      val n = math.sqrt(s)
      val out = new Array[Float](a.length)
      i = 0
      while (i < a.length) { out(i) = (a(i) / n).toFloat; i += 1 }
      out
    }
  }

  /** Driver-resident fresh-head state for [[searchRows]]: the post-
    * watermark log reduced to LWW per id — mask surrogates (every
    * re-written or tombstoned id) plus live vectors. Memoized per epoch:
    * every write bumps the epoch, so a cached copy is provably current;
    * re-read cost after a write burst is one bounded job on next read. */
  private case class HeadServeState(
      maskSurrogates: java.util.HashSet[java.lang.Long],
      liveSurrogates: Array[Long],
      liveVecs: Array[Array[Float]],
      liveIdOf: Map[Long, String],
      maskInTail: Int, // head ids that exist in the tail (only those mask)
      liveTags: Array[Array[String]]) // per live row, for filtered serving
  private object HeadServeState {
    val empty: HeadServeState = HeadServeState(
      new java.util.HashSet[java.lang.Long](),
      Array.empty, Array.empty, Map.empty, 0, Array.empty)
  }

  /** Head rows ceiling for the driver-served path: bigger fresh heads
    * fall back to the DataFrame plan (and should be compacted anyway). */
  private val HeadServeMaxRows = 10000

  private val headStateCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, HeadServeState)]

  private def headStateOf(tenant: String, index: String,
                          m: Manifest): Option[HeadServeState] = {
    val key = s"$tenant/$index"
    headStateCache.get(key).filter(_._1 == m.epoch).map(_._2).orElse {
      if (!recordsLogExists) Some(HeadServeState.empty)
      else {
        val rows = readLog()
          .filter(col("tenant_id") === tenant && col("index_name") === index &&
            col("updated_at") > m.buildWatermark)
          .select(col("id"), col("vector"), col("deleted"), col("updated_at"),
            col("tags"))
          .limit(HeadServeMaxRows + 1).collect()
        if (rows.length > HeadServeMaxRows) None
        else {
          // LWW reduce (same outcome as searchImpl's row_number window;
          // duplicate (id, updated_at) pairs are LWW-ambiguous in both)
          val latest = scala.collection.mutable.HashMap
            .empty[String, (Long, Boolean, Array[Float], Array[String])]
          rows.foreach { r =>
            val id = r.getString(0); val ts = r.getLong(3)
            if (latest.get(id).forall(_._1 < ts))
              latest(id) = (ts, r.getBoolean(2),
                if (r.isNullAt(1)) Array.empty[Float]
                else graft.functions.floatArray(r.getSeq[Float](1)),
                if (r.isNullAt(4)) Array.empty[String]
                else r.getSeq[String](4).toArray)
          }
          // tail-mask pricing needs the resident id pool; a pool past
          // its byte budgets means no rows tier for this index anyway,
          // so the head state has no consumer — fall back
          handlesOf(tenant, index, m).idPool.get match {
            case None => None
            case Some(tailIds) =>
              def surr(s: String): Long =
                org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
                  org.apache.spark.unsafe.types.UTF8String.fromString(s),
                  org.apache.spark.sql.types.StringType, 42L)
              val mask = new java.util.HashSet[java.lang.Long]()
              val live = scala.collection.mutable.ArrayBuffer
                .empty[(Long, Array[Float], String, Array[String])]
              var maskInTail = 0
              latest.foreach { case (id, (_, deleted, vec, tags)) =>
                val sg = surr(id)
                mask.add(sg)
                if (tailIds.contains(sg)) maskInTail += 1
                if (!deleted) live += ((sg, vec, id, tags))
              }
              val hs = HeadServeState(mask,
                live.map(_._1).toArray, live.map(_._2).toArray,
                live.map(l => l._1 -> l._3).toMap, maskInTail,
                live.map(_._4).toArray)
              headStateCache.put(key, (m.epoch, hs))
              Some(hs)
          }
        }
      }
    }
  }

  /** [[search]] without the final cosmetic sort — internal callers
    * (the cached cascade) re-order once at their own output, and the
    * range-sort costs a sampling pass per call. */
  private def searchImpl(tenant: String, index: String, queries: DataFrame, k: Int,
                         metric: String, nprobe: Int,
                         withMeta: Boolean = false, maxScans: Int = 0,
                         refine: Int = 0,
                         refineStore: String = "exact"): DataFrame = {
    val m = manifest(tenant, index)
    // the tail's geometry (KMeans clusters, HNSW links, PQ codebooks) is
    // trained for the build metric — scoring probes with a different one
    // silently degrades recall, so reject the mismatch. FLAT tails are a
    // single exact-scanned list: metric-agnostic by construction.
    require(m.algo == "FLAT" || m.metric.isEmpty ||
        metric.equalsIgnoreCase(m.metric),
      s"index built with metric=${m.metric}; cannot search with metric=$metric")
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
            coalesce(col("tags"), array().cast("array<string>")).as("tags"),
            col("meta"))
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
            else adcCands
              .join(broadcast(queries.select("query_id", "filter_tags")),
                "query_id")
              .join(snapshot.select(col("id_str"),
                coalesce(col("tags"), array().cast("array<string>"))
                  .as("tags")), Seq("id_str"), "left")
              .filter(coalesce(size(col("filter_tags")), lit(0)) === 0 ||
                forall(col("filter_tags"),
                  t => array_contains(coalesce(col("tags"),
                    array().cast("array<string>")), t)))
              .select("query_id", "id_str", "score")
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
        val snapTags = snapshot.select(col("id_str"),
          coalesce(col("tags"), array().cast("array<string>")).as("tags"))
        val tagsOf = headOpt match {
          case None => snapTags
          case Some((headIds, headLive)) =>
            headLive.select(col("id_str"), col("tags"))
              .unionByName(snapTags.join(headIds, Seq("id_str"), "left_anti"))
        }
        candidates
          .join(broadcast(queries.select("query_id", "filter_tags")), "query_id")
          .join(tagsOf, Seq("id_str"), "left")
          .filter(coalesce(size(col("filter_tags")), lit(0)) === 0 ||
            forall(col("filter_tags"),
              t => array_contains(coalesce(col("tags"),
                array().cast("array<string>")), t)))
          .select("query_id", "id_str", "score")
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
    lazy val pqIndex: graft.operators.IvfPq.Index = {
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
    lazy val centroids: Array[(Int, Array[Float])] =
      spark.read.schema(CentroidsSchema).parquet(s"$snap/centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

    /** MIPS fold constant M² of an IP-built IVF_PQ snapshot: reading it
      * per call would put a parquet listing and a head job on the serving
      * hot path. */
    lazy val mipsMaxSq: Double =
      spark.read.schema(MipsSchema).parquet(s"$snap/ivfpq/mips").head.getDouble(0)

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
    val idPool = new Residency.Memo[IdPool](
      Residency.admit(Residency.IdsTags, poolEst, idPoolMaxBytes) {
        IdPool.merge(idTable.queryExecution.toRdd.mapPartitions { it =>
          // toString materializes an owned copy — UnsafeRow buffers are
          // reused across next() calls, so the bytes must not alias them
          IdPool.packRun(it.map(r => (r.getLong(0),
            r.getUTF8String(1).toString
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        }.collect())
      })

    private lazy val records = spark.read
      .schema("id_str STRING, meta STRING, tags ARRAY<STRING>")
      .parquet(s"$snap/records")
    // size() yields -1 for null arrays under legacy configs; coalesce
    // makes it 0
    private def tagsCol = coalesce(col("tags"), array().cast("array<string>"))

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
    val tagIndex = new Residency.Memo[Map[String, Array[Long]]](
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
      })

    private lazy val hnswEst: Long =
      graft.operators.Hnsw.residentBytes(spark, s"$snap/hnsw")

    /** Driver-resident HNSW graphs: an oversized graph set pays the meta
      * read once and every later call short-circuits. */
    val hnswGraphs = new Residency.Memo[Array[(Int, graft.operators.Hnsw.Graph)]](
      graft.operators.Hnsw.loadResident(spark, s"$snap/hnsw", hnswEst))

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
    val sq16 = new Residency.Memo[graft.operators.Sq16Store](sq16Stats match {
      case None => Residency.Denied
      case Some((n, dim)) =>
        // shared estimator: it counts the per-segment headers, so the
        // admitted estimate never undercounts what the built store
        // registers. Byte budgets are the only capacity gate: the store
        // is segmented (Sq16Store.SegMaxCodes), so no Int-indexed array
        // ceiling exists to deny around
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
    })

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

  private def sq16TableExists(snap: String): Boolean =
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

  /** Allowed-set size from which the filtered scan kernels test a
    * [[graft.operators.LongHashSet]] / row bitmap instead of
    * binary-searching the sorted array: below ~131k entries (~1 MB) the
    * array is cache-resident and the tree walk is cheap; above it each
    * probed row pays ~5-7 cache-missing levels. Constructor-tunable so
    * specs can force the hash/bitmap wiring on small fixtures. */
  private val HashAllowedMinEntries = hashAllowedMinEntries

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
          // the serving gates decide what warms ([[rowsTierOf]], the same
          // resolver every rows call runs): an index they deny can never
          // serve rows-native, so warming its handles would strand bytes
          // on the ledger (ADVICE r9). Then force every lazy the first
          // call's tail kernel would pay: the packed collect (admitted
          // from the manifest's row count; the dispatch reads its list
          // lengths off the packed ranges), the centroid collect, and the
          // MIPS fold constant, a parquet read on IP-built PQ indexes.
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
  private def evictStaleHandles(tenant: String, index: String, keep: Long): Unit =
    handles.forEach { (k, h) =>
      if (k._1 == tenant && k._2 == index && k._3 < keep && handles.remove(k, h))
        h.release()
    }

  // -------------------------------------------------------------------
  // semantic-cluster override for the L2 cache layer (reference:
  // SemanticClusterRegistry fed by POST centroids, IndexController.cs:251-292
  // + sidecar semantic_model.py:30-53 — the cache clustering is allowed to
  // come from an externally trained model, independent of the index tail)
  // -------------------------------------------------------------------

  private def cacheCentroidsPath(tenant: String, index: String) =
    s"$root/cache/$tenant/$index/centroids"

  private val cacheCentroidMemo =
    scala.collection.concurrent.TrieMap.empty[String, Option[Array[(Int, Array[Float])]]]

  private def cacheCentroidOverride(tenant: String,
                                    index: String): Option[Array[(Int, Array[Float])]] =
    cacheCentroidMemo.getOrElseUpdate(s"$tenant/$index", {
      val p = cacheCentroidsPath(tenant, index)
      if (!Files.exists(Paths.get(p))) None
      else Some(spark.read.parquet(p)
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1))
    })

  /** Centroids driving the L2 semantic-cache layer: the pushed override
    * when present, the index tail's own centroids otherwise. */
  private def l2CentroidsLocal(tenant: String, index: String,
                               m: Manifest): Array[(Int, Array[Float])] =
    cacheCentroidOverride(tenant, index).getOrElse {
      // HNSW snapshots have no centroid table (graphs carry no coarse
      // clustering) — the L2 cache layer simply contributes no probe
      // keys there; L0/L0.5/L1 still serve. A pushed semantic-cluster
      // model (the override above) re-enables L2 for any algo.
      if (m.algo == "HNSW") Array.empty
      else handlesOf(tenant, index, m).centroids
    }

  /** Install an externally trained semantic-cluster model for the L2 cache
    * layer (reference: POST /v1/indexes/{t}/{i}/centroids). Changing the
    * clustering re-keys the L2 layer, so the epoch is bumped — old entries
    * (keyed by the previous cluster ids) become stale, exactly like the
    * reference's UpdateCentroids epoch bump (IndexController.cs:277).
    * centroids: (cluster_id INT, centroid ARRAY<FLOAT>). */
  def setCacheCentroids(tenant: String, index: String, centroids: DataFrame): Unit = {
    centroids.select(col("cluster_id").cast("int").as("cluster_id"),
        col("centroid"))
      .write.mode("overwrite").parquet(cacheCentroidsPath(tenant, index))
    cacheCentroidMemo.remove(s"$tenant/$index")
    invalidateCache(tenant, index)
  }

  // -------------------------------------------------------------------
  // snapshot export / import (reference: POST {t}/{i}/snapshot + /load,
  // IndexController.cs:125-228 — index state moves as files; the record
  // store stays where it is)
  // -------------------------------------------------------------------

  private def copyTree(src: java.nio.file.Path, dest: java.nio.file.Path): Unit = {
    Files.walk(src).forEach { p =>
      val target = dest.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.copy(p, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** Export the current built snapshot (tail artifacts + manifest) to an
    * external directory. Requires a completed build. */
  def exportSnapshot(tenant: String, index: String, dest: String): Unit = {
    val m = manifest(tenant, index)
    require(m.version > 0,
      s"cannot export $tenant/$index: no built snapshot (build first)")
    val snap = snapDir(tenant, index, m)
    copyTree(Paths.get(snap), Paths.get(s"$dest/snapshot"))
    Files.createDirectories(Paths.get(dest))
    Files.writeString(Paths.get(s"$dest/manifest.json"), m.render)
  }

  /** Import an exported snapshot as this index's next version: the tail
    * serves the imported artifacts; local log rows newer than the imported
    * build watermark surface through the delta head as usual. */
  def importSnapshot(tenant: String, index: String, src: String): Unit = {
    val srcFile = s"$src/manifest.json"
    val imported = Manifest.parse(srcFile, Json.readFile(Paths.get(srcFile)))
    val m0 = manifest(tenant, index)
    val newVersion = m0.version + 1
    copyTree(Paths.get(s"$src/snapshot"),
      Paths.get(freshSnapshotDir(tenant, index, newVersion)))
    // headDirty stays 1: the local log's relation to the imported
    // watermark is unknown, so the head path must stay on
    withManifestLock(tenant, index) {
      val mNow = manifest(tenant, index)
      writeManifest(tenant, index,
        imported.copy(epoch = mNow.epoch + 1, version = newVersion, headDirty = 1))
    }
    gcOldSnapshots(tenant, index, keep = newVersion - 1)
    evictStaleHandles(tenant, index, keep = newVersion - 1)
  }

  /** Incremental compaction: fold the current state into a fresh tail
    * snapshot WITHOUT retraining the coarse codebook — every live record
    * is assigned to its nearest EXISTING centroid in one pass
    * (reference: IVF adds land in inverted lists without retrain,
    * IvfFlatVectorIndex.cs:39-54; a full [[build]] is the retrain).
    * At scale this is the routine compaction: KMeans retraining is the
    * expensive step and cluster geometry drifts slowly, so retrain on a
    * cadence and fold incrementally in between. IVF_FLAT/FLAT only. */
  def compactIncremental(tenant: String, index: String): Unit = {
    val m0 = manifest(tenant, index)
    require(m0.algo == "IVF_FLAT" || m0.algo == "FLAT",
      s"incremental compaction needs an inverted-list tail, got ${m0.algo}")
    val snap0 = snapDir(tenant, index, m0)
    val centroids = spark.read.parquet(s"$snap0/centroids")
    val state = currentState(tenant, index)
    val wmRow = state.agg(max("updated_at"), count(lit(1))).head
    require(!wmRow.isNullAt(0),
      s"cannot compact $tenant/$index: current state is empty")
    val keyed = state.select(col("id").as("id_str"),
        col("vector").as("vec"), col("meta"), col("tags"))
      .withColumn("id", xxhash64(col("id_str")))
    val newVersion = m0.version + 1
    val dir = freshSnapshotDir(tenant, index, newVersion)
    val idx0 = IvfFlat.Index(spark.emptyDataFrame, centroids, 0L)
    // assignment MUST reproduce build()'s geometry: COSINE tails are
    // cosine-trained (cosine argmax), everything else euclidean-trained —
    // an L2 re-assignment of a cosine tail would silently reshape the
    // lists away from the probe ranking later cosine searches use
    val assignMetric = if (m0.metric.equalsIgnoreCase("COSINE")) "COSINE" else "L2"
    IvfFlat.assign(keyed.select("id", "vec", "id_str"), idx0, assignMetric)
      .write.mode("overwrite").partitionBy("cluster_id")
      .parquet(s"$dir/vectors")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    keyed.select("id_str", "meta", "tags")
      .write.mode("overwrite").parquet(s"$dir/records")
    // same concurrent-writer guard as build(), same lock discipline
    withManifestLock(tenant, index) {
      val mNow = manifest(tenant, index)
      writeManifest(tenant, index, Manifest(mNow.epoch + 1, wmRow.getLong(0),
        m0.algo, wmRow.getLong(1), newVersion, m0.metric,
        headDirty = if (mNow.epoch != m0.epoch) 1 else 0))
    }
    gcOldSnapshots(tenant, index, keep = newVersion - 1)
    evictStaleHandles(tenant, index, keep = newVersion - 1)
  }

  // -------------------------------------------------------------------
  // cached search (SURVEY §3.1 steps 6-13 assembled)
  // -------------------------------------------------------------------

  /** Parquet part-file ceiling for the entry table before an inline
    * compaction pass: the per-call validity probe scans every entry file,
    * so unbounded appends would grow per-call cost with serving duration. */
  private val CacheGcFileThreshold = 64L

  /** Row ceiling for the rows serving tier's manifest gate — a cheap
    * PRE-gate, not the admission decision: every rows-tier serve needs
    * the resident [[IdPool]] (sorted longs + one UTF-8 blob, ≥ 12 bytes
    * per entry before the id text), so `idPoolMaxBytes / 12` is the row
    * count past which NO pool could be admitted even with zero-length
    * ids — the gate skips the residency-estimate jobs for corpora the
    * byte budgets could never accept, and everything under it is decided
    * by exact measured bytes in [[SnapshotHandles.idPool]] / `sq16` /
    * packedDriver, each admitted by the [[Residency]] ledger against its
    * per-handle cap, its line's cap and the JVM total (half the heap).
    * Corpora past any cap fall back to the DataFrame plan, which
    * resolves ids with a broadcast semi-join instead of a resident map.
    * Floored at 16M so deliberately tiny test budgets still exercise the
    * measured-byte denial paths rather than this gate. At the 512 MB
    * default the gate sits at ~44.7M rows; a 20M×dim128 IVF_PQ corpus
    * (packed codes ~480 MB at 24 B/vec — the BINDING cap on the plain
    * path, denying at ~22.4M of the pq-codes line's 512 MB per index;
    * pool ~420 MB of the ids-tags line's 512 MB; segmented sq16 refine
    * store 5.3 GB under the refine line's 8 GiB per store, ~6.2 GB in
    * all under a 32 GiB heap's 16 GiB total) now serves RESIDENT on the
    * plain, refined, AND filtered paths (Engine10mServeMain 20000000
    * measures exactly that).
    * (Was a scalar 16M; before that 1M when the resolver was a boxed
    * Map — the compact pool is what lets the wire serve 10M+ rungs
    * driver-side.) */
  private val RowsServeMaxRows =
    math.max(16000000L, idPoolMaxBytes / 12L)

  /** Miss-batch bound for [[searchCached]]'s zero-job serving shortcut:
    * batches at most this size collect their miss queries (≤1024 × dim
    * floats — single-digit MB) and serve through [[searchRows]]; larger
    * batches stay on the distributed search plan. [[searchRows]]'s own
    * internal fallback (full plan + collect) stays bounded by the same
    * cap: worst case ≤1024 × k result rows come back to the driver. */
  private val CachedMissLocalMaxQueries = 1024L

  private def cacheEntriesPath(tenant: String, index: String) =
    s"$root/cache/$tenant/$index/entries"
  private def cacheAliasPath(tenant: String, index: String) =
    s"$root/cache/$tenant/$index/aliases"

  /** Cache invalidation (reference: CacheController invalidate + the epoch
    * machinery, VectorIndexRegistry.cs:52-68): bumping the epoch makes
    * every cached entry stale at probe time without touching the files. */
  def invalidateCache(tenant: String, index: String): Unit =
    withManifestLock(tenant, index) {
      // epoch-only bump: no data changed, so head-dirtiness is untouched
      val m = manifest(tenant, index)
      writeManifest(tenant, index, m.copy(epoch = m.epoch + 1))
    }

  /** Cache flush (reference: CacheController flush endpoint) — removes all
    * entries and aliases for the index, including rows-path inserts still
    * pending their durable append (a later flush must not resurrect an
    * explicitly flushed entry). Runs under the per-index lock so an
    * in-flight [[flushCachePending]] cannot drain-then-write around the
    * delete, and drops the resident maps outright: they must not outlive
    * the entries they cache, and the missing-dir fingerprint (0) would
    * otherwise collide with the pre-first-write stamp and let flushed
    * in-heap entries keep serving. The billing counters survive. */
  def flushCache(tenant: String, index: String): Unit =
    withManifestLock(tenant, index) {
      cacheStates.get(s"$tenant/$index").foreach(_.resetEntries())
      Seq(cacheEntriesPath(tenant, index), cacheAliasPath(tenant, index))
        .foreach(d => deleteTree(Paths.get(d)))
    }

  /** Register canonical-alias mappings for the L0.5 layer
    * (reference: DataModel/CanonicalKeyMap.cs:18-44). aliases:
    * (source_key LONG, canonical_key LONG, confidence DOUBLE). */
  def putAliases(tenant: String, index: String, aliases: DataFrame): Unit =
    aliases.select("source_key", "canonical_key", "confidence")
      .write.mode("append").parquet(cacheAliasPath(tenant, index))

  /** Raw cache-entry table (for tests / stats): one row per populated
    * (cache_key, layer). */
  def cacheEntries(tenant: String, index: String): DataFrame =
    spark.read.schema(CacheEntrySchema).parquet(cacheEntriesPath(tenant, index))

  // separate tree from metrics/: billingUsage enumerates metrics/<tenant>/*
  // as per-index hit/miss logs and must not pick this up
  private def evictionsPath(tenant: String, index: String) =
    s"$root/metrics_gc/$tenant/$index"

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  private def dirFileCount(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }

  /** Entry-table GC (reference: lazy expiry eviction + bounded cache,
    * MemoryCacheStorage.cs:20-86): rewrite the entry table keeping only
    * LIVE entries — current epoch, unexpired at `now`, newest per
    * cache_key (the same validity rule [[searchCached]] probes with) —
    * and count everything dropped as evictions (VEC.STATS
    * `cache_eviction_total`). Without this the table grows one file set
    * per miss batch forever and the per-call validity window scans the
    * whole history — the 100×-serving-duration scale killer. Returns the
    * number of evicted entries.
    *
    * Cache WRITE paths ([[appendCacheEntries]], this compaction, the
    * metrics fold) all serialize on the per-index manifest lock, so an
    * appending thread can't slip a file set between the read and the
    * swap. Concurrent READERS of the entry table during a swap are the
    * caller's contract: searchCached materializes (localCheckpoint)
    * everything it keeps, so engine calls are safe; external readers
    * holding lazy plans over [[cacheEntries]] across a GC are not. */
  def compactCacheEntries(tenant: String, index: String, now: Long): Long = {
    val p = cacheEntriesPath(tenant, index)
    if (!Files.exists(Paths.get(p))) 0L
    else withManifestLock(tenant, index) {
      val m = manifest(tenant, index)
      // live rows sort first, so vrn==1 ∧ live picks the newest LIVE entry
      // per key — identical to the entry searchCached's probe would serve
      // (its validity filter runs before its ranking window)
      val wNewest = Window.partitionBy("cache_key")
        .orderBy(col("live").desc +: entryWinnerOrder: _*)
      val counted = cacheEntries(tenant, index)
        .withColumn("live",
          col("epoch") === m.epoch && col("expires_at") > now)
        .withColumn("vrn",
          row_number().over(wNewest))
        .withColumn("keep", col("live") && col("vrn") === 1)
        .cache()
      val agg = counted.agg(count(lit(1)), count(when(col("keep"), 1))).head
      val (total, kept) = (agg.getLong(0), agg.getLong(1))
      val evicted = total - kept
      // rewrite also when the FILE count (not just the row count) is what
      // triggered us: 65 one-row appends of live entries evict nothing but
      // still need coalescing, or the per-call probe scan keeps growing
      if (evicted > 0 || dirFileCount(p) > CacheGcFileThreshold) {
        counted.filter(col("keep"))
          .drop("live", "vrn", "keep")
          .write.mode("overwrite").parquet(tmpPath(s"entries/$tenant/$index"))
        counted.unpersist()
        swapInto(tmpPath(s"entries/$tenant/$index"), Paths.get(p))
        if (evicted > 0) {
          import spark.implicits._
          Seq((now, evicted)).toDF("ts", "evicted")
            .write.mode("append").parquet(evictionsPath(tenant, index))
        }
      } else counted.unpersist()
      evicted
    }
  }

  /** The entry table's winner order per cache_key, shared by the batch
    * probe, the compaction and the resident reload: newest first, then a
    * content hash, so same-second writes to one key (two queries sharing
    * an L1/L2 key) resolve deterministically. */
  private def entryWinnerOrder =
    Seq(col("written_at").desc, xxhash64(to_json(col("hits"))))

  /** The one entry-table writer: every append (the batch populate, the
    * pending flush, prefetch) runs, under the per-index lock,
    *  1. the CacheMemoryMb check (MemoryCacheStorage.cs:59-71) on
    *     driver-side file sizes, no job;
    *  2. at quota, a lazy sweep of stale/expired entries (the reference's
    *     read-path expiry sweep). A sweep that freed nothing is memoized
    *     until the table changes or `sweepWindow` of logical time passes
    *     (entries can't expire faster than their TTL) — without this an
    *     at-quota tenant pays a full-table compaction job per write;
    *  3. still at quota: REJECT — the miss was served, it just isn't
    *     cached. Otherwise `append` writes into the entry dir;
    *  4. file-count GC: every append adds a file set and the per-call
    *     probe scans all of them, so compaction past
    *     [[CacheGcFileThreshold]] keeps the probe cost flat over time.
    * Returns whether `append` ran. */
  private def appendCacheEntries(tenant: String, index: String, now: Long,
                                 quotaMb: Int, sweepWindow: Long)
                                (append: String => Unit): Boolean =
    withManifestLock(tenant, index) {
      val dir = cacheEntriesPath(tenant, index)
      val quotaBytes = quotaMb.toLong << 20
      val st = cacheStateOf(tenant, index)
      var cur = dirBytes(dir)
      if (cur >= quotaBytes && !st.fruitlessSweep.exists {
            case (sz, t) => sz == cur && now < t + sweepWindow }) {
        compactCacheEntries(tenant, index, now)
        cur = dirBytes(dir)
        if (cur >= quotaBytes) st.fruitlessSweep = Some((cur, now))
      }
      val underQuota = cur < quotaBytes
      if (underQuota) {
        append(dir)
        if (dirFileCount(dir) > CacheGcFileThreshold)
          compactCacheEntries(tenant, index, now)
      }
      underQuota
    }

  /** Scratch dir OUTSIDE every enumerated tree (billingUsage lists the
    * children of metrics/<tenant>; cache/<t>/<i> holds the live tables) —
    * a crashed compaction must not leave a half-written sibling that a
    * consumer would pick up as data. */
  private def tmpPath(sub: String): String = s"$root/tmp/$sub"

  private def swapInto(tmp: String, target: java.nio.file.Path): Unit = {
    deleteTree(target)
    Files.createDirectories(target.getParent)
    Files.move(Paths.get(tmp), target)
  }

  /** Resolved plan-time search parameters — VEC.SEARCH steps 8-9
    * (reference: VectorCommandSet.cs:423-456 + SloGuardrails.cs:58-87).
    * `maxScans` 0 = uncapped; `cacheOnly` sheds cache misses.
    * `cacheMemoryMb` is the tenant's result-cache quota (reference:
    * TenantConfig.CacheMemoryMb enforced at MemoryCacheStorage.cs:59-71):
    * populate writes are rejected once the entry table reaches it. */
  case class SearchOptions(maxScans: Int = 0, cacheOnly: Boolean = false,
                           budgetAdjusted: Boolean = false,
                           cacheMemoryMb: Int = Int.MaxValue)

  /** SLO shed + budget degradation, resolved deterministically from the
    * tenant's state (the serving side evaluates this per request; batch
    * side resolves it once per plan):
    *  - cache-only when CACHE_HINT force, or degraded guardrails and a
    *    low-priority tenant (priority ≥ 2) — misses are shed;
    *  - degraded guardrails cap scans for priority ≥ 1 tenants
    *    (high-priority 0 is protected, SloGuardrails.cs:62-66);
    *  - over-budget tenants get maxScans halved, or the default ceiling
    *    min(1000, n/2), floor 1 (VectorCommandSet.cs:446-455). */
  def resolveSearchOptions(tenant: String, index: String,
                           degraded: Boolean = false, priority: Int = 1,
                           overBudget: Boolean = false,
                           cacheHintForce: Boolean = false,
                           degradedMaxScans: Int = 1000,
                           cacheMemoryMb: Int = Int.MaxValue): SearchOptions = {
    val n = manifest(tenant, index).nVectors
    val cacheOnly = cacheHintForce || (degraded && priority >= 2)
    var maxScans = if (degraded && priority >= 1) degradedMaxScans else 0
    var adjusted = false
    if (overBudget) {
      maxScans =
        if (maxScans > 0) math.max(1, maxScans / 2)
        else math.max(1, math.min(1000L, n / 2).toInt)
      adjusted = true
    }
    SearchOptions(maxScans, cacheOnly, adjusted, cacheMemoryMb)
  }

  /** The assembled cached-search pipeline — the reference's VEC.SEARCH
    * steps 6-13 as ONE call (VectorCommandSet.cs:206-537): derive the
    * layered cache keys, probe L0 exact → L0.5 canonical alias → L1
    * SimHash → L2 semantic cluster (epoch- and TTL-checked), run the real
    * [[search]] only for the misses, then populate L0/L1/L2 entries with
    * the policy TTL — the L2 entry's TTL shortened to 10% (floor 1 s) when
    * its cluster is write-hot (SemanticClusterRegistry.cs:95-121).
    *
    * `now` is caller-supplied epoch-seconds so runs are deterministic and
    * replayable (same reason every write takes an `updated_at`).
    * `hotClusters`: optional (cluster_id INT, hot BOOLEAN).
    *
    * Returns (query_id, rank, id, score, cache_hit, layer) — layer is
    * "L0" | "L0.5" | "L1" | "L2" on hits, null on misses. Requires a built
    * index (centroids drive the L2 layer).
    *
    * Scale shape: keys are column expressions; the probe is an equi-join
    * of the (small) request batch against the keyed entry table; only
    * misses reach the index scan. No driver-side per-query loop. */
  /** `options` carries the step-8/9 resolution ([[resolveSearchOptions]]):
    * `cacheOnly` sheds each missing query as one (rank 0, null id,
    * layer "SHED") row — the batch analog of the reference's
    * `VEC_ERR_BUSY "SLO mode: cache-only."` per-request error — and
    * `maxScans` caps the miss-path scan budget. */
  def searchCached(tenant: String, index: String, queries0: DataFrame, k: Int,
                   metric: String = "L2", nprobe: Int = 4, now: Long = 0L,
                   ttlSeconds: Int = 60,
                   hotClusters: Option[DataFrame] = None,
                   options: SearchOptions = SearchOptions()): DataFrame = {
    import graft.operators.Caching
    val m = manifest(tenant, index)
    require(m.algo == "FLAT" || m.metric.isEmpty ||
        metric.equalsIgnoreCase(m.metric),
      s"index built with metric=${m.metric}; cannot search with metric=$metric")

    // one key set per DISTINCT query id: duplicates would defeat the
    // fully-warm fast path (row counts vs per-query hit rows), bill
    // phantom misses, and double-write entries (the old crossJoin+window
    // key derivation deduplicated as a side effect). Dedup on the FULL
    // payload, not query_id alone — a query_id reused with a different
    // vector/filter would otherwise keep an arbitrary row and make
    // results nondeterministic; the uniqueness check below fails fast on
    // that instead. Tags dedup on the NORMALIZED (sorted, null=empty)
    // form — the same normalization the cache keys use — so tag order
    // never makes two identical requests look conflicting.
    val queries = {
      if (!queries0.columns.contains("filter_tags"))
        queries0.dropDuplicates(Seq("query_id", "qvec"))
      else
        queries0
          .withColumn("_tags_norm", sort_array(
            coalesce(col("filter_tags"), array().cast("array<string>"))))
          .dropDuplicates(Seq("query_id", "qvec", "_tags_norm"))
          .drop("_tags_norm")
    }

    val tagsNorm =
      if (queries.columns.contains("filter_tags"))
        sort_array(coalesce(col("filter_tags"), array().cast("array<string>")))
      else array().cast("array<string>")

    // L2 layer key: the per-call cascade's own admission, run as one
    // narrow UDF pass over the driver-sized centroid table (nlist rows) —
    // cheaper than a crossJoin×centroids + per-query window, which
    // shuffles nq×nlist rows
    val bcCents = spark.sparkContext.broadcast(l2CentroidsLocal(tenant, index, m))
    val nVectors = m.nVectors // the inner Manifest would drag the engine into the UDF
    val l2ClusterU = udf { (qv: Seq[Float]) =>
      Caching.l2ClusterLocal(metric, qv.toArray,
        Caching.l2Cost(nVectors, qv.length), bcCents.value)
    }

    val keyed = queries
      .withColumn("l2_cluster", l2ClusterU(col("qvec")))
      .withColumn("l0_key", Caching.queryKey(lit(tenant), lit(index), lit(k),
        lit(metric), tagsNorm, xxhash64(xxhash64(col("qvec")), lit(k))))
      .withColumn("l1_key", Caching.queryKey(lit(tenant), lit(index), lit(k),
        lit(metric), tagsNorm,
        graft.functions.VectorSimHash.simhashCol(col("qvec"))))
      .withColumn("l2_key", when(col("l2_cluster").isNotNull,
        Caching.queryKey(lit(tenant), lit(index), lit(k), lit(metric), tagsNorm,
          col("l2_cluster").cast("long"))))
      // cache(), NOT localCheckpoint(): checkpointing was tried for
      // shallower downstream plans, but Dataset.unpersist is a no-op on a
      // checkpointed plan's RDD (it only clears cacheManager entries), so
      // every call would leak a persisted RDD until GC — and the measured
      // wall-time difference was noise once the small-miss rows shortcut
      // below removed the dominant cost
      .cache()

    // L0.5: alias resolution of the exact key (confidence ≥ 0.8)
    val aliasesExist = Files.exists(Paths.get(cacheAliasPath(tenant, index)))
    val resolved =
      if (!aliasesExist) keyed.withColumn("alias_key", lit(null).cast("long"))
      else Caching.resolveAlias(
          keyed.withColumn("cache_key", col("l0_key")),
          spark.read.parquet(cacheAliasPath(tenant, index)))
        .withColumn("alias_key",
          when(col("lookup_key") =!= col("l0_key"), col("lookup_key")))
        .drop("cache_key", "lookup_key")

    // layered probe, priority-ordered (reference cascade order)
    val probes = resolved.select(col("query_id"),
        explode(filter(array(
          struct(lit(0).as("pri"), lit("L0").as("layer"), col("l0_key").as("key")),
          struct(lit(1).as("pri"), lit("L0.5").as("layer"), col("alias_key").as("key")),
          struct(lit(2).as("pri"), lit("L1").as("layer"), col("l1_key").as("key")),
          struct(lit(3).as("pri"), lit("L2").as("layer"), col("l2_key").as("key"))),
          p => p("key").isNotNull)).as("p"))
      .select(col("query_id"), col("p.pri"), col("p.layer"), col("p.key"))

    val entriesExist = Files.exists(Paths.get(cacheEntriesPath(tenant, index)))
    val hitRows =
      if (!entriesExist) null
      else {
        // epoch + TTL validity (St7/St8), then the winner order per key
        val wNewest = Window.partitionBy("cache_key")
          .orderBy(entryWinnerOrder: _*)
        val valid = cacheEntries(tenant, index)
          .filter(col("epoch") === m.epoch && col("expires_at") > now)
          .withColumn("vrn", row_number().over(wNewest))
          .filter(col("vrn") === 1)
          .select(col("cache_key"), col("hits"))
        val wPri = Window.partitionBy("query_id").orderBy(col("pri"))
        // materialized (localCheckpoint): the populate step below APPENDS to
        // the entry table this plan reads — a lazy plan re-collected after
        // the append could see its own writes and flip misses to hits
        probes
          .join(valid, probes("key") === valid("cache_key"))
          .withColumn("hrn", row_number().over(wPri))
          .filter(col("hrn") === 1)
          .select(col("query_id"), col("layer"), col("hits"))
          .localCheckpoint()
      }

    // Served entries are trimmed to the REQUESTED k: L1/L2 keys bucket k
    // via roundK, so an entry may hold more hits than this request asked
    // for (the reference returns the stored list untrimmed — ours never
    // over-returns; fewer-than-k on bucket sharing is inherent to RoundK
    // and matches the reference).
    val hitDf =
      if (hitRows == null) null
      else hitRows.select(col("query_id"), col("layer"),
          posexplode(col("hits")))
        .select(col("query_id"), col("col.rank"), col("col.id"),
          col("col.score"), lit(true).as("cache_hit"), col("layer"))
        .filter(col("rank") <= k)

    val missQueries =
      if (hitRows == null) keyed
      else keyed.join(hitRows.select("query_id"), Seq("query_id"), "left_anti")
    // hit/miss accounting from two cheap counts (keyed is cached, hitRows
    // is checkpointed; hitRows holds ≤1 row per query by construction) —
    // they also decide the fully-warm fast path, which skips the whole
    // miss machinery: search plan, populate write, shed frame. The same
    // aggregation enforces query_id uniqueness post-dedup: equal ids with
    // DIFFERENT payloads must fail fast, not silently keep one.
    val qAgg = keyed.agg(count(lit(1)), count_distinct(col("query_id"))).head
    val nQ = qAgg.getLong(0)
    require(qAgg.getLong(1) == nQ,
      s"batch contains a query_id reused with different qvec/filter_tags " +
        s"(${nQ} rows, ${qAgg.getLong(1)} distinct ids)")
    val nHit = if (hitRows == null) 0L else hitRows.count()
    val anyMiss = nHit < nQ

    // zero-JOB empty frame (an eager localCheckpoint of a limit(0) plan
    // still scheduled a job per fully-warm call), decoupled from the
    // cache files by construction
    def emptyResult() = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("query_id", queries.schema("query_id").dataType),
          StructField("rank", IntegerType),
          StructField("id", StringType),
          StructField("score", DoubleType))))
    }

    // miss path: the real delta search (steps 10-12); materialized so the
    // populate write below doesn't trigger a second full search and the
    // returned frame is decoupled from the just-appended cache files.
    // Under cache-only shedding the misses never reach the index.
    // Small miss batches (≤1024 plain long-id queries, no tag filter or
    // scan cap) route through the zero-job [[searchRows]] serving tier
    // instead of the distributed plan: the result comes back as a local
    // relation (decoupled from cache files by construction, so no
    // checkpoint either), replacing the cold call's costliest action
    // chain with one bounded collect. Large or filtered batches keep the
    // distributed path — on a cluster that is the only correct tier.
    val rowsPathOk = nQ <= CachedMissLocalMaxQueries &&
      queries.schema("query_id").dataType ==
        org.apache.spark.sql.types.LongType &&
      // the local collect reads getSeq[Float]: the gate must fully decide
      // eligibility, so an array<double> qvec frame (typed but castable)
      // stays on the distributed path instead of a late ClassCastException
      (queries.schema("qvec").dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => true
        case _ => false
      }) &&
      !queries.columns.contains("filter_tags") && options.maxScans == 0
    val fresh =
      if (options.cacheOnly || !anyMiss) emptyResult()
      else if (rowsPathOk) {
        val qArr = missQueries.select(col("query_id"), col("qvec")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        import spark.implicits._
        searchRows(tenant, index, qArr, k, metric, nprobe)
          .toSeq.toDF("query_id", "rank", "id", "score")
      }
      else searchImpl(tenant, index,
        missQueries.select(queries.columns.map(col): _*), k, metric, nprobe,
        maxScans = options.maxScans)
        .localCheckpoint()
    val shedOut =
      if (!options.cacheOnly || !anyMiss) null
      else missQueries.select(col("query_id"))
        .withColumn("rank", lit(0))
        .withColumn("id", lit(null).cast("string"))
        .withColumn("score", lit(null).cast("double"))
        .withColumn("cache_hit", lit(false))
        .withColumn("layer", lit("SHED"))
        .localCheckpoint()

    // populate (step 13): one hits-array per missed query, written under
    // every derived key; L2 TTL write-hot-shortened. Zero-hit misses are
    // cached too — the reference stores the serialized (possibly empty)
    // result list (ResultCache.cs), so the repeat query must hit instead
    // of re-running the full scan; groupBy alone would drop them.
    val freshArr = missQueries.select("query_id")
      .join(fresh
        .groupBy("query_id")
        .agg(array_sort(collect_list(
          struct(col("rank"), col("id"), col("score")))).as("hits")),
        Seq("query_id"), "left")
      .withColumn("hits", coalesce(col("hits"),
        array().cast("array<struct<rank:int,id:string,score:double>>")))
    val hot = hotClusters.getOrElse {
      import spark.implicits._
      Seq.empty[(Int, Boolean)].toDF("cluster_id", "hot")
    }
    val newEntries = freshArr
      .join(keyed.select("query_id", "l0_key", "l1_key", "l2_key", "l2_cluster"),
        Seq("query_id"))
      .join(broadcast(hot.withColumnRenamed("cluster_id", "l2_cluster")),
        Seq("l2_cluster"), "left")
      .select(col("hits"),
        explode(filter(array(
          struct(lit("L0").as("layer"), col("l0_key").as("cache_key"), lit(ttlSeconds).as("ttl")),
          struct(lit("L1").as("layer"), col("l1_key").as("cache_key"), lit(ttlSeconds).as("ttl")),
          struct(lit("L2").as("layer"), col("l2_key").as("cache_key"),
            when(coalesce(col("hot"), lit(false)),
              greatest(lit(ttlSeconds / 10), lit(1))).otherwise(ttlSeconds).as("ttl"))),
          e => e("cache_key").isNotNull)).as("e"))
      .select(col("e.cache_key"), col("e.layer"), col("hits"),
        lit(m.epoch).as("epoch"),
        (lit(now) + col("e.ttl")).as("expires_at"),
        lit(now).as("written_at"))
    if (anyMiss && !options.cacheOnly)
      appendCacheEntries(tenant, index, now, options.cacheMemoryMb, ttlSeconds)(
        newEntries.write.mode("append").parquet(_))

    val freshOut0 = fresh
      .withColumn("cache_hit", lit(false))
      .withColumn("layer", lit(null).cast("string"))
    val freshOut = if (shedOut == null) freshOut0 else freshOut0.unionByName(shedOut)
    val out =
      if (hitDf == null) freshOut
      else hitDf.unionByName(freshOut)

    // step 14: metric counters (hit/miss per call) appended to the
    // per-index metrics log — feeds [[statsText]] (VEC.STATS parity);
    // shed queries count as misses (the reference bills the rejected
    // request too, VectorCommandSet.cs:432-433). Misses are counted from
    // the MISS SET (nQ − nHit), not the result rows — a miss whose search
    // returns zero hits (selective tags, empty probes) still bills.
    appendServingMetrics(tenant, index, now, nHit, nQ - nHit)

    keyed.unpersist()
    out.orderBy("query_id", "rank")
  }

  // message schema for the driver-side metrics writer; matches the shape
  // Spark itself wrote (ts/hits/misses int64), so mixed dirs read fine
  private lazy val metricsRowSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message metrics { required int64 ts; required int64 hits; required int64 misses; }")

  /** Append one (ts, hits, misses) row to a metrics dir WITHOUT a Spark
    * job: the per-call counters are a single ~24-byte row, and scheduling
    * a distributed write for it was pure overhead on the serving path
    * (one full job per [[searchCached]] call). parquet-mr writes the same
    * schema Spark did, so every consumer (statsText, billingUsage,
    * the fold) reads the mixed dir unchanged. */
  private def writeServingMetricsLocal(dir: String, ts: Long, hits: Long,
                                   misses: Long): Unit = {
    Files.createDirectories(Paths.get(dir))
    val file = s"$dir/part-local-${java.util.UUID.randomUUID()}.parquet"
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(metricsRowSchema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
        metricsRowSchema).newGroup()
      g.add("ts", ts); g.add("hits", hits); g.add("misses", misses)
      w.write(g)
    } finally w.close()
  }

  /** Parquet-mr twin of the batch populate's entry rows — byte-compatible
    * with what Spark itself writes for the entry table (same column
    * names/types and standard 3-level LIST encoding), so the batch probe
    * plan, the GC compactor, and the resident reload read mixed dirs
    * unchanged. Lets the per-call serving path append a cache entry
    * WITHOUT scheduling a Spark job — one ~KB row group per miss; the
    * existing file-count GC folds the dir. */
  private lazy val entryRowSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional int64 cache_key;
        |  optional binary layer (UTF8);
        |  optional group hits (LIST) {
        |    repeated group list {
        |      optional group element {
        |        optional int32 rank;
        |        optional binary id (UTF8);
        |        optional double score;
        |      }
        |    }
        |  }
        |  optional int64 epoch;
        |  optional int64 expires_at;
        |  optional int64 written_at;
        |}""".stripMargin)

  private def writeCacheEntryRowsLocal(
      dir: String,
      rows: Seq[(Long, String, Array[(Int, String, Double)], Long, Long, Long)]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val file = s"$dir/part-local-${java.util.UUID.randomUUID()}.parquet"
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(entryRowSchema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { case (ck, layer, hits, epoch, expiresAt, writtenAt) =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
        entryRowSchema).newGroup()
      g.add("cache_key", ck)
      g.add("layer", layer)
      val hg = g.addGroup("hits")
      hits.foreach { case (r, id, s) =>
        val eg = hg.addGroup("list").addGroup("element")
        eg.add("rank", r); eg.add("id", id); eg.add("score", s)
      }
      g.add("epoch", epoch)
      g.add("expires_at", expiresAt)
      g.add("written_at", writtenAt)
      w.write(g)
    } finally w.close()
  }

  /** The one billing write: append one (ts, hits, misses) row to the
    * index's metrics log, then fold the log into a single summed row
    * once its part-file count exceeds [[CacheGcFileThreshold]] — one tiny
    * file per call is a small-files generator at serving rates, and every
    * consumer (statsText, billingUsage) only ever SUMS it. Both steps hold
    * the per-index lock: an append landing between another thread's
    * fold-read and its swap would be silently destroyed. The fold's tmp
    * dir lives under root/tmp so billingUsage's enumeration of the
    * metrics/<tenant> children can never pick up a half-written fold. */
  private def appendServingMetrics(tenant: String, index: String, now: Long,
                               hits: Long, misses: Long): Unit =
    withManifestLock(tenant, index) {
      val p = s"$root/metrics/$tenant/$index"
      writeServingMetricsLocal(p, now, hits, misses)
      if (dirFileCount(p) > CacheGcFileThreshold) {
        val r = spark.read.parquet(p)
          .agg(max("ts"), sum("hits"), sum("misses")).head
        val tmp = tmpPath(s"metrics/$tenant/$index")
        deleteTree(Paths.get(tmp))
        writeServingMetricsLocal(tmp, r.getLong(0), r.getLong(1), r.getLong(2))
        swapInto(tmp, Paths.get(p))
      }
    }

  /** VEC.STATS Prometheus-text dump for an index: cumulative hit/miss
    * counters from the cached-search metrics log + the latency histogram
    * of an optional caller-supplied latency table (latencies are wall-
    * clock and therefore not engine-recorded — determinism rule)
    * (reference: VectorCommandSet.cs:103-133 → MetricsCollector.GetStats). */
  def statsText(tenant: String, index: String,
                latencies: Option[DataFrame] = None): String = {
    import graft.operators.Governance
    val p = s"$root/metrics/$tenant/$index"
    val (h, m) =
      if (!Files.exists(Paths.get(p))) (0L, 0L)
      else {
        val r = spark.read.parquet(p)
          .agg(sum("hits"), sum("misses")).head
        (if (r.isNullAt(0)) 0L else r.getLong(0),
          if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    val hist = latencies.map(Governance.latencyHistogram(_, "latency_ms"))
      .getOrElse {
        import spark.implicits._
        Governance.latencyHistogram(Seq.empty[Double].toDF("latency_ms"), "latency_ms")
      }
    // real eviction counts from the GC log (entries dropped by
    // compactCacheEntries — the reference's MemoryCacheStorage eviction
    // counter feeding GetStats)
    val evPath = evictionsPath(tenant, index)
    val ev =
      if (!Files.exists(Paths.get(evPath))) 0L
      else {
        val r = spark.read.parquet(evPath).agg(sum("evicted")).head
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    // live resident-tier hits/misses (not yet flushed to the log) fold in
    // so VEC.STATS is current even mid-serving-burst
    val (memHits, memMisses) = cacheStates.get(s"$tenant/$index")
      .fold((0L, 0L))(st => (st.hits.get(), st.misses.get()))
    Governance.metricsText(
      Governance.standardCounters(h + memHits, m + memMisses, evictions = ev,
        fallbacks = 0L), hist)
  }

  // -------------------------------------------------------------------
  // per-call cached serving (resident L0 probe over the entry table)
  // -------------------------------------------------------------------

  // one entry-table row: (cache_key, layer, hits, epoch, expires_at,
  // written_at)
  private type EntryRow =
    (Long, String, Array[(Int, String, Double)], Long, Long, Long)

  // per-key entries sorted in the batch probe's winner order; probe time
  // applies the same expiry filter the batch plan applies BEFORE ranking
  private case class ResidentEntry(expiresAt: Long,
                                   hits: Array[(Int, String, Double)])

  private val NoPending = Long.MinValue
  private val PendingFlushMaxRows = 256
  private val PendingFlushMaxAgeNanos = 1000000000L

  /** Everything the engine holds in memory for one index's result cache.
    *
    * Billing: resident-tier hits AND rows-path misses are counted here —
    * the hot path must not append a metrics file per call (a small-files
    * generator at serving rates). [[statsText]] folds them in live;
    * [[flushServingMetrics]] persists + resets them so billing picks them
    * up. `served` marks an index the per-call tier has answered for.
    *
    * Pending inserts: rows-path cache inserts pending their durable
    * append. The reference's cache insert is an in-memory map put
    * (MemoryCacheStorage) — serving truth here is likewise the resident
    * map, updated in-heap at miss time; the parquet append that makes the
    * entry visible to the BATCH cascade and to a cold restart is amortized
    * through this queue (per-call parquet-writer init + dir rewalk
    * measured ~20 ms and serialized wire misses on the manifest lock at
    * ~24 QPS). Flushes are inline and deterministic — no background
    * thread: a miss flushes when the queue reaches [[PendingFlushMaxRows]]
    * or its oldest row (`pendingSince`, a System.nanoTime) exceeds
    * [[PendingFlushMaxAgeNanos]]; hits piggyback the age check. Batch
    * readers may lag a pending insert by at most the flush trigger — a
    * cache answering a just-inserted query with a recompute, never a wrong
    * result (and strictly more durable than the reference, which loses
    * every entry on restart). [[flushCachePending]] is the deterministic
    * hook for tests and shutdown. `quotaMb` is the latest caller-supplied
    * CacheMemoryMb — the rows path's analog of SearchOptions.cacheMemoryMb,
    * consulted at flush time.
    *
    * Resident maps: `entries` (epoch, dir fingerprint, key → entries) and
    * `aliases` (dir fingerprint, source → canonical key), reloaded when
    * their dir changes. `fruitlessSweep`: (entries bytes, now) at the last
    * quota sweep that freed nothing ([[appendCacheEntries]]).
    *
    * [[flushCache]] resets everything but the billing counters. */
  private final class CacheState {
    val hits = new java.util.concurrent.atomic.AtomicLong()
    val misses = new java.util.concurrent.atomic.AtomicLong()
    @volatile var served = false
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[EntryRow]()
    val pendingCount = new java.util.concurrent.atomic.AtomicInteger()
    val pendingSince = new java.util.concurrent.atomic.AtomicLong(NoPending)
    @volatile var quotaMb: Int = Int.MaxValue
    @volatile var entries: Option[(Long, Long,
      java.util.HashMap[java.lang.Long, Array[ResidentEntry]])] = None
    @volatile var aliases: Option[(Long, Map[Long, Long])] = None
    @volatile var fruitlessSweep: Option[(Long, Long)] = None

    def bill(hit: Boolean): Unit = {
      served = true
      (if (hit) hits else misses).incrementAndGet()
    }

    def pendingAged: Boolean = {
      val since = pendingSince.get()
      since != NoPending && System.nanoTime() - since > PendingFlushMaxAgeNanos
    }

    def resetEntries(): Unit = {
      pending.clear(); pendingCount.set(0); pendingSince.set(NoPending)
      entries = None; aliases = None; fruitlessSweep = None
    }
  }

  // one CacheState per "$tenant/$index"
  private val cacheStates =
    scala.collection.concurrent.TrieMap.empty[String, CacheState]
  private def cacheStateOf(tenant: String, index: String): CacheState =
    cacheStates.getOrElseUpdate(s"$tenant/$index", new CacheState)

  /** Live (not-yet-flushed) serving counters per index — the sidecar
    * loop's metrics snapshot (the reference's GetMetricsSnapshot payload,
    * server.py:138-160). Read-only: [[flushServingMetrics]] owns the
    * reset, so these are "since the last durable flush". */
  def servingCountersLive: Seq[(String, String, Long, Long)] =
    cacheStates.toSeq.filter(_._2.served).sortBy(_._1).flatMap {
      case (key, st) =>
        key.split("/", 2) match {
          case Array(t, i) => Some((t, i, st.hits.get(), st.misses.get()))
          case _ => None
        }
    }

  // -------------------------------------------------------------------
  // sidecar-applied serving policy. The reference applies the policy's
  // TtlSeconds to subsequent cache decisions and leaves
  // AdmissionThreshold/EvictionPriority declared-but-unapplied on the
  // engine side (DynamicPolicyEngine.cs:16-46 — the comment at :40 says
  // exactly that); mirrored here: TTL drives inserts, the other two ride
  // along as data for stats/decision logs. ttl ≤ 0 = the reference's
  // NoCache decision — entries are born expired and never serve.
  // -------------------------------------------------------------------
  private val appliedPolicies = scala.collection.concurrent.TrieMap
    .empty[String, (Int, Double, String)]

  /** Apply a sidecar policy decision for a tenant (the engine half of
    * UpdatePolicy, DynamicPolicyEngine.cs:31-45). */
  def applyServingPolicy(tenant: String, ttlSeconds: Int,
                         admissionThreshold: Double = 0.1,
                         evictionPriority: String = "default"): Unit =
    appliedPolicies.put(tenant,
      (ttlSeconds, admissionThreshold, evictionPriority))

  /** TTL the wire plane should cache new entries with: the applied
    * policy's, or the caller's default when no policy has arrived. */
  def servingTtl(tenant: String, default: Int = 60): Int =
    appliedPolicies.get(tenant).map(_._1).getOrElse(default)

  /** The full applied policy, if any (stats/observability). */
  def servingPolicyOf(tenant: String): Option[(Int, Double, String)] =
    appliedPolicies.get(tenant)

  /** Drain the pending rows-path inserts for an index into the durable
    * entry table through [[appendCacheEntries]] — one parquet-mr append,
    * no Spark job, under the tenant's CacheMemoryMb like the batch
    * populate. The sweep memo's window is the smallest TTL among the
    * drained rows. Rejected rows' misses were already served; their
    * in-heap copies age out by TTL/epoch under the resident map's own
    * bounds. After an append, re-stamp the resident map's fingerprint so
    * the flush itself does not force a reload: the map already holds
    * these entries, so if its stamp matched the pre-write dir it matches
    * the post-write dir too. A stamp that does NOT match fpBefore means
    * someone else (a batch populate) wrote the dir since the map
    * loaded — leave it mismatched and let the next probe reload as
    * usual. Serving metrics flush here too, so rows-path hit/miss
    * billing becomes durable on the same amortized cadence as the
    * entries themselves. */
  def flushCachePending(tenant: String, index: String): Unit = {
    val st = cacheStates.get(s"$tenant/$index").orNull
    if (st == null || st.pending.isEmpty) return
    withManifestLock(tenant, index) {
      val buf = scala.collection.mutable.ArrayBuffer.empty[EntryRow]
      var e = st.pending.poll()
      while (e != null) { buf += e; e = st.pending.poll() }
      st.pendingCount.addAndGet(-buf.length)
      st.pendingSince.set(NoPending)
      // rows added concurrently after the drain keep an age stamp so the
      // next hit/miss age check still sees them
      if (!st.pending.isEmpty)
        st.pendingSince.compareAndSet(NoPending, System.nanoTime())
      if (buf.nonEmpty) {
        val logicalNow = buf.map(_._6).max
        var fpBefore = 0L
        val appended = appendCacheEntries(tenant, index, logicalNow, st.quotaMb,
            sweepWindow = buf.map(r => r._5 - r._6).min) { dir =>
          fpBefore = entriesFingerprint(dir)
          writeCacheEntryRowsLocal(dir, buf.toSeq)
        }
        if (appended) {
          val fpAfter = entriesFingerprint(cacheEntriesPath(tenant, index))
          st.entries match {
            // restamp ONLY when the map provably holds the drained
            // entries (same key + expiry): a map reloaded from the dir
            // between the in-heap insert and this flush matches fpBefore
            // yet lacks the pending rows — restamping it would hide them
            // from the resident tier until the dir next changes. The
            // check is ≤ PendingFlushMaxRows probes of an in-heap map.
            case Some((ep, f, map)) if f == fpBefore &&
                buf.forall { case (ck, _, _, _, exp, _) =>
                  val es = map.get(ck)
                  es != null && es.exists(_.expiresAt == exp)
                } =>
              st.entries = Some((ep, fpAfter, map))
            case _ => ()
          }
        }
        flushServingMetrics(tenant, index, logicalNow)
      }
    }
  }

  /** Flush every index's pending cache inserts and in-memory serving
    * counters — the shutdown hook's last act, so rows-path billing and
    * cache entries survive a restart (the reference loses its whole
    * in-memory cache here; we only lose nothing). */
  def flushAllServingMetrics(now: Long = System.currentTimeMillis() / 1000L): Unit =
    cacheStates.keySet.foreach { key =>
      key.split("/", 2) match {
        case Array(t, i) =>
          flushCachePending(t, i)
          flushServingMetrics(t, i, now)
        case _ => ()
      }
    }

  /** Order-independent content fingerprint of the entry dir (file name,
    * size, mtime) — cheap driver-side staleness check for the resident
    * map (the dir is bounded at [[CacheGcFileThreshold]] files). */
  // forces a reload (and mismatches any cached value) when a concurrent
  // GC-swap/flush deletes files mid-walk — monotonically unique
  private val fpRaceMarker = new java.util.concurrent.atomic.AtomicLong(
    Long.MinValue)
  private def entriesFingerprint(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else
      try {
        val s = Files.walk(p)
        try {
          var h = 1125899906842597L
          s.filter(Files.isRegularFile(_)).forEach { f =>
            h ^= (f.getFileName.toString.hashCode.toLong * 31 +
              Files.size(f)) * 1099511628211L +
              Files.getLastModifiedTime(f).toMillis
          }
          h
        } finally s.close()
      } catch {
        // compactCacheEntries' swapInto (deleteTree + move) or flushCache
        // can delete files mid-walk; serving must degrade to a reload or
        // a batch-path miss, never crash
        case _: java.io.IOException | _: java.io.UncheckedIOException =>
          fpRaceMarker.incrementAndGet()
      }
  }

  private def residentL0Of(tenant: String, index: String, m: Manifest,
                           st: CacheState)
      : java.util.HashMap[java.lang.Long, Array[ResidentEntry]] = {
    val dir = cacheEntriesPath(tenant, index)
    val fp = entriesFingerprint(dir)
    st.entries match {
      case Some((e, f, map)) if e == m.epoch && f == fp => map
      case _ =>
        val map = new java.util.HashMap[java.lang.Long, Array[ResidentEntry]]()
        try {
          if (Files.exists(Paths.get(dir))) {
            // ranked BY Spark in the batch probe's winner order — the
            // resident map only caches the plan's own ordering; runtime
            // expiry is applied at probe time like the batch plan's filter
            cacheEntries(tenant, index)
              .filter(col("epoch") === m.epoch)
              .select(col("cache_key"), col("expires_at"), col("hits"),
                row_number().over(Window.partitionBy("cache_key")
                  .orderBy(entryWinnerOrder: _*)).as("wrn"))
              .collect()
              .groupBy(_.getLong(0))
              .foreach { case (ck, rows) =>
                map.put(ck, rows.sortBy(_.getInt(3)).map { r =>
                  ResidentEntry(r.getLong(1),
                    r.getSeq[org.apache.spark.sql.Row](2)
                      .map(h => (h.getInt(0), h.getString(1), h.getDouble(2)))
                      .toArray)
                })
              }
          }
          st.entries = Some((m.epoch, fp, map))
          map
        } catch {
          // a GC-swap racing the read: serve this call as a miss (correct,
          // just slower) and retry the load next call — the failed load
          // is NOT cached
          case _: Exception =>
            new java.util.HashMap[java.lang.Long, Array[ResidentEntry]]()
        }
    }
  }

  // resident alias map (confidence ≥ 0.8, the resolveAlias rule), same
  // fingerprint-refresh discipline as the entry map
  private def residentAliasesOf(tenant: String, index: String,
                                st: CacheState): Map[Long, Long] = {
    val dir = cacheAliasPath(tenant, index)
    val fp = entriesFingerprint(dir)
    st.aliases match {
      case Some((f, map)) if f == fp => map
      case _ =>
        try {
          val map =
            if (!Files.exists(Paths.get(dir))) Map.empty[Long, Long]
            else spark.read.parquet(dir).filter(col("confidence") >= 0.8)
              .select("source_key", "canonical_key").collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toMap
          st.aliases = Some((fp, map))
          map
        } catch { // concurrent flushCache delete: no aliases this call
          case _: Exception => Map.empty[Long, Long]
        }
    }
  }

  /** Per-call cached serving: the RESP-shaped analog of [[searchCached]]
    * for a single query — the full L0 → L0.5 → L1 → L2 priority cascade
    * probed against a driver-resident copy of the (GC-bounded) entry
    * table. A valid hit returns in-heap with no job, tagged with its
    * layer. Every miss serves in-process and returns layer "MISS" (see
    * the miss tail below), billed via the in-memory miss counter that
    * [[flushCachePending]]/[[flushServingMetrics]] persist, its entry
    * quota-enforced at flush against `cacheMemoryMb`. Probe semantics
    * equal the batch plan's: same key derivations (the driver/Column
    * parity is spec-pinned; L1 reuses the simhash kernel itself; L2 is
    * the batch UDF's own [[graft.operators.Caching.l2ClusterLocal]]), same
    * epoch gate, same expiry-before-winner rule, same winner order
    * (cached from the plan's own ordering). Reference scenarios:
    * repeat-query semantic-cache hit (P99 14.5 ms) and prefetch→L2 hit
    * (0.59 ms), 20260112_phase6_summary.md. */
  def searchCachedRows(tenant: String, index: String, queryId: Long,
                       qvec: Array[Float], k: Int, metric: String = "L2",
                       nprobe: Int = 4, now: Long = 0L, ttlSeconds: Int = 60,
                       tags: Seq[String] = Nil,
                       cacheMemoryMb: Int = Int.MaxValue,
                       refine: Int = 0, hnswBeam: Boolean = false)
      : (String, Array[(Int, String, Double)]) = {
    val (layer, rows, _) = searchCachedRowsTraced(tenant, index, queryId,
      qvec, k, metric, nprobe, now, ttlSeconds, tags, cacheMemoryMb, refine,
      hnswBeam)
    (layer, rows)
  }

  /** [[searchCachedRows]] plus the per-call [[SearchTrace]]: which
    * cascade layers were probed (in order), which one hit (or MISS), the
    * serving counts of the tier that answered a miss (−1 when the plan
    * answered), and call wall time. */
  def searchCachedRowsTraced(tenant: String, index: String, queryId: Long,
                             qvec: Array[Float], k: Int, metric: String = "L2",
                             nprobe: Int = 4, now: Long = 0L,
                             ttlSeconds: Int = 60, tags: Seq[String] = Nil,
                             cacheMemoryMb: Int = Int.MaxValue,
                             refine: Int = 0, hnswBeam: Boolean = false)
      : (String, Array[(Int, String, Double)], SearchTrace) = {
    val tTrace0 = System.nanoTime()
    import graft.operators.Caching
    val m = manifest(tenant, index)
    val st = cacheStateOf(tenant, index)
    // beam-filtered HNSW is only a different ANSWER when a filter is on
    val beam = hnswBeam && tags.nonEmpty && m.algo == "HNSW"
    // refined / beam-filtered answers live under their OWN key space:
    // the semantics scope rides the metric component (keys stay within
    // the 6-part queryKey contract, every existing key is untouched for
    // default calls), so a refined or beam entry can never serve a
    // default call or vice versa — they are different answers by design
    val metricKey = {
      val r = if (refine > 0) s"#refine=$refine" else ""
      val b = if (beam) "#hnswbeam" else ""
      s"$metric$r$b"
    }
    def keyOf(layerKey: Long): Long =
      Caching.queryKeyLocal(tenant, index, k, metricKey, tags, layerKey)
    val l0 = keyOf(Caching.l0LayerKeyLocal(qvec, k))
    val probes = scala.collection.mutable.ArrayBuffer[(String, Long)](
      ("L0", l0))
    residentAliasesOf(tenant, index, st).get(l0)
      .filter(_ != l0).foreach(ck => probes += (("L0.5", ck)))
    probes += (("L1", keyOf(graft.functions.VectorSimHash.simhash64(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(qvec), 42L))))
    Caching.l2ClusterLocal(metric, qvec, Caching.l2Cost(m.nVectors, qvec.length),
        l2CentroidsLocal(tenant, index, m))
      .foreach(cid => probes += (("L2", keyOf(cid.toLong))))
    val entries = residentL0Of(tenant, index, m, st)
    val hit = probes.iterator.flatMap { case (layer, key) =>
      val cands = entries.get(key)
      (if (cands == null) None else cands.find(_.expiresAt > now))
        .map(e => (layer, e))
    }.nextOption()
    hit match {
      case Some((layer, e)) =>
        st.bill(hit = true)
        // piggyback: an aging pending queue flushes off the hit path's
        // cheap timestamp check, so pending inserts can't sit unflushed
        // behind a hit-only workload
        if (st.pendingAged) flushCachePending(tenant, index)
        (layer, e.hits.filter(_._1 <= k),
          SearchTrace("cache-hit", Some(layer), probes.map(_._1).toSeq,
            headLive = -1, headMasked = -1, tailRows = -1,
            totalMicros = (System.nanoTime() - tTrace0) / 1000L))
      case None =>
        // The miss tail. The reference answers a cache miss entirely
        // in-process — search the index, put the entry in its in-memory
        // cache, reply — inside one request (~ms); delegating to the
        // batch cascade cost ~20 tiny Spark actions per wire miss, and a
        // synchronous driver-side parquet append ~20 ms/call serialized
        // on the manifest lock. So the zero-job rows tier answers
        // (tag-filtered calls through [[searchRowsFilteredTraced]] — the
        // snapshot tag index filters during the scan), reached through
        // the two overridable entry points; a call outside the rows gates
        // (non-resident tail, oversized corpus/head, filtered + refined)
        // takes the distributed plan with the call's own tags and refine.
        val one = Array((queryId, qvec))
        val rowsServed =
          if (tags.isEmpty)
            Some(searchRowsTraced(tenant, index, one, k, metric, nprobe, refine))
          else if (refine > 0) None
          else searchRowsFilteredTraced(tenant, index, one, k, metric, nprobe,
            tags, hnswBeam = beam)
        val hits = rowsServed
          .fold(planRows(tenant, index, m, one, k, metric, nprobe, refine, tags))(_._1)
          .map { case (_, r, id, s) => (r, id, s) }.sortBy(_._1)
        // The entry goes in-heap at once (copy-on-write; the dir and its
        // fingerprint are untouched) and its durable append rides the
        // pending queue. Newest-first per key — the batch winner order —
        // with one documented looseness: two different-content writes to
        // a shared L1/L2 key in the same logical second tie in
        // written_at, where the batch plan picks by content hash and this
        // path keeps the later write; both are valid entries for that key
        // and a full reload re-ranks identically to the plan. A refined
        // or beam call the plan answered is not cached: a beam call lands
        // there only when the resident graphs/tag index are unavailable,
        // and its answer is the post-filter fallback, not the beam one.
        if (rowsServed.isDefined || (refine == 0 && !beam)) {
          val writeKeys = probes.toSeq.collect {
            case (l @ ("L0" | "L1" | "L2"), ck) => (l, ck)
          }
          withManifestLock(tenant, index) {
            st.entries.foreach { case (ep, f, oldMap) =>
              if (ep == m.epoch) {
                val nm = new java.util.HashMap[java.lang.Long, Array[ResidentEntry]](oldMap)
                val e = ResidentEntry(now + ttlSeconds, hits)
                writeKeys.foreach { case (_, ck) =>
                  // prune already-expired entries while prepending: with
                  // reloads now rare (fingerprint restamp on flush), a hot
                  // key repopulated every TTL would otherwise accumulate
                  // dead entries in-heap without bound
                  val prev = nm.get(ck)
                  val kept =
                    if (prev == null) Array.empty[ResidentEntry]
                    else prev.filter(_.expiresAt > now)
                  nm.put(ck, e +: kept)
                }
                st.entries = Some((ep, f, nm))
              }
            }
            // pending enqueue stays under the SAME lock as the resident
            // insert: a concurrent flushCache (which clears the queue
            // under this lock) can then never interleave between the two
            // — an explicitly flushed entry must not resurrect via a
            // later pending flush
            writeKeys.foreach { case (l, ck) =>
              st.pending.add((ck, l, hits, m.epoch, now + ttlSeconds, now))
            }
            st.quotaMb = cacheMemoryMb
            st.pendingCount.addAndGet(writeKeys.length)
            st.pendingSince.compareAndSet(NoPending, System.nanoTime())
          }
        }
        st.bill(hit = false)
        if (st.pendingCount.get() >= PendingFlushMaxRows || st.pendingAged)
          flushCachePending(tenant, index)
        val tr = rowsServed.map(_._2)
        ("MISS", hits,
          SearchTrace("cache-miss", None, probes.map(_._1).toSeq,
            headLive = tr.fold(-1)(_.headLive),
            headMasked = tr.fold(-1)(_.headMasked),
            tailRows = tr.fold(-1)(_.tailRows),
            totalMicros = (System.nanoTime() - tTrace0) / 1000L))
    }
  }

  /** Persist + reset the in-memory serving counters into the metrics log
    * (one summed row) so billing/offline consumers see them;
    * [[statsText]] already folds the live value in. */
  def flushServingMetrics(tenant: String, index: String, now: Long = 0L): Unit =
    cacheStates.get(s"$tenant/$index").foreach { st =>
      // write FIRST, subtract only after the append commits — a getAndSet
      // before a failed write would silently drop billable calls (calls
      // that land during the write stay in the counters for the next
      // flush)
      val nh = st.hits.get()
      val nm = st.misses.get()
      if (nh > 0 || nm > 0) {
        appendServingMetrics(tenant, index, now, nh, nm)
        st.hits.addAndGet(-nh)
        st.misses.addAndGet(-nm)
      }
    }

  /** Current snapshot's centroid table (cluster_id, centroid). */
  def centroids(tenant: String, index: String): DataFrame =
    spark.read.parquet(
      s"${snapDir(tenant, index, manifest(tenant, index))}/centroids")

  /** Predictive prefetch into the result cache (St4 assembled): for each
    * predicted cluster, search its own inverted list with its centroid as
    * the query and write the hits as an L2 cache entry under the SAME key
    * [[searchCached]] derives — so the next query admitted to that cluster
    * hits the warmed entry (reference: VectorCommandSet.cs:318-379 +
    * PrefetchBackgroundQueue.cs:15-77; 5-min TTL default).
    * predicted: (cluster_id INT). Returns the number of entries written. */
  def prefetchIntoCache(tenant: String, index: String, predicted: DataFrame,
                        k: Int, metric: String = "L2", now: Long = 0L,
                        ttlSeconds: Int = 300, nprobe: Int = 4): Long = {
    import graft.operators.{Caching, TopK}
    val m = manifest(tenant, index)
    val ranked = cacheCentroidOverride(tenant, index) match {
      case Some(cents) =>
        // semantic-model clustering: the predicted cluster's centroid is
        // just a query vector for the index (the reference fire-and-forgets
        // a SEARCH of the predicted centroid, VectorCommandSet.cs:318-379)
        import spark.implicits._
        val byId = cents.toMap
        val ids = predicted.select("cluster_id").distinct()
          .collect().map(_.getInt(0)).filter(byId.contains)
        val queries = ids.toSeq.map(c => (c.toLong, byId(c).toSeq))
          .toDF("query_id", "qvec")
        searchImpl(tenant, index, queries, k, metric, nprobe)
          .select(col("query_id").as("qcluster"), col("rank"),
            col("id"), col("score"))
      case None =>
        // tail clustering IS the cache clustering: probe exactly the
        // predicted inverted list with its own centroid as the query
        val tailIdx = handlesOf(tenant, index, m).tailIndex
        val assigned = tailIdx.assigned
        val queries = predicted.select("cluster_id").distinct()
          .join(broadcast(tailIdx.centroids), Seq("cluster_id"))
          .select(col("cluster_id"), col("centroid").as("qvec"))
        val scored = assigned
          .join(broadcast(queries), Seq("cluster_id"))
          .select(col("cluster_id").cast("long").as("qcluster"), col("id_str"),
            graft.functions.vector_score(metric, col("qvec"), col("vec")).as("score"))
        val rankedIds = TopK.perGroup(
            scored.select(col("qcluster"), xxhash64(col("id_str")).as("id"), col("score")),
            Seq("qcluster"), k)
        val hitIds = rankedIds.select("id").distinct()
        // assigned ids are unique by construction (one row per live vector)
        val idMap = assigned.select("id_str")
          .withColumn("id", xxhash64(col("id_str")))
          .join(broadcast(hitIds), Seq("id"), "left_semi")
        rankedIds.join(broadcast(idMap), Seq("id"))
          .select(col("qcluster"), col("rank"),
            col("id_str").as("id"), col("score"))
    }
    val entries = ranked
      .groupBy("qcluster")
      .agg(array_sort(collect_list(
        struct(col("rank"), col("id"), col("score")))).as("hits"))
      .select(
        Caching.queryKey(lit(tenant), lit(index), lit(k), lit(metric),
          array().cast("array<string>"), col("qcluster")).as("cache_key"),
        lit("L2").as("layer"), col("hits"),
        lit(m.epoch).as("epoch"),
        lit(now + ttlSeconds).as("expires_at"),
        lit(now).as("written_at"))
      .localCheckpoint()
    // through the one writer, with no quota: under the lock, so a
    // concurrent compaction's swap cannot delete the files just written
    appendCacheEntries(tenant, index, now, quotaMb = Int.MaxValue,
      sweepWindow = ttlSeconds)(entries.write.mode("append").parquet(_))
    entries.count()
  }

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
  def audit(actor: String, action: String, resource: String, ts: Long): Unit = {
    import spark.implicits._
    Seq((ts, actor, action, resource))
      .toDF("ts", "actor", "action", "resource")
      .write.mode("append").parquet(s"$root/audit")
  }

  def auditLog(): DataFrame = spark.read.parquet(s"$root/audit")
}
