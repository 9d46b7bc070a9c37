package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType,
  StringType}

import GraftEngine._

/** The semantic result cache of a [[GraftEngine]]: the batch and per-call
  * L0 → L0.5 → L1 → L2 cascades, the entry table's one writer, its
  * compaction, the resident maps, the serving policy, billing and
  * VEC.STATS. */
private[graft] trait SemanticCache { self: GraftEngine =>
  import SemanticCache._

  // The L2 layer's clustering may come from an externally trained model,
  // independent of the index tail (reference: SemanticClusterRegistry fed
  // by POST centroids, IndexController.cs:251-292, semantic_model.py:30-53).
  private def cacheCentroidsPath(tenant: String, index: String) =
    s"$root/cache/$tenant/$index/centroids"

  private val cacheCentroidMemo =
    scala.collection.concurrent.TrieMap.empty[String, Option[Array[(Int, Array[Float])]]]

  private def cacheCentroidOverride(tenant: String,
                                    index: String): Option[Array[(Int, Array[Float])]] =
    cacheCentroidMemo.getOrElseUpdate(s"$tenant/$index", {
      val p = cacheCentroidsPath(tenant, index)
      if (!Files.exists(Paths.get(p))) None
      else Some(Stage.run(spark, "cache.reload")(spark.read.parquet(p).collect())
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1))
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
    Stage.run(spark, "cache.centroids")(centroids
      .select(col("cluster_id").cast("int").as("cluster_id"), col("centroid"))
      .write.mode("overwrite").parquet(cacheCentroidsPath(tenant, index)))
    cacheCentroidMemo.remove(s"$tenant/$index")
    invalidateCache(tenant, index)
  }

  /** Parquet part-file ceiling for the entry table before an inline
    * compaction pass: the per-call validity probe scans every entry file,
    * so unbounded appends would grow per-call cost with serving duration. */
  private val CacheGcFileThreshold = 64L

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
    bumpEpoch(tenant, index, dirty = false)

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
      cacheStates.get((tenant, index)).foreach(_.resetEntries())
      Seq(cacheEntriesPath(tenant, index), cacheAliasPath(tenant, index))
        .foreach(d => deleteTree(Paths.get(d)))
    }

  /** Register canonical-alias mappings for the L0.5 layer
    * (reference: DataModel/CanonicalKeyMap.cs:18-44). aliases:
    * (source_key LONG, canonical_key LONG, confidence DOUBLE). */
  def putAliases(tenant: String, index: String, aliases: DataFrame): Unit =
    Stage.run(spark, "cache.aliases")(aliases
      .select("source_key", "canonical_key", "confidence")
      .write.mode("append").parquet(cacheAliasPath(tenant, index)))

  /** Raw cache-entry table (for tests / stats): one row per populated
    * (cache_key, layer). */
  def cacheEntries(tenant: String, index: String): DataFrame =
    spark.read.schema(CacheEntrySchema).parquet(cacheEntriesPath(tenant, index))

  // separate tree from metrics/: billingUsage enumerates metrics/<tenant>/*
  // as per-index hit/miss logs and must not pick this up
  private def evictionsPath(tenant: String, index: String) =
    s"$root/metrics_gc/$tenant/$index"

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
    else withManifestLock(tenant, index)(Stage.run(spark, "cache.compact") {
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
      if (evicted > 0 || scanDir(p).parquetFiles > CacheGcFileThreshold) {
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
    })
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
    * One dir walk before the append and one after serve all four steps.
    * Returns, when `append` ran, the dir's fingerprint just before it and
    * once it (and any GC it triggered) is done; None when rejected. */
  private def appendCacheEntries(tenant: String, index: String, now: Long,
                                 quotaMb: Int, sweepWindow: Long)
                                (append: String => Unit): Option[(Long, Long)] =
    withManifestLock(tenant, index) {
      val dir = cacheEntriesPath(tenant, index)
      val quotaBytes = quotaMb.toLong << 20
      val st = cacheStateOf(tenant, index)
      var cur = scanDir(dir)
      if (cur.bytes >= quotaBytes && !st.fruitlessSweep.exists {
            case (sz, t) => sz == cur.bytes && now < t + sweepWindow }) {
        compactCacheEntries(tenant, index, now)
        cur = scanDir(dir)
        if (cur.bytes >= quotaBytes) st.fruitlessSweep = Some((cur.bytes, now))
      }
      if (cur.bytes >= quotaBytes) None
      else {
        append(dir)
        val after = scanDir(dir)
        if (after.parquetFiles <= CacheGcFileThreshold)
          Some((cur.fingerprint, after.fingerprint))
        else {
          compactCacheEntries(tenant, index, now)
          Some((cur.fingerprint, scanDir(dir).fingerprint))
        }
      }
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
    * misses reach the index scan. No driver-side per-query loop.
    * `options` carries the step-8/9 resolution ([[resolveSearchOptions]]):
    * `cacheOnly` sheds each missing query as one (rank 0, null id,
    * layer "SHED") row — the batch analog of the reference's
    * `VEC_ERR_BUSY "SLO mode: cache-only."` per-request error — and
    * `maxScans` caps the miss-path scan budget. */
  def searchCached(tenant: String, index: String, queries0: DataFrame, k: Int,
                   metric: String = "L2", nprobe: Int = 4, now: Long = 0L,
                   ttlSeconds: Int = 60,
                   hotClusters: Option[DataFrame] = None,
                   options: SearchOptions = SearchOptions()): DataFrame =
      Stage.run(spark, "cache.probe") {
    import graft.operators.Caching
    val m = manifest(tenant, index)
    m.requireMetric(metric)

    // one key set per DISTINCT query id: duplicates would defeat the
    // fully-warm fast path, bill phantom misses and double-write entries.
    // Dedup on the FULL payload (a query_id reused with a different
    // vector/filter fails the uniqueness check below instead), tags in the
    // cache keys' normalized form, so tag order never makes two identical
    // requests look conflicting.
    val filtered = queries0.columns.contains("filter_tags")
    val tagsNorm = if (filtered) sort_array(orEmpty(col("filter_tags"))) else emptyTags
    val queries =
      if (!filtered) queries0.dropDuplicates(Seq("query_id", "qvec"))
      else queries0.withColumn("_tags_norm", tagsNorm)
        .dropDuplicates(Seq("query_id", "qvec", "_tags_norm")).drop("_tags_norm")

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
    def emptyResult() = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schemaOf("query_id" -> queries.schema("query_id").dataType,
        "rank" -> IntegerType, "id" -> StringType, "score" -> DoubleType))

    // miss path: the real delta search (steps 10-12), materialized so the
    // populate write below doesn't rerun it and the returned frame is
    // decoupled from the just-appended cache files; under cache-only
    // shedding misses never reach the index. Small miss batches (≤1024
    // plain long-id queries, no tag filter or scan cap) take the zero-job
    // [[searchRows]] tier, whose local relation needs no checkpoint; large
    // or filtered batches keep the distributed plan.
    val rowsPathOk = nQ <= CachedMissLocalMaxQueries &&
      queries.schema("query_id").dataType == LongType &&
      // the local collect reads getSeq[Float]: the gate must fully decide
      // eligibility, so an array<double> qvec frame (typed but castable)
      // stays on the distributed path instead of a late ClassCastException
      (queries.schema("qvec").dataType match { case ArrayType(FloatType, _) => true; case _ => false }) &&
      !filtered && options.maxScans == 0
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
      appendCacheEntries(tenant, index, now, options.cacheMemoryMb, ttlSeconds)(dir =>
        Stage.run(spark, "cache.populate")(newEntries.write.mode("append").parquet(dir)))

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

  /** Writes `rows` into `dir` as one new snappy parquet file, on the
    * driver with parquet-mr: no Spark job. `fill` sets one row's fields
    * on an empty record of `schema`. */
  private def writeParquetLocal[R](dir: String,
                                   schema: org.apache.parquet.schema.MessageType,
                                   rows: Iterable[R])
                                  (fill: (org.apache.parquet.example.data.Group, R) => Unit): Unit = {
    Files.createDirectories(Paths.get(dir))
    val file = s"$dir/part-local-${java.util.UUID.randomUUID()}.parquet"
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      rows.foreach { r =>
        val g = groups.newGroup()
        fill(g, r)
        w.write(g)
      }
    } finally w.close()
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
                                   misses: Long): Unit =
    writeParquetLocal(dir, metricsRowSchema, Seq((ts, hits, misses))) {
      case (g, (t, h, m)) => g.add("ts", t); g.add("hits", h); g.add("misses", m)
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

  private def writeCacheEntryRowsLocal(dir: String, rows: Seq[EntryRow]): Unit =
    writeParquetLocal(dir, entryRowSchema, rows) {
      case (g, (ck, layer, hits, epoch, expiresAt, writtenAt)) =>
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
      if (scanDir(p).parquetFiles > CacheGcFileThreshold) {
        val r = Stage.run(spark, "cache.metrics")(spark.read.parquet(p)
          .agg(max("ts"), sum("hits"), sum("misses")).head)
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
                latencies: Option[DataFrame] = None): String =
      Stage.run(spark, "stats") {
    import graft.operators.Governance
    // each column's sum over a log dir; 0 for a missing dir or no rows
    def sums(dir: String, cols: String*): Seq[Long] =
      if (!Files.exists(Paths.get(dir))) cols.map(_ => 0L)
      else {
        val r = spark.read.parquet(dir).agg(sum(cols.head), cols.tail.map(c => sum(c)): _*).head
        cols.indices.map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
      }
    val Seq(h, m) = sums(s"$root/metrics/$tenant/$index", "hits", "misses")
    val hist = latencies.map(Governance.latencyHistogram(_, "latency_ms"))
      .getOrElse {
        import spark.implicits._
        Governance.latencyHistogram(Seq.empty[Double].toDF("latency_ms"), "latency_ms")
      }
    // real eviction counts from the GC log (entries dropped by
    // compactCacheEntries — the reference's MemoryCacheStorage eviction
    // counter feeding GetStats)
    val Seq(ev) = sums(evictionsPath(tenant, index), "evicted")
    // live resident-tier hits/misses (not yet flushed to the log) fold in
    // so VEC.STATS is current even mid-serving-burst
    val (memHits, memMisses) = cacheStates.get((tenant, index))
      .fold((0L, 0L))(st => (st.hits.get(), st.misses.get()))
    Governance.metricsText(
      Governance.standardCounters(h + memHits, m + memMisses, evictions = ev,
        fallbacks = 0L), hist)
  }

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
    * append. Serving truth is the resident map, updated in-heap at miss
    * time like the reference's in-memory put (MemoryCacheStorage); the
    * parquet append that makes the entry visible to the BATCH cascade and
    * to a restart is amortized through this queue (a per-call append cost
    * ~20 ms and serialized misses on the manifest lock). Flushes are
    * inline, no background thread: a miss flushes when the queue reaches
    * [[PendingFlushMaxRows]] or its oldest row (`pendingSince`, nanoTime)
    * passes [[PendingFlushMaxAgeNanos]]; hits piggyback the age check. A
    * batch reader may recompute a just-inserted query, never answer
    * wrong. `quotaMb`: the latest caller-supplied CacheMemoryMb, consulted
    * at flush time.
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

  // one CacheState per (tenant, index)
  private val cacheStates =
    scala.collection.concurrent.TrieMap.empty[(String, String), CacheState]
  private def cacheStateOf(tenant: String, index: String): CacheState =
    cacheStates.getOrElseUpdate((tenant, index), new CacheState)

  /** Live (not-yet-flushed) serving counters per index — the sidecar
    * loop's metrics snapshot (the reference's GetMetricsSnapshot payload,
    * server.py:138-160). Read-only: [[flushServingMetrics]] owns the
    * reset, so these are "since the last durable flush". */
  def servingCountersLive: Seq[(String, String, Long, Long)] =
    cacheStates.toSeq.filter(_._2.served).sortBy(_._1).map {
      case ((t, i), st) => (t, i, st.hits.get(), st.misses.get())
    }

  // Sidecar-applied serving policy. The reference applies the policy's
  // TtlSeconds to subsequent cache decisions and leaves
  // AdmissionThreshold/EvictionPriority declared-but-unapplied on the
  // engine side (DynamicPolicyEngine.cs:16-46 — the comment at :40 says
  // exactly that); mirrored here: TTL drives inserts, the other two ride
  // along as data for stats/decision logs. ttl ≤ 0 = the reference's
  // NoCache decision — entries are born expired and never serve.
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
    * populate; the sweep memo's window is the smallest drained TTL.
    * Rejected rows were already served and age out in-heap. After an
    * append the resident map's fingerprint is re-stamped, so the flush
    * itself forces no reload; a stamp that does not match the pre-write
    * dir means another writer changed it, and the next probe reloads.
    * Serving metrics flush here too, on the same amortized cadence. */
  def flushCachePending(tenant: String, index: String): Unit = {
    val st = cacheStates.get((tenant, index)).orNull
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
        appendCacheEntries(tenant, index, logicalNow, st.quotaMb,
            sweepWindow = buf.map(r => r._5 - r._6).min)(
            writeCacheEntryRowsLocal(_, buf.toSeq)).foreach { case (fpBefore, fpAfter) =>
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
    cacheStates.keySet.foreach { case (t, i) =>
      flushCachePending(t, i)
      flushServingMetrics(t, i, now)
    }

  // forces a reload (and mismatches any cached value) when a concurrent
  // GC-swap/flush deletes files mid-walk — monotonically unique
  private val fpRaceMarker = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)

  /** [[scanDir]]'s fingerprint for the serving path's staleness check of
    * a resident map (the dir is bounded at [[CacheGcFileThreshold]]
    * files). */
  private def entriesFingerprint(dir: String): Long =
    try scanDir(dir).fingerprint
    catch {
      // compactCacheEntries' swapInto (deleteTree + move) or flushCache
      // can delete files mid-walk; serving must degrade to a reload or
      // a batch-path miss, never crash
      case _: java.io.IOException | _: java.io.UncheckedIOException =>
        fpRaceMarker.incrementAndGet()
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
            Stage.run(spark, "cache.reload")(cacheEntries(tenant, index)
              .filter(col("epoch") === m.epoch)
              .select(col("cache_key"), col("expires_at"), col("hits"),
                row_number().over(Window.partitionBy("cache_key")
                  .orderBy(entryWinnerOrder: _*)).as("wrn"))
              .collect())
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
            else Stage.run(spark, "cache.reload")(spark.read.parquet(dir)
              .filter(col("confidence") >= 0.8)
              .select("source_key", "canonical_key").collect())
              .map(r => r.getLong(0) -> r.getLong(1)).toMap
          st.aliases = Some((fp, map))
          map
        } catch { // concurrent flushCache delete: no aliases this call
          case _: Exception => Map.empty[Long, Long]
        }
    }
  }

  /** Per-call cached serving: the RESP-shaped analog of [[searchCached]]
    * for one query — the same L0 → L0.5 → L1 → L2 cascade, probed against
    * a driver-resident copy of the (GC-bounded) entry table. A valid hit
    * returns in-heap with no job, tagged with its layer; a miss serves
    * in-process and returns layer "MISS", billed in memory and its entry
    * quota-checked at flush against `cacheMemoryMb`. Probe semantics equal
    * the batch plan's (spec-pinned): the same key derivations, epoch gate,
    * expiry-before-winner rule and winner order. Reference scenarios:
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
        // The miss tail answers in-process, like the reference (search,
        // in-memory put, reply): the batch cascade costs ~20 Spark actions
        // per miss. The zero-job rows tier answers through its two
        // overridable entry points (tag-filtered calls through
        // [[searchRowsFilteredTraced]]); a call outside the rows gates takes
        // the distributed plan with the call's own tags and refine.
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
    cacheStates.get((tenant, index)).foreach { st =>
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

  /** Predictive prefetch into the result cache (St4 assembled): for each
    * predicted cluster, search its own inverted list with its centroid as
    * the query and write the hits as an L2 cache entry under the SAME key
    * [[searchCached]] derives — so the next query admitted to that cluster
    * hits the warmed entry (reference: VectorCommandSet.cs:318-379 +
    * PrefetchBackgroundQueue.cs:15-77; 5-min TTL default).
    * predicted: (cluster_id INT). Returns the number of entries written. */
  def prefetchIntoCache(tenant: String, index: String, predicted: DataFrame,
                        k: Int, metric: String = "L2", now: Long = 0L,
                        ttlSeconds: Int = 300, nprobe: Int = 4): Long =
      Stage.run(spark, "cache.prefetch") {
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
          emptyTags, col("qcluster")).as("cache_key"),
        lit("L2").as("layer"), col("hits"),
        lit(m.epoch).as("epoch"),
        lit(now + ttlSeconds).as("expires_at"),
        lit(now).as("written_at"))
      .localCheckpoint()
    // through the one writer, with no quota: under the lock, so a
    // concurrent compaction's swap cannot delete the files just written
    appendCacheEntries(tenant, index, now, quotaMb = Int.MaxValue,
      sweepWindow = ttlSeconds)(dir =>
        Stage.run(spark, "cache.populate")(entries.write.mode("append").parquet(dir)))
    entries.count()
  }
}

private[graft] object SemanticCache {
  /** One walk of a cache dir: its file bytes (the quota check), its
    * parquet part files (the GC trigger) and an order-independent content
    * fingerprint over (file name, size, mtime) — the resident maps'
    * staleness check. A missing dir is all zeros. */
  final case class DirScan(bytes: Long, parquetFiles: Long, fingerprint: Long)

  def scanDir(dir: String): DirScan = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) DirScan(0L, 0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes, parquet = 0L
        var h = 1125899906842597L
        s.filter(Files.isRegularFile(_)).forEach { f =>
          val name = f.getFileName.toString
          val size = Files.size(f)
          bytes += size
          if (name.endsWith(".parquet")) parquet += 1
          h ^= (name.hashCode.toLong * 31 + size) * 1099511628211L +
            Files.getLastModifiedTime(f).toMillis
        }
        DirScan(bytes, parquet, h)
      } finally s.close()
    }
  }
}
