package graft

import org.apache.spark.sql.functions._

import graft.operators.IvfFlat

/** The rows serving tier of a [[GraftEngine]]: driver-local queries in,
  * answer rows out, with no Spark job once the handles are resident. It
  * decides which calls the tier takes (the admission gates), merges the
  * fresh head with the resident tail, and hands every other call to the
  * distributed plan. */
private[graft] trait RowsServing { self: GraftEngine =>

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
    * loop at ~no extra cost (VectorCommandSet.cs:461-480).
    *
    * Parity with the batch plan's filter-then-top-k (spec-pinned): the
    * tags resolve to a sorted surrogate set from the snapshot's tag table
    * (intersected for the conjunction), the scan skips non-members before
    * scoring, head candidates check their OWN head tags (head wins over
    * snapshot, like the batch `tagsOf` union), and masking/tie-breaks are
    * unchanged. Returns None outside the rows-tier gates (HNSW, non-resident
    * PQ, oversized corpus or head, top-k budget): the caller keeps the
    * distributed filtered plan.
    *
    * `hnswBeam = true` opts a FILTERED call on an HNSW index into
    * filter-during-beam ([[graft.operators.Hnsw.searchLocalRowsFiltered]]),
    * a capability beyond the reference: the default keeps the plan's
    * fetch-k×10-then-filter, which the F1 parity spec pins. Beam mode is
    * resident-only; outside the rows gates the call gets the plan's
    * post-filter semantics (the trace shows which). */
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
  private[graft] sealed trait RowsTail
  private[graft] case object FlatTail extends RowsTail
  private[graft] case class PqTail(
      idx: graft.operators.IvfPq.Index,
      store: Option[graft.operators.RefineStore]) extends RowsTail
  private[graft] case class HnswTail(
      graphs: Array[(Int, graft.operators.Hnsw.Graph)]) extends RowsTail

  /** What [[rowsTierOf]] admitted for one index: the tail, the id pool
    * that resolves its result surrogates, and (filtered calls only) the
    * tag index. */
  private[graft] case class RowsTier(m: Manifest, handles: SnapshotHandles,
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
  private[graft] def rowsTierOf(tenant: String, index: String, m: Manifest,
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
      m.requireMetric(metric)
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
  private[graft] def planRows(tenant: String, index: String, m: Manifest,
                              queries: Array[(Long, Array[Float])], k: Int,
                              metric: String, nprobe: Int, refine: Int,
                              tags: Seq[String]): Array[(Long, Int, String, Double)] = {
    import spark.implicits._
    val base = queries.toSeq
      .map { case (qid, qv) => (qid, qv.toSeq) }.toDF("query_id", "qvec")
    val qDf = if (tags.isEmpty) base
      else base.withColumn("filter_tags", typedLit(tags))
    Stage.run(spark, "search.plan")(search(tenant, index, qDf, k, metric, nprobe,
        refine = refine, refineStore = refineStoreFor(tenant, index, m)).collect())
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
  }

  /** PQ tail for the rows serving tier: zero-job ADC scan over the
    * resident packed codes, scores folded by [[pqFoldedQueries]] onto the
    * SAME scale the batch plan merges on (L2 stays raw −ADC distance²,
    * merged against the head's exact scores with the plan's asymmetry,
    * DeltaVectorIndex.cs:76-122). Every float/double op mirrors the
    * plan's kernels, so tier parity is bit-level, spec-pinned including
    * exact ties. The engine's constructor bound, not the compiled-in default,
    * governs every PQ rows path. Unfiltered, an over-bound batch takes
    * the distributed ADC plan. That plan has no filter hook, so a
    * filtered call serves ONLY from the resident byte-code tier: None
    * (over-budget batch or non-resident codes) keeps the caller's
    * distributed filtered plan instead of throwing at serve time. */
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

  /** k·refine rerank cut size, computed in Long: the wire caps REFINE at
    * 10k but the engine API takes any Int, and an Int product overflows
    * NEGATIVE — max(1, negative) would silently degrade the ADC cut to 1
    * candidate per query instead of failing. */
  private[graft] def refineCutSize(k: Int, refine: Int): Int = {
    val c = math.max(1L, k.toLong * refine.toLong)
    require(c <= Int.MaxValue, s"k*refine overflows Int: $k * $refine")
    c.toInt
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
        (queries.map { case (qid, qv) => (qid, graft.functions.unitArray(qv)) },
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

  /** Driver-resident fresh-head state for [[searchRows]]: the post-
    * watermark log reduced to LWW per id — mask surrogates (every
    * re-written or tombstoned id) plus live vectors. Memoized per epoch:
    * every write bumps the epoch, so a cached copy is provably current;
    * re-read cost after a write burst is one bounded job on next read. */
  private[graft] case class HeadServeState(
      maskSurrogates: java.util.HashSet[java.lang.Long],
      liveSurrogates: Array[Long],
      liveVecs: Array[Array[Float]],
      liveIdOf: Map[Long, String],
      maskInTail: Int, // head ids that exist in the tail (only those mask)
      liveTags: Array[Array[String]]) // per live row, for filtered serving
  private[graft] object HeadServeState {
    val empty: HeadServeState = HeadServeState(
      new java.util.HashSet[java.lang.Long](),
      Array.empty, Array.empty, Map.empty, 0, Array.empty)
  }

  /** Head rows ceiling for the driver-served path: bigger fresh heads
    * fall back to the DataFrame plan (and should be compacted anyway). */
  private val HeadServeMaxRows = 10000

  private val headStateCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, HeadServeState)]

  private[graft] def headStateOf(tenant: String, index: String,
                                 m: Manifest): Option[HeadServeState] = {
    val key = s"$tenant/$index"
    headStateCache.get(key).filter(_._1 == m.epoch).map(_._2).orElse {
      if (!recordsLogExists) Some(HeadServeState.empty)
      else Stage.run(spark, "serve.head") {
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

  /** Row ceiling for the rows tier's manifest gate — a cheap PRE-gate,
    * not the admission decision. Every rows-tier serve needs the resident
    * [[IdPool]] (≥ 12 bytes per entry before the id text), so past
    * `idPoolMaxBytes / 12` rows no pool could be admitted and the gate
    * skips the residency-estimate jobs. Under it the [[Residency]] ledger
    * admits each handle by exact measured bytes against its per-handle
    * cap, its line's cap and the JVM total; corpora past any cap take the
    * DataFrame plan. Floored at 16M so tiny test budgets still exercise
    * the measured-byte denials. At the 512 MB default the gate sits at
    * ~44.7M rows; a 20M × dim 128 IVF_PQ corpus (codes ~480 MB, the
    * binding cap; pool ~420 MB; sq16 store 5.3 GB) serves resident on the
    * plain, refined and filtered paths (Engine10mServeMain 20000000). */
  private[graft] val RowsServeMaxRows =
    math.max(16000000L, idPoolMaxBytes / 12L)

  /** Allowed-set size from which the filtered scan kernels test a
    * [[graft.operators.LongHashSet]] / row bitmap instead of
    * binary-searching the sorted array: below ~131k entries (~1 MB) the
    * array is cache-resident and the tree walk is cheap; above it each
    * probed row pays ~5-7 cache-missing levels. Constructor-tunable so
    * specs can force the hash/bitmap wiring on small fixtures. */
  private val HashAllowedMinEntries = hashAllowedMinEntries
}
