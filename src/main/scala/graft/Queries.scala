package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.model.Tables
import graft.operators.{BruteForceKnn, Caching, DeltaIndex, EmbeddingDedup, Governance, IvfFlat, IvfPq, Pq, Sampling, ScalarQuant, TextAnalysis, TextDedup, TopK}

/** The operator inventory exposed through [[SparkEntry]]: each entry is a
  * named DataFrame plan over the driver testdata plus (where ANSI-SQL
  * expressible) a DuckDB oracle producing the identical result.
  *
  * Numeric-compare policy (so DuckDB hash checks are exact, not "close"):
  *   - money/rate sums go through integer cents/bp (Tables.cents/bps);
  *   - vector scores are double-accumulated in the same element order as
  *     DuckDB's list functions and rounded to 6 dp on both sides;
  *   - raw double columns are only ever *selected*, never re-accumulated.
  */
object Queries {

  type QueryFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) = Tables.load(s, dir, name)

  // Standard 8-query view of the embeddings table as a search workload:
  // the first 8 vectors play the query batch, everything is a candidate.
  private val NQueries = 8
  private val K = 10

  private def vectorsOf(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def queriesOf(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  private def knnSql(scoreExpr: String, withScore: Boolean): String = {
    val scoreCol = if (withScore) ", round(score, 6) AS score" else ""
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries
       |), s AS (
       |  SELECT q.query_id, e.vec_id AS id, $scoreExpr AS score
       |  FROM embeddings e CROSS JOIN q
       |), r AS (
       |  SELECT query_id, id, score,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT query_id, rank, id$scoreCol FROM r WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Vector search surface (reference: VEC.SEARCH read path, SURVEY §3.1)
  // ---------------------------------------------------------------------

  /** Brute-force top-k by inner product (reference metric InnerProduct,
    * src/Pyrope.GarnetServer/Vector/IVectorIndex.cs:5-10). */
  val knnDot: QueryFn = (s, dir) =>
    BruteForceKnn.knn(vectorsOf(s, dir), queriesOf(s, dir), "IP", K)
      .withColumn("score", round(col("score"), 6))
      .orderBy("query_id", "rank")

  val knnDotSql: String =
    knnSql("list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[])", withScore = true)

  /** Brute-force top-k by cosine similarity. */
  val knnCosine: QueryFn = (s, dir) =>
    BruteForceKnn.knn(vectorsOf(s, dir), queriesOf(s, dir), "COSINE", K)
      .withColumn("score", round(col("score"), 6))
      .orderBy("query_id", "rank")

  val knnCosineSql: String =
    knnSql("list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[])", withScore = true)

  /** Rank-only variant for exact-by-construction ANN configs whose score
    * column is float-summed in a different order than DuckDB's. */
  val knnCosineRankSql: String =
    knnSql("list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[])", withScore = false)

  /** The same query through `spark.sql` with the REGISTERED vector
    * functions (graft.functions.registerAll) — the SQL-first face of the
    * engine. The SQL uses the registered `vector_topk` bounded aggregate,
    * so the plan is the same map-side heap as the Column API (a
    * row_number window here would shuffle the whole scored product).
    * Same oracle as knn_cosine. */
  val sqlKnnCosine: QueryFn = (s, dir) => {
    graft.functions.registerAll(s)
    vectorsOf(s, dir).createOrReplaceTempView("graft_vectors")
    queriesOf(s, dir).createOrReplaceTempView("graft_queries")
    s.sql(
      s"""SELECT query_id, CAST(pos + 1 AS INT) AS rank, h.id AS id,
         |       round(h.score, 6) AS score
         |FROM (
         |  SELECT q.query_id,
         |         vector_topk(v.id, vector_cosine(q.qvec, v.vec), $K) AS hits
         |  FROM graft_vectors v CROSS JOIN graft_queries q
         |  GROUP BY q.query_id
         |) LATERAL VIEW posexplode(hits) t AS pos, h
         |ORDER BY query_id, rank""".stripMargin)
  }

  /** Brute-force top-k by L2 (score = -distance²; rank-only output since
    * DuckDB's list_distance applies a sqrt we don't). */
  val knnL2: QueryFn = (s, dir) =>
    BruteForceKnn.knn(vectorsOf(s, dir), queriesOf(s, dir), "L2", K)
      .drop("score")
      .orderBy("query_id", "rank")

  val knnL2Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries
       |), s AS (
       |  SELECT q.query_id, e.vec_id AS id,
       |         -list_distance(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) AS score
       |  FROM embeddings e CROSS JOIN q
       |), r AS (
       |  SELECT query_id, id,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT query_id, rank, id FROM r WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** Built artifacts (indexes, graphs) are deterministic functions of
    * (dir, params): memoized per session so repeated query invocations —
    * the bench's warm reruns — measure search, not rebuilds (build cost is
    * benchmarked separately as `ivf_build_sec`). */
  private val builtMemo = scala.collection.concurrent.TrieMap.empty[String, Any]
  private def built[T](s: SparkSession, key: String)(f: => T): T =
    builtMemo.getOrElseUpdate(s"${s.sparkContext.applicationId}:$key", f)
      .asInstanceOf[T]

  /** IVF-Flat search through the full probe pipeline (probe ranking →
    * inverted-list join → bounded top-k) at nprobe = nlist: exhaustive
    * probes make the ANN result EXACT, so the KMeans geometry cancels out
    * and the query shares the brute-force L2 oracle — the driver gates
    * the whole IVF machinery, not just rows>0. Pruned-nprobe recall stays
    * covered by AnnRecallSpec (a KMeans-dependent property no SQL engine
    * reproduces). Rank-only output: DuckDB's list_distance takes a sqrt
    * ours doesn't, same ranking. */
  val ivfFlatSearch: QueryFn = (s, dir) => {
    val idx = built(s, s"$dir:ivf_l2") {
      IvfFlat.build(vectorsOf(s, dir), nlist = 10, metric = "L2", seed = 42L)
    }
    IvfFlat.search(idx, queriesOf(s, dir), "L2", K, nprobe = 10)
      .drop("score")
      .orderBy("query_id", "rank")
  }

  /** IVF-Flat under the cosine metric (codebook trained with MLlib's
    * cosine distance measure — reference metric-aware assignment,
    * KMeansUtils.cs:70-93), exhaustive probes: exact, so it shares the
    * brute-force cosine oracle (same scoring kernel ⇒ identical doubles). */
  val ivfCosineSearch: QueryFn = (s, dir) => {
    val idx = built(s, s"$dir:ivf_cos") {
      IvfFlat.build(vectorsOf(s, dir), nlist = 10, metric = "COSINE", seed = 42L)
    }
    IvfFlat.search(idx, queriesOf(s, dir), "COSINE", K, nprobe = 10)
      .withColumn("score", round(col("score"), 6))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ with residual codes + exact rerank (M=8 subspaces, K=16),
    * driven exact for the driver gate: exhaustive probes + rerank-all
    * (refine·K ≥ corpus) mean every vector is ADC-scored, survives the
    * candidate cut, and is exactly re-scored — the output IS brute-force
    * L2, sharing its oracle, while exercising the full codes→ADC→rerank
    * pipeline. Pruned/limited-refine recall stays in AnnRecallSpec. */
  val ivfPqSearch: QueryFn = (s, dir) => {
    val (vs, idx, refineAll) = built(s, s"$dir:ivfpq") {
      val v = vectorsOf(s, dir).cache()
      val n = v.count()
      (v, IvfPq.build(v, nlist = 10, m = 8, k = 16), ((n + K - 1) / K).toInt)
    }
    IvfPq.searchRefined(idx, vs, queriesOf(s, dir), K, nprobe = 10,
        refine = refineAll)
      .select("query_id", "rank", "id")
      .orderBy("query_id", "rank")
  }

  /** HNSW through a PROVABLY-EXACT configuration, so the whole graph
    * machinery (partitioned build → columnar snapshot layout → beam
    * traversal → chunked broadcast fan-out → bounded global merge) sits
    * under the driver's DuckDB gate: with m = efConstruction ≥ partition
    * rows neighbor shrink never triggers and every layer-0 adjacency list
    * is COMPLETE, and with efSearch ≥ partition rows the beam keeps every
    * node — each per-partition graph returns its partition's exact top-k
    * and the bounded merge is exactly brute-force L2 over the corpus
    * subset (same gating pattern as the IVF family's nprobe = nlist).
    * The fixed 2000-vector subset bounds the O(rows²/partition) complete-
    * graph build at every SF; realistic-parameter recall stays covered by
    * HnswSpec/AnnRecallSpec. Rank-only compare (DuckDB's list_distance
    * takes a sqrt we don't). */
  val hnswSearch: QueryFn = (s, dir) => {
    val graphs = built(s, s"$dir:hnsw_exact") {
      graft.operators.Hnsw.build(
        vectorsOf(s, dir).filter(col("id") < HnswExactN), "L2",
        m = HnswExactN, efConstruction = HnswExactN, numPartitions = 16)
        .persist()
    }
    graft.operators.Hnsw.search(graphs, queriesOf(s, dir), K,
        efSearch = HnswExactN)
      .select("query_id", "rank", "id")
      .orderBy("query_id", "rank")
  }

  private val HnswExactN = 2000

  /** The RESIDENT serving tiers under the driver's DuckDB gate. Same
    * exhaustive-probe exactness argument as ivf_flat_search, but
    * answered by `IvfFlat.searchLocalRows` — the zero-job driver tier
    * (residency check, ST/MT work dispatch, packed flat scan) that the
    * wire actually serves from — instead of the DataFrame plan. The row
    * array converts to a DataFrame only to cross the gate. */
  val ivfRowsSearch: QueryFn = (s, dir) => {
    import s.implicits._
    val idx = built(s, s"$dir:ivf_l2") {
      IvfFlat.build(vectorsOf(s, dir), nlist = 10, metric = "L2", seed = 42L)
    }
    val qs = queriesOf(s, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    IvfFlat.searchLocalRows(idx, qs, "L2", K, nprobe = 10, s).toSeq
      .map { case (q, rank, id, _) => (q, rank, id) }
      .toDF("query_id", "rank", "id")
      .orderBy("query_id", "rank")
  }

  /** [[hnswSearch]]'s provably-exact configuration served by the
    * RESIDENT graph tier (`Hnsw.searchLocalRows` over collected
    * sub-graphs — the engine's head+hnswtail serving path) instead of
    * the distributed fan-out; shares the same oracle. */
  val hnswRowsSearch: QueryFn = (s, dir) => {
    import s.implicits._
    val parts = built(s, s"$dir:hnsw_exact_parts") {
      graft.operators.Hnsw.build(
        vectorsOf(s, dir).filter(col("id") < HnswExactN), "L2",
        m = HnswExactN, efConstruction = HnswExactN, numPartitions = 16)
        .collect()
    }
    val qs = queriesOf(s, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    graft.operators.Hnsw.searchLocalRows(parts, qs, K, efSearch = HnswExactN)
      .toSeq.map { case (q, rank, id, _) => (q, rank, id) }
      .toDF("query_id", "rank", "id")
      .orderBy("query_id", "rank")
  }

  /** BEAM-FILTERED HNSW (the r8 `FILTER_MODE beam` semantics: members
    * only fill the ef-bounded result set while non-members still route
    * the walk) at the same provably-exact configuration: on a complete
    * per-partition graph with efSearch ≥ partition rows the filtered
    * beam visits every node and keeps every MEMBER, so the bounded
    * merge is exactly brute-force L2 over the member subset — which is
    * SQL (`vec_id % 2 = 0`). This puts the beam kernel itself (filtered
    * layer traversal, member-only result fill) under the cross-engine
    * gate; at pruned configs its advantage over post-filter stays
    * covered by HnswSpec's far-member fixture. */
  val hnswBeamFiltered: QueryFn = (s, dir) => {
    import s.implicits._
    val parts = built(s, s"$dir:hnsw_exact_parts") {
      graft.operators.Hnsw.build(
        vectorsOf(s, dir).filter(col("id") < HnswExactN), "L2",
        m = HnswExactN, efConstruction = HnswExactN, numPartitions = 16)
        .collect()
    }
    val qs = queriesOf(s, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val allowed = (0L until HnswExactN.toLong).filter(_ % 2 == 0).toArray
    graft.operators.Hnsw.searchLocalRowsFiltered(parts, qs, K,
        efSearch = HnswExactN, graft.operators.AllowedSet(sorted = allowed))
      .toSeq.map { case (q, rank, id, _) => (q, rank, id) }
      .toDF("query_id", "rank", "id")
      .orderBy("query_id", "rank")
  }

  val hnswBeamFilteredSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries
       |), s AS (
       |  SELECT q.query_id, e.vec_id AS id,
       |         -list_distance(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) AS score
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id < $HnswExactN AND e.vec_id % 2 = 0
       |), r AS (
       |  SELECT query_id, id,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT query_id, rank, id FROM r WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  val hnswExactSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries
       |), s AS (
       |  SELECT q.query_id, e.vec_id AS id,
       |         -list_distance(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) AS score
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id < $HnswExactN
       |), r AS (
       |  SELECT query_id, id,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT query_id, rank, id FROM r WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** SQ8 quantized brute-force search (uint8 fast path). Oracle-checked:
    * half-up quantization codes are bit-exact across engines and the score
    * is the raw integer Σd² (negated) — pure integer arithmetic end to end,
    * no float-rounding boundary anywhere in the hashed cells. */
  val sq8Search: QueryFn = (s, dir) => {
    val vs = vectorsOf(s, dir)
    val p = ScalarQuant.train(vs)
    val enc = ScalarQuant.encode(vs, p)
    val qEnc = ScalarQuant.encode(queriesOf(s, dir), p, vecCol = "qvec")
    ScalarQuant.knn(enc, qEnc, p, K, integerScore = true)
      .orderBy("query_id", "rank")
  }

  // float-precision choreography mirrors ScalarQuant exactly: min/max and
  // (x - mn) / (mx - mn) are FLOAT subtractions (then widened), scale is
  // DOUBLE — any deviation flips codes at rounding boundaries. The score
  // itself is integer Σd², exact in both engines.
  val sq8SearchSql: String =
    s"""WITH bounds AS (
       |  SELECT min(list_min(embedding)) AS mn, max(list_max(embedding)) AS mx
       |  FROM embeddings
       |), enc AS (
       |  SELECT e.vec_id,
       |         list_transform(e.embedding, x ->
       |           CAST(greatest(0.0, least(255.0,
       |             floor(CAST(x - b.mn AS DOUBLE) * (255.0 / CAST(b.mx - b.mn AS DOUBLE)) + 0.5))) AS BIGINT)) AS q8
       |  FROM embeddings e CROSS JOIN bounds b
       |), q AS (
       |  SELECT vec_id AS query_id, q8 AS qq8 FROM enc WHERE vec_id < $NQueries
       |), s AS (
       |  SELECT q.query_id, e.vec_id AS id,
       |         -CAST(list_sum(list_transform(range(1, len(e.q8) + 1),
       |             i -> (e.q8[i] - q.qq8[i]) * (e.q8[i] - q.qq8[i]))) AS BIGINT) AS score
       |  FROM enc e CROSS JOIN q
       |), r AS (
       |  SELECT query_id, id, score,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT query_id, rank, id, score FROM r WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** Stand up a GraftEngine over the embeddings table (temp root): the
    * full user-facing write→build→search lifecycle inside a graded query.
    * Memoized per (session, dir, algo): the built index is immutable and
    * content-deterministic, so repeated invocations (bench reruns) measure
    * query work, not rebuilds — like any warm serving engine. */
  private val engineMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String, String, String), GraftEngine]

  private def engineOn(s: SparkSession, dir: String, algo: String,
                       metric: String = "L2",
                       tagged: Boolean = false): GraftEngine =
    engineMemo.getOrElseUpdate(
      (s.sparkContext.applicationId, dir, algo + (if (tagged) "#tagged" else ""),
        metric),
      buildEngine(s, dir, algo, metric, tagged))

  private def buildEngine(s: SparkSession, dir: String, algo: String,
                          metric: String, tagged: Boolean): GraftEngine = {
    val root = java.nio.file.Files.createTempDirectory("graft_engine").toString
    val eng = new GraftEngine(s, root)
    val recs = t(s, dir, "embeddings").select(
        col("vec_id").cast("string").as("id"),
        col("embedding").as("vector"))
      .withColumn("tenant_id", lit("t0"))
      .withColumn("index_name", lit("emb"))
      .withColumn("meta", lit(null).cast("string"))
      // tagged engines carry a deterministic parity tag so FILTERED
      // serving paths can be oracled (the predicate is SQL: vec_id % 2)
      .withColumn("tags",
        if (tagged)
          array(when(col("id").cast("long") % 2 === 0, lit("even"))
            .otherwise(lit("odd")))
        else lit(null).cast("array<string>"))
      .withColumn("updated_at", lit(100L))
    eng.add(recs)
    eng.build("t0", "emb", nlist = 10, metric = metric, algo = algo,
      pqM = 8, pqK = 32)
    eng
  }

  /** Engine-built IVF_PQ end to end: registry algo dispatch + persisted
    * codes/codebooks + ADC tail search + exact rerank (reference:
    * VectorIndexRegistry.cs:96, IvfPqVectorIndex.cs:55-198; raw-vector
    * retention :18-19). Exhaustive probes + rerank-all make the output
    * exactly brute-force L2, so the whole engine pipeline (write log →
    * build → codes → ADC → rerank → hydration ids) shares the knn_l2
    * oracle. ADC-only serving ranks stay covered by AnnRecallSpec. */
  val enginePqSearch: QueryFn = (s, dir) => {
    val eng = engineOn(s, dir, "IVF_PQ")
    val n = eng.manifest("t0", "emb").nVectors
    eng.search("t0", "emb", queriesOf(s, dir), K, nprobe = 10,
        refine = ((n + K - 1) / K).toInt)
      .select(col("query_id"), col("rank"), col("id").cast("long").as("id"))
  }

  /** COSINE over an IVF_PQ tail: L2-trained codes over unit-normalized
    * vectors (‖a−b‖² = 2 − 2cos ⇒ L2 rank ≡ cosine rank — the rank-correct
    * form of the reference's serve-any-metric-over-L2-codes proxy,
    * IvfPqVectorIndex.cs:163-199). Exhaustive probes + rerank-all make it
    * exactly brute-force cosine ⇒ shares that oracle (rank-only: refine
    * scores are exact but float-summed in a different order than DuckDB). */
  val enginePqCosine: QueryFn = (s, dir) => {
    val eng = engineOn(s, dir, "IVF_PQ", "COSINE")
    val n = eng.manifest("t0", "emb").nVectors
    eng.search("t0", "emb", queriesOf(s, dir), K, metric = "COSINE",
        nprobe = 10, refine = ((n + K - 1) / K).toInt)
      .select(col("query_id"), col("rank"), col("id").cast("long").as("id"))
  }

  /** Inner product over an IVF_PQ tail: the MIPS→L2 reduction (append
    * sqrt(M²−‖x‖²) at build, [q,0] at query — Bachrach et al. RecSys'14)
    * makes L2-trained codes rank by dot product, where the reference's
    * raw L2-proxy is rank-incorrect (IvfPqVectorIndex.cs:163-199).
    * Exhaustive probes + rerank-all make the output exactly brute-force
    * dot ⇒ shares knn_dot's full-score oracle (the rerank scores true
    * ⟨q,x⟩ over raw vectors with the same double-accumulation order as
    * DuckDB's list_dot_product — the kernel knn_dot already hash-matches
    * with). ADC-only IP ranks are covered by EngineSpec's fold test. */
  val enginePqIp: QueryFn = (s, dir) => {
    val eng = engineOn(s, dir, "IVF_PQ", "IP")
    val n = eng.manifest("t0", "emb").nVectors
    eng.search("t0", "emb", queriesOf(s, dir), K, metric = "IP",
        nprobe = 10, refine = ((n + K - 1) / K).toInt)
      .select(col("query_id"), col("rank"), col("id").cast("long").as("id"),
        round(col("score"), 6).as("score"))
  }

  /** The REFINED rows serving tier (head+pqtail-refined) under the
    * DuckDB gate: exhaustive probes + rerank-all make the sq16-refined
    * rows answer exactly brute-force L2 over (raw query, DEQUANTIZED
    * corpus) — reproducible in SQL because the SQ16 encode keeps the
    * portable choreography the sq8_search oracle proved (half-up
    * rounding, FLOAT-then-DOUBLE) at 65535 levels, and the dequantized
    * floats are exact CAST arithmetic (mn + code·delta rounded to
    * FLOAT). Rank-only per the accumulation-order policy (same as
    * knn_l2). This is the query that puts the wire's REFINE answer
    * itself — not just the plan twin the spec pins it against — under
    * the cross-engine gate. */
  val enginePqRefinedRows: QueryFn = (s, dir) => {
    import s.implicits._
    val eng = engineOn(s, dir, "IVF_PQ")
    val n = eng.manifest("t0", "emb").nVectors
    val qs = queriesOf(s, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val (rows, tr) = eng.searchRowsTraced("t0", "emb", qs, K, nprobe = 10,
      refine = ((n + K - 1) / K).toInt)
    require(tr.path == "head+pqtail-refined",
      s"refined rows tier must serve this corpus, got ${tr.path}")
    rows.toSeq.map { case (qid, rank, id, _) => (qid, rank, id.toLong) }
      .toDF("query_id", "rank", "id")
      .orderBy("query_id", "rank")
  }

  // dequantization mirrors Sq16Store.dequant bit-exactly: encode per
  // sq8SearchSql's proven choreography at 65535 levels, then
  // CAST(mn::DOUBLE + code·delta AS FLOAT), delta = (mx−mn)::DOUBLE/65535
  val enginePqRefinedRowsSql: String =
    s"""WITH bounds AS (
       |  SELECT min(list_min(embedding)) AS mn, max(list_max(embedding)) AS mx
       |  FROM embeddings
       |), deq AS (
       |  SELECT e.vec_id,
       |         list_transform(e.embedding, x ->
       |           CAST(CAST(b.mn AS DOUBLE) +
       |             greatest(0.0, least(65535.0,
       |               floor(CAST(x - b.mn AS DOUBLE) * (65535.0 / CAST(b.mx - b.mn AS DOUBLE)) + 0.5)))
       |             * (CAST(b.mx - b.mn AS DOUBLE) / 65535.0)
       |           AS FLOAT)) AS v
       |  FROM embeddings e CROSS JOIN bounds b
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries
       |), s AS (
       |  SELECT q.query_id, deq.vec_id AS id,
       |         -list_distance(deq.v::DOUBLE[], q.qvec::DOUBLE[]) AS score
       |  FROM deq CROSS JOIN q
       |), r AS (
       |  SELECT query_id, id,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT query_id, rank, id FROM r WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** REFINED + FILTERED through the plan — the exact path the wire's
    * `REFINE <r> FILTER <tag>` serves (searchImpl with refineStore=sq16;
    * the r8 self-review found its one real semantics bug HERE: the
    * k·refine ADC cut selected from UNFILTERED candidates, so a
    * selective tag could starve the rerank and return empty). Exhaustive
    * probes + rerank-all + the tag predicate make the answer exactly
    * filtered brute-force L2 over the DEQUANTIZED corpus — the
    * enginePqRefinedRows derivation with `vec_id % 2 = 0` applied, which
    * is SQL. Rank-only per the accumulation-order policy. */
  val enginePqRefinedFiltered: QueryFn = (s, dir) => {
    val eng = engineOn(s, dir, "IVF_PQ", tagged = true)
    val n = eng.manifest("t0", "emb").nVectors
    val qDf = queriesOf(s, dir)
      .withColumn("filter_tags", typedLit(Seq("even")))
    eng.search("t0", "emb", qDf, K, nprobe = 10,
        refine = ((n + K - 1) / K).toInt, refineStore = "sq16")
      .select(col("query_id"), col("rank"), col("id").cast("long").as("id"))
  }

  val enginePqRefinedFilteredSql: String =
    s"""WITH bounds AS (
       |  SELECT min(list_min(embedding)) AS mn, max(list_max(embedding)) AS mx
       |  FROM embeddings
       |), deq AS (
       |  SELECT e.vec_id,
       |         list_transform(e.embedding, x ->
       |           CAST(CAST(b.mn AS DOUBLE) +
       |             greatest(0.0, least(65535.0,
       |               floor(CAST(x - b.mn AS DOUBLE) * (65535.0 / CAST(b.mx - b.mn AS DOUBLE)) + 0.5)))
       |             * (CAST(b.mx - b.mn AS DOUBLE) / 65535.0)
       |           AS FLOAT)) AS v
       |  FROM embeddings e CROSS JOIN bounds b
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries
       |), s AS (
       |  SELECT q.query_id, deq.vec_id AS id,
       |         -list_distance(deq.v::DOUBLE[], q.qvec::DOUBLE[]) AS score
       |  FROM deq CROSS JOIN q
       |  WHERE deq.vec_id % 2 = 0
       |), r AS (
       |  SELECT query_id, id,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT query_id, rank, id FROM r WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** The assembled cache cascade as observables: cold call misses and
    * populates, warm call hits at L0 — deterministic, so fully oracled
    * (reference behaviorally: VectorCommandSet.cs:206-537). */
  val engineCachedSearch: QueryFn = (s, dir) => {
    val eng = engineOn(s, dir, "IVF_FLAT")
    // deterministic cold start on a (possibly memoized) engine
    eng.flushCache("t0", "emb")
    val qs = queriesOf(s, dir)
    val first = eng.searchCached("t0", "emb", qs, K, nprobe = 10, now = 1000L)
    val f = first.groupBy("query_id")
      .agg(max(col("cache_hit")).as("first_hit"))
    val second = eng.searchCached("t0", "emb", qs, K, nprobe = 10, now = 1010L)
    val sec = second.groupBy("query_id")
      .agg(max(col("cache_hit")).as("second_hit"), max("layer").as("second_layer"))
    f.join(sec, "query_id").orderBy("query_id")
  }

  val engineCachedSearchSql: String =
    s"""SELECT vec_id AS query_id, false AS first_hit, true AS second_hit,
       |       'L0' AS second_layer
       |FROM embeddings WHERE vec_id < $NQueries ORDER BY query_id""".stripMargin

  /** Prefetch→L2-hit loop as observables: warm every cluster's entry from
    * the prefetch materializer, then probe with the centroids themselves —
    * each must hit at L2 without any prior search (reference loop:
    * VectorCommandSet.cs:318-379 → cache probe 311-414). */
  val enginePrefetchHit: QueryFn = (s, dir) => {
    val eng = engineOn(s, dir, "IVF_FLAT")
    eng.flushCache("t0", "emb")
    val preds = eng.centroids("t0", "emb").select("cluster_id")
    eng.prefetchIntoCache("t0", "emb", preds, K, "L2", now = 1000L)
    val qs = eng.centroids("t0", "emb")
      .select(col("cluster_id").cast("long").as("query_id"),
        col("centroid").as("qvec"))
    eng.searchCached("t0", "emb", qs, K, "L2", nprobe = 10, now = 1010L)
      .groupBy("query_id")
      .agg(max(col("cache_hit")).as("hit"), max("layer").as("layer"))
      .orderBy("query_id")
  }

  val enginePrefetchHitSql: String =
    """SELECT i AS query_id, true AS hit, 'L2' AS layer
      |FROM range(10) t(i) ORDER BY query_id""".stripMargin

  /** Delta head/tail semantics end-to-end: a "fresh" head (re-written
    * vectors, scaled by 0.9) overrides the stale tail copy of the same id,
    * then brute-force KNN runs over the merged current state
    * (reference head-wins merge: DeltaVectorIndex.cs:76-122). */
  val deltaMergeKnn: QueryFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val tail = vectorsOf(s, dir).withColumn("pri", lit(1))
    val head = vectorsOf(s, dir)
      .filter(col("id") % 7 === 0)
      .withColumn("vec", transform(col("vec"), x => (x * lit(0.9)).cast("float")))
      .withColumn("pri", lit(0))
    val w = Window.partitionBy("id").orderBy("pri")
    val merged = head.unionByName(tail)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("id", "vec")
    BruteForceKnn.knn(merged, queriesOf(s, dir), "IP", K)
      .withColumn("score", round(col("score"), 6))
      .orderBy("query_id", "rank")
  }

  val deltaMergeKnnSql: String =
    s"""WITH head AS (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x*0.9 AS FLOAT)) AS vec, 0 AS pri
       |  FROM embeddings WHERE vec_id % 7 = 0
       |), tail AS (
       |  SELECT vec_id AS id, embedding AS vec, 1 AS pri FROM embeddings
       |), merged AS (
       |  SELECT id, vec FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY pri) AS rn
       |    FROM (SELECT * FROM head UNION ALL SELECT * FROM tail)
       |  ) WHERE rn = 1
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries
       |), s AS (
       |  SELECT q.query_id, m.id,
       |         list_dot_product(m.vec::DOUBLE[], q.qvec::DOUBLE[]) AS score
       |  FROM merged m CROSS JOIN q
       |), r AS (
       |  SELECT query_id, id, score,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT query_id, rank, id, round(score, 6) AS score FROM r WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** Conjunctive tag filtering on the search path (reference F1 semantics):
    * tags derived deterministically from the label column; each query
    * filters to its own label-tag. */
  val knnTagFiltered: QueryFn = (s, dir) => {
    val vs = t(s, dir, "embeddings").select(
      col("vec_id").as("id"), col("embedding").as("vec"),
      array(concat(lit("lab"), col("label") % 3), lit("all")).as("tags"))
    val qs = t(s, dir, "embeddings").filter(col("vec_id") < NQueries).select(
      col("vec_id").as("query_id"), col("embedding").as("qvec"),
      array(concat(lit("lab"), col("label") % 3)).as("filter_tags"))
    BruteForceKnn.knnFiltered(vs, qs, "COSINE", K)
      .withColumn("score", round(col("score"), 6))
      .orderBy("query_id", "rank")
  }

  val knnTagFilteredSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec, label % 3 AS lab
       |  FROM embeddings WHERE vec_id < $NQueries
       |), s AS (
       |  SELECT q.query_id, e.vec_id AS id,
       |         list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) AS score
       |  FROM embeddings e CROSS JOIN q WHERE e.label % 3 = q.lab
       |), r AS (
       |  SELECT query_id, id, score,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT query_id, rank, id, round(score, 6) AS score FROM r WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** Hit hydration: broadcast-join the (tiny) hit list back to a record
    * table for metadata projection (reference J2/F4: store lookup per hit,
    * VectorCommandSet.cs:461-480), using documents as the record store. */
  val hydrationKnn: QueryFn = (s, dir) => {
    val hits = BruteForceKnn.knn(vectorsOf(s, dir), queriesOf(s, dir), "COSINE", K)
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("lang"), col("source"))
      // restrict the record table to the <= k*nq hit ids, then broadcast
      // the tiny slice (a LEFT join can only broadcast its right side)
      .join(broadcast(hits.select("id").distinct()), Seq("id"), "left_semi")
    hits.join(broadcast(docs), Seq("id"), "left")
      .select(col("query_id"), col("rank"), col("id"),
        round(col("score"), 6).as("score"), col("lang"), col("source"))
      .orderBy("query_id", "rank")
  }

  val hydrationKnnSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries
       |), s AS (
       |  SELECT q.query_id, e.vec_id AS id,
       |         list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) AS score
       |  FROM embeddings e CROSS JOIN q
       |), r AS (
       |  SELECT query_id, id, score,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT r.query_id, r.rank, r.id, round(r.score, 6) AS score, d.lang, d.source
       |FROM r LEFT JOIN documents d ON r.id = d.doc_id
       |WHERE r.rank <= $K ORDER BY r.query_id, r.rank""".stripMargin

  // ---------------------------------------------------------------------
  // Relational / governance analytics (SURVEY §2.4)
  // ---------------------------------------------------------------------

  /** Pricing-summary style aggregation (billing-accumulation analog, A11). */
  val q1Pricing: QueryFn = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(Tables.cents(col("l_extendedprice"))).as("sum_price_cents"),
        sum(Tables.bps(col("l_discount"))).as("sum_disc_bp"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1PricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       sum(l_quantity) AS sum_qty,
      |       CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents,
      |       CAST(sum(CAST(floor(l_discount*10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_bp,
      |       count(*) AS n
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Current-state view: last-write-wins per key with deterministic
    * tie-break (reference upsert semantics, VectorStore.cs:23-33 /
    * SURVEY §1.5 current-state view). */
  val currentState: QueryFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "value")
      .orderBy("user_id", "event_type")
  }

  val currentStateSql: String =
    """SELECT user_id, event_type, event_id, value FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** Latency histogram buckets (reference MetricsCollector 6-bucket
    * histogram, Services/MetricsCollector.cs:39-53), over events.value. */
  val latencyHistogram: QueryFn = (s, dir) =>
    Governance.latencyHistogram(t(s, dir, "events"), "value").orderBy("bucket")

  val latencyHistogramSql: String =
    """SELECT CASE WHEN value < 1 THEN 'b0_lt1' WHEN value < 5 THEN 'b1_lt5'
      |            WHEN value < 10 THEN 'b2_lt10' WHEN value < 50 THEN 'b3_lt50'
      |            WHEN value < 100 THEN 'b4_lt100' ELSE 'b5_ge100' END AS bucket,
      |       count(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-second QPS windows per event type (reference per-tenant 1 s QPS
    * window, Services/TenantQuotaEnforcer.cs:137-158). `ts` is epoch-nanos. */
  val qpsWindow: QueryFn = (s, dir) =>
    t(s, dir, "events")
      .withColumn("sec", expr("ts div 1000000000"))
      .groupBy("sec", "event_type").agg(count(lit(1)).as("n"))
      .orderBy("sec", "event_type")

  val qpsWindowSql: String =
    """SELECT epoch_ns(ts) // 1000000000 AS sec, event_type, count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Markov transition counting over per-user event sequences (reference
    * prefetch transition mining, src/Pyrope.AISidecar/prediction_engine.py:16-72). */
  val markovTransitions: QueryFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("prev", "next")
  }

  val markovTransitionsSql: String =
    """SELECT prev, next, count(*) AS cnt FROM (
      |  SELECT user_id, event_type AS next,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events
      |) WHERE prev IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Prefetch-rule extraction: most common next-state per state, admitted
    * at count ≥ 3 (reference prediction_engine.py:60-66). */
  val markovRules: QueryFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wr = Window.partitionBy("prev").orderBy(col("cnt").desc, col("next"))
    t(s, dir, "events")
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1 && col("cnt") >= 3)
      .select("prev", "next", "cnt")
      .orderBy("prev")
  }

  val markovRulesSql: String =
    """SELECT prev, next, cnt FROM (
      |  SELECT prev, next, cnt,
      |         row_number() OVER (PARTITION BY prev ORDER BY cnt DESC, next) AS rn
      |  FROM (
      |    SELECT prev, next, count(*) AS cnt FROM (
      |      SELECT event_type AS next,
      |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |      FROM events
      |    ) WHERE prev IS NOT NULL GROUP BY 1, 2
      |  )
      |) WHERE rn = 1 AND cnt >= 3 ORDER BY prev""".stripMargin

  /** Per-tenant billing accumulation (A11 + E10 cost units). */
  val billingUsage: QueryFn = (s, dir) =>
    Governance.billingUsage(t(s, dir, "events")).orderBy("user_id")

  val billingUsageSql: String =
    """SELECT user_id, count(*) AS n_requests,
      |       CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
      |       min(CAST(floor(value*100 + 0.5) AS BIGINT)) AS min_cents,
      |       max(CAST(floor(value*100 + 0.5) AS BIGINT)) AS max_cents,
      |       (count(*) / 10000.0) * (64 / 128.0) AS cost_units
      |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin

  /** Monthly budget windows (A14): month-of-ts cost sums vs a fixed budget. */
  val monthlyBudget: QueryFn = (s, dir) =>
    Governance.monthlyBudget(t(s, dir, "events"), budgetCents = 100000L)
      .orderBy("user_id", "y", "m")

  val monthlyBudgetSql: String =
    """SELECT user_id, CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m,
      |       CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS month_cents,
      |       sum(CAST(floor(value*100 + 0.5) AS BIGINT)) > 100000 AS over_budget
      |FROM events GROUP BY 1, 2, 3 ORDER BY user_id, y, m""".stripMargin

  /** Write-heat detection (A12): 1-minute tumbling counts, hot > 10/min. */
  val writeHeat: QueryFn = (s, dir) =>
    Governance.writeHeat(t(s, dir, "events")).orderBy("user_id", "minute")

  val writeHeatSql: String =
    """SELECT user_id, epoch_ns(ts) // 60000000000 AS minute, count(*) AS n_writes,
      |       count(*) > 10 AS hot
      |FROM events GROUP BY 1, 2 ORDER BY user_id, minute""".stripMargin

  /** Per-tenant daily-request-limit violations (reference DailyRequestLimit,
    * Model/TenantConfig.cs:39-57 + A13 window enforcement): tumbling 1-day
    * windows vs a per-tenant quota table (limit 3 for every third tenant,
    * else 5). */
  val qpsViolations: QueryFn = (s, dir) => {
    val ev = t(s, dir, "events")
      .withColumn("sec", expr("ts div 86400000000000")) // day window
    val quotas = ev.select("user_id").distinct()
      .withColumn("max_qps", when(col("user_id") % 3 === 0, 3).otherwise(5))
    ev.groupBy("user_id", "sec").agg(count(lit(1)).as("n"))
      .join(broadcast(quotas), Seq("user_id"))
      .filter(col("n") > col("max_qps"))
      .select(col("user_id"), col("sec").as("day"), col("n"),
        col("max_qps").as("daily_limit"))
      .orderBy("user_id", "day")
  }

  val qpsViolationsSql: String =
    """SELECT user_id, day, n, daily_limit FROM (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, count(*) AS n,
      |         CASE WHEN user_id % 3 = 0 THEN 3 ELSE 5 END AS daily_limit
      |  FROM events GROUP BY 1, 2
      |) WHERE n > daily_limit ORDER BY user_id, day""".stripMargin

  /** Exact nearest-rank latency percentiles per event type (A8/A9). */
  val percentilesByType: QueryFn = (s, dir) =>
    Governance.percentiles(t(s, dir, "events"), "event_type", "value")
      .orderBy("event_type")

  val percentilesByTypeSql: String =
    """WITH ranked AS (
      |  SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events
      |)
      |SELECT event_type,
      |       max(CASE WHEN rn = ceil(0.5 * n) THEN value END) AS p50,
      |       max(CASE WHEN rn = ceil(0.95 * n) THEN value END) AS p95,
      |       max(CASE WHEN rn = ceil(0.99 * n) THEN value END) AS p99
      |FROM ranked GROUP BY 1 ORDER BY event_type""".stripMargin

  /** SLO windows (St6 batch form): per-minute p99 vs target 100. */
  val sloWindows: QueryFn = (s, dir) =>
    Governance.sloWindows(t(s, dir, "events"), "value", target = 100.0)
      .orderBy("event_type", "minute")

  val sloWindowsSql: String =
    """WITH ranked AS (
      |  SELECT event_type, epoch_ns(ts) // 60000000000 AS minute, value,
      |         row_number() OVER (PARTITION BY event_type, epoch_ns(ts) // 60000000000 ORDER BY value) AS rn,
      |         count(*) OVER (PARTITION BY event_type, epoch_ns(ts) // 60000000000) AS n
      |  FROM events
      |)
      |SELECT event_type, minute, value AS p99, value > 100.0 AS degraded
      |FROM ranked WHERE rn = ceil(0.99 * n) ORDER BY event_type, minute""".stripMargin

  /** RoundK cache-key bucketing (W3) over the distinct quantity domain. */
  val roundKBuckets: QueryFn = (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_quantity").cast("int").as("k")).distinct()
      .withColumn("k_bucket", Caching.roundK(col("k")))
      .orderBy("k")

  val roundKBucketsSql: String =
    """SELECT DISTINCT CAST(l_quantity AS INTEGER) AS k,
      |       CASE WHEN CAST(l_quantity AS INTEGER) <= 5 THEN 5
      |            WHEN CAST(l_quantity AS INTEGER) <= 10 THEN 10
      |            WHEN CAST(l_quantity AS INTEGER) <= 20 THEN 20
      |            WHEN CAST(l_quantity AS INTEGER) <= 50 THEN 50
      |            WHEN CAST(l_quantity AS INTEGER) <= 100 THEN 100
      |            ELSE CAST(l_quantity AS INTEGER) END AS k_bucket
      |FROM lineitem ORDER BY k""".stripMargin

  /** Namespace validation (F7): `[A-Za-z0-9_-]+` over customer names. */
  val namespaceValidation: QueryFn = (s, dir) =>
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        col("c_name").rlike("^[A-Za-z0-9_-]+$").as("valid"))
      .orderBy("c_custkey")

  val namespaceValidationSql: String =
    """SELECT c_custkey, c_name, regexp_full_match(c_name, '[A-Za-z0-9_-]+') AS valid
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Join + per-group ranking: top-5 orders by price per nation
    * (broadcast dims, window over the fact side). */
  val topOrdersByNation: QueryFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val n = t(s, dir, "nation").select("n_nationkey", "n_name")
    val w = Window.partitionBy("n_name")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("n_name"), col("rk").cast("int").as("rk"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy("n_name", "rk")
  }

  val topOrdersByNationSql: String =
    """SELECT n_name, rk, o_orderkey, o_totalprice FROM (
      |  SELECT n.n_name, o.o_orderkey, o.o_totalprice,
      |         CAST(row_number() OVER (PARTITION BY n.n_name
      |           ORDER BY o.o_totalprice DESC, o.o_orderkey) AS INTEGER) AS rk
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |) WHERE rk <= 5 ORDER BY n_name, rk""".stripMargin

  /** Epoch-checked cache lookup (St8/E12): KNN results materialized as a
    * cache table keyed by the stable xxhash64 QueryKey; entries whose epoch
    * is stale read as misses. The key value itself never leaves the plan
    * (engine-own hash), only hit/miss observables do. */
  val cacheEpochLookup: QueryFn = (s, dir) => {
    val hits = BruteForceKnn.knn(vectorsOf(s, dir), queriesOf(s, dir), "IP", K)
    val keyed = hits.withColumn("cache_key",
      Caching.queryKey(lit("tenant0"), lit("emb"), lit(K), lit("IP"),
        array(), col("query_id").cast("string")))
    val cache = keyed.groupBy("cache_key", "query_id")
      .agg(count(lit(1)).as("n_entries"))
      .withColumn("epoch", col("query_id") % 2)
      .withColumn("result", lit("cached"))
      .withColumn("expires_at", lit(null).cast("timestamp"))
    val requests = cache.select("cache_key", "query_id")
    // the cache side is NQueries rows by construction, but its size
    // ESTIMATE is the full KNN subtree's, so the planner picked a
    // SortMergeJoin — exchanging + sorting both sides of an 8-row join
    // (and the KNN is computed once per side either way). Broadcast the
    // provably-tiny side; same rows, one fewer exchange pair + sorts.
    Caching.lookup(requests, broadcast(cache.drop("query_id")), lit(1),
        current_timestamp())
      .select(col("query_id"), col("hit"), col("n_entries"))
      .orderBy("query_id")
  }

  val cacheEpochLookupSql: String =
    s"""SELECT vec_id AS query_id, vec_id % 2 = 1 AS hit, CAST($K AS BIGINT) AS n_entries
       |FROM embeddings WHERE vec_id < $NQueries ORDER BY query_id""".stripMargin

  /** Canonical-alias cache resolution (J6 / L0.5): odd query keys alias to
    * their even predecessor when confidence ≥ 0.8; resolved requests hit
    * the canonical cache entry (reference: DataModel/CanonicalKeyMap.cs:18-44,
    * VectorCommandSet.cs:239-272). Keys are engine-internal xxhash64 and
    * never appear in the output. */
  val aliasLookup: QueryFn = (s, dir) => {
    def keyOf(c: org.apache.spark.sql.Column) =
      xxhash64(lit("tenant0"), c.cast("string"))
    val qids = t(s, dir, "embeddings").filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"))
    val requests = qids.withColumn("cache_key", keyOf(col("query_id")))
    val aliases = qids.filter(col("query_id") % 2 === 1)
      .select(keyOf(col("query_id")).as("source_key"),
        keyOf(col("query_id") - 1).as("canonical_key"),
        when(col("query_id") % 3 === 0, 0.5).otherwise(0.9).as("confidence"))
    val cache = qids.filter(col("query_id") % 2 === 0)
      .select(keyOf(col("query_id")).as("cache_key"),
        lit("cached").as("result"), lit(1L).as("epoch"),
        lit(null).cast("timestamp").as("expires_at"))
    val resolved = Caching.resolveAlias(requests, aliases)
      .withColumn("resolved", col("lookup_key") =!= col("cache_key"))
      .drop("cache_key")
      .withColumnRenamed("lookup_key", "cache_key")
    Caching.lookup(resolved, cache, lit(1L), current_timestamp())
      .select("query_id", "resolved", "hit")
      .orderBy("query_id")
  }

  val aliasLookupSql: String =
    s"""SELECT vec_id AS query_id,
       |       vec_id % 2 = 1 AND vec_id % 3 != 0 AS resolved,
       |       (vec_id % 2 = 0) OR (vec_id % 2 = 1 AND vec_id % 3 != 0) AS hit
       |FROM embeddings WHERE vec_id < $NQueries ORDER BY query_id""".stripMargin

  /** L2 semantic-cluster admission (E11): nearest label-representative
    * vector per query, admitted when within the cost-relaxed closeness
    * threshold. */
  val semanticAdmission: QueryFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val emb = t(s, dir, "embeddings")
    val repIds = emb.groupBy("label").agg(min("vec_id").as("vec_id"))
    val reps = emb.join(repIds, Seq("label", "vec_id"))
      .select(col("label").as("cluster_id"), col("embedding").as("cvec"))
    val q = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    // E10 cost proxy: count/10000 · dim/128 over the searched collection —
    // joined in as an aggregate so no job runs at plan-build time
    val costDf = emb.agg((count(lit(1)) / 10000.0 * (64 / 128.0)).as("cost"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cluster_id"))
    q.crossJoin(broadcast(reps))
      .withColumn("cos", vector_cosine(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .crossJoin(broadcast(costDf))
      .withColumn("admitted",
        col("cos") >= Caching.closenessThreshold("COSINE", col("cost")))
      .select(col("query_id"), col("cluster_id"),
        round(col("cos"), 6).as("cos"), col("admitted"))
      .orderBy("query_id")
  }

  val semanticAdmissionSql: String =
    s"""WITH reps AS (
       |  SELECT e.label AS cluster_id, e.embedding AS cvec
       |  FROM embeddings e
       |  JOIN (SELECT label, min(vec_id) AS vec_id FROM embeddings GROUP BY 1) r
       |    ON e.label = r.label AND e.vec_id = r.vec_id
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries
       |), scored AS (
       |  SELECT q.query_id, reps.cluster_id,
       |         list_cosine_similarity(q.qvec::DOUBLE[], reps.cvec::DOUBLE[]) AS cos,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY list_cosine_similarity(q.qvec::DOUBLE[], reps.cvec::DOUBLE[]) DESC, reps.cluster_id) AS rn,
       |         (SELECT count(*) FROM q) * 0 + (SELECT count(*) FROM embeddings) / 10000.0 * 0.5 AS cost
       |  FROM q CROSS JOIN reps
       |)
       |SELECT query_id, cluster_id, round(cos, 6) AS cos,
       |       cos >= 0.95 - greatest(0.0, log10(greatest(cost, 0.000000001))) * 0.01 AS admitted
       |FROM scored WHERE rn = 1 ORDER BY query_id""".stripMargin

  // ---------------------------------------------------------------------
  // Training-data pipeline: dedup + text analysis (builder-prompt surface)
  // ---------------------------------------------------------------------

  /** Exact deduplication by content hash: keep lowest doc_id per distinct
    * text (hash-groupBy dedup). */
  val dedupExact: QueryFn = (s, dir) =>
    TextDedup.exact(t(s, dir, "documents")).orderBy("keep_id")

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_cnt
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Whitespace token count per document. */
  val tokenCount: QueryFn = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  val tokenCountSql: String =
    """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** 3-gram shingle Jaccard near-dup pairs (τ=0.5; the testdata plants 25
    * near-dup pairs with a wide margin below the threshold). */
  val dedupNgramJaccard: QueryFn = (s, dir) =>
    // plain shingle join at driver SF: the prefix filter's candidate
    // reduction pays off on large corpora, but its extra phases dominate
    // a 5k-doc input (measured 2-4 s vs 4-8 s at sf0.1; identical rows —
    // TextDedupSpec proves the paths equal). repartition: the single-file
    // local input is one row group — shingling would otherwise run on one
    // core (at real scale the file count provides the parallelism)
    TextDedup.jaccardPairs(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        n = 3, tau = 0.5, prefixFilter = false)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id1", "id2")

  val dedupNgramJaccardSql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(string_split(text,' ')) - 1),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
      |  ))) AS g
      |  FROM documents WHERE len(string_split(text,' ')) >= 3
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
      |), common AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
      |)
      |SELECT id1, id2, round(c * 1.0 / (s1.n_sh + s2.n_sh - c), 6) AS jaccard
      |FROM common JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
      |WHERE c * 1.0 / (s1.n_sh + s2.n_sh - c) >= 0.5
      |ORDER BY id1, id2""".stripMargin

  /** The SAME exact-Jaccard surface through the rarest-first AllPairs
    * prefix filter — the extreme-scale configuration (global df pass,
    * ubiquitous shingles never generate candidates). Identical output to
    * `dedup_ngram_jaccard` by the prefix-filter guarantee, so it shares
    * that query's DuckDB oracle — the driver grades the scale path
    * directly. */
  val dedupJaccardRareFirst: QueryFn = (s, dir) =>
    TextDedup.jaccardPairs(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        n = 3, tau = 0.5, prefixFilter = true, rareFirst = true)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id1", "id2")

  /** MinHash+LSH near-dup pairs, verified at τ=0.5. Shares the exact
    * Jaccard query's DuckDB oracle: the exact verify removes every false
    * candidate, and at 64 bands × 2 rows a true pair at J ≥ τ collides in
    * ≥1 band with probability 1 − (1−τ²)^64 (≥ 1 − 10⁻⁸ at τ=0.5) — and
    * the seeded hash family makes the outcome a deterministic function of
    * the corpus, so the gate is stable, not flaky. Perturbed near-dup
    * recall at other (τ, band) points stays covered by TextDedupSpec. */
  val dedupMinhash: QueryFn = (s, dir) =>
    // repartition: the single-file local input is one row group → would
    // otherwise run the signature computation on one core
    TextDedup.minhashLshPairs(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        n = 3, tau = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id1", "id2")

  /** Near-dup pairs → duplicate clusters → keep-set over the whole
    * corpus: exact-Jaccard pairs at τ=0.5 chained into connected
    * components (large-star/small-star, Kiveris et al. SoCC'14), every
    * document annotated with its component's canonical id and a keep
    * flag. Fully oracled: DuckDB computes the same components with a
    * recursive CTE over the same pair set. */
  val dedupComponents: QueryFn = (s, dir) => {
    val docs = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    val pairs = TextDedup.jaccardPairs(docs, n = 3, tau = 0.5,
      prefixFilter = false)
    TextDedup.keepCanonical(docs.select("doc_id"), pairs).orderBy("doc_id")
  }

  /** The full dedup recipe END-TO-END — the composition a 100-TB run
    * actually executes: MinHash-LSH candidate pairs (exact-verified at
    * τ=0.5) → connected components (large-star/small-star) → canonical
    * keep-set → the SURVIVING corpus, each survivor annotated with how
    * many documents its component absorbed. The stages are individually
    * oracled (`dedup_minhash`, `dedup_components`); this row grades
    * their composition. DuckDB recomputes the survivors from exact
    * Jaccard pairs + recursive-CTE reachability — equal because the
    * exact verify makes the minhash pair set IDENTICAL to the exact
    * pair set at this band config (true-pair band miss ≤ (1−τ²)^64 ≈
    * 10⁻⁸, deterministic under the seeded hash family). */
  val dedupPipeline: QueryFn = (s, dir) => {
    val docs = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    val pairs = TextDedup.minhashLshPairs(docs, n = 3, tau = 0.5)
    val kc = TextDedup.keepCanonical(docs.select("doc_id", "lang"), pairs)
    val sizes = kc.groupBy("canonical_id").agg(count(lit(1)).as("dup_count"))
    kc.filter(col("keep"))
      .join(sizes, "canonical_id")
      .select("doc_id", "lang", "dup_count")
      .orderBy("doc_id")
  }

  /** The SCALE form of the dedup recipe — star-edge candidate generation
    * (O(bucket) per LSH bucket, the form that survives a boilerplate
    * cluster; see TextDedup.minhashLshStarPairs) — under the same
    * recursive-CTE oracle as [[dedupPipeline]]: on this corpus the
    * keep-set is identical because every near-dup cluster's members are
    * mutual near-dups of the bucket minimum, so star connectivity spans
    * exactly the exact-pair components (TextDedupSpec pins the general
    * clean-cluster equality; this row pins it cross-engine on the
    * driver's corpus at the graded SFs). */
  private def starPipelineWith(stars: Int): QueryFn = (s, dir) => {
    val docs = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    val pairs = TextDedup.minhashLshStarPairs(docs, n = 3, tau = 0.5,
      stars = stars)
    val kc = TextDedup.keepCanonical(docs.select("doc_id", "lang"), pairs)
    val sizes = kc.groupBy("canonical_id").agg(count(lit(1)).as("dup_count"))
    kc.filter(col("keep"))
      .join(sizes, "canonical_id")
      .select("doc_id", "lang", "dup_count")
      .orderBy("doc_id")
  }

  val dedupStarPipeline: QueryFn = starPipelineWith(stars = 1)

  /** The two-star robustness variant (r10; see TextDedup.starEdges) under
    * the SAME oracle: extra second-hub edges connect members that are
    * already in one component on clean clusters, so the keep-set — and
    * therefore the recursive-CTE oracle — is unchanged; what the row
    * gates cross-engine is that the added edges never OVER-merge (every
    * second-hub edge still passes the exact-Jaccard verify). */
  val dedupStar2Pipeline: QueryFn = starPipelineWith(stars = 2)

  /** The scratch-bounded BATCHED form of the star recipe (LSH bands
    * processed in sequential groups, shingles recomputed per group;
    * see TextDedup.minhashLshStarPairsBatched) under the SAME oracle:
    * band grouping is a pure partition of the band set over band-scoped
    * buckets, so the grouped union of star edges — and therefore the
    * verified keep-set — equals the fused recipe's. This row pins that
    * equivalence cross-engine on the driver's corpus. */
  val dedupBatchedPipeline: QueryFn = (s, dir) => {
    val docs = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    // bandGroups=2 exercises the full grouped machinery (band slicing,
    // per-group exchange + edge union, the non-degenerate > 1 case) at 3
    // shingle/minhash passes instead of 4-group's 5 — the recompute knob
    // is the operator's documented price, and the keep-set is equal for
    // any divisor (TextDedupSpec pins it), so the gate is unchanged while
    // the suite row stops paying two redundant corpus passes.
    val pairs = TextDedup.minhashLshStarPairsBatched(docs, n = 3, tau = 0.5,
      bandGroups = 2)
    val kc = TextDedup.keepCanonical(docs.select("doc_id", "lang"), pairs)
    val sizes = kc.groupBy("canonical_id").agg(count(lit(1)).as("dup_count"))
    kc.filter(col("keep"))
      .join(sizes, "canonical_id")
      .select("doc_id", "lang", "dup_count")
      .orderBy("doc_id")
  }

  val dedupPipelineSql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(string_split(text,' ')) - 1),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
      |  ))) AS g
      |  FROM documents WHERE len(string_split(text,' ')) >= 3
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
      |), common AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
      |), pairs AS (
      |  SELECT id1, id2
      |  FROM common JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
      |  WHERE c * 1.0 / (s1.n_sh + s2.n_sh - c) >= 0.5
      |), edges AS (
      |  SELECT id1 AS a, id2 AS b FROM pairs
      |  UNION SELECT id2, id1 FROM pairs
      |), reach(node, root) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      |  UNION
      |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
      |), comp AS (
      |  SELECT node AS doc_id, min(root) AS canonical_id FROM reach GROUP BY node
      |), allc AS (
      |  SELECT d.doc_id, d.lang,
      |         coalesce(c.canonical_id, d.doc_id) AS canonical_id
      |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
      |), szs AS (
      |  SELECT canonical_id, count(*) AS dup_count FROM allc GROUP BY 1
      |)
      |SELECT a.doc_id, a.lang, s.dup_count
      |FROM allc a JOIN szs s ON a.canonical_id = s.canonical_id
      |WHERE a.doc_id = a.canonical_id
      |ORDER BY a.doc_id""".stripMargin

  val dedupComponentsSql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(string_split(text,' ')) - 1),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
      |  ))) AS g
      |  FROM documents WHERE len(string_split(text,' ')) >= 3
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
      |), common AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
      |), pairs AS (
      |  SELECT id1, id2
      |  FROM common JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
      |  WHERE c * 1.0 / (s1.n_sh + s2.n_sh - c) >= 0.5
      |), edges AS (
      |  SELECT id1 AS a, id2 AS b FROM pairs
      |  UNION SELECT id2, id1 FROM pairs
      |), reach(node, root) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      |  UNION
      |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
      |), comp AS (
      |  SELECT node AS doc_id, min(root) AS canonical_id FROM reach GROUP BY node
      |)
      |SELECT d.doc_id,
      |       coalesce(c.canonical_id, d.doc_id) AS canonical_id,
      |       coalesce(c.canonical_id, d.doc_id) = d.doc_id AS keep
      |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Benchmark decontamination: training docs (doc_id % 10 ≠ 0) sharing
    * ≥ 1 distinct 5-gram with the held-out pseudo-benchmark slice
    * (doc_id % 10 = 0) — the train/test-leakage sweep of an LLM data
    * pipeline, as (doc_id, shared-gram count). */
  val decontamination: QueryFn = (s, dir) => {
    val all = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    TextDedup.contaminated(
        all.filter(col("doc_id") % 10 =!= 0),
        all.filter(col("doc_id") % 10 === 0), nGram = 5)
      .orderBy("doc_id")
  }

  val decontaminationSql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(string_split(text,' ')) - 3),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
      |         string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3] || ' ' ||
      |         string_split(text,' ')[i+4]
      |  ))) AS g
      |  FROM documents WHERE len(string_split(text,' ')) >= 5
      |), ev AS (
      |  SELECT DISTINCT g FROM sh WHERE doc_id % 10 = 0
      |)
      |SELECT s.doc_id, count(*) AS n_hits
      |FROM sh s JOIN ev ON s.g = ev.g
      |WHERE s.doc_id % 10 <> 0
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** Deterministic seeded stratified sample: 50 docs per language, ranked
    * by the seeded md5 prefix — the per-source quota step of a corpus
    * mixing recipe. Selection is a pure function of (seed, doc_id), so
    * DuckDB replicates it exactly; the Spark side runs through the
    * bounded top-k aggregate (map-side partial, no full window sort). */
  val corpusSample: QueryFn = (s, dir) =>
    Sampling.stratified(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        "lang", "doc_id", n = 50)
      .orderBy("lang", "rank")

  val corpusSampleSql: String =
    """WITH keyed AS (
      |  SELECT lang, doc_id,
      |         substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 13) AS hk
      |  FROM documents
      |), ranked AS (
      |  SELECT lang, doc_id,
      |         row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rank
      |  FROM keyed
      |)
      |SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id
      |FROM ranked WHERE rank <= 50 ORDER BY lang, rank""".stripMargin

  /** SimHash near-dup pairs at Hamming ≤ 12, fully DuckDB-oracled: the
    * portable md5-low-64 token-hash family lets DuckDB recompute the
    * fingerprints bit-for-bit, so the ENTIRE pipeline — tokenize → ±1 bit
    * votes → 4×16-bit band candidate join → Hamming filter — is under the
    * cross-engine gate, including the documented partial-recall banding
    * semantics (pairs whose >3 differing bits spread across all 4 bands
    * are absent from BOTH sides). The production-default FNV family is
    * the same kernel with a different `hash` argument (property-tested in
    * TextDedupSpec). */
  val dedupSimhash: QueryFn = (s, dir) =>
    TextDedup.simhashPairs(t(s, dir, "documents"), maxHamming = 12,
        portableHash = true)
      .orderBy("id1", "id2")

  val dedupSimhashSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), th AS (
      |  SELECT doc_id, ('0x' || substring(md5(tok), 1, 16))::UBIGINT AS h FROM toks
      |), votes AS (
      |  SELECT doc_id, b,
      |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, UNNEST(generate_series(0, 63)) AS g(b)
      |  GROUP BY doc_id, b
      |), fp AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN v > 0 THEN (1::UBIGINT << b) ELSE 0 END)::UBIGINT AS simhash
      |  FROM votes GROUP BY doc_id
      |), banded AS (
      |  SELECT doc_id, simhash, band, (simhash >> (band*16)) & 65535 AS bh
      |  FROM fp, UNNEST(generate_series(0, 3)) AS g(band)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.simhash AS s1, b.simhash AS s2
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      |)
      |SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
      |FROM cand WHERE bit_count(xor(s1, s2)) <= 12
      |ORDER BY id1, id2""".stripMargin

  /** Top-50 most-similar embedding pairs by exact cosine. DuckDB-oracled
    * baseline — the O(n²) plan is the *oracle*, not the scale path; the
    * production-scale path is `embedding_lsh_pairs` below. */
  val embeddingTopPairs: QueryFn = (s, dir) =>
    EmbeddingDedup.topPairs(t(s, dir, "embeddings"), 50)
      .withColumn("cosine", round(col("cosine"), 6))

  /** Embedding near-dup pairs via SimHash-banded LSH + exact cosine verify —
    * the 100-TB path (bucketed equi-join, no all-pairs). The raw testdata
    * has no pairs above τ (top pair ≈ 0.51), so the query plants exact
    * duplicates of every 8th vector (id + 10⁷): duplicates hash to
    * identical SimHash fingerprints, every band collides, and LSH recall
    * is structural — which makes the output exactly "all pairs with cosine
    * ≥ τ", a full DuckDB-oracle-able set. True *near*-dup recall (perturbed
    * vectors) is covered by EmbeddingDedupSpec. */
  val embeddingLshPairs: QueryFn = (s, dir) => {
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
    val planted = emb.filter(col("vec_id") % 8 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    // repartition: single-file local input — the SimHash banding would
    // otherwise run on 2 cores (at scale file count = parallelism)
    EmbeddingDedup.lshPairs(
        emb.unionByName(planted).repartition(s.sparkContext.defaultParallelism),
        tau = 0.95)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id1", "id2")
  }

  val embeddingLshPairsSql: String =
    """WITH aug AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id % 8 = 0
      |)
      |SELECT a.vec_id AS id1, b.vec_id AS id2,
      |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
      |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.95
      |ORDER BY id1, id2""".stripMargin

  val embeddingTopPairsSql: String =
    """SELECT a.vec_id AS id1, b.vec_id AS id2,
      |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, id1, id2
      |LIMIT 50""".stripMargin

  /** Per-document quality features (length / distinct / stopword ratios). */
  val textQuality: QueryFn = (s, dir) =>
    TextAnalysis.quality(t(s, dir, "documents")).orderBy("doc_id")

  val textQualitySql: String = {
    val stop = TextAnalysis.EnStop.map(w => s"'$w'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |         CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stop))) AS BIGINT) AS n_stop,
       |         CAST(length(text) AS BIGINT) AS n_chars
       |  FROM documents
       |)
       |SELECT doc_id, n_tokens, n_distinct, n_stop, n_chars,
       |       n_distinct * 1.0 / n_tokens AS distinct_ratio,
       |       n_stop * 1.0 / n_tokens AS stop_ratio,
       |       (n_chars - (n_tokens - 1)) * 1.0 / n_tokens AS mean_token_len
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Deterministic stopword-profile language guess. */
  val langId: QueryFn = (s, dir) =>
    TextAnalysis.langId(t(s, dir, "documents")).orderBy("doc_id")

  val langIdSql: String = {
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id,
       |         len(list_filter(string_split(text,' '), t -> t IN (${inList(TextAnalysis.EnStop)}))) AS en,
       |         len(list_filter(string_split(text,' '), t -> t IN (${inList(TextAnalysis.DeStop)}))) AS de,
       |         len(list_filter(string_split(text,' '), t -> t IN (${inList(TextAnalysis.FrStop)}))) AS fr,
       |         len(list_filter(string_split(text,' '), t -> t IN (${inList(TextAnalysis.EsStop)}))) AS es
       |  FROM documents
       |)
       |SELECT doc_id,
       |       CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
       |            WHEN en = greatest(en, de, fr, es) THEN 'en'
       |            WHEN de = greatest(en, de, fr, es) THEN 'de'
       |            WHEN fr = greatest(en, de, fr, es) THEN 'fr'
       |            ELSE 'es' END AS lang_pred
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** BPE-style pre-tokenizer counts (contractions / letter runs / digit
    * runs / punctuation runs) — the model-token proxy next to the
    * whitespace count. */
  val bpeTokenCount: QueryFn = (s, dir) =>
    TextAnalysis.bpeTokenCount(t(s, dir, "documents")).orderBy("doc_id")

  val bpeTokenCountSql: String =
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '${TextAnalysis.BpePattern.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Gopher-style top-bigram repetition fraction per document (the
    * boilerplate/spam signal of a pretraining filter). */
  val textRepetition: QueryFn = (s, dir) =>
    TextAnalysis.repetition(t(s, dir, "documents")).orderBy("doc_id")

  val textRepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), bg AS (
      |  SELECT doc_id, CAST(len(t) - 1 AS BIGINT) AS n_bigrams,
      |         t[i] || ' ' || t[i+1] AS bigram
      |  FROM toks, UNNEST(generate_series(1, len(t)-1)) AS g(i)
      |), cnt AS (
      |  SELECT doc_id, n_bigrams, bigram, CAST(count(*) AS BIGINT) AS c
      |  FROM bg GROUP BY 1, 2, 3
      |)
      |SELECT doc_id, n_bigrams, max(c) AS top_bigram_n,
      |       max(c) * 1.0 / n_bigrams AS top_bigram_frac
      |FROM cnt GROUP BY doc_id, n_bigrams ORDER BY doc_id""".stripMargin

  /** PII scan/scrub parity row: counts are zero on the synthetic corpus
    * (no emails/digits planted) — the row proves engine parity of the
    * shared RE2-compatible patterns end to end; the kernels' hit
    * behavior is pinned on planted inputs in TextAnalysisSpec. */
  val piiScan: QueryFn = (s, dir) =>
    TextAnalysis.piiScan(t(s, dir, "documents")).orderBy("doc_id")

  val piiScanSql: String = {
    // DuckDB single-quoted literals are standard-conforming (no backslash
    // processing) — only quotes need escaping; '\b' etc. reach RE2 as-is
    def q(p: String) = p.replace("'", "''")
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '${q(TextAnalysis.EmailPat)}')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(text, '${q(TextAnalysis.Ipv4Pat)}')) AS BIGINT) AS n_ipv4,
       |       CAST(len(regexp_extract_all(text, '${q(TextAnalysis.PhonePat)}')) AS BIGINT) AS n_phones,
       |       CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
       |         '${q(TextAnalysis.EmailPat)}', '<EMAIL>', 'g'),
       |         '${q(TextAnalysis.Ipv4Pat)}', '<IP>', 'g'),
       |         '${q(TextAnalysis.PhonePat)}', '<PHONE>', 'g')) AS BIGINT) AS n_chars_scrubbed
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Pipeline composition: exact-dedup keep-list ∩ language==en ∩ length
    * floor — the "clean corpus" selection a pretraining pipeline runs,
    * chaining three verified operators in one plan. */
  val corpusClean: QueryFn = (s, dir) => {
    val docs = t(s, dir, "documents")
    val keep = TextDedup.exact(docs).select(col("keep_id").as("doc_id"))
    val lang = TextAnalysis.langId(docs)
    val qual = TextAnalysis.quality(docs).select("doc_id", "n_tokens")
    docs.select("doc_id")
      .join(keep, "doc_id")
      .join(lang, "doc_id")
      .join(qual, "doc_id")
      .filter(col("lang_pred") === "en" && col("n_tokens") >= 10)
      .select("doc_id", "n_tokens")
      .orderBy("doc_id")
  }

  val corpusCleanSql: String = {
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
    s"""WITH keep AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
       |), f AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |         len(list_filter(string_split(text,' '), t -> t IN (${inList(TextAnalysis.EnStop)}))) AS en,
       |         len(list_filter(string_split(text,' '), t -> t IN (${inList(TextAnalysis.DeStop)}))) AS de,
       |         len(list_filter(string_split(text,' '), t -> t IN (${inList(TextAnalysis.FrStop)}))) AS fr,
       |         len(list_filter(string_split(text,' '), t -> t IN (${inList(TextAnalysis.EsStop)}))) AS es
       |  FROM documents
       |)
       |SELECT f.doc_id, f.n_tokens
       |FROM f JOIN keep ON f.doc_id = keep.doc_id
       |WHERE f.n_tokens >= 10 AND greatest(en, de, fr, es) > 0
       |  AND en = greatest(en, de, fr, es)
       |ORDER BY f.doc_id""".stripMargin
  }

  /** Resize plumbing over binary payloads (nearest-neighbor byte pick —
    * the codec seam stubbed deterministically, ASCII text ⇒ string slice
    * equals byte slice for the oracle). */
  val multimodalResize: QueryFn = (s, dir) => {
    val media = t(s, dir, "documents").select(
      col("doc_id").as("id"), lit("text").as("modality"),
      encode(col("text"), "UTF-8").as("bytes"))
    graft.operators.Multimodal.resize(media, target = 64)
      .select(col("id"), md5(col("resized")).as("resized_md5"),
        length(col("resized")).cast("long").as("resized_bytes"))
      .orderBy("id")
  }

  val multimodalResizeSql: String =
    """SELECT doc_id AS id,
      |       md5(CASE WHEN octet_length(encode(text)) <= 64 THEN text
      |                ELSE array_to_string(list_transform(range(0, 64),
      |                  i -> text[CAST(i * octet_length(encode(text)) // 64 AS BIGINT) + 1]), '')
      |           END) AS resized_md5,
      |       CAST(least(octet_length(encode(text)), 64) AS BIGINT) AS resized_bytes
      |FROM documents ORDER BY id""".stripMargin

  /** Order-sensitive document fingerprint (rolling hash). The raw
    * 64-bit values are engine-own, but since r10 DuckDB recomputes them
    * bit-for-bit ([[docFingerprintSql]] — HUGEINT mod-2^64 emulation of
    * the FNV-1a/splitmix64 family); `fingerprint_dup_pairs` below
    * additionally gates the kernel through planted-duplicate pairs. */
  val docFingerprint: QueryFn = (s, dir) =>
    TextDedup.fingerprints(t(s, dir, "documents")).orderBy("doc_id")

  /** Fingerprint-equality dup pairs: the rolling hash is a function of
    * the token stream, and `split(text, " ", -1)` ⟷ single-space join is
    * bijective, so fingerprints are equal iff TEXTS are equal (modulo a
    * ~2⁻⁶⁴ collision that deterministic testdata either has or hasn't —
    * it hasn't). That makes the pair set DuckDB-checkable as pairs of
    * identical documents, gating the fingerprint kernel end-to-end while
    * the raw hash values stay rows-only. The raw corpus has no identical
    * texts (a 0=0 compare gates nothing), so every 20th document is
    * PLANTED as an exact copy at doc_id + 10⁷ on BOTH sides — the same
    * structural-recall trick as `embedding_lsh_pairs`. Fingerprint table
    * persisted so the self-join doesn't run the UDF once per branch. */
  /** Shared scaffold of the planted-dup kernel gates: self-join a keyed
    * table on key equality, emit ordered id pairs. Persisted so the
    * self-join doesn't run the keying kernel once per branch (same
    * discipline as bandedCandidates); localCheckpoint materializes the
    * (tiny) pair set so the cache can be released immediately. */
  private def equalityPairs(keyed: DataFrame, idCol: String,
                            keyCol: String): DataFrame = {
    val fp = keyed.persist()
    val a = fp.as("a"); val b = fp.as("b")
    try a.join(b,
        col(s"a.$keyCol") === col(s"b.$keyCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .orderBy("id1", "id2")
      .localCheckpoint()
    finally fp.unpersist()
  }

  val fingerprintDupPairs: QueryFn = (s, dir) => {
    val base = t(s, dir, "documents").select("doc_id", "text")
    val planted = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    equalityPairs(TextDedup.fingerprints(base.unionByName(planted)),
      "doc_id", "fingerprint")
  }

  val fingerprintDupPairsSql: String =
    """WITH t AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS doc_id, text FROM documents
      |  WHERE doc_id % 20 = 0
      |)
      |SELECT a.doc_id AS id1, b.doc_id AS id2
      |FROM t a JOIN t b ON a.text = b.text AND a.doc_id < b.doc_id
      |ORDER BY id1, id2""".stripMargin

  /** Vector SimHash fingerprints (reference E7 LSH cache keys; .NET
    * Random parity is impossible so the hyperplane family is engine-own
    * — but since r10 the raw 64-bit values ARE DuckDB-oracled: the
    * Rademacher signs come from [[graft.functions.StableHash.mix64]],
    * which `mix64StagesSql` re-derives in SQL (HUGEINT mod-2^64
    * emulation), and the per-bit accumulation is an ORDERED
    * `list_reduce` over doubles, reproducing the kernel's sequential
    * IEEE adds bit-for-bit (each ±1·float product is exact in double,
    * and double addition is deterministic given order). */
  val simhashBuckets: QueryFn = (s, dir) =>
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorSimHash.simhashCol(col("embedding")).as("simhash"))
      .orderBy("vec_id")

  /** Emit the SQL columns of one staged splitmix64 finalizer: `src` (a
    * HUGEINT expression in [0, 2^64)) → column `out`, via lateral column
    * aliases so each wrap-around multiply is written once. 64-bit
    * wrap-around arithmetic is emulated in DuckDB HUGEINT (int128):
    * `x * C mod 2^64` with C = hi·2^32 + lo splits into
    * `x·lo + ((x·hi) mod 2^32)·2^32` so no intermediate exceeds 2^97
    * (DuckDB HUGEINT errors on 128-bit overflow rather than wrapping —
    * the reason NOTES_r7 originally judged these kernels
    * non-SQL-expressible); logical shifts are exact divisions on the
    * non-negative domain; `xor` is native on HUGEINT. Constants are
    * splitmix64's (public domain, Steele et al.). */
  private def mix64StagesSql(src: String, out: String): String =
    s"""($src + ${BigInt(java.lang.Long.toUnsignedString(0x9e3779b97f4a7c15L))}) % 18446744073709551616 AS m1_$out,
       |    xor(m1_$out, m1_$out // 1073741824) AS y1_$out,
       |    (y1_$out * ${0x1ce4e5b9L} + ((y1_$out * ${0xbf58476dL}) % 4294967296) * 4294967296) % 18446744073709551616 AS m2_$out,
       |    xor(m2_$out, m2_$out // 134217728) AS y2_$out,
       |    (y2_$out * ${0x133111ebL} + ((y2_$out * ${0x94d049bbL}) % 4294967296) * 4294967296) % 18446744073709551616 AS m3_$out,
       |    xor(m3_$out, m3_$out // 2147483648) AS $out""".stripMargin

  /** [0,2^64) HUGEINT expression → signed BIGINT (two's complement). */
  private def toSignedSql(src: String): String =
    s"CAST(CASE WHEN $src >= 9223372036854775808 THEN $src - 18446744073709551616 ELSE $src END AS BIGINT)"

  /** The rolling-hash fingerprint, recomputed in DuckDB. Exactness
    * argument: (1) per-token FNV-1a is a sequential fold whose step is
    * small enough to inline in a `list_reduce` lambda — the FNV prime
    * 2^40+0x1b3 makes `h·p mod 2^64 = (h mod 2^24)·2^40 + h·0x1b3`;
    * (2) the corpus is pure ASCII (verified: octet_length(encode(text))
    * = length(text) for every row at every SF), so `unicode(tok[i])` IS
    * the UTF-8 byte; (3) the token-level roll `h·p + tokHash` is the
    * same fold over the finalized token hashes, ordered by token index;
    * (4) both splitmix64 finalizers run through [[mix64StagesSql]].
    * Scala Long wrap-around ≡ mod-2^64 two's complement throughout. */
  val docFingerprintSql: String = {
    val fnvStep =
      "((xor(h, c) % 16777216) * 1099511627776 + xor(h, c) * 435) % 18446744073709551616"
    s"""WITH tok AS (
       |  SELECT doc_id, i AS j, l[i] AS tok
       |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d,
       |       UNNEST(range(1, len(l)+1)) AS u(i)
       |), raw AS (
       |  SELECT doc_id, j,
       |    list_reduce(
       |      list_prepend(14695981039346656037::HUGEINT,
       |        list_transform(range(1, length(tok)+1), c -> CAST(unicode(tok[c]) AS HUGEINT))),
       |      (h, c) -> $fnvStep) AS h0
       |  FROM tok
       |), tokh AS (
       |  SELECT doc_id, j,
       |    ${mix64StagesSql("h0", "th")}
       |  FROM raw
       |), doc AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(0::HUGEINT, list(th ORDER BY j)),
       |      (acc, v) -> ((acc % 16777216) * 1099511627776 + acc * 435 + v) % 18446744073709551616
       |    ) AS hr
       |  FROM tokh GROUP BY doc_id
       |), fin AS (
       |  SELECT doc_id,
       |    ${mix64StagesSql("hr", "fp")}
       |  FROM doc
       |)
       |SELECT doc_id, ${toSignedSql("fp")} AS fingerprint
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** The vector-SimHash fingerprint, recomputed in DuckDB. The sign
    * planes are data-independent — three staged mix64 passes over a
    * 64×dim (bit, dim) grid, with dim DERIVED from the embeddings
    * themselves (distinct-unnested per-row ranges; `range()` as a table
    * function only takes constants, so a fixed bound would silently
    * null-pad if the driver ever regenerated testdata wider) —
    * aggregated into one ordered ±1 list per bit; each (vector, bit)
    * sum is then an ORDERED `list_reduce` of exact double products,
    * matching the kernel's sequential accumulation IEEE-exactly. Bits
    * assemble via exact HUGEINT shifts (`power()` is floating and
    * loses low bits). */
  val simhashBucketsSql: String =
    s"""WITH bb AS (
       |  SELECT CAST(i AS HUGEINT) AS b,
       |    ${mix64StagesSql("CAST(i AS HUGEINT)", "mb")}
       |  FROM range(0, 64) t(i)
       |), bs AS (
       |  SELECT b,
       |    ${mix64StagesSql("xor(42::HUGEINT, mb)", "base")}
       |  FROM bb
       |), sg AS (
       |  SELECT b, i,
       |    ${mix64StagesSql("xor(base, CAST(i AS HUGEINT))", "h")}
       |  FROM bs CROSS JOIN (
       |    SELECT DISTINCT unnest(range(0, len(embedding))) AS i
       |    FROM embeddings) d
       |), sgnlist AS (
       |  SELECT b, list(CASE WHEN h % 2 = 1 THEN 1.0 ELSE -1.0 END ORDER BY i) AS sl
       |  FROM sg GROUP BY b
       |), sums AS (
       |  SELECT e.vec_id, s.b,
       |    list_reduce(
       |      list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(range(1, len(e.embedding)+1),
       |          i -> s.sl[i] * CAST(e.embedding[i] AS DOUBLE))),
       |      (a, v) -> a + v) AS s
       |  FROM embeddings e CROSS JOIN sgnlist s
       |), fp AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN s >= 0 THEN 1::HUGEINT << CAST(b AS INT) ELSE 0::HUGEINT END) AS HUGEINT) AS f
       |  FROM sums GROUP BY vec_id
       |)
       |SELECT vec_id, ${toSignedSql("f")} AS simhash
       |FROM fp ORDER BY vec_id""".stripMargin

  /** C4-style span dedup over the documents corpus: every 10-token span
    * occurring more than once corpus-wide is stripped from every document
    * (Raffel et al. 2020 §2.2; TextDedup.dedupSpans). The exact-duplicate
    * documents in the corpus guarantee hits (their spans erase each
    * other), and the reassembled clean_text is compared verbatim against
    * the DuckDB oracle — ordering, separators, and the all-removed empty
    * case included. */
  val spanDedup: QueryFn = (s, dir) =>
    TextDedup.dedupSpans(t(s, dir, "documents"), width = 10).orderBy("doc_id")

  val spanDedupSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), sp AS (
      |  SELECT doc_id, CAST(ceil(len(t) / 10.0) AS BIGINT) AS n_spans,
      |         i AS span_idx,
      |         array_to_string(t[(i*10+1):(i*10+10)], ' ') AS span
      |  FROM toks,
      |       UNNEST(generate_series(0, CAST(ceil(len(t) / 10.0) AS BIGINT) - 1)) AS g(i)
      |), cnt AS (
      |  SELECT span, count(*) AS c FROM sp GROUP BY 1
      |)
      |SELECT doc_id, n_spans,
      |       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |       coalesce(string_agg(CASE WHEN c <= 1 THEN span END, ' ' ORDER BY span_idx), '') AS clean_text
      |FROM sp JOIN cnt USING (span)
      |GROUP BY doc_id, n_spans ORDER BY doc_id""".stripMargin

  /** SimHash-equality pairs under planted ×2 copies: sign(r·(2v)) =
    * sign(2(r·v)) and ×2.0f is a pure exponent shift (every product and
    * the accumulated sum double EXACTLY), so a scaled copy must share the
    * full 64-bit fingerprint — while two random embeddings collide with
    * ~2⁻⁶⁴ probability. The pair set is therefore exactly the planted
    * pairs, a DuckDB-checkable fact that gates the SimHash kernel
    * (determinism + scale invariance) end-to-end; the raw fingerprints
    * stay rows-only above. A natural collision or a flipped sign would
    * surface as an extra/missing row and fail the compare. */
  val simhashDupPairs: QueryFn = (s, dir) => {
    val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    equalityPairs(
      base.unionByName(planted).select(col("vec_id"),
        graft.functions.VectorSimHash.simhashCol(col("embedding")).as("sh")),
      "vec_id", "sh")
  }

  // DERIVED oracle, not a hardcoded planted list: simhash-equal pairs in
  // this construction are exactly the identical-or-×2-scaled embedding
  // pairs (×2 is exact in both engines — pure exponent shift), so the
  // oracle joins on that property and stays correct if a future testdata
  // set happens to contain naturally identical embedding rows.
  val simhashDupPairsSql: String =
    """WITH t AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000000 AS vec_id,
      |         list_transform(embedding, x -> x * 2) AS embedding
      |  FROM embeddings WHERE vec_id % 20 = 0
      |)
      |SELECT a.vec_id AS id1, b.vec_id AS id2
      |FROM t a JOIN t b
      |  ON (a.embedding = b.embedding
      |      OR a.embedding = list_transform(b.embedding, x -> x * 2)
      |      OR list_transform(a.embedding, x -> x * 2) = b.embedding)
      | AND a.vec_id < b.vec_id
      |ORDER BY id1, id2""".stripMargin

  /** Per-query history features (A17: hit_rate + revisit interval over a
    * query log, src/Pyrope.AISidecar/feature_engineering.py:60-114). Here
    * user_id plays the query key; "hit" = value < 50. All arithmetic is
    * integer counts and exact divisions. */
  val queryHistory: QueryFn = (s, dir) =>
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_seen"),
        sum(when(col("value") < 50, 1L).otherwise(0L)).as("n_hits"),
        max(expr("ts div 1000000000")).as("last_seen_sec"),
        min(expr("ts div 1000000000")).as("first_seen_sec"))
      .withColumn("hit_rate", col("n_hits") / col("n_seen"))
      .withColumn("mean_gap_sec",
        when(col("n_seen") > 1,
          (col("last_seen_sec") - col("first_seen_sec")) / (col("n_seen") - 1)))
      .orderBy("user_id")

  val queryHistorySql: String =
    """SELECT user_id, n_seen, n_hits, last_seen_sec, first_seen_sec,
      |       n_hits * 1.0 / n_seen AS hit_rate,
      |       CASE WHEN n_seen > 1
      |            THEN (last_seen_sec - first_seen_sec) * 1.0 / (n_seen - 1) END AS mean_gap_sec
      |FROM (
      |  SELECT user_id, count(*) AS n_seen,
      |         CAST(sum(CASE WHEN value < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |         max(epoch_ns(ts) // 1000000000) AS last_seen_sec,
      |         min(epoch_ns(ts) // 1000000000) AS first_seen_sec
      |  FROM events GROUP BY 1
      |) ORDER BY user_id""".stripMargin

  /** Multimodal plumbing end-to-end: documents' text bytes play the opaque
    * media payload; features come out of the batch `mapPartitions` decode
    * path (StubCodec — deterministic, so DuckDB can oracle it). */
  val multimodalFeatures: QueryFn = (s, dir) => {
    val media = t(s, dir, "documents").select(
      col("doc_id").as("id"), lit("text").as("modality"),
      encode(col("text"), "UTF-8").as("bytes"))
    graft.operators.Multimodal.featurize(media).orderBy("id")
  }

  val multimodalFeaturesSql: String =
    """SELECT doc_id AS id, 'text' AS modality,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       CAST(ascii(text[1]) AS INTEGER) AS head_byte,
      |       CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS frame_count,
      |       CAST(list_sum(list_transform(range(1, length(text) + 1),
      |            i -> ascii(text[i]))) AS BIGINT) AS checksum
      |FROM documents ORDER BY id""".stripMargin

  /** Frame sampling over binary payloads (every 2nd 256-byte block). */
  val multimodalFrames: QueryFn = (s, dir) => {
    val media = t(s, dir, "documents").select(
      col("doc_id").as("id"), lit("text").as("modality"),
      encode(col("text"), "UTF-8").as("bytes"))
    graft.operators.Multimodal.sampleFrames(media, stride = 2)
      .select(col("id"), col("frame_no"), md5(col("frame")).as("frame_md5"),
        length(col("frame")).cast("long").as("frame_bytes"))
      .orderBy("id", "frame_no")
  }

  // documents are ASCII, so a string slice is byte-identical to the blob
  // slice the Spark side hashes (DuckDB 1.0 has no BLOB substring).
  val multimodalFramesSql: String =
    """SELECT doc_id AS id, f AS frame_no,
      |       md5(substring(text, CAST(f * 256 + 1 AS BIGINT), 256)) AS frame_md5,
      |       CAST(length(substring(text, CAST(f * 256 + 1 AS BIGINT), 256)) AS BIGINT) AS frame_bytes
      |FROM (
      |  SELECT doc_id, text,
      |         unnest(range(0, (octet_length(encode(text)) + 255) // 256, 2)) AS f
      |  FROM documents
      |) ORDER BY id, frame_no""".stripMargin

  // ---------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------

  val all: Map[String, QueryFn] = Map(
    "knn_dot" -> knnDot,
    "knn_cosine" -> knnCosine,
    "sql_knn_cosine" -> sqlKnnCosine,
    "knn_l2" -> knnL2,
    "ivf_flat_search" -> ivfFlatSearch,
    "ivf_rows_search" -> ivfRowsSearch,
    "ivf_cosine_search" -> ivfCosineSearch,
    "ivf_pq_search" -> ivfPqSearch,
    "sq8_search" -> sq8Search,
    "hnsw_search" -> hnswSearch,
    "hnsw_rows_search" -> hnswRowsSearch,
    "hnsw_beam_filtered" -> hnswBeamFiltered,
    "engine_pq_search" -> enginePqSearch,
    "engine_pq_refined_rows" -> enginePqRefinedRows,
    "engine_pq_refined_filtered" -> enginePqRefinedFiltered,
    "engine_pq_cosine" -> enginePqCosine,
    "engine_pq_ip" -> enginePqIp,
    "engine_cached_search" -> engineCachedSearch,
    "engine_prefetch_hit" -> enginePrefetchHit,
    "delta_merge_knn" -> deltaMergeKnn,
    "knn_tag_filtered" -> knnTagFiltered,
    "hydration_knn" -> hydrationKnn,
    "q1_pricing" -> q1Pricing,
    "current_state" -> currentState,
    "billing_usage" -> billingUsage,
    "monthly_budget" -> monthlyBudget,
    "write_heat" -> writeHeat,
    "daily_limit_violations" -> qpsViolations,
    "percentiles_by_type" -> percentilesByType,
    "slo_windows" -> sloWindows,
    "round_k_buckets" -> roundKBuckets,
    "namespace_validation" -> namespaceValidation,
    "top_orders_by_nation" -> topOrdersByNation,
    "cache_epoch_lookup" -> cacheEpochLookup,
    "alias_lookup" -> aliasLookup,
    "semantic_admission" -> semanticAdmission,
    "latency_histogram" -> latencyHistogram,
    "qps_window" -> qpsWindow,
    "markov_transitions" -> markovTransitions,
    "markov_rules" -> markovRules,
    "dedup_exact" -> dedupExact,
    "token_count" -> tokenCount,
    "bpe_token_count" -> bpeTokenCount,
    "text_repetition" -> textRepetition,
    "pii_scan" -> piiScan,
    "corpus_clean" -> corpusClean,
    "multimodal_resize" -> multimodalResize,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_jaccard_rarefirst" -> dedupJaccardRareFirst,
    "dedup_minhash" -> dedupMinhash,
    "dedup_components" -> dedupComponents,
    "dedup_pipeline" -> dedupPipeline,
    "dedup_star_pipeline" -> dedupStarPipeline,
    "dedup_star2_pipeline" -> dedupStar2Pipeline,
    "dedup_batched_pipeline" -> dedupBatchedPipeline,
    "span_dedup" -> spanDedup,
    "corpus_sample" -> corpusSample,
    "decontamination" -> decontamination,
    "dedup_simhash" -> dedupSimhash,
    "embedding_top_pairs" -> embeddingTopPairs,
    "embedding_lsh_pairs" -> embeddingLshPairs,
    "text_quality" -> textQuality,
    "lang_id" -> langId,
    "doc_fingerprint" -> docFingerprint,
    "fingerprint_dup_pairs" -> fingerprintDupPairs,
    "simhash_buckets" -> simhashBuckets,
    "simhash_dup_pairs" -> simhashDupPairs,
    "multimodal_features" -> multimodalFeatures,
    "multimodal_frames" -> multimodalFrames,
    "query_history" -> queryHistory,
  )

  val oracles: Map[String, String] = Map(
    "knn_dot" -> knnDotSql,
    "knn_cosine" -> knnCosineSql,
    "sql_knn_cosine" -> knnCosineSql, // same surface through spark.sql
    "knn_l2" -> knnL2Sql,
    // exhaustive-probe configs are exact ⇒ the IVF family shares the
    // brute-force oracles (rank-only where our score scale differs)
    "ivf_flat_search" -> knnL2Sql,
    "ivf_rows_search" -> knnL2Sql,
    "ivf_cosine_search" -> knnCosineSql,
    "ivf_pq_search" -> knnL2Sql,
    "engine_pq_search" -> knnL2Sql,
    "engine_pq_refined_rows" -> enginePqRefinedRowsSql,
    "engine_pq_refined_filtered" -> enginePqRefinedFilteredSql,
    "engine_pq_cosine" -> knnCosineRankSql,
    "engine_pq_ip" -> knnDotSql,
    "hnsw_search" -> hnswExactSql,
    "hnsw_rows_search" -> hnswExactSql,
    "hnsw_beam_filtered" -> hnswBeamFilteredSql,
    "fingerprint_dup_pairs" -> fingerprintDupPairsSql,
    "simhash_dup_pairs" -> simhashDupPairsSql,
    // r10: the raw 64-bit hash dumps, previously rows-only — DuckDB
    // recomputes the FNV-1a + splitmix64 family exactly via HUGEINT
    // mod-2^64 emulation (see mix64StagesSql)
    "doc_fingerprint" -> docFingerprintSql,
    "simhash_buckets" -> simhashBucketsSql,
    "sq8_search" -> sq8SearchSql,
    "engine_cached_search" -> engineCachedSearchSql,
    "engine_prefetch_hit" -> enginePrefetchHitSql,
    "delta_merge_knn" -> deltaMergeKnnSql,
    "knn_tag_filtered" -> knnTagFilteredSql,
    "hydration_knn" -> hydrationKnnSql,
    "q1_pricing" -> q1PricingSql,
    "current_state" -> currentStateSql,
    "billing_usage" -> billingUsageSql,
    "monthly_budget" -> monthlyBudgetSql,
    "write_heat" -> writeHeatSql,
    "daily_limit_violations" -> qpsViolationsSql,
    "percentiles_by_type" -> percentilesByTypeSql,
    "slo_windows" -> sloWindowsSql,
    "round_k_buckets" -> roundKBucketsSql,
    "namespace_validation" -> namespaceValidationSql,
    "top_orders_by_nation" -> topOrdersByNationSql,
    "cache_epoch_lookup" -> cacheEpochLookupSql,
    "alias_lookup" -> aliasLookupSql,
    "semantic_admission" -> semanticAdmissionSql,
    "latency_histogram" -> latencyHistogramSql,
    "qps_window" -> qpsWindowSql,
    "markov_transitions" -> markovTransitionsSql,
    "markov_rules" -> markovRulesSql,
    "dedup_exact" -> dedupExactSql,
    "token_count" -> tokenCountSql,
    "bpe_token_count" -> bpeTokenCountSql,
    "text_repetition" -> textRepetitionSql,
    "pii_scan" -> piiScanSql,
    "corpus_clean" -> corpusCleanSql,
    "multimodal_resize" -> multimodalResizeSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    // identical output by the prefix-filter guarantee (rarest-first is a
    // candidate-generation strategy, not a semantics change)
    "dedup_jaccard_rarefirst" -> dedupNgramJaccardSql,
    // LSH candidates + exact verify = the exact pair set (recall argument
    // in the query's scaladoc), so minhash shares the same oracle too
    "dedup_minhash" -> dedupNgramJaccardSql,
    "dedup_components" -> dedupComponentsSql,
    "dedup_pipeline" -> dedupPipelineSql,
    "dedup_star_pipeline" -> dedupPipelineSql, // same keep-set, see scaladoc
    "dedup_star2_pipeline" -> dedupPipelineSql, // same keep-set, see scaladoc
    "dedup_batched_pipeline" -> dedupPipelineSql, // same keep-set, see scaladoc
    "dedup_simhash" -> dedupSimhashSql,
    "span_dedup" -> spanDedupSql,
    "corpus_sample" -> corpusSampleSql,
    "decontamination" -> decontaminationSql,
    "embedding_top_pairs" -> embeddingTopPairsSql,
    "embedding_lsh_pairs" -> embeddingLshPairsSql,
    "text_quality" -> textQualitySql,
    "lang_id" -> langIdSql,
    "multimodal_features" -> multimodalFeaturesSql,
    "multimodal_frames" -> multimodalFramesSql,
    "query_history" -> queryHistorySql,
  )
}
