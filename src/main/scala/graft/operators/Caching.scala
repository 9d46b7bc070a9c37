package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Layered result-cache semantics as table operations.
  *
  * The reference's 4-level semantic cache (L0 exact / L0.5 canonical alias /
  * L1 SimHash / L2 cluster — reference:
  * src/Pyrope.GarnetServer/Extensions/VectorCommandSet.cs:185-421,
  * Model/QueryKey.cs:9-142) becomes a keyed materialization table plus
  * normalization expressions. .NET hash parity is impossible (process-
  * randomized), so keys use Spark's xxhash64 over a normalized struct
  * (SURVEY §7.3).
  */
object Caching {

  /** RoundK bucketing for L1/L2 key normalization
    * (reference: Model/QueryKey.cs:52-60 — k → {5,10,20,50,100,k}). */
  def roundK(k: Column): Column =
    when(k <= 5, 5).when(k <= 10, 10).when(k <= 20, 20)
      .when(k <= 50, 50).when(k <= 100, 100).otherwise(k)

  /** Stable cache key (E12): xxhash64 over the normalized key parts.
    * Tag order-independence comes from sorting the tag array first
    * (the reference XORs per-tag hashes — same property). */
  def queryKey(tenant: Column, index: Column, k: Column, metric: Column,
               tags: Column, layerKey: Column): Column =
    xxhash64(tenant, index, roundK(k), metric, array_join(sort_array(tags), ","), layerKey)

  /** Driver-side twins of [[roundK]]/[[queryKey]] for the per-call
    * serving tier: bit-identical to the Column forms (CachingSpec pins
    * the parity), so resident-map probes and batch-plan populates share
    * one key space. Spark's multi-arg xxhash64 folds children through
    * the running hash starting at seed 42. */
  def roundKLocal(k: Int): Int =
    if (k <= 5) 5 else if (k <= 10) 10 else if (k <= 20) 20
    else if (k <= 50) 50 else if (k <= 100) 100 else k

  private def xx(value: Any, dt: org.apache.spark.sql.types.DataType,
                 seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(value, dt, seed)

  def queryKeyLocal(tenant: String, index: String, k: Int, metric: String,
                    tags: Seq[String], layerKey: Long): Long = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // sort as UTF8String (UTF-8 byte / code-point order) — Scala's
    // String ordering is UTF-16 code-unit order, which diverges from
    // sort_array for supplementary characters (an emoji tag would
    // silently land on a different key than the batch populate)
    val sortedTags = tags.map(UTF8String.fromString)
      .sorted(Ordering.comparatorToOrdering(
        java.util.Comparator.naturalOrder[UTF8String]()))
      .map(_.toString)
    var h = 42L
    h = xx(UTF8String.fromString(tenant), StringType, h)
    h = xx(UTF8String.fromString(index), StringType, h)
    h = xx(roundKLocal(k), IntegerType, h)
    h = xx(UTF8String.fromString(metric), StringType, h)
    h = xx(UTF8String.fromString(sortedTags.mkString(",")), StringType, h)
    h = xx(layerKey, LongType, h)
    h
  }

  /** Driver twin of the L0 layer key `xxhash64(xxhash64(qvec), k)`. */
  def l0LayerKeyLocal(qvec: Array[Float], k: Int): Long = {
    import org.apache.spark.sql.types._
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      qvec.map(Float.box))
    val inner = xx(arr, ArrayType(FloatType), 42L)
    var h = 42L
    h = xx(inner, LongType, h)
    h = xx(k, IntegerType, h)
    h
  }

  /** L2 semantic-cluster admission threshold: base closeness relaxed by
    * log10 of query cost (reference: VectorCommandSet.cs:913-944 —
    * cosine base 0.95 / L2 base 0.05, costlier queries admit looser). */
  def closenessThreshold(metric: String, cost: Column): Column = {
    val relax = greatest(lit(0.0), log10(greatest(cost, lit(1e-9)))) * 0.01
    if (metric.equalsIgnoreCase("COSINE")) lit(0.95) - relax
    else lit(0.05) + relax // max allowed L2 distance grows with cost
  }

  /** E10 cost proxy over the indexed collection that relaxes L2
    * admission: collection size / 10000 · dim / 128. */
  def l2Cost(nVectors: Long, dim: Int): Double = nVectors / 10000.0 * (dim / 128.0)

  /** The L2 semantic-cluster key both cache cascades derive: the nearest
    * centroid by the metric (ties → lowest cluster id, the iteration
    * order of `cents`), admitted when within [[closenessThreshold]] of
    * `cost` — cosine on the score, L2 on the euclidean distance (score =
    * −d²). IP has no bounded closeness notion (reference thresholds exist
    * only for cosine/L2, VectorCommandSet.cs:913-944): layer off. The
    * threshold arithmetic is the Column form's, StrictMath.log10
    * included (PropertySpec pins the two). */
  def l2ClusterLocal(metric: String, qv: Array[Float], cost: Double,
                     cents: Array[(Int, Array[Float])]): Option[Int] = {
    val metricU = metric.toUpperCase(java.util.Locale.ROOT)
    var bcid = -1; var bs = Double.NegativeInfinity
    cents.foreach { case (cid, cv) =>
      val s = IvfFlat.candidateScore(metricU, qv, cv)
      if (s > bs) { bs = s; bcid = cid }
    }
    val relax = math.max(0.0, StrictMath.log10(math.max(cost, 1e-9))) * 0.01
    val admitted = metricU match {
      case "COSINE" => bs >= 0.95 - relax
      case "L2" => math.sqrt(-bs) <= 0.05 + relax
      case _ => false
    }
    if (admitted) Some(bcid) else None
  }

  /** Cache read: key-join the request batch into the cache table, keeping
    * only fresh entries — matching epoch (St8: every write bumps the
    * index epoch, stale entries are misses — reference:
    * VectorIndexRegistry.cs:52-68, ResultCache.cs:54-60) and unexpired TTL
    * (St7 — reference: MemoryCacheStorage.cs:20-86). */
  def lookup(requests: DataFrame, cache: DataFrame, currentEpoch: Column,
             now: Column): DataFrame =
    requests.join(cache, Seq("cache_key"), "left")
      .withColumn("hit",
        col("result").isNotNull && col("epoch") === currentEpoch &&
          (col("expires_at").isNull || col("expires_at") > now))

  /** L0.5 canonical-alias resolution: map a query hash to its canonical
    * hash when alias confidence ≥ 0.8
    * (reference: DataModel/CanonicalKeyMap.cs:18-44). */
  def resolveAlias(requests: DataFrame, aliases: DataFrame): DataFrame =
    requests.join(broadcast(
        aliases.filter(col("confidence") >= 0.8)
          .select(col("source_key"), col("canonical_key"))),
        requests("cache_key") === col("source_key"), "left")
      .withColumn("lookup_key",
        coalesce(col("canonical_key"), col("cache_key")))
      .drop("source_key", "canonical_key")
}
