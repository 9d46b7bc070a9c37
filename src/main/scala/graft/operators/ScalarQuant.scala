package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar (uint8) quantization: global min/max affine mapping to 0..255.
  *
  * Capability mirror of the reference's ScalarQuantizer
  * (reference: src/Pyrope.GarnetServer/Vector/ScalarQuantizer.cs:8-85) and
  * its quantized distance fast path
  * (reference: Vector/VectorMath.cs:435-681, BruteForceVectorIndex.cs:296-335):
  * distances are computed in integer space and rescaled by delta², trading
  * exactness for 4× smaller vectors and integer arithmetic.
  */
object ScalarQuant {

  case class Params(min: Float, max: Float) {
    def delta: Double = if (max > min) (max - min) / 255.0 else 1.0
  }

  /** Persist quantization params (the reference snapshots its quantizer
    * state alongside the codes — ScalarQuantizer.cs:8-85 + S11). Tiny
    * fixed-size state → single JSON file. */
  def saveParams(p: Params, path: String): Unit = {
    val f = java.nio.file.Paths.get(path)
    if (f.getParent != null) java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.writeString(f, renderParams(p))
  }

  def loadParams(path: String): Params =
    parseParams(path, graft.Json.readFile(java.nio.file.Paths.get(path)))

  private[graft] def renderParams(p: Params): String =
    s"""{"min": ${p.min}, "max": ${p.max}}"""

  /** Floats read from their own decimal text: bit-exact round trip. */
  private[graft] def parseParams(source: String, s: String): Params = {
    val o = graft.Json.parse(s"bad params file $source", s)
    Params(o.need("min")(o.float), o.need("max")(o.float))
  }

  /** Train = global min/max over every vector element. */
  def train(vectors: DataFrame, vecCol: String = "vec"): Params = {
    val r = vectors.agg(
      min(array_min(col(vecCol))).as("mn"),
      max(array_max(col(vecCol))).as("mx")).head
    Params(r.getFloat(0), r.getFloat(1))
  }

  private def encodeArr(v0: Seq[Float], mn: Float, mx: Float): Array[Byte] = {
    val v = graft.functions.floatArray(v0) // indexed per element below
    val scale = if (mx > mn) 255.0 / (mx - mn) else 0.0
    val out = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) {
      // half-up rounding (floor(x+0.5)): engine-independent, so a SQL
      // oracle can reproduce codes bit-exactly (rint's half-even cannot
      // be expressed portably)
      val q = math.floor((v(i) - mn) * scale + 0.5)
      out(i) = math.max(0.0, math.min(255.0, q)).toInt.toByte
      i += 1
    }
    out
  }

  private def decodeArr(b: Array[Byte], mn: Float, mx: Float): Seq[Float] = {
    val delta = if (mx > mn) (mx - mn) / 255.0 else 0.0
    b.map(x => (mn + (x & 0xff) * delta).toFloat).toSeq
  }

  /** uint8 squared-L2 in quantized space, rescaled to original units. */
  private def l2sq8(a: Array[Byte], b: Array[Byte], delta: Double): Double =
    l2sq8Int(a, b) * delta * delta

  private def l2sq8Int(a: Array[Byte], b: Array[Byte]): Long = {
    require(a.length == b.length, s"dim mismatch ${a.length} vs ${b.length}")
    var s = 0L
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      s += d.toLong * d
      i += 1
    }
    s
  }

  def encodeCol(p: Params)(v: Column): Column =
    udf((x: Seq[Float]) => encodeArr(x, p.min, p.max)).apply(v)

  def decodeCol(p: Params)(b: Column): Column =
    udf((x: Array[Byte]) => decodeArr(x, p.min, p.max)).apply(b)

  /** Quantize a vector table: adds a `qvec8 BINARY` column. */
  def encode(vectors: DataFrame, p: Params, vecCol: String = "vec"): DataFrame =
    vectors.withColumn("qvec8", encodeCol(p)(col(vecCol)))

  /** Brute-force top-k over quantized codes (L2 only — the reference's
    * SQ8 fast path). queries must carry `qvec8` produced with the same
    * Params. Score = -scaled-distance², higher is better.
    *
    * `integerScore = true` emits the raw integer Σd² (negated, BIGINT)
    * instead of the delta²-rescaled double: ranking is identical (the
    * rescale is a positive constant), and integer scores hash identically
    * across engines — no float-rounding boundary can flip a digit. The
    * integer distance fits a Long exactly (≤ 255²·dim), and the Double
    * aggregate buffer is exact below 2^53, so the final cast is lossless. */
  def knn(vectors: DataFrame, queries: DataFrame, p: Params, k: Int,
          integerScore: Boolean = false): DataFrame = {
    val delta = p.delta
    val dist =
      if (integerScore) udf((a: Array[Byte], b: Array[Byte]) => -l2sq8Int(a, b).toDouble)
      else udf((a: Array[Byte], b: Array[Byte]) => -l2sq8(a, b, delta))
    val q = broadcast(queries.select(col("query_id"), col("qvec8").as("q8")))
    val scored = vectors
      .crossJoin(q)
      .select(col("query_id"), col("id"),
        dist(col("qvec8"), col("q8")).as("score"))
    val ranked = TopK.perGroup(scored, Seq("query_id"), k)
    if (integerScore) ranked.withColumn("score", col("score").cast("long"))
    else ranked
  }
}
