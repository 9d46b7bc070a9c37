package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Double-precision kernels over float-vector columns.
  *
  * Capability mirror of the reference's SIMD distance kernels
  * (reference: src/Pyrope.GarnetServer/Vector/VectorMath.cs:8-125) —
  * re-expressed as tight JVM loops over Spark `ArrayData` so the JIT can
  * auto-vectorize. All accumulation is in double for a stable, engine-
  * independent result (float32 inputs convert exactly to float64).
  *
  * These static methods are called both from interpreted `eval` and from
  * generated code (see [[VectorExpressions]]), keeping whole-stage codegen
  * intact without hand-writing loop codegen.
  */
object VectorKernels {

  @inline private def checkDims(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n) {
      throw new graft.DimensionMismatchException(
        s"vector dimension mismatch: ${n} vs ${b.numElements()}")
    }
    n
  }

  /** Dot product (reference VectorMath.DotProduct, VectorMath.cs:8-37). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Squared L2 distance (reference VectorMath.L2Squared, VectorMath.cs:39-70). */
  def l2sq(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** Euclidean norm (reference VectorMath.ComputeNorm, VectorMath.cs:72-100). */
  def norm(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble
      s += v * v
      i += 1
    }
    math.sqrt(s)
  }

  /** Cosine similarity; 0.0 when either norm < 1e-6
    * (reference VectorMath.Cosine, VectorMath.cs:102-125). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var dp = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dp += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom < 1e-6) 0.0 else dp / denom
  }
}
