package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.{toColumn, toExpression}

/** Column-level API over the graft expression library.
  *
  * Score convention follows the reference ("higher is better"; L2 stored
  * negated — reference: src/Pyrope.GarnetServer/Vector/BruteForceVectorIndex.cs:350-356).
  */
package object functions {

  private[graft] def mkCol(e: Expression): Column = toColumn(e)
  private[graft] def mkExpr(c: Column): Expression = toExpression(c)

  def vector_dot(a: Column, b: Column): Column = mkCol(VectorDot(mkExpr(a), mkExpr(b)))
  def vector_l2sq(a: Column, b: Column): Column = mkCol(VectorL2Sq(mkExpr(a), mkExpr(b)))
  def vector_cosine(a: Column, b: Column): Column = mkCol(VectorCosine(mkExpr(a), mkExpr(b)))
  def vector_norm(a: Column): Column = mkCol(VectorNorm(mkExpr(a)))

  /** Unit-normalized copy of the vector (zero vectors pass through
    * unchanged, matching the cosine kernel's zero-norm guard). On unit
    * vectors ‖a−b‖² = 2 − 2·cos(a,b), so L2 machinery over normalized
    * copies ranks exactly like cosine — the transform behind the engine's
    * COSINE IVF_PQ tails.
    *
    * A UDF on purpose: a `transform(v, x => x / vector_norm(v))` HOF
    * form re-evaluates the captured norm subtree once PER ELEMENT
    * (O(dim²) per vector — the same Catalyst lambda-capture pitfall
    * documented at TextDedup.shinglesOfTokens), and projecting the norm
    * to a column first is fragile under CollapseProject re-inlining.
    * The UDF computes the norm exactly once per row. */
  private lazy val unitUdf = {
    import org.apache.spark.sql.functions.udf
    udf { (v: Seq[Float]) =>
      if (v == null) null // NULL in → NULL out, like the native exprs
      else {
        val a = floatArray(v)
        val out = unitArray(a)
        if (out eq a) v else scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      }
    }
  }

  /** [[vector_unit]]'s kernel over one array; a zero vector comes back
    * as the same array. */
  private[graft] def unitArray(a: Array[Float]): Array[Float] = {
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

  def vector_unit(v: Column): Column = unitUdf(v)

  /** MIPS→L2 augmentation (Bachrach et al., RecSys 2014 "Speeding up the
    * Xbox recommender"): append sqrt(M² − ‖x‖²) to each corpus vector,
    * where M = max corpus norm. Every augmented vector then has norm
    * exactly M, and for an augmented query q' = [q, 0]:
    * ‖q'−x'‖² = ‖q‖² + M² − 2⟨q,x⟩ — so L2 ranking over the augmented
    * space IS inner-product ranking over the raw space. This is the
    * transform behind the engine's IP IVF_PQ tails (the reference serves
    * IP over untransformed L2 codes as a raw proxy,
    * IvfPqVectorIndex.cs:163-199 — rank-incorrect; this is the correct
    * reduction). Same single-pass-UDF rationale as [[vector_unit]].
    * The max(0, ·) clamp absorbs float rounding at the max-norm vector. */
  private lazy val mipsAugmentUdf = {
    import org.apache.spark.sql.functions.udf
    udf { (v: Seq[Float], maxSq: Double, targetLen: Int) =>
      if (v == null) null
      else scala.collection.immutable.ArraySeq.unsafeWrapArray(
        mipsAugmentArray(floatArray(v), maxSq, targetLen))
    }
  }

  /** [[vector_mips_augment]]'s kernel over one array. */
  private[graft] def mipsAugmentArray(a: Array[Float], maxSq: Double,
                                      targetLen: Int): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i); i += 1 }
    val out = new Array[Float](math.max(targetLen, a.length + 1))
    System.arraycopy(a, 0, out, 0, a.length)
    out(a.length) = math.sqrt(math.max(0.0, maxSq - s)).toFloat
    // positions past a.length + 1 stay 0f: zero pads keep every L2
    // distance and dot product unchanged while restoring the PQ
    // subspace divisibility (dim+1 is rarely divisible by M)
    out
  }

  def vector_mips_augment(v: Column, maxSq: Column, targetLen: Column): Column =
    mipsAugmentUdf(v, maxSq, targetLen)

  /** Metric-aware score, uniformly "higher is better"
    * (L2 → -distance², InnerProduct → dot, Cosine → cosine). */
  def vector_score(metric: String, query: Column, v: Column): Column =
    metric.toUpperCase(java.util.Locale.ROOT) match {
      case "L2"                  => -vector_l2sq(query, v)
      case "IP" | "INNERPRODUCT" => vector_dot(query, v)
      case "COSINE"              => vector_cosine(query, v)
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }

  /** Primitive-array view of a UDF-provided Seq — Spark's UDF input
    * conversion can hand over wrappers with O(n) positional access, so a
    * kernel that INDEXES its input must normalize to an array first
    * (measured 70× on the simhash kernel: 3.2 ms/row through the wrapper
    * vs 46 µs on an array). Iteration-only kernels (foreach) are safe. */
  def floatArray(v: Seq[Float]): Array[Float] = v match {
    case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
    case _ => v.toArray
  }

  def doubleArray(v: Seq[Double]): Array[Double] = v match {
    case w: scala.collection.immutable.ArraySeq.ofDouble => w.unsafeArray
    case _ => v.toArray
  }

  def longArray(v: Seq[Long]): Array[Long] = v match {
    case w: scala.collection.immutable.ArraySeq.ofLong => w.unsafeArray
    case _ => v.toArray
  }

  /** Register SQL-callable versions of the vector functions, including the
    * bounded top-k aggregate — SQL users get the same map-side heap the
    * Column API uses (never a window over the full scored product). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("vector_dot", es => VectorDot(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vector_l2sq", es => VectorL2Sq(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vector_cosine", es => VectorCosine(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vector_norm", es => VectorNorm(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("vector_topk", es => {
      val k = es(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"vector_topk(id, score, k): k must be an integer literal, got $other")
      }
      graft.operators.TopKHits(es(0), es(1), k)
    }, "scala_udf")
  }
}
