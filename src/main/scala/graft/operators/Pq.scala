package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization + asymmetric-distance (ADC) search.
  *
  * Capability mirror of the reference's ProductQuantizer / IvfPqVectorIndex
  * (reference: src/Pyrope.GarnetServer/Vector/ProductQuantizer.cs:16-136,
  * Vector/IvfPqVectorIndex.cs:55-198), Spark-first:
  *
  *  - Train: the vector is split into M subspaces; each subspace gets its
  *    own KMeans codebook (K ≤ 256) — M small MLlib fits, parallel inside
  *    each fit (the reference parallelizes across subspaces instead).
  *  - Encode: nearest sub-centroid per subspace → one byte per subspace
  *    (32× compression at dim 64 / M 8 vs float32).
  *  - Search (ADC): per query, a M×K table of L2 distances from the query's
  *    subvectors to every sub-centroid is precomputed and broadcast; each
  *    candidate's score is -Σ table[m][code[m]] — a pure table-lookup scan,
  *    no float math per element.
  */
object Pq {

  /** codebooks(m)(k) = sub-centroid (length dsub). */
  case class Codebook(m: Int, dsub: Int, k: Int,
                      codebooks: Array[Array[Array[Float]]]) extends Serializable

  /** Persist a codebook as a (m, k, centroid) parquet table — the PQ half
    * of the reference's index snapshot (IvfPqVectorIndex.cs:233-298). */
  def saveCodebook(cb: Codebook, spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit = {
    import spark.implicits._
    val rows = for {
      mi <- 0 until cb.m
      ki <- 0 until cb.codebooks(mi).length
    } yield (mi, ki, cb.codebooks(mi)(ki).toSeq)
    rows.toDF("m", "k", "centroid").write.mode("overwrite").parquet(path)
  }

  def loadCodebook(spark: org.apache.spark.sql.SparkSession, path: String): Codebook = {
    import org.apache.spark.sql.types._
    val rows = spark.read.schema(StructType(Seq(StructField("m", IntegerType),
        StructField("k", IntegerType), StructField("centroid", ArrayType(FloatType)))))
      .parquet(path).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val dsub = rows.head._3.length
    val cbs = Array.fill(m, k)(new Array[Float](dsub))
    rows.foreach { case (mi, ki, c) => cbs(mi)(ki) = c }
    Codebook(m, dsub, k, cbs)
  }

  /** Train per-subspace codebooks on (id, vec).
    *
    * PQ codebooks are trained on a BOUNDED DETERMINISTIC SAMPLE
    * (`sampleCap` hash-smallest rows — one `TakeOrdered` job, no global
    * sort) and the Lloyd's loop runs driver-local, parallel across
    * subspaces — matching the reference, which trains in-process and on a
    * sample too (ProductQuantizer.cs:35-58; TrainingConfig,
    * Model/IndexConfig.cs:38-40). A distributed Lloyd's over the full
    * corpus costs ~2 Spark jobs per iteration for codebooks whose quality
    * is statistically identical on a 20k-row sample; train cost must not
    * scale with corpus size when only `encode` has to. Deterministic:
    * content-hash sampling/init ordering, empty clusters keep their
    * previous centroid. */
  def train(vectors: DataFrame, m: Int, k: Int, seed: Long = 42L,
            maxIter: Int = 10, vecCol: String = "vec",
            sampleCap: Int = 20000): Codebook =
    trainWithDim(vectors, vectors.select(size(col(vecCol))).head.getInt(0),
      m, k, seed, maxIter, vecCol, sampleCap)

  /** [[train]] for a caller that already knows the vector dimension. */
  private[graft] def trainWithDim(vectors: DataFrame, dim: Int, m: Int, k: Int,
                                  seed: Long = 42L, maxIter: Int = 10,
                                  vecCol: String = "vec",
                                  sampleCap: Int = 20000): Codebook = {
    require(dim % m == 0, s"dim $dim not divisible by M=$m")
    // bounded deterministic sample: sampleCap hash-smallest vectors
    val rows = vectors
      .select(col(vecCol).as("v"), xxhash64(col(vecCol), lit(seed)).as("h"))
      .orderBy("h").limit(sampleCap)
      .collect().map(_.getSeq[Float](0).toArray)
    lloyd(rows, dim, m, k, seed, maxIter)
  }

  /** [[trainWithDim]] over driver-held vectors: the same sample — the
    * `sampleCap` smallest by [[sampleHash]], in that order, since the
    * Lloyd sums below depend on it — and the same codebooks, bit for
    * bit, without a job. */
  private[graft] def trainLocal(vecs: Array[Array[Float]], dim: Int, m: Int,
                                k: Int, seed: Long = 42L, maxIter: Int = 10,
                                sampleCap: Int = 20000): Codebook = {
    require(dim % m == 0, s"dim $dim not divisible by M=$m")
    val hash = sampleHash(seed)
    val hs = vecs.map(hash)
    val order = Array.range(0, vecs.length).sortBy(hs(_))
    lloyd(order.take(sampleCap).map(vecs(_)), dim, m, k, seed, maxIter)
  }

  /** Driver twin of the sample key `xxhash64(vec, lit(seed))`: Spark's
    * own hash expression, evaluated on one row at a time. */
  private def sampleHash(seed: Long): Array[Float] => Long = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, XxHash64}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val expr = XxHash64(Seq(
      BoundReference(0, ArrayType(FloatType, containsNull = true), nullable = true),
      Literal(seed)), 42L)
    v => {
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      row.update(0, org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(v))
      expr.eval(row).asInstanceOf[Long]
    }
  }

  /** Per-subspace Lloyd's over the sample `rows`, in their order. */
  private def lloyd(rows: Array[Array[Float]], dim: Int, m: Int, k: Int,
                    seed: Long, maxIter: Int): Codebook = {
    require(rows.nonEmpty, "PQ train: empty input")
    val dsub = dim / m
    val n = rows.length

    val cbs = Array.fill(m, k)(new Array[Float](dsub))
    java.util.stream.IntStream.range(0, m).parallel().forEach { mi =>
      val subs = Array.tabulate(n)(i =>
        java.util.Arrays.copyOfRange(rows(i), mi * dsub, (mi + 1) * dsub))
      // deterministic init: k hash-smallest subvectors of this subspace
      val order = Array.range(0, n).sortBy { i =>
        (scala.util.hashing.MurmurHash3.arrayHash(subs(i), seed.toInt ^ mi), i)
      }
      var ki = 0
      while (ki < k) { cbs(mi)(ki) = subs(order(ki % n)).clone(); ki += 1 }

      val counts = new Array[Int](k)
      val sums = Array.fill(k)(new Array[Double](dsub))
      var iter = 0
      while (iter < maxIter) {
        java.util.Arrays.fill(counts, 0)
        sums.foreach(java.util.Arrays.fill(_, 0.0))
        var i = 0
        while (i < n) {
          val v = subs(i)
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            val cb = cbs(mi)(c)
            var d = 0.0; var j = 0
            while (j < dsub) {
              val diff = v(j).toDouble - cb(j); d += diff * diff; j += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          val s = sums(best)
          var j = 0
          while (j < dsub) { s(j) += v(j); j += 1 }
          i += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) {
            var j = 0
            while (j < dsub) {
              cbs(mi)(c)(j) = (sums(c)(j) / counts(c)).toFloat; j += 1
            }
          } // empty cluster: keep previous centroid
          c += 1
        }
        iter += 1
      }
    }
    Codebook(m, dsub, k, cbs)
  }

  /** Codebook flattened to one contiguous float buffer for the encode
    * hot loop: `flat(offs(mi) + ki·dsub + i)` — the nested
    * `codebooks(mi)(ki)(i)` layout costs two pointer chases per
    * sub-centroid element on a path run m·k·dsub times per row
    * (~32k accesses/row at the 10M rung's M=8/K=256/dsub=16). */
  private[graft] final class FlatCodebook(cb: Codebook) extends Serializable {
    val m: Int = cb.m
    val dsub: Int = cb.dsub
    val ks: Array[Int] = Array.tabulate(m)(mi => cb.codebooks(mi).length)
    val offs: Array[Int] = {
      val o = new Array[Int](m)
      var mi = 1
      while (mi < m) { o(mi) = o(mi - 1) + ks(mi - 1) * dsub; mi += 1 }
      o
    }
    val flat: Array[Float] = {
      val out = new Array[Float](ks.sum * dsub)
      var mi = 0
      while (mi < m) {
        var ki = 0
        while (ki < ks(mi)) {
          System.arraycopy(cb.codebooks(mi)(ki), 0, out,
            offs(mi) + ki * dsub, dsub)
          ki += 1
        }
        mi += 1
      }
      out
    }
  }

  /** Per-row encode kernel. BIT-IDENTICAL to the naive nested scan
    * (PqEncodeKernelSpec pins it): per-element accumulation order is
    * unchanged (sequential over dsub), centers are visited in ascending
    * ki with a strict `<`, and the early abandonment only skips a
    * center whose PARTIAL sum already reached the current best — its
    * full sum can only be ≥, so it could never have won. */
  private def encodeOne(v0: Seq[Float], fcb: FlatCodebook): Array[Byte] =
    encodeRow(graft.functions.floatArray(v0), fcb)

  /** [[encodeOne]] over a driver-held row. */
  private[graft] def encodeRow(v: Array[Float], fcb: FlatCodebook): Array[Byte] = {
    val flat = fcb.flat
    val dsub = fcb.dsub
    val out = new Array[Byte](fcb.m)
    var mi = 0
    while (mi < fcb.m) {
      val vOff = mi * dsub
      val base = fcb.offs(mi)
      var best = 0; var bestD = Double.MaxValue
      var ki = 0
      while (ki < fcb.ks(mi)) {
        val cOff = base + ki * dsub
        var d = 0.0; var i = 0
        var live = true
        while (live && i < dsub) {
          val blockEnd = math.min(i + 8, dsub)
          while (i < blockEnd) {
            val diff = v(vOff + i).toDouble - flat(cOff + i)
            d += diff * diff; i += 1
          }
          if (d >= bestD) live = false // partial ≥ best: cannot win
        }
        if (live && d < bestD) { bestD = d; best = ki }
        ki += 1
      }
      out(mi) = best.toByte
      mi += 1
    }
    out
  }

  /** Reference-shape encode (nested codebook walk, no abandonment) —
    * kept ONLY as the spec oracle for [[encodeOne]]'s bit-identity. */
  private[operators] def encodeOneNaive(v0: Seq[Float], cb: Codebook): Array[Byte] = {
    val v = graft.functions.floatArray(v0)
    val out = new Array[Byte](cb.m)
    var mi = 0
    while (mi < cb.m) {
      var best = 0; var bestD = Double.MaxValue
      var ki = 0
      while (ki < cb.codebooks(mi).length) {
        val c = cb.codebooks(mi)(ki)
        var d = 0.0; var i = 0
        while (i < cb.dsub) {
          val diff = v(mi * cb.dsub + i).toDouble - c(i)
          d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = ki }
        ki += 1
      }
      out(mi) = best.toByte
      mi += 1
    }
    out
  }

  private[operators] def encodeOneFlat(v: Seq[Float], fcb: FlatCodebook): Array[Byte] =
    encodeOne(v, fcb)

  /** Encode vectors → `codes BINARY` (one byte per subspace)
    * (reference: ProductQuantizer.cs:60-80). */
  def encode(vectors: DataFrame, cb: Codebook, vecCol: String = "vec"): DataFrame = {
    val fcb = new FlatCodebook(cb)
    val enc = udf((v: Seq[Float]) => encodeOne(v, fcb))
    vectors.withColumn("codes", enc(col(vecCol)))
  }

  /** Decode codes back to the reconstructed vector
    * (reference: ProductQuantizer.cs:82-96). */
  def decode(df: DataFrame, cb: Codebook, codesCol: String = "codes"): DataFrame = {
    val dec = udf { (codes: Array[Byte]) =>
      val out = new Array[Float](cb.m * cb.dsub)
      var mi = 0
      while (mi < cb.m) {
        val c = cb.codebooks(mi)(codes(mi) & 0xff)
        System.arraycopy(c, 0, out, mi * cb.dsub, cb.dsub)
        mi += 1
      }
      out.toSeq
    }
    df.withColumn("decoded", dec(col(codesCol)))
  }

  /** ADC distance table for one query vector: table(m)(k) = L2² between the
    * query's m-th subvector and sub-centroid k
    * (reference: ProductQuantizer.cs:98-120). */
  private[operators] def adcTableFor(q: Seq[Float], cb: Codebook): Array[Array[Double]] =
    adcTable(q, cb)

  private def adcTable(q0: Seq[Float], cb: Codebook): Array[Array[Double]] = {
    val q = graft.functions.floatArray(q0) // indexed m·k·dsub times below
    Array.tabulate(cb.m) { mi =>
      Array.tabulate(cb.codebooks(mi).length) { ki =>
        val c = cb.codebooks(mi)(ki)
        var d = 0.0; var i = 0
        while (i < cb.dsub) {
          val diff = q(mi * cb.dsub + i).toDouble - c(i)
          d += diff * diff; i += 1
        }
        d
      }
    }
  }

  /** Brute-force PQ search over encoded vectors: score = -Σ table lookups
    * (reference scoring: IvfPqVectorIndex.cs:159-198).
    *
    * Driver-sized query batches (≤ `maxLocalQueries` — one bounded collect
    * decides the path AND supplies the rows) precompute the nq × M × K ADC
    * tables on the driver and broadcast them. Larger batches never touch
    * the driver: the ADC table becomes a column computed on the executors
    * and the scoring join streams both sides — no unbounded collect on any
    * query path. */
  def knn(encoded: DataFrame, queries: DataFrame, cb: Codebook, k: Int,
          maxLocalQueries: Int = 10000): DataFrame = {
    val spark = encoded.sparkSession
    val sample = queries.select("query_id", "qvec").limit(maxLocalQueries + 1).collect()
    val scored =
      if (sample.length <= maxLocalQueries) {
        val qRows = sample
          .map(r => r.getLong(0) -> adcTable(r.getSeq[Float](1), cb)).toMap
        val tables = spark.sparkContext.broadcast(qRows)
        val score = udf { (queryId: Long, codes: Array[Byte]) =>
          val t = tables.value(queryId)
          var s = 0.0; var mi = 0
          while (mi < codes.length) { s += t(mi)(codes(mi) & 0xff); mi += 1 }
          -s
        }
        import spark.implicits._
        val qIds = qRows.keys.toSeq.toDF("query_id")
        encoded
          .crossJoin(broadcast(qIds))
          .select(col("query_id"), col("id"),
            score(col("query_id"), col("codes")).as("score"))
      } else {
        val kk = cb.k
        val bcb = spark.sparkContext.broadcast(cb)
        val tableCol = udf { (q: Seq[Float]) => adcTable(q, bcb.value).flatten }
        val qT = queries.select(col("query_id"), tableCol(col("qvec")).as("adc"))
        val score = udf { (adc0: Seq[Double], codes: Array[Byte]) =>
          val adc = graft.functions.doubleArray(adc0)
          var s = 0.0; var mi = 0
          while (mi < codes.length) { s += adc(mi * kk + (codes(mi) & 0xff)); mi += 1 }
          -s
        }
        encoded
          .crossJoin(qT)
          .select(col("query_id"), col("id"),
            score(col("adc"), col("codes")).as("score"))
      }
    TopK.perGroup(scored, Seq("query_id"), k)
  }

  /** ADC candidate generation + exact rerank: fetch top-(k·refine) by ADC,
    * re-score those candidates against the true vectors, return top-k.
    * PQ codes are a coarse sieve — quantization error rivals true neighbor
    * gaps on clustered data — so production search refines; the candidate
    * fetch is the cheap full scan, the rerank touches only k·refine·nq rows. */
  def knnRefined(encoded: DataFrame, vectors: DataFrame, queries: DataFrame,
                 cb: Codebook, k: Int, refine: Int = 10,
                 metric: String = "L2"): DataFrame = {
    val candidates = knn(encoded, queries, cb, k * refine)
      .select("query_id", "id")
    rerank(candidates, vectors, queries, k, metric)
  }

  /** Exact rerank of a small (query_id, id) candidate set. */
  private[operators] def rerank(candidates: DataFrame, vectors: DataFrame,
                                queries: DataFrame, k: Int, metric: String): DataFrame = {
    val rescored = candidates
      .join(vectors, "id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("id"),
        graft.functions.vector_score(metric, col("qvec"), col("vec")).as("score"))
    TopK.perGroup(rescored, Seq("query_id"), k)
  }
}
