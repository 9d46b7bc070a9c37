package graft.operators

import org.apache.spark.sql.DataFrame

/** What the refined PQ rows tier needs from a resident rerank store —
  * implemented at full precision by [[Sq16Store]] and, for deployments
  * whose byte budget can't seat the uint16 copy, at half size by
  * [[Sq8Store]] (the DEGRADED tier: measured recall ~0.980 vs the
  * sq16/exact 0.995 on the bench's near-equidistant gauge, explicitly
  * opt-in because it changes served scores). */
trait RefineStore extends Serializable with graft.Residency.Sized {
  def dim: Int
  def size: Long
  /** Global row index of a surrogate id, or -1 when absent. */
  def lookup(id: Long): Long
  /** Dequantized vector of global row `row` into a CALLER-OWNED buffer
    * of length [[dim]] — the rerank hot loop's form: k·refine candidate
    * dequants per call otherwise allocate ~256 KB of float-array
    * garbage each, and young-GC pauses were the refined row's measured
    * p99 tail (r10: 14.6-41.8 ms across quiet runs at a ~9 ms p50). */
  def dequantInto(row: Long, out: Array[Float]): Unit
  /** Allocating form of [[dequantInto]] (specs, one-off callers). */
  final def dequant(row: Long): Array[Float] = {
    val out = new Array[Float](dim)
    dequantInto(row, out)
    out
  }
  /** Tier label for traces/tests: "sq16" or "u8". */
  def kind: String
}

/** Driver-resident SQ16 (uint16) copy of a snapshot's RAW vectors, keyed
  * by sorted surrogate id — the zero-job rerank store behind the refined
  * PQ serving tier.
  *
  * Why it exists: at the 10M rung the raw floats (5.1 GB) are past any
  * driver residency budget, so the resident tier serves raw-ADC answers
  * whose recall on hard data is the price of 64× compression (the bench
  * gauge reads 0.156 @ M=8). The designed answer is the classic refine
  * step — re-score the top k·refine ADC candidates against near-exact
  * vectors. A per-call Spark job against the snapshot would re-impose the
  * scheduler floor the resident tier exists to avoid; a resident
  * scalar-quantized copy keeps the rerank in-heap at ~µs per call.
  *
  * Why 16 bits and not 8: the bench's held-out σ=1.1 gauge makes true
  * neighbors nearly equidistant — uint8's per-coordinate error
  * (range/255/2) measurably reorders the top-k boundary there (measured
  * recall@10 0.980 vs 0.995 for the exact rerank at refine 50). uint16's
  * error is 256× smaller (range/65535), which prices below float noise on
  * real data — the refined wire answer matches the exact rerank's recall
  * while still halving the float footprint (2 B/dim: 2.56 GB of codes at
  * 10M×128 where floats are 5.1 GB). The store gets its OWN residency
  * budget line; denial falls back to the plan's distributed rerank.
  *
  * Quantization is ScalarQuant's global min/max affine map at 65535
  * levels, with the SAME float-then-double choreography the portable
  * SQ8 oracle proved cross-engine ((x − mn) is a FLOAT subtraction,
  * scale/delta are DOUBLE); the dequantization here is the bit-exact
  * driver twin of the plan-side sq16 decode expression, so the plan's
  * `refineStore = "sq16"` mode and this store score IDENTICAL floats —
  * tier parity is exact, spec-pinned.
  *
  * Layout: SEGMENTED — sorted surrogate arrays + aligned flat uint16
  * code blobs (Short cells, read `& 0xffff`), each segment bounded at
  * [[Sq16Store.SegMaxCodes]] cells so NO array-index ceiling exists:
  * the store's only capacity limit is its byte budget (the same
  * "budgets, not Int cliffs" discipline as the rows gate — a flat
  * single-array layout capped the store at Int.MaxValue/dim vectors,
  * 16.7M at dim 128, an accident of JVM indexing rather than a policy).
  * Segments are globally sorted (every id in segment i precedes segment
  * i+1), so a lookup is two binary searches: segment by first-id, then
  * row within — the same probe count as the flat layout ±1. Built from
  * per-partition PRE-SORTED runs merged on the driver (k-way, same
  * discipline as [[graft.IdPool]]) — transient footprint equals the
  * final store, never n boxed rows. Rows are addressed by a GLOBAL Long
  * row index (what [[lookup]] returns and [[dequant]] takes).
  */
final class Sq16Store private[operators] (
    private val segIds: Array[Array[Long]],
    private val segCodes: Array[Array[Short]],
    val dim: Int, val mn: Float, val mx: Float)
  extends RefineStore {

  def kind: String = "sq16"

  val delta: Double = if (mx > mn) (mx - mn) / 65535.0 else 0.0

  /** Global row index of each segment's first row (length nSegs + 1;
    * last entry = total rows). */
  private val segStarts: Array[Long] = {
    val out = new Array[Long](segIds.length + 1)
    var i = 0
    while (i < segIds.length) { out(i + 1) = out(i) + segIds(i).length; i += 1 }
    out
  }

  /** First surrogate of each segment — the lookup's segment router. */
  private val segFirst: Array[Long] =
    segIds.map(ids => if (ids.nonEmpty) ids(0) else Long.MaxValue)

  def size: Long = segStarts(segStarts.length - 1)

  /** Resident heap bytes (what the residency ledger counts). */
  val bytes: Long = {
    var b = 64L
    var i = 0
    while (i < segIds.length) {
      b += segIds(i).length * 8L + segCodes(i).length.toLong * 2L + 64L
      i += 1
    }
    b
  }

  /** Global row index of a surrogate id, or -1 when absent. */
  def lookup(id: Long): Long = {
    // greatest segment whose first id is <= id (global sort order)
    val p = java.util.Arrays.binarySearch(segFirst, id)
    val seg = if (p >= 0) p else -p - 2
    if (seg < 0) return -1L
    val i = java.util.Arrays.binarySearch(segIds(seg), id)
    if (i < 0) -1L else segStarts(seg) + i
  }

  /** The uint16 code cell of global row `row`, coordinate `d` (specs /
    * debugging; the serving path uses [[dequant]]). */
  def code(row: Long, d: Int): Int = {
    val seg = segOf(row)
    val local = (row - segStarts(seg)).toInt
    segCodes(seg)(local * dim + d) & 0xffff
  }

  private def segOf(row: Long): Int = {
    val p = java.util.Arrays.binarySearch(segStarts, row)
    val seg = if (p >= 0) p else -p - 2
    require(seg >= 0 && seg < segIds.length && row < size,
      s"sq16 row $row out of range [0, $size)")
    seg
  }

  /** Dequantized vector of global row `row` — bit-exact twin of the
    * plan-side decode expression ((mn + code·delta).toFloat, double
    * arithmetic). */
  def dequantInto(row: Long, out: Array[Float]): Unit = {
    val seg = segOf(row)
    val codes = segCodes(seg)
    val off = (row - segStarts(seg)).toInt * dim
    val mnD = mn.toDouble
    var i = 0
    while (i < dim) {
      out(i) = (mnD + (codes(off + i) & 0xffff) * delta).toFloat
      i += 1
    }
  }
}

/** Resident uint8 rerank store — the DEGRADED refine tier between
  * sq16-denial and the plan fallback (r8/r9 verdict carry-over): half
  * the uint16 footprint (dim bytes/vec; 20M×128 ≈ 2.6 GB where sq16 is
  * 5.3 GB), so a deployment whose refine budget denies the sq16 copy
  * can still serve refined rows at memory speed instead of dropping
  * three orders to the distributed plan. The price is precision: codes
  * are the sq16 sidecar's cells rounded to 257ths (c8 = round(c16/257),
  * an EXACT 255-level affine map over the same [mn, mx] range since
  * 257·255 = 65535), whose per-coordinate error (range/255/2)
  * measurably reorders near-equidistant top-k boundaries — recall
  * ~0.980 vs the sq16/exact 0.995 on the bench gauge. Because served
  * SCORES differ from the plan's sq16 rerank, this tier is explicitly
  * OPT-IN (GraftEngine's `refineU8Fallback`) and announces itself in
  * the serving trace. Derived by streaming the sq16 segment sidecar
  * (no Spark job, chunk-bounded transients); segment geometry is
  * inherited 1:1, so every lookup/bound property of [[Sq16Store]]
  * holds unchanged. */
final class Sq8Store private[operators] (
    private val segIds: Array[Array[Long]],
    private val segCodes: Array[Array[Byte]],
    val dim: Int, val mn: Float, val mx: Float)
  extends RefineStore {

  def kind: String = "u8"

  /** 255-level affine step over the same range as the sq16 store. */
  val delta: Double = if (mx > mn) (mx - mn) / 255.0 else 0.0

  private val segStarts: Array[Long] = {
    val out = new Array[Long](segIds.length + 1)
    var i = 0
    while (i < segIds.length) { out(i + 1) = out(i) + segIds(i).length; i += 1 }
    out
  }

  private val segFirst: Array[Long] =
    segIds.map(ids => if (ids.nonEmpty) ids(0) else Long.MaxValue)

  def size: Long = segStarts(segStarts.length - 1)

  val bytes: Long = {
    var b = 64L
    var i = 0
    while (i < segIds.length) {
      b += segIds(i).length * 8L + segCodes(i).length.toLong + 64L
      i += 1
    }
    b
  }

  def lookup(id: Long): Long = {
    val p = java.util.Arrays.binarySearch(segFirst, id)
    val seg = if (p >= 0) p else -p - 2
    if (seg < 0) return -1L
    val i = java.util.Arrays.binarySearch(segIds(seg), id)
    if (i < 0) -1L else segStarts(seg) + i
  }

  def dequantInto(row: Long, out: Array[Float]): Unit = {
    val p = java.util.Arrays.binarySearch(segStarts, row)
    val seg = if (p >= 0) p else -p - 2
    require(seg >= 0 && seg < segIds.length && row < size,
      s"u8 row $row out of range [0, $size)")
    val codes = segCodes(seg)
    val off = (row - segStarts(seg)).toInt * dim
    val mnD = mn.toDouble
    var i = 0
    while (i < dim) {
      out(i) = (mnD + (codes(off + i) & 0xff) * delta).toFloat
      i += 1
    }
  }

  /** The uint8 code cell (specs/debugging). */
  def code(row: Long, d: Int): Int = {
    val p = java.util.Arrays.binarySearch(segStarts, row)
    val seg = if (p >= 0) p else -p - 2
    require(seg >= 0 && seg < segIds.length && row < size,
      s"u8 row $row out of range [0, $size)")
    segCodes(seg)(((row - segStarts(seg)).toInt * dim) + d) & 0xff
  }
}

object Sq8Store {

  /** Resident-byte pre-estimate mirroring [[Sq8Store.bytes]] — half a
    * [[Sq16Store.estimateBytes]] on the code side, same headers (the u8
    * store inherits the sq16 sidecar's segment geometry 1:1). */
  def estimateBytes(n: Long, dim: Int): Long = {
    require(dim > 0, s"dim must be positive, got $dim")
    val rowsPerSeg = math.max(1, Sq16Store.SegMaxCodes / dim)
    val nSegs = math.max(1L, (n + rowsPerSeg - 1) / rowsPerSeg)
    64L + n * (8L + dim) + 64L * nSegs
  }
}

object Sq16Store {

  // -------------------------------------------------------------------
  // Binary segment sidecar — snapshot-time persistence of the MERGED
  // store, so a restarted engine loads the refined rerank store by
  // sequential file read instead of re-running the parquet scan +
  // per-partition encode + k-way merge (measured ~27 s at the 10M rung;
  // the direct load is disk-bandwidth-bound, ~2-4 s for 2.6 GB). The
  // files are raw little-endian arrays: per segment, `rows` longs (ids,
  // globally sorted) followed by `rows·dim` uint16 code cells; a tiny
  // meta.json carries dim, the EXACT float bits of the quantization
  // range (a JSON float roundtrip could perturb mn/mx and break the
  // bit-exact plan-parity the store is spec-pinned to), and per-segment
  // row counts. Load re-validates file sizes and the global sort order,
  // so a truncated or shuffled sidecar fails loudly instead of serving
  // wrong reranks.
  // -------------------------------------------------------------------

  private val MetaVersion = 1
  private val IoChunkBytes = 8 << 20

  /** Write `store`'s segments under `dir` (created if absent). */
  def save(store: Sq16Store, dir: String): Unit = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    val lens = store.segIds.map(_.length)
    java.nio.file.Files.writeString(d.resolve("meta.json"),
      renderMeta(Meta(store.dim, store.mn, store.mx, lens)))
    var i = 0
    while (i < store.segIds.length) {
      writeSegment(d.resolve(segFile(i)), store.segIds(i), store.segCodes(i),
        store.dim)
      i += 1
    }
  }

  /** True when `dir` holds a loadable segment sidecar. */
  def sidecarExists(dir: String): Boolean =
    java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(dir).resolve("meta.json"))

  /** (rows, dim) from the sidecar meta alone — the residency pre-check
    * reads this instead of running a Spark aggregation over the codes
    * parquet (which scans the full array column just to size it). */
  def sidecarStats(dir: String): (Long, Int) = {
    val m = readMeta(dir)
    (m.segRows.map(_.toLong).sum, m.dim)
  }

  /** Load a store persisted by [[save]] — sequential reads, no Spark. */
  def load(dir: String): Sq16Store = {
    val d = java.nio.file.Paths.get(dir)
    val m = readMeta(dir)
    val segIds = new Array[Array[Long]](m.segRows.length)
    val segCodes = new Array[Array[Short]](m.segRows.length)
    var prevLast = Long.MinValue
    var i = 0
    while (i < m.segRows.length) {
      val rows = m.segRows(i)
      val (ids, codes) = readSegment(d.resolve(segFile(i)), rows, m.dim)
      // global sort invariant — every lookup binary-search depends on it
      var j = 0
      var last = prevLast
      while (j < rows) {
        require(ids(j) > last,
          s"sq16 sidecar segment $i not strictly ascending at row $j " +
            s"(${ids(j)} after $last): corrupt or reordered sidecar")
        last = ids(j); j += 1
      }
      prevLast = last
      segIds(i) = ids; segCodes(i) = codes
      i += 1
    }
    if (m.segRows.isEmpty)
      new Sq16Store(Array(Array.emptyLongArray), Array(Array.empty[Short]),
        m.dim, m.mn, m.mx)
    else new Sq16Store(segIds, segCodes, m.dim, m.mn, m.mx)
  }

  /** Stream the segment sidecar into a HALF-SIZE [[Sq8Store]]: ids read
    * as-is, each uint16 cell rounded to its exact 255-level counterpart
    * (c8 = round(c16/257); 257·255 = 65535, so the endpoints map
    * exactly). Chunk-bounded — no Spark job, no full-precision segment
    * ever materialized, transients are one IO buffer. The u8 path for
    * snapshots WITHOUT a segment sidecar is deliberately absent: the
    * degraded tier exists for budget-tight serving, and those engines
    * read sidecars written at build time. */
  def loadAsU8(dir: String): Sq8Store = {
    val d = java.nio.file.Paths.get(dir)
    val m = readMeta(dir)
    val segIds = new Array[Array[Long]](math.max(1, m.segRows.length))
    val segCodes = new Array[Array[Byte]](math.max(1, m.segRows.length))
    if (m.segRows.isEmpty) {
      segIds(0) = Array.emptyLongArray
      segCodes(0) = Array.emptyByteArray
      return new Sq8Store(segIds, segCodes, m.dim, m.mn, m.mx)
    }
    var prevLast = Long.MinValue
    var i = 0
    while (i < m.segRows.length) {
      val rows = m.segRows(i)
      val p = d.resolve(segFile(i))
      val expected = rows.toLong * 8 + rows.toLong * m.dim * 2
      val actual = java.nio.file.Files.size(p)
      require(actual == expected,
        s"sq16 sidecar segment $p holds $actual bytes, expected $expected " +
          s"($rows rows × dim ${m.dim}): truncated or mismatched sidecar")
      val ids = new Array[Long](rows)
      val codes = new Array[Byte](math.multiplyExact(rows, m.dim))
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.allocateDirect(IoChunkBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def fill(byteLen: Int): Unit = {
          buf.clear(); buf.limit(byteLen)
          while (buf.hasRemaining) {
            require(ch.read(buf) >= 0, s"sq16 sidecar segment $p truncated")
          }
          buf.flip()
        }
        var off = 0
        while (off < rows) {
          val n = math.min(rows - off, IoChunkBytes / 8)
          fill(n * 8)
          buf.asLongBuffer().get(ids, off, n)
          off += n
        }
        off = 0
        // bulk-get each chunk into a heap short[] (one memcpy) and
        // convert with a plain array loop: per-element ShortBuffer.get on
        // a direct buffer is a bounds-checked accessor call per cell —
        // measured as the dominant cost of the 5.3 GB u8 cold stream at
        // the 10M rung (readSegment's full-precision path already bulk-
        // gets; this brings the u8 conversion to the same IO discipline)
        val tmp = new Array[Short](IoChunkBytes / 2)
        while (off < codes.length) {
          val n = math.min(codes.length - off, IoChunkBytes / 2)
          fill(n * 2)
          buf.asShortBuffer().get(tmp, 0, n)
          var j = 0
          while (j < n) {
            val c16 = tmp(j) & 0xffff
            codes(off + j) = ((2 * c16 + 257) / 514).toByte // round(c16/257)
            j += 1
          }
          off += n
        }
      } finally ch.close()
      var j = 0
      var last = prevLast
      while (j < rows) {
        require(ids(j) > last,
          s"sq16 sidecar segment $i not strictly ascending at row $j " +
            s"(${ids(j)} after $last): corrupt or reordered sidecar")
        last = ids(j); j += 1
      }
      prevLast = last
      segIds(i) = ids; segCodes(i) = codes
      i += 1
    }
    new Sq8Store(segIds, segCodes, m.dim, m.mn, m.mx)
  }

  private def segFile(i: Int): String = f"seg-$i%05d.bin"

  private[graft] final case class Meta(dim: Int, mn: Float, mx: Float,
                                       segRows: Array[Int])

  private[graft] def renderMeta(m: Meta): String =
    s"""{"version": $MetaVersion, "dim": ${m.dim}, """ +
      s""""mn_bits": ${java.lang.Float.floatToRawIntBits(m.mn)}, """ +
      s""""mx_bits": ${java.lang.Float.floatToRawIntBits(m.mx)}, """ +
      s""""seg_rows": [${m.segRows.mkString(",")}]}"""

  private[graft] def parseMeta(source: String, s: String): Meta = {
    val o = graft.Json.parse(s"sq16 sidecar meta $source", s)
    val ver = o.need("version")(o.long)
    require(ver == MetaVersion,
      s"sq16 sidecar version $ver unsupported (expected $MetaVersion)")
    val segRows = o.need("seg_rows")(o.ints)
    require(segRows.forall(_ >= 0), s"sq16 sidecar meta negative seg_rows: $s")
    val dim = o.need("dim")(o.int)
    require(dim > 0, s"sq16 sidecar meta dim must be positive: $s")
    Meta(dim, java.lang.Float.intBitsToFloat(o.need("mn_bits")(o.int)),
      java.lang.Float.intBitsToFloat(o.need("mx_bits")(o.int)), segRows)
  }

  private def readMeta(dir: String): Meta = {
    val p = java.nio.file.Paths.get(dir).resolve("meta.json")
    parseMeta(p.toString, graft.Json.readFile(p))
  }

  private def writeSegment(p: java.nio.file.Path, ids: Array[Long],
                           codes: Array[Short], dim: Int): Unit = {
    require(codes.length.toLong == ids.length.toLong * dim,
      s"segment shape mismatch: ${ids.length} ids × dim $dim vs " +
        s"${codes.length} code cells")
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      // chunked: a segment's code array can exceed ByteBuffer's Int
      // capacity (SegMaxCodes shorts = 2 GiB), so stream fixed-size
      // buffers instead of wrapping whole arrays
      val buf = java.nio.ByteBuffer.allocateDirect(IoChunkBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var off = 0
      while (off < ids.length) {
        val n = math.min(ids.length - off, IoChunkBytes / 8)
        buf.clear(); buf.asLongBuffer().put(ids, off, n); buf.limit(n * 8)
        while (buf.hasRemaining) ch.write(buf)
        off += n
      }
      off = 0
      while (off < codes.length) {
        val n = math.min(codes.length - off, IoChunkBytes / 2)
        buf.clear(); buf.asShortBuffer().put(codes, off, n); buf.limit(n * 2)
        while (buf.hasRemaining) ch.write(buf)
        off += n
      }
    } finally ch.close()
  }

  private def readSegment(p: java.nio.file.Path, rows: Int,
                          dim: Int): (Array[Long], Array[Short]) = {
    val expected = rows.toLong * 8 + rows.toLong * dim * 2
    val actual = java.nio.file.Files.size(p)
    require(actual == expected,
      s"sq16 sidecar segment $p holds $actual bytes, expected $expected " +
        s"($rows rows × dim $dim): truncated or mismatched sidecar")
    val ids = new Array[Long](rows)
    val codes = new Array[Short](math.multiplyExact(rows, dim))
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.READ)
    try {
      val buf = java.nio.ByteBuffer.allocateDirect(IoChunkBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fill(byteLen: Int): Unit = {
        buf.clear(); buf.limit(byteLen)
        while (buf.hasRemaining) {
          require(ch.read(buf) >= 0, s"sq16 sidecar segment $p truncated")
        }
        buf.flip()
      }
      var off = 0
      while (off < rows) {
        val n = math.min(rows - off, IoChunkBytes / 8)
        fill(n * 8)
        buf.asLongBuffer().get(ids, off, n)
        off += n
      }
      off = 0
      while (off < codes.length) {
        val n = math.min(codes.length - off, IoChunkBytes / 2)
        fill(n * 2)
        buf.asShortBuffer().get(codes, off, n)
        off += n
      }
    } finally ch.close()
    (ids, codes)
  }

  /** Per-segment code-cell bound: 2^30 Short cells = 2 GiB per code
    * array — comfortably inside JVM array limits while keeping segment
    * count single-digit at multi-GB stores (a 20M×128 store is 3
    * segments). Small enough that the last segment's trim waste is
    * bounded; large enough that the lookup's extra segment probe is ~2
    * comparisons. */
  val SegMaxCodes: Int = 1 << 30

  /** Resident-byte estimate for an n×dim store BEFORE building it — the
    * exact formula [[Sq16Store.bytes]] registers (object header + per-
    * segment id/code arrays + per-segment header), so the engine's
    * admission pre-check can never diverge from what a built store
    * registers (same shared-estimator discipline as
    * `LongHashSet.estimateBytes`; an estimate missing the per-segment
    * headers let registered bytes exceed admitted bytes, ADVICE r9). */
  def estimateBytes(n: Long, dim: Int): Long = {
    require(dim > 0, s"dim must be positive, got $dim")
    val rowsPerSeg = math.max(1, SegMaxCodes / dim)
    val nSegs = math.max(1L, (n + rowsPerSeg - 1) / rowsPerSeg)
    64L + n * (8L + 2L * dim) + 64L * nSegs
  }

  /** 65535 levels over [mn, mx]: the step both encoders below use. */
  private[graft] def scale(mn: Float, mx: Float): Double =
    if (mx > mn) 65535.0 / (mx - mn) else 0.0

  /** The sq16 codes of a FLOAT array column, as ARRAY<INT>: FLOAT
    * subtraction, DOUBLE scale, floor(x + 0.5), clamp to [0, 65535] — a
    * portable choreography a SQL oracle reproduces bit-exactly. */
  private[graft] def encodeCol(v: org.apache.spark.sql.Column, mn: Float,
                               mx: Float): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val s = scale(mn, mx)
    transform(v, x =>
      greatest(lit(0.0), least(lit(65535.0),
        floor((x - lit(mn)) * lit(s) + lit(0.5)))).cast("int"))
  }

  /** [[encodeCol]] over one driver-held vector, bit for bit: Spark's
    * floor yields a BIGINT, which the clamp widens back to DOUBLE. */
  private[graft] def encodeRow(v: Array[Float], mn: Float, mx: Float): Array[Int] = {
    val s = scale(mn, mx)
    val out = new Array[Int](v.length)
    var i = 0
    while (i < v.length) {
      val q = math.floor((v(i) - mn).toDouble * s + 0.5).toLong.toDouble
      out(i) = math.max(0.0, math.min(65535.0, q)).toInt
      i += 1
    }
    out
  }

  /** A store over driver-held (id, codes) rows: the runs and merge of
    * [[buildResident]], without a job. */
  private[graft] def fromRows(ids: Array[Long], codes: Array[Array[Int]],
                              dim: Int, mn: Float, mx: Float): Sq16Store =
    merge(packRun(ids.indices.iterator.map(i => (ids(i), codes(i))), dim).toArray,
      dim, mn, mx)

  /** One partition's pre-sorted run: ids ascending + aligned flat codes. */
  final case class Run(ids: Array[Long], codes: Array[Short])

  /** Pack one partition's (id, codes ARRAY<INT> in 0..65535) rows into
    * sorted runs — executor side; emits flat primitive arrays only.
    * Partitions past [[SegMaxCodes]]/dim rows (16.7M at dim 128 — a
    * raised `maxPartitionBytes`, an unsplittable codec, an upstream
    * coalesce) emit MULTIPLE bounded runs instead of overflowing the
    * Int-sized `rows·dim` code allocation: each chunk is sorted
    * internally, which is all [[merge]] requires of a run, and chunks
    * keep partition order so duplicate-surrogate resolution stays
    * first-occurrence-deterministic. */
  def packRun(rows: Iterator[(Long, Array[Int])], dim: Int): Iterator[Run] = {
    val cap = math.max(1, SegMaxCodes / dim)
    rows.grouped(cap).map { chunk =>
      val buf = chunk.toArray
      val order = Array.range(0, buf.length).sortBy(i => buf(i)._1)
      val ids = new Array[Long](buf.length)
      val codes = new Array[Short](math.multiplyExact(buf.length, dim))
      var i = 0
      while (i < buf.length) {
        val (id, c) = buf(order(i))
        require(c.length == dim, s"sq16 code width ${c.length} != dim $dim")
        ids(i) = id
        var d = 0
        while (d < dim) { codes(i * dim + d) = c(d).toShort; d += 1 }
        i += 1
      }
      Run(ids, codes)
    }
  }

  /** K-way merge of sorted runs into one store — driver side. Duplicate
    * surrogates (xxhash64 collisions across distinct id strings — ~n²/2⁶⁵)
    * keep the first occurrence, deterministically (runs ordered, then id):
    * the same tie the id pool resolves the same way. Output rows fill
    * bounded segments sequentially (`rowsPerSeg`, default
    * [[SegMaxCodes]]/dim), so total capacity is heap-bounded, never
    * Int-index-bounded; the run-length sum stays in LONG throughout
    * (an Int sum wraps silently — same guard discipline as
    * IdPool.merge). */
  def merge(runs: Array[Run], dim: Int, mn: Float, mx: Float): Sq16Store =
    merge(runs, dim, mn, mx, math.max(1, SegMaxCodes / dim))

  private[operators] def merge(runs: Array[Run], dim: Int, mn: Float,
                               mx: Float, rowsPerSeg: Int): Sq16Store = {
    require(dim > 0, s"dim must be positive, got $dim")
    require(rowsPerSeg > 0, s"rowsPerSeg must be positive, got $rowsPerSeg")
    val totalL = runs.map(_.ids.length.toLong).sum
    val nSegs = math.max(1L, (totalL + rowsPerSeg - 1) / rowsPerSeg)
    require(nSegs <= 4096,
      s"sq16 store would need $nSegs segments ($totalL vectors × dim " +
        s"$dim) — past any sane residency budget")
    val segIds = new Array[Array[Long]](nSegs.toInt)
    val segCodes = new Array[Array[Short]](nSegs.toInt)
    var seg = -1 // current segment (allocated lazily below)
    var segLen = 0 // rows filled in the current segment
    var segCap = 0 // row capacity of the current segment
    var remaining = totalL
    val cur = new Array[Int](runs.length)
    var lastId = Long.MinValue
    var wrote = 0L
    var any = true
    var first = true
    while (any) {
      any = false
      var best = -1
      var bestId = Long.MaxValue
      var r = 0
      while (r < runs.length) {
        if (cur(r) < runs(r).ids.length) {
          val id = runs(r).ids(cur(r))
          if (!any || id < bestId) { best = r; bestId = id; any = true }
        }
        r += 1
      }
      if (any) {
        if (first || bestId != lastId) {
          if (seg < 0 || segLen == segCap) {
            seg += 1
            segCap = math.min(remaining, rowsPerSeg.toLong).toInt
            segIds(seg) = new Array[Long](segCap)
            segCodes(seg) = new Array[Short](segCap * dim)
            segLen = 0
          }
          segIds(seg)(segLen) = bestId
          System.arraycopy(runs(best).codes, cur(best) * dim,
            segCodes(seg), segLen * dim, dim)
          segLen += 1
          wrote += 1
          remaining -= 1
          lastId = bestId
          first = false
        }
        cur(best) += 1
      }
    }
    // duplicates dropped entries: trim the tail segment to its filled
    // prefix and drop never-allocated segments
    val used = if (seg < 0) 0 else seg + 1
    val outIds = new Array[Array[Long]](math.max(used, 1))
    val outCodes = new Array[Array[Short]](math.max(used, 1))
    if (used == 0) {
      outIds(0) = Array.emptyLongArray
      outCodes(0) = Array.empty[Short]
    } else {
      var i = 0
      while (i < used) {
        if (i < used - 1 || segLen == segIds(i).length) {
          outIds(i) = segIds(i)
          outCodes(i) = segCodes(i)
        } else {
          outIds(i) = java.util.Arrays.copyOf(segIds(i), segLen)
          outCodes(i) = java.util.Arrays.copyOf(segCodes(i), segLen * dim)
        }
        i += 1
      }
    }
    // the emit counter must agree with what the trim kept — a mismatch
    // means the segment-fill bookkeeping dropped or duplicated a row
    val kept = outIds.map(_.length.toLong).sum
    require(kept == wrote,
      s"sq16 merge emitted $wrote rows but segments hold $kept")
    new Sq16Store(outIds, outCodes, dim, mn, mx)
  }

  /** Max partitions fetched per driver-side wave during
    * [[buildResident]]: each wave is ONE job whose serialized results
    * stay bounded, while the scan+encode work of the wave's partitions
    * runs in PARALLEL — a full collect() tripped the default 1g
    * `spark.driver.maxResultSize` at the 10M rung (r8, 1058 MiB) and
    * the r8 fix (`toLocalIterator`) serialized the fetch to one
    * partition at a time, pricing the one-time cold build at ~86 s
    * standalone. When the caller supplies the store's estimated bytes,
    * the wave narrows further so one wave's results stay under
    * [[WaveResultBudgetBytes]] even for a near-budget store over few
    * partitions (an 8 GiB-admitted store over 32 partitions is
    * ~256 MB/run — four of those in one job is the exact r8 failure
    * again). */
  val FetchWavePartitions: Int = 4

  /** Per-wave serialized-result budget: half the default 1g
    * `spark.driver.maxResultSize`, leaving headroom for serialization
    * overhead and estimate error. */
  val WaveResultBudgetBytes: Long = 512L << 20

  /** Collect a (id BIGINT, qvec16 ARRAY<INT>) codes table into a resident
    * store: per-partition sorted runs on the executors, k-way merge on
    * the driver. The caller decides residency from measured bytes BEFORE
    * calling (same contract as IdPool); passing that estimate as
    * `estBytes` lets the wave sizing bound each job's serialized
    * results (unknown/-1 keeps the fixed [[FetchWavePartitions]]).
    *
    * Runs are fetched in bounded-parallel WAVES (one runJob per wave) —
    * NOT collect(), whose single job trips `spark.driver.maxResultSize`
    * (default 1g) on a multi-GB store regardless of real driver
    * headroom, and NOT one-partition-at-a-time `toLocalIterator`, which
    * serializes the scan work behind a single in-flight task. */
  def buildResident(codesTable: DataFrame, dim: Int,
                    mn: Float, mx: Float,
                    estBytes: Long = -1L): Sq16Store = {
    val rdd = codesTable.select("id", "qvec16")
      .queryExecution.toRdd.mapPartitions { it =>
        packRun(it.map { r =>
          val arr = r.getArray(1)
          (r.getLong(0), arr.toIntArray())
        }, dim)
      }
    val sc = codesTable.sparkSession.sparkContext
    val nParts = rdd.getNumPartitions
    val waveSize =
      if (estBytes <= 0 || nParts == 0) FetchWavePartitions
      else {
        val perPart = math.max(1L, estBytes / nParts)
        math.max(1, math.min(FetchWavePartitions.toLong,
          WaveResultBudgetBytes / perPart).toInt)
      }
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    (0 until nParts).grouped(waveSize).foreach { wave =>
      val fetched = sc.runJob(rdd, (it: Iterator[Run]) => it.toArray, wave)
      // partition-then-chunk order (waves are sequential, partitions
      // in-order within a wave): duplicate surrogates stay
      // first-occurrence-deterministic through the merge. Empty
      // partitions emit no runs and contribute nothing.
      fetched.foreach(runs ++= _)
    }
    merge(runs.toArray, dim, mn, mx)
  }
}
