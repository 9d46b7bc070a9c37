package graft

/** Compact driver-resident surrogate → user-id map for the rows serving
  * tier: a sorted surrogate array plus offsets into one UTF-8 blob —
  * ~12 bytes + id length per entry, vs hundreds of bytes per boxed
  * HashMap entry. This representation is what lets the engine's zero-job
  * serving gate reach 10M+-vector corpora: 10M ids ≈ 220 MB here where
  * a `Map[Long, String]` needs well over a GB of driver heap (the
  * reference holds the same id table in its single process heap,
  * VectorIndexRegistry.cs:96 — this is the bounded analog).
  *
  * Built from per-partition [[IdPool.Run]]s PRE-SORTED on the executors
  * and k-way merged on the driver, so the transient driver footprint is
  * the final pool, never n boxed rows. Duplicate surrogates across runs
  * (64-bit xxhash collisions — ~10⁻⁶ at 10M ids) keep the first
  * occurrence, deterministically, since runs merge in ascending
  * surrogate order.
  *
  * Lookup is one binary search (allocation-free until the hit
  * materializes its string) — ~24 probes at 10M entries, the same cost
  * class as the packed scan kernels' membership tests. */
final class IdPool private (
    private val surrs: Array[Long],
    private val offsets: Array[Int], // length = size + 1
    private val blob: Array[Byte]) extends Residency.Sized {

  def size: Int = surrs.length

  /** Resident heap bytes (what the residency ledger counts). */
  val bytes: Long = surrs.length * 12L + blob.length + 32L

  def contains(sg: Long): Boolean =
    java.util.Arrays.binarySearch(surrs, sg) >= 0

  /** The user-facing id string for a surrogate; the surrogate must exist
    * (serving only resolves surrogates produced from this snapshot). */
  def apply(sg: Long): String = {
    val i = java.util.Arrays.binarySearch(surrs, sg)
    require(i >= 0, s"unknown surrogate id $sg")
    new String(blob, offsets(i), offsets(i + 1) - offsets(i),
      java.nio.charset.StandardCharsets.UTF_8)
  }
}

object IdPool {

  /** One partition's packed run: surrogates ASCENDING, ids UTF-8-packed
    * back to back ([[offsets]] has length `surrs.length + 1`). Built on
    * the executors; the driver only ever sees packed runs. */
  final class Run(val surrs: Array[Long], val offsets: Array[Int],
                  val blob: Array[Byte]) extends Serializable

  /** Pack one partition's (surrogate, utf8-id) rows into a sorted run. */
  def packRun(rows: Iterator[(Long, Array[Byte])]): Iterator[Run] = {
    val sgBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
    val idBuf = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (rows.hasNext) {
      val (sg, id) = rows.next()
      sgBuf += sg
      idBuf += id
    }
    if (sgBuf.isEmpty) Iterator.empty
    else {
      val n = sgBuf.length
      val order = Array.range(0, n).sortBy(sgBuf(_))
      val surrs = new Array[Long](n)
      val offsets = new Array[Int](n + 1)
      var blobLen = 0
      var i = 0
      while (i < n) { blobLen += idBuf(order(i)).length; i += 1 }
      val blob = new Array[Byte](blobLen)
      var bpos = 0
      i = 0
      while (i < n) {
        val src = order(i)
        surrs(i) = sgBuf(src)
        offsets(i) = bpos
        val b = idBuf(src)
        System.arraycopy(b, 0, blob, bpos, b.length)
        bpos += b.length
        i += 1
      }
      offsets(n) = bpos
      Iterator(new Run(surrs, offsets, blob))
    }
  }

  /** K-way merge of sorted runs into one pool. Linear head scan per step
    * (k = partition count ≤ a few dozen): n·k long compares, a 1-2 s
    * one-time cost at 10M entries — no boxing, no driver-side sort. */
  def merge(runs: Array[Run]): IdPool = {
    val k = runs.length
    var total = 0L
    var blobTotal = 0L
    runs.foreach { r => total += r.surrs.length; blobTotal += r.blob.length }
    require(total <= Int.MaxValue - 8 && blobTotal <= Int.MaxValue - 8,
      s"id pool too large to merge: $total entries, $blobTotal blob bytes")
    val surrs = new Array[Long](total.toInt)
    val offsets = new Array[Int](total.toInt + 1)
    val blob = new Array[Byte](blobTotal.toInt)
    val pos = new Array[Int](k)
    var n = 0
    var bpos = 0
    var more = true
    while (more) {
      var best = -1
      var bestSurr = 0L
      var i = 0
      while (i < k) {
        if (pos(i) < runs(i).surrs.length) {
          val s = runs(i).surrs(pos(i))
          if (best < 0 || s < bestSurr) { best = i; bestSurr = s }
        }
        i += 1
      }
      if (best < 0) more = false
      else {
        val r = runs(best)
        val p = pos(best)
        if (n > 0 && surrs(n - 1) == bestSurr) () // collision dup: keep first
        else {
          surrs(n) = bestSurr
          offsets(n) = bpos
          val len = r.offsets(p + 1) - r.offsets(p)
          System.arraycopy(r.blob, r.offsets(p), blob, bpos, len)
          bpos += len
          n += 1
        }
        pos(best) = p + 1
      }
    }
    offsets(n) = bpos
    if (n == total.toInt && bpos == blob.length)
      new IdPool(surrs, offsets, blob)
    else // collisions dropped entries: trim to the kept prefix
      new IdPool(java.util.Arrays.copyOf(surrs, n),
        java.util.Arrays.copyOf(offsets, n + 1),
        java.util.Arrays.copyOf(blob, bpos))
  }
}
