package graft.operators

/** Immutable open-addressing membership set over primitive longs for the
  * filtered serving kernels. A sorted-array binary search over a
  * half-corpus allowed set (e.g. 5M surrogates ≈ 40 MB) costs ~5-7
  * cache-missing tree levels PER PROBED ROW at large-corpus scale; linear
  * probing at load ≤ 0.5 is ~1-2 touches on one cache line — the same
  * answer, ~3× fewer misses on the only hot path that consults it.
  * Zero is handled out-of-band (it is the empty-slot sentinel). Built
  * once per (snapshot, tag) and memoized next to the sorted array, which
  * stays the representation for intersections and small sets. */
final class LongHashSet private (keys: Array[Long], mask: Int,
                                 hasZero: Boolean, val size: Int)
    extends graft.Residency.Sized {

  /** Resident bytes (what the residency ledger counts). */
  val bytes: Long = keys.length * 8L + 32L

  def contains(k: Long): Boolean = {
    if (k == 0L) hasZero
    else {
      var i = LongHashSet.smear(k) & mask
      var cur = keys(i)
      while (cur != 0L) {
        if (cur == k) return true
        i = (i + 1) & mask
        cur = keys(i)
      }
      false
    }
  }
}

object LongHashSet {

  /** Resident-bytes estimate for a set over `n` values WITHOUT building
    * it — the same capacity rule (next pow2 ≥ 2n, min 16) and header as
    * [[from]]/`bytes`, shared so budget pre-checks can never silently
    * diverge from what a built set actually registers. */
  def estimateBytes(n: Long): Long = {
    var cap = 16L
    while (cap < n * 2L) cap <<= 1
    cap * 8L + 32L
  }

  /** Finalizer-style multiplicative mix (xxhash/splitmix tail): linear
    * probing needs well-spread high bits folded into the low ones. */
  private def smear(k: Long): Int = {
    var h = k * -7046029254386353131L // 0x9E3779B97F4A7C15
    h ^= h >>> 32
    h.toInt
  }

  /** Build from distinct values (duplicates tolerated — set semantics).
    * Capacity = next power of two ≥ 2n (load ≤ 0.5). The target is
    * computed in Long: with Int arithmetic, values.length ≥ 2^30 would
    * overflow negative, the loop would exit at cap = 16, and the
    * insertion loop below would spin forever once 16 slots filled —
    * the size require must fire instead. */
  def from(values: Array[Long]): LongHashSet = {
    val target = values.length.toLong * 2L
    var cap = 16
    while (cap < target && cap > 0) cap <<= 1
    require(cap > 0, s"LongHashSet too large: ${values.length} values")
    val keys = new Array[Long](cap)
    val mask = cap - 1
    var hasZero = false
    var n = 0
    var vi = 0
    while (vi < values.length) {
      val k = values(vi)
      if (k == 0L) {
        if (!hasZero) { hasZero = true; n += 1 }
      } else {
        var i = smear(k) & mask
        var cur = keys(i)
        while (cur != 0L && cur != k) { i = (i + 1) & mask; cur = keys(i) }
        if (cur == 0L) { keys(i) = k; n += 1 }
      }
      vi += 1
    }
    new LongHashSet(keys, mask, hasZero, n)
  }
}
