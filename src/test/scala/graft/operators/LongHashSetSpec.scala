package graft.operators

import scala.util.Random

import graft.SparkSpec

/** The open-addressing allowed-set membership behind large filtered
  * scans: set parity with the sorted array it is built from, and kernel
  * result equality whichever membership structure the scan tests. */
class LongHashSetSpec extends SparkSpec {
  import spark.implicits._

  test("membership parity with the source array, incl. zero and negatives") {
    val rng = new Random(3)
    val values = (Array.fill(10000)(rng.nextLong()) :+ 0L :+ Long.MinValue
      :+ Long.MaxValue :+ -1L).distinct
    java.util.Arrays.sort(values)
    val set = LongHashSet.from(values)
    assert(set.size == values.length)
    values.foreach(v => assert(set.contains(v), s"missing $v"))
    (0 until 10000).foreach { _ =>
      val probe = rng.nextLong()
      assert(set.contains(probe) ==
        (java.util.Arrays.binarySearch(values, probe) >= 0))
    }
  }

  test("duplicates collapse; empty set contains nothing") {
    val set = LongHashSet.from(Array(5L, 5L, 7L, 0L, 0L))
    assert(set.size == 3)
    assert(set.contains(5L) && set.contains(7L) && set.contains(0L))
    assert(!set.contains(6L))
    val empty = LongHashSet.from(Array.empty[Long])
    assert(empty.size == 0 && !empty.contains(0L) && !empty.contains(1L))
  }

  test("IvfFlat filtered scan: hash-set membership == binary-search membership") {
    val rng = new Random(17)
    val vectors = (0 until 600).map(i =>
      (rng.nextLong(), Seq.fill(8)(rng.nextFloat()))).toDF("id", "vec")
    val idx = IvfFlat.build(vectors, nlist = 4)
    val allowed = idx.assigned.select("id").collect().map(_.getLong(0))
      .filter(_ % 2 == 0)
    java.util.Arrays.sort(allowed)
    val queries = Array((1L, Array.fill(8)(rng.nextFloat())),
      (2L, Array.fill(8)(rng.nextFloat())))
    val viaArray = IvfFlat.searchLocalRows(idx, queries, "L2", 5, nprobe = 2,
      spark, AllowedSet(sorted = allowed))
    val viaHash = IvfFlat.searchLocalRows(idx, queries, "L2", 5, nprobe = 2,
      spark, AllowedSet(sorted = allowed, hash = LongHashSet.from(allowed)))
    assert(viaArray.toSeq == viaHash.toSeq)
  }

  private def bitsFor(idsPerPart: Array[Array[Long]],
                      allowed: Array[Long]): Array[Array[Long]] =
    idsPerPart.map { ids =>
      val b = new Array[Long]((ids.length + 63) >>> 6)
      ids.zipWithIndex.foreach { case (id, r) =>
        if (java.util.Arrays.binarySearch(allowed, id) >= 0)
          b(r >>> 6) |= 1L << (r & 63)
      }
      b
    }

  test("IvfFlat filtered scan: row-bitmap membership == binary-search membership") {
    val rng = new Random(23)
    val vectors = (0 until 600).map(i =>
      (rng.nextLong(), Seq.fill(8)(rng.nextFloat()))).toDF("id", "vec")
    val idx = IvfFlat.build(vectors, nlist = 4)
    val allowed = idx.assigned.select("id").collect().map(_.getLong(0))
      .filter(_ % 2 == 0)
    java.util.Arrays.sort(allowed)
    require(idx.packedDriver.isDefined)
    val bits = bitsFor(idx.packedDriver.get.map(_.ids), allowed)
    val queries = Array((1L, Array.fill(8)(rng.nextFloat())),
      (2L, Array.fill(8)(rng.nextFloat())))
    val viaArray = IvfFlat.searchLocalRows(idx, queries, "L2", 5, nprobe = 2,
      spark, AllowedSet(sorted = allowed))
    val viaBits = IvfFlat.searchLocalRows(idx, queries, "L2", 5, nprobe = 2,
      spark, AllowedSet(sorted = allowed, bits = bits))
    assert(viaArray.toSeq == viaBits.toSeq)
  }

  test("IvfPq filtered scan: row-bitmap membership == binary-search membership") {
    val rng = new Random(29)
    val vectors = (0 until 600).map(i =>
      (rng.nextLong(), Seq.fill(8)(rng.nextFloat()))).toDF("id", "vec")
    val idx = IvfPq.build(vectors, nlist = 4, m = 4, k = 16)
    val allowed = idx.assigned.select("id").collect().map(_.getLong(0))
      .filter(_ % 2 == 0)
    java.util.Arrays.sort(allowed)
    require(idx.packedDriver.isDefined)
    val bits = bitsFor(idx.packedDriver.get.map(_.ids), allowed)
    val queries = Array((1L, Array.fill(8)(rng.nextFloat())),
      (2L, Array.fill(8)(rng.nextFloat())))
    val viaArray = IvfPq.searchLocalRows(idx, queries, 5, nprobe = 2, spark,
      AllowedSet(sorted = allowed))
    val viaBits = IvfPq.searchLocalRows(idx, queries, 5, nprobe = 2, spark,
      AllowedSet(sorted = allowed, bits = bits))
    assert(viaArray.toSeq == viaBits.toSeq)
  }

  test("IvfPq filtered scan: hash-set membership == binary-search membership") {
    val rng = new Random(19)
    val vectors = (0 until 600).map(i =>
      (rng.nextLong(), Seq.fill(8)(rng.nextFloat()))).toDF("id", "vec")
    val idx = IvfPq.build(vectors, nlist = 4, m = 4, k = 16)
    val allowed = idx.assigned.select("id").collect().map(_.getLong(0))
      .filter(_ % 2 == 0)
    java.util.Arrays.sort(allowed)
    require(idx.packedDriver.isDefined)
    val queries = Array((1L, Array.fill(8)(rng.nextFloat())),
      (2L, Array.fill(8)(rng.nextFloat())))
    val viaArray = IvfPq.searchLocalRows(idx, queries, 5, nprobe = 2, spark,
      AllowedSet(sorted = allowed))
    val viaHash = IvfPq.searchLocalRows(idx, queries, 5, nprobe = 2, spark,
      AllowedSet(sorted = allowed, hash = LongHashSet.from(allowed)))
    assert(viaArray.toSeq == viaHash.toSeq)
  }

  test("hash-ONLY membership filters (sorted array absent) on both kernels") {
    // the public signatures permit allowedHash without allowedSorted —
    // the r7 kernels silently DROPPED the filter in that combination
    val rng = new Random(31)
    val vectors = (0 until 600).map(i =>
      (rng.nextLong(), Seq.fill(8)(rng.nextFloat()))).toDF("id", "vec")
    val queries = Array((1L, Array.fill(8)(rng.nextFloat())),
      (2L, Array.fill(8)(rng.nextFloat())))
    val flat = IvfFlat.build(vectors, nlist = 4)
    val allowed = flat.assigned.select("id").collect().map(_.getLong(0))
      .filter(_ % 2 == 0)
    java.util.Arrays.sort(allowed)
    val set = LongHashSet.from(allowed)
    val flatSorted = IvfFlat.searchLocalRows(flat, queries, "L2", 5,
      nprobe = 2, spark, AllowedSet(sorted = allowed))
    val flatHashOnly = IvfFlat.searchLocalRows(flat, queries, "L2", 5,
      nprobe = 2, spark, AllowedSet(hash = set))
    assert(flatHashOnly.toSeq == flatSorted.toSeq)
    val pq = IvfPq.build(vectors, nlist = 4, m = 4, k = 16)
    val pqSorted = IvfPq.searchLocalRows(pq, queries, 5, nprobe = 2, spark,
      AllowedSet(sorted = allowed))
    val pqHashOnly = IvfPq.searchLocalRows(pq, queries, 5, nprobe = 2, spark,
      AllowedSet(hash = set))
    assert(pqHashOnly.toSeq == pqSorted.toSeq)
  }
}
