package graft.operators

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class HnswSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private lazy val (vectors, queries) = {
    val rng = new Random(42)
    val centers = Array.fill(8, dim)(rng.nextFloat() * 2 - 1)
    val pts = (0 until 1000).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + (rng.nextFloat() - 0.5f) * 0.2f).toSeq)
    }
    val qs = (0 until 6).map { i =>
      val c = centers(i)
      (i.toLong, c.map(x => x + (rng.nextFloat() - 0.5f) * 0.2f).toSeq)
    }
    (pts.toDF("id", "vec").cache(), qs.toDF("query_id", "qvec").cache())
  }

  private def hitSets(df: DataFrame) = df.select("query_id", "id").collect()
    .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def recall(e: Map[Long, Set[Long]], a: Map[Long, Set[Long]]): Double =
    e.map { case (q, s) => a.getOrElse(q, Set.empty[Long]).intersect(s).size.toDouble / s.size }
      .sum / e.size

  test("per-partition HNSW recall vs brute force (multi-partition merge)") {
    val exact = hitSets(BruteForceKnn.knn(vectors, queries, "L2", 10))
    val graphs = Hnsw.build(vectors, "L2", m = 16, efConstruction = 200,
      numPartitions = 4)
    val got = hitSets(Hnsw.search(graphs, queries, 10, efSearch = 120))
    val r = recall(exact, got)
    assert(r > 0.9, s"HNSW recall $r")
  }

  test("exact configuration: m = efC = ef >= partition rows reproduces brute force exactly") {
    // pins the claim behind the driver-gated hnsw_search oracle: a
    // complete layer-0 (no neighbor shrink) searched with a full beam
    // returns each partition's exact top-k, so the merge IS brute force
    val n = 1000
    val exact = BruteForceKnn.knn(vectors, queries, "L2", 10)
      .select("query_id", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val graphs = Hnsw.build(vectors, "L2", m = n, efConstruction = n,
      numPartitions = 8)
    val got = Hnsw.search(graphs, queries, 10, efSearch = n)
      .select("query_id", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == exact)
  }

  test("deterministic: same build twice gives identical results") {
    val g1 = Hnsw.build(vectors, "L2", numPartitions = 3)
    val g2 = Hnsw.build(vectors, "L2", numPartitions = 3)
    val a = Hnsw.search(g1, queries, 5).collect().map(_.toString).sorted
    val b = Hnsw.search(g2, queries, 5).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("save/load roundtrip preserves search results") {
    val graphs = Hnsw.build(vectors, "L2", numPartitions = 3)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString + "/g"
    Hnsw.save(graphs, dir)
    val loaded = Hnsw.load(spark, dir)
    val a = Hnsw.search(graphs, queries, 5).collect().map(_.toString).sorted
    val b = Hnsw.search(loaded, queries, 5).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("cosine metric: query finds its own vector first") {
    val graphs = Hnsw.build(vectors, "COSINE", numPartitions = 2)
    val self = queries.limit(1)
      .join(vectors, queries("query_id") === vectors("id"))
      .select(vectors("id").as("query_id"), vectors("vec").as("qvec"))
    val hits = Hnsw.search(graphs, self, 1).collect()
    assert(hits.head.getAs[Long]("id") == hits.head.getAs[Long]("query_id"))
    assert(math.abs(hits.head.getAs[Double]("score") - 1.0) < 1e-9)
  }

  test("efSearch increases recall monotonically (quality knob)") {
    val exact = hitSets(BruteForceKnn.knn(vectors, queries, "L2", 10))
    val graphs = Hnsw.build(vectors, "L2", m = 8, efConstruction = 100,
      numPartitions = 4).cache()
    val rs = Seq(10, 40, 160).map { ef =>
      recall(exact, hitSets(Hnsw.search(graphs, queries, 10, ef)))
    }
    assert(rs == rs.sorted, s"not monotone: $rs")
  }

  test("beam-filtered search: exact config == brute force over MEMBERS; full filter == unfiltered") {
    val rng = new Random(77)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Seq.fill(dim)(rng.nextFloat()))).toDF("id", "vec")
    val graphs = Hnsw.build(vecs, "L2", m = 32, efConstruction = 256,
      numPartitions = 1).collect()
    val qs = Array.tabulate(4)(i =>
      (i.toLong, Array.fill(dim)(rng.nextFloat())))
    val allowed = (0L until 200L).filter(_ % 3 == 0).toArray
    // ef >= n: the filtered beam explores the whole component, so the
    // answer must be EXACT brute force over the member set
    val got = Hnsw.searchLocalRowsFiltered(graphs, qs, 10, efSearch = 256,
      AllowedSet(sorted = allowed))
    val raw = vecs.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))
    val bySet = allowed.toSet
    qs.foreach { case (qid, qv) =>
      val exact = raw.filter(v => bySet.contains(v._1))
        .map { case (id, v) =>
          var s = 0.0; var i = 0
          while (i < dim) { val d = qv(i).toDouble - v(i); s += d * d; i += 1 }
          (id, -s)
        }
        .sortBy { case (id, s) => (-s, id) }.take(10)
      val mine = got.filter(_._1 == qid).sortBy(_._2)
        .map(r => (r._3, r._4)).toSeq
      assert(mine == exact.toSeq, s"q$qid beam != member brute force")
      assert(mine.forall(h => bySet.contains(h._1)))
    }
    // member == everyone: identical to the unfiltered beam
    val all = (0L until 200L).toArray
    val gotAll = Hnsw.searchLocalRowsFiltered(graphs, qs, 10, efSearch = 256,
      AllowedSet(sorted = all))
    val unf = Hnsw.searchLocalRows(graphs, qs, 10, efSearch = 256)
    assert(gotAll.toSeq == unf.toSeq)
  }

  test("beam-filtered search finds far members a post-filter cut loses") {
    // 195 non-members cluster near the query; 5 members sit in the far
    // corner. The parity semantics (fetch k*10 unfiltered, then filter)
    // keeps NOTHING — every unfiltered top-50 hit is a non-member; the
    // beam admits only members into the result set and returns all 5.
    val rng = new Random(91)
    val near = (0 until 195).map(i =>
      (i.toLong, Seq.fill(dim)(0.1f + rng.nextFloat() * 0.1f)))
    val far = (195 until 200).map(i =>
      (i.toLong, Seq.fill(dim)(0.9f + rng.nextFloat() * 0.1f)))
    val vecs = (near ++ far).toDF("id", "vec")
    val graphs = Hnsw.build(vecs, "L2", m = 16, efConstruction = 200,
      numPartitions = 1).collect()
    val q = Array((1L, Array.fill(dim)(0.15f)))
    val members = (195L until 200L).toArray
    val beam = Hnsw.searchLocalRowsFiltered(graphs, q, 5, efSearch = 50,
      AllowedSet(sorted = members))
    assert(beam.length == 5, s"beam must return all 5 members, got ${beam.length}")
    assert(beam.map(_._3).toSet == members.toSet)
    // the post-filter shape on the same graph: top-50 unfiltered ∩ members
    val post = Hnsw.searchLocalRows(graphs, q, 50, efSearch = 50)
      .filter(r => members.contains(r._3))
    assert(post.isEmpty,
      s"fixture broken: post-filter should lose the far members, got ${post.length}")
  }
}
