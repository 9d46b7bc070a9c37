package graft

import org.scalacheck.{Gen, Prop}

import graft.functions.{StableHash, VectorSimHash}
import graft.operators.TopKBuf

/** ScalaCheck property tier (SURVEY §5: parser/quantizer/hash roundtrips). */
class PropertySpec extends SparkSpec {

  private def check(p: Prop): Unit = {
    val r = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default, p)
    assert(r.passed, r.status.toString)
  }

  /** For properties whose trial runs whole Spark jobs: fewer, bigger cases. */
  private def checkN(n: Int)(p: Prop): Unit = {
    val params = org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(n)
    val r = org.scalacheck.Test.check(params, p)
    assert(r.passed, r.status.toString)
  }

  private val vecGen: Gen[Seq[Float]] =
    Gen.chooseNum(1, 64).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-100f, 100f)).map(_.toSeq))

  test("fvecs encode/decode roundtrips any vector list") {
    check(Prop.forAll(Gen.listOfN(5, vecGen)) { vs =>
      val dims = vs.map(_.length)
      val back = graft.sources.Fvecs.decode(graft.sources.Fvecs.encode(vs)).toSeq
      back.map(_._2) == vs && back.map(_._1) == vs.indices.map(_.toLong) &&
        back.map(_._2.length) == dims
    })
  }

  test("StableHash: deterministic, seed-sensitive, avalanche-ish") {
    check(Prop.forAll(Gen.alphaNumStr, Gen.long) { (s, seed) =>
      StableHash.hashString(s, seed) == StableHash.hashString(s, seed)
    })
    check(Prop.forAll(Gen.alphaNumStr) { s =>
      s.isEmpty || StableHash.hashString(s, 1L) != StableHash.hashString(s, 2L)
    })
  }

  test("VectorSimHash: scale invariance for any positive scale") {
    check(Prop.forAll(vecGen, Gen.chooseNum(0.01f, 50f)) { (v, c) =>
      VectorSimHash.simhash64(v, 42L) == VectorSimHash.simhash64(v.map(_ * c), 42L)
    })
  }

  test("TopKBuf matches a sort-based oracle for any input stream") {
    val entries = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 50L), Gen.chooseNum(-5.0, 5.0)))
    check(Prop.forAll(entries, Gen.chooseNum(1, 12)) { (xs, k) =>
      val buf = new TopKBuf(k)
      xs.foreach { case (id, s) => buf.add(id, s) }
      buf.compact()
      val got = (0 until buf.n).map(i => (buf.ids(i), buf.scores(i)))
      val want = xs.sortBy { case (id, s) => (-s, id) }.take(k)
      got == want
    })
  }

  test("TopKBuf merge order does not change the result") {
    val entries = Gen.listOfN(300, Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(0.0, 1.0)))
    check(Prop.forAll(entries, Gen.chooseNum(1, 150)) { (xs, split) =>
      val cut = split % (xs.size + 1)
      val (a, b) = xs.splitAt(cut)
      def fill(ys: Seq[(Long, Double)]) = {
        val t = new TopKBuf(5); ys.foreach { case (i, s) => t.add(i, s) }; t
      }
      val m1 = fill(a); m1.mergeFrom(fill(b)); m1.compact()
      val m2 = fill(b); m2.mergeFrom(fill(a)); m2.compact()
      (0 until m1.n).map(i => (m1.ids(i), m1.scores(i))) ==
        (0 until m2.n).map(i => (m2.ids(i), m2.scores(i)))
    })
  }

  test("jaccard: plain / hash-prefix / rare-first paths agree on random corpora") {
    import spark.implicits._
    // random word docs with shared vocabulary so overlaps span tau; a
    // generative complement to TextDedupSpec's planted fixtures
    val wordGen = Gen.chooseNum(0, 30).map(i => s"w$i")
    val docGen = Gen.chooseNum(5, 25).flatMap(n => Gen.listOfN(n, wordGen))
    val corpusGen = Gen.chooseNum(6, 14).flatMap(n => Gen.listOfN(n, docGen))
    checkN(8)(Prop.forAll(corpusGen, Gen.oneOf(0.3, 0.5, 0.7)) { (corpus, tau) =>
      val docs = corpus.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      def pairs(prefix: Boolean, rare: Boolean) =
        graft.operators.TextDedup
          .jaccardPairs(docs, n = 2, tau, prefixFilter = prefix, rareFirst = rare)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
          .toSet
      val plain = pairs(prefix = false, rare = false)
      plain == pairs(prefix = true, rare = false) &&
        plain == pairs(prefix = true, rare = true)
    })
  }

  test("Caching driver-side key twins are bit-identical to the Column forms") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, typedLit, xxhash64}
    val rng = new scala.util.Random(31)
    val cases = (0 until 25).map { i =>
      val qv = Array.fill(1 + rng.nextInt(8))(rng.nextFloat() * 10 - 5)
      val tags = Seq.fill(rng.nextInt(3))(s"t${rng.nextInt(5)}")
      val k = 1 + rng.nextInt(120)
      (i.toLong, qv, tags, k)
    } :+
      // supplementary characters: UTF-16 code-unit order (Scala .sorted)
      // and UTF-8 byte order (sort_array) DISAGREE here — pins the twin's
      // UTF8String sort
      ((99L, Array(1f, 2f), Seq("￿", "😀", "zz"), 10))
    cases.foreach { case (i, qv, tags, k) =>
      val df = Seq((i, qv.toSeq, tags)).toDF("id", "qvec", "tags")
      val row = df.select(
        graft.operators.Caching.queryKey(lit("ten"), lit("idx"), lit(k),
          lit("L2"), typedLit(tags),
          xxhash64(xxhash64(col("qvec")), lit(k))).as("key"),
        xxhash64(xxhash64(col("qvec")), lit(k)).as("lk")).head
      assert(graft.operators.Caching.l0LayerKeyLocal(qv, k) == row.getLong(1),
        s"layer key case $i")
      assert(graft.operators.Caching.queryKeyLocal("ten", "idx", k, "L2",
        tags, row.getLong(1)) == row.getLong(0), s"query key case $i")
    }
    // L2 admission: the driver form both cascades use admits exactly when
    // the Column closenessThreshold (the oracle's form) admits the same
    // best score, for random costs; IP admits no cluster
    import graft.operators.Caching
    import org.apache.spark.sql.functions.sqrt
    val admission = (0 until 60).map { i =>
      val cv = Array.fill(2 + rng.nextInt(6))(rng.nextFloat() * 2 - 1)
      // noise from 0.001 to ~0.3 per coordinate: distances straddle the
      // 0.05-plus-relax bounds on both metrics
      val sigma = math.pow(10, -3 + 2.5 * rng.nextDouble())
      val qv = cv.map(x => (x + rng.nextGaussian() * sigma).toFloat)
      val cost = math.pow(10, 12 * rng.nextDouble() - 6)
      (i, cv, qv, cost)
    }
    val metrics = Seq("COSINE", "L2")
    val scored = for ((i, cv, qv, cost) <- admission; metric <- metrics)
      yield (i, metric, graft.operators.IvfFlat.candidateScore(metric, qv, cv), cost)
    val colAdmits = scored.toDF("i", "metric", "s", "cost")
      .select(col("i"), col("metric"),
        col("s") >= Caching.closenessThreshold("COSINE", col("cost")),
        sqrt(-col("s")) <= Caching.closenessThreshold("L2", col("cost")))
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        (if (r.getString(1) == "COSINE") r.getBoolean(2) else r.getBoolean(3)))
      .toMap
    admission.foreach { case (i, cv, qv, cost) =>
      val cents = Array((7, cv))
      metrics.foreach { metric =>
        assert(Caching.l2ClusterLocal(metric, qv, cost, cents) ==
          Option.when(colAdmits((i, metric)))(7), s"$metric admission case $i")
      }
      assert(Caching.l2ClusterLocal("IP", qv, cost, cents).isEmpty,
        s"IP admission case $i")
    }
    metrics.foreach { metric =>
      val outcomes = colAdmits.collect { case ((_, mt), a) if mt == metric => a }
      assert(outcomes.toSet == Set(true, false), s"$metric: one-sided inputs")
    }
  }

  test("production Caching.roundK: correct bucket, monotone, idempotent on 1..500 (exhaustive)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val buckets = Set(5, 10, 20, 50, 100)
    def model(k: Int): Int =
      if (k <= 5) 5 else if (k <= 10) 10 else if (k <= 20) 20
      else if (k <= 50) 50 else if (k <= 100) 100 else k
    val got = (1 to 500).toDF("k")
      .select(col("k"), graft.operators.Caching.roundK(col("k")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getInt(1))
    got.foreach { case (k, r) =>
      assert(r == model(k), s"roundK($k)")
      assert(r >= k && (buckets.contains(r) || r == k))
      assert(model(r) == r) // idempotent
    }
  }

  test("IVF_PQ resident tier == distributed ADC plan on random corpora/params") {
    import spark.implicits._
    val caseGen = for {
      n <- Gen.chooseNum(20, 120)
      dim <- Gen.oneOf(4, 8, 16)
      nlist <- Gen.chooseNum(2, 6)
      m <- Gen.oneOf(2, 4)
      nprobe <- Gen.chooseNum(1, 4)
      k <- Gen.chooseNum(1, 8)
      seed <- Gen.chooseNum(1L, 10000L)
    } yield (n, dim, nlist, m, nprobe, k, seed)
    checkN(8)(Prop.forAll(caseGen) { case (n, dim, nlist, m, nprobe, k, seed) =>
      val rng = new scala.util.Random(seed)
      val vectors = (0 until n).map(i =>
        (i.toLong, Seq.fill(dim)(rng.nextFloat() * 2 - 1))).toDF("id", "vec")
      val queries = (0 until 3).map(i =>
        (i.toLong, Seq.fill(dim)(rng.nextFloat() * 2 - 1)))
      val idx = graft.operators.IvfPq.build(vectors, nlist, m, k = 8,
        seed = seed)
      val planRows = graft.operators.IvfPq
        .search(idx, queries.toDF("query_id", "qvec"), k, nprobe).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val qArr = queries.map { case (qid, v) => (qid, v.toArray) }.toArray
      val tier = graft.operators.IvfPq
        .searchLocalRows(idx, qArr, k, nprobe, spark)
        .sortBy(t => (t._1, t._2)).toSeq
      tier == planRows
    })
  }

  test("span dedup matches a local model on any corpus: removal set, order, reassembly") {
    import org.apache.spark.sql.functions.col
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val doc = Gen.chooseNum(1, 17).flatMap(n => Gen.listOfN(n, word))
    val corpus = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, doc))
    checkN(12)(Prop.forAll(corpus, Gen.chooseNum(1, 4)) { (docsW, w) =>
      // local model: same span cut, global counts, strip-all-duplicated
      val spansOf = docsW.map(_.grouped(w).map(_.mkString(" ")).toVector)
      val counts = spansOf.flatten.groupBy(identity).view.mapValues(_.size)
      val expect = spansOf.map { ss =>
        val kept = ss.filter(s => counts(s) == 1)
        (ss.length.toLong, (ss.length - kept.length).toLong, kept.mkString(" "))
      }
      val s = spark
      import s.implicits._
      val df = docsW.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.operators.TextDedup.dedupSpans(df, width = w)
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getAs[Long]("n_spans"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text"))).toSeq
      got == expect
    })
  }

  // ---- the strict JSON codec: every record type it reads --------------

  /** Strings a hand-rolled codec gets wrong: quotes, backslashes (and a
    * literal backslash-u sequence), control characters, JSON structure
    * characters and non-BMP code points. Sizes stay small: each case
    * parses every prefix of its rendered text. */
  private val nasty: Gen[String] = Gen.resize(12, Gen.listOf(Gen.frequency(
    4 -> Gen.oneOf("\"", "\\", "\\\"", "\\" + "u0041", "\u0000", "\n", "\r",
      "\t", "\u001f", "\u007f", "\u2028", "{", "}", ":", ",", "[", "]"),
    4 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.choose(0xa0, 0xd7ff).map(c => new String(Character.toChars(c))),
    2 -> Gen.choose(0x10000, 0x10ffff).map(c => new String(Character.toChars(c))))))
    .map(_.mkString)
  private def few[A](g: Gen[A]): Gen[A] = Gen.resize(4, g)

  /** render → parse is the identity (compared through `view`), and every
    * strict prefix of the rendered text throws `err` with a message
    * naming `label` — never reads as defaults. */
  private def roundTrips[A, B](gen: Gen[A], err: Class[_ <: RuntimeException],
                               label: String)(render: A => String)(
                               parse: String => B)(view: A => B): Unit =
    check(Prop.forAll(gen) { a =>
      val text = render(a)
      parse(text) == view(a) && (0 until text.length).forall { n =>
        try { parse(text.substring(0, n)); false }
        catch { case e: RuntimeException =>
          err.isInstance(e) && e.getMessage.contains(label) }
      }
    })

  test("strict JSON codec: every record round-trips; no strict prefix reads as defaults") {
    import org.scalacheck.Arbitrary.arbitrary
    import graft.operators.{ScalarQuant, Sq16Store}
    val ise = classOf[IllegalStateException]
    val iae = classOf[IllegalArgumentException]
    // the writers render ±Infinity and NaN as Scala prints them
    val dbl = Gen.frequency(1 -> Gen.oneOf(Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, Double.MinPositiveValue, Double.MaxValue),
      4 -> arbitrary[Double].suchThat(!_.isNaN))
    val flt = Gen.frequency(1 -> Gen.oneOf(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, -0.0f, Float.MinPositiveValue, Float.MaxValue),
      4 -> arbitrary[Float])
    // floats compare by bits: ScalarQuant params must round-trip exactly
    val bits = (f: Float) => java.lang.Float.floatToIntBits(f)
    val int = arbitrary[Int]
    val long = arbitrary[Long]

    val tenant = for {
      qps <- int; conc <- int; mb <- int; daily <- long; prio <- int
      budget <- dbl; key <- nasty
    } yield (TenantQuota(qps, conc, mb, daily, prio, budget), key)
    roundTrips(tenant, ise, "corrupt config t")((Management.renderTenant _).tupled)(
      Management.parseTenant("t", _))(identity)
    roundTrips(few(Gen.mapOf(Gen.zip(nasty, Gen.oneOf(Management.Roles.toSeq)))), ise,
      "corrupt config u")(Management.renderUsers)(Management.parseUsers("u", _))(identity)
    roundTrips(Gen.zip(arbitrary[Boolean], int).map(CachePolicy.tupled), ise,
      "corrupt config p")(Management.renderPolicy)(Management.parsePolicy("p", _))(identity)
    val index = for {
      dim <- int; metric <- nasty; algo <- nasty; nlist <- int; m <- int; k <- int
    } yield DeclaredIndex(dim, metric, algo, nlist, m, k)
    roundTrips(index, ise, "corrupt config i")(Management.renderIndex)(
      Management.parseIndex("i", _))(identity)
    roundTrips(Gen.zip(long, long, long), ise, "corrupt config r")(
      Management.renderRegistry)(Management.parseRegistry("r", _))(identity)

    val meta = for {
      dim <- Gen.posNum[Int]; mn <- flt; mx <- flt
      rows <- few(Gen.listOf(Gen.chooseNum(0, Int.MaxValue)))
    } yield Sq16Store.Meta(dim, mn, mx, rows.toArray)
    val metaView = (m: Sq16Store.Meta) => (m.dim, bits(m.mn), bits(m.mx), m.segRows.toSeq)
    roundTrips(meta, iae, "sq16 sidecar meta s")(Sq16Store.renderMeta)(
      t => metaView(Sq16Store.parseMeta("s", t)))(metaView)
    val paramsView = (p: ScalarQuant.Params) => (bits(p.min), bits(p.max))
    roundTrips(Gen.zip(flt, flt).map(ScalarQuant.Params.tupled),
      iae, "bad params file q")(ScalarQuant.renderParams)(
      t => paramsView(ScalarQuant.parseParams("q", t)))(paramsView)
  }
}
