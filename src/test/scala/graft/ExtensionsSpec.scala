package graft

import org.apache.spark.sql.{functions => F}
import graft.functions.{dedup, multimodal, sampling, similarity, text}

/** Extension operators on tiny literal data. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private def assertNoNewPinned(baseline: Set[Int], what: String): Unit = {
    val extra = newPinned(baseline)
    assert(extra.isEmpty, s"$what still pinned: ${extra.size}")
  }

  private def docsDf = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "s1"),
    (2L, "the quick brown fox jumps over the lazy cat", "s1"),
    (3L, "completely different text with other words here", "s1"),
    (4L, "the quick brown fox jumps over the lazy dog", "s2")
  ).toDF("doc_id", "text", "source")

  test("exact dedup groups identical texts") {
    val d = dedup.exactDuplicates(docsDf, "doc_id", "text")
    val dups = d.filter(F.col("n_copies") > 1).collect()
    assert(dups.length == 1 && dups.head.getAs[Long]("keep_id") == 1L)
    assert(d.count() == 3)
  }

  test("token jaccard pairs find near-dups within buckets") {
    val p = dedup.tokenJaccardPairs(docsDf, "doc_id", "text", "source", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p == Set((1L, 2L))) // doc 4 is in another bucket; doc 3 dissimilar
  }

  test("minhash LSH finds the near-dup pair with high estimate") {
    val p = dedup.minhashPairs(docsDf, "doc_id", "text",
      k = 2, numPerm = 32, bands = 16, threshold = 0.3).collect()
    val ids = p.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((1L, 2L)))
    assert(!ids.exists { case (a, b) => Set(a, b) == Set(1L, 3L) })
  }

  test("LSH-fed jaccard pairs equal the all-pairs exact scan") {
    val lsh = dedup.jaccardPairsLsh(docsDf, "doc_id", "text",
        k = 2, numPerm = 64, bands = 32, minJ = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = dedup.tokenJaccardPairs( // constant bucket = true all-pairs…
        docsDf.withColumn("one", F.lit(1)), "doc_id", "text", "one", 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // …re-measured on 2-shingles for comparability
    val sh2 = docsDf.select(F.col("doc_id"),
      dedup.shingleHashes(F.col("text"), 2).as("sh"))
    val exact = sh2.as("a").join(sh2.as("b"), F.col("a.doc_id") < F.col("b.doc_id"))
      .select(F.col("a.doc_id"), F.col("b.doc_id"),
        dedup.tokenJaccard(F.col("a.sh"), F.col("b.sh")).as("j"))
      .filter(F.col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact) // recall 1 here: identical + 1-word-edit docs
    assert(all.nonEmpty) // the quadratic verification stage still works
  }

  test("signature caches auto-release after the consuming query completes") {
    val baseline = pinned
    dedup.minhashPairs(docsDf, "doc_id", "text",
      k = 2, numPerm = 32, bands = 16, threshold = 0.3).collect()
    dedup.jaccardPairsLsh(docsDf, "doc_id", "text",
      k = 2, numPerm = 64, bands = 32, minJ = 0.5).collect()
    assertNoNewPinned(baseline,
      "signature frames after materialization")
  }

  test("simhash multi-index blocking equals the all-pairs Hamming scan") {
    val multi = dedup.simhashPairs(docsDf, "doc_id", "text", maxDist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val allPairs = dedup.simhashPairsWithin(
        docsDf.withColumn("one", F.lit(1)), "doc_id", "text", "one", maxDist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(multi == allPairs) // pigeonhole blocking is exact, not approximate
    assert(multi.exists { case (a, b, d) => a == 1L && b == 4L && d == 0 })
  }

  test("simhash chunk-pair blocking ≡ single-chunk blocking ≡ all-pairs at maxDist=6") {
    // 60 docs: 20 bases × 3 variants (identical / one-word edit / reorder)
    // so several pairs land within Hamming ≤ 6 and many don't
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rnd = new scala.util.Random(42)
    val docs = (0 until 20).flatMap { b =>
      val base = Seq.fill(12)(words(rnd.nextInt(words.length)))
      Seq(
        (b * 3L, base.mkString(" ")),
        (b * 3L + 1, (base :+ words(rnd.nextInt(words.length))).mkString(" ")),
        (b * 3L + 2, rnd.shuffle(base).mkString(" ")))
    }.toDF("doc_id", "text")
    def run(pairs: Boolean) = dedup.simhashPairs(docs, "doc_id", "text",
        maxDist = 6, pairBlocking = pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaPairs = run(true)
    val viaChunks = run(false)
    val allPairs = dedup.simhashPairsWithin(
        docs.withColumn("one", F.lit(1)), "doc_id", "text", "one", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaPairs == allPairs)   // C(8,2)=28 two-chunk indexes are exact
    assert(viaChunks == allPairs)  // 7 single-chunk indexes are exact
    assert(allPairs.nonEmpty)      // the fixture actually plants close pairs
  }

  test("cosine LSH pairs: same-bucket near-dups verified exactly") {
    val v = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val p = similarity.cosinePairsLsh(v, "vec_id", "embedding",
        dim = 4, nPlanes = 2, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p.contains((1L, 2L))) // near-identical vectors share every sign bit
    assert(!p.exists { case (a, b) => Set(a, b) == Set(1L, 3L) })
  }

  test("hot-bucket cap bounds pair generation on a skewed corpus and keeps it connected") {
    val copies = (0L until 1000L).map(i =>
      (i, "spam spam lovely spam wonderful spam boilerplate"))
    val uniques = Seq(
      (2000L, "a genuinely unique document about gardens"),
      (2001L, "another singular text concerning astronomy"))
    val df = (copies ++ uniques).toDF("doc_id", "text")
    val pairs = dedup.minhashPairs(df, "doc_id", "text",
        k = 2, numPerm = 16, bands = 4, threshold = 0.5, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // linear-in-m candidate volume: ~20 hash-split sub-buckets of ~50
    // rows each (+1 ring representative) — far below the uncapped
    // C(1000,2) = 499,500
    assert(pairs.length < 120000)
    assert(!pairs.exists { case (a, b) => a >= 2000L || b >= 2000L })
    // the 1000-copy clique stays ONE component via the ring links
    val parent = scala.collection.mutable.Map((0L until 1000L).map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    assert((0L until 1000L).map(find).toSet.size == 1)
  }

  test("ring-chained salting stays bounded and connected even when m/cap > cap") {
    // the regime that broke the old shared-representatives bucket: a
    // 10k-row bucket at cap=10 → 1000 sub-buckets; the old scheme put
    // all 1000 reps in ONE salt=-1 bucket (quadratic again), the ring
    // chains them with exactly one extra row per sub-bucket
    val df = (0L until 10000L).map(i => (i, 1)).toDF("id", "b")
    val out = dedup.saltOversized(df, Seq("b"), cap = 10).cache()
    try {
      val sizes = out.groupBy("b", "salt").count()
        .collect().map(_.getLong(2))
      assert(sizes.max <= 40)          // ~Poisson(10) + 1 rep, whp bound
      assert(sizes.length >= 900)      // really did split ~1000 ways
      assert(out.count() >= 10000 + 900) // every row once + ~1 rep per sub-bucket
      // all-pairs-within-sub-bucket implies one component over all ids
      val groups = out.select("salt", "id").collect()
        .groupBy(_.getInt(0)).values.map(_.map(_.getLong(1)).toSeq)
      val parent = scala.collection.mutable.Map((0L until 10000L).map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      groups.foreach { g =>
        g.tail.foreach { x =>
          val (ra, rb) = (find(g.head), find(x)); if (ra != rb) parent(ra) = rb } }
      assert((0L until 10000L).map(find).toSet.size == 1)
    } finally out.unpersist()
  }

  test("capped pair generators equal uncapped when no bucket overflows") {
    val capped = dedup.simhashPairs(docsDf, "doc_id", "text",
        maxDist = 20, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = dedup.simhashPairs(docsDf, "doc_id", "text", maxDist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped)
    intercept[IllegalArgumentException] {
      dedup.simhashPairs(docsDf, "doc_id", "text", maxDist = -1)
    }
  }

  test("multi-table cosine LSH equals the all-pairs exact scan on planted near-dups") {
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }
    val pert = base.map { case (id, x) =>
      (id + 1000L, x.zipWithIndex.map { case (v, j) => v + 0.01f * ((j % 3) - 1) })
    }
    val v = (base ++ pert).toDF("vec_id", "embedding")
    val lsh = similarity.cosinePairsLsh(v, "vec_id", "embedding",
        dim = 16, nPlanes = 8, minCos = 0.95, nTables = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = similarity.cosinePairs(v.withColumn("one", F.lit(1)),
        "vec_id", "embedding", "one", minCos = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == all)      // recall 1 on the planted pairs, no extras
    assert(all.size >= 40)  // every planted near-dup is present
  }

  test("saltedJoin rejects right-preserving join types") {
    import graft.functions.skew
    val l = Seq((1L, "a")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      skew.saltedJoin(l, l, Seq("k"), factor = 4, how = "full_outer")
    }
  }

  test("native shingle hashing equals the portable built-ins pipeline") {
    // fixture + whitespace edge cases: tab/space edges (full-whitespace
    // trim, no phantom edge tokens), repeated separators, short docs (< k)
    import spark.implicits._
    val texts = docsDf.select(F.col("text")).as[String].collect().toSeq ++
      Seq("  \ta b\tc  ", "one", "a  b", "", " ", "x y z w")
    val df = texts.toDF("text")
    for (k <- Seq(1, 2, 3)) {
      val both = df.select(
        dedup.shingleHashes(F.col("text"), k).as("native"),
        dedup.shingleHashesPortable(F.col("text"), k).as("portable"))
      both.collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"k=$k mismatch")
      }
    }
  }

  test("native shingle strings equal the portable pipeline, order and dups kept") {
    import spark.implicits._
    val texts = docsDf.select(F.col("text")).as[String].collect().toSeq ++
      Seq("  \ta b\tc  ", "one", "a  b", "", " ", "x y x y x")
    val df = texts.toDF("text")
    for (k <- Seq(1, 2, 3, 9)) {
      df.select(dedup.shingleStrings(F.col("text"), k).as("native"),
          dedup.shingles(F.col("text"), k).as("portable"))
        .collect().foreach { r =>
          assert(r.getSeq[String](0) == r.getSeq[String](1), s"k=$k mismatch")
        }
    }
  }

  test("native top-ngram share equals the portable run-length fold") {
    import spark.implicits._
    val texts = docsDf.select(F.col("text")).as[String].collect().toSeq ++
      Seq("a a a b", "x y x y x", "one", "", " ", "a  b\tc")
    val df = texts.toDF("text")
    for (n <- Seq(1, 2, 3)) {
      df.select(text.topNgramShare(F.col("text"), n).as("native"),
          graft.functions.text.topNgramSharePortable(F.col("text"), n).as("portable"))
        .collect().foreach { r =>
          assert(r.getDouble(0) == r.getDouble(1), s"n=$n mismatch")
        }
    }
  }

  test("top ngrams count duplicates and break ties by phrase") {
    val df = Seq("a b a b", "a b c").toDF("text")
    val got = text.topNgrams(df, "text", n = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // bigrams: "a b"×3, "b a"×1, "b c"×1 → ties by phrase
    assert(got.toSeq == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("quantizeInt8 maps min/max to -127/127 and constants to 0") {
    val df = Seq(
      (1L, Seq(0.0, 0.5, 1.0)),
      (2L, Seq(3.0, 3.0, 3.0))).toDF("id", "v")
    val got = df.select(F.col("id"), similarity.quantizeInt8(F.col("v")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) == Seq(-127, 0, 127))
    assert(got(2L) == Seq(0, 0, 0))
    val u = df.filter(F.col("id") === 1L)
      .select(similarity.norm(similarity.l2Normalize(F.col("v"))))
      .head().getDouble(0)
    assert(math.abs(u - 1.0) < 1e-12)
  }

  test("native minhash expression equals the portable built-ins fold") {
    val sh = dedup.shingleHashes(F.col("text"), 3)
    val both = docsDf.select(
      dedup.minhashFromHashes(sh, 32).as("native"),
      dedup.minhashFromHashesPortable(sh, 32).as("portable"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
    // empty shingle array → all-MaxValue signature, both paths
    val empty = spark.sql(
      "SELECT graft_minhash(CAST(array() AS array<bigint>), 4) AS s").collect()
    assert(empty.head.getSeq[Long](0) == Seq.fill(4)(Long.MaxValue))
  }

  test("replayable minhash matches a BigInteger model of (a·h+b) mod 2^61−1") {
    import graft.plans.MinHashPortableExpr
    val P = java.math.BigInteger.valueOf(MinHashPortableExpr.P)
    val (as, bs) = MinHashPortableExpr.coeffs(8)
    // the Mersenne-chunk modmul against exact BigInteger arithmetic
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 1000) {
      val a = as(rnd.nextInt(8)); val h = rnd.nextLong() >>> 4 // 60-bit
      val got = MinHashPortableExpr.mulmodP(a, h)
      val want = java.math.BigInteger.valueOf(a)
        .multiply(java.math.BigInteger.valueOf(h)).mod(P).longValueExact()
      assert(got == want, s"mulmodP($a, $h)")
    }
    // end-to-end: the codegen'd expression vs a driver-side md5 model
    def fp(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L; for (j <- 0 until 8) v = (v << 8) | (d(j) & 0xffL)
      v >>> 4
    }
    def model(text: String): Seq[Long] = {
      val toks = text.trim.split("\\s+")
      val sh = (if (toks.length < 3) Seq(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toSeq).distinct
      (0 until 8).map { i =>
        sh.map { s =>
          java.math.BigInteger.valueOf(as(i))
            .multiply(java.math.BigInteger.valueOf(fp(s)))
            .add(java.math.BigInteger.valueOf(bs(i)))
            .mod(P).longValueExact()
        }.min
      }
    }
    val texts = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma zeta"), (3L, "one"))
    val got = texts.toDF("id", "text")
      .select(F.col("id"), dedup.minhashReplayable(
        dedup.shingleFp64(F.col("text"), 3), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { case (id, t) => assert(got(id) == model(t), s"doc $id") }
  }

  test("native simhash expression equals the portable built-ins version") {
    val both = docsDf.select(dedup.simhash64(F.col("text")).as("a"),
      dedup.simhash64Portable(F.col("text")).as("b")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("simhash: identical docs distance 0, near-dups close, different far") {
    val sigs = docsDf.select(F.col("doc_id"), dedup.simhash64(F.col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(4L)) == 0)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  test("cosine: orthogonal 0, identical 1; native expression = portable") {
    val v = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(2.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val got = v.as("a").crossJoin(v.as("b"))
      .select(F.col("a.vec_id"), F.col("b.vec_id"),
        similarity.cosine(F.col("a.embedding"), F.col("b.embedding")).as("c"),
        (similarity.dotPortable(F.col("a.embedding"), F.col("b.embedding")) /
          F.sqrt(similarity.dotPortable(F.col("a.embedding"), F.col("a.embedding"))) /
          F.sqrt(similarity.dotPortable(F.col("b.embedding"), F.col("b.embedding")))).as("cp"))
      .collect()
    got.foreach { r => assert(r.getDouble(2) == r.getDouble(3)) }
    val m = got.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((1L, 2L)) == 0.0 && m((1L, 3L)) == 1.0)
  }

  test("top-k equals a driver-side exact sort (via the heap aggregate, no windows)") {
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val queries = corpus.take(5)
    val df = corpus.toDF("vec_id", "embedding").repartition(7) // force multi-partition stage 1
    val got = similarity.bruteForceTopK(df,
        queries.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 4)
    // exact oracle: full scoring + sort on the driver
    def dotd(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    def nrm(a: Array[Float]) = math.sqrt(dotd(a, a))
    val expected = queries.flatMap { case (qid, qv) =>
      corpus.filter(_._1 != qid)
        .map { case (nid, nv) => (nid, dotd(qv, nv) / nrm(qv) / nrm(nv)) }
        .sortBy { case (nid, cos) => (-cos, nid) }
        .take(4).zipWithIndex
        .map { case ((nid, cos), r) => (qid, nid, cos, r + 1L) }
    }.toSet
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows == expected)
    // plan shape: ranking is the map-side-combining graft_topk aggregate
    // — no window operator, so no full-candidate shuffle-and-sort per
    // q_id anywhere in the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("graft_topk"), plan)
    assert(!plan.linesIterator.exists(_.contains("Window")), plan)
  }

  test("packed-sign hyperplane buckets equal the literal-plane lshBucket per table") {
    val rnd = new scala.util.Random(3)
    val v = (0 until 20).map(i => (i.toLong, Array.fill(10)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val (dim, nPlanes, nTables, seed) = (10, 5, 6, 42)
    val packed = F.typedlit(
      similarity.packedPlaneSigns(dim, nPlanes, nTables, seed).toSeq)
    val viaExpr = F.call_function("graft_hyperplane_buckets",
      F.col("embedding"), packed, F.lit(nPlanes))
    val viaLiterals = F.array((0 until nTables).map(t =>
      similarity.lshBucket(F.col("embedding"), dim, nPlanes, seed + 7919 * t)): _*)
    v.select(viaExpr.as("a"), viaLiterals.as("b")).collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("graft_topk bounded-heap aggregate equals the window ranking, Double and Decimal") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(23)
    // 2000 scored candidates over 7 queries, with forced score TIES so
    // the (cos desc, n_id asc) tie-break is actually exercised; one
    // query has fewer candidates than k
    val rows = (0 until 2000).map { i =>
      (rnd.nextInt(7).toLong, i.toLong, rnd.nextInt(40) / 10.0)
    } ++ Seq((99L, 1L, 0.5), (99L, 2L, 0.5))
    val scored = rows.toDF("q_id", "n_id", "cos")
    def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) = df.groupBy("q_id")
      .agg(F.call_function("graft_topk", F.col("cos"), F.col("n_id"), F.lit(k)).as("tk"))
      .select(F.col("q_id"), F.posexplode(F.col("tk")).as(Seq("p", "s")))
      .select(F.col("q_id"), F.col("s.id").as("n_id"), F.col("s.score").as("cos"),
        (F.col("p") + 1).cast("long").as("rank"))
    def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = df
      .withColumn("rank", F.row_number().over(Window.partitionBy("q_id")
        .orderBy(F.col("cos").desc, F.col("n_id").asc)).cast("long"))
      .filter(F.col("rank") <= k)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2).toString, r.getLong(3))).toSet
    assert(key(viaAgg(scored, 5)) == key(viaWindow(scored, 5)))
    // k larger than any query's candidate count: ALL rows come back
    assert(key(viaAgg(scored, 5000)) == key(viaWindow(scored, 5000)))
    // exact Decimal scores (the BM25/RRF posture) order by decimal value
    val dec = scored.select(F.col("q_id"), F.col("n_id"),
      F.col("cos").cast(org.apache.spark.sql.types.DecimalType(28, 7)).as("cos"))
    assert(key(viaAgg(dec, 3)) == key(viaWindow(dec, 3)))
    // null scores are skipped, never ranked
    val withNull = scored.unionByName(
      Seq((0L, 999777L)).toDF("q_id", "n_id").withColumn("cos",
        F.lit(null).cast("double")).select("q_id", "n_id", "cos"))
    assert(!viaAgg(withNull, 5000).collect().exists(_.getLong(1) == 999777L))
  }

  test("graft_topk: neutral struct field names, analysis error on wrong arity") {
    val rows = Seq((1L, 10L, 0.5), (1L, 11L, 0.9)).toDF("q_id", "n_id", "cos")
    rows.createOrReplaceTempView("topk_in")
    // registered as a GENERAL function: struct fields must be the
    // neutral score/id, not any caller's vocabulary
    val out = spark.sql(
      "SELECT graft_topk(cos, n_id, 2) AS tk FROM topk_in GROUP BY q_id")
    val elem = out.schema("tk").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(elem.fieldNames.toSeq == Seq("score", "id"))
    assert(out.selectExpr("tk[0].id", "tk[0].score").head().getLong(0) == 11L)
    // wrong arity is an AnalysisException with the function name in the
    // message, not an IndexOutOfBoundsException from the builder
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_topk(cos, n_id) FROM topk_in GROUP BY q_id")
    }
    assert(e.getMessage.contains("graft_topk"), e.getMessage)
    // the registered usage string documents the null-score exclusion
    val usage = spark.sql("DESCRIBE FUNCTION EXTENDED graft_topk")
      .collect().map(_.getString(0)).mkString("\n")
    assert(usage.contains("NULL score are excluded"), usage)
  }

  test("IVF top-k: full probing equals brute force; partial probing keeps recall") {
    val baseline = pinned
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(F.col("vec_id") < 6)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(r.fieldIndex("q_id")), r.getLong(r.fieldIndex("rank")),
        r.getLong(r.fieldIndex("n_id")))).toSet
    val brute = key(similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5))
    // nprobe = nlist → provably identical to brute force
    val full = key(similarity.ivfTopK(e, q, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 8, iters = 2))
    assert(full == brute)
    // partial probing: recall@5 against brute force stays high
    val part = key(similarity.ivfTopK(e, q, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 3, iters = 2))
    val bruteIds = brute.map { case (qid, _, nid) => (qid, nid) }
    val partIds = part.map { case (qid, _, nid) => (qid, nid) }
    val recall = (bruteIds & partIds).size.toDouble / bruteIds.size
    assert(recall >= 0.5, s"recall@5 with nprobe=3/8 was $recall")
    // centroid training never leaves pinned sample storage behind
    assertNoNewPinned(baseline, "centroid-training sample storage")
  }

  test("brute-force top-k returns k neighbors ranked by cosine") {
    val v = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0f, 0.1f))).toDF("vec_id", "embedding")
    val r = similarity.bruteForceTopK(v, v.filter(F.col("vec_id") === 1L),
      "vec_id", "embedding", k = 2).collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(4L, 2L)) // closest first
  }

  test("text analysis: counts, quality in [0,1], langid, fingerprints") {
    val d = docsDf.select(
      text.tokenCount(F.col("text")).as("nt"),
      text.qualityScore(F.col("text")).as("q"),
      text.languageId(F.col("text")).as("lang"),
      text.fingerprintMd5(F.col("text")).as("md5"),
      text.fingerprint64(F.col("text")).as("fp"),
      text.rollingTokenHash(F.col("text")).as("rh")).collect()
    assert(d.head.getAs[Long]("nt") == 9L)
    d.foreach { r =>
      assert(r.getAs[Double]("q") >= 0.0 && r.getAs[Double]("q") <= 1.0)
      assert(r.getAs[String]("lang") == "en")
      assert(r.getAs[String]("md5").length == 32)
    }
    // rolling hash is order-sensitive: docs 1 and 2 differ
    assert(d(0).getAs[Long]("rh") != d(1).getAs[Long]("rh"))
    assert(d(0).getAs[Long]("rh") == d(3).getAs[Long]("rh"))
  }

  test("multimodal: typed pipeline with stubbed decode") {
    val feats = multimodal.decodeFeatures(
      multimodal.toMedia(docsDf, "doc_id", "text")).collect()
    assert(feats.length == 4)
    val f = feats.find(_.doc_id == 1L).get
    assert(f.n_bytes == 43L && f.magic == "the " && f.channels == 3)
    assert(f.width == (43 % 640) && f.height == (43 % 480))
  }

  test("multimodal: ImageIO decodes real PNG bytes; unreadable payloads fall back") {
    import multimodal._
    import org.apache.spark.sql.Encoders
    // real path: encoder → decoder round-trips exact geometry + bands
    val media = spark.range(0, 20).as(Encoders.scalaLong).mapPartitions { it =>
      it.map { id =>
        val w = 3 + (id % 5).toInt; val h = 2 + (id % 7).toInt
        val b = syntheticPng(w, h, seed = id)
        MediaRow(id, b, b.length.toLong, "PNG")
      }
    }(mediaRowEnc)
    decodeFeatures(media).collect().foreach { f =>
      assert(f.width == 3 + (f.doc_id % 5).toInt, s"doc ${f.doc_id}")
      assert(f.height == 2 + (f.doc_id % 7).toInt, s"doc ${f.doc_id}")
      assert(f.channels == 3) // TYPE_3BYTE_BGR raster truly parsed
    }
    // fallback path: text bytes are not an image → byte-statistics dims
    val text = decodeFeatures(toMedia(docsDf, "doc_id", "text")).collect()
    text.foreach { f =>
      assert(f.width == (f.n_bytes % 640).toInt && f.height == (f.n_bytes % 480).toInt)
    }
  }

  test("multimodal: resize preserves aspect ratio within bounds; frame sampling explodes") {
    val media = multimodal.toMedia(docsDf, "doc_id", "text")
    val resized = multimodal.resize(multimodal.decodeFeatures(media), 10, 10).collect()
    resized.foreach { f => assert(f.width <= 10 && f.height <= 10 && f.width >= 1) }
    val frames = multimodal.sampleFrames(media, stride = 10L).collect()
    val f1 = frames.filter(_.doc_id == 1L).sortBy(_.frame_idx)
    // 43 bytes / stride 10 → 5 frames: 10+10+10+10+3
    assert(f1.length == 5)
    assert(f1.map(_.n_bytes).sum == 43L)
    assert(f1.last.offset == 40L && f1.last.n_bytes == 3L)
  }

  test("asof backward join picks latest right row <= left ts per key") {
    import graft.functions.joins
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    val l = Seq((1L, 1L, ts(10)), (2L, 1L, ts(30)), (3L, 2L, ts(10)))
      .toDF("id", "k", "ts")
    val r = Seq((1L, ts(5), "a"), (1L, ts(20), "b"), (2L, ts(50), "z"))
      .toDF("k", "ts", "v")
    val j = joins.asofBackward(l, r, "ts", "ts", Seq("k"), Seq("v"))
      .orderBy("id").collect().map(x => (x.getLong(0), x.getString(3))).toSeq
    assert(j == Seq((1L, "a"), (2L, "b"), (3L, null))) // id3: no error ≤ ts
  }

  test("range join matches the inequality join; no duplicate pairs across bins") {
    import graft.functions.joins
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    val points = Seq((1L, 1L, ts(10)), (2L, 1L, ts(45)), (3L, 2L, ts(10)),
        (4L, 1L, ts(200)))
      .toDF("pid", "k", "ts")
    val intervals = Seq((10L, 1L, ts(0), ts(60)), (11L, 1L, ts(40), ts(50)),
        (12L, 2L, ts(20), ts(30)), (13L, 1L, ts(100), ts(300)))
      .toDF("iid", "k", "lo", "hi")
    // binWidth = 15 min: intervals span several bins — each qualifying
    // pair must still appear exactly once (it meets only in the
    // point's own bin)
    val got = joins.rangeJoin(points, intervals, "ts", "lo", "hi",
        binWidth = 15L * 60 * 1000000, by = Seq("k"))
      .select("pid", "iid_iv").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = points.as("p").join(intervals.as("i"),
        F.col("p.k") === F.col("i.k") &&
        F.col("p.ts").between(F.col("i.lo"), F.col("i.hi")))
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want && got == Seq((1L, 10L), (2L, 10L), (2L, 11L), (4L, 13L)))
    // numeric axis + no by-keys + clash rejection
    val pn = Seq((1L, 5L), (2L, 25L)).toDF("pid", "x")
    val in = Seq((9L, 0L, 10L)).toDF("iid", "lo", "hi")
    val gn = joins.rangeJoin(pn, in, "x", "lo", "hi", binWidth = 4L)
      .select("pid", "iid_iv").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gn.toSeq == Seq((1L, 9L)))
    val err = intercept[IllegalArgumentException] {
      joins.rangeJoin(pn.withColumn("lo_iv", F.lit(0L)), in, "x", "lo", "hi", 4L)
    }
    assert(err.getMessage.contains("clash"))
  }

  test("overlap join matches the inequality join exactly once per pair") {
    import graft.functions.joins
    // axes chosen so intervals span several bins (width 4) and several
    // pairs share multiple bins — the bin-of-max(lo) rule must emit
    // each exactly once, including the identical-interval tie
    val a = Seq((1L, 1L, 0L, 10L), (2L, 1L, 8L, 9L), (3L, 2L, 0L, 3L),
        (4L, 1L, 20L, 30L))
      .toDF("aid", "k", "lo", "hi")
    val b = Seq((10L, 1L, 5L, 12L), (11L, 1L, 8L, 9L), (12L, 2L, 4L, 6L),
        (13L, 1L, 29L, 40L))
      .toDF("bid", "k", "lo", "hi")
    val got = joins.overlapJoin(a, b, "lo", "hi", "lo", "hi",
        binWidth = 4L, by = Seq("k"))
      .select("aid", "bid_iv").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = a.as("a").join(b.as("b"),
        F.col("a.k") === F.col("b.k") &&
        F.col("a.lo") <= F.col("b.hi") && F.col("b.lo") <= F.col("a.hi"))
      .select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want &&
      got == Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (4L, 13L)))
  }

  test("audio decode round-trips the JDK WAVE encoder; non-audio falls back") {
    import graft.functions.multimodal._
    val rows = Seq(
      MediaRow(1L, syntheticWav(160, 8000, 1, seed = 1L), 0L, "WAV"),
      MediaRow(2L, syntheticWav(99, 16000, 2, seed = 2L), 0L, "WAV"),
      MediaRow(3L, "not audio bytes".getBytes("UTF-8"), 15L, "TXT"))
    val ds = spark.createDataset(rows)(mediaRowEnc)
    val got = decodeAudioFeatures(ds).collect().sortBy(_.doc_id)
    assert(got(0).sample_rate == 8000 && got(0).channels == 1 &&
      got(0).frames == 160L && got(0).duration_ms == 20L)
    assert(got(1).sample_rate == 16000 && got(1).channels == 2 &&
      got(1).frames == 99L && got(1).duration_ms == 6L)
    // fallback: deterministic byte statistics, duration 0
    assert(got(2).sample_rate == (8000 + 15 % 8000) && got(2).duration_ms == 0L)
  }

  test("bpe trainMerges matches a driver-side reference; segment applies merges") {
    import graft.functions.bpe
    // driver-side reference BPE over a word-frequency map
    def refMerges(words: Map[String, Long], k: Int): Seq[(String, String, Long)] = {
      var state = words.map { case (w, c) => (w.map(_.toString).toVector, c) }
      (1 to k).flatMap { _ =>
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        state.foreach { case (syms, c) =>
          syms.sliding(2).foreach {
            case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
            case _ => ()
          }
        }
        if (counts.isEmpty) None
        else {
          val ((a, b), c) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
          state = state.map { case (syms, cn) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toVector, cn)
          }
          Some((a, b, c))
        }
      }
    }
    val corpus = Seq("low low lower lowest", "newer newer newest wider",
      "aaa aaa banana", "low newer banana aaa")
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val wordFreq = corpus.flatMap(_.split("\\s+")).groupBy(identity)
      .map { case (w, g) => (w, g.size.toLong) }
    val want = refMerges(wordFreq, 5)
    val got = bpe.trainMerges(df, "text", numMerges = 5)
    assert(got == want)
    // segment: applying the learned merges re-tokenizes greedily; a
    // non-alpha token passes through whole
    val merges = got.map(m => (m._1, m._2))
    val seg = df.limit(1).select(
        bpe.segment(F.lit("lowest"), merges).as("s"),
        bpe.segment(F.lit("x42!"), merges).as("t"))
      .collect().head
    val refSeg = {
      var syms = "lowest".map(_.toString).toVector
      merges.foreach { case (a, b) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toVector
      }
      syms
    }
    assert(seg.getSeq[String](0) == refSeg)
    assert(seg.getSeq[String](1) == Seq("x42!"))
    // the flag-gated all-on-cluster loop is merge-for-merge identical to
    // the default driver-local loop
    val gotDist = bpe.trainMerges(df, "text", numMerges = 5,
      distributedLoop = true)
    assert(gotDist == want)
    // the measured-vocab gate routes automatically: a threshold below
    // the vocabulary size must take the distributed loop (same result)
    val gotAuto = bpe.trainMerges(df, "text", numMerges = 5,
      localVocabThreshold = 1L)
    assert(gotAuto == want)
  }

  test("zorderKey is the Morton interleave; zorderBy partitions cover disjoint sorted ranges") {
    import graft.functions.layout
    def morton(x: Long, y: Long, bits: Int = 4): Long =
      (0 until bits).map(b =>
        (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))).sum
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L), (5L, 7L))
    val df = pts.toDF("x", "y")
    val got = df.select(F.col("x"), F.col("y"),
        layout.zorderKey(Seq(F.col("x"), F.col("y")), 4).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got((0L, 0L)) == 0L && got((1L, 0L)) == 1L && got((0L, 1L)) == 2L)
    assert(got((1L, 1L)) == 3L && got((2L, 3L)) == 14L && got((5L, 7L)) == 59L)
    pts.foreach { case (x, y) => assert(got((x, y)) == morton(x, y)) }
    // clustering: 4 range partitions on the 16x16 grid — every partition
    // holds a contiguous, internally-sorted, pairwise-disjoint z range
    val grid = (for { x <- 0L until 16L; y <- 0L until 16L } yield (x, y))
      .toDF("x", "y")
    val rows = layout.zorderBy(grid, Seq("x", "y"), bits = 4, numPartitions = 4)
      .withColumn("pid", F.spark_partition_id())
      .collect().map(r => (r.getInt(2), morton(r.getLong(0), r.getLong(1))))
    val byPid = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(byPid.size == 4 && rows.length == 256)
    byPid.values.foreach(zs => assert(zs == zs.sorted))
    val ranges = byPid.values.map(zs => (zs.min, zs.max)).toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo)
      case _ => ()
    }
    require(intercept[IllegalArgumentException] {
      layout.zorderKey(Seq(F.col("x")), 63)
    }.getMessage.contains("zorderKey"))
  }

  test("mp4 decode round-trips the box writer; v1 boxes and fallback handled") {
    import graft.functions.multimodal._
    val rows = Seq(
      MediaRow(1L, syntheticMp4(1500L, 640, 480, 1), 0L, "MP4"),
      MediaRow(2L, syntheticMp4(730L, 1920, 1080, 2), 0L, "MP4"),
      MediaRow(3L, "not an mp4".getBytes("UTF-8"), 10L, "TXT"))
    val ds = spark.createDataset(rows)(mediaRowEnc)
    val got = decodeVideoFeatures(ds).collect().sortBy(_.doc_id)
    assert(got(0).duration_ms == 1500L && got(0).n_tracks == 1 &&
      got(0).width == 640 && got(0).height == 480)
    // audio track carries zero dims — geometry must come from track 1
    assert(got(1).duration_ms == 730L && got(1).n_tracks == 2 &&
      got(1).width == 1920 && got(1).height == 1080)
    assert(got(2).duration_ms == 0L && got(2).n_tracks == 0 &&
      got(2).width == (10 % 1920) && got(2).height == (10 % 1080))
    // version-1 mvhd/tkhd layout (64-bit times): hand-built moov
    def box(tpe: String, p: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(p.length + 8)
      bb.putInt(p.length + 8).put(tpe.getBytes("ISO-8859-1")).put(p)
      bb.array()
    }
    val mvhd1 = {
      val p = java.nio.ByteBuffer.allocate(112)
      p.putInt(0x01000000)          // version 1
      p.putLong(0L).putLong(0L)     // creation, modification (64-bit)
      p.putInt(90000)               // timescale
      p.putLong(90000L * 2)         // duration (64-bit): 2 s
      p.array()
    }
    val tkhd1 = {
      val p = java.nio.ByteBuffer.allocate(96)
      p.putInt(0x01000003)
      p.putLong(0L).putLong(0L)     // creation, modification
      p.putInt(1).putInt(0)         // track_ID, reserved
      p.putLong(90000L * 2)         // duration (64-bit)
      p.put(new Array[Byte](8))     // reserved
      p.putShort(0).putShort(0).putShort(0).putShort(0)
      p.put(new Array[Byte](36))    // matrix
      p.putInt(160 << 16).putInt(90 << 16)
      p.array()
    }
    val v1 = box("moov", box("mvhd", mvhd1) ++ box("trak", box("tkhd", tkhd1)))
    val got1 = decodeVideoFeatures(
      spark.createDataset(Seq(MediaRow(9L, v1, 0L, "MP4")))(mediaRowEnc))
      .collect().head
    assert(got1.duration_ms == 2000L && got1.n_tracks == 1 &&
      got1.width == 160 && got1.height == 90)
  }

  test("curation pipeline: quality/lang filter + exact & near dedup compose") {
    import graft.functions.pipelines
    val curated = pipelines.curateDocuments(docsDf,
      minQuality = 0.0, nearDupThreshold = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 4 is an exact dup of 1; doc 2 a near-dup of 1 → both dropped
    assert(curated.contains(1L) && curated.contains(3L))
    assert(!curated.contains(4L))
    assert(!curated.contains(2L))
  }

  test("curation keepBestBy keeps the highest-scoring near-dup, not the smallest id") {
    import graft.functions.pipelines
    // docs 1 and 2 are near-dups (J ≥ 0.3); score doc 2 higher, so the
    // min-id default would keep 1 but keepBestBy must keep 2. (4 is an
    // exact dup of 1 and is gone either way — exact dedup runs first.)
    val curated = pipelines.curateDocuments(docsDf,
        minQuality = 0.0, nearDupThreshold = 0.3,
        keepBestBy = Some(F.col("doc_id").cast("double")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(curated == Set(2L, 3L), s"got $curated")
  }

  test("curation with a benchmark set also drops contaminated docs") {
    import graft.functions.pipelines
    val bench = Seq("completely different text with other words here plus extra")
      .toDF("text")
    val curated = pipelines.curateDocuments(docsDf,
        minQuality = 0.0, nearDupThreshold = 0.3, bench = Some(bench),
        benchNgram = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(curated == Set(1L)) // doc 3 overlaps the benchmark heavily
  }

  test("curation composite compiles every stage (no 64 KB codegen fallback)") {
    import graft.functions.pipelines
    // codegen is data-independent: the tiny fixture exercises the SAME
    // generated code the 100 TB run would. The regression this pins:
    // quality + language regexes fused with the dedup joins and
    // decontamination used to exceed Janino's 64 KB method limit and
    // silently fall back to interpreted execution — the cache boundary
    // after the scoring stage must keep every method compilable.
    val bench = Seq("completely different text with other words here plus extra")
      .toDF("text")
    val (_, cgErrors) = codegenErrorsDuring {
      pipelines.curateDocuments(docsDf, minQuality = 0.0,
        nearDupThreshold = 0.3, bench = Some(bench), benchNgram = 3).count()
    }
    assert(cgErrors.isEmpty, s"codegen errors during composite: $cgErrors")
  }

  test("repetition signals match hand-computed fractions") {
    val df = Seq(
      (1L, "a a a b"),          // tokens: 4, distinct 2 → dup 0.5
      (2L, "x y x y x"),        // bigrams: x y, y x, x y, y x → top2 = 2/4
      (3L, "line1\nline2\nline1") // 3 lines, 2 distinct → dup 1/3
    ).toDF("doc_id", "text")
    val got = df.select(F.col("doc_id"),
        text.duplicateTokenFraction(F.col("text")).as("dt"),
        text.topNgramShare(F.col("text"), 2).as("t2"),
        text.duplicateLineFraction(F.col("text")).as("dl"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1L)._1 == 0.5)
    assert(got(1L)._2 == 2.0 / 3.0)  // "a a" twice of 3 bigrams
    assert(got(2L)._2 == 0.5)
    assert(got(3L)._3 == 1.0 - 2.0 / 3.0)
    assert(got(1L)._3 == 0.0)
  }

  test("lsh bucket is deterministic across evaluations") {
    val v = Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val b1 = v.select(similarity.lshBucket(F.col("embedding"), 8, 4)).head().getLong(0)
    val b2 = v.select(similarity.lshBucket(F.col("embedding"), 8, 4)).head().getLong(0)
    assert(b1 == b2)
  }

  private def componentsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      parent.getOrElseUpdate(x, x)
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    val nodes = parent.keys.toSeq
    val minOf = nodes.groupBy(find).map { case (r, ks) => r -> ks.min }
    nodes.map(k => k -> minOf(find(k))).toMap
  }

  test("connected components resolve a known graph to component minima (both paths)") {
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L), (3L, 2L), (9L, 9L))
      .toDF("id_a", "id_b")
    // (9,9) is a self-loop: dropped; 9 never appears
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    val local = dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local == want)
    // localEdgeThreshold = 0 forces the distributed star loop
    val dist = dedup.connectedComponents(pairs, localEdgeThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist == want)
    // the default threshold reads the cluster-wide session conf: a 0
    // conf value routes the SAME default-arg call to the distributed
    // loop (same result either way — assert the knob is actually read)
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val viaConf = dedup.connectedComponents(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(viaConf == want)
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("connected components collapse a 10k-node path in logarithmic rounds") {
    // the exact shape saltOversized's ring chaining produces for a hot
    // bucket: a long path. Min-propagation would need 10k rounds; the
    // star algorithm's maxIter=64 bound only holds if rounds are ~log n.
    // Force the distributed loop — the star algorithm is what's on trial
    val edges = spark.range(0, 9999)
      .select(F.col("id").as("id_a"), (F.col("id") + 1).as("id_b"))
    val got = dedup.connectedComponents(edges, maxIter = 40,
      localEdgeThreshold = 0L)
    assert(got.count() == 10000)
    assert(got.agg(F.countDistinct("component")).head().getLong(0) == 1L)
    assert(got.agg(F.max("component")).head().getLong(0) == 0L)
  }

  test("connected components match a driver union-find on a random graph (both paths)") {
    val rnd = new scala.util.Random(19)
    val pairs = (0 until 400).map(_ =>
      (rnd.nextInt(500).toLong, rnd.nextInt(500).toLong))
      .filter { case (a, b) => a != b }
    val want = componentsOf(pairs)
    val local = dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local == want)
    val dist = dedup.connectedComponents(pairs.toDF("id_a", "id_b"),
        localEdgeThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist == want)
  }

  test("keepCanonical keeps the component minimum and every unpaired row") {
    // chain 1-2-4 is ONE component (transitivity): keep 1, drop 2 and 4;
    // the naive drop-id_b-of-each-pair rule would get this right only by
    // luck — the chain is the case it over-drops on
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val kept = dedup.keepCanonical(docsDf, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("decontamination overlap stats match hand-computed shingle overlap") {
    import graft.functions.contamination
    val train = Seq(
      (1L, "alpha beta gamma delta"),   // shingles: ab g, b g d → 2
      (2L, "alpha beta gamma epsilon"), // a b g, b g e → 2
      (3L, "zeta eta theta iota")       // 2, none in bench
    ).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma x y z").toDF("text") // has "alpha beta gamma"
    val got = contamination.overlapStats(train, "doc_id", "text", bench, "text",
        k = 3, minOverlap = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got(1L) == ((2L, 1L, true)))  // "alpha beta gamma" shared: 1/2 ≥ 0.5
    assert(got(2L) == ((2L, 1L, true)))
    assert(got(3L) == ((2L, 0L, false)))
  }

  test("native md5-prefix shingle fingerprints equal the portable pipeline") {
    import spark.implicits._
    val texts = docsDf.select(F.col("text")).as[String].collect().toSeq ++
      Seq("  \ta b\tc  ", "one", "a  b", "", " ", "x y z w")
    val df = texts.toDF("text")
    for (k <- Seq(1, 3, 8)) {
      df.select(
          F.call_function("graft_shingle_fp64", F.col("text"), F.lit(k)).as("native"),
          graft.functions.contamination.shingleFpsPortable(F.col("text"), k).as("portable"))
        .collect().foreach { r =>
          assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"k=$k mismatch")
        }
    }
  }

  test("decontaminate drops contaminated rows and keeps the rest") {
    import graft.functions.contamination
    val train = Seq(
      (1L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma x").toDF("text")
    val kept = contamination.decontaminate(train, "doc_id", "text",
        bench, "text", k = 3, minOverlap = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
  }

  test("containmentStats flags an embedded benchmark item overlapStats misses") {
    import graft.functions.contamination
    // a 4-token eval item pasted into a 40-token page: 2/38 ≈ 5% of the
    // PAGE's shingles (invisible to overlapStats at any sane threshold)
    // but 2/2 = 100% of the ITEM's — the containment denominator
    val filler = (0 until 36).map(i => s"w$i").mkString(" ")
    val train = Seq(
      (1L, s"$filler alpha beta gamma delta"), // item embedded verbatim
      (2L, "zeta eta theta iota kappa")        // clean
    ).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta").toDF("text")
    val overlap = contamination.overlapStats(train, "doc_id", "text",
        bench, "text", k = 3, minOverlap = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(overlap(1L) == false, "overlap fraction misses the embedded item")
    val got = contamination.containmentStats(train, "doc_id", "text",
        bench, "text", k = 3, minContain = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(got(1L) == ((1L, 1.0, true)))
    assert(got(2L) == ((0L, 0.0, false)))
    val kept = contamination.decontaminateContained(train, "doc_id", "text",
        bench, "text", k = 3, minContain = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("tfidf top terms rank rare tokens above common ones") {
    val df = Seq(
      (1L, "common rare1 common"),
      (2L, "common rare2"),
      (3L, "common other")).toDF("doc_id", "text")
    val got = text.tfidfTopTerms(df, "doc_id", "text", topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(4)) -> r.getString(1)).toMap
    // singleton tokens (df=1, idf ln(4/2)+1 ≈ 1.69) outscore "common"
    // (df=3, idf ln(4/4)+1 = 1) at equal tf…
    assert(got((2L, 1L)) == "rare2" && got((2L, 2L)) == "common")
    assert(got((3L, 1L)) == "other")
    // …but doc 1's common has tf=2 → score 2 > rare1's 1×1.69
    assert(got((1L, 1L)) == "common" && got((1L, 2L)) == "rare1")
  }

  test("concat-and-chunk packing offsets match a driver-side prefix sum") {
    import graft.functions.{packing, sampling}
    val df = (0L until 60L).map(i =>
      (i, (0 until (3 + (i % 5)).toInt).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val got = packing.concatChunkOffsets(df, "doc_id", "text", seqLen = 16L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // driver oracle: same (bucket, id) order, running prefix sum
    val bucketOf = df.select(F.col("doc_id"),
        sampling.hashBucket(F.col("doc_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var off = 0L
    val expected = (0L until 60L).sortBy(i => (bucketOf(i), i)).map { i =>
      val n = 3 + (i % 5)
      val e = i -> (n, off, off / 16, off % 16)
      off += n; e
    }.toMap
    assert(got == expected)
    assert(got.values.map(_._1).sum == off) // every token accounted for
    assert(got.values.forall { case (_, _, _, so) => so >= 0 && so < 16 })
  }

  test("token-budget sampling keeps whole buckets while the running total fits") {
    import graft.functions.sampling
    // 40 docs of 10 tokens each in one source → 400 tokens; budget 100
    // keeps the first hash buckets summing to ≤ 100 (bucket-granular,
    // never overshooting)
    val df = (0L until 40L).map(i =>
      (i, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9", "s")).toDF("doc_id", "text", "source")
    val kept = sampling.tokenBudgetSample(df, "doc_id", "text", "source",
      Map.empty, defaultBudget = 100L)
    val n = kept.count()
    assert(n == 10L) // 10 docs × 10 tokens = exactly the budget
    // determinism: same call → same rows
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = sampling.tokenBudgetSample(df, "doc_id", "text", "source",
        Map.empty, defaultBudget = 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // a zero budget excludes the source entirely
    assert(sampling.tokenBudgetSample(df, "doc_id", "text", "source",
      Map("s" -> 0L), defaultBudget = 100L).count() == 0L)
  }

  test("cross-corpus exact dedup maps new docs to the smallest matching ref id") {
    val ref = Seq((10L, "same text"), (7L, "same text"), (2L, "other"))
      .toDF("doc_id", "text")
    val fresh = Seq((100L, "same text"), (101L, "unseen")).toDF("doc_id", "text")
    val got = dedup.exactDuplicatesCross(fresh, ref, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 7L)))
  }

  test("cross-corpus LSH jaccard equals the all-pairs cross scan, capped and uncapped") {
    // ref: 3 distinct docs + 300 copies of boilerplate; new: a near-dup
    // of ref doc 1, a boilerplate copy, and an unrelated doc — the
    // boilerplate buckets overflow cap=20 and take the grid-salted plan
    val ref = (Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different text with other words here"),
      (3L, "a third document about astronomy and gardens")) ++
      (100L until 400L).map(i => (i, "spam spam lovely spam wonderful spam")))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (1000L, "the quick brown fox jumps over the lazy cat tonight"),
      (1001L, "spam spam lovely spam wonderful spam"),
      (1002L, "nothing like anything in the reference corpus at all"))
      .toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = key(dedup.jaccardPairsLshCross(fresh, ref, "doc_id", "text",
      k = 2, numPerm = 64, bands = 32, minJ = 0.5))
    val capped = key(dedup.jaccardPairsLshCross(fresh, ref, "doc_id", "text",
      k = 2, numPerm = 64, bands = 32, minJ = 0.5, maxBucket = 20))
    // exact oracle: all-pairs cross scan on 2-shingles
    val sh = (df: org.apache.spark.sql.DataFrame) => df.select(F.col("doc_id"),
      dedup.shingleHashes(F.col("text"), 2).as("sh"))
    val exact = key(sh(fresh).as("a").join(sh(ref).as("b"))
      .select(F.col("a.doc_id"), F.col("b.doc_id"),
        dedup.tokenJaccard(F.col("a.sh"), F.col("b.sh")).as("j"))
      .filter(F.col("j") >= 0.5))
    assert(uncapped == exact)
    assert(capped == exact) // grid salting loses NO pairs
    assert(exact.count { case (n, _, _) => n == 1001L } == 300) // hot bucket hit
  }

  test("connected components work on string ids (lexicographic minima)") {
    val pairs = Seq(("b", "a"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val got = dedup.connectedComponents(pairs).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("groupCapSample: two-pass rank equals the plain per-group window rank") {
    import graft.functions.sampling
    val df = (1L to 200L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val got = sampling.groupCapSample(df, "id", "grp", cap = 10L)
      .select("id").as[Long].collect().toSet
    // oracle: one global window per group over (bucket, id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("b", "id")
    val want = df.withColumn("b", sampling.hashBucket(F.col("id")))
      .withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 10)
      .select("id").as[Long].collect().toSet
    assert(got == want && got.size == 30)
    assert(sampling.groupCapSample(df, "id", "grp", cap = 0L).count() == 0)
    // cap above group size keeps everything
    assert(sampling.groupCapSample(df, "id", "grp", cap = 1000L).count() == 200)
    // NULL group rows form their own capped group, not silent data loss
    val withNull = df.withColumn("grp",
      F.when(F.col("id") <= 40, F.lit(null).cast("string"))
        .otherwise(F.col("grp")))
    val capped = sampling.groupCapSample(withNull, "id", "grp", cap = 10L)
    assert(capped.filter(F.col("grp").isNull).count() == 10L)
  }

  test("redactPii scrubs emails, IPs, phones and counts them") {
    val df = Seq(
      (1L, "write bob.smith+x@corp.example.com or 192.168.1.254 tel 555-123-4567"),
      (2L, "no pii here, just 1.2 numbers and words"),
      (3L, "a@b.io b@c.net 10.0.0.1 10.0.0.2")
    ).toDF("id", "text")
    val out = df.select(F.col("id") +: (text.piiCounts(F.col("text"))
        .map { case (n, c) => c.as(n) } :+
        text.redactPii(F.col("text")).as("red")): _*)
      .orderBy("id").collect()
    assert(out(0).getAs[Long]("n_emails") == 1 &&
      out(0).getAs[Long]("n_ips") == 1 && out(0).getAs[Long]("n_phones") == 1)
    assert(out(0).getAs[String]("red") ==
      "write <EMAIL> or <IP> tel <PHONE>")
    assert(out(1).getAs[String]("red") == "no pii here, just 1.2 numbers and words" &&
      out(1).getAs[Long]("n_emails") == 0 && out(1).getAs[Long]("n_ips") == 0)
    assert(out(2).getAs[Long]("n_emails") == 2 && out(2).getAs[Long]("n_ips") == 2)
    assert(out(2).getAs[String]("red") == "<EMAIL> <EMAIL> <IP> <IP>")
  }

  test("dedupLines keeps first corpus-wide occurrence and reassembles in order") {
    val df = Seq(
      (10L, "alpha\nboiler\nbeta"),
      (20L, "boiler\ngamma"),
      (30L, "boiler"),          // emptied entirely -> dropped
      (40L, "alpha\ndelta\nalpha") // in-doc repeat also dedups
    ).toDF("doc_id", "text")
    val got = dedup.dedupLines(df, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (10L, "alpha\nboiler\nbeta", 3L),
      (20L, "gamma", 1L),
      (40L, "delta", 1L)))
  }

  test("unigramNll matches a hand-computed unigram model") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("id", "text")
    val got = text.unigramNll(df, "id", "text").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def nll(p: Double) = BigDecimal(-math.log(p)).setScale(7,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = math.round((2 * nll(2.0 / 5) + nll(2.0 / 5)) / 3 * 1e5) / 1e5
    val d2 = math.round((nll(2.0 / 5) + nll(1.0 / 5)) / 2 * 1e5) / 1e5
    assert(got.toSeq == Seq((1L, 3L, d1), (2L, 2L, d2)))
    // boilerplate (all-common tokens) scores LOWER than rare-token soup
    assert(d1 < d2)
  }

  test("url parts: host, canonical host, registered domain, path") {
    val df = Seq(
      (1L, "https://bob@WWW.Sub.News.Example.COM:8443/a/b?q=1#frag"),
      (2L, "http://example.org"),
      (3L, "ftp://www.x.y.z.co/path")
    ).toDF("id", "url")
    val out = df.select(F.col("id"),
        text.urlHost(F.col("url")).as("h"),
        text.urlNormHost(F.col("url")).as("nh"),
        text.urlDomain(F.col("url")).as("d"),
        text.urlPath(F.col("url")).as("p"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "bob@WWW.Sub.News.Example.COM:8443")
    assert(out(0).getString(2) == "sub.news.example.com")
    assert(out(0).getString(3) == "example.com")
    assert(out(0).getString(4) == "/a/b")
    assert(out(1).getString(2) == "example.org" &&
      out(1).getString(3) == "example.org" && out(1).getString(4) == "")
    assert(out(2).getString(2) == "x.y.z.co" && out(2).getString(3) == "z.co")
  }

  test("bm25TopK matches a driver-side reference scorer") {
    val corpus = Seq(
      (1L, "spark shuffles data between stages"),
      (2L, "spark caches hot data in memory"),
      (3L, "ducks swim on the quiet pond"),
      (4L, "the pond reflects the quiet sky"),
      (5L, "data pipelines clean web data")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "quiet pond data")).toDF("q_id", "q_text")
    val got = graft.functions.retrieval
      .bm25TopK(corpus, "doc_id", "text", queries, "q_id", "q_text", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    // reference: plain-scala BM25 with the same rounding contract
    val docs = Map(1L -> "spark shuffles data between stages",
      2L -> "spark caches hot data in memory",
      3L -> "ducks swim on the quiet pond",
      4L -> "the pond reflects the quiet sky",
      5L -> "data pipelines clean web data").map {
      case (id, t) => id -> t.split("\\s+").toSeq }
    val n = docs.size
    val avgdl = docs.values.map(_.size).sum.toDouble / n
    def score(q: Seq[String], d: Seq[String]): BigDecimal =
      q.distinct.flatMap { t =>
        val tf = d.count(_ == t)
        val dfr = docs.values.count(_.contains(t))
        if (tf == 0 || dfr == 0) None
        else Some(BigDecimal(
          math.log((n - dfr + 0.5) / (dfr + 0.5) + 1) * tf * 2.2 /
            (tf + 1.2 * (1 - 0.75 + 0.75 * d.size / avgdl)))
          .setScale(7, BigDecimal.RoundingMode.HALF_UP))
      }.sum
    val want = docs.map { case (id, t) =>
        (id, score(Seq("quiet", "pond", "data"), t)) }
      .filter(_._2 > 0).toSeq
      .sortBy { case (id, s) => (-s, id) }.take(3).zipWithIndex
      .map { case ((id, s), i) => (id, s.toDouble, (i + 1).toLong) }
    assert(got.toSeq == want)
  }

  test("columnProfile counts rows, nulls, distincts; native-ordered min/max") {
    val df = Seq((10, Some("b")), (9, None), (10, Some("a")))
      .toDF("n", "s")
    val got = graft.functions.profile.columnProfile(df, Seq("n", "s"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(got.toSeq == Seq(
      ("n", 3L, 0L, 2L, "9", "10"),   // native int ordering: 9 < 10
      ("s", 3L, 1L, 2L, "a", "b")))
    // approx variant keeps the same shape and exact row/null counts
    val ap = graft.functions.profile.columnProfile(df, Seq("n"), approx = true)
      .collect().head
    assert(ap.getLong(1) == 3L && ap.getLong(3) >= 1L)
  }

  test("snapshot diff classifies added, removed, changed, unchanged") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val nw = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "text")
    val got = graft.functions.snapshot.diffStatus(old, nw, "id", "text")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added")))
  }

  test("snapshot diff: NULL text is presence, not absence") {
    val old = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Some("t"))).toDF("id", "text")
    val nw = Seq((1L, Option.empty[String]), (2L, Some("now set")),
      (3L, Option.empty[String])).toDF("id", "text")
    val got = graft.functions.snapshot.diffStatus(old, nw, "id", "text")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "changed")))
  }

  test("quantileBandFilter cuts both tails at bucket granularity") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "s")
    val kept = graft.functions.quality
      .quantileBandFilter(df, "s", 0.1, 0.9, decimals = 2)
      .select("id").as[Long].collect().sorted
    // thresholds at ranks ceil(.1*100)=10 and ceil(.9*100)=90
    assert(kept.head == 10L && kept.last == 90L && kept.length == 81)
    // heavy ties: all rows share one bucket -> the band keeps everything
    val ties = (1 to 50).map(i => (i.toLong, 7.0)).toDF("id", "s")
    assert(graft.functions.quality
      .quantileBandFilter(ties, "s", 0.25, 0.75).count() == 50)
  }

  test("quantileBandFilter persists nothing (no full-corpus InMemoryRelation)") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "s")
    val out = graft.functions.quality.quantileBandFilter(df, "s", 0.1, 0.9)
    out.collect() // force planning + execution
    val imrs = out.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(imrs.isEmpty,
      s"quantileBandFilter must not persist the input frame; found: $imrs")
  }

  test("chunkTokens: sliding windows cover every token; short tails kept") {
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7"), // 7 tokens, size 4 stride 2 -> 3 chunks
      (2L, "a b"),                  // shorter than size -> one short chunk
      (3L, "x1 x2 x3 x4"),          // exactly size -> one chunk
      (4L, "")                      // empty -> no chunks
    ).toDF("doc_id", "text")
    val got = text.chunkTokens(df, "doc_id", "text", size = 4, stride = 2)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t3 t4 t5 t6", 4L),
      (1L, 2L, "t5 t6 t7", 3L),
      (2L, 0L, "a b", 2L),
      (3L, 0L, "x1 x2 x3 x4", 4L)))
  }

  test("splitByGroup: every group lands wholly in one split") {
    import graft.functions.sampling
    val df = (1L to 1000L).map(i => (i, s"g${i % 97}")).toDF("id", "grp")
    val out = sampling.splitByGroup(df, "grp",
      Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
    // group purity: one distinct split per group
    assert(out.groupBy("grp").agg(F.countDistinct("split").as("k"))
      .filter(F.col("k") =!= 1).count() == 0)
    // all three splits non-empty at 97 groups and deterministic
    val sizes = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == Set("train", "val", "test"))
    assert(sizes("train") > sizes("val") && sizes("train") > sizes("test"))
    intercept[IllegalArgumentException] {
      sampling.splitByGroup(df, "grp", Seq("a" -> 5000, "b" -> 4000))
    }
  }

  test("leakageSafeSplits: near-dup families never straddle splits") {
    import graft.functions.sampling
    // three exact/near-dup families whose member ids hash to DIFFERENT
    // permille buckets individually, plus singletons
    val fam = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"),
      (10L, "large language models train on deduplicated corpora mostly"),
      (11L, "large language models train on deduplicated corpora mostly"),
      (20L, "completely unrelated singleton document number twenty here"),
      (21L, "another singleton with its own unmistakable vocabulary set")
    ).toDF("doc_id", "text")
    val out = sampling.leakageSafeSplits(fam, "doc_id", "text",
      Seq("train" -> 5000, "val" -> 2500, "test" -> 2500), minJ = 0.7)
    val got = out.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 20L, 21L))
    // family purity: 1,2,3 share one split; 10,11 share one split
    assert(Set(got(1L), got(2L), got(3L)).size == 1)
    assert(got(10L) == got(11L))
    // without the component grouping, ids 1/2/3 WOULD split apart —
    // prove the hazard is real, not vacuously absent
    val naive = sampling.splitByGroup(
      fam.withColumn("g", F.col("doc_id")), "g",
      Seq("train" -> 5000, "val" -> 2500, "test" -> 2500))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(Set(naive(1L), naive(2L), naive(3L), naive(10L), naive(11L)).size > 1)
  }

  test("span dedup cuts windows seen earlier and keeps the first occurrence") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "xx yy alpha beta gamma delta epsilon zeta eta theta zz"),
      (3L, "unique words only here nothing shared at all"),
      (4L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val out = dedup.dedupSpans(df, "doc_id", "text", 6).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1 is the keeper of every shared window: untouched
    assert(out(1L).getAs[String]("text") ==
      "alpha beta gamma delta epsilon zeta eta theta")
    assert(out(1L).getAs[Long]("n_dup_tokens") == 0L)
    // doc 2 contains doc 1's full 8-token run at offset 2: the three
    // interior 6-windows cover tokens 2..9, leaving the doc-specific rim
    assert(out(2L).getAs[String]("text") == "xx yy zz")
    assert(out(2L).getAs[Long]("n_tokens") == 11L)
    assert(out(2L).getAs[Long]("n_dup_tokens") == 8L)
    // doc 3 shares nothing
    assert(out(3L).getAs[Long]("n_dup_tokens") == 0L)
    // doc 4 is exactly one duplicated window: emptied, fraction 1.0
    assert(out(4L).getAs[String]("text") == "")
    assert(out(4L).getAs[Double]("dup_fraction") == 1.0)
    // repeatedWindows reports only non-keeper windows
    val wins = dedup.repeatedWindows(df, "doc_id", "text", 6).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("pos"))).toSet
    assert(wins == Set((2L, 2), (2L, 3), (2L, 4), (4L, 0)))
  }

  test("span dedup works when the id column is literally named 'id'") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("id", "text")
    val out = dedup.dedupSpans(df, "id", "text", 6).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_dup_tokens")).toMap
    assert(out == Map(1L -> 0L, 2L -> 6L))
  }

  test("span dedup: null text reports 0 tokens, not size(null) = -1") {
    val df = Seq((1L, Some("a b c d e f")), (2L, None), (3L, Some("a b c d e f")))
      .toDF("doc_id", "text")
    val out = dedup.dedupSpans(df, "doc_id", "text", 6).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(2L).getAs[Long]("n_tokens") == 0L)
    assert(out(2L).getAs[Long]("n_dup_tokens") == 0L)
    assert(out(2L).isNullAt(out(2L).fieldIndex("dup_fraction")))
    assert(out(2L).getAs[String]("text") == "")
    assert(out(3L).getAs[Long]("n_dup_tokens") == 6L) // others unaffected
    intercept[IllegalArgumentException] {
      dedup.dedupSpans(df, "doc_id", "text", 1)
    }
  }

  test("span dedup: a document shorter than n forms one whole-doc window") {
    val df = Seq(
      (1L, "tiny shared doc"),
      (2L, "tiny shared doc"),
      (3L, "another tiny doc")
    ).toDF("doc_id", "text")
    val out = dedup.dedupSpans(df, "doc_id", "text", 6).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("text") == "tiny shared doc")
    assert(out(2L).getAs[String]("text") == "")
    assert(out(2L).getAs[Long]("n_dup_tokens") == 3L)
    assert(out(3L).getAs[Long]("n_dup_tokens") == 0L)
  }

  test("semantic dedup keeps one representative per cosine-near group") {
    // three well-separated directions in R^4; each direction carries an
    // exact duplicate and a near-duplicate, plus one lone vector
    def v(xs: Double*) = xs.toArray
    val rows = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(1, 0, 0, 0)), (3L, v(0.999, 0.04, 0, 0)),
      (10L, v(0, 1, 0, 0)), (11L, v(0, 1, 0, 0)),
      (20L, v(0, 0, 1, 0)), (21L, v(0, 0.03, 0.999, 0)),
      (30L, v(0.5, 0.5, 0.5, 0.5))
    )
    val df = rows.toDF("id", "vec")
    // nlist=1 = exact all-pairs semantics: groups {1,2,3},{10,11},{20,21}
    val exact = similarity.semanticDedup(df, "id", "vec",
        nlist = 1, minCos = 0.99, iters = 0, sampleOneIn = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val exactComp = exact.map(t => t._1 -> t._2).toMap
    assert(exactComp(2L) == 1L && !exact.find(_._1 == 2L).get._3)
    val keptExact = exact.filter(_._3).map(_._1).toSet
    assert(keptExact == Set(1L, 10L, 20L, 30L))
    // real clustering (nlist=3, trained): same duplicate groups survive
    // because each group is tight enough to land in one cell
    val clustered = similarity.semanticDedup(df, "id", "vec",
        nlist = 3, minCos = 0.99, iters = 3, sampleOneIn = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(clustered.filter(_._3).map(_._1).toSet == keptExact)
    assert(clustered.map(t => t._1 -> t._2).toMap.apply(21L) == 20L)
  }

  test("clusterEmbeddings separates planted blobs and converges with Lloyd iterations") {
    val baseline = pinned
    def v(xs: Double*) = xs.toArray
    // two tight directional blobs; seeds land wherever md5 order puts
    // them, so separation after training proves Lloyd moved centroids
    val rows = (1L to 20L).map(i => (i, v(1, 0.001 * i, 0))) ++
      (101L to 120L).map(i => (i, v(0, 0.001 * (i - 100), 1)))
    val df = rows.toDF("id", "vec")
    val got = similarity.clusterEmbeddings(df, "id", "vec", nlist = 2,
        iters = 4, sampleOneIn = 1L, portableSeed = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val byCluster = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCluster.size == 2)
    assert(byCluster.values.toSet ==
      Set((1L to 20L).toSet, (101L to 120L).toSet))
    // within a tight blob, affinity to the own centroid is near 1
    assert(got.forall(_._3 > 0.99))
    // training never leaves pinned sample storage behind
    assertNoNewPinned(baseline, "k-means training sample storage")
  }

  test("hardNegatives excludes same-label and self, ranks nearest other-label first") {
    def v(xs: Double*) = xs.toArray
    val rows = Seq(
      (1L, v(1, 0), "a"),   // anchor
      (2L, v(0.99, 0.14), "a"),  // nearest overall but SAME label
      (3L, v(0.9, 0.44), "b"),   // nearest other-label
      (4L, v(0, 1), "b"),
      (5L, v(0.8, 0.6), null.asInstanceOf[String])) // null label ≠ "a"
    val df = rows.toDF("id", "vec", "lab")
    val got = similarity.hardNegatives(df, df.filter(F.col("id") === 1L),
        "id", "vec", "lab", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toMap // n_id -> rank
    assert(!got.contains(2L), "same-label row must be excluded")
    assert(got(3L) == 1L && got(5L) == 2L && got(4L) == 3L)
    // null-label anchor: null <=> null is "same", so 5 sees only a/b rows
    val fromNull = similarity.hardNegatives(df, df.filter(F.col("id") === 5L),
        "id", "vec", "lab", k = 4)
      .collect().map(_.getLong(1)).toSet
    assert(fromNull == Set(1L, 2L, 3L, 4L))
  }

  test("clusterBalancedSample at alpha=0 flattens a dominant cluster toward the tail") {
    def v(xs: Double*) = xs.toArray
    val big = (1L to 900L).map(i => (i, v(1, 0.0001 * (i % 50), 0)))
    val small = (10001L to 10100L).map(i => (i, v(0, 0.0001 * (i % 50), 1)))
    val df = (big ++ small).toDF("id", "vec")
    val kept = similarity.clusterBalancedSample(df, "id", "vec", nlist = 2,
        alpha = 0.0, targetRows = 200L, iters = 3, sampleOneIn = 1L,
        portableSeed = true)
      .collect().map(r => r.getLong(r.fieldIndex("id")))
    val keptBig = kept.count(_ <= 900L)
    val keptSmall = kept.count(_ > 900L)
    // equal per-cluster weights: the small cluster's rate clamps at 1
    // (all 100 kept), the big one is cut to ~100 of 900
    assert(keptSmall == 100, s"small cluster should be fully kept, got $keptSmall")
    assert(keptBig < 250, s"dominant cluster should be flattened, got $keptBig")
    // determinism: the sample is a pure function of ids
    val again = similarity.clusterBalancedSample(df, "id", "vec", nlist = 2,
        alpha = 0.0, targetRows = 200L, iters = 3, sampleOneIn = 1L,
        portableSeed = true)
      .collect().map(r => r.getLong(r.fieldIndex("id"))).toSet
    assert(again == kept.toSet)
  }

  test("rrfFuse combines rankings by reciprocal rank, consensus wins") {
    import graft.functions.retrieval
    // doc 10 is rank 2 in BOTH systems; docs 11/12 are each a rank 1 in
    // one system only: 2/(60+2) > 1/61 → consensus outranks either solo
    val a = Seq((1L, 11L, 1L), (1L, 10L, 2L)).toDF("q_id", "n_id", "rank")
    val b = Seq((1L, 12L, 1L), (1L, 10L, 2L)).toDF("q_id", "n_id", "rank")
    val got = retrieval.rrfFuse(Seq(a, b), k = 3)
      .collect().map(r => (r.getLong(3), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(10L, 11L, 12L))
    assert(math.abs(got(0)._3 - 2.0 / 62) < 1e-8)
    // ties (11 vs 12, both 1/61) break by n_id — deterministic
    assert(got(1)._3 == got(2)._3)
  }

  test("groupTopK equals the window plan, excludes null/NaN scores, stays heap-shaped") {
    import graft.functions.retrieval
    val df = Seq(
      (1L, "a", Some(5.0)), (2L, "a", Some(9.0)), (3L, "a", Some(9.0)),
      (4L, "a", Some(1.0)), (5L, "b", Some(2.0)), (6L, "b", None),
      (7L, "b", Some(Double.NaN)), (8L, "c", Some(4.0)))
      .toDF("id", "grp", "score")
    val got = retrieval.groupTopK(df, Seq("grp"), "id", "score", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    // score DESC, ties by id ASC; null and NaN scores never ranked
    assert(got.toSeq == Seq(
      ("a", 2L, 9.0, 1L), ("a", 3L, 9.0, 2L),
      ("b", 5L, 2.0, 1L), ("c", 8L, 4.0, 1L)))
    // the plan is the bounded-heap aggregate, not a rank window
    val plan = retrieval.groupTopK(df, Seq("grp"), "id", "score", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("graft_topk") || plan.contains("BoundedTopK"), plan)
  }

  test("dsirSelect ranks target-like documents first; weights are exact Long sums") {
    val raw = Seq((1L, "apple apple banana"), (2L, "apple fruit pie"),
        (3L, "zebra quagga yak"), (4L, "zebra zebra yak"),
        (5L, "apple zebra"))
      .toDF("id", "text")
    val target = Seq((10L, "apple banana fruit"), (11L, "apple pie banana"))
      .toDF("id", "text")
    val dim = 32
    val sel = sampling.dsirSelect(raw, target, "id", "text", n = 2, dim = dim)
      .select("id").collect().map(_.getLong(0)).toSet
    // the zebra-only docs can never outrank the apple-vocabulary docs
    assert(!sel.contains(3L) && !sel.contains(4L))
    // weight of each doc = exact Long sum of its tokens' bucket ratios,
    // recomputed on the driver with the same md5 hash core
    def bucket(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16) % dim).toInt
    }
    val r6 = sampling.dsirLogRatios6(raw, target, "text", dim)
    val got = raw.select(F.col("id"),
        sampling.dsirWeight6(F.col("text"), r6, dim).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = Map(1L -> "apple apple banana", 2L -> "apple fruit pie",
      3L -> "zebra quagga yak", 4L -> "zebra zebra yak", 5L -> "apple zebra")
    texts.foreach { case (id, t) =>
      assert(got(id) == t.split("\\s+").map(tok => r6(bucket(tok))).sum)
    }
    // gumbel resampling: deterministic per seed, seed changes the draw
    def gumbelIds(seed: Int) = sampling.dsirSelect(raw, target, "id", "text",
        n = 3, dim = dim, gumbel = true, seed = seed)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(gumbelIds(7) == gumbelIds(7))
    assert((1 to 20).exists(s => gumbelIds(s) != gumbelIds(7)))
  }

  test("shardAssign is a deterministic partition with a reproducible order") {
    val df = (1L to 400L).toDF("id")
    val a = sampling.shardAssign(df, "id", 8, seed = 7)
    val rows = a.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2)))
    // a true partition of the corpus with every shard in range
    assert(rows.length == 400 && rows.map(_._1).distinct.length == 400)
    assert(rows.forall(t => t._2 >= 0 && t._2 < 8))
    assert(rows.map(_._2).distinct.length == 8)
    // same seed → identical assignment; different seed → different one
    val b = sampling.shardAssign(df, "id", 8, seed = 7).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(b.sortBy(_._1).sameElements(rows.sortBy(_._1)))
    val c = sampling.shardAssign(df, "id", 8, seed = 8).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val aMap = rows.map(t => t._1 -> t._2).toMap
    assert((1L to 400L).exists(i => aMap(i) != c(i)))
  }

  test("temperatureSample: clamp, determinism, and tail up-weighting") {
    val df = ((1 to 900).map(i => (i.toLong, "big")) ++
      (1001 to 1100).map(i => (i.toLong, "small"))).toDF("id", "source")
    def keptBySource(alpha: Double, target: Long): Map[String, Long] =
      sampling.temperatureSample(df, "id", "source", alpha, target)
        .groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    // a huge target keeps everything (rates clamp at 1)
    assert(keptBySource(0.5, 1000000L) == Map("big" -> 900L, "small" -> 100L))
    // deterministic
    assert(keptBySource(0.5, 300L) == keptBySource(0.5, 300L))
    // flattening: alpha=0 gives the small source a bigger share than
    // alpha=1 (natural proportions)
    val nat = keptBySource(1.0, 300L); val flat = keptBySource(0.0, 300L)
    def share(m: Map[String, Long]) =
      m("small").toDouble / math.max(1L, m("small") + m("big"))
    assert(share(flat) > share(nat))
    // kept set is a subset of the corpus
    val kept = sampling.temperatureSample(df, "id", "source", 0.5, 300L)
    assert(kept.join(df, Seq("id", "source"), "left_anti").count() == 0)
    // a NULL source forms its own stratum (null-safe compare), SQL
    // GROUP BY style, instead of silently vanishing
    val withNull = df.unionByName(
      Seq((2000L, null.asInstanceOf[String])).toDF("id", "source"))
    val keptN = sampling.temperatureSample(withNull, "id", "source", 0.0, 5000L)
    assert(keptN.filter(F.col("source").isNull).count() == 1L)
  }

  test("hashedLinearScore matches a driver-side computation of the same model") {
    import graft.functions.quality
    val weights = Array.tabulate(64)(i => (i % 7 - 3) / 10.0)
    val df = Seq((1L, "alpha beta gamma"), (2L, "one"), (3L, "alpha alpha"))
      .toDF("id", "text")
    val got = df.select(F.col("id"),
        quality.hashedLinearScore(F.col("text"), weights, 0.25).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def h(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).take(4)
      val hex = md.map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 64).toInt
    }
    def score(text: String): Double = {
      val toks = text.trim.split("\\s+")
      val m = toks.map(t => weights(h(t))).sum / toks.length
      BigDecimal(1.0 / (1.0 + math.exp(-(0.25 + m))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    Seq(1L -> "alpha beta gamma", 2L -> "one", 3L -> "alpha alpha").foreach {
      case (id, text) => assert(got(id) == score(text), s"doc $id")
    }
    // scores are probabilities
    assert(got.values.forall(p => p > 0.0 && p < 1.0))
  }

  test("bigramNll matches a hand-computed conditional bigram model") {
    // corpus bigrams: (a b)×3, (b a)×2, (b c)×1 →
    // contexts: C(a)=3, C(b)=3; p(b|a)=1, p(a|b)=2/3, p(c|b)=1/3
    val df = Seq(
      (1L, "a b a b c"),   // bigrams: ab, ba, ab, bc
      (2L, "a b a"),       // bigrams: ab, ba
      (3L, "solo")         // < 2 tokens: n_bigrams 0, null nll
    ).toDF("doc_id", "text")
    val got = text.bigramNll(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)))).toMap
    def r7(x: Double) = BigDecimal(x).setScale(7, BigDecimal.RoundingMode.HALF_UP)
    def mean(xs: Seq[Double], tfs: Seq[Int]): Double =
      (xs.zip(tfs).map { case (x, t) => r7(x) * t }.sum /
        tfs.sum).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nAb = -math.log(3.0 / 3.0); val nBa = -math.log(2.0 / 3.0)
    val nBc = -math.log(1.0 / 3.0)
    assert(got(1L)._1 == 4L)
    assert(got(1L)._2.contains(mean(Seq(nAb, nBa, nBc), Seq(2, 1, 1))))
    assert(got(2L)._1 == 2L)
    assert(got(2L)._2.contains(mean(Seq(nAb, nBa), Seq(1, 1))))
    assert(got(3L) == ((0L, None)))
  }

  test("Luhn validation separates real card numbers from digit soup") {
    val df = Seq(
      (1L, "pay 4111111111111111 thanks"),            // valid, bare
      (2L, "card 4111-1111-1111-1112 declined"),      // checksum fails
      (3L, "amex 378282246310005 and visa 4111 1111 1111 1111"), // two valid
      (4L, "call 555-0123 maybe"),                    // too short: no candidate
      (5L, "no numbers at all here")
    ).toDF("doc_id", "text")
    val got = df.select(F.col("doc_id"),
        text.creditCardStats(F.col("text")).as("cc"))
      .select(F.col("doc_id"), F.col("cc.n_candidates"), F.col("cc.n_valid_cards"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((1L, 1L)))
    assert(got(2L) == ((1L, 0L)))
    assert(got(3L) == ((2L, 2L)))
    assert(got(4L) == ((0L, 0L)))
    assert(got(5L) == ((0L, 0L)))
  }

  test("compression ratio orders redundancy correctly") {
    import graft.functions.quality
    val boiler = Array.fill(50)("subscribe now").mkString(" ")
    val prose = "the quick brown fox jumps over the lazy dog while seven " +
      "wizards brew unique potions under a crimson autumn sky tonight"
    val df = Seq((1L, boiler), (2L, prose), (4L, ""))
      .toDF("id", "text")
    val got = df.select(F.col("id"),
        text.compressionRatio(F.col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // repeated boilerplate compresses an order of magnitude below prose
    assert(got(1L) < 0.1 && got(2L) > 0.5,
      s"expected boiler << prose, got $got")
    assert(got(1L) > 0.0 && got(4L) == 1.0)
    // deterministic across evaluations
    val again = df.select(F.col("id"),
        text.compressionRatio(F.col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == got)
    // doubling a text always improves compressibility
    val dd = df.filter(F.col("id") =!= 4L).select(
        (text.compressionRatio(F.concat(F.col("text"), F.lit(" "), F.col("text")))
          < text.compressionRatio(F.col("text"))).as("drops"))
      .collect().map(_.getBoolean(0))
    assert(dd.forall(identity))
  }

  test("unicode normalize: forms, ASCII identity, null, bad form") {
    val df = Seq(
      (1L, "Élan"),          // decomposed -> NFC composes
      (2L, "plain ascii"),          // fast path: returned as-is
      (3L, "ﬁne ①"),      // fi-ligature + circled-1: NFKC folds
      (4L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val got = df.select(F.col("id"),
        text.normalizeUnicode(F.col("t"), "NFC").as("nfc"),
        text.normalizeUnicode(F.col("t"), "NFKC").as("nfkc"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got(1L)._1 == "Élan" && got(1L)._2 == "Élan")
    assert(got(2L) == (("plain ascii", "plain ascii")))
    assert(got(3L)._1 == "ﬁne ①" && got(3L)._2 == "fine 1")
    assert(got(4L) == ((null, null)))
    // NFD round-trip: NFC(NFD(x)) == NFC(x)
    val rt = df.filter(F.col("id") === 1L).select(
      (text.normalizeUnicode(text.normalizeUnicode(F.col("t"), "NFD"), "NFC")
        === text.normalizeUnicode(F.col("t"), "NFC")).as("eq"))
      .collect().head.getBoolean(0)
    assert(rt)
    val err = intercept[Exception] {
      df.select(text.normalizeUnicode(F.col("t"), "NFX")).collect()
    }
    assert(err.getMessage.contains("graft_normalize"))
  }

  test("strip accents and foldedText build the canonical match key") {
    val df = Seq(
      (1L, "Café  NOIR"),     // decomposed e-acute, double space
      (2L, "café noir"),       // precomposed
      (3L, "straße"),          // ß is not an accent: kept
      (4L, "İstanbul")         // dotted capital I
    ).toDF("id", "t")
    val got = df.select(F.col("id"),
        text.stripAccents(F.col("t")).as("s"),
        text.foldedText(F.col("t")).as("f"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got(1L)._2 == "cafe noir" && got(2L)._2 == "cafe noir",
      s"fold mismatch: $got")
    assert(got(3L)._1 == "straße")
    assert(got(4L)._1 == "Istanbul" && got(4L)._2 == "istanbul")
  }

  test("canonicalized exact dedup collapses case/space/accent variants") {
    val df = Seq(
      (1L, "Fox  News café"),
      (2L, " fox news CAFE\u0301"), // decomposed accent + case + spacing
      (3L, "different entirely")
    ).toDF("doc_id", "text")
    assert(dedup.exactDuplicates(df, "doc_id", "text").count() == 3)
    val canon = dedup.exactDuplicates(df, "doc_id", "text",
      canonicalize = true).collect()
    assert(canon.length == 2)
    assert(canon.exists(r => r.getLong(1) == 1L && r.getLong(2) == 2L),
      canon.mkString(", "))
  }

  test("keepBest keeps the highest-score member per component, transitively") {
    // chain 1~2, 2~3 (1≁3 directly): one component, survivor = max score;
    // 4 untouched; tie between 5~6 broken by the smaller id
    val df = Seq(
      (1L, 10L), (2L, 30L), (3L, 20L), (4L, 99L), (5L, 7L), (6L, 7L)
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = dedup.keepBest(df, "doc_id", pairs, F.col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 5L))
  }

  test("containmentPairs finds a quote inside its source, not vice versa") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon"), // 3 shingles, all in doc 1
      (3L, "unrelated words entirely disjoint from everything else here"),
      (4L, null.asInstanceOf[String]) // null text: no pairs, no NPE
    ).toDF("doc_id", "text")
    val got = dedup.containmentPairs(df, "doc_id", "text", k = 3,
        sketch = 8, minC = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 1L))) // asymmetric: doc 1 is NOT inside doc 2
  }

  test("containmentPairs maxPosting drops corpus-hot shingles from candidates") {
    // 60 copies of one boilerplate text: every shingle's posting list is
    // 60 > cap, so candidate generation is empty — bounded work, the
    // documented recall trade on degenerate boilerplate
    val boiler = (1L to 60L).map(i => (i, "same old boilerplate line " +
      "repeated on every page of the site")).toDF("doc_id", "text")
    val capped = dedup.containmentPairs(boiler, "doc_id", "text", k = 3,
      sketch = 8, minC = 0.9, maxPosting = 10)
    assert(capped.count() == 0L)
    // and without the cap the same corpus is all-pairs contained
    val uncapped = dedup.containmentPairs(boiler, "doc_id", "text", k = 3,
      sketch = 8, minC = 0.9)
    assert(uncapped.count() == 60L * 59L)
  }

  test("keepBestByKey keeps the arg-max row per key, null scores lose") {
    val df = Seq(
      (1L, "u1", java.lang.Long.valueOf(5L)),
      (2L, "u1", java.lang.Long.valueOf(9L)),   // wins u1
      (3L, "u2", null.asInstanceOf[java.lang.Long]), // null loses …
      (4L, "u2", java.lang.Long.valueOf(1L)),   // … to any score
      (5L, "u3", java.lang.Long.valueOf(7L)),
      (6L, "u3", java.lang.Long.valueOf(7L)),   // tie → smaller id (5)
      (7L, null, java.lang.Long.valueOf(2L))    // null key = own group
    ).toDF("doc_id", "url", "score")
    val kept = dedup.keepBestByKey(df, "doc_id", "url", F.col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 5L, 7L))
  }

  test("deterministicSample returns exactly n, stable across partitionings") {
    val df = (1L to 1000L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val a = sampling.deterministicSample(df.repartition(7), "doc_id", 50)
      .select("doc_id").as[Long].collect().toSet
    val b = sampling.deterministicSample(df.repartition(3), "doc_id", 50)
      .select("doc_id").as[Long].collect().toSet
    assert(a.size == 50 && a == b)
    // and it is the md5-order prefix (the portable contract)
    val expect = df.select(F.col("doc_id"))
      .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
      .limit(50).as[Long].collect().toSet
    assert(a == expect)
  }

  test("dropRepeatedLines keeps first occurrences in order") {
    val df = Seq((1L, "nav\nbody one\nnav\nbody two\nnav\nfooter\nfooter"))
      .toDF("id", "text")
    val got = df.select(text.dropRepeatedLines(F.col("text"))).head().getString(0)
    assert(got == "nav\nbody one\nbody two\nfooter")
  }

  test("quantileBandFilterGrouped resolves thresholds per group") {
    import graft.functions.quality
    // group a: scores 1..10 -> band [p20,p80] keeps ceil(.2*10)=2 .. 8
    // group b: scores 101..105 -> keeps ceil(.2*5)=1 -> lo=101, hi=ceil(4)=104
    val df = ((1 to 10).map(i => ("a", i.toDouble)) ++
      (101 to 105).map(i => ("b", i.toDouble))).toDF("grp", "score")
    val kept = quality.quantileBandFilterGrouped(df, "score", "grp",
        0.20, 0.80, decimals = 0)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(kept == ((2 to 8).map(i => ("a", i.toDouble)) ++
      (101 to 104).map(i => ("b", i.toDouble))).toSet, kept.toString)
    // a GLOBAL band over the same data would cut group b's head, not
    // its own p20 — the grouped variant must not do that
    assert(kept.contains(("b", 101.0)))
  }

  test("centroidOutliers scores cosine to the group centroid") {
    // group a: two vectors along +x and one orthogonal along +y;
    // sum vector = (2,1): cos((1,0),(2,1)) = 2/sqrt(5), cos((0,1),(2,1)) = 1/sqrt(5)
    val df = Seq(
      (1L, "a", Seq(1.0, 0.0)), (2L, "a", Seq(1.0, 0.0)), (3L, "a", Seq(0.0, 1.0)),
      (4L, "b", Seq(0.0, 3.0))
    ).toDF("id", "grp", "v")
    val got = similarity.centroidOutliers(df, "id", "v", "grp", dim = 2)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(math.abs(got(1L) - 2.0 / math.sqrt(5.0)) < 1e-6)
    assert(math.abs(got(3L) - 1.0 / math.sqrt(5.0)) < 1e-6)
    assert(got(4L) == 1.0) // singleton group: cos(v, v) = 1
    // the outlier (3) scores strictly below the in-cluster rows
    assert(got(3L) < got(1L))
  }

  test("centroidOutliers plan: one shuffle for the sums, centroid side broadcast") {
    val df = (1L to 1000L).map(i => (i, (i % 7).toString,
      Seq((i % 13).toDouble, (i % 5).toDouble))).toDF("id", "grp", "v")
    val out = similarity.centroidOutliers(df, "id", "v", "grp", dim = 2)
    // the only ShuffleExchange is the component-sum groupBy; the sum
    // vectors come back as a broadcast, never a shuffled join (string
    // count because AQE hides the subtree from executedPlan.collect)
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(out.count() == 1000)
  }

  test("gopher rule battery computes the published metrics and flags") {
    import graft.functions.quality
    // 58 words of prose with stopwords -> passes everything
    val good = (("the data " * 25) + "pipeline runs with care and that is fine").trim
    // bullet-led lines (3/3 > 0.9) -> fails the bullet rule only if frac > 0.9
    val bullets = s"- $good\n- item two\n- item three"
    // symbol spam: 8 hashes over ~66 words -> ratio > 0.1
    val spam = s"### $good # # # # #"
    val df = Seq((1L, good), (2L, bullets), (3L, spam), (4L, "tiny doc"),
      (5L, s"$good...\nsecond...\nthird line..."), (6L, "")).toDF("id", "text")
    val g = df.select(F.col("id"),
      quality.gopherRules(F.col("text")).as("g")).orderBy("id").collect()
    def row(i: Int) = g(i).getStruct(1)
    assert(row(0).getAs[Boolean]("pass"), row(0).toString)
    assert(row(0).getAs[Long]("n_words") == 58L) // 50 repeated + 8 tail words
    // bullet page: every line bullet-led -> frac 1.0 -> fails
    assert(row(1).getAs[Double]("bullet_frac") == 1.0)
    assert(!row(1).getAs[Boolean]("pass"))
    // symbol page: 8 '#' / 66 words > 0.1 -> fails
    assert(row(2).getAs[Double]("symbol_ratio") > 0.1)
    assert(!row(2).getAs[Boolean]("pass"))
    // word-count floor
    assert(!row(3).getAs[Boolean]("pass"))
    assert(row(3).getAs[Long]("n_words") == 2L)
    // ellipsis-ended lines 3/3 > 0.3 -> fails
    assert(row(4).getAs[Double]("ellipsis_frac") == 1.0)
    assert(!row(4).getAs[Boolean]("pass"))
    // empty document: zero words, null ratio metrics, pass = FALSE (not null)
    assert(row(5).getAs[Long]("n_words") == 0L)
    assert(row(5).isNullAt(row(5).fieldIndex("mean_word_len")))
    assert(!row(5).isNullAt(row(5).fieldIndex("pass")))
    assert(!row(5).getAs[Boolean]("pass"))
    assert(quality.filterGopher(df, "text").count() == 1)
  }

  test("domain blocklist filters at label-boundary suffix levels") {
    val df = Seq(
      (1L, "https://a.b.spam.com/x"),     // blocked via suffix of spam.com
      (2L, "http://WWW.good.org/y"),      // www-stripped, not blocked
      (3L, "https://bob@spam.com:8080/z"),// user+port stripped, exact match
      (4L, "https://notspam.com/w"),      // label boundary: NOT blocked
      (5L, "https://sub.only.net/v")      // exact entry
    ).toDF("id", "url")
    val blocklist = Seq("spam.com", "sub.only.net")
    val kept = text.filterBlockedDomains(df, "url", blocklist)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L), s"got $kept")
    val keptLarge = text.filterBlockedDomainsLarge(df, "url", "id",
        blocklist.toDF("domain"))
      .collect().map(_.getLong(0)).toSet
    assert(keptLarge == kept)
  }

  test("epochExpand repeats rows by weight with deterministic fraction") {
    val df = (1L to 100L).map(i =>
      (i, if (i <= 40) "a" else if (i <= 80) "b" else "c")).toDF("id", "source")
    val weights = Map("a" -> 2.0, "b" -> 0.5, "c" -> 0.0)
    val out = sampling.epochExpand(df, "id", "source", weights)
    val bySrc = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("a") == 80, s"got $bySrc")       // integer weight: exact
    assert(!bySrc.contains("c"))                   // weight 0 drops all
    assert(bySrc("b") > 5 && bySrc("b") < 35)      // ~50% hash slice
    // every kept a-row appears exactly twice, epochs {0, 1}
    val eps = out.filter(F.col("source") === "a").groupBy("id")
      .agg(F.sort_array(F.collect_list("epoch")).as("e"))
      .collect().map(_.getSeq[Int](1)).toSet
    assert(eps == Set(Seq(0, 1)))
    // default weight applies to unlisted sources
    val def2 = sampling.epochExpand(df, "id", "source", Map("a" -> 1.0),
      defaultWeight = 2.0)
    assert(def2.filter(F.col("source") === "b").count() == 80)
    // deterministic across runs
    assert(sampling.epochExpand(df, "id", "source", weights).count() == out.count())
  }

  test("bloom decontamination matches the exact path at any fpp") {
    import graft.functions.contamination
    val train = (1L to 60L).map { i =>
      val t = if (i % 10 == 0) "the secret benchmark answer is forty two exactly"
        else s"ordinary training document number $i with plain words"
      (i, t)
    }.toDF("doc_id", "text")
    val bench = Seq((900L, "the secret benchmark answer is forty two exactly"))
      .toDF("doc_id", "text")
    val exact = contamination.overlapStats(train, "doc_id", "text",
        bench, "text", k = 3, minOverlap = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    // coarse fpp forces real false positives through the suspect path;
    // the exact-verify stage must cancel every one of them
    for (fpp <- Seq(0.4, 0.01)) {
      val bloom = contamination.overlapStatsBloom(train, "doc_id", "text",
          bench, "text", k = 3, minOverlap = 0.5, fpp = fpp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSet
      assert(bloom == exact, s"fpp=$fpp diverged")
    }
    val survivors = contamination.decontaminateBloom(train, "doc_id", "text",
        bench, "text", k = 3, minOverlap = 0.5, fpp = 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(survivors == (1L to 60L).filterNot(_ % 10 == 0).toSet)
  }

  test("l2Normalize and quantizeInt8 native expressions match the portable forms") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 50L).map { i =>
      val v = if (i == 50L) Seq.fill(8)(0.25f) // degenerate constant vector
        else Seq.fill(8)(rnd.nextFloat() * 4 - 2)
      (i, v)
    } :+ ((51L, null.asInstanceOf[Seq[Float]]))
    val df = rows.toDF("id", "v")
    val cmp = df.select(F.col("id"),
        similarity.l2Normalize(F.col("v")).as("ln"),
        similarity.l2NormalizePortable(F.col("v")).as("lp"),
        similarity.quantizeInt8(F.col("v")).as("qn"),
        similarity.quantizeInt8Portable(F.col("v")).as("qp"))
      .collect()
    cmp.foreach { r =>
      assert(r.getSeq[Double](1) == r.getSeq[Double](2), s"l2 @ ${r.getLong(0)}")
      assert(r.getSeq[Int](3) == r.getSeq[Int](4), s"q8 @ ${r.getLong(0)}")
    }
    // unit property on the native path
    val nrm = df.filter(F.col("v").isNotNull)
      .select(F.round(similarity.norm(similarity.l2Normalize(F.col("v"))), 9))
      .collect().map(_.getDouble(0))
    assert(nrm.forall(_ == 1.0))
  }

  test("binaryFile ingest decodes real PNG files end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bin").toFile
    try {
      for (i <- 1 to 5) {
        val bytes = multimodal.syntheticPng(3 + i, 2 + i, seed = i)
        java.nio.file.Files.write(
          new java.io.File(dir, s"img_$i.png").toPath, bytes)
      }
      java.nio.file.Files.write( // non-matching file: never listed
        new java.io.File(dir, "notes.txt").toPath, "hello".getBytes)
      val media = multimodal.fromBinaryFiles(spark, dir.getAbsolutePath,
        glob = "*.png")
      val feats = multimodal.decodeFeatures(media).collect()
      assert(feats.length == 5)
      assert(feats.forall(f => f.magic == "PNG" && f.channels == 3))
      assert(feats.map(f => (f.width, f.height)).toSet ==
        (1 to 5).map(i => (3 + i, 2 + i)).toSet)
      // ids are stable path fingerprints: re-reading yields the same ids
      val again = multimodal.fromBinaryFiles(spark, dir.getAbsolutePath,
        glob = "*.png").collect().map(_.doc_id).toSet
      assert(again == media.collect().map(_.doc_id).toSet)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete(); ()
    }
  }

  test("connected components release their iteration caches") {
    val baseline = pinned
    val pairs = Seq((1L, 2L), (3L, 4L), (2L, 3L)).toDF("id_a", "id_b")
    dedup.connectedComponents(pairs).collect()
    assertNoNewPinned(baseline, "CC frames")
  }

  test("extractHtmlText strips markup, unescapes entities, keeps structure") {
    val html = "<html><head><style>body { color: red; }</style>" +
      "<script>if (a < b) { alert('x</b>'); }</script></head>" +
      "<body><!-- hidden\nnote --><h1>Title</h1>" +
      "<P class=\"x\">Tom &amp; Jerry say &quot;hi&quot;</p>" +
      "<ul><li>one</li><li>two</li></ul>" +
      "<span>inline <b>bold</b> text</span><br>last &amp;lt; line" +
      "</body></html>"
    val got = Seq(html).toDF("h")
      .select(text.extractHtmlText(F.col("h"))).head().getString(0)
    // script survives its own embedded "</b>" (non-greedy to </script>),
    // block tags break lines, inline tags just vanish, &amp;lt; unescapes
    // ONCE (to &lt;, not <)
    assert(got ==
      "Title\nTom & Jerry say \"hi\"\none\ntwo\ninline bold text\nlast &lt; line",
      s"got: ${got.replace("\n", "\\n")}")
  }

  test("semanticDecontaminate drops bench-similar vectors, shuffle-free") {
    import graft.functions.contamination
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),   // = bench direction
      (2L, Seq(0.98f, 0.2f, 0.0f)),  // cos ~0.98 -> dropped
      (3L, Seq(0.0f, 1.0f, 0.0f)),   // orthogonal -> kept
      (4L, Seq(-1.0f, 0.0f, 0.0f)),  // opposite -> kept
      (5L, Seq(0.6f, 0.8f, 0.0f))    // cos 0.6 -> kept
    ).toDF("vec_id", "embedding")
    val bench = Seq(Tuple1(Seq(1.0f, 0.0f, 0.0f))).toDF("embedding")
    val kept = contamination.semanticDecontaminate(
      corpus, "vec_id", "embedding", bench, "embedding", minCos = 0.9)
    assert(kept.collect().map(_.getLong(0)).toSet == Set(3L, 4L, 5L))
    assert(kept.columns.toSeq == Seq("vec_id", "embedding"))
    // the corpus side must never shuffle: broadcast nested-loop anti
    // join only (string check because AQE hides subtrees)
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("trainHashedClassifier learns to separate labeled vocabularies") {
    import graft.functions.quality
    val train = Seq(
      (1L, "buy cheap pills now buy buy", 0.0),
      (2L, "cheap pills cheap offer now", 0.0),
      (3L, "the data pipeline runs the tests", 1.0),
      (4L, "the engine plans the query well", 1.0)
    ).toDF("id", "text", "y")
    val (w, b) = quality.trainHashedClassifier(
      train, "text", F.col("y"), dim = 32, iters = 4, lr = 2.0)
    assert(w.length == 32)
    val scored = train.select(F.col("id"),
        quality.hashedLinearScore(F.col("text"), w, b).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every ham doc must outscore every spam doc after training
    assert(Seq(3L, 4L).map(scored).min > Seq(1L, 2L).map(scored).max,
      scored.toString)
    // determinism: retraining reproduces the exact parameters
    val (w2, b2) = quality.trainHashedClassifier(
      train, "text", F.col("y"), dim = 32, iters = 4, lr = 2.0)
    assert(w.sameElements(w2) && b == b2)
  }

  test("domainQualityFilter cuts whole domains by their decimal-mean score") {
    import graft.functions.quality
    val df = Seq(
      (1L, "good", 0.9), (2L, "good", 0.8),  // mean 0.85
      (3L, "farm", 0.9), (4L, "farm", 0.1),  // mean 0.40: one fluent
      (5L, "farm", 0.2)                      // page does not save it
    ).toDF("id", "domain", "score")
    val kept = quality.domainQualityFilter(df, "domain", F.col("score"),
      minMean = 0.6)
    assert(kept.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(kept.columns.toSeq == Seq("id", "domain", "score"))
    val stats = quality.domainQualityStats(df, "domain", F.col("score"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(stats("good") == 0.85 && stats("farm") == 0.4)
  }

  test("editDistancePairs: blocking, threshold exit, cap, unicode pin") {
    import graft.functions.dedup
    val df = Seq(
      (1L, "The quick brown fox jumps"),   // block mates, dist 2
      (2L, "the quick browny fox jump"),
      (3L, "the quick BROWN fox jumps"),   // dist 0 to 1 after fold
      (4L, "thx totally different text here padded long"), // same pfx, other band
      (5L, "zz unrelated")
    ).toDF("doc_id", "text")
    val pairs = dedup.editDistancePairs(df, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 2), (1L, 3L, 0), (2L, 3L, 2)), pairs.toString)

    // the maxBlock cap keeps the smallest ids deterministically: with
    // cap 2 only ids 1,2 survive the shared block, so (1,3)/(2,3) vanish
    val capped = dedup.editDistancePairs(df, "doc_id", "text", maxDist = 3,
        maxBlock = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), capped.toString)

    // unicode pin: Spark's levenshtein counts CODEPOINTS (café→cafe is
    // one edit; DuckDB's byte-based levenshtein says 2) — which is why
    // the oracle domain strips to printable ASCII before comparing
    val lev = df.sparkSession.range(1)
      .select(F.levenshtein(F.lit("café"), F.lit("cafe")).as("d"))
      .head().getInt(0)
    assert(lev == 1)

    // normalization strips non-ASCII BEFORE lower-casing: a doc whose
    // key survives only via its ASCII chars still pairs exactly
    val uni = Seq((10L, "Straße A1"), (11L, "strae a1")).toDF("doc_id", "text")
    val upairs = dedup.editDistancePairs(uni, "doc_id", "text", maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(upairs == Set((10L, 11L, 0)), upairs.toString)
  }

  test("segmentFast (graft_bpe_segment) ≡ the expression-chained segment") {
    import graft.functions.bpe
    // adversarial merge table: chained multi-char lhs (th → the →
    // thea), a DUPLICATE rule, a rule whose pair only appears AFTER an
    // earlier merge creates it, and a never-matching rule — the
    // pending-rank kernel must replay the chain's one-pass-per-rank
    // semantics exactly
    val merges = Seq(("t", "h"), ("th", "e"), ("a", "n"), ("q", "q"),
      ("the", "a"), ("a", "n"), ("an", "d"), ("x", "y"))
    val rnd = new scala.util.Random(20260815L)
    // "the\n" / "\nthe": Java ^..$ would admit a trailing newline into
    // the merge path (the gate anchors \A..\z precisely so both forms
    // pass such tokens through whole, like the RE2-based oracles)
    val toks = Seq("the", "thean", "and", "banana", "qqq", "qqqq", "x",
      "", "X42!", "ötther", "thethe", "ananan", "the\n", "\nthe",
      "the\nthe") ++
      (0 until 200).map(_ => (0 until rnd.nextInt(12))
        .map(_ => "theandqxyz".charAt(rnd.nextInt(10))).mkString)
    val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "tok")
    val both = df.select(F.col("id"), F.col("tok"),
        bpe.segment(F.col("tok"), merges).as("chain"),
        bpe.segmentFast(F.col("tok"), merges).as("fast"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](2) == r.getSeq[String](3),
        s"chain != fast for token '${r.getString(1)}': " +
          s"${r.getSeq[String](2)} vs ${r.getSeq[String](3)}")
    }
    // empty merge table: every lowercase token splits to chars
    val none = df.filter(F.col("tok") === "the")
      .select(bpe.segmentFast(F.col("tok"), Seq.empty).as("s")).head()
    assert(none.getSeq[String](0) == Seq("t", "h", "e"))
  }
}
