package graft

import org.apache.spark.sql.{functions => F}
import graft.functions.similarity

/** Product-quantization ANN ([[graft.functions.similarity.pqTopK]] and
  * the graft_pq_* expressions): encoding well-formedness, the
  * lossless-codebook exactness case (codebook ⊇ corpus ⇒ ADC distance
  * IS squared L2, so PQ top-k equals brute force), recall sanity on the
  * real embeddings, and hygiene. */
class PqAnnSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  test("codes are m ints in [0, ksub); native encode matches a driver replay") {
    val m = 8; val ksub = 16
    val cb = similarity.trainPqCodebooks(embs, "vec_id", "embedding",
      m, ksub, iters = 0, portableSeed = true)
    val dsub = cb.length / (m * ksub)
    assert(dsub == 64 / m, s"bank layout: dsub = $dsub")
    val got = similarity.pqEncode(embs, "vec_id", "embedding", cb, m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    assert(got.values.forall(cs => cs.length == m && cs.forall(c => c >= 0 && c < ksub)))
    // driver replay of the argmin on a handful of vectors
    val vecs = embs.limit(5).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    vecs.foreach { case (id, x) =>
      val expect = Array.tabulate(m) { s =>
        (0 until ksub).minBy { c =>
          val d2 = (0 until dsub).map { d =>
            val diff = x(s * dsub + d) - cb((s * ksub + c) * dsub + d)
            diff * diff
          }.sum
          (d2, c)
        }
      }
      assert(got(id).toSeq == expect.toSeq, s"vec $id codes diverge")
    }
  }

  test("lossless codebook: PQ top-k equals exact L2 brute force") {
    // 16 distinct vectors, ksub = 16, sample = all ⇒ every vector is a
    // codeword, encoding is lossless and ADC distance = true squared L2
    val corpus = embs.filter(F.col("vec_id") < 16)
    val got = similarity.pqTopK(corpus, corpus, "vec_id", "embedding",
        m = 8, ksub = 16, k = 3, iters = 0, portableSeed = true)
      .collect().map(r => ((r.getLong(0), r.getLong(3)), r.getLong(1))).toMap
    val vecs = corpus.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    vecs.keys.foreach { q =>
      val want = vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(vecs(q), vecs(n)), n)).take(3)
      val gotq = (1 to 3).map(r => got((q, r.toLong)))
      assert(gotq == want, s"query $q: PQ $gotq vs exact $want")
    }
  }

  test("recall sanity on the real corpus: trained codebooks beat raw seeds") {
    val queries = embs.filter(F.col("vec_id") < 20)
    def recall(iters: Int): Int = {
      val pq = similarity.pqTopK(embs, queries, "vec_id", "embedding",
          m = 8, ksub = 16, k = 10, iters = iters, portableSeed = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, rs) => q -> rs.map(_._2).toSet }
      val vecs = embs.collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
      def l2(a: Array[Double], b: Array[Double]): Double =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      (0L until 20L).map { q =>
        val exact = vecs.keys.filter(_ != q).toSeq
          .sortBy(n => (l2(vecs(q), vecs(n)), n)).take(10).toSet
        (pq(q) & exact).size
      }.sum
    }
    val seeded = recall(0)
    val trained = recall(5)
    // 8 subspaces x 16 codewords over near-isotropic 64-d synthetic
    // vectors is a deliberately coarse quantizer — assert the TRAINING
    // SIGNAL (Lloyd improves over raw seeds) plus a conservative floor,
    // not a tuned benchmark number
    assert(trained > seeded,
      s"Lloyd must improve recall: trained $trained vs seeded $seeded / 200")
    assert(trained >= 40, s"trained recall@10 too low: $trained / 200")
  }

  test("IVF-PQ at nprobe = nlist equals the flat PQ scan; partial nprobe is a subset") {
    val queries = embs.filter(F.col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    val flat = rows(similarity.pqTopK(embs, queries, "vec_id", "embedding",
      m = 8, ksub = 16, k = 4, iters = 0, portableSeed = true))
    val full = rows(similarity.ivfPqTopK(embs, queries, "vec_id", "embedding",
      k = 4, nlist = 8, nprobe = 8, m = 8, ksub = 16,
      pqIters = 0, ivfIters = 2, portableSeed = true))
    assert(full == flat, "nprobe = nlist must reproduce the flat PQ ranking")
    // partial probe: every returned candidate must also rank in the
    // flat scan's candidate order (same ADC distances, fewer candidates)
    val partial = similarity.ivfPqTopK(embs, queries, "vec_id", "embedding",
        k = 4, nlist = 8, nprobe = 2, m = 8, ksub = 16,
        pqIters = 0, ivfIters = 2, portableSeed = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val flatDists = flat.map { case (q, n, d, _) => (q, n) -> d }.toMap
    partial.foreach { case (key, d) =>
      flatDists.get(key).foreach(fd =>
        assert(fd == d, s"partial-probe ADC distance diverged for $key"))
    }
    assert(partial.nonEmpty, "partial probe returned nothing")
  }

  test("hygiene: empty corpus yields empty result; m must divide dim") {
    val empty = embs.where(F.lit(false))
    assert(similarity.pqTopK(empty, embs.limit(2), "vec_id", "embedding",
      m = 8, ksub = 16, k = 3).count() == 0L)
    intercept[IllegalArgumentException] {
      similarity.trainPqCodebooks(embs, "vec_id", "embedding",
        m = 7, ksub = 4, iters = 0)
    }
  }

  test("hygiene: ragged/corrupt vectors are excluded, never a crash") {
    // a 3-wide row mixed into a 64-wide corpus: dim % m != 0 used to
    // throw ArithmeticException inside generated code (dsub = 0); now
    // the expression returns NULL and every PQ entry point filters
    // size(vec) === trained dim (round-10 review hardening)
    val slim = embs.select("vec_id", "embedding")
    val ragged = slim.select(F.col("vec_id"),
        F.slice(F.col("embedding"), 1, 3).as("embedding"))
      .where(F.col("vec_id") === 0L)
    val corpus = slim.where(F.col("vec_id") =!= 0L).unionByName(ragged)
    val qs = slim.limit(3)
    // expression contract: ragged row encodes to NULL
    val cb = similarity.trainPqCodebooks(corpus, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 0, portableSeed = true)
    val codes = similarity.pqEncode(ragged, "vec_id", "embedding", cb, 8)
      .collect()
    assert(codes.length == 1 && codes.head.isNullAt(1),
      "ragged vector must encode to NULL codes")
    // operator contract: the ragged row is absent from results; no crash
    val top = similarity.pqTopK(corpus, qs, "vec_id", "embedding",
      m = 8, ksub = 16, k = 3, portableSeed = true).collect()
    assert(top.nonEmpty && top.forall(_.getLong(1) != 0L))
    val ivf = similarity.ivfPqTopK(corpus, qs, "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 4, m = 8, ksub = 16,
      portableSeed = true).collect()
    assert(ivf.nonEmpty && ivf.forall(_.getLong(1) != 0L))
  }

  test("residual IVF-PQ beats global codebooks at equal m/ksub/nprobe") {
    // the round-10 headline: quantizing r = v − centroid(cell) spends
    // the same m × ksub code budget on a smaller ball than raw-vector
    // quantization — recall@k vs the exact L2 ranking must improve at
    // IDENTICAL parameters. nprobe = nlist isolates quantization
    // quality (no pruning loss in either arm).
    val slim = embs.select("vec_id", "embedding")
    val qs = slim.filter(F.col("vec_id") < 32)
    val k = 10
    // exact squared-L2 top-k ground truth, computed driver-side
    val vecs = slim.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val truth: Map[Long, Set[Long]] = vecs.filter(_._1 < 32).map { case (q, qv) =>
      q -> vecs.filter(_._1 != q).toSeq.map { case (n, nv) =>
        val d2 = qv.zip(nv).map { case (a, b) => (a - b) * (a - b) }.sum
        (d2, n)
      }.sortBy(identity).take(k).map(_._2).toSet
    }
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / k
      }.sum / truth.size
    }
    val global = recall(similarity.ivfPqTopK(slim, qs, "vec_id", "embedding",
      k = k, nlist = 8, nprobe = 8, m = 8, ksub = 16,
      pqIters = 3, ivfIters = 2, portableSeed = true))
    val residual = recall(similarity.ivfPqResidualTopK(slim, qs,
      "vec_id", "embedding", k = k, nlist = 8, nprobe = 8, m = 8, ksub = 16,
      pqIters = 3, ivfIters = 2, portableSeed = true))
    info(f"recall@$k: residual $residual%.4f vs global $global%.4f")
    assert(residual > global,
      f"residual codes must beat global at equal budget: " +
        f"residual $residual%.4f vs global $global%.4f")
  }

  test("residual IVF-PQ hygiene: empty corpus, ragged rows") {
    val slim = embs.select("vec_id", "embedding")
    val empty = slim.where(F.lit(false))
    assert(similarity.ivfPqResidualTopK(empty, slim.limit(2),
      "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2,
      m = 8, ksub = 8).count() == 0L)
    val ragged = slim.select(F.col("vec_id"),
        F.slice(F.col("embedding"), 1, 3).as("embedding"))
      .where(F.col("vec_id") === 0L)
    val corpus = slim.where(F.col("vec_id") =!= 0L).unionByName(ragged)
    val got = similarity.ivfPqResidualTopK(corpus, slim.limit(3),
      "vec_id", "embedding", k = 3, nlist = 4, nprobe = 4,
      m = 8, ksub = 8, portableSeed = true).collect()
    assert(got.nonEmpty && got.forall(_.getLong(1) != 0L))
  }

  test("residual PQ index: probe ≡ direct computation; append re-encodes against STORED banks") {
    import graft.functions.index
    import org.apache.spark.sql.SaveMode
    val slim = embs.select("vec_id", "embedding")
    val day1 = slim.filter(F.col("vec_id") % 5 =!= 0)
    val day2 = slim.filter(F.col("vec_id") % 5 === 0)
    index.buildPqIndex(day1, "vec_id", "embedding", "rpq_spec",
      nlist = 4, m = 8, ksub = 8, ivfIters = 0, pqIters = 0,
      sampleOneIn = 1L, portableSeed = true, residual = true)
    // probe of the persisted index ≡ the direct residual computation
    // trained on the same corpus with the same args
    val qs = slim.filter(F.col("vec_id") < 4)
    val viaIndex = index.probePqIndex(spark, qs, "vec_id", "embedding",
      "rpq_spec", k = 3, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val direct = similarity.ivfPqResidualTopK(day1, qs, "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 4, m = 8, ksub = 8,
      pqIters = 0, ivfIters = 0, sampleOneIn = 1L, portableSeed = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(viaIndex == direct,
      "persisted residual index must reproduce the direct computation")
    // append: day2 codes must equal re-encoding day2 against the
    // STORED banks (quantizers must not retrain mid-lifecycle), and the
    // residual flag must persist
    index.buildPqIndex(day2, "vec_id", "embedding", "rpq_spec",
      mode = SaveMode.Append, residual = false /* ignored: stored governs */)
    val stored = spark.table(live("rpq_spec", "pqcells"))
      .collect().map(r => r.getAs[Long]("n_id") ->
        (r.getAs[Int]("cell"), r.getSeq[Int](r.fieldIndex("codes")))).toMap
    assert(stored.size == slim.count(),
      "append must add exactly the new batch")
    // recompute day2's expected codes from the stored banks directly
    val ivfBank = spark.table(live("rpq_spec", "pqbank"))
      .filter(F.col("kind") === "ivf").orderBy("pos")
      .collect().map(_.getDouble(2))
    val cb = spark.table(live("rpq_spec", "pqbank"))
      .filter(F.col("kind") === "cb").orderBy("pos")
      .collect().map(_.getDouble(2))
    val nlist = ivfBank.length / 65
    day2.collect().foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      // argmax dot/|c|, tie smallest cell (the CentroidTopK contract)
      val cell = (0 until nlist).minBy { c =>
        val cv = ivfBank.slice(c * 64, c * 64 + 64)
        val nrm = ivfBank(nlist * 64 + c)
        (-v.zip(cv).map { case (a, b) => a * b }.sum / nrm, c)
      }
      val resid = v.zip(ivfBank.slice(cell * 64, cell * 64 + 64))
        .map { case (a, b) => a - b }
      val ksub = cb.length / 64
      val codes = (0 until 8).map { s =>
        (0 until ksub).minBy { c =>
          val d2 = (0 until 8).map { d =>
            val diff = resid(s * 8 + d) - cb((s * ksub + c) * 8 + d)
            diff * diff
          }.sum
          (d2, c)
        }
      }
      assert(stored(id) == ((cell, codes)),
        s"appended row $id must be coded against the stored banks")
    }
  }

  test("annRecallReport: monotone in nprobe, exact 1.0 at nprobe = nlist, empty-safe") {
    val slim = embs.select("vec_id", "embedding")
    val rep = similarity.annRecallReport(slim,
        slim.filter(F.col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nlist = 8, nprobes = Seq(1, 4, 8, 12), iters = 2,
        portableSeed = true)
      .orderBy("nprobe").collect()
      .map(r => r.getInt(0) -> r.getDouble(3))
    assert(rep.map(_._1).toSeq == Seq(1, 4, 8, 12))
    // widening the probe can only add candidates: recall is monotone
    rep.sliding(2).foreach { case Array((pa, ra), (pb, rb)) =>
      assert(ra <= rb, s"recall must not drop: $pa→$ra vs $pb→$rb")
    }
    // nprobe >= nlist probes everything — the probe IS brute force
    assert(rep.toMap.apply(8) == 1.0 && rep.toMap.apply(12) == 1.0)
    val empty = slim.where(F.lit(false))
    assert(similarity.annRecallReport(empty, empty, "vec_id", "embedding",
      k = 3, nlist = 4, nprobes = Seq(1, 2)).count() == 0L)
  }

  test("annLadderReport: self-check row reads 1.0; residual ≥ global with trained codebooks") {
    // the storage-tier sibling of annRecallReport: one row per ANN
    // tier at equal k. With REAL Lloyd training (pqIters = 3 — the
    // oracle-replayable x131 row can't use it, because k-means means
    // are order-dependent double sums) the residual tier must not lose
    // to global codebooks at the same budget, and the brute-force row
    // is the wired-in 1.0 self-check.
    val slim = embs.select("vec_id", "embedding")
    val got = similarity.annLadderReport(slim,
        slim.filter(F.col("vec_id") < 16), "vec_id", "embedding",
        k = 5, dim = 64, nlist = 8, nprobe = 8, m = 8, ksub = 16,
        pqIters = 3, ivfIters = 2, portableSeed = true)
      .orderBy("tier").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got.keySet == Set("1_brute_f32", "2_int8", "3_ivfpq_global",
      "4_ivfpq_residual", "5_hamming_binary"))
    assert(got("1_brute_f32") == 1.0,
      s"brute-force self-check row must read exactly 1.0: $got")
    assert(got.values.forall(r => r >= 0.0 && r <= 1.0))
    info(got.toSeq.sorted.map { case (t, r) => f"$t $r%.3f" }.mkString(", "))
    assert(got("4_ivfpq_residual") >= got("3_ivfpq_global"),
      s"residual must not lose to global at equal trained budget: $got")
    // empty-query degenerate: report exists, zero-safe
    val empty = similarity.annLadderReport(slim,
      slim.where(F.lit(false)), "vec_id", "embedding",
      k = 3, dim = 64, nlist = 4, nprobe = 4, m = 8, ksub = 8,
      portableSeed = true)
    assert(empty.count() == 5 &&
      empty.filter(F.col("recall") =!= 0.0).count() == 0)
  }

  test("int8TopK: high recall vs exact cosine; corrupt vectors excluded") {
    val slim = embs.select("vec_id", "embedding")
    val qs = slim.filter(F.col("vec_id") < 32)
    val k = 10
    val got = similarity.int8TopK(slim, qs, "vec_id", "embedding", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val truth = similarity.bruteForceTopK(slim, qs, "vec_id", "embedding", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val recall = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / k
    }.sum / truth.size
    info(f"int8 recall@$k vs exact cosine: $recall%.4f")
    // 8-bit affine quantization of 64-d embeddings loses very little:
    // the dequantized cosine tracks the exact one closely
    assert(recall >= 0.9, f"int8 recall collapsed: $recall%.4f")
    // hygiene: a NaN-bearing vector has no defined quantized range —
    // excluded from both sides, never a crash or a stolen rank
    val dirty = slim.unionByName(spark.sql(
      "SELECT 777777L AS vec_id, " +
        "array_repeat(CAST('NaN' AS FLOAT), 64) AS embedding"))
    val withDirty = similarity.int8TopK(dirty, qs.limit(2),
      "vec_id", "embedding", 3).collect()
    assert(withDirty.nonEmpty && withDirty.forall(_.getLong(1) != 777777L))
  }

  test("retrainPqIndex restores recall on a drifted corpus (before/after receipt)") {
    import graft.functions.index
    import org.apache.spark.sql.SaveMode
    // Day-1 corpus: clusters planted along dims {0,4,8,12} (the x131
    // planting discipline); day-2 append: NEW ids whose clusters live
    // on dims {32,36,40,44} — a genuinely drifted distribution. The
    // day-1 banks (buildPqIndex trains once; appends re-encode against
    // the STORED banks by contract) neither route nor code the new
    // mass well, so recall on day-2 queries decays; retrainPqIndex
    // re-derives both banks from the standing corpus and must win it
    // back. Real Lloyd training (ivfIters/pqIters > 0), portable seeds
    // for determinism of the assertion.
    def planted(idOffset: Long, axisBase: Int) =
      embs.select((F.col("vec_id") + idOffset).as("vec_id"),
        F.transform(F.col("embedding"), (x, i) =>
          x.cast(org.apache.spark.sql.types.DoubleType) + F.when(
            i === F.lit(axisBase) + F.pmod(F.col("vec_id"), F.lit(4L))
              .cast(org.apache.spark.sql.types.IntegerType) * 4,
            F.lit(10.0)).otherwise(F.lit(0.0))).as("v"))
    val day1 = planted(0L, 0)
    val day2 = planted(1000000L, 32)
    val full = day1.unionByName(day2)
    index.buildPqIndex(day1, "vec_id", "v", "rt_drift", nlist = 8,
      m = 8, ksub = 16, ivfIters = 2, pqIters = 3, sampleOneIn = 1L,
      portableSeed = true, residual = true)
    index.buildPqIndex(day2, "vec_id", "v", "rt_drift",
      mode = SaveMode.Append)
    // exact squared-L2 ground truth for 32 day-2 queries, driver-side
    val k = 10
    val vecs = full.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qIds = vecs.keys.filter(i => i >= 1000000L && i < 1000032L).toSeq
    val truth: Map[Long, Set[Long]] = qIds.map { q =>
      q -> vecs.filter(_._1 != q).toSeq.map { case (n, nv) =>
        (vecs(q).zip(nv).map { case (a, b) => (a - b) * (a - b) }.sum, n)
      }.sortBy(identity).take(k).map(_._2).toSet
    }.toMap
    val qs = full.filter(F.col("vec_id") >= 1000000L
      && F.col("vec_id") < 1000032L)
    def recall(): Double = {
      val got = index.probePqIndex(spark, qs, "vec_id", "v", "rt_drift",
          k = k, nprobe = 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / k
      }.sum / truth.size
    }
    val before = recall()
    // the WHEN-to-retrain signal (driftPqReport): before the retrain,
    // the day-2 mass coded against day-1 banks must push the stored
    // codes' reconstruction error well past the at-build baseline —
    // the truth-set-free counterpart of the recall drop this test
    // already measures
    def drift(): (Double, Double, Double) = {
      val r = index.driftPqReport(full, "vec_id", "v", "rt_drift")
        .filter(F.col("metric") === "recon_mean").head()
      (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    }
    val (dBefore, _, rBefore) = drift()
    info(f"recon_mean before retrain: $dBefore%.4f (ratio $rBefore%.3f)")
    assert(rBefore > 1.2,
      f"drifted appends must raise recon error past the baseline: $rBefore%.4f")
    index.retrainPqIndex(full, "vec_id", "v", "rt_drift",
      ivfIters = 2, pqIters = 3, sampleOneIn = 1L, portableSeed = true)
    // ...and after: fresh banks fit the live corpus, the baseline is
    // restamped from the same computation, so the error FALLS and the
    // ratio returns to exactly 1 (both sides are the one deterministic
    // number)
    val (dAfter, _, rAfter) = drift()
    info(f"recon_mean after retrain: $dAfter%.4f (ratio $rAfter%.3f)")
    assert(dAfter < dBefore,
      f"retrain must reduce reconstruction error: $dBefore%.4f → $dAfter%.4f")
    assert(math.abs(rAfter - 1.0) < 1e-9,
      f"a just-retrained index must sit exactly on its restamped baseline: $rAfter")
    val after = recall()
    info(f"recall@$k on drifted queries: before $before%.4f → after $after%.4f")
    assert(after > before,
      f"retrain must restore recall on the drifted mass: $before%.4f → $after%.4f")
  }

  test("driftPqReport refuses a duplicate-only vector source") {
    import graft.functions.index
    // the r14-verdict gate bug: a source that duplicates a live id but
    // misses NONE inflates matched and total equally, so the fused
    // matched == total check alone PASSES it while recon_mean/p95
    // silently double-count the duplicated id. The gate must compare
    // distinct covered ids too — red before the fix, green after.
    val base = embs.select(F.col("vec_id"), F.col("embedding"))
    index.buildPqIndex(base, "vec_id", "embedding", "dupgate_spec",
      nlist = 4, m = 4, ksub = 8, ivfIters = 0, pqIters = 0,
      sampleOneIn = 1L, portableSeed = true)
    // sanity: the exact-coverage source passes
    assert(index.driftPqReport(base, "vec_id", "embedding",
      "dupgate_spec").count() == 2L)
    val dupOnly = base.unionByName(base.limit(1))
    val e = intercept[IllegalArgumentException] {
      index.driftPqReport(dupOnly, "vec_id", "embedding", "dupgate_spec")
        .collect()
    }
    assert(e.getMessage.contains("exactly once"),
      s"dup-only source must fail the coverage gate: ${e.getMessage}")
    // …and a missing-id source still fails as before
    val missing = base.filter(F.col("vec_id") =!= base.head().getLong(0))
    val e2 = intercept[IllegalArgumentException] {
      index.driftPqReport(missing, "vec_id", "embedding", "dupgate_spec")
        .collect()
    }
    assert(e2.getMessage.contains("exactly once"))
  }

  test("Lloyd iterations refine codebooks deterministically") {
    val a = similarity.trainPqCodebooks(embs, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 3, portableSeed = true)
    val b = similarity.trainPqCodebooks(embs, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 3, portableSeed = true)
    assert(a.toSeq == b.toSeq, "training must be deterministic")
    // refined codebooks should quantize no worse than the raw seeds:
    // mean encoding distortion must not increase
    def distortion(cb: Array[Double]): Double = {
      val m = 4; val ksub = 8; val dsub = cb.length / (m * ksub)
      val vecs = embs.collect().map(r =>
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      vecs.map { x =>
        (0 until m).map { s =>
          (0 until ksub).map { c =>
            (0 until dsub).map { d =>
              val diff = x(s * dsub + d) - cb((s * ksub + c) * dsub + d)
              diff * diff
            }.sum
          }.min
        }.sum
      }.sum / vecs.length
    }
    val seeds = similarity.trainPqCodebooks(embs, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 0, portableSeed = true)
    assert(distortion(a) <= distortion(seeds) + 1e-12,
      s"Lloyd increased distortion: ${distortion(a)} vs ${distortion(seeds)}")
  }
}
