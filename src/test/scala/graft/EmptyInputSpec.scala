package graft

import org.apache.spark.sql.{functions => F, DataFrame}
import org.apache.spark.sql.types.DoubleType
import graft.functions._

/** Every extension operator must survive an EMPTY input — the routine
  * 100 TB condition (an empty shard, a date filter that drains a
  * partition, a new corpus with no rows yet) that driver-side
  * initialization (k-means seeding, BPE argmax, quantile cutoffs,
  * classifier training) is most likely to trip over. Contract asserted
  * here: empty in → empty out (or the natural zero/neutral scalar),
  * never a throw. Operators with a non-empty secondary input (queries,
  * benchmark, pairs) are exercised with EACH side empty. */
class EmptyInputSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val docsAll = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val embAll = spark.read.parquet(s"$dir/embeddings.parquet")
  private lazy val docs0 = docsAll.where(F.lit(false))
  private lazy val emb0 = embAll.where(F.lit(false))
  private lazy val docsSmall = docsAll.limit(20).cache()
  private lazy val embSmall = embAll.limit(20).cache()

  private def assertEmpty(df: DataFrame, what: String): Unit =
    assert(df.count() == 0L, s"$what: expected 0 rows from empty input")

  // ---------------- dedup ----------------

  test("exact/canonical/line/span dedup on an empty corpus") {
    assertEmpty(dedup.exactDuplicates(docs0, "doc_id", "text"), "exactDuplicates")
    assertEmpty(dedup.exactDuplicates(docs0, "doc_id", "text",
      canonicalize = true), "exactDuplicates canonical")
    assertEmpty(dedup.dedupLines(docs0, "doc_id", "text"), "dedupLines")
    assertEmpty(dedup.dedupSpans(docs0, "doc_id", "text", n = 4), "dedupSpans")
  }

  test("edit-distance pairs on empty, all-non-ASCII and capped-degenerate corpora") {
    import spark.implicits._
    assertEmpty(dedup.editDistancePairs(docs0, "doc_id", "text", maxDist = 3),
      "editDistancePairs empty")
    // a corpus whose every near-dup key normalizes to EMPTY (no
    // printable ASCII) must drop out of blocking, not pair everything
    val nonAscii = Seq((1L, "привет мир"), (2L, "привет мир"), (3L, "  "))
      .toDF("doc_id", "text")
    assertEmpty(dedup.editDistancePairs(nonAscii, "doc_id", "text", maxDist = 6),
      "editDistancePairs all-non-ASCII")
    // cap 1 on identical keys: no block retains two members → no pairs
    val same = Seq((1L, "same title"), (2L, "same title"), (3L, "same title"))
      .toDF("doc_id", "text")
    assertEmpty(dedup.editDistancePairs(same, "doc_id", "text", maxDist = 0,
      maxBlock = 1), "editDistancePairs cap=1")
  }

  test("minhash / jaccard-LSH / simhash pair generation on an empty corpus") {
    assertEmpty(dedup.minhashPairs(docs0, "doc_id", "text"), "minhashPairs")
    assertEmpty(dedup.jaccardPairsLsh(docs0, "doc_id", "text",
      maxBucket = 100), "jaccardPairsLsh capped")
    assertEmpty(dedup.simhashPairs(docs0, "doc_id", "text", maxDist = 3),
      "simhashPairs")
    assertEmpty(dedup.containmentPairs(docs0, "doc_id", "text"),
      "containmentPairs")
    dedup.unpersistAll()
  }

  test("cross-corpus dedup with either side empty") {
    assertEmpty(dedup.exactDuplicatesCross(docs0, docsSmall, "doc_id", "text"),
      "exactDuplicatesCross empty-new")
    assertEmpty(dedup.exactDuplicatesCross(docsSmall, docs0, "doc_id", "text"),
      "exactDuplicatesCross empty-ref")
    assertEmpty(dedup.jaccardPairsLshCross(docs0, docsSmall, "doc_id", "text"),
      "jaccardPairsLshCross empty-new")
    assertEmpty(dedup.jaccardPairsLshCross(docsSmall, docs0, "doc_id", "text"),
      "jaccardPairsLshCross empty-ref")
    dedup.unpersistAll()
  }

  test("connected components / keepCanonical / keepBest with empty pairs") {
    val pairs0 = spark.range(0).select(F.col("id").as("id_a"),
      F.col("id").as("id_b"))
    assertEmpty(dedup.connectedComponents(pairs0), "connectedComponents")
    // distributed loop forced: the empty edge set must converge in round 0
    assertEmpty(dedup.connectedComponents(pairs0, localEdgeThreshold = 0L),
      "connectedComponents distributed")
    // empty pairs over a real corpus: everything survives
    assert(dedup.keepCanonical(docsSmall, "doc_id", pairs0).count() ==
      docsSmall.count())
    assert(dedup.keepBest(docsSmall, "doc_id", pairs0,
      F.length(F.col("text"))).count() == docsSmall.count())
    // empty corpus with empty pairs
    assertEmpty(dedup.keepCanonical(docs0, "doc_id", pairs0),
      "keepCanonical empty corpus")
  }

  // ---------------- similarity / ANN ----------------

  test("brute-force and IVF top-k with either side empty") {
    assertEmpty(similarity.bruteForceTopK(emb0, embSmall, "vec_id", "embedding",
      k = 5), "bruteForceTopK empty corpus")
    assertEmpty(similarity.bruteForceTopK(embSmall, emb0, "vec_id", "embedding",
      k = 5), "bruteForceTopK empty queries")
    assertEmpty(similarity.ivfTopK(emb0, embSmall, "vec_id", "embedding",
      k = 5, nlist = 4, nprobe = 2, iters = 1), "ivfTopK empty corpus")
    assertEmpty(similarity.ivfTopK(embSmall, emb0, "vec_id", "embedding",
      k = 5, nlist = 4, nprobe = 2, iters = 1), "ivfTopK empty queries")
  }

  test("k-means family on an empty corpus") {
    assert(similarity.trainIvfCentroids(emb0, "vec_id", "embedding",
      nlist = 4, iters = 2).isEmpty, "trainIvfCentroids: expected empty bank")
    assertEmpty(similarity.clusterEmbeddings(emb0, "vec_id", "embedding",
      nlist = 4, iters = 1), "clusterEmbeddings")
    assertEmpty(similarity.clusterBalancedSample(emb0, "vec_id", "embedding",
      nlist = 4, alpha = 0.5, targetRows = 10, iters = 1),
      "clusterBalancedSample")
    assertEmpty(similarity.semanticDedup(emb0, "vec_id", "embedding",
      nlist = 4, minCos = 0.9, iters = 1), "semanticDedup")
  }

  test("cosine pairs and hard negatives on empty input") {
    val bucketed0 = emb0.withColumn("b", F.lit(0))
    assertEmpty(similarity.cosinePairs(bucketed0, "vec_id", "embedding", "b",
      minCos = 0.8), "cosinePairs")
    val lab0 = emb0.withColumn("lab", F.lit("x"))
    val labQ = embSmall.withColumn("lab", F.lit("x"))
    assertEmpty(similarity.hardNegatives(lab0, labQ, "vec_id", "embedding",
      "lab", k = 3), "hardNegatives empty corpus")
    assertEmpty(similarity.hardNegatives(labQ, lab0, "vec_id", "embedding",
      "lab", k = 3), "hardNegatives empty queries")
  }

  // ---------------- retrieval ----------------

  test("bm25 and hybrid fusion with either side empty") {
    val q = docsSmall.limit(2).select(F.col("doc_id").as("q_id"),
      F.col("text").as("q_text"))
    val q0 = q.where(F.lit(false))
    assertEmpty(retrieval.bm25TopK(docs0, "doc_id", "text", q, "q_id", "q_text",
      k = 5), "bm25TopK empty corpus")
    assertEmpty(retrieval.bm25TopK(docsSmall, "doc_id", "text", q0, "q_id",
      "q_text", k = 5), "bm25TopK empty queries")
    val arm = retrieval.bm25TopK(docsSmall, "doc_id", "text", q, "q_id",
      "q_text", k = 5).select(F.col("q_id"), F.col("n_id"), F.col("rank"))
    val arm0 = arm.where(F.lit(false))
    assertEmpty(retrieval.rrfFuse(Seq(arm0, arm0), k = 5), "rrfFuse both empty")
    assert(retrieval.rrfFuse(Seq(arm, arm0), k = 5).count() > 0,
      "rrfFuse one live arm")
  }

  // ---------------- contamination ----------------

  test("decontamination with either side empty") {
    assertEmpty(contamination.decontaminate(docs0, "doc_id", "text",
      docsSmall, "text"), "decontaminate empty train")
    assert(contamination.decontaminate(docsSmall, "doc_id", "text",
      docs0, "text").count() == docsSmall.count(),
      "decontaminate empty bench keeps everything")
    assertEmpty(contamination.decontaminateBloom(docs0, "doc_id", "text",
      docsSmall, "text"), "decontaminateBloom empty train")
    assert(contamination.decontaminateBloom(docsSmall, "doc_id", "text",
      docs0, "text").count() == docsSmall.count(),
      "decontaminateBloom empty bench keeps everything")
    assertEmpty(contamination.semanticDecontaminate(emb0, "vec_id", "embedding",
      embSmall, "embedding", minCos = 0.9), "semanticDecontaminate empty train")
    assert(contamination.semanticDecontaminate(embSmall, "vec_id", "embedding",
      emb0, "embedding", minCos = 0.9).count() == embSmall.count(),
      "semanticDecontaminate empty bench keeps everything")
  }

  test("overlapStatsBloom treats NULL-text train rows the same with an " +
      "empty and a non-empty benchmark") {
    // a corpus where some texts are NULL: the normal (bloom-built) path
    // silently drops them (null fingerprints fail both suspect
    // filters); the empty-benchmark fallback must agree, not resurrect
    // them with null n_shingles
    val nulled = docsSmall.withColumn("text",
      F.when(F.col("doc_id") % 3 === 0, F.lit(null)).otherwise(F.col("text")))
    val nNonNull = nulled.filter(F.col("text").isNotNull).count()
    assert(nulled.count() > nNonNull, "fixture must contain NULL texts")
    val vsEmpty = contamination.overlapStatsBloom(nulled, "doc_id", "text",
      docs0, "text")
    val vsLive = contamination.overlapStatsBloom(nulled, "doc_id", "text",
      docsSmall.limit(3), "text")
    assert(vsEmpty.count() == nNonNull,
      "empty-bench path must drop NULL-text rows")
    assert(vsLive.count() == nNonNull,
      "bloom path must drop NULL-text rows")
    val idsEmpty = vsEmpty.select("doc_id").collect().map(_.getLong(0)).sorted
    val idsLive = vsLive.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(idsEmpty.sameElements(idsLive),
      "both paths must emit the same train-row set for the same corpus")
    assert(vsEmpty.filter(F.col("n_shingles").isNull).count() == 0L,
      "no null n_shingles may escape the fallback")
  }

  // ---------------- quality ----------------

  test("quality scoring, quantile bands and classifier training on empty input") {
    assertEmpty(docs0.select(text.qualityScore(F.col("text"))), "qualityScore")
    assertEmpty(quality.quantileBandFilter(
      docs0.withColumn("s", F.length(F.col("text")).cast(DoubleType)),
      "s", 0.1, 0.9), "quantileBandFilter")
    assertEmpty(quality.quantileBandFilterGrouped(
      docs0.withColumn("s", F.length(F.col("text")).cast(DoubleType)),
      "s", "lang", 0.1, 0.9), "quantileBandFilterGrouped")
    val (w, b) = quality.trainHashedClassifier(docs0, "text",
      F.lit(true), dim = 64, iters = 1)
    assert(w.forall(_ == 0.0) && b == 0.0,
      "trainHashedClassifier: empty input must train the zero model")
  }

  // ---------------- sampling / mixing ----------------

  test("sampling and mixing operators on an empty corpus") {
    assertEmpty(sampling.hashSample(docs0, "doc_id", permille = 500), "hashSample")
    assertEmpty(sampling.deterministicSample(docs0, "doc_id", n = 10),
      "deterministicSample")
    assertEmpty(sampling.temperatureSample(docs0, "doc_id", "lang",
      alpha = 0.5, targetRows = 10), "temperatureSample")
    assertEmpty(sampling.tokenBudgetSample(docs0, "doc_id", "text", "lang",
      Map.empty, defaultBudget = 100L), "tokenBudgetSample")
    assertEmpty(sampling.groupCapSample(docs0, "doc_id", "lang", cap = 5),
      "groupCapSample")
    assertEmpty(sampling.splitByGroup(docs0, "lang",
      Seq(("train", 9000), ("test", 1000))), "splitByGroup")
    assertEmpty(sampling.epochExpand(docs0, "doc_id", "lang",
      Map("en" -> 2.5)), "epochExpand")
    assertEmpty(sampling.shardAssign(docs0, "doc_id", nShards = 8),
      "shardAssign")
    assertEmpty(sampling.weightedSample(docs0, "doc_id", "n_chars", 10),
      "weightedSample")
    assertEmpty(sampling.weightedSampleByGroup(docs0, "doc_id", "n_chars",
      "source", 10), "weightedSampleByGroup")
    // quota path exercises the masses aggregate, the Hamilton windows
    // and the broadcast join on zero groups — all must degrade to empty
    assertEmpty(sampling.weightedSampleQuota(docs0, "doc_id", "n_chars",
      "source", 10), "weightedSampleQuota")
    // all-ineligible (weights null/non-positive) is the same contract
    assertEmpty(sampling.weightedSampleQuota(
      docsAll.withColumn("n_chars", F.lit(0L)), "doc_id", "n_chars",
      "source", 10), "weightedSampleQuota all-ineligible")
  }

  test("quota sampling pathological shapes: one group, quota-zero strata, total=1") {
    import spark.implicits._
    // one group: the whole total lands on it
    val one = Seq((1L, "g", 5L), (2L, "g", 7L), (3L, "g", 9L))
      .toDF("id", "grp", "w")
    assert(sampling.weightedSampleQuota(one, "id", "w", "grp", 2).count() == 2)
    // total = 1 with many groups: exactly one group (largest remainder,
    // ties by name) contributes the single row
    val many = (1 to 12).map(i => (i.toLong, s"g${i % 4}", 10L))
      .toDF("id", "grp", "w")
    val got = sampling.weightedSampleQuota(many, "id", "w", "grp", 1)
    assert(got.count() == 1)
    // equal masses -> equal remainders -> the tie goes to the smallest
    // group name, deterministically
    assert(got.select("grp").head().getString(0) == "g0")
    // a stratum with negligible mass gets quota 0 and vanishes
    val skew = (Seq((1L, "heavy", 1000000L), (2L, "heavy", 1000000L)) ++
      Seq((3L, "light", 1L))).toDF("id", "grp", "w")
    val sk = sampling.weightedSampleQuota(skew, "id", "w", "grp", 2)
    assert(sk.select("grp").collect().map(_.getString(0)).toSeq ==
      Seq("heavy", "heavy"))
  }

  // ---------------- joins ----------------

  test("as-of / range / overlap joins with either side empty") {
    val ev = spark.range(5).select(F.col("id"), (F.col("id") * 10).as("ts"))
    val ev0 = ev.where(F.lit(false))
    val iv = spark.range(3).select(F.col("id").as("iid"),
      (F.col("id") * 10).as("lo"), (F.col("id") * 10 + 5).as("hi"))
    val iv0 = iv.where(F.lit(false))
    val r = spark.range(4).select(F.col("id").as("rid"),
      (F.col("id") * 7).as("rts"), F.lit(1.0).as("v"))
    val r0 = r.where(F.lit(false))
    assertEmpty(joins.asofBackward(ev0, r, "ts", "rts", Nil, Seq("v")),
      "asofBackward empty left")
    assert(joins.asofBackward(ev, r0, "ts", "rts", Nil, Seq("v")).count() ==
      ev.count(), "asofBackward empty right keeps left rows")
    assertEmpty(joins.rangeJoin(ev0, iv, "ts", "lo", "hi", binWidth = 10),
      "rangeJoin empty points")
    assertEmpty(joins.rangeJoin(ev, iv0, "ts", "lo", "hi", binWidth = 10),
      "rangeJoin empty intervals")
    assertEmpty(joins.overlapJoin(iv0, iv, "lo", "hi", "lo", "hi",
      binWidth = 10), "overlapJoin empty left")
  }

  // ---------------- text / BPE / layout / profile / pipeline ----------------

  test("text statistics and language models on an empty corpus") {
    assertEmpty(text.topNgrams(docs0, "text", n = 3, k = 10), "topNgrams")
    assertEmpty(text.unigramNll(docs0, "doc_id", "text"), "unigramNll")
    assertEmpty(text.bigramNll(docs0, "doc_id", "text"), "bigramNll")
    assertEmpty(docs0.select(text.languageId(F.col("text"))), "languageId")
  }

  test("BPE training on an empty corpus returns no merges") {
    assert(bpe.trainMerges(docs0, "text", numMerges = 4).isEmpty,
      "trainMerges local path")
    assert(bpe.trainMerges(docs0, "text", numMerges = 4,
      distributedLoop = true).isEmpty, "trainMerges distributed path")
  }

  test("snapshotDiff with each side empty, leakage splits and co-located join on empty") {
    val oldS = docsSmall.select("doc_id", "text")
    val new0 = docs0.select("doc_id", "text")
    // empty new snapshot: everything is `removed`; empty old: `added`
    val allRemoved = layout.snapshotDiff(oldS, new0, "doc_id", Seq("text"))
    assert(allRemoved.count() == 20 &&
      allRemoved.where(F.col("change") =!= "removed").count() == 0,
      "snapshotDiff empty-new must classify every old row removed")
    val allAdded = layout.snapshotDiff(new0, oldS, "doc_id", Seq("text"))
    assert(allAdded.count() == 20 &&
      allAdded.where(F.col("change") =!= "added").count() == 0,
      "snapshotDiff empty-old must classify every new row added")
    assertEmpty(layout.snapshotDiff(new0, new0, "doc_id", Seq("text")),
      "snapshotDiff both empty")
    assertEmpty(sampling.leakageSafeSplits(docs0, "doc_id", "text",
      Seq("train" -> 9000, "test" -> 1000)), "leakageSafeSplits")
    dedup.unpersistAll()
  }

  test("IVF index probe with an empty query batch (the streaming ANN empty micro-batch)") {
    graft.functions.index.buildIvfIndex(embSmall, "vec_id", "embedding",
      "graft_empty_ivf", nlist = 4, iters = 1)
    assertEmpty(graft.functions.index.probeIvfIndex(spark,
      emb0, "vec_id", "embedding", "graft_empty_ivf", k = 3, nprobe = 4),
      "probeIvfIndex empty batch")
    spark.sql(s"DROP TABLE IF EXISTS ${live("graft_empty_ivf", "cells")}")
    spark.sql(s"DROP TABLE IF EXISTS ${live("graft_empty_ivf", "centroids")}")
  }

  test("layout, profile and the curation composite on an empty corpus") {
    assertEmpty(layout.zorderBy(docs0.withColumn("a", F.lit(1L))
      .withColumn("b", F.lit(2L)), Seq("a", "b")), "zorderBy")
    // columnProfile on empty input: one row of zero counts, not a throw
    val prof = profile.columnProfile(docs0, Seq("doc_id", "text"))
    assert(prof.count() >= 0, "columnProfile")
    assertEmpty(pipelines.curateDocuments(docs0), "curateDocuments")
    assertEmpty(pipelines.curationAudit(docs0), "curationAudit")
    dedup.unpersistAll()
  }

  test("index lifecycle maintenance on empty / missing state") {
    import spark.implicits._
    // compaction ops on a name with NO tables at all: clean no-ops
    index.compactTakedowns(spark, "ei_absent")
    index.compactIndex(spark, "ei_absent")
    // an empty deferTakedown batch must not perturb probes or state
    index.buildExactIndex(docsSmall, "doc_id", "text", "ei_def",
      buckets = 4)
    index.deferTakedown(docs0.select("doc_id"), "doc_id", "ei_def")
    val hits = index.probeExactIndex(spark, docsSmall, "doc_id", "text",
      "ei_def")
    assert(hits.count() == 20L, "empty pending set must not drop matches")
    // compacting an empty pending set: no-op, probes unchanged
    index.compactTakedowns(spark, "ei_def")
    assert(spark.table(live("ei_def", "fps")).count() == 20L)
    // compactIndex on a single-generation index: reads unchanged
    index.compactIndex(spark, "ei_def")
    assert(index.probeExactIndex(spark, docsSmall, "doc_id", "text",
      "ei_def").count() == 20L)
    // the audit on a corpus where EVERY stage passes or drops cleanly:
    // one row per input doc, dropped_at total-covers the input
    val audit = pipelines.curationAudit(docsSmall, samplePermille = 9000)
    assert(audit.count() == 20L, "audit must cover every input row")
    assert(audit.filter(F.col("dropped_at").isNull).count() == 0L,
      "dropped_at must be total")
    dedup.unpersistAll()
  }
}
