package graft

import org.apache.spark.sql.{functions => F}
import graft.functions.{dedup, similarity}

/** Opt-in scale smoke (set GRAFT_SCALE_SMOKE=1): synthetic corpora far
  * above the fixture sizes, exercising the paths whose SHAPE matters at
  * 100 TB — a boilerplate mega-cluster that only completes because the
  * hot-bucket cap bounds per-task pair generation, and IVF ANN over a
  * corpus that would be infeasible to scan per-query. Assertions are on
  * completion + structural properties, not timings. */
class ScaleSmokeSpec extends SparkSpec {
  private val on = sys.env.get("GRAFT_SCALE_SMOKE").contains("1")

  test("capped LSH dedup survives a 20k-copy boilerplate cluster in a 300k corpus") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import spark.implicits._
    // 280k distinct docs (8 words drawn from the id) + 20k exact copies
    // of one boilerplate doc: the boilerplate band buckets hold 20k rows,
    // so the uncapped plan would generate 20k²/2 = 200M pairs per band —
    // the cap bounds it to ~20k·cap/2 per band and keeps going.
    val distinctDocs = spark.range(0, 280000).select(
      F.col("id").as("doc_id"),
      F.concat_ws(" ", (0 until 8).map(i =>
        F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("id") + i), F.lit(50000)))): _*).as("text"))
    val boiler = spark.range(280000, 300000).select(
      F.col("id").as("doc_id"),
      F.lit("terms of service apply to all content on this site").as("text"))
    val corpus = distinctDocs.unionByName(boiler)
    // AQE off so join-node SQLMetrics are readable on the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pairs = dedup.jaccardPairsLsh(corpus, "doc_id", "text",
        k = 3, numPerm = 32, bands = 16, minJ = 0.9, maxBucket = 100)
      val n = pairs.queryExecution.toRdd.count() // execute THIS plan instance
      // every surviving pair is within the boilerplate cluster (distinct
      // docs share ~no 3-shingles at J ≥ 0.9), and the cap keeps each
      // row's candidate fan-out ~cap per band instead of cluster-sized
      assert(n > 0, "boilerplate cluster must produce near-dup pairs")
      // the cap's own receipt, on the executed plan's SQLMetrics: the
      // 20k-row boilerplate bucket splits into ~200 ring-chained
      // sub-buckets of ~cap, so bucket-local pairing emits
      // ~200·(cap+1)²/2 ≈ 1M rows per band ≈ 16M total — the UNCAPPED
      // self-join would emit 16 bands × 20k²/2 = 3.2e9 from the
      // boilerplate bucket alone. Sum across every join in the plan
      // (candidate self-join + the two verification joins, each ≤ the
      // pair count) and assert the linear regime.
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
      val joinOut = pairs.queryExecution.executedPlan.collect {
        case j: SortMergeJoinExec => j.metrics("numOutputRows").value
        case j: ShuffledHashJoinExec => j.metrics("numOutputRows").value
        case j: BroadcastHashJoinExec => j.metrics("numOutputRows").value
      }.sum
      assert(joinOut > 0L, "expected join metrics on the executed plan")
      assert(joinOut < 100000000L,
        s"capped candidate generation emitted $joinOut join rows — the " +
          "uncapped boilerplate bucket alone would emit 3.2e9")
      val ids = pairs.agg(F.min("id_a"), F.max("id_b")).head()
      assert(ids.getLong(0) >= 280000L && ids.getLong(1) < 300000L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("asofBackward ships each row exactly once through one shuffle") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.functions.joins
    // The claim behind the union+window as-of plan (joins.scala:24):
    // tag, union, ONE shuffle+sort on the by-key, linear carry — so the
    // exchange writes exactly |L| + |R| records, corpus-linear, with no
    // range explosion. A range-join formulation's shuffle grows with
    // key density (candidate pairs), not corpus size. 1M left rows ×
    // 1000 keys, 200k right quotes at every 5th tick.
    val nL = 1000000L; val nR = 200000L
    // long / int is a DOUBLE divide in Spark — floor back to the tick
    val tick = F.floor(F.col("id") / 1000).cast("long")
    val left = spark.range(0, nL).select(
      (F.col("id") % 1000).as("key"), tick.as("lts"))
    val right = spark.range(0, nR).select(
      (F.col("id") % 1000).as("key"),
      (tick * 5).as("rts"), (tick * 5).as("rv"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = joins.asofBackward(left, right, "lts", "rts",
        by = Seq("key"), rightVals = Seq("rv"))
      assert(out.queryExecution.toRdd.count() == nL) // left-join: every left row
      val exchanges = out.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s.metrics("shuffleRecordsWritten").value
      }
      assert(exchanges.length == 1,
        s"as-of must plan exactly ONE shuffle, found ${exchanges.length}")
      assert(exchanges.head == nL + nR,
        s"as-of shuffled ${exchanges.head} records — expected |L|+|R| = ${nL + nR}")
      // value correctness on the planted design: the latest quote at or
      // before lts is the greatest multiple of 5 ≤ lts, for every row
      val bad = out.filter(F.col("rv") =!= F.col("lts") - F.col("lts") % 5).count()
      assert(bad == 0L, s"$bad rows carried the wrong as-of value")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("rangeJoin meets each qualifying pair in one bin with a corpus-linear shuffle") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.functions.joins
    // The claim behind binning (joins.scala:66): the quadratic
    // point-in-interval cross join becomes an equi-join on the bin —
    // each point shuffles ONCE, each interval once per covered bin
    // (here: exactly one), so the exchanges carry |P| + |I| records
    // where the cross join's candidate grid is |P|×|I| = 1e11.
    val nP = 1000000L; val nI = 100000L
    val points = spark.range(0, nP).select(F.col("id").as("pid"),
      F.pmod(F.col("id") * 97, F.lit(nI * 1000)).as("ts"))
    val intervals = spark.range(0, nI).select(F.col("id").as("iid"),
      (F.col("id") * 1000).as("lo"), (F.col("id") * 1000 + 999).as("hi"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force the shuffled-join posture (the 100 TB shape): a broadcast
    // election at smoke scale would hide the bound being proven
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = joins.rangeJoin(points, intervals, "ts", "lo", "hi",
        binWidth = 1000L)
      // bins tile the axis and every point's bin holds exactly one
      // interval ⇒ every point matches exactly once
      assert(out.queryExecution.toRdd.count() == nP)
      val shuffled = out.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s.metrics("shuffleRecordsWritten").value
      }
      assert(shuffled.length == 2, s"expected the two equi-join exchanges, found ${shuffled.length}")
      assert(shuffled.sum == nP + nI,
        s"range join shuffled ${shuffled.sum} records — expected |P|+|I| = ${nP + nI} " +
          "(each interval spans exactly one bin here)")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("overlapJoin emits every overlapping pair exactly once without a dedup shuffle") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.functions.joins
    import spark.implicits._
    // Exactly-once by construction (joins.scala:98): a pair overlapping
    // in many shared bins is kept only in the bin containing
    // max(a.lo, b.lo) — no `distinct`, so the plan's only exchanges are
    // the two equi-join sides at (bins per interval) × rows. Left
    // interval i = [100i, 100i+99], right i = [100i+50, 100i+149]:
    // right i overlaps left i AND left i+1 ⇒ exactly 2n−1 pairs.
    val n = 200000L
    val left = spark.range(0, n).select(F.col("id").as("lid"),
      (F.col("id") * 100).as("llo"), (F.col("id") * 100 + 99).as("lhi"))
    val right = spark.range(0, n).select(F.col("id").as("rid"),
      (F.col("id") * 100 + 50).as("rlo"), (F.col("id") * 100 + 149).as("rhi"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = joins.overlapJoin(left, right, "llo", "lhi", "rlo", "rhi",
        binWidth = 100L)
      assert(out.queryExecution.toRdd.count() == 2 * n - 1,
        "each right interval overlaps exactly two left intervals (one at the edge)")
      val shuffled = out.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s.metrics("shuffleRecordsWritten").value
      }
      // left intervals span 1 bin, right intervals 2 ⇒ |L| + 2|R|
      assert(shuffled.length == 2, s"expected the two equi-join exchanges, found ${shuffled.length}")
      assert(shuffled.sum == n + 2 * n,
        s"overlap join shuffled ${shuffled.sum} records — expected |L|+2|R| = ${3 * n}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("connected components resolve a 1M-node path plus 100k cliques in log rounds") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    // worst case for min-propagation (a single 1M-hop path needs 1M
    // rounds there) and the exact shape ring-chained salting emits;
    // star contraction must close it within the maxIter=64 bound,
    // alongside 100k disjoint 5-cliques resolving to their minima
    val path = spark.range(0, 999999)
      .select(F.col("id").as("id_a"), (F.col("id") + 1).as("id_b"))
    val grp = F.floor(F.col("id") / 4) // long / int is a DOUBLE divide in Spark
    val cliques = spark.range(0, 400000).select(
      (F.lit(2000000L) + grp * 5 + 1 + F.pmod(F.col("id"), F.lit(4)))
        .cast("long").as("id_a"),
      (F.lit(2000000L) + grp * 5).cast("long").as("id_b"))
    // the 1.4M-edge set fits the driver-local union-find threshold, but
    // the star loop's log-round bound is what this smoke exists to prove
    val comp = graft.functions.dedup.connectedComponents(
      path.unionByName(cliques), localEdgeThreshold = 0L)
    val agg = comp.agg(
      F.count(F.lit(1)), F.countDistinct("component"),
      F.sum(F.when(F.col("component") === 0L, 1L).otherwise(0L))).head()
    assert(agg.getLong(0) == 1000000L + 500000L)
    assert(agg.getLong(1) == 1L + 100000L)
    assert(agg.getLong(2) == 1000000L) // the whole path maps to node 0
  }

  test("curation composite runs end-to-end on a 100k corpus with a benchmark set") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    val pins0 = pinned
    import graft.functions.pipelines
    // 100k docs: 80k unique (10 random words each from a 30k vocab — a
    // SHARED template prefix is deliberately absent: prefix shingles make
    // the near-dup graph percolate into giant components and mass-delete,
    // the known over-deletion failure of aggressive LSH thresholds on
    // templated text), 10k exact copies of one doc, 10k near-dups of the
    // first 10k; benchmark = the exact text of docs 0..499
    // hash (id, i) as a PAIR: `xxhash64(id + i)` would make every doc a
    // sliding window onto one global word sequence — adjacent ids then
    // share 9 of 10 tokens and the whole corpus chains into one
    // component
    def words(c: org.apache.spark.sql.Column) =
      F.concat_ws(" ", (0 until 10).map(i =>
        F.concat(F.lit("w"), F.pmod(F.xxhash64(c, F.lit(i)), F.lit(30000)))): _*)
    val base = spark.range(0, 80000).select(
      F.col("id").as("doc_id"), words(F.col("id")).as("text"))
    val copies = spark.range(0, 10000).select(
      (F.col("id") + 100000L).as("doc_id"),
      F.lit("terms and conditions apply to all content here now").as("text"))
    val nears = spark.range(0, 10000).select(
      (F.col("id") + 200000L).as("doc_id"),
      F.concat(words(F.col("id")), F.lit(" extra")).as("text"))
    val corpus = base.unionByName(copies).unionByName(nears)
    val bench = spark.range(0, 500).select(words(F.col("id")).as("text"))
    val (n, cgErrors) = codegenErrorsDuring {
      val curated = pipelines.curateDocuments(corpus,
        minQuality = 0.0, langs = Seq("en"), nearDupThreshold = 0.7,
        bench = Some(bench), benchNgram = 8)
      curated.count()
    }
    // the flagship pipeline must never silently fall back to interpreted
    // execution: the cache boundary after the quality/language stage
    // keeps every generated method under Janino's 64 KB limit
    assert(cgErrors.isEmpty, s"codegen errors during composite: $cgErrors")
    // 10k exact copies collapse to 1, each near-dup loses to its base
    // (component minimum), and the ~500 bench-overlapping docs drop
    assert(n > 78000 && n < 80500, s"curated count out of range: $n")
    // signature/CC caches auto-release from a bus listener
    val left = newPinned(pins0)
    assert(left.isEmpty, s"caches still pinned after curation: $left")
  }

  test("IVF ANN answers 100 queries against a 200k-vector corpus via cell probing") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    val pins0 = pinned
    // deterministic pseudo-random 16-dim vectors from the id
    val vecs = spark.range(0, 200000).select(
      F.col("id").as("vec_id"),
      F.array((0 until 16).map(i =>
        (F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(2000)) - 1000)
          .cast("double") / 1000.0): _*).as("embedding"))
    val out = similarity.ivfTopK(vecs, vecs.filter(F.col("vec_id") < 100),
      "vec_id", "embedding", k = 10, nlist = 64, nprobe = 4, iters = 3,
      sampleOneIn = 20)
    assert(out.count() == 100L * 10)
    assert((pinned -- pins0).isEmpty)
  }

  test("groupCapSample caps a 1M-row mega-domain without a domain-wide sort task") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import spark.implicits._
    // one domain holds 1M of 1.2M rows: a per-group row_number window
    // would rank all 1M in ONE task; the two-pass scheme ranks within
    // ~10000-row buckets only. Exactness: kept set == the window oracle.
    val df = spark.range(0, 1200000).select(F.col("id"),
      F.when(F.col("id") < 1000000L, "mega").otherwise(
        F.concat(F.lit("d"), F.pmod(F.col("id"), F.lit(1000)))).as("grp"))
    val kept = graft.functions.sampling.groupCapSample(df, "id", "grp", cap = 500L)
    val byGrp = kept.groupBy("grp").agg(F.count(F.lit(1)).as("n"))
    val mx = byGrp.agg(F.max("n"), F.count(F.lit(1))).head()
    assert(mx.getLong(0) <= 500L)
    assert(kept.filter(F.col("grp") === "mega").count() == 500L)
  }

  test("stream-stream interval join holds state O(horizon), not O(stream), over 20 batches") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.Streams
    // The eviction contract at scale: 200k events delivered in 20
    // chronological micro-batches (maxFilesPerTrigger=1), event time
    // advancing 1 s/event — ~55 h of stream against a 30-min join
    // horizon + 10-min watermark. If eviction works, the join buffers
    // hold only the rows inside the watermark-lagged horizon
    // (~2400/side + the in-flight batch); if it does not, state grows
    // to O(200k) by the last batch. Assert the per-batch max, read from
    // the query's own progress metrics.
    val dir = java.nio.file.Files.createTempDirectory("graft_ijoin_scale").toString
    val t0 = 1704067200000L
    val perFile = 10000L; val files = 20
    (0 until files).foreach { f =>
      spark.range(f * perFile, (f + 1) * perFile).select(
        F.col("id").as("event_id"),
        F.timestamp_millis(F.lit(t0) + F.col("id") * 1000L).as("ts"),
        F.pmod(F.col("id"), F.lit(500)).as("user_id"),
        F.when(F.col("id") % 2 === 0, "view").otherwise("click").as("event_type"),
        F.lit(1.0).as("value"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    def side(tpe: String) = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .where(F.col("event_type") === tpe)
    val joined = Streams
      .intervalJoinStreams(side("view"), side("click"), "user_id",
        horizon = "30 minutes", watermark = "10 minutes")
      .select(F.col("l.event_id").as("vid"), F.col("r.event_id").as("cid"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ijoin_scale").start()
    q.processAllAvailable(); q.stop()
    val stateMax = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsTotal)).max
    // horizon+watermark ≈ 40 min ≈ 2400 events/side; the two in-flight
    // 10k batches (one per source) enter state before eviction runs, so
    // bound by 2 batches + horizon with slack — far below O(stream)
    val bound = 2 * perFile + 4 * 2400L
    assert(stateMax <= bound,
      s"join state grew to $stateMax rows (bound $bound) — eviction broken")
    assert(stateMax > 0, "no state observed — the join never buffered")
    // and the output is the exact batch answer (DuckDB-free replay):
    // every view pairs with the clicks of the same user in the next
    // 30 min — count it relationally on the same data
    val ev = spark.read.parquet(dir)
    val expected = ev.where($"event_type" === "view").as("l")
      .join(ev.where($"event_type" === "click").as("r"),
        $"l.user_id" === $"r.user_id" &&
          $"r.ts" >= $"l.ts" && $"r.ts" <= $"l.ts" + F.expr("INTERVAL 30 minutes"))
      .count()
    val got = spark.table("ijoin_scale").count()
    // chronological single-file batches never drop a MATCHED pair: a
    // click joins views ≤ 30 min older, all still inside the 40-min
    // watermark+horizon envelope when it arrives
    assert(got == expected, s"stream emitted $got pairs, batch answer $expected")
  }

  test("editDistancePairs caps a 100k-copy hot block to cap-bounded join inputs") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // The claim behind the maxBlock cap (dedup.scala editDistancePairs):
    // a degenerate corpus — here 100k identical copies of each of two
    // titles — would put 100k keys in ONE block and the self-join would
    // emit C(100k,2) ≈ 5e9 pairs per block. The cap bounds that to
    // blocks×C(cap,2) — and the PLAN is even better than the operator
    // promises: the row_number cap compiles to WindowGroupLimit with a
    // PARTIAL phase before the exchange, so every map partition keeps
    // ≤ cap rows per block and the corpus is NEVER fully shuffled
    // (≤ parts×blocks×cap records, not 2n); the join then REUSES that
    // one exchange for its other side. Metrics-proven.
    val n = 100000L; val cap = 500
    val df = spark.range(0, 2 * n).select(F.col("id").as("doc_id"),
      F.when(F.col("id") < n, "alpha alpha alpha alpha alpha alpha")
        .otherwise("bravo bravo bravo bravo bravo bravo").as("text"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = graft.functions.dedup.editDistancePairs(
        df, "doc_id", "text", maxDist = 6, maxBlock = cap)
      val expected = 2L * (cap.toLong * (cap - 1) / 2)
      assert(out.queryExecution.toRdd.count() == expected)
      val parts = df.rdd.getNumPartitions
      val exchanges = out.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s.metrics("shuffleRecordsWritten").value
      }
      assert(exchanges.length == 1,
        s"expected ONE shuffle (cap window, reused by the join): $exchanges")
      assert(exchanges.head <= parts.toLong * 2 * cap,
        s"partial WindowGroupLimit must cap map-side: ${exchanges.head} " +
          s"records shuffled, bound ${parts * 2 * cap}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("containmentPairs finds 50k planted quotes in a 200k corpus under the hot-shingle cap") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    val pins0 = pinned
    // 100k unique 10-word docs, a 5-word quote of each of the first 50k,
    // and 50k copies of one boilerplate text whose shingles are
    // corpus-hot: with maxPosting = 1000 the boilerplate block (50k²
    // candidate pairs) must be dropped from candidate generation while
    // every quote still resolves to its source exactly
    def words(c: org.apache.spark.sql.Column, n: Int) =
      F.concat_ws(" ", (0 until n).map(i =>
        F.concat(F.lit("w"), F.pmod(F.xxhash64(c, F.lit(i)), F.lit(30000)))): _*)
    val base = spark.range(0, 100000).select(
      F.col("id").as("doc_id"), words(F.col("id"), 10).as("text"))
    val quotes = spark.range(0, 50000).select(
      (F.col("id") + 1000000L).as("doc_id"), words(F.col("id"), 5).as("text"))
    val boiler = spark.range(0, 50000).select(
      (F.col("id") + 2000000L).as("doc_id"),
      F.lit("terms and conditions apply to all content here").as("text"))
    val corpus = base.unionByName(quotes).unionByName(boiler)
    val pairs = dedup.containmentPairs(corpus, "doc_id", "text",
      k = 3, sketch = 8, minC = 0.9, maxPosting = 1000)
    val agg = pairs.agg(
      F.sum(F.when(F.col("id_a") >= 1000000L && F.col("id_a") < 2000000L
        && F.col("id_b") === F.col("id_a") - 1000000L, 1L).otherwise(0L)),
      F.sum(F.when(F.col("id_a") >= 2000000L, 1L).otherwise(0L))).head()
    assert(agg.getLong(0) == 50000L, s"quote→source pairs: ${agg.getLong(0)}")
    assert(agg.getLong(1) == 0L, s"boilerplate pairs leaked: ${agg.getLong(1)}")
    assert(newPinned(pins0).isEmpty)
  }

  test("dedupLines collapses a boilerplate line shared by 200k documents") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import spark.implicits._
    // every doc carries the same second line: keeper aggregation must
    // combine map-side (one row per partition pre-shuffle), never window
    // over the 200k-occurrence line in one task
    val df = spark.range(0, 200000).select(F.col("id").as("doc_id"),
      F.concat(F.lit("unique line "), F.col("id").cast("string"),
        F.lit("\nall rights reserved")).as("text"))
    val out = dedup.dedupLines(df, "doc_id", "text")
    val agg = out.agg(F.count(F.lit(1)),
      F.sum(F.when(F.col("n_lines") === 2L, 1L).otherwise(0L))).head()
    assert(agg.getLong(0) == 200000L) // no doc fully emptied
    assert(agg.getLong(1) == 1L)      // exactly one keeps the boilerplate
  }

  test("dedupSpans cuts a 6-token run planted in 200k documents exactly once") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import spark.implicits._
    // every doc = 6 unique tokens + the same 6-token boilerplate run:
    // the run's windows occur 200k× corpus-wide, so the keeper groupBy
    // must combine map-side and the rejoin must key on the unique
    // (fp, id, pos) triple — a join keyed on fp alone would funnel all
    // 200k occurrences of the hot fingerprint into one task
    val df = spark.range(0, 200000).select(F.col("id").as("doc_id"),
      F.concat(
        F.concat_ws(" ", (0 until 6).map(i =>
          F.concat(F.lit("u"), F.col("id") * 6 + i)): _*),
        F.lit(" terms of service apply to everything")).as("text"))
    val out = dedup.dedupSpans(df, "doc_id", "text", 6)
    val agg = out.agg(F.count(F.lit(1)),
      F.sum(F.when(F.col("n_dup_tokens") === 0L, 1L).otherwise(0L)),
      F.min(F.col("n_tokens"))).head()
    assert(agg.getLong(0) == 200000L)
    assert(agg.getLong(1) == 1L)   // only the keeper doc is untouched
    assert(agg.getLong(2) == 12L)  // 6 unique + 6 boilerplate tokens
  }

  test("bloom decontamination clears a 500k corpus against a 20k-doc benchmark") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    val pins0 = pinned
    import graft.functions.contamination
    // 500k train docs (8 words from the id), 1-in-50 of them an exact
    // copy of a benchmark doc; 20k bench docs. The Bloom pass must route
    // only the contaminated slice (+ ~fpp of the rest) through the
    // shuffle join — structural check: the contaminated count is exactly
    // the planted overlap, everything else survives untouched.
    def words(idCol: org.apache.spark.sql.Column, salt: Int) =
      F.concat_ws(" ", (0 until 8).map(i =>
        F.concat(F.lit("w"), F.pmod(F.xxhash64(idCol + i, F.lit(salt)),
          F.lit(30000)))): _*)
    val bench = spark.range(0, 20000).select(
      F.col("id").as("doc_id"), words(F.col("id"), salt = 7).as("text"))
    val train = spark.range(0, 500000).select(
      F.col("id").as("doc_id"),
      F.when(F.col("id") % 50 === 0, words(F.col("id") % 20000, salt = 7))
        .otherwise(words(F.col("id"), salt = 13)).as("text"))
    val stats = contamination.overlapStatsBloom(train, "doc_id", "text",
      bench, "text", k = 3, minOverlap = 0.5, fpp = 0.01)
    val agg = stats.agg(F.count(F.lit(1)),
      F.sum(F.when(F.col("contaminated"), 1L).otherwise(0L))).head()
    assert(agg.getLong(0) == 500000L)
    assert(agg.getLong(1) == 10000L, s"contaminated=${agg.getLong(1)}")
    // the bench-fp cache auto-releases once the stats query completes
    // (QueryExecutionListener fires on a bus thread — drain it first)
    val left = newPinned(pins0)
    assert(left.isEmpty, s"bench-fp cache still pinned: $left")
  }

  test("persistent IVF index probes 200k vectors reading only the probed cells") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    val pins0 = pinned
    import graft.functions.index
    val vecs = spark.range(0, 200000).select(
      F.col("id").as("vec_id"),
      F.array((0 until 16).map(i =>
        (F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(2000)) - 1000)
          .cast("double") / 1000.0): _*).as("embedding"))
    try {
      index.buildIvfIndex(vecs, "vec_id", "embedding", "graft_ivf_smoke",
        nlist = 64, iters = 2, sampleOneIn = 20)
      val out = index.probeIvfIndex(spark,
        vecs.filter(F.col("vec_id") < 100), "vec_id", "embedding",
        "graft_ivf_smoke", k = 10, nprobe = 4)
      assert(out.count() == 100L * 10)
      // the static cell filter prunes the partitioned scan: of 64 cell
      // directories, at most 100 queries × 4 probes distinct cells open
      val scans = out.queryExecution.executedPlan.toString
      assert(scans.contains(live("graft_ivf_smoke", "cells")))
      assert((pinned -- pins0).isEmpty)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ivf_smoke", "cells")}")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ivf_smoke", "centroids")}")
    }
  }

  test("semanticDedup resolves planted near-dup pairs in a 200k-vector corpus") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import spark.implicits._
    // 100k base vectors + a perturbed near-dup of each: clustering must
    // keep the within-cell quadratic bounded (~n²/nlist) while every
    // planted pair lands in one cell (the perturbation is tiny)
    val base = spark.range(0, 100000).select(F.col("id").as("vec_id"),
      F.array((0 until 16).map(i =>
        (F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(2000)) - 1000)
          .cast("double") / 1000.0): _*).as("v"))
    val pert = base.select((F.col("vec_id") + 1000000L).as("vec_id"),
      F.transform(F.col("v"), x => x * 1.0001).as("v"))
    val out = similarity.semanticDedup(base.unionByName(pert), "vec_id", "v",
      nlist = 128, minCos = 0.999, iters = 2, sampleOneIn = 20)
    val agg = out.agg(F.count(F.lit(1)),
      F.sum(F.when(F.col("kept"), 1L).otherwise(0L))).head()
    assert(agg.getLong(0) == 200000L)
    // scaling a vector leaves cosine = 1 exactly: every planted pair is
    // found (same cell, cos 1 ≥ 0.999), so ~half the corpus is dropped;
    // a handful of coincidental base-to-base near-dups may drop more
    assert(agg.getLong(1) <= 100000L && agg.getLong(1) > 95000L)
  }

  test("graft_topk bounds the ranking shuffle to one partial buffer per (query, task)") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    // The claim behind replacing row_number() windows with the
    // BoundedTopK aggregate, asserted on the plan's OWN SQLMetrics
    // (the LayoutSpec z-order-payoff pattern): a window must shuffle
    // EVERY scored candidate to its query's task, so its exchange
    // carries ~|corpus|×|queries| records; the aggregate map-side
    // combines, so its exchange carries at most one k-bounded partial
    // buffer per (query, input task) — records ≤ tasks × queries,
    // independent of corpus size. 200k vectors = 100× the sf0.1
    // embeddings table.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nCorpus = 200000L
    val nQueries = 40L
    val k = 10
    val vecs = spark.range(0, nCorpus).select(
      F.col("id").as("vec_id"),
      F.array((0 until 16).map(i =>
        (F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(2000)) - 1000)
          .cast("double") / 1000.0): _*).as("embedding"))
    val queries = vecs.filter(F.col("vec_id") < nQueries)
    // AQE re-plans mid-flight and hides the exchange's write metrics
    // behind query-stage reuse — pin the static plan for the audit
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def shuffleRecords(df: org.apache.spark.sql.DataFrame): Long = {
        df.queryExecution.executedPlan.collect {
          case s: ShuffleExchangeExec => s.metrics("shuffleRecordsWritten").value
        }.sum
      }
      val bounded = similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k)
      // execute THIS plan instance — a separate count() would leave
      // these exchange nodes' metrics untouched
      assert(bounded.collect().length.toLong == nQueries * k)
      val tasks = vecs.rdd.getNumPartitions.toLong
      val aggRecords = shuffleRecords(bounded)
      assert(aggRecords > 0L, "expected one ranking exchange in the plan")
      assert(aggRecords <= tasks * nQueries,
        s"graft_topk shuffled $aggRecords records — expected ≤ tasks×queries = ${tasks * nQueries}")
      // the window formulation of the SAME ranking, for contrast. Two
      // regimes: (a) Spark ≥ 3.5's InferWindowGroupLimit recognizes the
      // literal `row_number() <= k` filter and inserts a partial group
      // limit below the exchange — records = tasks × queries × k, also
      // corpus-independent but k× looser than the aggregate's one
      // buffer per (query, task); (b) whenever that rewrite does not
      // fire (rank compared to a non-literal, rank kept as a column,
      // threshold disabled), the exchange carries EVERY scored
      // candidate. Measure both.
      import org.apache.spark.sql.expressions.Window
      def windowed = {
        val scored = vecs.select(F.col("vec_id").as("n_id"), F.col("embedding").as("n_vec"),
            similarity.norm(F.col("embedding")).as("n_nrm"))
          .crossJoin(F.broadcast(queries.select(F.col("vec_id").as("q_id"),
            F.col("embedding").as("q_vec"), similarity.norm(F.col("embedding")).as("q_nrm"))))
          .filter(F.col("n_id") =!= F.col("q_id"))
          .select(F.col("q_id"), F.col("n_id"),
            (similarity.dot(F.col("q_vec"), F.col("n_vec")) / F.col("q_nrm") / F.col("n_nrm")).as("cos"))
        scored
          .withColumn("rank", F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.col("cos").desc, F.col("n_id"))))
          .filter(F.col("rank") <= k)
      }
      val optimized = windowed
      assert(optimized.collect().length.toLong == nQueries * k)
      val winOptRecords = shuffleRecords(optimized)
      assert(winOptRecords >= tasks * nQueries * k / 2,
        s"group-limited window shuffled $winOptRecords — expected ~tasks×queries×k")
      assert(aggRecords * k <= winOptRecords * 2,
        s"agg=$aggRecords buffers should be ~k× fewer records than the " +
          s"group-limited window's $winOptRecords rows")
      spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "-1")
      val general = windowed
      assert(general.collect().length.toLong == nQueries * k)
      val winFullRecords = shuffleRecords(general)
      val candidates = nQueries * (nCorpus - 1)
      assert(winFullRecords >= candidates,
        s"un-limited window shuffled $winFullRecords — expected the full $candidates candidates")
      // the whole point, in one inequality: corpus-growth-proof vs not
      assert(aggRecords * 1000 < winFullRecords,
        s"agg=$aggRecords vs window=$winFullRecords — bound not materially tighter")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.optimizer.windowGroupLimitThreshold")
    }
  }

  test("bm25TopK shuffles at most token grain on a 50k-doc file corpus") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import graft.functions.retrieval
    // The retrieval.scala:39 claim, measured on the production posture
    // (parquet-backed corpus — a synthetic Range corpus lets Catalyst
    // propagate distinct keys and broadcast the whole postings relation,
    // proving nothing — and AQE ON, so dfreq's broadcast election is the
    // real one): total shuffle volume of the whole query is bounded by
    // the ONE token-grain postings shuffle — dfreq collapses map-side to
    // vocabulary-many rows per task, corpus stats are scan-level scalar
    // partials, ranking is k-bounded. 50k docs × 12 tokens from a 5k
    // vocabulary = 600k token instances. AQE hides per-exchange plan
    // metrics behind query-stage reuse, so shuffle records are summed
    // from the span's task metrics instead.
    val nDocs = 50000L; val vocab = 5000L; val perDoc = 12; val k = 10
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_smoke_").toString
    spark.range(0, nDocs).select(
        F.col("id").as("doc_id"),
        F.concat_ws(" ", (0 until perDoc).map(i =>
          F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("id"), F.lit(i)),
            F.lit(vocab)))): _*).as("text"))
      .repartition(4).write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val queries = corpus.filter(F.col("doc_id") < 20)
    val (_, ran) = obs.during(spark) {
      val out = retrieval.bm25TopK(corpus, "doc_id", "text",
        queries, "doc_id", "text", k = k)
      assert(out.queryExecution.toRdd.count() == 20L * k)
    }
    val tokenInstances = nDocs * perDoc
    // the whole query's shuffle volume is ~1 record per token instance
    // (the postings shuffle; in-doc repeats collapse map-side) plus
    // the vocabulary-sized dfreq partials and k-bounded ranking rows.
    // Below T/2 would mean this corpus isn't being measured at token
    // grain; above 1.5×T would mean a SECOND corpus-grain shuffle
    // (e.g. the dfreq attachment degrading from broadcast to
    // sort-merge, or a window dragging postings by token).
    val full = ran.shuffleRecords
    assert(full > tokenInstances / 2,
      s"shuffled only $full — not the token-grain postings relation?")
    assert(full <= (tokenInstances * 3) / 2,
      s"shuffled $full records over $tokenInstances token instances — " +
        "a second corpus-grain shuffle appeared")
  }

  test("clusterBalancedSample flattens a 200k corpus with a dominant topic cluster") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import spark.implicits._
    // 180k vectors in one tight "boilerplate topic" direction + 20k
    // spread across the space: alpha = 0 must cut the dominant cluster
    // toward parity instead of letting it keep its natural 90% share.
    // Training sees only the hash sample; assignment + the keep filter
    // are map-side (no shuffle beyond the nlist-row count agg).
    val baseline = pinned
    val dominant = spark.range(0, 180000).select(F.col("id").as("vec_id"),
      F.array((0 until 16).map(i =>
        (F.lit(if (i == 0) 1000.0 else 0.0) +
          F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(10)).cast("double"))
          / 1000.0): _*).as("v"))
    val tail = spark.range(200000, 220000).select(F.col("id").as("vec_id"),
      F.array((0 until 16).map(i =>
        (F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(2000)) - 1000)
          .cast("double") / 1000.0): _*).as("v"))
    val (counts, cgErrors) = codegenErrorsDuring {
      val kept = similarity.clusterBalancedSample(
        dominant.unionByName(tail), "vec_id", "v",
        nlist = 16, alpha = 0.0, targetRows = 20000L, iters = 2,
        sampleOneIn = 20)
      (kept.count(), kept.filter(F.col("vec_id") < 200000L).count())
    }
    // the keep filter references the computed cluster key: a CASE-based
    // threshold rule would re-inline the centroid argmax per branch and
    // overflow Janino's 64 KB limit into silent interpreted execution
    assert(cgErrors.isEmpty, s"codegen fell back:\n${cgErrors.mkString("\n")}")
    val (n, nDom) = counts
    // per-cluster equal weights: the dominant cluster's share of the
    // kept set collapses from 90% toward its 1/nlist-ish allocation
    assert(n > 10000L, s"kept $n rows, expected a five-figure sample")
    assert(nDom.toDouble / n < 0.5,
      s"dominant topic still holds ${nDom.toDouble / n} of the sample")
    assert(newPinned(baseline).isEmpty,
      "training must release its pinned sample")
  }

  test("snapshotDiff shuffles fingerprints, never the documents") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import spark.implicits._
    // two 400k-row snapshots of ~500-byte docs (≈ 200 MB text per
    // side): the diff's full-outer join must ship (key, 16-byte md5)
    // per row, so total shuffle WRITE bytes stay far below the text
    // volume — the property that makes a 100 TB re-crawl diff sized by
    // keys, not corpus. Byte metrics summed from the span's task
    // metrics (AQE-proof, the bm25 pattern).
    val n = 400000L
    val filler = "x" * 460
    def snap(rev: org.apache.spark.sql.Column) = spark.range(0, n).select(
      F.col("id").as("doc_id"),
      F.concat(F.lit(filler), F.col("id").cast("string"), rev).as("text"))
    val old = snap(F.lit(""))
    val nw = snap(F.when(F.pmod(F.col("id"), F.lit(100)) === 0, F.lit("v2"))
        .otherwise(F.lit("")))
      .filter(F.pmod(F.col("doc_id"), F.lit(101)) =!= 1)
    val (byChange, ran) = obs.during(spark) {
      val diff = graft.functions.layout
        .snapshotDiff(old, nw, "doc_id", Seq("text"))
      diff.groupBy("change").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(byChange.getOrElse("removed", 0L) == (n + 100) / 101)
    // changed = %100==0 rows surviving the %101 removal
    assert(byChange.getOrElse("changed", 0L) > 3000L)
    assert(byChange.getOrElse("added", 0L) == 0L)
    val textBytes = 2 * n * 470 // ≈ both snapshots' text volume
    assert(ran.shuffleBytes > 0L, "expected shuffle write metrics")
    assert(ran.shuffleBytes < textBytes / 4,
      s"snapshotDiff shuffled ${ran.shuffleBytes} bytes — the " +
        s"fingerprint join must stay far below the $textBytes-byte corpus")
  }

  test("hammingPairs resolves 20k planted flips in a 220k-code corpus at band grain") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val pins0 = pinned
    // 200k random ±1 sign vectors (64-d, xxhash64-derived) + 20k copies
    // of the first 20k with ≤ 3 sign flips each. Random codes sit ~32
    // bits apart (P(≤3 of 64) ≈ 2e-15), so the radius-3 join must
    // return EXACTLY the 20k planted pairs; pigeonhole (4 bands, ≤ 3
    // flips) guarantees each is found. The shuffle is band grain —
    // rows × 4 band keys — never pair grain.
    def sign(id: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      F.when(F.pmod(F.xxhash64(id, i), F.lit(2)) === 0, 1.0).otherwise(-1.0)
    val base = spark.range(0, 200000).select(F.col("id"),
      F.transform(F.sequence(F.lit(0), F.lit(63)),
        i => sign(F.col("id"), i)).as("v"))
    // flip positions pmod-derived per copy; collisions only shrink the
    // distance, which stays ≤ 3 — the pair is found either way
    val copies = spark.range(0, 20000).select((F.col("id") + 1000000L).as("id"),
      F.transform(F.sequence(F.lit(0), F.lit(63)), i => {
        val flipped = (0 until 3).map(j =>
          F.pmod(F.xxhash64(F.col("id") - 1000000L, F.lit(100 + j)), F.lit(64)) === i)
          .reduce(_ || _)
        F.when(flipped, -sign(F.col("id") - 1000000L, i))
          .otherwise(sign(F.col("id") - 1000000L, i))
      }).as("v"))
    val corpus = base.unionByName(copies)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pairs = similarity.hammingPairs(corpus, "id", "v", dim = 64, radius = 3)
      val agg = pairs.agg(F.count(F.lit(1)),
        F.sum(F.when(F.col("id_b") === F.col("id_a") + 1000000L, 1L).otherwise(0L)))
      val qe = agg.queryExecution
      val row = agg.head()
      assert(row.getLong(0) == 20000L,
        s"expected exactly the 20k planted pairs, got ${row.getLong(0)}")
      assert(row.getLong(1) == 20000L, "every pair must be (i, i + 1M)")
      // band grain, metrics-proven: each side explodes rows × 4 band
      // keys (880k records); no exchange may approach pair grain
      val exchanges = qe.executedPlan.collect {
        case s: ShuffleExchangeExec => s.metrics("shuffleRecordsWritten").value
      }
      val bound = 2000000L
      exchanges.foreach(r => assert(r <= bound,
        s"an exchange moved $r records (> $bound): $exchanges"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(newPinned(pins0).isEmpty)
  }

  test("similarityJoinPrefix resolves 20k planted dups in a 170k corpus under the posting cap") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val pins0 = pinned
    // 100k unique 10-word docs (30000-word vocab), an exact copy of
    // each of the first 20k, and 50k copies of one boilerplate sentence
    // over a DISJOINT vocabulary. Uncapped, the boilerplate's prefix
    // postings alone would emit 3 × C(50k,2) ≈ 3.7e9 candidate rows;
    // maxPosting = 1000 keeps each posting's smallest-id members, so
    // the candidate join and its distinct stay around C(1000,2) ≈ 5e5
    // while every planted (i, copy-of-i) pair still resolves at J = 1.
    def words(c: org.apache.spark.sql.Column, n: Int) =
      F.concat_ws(" ", (0 until n).map(i =>
        F.concat(F.lit("w"), F.pmod(F.xxhash64(c, F.lit(i)), F.lit(30000)))): _*)
    val cap = 1000
    val base = spark.range(0, 100000).select(
      F.col("id").as("doc_id"), words(F.col("id"), 10).as("text"))
    val copies = spark.range(0, 20000).select(
      (F.col("id") + 1000000L).as("doc_id"), words(F.col("id"), 10).as("text"))
    val boiler = spark.range(0, 50000).select(
      (F.col("id") + 2000000L).as("doc_id"),
      F.lit("bz0 bz1 bz2 bz3 bz4 bz5 bz6 bz7 bz8 bz9").as("text"))
    val corpus = base.unionByName(copies).unionByName(boiler)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pairs = dedup.similarityJoinPrefix(corpus, "doc_id", "text",
        k = 1, minJ = 0.8, maxPosting = cap)
      val agg = pairs.agg(
        F.sum(F.when(F.col("id_a") < 1000000L && F.col("id_b") >= 1000000L
          && F.col("id_b") < 2000000L
          && F.col("id_b") === F.col("id_a") + 1000000L, 1L).otherwise(0L)),
        F.sum(F.when(F.col("id_a") >= 2000000L, 1L).otherwise(0L)))
      val qe = agg.queryExecution
      val row = agg.head()
      assert(row.getLong(0) == 20000L,
        s"planted copy pairs resolved: ${row.getLong(0)} of 20000")
      assert(row.getLong(1) == cap.toLong * (cap - 1) / 2,
        s"boilerplate pairs must be exactly C(cap,2): ${row.getLong(1)}")
      // the cap's bound, metrics-proven: no exchange anywhere in the
      // plan moves more than a few multiples of the token grain
      // (1.7M token rows) — uncapped the candidate distinct alone
      // would shuffle ~1.2e9 pair rows
      val exchanges = qe.executedPlan.collect {
        case s: ShuffleExchangeExec => s.metrics("shuffleRecordsWritten").value
      }
      val bound = 6000000L
      exchanges.foreach(r => assert(r <= bound,
        s"an exchange moved $r records (> $bound) — posting cap not bounding: $exchanges"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(newPinned(pins0).isEmpty)
  }

  test("component-map append shuffles O(batch), never the 2M-row corpus") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import graft.functions.index
    // The incremental-CC claim (index.scala buildComponentMap): a daily
    // append resolves its edges via one broadcast semi-join into the
    // map SCAN and contracts to current representatives before the CC
    // loop — so across every job of the append, total shuffle-write
    // volume is batch-proportional. The corpus map is 2M rows; the
    // batch is 1k nodes + 1.5k edges (a third of them bridging two
    // EXISTING components, the merge/remap path). A full recompute
    // would shuffle the accumulated edge set, ∝ corpus.
    val nCorpus = 2000000L
    val nodes = spark.range(0, nCorpus).select(F.col("id"))
    // chain edges among every 20th id: 100k two-node components
    val pairs = spark.range(0, nCorpus / 20).select(
      (F.col("id") * 20).as("id_a"), (F.col("id") * 20 + 1).as("id_b"))
    index.buildComponentMap(nodes, pairs, "id", "smoke_cm")
    val batchNodes = spark.range(nCorpus, nCorpus + 1000).select(F.col("id"))
    // 500 edges attach new→old; 500 bridge two old components (merges);
    // 500 connect new→new
    val batchEdges = spark.range(0, 500).select(
        (F.col("id") + nCorpus).as("id_a"), (F.col("id") * 40).as("id_b"))
      .unionByName(spark.range(0, 500).select(
        (F.col("id") * 80).as("id_a"), (F.col("id") * 80 + 20).as("id_b")))
      .unionByName(spark.range(0, 500).select(
        (F.col("id") + nCorpus).as("id_a"),
        (F.col("id") + nCorpus + 500).as("id_b")))
    val (_, append) = obs.during(spark)(
      index.appendComponentEdges(batchNodes, batchEdges, "id", "smoke_cm"))
    val total = append.shuffleRecords
    // generous batch-proportional bound: ~2.5k batch rows explode to
    // endpoint sets, contracted edges, CC rounds and small writes —
    // tens of thousands of shuffled records, never the 2M map
    val bound = 200000L
    assert(total <= bound,
      s"append shuffled $total records (> $bound) — corpus-scaled, not batch-scaled")
    // and the merges actually happened: a bridged pair shares a label
    val comp = index.readComponentMap(spark, "smoke_cm")
      .filter(F.col("id").isin(0L, 20L, 80L, 100L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(0L) == 0L && comp(20L) == 0L,
      s"bridge 0-20 must merge: $comp")
    assert(comp(80L) == 80L && comp(100L) == 80L,
      s"bridge 80-100 must merge: $comp")
    // TAKEDOWN on the same 2M-row map: delete 200 ids (some of them
    // bridges) — affected set is batch-bounded, the map and edge log
    // are broadcast-filter SCANNED, and the re-solve CC touches only
    // the affected components' edges, so the shuffle stays O(batch)
    val (_, takedown) = obs.during(spark)(index.removeComponentIds(
      spark.range(0, 200).select((F.col("id") * 80).as("id")),
      "id", "smoke_cm"))
    val delShuffled = takedown.shuffleRecords
    assert(delShuffled <= 200000L,
      s"takedown shuffled $delShuffled records — corpus-scaled, not batch-scaled")
    // the deleted hub 0 is gone and its bridged family re-solved
    val after = index.readComponentMap(spark, "smoke_cm")
      .filter(F.col("id").isin(0L, 1L, 20L, 21L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!after.contains(0L), "deleted id must lose its row")
    assert(after(1L) == 1L, s"0's orphaned chain partner re-labels: $after")
    assert(after(20L) == 20L && after(21L) == 20L,
      s"the surviving sub-family keeps its own edges: $after")
  }

  test("deferred takedown is O(batch) against a 2M-row index; compaction owns the rewrite") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import graft.functions.index
    // The deferTakedown contract (index.scala): the daily takedown
    // batch must cost O(batch) — one small append, no scan, no rewrite
    // of the 2M-row index — with the probe paying one broadcast
    // anti-join; the index rewrite happens ONLY at compaction. 2M-row
    // exact index, 1k-id takedown batch.
    val n = 2000000L
    index.buildExactIndex(
      spark.range(0, n).select(F.col("id").as("doc_id"),
        F.concat(F.lit("document body "), F.col("id")).as("text")),
      "doc_id", "text", "smoke_dtd")
    val (_, ran) = obs.during(spark)(index.deferTakedown(
      spark.range(0, 1000).select((F.col("id") * 1999).as("doc_id")),
      "doc_id", "smoke_dtd"))
    assert(ran.inputRecords <= 10000L,
      s"deferTakedown read ${ran.inputRecords} records — it must not scan the index")
    assert(ran.outputRecords <= 2000L,
      s"deferTakedown wrote ${ran.outputRecords} records — it must be one " +
        "batch-sized append")
    // probe: pending ids excluded; the extra cost is one broadcast of
    // the 1k-row pending set, not an index rewrite
    val probe = index.probeExactIndex(spark,
      spark.range(0, 4000).select(F.col("id").as("doc_id"),
        F.concat(F.lit("document body "), F.col("id") * 1999).as("text")),
      "doc_id", "text", "smoke_dtd")
    val hit = probe.select("id_indexed").collect().map(_.getLong(0)).toSet
    assert(hit.nonEmpty, "live docs must still match")
    val pending = (0L until 1000L).map(_ * 1999).toSet
    assert(hit.intersect(pending).isEmpty, "pending ids must not match")
    // compaction does the one rewrite; after it the dels are gone
    index.compactTakedowns(spark, "smoke_dtd")
    assert(spark.table(live("smoke_dtd", "dels")).count() == 0L)
    assert(spark.table(live("smoke_dtd", "fps")).count() == n - 1000L,
      "compaction must purge exactly the pending rows")
  }

  test("BPE segmentation maps a 100k-doc corpus against a 1k-rule table shuffle-free") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import graft.functions.{bpe, text}
    // A production tokenizer's merge table is 1k-32k rules — far past
    // what the expression-chained bpe.segment could carry (Janino
    // method limits, quadratic analysis). The graft_bpe_segment kernel
    // holds the table as ONE reference object: plan size is constant in
    // the rule count, the segmentation is a pure map (the only shuffle
    // in this job is the final 1-row count aggregation), and per token
    // only ranks whose pair occurs run a pass.
    val alpha = "abcdefghij".map(_.toString)
    val merges = ((for { l <- alpha; r <- alpha } yield (l, r)) ++
      (for { l <- alpha; m <- alpha; r <- alpha } yield (l + m, r)))
      .take(1000)
    assert(merges.size == 1000)
    // 100k docs × 24 deterministic pseudo-words over the rule alphabet
    val toks = (0 until 24).map(j => F.translate(
      F.substring(F.md5(F.concat(F.col("id").cast("string"), F.lit(s"_$j"))),
        1, 8),
      "0123456789abcdef", "abcdefghijabcdef"))
    val corpus = spark.range(0, 100000L)
      .select(F.col("id"), F.concat_ws(" ", toks: _*).as("text"))
    val (totals, ran) = obs.during(spark)(corpus.select(
        F.aggregate(F.transform(text.tokens(F.col("text")),
          t => F.size(bpe.segmentFast(t, merges)).cast("long")),
          F.lit(0L), (acc, x) => acc + x).as("syms"))
      .agg(F.sum("syms").as("n_symbols"), F.count(F.lit(1)).as("n"))
      .head())
    val nSymbols = totals.getLong(0); val nDocs = totals.getLong(1)
    assert(nDocs == 100000L)
    // 2.4M 8-char tokens: merges compress below 8 symbols/token but
    // never below 1; both bounds breaking = kernel corruption
    assert(nSymbols > 2400000L && nSymbols < 19200000L,
      s"implausible symbol total $nSymbols")
    val total = ran.shuffleRecords
    assert(total <= 1000L,
      s"segmentation job shuffled $total records — the map is not " +
        "shuffle-free")
  }

  test("pending takedown set past the default broadcast gate: shuffled fallback, probe completes") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import graft.functions.index
    // The one unenforced scale bound of the deferred path (r11 verdict):
    // a skipped month of compaction at 10B-doc scale leaves a pending
    // set far too large to broadcast on every probe. Plant 12M pending
    // ids against a small index and assert the DEFAULT 10M gate routes
    // the exclusion through a shuffled anti-join (no BroadcastExchange
    // anywhere in the filter plan) and the probe still excludes
    // correctly.
    val docs = spark.range(0, 2000).select(F.col("id").as("doc_id"),
      F.concat(F.lit("body "), F.col("id")).as("text"))
    index.buildExactIndex(docs, "doc_id", "text", "sm_gate", buckets = 8)
    index.deferTakedown(
      spark.range(0, 12000000).select((F.col("id") * 2).as("doc_id")),
      "doc_id", "sm_gate")
    val filtered = index.minusPending(spark, "sm_gate",
      spark.table(live("sm_gate", "fps")), "id")
    val plan = filtered.queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"a 12M-id pending set must not broadcast:\n${plan.take(2000)}")
    assert(plan.contains("ShuffledHashJoin"),
      s"expected the hinted shuffled anti-join:\n${plan.take(2000)}")
    // even ids pending → the 1000 odd ids survive, on the fallback path
    assert(filtered.count() == 1000L)
    val hits = index.probeExactIndex(spark, docs, "doc_id", "text",
      "sm_gate")
    assert(hits.filter(F.col("id_indexed") % 2 === 0).count() == 0L,
      "pending ids must stay excluded on the fallback path")
    assert(hits.count() == 1000L)
    // folding the 12M-id pending set PHYSICALLY also runs above the
    // gate (delJoin's shuffled branch inside the rewrite) — the
    // compaction must complete and leave exactly the odd survivors
    index.compactTakedowns(spark, "sm_gate")
    assert(spark.table(live("sm_gate", "dels")).count() == 0L)
    assert(spark.table(live("sm_gate", "fps")).count() == 1000L,
      "fallback compaction must purge exactly the even half")
  }

  test("deferred takedown holds its contracts over a 50-day defer/compact horizon") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import graft.functions.index
    // The x134 daily unit run as a LIFECYCLE (the component-map 50-day
    // smoke's sibling): 50 daily ingests + defers over a growing exact
    // index with weekly compactions. At every checkpoint the probe must
    // equal the direct computation over (ingested − every id ever
    // deferred) — pending ids filtered, compacted ids purged, both
    // regimes mixed mid-week — and each compaction must drain the
    // pending set to exactly 0.
    def gen(lo: Long, hi: Long) = spark.range(lo, hi).select(
      F.col("id").as("doc_id"),
      F.concat(F.lit("doc body "),
        F.pmod(F.col("id"), F.lit(5000L))).as("text"))
    index.buildExactIndex(gen(0, 20000), "doc_id", "text", "lh_def",
      buckets = 16)
    var ingested = (0L until 20000L).toSet
    var deferredEver = Set.empty[Long]
    import spark.implicits._
    val batch = gen(1000000L, 1000200L) // classes 0..199, fixed probe set
    // AQE off so the checkpoint receipts' join-node SQLMetrics are
    // readable on the static plan (the boilerplate-cluster arm's note)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try (1 to 50).foreach { day =>
      val base = 20000L + (day - 1) * 300L
      index.buildExactIndex(gen(base, base + 300L), "doc_id", "text",
        "lh_def", buckets = 16,
        mode = org.apache.spark.sql.SaveMode.Append)
      ingested ++= (base until base + 300L)
      // the day's right-to-be-forgotten batch: ~40 not-yet-deferred ids
      val todays = (ingested -- deferredEver).toSeq.sorted
        .filter(i => (i * 31 + day) % 37 == 0).take(40)
      assert(todays.nonEmpty, s"day $day: defer batch must be non-empty")
      index.deferTakedown(todays.toDF("doc_id"), "doc_id", "lh_def")
      deferredEver ++= todays
      if (day % 7 == 0) {
        index.compactTakedowns(spark, "lh_def")
        assert(spark.table(live("lh_def", "dels")).count() == 0L,
          s"day $day: compaction must drain the pending set to 0")
      }
      if (day % 10 == 0 || day == 50) {
        val survivorsByClass = (ingested -- deferredEver)
          .groupBy(_ % 5000L).view.mapValues(_.size.toLong).toMap
        val wantHits = (1000000L until 1000200L)
          .map(i => survivorsByClass.getOrElse(i % 5000L, 0L)).sum
        val probe = index.probeExactIndex(spark, batch, "doc_id",
          "text", "lh_def")
        val got = probe.count()
        assert(got == wantHits,
          s"day $day: probe hits $got != survivors-direct $wantHits")
        assert(probe.join(deferredEver.toSeq.toDF("_d"),
            F.col("id_indexed") === F.col("_d"), "left_semi").count() == 0L,
          s"day $day: no deferred id may match, pending or purged")
        // SQLMetrics receipt: the probe's join work stays in the
        // linear regime (≈ fingerprint matches + pending exclusions),
        // never corpus × batch
        import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
        val executed = probe.queryExecution.executedPlan
        probe.queryExecution.toRdd.count()
        val joinOut = executed.collect {
          case j: SortMergeJoinExec => j.metrics("numOutputRows").value
          case j: ShuffledHashJoinExec => j.metrics("numOutputRows").value
          case j: BroadcastHashJoinExec => j.metrics("numOutputRows").value
        }.sum
        assert(joinOut > 0L && joinOut <= wantHits + ingested.size,
          s"day $day: join metrics $joinOut outside the linear regime " +
            s"(hits $wantHits, corpus ${ingested.size})")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("component map holds its contracts over a 50-day append/merge/compact horizon") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import graft.functions.{dedup, index}
    // Long-horizon concern (index.scala readComponentMap contract):
    // the remap grows by the day's merged-away representatives and is
    // bounded only by compaction discipline — over 50 days of mixed
    // accretion + cross-component merges it must stay EXACTLY the set
    // of merged-away rep0s (flat, no chains, no leaks), the
    // resolution join must stay a BROADCAST of that small table (a
    // sort-merge there would shuffle the corpus map on every read),
    // and the final state must equal the full recompute.
    val baseN = 20000L
    val nodes0 = spark.range(0, baseN).select(F.col("id"))
    val pairs0 = spark.range(0, baseN / 10).select(
      (F.col("id") * 10).as("id_a"), (F.col("id") * 10 + 1).as("id_b"))
    index.buildComponentMap(nodes0, pairs0, "id", "lh_cm")
    val allEdges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    allEdges ++= (0L until baseN / 10).map(i => (i * 10, i * 10 + 1))
    val allNodes = scala.collection.mutable.ArrayBuffer[Long]()
    allNodes ++= (0L until baseN)
    import spark.implicits._
    (1 to 50).foreach { day =>
      val base = baseN + (day - 1) * 300L
      val newIds = (base until base + 300L)
      // 100 accretion edges (new → old singletons), 150 new-new chain
      // edges, 4 old-old bridges (the merge/remap fuel)
      val edges =
        newIds.take(100).zipWithIndex.map { case (n, i) =>
          (n, (day * 100L + i) * 7 % baseN) } ++
        newIds.drop(100).sliding(2, 2).collect {
          case Seq(a, b) => (a, b) }.toSeq ++
        (0 until 4).map { i =>
          val a = ((day * 17 + i * 31) % (baseN / 10)) * 10
          val b = ((day * 23 + i * 41) % (baseN / 10)) * 10
          (a, b)
        }.filter { case (a, b) => a != b }
      index.appendComponentEdges(newIds.toDF("id"),
        edges.toDF("id_a", "id_b"), "id", "lh_cm")
      allEdges ++= edges
      allNodes ++= newIds
      if (day % 17 == 0) index.compactComponentMap(spark, "lh_cm")
      if (day % 10 == 0 || day == 50) {
        // remap invariants: keys are EXACTLY the merged-away rep0s of
        // the map (nothing missing → reads resolve; nothing extra →
        // no leak), one row per key, and FLAT (no rep is also a key)
        val remap = spark.table(live("lh_cm", "cremap")).collect()
          .map(r => r.getLong(0) -> r.getLong(1))
        val remapKeys = remap.map(_._1).toSet
        assert(remap.length == remapKeys.size,
          s"day $day: remap must hold one row per merged-away rep")
        assert(remap.map(_._2).toSet.intersect(remapKeys).isEmpty,
          s"day $day: remap must stay flat (no chain entries)")
        val current = index.readComponentMap(spark, "lh_cm")
          .select("component").distinct()
          .collect().map(_.getLong(0)).toSet
        val rep0s = spark.table(live("lh_cm", "cmap")).select("rep0").distinct()
          .collect().map(_.getLong(0)).toSet
        assert(remapKeys == (rep0s -- current),
          s"day $day: remap keys must be exactly the merged-away rep0s" +
            s" (${(remapKeys diff (rep0s -- current)).take(3)} extra, " +
            s"${((rep0s -- current) diff remapKeys).take(3)} missing)")
      }
    }
    // resolution stays one BROADCAST join of the small remap — the
    // read-side contract that makes the map consumable at corpus scale
    val plan = index.readComponentMap(spark, "lh_cm")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"),
      s"readComponentMap must broadcast the remap:\n$plan")
    // 50-day incremental state ≡ the full recompute over every edge
    val got = index.readComponentMap(spark, "lh_cm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = dedup.connectedComponents(allEdges.toSeq.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bad = allNodes.iterator
      .map(i => (i, got.get(i), full.getOrElse(i, i)))
      .filter { case (_, g, w) => !g.contains(w) }.take(5).toSeq
    assert(bad.isEmpty,
      s"50-day incremental state diverged from the recompute: $bad")
  }

  test("retrainIvfIndex re-encodes a 200k corpus with one cell-grid exchange, no corpus join shuffle") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import graft.functions.index
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    // The retrain scale contract (index.scala): the re-encode is ONE
    // scan of the live cells — codegen argmax against the broadcast
    // new bank — plus the single exchange every cell rewrite pays
    // (repartition onto the new grid). The pending exclusion must ride
    // that scan as a BROADCAST anti-join at batch-sized pending sets:
    // no shuffled join of the 200k-vector corpus anywhere in the
    // rewrite. 200k 16-dim vectors, nlist = 32, 10k pending ids.
    val vecs = spark.range(0, 200000).select(
      F.col("id").as("vec_id"),
      F.array((0 until 16).map(i =>
        (F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(2000)) - 1000)
          .cast("double") / 1000.0): _*).as("embedding"))
    // AQE off so the captured plan's exchange count is the static
    // truth (the 50-day arm's note)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      index.buildIvfIndex(vecs, "vec_id", "embedding", "smoke_rt",
        nlist = 32, iters = 1, sampleOneIn = 20)
      index.deferTakedown(
        spark.range(0, 10000).select((F.col("id") * 20).as("vec_id")),
        "vec_id", "smoke_rt")
      val (_, ran) = obs.during(spark)(index.retrainIvfIndex(spark,
        "smoke_rt", iters = 1, sampleOneIn = 20))
      // saveAsTable runs as a CTAS command whose physical shell holds
      // the query as an untraversable logical child; the actual file
      // write is a NESTED execution (WriteFiles over the cells scan) —
      // that is the plan whose exchanges are the receipt.
      val sp = ran.plans.find { p =>
        p.collect { case w: org.apache.spark.sql.execution
          .datasources.WriteFilesExec => w }.nonEmpty &&
        p.toString.contains("smoke_rt_cells")
      }
      assert(sp.nonEmpty,
        "the cells-stage write plan was not captured; saw:\n" +
          ran.plans.map(_.toString.linesIterator.take(3)
            .mkString(" | ")).mkString("\n"))
      val exchanges = sp.get.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 1,
        s"the rewrite must pay exactly the one cell-grid exchange, " +
          s"got ${exchanges.length}:\n${sp.get.toString.take(2000)}")
      val shuffledJoins = sp.get.collect {
        case j: ShuffledHashJoinExec => j
        case j: SortMergeJoinExec => j
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }
      assert(shuffledJoins.isEmpty,
        s"the pending exclusion must broadcast, never shuffle the corpus: " +
          s"${shuffledJoins.map(_.nodeName)}")
      // correctness at scale: pending folded, survivors exact
      assert(spark.table(live("smoke_rt", "dels")).count() == 0L)
      assert(spark.table(live("smoke_rt", "cells")).count() == 190000L,
        "retrain must re-encode exactly the live survivors")
      val out = index.probeIvfIndex(spark,
        vecs.filter(F.col("vec_id") < 50 && F.col("vec_id") % 20 =!= 0),
        "vec_id", "embedding", "smoke_rt", k = 10, nprobe = 4)
      assert(out.count() > 0L)
      assert(out.filter(F.col("n_id") % 20 === 0).count() == 0L,
        "folded pending ids must not match post-retrain probes")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Seq("cells", "centroids", "dels").map(live("smoke_rt", _))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("driftIndexReport audits a 250k-vector index with broadcast-only joins") {
    assume(on, "set GRAFT_SCALE_SMOKE=1 to run")
    import graft.functions.index
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, BroadcastHashJoinExec}
    // The drift report's scale contract (index.scala): per family, one
    // column-pruned aggregation scan whose only JOIN is the broadcast
    // of the nlist-row centroid frame — the 250k-vector corpus is
    // never shuffled through a join by a health check. 200k base
    // vectors + a 50k planted-drift append (one dim shifted +5), so
    // the report must also SHOW the drift: appended mass sits farther
    // from the day-1 centroids and concentrates in fewer cells.
    def mk(lo: Long, hi: Long, shift: Boolean) =
      spark.range(lo, hi).select(
        F.col("id").as("vec_id"),
        F.array((0 until 16).map(i =>
          ((F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(2000)) - 1000)
            .cast("double") / 1000.0) +
            (if (shift) F.when(F.pmod(F.col("id"), F.lit(16L)) === i,
              F.lit(5.0)).otherwise(F.lit(0.0))
             else F.lit(0.0))): _*).as("embedding"))
    // AQE off so the captured plans' join nodes are the static truth
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      index.buildIvfIndex(mk(0, 200000, shift = false), "vec_id",
        "embedding", "smoke_dr", nlist = 32, iters = 1, sampleOneIn = 20)
      index.buildIvfIndex(mk(200000, 250000, shift = true), "vec_id",
        "embedding", "smoke_dr",
        mode = org.apache.spark.sql.SaveMode.Append)
      val (report, ran) = obs.during(spark)(
        index.driftIndexReport(spark, "smoke_dr")
          .collect().map(r => r.getString(1) ->
            (r.getDouble(2), if (r.isNullAt(4)) Double.NaN
             else r.getDouble(4))).toMap)
      val ps = ran.plans
      assert(ps.nonEmpty, "no report plans captured")
      val shuffledJoins = ps.flatMap(_.collect {
        case j: ShuffledHashJoinExec => j
        case j: SortMergeJoinExec => j
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      })
      assert(shuffledJoins.isEmpty,
        s"a health check must never shuffle the corpus through a join: " +
          s"${shuffledJoins.map(_.nodeName).distinct}")
      assert(ps.flatMap(_.collect {
        case j: BroadcastHashJoinExec => j }).nonEmpty,
        "the centroid-frame join must be a broadcast")
      // the signal itself: drifted mass is farther from the day-1
      // geometry (mean assignment distance above the stamped baseline)
      val (_, meanRatio) = report("assign_mean")
      assert(meanRatio > 1.0,
        s"planted drift must raise assign_mean past the baseline: $meanRatio")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Seq("cells", "centroids", "dels").map(live("smoke_dr", _))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
