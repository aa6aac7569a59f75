package graft

import org.apache.spark.sql.{functions => F}
import graft.functions.{index, similarity}

/** TAKEDOWN across every persistent index family — the
  * right-to-be-forgotten lifecycle op: after
  * [[graft.functions.index.removeFromJaccardIndex]] /
  * `removeFromExactIndex` / `removeFromIvfIndex` / `removeFromPqIndex`,
  * deleted documents must stop matching in probes EXACTLY as if the
  * index had been built on the survivors (where training state makes
  * that equality literal), their rows must be physically gone from the
  * index tables, and the build-time parameters/properties/bucket grid
  * must survive the rewrite so future appends and probes keep working. */
class IndexTakedownSpec extends SparkSpec {
  import spark.implicits._

  /** 40 synthetic docs with planted exact/near duplicates: doc i and
    * doc i+20 share a 12-word body (i < 10), so cross-half probes hit. */
  private def corpus() = {
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    (0 until 40).map { i =>
      val words = (0 until 12).map(j => pool((i % 20 + j * (1 + i % 3)) % 12))
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def probeHits(name: String, batch: org.apache.spark.sql.DataFrame) =
    index.probeJaccardIndex(spark, batch, "doc_id", "text", name,
        minJ = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("jaccard: delete-then-probe equals rebuild-on-survivors; params and grid survive") {
    val d = corpus()
    val del = Seq(0L, 4L, 8L, 21L).toDF("doc_id")
    val batch = d.filter(F.col("doc_id") < 10)
      .select((F.col("doc_id") + 1000L).as("doc_id"), F.col("text"))
    index.buildJaccardIndex(d, "doc_id", "text", "td_jac", buckets = 8)
    val before = probeHits("td_jac", batch)
    assert(before.exists(p => Set(0L, 4L, 8L, 21L).contains(p._2)),
      s"setup must plant probe hits on to-be-deleted docs: $before")
    val paramsBefore = index.readParams(spark, "td_jac")
    index.removeFromJaccardIndex(del, "doc_id", "td_jac")
    val got = probeHits("td_jac", batch)
    // the literal rebuild-equality oracle: same params, survivor corpus
    index.buildJaccardIndex(
      d.join(del.withColumnRenamed("doc_id", "_d"),
        F.col("doc_id") === F.col("_d"), "left_anti"),
      "doc_id", "text", "td_jac_rebuilt", buckets = 8)
    val want = probeHits("td_jac_rebuilt", batch)
    assert(got == want, s"takedown != rebuild-on-survivors: ${
      (got diff want).take(5)} / ${(want diff got).take(5)}")
    assert(!got.exists(p => Set(0L, 4L, 8L, 21L).contains(p._2)),
      "deleted docs must stop matching")
    assert(index.readParams(spark, "td_jac") == paramsBefore,
      "hash parameters must survive the takedown rewrite")
    // rows physically gone from every table; stats SUM to live counts
    assert(spark.table(live("td_jac", "buckets"))
      .filter(F.col("id").isin(0L, 4L, 8L, 21L)).count() == 0L)
    assert(spark.table(live("td_jac", "sigs"))
      .filter(F.col("id").isin(0L, 4L, 8L, 21L)).count() == 0L)
    val statSums = spark.table(live("td_jac", "stats"))
      .groupBy("band", "band_hash").agg(F.sum("cnt").as("n"))
    val liveCounts = spark.table(live("td_jac", "buckets"))
      .groupBy("band", "band_hash").agg(F.count(F.lit(1)).as("n"))
    val mism = statSums.withColumnRenamed("n", "stat_n")
      .join(liveCounts.withColumnRenamed("n", "live_n"),
        Seq("band", "band_hash"), "full")
      .filter(F.coalesce(F.col("stat_n"), F.lit(0L)) =!=
        F.coalesce(F.col("live_n"), F.lit(0L)))
      .count()
    assert(mism == 0L, "negative-append stats must SUM to live counts")
    // the rewrite kept the bucket grid: append after takedown works
    // and the probe still sees both generations
    index.buildJaccardIndex(
      d.filter(F.col("doc_id") === 0L)
        .select((F.col("doc_id") + 5000L).as("doc_id"), F.col("text")),
      "doc_id", "text", "td_jac", buckets = 8,
      mode = org.apache.spark.sql.SaveMode.Append)
    val after = probeHits("td_jac", batch)
    assert(after.contains((1000L, 5000L)),
      s"append after takedown must be probe-visible: $after")
  }

  test("exact: delete-then-probe equals rebuild-on-survivors; canonicalize survives") {
    val d = corpus()
    index.buildExactIndex(d, "doc_id", "text", "td_ex",
      canonicalize = true, buckets = 8)
    val batch = d.filter(F.col("doc_id") < 10)
      .select((F.col("doc_id") + 1000L).as("doc_id"), F.col("text"))
    def hits(name: String) =
      index.probeExactIndex(spark, batch, "doc_id", "text", name)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = hits("td_ex")
    assert(before.contains((1000L, 0L)), s"setup: $before")
    val del = Seq(0L, 2L, 21L).toDF("doc_id")
    index.removeFromExactIndex(del, "doc_id", "td_ex")
    val got = hits("td_ex")
    index.buildExactIndex(
      d.join(del.withColumnRenamed("doc_id", "_d"),
        F.col("doc_id") === F.col("_d"), "left_anti"),
      "doc_id", "text", "td_ex_rebuilt", canonicalize = true, buckets = 8)
    assert(got == hits("td_ex_rebuilt"),
      "takedown != rebuild-on-survivors")
    assert(!got.exists(p => Set(0L, 2L, 21L).contains(p._2)))
    // property survived — a fold-mode drift would change this key
    val k1 = index.exactIndexKey(spark, "td_ex", F.lit("A  b")).toString
    val k2 = index.exactIndexKey(spark, "td_ex_rebuilt", F.lit("A  b")).toString
    assert(k1 == k2, "canonicalize property must survive the rewrite")
  }

  /** 60 deterministic 8-dim vectors in 3 well-separated clusters. */
  private def vectors() = (0 until 60).map { i =>
    val c = i % 3
    val v = (0 until 8).map(j =>
      10.0 * c + math.sin(i * 0.7 + j) * 0.5 + (if (j == c) 3.0 else 0.0))
    (i.toLong, v)
  }.toDF("vec_id", "v")

  test("ivf: post-takedown probe at nprobe=nlist is brute force over survivors") {
    val e = vectors()
    index.buildIvfIndex(e, "vec_id", "v", "td_ivf", nlist = 4, iters = 2)
    val q = e.filter(F.col("vec_id") < 6)
    val del = Seq(1L, 7L, 13L, 19L).toDF("vec_id")
    index.removeFromIvfIndex(del, "vec_id", "td_ivf")
    val got = index.probeIvfIndex(spark, q, "vec_id", "v", "td_ivf",
        k = 4, nprobe = 4)
      .select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val surv = e.join(del.withColumnRenamed("vec_id", "_d"),
      F.col("vec_id") === F.col("_d"), "left_anti")
    val want = similarity.bruteForceTopK(surv, q, "vec_id", "v", 4)
      .select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"ivf takedown != brute force over survivors: ${
      (got diff want).take(5)} / ${(want diff got).take(5)}")
    assert(spark.table(live("td_ivf", "cells"))
      .filter(F.col("n_id").isin(1L, 7L, 13L, 19L)).count() == 0L,
      "deleted rows must be physically gone")
    // appends after takedown still encode against the stored bank
    index.buildIvfIndex(e.filter(F.col("vec_id") === 1L)
        .select((F.col("vec_id") + 100L).as("vec_id"), F.col("v")),
      "vec_id", "v", "td_ivf", mode = org.apache.spark.sql.SaveMode.Append)
    assert(spark.table(live("td_ivf", "cells"))
      .filter(F.col("n_id") === 101L).count() == 1L)
  }

  test("ivf: deleting a whole cell drops its partition directory, probes survive") {
    val e = vectors()
    index.buildIvfIndex(e, "vec_id", "v", "td_ivf2", nlist = 3, iters = 2)
    val cells = spark.table(live("td_ivf2", "cells"))
    val victim = cells.select("cell").head().getInt(0)
    val victimIds = cells.filter(F.col("cell") === victim)
      .select(F.col("n_id").as("vec_id"))
    index.removeFromIvfIndex(victimIds, "vec_id", "td_ivf2")
    val liveCells = spark.table(live("td_ivf2", "cells"))
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(!liveCells.contains(victim),
      s"emptied cell $victim must not survive (live: $liveCells)")
    val parts = spark.sql(s"SHOW PARTITIONS ${live("td_ivf2", "cells")}")
      .collect().map(_.getString(0)).toSet
    assert(!parts.contains(s"cell=$victim"),
      s"emptied partition must be dropped from the catalog: $parts")
    // probing still works and returns only survivors
    val got = index.probeIvfIndex(spark,
        vectors().filter(F.col("vec_id") < 3), "vec_id", "v", "td_ivf2",
        k = 3, nprobe = 3)
      .select("n_id").collect().map(_.getLong(0)).toSet
    val deleted = victimIds.collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got.intersect(deleted).isEmpty)
  }

  test("pq (residual): codes purged row-exactly, banks kept, probes exclude deleted") {
    val e = vectors()
    index.buildPqIndex(e, "vec_id", "v", "td_pq", nlist = 3, m = 4,
      ksub = 8, ivfIters = 0, pqIters = 0, sampleOneIn = 1L,
      portableSeed = true, residual = true)
    val rowsBefore = spark.table(live("td_pq", "pqcells"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2))).toSet
    val bankBefore = spark.table(live("td_pq", "pqbank")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    val del = Seq(2L, 5L, 8L).toDF("vec_id")
    index.removeFromPqIndex(del, "vec_id", "td_pq")
    val rowsAfter = spark.table(live("td_pq", "pqcells"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2))).toSet
    assert(rowsAfter == rowsBefore.filterNot(r => Set(2L, 5L, 8L).contains(r._1)),
      "takedown must remove exactly the deleted rows, codes untouched")
    val bankAfter = spark.table(live("td_pq", "pqbank")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    assert(bankAfter == bankBefore, "quantizer banks must be kept")
    val got = index.probePqIndex(spark, e.filter(F.col("vec_id") < 4),
        "vec_id", "v", "td_pq", k = 3, nprobe = 3)
      .select("n_id").collect().map(_.getLong(0)).toSet
    assert(got.intersect(Set(2L, 5L, 8L)).isEmpty,
      s"deleted codes must stop ranking: $got")
    // residual flag survives (an append must keep residual-coding)
    index.buildPqIndex(e.filter(F.col("vec_id") === 2L)
        .select((F.col("vec_id") + 100L).as("vec_id"), F.col("v")),
      "vec_id", "v", "td_pq", mode = org.apache.spark.sql.SaveMode.Append)
    val reApp = spark.table(live("td_pq", "pqcells")).filter(F.col("n_id") === 102L)
      .collect().map(r => (r.getSeq[Int](1), r.getInt(2)))
    val orig = rowsBefore.find(_._1 == 2L).get
    assert(reApp.length == 1 && reApp.head._1 == orig._2 &&
      reApp.head._2 == orig._3,
      "append after takedown must re-encode identically (residual kept)")
  }

  test("deferred takedown: probes exclude pending ids immediately; compaction purges all families") {
    val d = corpus()
    val e = vectors()
    // all four signature families under ONE name (their table suffixes
    // are disjoint): a single pending set governs every probe
    index.buildJaccardIndex(d, "doc_id", "text", "td_def", buckets = 8)
    index.buildExactIndex(d, "doc_id", "text", "td_def", buckets = 8)
    index.buildIvfIndex(e, "vec_id", "v", "td_def", nlist = 4, iters = 2)
    index.buildPqIndex(e, "vec_id", "v", "td_def", nlist = 3, m = 4,
      ksub = 8, ivfIters = 0, pqIters = 0, sampleOneIn = 1L,
      portableSeed = true)
    index.deferTakedown(Seq(0L, 4L, 7L).toDF("id"), "id", "td_def")
    val batch = d.filter(F.col("doc_id") < 10)
      .select((F.col("doc_id") + 1000L).as("doc_id"), F.col("text"))
    val del = Set(0L, 4L, 7L)
    def assertClean(tag: String): Unit = {
      val jac = index.probeJaccardIndex(spark, batch, "doc_id", "text",
        "td_def", minJ = 0.8).collect().map(_.getLong(1)).toSet
      assert(jac.nonEmpty && jac.intersect(del).isEmpty, s"$tag jac: $jac")
      val ex = index.probeExactIndex(spark, batch, "doc_id", "text",
        "td_def").collect().map(_.getLong(1)).toSet
      assert(ex.nonEmpty && ex.intersect(del).isEmpty, s"$tag exact: $ex")
      val ivf = index.probeIvfIndex(spark, e.filter(F.col("vec_id") < 3),
        "vec_id", "v", "td_def", k = 4, nprobe = 4)
        .collect().map(_.getLong(1)).toSet
      assert(ivf.nonEmpty && ivf.intersect(del).isEmpty, s"$tag ivf: $ivf")
      val pq = index.probePqIndex(spark, e.filter(F.col("vec_id") < 3),
        "vec_id", "v", "td_def", k = 4, nprobe = 3)
        .collect().map(_.getLong(1)).toSet
      assert(pq.nonEmpty && pq.intersect(del).isEmpty, s"$tag pq: $pq")
    }
    assertClean("logical") // purge hasn't run — the filter must
    // rows are still physically present while pending
    assert(spark.table(live("td_def", "fps")).filter(F.col("id").isin(0L, 4L, 7L))
      .count() == 3L, "logical takedown must not rewrite anything yet")
    index.compactTakedowns(spark, "td_def")
    assert(spark.table(live("td_def", "dels")).count() == 0L,
      "compaction must truncate the pending set")
    Seq(live("td_def", "buckets") -> "id", live("td_def", "sigs") -> "id",
      live("td_def", "fps") -> "id", live("td_def", "cells") -> "n_id",
      live("td_def", "pqcells") -> "n_id").foreach { case (t, c) =>
      assert(spark.table(t).filter(F.col(c).isin(0L, 4L, 7L)).count() == 0L,
        s"compaction must purge $t")
    }
    assertClean("compacted") // now the physical state alone
    // a second compaction with nothing pending is a no-op
    index.compactTakedowns(spark, "td_def")
    assertClean("recompacted")
    // the component map refuses the deferred path: splits can't be a
    // row filter
    index.buildComponentMap(Seq(1L, 2L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), "id", "td_def2")
    index.buildExactIndex(d, "doc_id", "text", "td_def2", buckets = 4)
    val err = intercept[IllegalArgumentException] {
      index.deferTakedown(Seq(1L).toDF("id"), "id", "td_def2")
    }
    assert(err.getMessage.contains("component map"))
    // a fresh Overwrite build clears stale pending deletions
    index.deferTakedown(Seq(3L).toDF("doc_id"), "doc_id", "td_def")
    index.buildExactIndex(d, "doc_id", "text", "td_def", buckets = 8)
    assert(!spark.catalog.tableExists(live("td_def", "dels")) ||
      spark.table(live("td_def", "dels")).count() == 0L,
      "an Overwrite rebuild must not inherit the old corpus's pending set")
  }

  test("re-ingest while pending: takedown wins until compaction, then re-ingest sticks") {
    val d = corpus()
    index.buildExactIndex(d, "doc_id", "text", "td_re", buckets = 4)
    val batch = d.filter(F.col("doc_id") === 0L)
      .select((F.col("doc_id") + 1000L).as("doc_id"), F.col("text"))
    def hits() = index.probeExactIndex(spark, batch, "doc_id", "text",
      "td_re").collect().map(_.getLong(1)).toSet
    assert(hits().contains(0L), "setup: batch must hit doc 0")
    index.deferTakedown(Seq(0L).toDF("id"), "id", "td_re")
    assert(!hits().contains(0L), "pending id must be hidden")
    // a legitimate re-crawl of the taken-down id, while still pending
    index.buildExactIndex(d.filter(F.col("doc_id") === 0L), "doc_id",
      "text", "td_re", buckets = 4,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(spark.table(live("td_re", "fps"))
      .filter(F.col("id") === 0L).count() == 2L,
      "setup: both generations physically present")
    assert(!hits().contains(0L),
      "takedown wins: a re-ingest of a pending id stays hidden")
    index.compactTakedowns(spark, "td_re")
    assert(spark.table(live("td_re", "fps"))
      .filter(F.col("id") === 0L).count() == 0L,
      "compaction must purge BOTH generations of a pending id")
    assert(!hits().contains(0L))
    // after compaction the pending set is empty — re-ingest is normal
    index.buildExactIndex(d.filter(F.col("doc_id") === 0L), "doc_id",
      "text", "td_re", buckets = 4,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(hits().contains(0L),
      "a re-ingest AFTER compaction must index normally")
  }

  test("pending set past the broadcast threshold falls back to a shuffled anti-join") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    val d = corpus()
    index.buildExactIndex(d, "doc_id", "text", "td_gate", buckets = 4)
    index.deferTakedown(Seq(0L, 2L, 4L).toDF("id"), "id", "td_gate")
    def strategies(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case _: BroadcastHashJoinExec => "broadcast"
        case _: ShuffledHashJoinExec => "shuffled"
      }
    def survivorIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    val below = index.minusPending(spark, "td_gate",
      spark.table(live("td_gate", "fps")), "id")
    assert(strategies(below).contains("broadcast"),
      s"below the gate the pending set must broadcast: ${strategies(below)}")
    val want = survivorIds(below)
    assert(want.nonEmpty && want.intersect(Set(0L, 2L, 4L)).isEmpty)
    spark.conf.set("spark.graft.index.pendingBroadcastThreshold", "2")
    try {
      val above = index.minusPending(spark, "td_gate",
        spark.table(live("td_gate", "fps")), "id")
      val s = strategies(above)
      assert(s.contains("shuffled") && !s.contains("broadcast"),
        s"past the gate the anti-join must not broadcast: $s")
      assert(survivorIds(above) == want,
        "results must be identical on both sides of the gate")
      // the full probe path stays green past the gate too
      val batch = d.filter(F.col("doc_id") < 10)
        .select((F.col("doc_id") + 1000L).as("doc_id"), F.col("text"))
      val probed = index.probeExactIndex(spark, batch, "doc_id", "text",
        "td_gate").collect().map(_.getLong(1)).toSet
      assert(probed.nonEmpty && probed.intersect(Set(0L, 2L, 4L)).isEmpty)
    } finally
      spark.conf.unset("spark.graft.index.pendingBroadcastThreshold")
  }

  test("physical takedowns under the forced shuffled fallback equal the broadcast path") {
    // threshold 0 forces delJoin's shuffled branch in every rewrite —
    // the compaction-of-a-pathological-pending-set posture; results
    // must be identical to the broadcast path (the other tests)
    val d = corpus()
    val e = vectors()
    index.buildJaccardIndex(d, "doc_id", "text", "td_fb", buckets = 8)
    index.buildExactIndex(d, "doc_id", "text", "td_fb", buckets = 8)
    index.buildIvfIndex(e, "vec_id", "v", "td_fb", nlist = 4, iters = 2)
    val del = Seq(0L, 4L, 8L, 21L).toDF("doc_id")
    spark.conf.set("spark.graft.index.pendingBroadcastThreshold", "0")
    try {
      index.removeFromJaccardIndex(del, "doc_id", "td_fb")
      index.removeFromExactIndex(del, "doc_id", "td_fb")
      index.removeFromIvfIndex(del.withColumnRenamed("doc_id", "vec_id"),
        "vec_id", "td_fb")
    } finally
      spark.conf.unset("spark.graft.index.pendingBroadcastThreshold")
    val batch = d.filter(F.col("doc_id") < 10)
      .select((F.col("doc_id") + 1000L).as("doc_id"), F.col("text"))
    val got = probeHits("td_fb", batch)
    index.buildJaccardIndex(
      d.join(del.withColumnRenamed("doc_id", "_d"),
        F.col("doc_id") === F.col("_d"), "left_anti"),
      "doc_id", "text", "td_fb_rebuilt", buckets = 8)
    assert(got == probeHits("td_fb_rebuilt", batch),
      "fallback takedown != rebuild-on-survivors")
    // one file per bucket even on the fallback path (the explicit
    // grid repartition), and the grid itself survives for appends
    assert(dataFiles(live("td_fb", "buckets")).size <= 8,
      "fallback rewrite must still emit one file per bucket")
    val ex = index.probeExactIndex(spark, batch, "doc_id", "text",
      "td_fb").collect().map(_.getLong(1)).toSet
    assert(ex.nonEmpty && ex.intersect(Set(0L, 4L, 8L, 21L)).isEmpty)
    assert(spark.table(live("td_fb", "cells"))
      .filter(F.col("n_id").isin(0L, 4L, 8L, 21L)).count() == 0L)
  }

  test("deferTakedown auto-compacts when pending exceeds the configured ceiling") {
    val d = corpus()
    index.buildExactIndex(d, "doc_id", "text", "td_auto", buckets = 4)
    spark.conf.set("spark.graft.index.autoCompactPendingThreshold", "2")
    try {
      index.deferTakedown(Seq(0L).toDF("id"), "id", "td_auto")
      assert(spark.table(live("td_auto", "dels")).count() == 1L,
        "at or below the ceiling the defer stays O(batch) — no compaction")
      assert(spark.table(live("td_auto", "fps")).filter(F.col("id") === 0L)
        .count() == 1L)
      index.deferTakedown(Seq(2L, 4L).toDF("id"), "id", "td_auto")
      assert(spark.table(live("td_auto", "dels")).count() == 0L,
        "exceeding the ceiling must compact inline")
      assert(spark.table(live("td_auto", "fps"))
        .filter(F.col("id").isin(0L, 2L, 4L)).count() == 0L,
        "the inline compaction must physically purge all pending ids")
    } finally
      spark.conf.unset("spark.graft.index.autoCompactPendingThreshold")
  }

  /** Data files of a managed table at its catalog location, recursively
    * (partitioned tables nest under cell=N directories). */
  private def dataFiles(table: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        out += f.getPath.toString
    }
    out.toSeq
  }

  test("compactIndex folds append generations to one file per bucket/cell; reads unchanged") {
    val d = corpus()
    val e = vectors()
    index.buildJaccardIndex(d.filter(F.col("doc_id") < 20), "doc_id",
      "text", "td_cmp", buckets = 8)
    Seq((20L, 30L), (30L, 40L)).foreach { case (lo, hi) =>
      index.buildJaccardIndex(
        d.filter(F.col("doc_id") >= lo && F.col("doc_id") < hi),
        "doc_id", "text", "td_cmp", buckets = 8,
        mode = org.apache.spark.sql.SaveMode.Append)
    }
    index.buildIvfIndex(e.filter(F.col("vec_id") < 40), "vec_id", "v",
      "td_cmp", nlist = 4, iters = 2)
    index.buildIvfIndex(e.filter(F.col("vec_id") >= 40), "vec_id", "v",
      "td_cmp", mode = org.apache.spark.sql.SaveMode.Append)
    val batch = d.filter(F.col("doc_id") < 10)
      .select((F.col("doc_id") + 1000L).as("doc_id"), F.col("text"))
    val jacBefore = probeHits("td_cmp", batch)
    val ivfBefore = index.probeIvfIndex(spark,
        e.filter(F.col("vec_id") < 3), "vec_id", "v", "td_cmp",
        k = 4, nprobe = 4)
      .select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dataFiles(live("td_cmp", "buckets")).size > 8,
      "setup: three append generations must leave multiple files per bucket")
    val cellsBefore = dataFiles(live("td_cmp", "cells"))
      .groupBy(p => p.split("/").reverse.find(_.startsWith("cell=")).get)
    assert(cellsBefore.values.exists(_.size > 1),
      "setup: appended cells must hold multiple files")
    index.compactIndex(spark, "td_cmp")
    assert(dataFiles(live("td_cmp", "buckets")).size <= 8,
      s"buckets must fold to one file per bucket")
    assert(dataFiles(live("td_cmp", "sigs")).size <= 8)
    val cellsAfter = dataFiles(live("td_cmp", "cells"))
      .groupBy(p => p.split("/").reverse.find(_.startsWith("cell=")).get)
    assert(cellsAfter.values.forall(_.size == 1),
      "cells must fold to one file per cell")
    // stats folded to one row per bucket, still summing to live counts
    val multi = spark.table(live("td_cmp", "stats")).groupBy("band", "band_hash")
      .count().filter(F.col("count") > 1L).count()
    assert(multi == 0L, "stats append log must fold to one row per bucket")
    assert(probeHits("td_cmp", batch) == jacBefore,
      "jaccard probe must be identical after compaction")
    val ivfAfter = index.probeIvfIndex(spark,
        e.filter(F.col("vec_id") < 3), "vec_id", "v", "td_cmp",
        k = 4, nprobe = 4)
      .select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivfAfter == ivfBefore,
      "ivf probe must be identical after compaction")
    // params/properties survive; appends after compaction still work
    assert(index.readParams(spark, "td_cmp") == ((3, 64, 32)))
    index.buildJaccardIndex(
      d.filter(F.col("doc_id") === 0L)
        .select((F.col("doc_id") + 5000L).as("doc_id"), F.col("text")),
      "doc_id", "text", "td_cmp", buckets = 8,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(probeHits("td_cmp", batch).contains((1000L, 5000L)))
  }

  test("jaccard takedown runs at most one task per core per stage; one file per bucket") {
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    val cores = spark.sparkContext.defaultParallelism
    assert(cores < 8, s"setup: the grid must have more buckets than cores ($cores)")
    index.buildJaccardIndex(corpus(), "doc_id", "text", "td_grid", buckets = 8)
    val statsBefore = dataFiles(live("td_grid", "stats")).size
    val (_, ran) = obs.during(spark)(index.removeFromJaccardIndex(
      Seq(0L, 4L, 8L, 21L).toDF("doc_id"), "doc_id", "td_grid"))
    val tasks = ran.stageTasks
    assert(tasks.nonEmpty && tasks.forall(_ <= cores),
      s"every takedown stage must run at most $cores tasks: $tasks")
    Seq(live("td_grid", "buckets"), live("td_grid", "sigs")).foreach { t =>
      val ids = dataFiles(t).map(p =>
        BucketingUtils.getBucketId(new org.apache.hadoop.fs.Path(p).getName))
      assert(ids.size <= 8 && ids.forall(_.isDefined) &&
        ids.distinct.size == ids.size,
        s"$t must keep one file per bucket: ${ids.sortBy(_.getOrElse(-1))}")
    }
    val added = dataFiles(live("td_grid", "stats")).size - statsBefore
    assert(added >= 1 && added <= cores,
      s"the _stats decrement must append at most $cores files: $added")
  }

  test("pending-count cache: a writer's count serves probe construction in every session") {
    val docs = spark.range(0, 100).select(F.col("id").as("doc_id"),
      F.concat(F.lit("ps body "), F.col("id")).as("text"))
    index.buildExactIndex(docs, "doc_id", "text", "td_pshare", buckets = 4)
    index.deferTakedown(Seq(0L, 1L).toDF("doc_id"), "doc_id", "td_pshare")
    val other = spark.newSession()
    val (pending, ran) = obs.during(spark)(index.minusPending(other, "td_pshare",
      other.table(live("td_pshare", "fps")), "id"))
    assert(ran.jobs == 0,
      s"the defer's count must serve another session's gate: $ran")
    assert(pending.count() == 98L)
  }

  test("pending-count cache: the broadcast gate is served by writer-maintained counts") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    val docs = spark.range(0, 200).select(F.col("id").as("doc_id"),
      F.concat(F.lit("pc body "), F.col("id")).as("text"))
    index.buildExactIndex(docs, "doc_id", "text", "td_pcache", buckets = 4)
    def strategies(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case _: BroadcastHashJoinExec => "broadcast"
        case _: ShuffledHashJoinExec => "shuffled"
      }
    def pending() = index.minusPending(spark, "td_pcache",
      spark.table(live("td_pcache", "fps")), "id")
    spark.conf.set("spark.graft.index.pendingBroadcastThreshold", "5")
    try {
      index.deferTakedown(Seq(0L, 1L).toDF("doc_id"), "doc_id", "td_pcache")
      assert(strategies(pending()).contains("broadcast"))
      // OUT-OF-BAND append (bypassing deferTakedown — out of contract,
      // simulating an external writer): actual pending rows become 14,
      // over the gate, but the cached count is still 2 — probe
      // construction must NOT re-count, so the plan still broadcasts...
      (10L until 22L).toDF("id").write
        .mode(org.apache.spark.sql.SaveMode.Append).format("parquet")
        .saveAsTable(live("td_pcache", "dels"))
      val stale = pending()
      assert(strategies(stale).contains("broadcast"),
        "probe construction must serve the gate from the cache, not a count job")
      // ...and a stale gate can only flip strategy, never rows: all 14
      // pending ids are excluded regardless
      assert(stale.count() == 200L - 14L)
      // the next writer refreshes the count past the gate → shuffled
      index.deferTakedown(Seq(2L).toDF("doc_id"), "doc_id", "td_pcache")
      val s = strategies(pending())
      assert(s.contains("shuffled") && !s.contains("broadcast"),
        s"defer must refresh the cached gate count: $s")
      // compaction drains the pending set and refreshes to 0 → broadcast
      index.compactTakedowns(spark, "td_pcache")
      assert(spark.table(live("td_pcache", "dels")).count() == 0L)
      val drained = pending()
      assert(strategies(drained).contains("broadcast"))
      assert(drained.count() == 200L - 15L)
    } finally
      spark.conf.unset("spark.graft.index.pendingBroadcastThreshold")
  }

  test("retrainIvfIndex: rebuild-on-survivors geometry, pending folded, contract survives") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(F.col("vec_id").cast(org.apache.spark.sql.types.LongType)
        .as("vec_id"), F.col("embedding"))
    index.buildIvfIndex(e, "vec_id", "embedding", "td_rtivf", nlist = 8,
      iters = 0, sampleOneIn = 1L, portableSeed = true)
    val bankBefore = index.readIvfBank(spark, "td_rtivf")
    index.removeFromIvfIndex(
      e.filter(F.col("vec_id") % 3 === 1).select("vec_id"),
      "vec_id", "td_rtivf")
    index.deferTakedown(
      e.filter(F.col("vec_id") % 7 === 2).select("vec_id"),
      "vec_id", "td_rtivf")
    index.retrainIvfIndex(spark, "td_rtivf", iters = 0, sampleOneIn = 1L,
      portableSeed = true)
    // the new bank IS a fresh training run over the live survivors —
    // bit-strict (portable seeds, iters = 0 ⇒ seeds are the bank)
    val survivors = e.filter(F.col("vec_id") % 3 =!= 1
      && F.col("vec_id") % 7 =!= 2)
    val bankAfter = index.readIvfBank(spark, "td_rtivf")
    val expect = graft.functions.similarity.trainIvfCentroids(survivors,
      "vec_id", "embedding", 8, 0, 20000, 1L, portableSeed = true)
    assert(bankAfter.toSeq == expect.toSeq,
      "retrained bank must equal a fresh training run on the survivors")
    assert(bankAfter.toSeq != bankBefore.toSeq,
      "the removals change the md5 seed order — the bank must move")
    // pending ids are folded: physically absent AND drained from _dels
    assert(spark.table(live("td_rtivf", "dels")).count() == 0L)
    val ids = spark.table(live("td_rtivf", "cells")).select("n_id")
      .collect().map(_.getLong(0)).toSet
    val wantIds = survivors.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == wantIds, "cells must hold exactly the live survivors")
    // probe contract unchanged: nprobe = nlist is still brute force
    val got = index.probeIvfIndex(spark, e.filter(F.col("vec_id") < 6),
        "vec_id", "embedding", "td_rtivf", k = 4, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    val want = similarity.bruteForceTopK(survivors,
        e.filter(F.col("vec_id") < 6), "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    assert(got == want, "nprobe = nlist after retrain must stay brute force")
    // the lifecycle continues: an append assigns against the NEW bank
    index.buildIvfIndex(
      e.filter(F.col("vec_id") === 0L)
        .select((F.col("vec_id") + 9000L).as("vec_id"), F.col("embedding")),
      "vec_id", "embedding", "td_rtivf",
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(spark.table(live("td_rtivf", "cells"))
      .filter(F.col("n_id") === 9000L).count() == 1L)
  }

  test("retrainPqIndex: partial vector store aborts with the index intact; contract preserved") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(F.col("vec_id").cast(org.apache.spark.sql.types.LongType)
        .as("vec_id"), F.col("embedding"))
    index.buildPqIndex(e, "vec_id", "embedding", "td_rtpq", nlist = 4,
      m = 8, ksub = 8, ivfIters = 0, pqIters = 0, sampleOneIn = 1L,
      portableSeed = true, residual = true)
    val qs = e.filter(F.col("vec_id") < 4)
    def probe() = index.probePqIndex(spark, qs, "vec_id", "embedding",
        "td_rtpq", k = 3, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val before = probe()
    // a store covering only half the live ids must abort BEFORE any
    // flip — the standing generation keeps serving identically
    val err = intercept[IllegalArgumentException] {
      index.retrainPqIndex(e.filter(F.col("vec_id") % 2 === 0),
        "vec_id", "embedding", "td_rtpq", ivfIters = 0, pqIters = 0,
        sampleOneIn = 1L, portableSeed = true)
    }
    assert(err.getMessage.contains("missing"))
    // the fail-fast pre-check aborts BEFORE the encode, and a failed
    // operation leaves no unflipped generation behind
    assert(unflippedGenerations("td_rtpq").isEmpty,
      "a missing-id abort must leave no staged generation")
    assert(probe() == before, "a failed retrain must leave the index untouched")
    // a store with a DUPLICATE row for a live id passes the id-level
    // pre-check but must be caught by the staged distinct-id gate —
    // even when a duplicate would mask the row-count arithmetic
    val dup = intercept[IllegalArgumentException] {
      index.retrainPqIndex(
        e.unionByName(e.filter(F.col("vec_id") === 2L)),
        "vec_id", "embedding", "td_rtpq", ivfIters = 0, pqIters = 0,
        sampleOneIn = 1L, portableSeed = true)
    }
    assert(dup.getMessage.contains("exactly once"))
    assert(unflippedGenerations("td_rtpq").isEmpty,
      "a gate abort must drop the generation it staged")
    assert(probe() == before,
      "a duplicate-row abort must leave the index untouched")
    // full store: retrain succeeds and preserves the storage contract
    index.retrainPqIndex(e, "vec_id", "embedding", "td_rtpq",
      ivfIters = 0, pqIters = 0, sampleOneIn = 1L, portableSeed = true)
    val props = spark.sql(s"SHOW TBLPROPERTIES ${live("td_rtpq", "pqcells")}")
      .collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.dim") == "64" && props("graft.m") == "8"
      && props("graft.residual") == "true")
    // same corpus, same deterministic knobs ⇒ same banks ⇒ same probe
    assert(probe() == before,
      "retraining on the unchanged corpus must reproduce the build's ranking")
  }

  test("retrain RESIZE: nlist/m/ksub grow with the corpus; contracts still hold") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(F.col("vec_id").cast(org.apache.spark.sql.types.LongType)
        .as("vec_id"), F.col("embedding"))
    // IVF: resize 4 → 16 cells; nprobe = new nlist must STILL be the
    // brute force over the corpus (training-independent), and the bank
    // must carry the resized width for future appends/probes
    index.buildIvfIndex(e, "vec_id", "embedding", "td_rsivf", nlist = 4,
      iters = 0, sampleOneIn = 1L, portableSeed = true)
    index.retrainIvfIndex(spark, "td_rsivf", iters = 0, sampleOneIn = 1L,
      portableSeed = true, nlist = 16)
    assert(index.readIvfBank(spark, "td_rsivf").length == 16 * 65,
      "the resized bank must be nlist x (dim+1)")
    val qs = e.filter(F.col("vec_id") < 5)
    val got = index.probeIvfIndex(spark, qs, "vec_id", "embedding",
        "td_rsivf", k = 4, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    val want = similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
        k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    assert(got == want, "nprobe = resized nlist must stay brute force")
    // an append after the resize assigns against the 16-cell bank
    index.buildIvfIndex(
      e.filter(F.col("vec_id") === 0L)
        .select((F.col("vec_id") + 9100L).as("vec_id"), F.col("embedding")),
      "vec_id", "embedding", "td_rsivf",
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(spark.table(live("td_rsivf", "cells"))
      .filter(F.col("n_id") === 9100L).count() == 1L)
    // PQ: resize m 8 → 4 and ksub 8 → 16; the resized index must rank
    // exactly like the direct computation at the NEW widths (the
    // probe ≡ direct pin, post-resize), and the contract lands in
    // the stored properties
    index.buildPqIndex(e, "vec_id", "embedding", "td_rspq", nlist = 4,
      m = 8, ksub = 8, ivfIters = 0, pqIters = 0, sampleOneIn = 1L,
      portableSeed = true, residual = true)
    index.retrainPqIndex(e, "vec_id", "embedding", "td_rspq",
      ivfIters = 0, pqIters = 0, sampleOneIn = 1L, portableSeed = true,
      m = 4, ksub = 16)
    val props = spark.sql(s"SHOW TBLPROPERTIES ${live("td_rspq", "pqcells")}")
      .collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.m") == "4")
    assert(spark.table(live("td_rspq", "pqcells")).head()
      .getSeq[Int](1).length == 4, "codes must be m ints wide")
    val viaIndex = index.probePqIndex(spark, qs, "vec_id", "embedding",
        "td_rspq", k = 3, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val direct = similarity.ivfPqResidualTopK(e, qs, "vec_id", "embedding",
        k = 3, nlist = 4, nprobe = 4, m = 4, ksub = 16,
        pqIters = 0, ivfIters = 0, sampleOneIn = 1L, portableSeed = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(viaIndex == direct,
      "the resized index must reproduce the direct computation at the new widths")
    // residual flag is a semantic, not a width — it must survive
    assert(props("graft.residual") == "true")
  }

  test("rehashJaccardIndex: re-band from stored sets equals a rebuild at the new params") {
    val d = corpus()
    val batch = d.filter(F.col("doc_id") < 10)
      .select((F.col("doc_id") + 1000L).as("doc_id"), F.col("text"))
    // rehash path: build at (64, 32), re-band to (32, 32) — numPerm
    // AND bands both move; the text is never re-read
    index.buildJaccardIndex(d, "doc_id", "text", "td_rh", buckets = 8)
    index.rehashJaccardIndex(spark, "td_rh", numPerm = 32, bands = 32)
    assert(index.readParams(spark, "td_rh") == ((3, 32, 32)),
      "probes must read back the re-banded parameters")
    // rebuild path: same corpus, same target params, from text
    index.buildJaccardIndex(d, "doc_id", "text", "td_rh2", buckets = 8,
      numPerm = 32, bands = 32)
    val got = probeHits("td_rh", batch)
    assert(got == probeHits("td_rh2", batch),
      "re-band must be bit-equal to a rebuild at the new parameters")
    assert(got.nonEmpty)
    // the tables themselves agree (same grid, same rows)
    def rows(t: String) = spark.table(t)
      .collect().map(_.toSeq).toSet
    assert(rows(live("td_rh", "buckets")) == rows(live("td_rh2", "buckets")))
    assert(rows(live("td_rh", "stats")) == rows(live("td_rh2", "stats")))
    // appends after the re-band hash at the NEW parameters
    index.buildJaccardIndex(
      d.filter(F.col("doc_id") === 1L)
        .select((F.col("doc_id") + 7000L).as("doc_id"), F.col("text")),
      "doc_id", "text", "td_rh", buckets = 8, numPerm = 32, bands = 32,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(probeHits("td_rh", batch).contains((1001L, 7001L)))
    // k is immutable: the stored sets ARE k-shingle hashes
    val err = intercept[IllegalArgumentException](
      index.rehashJaccardIndex(spark, "td_rh", numPerm = 33, bands = 32))
    assert(err.getMessage.contains("divide"))
  }

  test("describeIndex tracks the lifecycle: counts and params move with each mutator") {
    val d = corpus()
    def desc() = index.describeIndex(spark, "td_desc")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(desc().isEmpty, "an unbuilt name must describe to zero rows")
    index.buildExactIndex(d, "doc_id", "text", "td_desc", buckets = 4)
    val d0 = desc()
    assert(d0("fps") == ((40L, "graft.canonicalize=false")))
    assert(!d0.contains("dels"))
    index.deferTakedown(Seq(0L, 4L, 8L).toDF("doc_id"), "doc_id", "td_desc")
    assert(desc()("dels")._1 == 3L, "the pending depth must be visible")
    index.compactTakedowns(spark, "td_desc")
    val d1 = desc()
    assert(d1("dels")._1 == 0L && d1("fps")._1 == 37L,
      "compaction must show as purged rows and a drained pending set")
    // the jaccard family under another name reports its hash params
    index.buildJaccardIndex(d, "doc_id", "text", "td_desc2", buckets = 4)
    val d2 = index.describeIndex(spark, "td_desc2")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(d2("buckets") == "graft.bands=32,graft.k=3,graft.numPerm=64")
    assert(d2.keySet == Set("buckets", "sigs", "stats"))
  }

  test("jaccard drift: a boilerplate append raises bucket_hot; re-band restamps to 1") {
    import spark.implicits._
    // day 1: distinct texts → near-uniform band buckets (baseline
    // stamped at build); day 2: 200 copies of ONE text appended —
    // every copy lands in the same band buckets, so the hot-bucket
    // ratio must rise well past the baseline (appends do not restamp
    // by design). rehashJaccardIndex is this family's retrain: it
    // restamps, so the ratio returns to EXACTLY 1 (the report
    // recomputes the same deterministic number the restamp wrote).
    // 8 md5-derived "words" per doc: no shared shingles, so day 1's
    // band buckets are near-uniform singletons
    val day1 = spark.range(0, 400).select(F.col("id").as("doc_id"),
      F.concat_ws(" ", (1 to 8).map(i =>
        F.md5(F.concat(F.col("id").cast("string"), F.lit(s"w$i")))): _*)
        .as("text"))
    index.buildJaccardIndex(day1, "doc_id", "text", "td_jdrift",
      k = 3, numPerm = 32, bands = 16, buckets = 4)
    def hot(): (Double, Option[Double]) = {
      val r = index.driftIndexReport(spark, "td_jdrift")
        .filter(F.col("family") === "jaccard" &&
          F.col("metric") === "bucket_hot").head()
      (r.getDouble(2), if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    }
    val (v0, r0) = hot()
    assert(r0.contains(1.0), s"freshly built index must sit on its baseline: $r0")
    val day2 = spark.range(10000, 10200).select(F.col("id").as("doc_id"),
      F.lit("boilerplate body repeated verbatim in every copy").as("text"))
    index.buildJaccardIndex(day2, "doc_id", "text", "td_jdrift",
      k = 3, numPerm = 32, bands = 16, buckets = 4,
      mode = org.apache.spark.sql.SaveMode.Append)
    val (v1, r1) = hot()
    assert(v1 > v0 && r1.exists(_ > 2.0),
      s"a 200-copy boilerplate append must blow up bucket_hot: $v0 -> $v1 ($r1)")
    index.rehashJaccardIndex(spark, "td_jdrift", numPerm = 32, bands = 16)
    val (_, r2) = hot()
    assert(r2.contains(1.0),
      s"a re-band restamps the geometry baseline — ratio must be exactly 1: $r2")
  }

  test("advisor: drift says retrain, backlog says compact, the remedies restore ok") {
    import spark.implicits._
    // The decision layer end-to-end on the IVF family: a fresh build
    // sits on its stamped baseline (every action ok), a far-field
    // append pushes the assignment ratio over the drift threshold
    // (action retrain), deferring that mass converts the problem from
    // drift to backlog (live corpus is clean again, pending_frac over
    // its threshold → compact), and running the advised verbs —
    // compact, then retrain's restamp — returns every row to ok.
    val e = vectors()
    index.buildIvfIndex(e, "vec_id", "v", "td_adv", nlist = 4, iters = 2)
    def advice(): Map[String, String] =
      index.adviseIndexMaintenance(spark, "td_adv").collect()
        .map(r => r.getString(1) -> r.getString(4)).toMap
    val a0 = advice()
    assert(a0.nonEmpty && a0.values.toSet == Set("ok"),
      s"fresh index must be all ok (ratios exactly 1): $a0")
    val drift = (0 until 120).map { i =>
      (1000L + i, (0 until 8).map(j => -40.0 + math.cos(i + j)))
    }.toDF("vec_id", "v")
    index.buildIvfIndex(drift, "vec_id", "v", "td_adv",
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(advice()("assign_mean") == "retrain",
      "far-field append mass must push assign_mean past the threshold")
    index.deferTakedown(drift.select("vec_id"), "vec_id", "td_adv")
    val a2 = advice()
    assert(a2("pending_frac") == "compact",
      s"120 pending of 180 physical is a compaction backlog: $a2")
    assert(a2("assign_mean") == "ok",
      "pending rows are excluded from the drift view — the live corpus is clean")
    index.compactTakedowns(spark, "td_adv")
    index.retrainIvfIndex(spark, "td_adv", iters = 2)
    val a3 = advice()
    assert(a3.values.toSet == Set("ok"),
      s"compact + retrain must clear every signal: $a3")
  }

  test("advisor: jaccard drift routes to reband; unstamped index says no_baseline") {
    import spark.implicits._
    // family routing: the Jaccard family's geometry is its banding
    // parameters, so its remedy is rehashJaccardIndex, not retrain
    val day1 = spark.range(0, 300).select(F.col("id").as("doc_id"),
      F.concat_ws(" ", (1 to 8).map(i =>
        F.md5(F.concat(F.col("id").cast("string"), F.lit(s"a$i")))): _*)
        .as("text"))
    index.buildJaccardIndex(day1, "doc_id", "text", "td_advj",
      k = 3, numPerm = 32, bands = 16, buckets = 4)
    val boiler = spark.range(5000, 5200).select(F.col("id").as("doc_id"),
      F.lit("advisor boilerplate body repeated verbatim").as("text"))
    index.buildJaccardIndex(boiler, "doc_id", "text", "td_advj",
      k = 3, numPerm = 32, bands = 16, buckets = 4,
      mode = org.apache.spark.sql.SaveMode.Append)
    val aj = index.adviseIndexMaintenance(spark, "td_advj").collect()
      .map(r => r.getString(1) -> r.getString(4)).toMap
    assert(aj("bucket_hot") == "reband",
      s"hot-bucket drift on the jaccard family must advise reband: $aj")
    // stamping off: the metric exists but cannot be judged — the
    // advisor says so instead of guessing
    spark.conf.set("spark.graft.index.driftBaseline", "false")
    try {
      index.buildExactIndex(day1, "doc_id", "text", "td_advnb", buckets = 4)
      index.buildIvfIndex(vectors(), "vec_id", "v", "td_advnb",
        nlist = 4, iters = 2)
      val nb = index.adviseIndexMaintenance(spark, "td_advnb").collect()
        .map(r => (r.getString(1), r.getString(4)))
      assert(nb.filter(_._1 != "pending_frac").forall(_._2 == "no_baseline"),
        s"unstamped drift metrics must report no_baseline: ${nb.toSeq}")
      assert(nb.collect { case ("pending_frac", a) => a }.toSet == Set("ok"),
        "pending fraction needs no baseline — exact and ivf rows both ok")
    } finally spark.conf.unset("spark.graft.index.driftBaseline")
  }

  test("executor: runs the advised verbs, clears every signal, idempotent-by-advice") {
    import spark.implicits._
    // drifted mass stays live (retrain must fire) while a slice of the
    // day-1 corpus is deferred (20/180 > 0.1 — compact must fire)
    val e = vectors()
    index.buildIvfIndex(e, "vec_id", "v", "td_exec", nlist = 4, iters = 2)
    val drift = (0 until 120).map { i =>
      (1000L + i, (0 until 8).map(j => -40.0 + math.cos(i + j)))
    }.toDF("vec_id", "v")
    index.buildIvfIndex(drift, "vec_id", "v", "td_exec",
      mode = org.apache.spark.sql.SaveMode.Append)
    index.deferTakedown(e.select("vec_id").limit(20), "vec_id", "td_exec")
    val out = index.runAdvisedMaintenance(spark, "td_exec",
        retrainIters = 2).collect()
      .map(r => (r.getString(1), r.getString(5))).toMap
    assert(out("pending_frac") == "done" && out("assign_mean") == "done",
      s"backlog and drift must both execute: $out")
    assert(spark.table(live("td_exec", "dels")).count() == 0L,
      "the executed compaction must drain the backlog")
    val post = index.adviseIndexMaintenance(spark, "td_exec").collect()
      .map(r => r.getString(1) -> r.getString(4)).toMap
    assert(post.values.toSet == Set("ok"),
      s"executed maintenance must clear every signal: $post")
    // re-running executes nothing: remedied signals advise ok
    val again = index.runAdvisedMaintenance(spark, "td_exec",
        retrainIters = 2).collect()
    assert(again.forall(_.getString(5) == "none"),
      s"second run must find nothing to do: ${again.toSeq}")
  }

  test("executor: pq retrain gates on the vector store, reband on a new budget") {
    import spark.implicits._
    // driftRatio = 0 makes every stamped ratio (exactly 1 on a fresh
    // build) advise its remedy — the gating contracts without drift
    val e = vectors()
    index.buildPqIndex(e, "vec_id", "v", "td_execpq",
      nlist = 2, m = 4, ksub = 4)
    val bankBefore = spark.table(live("td_execpq", "pqbank")).collect().toSet
    val pq0 = index.runAdvisedMaintenance(spark, "td_execpq",
        driftRatio = 0.0).collect()
      .filter(_.getString(4) == "retrain").map(_.getString(5)).toSet
    assert(pq0 == Set("needs_vectors"),
      s"pq retrain without a store must be advice, not action: $pq0")
    assert(spark.table(live("td_execpq", "pqbank")).collect().toSet == bankBefore,
      "gated retrain must leave the banks untouched")
    val pq1 = index.runAdvisedMaintenance(spark, "td_execpq",
        driftRatio = 0.0, pqVectors = Some((e, "vec_id", "v"))).collect()
      .filter(_.getString(4) == "retrain").map(_.getString(5)).toSet
    assert(pq1 == Set("done"), s"store provided -> executed: $pq1")
    val day1 = spark.range(0, 200).select(F.col("id").as("doc_id"),
      F.concat_ws(" ", (1 to 8).map(i =>
        F.md5(F.concat(F.col("id").cast("string"), F.lit(s"e$i")))): _*)
        .as("text"))
    index.buildJaccardIndex(day1, "doc_id", "text", "td_execj",
      k = 3, numPerm = 32, bands = 16, buckets = 4)
    val j0 = index.runAdvisedMaintenance(spark, "td_execj",
        driftRatio = 0.0).collect()
      .filter(_.getString(1) == "bucket_hot").map(_.getString(5)).toSet
    assert(j0 == Set("needs_params"),
      s"reband without a new banding budget must not run: $j0")
    val j1 = index.runAdvisedMaintenance(spark, "td_execj",
        driftRatio = 0.0, rebandTo = Some((64, 32))).collect()
      .filter(_.getString(1) == "bucket_hot").map(_.getString(5)).toSet
    assert(j1 == Set("done"), s"budget provided -> executed: $j1")
    assert(index.readParams(spark, "td_execj")._2 == 64,
      "the executed re-band must land the new banding budget")
  }

  test("takedown of unknown ids is a no-op; non-integral ids fail loudly") {
    val d = corpus()
    index.buildExactIndex(d, "doc_id", "text", "td_noop", buckets = 4)
    val before = spark.table(live("td_noop", "fps")).count()
    index.removeFromExactIndex(Seq(99999L).toDF("doc_id"), "doc_id",
      "td_noop")
    assert(spark.table(live("td_noop", "fps")).count() == before)
    val strIds = Seq("a").toDF("doc_id")
    Seq[(org.apache.spark.sql.DataFrame, String, String) => Unit](
      index.removeFromJaccardIndex, index.removeFromExactIndex,
      index.removeFromIvfIndex, index.removeFromPqIndex
    ).foreach { op =>
      assert(intercept[IllegalArgumentException](
        op(strIds, "doc_id", "td_noop")).getMessage.contains("integral"))
    }
  }
}
