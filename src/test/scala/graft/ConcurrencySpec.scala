package graft

import scala.concurrent.{Await, Future, ExecutionContext}
import scala.concurrent.duration._
import org.apache.spark.sql.{functions => F}
import graft.core._
import graft.dsl._
import graft.table.Table
import graft.functions._

/** Thread-safety of the shared-session surface: a service embedding
  * graft runs verb pipelines and extension operators from many threads
  * against ONE SparkSession. The auto-release cache listener
  * (dedup.releaseWhenConsumed), column-uuid generation, session
  * function registration and the compiler must all hold up — every
  * thread must get exactly the single-threaded answer. Unpersisting a
  * frame another thread still reads is allowed (Spark recomputes);
  * wrong rows are not. */
class ConcurrencySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newFixedThreadPool(8))

  test("concurrent verb pipelines return the single-threaded answer") {
    def run(): Seq[Seq[Any]] =
      Table.source(spark, dir, "orders")
        .filter(C("o_totalprice") > lit(100000.0))
        .mutate("bucket" -> C("o_orderkey") % lit(7L))
        .groupBy(C("bucket"))
        .summarize("n" -> count(),
          "sp" -> C("o_totalprice").cast(
            org.apache.spark.sql.types.DecimalType(18, 4)).sum())
        .arrange(C("bucket"))
        .collect().map(_.toSeq).toSeq
    val expected = run()
    val rounds = Future.sequence((1 to 12).map(_ => Future(run())))
    Await.result(rounds, 5.minutes).foreach(r => assert(r == expected))
  }

  test("inParallel lets every sibling finish before rethrowing the first failure") {
    // a sibling write still running after the throw would outlive the
    // caller's withLease scope
    val landed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](index.inParallel(Seq(
      () => throw new IllegalStateException("first write failed"),
      () => { Thread.sleep(1000); landed.set(true) })))
    assert(e.getMessage == "first write failed")
    assert(landed.get, "a sibling thunk was still running when inParallel threw")
  }

  test("concurrent LSH dedup (cached signature frames) stays correct") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def run(): Set[(Long, Long)] =
      dedup.jaccardPairsLsh(docs, "doc_id", "text",
          k = 3, numPerm = 32, bands = 16, minJ = 0.8)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = run()
    // 8 concurrent runs all persist + auto-release signature caches
    // through the shared listener; results must be identical even when
    // one run's release races another's read
    val rounds = Future.sequence((1 to 8).map(_ => Future(run())))
    Await.result(rounds, 5.minutes).foreach(s => assert(s == expected))
    dedup.unpersistAll()
  }

  test("concurrent ANN + quality scoring across threads") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val q = emb.limit(4)
    def ann(): Seq[(Long, Long, Long)] =
      similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3)
        .select("q_id", "n_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def quality(): Long =
      docs.select(text.qualityScore(F.col("text")).as("q"))
        .filter(F.col("q") > 0.5).count()
    val expAnn = ann(); val expQ = quality()
    val mixed = Future.sequence(
      (1 to 4).map(_ => Future(assert(ann() == expAnn))) ++
      (1 to 4).map(_ => Future(assert(quality() == expQ))))
    Await.result(mixed, 5.minutes)
  }

  test("concurrent fixture-session battery builds stay correct") {
    // the fuzz batteries share one cached clone per session and
    // override set (SparkEntry.clonedSession), whose conf is refreshed
    // on every call — concurrent builders must not corrupt each other
    // through the shared SessionState
    def run(): Seq[Seq[Any]] =
      graft.fuzz.DiffFuzz.joinQuery(spark, dir)
        .collect().map(_.toSeq).toSeq
    val expected = run()
    val rounds = Future.sequence((1 to 6).map(_ => Future(run())))
    Await.result(rounds, 5.minutes).foreach(r => assert(r == expected))
  }

  test("concurrent x85 replays on the shared replay clone stay correct") {
    // every streaming row replays in one cached clone per session:
    // concurrent replays must not collide on sinks, views or state
    def run(): Seq[Seq[Any]] =
      rowsDF(ExtQueries.x85StreamingWindow(spark, dir))
    val expected = run()
    assert(expected.nonEmpty)
    val rounds = Future.sequence((1 to 2).map(_ => Future(run())))
    Await.result(rounds, 5.minutes).foreach(r => assert(r == expected))
  }

  test("probes never fail while deferTakedown batches land concurrently") {
    // The deferred path's documented advantage over the physical
    // rewrites (index.scala module doc): a defer is an APPEND to the
    // live table — no new generation, nothing dropped — so live probe traffic is
    // safe during takedown ingestion. Pin it: one thread streams 20
    // defer batches while others probe continuously; every probe must
    // SUCCEED (no missing-table/missing-file error), never resurrect a
    // previously-pending id, and end-state excludes all deferred ids.
    import spark.implicits._
    val docs = spark.range(0, 400).select(F.col("id").as("doc_id"),
      F.concat(F.lit("probe body "), F.col("id")).as("text"))
    index.buildExactIndex(docs, "doc_id", "text", "cc_def", buckets = 4)
    val batch = docs.select((F.col("doc_id") + 5000L).as("doc_id"),
      F.col("text"))
    @volatile var deferredSoFar = Set.empty[Long]
    val writer = Future {
      (0 until 20).foreach { i =>
        val ids = (i * 20L until i * 20L + 20L)
        index.deferTakedown(ids.toDF("doc_id"), "doc_id", "cc_def")
        deferredSoFar ++= ids // after the append commits
      }
    }
    val probes = Future.sequence((1 to 4).map(_ => Future {
      var n = 0
      while (!writer.isCompleted) {
        // snapshot BEFORE the probe: ids in it were fully deferred
        // before this probe started and must already be hidden
        val before = deferredSoFar
        val got = index.probeExactIndex(spark, batch, "doc_id", "text",
          "cc_def").collect().map(_.getLong(1)).toSet
        assert(got.intersect(before).isEmpty,
          s"probe resurrected pending ids: ${got.intersect(before).take(5)}")
        n += 1
      }
      n
    }))
    Await.result(writer, 5.minutes)
    val counts = Await.result(probes, 5.minutes)
    assert(counts.sum > 0, "probes must have run during the defers")
    val fin = index.probeExactIndex(spark, batch, "doc_id", "text",
      "cc_def").collect().map(_.getLong(1)).toSet
    // the 20 batches covered the whole corpus — nothing may match
    assert(fin.isEmpty,
      s"end state must exclude every deferred id (got ${fin.size} hits)")
  }

  test("no defer is lost while compactTakedowns runs concurrently") {
    // The dels shrink at the end of compactTakedowns re-reads the
    // pending table and flips in a shrunk generation — the one write a
    // concurrent deferTakedown could race. The in-process dels writer
    // lock (index.scala delsLock) closes that window: a defer landing
    // during the long purge phase survives the shrink via the
    // anti-join against the pinned purge set, and a defer racing the
    // shrink itself blocks until the new generation is live. Pin it:
    // one thread streams 40 defer batches while the main thread runs
    // back-to-back
    // compactions; afterwards every id ever deferred must be purged —
    // a lost batch would leave its fingerprints behind.
    import spark.implicits._
    val docs = spark.range(0, 2000).select(F.col("id").as("doc_id"),
      F.concat(F.lit("cc cmp body "), F.col("id")).as("text"))
    index.buildExactIndex(docs, "doc_id", "text", "cc_cmp", buckets = 4)
    val writer = Future {
      (0 until 40).foreach { i =>
        index.deferTakedown((i * 50L until i * 50L + 50L).toDF("doc_id"),
          "doc_id", "cc_cmp")
      }
    }
    var compactions = 0
    while (!writer.isCompleted) {
      index.compactTakedowns(spark, "cc_cmp")
      compactions += 1
    }
    Await.result(writer, 5.minutes)
    assert(compactions > 1, "compactions must have raced the defers")
    // fold whatever was still pending when the writer finished
    index.compactTakedowns(spark, "cc_cmp")
    assert(spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(live("cc_cmp", "dels"))))
    assert(spark.table(live("cc_cmp", "dels")).count() == 0L,
      "the final compaction must drain every pending id")
    assert(spark.table(live("cc_cmp", "fps")).count() == 0L,
      "a defer lost to the shrink race leaves its fingerprints unpurged")
  }

  test("concurrent defers over the auto-compact ceiling: one compaction at a time, none lost") {
    // The inline auto-compaction guard (index.scala deferTakedown):
    // several defer threads crossing the pending ceiling together must
    // not run compactTakedowns concurrently — one compaction's staged
    // generations would collide with another's in-flight flip.
    // With the per-name guard, losers SKIP and the next defer past the
    // ceiling re-triggers. Pin the end-to-end invariant: 4 writer
    // threads × 15 batches under a low ceiling, no thread throws, and
    // after a final explicit compaction every id ever deferred is
    // physically purged — a lost defer or a collided rewrite leaves
    // fingerprints behind (or a crashed flip loses a table).
    import spark.implicits._
    val docs = spark.range(0, 1200).select(F.col("id").as("doc_id"),
      F.concat(F.lit("ac body "), F.col("id")).as("text"))
    index.buildExactIndex(docs, "doc_id", "text", "cc_auto", buckets = 4)
    spark.conf.set("spark.graft.index.autoCompactPendingThreshold", "10")
    try {
      val writers = Future.sequence((0 until 4).map(t => Future {
        (0 until 15).foreach { i =>
          val base = (t * 15 + i) * 20L
          index.deferTakedown((base until base + 20L).toDF("doc_id"),
            "doc_id", "cc_auto")
        }
      }))
      Await.result(writers, 5.minutes)
      index.compactTakedowns(spark, "cc_auto")
      assert(spark.table(live("cc_auto", "dels")).count() == 0L,
        "the final compaction must drain every pending id")
      assert(spark.table(live("cc_auto", "fps")).count() == 0L,
        "a defer lost to a racing inline compaction leaves fingerprints")
    } finally
      spark.conf.unset("spark.graft.index.autoCompactPendingThreshold")
  }

  test("probes during rename-aside swaps converge under bounded retry") {
    // The reader contract for maintenance overlapping live probes
    // (index.scala commit): each compactIndex stages a new generation
    // and flips the manifest in one catalog write; probe CONSTRUCTION
    // resolves every table from one manifest snapshot and re-resolves
    // if a flip dropped what it resolved (withFamily), and a probe
    // whose EXECUTION overlaps the drop may fail once on missing
    // files — the documented residue — so callers retry the probe.
    // Pin both halves: one thread runs back-to-back compactIndex
    // flips (file compaction — reads are identical before and after,
    // so every probe has ONE right answer), the others probe in a
    // loop with a bounded whole-probe retry; every probe must
    // eventually return exactly the expected rows, within the bound.
    import spark.implicits._
    val docs = spark.range(0, 300).select(F.col("id").as("doc_id"),
      F.concat(F.lit("swap body "), F.col("id")).as("text"))
    index.buildExactIndex(docs, "doc_id", "text", "cc_swap", buckets = 4)
    index.buildJaccardIndex(docs, "doc_id", "text", "cc_swap",
      k = 3, numPerm = 16, bands = 8, buckets = 4)
    val batch = docs.limit(50).select((F.col("doc_id") + 7000L)
      .as("doc_id"), F.col("text"))
    def probeOnce(): Set[Long] =
      index.probeExactIndex(spark, batch, "doc_id", "text", "cc_swap")
        .collect().map(_.getLong(1)).toSet
    val expected = probeOnce()
    assert(expected.size == 50)
    val swapper = Future {
      (0 until 6).foreach(_ => index.compactIndex(spark, "cc_swap"))
    }
    val probes = Future.sequence((1 to 3).map(_ => Future {
      var n = 0
      while (!swapper.isCompleted) {
        var attempts = 0
        var got: Option[Set[Long]] = None
        while (got.isEmpty) {
          try got = Some(probeOnce())
          catch {
            case _: Exception if attempts < 10 =>
              attempts += 1; Thread.sleep(50)
          }
        }
        assert(got.get == expected,
          s"probe under swap returned wrong rows (attempt $attempts)")
        n += 1
      }
      n
    }))
    Await.result(swapper, 5.minutes)
    assert(Await.result(probes, 5.minutes).sum > 0,
      "probes must have run during the swaps")
    assert(probeOnce() == expected)
  }

  test("a foreign writer lease fails mutators loudly; releaseStaleLease recovers") {
    // The cross-driver lease (index.scala): a second driver process
    // mutating the same index is detected through the stamp on
    // `<name>_lease`, converting silent generation collisions into a loud
    // error. Simulate the foreign driver by stamping a token this JVM
    // does not hold; every mutator class must refuse — the window
    // starter (compactIndex), the physical takedown, AND the
    // out-of-window defer writer — and the index must be untouched.
    import spark.implicits._
    val docs = spark.range(0, 100).select(F.col("id").as("doc_id"),
      F.concat(F.lit("lease body "), F.col("id")).as("text"))
    index.buildExactIndex(docs, "doc_id", "text", "cc_lease", buckets = 4)
    // one prior window creates the lease table and clears its stamp
    index.compactIndex(spark, "cc_lease")
    spark.sql("ALTER TABLE cc_lease_lease SET TBLPROPERTIES(" +
      "'graft.writer'='foreign-driver-token')")
    val before = spark.table(live("cc_lease", "fps")).count()
    val e1 = intercept[IllegalStateException] {
      index.compactIndex(spark, "cc_lease")
    }
    assert(e1.getMessage.contains("foreign-driver-token")
      && e1.getMessage.contains("releaseStaleLease"))
    val e2 = intercept[IllegalStateException] {
      index.removeFromExactIndex(Seq(1L).toDF("doc_id"), "doc_id",
        "cc_lease")
    }
    assert(e2.getMessage.contains("foreign-driver-token"))
    val e3 = intercept[IllegalStateException] {
      index.deferTakedown(Seq(2L).toDF("doc_id"), "doc_id", "cc_lease")
    }
    assert(e3.getMessage.contains("foreign-driver-token"))
    assert(spark.table(live("cc_lease", "fps")).count() == before,
      "refused mutators must leave the index untouched")
    assert(!spark.catalog.tableExists(live("cc_lease", "dels")),
      "a refused defer must not have appended")
    // recovery: clear the abandoned stamp, then mutate normally
    index.releaseStaleLease(spark, "cc_lease")
    index.removeFromExactIndex(Seq(1L).toDF("doc_id"), "doc_id", "cc_lease")
    assert(spark.table(live("cc_lease", "fps")).count() == before - 1)
  }
}
