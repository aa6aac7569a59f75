package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.functions.index

/** Crash injection for the index generation commit: a multi-table
  * mutator stages every table it rewrites under a fresh name and makes
  * them live with ONE manifest flip. A fault anywhere before that flip
  * — after any staged write, or just before the flip itself — must
  * leave readers on the old generation: same probe results, same
  * describeIndex, no staged table left in the catalog or the warehouse,
  * and the lease stamp cleared. Each op then runs to success and must
  * equal the same op on an untouched twin index. */
class IndexCommitSpec extends SparkSpec {
  import spark.implicits._

  private final class InjectedFault(label: String)
    extends RuntimeException(s"injected fault at $label")

  /** Runs `op` with the commit hook throwing at its `n`-th call; true
    * if the fault fired, false if `op` completed first. */
  private def failingAt(n: Int)(op: => Unit): Boolean = {
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    index.commitHook = label =>
      if (calls.incrementAndGet() == n) throw new InjectedFault(label)
    try { op; false }
    catch { case _: InjectedFault => true }
    finally index.commitHook = _ => ()
  }

  private def describe(name: String): Map[String, (Long, String)] =
    index.describeIndex(spark, name).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap

  private def leaseCleared(name: String): Boolean =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        s"${name}_lease"))
      .properties.get("graft.writer").forall(_.isEmpty)

  /** Fail `op` at every commit-hook call in turn — `hooks` of them —
    * checking after each fault that readers still see the pre-op state;
    * then let `op` succeed and compare it with `op` on `twin`. */
  private def crashEveryStep(name: String, twin: String, hooks: Int)
      (probe: String => Any)(op: String => Unit): Unit = {
    val pre = probe(name)
    val preDesc = describe(name)
    var n = 1
    while (failingAt(n)(op(name))) {
      assert(probe(name) == pre, s"fault $n: probe results moved")
      assert(describe(name) == preDesc, s"fault $n: describeIndex moved")
      assert(unflippedGenerations(name).isEmpty,
        s"fault $n left staged tables: ${unflippedGenerations(name)}")
      assert(leaseCleared(name), s"fault $n left the lease stamped")
      n += 1
    }
    assert(n - 1 == hooks, s"expected $hooks commit steps, saw ${n - 1}")
    op(twin)
    assert(probe(name) == probe(twin),
      "the op after every fault must equal the op on an untouched index")
    assert(describe(name) == describe(twin))
    assert(unflippedGenerations(name).isEmpty)
  }

  /** 40 docs; doc i and doc i+20 share a 12-word body (i < 10). */
  private def corpus(): DataFrame = {
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    (0 until 40).map { i =>
      val words = (0 until 12).map(j => pool((i % 20 + j * (1 + i % 3)) % 12))
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** 60 8-dim vectors in 3 well-separated clusters. */
  private def vectors(): DataFrame = (0 until 60).map { i =>
    val c = i % 3
    val v = (0 until 8).map(j =>
      10.0 * c + math.sin(i * 0.7 + j) * 0.5 + (if (j == c) 3.0 else 0.0))
    (i.toLong, v)
  }.toDF("vec_id", "v")

  private val batch = corpus().filter(F.col("doc_id") < 10)
    .select((F.col("doc_id") + 1000L).as("doc_id"), F.col("text"))

  private def jaccardHits(name: String): Set[(Long, Long)] =
    index.probeJaccardIndex(spark, batch, "doc_id", "text", name,
        minJ = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def ivfHits(name: String): Set[(Long, Long, Long)] =
    index.probeIvfIndex(spark, vectors().filter(F.col("vec_id") < 6),
        "vec_id", "v", name, k = 4, nprobe = 2)
      .select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def componentMap(name: String): Map[Long, Long] =
    index.readComponentMap(spark, name).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("removeFromJaccardIndex: a fault at any step leaves the old generation") {
    Seq("cs_rj", "cs_rj_twin").foreach(n =>
      index.buildJaccardIndex(corpus(), "doc_id", "text", n, buckets = 4))
    crashEveryStep("cs_rj", "cs_rj_twin", hooks = 3)(jaccardHits) { n =>
      index.removeFromJaccardIndex(Seq(0L, 4L, 8L, 21L).toDF("doc_id"),
        "doc_id", n)
    }
    assert(!jaccardHits("cs_rj").exists(p => Set(0L, 4L, 8L, 21L)(p._2)))
  }

  test("compactIndex: a fault at any step leaves the old generation") {
    val d = corpus()
    val e = vectors()
    Seq("cs_ci", "cs_ci_twin").foreach { n =>
      index.buildJaccardIndex(d.filter(F.col("doc_id") < 20), "doc_id",
        "text", n, buckets = 4)
      index.buildJaccardIndex(d.filter(F.col("doc_id") >= 20), "doc_id",
        "text", n, buckets = 4, mode = org.apache.spark.sql.SaveMode.Append)
      index.buildExactIndex(d, "doc_id", "text", n, buckets = 4)
      index.buildIvfIndex(e, "vec_id", "v", n, nlist = 4, iters = 0,
        sampleOneIn = 1L, portableSeed = true)
    }
    def probes(n: String) = (jaccardHits(n), ivfHits(n),
      index.probeExactIndex(spark, batch, "doc_id", "text", n)
        .collect().map(_.getLong(1)).toSet)
    crashEveryStep("cs_ci", "cs_ci_twin", hooks = 5)(probes) { n =>
      index.compactIndex(spark, n)
    }
  }

  test("rehashJaccardIndex: a fault at any step leaves the old banding") {
    Seq("cs_rh", "cs_rh_twin").foreach(n =>
      index.buildJaccardIndex(corpus(), "doc_id", "text", n, buckets = 4))
    crashEveryStep("cs_rh", "cs_rh_twin", hooks = 3)(n =>
      (jaccardHits(n), index.readParams(spark, n))) { n =>
      index.rehashJaccardIndex(spark, n, numPerm = 32, bands = 16)
    }
    assert(index.readParams(spark, "cs_rh") == ((3, 32, 16)))
  }

  test("retrainIvfIndex: a fault at any step leaves cells, bank and pending set together") {
    Seq("cs_ri", "cs_ri_twin").foreach { n =>
      index.buildIvfIndex(vectors(), "vec_id", "v", n, nlist = 4,
        iters = 0, sampleOneIn = 1L, portableSeed = true)
      index.deferTakedown(Seq(3L, 10L).toDF("vec_id"), "vec_id", n)
    }
    crashEveryStep("cs_ri", "cs_ri_twin", hooks = 4)(n =>
      (ivfHits(n), index.readIvfBank(spark, n).toSeq)) { n =>
      index.retrainIvfIndex(spark, n, iters = 0, sampleOneIn = 1L,
        portableSeed = true, nlist = 3)
    }
  }

  test("retrainPqIndex: a fault at any step leaves codes, banks and pending set together") {
    val e = vectors()
    Seq("cs_rp", "cs_rp_twin").foreach { n =>
      index.buildPqIndex(e, "vec_id", "v", n, nlist = 3, m = 4, ksub = 8,
        ivfIters = 0, pqIters = 0, sampleOneIn = 1L, portableSeed = true,
        residual = true)
      index.deferTakedown(Seq(5L).toDF("vec_id"), "vec_id", n)
    }
    def pqHits(n: String) =
      index.probePqIndex(spark, e.filter(F.col("vec_id") < 4), "vec_id",
          "v", n, k = 3, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    crashEveryStep("cs_rp", "cs_rp_twin", hooks = 4)(pqHits) { n =>
      index.retrainPqIndex(e, "vec_id", "v", n, ivfIters = 0, pqIters = 0,
        sampleOneIn = 1L, portableSeed = true, m = 2)
    }
  }

  /** Two families merged on day 2 (the remap is non-empty), plus a
    * bridge doc 3 whose removal splits family 1. */
  private def buildMap(n: String): Unit = {
    index.buildComponentMap(Seq(1L, 2L, 3L, 4L, 5L).toDF("id"),
      Seq((1L, 3L), (3L, 2L), (4L, 5L)).toDF("id_a", "id_b"), "id", n)
    index.appendComponentEdges(Seq(6L, 7L).toDF("id"),
      Seq((6L, 2L), (6L, 4L)).toDF("id_a", "id_b"), "id", n)
  }

  test("compactComponentMap: a fault at any step leaves map, edges and remap together") {
    Seq("cs_cm", "cs_cm_twin").foreach(buildMap)
    assert(spark.table(live("cs_cm", "cremap")).count() > 0L,
      "setup: day 2 must merge families")
    crashEveryStep("cs_cm", "cs_cm_twin", hooks = 4)(componentMap) { n =>
      index.compactComponentMap(spark, n)
    }
    assert(spark.table(live("cs_cm", "cremap")).count() == 0L)
  }

  test("removeComponentIds: a fault at any step leaves map, edges and remap together") {
    Seq("cs_rc", "cs_rc_twin").foreach(buildMap)
    crashEveryStep("cs_rc", "cs_rc_twin", hooks = 4)(componentMap) { n =>
      index.removeComponentIds(Seq(3L).toDF("id"), "id", n)
    }
    assert(!componentMap("cs_rc").contains(3L))
  }

  test("the next window sweeps a generation a crashed process left unflipped") {
    index.buildExactIndex(corpus(), "doc_id", "text", "cs_sw", buckets = 4)
    // a staged table and a bare directory, as a process killed between
    // its write and its flip leaves them
    spark.table(live("cs_sw", "fps")).write.format("parquet")
      .saveAsTable("cs_sw_fps_g7_1")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .mkdirs(new org.apache.hadoop.fs.Path(wh, "cs_sw_dels_g7_2"))
    assert(unflippedGenerations("cs_sw").toSet ==
      Set("cs_sw_fps_g7_1", "cs_sw_dels_g7_2"))
    index.removeFromExactIndex(Seq(1L).toDF("doc_id"), "doc_id", "cs_sw")
    assert(unflippedGenerations("cs_sw").isEmpty)
    assert(spark.table(live("cs_sw", "fps")).count() == 39L)
  }
}
