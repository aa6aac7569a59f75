package graft

import org.apache.spark.sql.{functions => F}
import graft.functions.{dedup, index}

/** Incremental connected components as index state
  * ([[graft.functions.index.buildComponentMap]] /
  * `appendComponentEdges` / `readComponentMap` / `compactComponentMap`):
  * day-by-day appends must EXACTLY equal the full recompute over the
  * union of all edges — merges across days included — and compaction
  * must be invisible to readers. */
class ComponentMapSpec extends SparkSpec {
  import spark.implicits._

  /** deterministic scattered edge stream over ids [0, n): chains,
    * stars, and cross-day bridges (edge day = max endpoint day, the
    * arrival order of a daily pipeline) */
  private def syntheticGraph(n: Int): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(20260815L)
    val nodes = (0L until n.toLong)
    val edges = Seq.newBuilder[(Long, Long)]
    nodes.foreach { i =>
      if (i % 7 == 0 && i + 3 < n) edges += ((i, i + 3)) // chains
      if (i % 11 == 0 && i + 9 < n) edges += ((i + 9, i)) // reversed
      if (rnd.nextInt(5) == 0) { // random bridges (the merge fuel)
        val j = rnd.nextInt(n).toLong
        if (j != i) edges += ((i, j))
      }
    }
    (nodes, edges.result())
  }

  private def day(id: Long): Int = (id % 3).toInt

  test("3-day incremental replay equals the full recompute (that IS the contract)") {
    val (nodes, edges) = syntheticGraph(600)
    val nodesDf = nodes.toDF("id").cache()
    val edgesDf = edges.toDF("id_a", "id_b").cache()
    // day d inserts nodes with id % 3 = d and the edges whose LATEST
    // endpoint arrives that day — every edge appended exactly once
    index.buildComponentMap(
      nodesDf.filter(F.col("id") % 3 === 0),
      edgesDf.filter(F.greatest(F.col("id_a") % 3, F.col("id_b") % 3) === 0),
      "id", "cmspec")
    (1 to 2).foreach { d =>
      index.appendComponentEdges(
        nodesDf.filter(F.col("id") % 3 === d),
        edgesDf.filter(
          F.greatest(F.col("id_a") % 3, F.col("id_b") % 3) === d),
        "id", "cmspec")
    }
    val got = index.readComponentMap(spark, "cmspec").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = dedup.connectedComponents(edgesDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = nodes.map(i => i -> full.getOrElse(i, i)).toMap
    assert(got == want,
      s"incremental != full recompute; diffs: ${
        (got.toSet diff want.toSet).take(5)} / ${
        (want.toSet diff got.toSet).take(5)}")
    // the keep rule: every component label is the component's min id
    got.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"component $c is not its min id")
    }
    // compaction folds the remap into the map without changing reads
    val remapBefore = spark.table(live("cmspec", "cremap")).count()
    assert(remapBefore > 0, "the replay must have produced real merges")
    index.compactComponentMap(spark, "cmspec")
    val afterCompact = index.readComponentMap(spark, "cmspec").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterCompact == want, "compaction changed the resolution")
    assert(spark.table(live("cmspec", "cremap")).count() == 0L)
    // and appends keep working after a compaction: bridge two existing
    // components with a fresh node and check the merged label
    val bigNode = 100000L
    val reps = afterCompact.values.toSeq.distinct.sorted.takeRight(2)
    index.appendComponentEdges(
      Seq(bigNode).toDF("id"),
      Seq((bigNode, reps(0)), (bigNode, reps(1))).toDF("id_a", "id_b"),
      "id", "cmspec")
    val merged = index.readComponentMap(spark, "cmspec").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectRep = math.min(reps(0), reps(1)) // bigNode is larger
    val family = want.filter(kv => reps.contains(kv._2)).keys.toSet + bigNode
    family.foreach(idv => assert(merged(idv) == expectRep,
      s"post-compaction merge wrong for $idv: ${merged(idv)} != $expectRep"))
    nodesDf.unpersist(); edgesDf.unpersist()
  }

  test("takedown: deletion equals the full recompute over surviving edges, splits included") {
    // chain 10-11-12-13-14: removing the bridge (12) must SPLIT the
    // family into {10,11} and {13,14} — the case no label rewrite can
    // express; star 20-{21,22,23}: removing the hub isolates the leaves
    val nodes = (10L to 14L) ++ (20L to 23L) ++ Seq(30L, 31L)
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L), (20L, 22L), (20L, 23L), (30L, 31L))
    index.buildComponentMap(nodes.toDF("id"),
      edges.toDF("id_a", "id_b"), "id", "cmdel")
    index.removeComponentIds(Seq(12L, 20L).toDF("id"), "id", "cmdel")
    val got = index.readComponentMap(spark, "cmdel").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val surviving = edges.filter { case (a, b) =>
      a != 12L && b != 12L && a != 20L && b != 20L }
    val full = dedup.connectedComponents(surviving.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = nodes.filterNot(Seq(12L, 20L).contains)
      .map(i => i -> full.getOrElse(i, i)).toMap
    assert(got == want, s"$got != $want")
    assert(got(10L) == 10L && got(11L) == 10L &&
      got(13L) == 13L && got(14L) == 13L, "the chain must split at 12")
    assert(got(21L) == 21L && got(22L) == 22L && got(23L) == 23L,
      "removing the hub must isolate the star's leaves")
    // appends keep working after a takedown: re-bridge the split chain
    index.appendComponentEdges(Seq(40L).toDF("id"),
      Seq((40L, 11L), (40L, 13L)).toDF("id_a", "id_b"), "id", "cmdel")
    val re = index.readComponentMap(spark, "cmdel").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(10L, 11L, 13L, 14L, 40L).foreach(i =>
      assert(re(i) == 10L, s"re-bridged family must re-merge: $re"))
    // a takedown of ids never inserted is a no-op
    index.removeComponentIds(Seq(999L).toDF("id"), "id", "cmdel")
    assert(index.readComponentMap(spark, "cmdel").count() == re.size)
  }

  test("takedown composes with merges and compaction across days") {
    // day 1: two families {0,1} and {2,3}; day 2: 4 bridges them (one
    // component, remap gains 2→0); then delete the bridge — the split
    // must restore the ORIGINAL two families exactly
    index.buildComponentMap(Seq(0L, 1L, 2L, 3L).toDF("id"),
      Seq((0L, 1L), (2L, 3L)).toDF("id_a", "id_b"), "id", "cmdel2")
    index.appendComponentEdges(Seq(4L).toDF("id"),
      Seq((4L, 1L), (4L, 3L)).toDF("id_a", "id_b"), "id", "cmdel2")
    val merged = index.readComponentMap(spark, "cmdel2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged.values.toSet == Set(0L), s"bridge must merge all: $merged")
    index.removeComponentIds(Seq(4L).toDF("id"), "id", "cmdel2")
    val split = index.readComponentMap(spark, "cmdel2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(split == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L),
      s"takedown of the bridge must restore the original families: $split")
    // compaction after a takedown keeps reads identical
    index.compactComponentMap(spark, "cmdel2")
    val compacted = index.readComponentMap(spark, "cmdel2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compacted == split)
  }

  test("takedown above the local-affected cap takes the distributed path, same result") {
    // the affected-label set is driver-collected only below
    // spark.graft.cmap.localAffectedThreshold; at 0 every takedown is
    // forced onto the localCheckpoint (distributed) materialization,
    // which must be invisible to readers — same splits, same labels
    val nodes = (10L to 14L) ++ Seq(30L, 31L)
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (30L, 31L))
    index.buildComponentMap(nodes.toDF("id"),
      edges.toDF("id_a", "id_b"), "id", "cmdel3")
    spark.conf.set("spark.graft.cmap.localAffectedThreshold", "0")
    try index.removeComponentIds(Seq(12L).toDF("id"), "id", "cmdel3")
    finally spark.conf.unset("spark.graft.cmap.localAffectedThreshold")
    val got = index.readComponentMap(spark, "cmdel3").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 13L -> 13L, 14L -> 13L,
      30L -> 30L, 31L -> 30L), s"distributed-path takedown drifted: $got")
  }

  test("non-integral ids fail loudly in every component-map entry point") {
    val strNodes = Seq("a", "b").toDF("id")
    val strPairs = Seq(("a", "b")).toDF("id_a", "id_b")
    val okNodes = Seq(1L, 2L).toDF("id")
    val okPairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    assert(intercept[IllegalArgumentException](
      index.buildComponentMap(strNodes, strPairs, "id", "cmbad"))
      .getMessage.contains("integral"))
    assert(intercept[IllegalArgumentException](
      index.buildComponentMap(okNodes, strPairs, "id", "cmbad"))
      .getMessage.contains("integral"))
    index.buildComponentMap(okNodes, okPairs, "id", "cmbad")
    assert(intercept[IllegalArgumentException](
      index.appendComponentEdges(strNodes, okPairs, "id", "cmbad"))
      .getMessage.contains("integral"))
    assert(intercept[IllegalArgumentException](
      index.removeComponentIds(strNodes, "id", "cmbad"))
      .getMessage.contains("integral"))
  }

  test("empty day is a no-op; edges to unmapped ids don't invent rows") {
    index.buildComponentMap(Seq(1L, 2L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), "id", "cmspec2")
    index.appendComponentEdges(
      Seq.empty[Long].toDF("id"),
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id", "cmspec2")
    val got = index.readComponentMap(spark, "cmspec2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L))
    // an edge to an id that was never inserted resolves the known side
    // but does not add a row for the stranger
    index.appendComponentEdges(Seq(5L).toDF("id"),
      Seq((5L, 999L)).toDF("id_a", "id_b"), "id", "cmspec2")
    val got2 = index.readComponentMap(spark, "cmspec2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.keySet == Set(1L, 2L, 5L))
  }
}
