package graft

import org.apache.spark.sql.{functions => F}
import graft.functions.layout

/** Bucketing must remove the join shuffle entirely. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Count shuffle exchanges sitting DIRECTLY on a scan of the named
    * index's corpus tables (`_buckets` / `_sigs`) — any hit means the
    * index side itself is being reshuffled. The `_stats` table is
    * exempt: it is per-bucket COUNT metadata (one row per distinct band
    * bucket, ~nothing next to the corpus), and the probe re-aggregates
    * it by design to fold appended batches. */
  private def reshuffledIndexScans(
      plan: org.apache.spark.sql.execution.SparkPlan, prefix: String): Int = {
    def unaryLeaf(p: org.apache.spark.sql.execution.SparkPlan):
        org.apache.spark.sql.execution.SparkPlan =
      if (p.children.size == 1) unaryLeaf(p.children.head) else p
    plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        unaryLeaf(e.child) match {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.tableIdentifier.exists(t =>
                t.table.startsWith(prefix) && !t.table.endsWith("_stats")) => 1
          case _ => 0
        }
    }.sum
  }

  test("bucketized tables join with zero shuffle exchanges") {
    val facts = (1 to 1000).map(i => (i.toLong % 50, i.toDouble)).toDF("k", "v")
    val dims = (0 to 49).map(i => (i.toLong, s"d$i")).toDF("k", "label")
    // AQE rewrites can hide exchanges in compiled stages; keep the
    // assertion on the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      layout.bucketize(facts, "graft_facts_b", Seq("k"), buckets = 8)
      layout.bucketize(dims, "graft_dims_b", Seq("k"), buckets = 8)
      val joined = layout.coLocatedJoin(spark, "graft_facts_b", "graft_dims_b", Seq("k"))
      assert(layout.shuffleCount(joined) == 0, joined.queryExecution.executedPlan.toString)
      assert(joined.count() == 1000)
      // the same join on unbucketed frames shuffles both sides
      val plain = facts.join(dims, Seq("k"))
      assert(layout.shuffleCount(plain) > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_facts_b")
      spark.sql("DROP TABLE IF EXISTS graft_dims_b")
    }
  }

  test("near-dup index: probe matches the cross-corpus scan and never shuffles the index side") {
    import graft.functions.{dedup, index}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely different document about spark and scala"),
      (3L, "yet another unrelated piece of training text here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (11L, "nothing like anything stored in the index today")
    ).toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      index.buildJaccardIndex(corpus, "doc_id", "text", "graft_ndx",
        k = 3, numPerm = 64, bands = 32, buckets = 4)
      // hash parameters come back from the table properties, not the caller
      assert(index.readParams(spark, "graft_ndx") == ((3, 64, 32)))
      val probe = index.probeJaccardIndex(spark, batch, "doc_id", "text",
        "graft_ndx", minJ = 0.5)
      val got = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((10L, 1L)), s"got $got")
      // same semantics as the batch cross-corpus scan on the same data
      val cross = dedup.jaccardPairsLshCross(batch, corpus, "doc_id", "text",
          k = 3, numPerm = 64, bands = 32, minJ = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == cross)
      // every shuffle in the probe plan moves the NEW side or candidate
      // pairs: no exchange DIRECTLY repartitions an index-table scan
      // (only unary ops between an exchange and the scan would mean the
      // index side itself is being reshuffled)
      val plan = probe.queryExecution.executedPlan
      assert(reshuffledIndexScans(plan, "graft_ndx") == 0,
        s"index side reshuffled:\n$plan")
      // appending a batch extends the index in place
      index.buildJaccardIndex(batch, "doc_id", "text", "graft_ndx",
        k = 3, numPerm = 64, bands = 32, buckets = 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      val again = index.probeJaccardIndex(spark,
        Seq((20L, "the quick brown fox jumps over the lazy cat"))
          .toDF("doc_id", "text"),
        "doc_id", "text", "graft_ndx",
        minJ = 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(again == Set((20L, 1L), (20L, 10L)), s"got $again")
      // appending with different hash parameters must be refused — it
      // would silently corrupt the index
      intercept[IllegalArgumentException] {
        index.buildJaccardIndex(batch, "doc_id", "text", "graft_ndx",
          k = 3, numPerm = 32, bands = 16, buckets = 4,
          mode = org.apache.spark.sql.SaveMode.Append)
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ndx", "buckets")}")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ndx", "sigs")}")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ndx", "stats")}")
    }
  }

  test("exact index: probe matches a plain fingerprint join, index side unshuffled") {
    import graft.functions.index
    val corpus = Seq(
      (1L, "the quick brown fox"),
      (2L, "a different document"),
      (3L, "Fox  News café")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox"),  // byte-exact hit on 1
      (11L, " fox news CAFÉ"), // folded hit on 3 (canonicalize only)
      (12L, "genuinely new text")
    ).toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      index.buildExactIndex(corpus, "doc_id", "text", "graft_edx", buckets = 4)
      val probe = index.probeExactIndex(spark, batch, "doc_id", "text",
        "graft_edx")
      val got = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((10L, 1L)), s"got $got")
      assert(reshuffledIndexScans(probe.queryExecution.executedPlan,
        "graft_edx") == 0)
      // the one-call incremental dedup keeps exactly the unseen batch rows
      val fresh = index.dedupAgainstExactIndex(spark, batch, "doc_id",
        "text", "graft_edx").select("doc_id").as[Long].collect().toSet
      assert(fresh == Set(11L, 12L))
      // append extends in place; canonicalize mismatch is refused
      index.buildExactIndex(batch, "doc_id", "text", "graft_edx",
        mode = org.apache.spark.sql.SaveMode.Append, buckets = 4)
      val again = index.probeExactIndex(spark,
          Seq((20L, "genuinely new text")).toDF("doc_id", "text"),
          "doc_id", "text", "graft_edx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(again == Set((20L, 12L)), s"got $again")
      intercept[IllegalArgumentException] {
        index.buildExactIndex(batch, "doc_id", "text", "graft_edx",
          canonicalize = true,
          mode = org.apache.spark.sql.SaveMode.Append, buckets = 4)
      }
      // a canonicalizing index folds case/space/accents — probe follows
      // the stored property, not a caller flag
      index.buildExactIndex(corpus, "doc_id", "text", "graft_edxc",
        canonicalize = true, buckets = 4)
      val folded = index.probeExactIndex(spark, batch, "doc_id", "text",
        "graft_edxc").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(folded == Set((10L, 1L), (11L, 3L)), s"got $folded")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_edx", "fps")}")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_edxc", "fps")}")
    }
  }

  test("IVF index: append-extended full probe equals brute force, index scan unshuffled and pruned") {
    import graft.functions.{index, similarity}
    import org.apache.spark.sql.SaveMode
    val rnd = new scala.util.Random(7)
    val rows = (1L to 60L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val all = rows.toDF("id", "v")
    // plan assertions need the static plan (AQE hides subtrees in stages)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // build on the first batch, APPEND the second: cell ids must stay
      // stable (stored bank reused), so the probe sees one coherent index
      index.buildIvfIndex(all.filter(F.col("id") <= 40), "id", "v",
        "graft_ivf_t", nlist = 4, iters = 2)
      index.buildIvfIndex(all.filter(F.col("id") > 40), "id", "v",
        "graft_ivf_t", mode = SaveMode.Append)
      val queries = all.filter(F.col("id") < 5)
      val got = index.probeIvfIndex(spark, queries, "id", "v",
        "graft_ivf_t", k = 3, nprobe = 4)
      val want = similarity.bruteForceTopK(all, queries, "id", "v", k = 3)
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(key(got) == key(want))
      // the index side is never reshuffled (only the scored candidate
      // stream moves, through the bounded top-k windows)
      assert(reshuffledIndexScans(got.queryExecution.executedPlan,
        "graft_ivf_t") == 0, got.queryExecution.executedPlan.toString)
      // a 1-cell probe prunes the partitioned index scan
      val narrow = index.probeIvfIndex(spark, queries, "id", "v",
        "graft_ivf_t", k = 3, nprobe = 1)
      val scans = narrow.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.tableIdentifier.exists(_.table == live("graft_ivf_t", "cells")) => s
      }
      def prunes(s: org.apache.spark.sql.execution.FileSourceScanExec) =
        s.partitionFilters.exists(f =>
          f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.In] ||
          f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.InSet] ||
          f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.EqualTo])
      assert(scans.nonEmpty && scans.forall(prunes),
        narrow.queryExecution.executedPlan.toString)
      // appending a different dimension must be refused
      val bad = Seq((99L, Seq.fill(9)(0.5f))).toDF("id", "v")
      val err = intercept[IllegalArgumentException] {
        index.buildIvfIndex(bad, "id", "v", "graft_ivf_t",
          mode = SaveMode.Append)
      }
      assert(err.getMessage.contains("dim"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ivf_t", "cells")}")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ivf_t", "centroids")}")
    }
  }

  test("PQ index: codes-only storage, append lifecycle, pruned probe scan") {
    import graft.functions.{index, similarity}
    import org.apache.spark.sql.SaveMode
    val rnd = new scala.util.Random(11)
    val rows = (1L to 60L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val all = rows.toDF("id", "v")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      index.buildPqIndex(all, "id", "v",
        "graft_pq_t", nlist = 4, m = 4, ksub = 8, ivfIters = 2,
        pqIters = 0, portableSeed = true)
      // the corpus floats are NOT persisted — only (n_id, codes, cell)
      assert(spark.table(live("graft_pq_t", "pqcells")).schema.fieldNames.toSet ==
        Set("n_id", "codes", "cell"))
      val queries = all.filter(F.col("id") < 5)
      val got = index.probePqIndex(spark, queries, "id", "v",
        "graft_pq_t", k = 3, nprobe = 4)
      // probe-all-cells equals the direct IVF-PQ scan — both train on
      // the same corpus with the same portable seed, so both sides
      // quantize identically; IVF cell noise is irrelevant at
      // nprobe = nlist
      val want = similarity.ivfPqTopK(all, queries, "id", "v",
        k = 3, nlist = 4, nprobe = 4, m = 4, ksub = 8,
        pqIters = 0, ivfIters = 2, portableSeed = true)
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(key(got) == key(want))
      // index side never reshuffled; a 1-cell probe prunes the scan
      assert(reshuffledIndexScans(got.queryExecution.executedPlan,
        "graft_pq_t") == 0, got.queryExecution.executedPlan.toString)
      val narrow = index.probePqIndex(spark, queries, "id", "v",
        "graft_pq_t", k = 3, nprobe = 1)
      val scans = narrow.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.tableIdentifier.exists(
              _.table == live("graft_pq_t", "pqcells")) => s
      }
      def prunes(s: org.apache.spark.sql.execution.FileSourceScanExec) =
        s.partitionFilters.exists(f =>
          f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.In] ||
          f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.InSet] ||
          f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.EqualTo])
      assert(scans.nonEmpty && scans.forall(prunes),
        narrow.queryExecution.executedPlan.toString)
      // append lifecycle: day-1 build on ids <= 40, day-2 append of the
      // rest. Appended rows must be encoded against the STORED day-1
      // banks — prove it by re-encoding them with the banks read back
      // from the bank table and comparing code-for-code.
      index.buildPqIndex(all.filter(F.col("id") <= 40), "id", "v",
        "graft_pq_a", nlist = 4, m = 4, ksub = 8, ivfIters = 2,
        pqIters = 0, portableSeed = true)
      index.buildPqIndex(all.filter(F.col("id") > 40), "id", "v",
        "graft_pq_a", mode = SaveMode.Append)
      val bankT = spark.table(live("graft_pq_a", "pqbank"))
      def bank(kind: String) = bankT.filter(F.col("kind") === kind)
        .orderBy("pos").select("v").collect().map(_.getDouble(0)).toSeq
      val day2 = all.filter(F.col("id") > 40).select(
        F.col("id").cast("long").as("n_id"),
        F.call_function("graft_pq_encode", F.col("v"),
          F.typedlit(bank("cb")), F.lit(4)).as("codes"),
        F.element_at(F.call_function("graft_centroid_topk",
          F.col("v"), F.typedlit(bank("ivf")), F.lit(1)), 1).as("cell"))
      def enc(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getInt(2))).toSet
      assert(enc(spark.table(live("graft_pq_a", "pqcells"))
        .filter(F.col("n_id") > 40).select("n_id", "codes", "cell")) ==
        enc(day2))
      assert(spark.table(live("graft_pq_a", "pqcells")).count() == 60)
      // appending a different dimension must be refused
      val bad = Seq((99L, Seq.fill(9)(0.5f))).toDF("id", "v")
      val err = intercept[IllegalArgumentException] {
        index.buildPqIndex(bad, "id", "v", "graft_pq_a",
          mode = SaveMode.Append)
      }
      assert(err.getMessage.contains("dim"))
      // a zero-vector day no-ops; an empty FRESH build is refused
      val none = all.filter(F.lit(false))
      index.buildPqIndex(none, "id", "v", "graft_pq_a",
        mode = SaveMode.Append)
      assert(spark.table(live("graft_pq_a", "pqcells")).count() == 60)
      val err2 = intercept[IllegalArgumentException] {
        index.buildPqIndex(none, "id", "v", "graft_pq_fresh")
      }
      assert(err2.getMessage.contains("empty"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Seq(live("graft_pq_t", "pqcells"), live("graft_pq_t", "pqbank"),
        live("graft_pq_a", "pqcells"), live("graft_pq_a", "pqbank"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("writeSharded emits stable hash shards with bounded files and sorted rows") {
    import graft.functions.layout
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toFile
    val out = new java.io.File(dir, "corpus").getAbsolutePath
    try {
      val df = (1L to 10000L).map(i => (i, s"doc $i", i % 97)).toDF("id", "text", "score")
      layout.writeSharded(df, out, keyCol = "id", nShards = 4,
        maxRecordsPerFile = 1000L, sortCols = Seq("score"))
      val back = spark.read.parquet(out)
      assert(back.count() == 10000)
      // exactly 4 shard directories, membership = the portable hash
      val shards = back.select("shard").distinct().collect().map(_.getInt(0)).toSet
      assert(shards == Set(0, 1, 2, 3))
      val expected = df.select(F.col("id"),
        graft.functions.sampling.hashBucket(F.col("id"), 4L).cast("int").as("e"))
      val joined = back.select(F.col("id"), F.col("shard")).join(expected, "id")
      assert(joined.filter(F.col("shard") =!= F.col("e")).count() == 0)
      // every file respects the record cap
      val files = new java.io.File(out).listFiles().filter(_.getName.startsWith("shard="))
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      files.foreach { f =>
        val n = spark.read.parquet(f.getAbsolutePath).count()
        assert(n <= 1000, s"${f.getName} has $n rows")
      }
      // rows inside a file arrive sorted by score
      val one = spark.read.parquet(files.head.getAbsolutePath)
        .select("score").collect().map(_.getLong(0))
      assert(one.sameElements(one.sorted), "within-file sort order broken")
      // determinism: a second write lands every row in the same shard
      val out2 = new java.io.File(dir, "corpus2").getAbsolutePath
      layout.writeSharded(df, out2, keyCol = "id", nShards = 4,
        maxRecordsPerFile = 1000L)
      val back2 = spark.read.parquet(out2).select(F.col("id"), F.col("shard").as("s2"))
      assert(back.select("id", "shard").join(back2, "id")
        .filter(F.col("shard") =!= F.col("s2")).count() == 0)
      // readSharded(shards=...) prunes at the partition level: the scan
      // carries a PartitionFilter on shard and reads only that directory
      val oneShard = layout.readSharded(spark, out, shards = Seq(2))
      val scan = oneShard.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      assert(scan.metadata("PartitionFilters").contains("shard"),
        scan.metadata("PartitionFilters"))
      val expected2 = back.filter(F.col("shard") === 2).count()
      assert(oneShard.count() == expected2 && expected2 > 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  test("source filters and projections push down to the parquet scan") {
    import graft.dsl._
    import graft.table.Table
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = Table.source(spark, "/root/testdata/sf0.001", "lineitem")
        .filter(C("l_quantity") > lit(30.0))
        .select(C("l_orderkey"), C("l_quantity"))
        .toDF
      val scans = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty)
      val meta = scans.head.metadata
      // the filter reaches the reader...
      assert(meta("PushedFilters").contains("GreaterThan(l_quantity,30.0"),
        meta("PushedFilters"))
      // ...and the scan reads ONLY the two projected columns (the
      // hidden rowid and the other 14 lineitem columns are pruned)
      val read = meta("ReadSchema")
      assert(read.contains("l_orderkey") && read.contains("l_quantity"))
      assert(!read.contains("l_shipdate") && !read.contains("l_comment"),
        read)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("near-dup index: build validates band parameters") {
    import graft.functions.index
    val corpus = Seq((1L, "some text here")).toDF("doc_id", "text")
    // bands > numPerm would make rowsPerBand = 0: every band key a
    // constant, all documents in ONE bucket — refuse at build time
    intercept[IllegalArgumentException] {
      index.buildJaccardIndex(corpus, "doc_id", "text", "graft_ndx_bad",
        k = 3, numPerm = 16, bands = 32)
    }
    intercept[IllegalArgumentException] {
      index.buildJaccardIndex(corpus, "doc_id", "text", "graft_ndx_bad",
        k = 3, numPerm = 64, bands = 24) // does not divide numPerm
    }
  }

  test("curation composite probes a persistent index without reshuffling it") {
    import graft.functions.{index, pipelines}
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "an entirely different document about spark and scala internals here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy cat and runs away fast"), // near-dups history doc 1
      (11L, "completely novel content about training data curation pipelines today")
    ).toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      index.buildJaccardIndex(history, "doc_id", "text", "graft_ndx_cur",
        k = 3, numPerm = 64, bands = 32, buckets = 4)
      val curated = pipelines.curateDocuments(batch, minQuality = 0.0,
        nearDupThreshold = 0.5, indexName = Some("graft_ndx_cur"))
      val plan = curated.queryExecution.executedPlan
      assert(reshuffledIndexScans(plan, "graft_ndx_cur") == 0,
        s"index side reshuffled:\n$plan")
      val got = curated.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(11L), s"got $got") // doc 10 matches the history
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ndx_cur", "buckets")}")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ndx_cur", "sigs")}")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ndx_cur", "stats")}")
    }
  }

  test("z-ordered layout prunes files/row-groups on a 2-D box scan") {
    import graft.functions.layout
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toFile
    val zOut = new java.io.File(dir, "z").getAbsolutePath
    val rOut = new java.io.File(dir, "r").getAbsolutePath
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 100k uniform points on [0,1024)^2 — deterministic
      val rnd = new scala.util.Random(11)
      val pts = (0 until 100000).map(i =>
        (i.toLong, rnd.nextInt(1024), rnd.nextInt(1024)))
      val df = pts.toDF("id", "x", "y")
      // same data, two layouts: z-ordered (16 files, each a z-range =
      // small hyper-box, so per-file/row-group x,y min/max are TIGHT)
      // vs round-robin (every file's min/max spans the whole space)
      layout.zorderBy(df, Seq("x", "y"), bits = 10, numPartitions = 16)
        .write.parquet(zOut)
      df.repartition(16).write.parquet(rOut)
      def boxScanRows(path: String): (Long, Long) = {
        val q = spark.read.parquet(path)
          .filter(F.col("x").between(100, 131) && F.col("y").between(200, 231))
        val scan = q.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.head
        // min/max skipping needs the predicate at the reader
        assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(x,100"),
          scan.metadata("PushedFilters"))
        // execute THIS plan instance (count() would plan a separate
        // query and leave our scan node's metrics untouched)
        val n = q.collect().length.toLong
        (n, scan.metrics("numOutputRows").value)
      }
      val (zMatch, zScanned) = boxScanRows(zOut)
      val (rMatch, rScanned) = boxScanRows(rOut)
      // both layouts return the identical result...
      assert(zMatch == rMatch && zMatch > 0)
      // ...but the z-ordered scan emits only the row groups whose
      // min/max boxes intersect the query box: the 32x32 box hits a
      // handful of the 16 z-range files, while the round-robin layout
      // can skip nothing
      assert(rScanned >= 90000L, s"baseline unexpectedly pruned: $rScanned")
      assert(zScanned <= 25000L,
        s"z-ordered scan read $zScanned rows — no data skipping payoff")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  test("snapshotDiff classifies added/removed/changed; unchanged and null-tricky rows behave") {
    val old = Seq[(java.lang.Long, String, String)](
      (1L, "stable text", "en"),       // unchanged → absent from the diff
      (2L, "old text", "en"),          // text revised → changed
      (3L, "gone", "de"),              // dropped → removed
      (4L, null, null),                // both null, unchanged → absent
      (5L, null, "fr"),                // null text → value (changed)
      (6L, "x", null),                 // value/null SWAPPED across columns:
      (7L, "keep", "en")               //   field omission must stay injective
    ).toDF("doc_id", "text", "lang")
    val nw = Seq[(java.lang.Long, String, String)](
      (1L, "stable text", "en"),
      (2L, "new text", "en"),
      (4L, null, null),
      (5L, "found", "fr"),
      (6L, null, "x"),                 // {"text":"x"} vs {"lang":"x"} ≠
      (7L, "keep", "en"),
      (8L, "fresh", "en")              // new key → added
    ).toDF("doc_id", "text", "lang")
    val got = layout.snapshotDiff(old, nw, "doc_id", Seq("text", "lang"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq(2L -> "changed", 3L -> "removed",
      5L -> "changed", 6L -> "changed", 8L -> "added"))
  }

  test("near-dup index: capped probe bounds hot buckets and loses no pairs") {
    import graft.functions.index
    // 60 copies of one boilerplate doc in the index: its band buckets
    // all overflow maxBucket = 10, so the probe takes the grid-salted
    // path for them. Grid salting is pair-complete — the capped result
    // must EQUAL the uncapped one.
    val boiler = (0 until 60).map(i =>
      (i.toLong, "terms of service apply to all content on this site"))
    val corpus = (boiler :+ ((100L, "a genuinely unique document about graft internals")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (200L, "terms of service apply to all content on that site"), // near-dup
      (201L, "completely unrelated probe text goes here")
    ).toDF("doc_id", "text")
    try {
      index.buildJaccardIndex(corpus, "doc_id", "text", "graft_ndx_hot",
        k = 3, numPerm = 64, bands = 32, buckets = 4)
      def pairs(cap: Int) = index.probeJaccardIndex(spark, batch,
          "doc_id", "text", "graft_ndx_hot", minJ = 0.5, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val uncapped = pairs(0)
      val capped = pairs(10)
      assert(uncapped.nonEmpty && uncapped.forall(_._1 == 200L))
      assert(uncapped.size == 60, s"expected all 60 boilerplate matches: $uncapped")
      assert(capped == uncapped, s"capped probe lost pairs: " +
        s"${uncapped.diff(capped)} / gained: ${capped.diff(uncapped)}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ndx_hot", "buckets")}")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ndx_hot", "sigs")}")
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_ndx_hot", "stats")}")
    }
  }
}
