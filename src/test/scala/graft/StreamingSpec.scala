package graft

import java.nio.file.Files
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams

/** Streaming ops driven end-to-end: parquet source dir → transforms →
  * memory sink, compared against the equivalent batch computation. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(): String = {
    val dir = Files.createTempDirectory("graft_stream").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val rows = Seq(
      Streams.Event(1L, ts(0), 1L, "click", 1.0),
      Streams.Event(2L, ts(2), 1L, "view", 2.0),
      Streams.Event(3L, ts(7), 2L, "click", 3.0),
      Streams.Event(4L, ts(90), 1L, "click", 4.0), // new session for user 1
      Streams.Event(5L, ts(91), 2L, "view", 5.0))
    rows.toDS().write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed counts with watermark: stream result = batch result") {
    val dir = mkEvents()
    val stream = Streams.windowedCounts(Streams.readEventStream(spark, dir))
    Streams.runToMemory(stream, "win_counts", OutputMode.Complete())
    val got = spark.table("win_counts")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = Streams.windowedCounts(spark.read.parquet(dir))
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.toSeq == batch.toSeq)
    // tumbling windows × event_type: (00:00 click), (00:00 view),
    // (00:05 click), (01:30 click), (01:30 view)
    assert(got.length == 5)
  }

  test("stream-static enrichment broadcasts the dim and keeps unmatched rows") {
    val dir = mkEvents()
    val dim = Seq((1L, "gold"), (3L, "silver")).toDF("user_id", "segment")
    val enriched = Streams.enrichStream(
      Streams.readEventStream(spark, dir), dim, "user_id")
    Streams.runToMemory(enriched, "enriched", OutputMode.Append())
    val got = spark.table("enriched")
      .select("event_id", "segment").orderBy("event_id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq == Seq((1L, Some("gold")), (2L, Some("gold")),
      (3L, None), (4L, Some("gold")), (5L, None))) // user 2 unmatched, kept
  }

  test("streaming PII scrub redacts inside the stream") {
    val dir = Files.createTempDirectory("graft_scrub").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, t0, "mail a@b.io now"), (2L, t0, "clean"))
      .toDF("event_id", "ts", "note").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val scrubbed = Streams.scrubStream(
      spark.readStream.schema(schema).parquet(dir), "note")
    Streams.runToMemory(scrubbed, "scrubbed", OutputMode.Append())
    val got = spark.table("scrubbed").orderBy("event_id")
      .select("note").as[String].collect()
    assert(got.toSeq == Seq("mail <EMAIL> now", "clean"))
  }

  test("streaming quality gate drops failing pages inside the stream") {
    val dir = Files.createTempDirectory("graft_qgate").toString
    val good = (("the data " * 25) + "pipeline runs with care and that is fine").trim
    Seq((1L, good), (2L, "too short"), (3L, s"- $good\n- a\n- b"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val gated = Streams.qualityGateStream(
      spark.readStream.schema(schema).parquet(dir), "text")
    Streams.runToMemory(gated, "qgate", OutputMode.Append())
    val rows = spark.table("qgate").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L))
    // the metric struct rides along for monitoring
    assert(rows.head.getStruct(rows.head.fieldIndex("quality_metrics"))
      .getAs[Boolean]("pass"))
  }

  test("streaming dedup drops repeated ids within the watermark") {
    val dir = Files.createTempDirectory("graft_dedup").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    Seq(
      Streams.Event(1L, ts(0), 1L, "click", 1.0),
      Streams.Event(1L, ts(1), 1L, "click", 1.0), // dup id within watermark
      Streams.Event(2L, ts(2), 1L, "view", 2.0))
      .toDS().write.mode("overwrite").parquet(dir)
    val deduped = Streams.dedupeStream(Streams.readEventStream(spark, dir), "event_id")
    Streams.runToMemory(deduped, "dedup_out", OutputMode.Append())
    assert(spark.table("dedup_out").select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
  }

  test("streaming weighted sample: heap state merges across micro-batches, tracks the batch sample") {
    import graft.functions.sampling
    val dir = Files.createTempDirectory("graft_ws_mb").toString
    val schema = "doc_id BIGINT, n_chars BIGINT"
    def write(rows: (Long, java.lang.Long)*): Unit =
      rows.toSeq.toDF("doc_id", "n_chars")
        .write.mode("append").parquet(dir)
    write((1L, 10L), (2L, 500L), (3L, 3L), (4L, null), (5L, 0L))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val tk = Streams.weightedSampleStream(stream, "doc_id", "n_chars", 4)
    val q = tk.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("ws_mb").start()
    def latest(): Seq[Long] = {
      val arr = spark.table("ws_mb").collect().last
        .getSeq[org.apache.spark.sql.Row](0)
      assert(arr.length <= 4, "state must stay k-bounded")
      arr.map(_.getLong(1))
    }
    def batchWant(): Seq[Long] = sampling.weightedSample(
        spark.read.parquet(dir), "doc_id", "n_chars", 4)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    q.processAllAvailable()
    assert(latest().sorted == batchWant(),
      "batch 1: stream sample must equal the batch sample")
    // batch 2: a heavier newcomer must be able to evict an incumbent —
    // the final sample is over the UNION, which only works if the heap
    // state actually merges (Complete re-aggregation of state + delta)
    write((6L, 100000L), (7L, 1L), (8L, 2000L))
    q.processAllAvailable()
    assert(latest().sorted == batchWant(),
      "batch 2: stream sample must track the union")
    // batch 3: all-ineligible rows change nothing
    write((9L, null), (10L, -5L))
    q.processAllAvailable(); q.stop()
    assert(latest().sorted == batchWant(),
      "batch 3: ineligible rows must not perturb the sample")
  }

  test("streaming dedup carries state across micro-batches, re-admits after expiry, drops late rows") {
    val dir = Files.createTempDirectory("graft_dedup_mb").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    def write(evs: Streams.Event*): Unit =
      evs.toSeq.toDS().write.mode("append").parquet(dir)
    write(Streams.Event(1L, ts(0), 1L, "click", 1.0),
      Streams.Event(2L, ts(1), 1L, "view", 2.0))
    val deduped = Streams.dedupeStream(Streams.readEventStream(spark, dir), "event_id")
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_mb").start()
    q.processAllAvailable()
    // batch 2: the duplicate must hit batch-1 STATE, not within-batch pairs
    write(Streams.Event(1L, ts(2), 1L, "click", 1.0),
      Streams.Event(3L, ts(3), 2L, "view", 3.0))
    q.processAllAvailable()
    val afterB2 = spark.table("dedup_mb").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(afterB2 == Seq(1L, 2L, 3L), s"cross-batch dup not dropped: $afterB2")
    // batch 3: jump event time far ahead — the watermark (max ts − 10 min)
    // passes every earlier key's expiry, so their dedup state is evicted
    write(Streams.Event(4L, ts(600), 7L, "click", 4.0))
    q.processAllAvailable()
    // batch 4: key 1 re-appears AFTER its state expired → re-admitted
    // (within-watermark dedup, not dedup-forever); a row behind the
    // watermark is late data → dropped entirely, never re-opens state
    write(Streams.Event(1L, ts(601), 1L, "click", 1.0),
      Streams.Event(5L, ts(100), 9L, "view", 5.0))
    q.processAllAvailable(); q.stop()
    val fin = spark.table("dedup_mb").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(fin == Seq(1L, 1L, 2L, 3L, 4L),
      s"expected id 1 re-admitted post-expiry and late id 5 dropped: $fin")
  }

  test("windowed counts in append mode finalize on watermark advance and drop late rows") {
    val dir = Files.createTempDirectory("graft_late_win").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    def write(evs: Streams.Event*): Unit =
      evs.toSeq.toDS().write.mode("append").parquet(dir)
    write(Streams.Event(1L, ts(1), 1L, "click", 1.0),
      Streams.Event(2L, ts(2), 1L, "click", 2.0))
    val stream = Streams.windowedCounts(Streams.readEventStream(spark, dir))
    val q = stream.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_win").start()
    q.processAllAvailable()
    // append mode: the [00:00, 00:05) window is still open (watermark
    // has not passed its end), so nothing is final yet
    assert(spark.table("late_win").count() == 0L)
    // advance event time so the watermark (max ts − 10 min) passes 00:05
    write(Streams.Event(3L, ts(40), 2L, "view", 3.0))
    q.processAllAvailable()
    // a LATE click for the now-closed window: dropped before aggregation
    // — the finalized count must NOT include it, and the window must not
    // be re-emitted
    write(Streams.Event(4L, ts(3), 3L, "click", 9.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("late_win")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSeq
    assert(rows == Seq(("2024-01-01 00:00:00.0", "click", 2L, 3.0)),
      s"expected exactly the on-time finalized window: $rows")
  }

  test("streaming probe against the persistent exact index drops seen docs") {
    import graft.functions.index
    val history = Seq(
      (1L, "already crawled page one"),
      (2L, "already crawled page two")).toDF("doc_id", "text")
    index.buildExactIndex(history, "doc_id", "text", "graft_sx", buckets = 2)
    val dir = Files.createTempDirectory("graft_sxd").toString
    try {
      Seq(
        (10L, "already crawled page one"),  // seen → dropped
        (11L, "a genuinely new document")) // unseen → passes
        .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
      val stream = Streams.dedupAgainstExactIndexStream(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(dir),
        "doc_id", "text", "graft_sx")
      Streams.runToMemory(stream, "sx_out", OutputMode.Append())
      assert(spark.table("sx_out").select("doc_id").as[Long].collect().toSet
        == Set(11L))
      // admitting the survivors advances the seen set for the next batch
      index.buildExactIndex(
        Seq((11L, "a genuinely new document")).toDF("doc_id", "text"),
        "doc_id", "text", "graft_sx", buckets = 2,
        mode = org.apache.spark.sql.SaveMode.Append)
      val stream2 = Streams.dedupAgainstExactIndexStream(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(dir),
        "doc_id", "text", "graft_sx")
      Streams.runToMemory(stream2, "sx_out2", OutputMode.Append())
      assert(spark.table("sx_out2").count() == 0L)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${live("graft_sx", "fps")}")
    }
  }

  test("streaming index probe honors pending (deferred) takedowns") {
    import graft.functions.index
    // a deferred takedown must be effective for STREAMING probes too —
    // a re-crawl of a legally-removed page is a NEW document again,
    // not a dup of the ghost
    val history = Seq(
      (1L, "deferred takedown page one"),
      (2L, "deferred takedown page two")).toDF("doc_id", "text")
    index.buildExactIndex(history, "doc_id", "text", "graft_sxd2",
      buckets = 2)
    index.deferTakedown(Seq(1L).toDF("id"), "id", "graft_sxd2")
    val dir = Files.createTempDirectory("graft_sxd2").toString
    try {
      Seq(
        (10L, "deferred takedown page one"),  // matches only the GHOST
        (11L, "deferred takedown page two"))  // matches a live doc
        .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
      val stream = Streams.dedupAgainstExactIndexStream(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(dir),
        "doc_id", "text", "graft_sxd2")
      Streams.runToMemory(stream, "sxd2_out", OutputMode.Append())
      assert(spark.table("sxd2_out").select("doc_id").as[Long].collect()
        .toSet == Set(10L),
        "the pending-deleted doc's re-crawl must pass as new; the live " +
          "doc's copy must still be dropped")
    } finally {
      Seq(live("graft_sxd2", "fps"), live("graft_sxd2", "dels"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("streaming component-map maintenance equals the batch lifecycle, resumes across streams") {
    import graft.functions.{dedup, index}
    // three families across two micro-batches: exact copies (J = 1)
    // so LSH and the index probe must both hit; doc 30 bridges
    // nothing (singleton)
    val body = (i: Int) => (0 until 15).map(j => s"f${i}w${j % 7}")
      .mkString(" ")
    val day1 = Seq((10L, body(0)), (11L, body(0)), (20L, body(1)),
      (30L, body(2))).toDF("doc_id", "text")
    val day2 = Seq((12L, body(0)), (21L, body(1)), (40L, body(3)))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_cms").toString
    day1.coalesce(1).write.mode("append").parquet(dir)
    day2.coalesce(1).write.mode("append").parquet(dir)
    try {
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).option("pathGlobFilter", "*.parquet")
        .parquet(dir)
      Streams.componentMapStream(stream, "doc_id", "text",
        "graft_cms_idx", "graft_cms_cm")
      val got = index.readComponentMap(spark, "graft_cms_cm").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L,
        21L -> 20L, 30L -> 30L, 40L -> 40L),
        s"streamed map must equal the batch closure: $got")
      // a later stream RESUMES from the persisted state (no bootstrap):
      // a new copy of family 20 must land in the existing family
      val dir2 = Files.createTempDirectory("graft_cms2").toString
      Seq((22L, body(1))).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(dir2)
      val stream2 = spark.readStream.schema("doc_id LONG, text STRING")
        .option("pathGlobFilter", "*.parquet").parquet(dir2)
      Streams.componentMapStream(stream2, "doc_id", "text",
        "graft_cms_idx", "graft_cms_cm")
      val got2 = index.readComponentMap(spark, "graft_cms_cm").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2.get(22L).contains(20L) && got2.size == 8,
        s"a resumed stream must extend the same families: $got2")
    } finally {
      (Seq("buckets", "sigs", "stats").map(live("graft_cms_idx", _)) ++
        Seq("cmap", "cremap", "cedges").map(live("graft_cms_cm", _)))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("stateful sessionization counts 30-min-gap sessions per user") {
    val dir = mkEvents()
    val events = spark.readStream.schema(Streams.eventSchema).parquet(dir).as[Streams.Event]
    val stats = Streams.sessionStats(events)
    val q = stats.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("sessions").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sessions").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 3L, 2L), (2L, 2L, 2L)))
  }

  test("sessionization state is evicted after the event-time timeout") {
    val dir = Files.createTempDirectory("graft_evict").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    Seq(
      Streams.Event(1L, ts(0), 1L, "click", 1.0),
      Streams.Event(2L, ts(2), 1L, "view", 2.0))
      .toDS().write.mode("append").parquet(dir)
    val events = spark.readStream.schema(Streams.eventSchema).parquet(dir).as[Streams.Event]
    val q = Streams.sessionStats(events).writeStream
      .outputMode(OutputMode.Update()).format("memory").queryName("evict").start()
    q.processAllAvailable()
    val firstRows = spark.table("evict").filter(F.col("user_id") === 1L).count()
    // a much-later batch advances the watermark past user 1's
    // last-event + gap → the timeout branch fires, re-emitting the final
    // stats for user 1 and removing its state
    Seq(Streams.Event(9L, ts(600), 7L, "click", 1.0))
      .toDS().write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    val u1Rows = spark.table("evict").filter(F.col("user_id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(u1Rows.length > firstRows.toInt, "timeout emission expected after watermark advance")
    assert(u1Rows.distinct == Seq((2L, 1L))) // final stats unchanged by eviction
  }

  test("streaming near-dup detection matches across micro-batches via bucket state") {
    val dir = Files.createTempDirectory("graft_neardup").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val shared = "the quick brown fox jumps over the lazy dog and keeps running far"
    // batch 1: original, a near-dup one minute later, and an unrelated doc
    Seq((1L, ts(0), shared),
        (2L, ts(1), shared + " today"),
        (3L, ts(1), "completely different content with no overlap at all whatsoever"))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(dir)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", TimestampType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val hits = Streams.nearDupCandidatesStream(stream, "doc_id", "ts", "text")
    val q = hits.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("neardup").start()
    q.processAllAvailable()
    // batch 2: another near-dup of doc 1 — must match against STATE
    // carried over from batch 1, not just within-batch pairs
    Seq((4L, ts(2), shared + " again")).toDF("doc_id", "ts", "text")
      .write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    val got = spark.table("neardup").select("doc_id", "dup_of")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((2L, 1L)), s"within-batch near-dup missed: $got")
    assert(got.contains((4L, 1L)) || got.contains((4L, 2L)),
      s"cross-batch near-dup missed: $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc flagged: $got")
    val ests = spark.table("neardup").select("est").collect().map(_.getDouble(0))
    assert(ests.forall(e => e >= 0.5 && e <= 1.0))
  }

  test("stream-stream interval join matches across batches, evicts on watermark") {
    val dir = Files.createTempDirectory("graft_ijoin_mb").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    def write(evs: Streams.Event*): Unit =
      evs.toSeq.toDS().write.mode("append").parquet(dir)
    def side(tpe: String) = Streams.readEventStream(spark, dir)
      .where(F.col("event_type") === tpe)
    write(Streams.Event(1L, ts(0), 1L, "view", 1.0),
      Streams.Event(2L, ts(5), 1L, "click", 1.0))
    val joined = Streams
      .intervalJoinStreams(side("view"), side("click"), "user_id",
        horizon = "30 minutes", watermark = "10 minutes")
      .select(F.col("l.event_id").as("vid"), F.col("r.event_id").as("cid"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ijoin_mb").start()
    q.processAllAvailable()
    def pairs() = spark.table("ijoin_mb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() == Set((1L, 2L)), s"batch-1 pair: ${pairs()}")
    // batch 2: a click 20 min after the batch-1 view must hit the view's
    // BUFFERED state (still inside the 30-min horizon) — and a click for
    // a different user must not match anything
    write(Streams.Event(3L, ts(20), 1L, "click", 1.0),
      Streams.Event(4L, ts(21), 2L, "click", 1.0))
    q.processAllAvailable()
    assert(pairs() == Set((1L, 2L), (1L, 3L)), s"cross-batch pair: ${pairs()}")
    // batches 3+4: jump event time far ahead, then run one more batch —
    // the watermark advances with a one-batch lag (batch N's max event
    // time becomes batch N+1's watermark) and join-state EVICTION runs
    // at the END of a batch, after that batch's join. Two batches make
    // the eviction observable: batch 4 starts at watermark ts(990),
    // which passes every buffered row's expiry (view: ts + 30-min
    // horizon; click: ts), so both buffers are emptied at its end.
    // (the global watermark is the MIN across both sides' watermarks,
    // so the jump must advance view AND click event time — a
    // high-ts batch on one side alone evicts nothing)
    write(Streams.Event(5L, ts(1000), 99L, "view", 1.0),
      Streams.Event(6L, ts(1000), 98L, "click", 1.0))
    q.processAllAvailable()
    write(Streams.Event(8L, ts(1001), 97L, "view", 1.0),
      Streams.Event(9L, ts(1001), 96L, "click", 1.0))
    q.processAllAvailable()
    // batch 5: a click inside the old view's horizon arrives LATE
    // (behind the watermark) — the view's state is gone, so no pair
    // may appear (the eviction contract that bounds state at scale)
    write(Streams.Event(7L, ts(25), 1L, "click", 1.0))
    q.processAllAvailable(); q.stop()
    assert(pairs() == Set((1L, 2L), (1L, 3L)),
      s"late click must not resurrect evicted state: ${pairs()}")
  }

  test("streaming ANN probe accumulates exact top-k across micro-batches") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_annstream").toString
    // 12 corpus vectors spread on a circle; index built batch-side
    def vec(i: Int): Array[Float] = {
      val a = i * 0.5
      Array(math.cos(a).toFloat, math.sin(a).toFloat)
    }
    val corpus = (0L until 12L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    graft.functions.index.buildIvfIndex(corpus, "vec_id", "embedding",
      "graft_ann_stream_ix", nlist = 4, iters = 2)
    // two query FILES → maxFilesPerTrigger=1 forces two micro-batches
    Seq((100L, vec(0))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((101L, vec(6))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(dir)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    Streams.annProbeStream(stream, "vec_id", "embedding",
      "graft_ann_stream_ix", k = 3, nprobe = 4, sinkTable = "graft_ann_hits")
    val got = spark.table("graft_ann_hits").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("n_id")))
    // both batches answered, each with exactly k=3 exact neighbors
    // (nprobe = nlist): nearest on the circle by angular distance
    assert(got.count(_._1 == 100L) == 3 && got.count(_._1 == 101L) == 3)
    val top100 = got.filter(_._1 == 100L).sortBy(_._2).map(_._3).toSeq
    val top101 = got.filter(_._1 == 101L).sortBy(_._2).map(_._3).toSeq
    // q100 == vec(0): its id-0 twin first (cos 1), then angular
    // neighbors 1 (0.5 rad) and 11 (0.78 rad effective)
    assert(top100 == Seq(0L, 1L, 11L), s"q100 got $top100")
    // q101 == vec(6): twin 6 first, then 5 and 7 (±0.5 rad — float
    // rounding decides the tie, so assert the SET)
    assert(top101.head == 6L && top101.toSet == Set(6L, 5L, 7L),
      s"q101 got $top101")
  }

  test("streaming heavy hitters merge sketch state across micro-batches") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_hhstream").toString
    // two FILES → maxFilesPerTrigger=1 forces two micro-batches whose
    // counts only agree with batch if the stored sketch buffer merges
    // (batch 1 alone would report a=2,b=1; batch 2 flips the order)
    Seq("a", "a", "b").toDF("item").coalesce(1)
      .write.mode("append").parquet(dir)
    Seq("b", "b", "b", "c").toDF("item").coalesce(1)
      .write.mode("append").parquet(dir)
    val schema = StructType(Seq(StructField("item", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val name = "graft_hh_stream_sink"
    Streams.runToMemory(
      Streams.heavyHittersStream(stream, "item", capacity = 16, topK = 3),
      name, OutputMode.Complete())
    val got = spark.table(name)
      .select(F.explode(F.col("hh")).as("e"))
      .select(F.col("e.item"), F.col("e.cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    spark.catalog.dropTempView(name)
    assert(got == Seq(("b", 4L), ("a", 2L), ("c", 1L)),
      s"cumulative sketch after two batches: $got")
  }

  test("replays share one cached clone that follows the caller's runtime conf") {
    val key = "spark.graft.test.replayProbe"
    val first = Streams.replaySession(spark)
    spark.conf.set(key, "set-between-calls")
    try {
      val second = Streams.replaySession(spark)
      assert(second eq first, "each replay must reuse the cached clone")
      assert(second.conf.get(key) == "set-between-calls")
      assert(second.conf.get("spark.sql.shuffle.partitions") == "8")
      assert(spark.conf.get("spark.sql.shuffle.partitions") != "8",
        "the replay override must not reach the caller")
    } finally spark.conf.unset(key)
  }

  test("the replay clone reads a table the caller rewrote under the same name") {
    val t = "graft_replay_rewritten"
    spark.range(3).write.mode("overwrite").saveAsTable(t)
    try {
      assert(Streams.replaySession(spark).table(t).count() == 3L)
      spark.range(5).write.mode("overwrite").saveAsTable(t)
      assert(Streams.replaySession(spark).table(t).count() == 5L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a replay leaves no active query or sink view, also when it fails") {
    val dir = mkEvents()
    val ss = Streams.replaySession(spark)
    def leftovers(): (Int, Seq[String]) =
      (ss.streams.active.length,
        ss.catalog.listTables().collect().toSeq
          .filter(t => t.isTemporary && t.name.startsWith("graft_replay_sink_"))
          .map(_.name))
    def replay(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      Streams.replay(spark, dir, "*.parquet", Streams.eventSchema,
        OutputMode.Append())((_, ev) => f(ev))
    val got = replay(_.select("event_id")).orderBy("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 5L))
    assert(leftovers() == ((0, Nil)))
    intercept[IllegalStateException](
      replay(_ => throw new IllegalStateException("transform failed")))
    assert(leftovers() == ((0, Nil)))
    // a stream that fails mid-run: the drain stops it, the replay
    // drops the view its memory sink registered
    intercept[Exception](replay(_.select(
      F.when(F.col("event_id") === 3L, F.raise_error(F.lit("row 3")))
        .otherwise(F.col("event_id")).as("event_id"))))
    assert(leftovers() == ((0, Nil)))
  }
}
