package graft.functions

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, functions => F}
import org.apache.spark.sql.types._

/** Persistent near-duplicate index for INCREMENTAL crawls: signature
  * tables written once, bucket-placed on disk, probed by every future
  * batch without reshuffling the existing corpus. The batch-vs-corpus
  * shape of [[dedup.jaccardPairsLshCross]] recomputes the reference
  * side's signatures per run — fine for one-off comparisons, wrong for
  * a crawl that ingests daily against a 100 TB history. Here the
  * history's MinHash band keys and shingle-hash sets are computed ONCE
  * and persisted hash-bucketed ([[layout.bucketize]] posture), so a
  * probe plan shuffles only the (small) new batch:
  *
  *  - `<name>_buckets`, bucketed by (band, band_hash): candidate
  *    generation joins the new batch's exploded band keys against it —
  *    the index side reads pre-placed, no exchange;
  *  - `<name>_sigs`, bucketed by id: exact-Jaccard verification joins
  *    candidate pairs back to the stored shingle sets — again no
  *    exchange on the index side;
  *  - `<name>_stats`, per-(band, band_hash) row counts: lets the probe
  *    cap hot buckets (`maxBucket`) WITHOUT scanning the corpus to
  *    discover overflow.
  *
  * The hash parameters (k, numPerm, bands) are recorded as table
  * properties at build time and READ BACK by the probe — a probe can
  * never silently use mismatched parameters and miss pairs.
  *
  * SINGLE-WRITER CONTRACT: the lifecycle mutators (build/append,
  * removeFrom*, compactTakedowns, compactIndex) assume one writer per
  * index name and a maintenance window with no concurrent probes on
  * the same SparkSession — they swap tables through catalog renames
  * (two renames, not one atomic step) and pin per-statement writer
  * confs session-wide for their duration ([[withConf]]). Probes racing
  * a physical takedown can observe a missing-table window; concurrent
  * statements can inherit a flipped conf. Deployments needing live
  * probe traffic during maintenance should prefer [[deferTakedown]]
  * (an append, no swap — probes filter pending ids without any window)
  * and schedule the physical compaction inside the window.
  *
  * The one exception to "no writes outside the window" is the pending
  * set itself: [[deferTakedown]] appends to `<name>_dels` under live
  * traffic by design, so its writers coordinate through an in-process
  * per-index lock ([[delsLock]]) — within one JVM, defers racing a
  * [[compactTakedowns]] shrink are never lost at any interleaving.
  *
  * ACROSS processes the single-writer contract is no longer an honor
  * system: every window mutator stamps a writer lease on the
  * catalog-only `<name>_lease` table and re-checks it before each
  * swap, so two drivers mutating one index fail LOUDLY instead of
  * silently colliding ([[releaseStaleLease]] recovers an abandoned
  * stamp). Probes never read the lease; they instead carry a bounded
  * retry over the swap's brief missing-table window ([[resolveRetry]])
  * — a probe whose EXECUTION overlaps a swap may still need one
  * caller-level retry, the documented residue of non-atomic renames.
  */
object index {

  /** In-process writer locks, one per `<name>_dels` table: the pending
    * set is the ONE index table written outside the maintenance window
    * (every [[deferTakedown]] appends to it under live traffic), so
    * unlike the swap-based rewrites its writers must coordinate. The
    * lock serializes dels APPENDS against the [[compactTakedowns]]
    * shrink-and-swap, which closes the lost-defer window completely
    * for the tested topology (every writer in one JVM — Spark local,
    * or a driver-side maintenance service): a defer landing during the
    * long purge phase survives the shrink via the anti-join against
    * the pinned purge set, and a defer racing the shrink itself blocks
    * for the milliseconds the swap takes. Writers in SEPARATE driver
    * processes remain under the module's single-writer contract. */
  private val delsLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def delsLock(delsTable: String): Object =
    delsLocks.computeIfAbsent(delsTable.toLowerCase, _ => new Object)
  // delsLocks is deliberately NEVER evicted: an entry is one Object per
  // distinct dels-table NAME ever written by this JVM (bounded by the
  // deployment's index inventory, not by session churn), and evicting a
  // lock another thread still holds would silently break the mutual
  // exclusion it exists for.

  /** Stable per-session cache key: a UUID assigned on first sight and
    * held under a WEAK key — a collected session's entry disappears
    * with it, and unlike identityHashCode a UUID can never be recycled
    * to a different live session after GC. */
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()
  private def sessionKey(spark: SparkSession): String =
    sessionIds.synchronized {
      var id = sessionIds.get(spark)
      if (id == null) {
        id = java.util.UUID.randomUUID().toString
        sessionIds.put(spark, id)
      }
      id
    }

  /** Cached pending-set row count per (session, dels table) — the
    * [[minusPending]] broadcast gate used to run one count job per
    * probe CONSTRUCTION, measurable overhead at streaming micro-batch
    * cadence. Every in-process dels writer refreshes or invalidates
    * the entry (deferTakedown, compactTakedowns, any Overwrite build's
    * [[resetManagedTable]]), so probes read the gate for free; a count
    * that somehow went stale (an out-of-contract external writer)
    * could only flip the JOIN STRATEGY, never the result — both sides
    * of the gate produce identical rows. Bounded: under session churn
    * (the streaming replay-session-per-query pattern) dead sessions'
    * entries would otherwise accumulate, so past a fixed cap the map
    * is simply cleared — it is an advisory cache whose worst-case
    * miss is one count job. */
  private val pendingCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val pendingCountsCap = 4096
  private def putPendingCount(key: String, c: Long): Unit = {
    if (pendingCounts.size > pendingCountsCap) pendingCounts.clear()
    pendingCounts.put(key, c)
    ()
  }
  private def pendingKey(spark: SparkSession, delsTable: String): String =
    sessionKey(spark) + "/" + delsTable.toLowerCase
  private def refreshPendingCount(spark: SparkSession,
      delsTable: String): Long = {
    val c = spark.table(delsTable).count()
    putPendingCount(pendingKey(spark, delsTable), c)
    c
  }
  private def invalidatePendingCount(delsTable: String): Unit = {
    // all sessions' entries: the table is gone on disk for everyone
    val suffix = "/" + delsTable.toLowerCase
    pendingCounts.keySet.removeIf(_.endsWith(suffix))
    ()
  }

  // ---------------- cross-driver writer lease ----------------

  /** CROSS-PROCESS writer lease, one per index name. [[delsLock]]
    * closes every in-JVM race, but a deployment with two DRIVER
    * processes mutating the same index rested on an honor-system
    * single-writer contract — a second process's rename-aside rewrite
    * racing the first's could silently drop or collide with an
    * in-flight stage. The lease converts that silent corruption into a
    * loud error: every maintenance-window mutator stamps
    * `graft.writer` (a fresh UUID) + a bumped `graft.epoch` on the
    * catalog-only `<name>_lease` table at window start, refuses to
    * start while a FOREIGN stamp is in place, re-checks the stamp
    * before every swap ([[swapViaRename]] / the cell overwrites) — if
    * another process stamped over the window, the mutator aborts
    * BEFORE renaming anything — and clears its stamp on exit
    * (including on failure). [[deferTakedown]], the
    * one out-of-window writer, checks the same stamp: a defer landing
    * while a FOREIGN process's window is open is exactly the
    * cross-process lost-defer scenario, so it fails loudly instead.
    *
    * In-process the lease is re-entrant per index name (nested
    * mutators — compactTakedowns calling removeFrom* — and the legal
    * defers-during-compaction topology share the JVM's token);
    * in-process window serialization remains the module's
    * single-writer contract plus the [[deferTakedown]] auto-compact
    * guard. A window abandoned by a crashed driver leaves its stamp
    * behind BY DESIGN — every later mutator fails loudly until an
    * operator inspects the wreckage (rescue `_old`/`_stage`
    * generations, see [[swapViaRename]]) and calls
    * [[releaseStaleLease]]. Probes never read the lease — zero
    * overhead on the probe path. */
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()
  private def leaseTable(name: String): String = s"${name}_lease"

  // lease properties are read through the catalog API, NOT SHOW
  // TBLPROPERTIES: SHOW passes values through the SQL redaction regex
  // (anything matching token/secret/... comes back "*(redacted)"),
  // and a redacted writer stamp would mis-compare as foreign
  private def leaseProps(spark: SparkSession,
      name: String): Map[String, String] = {
    val cat = spark.sessionState.catalog
    val ident =
      org.apache.spark.sql.catalyst.TableIdentifier(leaseTable(name))
    if (!cat.tableExists(ident)) Map.empty
    else cat.getTableMetadata(ident).properties
  }

  private def readLeaseWriter(spark: SparkSession,
      name: String): Option[String] =
    leaseProps(spark, name).get("graft.writer").filter(_.nonEmpty)

  private def staleLeaseError(name: String, writer: String) =
    new IllegalStateException(
      s"index: another writer's maintenance window is stamped on " +
        s"'$name' (graft.writer=$writer on ${leaseTable(name)}). A " +
        "concurrent driver process is mutating this index, or a " +
        "previous window crashed without clearing its stamp. Inspect " +
        "(crashed windows leave complete generations under _stage/_old " +
        "names), then call index.releaseStaleLease to clear the stamp.")

  /** Run `body` inside a maintenance window on `name`: stamp the
    * lease, fail loudly if a foreign stamp is in place, clear on exit.
    * Re-entrant per name within the JVM. */
  private def withLease[T](spark: SparkSession, name: String)
      (body: => T): T = {
    val key = name.toLowerCase
    val joined = heldLeases.computeIfPresent(key,
      (_, v) => (v._1, v._2 + 1))
    if (joined != null) {
      try body
      finally {
        heldLeases.computeIfPresent(key,
          (_, v) => if (v._2 <= 1) null else (v._1, v._2 - 1))
        ()
      }
    } else {
      val lt = leaseTable(name)
      if (!spark.catalog.tableExists(lt))
        spark.sql(s"CREATE TABLE IF NOT EXISTS $lt (lease_anchor INT) " +
          "USING parquet")
      readLeaseWriter(spark, name).foreach(w =>
        throw staleLeaseError(name, w))
      val token = java.util.UUID.randomUUID().toString
      val epoch = leaseProps(spark, name)
        .get("graft.epoch").map(_.toLong).getOrElse(0L) + 1
      spark.sql(s"ALTER TABLE $lt SET TBLPROPERTIES(" +
        s"'graft.epoch'='$epoch','graft.writer'='$token')")
      heldLeases.put(key, (token, 1))
      try body
      finally {
        heldLeases.remove(key)
        // clear only our own stamp: a rogue overstamper's token must
        // stay visible as evidence, not be wiped on our way out
        if (readLeaseWriter(spark, name).contains(token))
          spark.sql(s"ALTER TABLE $lt SET TBLPROPERTIES(" +
            "'graft.writer'='')")
      }
    }
  }

  /** Abort (loudly) if the lease stamp on `name` is no longer this
    * JVM's window token — called by every swap immediately before its
    * catalog renames: a foreign overstamp means another process
    * entered a window mid-flight, and renaming now could collide with
    * ITS stage. One catalog read; no Spark job. */
  private def checkLease(spark: SparkSession, name: String): Unit = {
    val held = heldLeases.get(name.toLowerCase)
    require(held != null,
      s"index: internal — table swap on '$name' outside a lease window")
    readLeaseWriter(spark, name) match {
      case Some(w) if w != held._1 => throw staleLeaseError(name, w)
      case _ => ()
    }
  }

  /** Whether this JVM currently holds the window whose token is
    * stamped on `name` — the [[deferTakedown]] foreign-window test. */
  private def jvmHoldsLease(name: String, token: String): Boolean = {
    val held = heldLeases.get(name.toLowerCase)
    held != null && held._1 == token
  }

  /** Clear an abandoned maintenance-window stamp on index `name` — the
    * recovery step after a crashed writer (see the lease contract
    * above). Refuses while this JVM itself holds the window. */
  def releaseStaleLease(spark: SparkSession, name: String): Unit = {
    require(!heldLeases.containsKey(name.toLowerCase),
      s"index.releaseStaleLease: this process holds an open window on " +
        s"'$name' — it clears its own stamp on exit")
    if (spark.catalog.tableExists(leaseTable(name)))
      spark.sql(s"ALTER TABLE ${leaseTable(name)} SET TBLPROPERTIES(" +
        "'graft.writer'='')")
    ()
  }

  /** One-at-a-time guard for [[deferTakedown]]'s inline auto-compaction
    * trigger: two defer threads crossing the pending ceiling together
    * must not run [[compactTakedowns]] concurrently (the family-table
    * rename-aside rewrites are not serialized against each other) — the
    * loser SKIPS, and the next defer past the ceiling re-triggers. */
  private val autoCompactRunning = new java.util.concurrent
    .ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicBoolean]()

  // ---------------- probe-side swap-window retry ----------------

  /** Resolve `table` with a bounded retry over the rename-aside swap's
    * reader-visible window: between `RENAME TO _old` and
    * `RENAME _stage TO table` the canonical name resolves to nothing
    * for the milliseconds the two catalog renames take, and a probe
    * constructed exactly then used to throw TABLE_OR_VIEW_NOT_FOUND.
    * Every probe-side table read goes through here; mutators do NOT
    * (a missing table is a real error inside a maintenance window).
    * Bounded at ~1 s — a table still missing then is genuinely gone.
    * A probe that resolved but OVERLAPS a swap in execution can still
    * hit moved files; that residue stays under the module's
    * maintenance-window contract (callers retry the probe — pinned in
    * ConcurrencySpec's probes-during-swap arm). */
  private def resolveRetry(spark: SparkSession, table: String): DataFrame =
    retryMissing(table)(spark.table(table))

  /** [[resolveRetry]] for SHOW TBLPROPERTIES — parameter reads race the
    * same rename window. */
  private def showPropsRetry(spark: SparkSession,
      table: String): Map[String, String] =
    retryMissing(table)(spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap)

  private def retryMissing[T](table: String)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if attempt < 40 && e.getMessage != null &&
              e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") =>
          attempt += 1
          Thread.sleep(25)
      }
    }
    throw new IllegalStateException(s"unreachable: $table")
  }

  /** Whether dels table `d` logically exists for a probe — catalog
    * existence with the rename window papered over: mid-swap the
    * canonical name is briefly absent while `_stage`/`_old` hold the
    * generations, and answering "no pending set" then would leak
    * pending ids into a probe. The final re-check of the canonical
    * name covers a swap that completed between the probes. */
  private def delsVisible(spark: SparkSession, d: String): Boolean =
    spark.catalog.tableExists(d) ||
      spark.catalog.tableExists(s"${d}_stage") ||
      spark.catalog.tableExists(s"${d}_old") ||
      spark.catalog.tableExists(d)

  /** Make an Overwrite build idempotent ACROSS sessions: drop the
    * catalog entry and clear any leftover managed-table directory from a
    * previous session whose metastore is gone (a fresh in-memory
    * catalog refuses `saveAsTable` onto an existing managed location —
    * LOCATION_ALREADY_EXISTS). A daily index rebuild must not depend on
    * the previous builder's metastore surviving. */
  private[graft] def resetManagedTable(spark: SparkSession, table: String): Unit = {
    // A PARTITIONED table's per-partition locations go STALE after a
    // catalog rename (the table directory moves, the partition entries
    // keep their absolute pre-rename paths — i.e. they alias ANOTHER
    // table's live data after a rename-aside swap). DROP TABLE deletes
    // managed-partition data at those registered locations, so dropping
    // a renamed-aside generation would eat the PROMOTED table's
    // directories. Purge the partition METADATA first (retainData —
    // catalog-only), so the drop below can only ever delete this
    // table's own directory.
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (cat.tableExists(ident) &&
        cat.getTableMetadata(ident).partitionColumnNames.nonEmpty) {
      val specs = cat.listPartitions(ident).map(_.spec)
      if (specs.nonEmpty)
        cat.dropPartitions(ident, specs, ignoreIfNotExists = true,
          purge = false, retainData = true)
    }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
    if (table.toLowerCase.endsWith("_dels")) invalidatePendingCount(table)
    ()
  }

  /** Rewrite a managed table under the rename-aside swap discipline
    * (the takedown's bucketed rewrites in [[rewriteBucketedMinus]], the
    * flat tables — `_dels`, `_stats`, the component-map family — and,
    * with `partitioned`, the retrain ops' cell tables): the new
    * generation is written ONCE to `<table>_stage` (both stage and the
    * `_old` name are reset first, so a crash-orphaned directory from a
    * dead session can never fail the write — the [[resetManagedTable]]
    * cross-session contract), the old generation is renamed aside before promotion
    * so there is never a no-table-on-disk state, and a crash at any
    * step leaves a complete generation recoverable under a
    * deterministic name (a crashed PARTITIONED generation additionally
    * needs `RECOVER PARTITIONS` after its rescue rename — renames
    * leave partition metadata stale, see below and
    * [[resetManagedTable]]). Replaces the old stage-then-Overwrite
    * shape, which wrote the data TWICE and recreated the table in
    * place. */
  private def swapViaRename(spark: SparkSession, table: String,
      leaseName: String, partitioned: Boolean = false)
      (writeStage: String => Unit): Unit = {
    checkLease(spark, leaseName)
    val stage = s"${table}_stage"
    val old = s"${table}_old"
    resetManagedTable(spark, stage)
    resetManagedTable(spark, old)
    writeStage(stage)
    // re-check right before the renames: a foreign process stamping
    // over the window mid-write must abort HERE, with the standing
    // table untouched and only a stage orphan left behind
    checkLease(spark, leaseName)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $stage RENAME TO $table")
    // renaming a PARTITIONED managed table moves its directory but the
    // catalog's per-partition locations keep pointing at the old path —
    // every read would silently scan nothing. Rebuild them from the
    // directory layout (≤ nlist partitions — one cheap listing).
    if (partitioned) spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
    resetManagedTable(spark, old)
  }

  /** Run independent TABLE-WRITE thunks concurrently (guide §2.6 —
    * Spark happily runs several jobs at once inside one application;
    * actions are sequential only because the driver calls them
    * sequentially). The lifecycle ops below commit 2-3 derived tables
    * per call, each write an independent job over shared pinned input:
    * run sequentially every write pays the full fixed job floor
    * (scheduling + commit protocol) end to end, while concurrently the
    * later writes back-fill executors freed by the first write's tail
    * — and at cluster scale the commits overlap instead of serializing
    * on the object store. Every thunk runs to completion before this
    * returns or throws, so no write outlives the caller's lease scope
    * ([[withLease]]); then the first failure in task order propagates
    * and the other already-started writes have landed or died on their
    * own tables, exactly the partial-commit exposure the sequential
    * code had. Thunks must touch DISTINCT tables and share no
    * session-conf flips. */
  private[graft] def inParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.lengthCompare(2) < 0) tasks.foreach(_.apply())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try {
        val running = tasks.map(t => Future(t()))
        running.foreach(Await.ready(_, Duration.Inf))
        running.foreach(_.value.get.get)
      } finally { pool.shutdown(); () }
    }

  /** Write `df` as bucketed table `table` on the grid (`nb`, `cols`):
    * one file per bucket, written by min(nb, cores) tasks. Unless
    * `placed` (a forced bucketed scan of a table on the same grid), the
    * frame is repartitioned with the bucket spec's own pmod(murmur3)
    * placement, one bucket per partition — else the writer emits a file
    * per task × bucket (2048 at 32 tasks × 64 buckets). The coalesce
    * merges whole partitions (a bucket stays in one task, hence one
    * file), adds no exchange, and bounds the task count: a write task
    * costs ~30 ms of executorDeserializeTime vs ~3 ms for a read task
    * (local[4]), ~2 s per 64-task rewrite, twice the write's CPU. */
  private def writeGrid(df: DataFrame, nb: Int, cols: Seq[String],
      mode: SaveMode, table: String, placed: Boolean = false): Unit = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val grid = if (placed) df else df.repartition(nb, cols.map(F.col): _*)
    grid.coalesce(math.min(nb, cores))
      .write.mode(mode).bucketBy(nb, cols.head, cols.tail: _*)
      .format("parquet").saveAsTable(table)
  }

  /** Build (SaveMode.Overwrite) or extend (SaveMode.Append) the index
    * tables under `name`. Appending batches over time is the intended
    * lifecycle: today's verified-new documents become tomorrow's index.
    * Append validates (k, numPerm, bands) against the stored build
    * parameters — extending an index with different hashing would
    * silently corrupt it. */
  def buildJaccardIndex(df: DataFrame, idCol: String, textCol: String,
      name: String, k: Int = 3, numPerm: Int = 64, bands: Int = 32,
      buckets: Int = 64, mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(k >= 1, s"index: k must be >= 1 (got $k)")
    require(bands >= 1 && numPerm % bands == 0,
      s"index: bands must be >= 1 and divide numPerm " +
        s"(got numPerm=$numPerm, bands=$bands)")
    val spark = df.sparkSession
    if (mode == SaveMode.Append && spark.catalog.tableExists(s"${name}_buckets")) {
      val stored = readParams(spark, name)
      require(stored == ((k, numPerm, bands)),
        s"index: append parameters (k=$k, numPerm=$numPerm, bands=$bands) " +
          s"do not match the build (k=${stored._1}, numPerm=${stored._2}, " +
          s"bands=${stored._3})")
    }
    if (mode == SaveMode.Overwrite)
      // _dels too: a fresh build is a fresh corpus — stale pending
      // logical takedowns against the OLD build must not filter it
      Seq(s"${name}_buckets", s"${name}_stats", s"${name}_sigs",
          s"${name}_dels")
        .foreach(resetManagedTable(spark, _))
    val rowsPerBand = numPerm / bands
    // signatures + band keys are each read by two writers below —
    // persist for the duration of the (synchronous) build
    val sh = df.select(F.col(idCol).cast(LongType).as("id"),
        dedup.shingleHashes(F.col(textCol), k).as("sh"))
      .withColumn("sig", dedup.minhashFromHashes(F.col("sh"), numPerm))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = sh.select(F.col("id"),
        F.posexplode(dedup.lshBandKeys(F.col("sig"), bands, rowsPerBand))
          .as(Seq("band", "band_hash")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // The three derived tables are INDEPENDENT writes over the two
      // pinned frames — commit them concurrently (inParallel, guide
      // §2.6): sequentially each pays its full fixed job floor; the
      // daily-append rows (x98/x124/x138) pay that floor per table per
      // day. Within each write:
      // - buckets, sigs: one file per bucket per append, written by
      //   min(buckets, cores) tasks ([[writeGrid]]) — without the grid
      //   every daily append is a small-file explosion.
      // - stats: per-bucket counts; appended parts are re-aggregated at
      //   probe time, so Append just adds this batch's counts.
      inParallel(Seq(
        () => writeGrid(keys, buckets, Seq("band", "band_hash"), mode,
          s"${name}_buckets"),
        () => keys.groupBy("band", "band_hash")
          .agg(F.count(F.lit(1)).as("cnt"))
          .write.mode(mode).format("parquet").saveAsTable(s"${name}_stats"),
        () => writeGrid(sh.select(F.col("id"), F.col("sh"),
            F.size(F.col("sh")).cast(DoubleType).as("n")),
          buckets, Seq("id"), mode, s"${name}_sigs")))
      spark.sql(s"ALTER TABLE ${name}_buckets SET TBLPROPERTIES(" +
        s"'graft.k'='$k','graft.numPerm'='$numPerm','graft.bands'='$bands')")
      // at-build drift baseline for the banding geometry (fresh builds
      // only — hot buckets accumulating across appends IS the drift
      // the report measures): one tiny aggregation over `_stats`
      if (mode == SaveMode.Overwrite && driftConfOn(spark))
        stampDrift(spark, s"${name}_buckets",
          jaccardDriftMetrics(spark, spark.table(s"${name}_stats")))
    } finally {
      keys.unpersist(blocking = false)
      sh.unpersist(blocking = false)
    }
  }

  // ---------------- index takedown (right-to-be-forgotten) ----------------

  /** Run `body` with a session conf pinned, restoring the previous
    * value (or unsetting) afterwards — the lifecycle ops below flip
    * writer/scan behavior for one statement only. The flip is
    * session-WIDE while `body` runs (Spark has no per-statement scope
    * for these writer confs): a concurrent statement on the same
    * session would inherit it — part of the module's single-writer
    * maintenance-window contract (see the object doc). */
  private def withConf[T](spark: SparkSession, key: String,
      value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The bucket count of a bucketed managed table, from the catalog —
    * a takedown rewrite must re-place survivors on the SAME grid or
    * every future probe's exchange-free bucket join silently breaks. */
  private def numBuckets(spark: SparkSession, table: String): Int =
    spark.sql(s"DESCRIBE FORMATTED $table").collect()
      .find(_.getString(0).trim == "Num Buckets")
      .map(_.getString(1).trim.toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"index: table $table has no bucket spec — not a graft index table?"))

  /** Normalized deletion set: one `_ix_del` LongType column, distinct. */
  private def delFrame(ids: DataFrame, idCol: String): DataFrame =
    ids.select(F.col(idCol).cast(LongType).as("_ix_del")).distinct()

  /** Whether a deletion set is small enough to broadcast into the
    * takedown joins — the [[minusPending]] gate applied to the PHYSICAL
    * path: a compaction folding a pathological pending set (a skipped
    * cadence at 10B-doc scale) must not OOM the rewrite either. Callers
    * pass a pinned/cached frame, so the count is one cheap job. */
  private def delIsSmall(spark: SparkSession, del: DataFrame): Boolean =
    del.count() <= spark.conf
      .get("spark.graft.index.pendingBroadcastThreshold", "10000000").toLong

  /** `df` minus / restricted-to the deletion set: broadcast below the
    * gate; hinted shuffled-hash above it (the anti/semi join then
    * exchanges the scanned rows, and the fallback rewrite repartitions
    * back onto its grid — at that pending size, one exchange of a
    * table being 100%-rewritten anyway). */
  private def delJoin(df: DataFrame, del: DataFrame, idColName: String,
      how: String, small: Boolean): DataFrame = {
    val side = if (small) F.broadcast(del) else del.hint("shuffle_hash")
    df.join(side, F.col(idColName) === F.col("_ix_del"), how)
  }

  /** Rewrite bucketed index table `table` minus the rows whose
    * `idColName` is in `del`, preserving the bucket spec and every
    * graft.* table property. Scale shape: the table is SCANNED once
    * with its bucket alignment forced (autoBucketedScan off → one
    * partition per bucket), the deletion set broadcast anti-joins in
    * place, and the write ([[writeGrid]]) emits one file per bucket
    * from min(buckets, cores) tasks with NO exchange — the index is
    * never shuffled. `small`: the caller's one [[delIsSmall]] of `del`.
    * The survivors replace the table through [[swapViaRename]]: the old
    * generation is renamed aside to `<table>_old` before the staged
    * survivors (`<table>_stage`) are promoted, so a crash leaves a
    * complete generation under one of those names. The two catalog
    * renames are still not one atomic step, hence the module-level
    * single-writer contract (object doc). */
  private def rewriteBucketedMinus(spark: SparkSession, table: String,
      leaseName: String, idColName: String, del: DataFrame,
      bucketCols: Seq[String], small: Boolean): Unit = {
    val nb = numBuckets(spark, table)
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter(_._1.startsWith("graft."))
    swapViaRename(spark, table, leaseName) { stage =>
      // above the broadcast gate the anti-join shuffles the scanned rows,
      // so the fallback repartitions them back onto the bucket grid —
      // one exchange of a table being fully rewritten anyway; below it
      // the bucket-aligned scan flows into the write with NO exchange
      val minus = delJoin(spark.table(table), del, idColName, "left_anti",
        small)
      withConf(spark, "spark.sql.sources.bucketing.autoBucketedScan.enabled",
          "false") {
        writeGrid(minus, nb, bucketCols, SaveMode.Overwrite, stage,
          placed = small)
      }
      if (props.nonEmpty)
        spark.sql(s"ALTER TABLE $stage SET TBLPROPERTIES(" +
          props.map { case (k, v) => s"'$k'='$v'" }.mkString(",") + ")")
    }
  }

  /** Purge deleted ids from a cell-PARTITIONED index table (`_cells` /
    * `_pqcells`): only the directories of AFFECTED cells are rewritten
    * (dynamic partition overwrite), everything else is untouched on
    * disk — at 100 TB a takedown batch touches its ≤ nlist cells, not
    * the corpus. The affected-cell list is driver-sized by construction
    * (≤ nlist ints — the same bound as the centroid bank every probe
    * already collects). A cell whose every row was deleted is absent
    * from the dynamic overwrite and would keep its ghost directory —
    * those partitions are dropped explicitly. */
  private def removeFromCellTable(spark: SparkSession, table: String,
      leaseName: String, del0: DataFrame): Unit = {
    // the deletion set is consumed three times (count gate, affected
    // semi-join, survivor anti-join) — pin it for the op
    val del = dedup.cachedPinned(del0)
    try removeFromCellTablePinned(spark, table, leaseName, del)
    finally { del.unpersist(blocking = false); () }
  }

  private def removeFromCellTablePinned(spark: SparkSession, table: String,
      leaseName: String, del: DataFrame): Unit = {
    checkLease(spark, leaseName)
    val small = delIsSmall(spark, del)
    val aff = delJoin(spark.table(table), del, "n_id", "left_semi", small)
      .select("cell").distinct().collect().map(_.getInt(0))
    if (aff.isEmpty) return
    val affSet = aff.map(Integer.valueOf).toSeq
    val survivors = delJoin(
      spark.table(table).filter(F.col("cell").isin(affSet: _*)),
      del, "n_id", "left_anti", small)
    // cells every one of whose rows is deleted are ABSENT from the
    // dynamic overwrite (it only replaces partitions present in the
    // written data) and would keep their ghost directories — find them
    // BEFORE the write (re-evaluating this plan afterwards would read
    // the rewritten table) and drop those partitions explicitly
    val survivorCells = survivors
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    withConf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic") {
      // one task per rewritten cell = one file per cell (the
      // buildIvfIndex small-file posture)
      survivors.repartition(F.col("cell"))
        .write.mode(SaveMode.Overwrite).insertInto(table)
    }
    (aff.toSet -- survivorCells).foreach { c =>
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (cell=$c)")
    }
  }

  /** DEFERRED (logical) takedown — the 100 TB posture: the physical
    * removeFrom* ops below rewrite their index tables, so a daily 0.1%
    * takedown batch would rewrite 100% of a 100 TB index every day.
    * This appends the ids to a tiny `<name>_dels` table instead
    * (O(batch), one small write); EVERY probe of any signature index
    * family under `name` excludes pending ids immediately via one
    * broadcast anti-join, and [[compactTakedowns]] folds the pending
    * set into the physical purge on the deployment's compaction cadence
    * — deletion-vector semantics: takedown is effective NOW, the
    * rewrite is amortized.
    *
    * Signature families only (Jaccard buckets/sigs, exact fps, IVF
    * cells, PQ codes — where exclusion is a row filter). The COMPONENT
    * MAP is refused: deleting a bridge document SPLITS its family,
    * which no row filter can express — use [[removeComponentIds]],
    * which is already batch-scaled and needs no deferral.
    *
    * RE-INGEST CONTRACT — takedown wins until compaction: an `Append`
    * of a pending id (a re-crawl of a taken-down page) stays hidden
    * from probes while the id is pending, and [[compactTakedowns]]
    * purges BOTH generations. This is deliberate: a
    * right-to-be-forgotten id must not silently resurrect through the
    * crawl pipeline inside the same compaction epoch. Re-ingesting the
    * id AFTER a compaction indexes it normally (the pending set is
    * empty then). Pinned by IndexTakedownSpec and the x136 oracle.
    *
    * When `spark.graft.index.autoCompactPendingThreshold` is set > 0
    * and the pending set exceeds it after this append,
    * [[compactTakedowns]] runs inline — a hard ceiling on the pending
    * set for deployments that don't want to trust cadence alone
    * (probes past [[minusPending]]'s broadcast gate stay correct
    * either way, via the shuffled fallback). Default 0 = off: the
    * deferred write stays O(batch). CAVEAT: the inline compaction's
    * physical purges swap index tables through catalog renames, i.e.
    * it runs under the module's single-writer MAINTENANCE-WINDOW
    * contract — a probe racing the triggered compaction can observe
    * the rename window. Do not enable the ceiling on an index probed
    * by live traffic while defers land; the defer-only path (ceiling
    * off) has no swap and no window. */
  def deferTakedown(ids: DataFrame, idCol: String, name: String): Unit = {
    similarity.requireIntegralId(ids, idCol, "index.deferTakedown")
    val spark = ids.sparkSession
    require(!spark.catalog.tableExists(s"${name}_cmap"),
      s"index.deferTakedown: '$name' has a component map — map deletions " +
        "can SPLIT families, which probe-time filtering cannot express; " +
        "call removeComponentIds (already O(batch)) for the map")
    // the append and the count refresh run under the in-process dels
    // writer lock: a concurrently running compactTakedowns shrink can
    // neither lose this batch nor publish a stale gate count over the
    // refresh (see [[delsLock]]); the count itself is one cheap job
    // over the small pending parquet and is what lets every future
    // probe read the broadcast gate for free ([[minusPending]])
    val cnt = delsLock(s"${name}_dels").synchronized {
      // cross-process guard: a FOREIGN driver's maintenance window
      // means its shrink/rewrite could rename _dels out from under
      // this append — exactly the lost-defer scenario the in-JVM lock
      // cannot see. Fail loudly; a window held by THIS JVM is the
      // legal defers-during-compaction topology and proceeds. The
      // stamp read can race a window's EXIT (stamp still visible for
      // the instant between the held-map removal and the clear), so an
      // apparent-foreign stamp is re-read briefly before throwing — a
      // real foreign window outlives the loop by construction (it
      // spans a whole maintenance op).
      var leaseTries = 0
      var leaseOk = false
      while (!leaseOk) {
        readLeaseWriter(spark, name) match {
          case Some(w) if !jvmHoldsLease(name, w) =>
            if (leaseTries >= 40) throw staleLeaseError(name, w)
            leaseTries += 1
            Thread.sleep(25)
          case _ => leaseOk = true
        }
      }
      delFrame(ids, idCol).select(F.col("_ix_del").as("id"))
        .write.mode(SaveMode.Append).format("parquet")
        .saveAsTable(s"${name}_dels")
      refreshPendingCount(spark, s"${name}_dels")
    }
    val autoCap = spark.conf
      .get("spark.graft.index.autoCompactPendingThreshold", "0").toLong
    if (autoCap > 0 && cnt > autoCap) {
      // one inline compaction at a time per index: concurrent defer
      // threads crossing the ceiling together must not run the
      // rename-aside rewrites concurrently — losers skip, and the next
      // defer past the ceiling re-triggers ([[autoCompactRunning]])
      val guard = autoCompactRunning.computeIfAbsent(name.toLowerCase,
        _ => new java.util.concurrent.atomic.AtomicBoolean(false))
      if (guard.compareAndSet(false, true))
        try compactTakedowns(spark, name)
        finally guard.set(false)
    }
  }

  /** Fold every pending logical takedown under `name` into the physical
    * purge, across whichever signature index families exist, then
    * remove exactly the PURGED ids from `<name>_dels`. Run on the
    * compaction cadence (weekly, monthly — whenever one index rewrite
    * is worth reclaiming the space); reads are identical before and
    * after, because probes already exclude pending ids.
    *
    * The final shrink is an anti-join of the CURRENT dels against the
    * pinned set, not a blind truncate: a [[deferTakedown]] that lands
    * between the pin and this rewrite was never purged, and wiping it
    * here would silently resurrect that id — it must stay pending for
    * the next compaction. The shrink itself (re-read, anti-join,
    * rename-aside swap) runs under the in-process dels writer lock
    * ([[delsLock]]), so a defer racing the swap blocks instead of
    * appending into a table about to be renamed out from under it —
    * within one JVM no defer can be lost at ANY interleaving (pinned
    * by ConcurrencySpec's defers-during-compaction arm); writers in
    * separate driver processes stay under the single-writer contract. */
  def compactTakedowns(spark: SparkSession, name: String): Unit = {
    if (!spark.catalog.tableExists(s"${name}_dels")) return
    withLease(spark, name) {
      // pin the pending set OUTSIDE the dels table: the purges below
      // run while it is being consumed, and the final rewrite would
      // yank a lazy plan's source out from under a late re-read
      val ids = spark.table(s"${name}_dels").select("id")
        .localCheckpoint(true)
      if (spark.catalog.tableExists(s"${name}_buckets"))
        removeFromJaccardIndex(ids, "id", name)
      if (spark.catalog.tableExists(s"${name}_fps"))
        removeFromExactIndex(ids, "id", name)
      if (spark.catalog.tableExists(s"${name}_cells"))
        removeFromIvfIndex(ids, "id", name)
      if (spark.catalog.tableExists(s"${name}_pqcells"))
        removeFromPqIndex(ids, "id", name)
      shrinkDels(spark, name, ids)
    }
  }

  /** Remove exactly `purged0`'s ids from `<name>_dels` — the tail of
    * every op that folds pending takedowns into a physical rewrite
    * ([[compactTakedowns]], the retrain ops). Keeps only ids deferred
    * AFTER the caller's pin; the purge set is pending-set-sized, so
    * its join is gated like every other deletion join ([[delJoin]]
    * discipline). Runs under the dels writer lock — see
    * [[compactTakedowns]]'s contract note. */
  private def shrinkDels(spark: SparkSession, name: String,
      purged0: DataFrame): Unit = {
    val purged = purged0.withColumnRenamed("id", "_ix_purged")
    val purgedSide =
      if (delIsSmall(spark, purged)) F.broadcast(purged)
      else purged.hint("shuffle_hash")
    delsLock(s"${name}_dels").synchronized {
      swapViaRename(spark, s"${name}_dels", name) { stage =>
        spark.table(s"${name}_dels")
          .join(purgedSide, F.col("id") === F.col("_ix_purged"), "left_anti")
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(stage)
      }
      refreshPendingCount(spark, s"${name}_dels")
      ()
    }
  }

  /** Standing FILE compaction across every index family under `name` —
    * no deletion involved. Each daily Append writes one file per
    * bucket (the build ops' repartition-onto-the-grid posture), so a
    * year of appends is ~365 files per bucket and every probe pays
    * open/footer cost per file; until now only a takedown rewrite
    * compacted, and only when deletions were pending. This rewrites
    * each bucketed table onto its own grid (one file per bucket,
    * written by min(buckets, cores) tasks, no exchange — the
    * [[rewriteBucketedMinus]] scan shape with an empty deletion set),
    * rewrites each cell-partitioned table to one file per cell, and
    * folds the `_stats` append log (one row per build/append/takedown
    * per bucket) into one row per live bucket.
    * Reads are identical before and after — only the file layout
    * moves. Pending logical takedowns are NOT folded (that is
    * [[compactTakedowns]]'s job); `<name>_dels` is untouched. Runs
    * under the module's single-writer maintenance-window contract. */
  def compactIndex(spark: SparkSession, name: String): Unit =
    withLease(spark, name) {
      val none = spark.range(0).select(F.col("id").as("_ix_del"))
      val small = delIsSmall(spark, none)
      if (spark.catalog.tableExists(s"${name}_buckets")) {
        rewriteBucketedMinus(spark, s"${name}_buckets", name, "id", none,
          Seq("band", "band_hash"), small)
        rewriteBucketedMinus(spark, s"${name}_sigs", name, "id", none,
          Seq("id"), small)
        // zero-sum buckets (fully taken down) drop out; a bucket absent
        // from _stats reads as count 0 either way — no probe change
        swapViaRename(spark, s"${name}_stats", name) { stage =>
          spark.table(s"${name}_stats")
            .groupBy("band", "band_hash").agg(F.sum("cnt").as("cnt"))
            .filter(F.col("cnt") =!= 0L)
            .write.mode(SaveMode.Overwrite).format("parquet")
            .saveAsTable(stage)
        }
      }
      if (spark.catalog.tableExists(s"${name}_fps"))
        rewriteBucketedMinus(spark, s"${name}_fps", name, "id", none,
          Seq("fp"), small)
      Seq(s"${name}_cells", s"${name}_pqcells")
        .filter(spark.catalog.tableExists).foreach { t =>
          // one task per cell = one file per cell; the dynamic
          // overwrite replaces exactly the cells present — here, all
          // of them (the removeFromCellTable write shape, no deletion)
          checkLease(spark, name)
          withConf(spark, "spark.sql.sources.partitionOverwriteMode",
              "dynamic") {
            spark.table(t).repartition(F.col("cell"))
              .write.mode(SaveMode.Overwrite).insertInto(t)
          }
        }
    }

  /** RE-BAND the Jaccard index: rebuild `_buckets` and `_stats` at NEW
    * (numPerm, bands) from the STORED shingle-hash sets — the banding
    * budget is recall tuning (more bands at the same numPerm catch
    * lower-similarity pairs; a different numPerm re-prices the
    * signature), and a standing 100 TB index must be able to move it
    * WITHOUT re-reading the corpus text. `_sigs` already persists each
    * document's full k-shingle hash set, so the re-band is ONE scan of
    * sigs (minhash + band keys re-derived in a codegen pass) and two
    * grid writes; the text is never touched and `_sigs` itself is
    * parameter-independent and unchanged. `k` is immutable — the
    * stored sets ARE k-shingle hashes (changing k is a rebuild from
    * text, by construction). The new parameters land in TBLPROPERTIES,
    * so every future probe and append reads the re-banded contract;
    * pending takedowns (`_dels`) are untouched and keep filtering.
    * This is the no-trained-state family's [[retrainPqIndex]]: the
    * signature family's "geometry" is its hash parameters.
    *
    * Swap discipline and single-writer contract as everywhere
    * ([[swapViaRename]]). Re-banding to FINER bands (more bands, same
    * numPerm) can only widen candidate generation, so exact-verified
    * probe results are preserved or improved — the x146 oracle pins
    * the preserved case.
    *
    * Torn failure: the `_buckets` and `_stats` swaps commit
    * concurrently and independently, so if one fails `_stats` can sit
    * at the NEW banding while `_buckets` (and its TBLPROPERTIES
    * geometry) stay OLD, or the reverse. Probe results stay correct —
    * band keys that match no stats row take the uncapped cool path —
    * but the `maxBucket` hot-bucket cap of [[probeJaccardIndex]] stops
    * firing, so the bounded-work guarantee is lost. Recovery: re-run
    * this rehash with the intended parameters; it rewrites both tables
    * from `_sigs` and leaves them at one banding again. */
  def rehashJaccardIndex(spark: SparkSession, name: String,
      numPerm: Int, bands: Int): Unit = {
    require(bands >= 1 && numPerm % bands == 0,
      s"index: bands must be >= 1 and divide numPerm " +
        s"(got numPerm=$numPerm, bands=$bands)")
    val (k, _, _) = readParams(spark, name)
    val nb = numBuckets(spark, s"${name}_buckets")
    val rowsPerBand = numPerm / bands
    withLease(spark, name) {
      // materialize the signature BEFORE deriving band keys (the build
      // path's posture): inlined into lshBandKeys' array, the
      // numPerm-wide minhash would be re-evaluated once per band key —
      // bands × numPerm hash passes over every stored shingle set
      // (measured 82 s vs ~4 s at sf0.1 for the x146 re-band). The
      // persisted (id, sig) frame feeds both grid writes; each derives
      // its 64 keys from the materialized signature for free.
      val sg = dedup.cachedPinned(
        spark.table(s"${name}_sigs").select(F.col("id"),
          dedup.minhashFromHashes(F.col("sh"), numPerm).as("_rh_sig")))
      val keys = sg.select(F.col("id"),
        F.posexplode(dedup.lshBandKeys(F.col("_rh_sig"),
          bands, rowsPerBand)).as(Seq("band", "band_hash")))
      try {
        // the two generation swaps touch DISTINCT tables over the same
        // pinned signature frame — run them concurrently (inParallel,
        // guide §2.6) instead of two sequential write+rename floors
        inParallel(Seq(
          () => swapViaRename(spark, s"${name}_buckets", name) { stage =>
            writeGrid(keys, nb, Seq("band", "band_hash"),
              SaveMode.Overwrite, stage)
            spark.sql(s"ALTER TABLE $stage SET TBLPROPERTIES(" +
              s"'graft.k'='$k','graft.numPerm'='$numPerm'," +
              s"'graft.bands'='$bands')")
          },
          () => swapViaRename(spark, s"${name}_stats", name) { stage =>
            keys.groupBy("band", "band_hash")
              .agg(F.count(F.lit(1)).as("cnt"))
              .write.mode(SaveMode.Overwrite).format("parquet")
              .saveAsTable(stage)
          }))
        // a re-band is this family's retrain: restamp the geometry
        // baseline, so the report's ratio returns to 1
        if (driftConfOn(spark))
          stampDrift(spark, s"${name}_buckets",
            jaccardDriftMetrics(spark, spark.table(s"${name}_stats")))
      } finally { sg.unpersist(blocking = false); () }
    }
  }

  // ---------------- codebook / centroid RETRAIN ----------------

  /** The pinned pending set of `name` (None when no `_dels` table): an
    * eager, lineage-severed copy, because retrain both consumes it
    * (training/encode exclusion) and then folds it into `_dels` via
    * [[shrinkDels]] — a lazy plan would re-read a table being swapped. */
  private def pinnedPending(spark: SparkSession,
      name: String): Option[DataFrame] =
    if (!spark.catalog.tableExists(s"${name}_dels")) None
    else Some(spark.table(s"${name}_dels").select("id").localCheckpoint(true))

  /** `df` minus a pinned pending set on `idColName` — the [[delJoin]]
    * gate applied to the retrain exclusion joins. No distinct: an
    * anti-join ignores duplicate build keys, and deduplicating would
    * put an extra exchange inside the rewrite's one-exchange plan (the
    * ScaleSmoke receipt); re-deferred ids only overcount the gate,
    * which errs toward the safe (shuffled) side. */
  private def minusPinned(spark: SparkSession, df: DataFrame,
      pend: Option[DataFrame], idColName: String): DataFrame = pend match {
    case None => df
    case Some(p) =>
      val del = p.select(F.col("id").cast(LongType).as("_ix_del"))
      delJoin(df, del, idColName, "left_anti", delIsSmall(spark, del))
  }

  /** RETRAIN the IVF coarse quantizer of index `name` — the index
    * lifecycle op for a DRIFTING corpus: [[buildIvfIndex]]'s Append
    * deliberately assigns new batches against the day-1 centroid bank
    * (cell ids must stay stable mid-lifecycle), so after months of
    * appends the cell geometry no longer matches the data and probe
    * recall decays at a fixed nprobe budget. This trains a FRESH bank
    * on the current live corpus (the same Lloyd-as-Spark-jobs path as
    * the build — `portableSeed` keeps the iters = 0 seed path exactly
    * replayable, the x143 oracle gate), re-assigns every live vector
    * in one codegen pass, and swaps both tables under the rename-aside
    * discipline. Self-contained: `_cells` stores the vectors, so no
    * external source is needed (contrast [[retrainPqIndex]]). Passing
    * `nlist` > 0 RESIZES the cell geometry in the same pass — the
    * growth path an append-only corpus eventually needs (see the
    * inline note below).
    *
    * Pending logical takedowns are handled the right-to-be-forgotten
    * way: pending ids are EXCLUDED from both the training sample and
    * the re-encode (the rewrite is their physical purge — deleted data
    * must not shape the new geometry either), and the pinned pending
    * set is folded out of `_dels` afterwards ([[shrinkDels]] — a defer
    * landing mid-retrain stays pending, the compactTakedowns
    * contract). Probe results change ONLY through candidate geometry:
    * with nprobe = nlist a post-retrain probe is still exactly the
    * brute force over survivors.
    *
    * Scale shape: training touches a ≤ sampleN hash sample; the
    * re-encode is ONE scan of the live cells (codegen argmax against
    * the broadcast-literal new bank) plus the one exchange every cell
    * rewrite pays (repartition onto the new cell grid → one file per
    * cell); the corpus is never joined or shuffled otherwise. Runs
    * under the module's single-writer maintenance-window contract.
    *
    * CRASH WINDOW — cross-TABLE consistency: the two interdependent
    * swaps (`_cells` then `_centroids`) are sequential, so a crash
    * between them leaves rows ASSIGNED against the new bank while
    * probes still read the OLD bank — probes keep running but route
    * with degraded recall, a SILENT state (no error is thrown). The
    * single-table rename rescue ([[swapViaRename]]) is not enough
    * here: recover by re-running the retrain (idempotent — it trains
    * on the live survivors again), or by rescuing BOTH `_old`
    * generations as a PAIR — never one without the other. */
  def retrainIvfIndex(spark: SparkSession, name: String, iters: Int = 5,
      sampleN: Int = 20000, sampleOneIn: Long = 0L,
      portableSeed: Boolean = false, nlist: Int = 0): Unit =
   withLease(spark, name) {
    val dim = readIvfDim(spark, name)
    // nlist > 0 RESIZES the cell geometry — the growth path an
    // append-only corpus eventually needs (cells sized for day 1 go
    // hot as the corpus grows; nlist ∝ √n keeps probe cost flat).
    // Safe here precisely because retrain re-assigns EVERY live row:
    // unlike append-time cell ids, nothing persisted refers to the old
    // geometry after the swap. 0 (default) keeps the stored width.
    val nlistEff =
      if (nlist > 0) nlist
      else readIvfBank(spark, name).length / (dim + 1)
    val pend = pinnedPending(spark, name)
    val live = minusPinned(spark, spark.table(s"${name}_cells"), pend, "n_id")
    val bank = similarity.trainIvfCentroids(live, "n_id", "n_vec", nlistEff,
      iters, sampleN, sampleOneIn, portableSeed)
    require(bank.nonEmpty,
      s"index.retrainIvfIndex: '$name' has no live vectors to retrain on")
    val bankLit = F.typedlit(bank.toSeq)
    swapViaRename(spark, s"${name}_cells", name, partitioned = true) {
        stage =>
      live.select(F.col("n_id"), F.col("n_vec"), F.col("n_nrm"),
          F.element_at(F.call_function("graft_centroid_topk",
            F.col("n_vec"), bankLit, F.lit(1)), 1).as("cell"))
        .repartition(F.col("cell"))
        .write.mode(SaveMode.Overwrite).partitionBy("cell")
        .format("parquet").saveAsTable(stage)
      spark.sql(s"ALTER TABLE $stage SET TBLPROPERTIES(" +
        s"'graft.dim'='$dim')")
    }
    swapViaRename(spark, s"${name}_centroids", name) { stage =>
      import spark.implicits._
      bank.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
        .toDF("pos", "v").coalesce(1)
        .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(stage)
    }
    pend.foreach(p => shrinkDels(spark, name, p))
    // retrain restamps the drift baseline: the new geometry fits the
    // live corpus by construction, so the report's ratio returns to 1
    if (driftConfOn(spark))
      stampDrift(spark, s"${name}_cells",
        ivfDriftMetrics(spark, spark.table(s"${name}_cells"), bank, dim))
   }

  /** RETRAIN both quantizer banks of PQ index `name` (IVF centroids +
    * PQ codebooks, raw or residual per the index's own stored flag) —
    * [[retrainIvfIndex]]'s sibling for the code-storing layout, and
    * the remedy for the recall decay [[buildPqIndex]]'s
    * stored-bank-append contract accumulates on a drifting corpus.
    *
    * PQ codes are LOSSY — the original vectors are deliberately not
    * persisted — so re-encoding needs the authoritative vector store:
    * `df` (any frame holding at least every live indexed id's current
    * vector; extra rows are ignored). The live set is exactly the ids
    * physically in `_pqcells` minus the pinned pending takedowns —
    * rows `df` carries for already-removed ids can never resurrect
    * (the takedown contract), and the rewrite must cover ALL live ids:
    * coverage is enforced by counting the staged table against the
    * live set before the swap, so a partial vector store aborts with
    * the index untouched rather than silently shrinking it.
    *
    * The storage contract holds by default: nlist, m, ksub (inferred
    * from the stored banks' shapes) and the residual flag stay fixed —
    * retrain refreshes bank VALUES, not the code-space shape, so
    * probes and appends keep working unchanged against the new banks.
    * Because the rewrite re-encodes EVERY live row, the shape can
    * also be RESIZED in the same pass when the corpus has outgrown it:
    * `nlist`/`m`/`ksub` > 0 override the stored widths (nlist ∝ √n
    * keeps probe cost flat; a larger m buys recall at more ints per
    * row) — nothing persisted refers to the old geometry after the
    * swap, and the updated widths land in TBLPROPERTIES/`_pqbank` so
    * later appends and probes read the resized contract. The residual
    * flag alone is immutable (it is a semantic, not a width). Pending
    * ids are excluded from training and encode and folded out of
    * `_dels` (see [[retrainIvfIndex]]).
    *
    * Scale shape: training touches hash samples; the rewrite pays one
    * id semi-join of `df` against the live id set (the one join the
    * lossy layout forces — O(corpus), like the rewrite itself) plus
    * the cell-grid exchange; no other shuffle. Single-writer
    * maintenance-window contract.
    *
    * CRASH WINDOW — cross-TABLE consistency: the `_pqcells` and
    * `_pqbank` swaps are sequential, so a crash between them leaves
    * codes ENCODED against the new banks while probes still decode
    * with the OLD codebooks — for PQ that is silently WRONG ADC
    * distances, not just recall loss, and no error is thrown. The
    * single-table rename rescue ([[swapViaRename]]) is not enough
    * here: recover by re-running the retrain (idempotent), or by
    * rescuing BOTH `_old` generations as a PAIR — never one without
    * the other. */
  def retrainPqIndex(df: DataFrame, idCol: String, vecCol: String,
      name: String, ivfIters: Int = 2, pqIters: Int = 0,
      sampleN: Int = 20000, sampleOneIn: Long = 0L,
      portableSeed: Boolean = false, nlist: Int = 0, m: Int = 0,
      ksub: Int = 0): Unit = {
    val spark = df.sparkSession
    similarity.requireIntegralId(df, idCol, "index.retrainPqIndex")
    withLease(spark, name) {
    val dim = readPqProp(spark, name, "graft.dim").toInt
    val mEff =
      if (m > 0) m else readPqProp(spark, name, "graft.m").toInt
    require(dim % mEff == 0,
      s"index.retrainPqIndex: m=$mEff must divide dim=$dim")
    val residual =
      readPqPropOr(spark, name, "graft.residual", "false").toBoolean
    val nlistEff =
      if (nlist > 0) nlist
      else readPqBank(spark, name, "ivf").length / (dim + 1)
    // cb layout is m × ksub × (dim/m) doubles → ksub = |cb| / dim; a
    // tiny build that trained kEff < ksub codewords retrains at kEff —
    // the effective budget the stored codes were paid at
    val ksubEff =
      if (ksub > 0) ksub
      else readPqBank(spark, name, "cb").length / dim
    val pend = pinnedPending(spark, name)
    val liveIds = minusPinned(spark,
      spark.table(s"${name}_pqcells").select("n_id"), pend, "n_id")
    val nLive = liveIds.count()
    require(nLive > 0,
      s"index.retrainPqIndex: '$name' has no live vectors to retrain on")
    val src = df.select(F.col(idCol).cast(LongType).as("n_id"),
      F.col(vecCol).as("n_vec"))
    // fail-fast coverage pre-check: a vector store MISSING live ids
    // must abort BEFORE the training and the full re-encode write, not
    // after paying them — one anti-join count over the id columns
    // (dwarfed by the encode it guards), with the standing index and
    // catalog untouched (no stage table is ever created). The staged
    // post-write gate below stays: it additionally catches duplicate
    // and ragged-vector rows the id-level pre-check cannot see.
    val missing = liveIds
      .join(src.select("n_id").distinct(), Seq("n_id"), "left_anti")
      .count()
    require(missing == 0L,
      s"index.retrainPqIndex: vector source is missing $missing of " +
        s"$nLive live indexed ids — aborting before any re-encode " +
        "(the index is untouched)")
    val liveVecs = src.join(liveIds, Seq("n_id"), "left_semi")
    val bank = similarity.trainIvfCentroids(liveVecs, "n_id", "n_vec",
      nlistEff, ivfIters, sampleN, sampleOneIn, portableSeed)
    val cb =
      if (residual) similarity.trainPqCodebooks(
        residualFrame(similarity.cleanDim(liveVecs, "n_vec", dim),
          "n_id", "n_vec", bank, dim), "n_id", "_rc_r",
        mEff, ksubEff, pqIters, sampleN, sampleOneIn, portableSeed)
      else similarity.trainPqCodebooks(liveVecs, "n_id", "n_vec", mEff,
        ksubEff, pqIters, sampleN, sampleOneIn, portableSeed)
    // recon baseline computed BEFORE the swaps: the encode-side scan
    // re-reads liveVecs, whose plan still points at the OLD generation
    // — after the rename-aside swap those files are gone. The values
    // depend only on the live vectors and the NEW banks, so computing
    // here and stamping after the swap is the same number.
    val reconBase =
      if (driftConfOn(spark))
        Some(pqReconStatsAtEncode(
          similarity.cleanDim(liveVecs, "n_vec", dim), "n_id", "n_vec",
          bank, cb, mEff, dim, residual))
      else None
    swapViaRename(spark, s"${name}_pqcells", name, partitioned = true) {
        stage =>
      encodeCells(similarity.cleanDim(liveVecs, "n_vec", dim),
          "n_id", "n_vec", bank, cb, mEff, dim, residual)
        .repartition(F.col("cell"))
        .write.mode(SaveMode.Overwrite).partitionBy("cell")
        .format("parquet").saveAsTable(stage)
      // coverage gate BEFORE any rename: a vector store carrying
      // duplicate rows or ragged vectors for live ids (the pre-check
      // above already killed MISSING ids cheaply) must abort with the
      // standing index intact, not swap in a corrupted generation.
      // Row count alone can be fooled — a duplicate masking a ragged
      // drop leaves the total at nLive — so distinct-id coverage is
      // asserted too (one gate job; its tiny exchange is the price of
      // the abort contract). Throwing here leaves only a stage
      // orphan, which the next retrain's reset clears.
      val gate = spark.table(stage)
        .agg(F.count(F.lit(1)), F.count_distinct(F.col("n_id"))).head()
      val staged = gate.getLong(0)
      val stagedIds = gate.getLong(1)
      require(staged == nLive && stagedIds == nLive,
        s"index.retrainPqIndex: vector source re-encoded $staged rows " +
          s"covering $stagedIds distinct ids of $nLive live indexed " +
          "ids — it must cover every live id exactly once at the " +
          "trained width")
      spark.sql(s"ALTER TABLE $stage SET TBLPROPERTIES(" +
        s"'graft.dim'='$dim', 'graft.m'='$mEff', " +
        s"'graft.residual'='$residual')")
    }
    swapViaRename(spark, s"${name}_pqbank", name) { stage =>
      import spark.implicits._
      val rows = bank.zipWithIndex.map { case (v, i) => ("ivf", i, v) } ++
        cb.zipWithIndex.map { case (v, i) => ("cb", i, v) }
      rows.toSeq.toDF("kind", "pos", "v").coalesce(1)
        .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(stage)
    }
    pend.foreach(p => shrinkDels(spark, name, p))
    // restamp the drift baseline against the fresh banks — the
    // report's ratio returns to 1 after a retrain (see retrainIvf)
    reconBase.foreach { case (rMean, rP95) =>
      // widths from the TRAINED banks (≤ the requested ones on a
      // sample smaller than nlist/ksub), matching the report's view
      stampDrift(spark, s"${name}_pqcells",
        pqOccMetrics(spark, spark.table(s"${name}_pqcells"),
          bank.length / (dim + 1), cb.length / dim) ++
          Seq("recon_mean" -> rMean, "recon_p95" -> rP95))
    }
    }
  }

  /** One-row-per-physical-table inventory of everything under index
    * `name` — the observability surface of the index lifecycle: every
    * mutator (build/append/defer/takedown/compact/retrain) moves state
    * a production deployment needs to SEE before trusting a
    * maintenance run. Columns: `part` (the table suffix), `n_rows`,
    * and `params` — the stored `graft.*` TBLPROPERTIES rendered
    * `k=v,k=v` in key order, i.e. the SAME values every probe reads
    * back, so parameter drift between what was built and what ops
    * believe is visible in one query. The pending-takedown depth is
    * the `dels` row; signature families with no trained state
    * (Jaccard, exact) have no retrain op by construction — their
    * params ARE the geometry, so rebuild ≡ retrain.
    *
    * Scale shape: one metadata-cheap count per table (parquet
    * row-group stats — no data columns scanned) plus catalog property
    * reads, over a fixed ≤ 12-suffix inventory — driver-bounded by
    * construction. The counts ride ONE union-of-aggregates job that
    * executes at the CALLER'S action (lazy, at-action-time semantics —
    * not a snapshot at call time): a concurrent mutator committing
    * between describeIndex() and the collect is visible in the counts,
    * and a table dropped in that window fails the action rather than
    * returning a stale row. Callers needing a point-in-time snapshot
    * under concurrent mutation should collect immediately while
    * holding the family's maintenance lease (the same `_lease` table
    * every mutator takes). */
  def describeIndex(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val suffixes = Seq("buckets", "sigs", "stats", "fps", "cells",
      "centroids", "pqcells", "pqbank", "dels", "cmap", "cremap",
      "cedges")
    val parts = suffixes.flatMap { sfx =>
      val t = s"${name}_$sfx"
      if (!spark.catalog.tableExists(t)) None
      else {
        // graft.drift.* baselines are data-derived doubles surfaced
        // (with their comparison) by [[driftIndexReport]], not here —
        // `params` stays the build-call parameters probes read back
        val params = showPropsRetry(spark, t).toSeq
          .filter { case (k, _) =>
            k.startsWith("graft.") && !k.startsWith("graft.drift.") }
          .sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(",")
        // one lazy single-row aggregate per table; the union below
        // makes the whole inventory ONE Spark job (the old form ran
        // one sequential count() job per suffix — up to 12 fixed
        // scheduling floors for a metadata-cheap listing)
        Some(resolveRetry(spark, t)
          .agg(F.count(F.lit(1)).as("n_rows"))
          .select(F.lit(sfx).as("part"), F.col("n_rows"),
            F.lit(params).as("params")))
      }
    }
    if (parts.isEmpty)
      Seq.empty[(String, Long, String)].toDF("part", "n_rows", "params")
    else parts.reduce(_.unionAll(_))
  }

  // ---------------- geometry drift / index health ----------------

  /** The WHEN-TO-RETRAIN signal: [[retrainIvfIndex]]/[[retrainPqIndex]]
    * provably restore recall on a drifted corpus (PqAnnSpec's receipt),
    * but a standing index needs a metric that says the geometry has
    * drifted WITHOUT a ground-truth neighbor set. Two families of
    * cheap, truth-set-free signals, each compared against an AT-BUILD
    * baseline stamped into TBLPROPERTIES (`graft.drift.*`) by every
    * bank-producing op (fresh build and retrain — appends deliberately
    * do NOT restamp, accumulation against the build-time geometry IS
    * the drift being measured):
    *
    *  - assignment tightness (IVF, vectors stored): mean and p95 of
    *    `1 − cos(v, centroid(cell))` over live rows — rises as
    *    appended mass lands far from every trained centroid;
    *  - reconstruction error (PQ, codes stored — [[driftPqReport]],
    *    which needs the caller's vector store like every
    *    vector-touching PQ op): mean/p95 of the squared quantization
    *    error of the STORED codes decoded against the STORED banks —
    *    also a canary for a code space corrupted by the documented
    *    cross-table crash window, which probes cannot see;
    *  - occupancy shape (both): empty-cell count and hot-cell ratio
    *    (max cell size ÷ uniform share) — drifting mass concentrates
    *    in few cells, degrading probe cost at fixed nprobe — plus
    *    codeword-usage skew for PQ (`code_hot`).
    *
    * Every number is deterministic run-to-run (means ride DECIMAL
    * sums, the quantile is the exact interpolating percentile,
    * occupancy is integer-derived), so reports are comparable across
    * days and engines — the x147/x148 oracles re-derive them in SQL.
    * Scale shape: one column-pruned aggregation scan per family (the
    * compactIndex cost class), a broadcast of the nlist-row centroid
    * frame, driver-bounded collects (≤ nlist per-cell partials).
    * Baseline stamping can be disabled for a build
    * (`spark.graft.index.driftBaseline` = false) — the report then
    * returns null baselines/ratios. */
  private def driftConfOn(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.index.driftBaseline", "true").toBoolean

  private val driftDec = DecimalType(30, 12)

  /** IVF-family metrics over `cells` rows against the flat `bank`:
    * assign_mean / assign_p95 / occ_empty / occ_hot. Zero-norm rows
    * (no defined angle) are excluded from the distance metrics but
    * counted in occupancy. ONE fused ROLLUP job: per-cell partials
    * (≤ nlist rows collected; the global mean is the exact sum of
    * per-cell DECIMAL sums, so the reduction order can never move it)
    * and the exact global percentile from the grand-total row. */
  private def ivfDriftMetrics(spark: SparkSession, cells: DataFrame,
      bank: Array[Double], dim: Int): Seq[(String, Double)] = {
    import spark.implicits._
    val nlist = bank.length / (dim + 1)
    if (nlist == 0) return Seq.empty
    val cents = (0 until nlist).map(c =>
      (c, bank.slice(c * dim, (c + 1) * dim).toSeq, bank(nlist * dim + c)))
    val cdf = F.broadcast(cents.toDF("cell", "_dr_c", "_dr_cn"))
    val ok = F.col("n_nrm") > 0 && F.col("_dr_cn") > 0
    val dist = F.lit(1.0) -
      similarity.dot(F.col("n_vec").cast(ArrayType(DoubleType)),
        F.col("_dr_c")) / F.col("n_nrm") / F.col("_dr_cn")
    val per = cells.join(cdf, "cell")
      .select(F.col("cell").as("_dr_cell"), F.when(ok, dist).as("_dr_d"))
    // ONE fused aggregation job (was two): ROLLUP(cell) yields the
    // per-cell partials AND the grand-total row carrying the exact
    // global percentile in a single scan + exchange. Values are
    // bit-identical to the two-job form: the per-cell DECIMAL sums
    // and their driver fold are unchanged, and the grand-total
    // percentile aggregates the same full distance multiset the
    // dedicated job saw. Rows are classified by the rollup key's
    // nullness (cell is a never-null partition value, so NULL
    // _dr_cell ⇔ the grand-total grouping set); the Column overload
    // of rollup is deliberate — the String overload resolves the key
    // with the dataset-id tag and DetectAmbiguousSelfJoin then
    // rejects the Expand'd plan.
    val rolled = per.rollup(F.col("_dr_cell")).agg(
        F.count(F.lit(1)).as("_dr_n"),
        F.count(F.col("_dr_d")).as("_dr_nd"),
        F.sum(F.col("_dr_d").cast(driftDec)).as("_dr_s"),
        F.percentile(F.col("_dr_d"), F.lit(0.95)).as("_dr_p"))
      .collect()
    val cellRows = rolled.filter(!_.isNullAt(0))
    if (cellRows.isEmpty) return Seq.empty
    val n = cellRows.map(_.getLong(1)).sum
    val nd = cellRows.map(_.getLong(2)).sum
    val sum = cellRows.filter(!_.isNullAt(3)).map(_.getDecimal(3))
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
    val maxCnt = cellRows.map(_.getLong(1)).max
    val distRows =
      if (nd == 0) Seq.empty // every live row zero-norm: no angles
      else Seq(
        "assign_mean" -> sum.doubleValue / nd,
        "assign_p95" -> rolled.find(_.isNullAt(0)).get.getDouble(4))
    distRows ++ Seq(
      "occ_empty" -> (nlist - cellRows.length).toDouble,
      "occ_hot" -> maxCnt.toDouble * nlist / n)
  }

  /** PQ-family occupancy + codeword-usage metrics over stored codes —
    * vector-free (see [[driftPqReport]] for reconstruction error). */
  private def pqOccMetrics(spark: SparkSession, pq: DataFrame,
      nlist: Int, ksubEff: Int): Seq[(String, Double)] = {
    // ONE fused aggregation job (was two: cell counts + codeword
    // usage): GROUPING SETS ((cell), (subspace, codeword)) over the
    // exploded code stream computes both count families in a single
    // scan + exchange (guide §2.4). Per-cell row counts come from the
    // subspace-0 entry each stored row contributes exactly once
    // (posexplode_outer keeps a null-subspace marker for a degenerate
    // empty-codes row, so the count matches the old groupBy("cell")
    // bit-for-bit); codeword usage counts are the same groups the
    // dedicated job built. Collected rows stay driver-bounded:
    // ≤ nlist + m·ksub.
    val s0 = F.col("_dr_s") === 0 || F.col("_dr_s").isNull
    val rows = pq
      .select(F.col("cell"),
        F.posexplode_outer(F.col("codes")).as(Seq("_dr_s", "_dr_cw")))
      .groupingSets(
        Seq(Seq(F.col("cell")), Seq(F.col("_dr_s"), F.col("_dr_cw"))),
        F.col("cell"), F.col("_dr_s"), F.col("_dr_cw"))
      .agg(F.count(F.when(s0, F.lit(1))).as("_dr_n"),
        F.count(F.lit(1)).as("_dr_u"))
      .collect()
    // grouping-set membership read off the keys' nullness (cell is
    // never null in a stored row, so NULL cell ⇔ the (s, cw) set)
    val cellRows = rows.filter(!_.isNullAt(0))
    if (cellRows.isEmpty) return Seq.empty
    val n = cellRows.map(_.getLong(3)).sum
    val maxCnt = cellRows.map(_.getLong(3)).max
    val maxUse = rows.filter(r => r.isNullAt(0) && !r.isNullAt(1))
      .map(_.getLong(4)).max
    Seq(
      "occ_empty" -> (nlist - cellRows.length).toDouble,
      "occ_hot" -> maxCnt.toDouble * nlist / n,
      "code_hot" -> maxUse.toDouble * ksubEff / n)
  }

  /** (count, recon_mean, recon_p95) of the STORED codes of index
    * `name`'s live rows decoded against the STORED banks, with the
    * true vectors supplied by `df` — the one join the lossy layout
    * forces (the [[retrainPqIndex]] posture). Returns
    * `(total, matched, distinct, mean, p95)` from ONE left-join
    * aggregation job (was a separate live `count()` + an inner-join
    * agg): `total` counts live rows times source multiplicity,
    * `matched` counts rows whose source vector arrived, and
    * `distinct` counts the DISTINCT live ids a vector arrived for —
    * so `matched == total && distinct == matched` iff the store
    * covers every live id exactly once, the coverage gate a store
    * missing live ids OR duplicating them must fail, since either
    * silently skews a drift metric. (matched == total alone misses
    * the duplicate-only source: a duplicated live id inflates total
    * and matched equally — the r14 verdict's gate bug — while
    * distinct < matched exposes it.) On every PASSING store the
    * aggregated multiset is identical to the old inner join's, so
    * the reported values are bit-equal. */
  private def pqReconStats(spark: SparkSession, name: String,
      df: DataFrame, idCol: String,
      vecCol: String): (Long, Long, Long, Double, Double) = {
    import spark.implicits._
    val dim = readPqProp(spark, name, "graft.dim").toInt
    val mEff = readPqProp(spark, name, "graft.m").toInt
    val residual =
      readPqPropOr(spark, name, "graft.residual", "false").toBoolean
    val ivfBank = readPqBank(spark, name, "ivf")
    val cbLit = F.typedlit(readPqBank(spark, name, "cb").toSeq)
    val live = minusPending(spark, name,
        resolveRetry(spark, s"${name}_pqcells"), "n_id")
      .select("n_id", "codes", "cell")
    val src = df.select(F.col(idCol).cast(LongType).as("n_id"),
      F.col(vecCol).as("_dr_v"))
    // left outer: unmatched live rows survive with a NULL vector, so
    // the same aggregation that scores the store also audits its
    // coverage (graft_vec_sub/graft_pq_dists/graft_pq_adc are
    // null-propagating, so an unmatched row's e2 is NULL and drops
    // out of count/sum/percentile exactly as the inner join dropped
    // the row)
    val joined = live.join(similarity.cleanDim(src, "_dr_v", dim),
      Seq("n_id"), "left_outer")
    // residual codes quantize v − centroid(STORED cell): decode error
    // must subtract the same centroid the encode used, so the stored
    // cell routes the lookup (never a recomputed argmax)
    val (framed, vecExpr) =
      if (residual) {
        val nlist = ivfBank.length / (dim + 1)
        val cdf = F.broadcast((0 until nlist).map(c =>
            (c, ivfBank.slice(c * dim, (c + 1) * dim).toSeq)).toDF(
            "cell", "_dr_cent"))
        (joined.join(cdf, "cell"),
          F.call_function("graft_vec_sub", F.col("_dr_v"),
            F.col("_dr_cent")))
      } else (joined, F.col("_dr_v"))
    val e2 = F.call_function("graft_pq_adc", F.col("codes"),
      F.call_function("graft_pq_dists", vecExpr, cbLit, F.lit(mEff)))
    val agg = framed.select(e2.as("_dr_e2"), F.col("n_id")).agg(
        F.count(F.lit(1)),
        F.count(F.col("_dr_e2")),
        F.count_distinct(F.when(F.col("_dr_e2").isNotNull,
          F.col("n_id"))),
        F.sum(F.col("_dr_e2").cast(driftDec)),
        F.percentile(F.col("_dr_e2"), F.lit(0.95)))
      .head()
    val total = agg.getLong(0)
    val matched = agg.getLong(1)
    val distinct = agg.getLong(2)
    if (matched == 0) (total, 0L, distinct, 0.0, 0.0)
    else (total, matched, distinct,
      agg.getDecimal(3).doubleValue / matched,
      agg.getDouble(4))
  }

  /** Jaccard-family drift: hot-BUCKET skew from the persisted `_stats`
    * counts — the when-to-RE-BAND signal ([[rehashJaccardIndex]] is
    * this family's retrain; its parameters ARE the geometry). A
    * drifting or boilerplate-accumulating corpus concentrates band
    * keys into few buckets, degrading probe cost (and forcing
    * `maxBucket` salting) at the standing banding budget.
    * `bucket_hot` = largest live bucket ÷ mean live bucket size —
    * computed entirely from `_stats` (one tiny aggregation; the corpus
    * is never read). Pending takedowns are logical and deliberately
    * NOT reflected: the metric measures the physical banding
    * geometry probes scan. NOT DuckDB-oracled: the xxhash64 banding
    * is not SQL-replayable (x97/x127/x146 pin `_stats` integrity
    * transitively); the rise-then-restamp contract is spec-pinned. */
  private def jaccardDriftMetrics(spark: SparkSession,
      stats: DataFrame): Seq[(String, Double)] = {
    val agg = stats.groupBy("band", "band_hash")
      .agg(F.sum("cnt").as("_dr_c"))
      .filter(F.col("_dr_c") > 0)
      .agg(F.count(F.lit(1)), F.sum("_dr_c"), F.max("_dr_c")).head()
    if (agg.isNullAt(1)) Seq.empty // no live buckets
    else {
      val nBuckets = agg.getLong(0)
      val total = agg.getLong(1)
      val mx = agg.getLong(2)
      Seq("bucket_hot" -> mx.toDouble * nBuckets / total)
    }
  }

  /** (recon_mean, recon_p95) computed on the ENCODE side — one
    * aggregation scan of a build/retrain's own width-clean vector
    * frame against the in-memory banks: no table reads, no id join
    * (the broadcast centroid join only in residual mode). Encode is
    * deterministic, so this equals the stored-code path
    * ([[pqReconStats]]) bit-for-bit on the same state — the x148
    * oracle pins the equality through the stamped baseline. This is
    * what the bank-producing ops stamp with, so an index BUILD pays
    * one scan for its recon baseline, not the report's join. */
  private def pqReconStatsAtEncode(clean: DataFrame, idCol: String,
      vecCol: String, bank: Array[Double], cb: Array[Double], m: Int,
      dim: Int, residual: Boolean): (Double, Double) = {
    val cbLit = F.typedlit(cb.toSeq)
    val (framed, vecExpr) =
      if (residual)
        (residualFrame(clean, idCol, vecCol, bank, dim), F.col("_rc_r"))
      else (clean, F.col(vecCol))
    val e2 = F.call_function("graft_pq_adc",
      F.call_function("graft_pq_encode", vecExpr, cbLit, F.lit(m)),
      F.call_function("graft_pq_dists", vecExpr, cbLit, F.lit(m)))
    val agg = framed.select(e2.as("_dr_e2")).agg(
        F.count(F.lit(1)),
        F.sum(F.col("_dr_e2").cast(driftDec)),
        F.percentile(F.col("_dr_e2"), F.lit(0.95)))
      .head()
    val cnt = agg.getLong(0)
    if (cnt == 0) (0.0, 0.0)
    else (agg.getDecimal(1).doubleValue / cnt, agg.getDouble(2))
  }

  private def stampDrift(spark: SparkSession, table: String,
      metrics: Seq[(String, Double)]): Unit =
    if (metrics.nonEmpty) {
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES(" +
        metrics.map { case (k, v) => s"'graft.drift.$k'='$v'" }
          .mkString(",") + ")")
      ()
    }

  private def driftBaselines(spark: SparkSession,
      table: String): Map[String, Double] =
    showPropsRetry(spark, table).collect {
      case (k, v) if k.startsWith("graft.drift.") =>
        k.stripPrefix("graft.drift.") -> v.toDouble
    }

  private def driftRows(metrics: Seq[(String, Double)],
      base: Map[String, Double], family: String)
      : Seq[(String, String, Double, Option[Double], Option[Double])] =
    metrics.map { case (k, v) =>
      val b = base.get(k)
      (family, k, v, b, b.filter(_ != 0.0).map(v / _))
    }

  /** Geometry-health report for index `name` — one row per (family,
    * metric): current value over the LIVE rows (pending takedowns
    * excluded, the probe's view), the at-build/at-retrain baseline
    * from TBLPROPERTIES (null if stamping was off or predates this
    * op), and their ratio (null when the baseline is 0 or absent). A
    * ratio drifting up — assignment distance, hot-cell share — is the
    * retrain signal; retraining restamps the baseline, pulling it
    * back to 1 (pinned rise-then-fall in PqAnnSpec, oracled in x147).
    * Covers the vector-free metrics of both trained-geometry families
    * (`_cells`, `_pqcells`); PQ reconstruction error needs the vector
    * store — [[driftPqReport]]. Signature families (Jaccard, exact)
    * have no trained state: their parameters ARE the geometry, so
    * there is nothing to drift ([[rehashJaccardIndex]] is their
    * retrain). */
  def driftIndexReport(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Double, Option[Double], Option[Double])]
    if (spark.catalog.tableExists(s"${name}_cells")) {
      val dim = readIvfDim(spark, name)
      val bank = readIvfBank(spark, name)
      val live = minusPending(spark, name,
        resolveRetry(spark, s"${name}_cells"), "n_id")
      rows ++= driftRows(ivfDriftMetrics(spark, live, bank, dim),
        driftBaselines(spark, s"${name}_cells"), "ivf")
    }
    if (spark.catalog.tableExists(s"${name}_pqcells")) {
      val dim = readPqProp(spark, name, "graft.dim").toInt
      val ivfBank = readPqBank(spark, name, "ivf")
      val nlist = ivfBank.length / (dim + 1)
      val ksubEff = readPqBank(spark, name, "cb").length / dim
      val live = minusPending(spark, name,
        resolveRetry(spark, s"${name}_pqcells"), "n_id")
      rows ++= driftRows(pqOccMetrics(spark, live, nlist, ksubEff),
        driftBaselines(spark, s"${name}_pqcells"), "pq")
    }
    if (spark.catalog.tableExists(s"${name}_stats"))
      rows ++= driftRows(
        jaccardDriftMetrics(spark, resolveRetry(spark, s"${name}_stats")),
        driftBaselines(spark, s"${name}_buckets"), "jaccard")
    rows.toSeq.toDF("family", "metric", "value", "baseline", "ratio")
  }

  /** [[driftIndexReport]]'s PQ reconstruction-error rows — mean/p95 of
    * the squared quantization error of the stored codes against the
    * stored banks, with the live vectors supplied by `df` (PQ is
    * lossy; same vector-store contract as [[retrainPqIndex]], and the
    * same exactly-once coverage requirement: a store missing or
    * duplicating live ids would silently skew the metric, so it is
    * refused instead). Baselines are stamped by buildPqIndex/
    * retrainPqIndex from the same computation. */
  def driftPqReport(df: DataFrame, idCol: String, vecCol: String,
      name: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    similarity.requireIntegralId(df, idCol, "index.driftPqReport")
    // coverage audit rides the same single aggregation job as the
    // metrics (pqReconStats' left-join gate) — the separate live
    // count() job this health check used to pay is gone; the live
    // count in the error message is computed only on the failure path.
    // Both directions fail: matched < total ⇒ a live id got no vector;
    // distinct < matched ⇒ a live id got MORE than one (a dup-only
    // source inflates matched and total equally, so matched == total
    // alone would pass it and silently double-count recon_mean/p95)
    val (total, matched, distinct, mean, p95) =
      pqReconStats(spark, name, df, idCol, vecCol)
    require(matched == total && distinct == matched, {
      val nLive = minusPending(spark, name,
          resolveRetry(spark, s"${name}_pqcells"), "n_id")
        .count()
      s"index.driftPqReport: vector source covered $distinct distinct " +
        s"ids ($matched of $total join rows matched) of $nLive live " +
        "indexed ids — it must cover every live id exactly once at " +
        "the stored width"
    })
    driftRows(Seq("recon_mean" -> mean, "recon_p95" -> p95),
        driftBaselines(spark, s"${name}_pqcells"), "pq")
      .toDF("family", "metric", "value", "baseline", "ratio")
  }

  /** Drift metrics that rise MONOTONICALLY with geometry decay — the
    * ones a threshold can act on. `occ_empty` is deliberately absent:
    * it is count-valued with a routinely-zero baseline (ratio null on
    * a healthy index), so it stays report-only context for operators. */
  private val advisableDriftMetrics = Seq("assign_mean", "assign_p95",
    "occ_hot", "code_hot", "recon_mean", "recon_p95", "bucket_hot")

  /** The DECISION layer over the health signals — closes the
    * signal→action loop: [[driftIndexReport]] says how far the
    * geometry has drifted, [[describeIndex]] says how deep the
    * pending backlog is, and this op turns both into the maintenance
    * verb to run, under documented deterministic thresholds. One row
    * per (family, signal):
    *
    *  - each advisable drift metric (ratio vs its at-build baseline):
    *    ratio > `driftRatio` → `retrain` ([[retrainIvfIndex]]/
    *    [[retrainPqIndex]]) for the trained-geometry families, or
    *    `reband` ([[rehashJaccardIndex]]) for the Jaccard family,
    *    whose banding parameters ARE its geometry; a null ratio →
    *    `no_baseline` (stamping was off or predates the op — the
    *    index cannot be judged, which is itself actionable);
    *  - `pending_frac` per family present: the pending-takedown
    *    depth ÷ the family's primary table's PHYSICAL row count (the
    *    probe-scan mass the pending set taxes — both exact counts);
    *    above `pendingFrac` → `compact` ([[compactTakedowns]]).
    *
    * `report` lets a caller fold in rows the advisor cannot compute
    * itself — [[driftPqReport]]'s reconstruction error needs the
    * vector store by the PQ contract — or reuse an already-computed
    * report; default is [[driftIndexReport]] on the spot. Every
    * value is deterministic (the report's numbers are; the fractions
    * are integer-derived), so the advice is comparable across days
    * and replayable in SQL — x150's oracle re-derives the ratios,
    * the fraction AND the threshold decisions. Scale shape: the
    * report's (one aggregation scan per family); the advisor itself
    * adds only metadata-cheap counts on a fixed ≤ 4-table inventory. */
  def adviseIndexMaintenance(spark: SparkSession, name: String,
      driftRatio: Double = 1.5, pendingFrac: Double = 0.1,
      report: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val rep = report.getOrElse(driftIndexReport(spark, name))
    val drift = rep
      .filter(F.col("metric").isin(advisableDriftMetrics: _*))
      .select(F.col("family"), F.col("metric").as("signal"),
        F.col("ratio").as("value"), F.lit(driftRatio).as("threshold"),
        F.when(F.col("ratio").isNull, F.lit("no_baseline"))
          .when(F.col("ratio") > driftRatio,
            F.when(F.col("family") === "jaccard", F.lit("reband"))
              .otherwise(F.lit("retrain")))
          .otherwise(F.lit("ok")).as("action"))
    val primaries = Seq("jaccard" -> "sigs", "exact" -> "fps",
      "ivf" -> "cells", "pq" -> "pqcells")
    // ONE fused count job for the whole inventory (dels + every
    // present primary) instead of one sequential count() job per
    // table: each table contributes a single-row aggregate and the
    // union is a single action — same exact counts, one scheduling
    // floor (guide §2.4). The dels count stays an exact job (not the
    // advisory pendingCounts cache): pending_frac is a VALUE the x150
    // oracle re-derives, not a join-strategy gate.
    val present = primaries.filter { case (_, sfx) =>
      spark.catalog.tableExists(s"${name}_$sfx") }
    val countFrames =
      (if (delsVisible(spark, s"${name}_dels"))
         Seq("dels" -> s"${name}_dels") else Seq.empty) ++
        present.map { case (fam, sfx) => fam -> s"${name}_$sfx" }
    val counts: Map[String, Long] =
      if (countFrames.isEmpty) Map.empty
      else countFrames.map { case (label, t) =>
          resolveRetry(spark, t).agg(F.count(F.lit(1)).as("_adv_n"))
            .select(F.lit(label).as("_adv_t"), F.col("_adv_n"))
        }.reduce(_.unionAll(_)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nPending = counts.getOrElse("dels", 0L)
    val pend = present.map { case (fam, _) =>
      val n = counts(fam)
      val frac = if (n == 0L) 0.0 else nPending.toDouble / n
      (fam, "pending_frac", frac, pendingFrac,
        if (frac > pendingFrac) "compact" else "ok")
    }.toDF("family", "signal", "value", "threshold", "action")
    drift.unionByName(pend)
  }

  /** The ACTION layer — [[adviseIndexMaintenance]] executed: computes
    * the advice, runs the advised verbs in the cheap-first order
    * (compact drains the backlog before any retrain re-encodes, each
    * verb at most once however many signals advised it), and returns
    * the advice rows with a `status` column recording what actually
    * ran — the one-call nightly maintenance job. Per-verb
    * executability follows each op's own contract:
    *
    *  - `compact` → [[compactTakedowns]], parameter-free — always
    *    `done`;
    *  - `retrain`/ivf → [[retrainIvfIndex]], self-contained (the
    *    cells hold the vectors) — `done`;
    *  - `retrain`/pq → [[retrainPqIndex]] needs the caller's vector
    *    store (codes are lossy): `done` when `pqVectors` is passed,
    *    else `needs_vectors` — advice, not silence;
    *  - `reband` → [[rehashJaccardIndex]] needs a NEW banding budget
    *    (re-banding at the standing params is a no-op by
    *    determinism): `done` when `rebandTo` is passed, else
    *    `needs_params`;
    *  - `no_baseline` → `unjudged`: auto-remedying an index that
    *    cannot be judged would launder missing evidence into a
    *    full-rewrite maintenance op;
    *  - `ok` → `none`.
    *
    * Every executed verb takes the cross-driver writer lease itself
    * (re-entrant in-process), so the sequence inherits the
    * single-writer contract; a crash mid-sequence leaves each
    * completed verb's rename-aside generation intact and the advice
    * re-derivable — re-running the executor is idempotent-by-advice
    * (remedied signals come back `ok` and are skipped). Retrain's
    * restamp pulls the drifted ratios back to exactly 1, which is
    * how x151 pins in its oracle hash that the verbs actually ran. */
  def runAdvisedMaintenance(spark: SparkSession, name: String,
      driftRatio: Double = 1.5, pendingFrac: Double = 0.1,
      report: Option[DataFrame] = None,
      pqVectors: Option[(DataFrame, String, String)] = None,
      rebandTo: Option[(Int, Int)] = None,
      retrainIters: Int = 5, sampleN: Int = 20000,
      sampleOneIn: Long = 0L, portableSeed: Boolean = false)
      : DataFrame = {
    import spark.implicits._
    val advice = adviseIndexMaintenance(spark, name, driftRatio,
        pendingFrac, report)
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(r.getDouble(2)),
        r.getDouble(3), r.getString(4)))
    val actionsBy = advice.groupBy(_._5)
    if (actionsBy.contains("compact")) compactTakedowns(spark, name)
    val retrainFams =
      actionsBy.getOrElse("retrain", Array.empty).map(_._1).distinct
    if (retrainFams.contains("ivf"))
      retrainIvfIndex(spark, name, iters = retrainIters,
        sampleN = sampleN, sampleOneIn = sampleOneIn,
        portableSeed = portableSeed)
    val pqRan = retrainFams.contains("pq") && pqVectors.isDefined
    if (pqRan) {
      val (df, id, vec) = pqVectors.get
      retrainPqIndex(df, id, vec, name, sampleN = sampleN,
        sampleOneIn = sampleOneIn, portableSeed = portableSeed)
    }
    val rebandRan = actionsBy.contains("reband") && rebandTo.isDefined
    if (rebandRan) {
      val (np, b) = rebandTo.get
      rehashJaccardIndex(spark, name, numPerm = np, bands = b)
    }
    advice.map { case (fam, sig, v, th, action) =>
      val status = action match {
        case "ok" => "none"
        case "compact" => "done"
        case "retrain" =>
          if (fam == "pq" && !pqRan) "needs_vectors" else "done"
        case "reband" => if (rebandRan) "done" else "needs_params"
        case _ => "unjudged"
      }
      (fam, sig, v, th, action, status)
    }.toSeq
      .toDF("family", "signal", "value", "threshold", "action", "status")
  }

  /** `df` minus index `name`'s PENDING logical takedowns on `idColName`
    * — a no-op when `<name>_dels` doesn't exist. Every probe's index
    * side passes through here, so a [[deferTakedown]] is effective from
    * the next query on.
    *
    * The anti-join is COUNT-GATED: below
    * `spark.graft.index.pendingBroadcastThreshold` (default 10M ids ≈
    * 80 MB — the same posture as `cmap.localAffectedThreshold`) the
    * pending set broadcasts, keeping the probe shuffle-free; above it
    * the join falls back to a shuffled anti-join, because the pending
    * set's size is bounded only by the deployment's compaction
    * discipline (a skipped month of daily 0.1% takedowns on a 10B-doc
    * corpus is ~300M ids — multi-GB, executor-OOM territory as a
    * broadcast). The gate count comes from the [[pendingCounts]] cache
    * maintained by every dels writer (defer/compact/rebuild), so probe
    * construction normally costs NO job; the count() is the cold-start
    * fallback for a session that has not written yet. Results are
    * identical on either side of the gate — only the physical join
    * strategy moves, so even an out-of-contract stale count cannot
    * change rows. */
  private[graft] def minusPending(spark: SparkSession, name: String,
      df: DataFrame, idColName: String): DataFrame =
    // delsVisible, not tableExists: mid-shrink-swap the canonical name
    // is briefly absent while _stage/_old hold the generations, and
    // answering "no pending set" then would LEAK pending ids into the
    // probe; resolveRetry then rides out the rename window itself
    if (!delsVisible(spark, s"${name}_dels")) df
    else {
      val dels = resolveRetry(spark, s"${name}_dels")
        .select(F.col("id").as("_ix_pending"))
      val cap = spark.conf
        .get("spark.graft.index.pendingBroadcastThreshold", "10000000").toLong
      // cold-start count OUTSIDE the map's compute (computeIfAbsent
      // would hold the bin lock for the whole job, blocking writers'
      // refreshPendingCount puts hashed to the same bin); two racing
      // cold probes at worst both count — the cache is advisory
      val key = pendingKey(spark, s"${name}_dels")
      val cached = pendingCounts.get(key)
      val cnt: Long =
        if (cached != null) cached.longValue
        else {
          val c = resolveRetry(spark, s"${name}_dels").count()
          putPendingCount(key, c)
          c
        }
      val side =
        if (cnt <= cap) F.broadcast(dels)
        // hint the shuffled-hash strategy explicitly: without it AQE
        // could still promote a just-over-threshold set to a broadcast
        else dels.hint("shuffle_hash")
      df.join(side, F.col(idColName) === F.col("_ix_pending"), "left_anti")
    }

  /** TAKEDOWN for the Jaccard index — the [[removeComponentIds]]
    * lifecycle op for the `_buckets`/`_sigs`/`_stats` family: deleted
    * documents' band keys and shingle sets are physically PURGED (a
    * tombstone would not satisfy a legal-removal request, and a ghost
    * row would keep matching future probes as a dup verdict). After the
    * call, probes behave exactly as if the index had been rebuilt on
    * the survivors — the build's hash parameters are untouched, so
    * that equality is literal (the x127 oracle). `_stats` is never
    * rewritten: the probe aggregates stats with SUM, so the takedown
    * appends one NEGATIVE count row per affected bucket (computed from
    * the same single scan posture — the corpus is never shuffled). */
  def removeFromJaccardIndex(ids: DataFrame, idCol: String,
      name: String): Unit = {
    similarity.requireIntegralId(ids, idCol, "index.removeFromJaccardIndex")
    val spark = ids.sparkSession
    withLease(spark, name) {
    val del = dedup.cachedPinned(delFrame(ids, idCol))
    try {
      // the decrement is computed from the PRE-rewrite buckets table,
      // pinned eagerly (localCheckpoint — the source is about to be
      // swapped), but APPENDED only after the rewrite commits: a retry
      // after a mid-takedown failure then finds the rows already gone
      // and appends nothing, instead of decrementing the same buckets
      // twice and dragging _stats sums below live counts (maxBucket
      // pruning misclassifies on understated counts; an overstated
      // count — crash between rewrite and append — only errs hot-ward,
      // which is pair-complete). Coalesced to the cores: the bucketed
      // scan alone checkpoints and appends one task and file per bucket.
      val small = delIsSmall(spark, del)
      val dec = delJoin(spark.table(s"${name}_buckets"), del, "id",
          "left_semi", small)
        .groupBy("band", "band_hash")
        .agg((-F.count(F.lit(1))).as("cnt"))
        .coalesce(spark.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      rewriteBucketedMinus(spark, s"${name}_buckets", name, "id", del,
        Seq("band", "band_hash"), small)
      rewriteBucketedMinus(spark, s"${name}_sigs", name, "id", del,
        Seq("id"), small)
      dec.write.mode(SaveMode.Append).format("parquet")
        .saveAsTable(s"${name}_stats")
    } finally { del.unpersist(blocking = false); () }
    }
  }

  /** TAKEDOWN for the exact-dedup index: deleted documents'
    * fingerprints are physically purged from `_fps`; probes stop
    * matching them immediately (rebuild-equality is the x128 oracle).
    * The canonicalize property survives the rewrite. */
  def removeFromExactIndex(ids: DataFrame, idCol: String,
      name: String): Unit = {
    similarity.requireIntegralId(ids, idCol, "index.removeFromExactIndex")
    val spark = ids.sparkSession
    withLease(spark, name) {
      // pinned: the set is consumed twice (count gate + join)
      val del = dedup.cachedPinned(delFrame(ids, idCol))
      try rewriteBucketedMinus(spark, s"${name}_fps", name, "id", del,
        Seq("fp"), delIsSmall(spark, del))
      finally { del.unpersist(blocking = false); () }
    }
  }

  /** TAKEDOWN for the IVF ANN index: deleted vectors leave `_cells`;
    * only their cells' directories are rewritten. The trained centroid
    * bank is deliberately KEPT — cell geometry is training state, not
    * per-document data, and retraining would silently shift every
    * surviving assignment (the append contract in [[buildIvfIndex]]).
    * With nprobe = nlist a post-takedown probe is provably the brute
    * force over survivors — the x129 oracle. */
  def removeFromIvfIndex(ids: DataFrame, idCol: String,
      name: String): Unit = {
    similarity.requireIntegralId(ids, idCol, "index.removeFromIvfIndex")
    val spark = ids.sparkSession
    withLease(spark, name) {
      removeFromCellTable(spark, s"${name}_cells", name,
        delFrame(ids, idCol))
    }
  }

  /** TAKEDOWN for the PQ index (raw or residual — the stored codes are
    * rows either way): deleted vectors' codes leave `_pqcells`; only
    * their cells' directories are rewritten; the persisted quantizer
    * banks are kept (see [[removeFromIvfIndex]] — and for PQ the codes
    * of every surviving row were computed against THOSE banks, so
    * replacing them would corrupt the survivors too). Post-takedown
    * probes rank exactly the stored survivor codes — the x130 oracle
    * replays the full build-time training and restricts the ranking to
    * survivors. */
  def removeFromPqIndex(ids: DataFrame, idCol: String,
      name: String): Unit = {
    similarity.requireIntegralId(ids, idCol, "index.removeFromPqIndex")
    val spark = ids.sparkSession
    withLease(spark, name) {
      removeFromCellTable(spark, s"${name}_pqcells", name,
        delFrame(ids, idCol))
    }
  }

  /** The hash parameters recorded at build time: (k, numPerm, bands). */
  def readParams(spark: SparkSession, name: String): (Int, Int, Int) = {
    val props = showPropsRetry(spark, s"${name}_buckets")
    def p(key: String): Int = props.getOrElse(key, throw new IllegalArgumentException(
      s"index: table ${name}_buckets has no '$key' property — " +
        "not built by buildJaccardIndex?")).toInt
    (p("graft.k"), p("graft.numPerm"), p("graft.bands"))
  }

  /** Probe the index with a new batch: exact k-shingle Jaccard ≥ `minJ`
    * pairs (id_new, id_indexed, jaccard) between the batch and the
    * indexed corpus. Hash parameters come from the index's own table
    * properties — they cannot drift from the build. The new side is
    * exploded and shuffled to meet each bucketed index table in place;
    * the index side never moves, except that with `maxBucket` > 0 the
    * rows of OVERSIZED buckets (found from the persisted `_stats`
    * counts, never by scanning the corpus) are grid-salted: an
    * m_idx-row hot bucket splits into R = ⌈m_idx/cap⌉ row-groups and
    * the new side's m_new rows into S = ⌈m_new/cap⌉ groups, each side
    * replicated across the other's groups so every (new, indexed) pair
    * meets in exactly one ~cap × cap cell — per-task candidate
    * generation is bounded at ANY skew and NO pair is lost (the
    * [[dedup.jaccardPairsLshCross]] gridSalt guarantee). Candidate
    * pairs carry only (id_new, id_indexed); the shingle arrays are
    * rejoined once for verification — a wide batch document's array is
    * never replicated per surviving candidate. */
  def probeJaccardIndex(spark: SparkSession, dfNew: DataFrame,
      idCol: String, textCol: String, name: String,
      minJ: Double = 0.8, maxBucket: Int = 0): DataFrame = {
    val (k, numPerm, bands) = readParams(spark, name)
    val rowsPerBand = numPerm / bands
    val sh = dedup.cached(dfNew.select(F.col(idCol).cast(LongType).as("id"),
        dedup.shingleHashes(F.col(textCol), k).as("sh"))
      .withColumn("sig", dedup.minhashFromHashes(F.col("sh"), numPerm))
      .withColumn("n", F.size(F.col("sh")).cast(DoubleType)))
    // candidates are (id_new, id_indexed) ONLY — shingles rejoin later
    val newKeys = sh.select(F.col("id").as("id_new"),
      F.posexplode(dedup.lshBandKeys(F.col("sig"), bands, rowsPerBand))
        .as(Seq("band", "band_hash")))
    val idx = minusPending(spark, name,
      resolveRetry(spark, s"${name}_buckets"), "id")
    val bucketCols = Seq("band", "band_hash")
    val cand0 =
      if (maxBucket <= 0)
        newKeys.join(idx, bucketCols)
          .select(F.col("id_new"), F.col("id").as("id_indexed"))
      else {
        val idxCnt = resolveRetry(spark, s"${name}_stats")
          .groupBy(bucketCols.map(F.col): _*)
          .agg(F.sum("cnt").as("_mi")).filter(F.col("_mi") > maxBucket)
        // cool buckets: the bucketed join, index side never moves
        val coolCand = newKeys
          .join(F.broadcast(idxCnt), bucketCols, "left_anti")
          .join(idx, bucketCols)
          .select(F.col("id_new"), F.col("id").as("id_indexed"))
        // hot buckets: grid-salt both sides (pair-complete, see above).
        // New-side counts come from the probe batch itself (small);
        // buckets the batch never touches produce no pairs (inner join).
        val newCnt = newKeys.join(F.broadcast(idxCnt), bucketCols)
          .groupBy(bucketCols.map(F.col): _*)
          .agg(F.count(F.lit(1)).as("_mn"))
        val hotBoth = F.broadcast(idxCnt.join(newCnt, bucketCols))
        val nIdx = F.ceil(F.col("_mi").cast(DoubleType) / maxBucket).cast(IntegerType)
        val nNew = F.ceil(F.col("_mn").cast(DoubleType) / maxBucket).cast(IntegerType)
        val idxHot = idx.join(hotBoth, bucketCols)
          .withColumn("salt_own",
            F.pmod(F.xxhash64(F.col("id")), nIdx).cast(IntegerType))
          .withColumn("salt_rep",
            F.explode(F.sequence(F.lit(0), nNew - 1)))
        val newHot = newKeys.join(hotBoth, bucketCols)
          .withColumn("salt_own",
            F.pmod(F.xxhash64(F.col("id_new")), nNew).cast(IntegerType))
          .withColumn("salt_rep",
            F.explode(F.sequence(F.lit(0), nIdx - 1)))
        val hotCand = newHot.as("a").join(idxHot.as("b"),
            F.col("a.band") === F.col("b.band") &&
            F.col("a.band_hash") === F.col("b.band_hash") &&
            F.col("a.salt_own") === F.col("b.salt_rep") &&
            F.col("a.salt_rep") === F.col("b.salt_own"))
          .select(F.col("a.id_new"), F.col("b.id").as("id_indexed"))
        coolCand.unionByName(hotCand)
      }
    val cand = cand0.dropDuplicates("id_new", "id_indexed")
    // verification: stored shingle sets via the id-bucketed sigs table
    // (no exchange on the index side), batch shingles from the cache
    val inter = F.call_function("graft_intersect_count",
      F.col("sh_new"), F.col("sh")).cast(DoubleType)
    cand.join(resolveRetry(spark, s"${name}_sigs"),
        F.col("id_indexed") === F.col("id"))
      .join(sh.select(F.col("id").as("id_new"), F.col("sh").as("sh_new"),
        F.col("n").as("n_new")), Seq("id_new"))
      // LENGTH FILTER before the O(|A|+|B|) intersection merge:
      // J(A,B) = |A∩B|/|A∪B| ≤ min/max, so J ≥ minJ forces
      // min(n, n_new) ≥ minJ·max(n, n_new) — a size-incompatible
      // candidate can never verify and its merge is skipped. The 0.5
      // slack makes the cut ulp-safe: n/n_new are exact integral
      // doubles, so a pair the (double-arithmetic) jaccard gate below
      // could accept is never more than an ulp inside the real bound,
      // and 0.5 absorbs that — the filter is provably value-neutral.
      // ONE hand-built conjunction, cheap guard LEFT: `And` evaluates
      // left-to-right with short-circuit, and a single Filter keeps
      // the operand order through PushPredicateThroughJoin (two
      // stacked Filters can recombine with the expensive predicate
      // first — observed on the containment path).
      .filter((F.least(F.col("n"), F.col("n_new")) >=
          F.lit(minJ) * F.greatest(F.col("n"), F.col("n_new")) - F.lit(0.5)) &&
        (inter / (F.col("n_new") + F.col("n") - inter)) >= minJ)
      .select(F.col("id_new"), F.col("id_indexed"),
        (inter / (F.col("n_new") + F.col("n") - inter)).as("jaccard"))
  }

  // ---------------- persistent exact-dedup index ----------------

  /** Build (Overwrite) or extend (Append) a persistent EXACT-dedup
    * index: one md5 fingerprint row per document, bucketed by
    * fingerprint — the byte-identity sibling of [[buildJaccardIndex]]
    * for the daily-crawl lifecycle. A probe joins the new batch's
    * fingerprints against the pre-placed table, so discovering which of
    * today's documents already exist in a 100 TB history shuffles only
    * the batch (16-byte keys), never the history. `canonicalize`
    * fingerprints the folded text ([[text.foldedText]]) so re-crawl
    * variants (composition, casing, spacing) also hit; it is recorded
    * as a table property and enforced at probe/append time — mixing
    * folded and raw fingerprints in one index would silently miss. */
  def buildExactIndex(df: DataFrame, idCol: String, textCol: String,
      name: String, canonicalize: Boolean = false, buckets: Int = 64,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val spark = df.sparkSession
    if (mode == SaveMode.Append && spark.catalog.tableExists(s"${name}_fps")) {
      val stored = readExactCanonicalize(spark, name)
      require(stored == canonicalize,
        s"index: append canonicalize=$canonicalize does not match the " +
          s"build's canonicalize=$stored")
    }
    if (mode == SaveMode.Overwrite)
      Seq(s"${name}_fps", s"${name}_dels").foreach(resetManagedTable(spark, _))
    val key = if (canonicalize) text.foldedText(F.col(textCol))
      else F.col(textCol)
    writeGrid(df.select(F.col(idCol).cast(LongType).as("id"),
        text.fingerprintMd5(key).as("fp")),
      buckets, Seq("fp"), mode, s"${name}_fps")
    if (mode == SaveMode.Overwrite)
      spark.sql(s"ALTER TABLE ${name}_fps SET TBLPROPERTIES(" +
        s"'graft.canonicalize'='$canonicalize')")
  }

  private def readExactCanonicalize(spark: SparkSession, name: String): Boolean = {
    val props = showPropsRetry(spark, s"${name}_fps")
    props.getOrElse("graft.canonicalize", throw new IllegalArgumentException(
      s"index: table ${name}_fps has no 'graft.canonicalize' property — " +
        "not built by buildExactIndex?")).toBoolean
  }

  /** The fingerprint key an exact index `name` was built with, applied
    * to `textCol` — folded or raw per the stored property, so a caller
    * (batch probe or streaming probe) can never hash differently from
    * the build. */
  def exactIndexKey(spark: SparkSession, name: String,
      textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (readExactCanonicalize(spark, name)) text.foldedText(textCol)
    else textCol

  /** The indexed fingerprint set of exact index `name`, as a one-column
    * (`fp`) frame — the static side of a stream-static probe. */
  def probeExactIndexFingerprints(spark: SparkSession,
      name: String): DataFrame =
    minusPending(spark, name, resolveRetry(spark, s"${name}_fps"), "id")
      .select("fp")

  /** Probe the exact index: every (id_new, id_indexed, fingerprint)
    * match between the batch and the indexed history. The fold mode
    * comes from the index's own table property — probe and build cannot
    * drift. Only the batch side shuffles (to meet the fp-bucketed table
    * in place); use a `left_anti` of the batch against
    * `probeExactIndex(...)` ids — or [[dedupAgainstExactIndex]] — to
    * keep just the genuinely-new documents. */
  def probeExactIndex(spark: SparkSession, dfNew: DataFrame,
      idCol: String, textCol: String, name: String): DataFrame = {
    val key = exactIndexKey(spark, name, F.col(textCol))
    val newFps = dfNew.select(F.col(idCol).cast(LongType).as("id_new"),
      text.fingerprintMd5(key).as("fp"))
    newFps.join(
        minusPending(spark, name, resolveRetry(spark, s"${name}_fps"), "id"),
        "fp")
      .select(F.col("id_new"), F.col("id").as("id_indexed"),
        F.col("fp").as("fingerprint"))
  }

  /** The batch minus everything the index has seen: the one-call
    * incremental exact dedup (schema of `dfNew`, unchanged). */
  def dedupAgainstExactIndex(spark: SparkSession, dfNew: DataFrame,
      idCol: String, textCol: String, name: String): DataFrame = {
    val seen = probeExactIndex(spark, dfNew, idCol, textCol, name)
      .select(F.col("id_new").cast(LongType).as("_ei_id")).distinct()
    dfNew.join(seen, F.col(idCol).cast(LongType) === F.col("_ei_id"),
      "left_anti")
  }

  // ---------------- persistent IVF ANN index ----------------

  /** Build (Overwrite) or extend (Append) a persistent IVF ANN index —
    * the embedding-space sibling of [[buildJaccardIndex]] for the
    * daily-crawl lifecycle: centroids trained ONCE
    * ([[similarity.trainIvfCentroids]] — Lloyd passes as Spark jobs),
    * every corpus vector assigned to its nearest cell in one codegen
    * pass, and the assignments persisted PARTITIONED BY CELL so a probe
    * reads only the directories of the cells it targets (static or
    * dynamic partition pruning) instead of the whole corpus.
    *
    * Append assigns the new batch with the STORED centroid bank (cell
    * ids must stay stable — retraining would silently shift every
    * boundary) and validates the dimension. The centroid table holds
    * nlist × (dim + 1) doubles — driver-sized by construction.
    *
    * Reference model: pydiverse.transform has no ANN surface; this is
    * part of graft's training-data-pipeline extension family. */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      name: String, nlist: Int = 64, iters: Int = 5, sampleN: Int = 20000,
      sampleOneIn: Long = 0L, mode: SaveMode = SaveMode.Overwrite,
      portableSeed: Boolean = false): Unit = {
    require(nlist >= 1, s"index: nlist must be >= 1 (got $nlist)")
    val spark = df.sparkSession
    val dim = df.select(F.size(F.col(vecCol))).head().getInt(0)
    val appending =
      mode == SaveMode.Append && spark.catalog.tableExists(s"${name}_cells")
    if (!appending)
      Seq(s"${name}_cells", s"${name}_centroids", s"${name}_dels")
        .foreach(resetManagedTable(spark, _))
    val bank: Array[Double] =
      if (appending) {
        val stored = readIvfBank(spark, name)
        val storedDim = readIvfDim(spark, name)
        require(storedDim == dim,
          s"index: append dim $dim does not match the build's $storedDim")
        stored
      } else similarity.trainIvfCentroids(
        df, idCol, vecCol, nlist, iters, sampleN, sampleOneIn, portableSeed)
    val bankLit = F.typedlit(bank.toSeq)
    val cells = df.select(
      F.col(idCol).cast(LongType).as("n_id"),
      F.col(vecCol).as("n_vec"),
      similarity.norm(F.col(vecCol)).as("n_nrm"),
      F.element_at(F.call_function("graft_centroid_topk",
        F.col(vecCol), bankLit, F.lit(1)), 1).as("cell"))
    // co-locate each cell's rows in one task before the dynamic-
    // partition write: one file per cell per append instead of one per
    // (task × cell) — same small-file explosion as the bucketed writes
    // (see [[buildJaccardIndex]]); the writer's own partition-column
    // sort handles a task holding several cells. On a fresh build the
    // tiny centroid-bank write overlaps the cell write (inParallel,
    // guide §2.6 — two independent tables, one commit).
    def writeCells(): Unit =
      cells.repartition(F.col("cell"))
        .write.mode(mode).partitionBy("cell")
        .format("parquet").saveAsTable(s"${name}_cells")
    if (appending) writeCells()
    else {
      import spark.implicits._
      inParallel(Seq(
        () => writeCells(),
        () => bank.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
          .toDF("pos", "v").coalesce(1)
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(s"${name}_centroids")))
      spark.sql(s"ALTER TABLE ${name}_cells SET TBLPROPERTIES(" +
        s"'graft.dim'='$dim')")
      // at-build drift baseline ([[driftIndexReport]]): one extra
      // column-pruned aggregation over the fresh generation
      if (driftConfOn(spark))
        stampDrift(spark, s"${name}_cells",
          ivfDriftMetrics(spark, spark.table(s"${name}_cells"), bank, dim))
    }
  }

  /** The flat centroid bank recorded at build time (layout of
    * [[similarity.trainIvfCentroids]]: centroids ++ norms). */
  def readIvfBank(spark: SparkSession, name: String): Array[Double] =
    resolveRetry(spark, s"${name}_centroids").orderBy("pos")
      .collect().map(_.getDouble(1))

  private def readIvfDim(spark: SparkSession, name: String): Int = {
    val props = showPropsRetry(spark, s"${name}_cells")
    props.getOrElse("graft.dim", throw new IllegalArgumentException(
      s"index: table ${name}_cells has no 'graft.dim' property — " +
        "not built by buildIvfIndex?")).toInt
  }

  /** Probe the IVF index: exact cosine top-k of each query over the
    * vectors in its `nprobe` nearest cells. The centroid bank comes from
    * the index's own table — probe and build cannot drift. With
    * `broadcastQueries` (the queries ≪ corpus norm) the probe is
    * shuffle-FREE: the query batch broadcasts, the cell equi-join prunes
    * the partitioned index to only the probed cells' directories
    * (dynamic partition pruning), and ranking is the bounded
    * [[similarity.twoStageTopK]]. With nprobe ≥ nlist the result is
    * exactly [[similarity.bruteForceTopK]] (the x56 oracle gate). */
  def probeIvfIndex(spark: SparkSession, queries: DataFrame,
      idCol: String, vecCol: String, name: String, k: Int,
      nprobe: Int = 8, broadcastQueries: Boolean = true): DataFrame = {
    require(k >= 1 && nprobe >= 1, "index: k and nprobe must be >= 1")
    val bankLit = F.typedlit(readIvfBank(spark, name).toSeq)
    val q0 = queries.select(F.col(idCol).cast(LongType).as("q_id"),
      F.col(vecCol).as("q_vec"),
      similarity.norm(F.col(vecCol)).as("q_nrm"),
      F.explode(F.call_function("graft_centroid_topk",
        F.col(vecCol), bankLit, F.lit(nprobe))).as("cell"))
    val q = if (broadcastQueries) F.broadcast(q0) else q0
    val c0 = minusPending(spark, name,
      resolveRetry(spark, s"${name}_cells"), "n_id")
    // Under the broadcast contract the query batch is small, so one tiny
    // job collects its distinct probed cells and turns them into a
    // STATIC partition filter: the scan reads only nprobe-ish of nlist
    // directories. (Dynamic partition pruning won't fire here on its
    // own — its selectivity heuristic wants a filtered build side, and
    // the exploded query stream has no such predicate.) Large
    // non-broadcast probes skip this and scan all cells once.
    val c = if (broadcastQueries) {
      val cells = q0.select("cell").distinct().collect().map(_.getInt(0))
      c0.filter(F.col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
    } else c0
    val scored = c.join(q, "cell")
      .filter(F.col("n_id") =!= F.col("q_id"))
      .select(F.col("q_id"), F.col("n_id"),
        (similarity.dot(F.col("q_vec"), F.col("n_vec"))
          / F.col("q_nrm") / F.col("n_nrm")).as("cos"))
    similarity.twoStageTopK(scored, k)
  }

  /** Persistent IVF-PQ index — the disk layout of billion-vector ANN:
    * `<name>_pqcells` stores each corpus vector as its IVF cell plus m
    * PQ codeword ints (8 ints for a 64-float vector — the vectors
    * themselves are NOT persisted), partitioned by cell so a probe
    * reads only its nprobe directories; `<name>_pqbank` stores both
    * trained banks (the IVF centroid bank and the flat PQ codebook).
    * Append re-reads the stored banks, so daily batches encode against
    * the SAME quantizers and land in stable cells — the
    * [[buildIvfIndex]] lifecycle, at m-int-per-row storage cost.
    * On append the STORED parameters govern: the training arguments
    * (nlist, m, ksub, iters, sample, seed) are ignored in favor of the
    * banks persisted at build time — passing different values is not an
    * error, because re-deriving quantizers mid-lifecycle would split
    * the index into incompatible code spaces. An empty append batch is
    * a no-op (a zero-vector day must not crash the daily job); an
    * empty FRESH build is refused, since quantizers cannot be trained
    * on nothing.
    *
    * `residual = true` stores RESIDUAL codes — each vector quantized as
    * v − centroid(cell) against residual-trained codebooks (Jégou
    * §IV-A, see [[similarity.ivfPqResidualTopK]]) — materially better
    * recall at the same m-int storage cost; the flag persists in
    * TBLPROPERTIES and governs appends and probes. */
  def buildPqIndex(df: DataFrame, idCol: String, vecCol: String,
      name: String, nlist: Int = 64, m: Int = 8, ksub: Int = 16,
      ivfIters: Int = 2, pqIters: Int = 0, sampleN: Int = 20000,
      sampleOneIn: Long = 0L, portableSeed: Boolean = false,
      mode: SaveMode = SaveMode.Overwrite,
      residual: Boolean = false): Unit = {
    require(nlist >= 1 && m >= 1 && ksub >= 1)
    val spark = df.sparkSession
    val appending =
      mode == SaveMode.Append && spark.catalog.tableExists(s"${name}_pqcells")
    val dimRow = df.select(F.size(F.col(vecCol))).head(1)
    if (dimRow.isEmpty) {
      require(appending,
        "index: cannot build a PQ index from an empty corpus " +
          "(quantizers need training data); empty APPEND batches no-op")
      return
    }
    val dim = dimRow.head.getInt(0)
    if (!appending)
      Seq(s"${name}_pqcells", s"${name}_pqbank", s"${name}_dels")
        .foreach(resetManagedTable(spark, _))
    // stored parameters govern appends — including the RESIDUAL flag: a
    // batch encoded raw into a residual index (or vice versa) would
    // land in an incompatible code space. Indexes built before the flag
    // existed are raw-coded by construction, hence the "false" default.
    val resEff =
      if (appending)
        readPqPropOr(spark, name, "graft.residual", "false").toBoolean
      else residual
    val (bank, cb) =
      if (appending) {
        val storedDim = readPqProp(spark, name, "graft.dim").toInt
        require(storedDim == dim,
          s"index: append dim $dim does not match the build's $storedDim")
        (readPqBank(spark, name, "ivf"), readPqBank(spark, name, "cb"))
      } else {
        val ivf = similarity.trainIvfCentroids(df, idCol, vecCol, nlist,
          ivfIters, sampleN, sampleOneIn, portableSeed)
        // residual mode trains the codebooks on v − centroid(cell)
        // (Jégou §IV-A) — the training frame mirrors the encode path
        val cbTrain =
          if (resEff)
            similarity.trainPqCodebooks(
              residualFrame(similarity.cleanDim(df, vecCol, dim),
                idCol, vecCol, ivf, dim), "n_id", "_rc_r",
              m, ksub, pqIters, sampleN, sampleOneIn, portableSeed)
          else similarity.trainPqCodebooks(df, idCol, vecCol, m, ksub,
            pqIters, sampleN, sampleOneIn, portableSeed)
        (ivf, cbTrain)
      }
    val mEff = if (appending) readPqProp(spark, name, "graft.m").toInt else m
    // ragged-row hygiene (the hammingTopK posture): a vector that isn't
    // exactly `dim` wide has no defined code — exclude it rather than
    // persist a NULL/misaligned encoding into the index
    val clean = similarity.cleanDim(df, vecCol, dim)
    val cells = encodeCells(clean, idCol, vecCol, bank, cb, mEff, dim, resEff)
    // one file per cell per append, not per (task × cell) — see
    // [[buildIvfIndex]]'s small-file note; on a fresh build the tiny
    // bank write overlaps the cell encode+write (inParallel, guide
    // §2.6 — two independent tables, one commit)
    def writeCells(): Unit =
      cells.repartition(F.col("cell"))
        .write.mode(mode).partitionBy("cell")
        .format("parquet").saveAsTable(s"${name}_pqcells")
    if (appending) writeCells()
    else {
      import spark.implicits._
      val rows = bank.zipWithIndex.map { case (v, i) => ("ivf", i, v) } ++
        cb.zipWithIndex.map { case (v, i) => ("cb", i, v) }
      inParallel(Seq(
        () => writeCells(),
        () => rows.toSeq.toDF("kind", "pos", "v").coalesce(1)
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(s"${name}_pqbank")))
      spark.sql(s"ALTER TABLE ${name}_pqcells SET TBLPROPERTIES(" +
        s"'graft.dim'='$dim', 'graft.m'='$m', 'graft.residual'='$resEff')")
      // at-build drift baseline: occupancy/codeword skew from the
      // stored codes + reconstruction error on the encode side (one
      // scan against the in-memory banks — see [[driftPqReport]] for
      // the stored-code audit path this equals bit-for-bit)
      if (driftConfOn(spark)) {
        val (rMean, rP95) = pqReconStatsAtEncode(clean, idCol, vecCol,
          bank, cb, mEff, dim, resEff)
        stampDrift(spark, s"${name}_pqcells",
          pqOccMetrics(spark, spark.table(s"${name}_pqcells"),
            bank.length / (dim + 1), cb.length / dim) ++
            Seq("recon_mean" -> rMean, "recon_p95" -> rP95))
      }
    }
  }

  /** Persistent near-dup COMPONENT MAP with incremental appends — the
    * round-9 verdict's x98 gap: the daily lifecycle used to re-run
    * connected components over the whole accumulated pair set; this
    * maintains the component assignment as index state and resolves
    * each day's edges against it, so the iterative CC work scales with
    * the BATCH, never the corpus.
    *
    * Tables: `<name>_cmap` (id, rep0) is APPEND-ONLY — rep0 is the
    * component representative (global min id, graft's keep rule) as of
    * the row's insertion day; `<name>_cremap` (rep0, rep) is the small,
    * FLAT remap for representatives that later merged away. The current
    * component of any id is coalesce(remap[rep0], rep0)
    * ([[readComponentMap]]). The remap is kept flat by construction —
    * every append re-points existing entries through that day's
    * changes — so resolution is ONE broadcast hash join, never a chain
    * walk.
    *
    * Append-day work ([[appendComponentEdges]]): resolve the batch
    * edges' old endpoints via one broadcast semi-join against the map
    * (a scan, no shuffle of the corpus), CONTRACT each edge to current
    * representatives, run [[dedup.connectedComponents]] over the
    * contracted edges only (batch-sized — merging two million-row
    * components costs one 2-node edge), then append the batch's rows
    * and rewrite the small remap. Day-by-day appends provably equal
    * the full recompute over the union of all edges — that equality IS
    * the x123 oracle, and the batch-bounded shuffle is pinned in
    * ScaleSmokeSpec.
    *
    * Contract: `nodes` ids must be NEW (never inserted before); edges
    * may touch any already-mapped id. An edge endpoint that is neither
    * new nor mapped joins as itself but gets no map row (document
    * probes against an index should not invent corpus rows). */
  def buildComponentMap(nodes: DataFrame, pairs: DataFrame, idCol: String,
      name: String): Unit = {
    requireComponentIds(nodes, idCol, pairs, "index.buildComponentMap")
    val spark = nodes.sparkSession
    Seq(s"${name}_cmap", s"${name}_cremap", s"${name}_cedges")
      .foreach(resetManagedTable(spark, _))
    // the pair frame is often an expensive pipeline (an LSH pair join,
    // a probe) and is consumed twice (CC + the edge log) — pin it for
    // the call (cachedPinned: dedup.cached would auto-release after the
    // FIRST consuming query; the finally block unpersists)
    val e = dedup.cachedPinned(pairs.select(
      F.col("id_a").cast(LongType).as("id_a"),
      F.col("id_b").cast(LongType).as("id_b")))
    val comp = dedup.cached(dedup.connectedComponents(e))
    try {
      // map + edge log + empty remap are one logical commit over the
      // shared cached component frame — three independent tables,
      // written concurrently (inParallel, guide §2.6) instead of three
      // sequential job floors. The edge LOG is labeled with the edge's
      // component at insert time (same resolution invariant as cmap
      // rows) — what makes DELETION possible: a removal re-solves only
      // the affected components' edges, found by a broadcast filter on
      // the label, never by re-resolving every endpoint
      // (see removeComponentIds).
      inParallel(Seq(
        () => nodes.select(F.col(idCol).cast(LongType).as("id"))
          .join(comp.withColumnRenamed("component", "_cm_c"), Seq("id"),
            "left")
          .select(F.col("id"),
            F.coalesce(F.col("_cm_c"), F.col("id")).as("rep0"))
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(s"${name}_cmap"),
        () => e.join(comp.select(F.col("id").as("id_a"),
            F.col("component").as("_cm_c")), Seq("id_a"), "left")
          .select(F.col("id_a"), F.col("id_b"),
            F.coalesce(F.col("_cm_c"), F.col("id_a")).as("rep0"))
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(s"${name}_cedges"),
        () => spark.emptyDataFrame
          .select(F.lit(0L).as("rep0"), F.lit(0L).as("rep"))
          .where(F.lit(false))
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(s"${name}_cremap")))
    } finally {
      comp.unpersist(blocking = false)
      e.unpersist(blocking = false)
      ()
    }
  }

  /** One incremental day: insert `nodes` (new ids) and connect `pairs`
    * (edges touching new and/or mapped ids). See [[buildComponentMap]]
    * for the state layout and scale contract. */
  def appendComponentEdges(nodes: DataFrame, pairs: DataFrame,
      idCol: String, name: String): Unit = {
    requireComponentIds(nodes, idCol, pairs, "index.appendComponentEdges")
    val spark = nodes.sparkSession
    withLease(spark, name) {
    val cmap = spark.table(s"${name}_cmap")
    val remap = spark.table(s"${name}_cremap")
    // the batch's pair frame is typically an expensive near-dup
    // pipeline (LSH pairs ∪ index-probe hits) and is consumed THREE
    // times below (endpoint set, contraction/CC, the edge log) — pin
    // it for the call instead of re-running the pipeline per consumer
    // (cachedPinned, NOT cached: cached auto-releases after the first
    // consuming query; the finally block unpersists)
    val e = dedup.cachedPinned(pairs.select(
      F.col("id_a").cast(LongType).as("id_a"),
      F.col("id_b").cast(LongType).as("id_b")))
    val newIds = nodes.select(F.col(idCol).cast(LongType).as("id"))
    // current rep of every OLD endpoint: one broadcast semi-join into
    // the map scan + one broadcast hash join with the small remap —
    // the corpus is read, never shuffled
    val ends = e.select(F.explode(F.array(F.col("id_a"), F.col("id_b")))
      .as("id")).distinct()
    val oldRes = cmap.join(F.broadcast(ends), Seq("id"), "left_semi")
      .join(F.broadcast(remap), Seq("rep0"), "left")
      .select(F.col("id"), F.coalesce(F.col("rep"), F.col("rep0")).as("_cm_r"))
    // contract edges to current representatives (new ids stand for
    // themselves); the contracted graph is batch-sized by construction
    val withReps = e
      .join(oldRes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("_cm_r", "_cm_ra"), Seq("id_a"), "left")
      .join(oldRes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("_cm_r", "_cm_rb"), Seq("id_b"), "left")
      .select(F.col("id_a"), F.col("id_b"),
        F.coalesce(F.col("_cm_ra"), F.col("id_a")).as("_cm_ca"),
        F.coalesce(F.col("_cm_rb"), F.col("id_b")).as("_cm_cb"))
    val contracted = withReps
      .select(F.col("_cm_ca").as("id_a"), F.col("_cm_cb").as("id_b"))
      .filter(F.col("id_a") =!= F.col("id_b"))
    val comp = dedup.cached(dedup.connectedComponents(contracted))
    try {
      // The day's two appends are one logical commit over the shared
      // cached component frame — independent tables, committed
      // concurrently (inParallel, guide §2.6) instead of two
      // sequential per-day job floors:
      // - edge log: today's edges labeled with their component after
      //   today's merges (the contracted endpoint's component; a
      //   within-component edge keeps the endpoint's current rep) —
      //   see buildComponentMap / removeComponentIds;
      // - new rows: each batch id's rep0 is its component in the
      //   contracted graph (current-rep values ARE global min ids, so
      //   the min over a merged set is the true global min — the keep
      //   rule stays stable across days).
      inParallel(Seq(
        () => withReps
          .join(comp.select(F.col("id").as("_cm_ca"),
            F.col("component").as("_cm_c")), Seq("_cm_ca"), "left")
          .select(F.col("id_a"), F.col("id_b"),
            F.coalesce(F.col("_cm_c"), F.col("_cm_ca")).as("rep0"))
          .write.mode(SaveMode.Append).format("parquet")
          .saveAsTable(s"${name}_cedges"),
        () => newIds
          .join(comp.withColumnRenamed("component", "_cm_c"), Seq("id"),
            "left")
          .select(F.col("id"),
            F.coalesce(F.col("_cm_c"), F.col("id")).as("rep0"))
          .write.mode(SaveMode.Append).format("parquet")
          .saveAsTable(s"${name}_cmap")))
      // remap rewrite: old reps whose component changed re-point every
      // rep0 that currently resolves to them; existing entries are
      // composed through today's changes so the table stays FLAT
      val changed = comp
        .join(F.broadcast(newIds), Seq("id"), "left_anti") // old reps only
        .filter(F.col("component") =!= F.col("id"))
        .select(F.col("id").as("_cm_from"), F.col("component").as("_cm_to"))
      // accretion days (new docs joining existing families, no
      // cross-component merge) change NO representative — skip the
      // remap rewrite entirely; the emptiness probe is one tiny job
      // over the already-cached contracted components
      if (!changed.isEmpty) {
        val newRemap = remap
          .join(F.broadcast(changed), F.col("rep") === F.col("_cm_from"), "left")
          .select(F.col("rep0"),
            F.coalesce(F.col("_cm_to"), F.col("rep")).as("rep"))
          .unionByName(changed.select(F.col("_cm_from").as("rep0"),
            F.col("_cm_to").as("rep")))
        // the remap table is overwritten while also being read: break
        // the read-write cycle through the stage-write-then-rename swap
        // (distributed — no driver materialization, whatever the merge
        // history's size; one write, not stage-then-copy)
        swapViaRename(spark, s"${name}_cremap", name) { stage =>
          newRemap.write.mode(SaveMode.Overwrite).format("parquet")
            .saveAsTable(stage)
        }
      }
    } finally {
      comp.unpersist(blocking = false)
      e.unpersist(blocking = false)
      ()
    }
    }
  }

  /** Fold the remap back into the map: rewrite `<name>_cmap` with every
    * rep0 resolved to its current rep and truncate `<name>_cremap`.
    * The remap grows by the day's merged-away representatives per
    * append; run this periodically (one corpus scan + write) to keep
    * the broadcast-joined remap small on long-lived indexes. Read
    * results are identical before and after — compaction only moves
    * where the resolution happens. */
  def compactComponentMap(spark: SparkSession, name: String): Unit =
    withLease(spark, name) {
      swapViaRename(spark, s"${name}_cmap", name) { stage =>
        readComponentMap(spark, name)
          .select(F.col("id"), F.col("component").as("rep0"))
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(stage)
      }
      // the edge log shares the rep0 resolution invariant — fold the
      // remap into it too before truncating
      swapViaRename(spark, s"${name}_cedges", name) { stage =>
        spark.table(s"${name}_cedges")
          .join(F.broadcast(spark.table(s"${name}_cremap")),
            Seq("rep0"), "left")
          .select(F.col("id_a"), F.col("id_b"),
            F.coalesce(F.col("rep"), F.col("rep0")).as("rep0"))
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(stage)
      }
      spark.emptyDataFrame
        .select(F.lit(0L).as("rep0"), F.lit(0L).as("rep"))
        .where(F.lit(false))
        .write.mode(SaveMode.Overwrite).format("parquet")
        .saveAsTable(s"${name}_cremap")
    }

  /** TAKEDOWN — remove documents from the component map (the
    * right-to-be-forgotten / legal-removal lifecycle op a long-lived
    * corpus needs): deleted ids lose their rows, and their components
    * are RE-SOLVED from the persisted edge log restricted to surviving
    * members — a deletion can legitimately SPLIT a family (removing
    * the bridge document separates the two halves), which no
    * label-rewrite shortcut can express. The result equals the full
    * recompute over every surviving edge — the x126 oracle.
    *
    * Scale shape: the affected-component set is batch-bounded
    * (≤ one component per deleted id) and broadcasts; the map and the
    * edge log are each SCANNED once with broadcast-filter semi/anti
    * joins (never shuffled); the CC loop runs only over the affected
    * components' surviving edges. Remap entries resolving into an
    * affected component are dropped — their rows get fresh labels. */
  def removeComponentIds(ids: DataFrame, idCol: String,
      name: String): Unit = {
    similarity.requireIntegralId(ids, idCol, "index.removeComponentIds")
    val spark = ids.sparkSession
    withLease(spark, name) {
    val del = ids.select(F.col(idCol).cast(LongType).as("id")).distinct()
    val remap = spark.table(s"${name}_cremap")
    val cmap = spark.table(s"${name}_cmap")
    val cedges = spark.table(s"${name}_cedges")
    def resolve(df: DataFrame): DataFrame = df
      .join(F.broadcast(remap), Seq("rep0"), "left")
      .withColumn("_cm_cur", F.coalesce(F.col("rep"), F.col("rep0")))
      .drop("rep")
    // affected components: current labels of any deleted id's row.
    // MATERIALIZED eagerly (batch-bounded: ≤ one component per deleted
    // id) — every later step filters by it, and some of those steps run
    // AFTER the map table has been rewritten, so a lazy plan over the
    // old table would silently re-read the new one. Materialization is
    // count-gated like connectedComponents' local shortcut: a takedown
    // of ~100M ids would otherwise collect() ~800 MB onto the driver,
    // so above `spark.graft.cmap.localAffectedThreshold` (default 1M
    // labels ≈ 8 MB) the set is pinned DISTRIBUTEDLY (localCheckpoint —
    // eager, severs the lineage from the about-to-be-rewritten table)
    // and only ever consumed as the broadcast side of the filters.
    import spark.implicits._
    val affCap = spark.conf
      .get("spark.graft.cmap.localAffectedThreshold", "1000000").toLong
    val affDistinct = resolve(cmap.join(F.broadcast(del), Seq("id"), "left_semi"))
      .select(F.col("_cm_cur").as("_cm_aff")).distinct()
    val aff =
      if (affDistinct.count() <= affCap)
        affDistinct.collect().map(_.getLong(0)).toSeq.toDF("_cm_aff")
      else affDistinct.localCheckpoint(true)
    val rc = resolve(cmap)
    val keepRows = rc.join(F.broadcast(aff),
        F.col("_cm_cur") === F.col("_cm_aff"), "left_anti")
      .select("id", "rep0")
    val affRows = rc.join(F.broadcast(aff),
        F.col("_cm_cur") === F.col("_cm_aff"), "left_semi")
      .select("id", "rep0")
    val re = resolve(cedges)
    val keepEdges = re.join(F.broadcast(aff),
        F.col("_cm_cur") === F.col("_cm_aff"), "left_anti")
      .select("id_a", "id_b", "rep0")
    val survEdges = re.join(F.broadcast(aff),
        F.col("_cm_cur") === F.col("_cm_aff"), "left_semi")
      .join(F.broadcast(del.withColumnRenamed("id", "id_a")),
        Seq("id_a"), "left_anti")
      .join(F.broadcast(del.withColumnRenamed("id", "id_b")),
        Seq("id_b"), "left_anti")
      .select("id_a", "id_b")
    val comp2 = dedup.cached(dedup.connectedComponents(survEdges))
    try {
      val survivors = affRows
        .join(F.broadcast(del), Seq("id"), "left_anti")
        .join(comp2.withColumnRenamed("component", "_cm_c"), Seq("id"), "left")
        .select(F.col("id"), F.coalesce(F.col("_cm_c"), F.col("id")).as("rep0"))
      swapViaRename(spark, s"${name}_cmap", name) { stage =>
        keepRows.unionByName(survivors)
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(stage)
      }
      val relabeled = survEdges
        .join(comp2.select(F.col("id").as("id_a"),
          F.col("component").as("_cm_c")), Seq("id_a"), "left")
        .select(F.col("id_a"), F.col("id_b"),
          F.coalesce(F.col("_cm_c"), F.col("id_a")).as("rep0"))
      swapViaRename(spark, s"${name}_cedges", name) { stage =>
        keepEdges.unionByName(relabeled)
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(stage)
      }
      // remap entries resolving into affected components point at rows
      // that just got fresh labels — drop them; others are untouched
      swapViaRename(spark, s"${name}_cremap", name) { stage =>
        remap.join(F.broadcast(aff),
            F.col("rep") === F.col("_cm_aff"), "left_anti")
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(stage)
      }
    } finally { comp2.unpersist(blocking = false); () }
    }
  }

  /** The component-map ops `cast(.., LongType)` their id columns — a
    * string/UUID id would cast to NULL and silently corrupt the
    * persisted map instead of failing (the hammingTopK guard, applied
    * to both the node frame and the pair frame's endpoints). */
  private def requireComponentIds(nodes: DataFrame, idCol: String,
      pairs: DataFrame, op: String): Unit = {
    similarity.requireIntegralId(nodes, idCol, op)
    similarity.requireIntegralId(pairs, "id_a", op)
    similarity.requireIntegralId(pairs, "id_b", op)
  }

  /** The current component assignment: `(id, component)` — component =
    * the global min id of the near-dup family (graft's keep rule),
    * exactly what a full [[dedup.connectedComponents]] recompute over
    * every edge ever appended would return. One broadcast join; the map
    * is never shuffled. */
  def readComponentMap(spark: SparkSession, name: String): DataFrame =
    resolveRetry(spark, s"${name}_cmap")
      .join(F.broadcast(resolveRetry(spark, s"${name}_cremap")),
        Seq("rep0"), "left")
      .select(F.col("id"),
        F.coalesce(F.col("rep"), F.col("rep0")).as("component"))

  /** `(n_id, cell, _rc_r = v − centroid(cell))` over a width-clean
    * frame: the residual-encode plumbing shared by build/probe/train —
    * one codegen'd argmax + one graft_vec_sub per row against the
    * broadcast nlist-row centroid frame. `ivfBank` is the flat
    * centroids-++-norms layout; centroid ROWS are sliced back out of it
    * (nlist × dim doubles, driver-sized). */
  private def residualFrame(clean: DataFrame, idCol: String,
      vecCol: String, ivfBank: Array[Double], dim: Int): DataFrame = {
    val spark = clean.sparkSession
    import spark.implicits._
    val nlist = ivfBank.length / (dim + 1)
    val cents = Array.tabulate(nlist)(c =>
      ivfBank.slice(c * dim, (c + 1) * dim))
    val cdf = F.broadcast(cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "_rc_cent"))
    val bankLit = F.typedlit(ivfBank.toSeq)
    clean.select(F.col(idCol).as("n_id"), F.col(vecCol).as("_rc_v"),
        F.element_at(F.call_function("graft_centroid_topk",
          F.col(vecCol), bankLit, F.lit(1)), 1).as("cell"))
      .join(cdf, "cell")
      .select(F.col("n_id"), F.col("cell"),
        F.call_function("graft_vec_sub", F.col("_rc_v"), F.col("_rc_cent"))
          .as("_rc_r"))
  }

  /** `(n_id, codes, cell)` for a width-clean vector frame under the
    * given banks — the encode shared by build, append and retrain: a
    * residual index codes v − centroid(cell) against the residual
    * codebooks, a raw index codes v directly; either way one codegen
    * pass against broadcast-literal banks, no shuffle. */
  private def encodeCells(clean: DataFrame, idCol: String, vecCol: String,
      bank: Array[Double], cb: Array[Double], m: Int, dim: Int,
      residual: Boolean): DataFrame = {
    val cbLit = F.typedlit(cb.toSeq)
    if (residual)
      residualFrame(clean, idCol, vecCol, bank, dim)
        .select(F.col("n_id").cast(LongType).as("n_id"),
          F.call_function("graft_pq_encode", F.col("_rc_r"), cbLit,
            F.lit(m)).as("codes"),
          F.col("cell"))
    else {
      val bankLit = F.typedlit(bank.toSeq)
      clean.select(
        F.col(idCol).cast(LongType).as("n_id"),
        F.call_function("graft_pq_encode", F.col(vecCol), cbLit, F.lit(m))
          .as("codes"),
        F.element_at(F.call_function("graft_centroid_topk",
          F.col(vecCol), bankLit, F.lit(1)), 1).as("cell"))
    }
  }

  private def readPqBank(spark: SparkSession, name: String,
      kind: String): Array[Double] =
    resolveRetry(spark, s"${name}_pqbank").filter(F.col("kind") === kind)
      .orderBy("pos").select("v").collect().map(_.getDouble(0))

  private def readPqProp(spark: SparkSession, name: String,
      key: String): String =
    showPropsRetry(spark, s"${name}_pqcells")
      .getOrElse(key, throw new IllegalArgumentException(
        s"index: table ${name}_pqcells has no '$key' property — " +
          "not built by buildPqIndex?"))

  private def readPqPropOr(spark: SparkSession, name: String,
      key: String, default: String): String =
    showPropsRetry(spark, s"${name}_pqcells").getOrElse(key, default)

  /** Probe the PQ index: ADC top-k of each query over the stored CODES
    * of its `nprobe` nearest cells — the scan reads only the probed
    * cell directories (same static partition filter as
    * [[probeIvfIndex]]) and only (n_id, codes) columns; the floats of
    * the corpus are never touched, or even stored. Output
    * `(q_id, n_id, adc_dist, rank)`, smallest approximate squared L2
    * first, ties by id. A residual-coded index (see [[buildPqIndex]])
    * is probed with one distance table per (query, probed cell), built
    * from q − centroid(cell) — the flag comes from the index's own
    * properties, so probe and build cannot drift. */
  def probePqIndex(spark: SparkSession, queries: DataFrame,
      idCol: String, vecCol: String, name: String, k: Int,
      nprobe: Int = 8, broadcastQueries: Boolean = true): DataFrame = {
    require(k >= 1 && nprobe >= 1, "index: k and nprobe must be >= 1")
    val ivfBank = readPqBank(spark, name, "ivf")
    val bankLit = F.typedlit(ivfBank.toSeq)
    val cbLit = F.typedlit(readPqBank(spark, name, "cb").toSeq)
    val m = readPqProp(spark, name, "graft.m").toInt
    val storedDim = readPqProp(spark, name, "graft.dim").toInt
    val residual =
      readPqPropOr(spark, name, "graft.residual", "false").toBoolean
    // queries that don't match the index's trained width have no
    // defined distance table — exclude, don't crash (see buildPqIndex)
    val clean = similarity.cleanDim(queries, vecCol, storedDim)
    val q0 =
      if (residual) {
        // residual index: the stored codes quantize v − centroid(cell),
        // so each probed cell gets its OWN table from q − centroid(cell)
        import spark.implicits._
        val nlist = ivfBank.length / (storedDim + 1)
        val cents = Array.tabulate(nlist)(c =>
          ivfBank.slice(c * storedDim, (c + 1) * storedDim))
        val cdf = F.broadcast(cents.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "_rc_cent"))
        clean.select(F.col(idCol).cast(LongType).as("q_id"),
            F.col(vecCol).as("_rc_qv"),
            F.explode(F.call_function("graft_centroid_topk",
              F.col(vecCol), bankLit, F.lit(nprobe))).as("cell"))
          .join(cdf, "cell")
          .select(F.col("q_id"), F.col("cell"),
            F.call_function("graft_pq_dists",
              F.call_function("graft_vec_sub",
                F.col("_rc_qv"), F.col("_rc_cent")),
              cbLit, F.lit(m)).as("dt"))
      } else clean.select(F.col(idCol).cast(LongType).as("q_id"),
        F.explode(F.call_function("graft_centroid_topk",
          F.col(vecCol), bankLit, F.lit(nprobe))).as("cell"),
        F.call_function("graft_pq_dists", F.col(vecCol), cbLit, F.lit(m))
          .as("dt"))
    val q = if (broadcastQueries) F.broadcast(q0) else q0
    val c0 = minusPending(spark, name,
      resolveRetry(spark, s"${name}_pqcells"), "n_id")
    val c = if (broadcastQueries) {
      val cells = q0.select("cell").distinct().collect().map(_.getInt(0))
      c0.filter(F.col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
    } else c0
    val scored = c.join(q, "cell")
      .filter(F.col("n_id") =!= F.col("q_id"))
      .select(F.col("q_id"), F.col("n_id"),
        (-F.call_function("graft_pq_adc", F.col("codes"), F.col("dt")))
          .as("cos"))
    similarity.twoStageTopK(scored, k)
      .select(F.col("q_id"), F.col("n_id"),
        (-F.col("cos")).as("adc_dist"), F.col("rank"))
  }
}
