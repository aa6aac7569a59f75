package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.table.Table

/** One driver query: its DSL `build`, the DuckDB `oracle` SQL that must
  * reproduce its result bit for bit, and an optional `bench` substitute.
  *
  * A handful of queries run an oracle-REPLAYABLE variant in the
  * correctness gate (e.g. x04's md5-prefix SimHash fingerprints, uncapped
  * so the all-pairs oracle is exact) whose extra cost is irrelevant at
  * sf0.01 but misrepresents the engine in a bench; [[Bench]] runs `bench`
  * instead when present — the xxhash64 + hot-bucket-capped path a 100 TB
  * deployment would run. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    bench: Option[(SparkSession, String) => DataFrame] = None)

/** Driver contract — see SURVEY.md §7.
  *
  * Every query is written through the graft DSL (Table verbs + ColExpr),
  * and paired with ANSI SQL that DuckDB runs over the same parquet files.
  * Numeric-stability rule: any SUM/AVG over doubles is computed through
  * an exact DECIMAL intermediate and cast back to DOUBLE in BOTH engines,
  * so the result is order-independent and hash-comparable across engines.
  */
object SparkEntry {

  def src(s: SparkSession, dir: String, t: String): Table = Table.source(s, dir, t)

  /** Flagship query on sf=0.001 (TPC-H Q1 shape); driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q1Agg(spark, "/root/testdata/sf0.001")

  /** Every driver query, one [[QuerySpec]] each. */
  def specs: Seq[QuerySpec] = Queries.all ++ ExtQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  /** Bench substitutes ([[QuerySpec.bench]]), keyed by the [[queries]]
    * name they stand in for. */
  def benchVariants: Map[String, (SparkSession, String) => DataFrame] =
    specs.flatMap(q => q.bench.map(q.name -> _)).toMap

  def oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracle).toMap

  /** The specs called `names`, in that order, or every spec when `names`
    * is empty. A name no spec has fails, listing every such name. */
  private[graft] def select(names: Seq[String]): Seq[QuerySpec] = {
    val byName = specs.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) specs else names.distinct.map(byName)
  }

  /** The session settings every main and the test suite share:
    * `local[cores]` with as many shuffle partitions, the graft
    * extensions, UTC, ANSI off, Spark 4 TIME (graft's Time type),
    * TIMESTAMP(NANOS) parquet read as Long nanos, no UI. */
  private[graft] def sessionBuilder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Overrides of the bounded streaming replays' clone (see
    * [[graft.streaming.Streams.replaySession]]). */
  private[graft] val replayConf: Map[String, String] =
    Map("spark.sql.shuffle.partitions" -> "8")

  /** Overrides of the fuzz batteries' clone, compiled (see
    * [[graft.fuzz.DiffFuzz]]'s `fixtureSession`). */
  private[graft] val fixtureConf: Map[String, String] = Map(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256k",
    "spark.sql.codegen.wholeStage" -> "false")

  /** [[fixtureConf]] with every projection, predicate and ordering on
    * its interpreted evaluator: nothing is compiled (see `fixtureSession`
    * for when a battery runs this way). */
  private[graft] val fixtureInterpretedConf: Map[String, String] =
    fixtureConf + ("spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  // one clone per (parent session, override set) — weak keys: a clone
  // must not outlive its parent; never one per call, a bench run
  // samples each row 6 times and must not accumulate SessionStates
  private val clones =
    new java.util.WeakHashMap[SparkSession, Map[Map[String, String], SparkSession]]()

  /** The clone of `parent` (`newSession`: same SparkContext, extensions
    * and builder conf, its own SQLConf) that runs with `overrides`
    * ([[replayConf]], [[fixtureConf]] or [[fixtureInterpretedConf]]),
    * keeping those tunings off every other query. The parent's runtime conf is copied in on EVERY
    * call, not just at creation: PlanAuditSpec pins AQE off at runtime
    * and resets it after — a stale copy would either hide the exchanges
    * behind an AdaptiveSparkPlanExec root or leak AQE-off into bench
    * runs. Static confs refuse a runtime set and are skipped; the
    * override keys are never copied, so a concurrent user of the clone
    * never sees them flip. Each call also empties the clone's table
    * relation cache, as a fresh session would start: a table another
    * session rewrote under the same name (x96 rebuilds its index in
    * the caller's session on every run) must not resolve to the
    * clone's stale file listing. */
  private[graft] def clonedSession(parent: SparkSession,
      overrides: Map[String, String]): SparkSession = clones.synchronized {
    val byConf = Option(clones.get(parent)).getOrElse(Map.empty)
    val c = byConf.getOrElse(overrides, {
      val n = parent.newSession()
      clones.put(parent, byConf + (overrides -> n))
      n
    })
    parent.conf.getAll.foreach { case (k, v) =>
      if (!overrides.contains(k))
        try c.conf.set(k, v) catch { case _: org.apache.spark.sql.AnalysisException => }
    }
    overrides.foreach { case (k, v) => c.conf.set(k, v) }
    c.sessionState.catalog.invalidateAllCachedTables()
    c
  }
}
