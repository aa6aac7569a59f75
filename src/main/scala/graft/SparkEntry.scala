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
}
