package graft.fuzz

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.core._
import graft.dsl._
import graft.table.Table

/** Cross-engine differential expression fuzzer (the analog of the
  * reference's `fuzz.py:75-117`, upgraded from same-engine to
  * cross-engine): a deterministic battery of random expression trees is
  * generated as PAIRS — the graft `ColExpr` and its DuckDB-dialect SQL —
  * so the whole battery runs as one oracled query through the driver's
  * DuckDB hash gate (and `tools/check.py` locally). Any divergence in
  * null propagation, coercion, truncation or collation between the
  * Catalyst compilation and the portable SQL semantics breaks the hash.
  *
  * Domain discipline (so both engines compute bit-identical values):
  * literals are binary-exact doubles / small longs rendered with explicit
  * casts; integer division/modulo only sees non-negative dividends
  * (DuckDB `//` floors, Spark DIV truncates — equal on non-negatives);
  * no transcendentals (1-ulp libm differences) and no `round` (HALF_UP
  * vs banker's edge cases) — those are covered by q23/q24/q28 with
  * rounding applied on both sides; every double-typed OUTPUT is
  * canonicalized `+ 0.0` on both sides (see [[canonZero]]) because the
  * engines produce IEEE signed zero differently while consuming it
  * identically.
  *
  * Seed-rotation rule (round-8 postmortem): a seed bump is a
  * behavior-visible change. Rotate ONLY after `tools/check.py` (which
  * is bit-strict on doubles, like the driver's hash gate) passes at
  * BOTH sf0.001 and sf0.01, and cite that run in the commit message.
  */
object DiffFuzz {

  /** A generated node: the DSL expression and its DuckDB SQL. */
  final case class GE(e: ColExpr, d: String)

  val N = 300
  // bumped each round after a local two-SF verify: fresh random trees
  // through the same hash gate. Round 15 rotated every battery onto
  // the 20270201–20270215 series (this expression seed plus the
  // per-battery seeds below, and the x117/x118 battery seeds in
  // ExtQueries); per-battery values live at their declaration sites.
  val Seed = 20270201L
  val Depth = 3

  private final class Gen(rnd: scala.util.Random) {
    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

    // ---- leaves ----
    private val longLits = IndexedSeq(-5L, -2L, 0L, 1L, 3L, 7L)
    private val dblLits = IndexedSeq(-2.5, -1.25, 0.0, 0.5, 1.5, 3.25)
    private val strLits = IndexedSeq("A", "xy", "", "AN")

    def longLeaf(): GE = pick(IndexedSeq(
      () => GE(C("n_nationkey"), "n_nationkey"),
      () => GE(C("n_regionkey"), "n_regionkey"),
      () => { val v = pick(longLits); GE(lit(v), s"CAST($v AS BIGINT)") },
      () => GE( // nullable long
        when(C("n_nationkey") % lit(4L) === lit(0L)).then_(lit(null))
          .otherwise(C("n_nationkey")),
        "(CASE WHEN n_nationkey % 4 = 0 THEN NULL ELSE n_nationkey END)")))()

    def dblLeaf(): GE = pick(IndexedSeq(
      () => GE(C("n_nationkey").cast(DoubleType) / lit(7.0),
        "(CAST(n_nationkey AS DOUBLE) / CAST(7.0 AS DOUBLE))"),
      () => { val v = pick(dblLits); GE(lit(v), s"CAST($v AS DOUBLE)") },
      () => GE( // nullable double
        when(C("n_regionkey") === lit(2L)).then_(lit(null))
          .otherwise(C("n_nationkey").cast(DoubleType)),
        "(CASE WHEN n_regionkey = 2 THEN NULL ELSE CAST(n_nationkey AS DOUBLE) END)")))()

    def strLeaf(): GE = pick(IndexedSeq(
      () => GE(C("n_name"), "n_name"),
      () => GE(C("n_name") + lit("_x"), "(n_name || '_x')"),
      () => { val v = pick(strLits); GE(lit(v), s"'$v'") },
      () => GE( // nullable string
        when(C("n_nationkey") % lit(5L) === lit(0L)).then_(lit(null))
          .otherwise(C("n_name")),
        "(CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_name END)")))()

    def boolLeaf(): GE = pick(IndexedSeq(
      () => GE(C("n_nationkey") % lit(2L) === lit(0L), "(n_nationkey % 2 = 0)"),
      () => GE(lit(true), "TRUE"),
      () => GE(lit(false), "FALSE"),
      () => GE(
        when(C("n_regionkey") === lit(1L)).then_(lit(null))
          .otherwise(C("n_nationkey") % lit(3L) === lit(0L)),
        "(CASE WHEN n_regionkey = 1 THEN NULL ELSE n_nationkey % 3 = 0 END)")))()

    // ---- nodes ----
    def longE(d: Int): GE =
      if (d <= 0) longLeaf()
      else pick(IndexedSeq[() => GE](
        () => { val a = longE(d - 1); val b = longE(d - 1)
          GE(a.e + b.e, s"(${a.d} + ${b.d})") },
        () => { val a = longE(d - 1); val b = longE(d - 1)
          GE(a.e - b.e, s"(${a.d} - ${b.d})") },
        () => { val a = longE(d - 1); val v = pick(IndexedSeq(0L, 1L, 2L, 3L))
          GE(a.e * lit(v), s"(${a.d} * CAST($v AS BIGINT))") },
        // non-negative dividends: DuckDB // floors, Spark DIV truncates;
        // they agree on non-negatives only
        () => { val a = longE(d - 1); val v = pick(IndexedSeq(1L, 2L, 3L, 7L))
          GE(a.e.abs % lit(v), s"(ABS(${a.d}) % CAST($v AS BIGINT))") },
        () => { val a = longE(d - 1); val v = pick(IndexedSeq(1L, 2L, 3L, 7L))
          GE(a.e.abs.floorDiv(lit(v)), s"(ABS(${a.d}) // CAST($v AS BIGINT))") },
        () => { val a = longE(d - 1); GE(a.e.abs, s"ABS(${a.d})") },
        () => { val a = longE(d - 1); GE(-a.e, s"(- ${a.d})") },
        () => { val a = strE(d - 1); GE(a.e.str.len, s"CAST(LENGTH(${a.d}) AS BIGINT)") },
        () => { val c = boolE(d - 1); val a = longE(d - 1); val b = longE(d - 1)
          GE(when(c.e).then_(a.e).otherwise(b.e),
            s"(CASE WHEN ${c.d} THEN ${a.d} ELSE ${b.d} END)") },
        () => { val a = longE(d - 1); val b = longE(d - 1)
          GE(a.e.fillNull(b.e), s"COALESCE(${a.d}, ${b.d})") },
        () => { val a = longE(d - 1)
          GE(a.e.clip(lit(-3L), lit(9L)),
            s"(CASE WHEN ${a.d} IS NULL THEN NULL ELSE " +
              s"LEAST(GREATEST(${a.d}, CAST(-3 AS BIGINT)), CAST(9 AS BIGINT)) END)") }))()

    def dblE(d: Int): GE =
      if (d <= 0) dblLeaf()
      else pick(IndexedSeq[() => GE](
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(a.e + b.e, s"(${a.d} + ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(a.e - b.e, s"(${a.d} - ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(a.e * b.e, s"(${a.d} * ${b.d})") },
        // x/0 → NULL in both engines (non-ANSI Spark, DuckDB default)
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(a.e / b.e,
            s"(CAST(${a.d} AS DOUBLE) / CAST(${b.d} AS DOUBLE))") },
        () => { val a = longE(d - 1); val b = longE(d - 1)
          GE(a.e / b.e, // int/int → Float (reference truediv)
            s"(CAST(${a.d} AS DOUBLE) / CAST(${b.d} AS DOUBLE))") },
        () => { val a = dblE(d - 1); GE(a.e.abs, s"ABS(${a.d})") },
        () => { val a = dblE(d - 1); GE(-a.e, s"(- ${a.d})") },
        () => { val a = longE(d - 1)
          GE(a.e.cast(DoubleType), s"CAST(${a.d} AS DOUBLE)") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(hmax(a.e, b.e), s"GREATEST(${a.d}, ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(hmin(a.e, b.e), s"LEAST(${a.d}, ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(coalesce(a.e, b.e), s"COALESCE(${a.d}, ${b.d})") },
        () => { val c = boolE(d - 1); val a = dblE(d - 1); val b = dblE(d - 1)
          GE(when(c.e).then_(a.e).otherwise(b.e),
            s"(CASE WHEN ${c.d} THEN ${a.d} ELSE ${b.d} END)") }))()

    def boolE(d: Int): GE =
      if (d <= 0) boolLeaf()
      else pick(IndexedSeq[() => GE](
        () => { val a = longE(d - 1); val b = longE(d - 1)
          GE(a.e < b.e, s"(${a.d} < ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(a.e >= b.e, s"(${a.d} >= ${b.d})") },
        () => { val a = longE(d - 1); val b = longE(d - 1)
          GE(a.e === b.e, s"(${a.d} = ${b.d})") },
        () => { val a = strE(d - 1); val b = strE(d - 1)
          GE(a.e =!= b.e, s"(${a.d} != ${b.d})") },
        () => { val a = strE(d - 1); val b = strE(d - 1)
          GE(a.e < b.e, s"(${a.d} < ${b.d})") }, // binary collation both
        () => { val a = boolE(d - 1); val b = boolE(d - 1)
          GE(a.e && b.e, s"(${a.d} AND ${b.d})") },
        () => { val a = boolE(d - 1); val b = boolE(d - 1)
          GE(a.e || b.e, s"(${a.d} OR ${b.d})") },
        () => { val a = boolE(d - 1); val b = boolE(d - 1)
          GE(a.e ^ b.e, s"(${a.d} != ${b.d})") },
        () => { val a = boolE(d - 1); GE(!a.e, s"(NOT ${a.d})") },
        () => { val a = pick(IndexedSeq[() => GE](() => longE(d - 1),
          () => dblE(d - 1), () => strE(d - 1)))()
          GE(a.e.isNull, s"(${a.d} IS NULL)") },
        () => { val a = longE(d - 1)
          GE(a.e.isIn(lit(1L), lit(3L), lit(8L)),
            s"((${a.d} = CAST(1 AS BIGINT)) OR (${a.d} = CAST(3 AS BIGINT))" +
              s" OR (${a.d} = CAST(8 AS BIGINT)))") },
        () => { val a = strE(d - 1)
          GE(a.e.str.startsWith("A"), s"starts_with(${a.d}, 'A')") },
        () => { val a = strE(d - 1)
          GE(a.e.str.contains("an", allowRegex = false),
            s"contains(${a.d}, 'an')") }))()

    def strE(d: Int): GE =
      if (d <= 0) strLeaf()
      else pick(IndexedSeq[() => GE](
        () => { val a = strE(d - 1); GE(a.e.str.upper, s"UPPER(${a.d})") },
        () => { val a = strE(d - 1); GE(a.e.str.lower, s"LOWER(${a.d})") },
        () => { val a = strE(d - 1); GE(a.e.str.strip, s"TRIM(${a.d})") },
        () => { val a = strE(d - 1); val b = strE(d - 1)
          GE(a.e + b.e, s"(${a.d} || ${b.d})") },
        () => { val a = strE(d - 1)
          GE(a.e.str.replaceAll("AN", "_"), s"REPLACE(${a.d}, 'AN', '_')") },
        () => { val a = strE(d - 1); val o = rnd.nextInt(4); val n = rnd.nextInt(6)
          GE(a.e.str.slice(lit(o), lit(n)),
            s"SUBSTRING(${a.d}, ${o + 1}, $n)") },
        () => { val a = strE(d - 1); val b = strE(d - 1)
          GE(a.e.fillNull(b.e), s"COALESCE(${a.d}, ${b.d})") },
        () => { val c = boolE(d - 1); val a = strE(d - 1); val b = strE(d - 1)
          GE(when(c.e).then_(a.e).otherwise(b.e),
            s"(CASE WHEN ${c.d} THEN ${a.d} ELSE ${b.d} END)") }))()
  }

  /** Canonicalize IEEE signed zero at the battery boundary: `x + 0.0`
    * is the identity for every finite/NaN double EXCEPT `-0.0`, which it
    * folds to `+0.0` — on both engines. Needed because the engines
    * legitimately disagree on zero-sign PRODUCTION (Spark preserves the
    * sign through UnaryMinus and picks GREATEST/LEAST/MIN/MAX by total
    * order where -0.0 < 0.0; DuckDB folds some constant paths and keeps
    * first-of-equals), while agreeing on every zero-sign CONSUMPTION
    * the battery can express (comparisons, x/±0.0 → NULL, arithmetic).
    * So the sign can only surface at the output cell — where the
    * driver's hash is bit-strict. Seed 20260824 drew exactly this
    * hazard (f053 = -ABS(-0.0), f217); the wrap keeps the catch while
    * fixing the domain, without disturbing the draw sequence. */
  private def canonZero(g: GE): GE =
    GE(g.e + lit(0.0), s"(${g.d} + CAST(0.0 AS DOUBLE))")

  /** The deterministic battery: (column name, paired tree). */
  lazy val battery: Seq[(String, GE)] = {
    val g = new Gen(new scala.util.Random(Seed))
    (0 until N).map { i =>
      val ge = (i % 4) match {
        case 0 => g.longE(Depth)
        case 1 => canonZero(g.dblE(Depth))
        case 2 => g.boolE(Depth)
        case 3 => g.strE(Depth)
      }
      (f"f$i%03d", ge)
    }
  }

  /** One projection over `nation` carrying all N fuzzed columns. */
  def query(s: SparkSession, dir: String): DataFrame = {
    val defs = battery.map { case (n, ge) => n -> (ge.e: ColExpr) }
    Table.source(s, dir, "nation")
      .mutate(defs: _*)
      .select(C("n_nationkey") +: battery.map(b => C(b._1): ColExpr): _*)
      .arrange(C("n_nationkey"))
      .toDF
  }

  def oracle: String = {
    val cols = battery.map { case (n, ge) => s"${ge.d} AS $n" }
    s"SELECT n_nationkey,\n${cols.mkString(",\n")}\nFROM nation ORDER BY n_nationkey"
  }

  // -------------------------------------------------------------------
  // Window fuzz battery (q34): the window assembly is where engines
  // diverge most — default null ordering (Spark: NULLS FIRST on ASC;
  // DuckDB: NULLS LAST), frame defaults, rank typing — so every
  // generated window pairs the DSL markers with SQL that spells the
  // ordering out explicitly (ASC/DESC + NULLS FIRST/LAST), exactly what
  // the graft compiler promises (`Ord.of` defaults to NULLS LAST, the
  // reference's semantics, NOT Spark's). Orderings always end with the
  // unique c_custkey tiebreak so ROWS frames, LAG/LEAD and row_number
  // are total-order deterministic; double sums go through DECIMAL.
  // -------------------------------------------------------------------

  val WinN = 48
  val WinSeed = 20270202L

  /** (DSL order markers, SQL ORDER BY text — explicit NULLS). */
  private type OrdPair = (Seq[ColExpr], String)

  private final class WinGen(rnd: scala.util.Random) {
    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))
    private val D18 = DecimalType(18, 4)

    private val parts: IndexedSeq[(Seq[ColExpr], String)] = IndexedSeq(
      (Seq(C("c_nationkey")), "PARTITION BY c_nationkey"),
      (Seq(C("c_mktsegment")), "PARTITION BY c_mktsegment"),
      (Seq(C("c_nationkey"), C("key7")), "PARTITION BY c_nationkey, key7"),
      (Seq(C("key7")), "PARTITION BY key7"))

    private val orders: IndexedSeq[OrdPair] = IndexedSeq(
      (Seq(C("bal_n").asc.nullsFirst, C("c_custkey")),
        "ORDER BY bal_n ASC NULLS FIRST, c_custkey ASC NULLS LAST"),
      (Seq(C("bal_n").asc.nullsLast, C("c_custkey")),
        "ORDER BY bal_n ASC NULLS LAST, c_custkey ASC NULLS LAST"),
      (Seq(C("bal_n").desc.nullsFirst, C("c_custkey")),
        "ORDER BY bal_n DESC NULLS FIRST, c_custkey ASC NULLS LAST"),
      (Seq(C("bal_n").desc.nullsLast, C("c_custkey")),
        "ORDER BY bal_n DESC NULLS LAST, c_custkey ASC NULLS LAST"),
      (Seq(C("c_name").desc, C("c_custkey")),
        "ORDER BY c_name DESC NULLS LAST, c_custkey ASC NULLS LAST"),
      (Seq(C("c_acctbal").asc, C("c_custkey")),
        "ORDER BY c_acctbal ASC NULLS LAST, c_custkey ASC NULLS LAST"))

    private def over(p: (Seq[ColExpr], String), o: OrdPair, frame: String = ""): String =
      s"OVER (${p._2} ${o._2}$frame)"
    private val rowsFrame = " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

    // every DISTINCT (partition, order) spec costs its own sequential
    // exchange+sort in the plan, so specs are drawn from a fixed pool
    // that still covers every ordering (all four NULLS x ASC/DESC
    // marker combos) and every partition shape at least once — spec
    // COVERAGE stays complete while the window chain stays short
    private val specPool: IndexedSeq[((Seq[ColExpr], String), OrdPair)] =
      orders.zipWithIndex.map { case (o, i) => (parts(i % parts.length), o) }
    // partition-only aggregates reuse two partition shapes (each
    // distinct partitioning is another exchange)
    private val aggParts = IndexedSeq(parts(0), parts(2))

    def next(): GE = {
      val (p, o) = pick(specPool)
      val ap = pick(aggParts)
      pick(IndexedSeq[() => GE](
        () => GE(rowNumber(arrange = o._1, partitionBy = p._1),
          s"CAST(ROW_NUMBER() ${over(p, o)} AS BIGINT)"),
        () => GE(rank(arrange = o._1, partitionBy = p._1),
          s"CAST(RANK() ${over(p, o)} AS BIGINT)"),
        () => GE(denseRank(arrange = o._1, partitionBy = p._1),
          s"CAST(DENSE_RANK() ${over(p, o)} AS BIGINT)"),
        () => { val n = 1 + rnd.nextInt(3)
          GE(C("c_acctbal").shift(n, partitionBy = p._1, arrange = o._1),
            s"LAG(c_acctbal, $n) ${over(p, o)}") },
        () => { val n = 1 + rnd.nextInt(2)
          GE(C("bal_n").shift(-n, partitionBy = p._1, arrange = o._1),
            s"LEAD(bal_n, $n) ${over(p, o)}") },
        () => GE(C("c_acctbal").cast(D18)
            .cumSum(partitionBy = p._1, arrange = o._1).cast(DoubleType),
          s"CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) ${over(p, o, rowsFrame)} AS DOUBLE)"),
        () => GE(C("c_acctbal").cast(D18).sum(partitionBy = ap._1).cast(DoubleType),
          s"CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) OVER (${ap._2}) AS DOUBLE)"),
        () => GE(C("bal_n").min(partitionBy = ap._1),
          s"MIN(bal_n) OVER (${ap._2})"),
        () => GE(C("bal_n").max(partitionBy = ap._1),
          s"MAX(bal_n) OVER (${ap._2})"),
        () => GE(count(partitionBy = ap._1),
          s"COUNT(*) OVER (${ap._2})")))()
    }
  }

  lazy val windowBattery: Seq[(String, GE)] = {
    val g = new WinGen(new scala.util.Random(WinSeed))
    (0 until WinN).map(i => (f"wf$i%02d", g.next()))
  }

  /** One projection over `customer` carrying all fuzzed window columns;
    * `bal_n` (nulled every 7th row) exercises NULLS FIRST/LAST, `key7`
    * gives a partition key independent of the ordering columns. */
  def windowQuery(s: SparkSession, dir: String): DataFrame = {
    val defs = windowBattery.map { case (n, ge) => n -> (ge.e: ColExpr) }
    Table.source(s, dir, "customer")
      .mutate(
        "bal_n" -> when(C("c_custkey") % lit(7L) === lit(0L)).then_(lit(null))
          .otherwise(C("c_acctbal")),
        "key7" -> C("c_custkey") % lit(7L))
      .mutate(defs: _*)
      .select(C("c_custkey") +: windowBattery.map(b => C(b._1): ColExpr): _*)
      .arrange(C("c_custkey"))
      .toDF
  }

  def windowOracle: String = {
    val cols = windowBattery.map { case (n, ge) => s"${ge.d} AS $n" }
    s"""WITH c AS (SELECT *,
       |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal_n,
       |  c_custkey % 7 AS key7 FROM customer)
       |SELECT c_custkey,
       |${cols.mkString(",\n")}
       |FROM c ORDER BY c_custkey""".stripMargin
  }

  // -------------------------------------------------------------------
  // Grouped-aggregation fuzz battery (q35): summarize semantics under a
  // NULLABLE group key (both engines group all-null keys together — the
  // reference's semantics, unlike e.g. pandas dropping them), random
  // `filter=` kwargs on every aggregate family, aggregation over a
  // nullable operand (sum/min/max/mean ignore nulls; count(*) does
  // not), BOOL_OR/AND, COUNT(DISTINCT) and DECIMAL-exact double sums.
  // -------------------------------------------------------------------

  val AggN = 40
  val AggSeed = 20270203L

  private final class AggGen(rnd: scala.util.Random) {
    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))
    private val D18 = DecimalType(18, 4)

    /** (DSL filter or null, SQL FILTER suffix). */
    private val filters: IndexedSeq[(ColExpr, String)] = IndexedSeq(
      (null, ""),
      (C("c_acctbal") > lit(3000.0), " FILTER (WHERE c_acctbal > 3000.0)"),
      (C("c_custkey") % lit(3L) === lit(0L), " FILTER (WHERE c_custkey % 3 = 0)"),
      (C("bal_n").isNull, " FILTER (WHERE bal_n IS NULL)"),
      (C("c_name").str.contains("1"), " FILTER (WHERE contains(c_name, '1'))"))

    def next(): GE = {
      val (f, fd) = pick(filters)
      pick(IndexedSeq[() => GE](
        () => GE(C("c_acctbal").cast(D18).sum(filter = f).cast(DoubleType),
          s"CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)))$fd AS DOUBLE)"),
        () => GE(C("bal_n").cast(D18).sum(filter = f).cast(DoubleType),
          s"CAST(SUM(CAST(bal_n AS DECIMAL(18,4)))$fd AS DOUBLE)"),
        () => GE(count(filter = f), s"COUNT(*)$fd"),
        () => GE(C("bal_n").min(filter = f), s"MIN(bal_n)$fd"),
        () => GE(C("bal_n").max(filter = f), s"MAX(bal_n)$fd"),
        () => GE(C("c_name").min(filter = f), s"MIN(c_name)$fd"),
        () => GE(C("c_name").max(filter = f), s"MAX(c_name)$fd"),
        // integer means: the double sum of integer-valued doubles is
        // order-independent (exact in IEEE), so AVG is hash-stable
        () => GE(C("c_custkey").mean(filter = f),
          s"AVG(CAST(c_custkey AS DOUBLE))$fd"),
        () => GE((C("c_acctbal") > lit(1000.0)).any(filter = f),
          s"BOOL_OR(c_acctbal > 1000.0)$fd"),
        () => GE((C("c_acctbal") > lit(-1000.0)).all(filter = f),
          s"BOOL_AND(c_acctbal > -1000.0)$fd"),
        () => GE(C("key7").nUnique(), "COUNT(DISTINCT key7)"),
        () => GE(C("c_mktsegment").nUnique(), "COUNT(DISTINCT c_mktsegment)")))()
    }
  }

  lazy val aggBattery: Seq[(String, GE)] = {
    val g = new AggGen(new scala.util.Random(AggSeed))
    (0 until AggN).map(i => (f"af$i%02d", g.next()))
  }

  /** One summarize over customer grouped by (c_nationkey, seg_n) — the
    * second key NULL on every 5th row, so null-key grouping is under
    * the hash; `bal_n` (null every 7th row) is the nullable operand. */
  def aggQuery(s: SparkSession, dir: String): DataFrame = {
    val defs = aggBattery.map { case (n, ge) => n -> (ge.e: ColExpr) }
    Table.source(s, dir, "customer")
      .mutate(
        "seg_n" -> when(C("c_custkey") % lit(5L) === lit(0L)).then_(lit(null))
          .otherwise(C("c_mktsegment")),
        "bal_n" -> when(C("c_custkey") % lit(7L) === lit(0L)).then_(lit(null))
          .otherwise(C("c_acctbal")),
        "key7" -> C("c_custkey") % lit(7L))
      .groupBy(C("c_nationkey"), C("seg_n"))
      .summarize(defs: _*)
      .arrange(C("c_nationkey"), C("seg_n"))
      .toDF
  }

  def aggOracle: String = {
    val cols = aggBattery.map { case (n, ge) => s"${ge.d} AS $n" }
    s"""WITH c AS (SELECT *,
       |  CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS seg_n,
       |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal_n,
       |  c_custkey % 7 AS key7 FROM customer)
       |SELECT c_nationkey, seg_n,
       |${cols.mkString(",\n")}
       |FROM c GROUP BY c_nationkey, seg_n
       |ORDER BY c_nationkey, seg_n NULLS LAST""".stripMargin
  }

  // -------------------------------------------------------------------
  // Quantile/median fuzz battery (q44): exact-percentile interpolation
  // is a classic cross-engine divergence spot (position formula,
  // interpolation arithmetic, NULL skipping, tiny groups). graft
  // compiles median/quantile to Spark's EXACT percentile aggregate;
  // DuckDB's MEDIAN/QUANTILE_CONT replays it. Draws sweep random p in
  // [0.05, 0.95] (2dp), nullable and integer-valued operands, FILTER
  // kwargs (including filters that drain a group empty → NULL both
  // sides), over a modulo grouping whose group sizes shrink to a
  // handful of rows at sf0.001. Both sides round(6) — the q23/q24
  // transcendental precedent — because the engines' interpolation
  // `lo + (pos-floor(pos))*(hi-lo)` can differ by 1 ulp.
  // -------------------------------------------------------------------

  val QtN = 24
  val QtSeed = 20270204L

  private final class QtGen(rnd: scala.util.Random) {
    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

    private val filters: IndexedSeq[(ColExpr, String)] = IndexedSeq(
      (null, ""),
      (C("o_totalprice") > lit(150000.0), " FILTER (WHERE o_totalprice > 150000.0)"),
      (C("o_orderkey") % lit(2L) === lit(0L), " FILTER (WHERE o_orderkey % 2 = 0)"),
      // drains most groups empty: empty-group quantile must be NULL
      (C("o_orderpriority") === lit("1-URGENT"),
        " FILTER (WHERE o_orderpriority = '1-URGENT')"))

    /** (DSL operand, SQL operand) — doubles, nullable doubles, ints. */
    private val operands: IndexedSeq[(ColExpr, String)] = IndexedSeq(
      (C("o_totalprice"), "o_totalprice"),
      (C("price_n"), "price_n"),
      (C("o_custkey").cast(DoubleType), "CAST(o_custkey AS DOUBLE)"))

    def next(): GE = {
      val (f, fd) = pick(filters)
      val (c, cd) = pick(operands)
      rnd.nextInt(3) match {
        case 0 =>
          GE(c.median(filter = f).round(6),
            s"ROUND(CAST(MEDIAN($cd)$fd AS DOUBLE), 6)")
        case _ =>
          val p = (5 + rnd.nextInt(91)) / 100.0 // 0.05..0.95, 2dp
          GE(c.quantile(p, filter = f).round(6),
            s"ROUND(CAST(QUANTILE_CONT($cd, $p)$fd AS DOUBLE), 6)")
      }
    }
  }

  lazy val qtBattery: Seq[(String, GE)] = {
    val g = new QtGen(new scala.util.Random(QtSeed))
    (0 until QtN).map(i => (f"qt$i%02d", g.next()))
  }

  /** One summarize over orders grouped by a 23-way modulo key — ~65
    * rows per group at sf0.01, ~7 at sf0.001, so interpolation lands
    * between neighbors at every p; `price_n` (null every 6th row) puts
    * NULL skipping under the hash. */
  def quantileQuery(s: SparkSession, dir: String): DataFrame = {
    val defs = qtBattery.map { case (n, ge) => n -> (ge.e: ColExpr) }
    Table.source(s, dir, "orders")
      .mutate(
        "g" -> C("o_orderkey") % lit(23L),
        "price_n" -> when(C("o_orderkey") % lit(6L) === lit(0L))
          .then_(lit(null)).otherwise(C("o_totalprice")))
      .groupBy(C("g"))
      .summarize(defs: _*)
      .arrange(C("g"))
      .toDF
  }

  def quantileOracle: String = {
    val cols = qtBattery.map { case (n, ge) => s"${ge.d} AS $n" }
    s"""WITH o AS (SELECT *, o_orderkey % 23 AS g,
       |  CASE WHEN o_orderkey % 6 = 0 THEN NULL ELSE o_totalprice END
       |    AS price_n FROM orders)
       |SELECT g,
       |${cols.mkString(",\n")}
       |FROM o GROUP BY g ORDER BY g""".stripMargin
  }

  // -------------------------------------------------------------------
  // Join fuzz battery (q36): every join type × a spread of on-conditions
  // (plain equi, equi + left-side / right-side / both-side residuals,
  // arithmetic keys, many-to-many modulo keys), each join's FULL result
  // compressed into portable aggregates — row multiplicity, key sums
  // with COALESCE(-1) so unmatched-side nulls are pinned, and per-side
  // null counts. Any divergence in outer-join null rows, residual
  // placement (ON vs WHERE matters for outer joins!) or duplicate
  // multiplicity moves a sum or a count and breaks the hash.
  // -------------------------------------------------------------------

  /** Condition catalog: (tag, DSL builder against a right-table
    * instance, SQL). The builder takes the instance because column
    * identity is by uuid — a condition built on one `nation` Table
    * would not resolve against another. */
  private val joinConds: Seq[(String, graft.table.Table => ColExpr, String)] = Seq(
    ("eq", n => C("c_nationkey") === n.col("n_nationkey"),
      "c_nationkey = n_nationkey"),
    ("eq_lres", n => C("c_nationkey") === n.col("n_nationkey") &&
      C("c_acctbal") > lit(5000.0),
      "c_nationkey = n_nationkey AND c_acctbal > 5000.0"),
    ("eq_rres", n => C("c_nationkey") === n.col("n_nationkey") &&
      n.col("n_regionkey") === lit(2L),
      "c_nationkey = n_nationkey AND n_regionkey = 2"),
    ("arith", n => C("c_nationkey") + lit(1L) === n.col("n_nationkey"),
      "c_nationkey + 1 = n_nationkey"),
    ("m2m", n => C("c_custkey") % lit(25L) === n.col("n_nationkey"),
      "c_custkey % 25 = n_nationkey"),
    ("eq_2res", n => C("c_nationkey") === n.col("n_nationkey") &&
      C("c_custkey") % lit(2L) === lit(0L) &&
      n.col("n_name").str.contains("A"),
      "c_nationkey = n_nationkey AND c_custkey % 2 = 0 AND contains(n_name, 'A')"),
    // NULL left key on every 9th row: never matches (inner/left emit the
    // row unmatched or not at all; full join surfaces it as left-only) —
    // the classic outer-join null-key divergence spot
    ("eq_nullkey", n => when(C("c_custkey") % lit(9L) === lit(0L))
      .then_(lit(null)).otherwise(C("c_nationkey")) === n.col("n_nationkey"),
      "(CASE WHEN c_custkey % 9 = 0 THEN NULL ELSE c_nationkey END) = n_nationkey"),
    // NULL-vs-NULL: both sides nullable — `=` is never true on NULLs in
    // either engine, so null-keyed rows pair with nothing even when both
    // sides hold NULL
    ("null_both", n => when(C("c_custkey") % lit(4L) === lit(0L))
      .then_(lit(null)).otherwise(C("c_nationkey")) ===
      when(n.col("n_regionkey") === lit(2L)).then_(lit(null))
        .otherwise(n.col("n_nationkey")),
      "(CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_nationkey END) = " +
        "(CASE WHEN n_regionkey = 2 THEN NULL ELSE n_nationkey END)"))
  private val joinHows = Seq("inner", "left", "full")

  /** The cached session clone the many-subplan batteries
    * (q36/q37/q46/x84 and the x84 census) run in. Their cost profile is
    * the OPPOSITE of a production query: dozens of unique tiny subplans
    * that each run exactly once. Three measured choices:
    *
    *  - whole-stage codegen off ([[graft.SparkEntry.fixtureConf]]):
    *    every subplan's generated source is unique and runs once, so a
    *    stage can pay ~0.25 s of Janino compilation to scan 15k rows
    *    (q36 warm taskTime 10.8 → 3.7 s, Explain -j census, sf0.1).
    *  - AQE coalescing floor 1 MB → 64k/256k: these shuffles carry well
    *    under a megabyte, so the default floor coalesced every
    *    post-shuffle stage to ONE task and serialized each pipeline's
    *    sort/window chain — q37 cold 8.5 → 3.5 s; finer than this loses
    *    (per-task fixed costs dominate).
    *  - expressions interpreted when the battery's largest source is
    *    under [[InterpretBelowBytes]] ([[fixtureConfFor]]): with
    *    whole-stage off Spark still compiles one class per expression,
    *    and one x84 run needs ~140 distinct ones against a JVM-wide
    *    class cache of 100, so every warm run recompiled ~135 classes
    *    (q37 ~143, q36 73, q46 68) and evicted other rows' classes.
    *    Interpreted evaluation skips the compile but costs more per row,
    *    so it pays only on small inputs. Warm samples 2–4 after a cold
    *    run, 4 cores, compiled → interpreted:
    *
    *    | battery (largest source)           | sf0.01        | sf0.1         |
    *    |------------------------------------|---------------|---------------|
    *    | x84 (events 184–221 KB / 2.0 MB)   | 5.0 → 3.5 s   | 5.95 → 7.92 s |
    *    | q46 (events)                       | 2.7 → 1.8 s   | 3.15 → 5.04 s |
    *    | q37 (customer 26–34 KB / 316 KB)   | 3.5 → 2.5 s   | 4.62 → 3.16 s |
    *    | q36 (customer)                     | 2.9 → 2.3 s   | 3.04 → 2.89 s |
    *
    *    Any cut between 316 KB and 2.0 MB picks the faster mode at every
    *    measured point; a blanket switch would make x84 and q46 30–60%
    *    slower at sf0.1. Rejected: whole-stage codegen on in the clone
    *    (191 compiles per x84 run); primitive literals as referenced
    *    parameters (still 110–119 compiles); a larger class cache
    *    (`spark.sql.codegen.cache.maxEntries` is a static conf, so it
    *    belongs to the session builder, not to a clone).
    *
    * Expression-codegen coverage is not lost: the scalar batteries
    * (q30/q34/q35/q40-q42) run codegen'd on the parent session; these
    * batteries check verb/join composition, which is plan-level, and
    * interpreted evaluation is the path Spark's own suite checks against
    * codegen. The clone keeps every tuning off every real query.
    * `tables` are the battery's sources under `dir`; their sizes come
    * from file-system metadata ([[Table.sourceBytes]]), no Spark job. */
  private def fixtureSession(s: SparkSession, dir: String,
      tables: String*): SparkSession = {
    // a source that is not one plain file keeps the compiled path
    val largest = tables.map(Table.sourceBytes(s, dir, _).getOrElse(Long.MaxValue)).max
    graft.SparkEntry.clonedSession(s, fixtureConfFor(largest))
  }

  /** Below this many bytes of largest source a battery evaluates
    * interpreted (see `fixtureSession`). */
  private val InterpretBelowBytes = 1L << 20

  /** The fixture clone's override set for a battery whose largest
    * source holds `bytes`. */
  private[graft] def fixtureConfFor(bytes: Long): Map[String, String] =
    if (bytes < InterpretBelowBytes) graft.SparkEntry.fixtureInterpretedConf
    else graft.SparkEntry.fixtureConf

  /** 24 joins (3 types × 8 conditions), each reduced to one row of
    * portable aggregates, unioned. */
  def joinQuery(s0: SparkSession, dir: String): DataFrame = {
    val s = fixtureSession(s0, dir, "customer", "nation")
    val parts = for {
      how <- joinHows
      (ctag, mkCond, _) <- joinConds
    } yield {
        val tag = s"${how}_$ctag"
        val c = Table.source(s, dir, "customer")
        val n = Table.source(s, dir, "nation")
        val cond = mkCond(n)
        val j = how match {
          case "inner" => c.innerJoin(n, cond)
          case "left" => c.leftJoin(n, cond)
          case "full" => c.fullJoin(n, cond)
        }
        j.summarize(
            "n_rows" -> count(),
            "lk_sum" -> C("c_custkey").fillNull(lit(-1L)).sum(),
            "rk_sum" -> C("n_nationkey").fillNull(lit(-1L)).sum(),
            "l_nulls" -> count(filter = C("c_custkey").isNull),
            "r_nulls" -> count(filter = C("n_nationkey").isNull))
          .mutate("tag" -> lit(tag))
          .select(C("tag"), C("n_rows"), C("lk_sum"), C("rk_sum"),
            C("l_nulls"), C("r_nulls"))
    }
    parts.reduce(_ union _).arrange(C("tag")).toDF
  }

  def joinOracle: String = {
    val parts = for {
      how <- joinHows
      (ctag, _, cd) <- joinConds
    } yield {
      val tag = s"${how}_$ctag"
      val jt = how match {
        case "inner" => "JOIN"; case "left" => "LEFT JOIN"; case "full" => "FULL JOIN"
      }
      s"""SELECT '$tag' AS tag, COUNT(*) AS n_rows,
         |  CAST(SUM(COALESCE(c_custkey, -1)) AS BIGINT) AS lk_sum,
         |  CAST(SUM(COALESCE(n_nationkey, -1)) AS BIGINT) AS rk_sum,
         |  COUNT(*) FILTER (WHERE c_custkey IS NULL) AS l_nulls,
         |  COUNT(*) FILTER (WHERE n_nationkey IS NULL) AS r_nulls
         |FROM customer $jt nation ON $cd""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n", "\nORDER BY tag")
  }

  // -------------------------------------------------------------------
  // Verb-pipeline fuzz battery (q37): random CHAINS of
  // filter/mutate/arrange+slice/union/join/window/summarize, each pipeline
  // generated as a paired (DSL fold, DuckDB-SQL fold) and reduced to a
  // fixed row of portable aggregates, all pipelines unioned into one
  // oracled query. This is the cross-engine complement of
  // PipelineFuzzSpec (which proves SQL-text ≡ DataFrame WITHIN graft):
  // here verb COMPOSITION itself — slice-after-union multiplicity,
  // outer-join null rows flowing through later mutates and group keys,
  // filter Kleene semantics mid-chain — is checked against DuckDB,
  // which none of the single-surface batteries (q30/q34/q35/q36) do.
  //
  // Domain discipline: integer modulo only sees ABS'd dividends; the
  // only double column is base c_acctbal (never an arithmetic result),
  // summed through DECIMAL(18,4) at the reduction; string order/
  // equality stays within ASCII TPC-H values (binary collation in both
  // engines); every slice follows an explicit ORDER BY over ALL columns
  // (ASC NULLS LAST on both sides) so the sliced multiset is
  // deterministic — union-duplicated rows are identical in every
  // column, so ties cannot move the boundary.
  // -------------------------------------------------------------------

  val PipeN = 16
  val PipeSeed = 20270205L

  private sealed trait PStep
  private final case class PFilter(cond: ColExpr, sql: String) extends PStep
  private final case class PMutate(name: String, e: ColExpr, sql: String) extends PStep
  private final case class PSlice(n: Int, off: Int, orderCols: Seq[String]) extends PStep
  private final case class PUnion(cond: ColExpr, sql: String, distinct: Boolean) extends PStep
  private final case class PJoin(leftKey: String, how: String) extends PStep
  private final case class PSummarize(key: String, aggCol: String) extends PStep
  private final case class PWindow(name: String, key: String,
      orderCols: Seq[String]) extends PStep

  /** One pipeline: the step list plus the FINAL column census the
    * reduction aggregates over (maintained by the generator in lockstep
    * with both folds). */
  private final case class Pipeline(tag: String, steps: Seq[PStep],
      longs: Seq[String], dbls: Seq[String], strs: Seq[String])

  private final class PipeGen(rnd: scala.util.Random) {
    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

    private var longs = Vector("c_custkey", "c_nationkey")
    private var dbls = Vector("c_acctbal")
    private var strs = Vector("c_mktsegment", "c_name")
    private var joined = false
    private var summarized = false

    private def allCols: Seq[String] = longs ++ dbls ++ strs

    /** A paired boolean condition over the CURRENT columns. */
    private def cond(depth: Int): (ColExpr, String) = {
      def leaf(): (ColExpr, String) = {
        val arms = IndexedSeq.newBuilder[() => (ColExpr, String)]
        arms += (() => {
          val l = pick(longs); val k = 2 + rnd.nextInt(5); val r = rnd.nextInt(k)
          (C(l).abs % lit(k.toLong) === lit(r.toLong), s"(ABS($l) % $k = $r)")
        })
        if (dbls.nonEmpty) arms += (() => {
          val d = pick(dbls); val v = pick(IndexedSeq(0.0, 2500.5, 7000.25))
          (C(d) > lit(v), s"($d > $v)")
        })
        if (strs.nonEmpty) arms += (() => {
          val sc = pick(strs); val sub = pick(IndexedSeq("1", "a", "A", "0"))
          (C(sc).str.contains(sub, allowRegex = false), s"contains($sc, '$sub')")
        })
        pick(arms.result())()
      }
      if (depth <= 0) leaf()
      else rnd.nextInt(4) match {
        case 0 => val (a, as) = cond(depth - 1); val (b, bs) = cond(depth - 1)
          (a && b, s"($as AND $bs)")
        case 1 => val (a, as) = cond(depth - 1); val (b, bs) = cond(depth - 1)
          (a || b, s"($as OR $bs)")
        case 2 => val (a, as) = cond(depth - 1); (!a, s"(NOT $as)")
        case _ => leaf()
      }
    }

    /** A paired BIGINT-valued expression over the current long columns. */
    private def longExpr(): (ColExpr, String) = {
      val a = pick(longs); val b = pick(longs)
      rnd.nextInt(5) match {
        case 0 => (C(a) + C(b), s"($a + $b)")
        case 1 => (C(a) - C(b), s"($a - $b)")
        case 2 => val k = 2 + rnd.nextInt(9)
          (C(a).abs % lit(k.toLong), s"(ABS($a) % $k)")
        case 3 => val k = 2 + rnd.nextInt(2)
          (C(a) * lit(k.toLong), s"($a * $k)")
        case _ => val (c, cs) = cond(1)
          (when(c).then_(C(a)).otherwise(C(b)),
            s"(CASE WHEN $cs THEN $a ELSE $b END)")
      }
    }

    def next(tag: String): Pipeline = {
      longs = Vector("c_custkey", "c_nationkey")
      dbls = Vector("c_acctbal")
      strs = Vector("c_mktsegment", "c_name")
      joined = false; summarized = false
      val nSteps = 2 + rnd.nextInt(3)
      val steps = (0 until nSteps).map { i =>
        val arms = IndexedSeq.newBuilder[() => PStep]
        arms += (() => { val (c, cs) = cond(1); PFilter(c, cs) })
        arms += (() => { val (e, es) = longExpr()
          val n = s"m$i"; longs :+= n; PMutate(n, e, es) })
        arms += (() =>
          PSlice(200 + rnd.nextInt(800), rnd.nextInt(5), allCols))
        arms += (() => { val (c, cs) = cond(1)
          PUnion(c, cs, distinct = rnd.nextBoolean()) })
        // row_number over a total order (all columns): union-duplicated
        // rows are identical, so the assigned rank multiset is
        // deterministic even across ties
        arms += (() => { val key = pick(longs); val cols = allCols
          val n = s"w$i"; longs :+= n; PWindow(n, key, cols) })
        if (!joined && !summarized) arms += (() => {
          val lk = pick(longs)
          joined = true
          longs ++= Vector("n_nationkey", "n_regionkey"); strs :+= "n_name"
          PJoin(lk, pick(IndexedSeq("inner", "left", "full")))
        })
        if (!summarized) arms += (() => {
          val key = pick(longs); val agg = pick(longs)
          summarized = true
          longs = Vector(key, "n", "sl", "mx"); dbls = Vector(); strs = Vector()
          PSummarize(key, agg)
        })
        val a = arms.result()
        a(rnd.nextInt(a.length))()
      }
      Pipeline(tag, steps, longs, dbls, strs)
    }
  }

  private lazy val pipeBattery: Seq[Pipeline] = {
    val g = new PipeGen(new scala.util.Random(PipeSeed))
    (0 until PipeN).map(i => g.next(f"p$i%02d"))
  }

  /** DSL fold of one pipeline + its fixed-schema reduction. */
  private def pipeTable(s: SparkSession, dir: String, p: Pipeline): Table = {
    val base = Table.source(s, dir, "customer").select(
      C("c_custkey"), C("c_nationkey"), C("c_acctbal"),
      C("c_mktsegment"), C("c_name"))
    val t = p.steps.foldLeft(base) { (t, step) => step match {
      case PFilter(c, _) => t.filter(c)
      case PMutate(n, e, _) => t.mutate(n -> e)
      case PSlice(n, off, cols) =>
        t.arrange(cols.map(c => C(c).asc.nullsLast: ColExpr): _*)
          .sliceHead(n, offset = off)
      case PUnion(c, _, distinct) => t.union(t.filter(c), distinct = distinct)
      case PJoin(lk, how) =>
        val n = Table.source(s, dir, "nation")
          .select(C("n_nationkey"), C("n_regionkey"), C("n_name"))
        val on = C(lk).abs % lit(25L) === n.col("n_nationkey")
        how match {
          case "inner" => t.innerJoin(n, on)
          case "left" => t.leftJoin(n, on)
          case "full" => t.fullJoin(n, on)
        }
      case PSummarize(key, agg) =>
        t.groupBy(C(key)).summarize(
          "n" -> count(),
          "sl" -> C(agg).fillNull(lit(-1L)).sum(),
          "mx" -> C(agg).fillNull(lit(-1L)).max())
      case PWindow(name, key, cols) =>
        t.mutate(name -> rowNumber(
          arrange = cols.map(c => C(c).asc.nullsLast: ColExpr),
          partitionBy = Seq(C(key))))
    }}
    val D18 = DecimalType(18, 4)
    val lsum = p.longs.map(l => C(l).fillNull(lit(-1L)): ColExpr).reduce(_ + _)
    val aggs = Seq.newBuilder[(String, ColExpr)]
    aggs += ("n_rows" -> count())
    aggs += ("lsum" -> lsum.sum())
    if (p.dbls.nonEmpty)
      aggs += ("dsum" -> p.dbls.map(d => C(d).cast(D18): ColExpr)
        .reduce(_ + _).sum().cast(DoubleType))
    if (p.strs.nonEmpty) {
      val scat = p.strs.map(sc => C(sc).fillNull(lit("_")): ColExpr).reduce(_ + _)
      aggs += ("smin" -> scat.min())
      aggs += ("smax" -> scat.max())
    }
    var red = t.summarize(aggs.result(): _*).mutate("tag" -> lit(p.tag))
    if (p.dbls.isEmpty) red = red.mutate("dsum" -> lit(null).cast(DoubleType))
    if (p.strs.isEmpty) red = red.mutate(
      "smin" -> lit(null).cast(StringType), "smax" -> lit(null).cast(StringType))
    red.select(C("tag"), C("n_rows"), C("lsum"), C("dsum"), C("smin"), C("smax"))
  }

  /** SQL fold of one pipeline (DuckDB dialect) + the same reduction. */
  private def pipeSql(p: Pipeline): String = {
    var i = 0
    val body = p.steps.foldLeft(
      "SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment, c_name FROM customer") {
      (prev, step) =>
        i += 1
        step match {
          case PFilter(_, cs) => s"SELECT * FROM ($prev) t$i WHERE $cs"
          case PMutate(n, _, es) => s"SELECT *, $es AS $n FROM ($prev) t$i"
          case PSlice(n, off, cols) =>
            val ord = cols.map(c => s"$c ASC NULLS LAST").mkString(", ")
            s"SELECT * FROM ($prev) t$i ORDER BY $ord LIMIT $n OFFSET $off"
          case PUnion(_, cs, distinct) =>
            val u = if (distinct) "UNION" else "UNION ALL"
            s"SELECT * FROM ($prev) u$i $u SELECT * FROM ($prev) v$i WHERE $cs"
          case PJoin(lk, how) =>
            val jt = how match {
              case "inner" => "JOIN"; case "left" => "LEFT JOIN"
              case "full" => "FULL JOIN"
            }
            s"SELECT * FROM ($prev) a$i $jt (SELECT n_nationkey, n_regionkey, " +
              s"n_name FROM nation) b$i ON (ABS($lk) % 25) = n_nationkey"
          case PSummarize(key, agg) =>
            s"SELECT $key, COUNT(*) AS n, " +
              s"CAST(SUM(COALESCE($agg, -1)) AS BIGINT) AS sl, " +
              s"MAX(COALESCE($agg, -1)) AS mx FROM ($prev) t$i GROUP BY $key"
          case PWindow(name, key, cols) =>
            val ord = cols.map(c => s"$c ASC NULLS LAST").mkString(", ")
            s"SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY $key " +
              s"ORDER BY $ord) AS BIGINT) AS $name FROM ($prev) t$i"
        }
    }
    val lsum = p.longs.map(l => s"COALESCE($l, -1)").mkString("(", " + ", ")")
    val dsum =
      if (p.dbls.isEmpty) "CAST(NULL AS DOUBLE)"
      else "CAST(SUM(" + p.dbls.map(d => s"CAST($d AS DECIMAL(18,4))")
        .mkString("(", " + ", ")") + ") AS DOUBLE)"
    val (smin, smax) =
      if (p.strs.isEmpty) ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      else {
        val scat = p.strs.map(sc => s"COALESCE($sc, '_')").mkString("(", " || ", ")")
        (s"MIN($scat)", s"MAX($scat)")
      }
    s"""SELECT '${p.tag}' AS tag, COUNT(*) AS n_rows,
       |  CAST(SUM($lsum) AS BIGINT) AS lsum,
       |  $dsum AS dsum, $smin AS smin, $smax AS smax
       |FROM ($body) fin""".stripMargin
  }

  /** All pipelines unioned, one row each, ordered by tag. */
  def pipelineQuery(s0: SparkSession, dir: String): DataFrame = {
    val s = fixtureSession(s0, dir, "customer", "nation")
    pipeBattery.map(p => pipeTable(s, dir, p))
      .reduce(_ union _).arrange(C("tag")).toDF
  }

  def pipelineOracle: String =
    pipeBattery.map(pipeSql).mkString("", "\nUNION ALL\n", "\nORDER BY tag")

  // -------------------------------------------------------------------
  // Datetime/duration fuzz battery (q38): random timestamp-VALUED trees
  // (CASE / COALESCE over a nullable µs-precision column + literals) fed
  // into every datetime extractor and every duration extractor over
  // random timestamp differences. Calendar semantics are where engines
  // drift (ISO vs US day-of-week numbering, second() on subsecond
  // timestamps, ms/µs cumulative-vs-part extraction, trunc-toward-zero
  // on NEGATIVE durations — exercised here on purpose: ts pairs come in
  // both orders); the SQL side spells DuckDB's semantics with the
  // idioms the fixed queries (q15/q16/x17) proved — ISODOW,
  // millisecond()%1000, DATE_DIFF('microsecond')/TRUNC — so any
  // divergence in the graft compiler's mapping breaks the hash.
  // Session TZ is UTC on both engines and events.ts is TimestampNTZ.
  // -------------------------------------------------------------------

  val DtN = 36
  val DtSeed = 20270206L

  private final class DtGen(rnd: scala.util.Random) {
    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

    private val tsLits = IndexedSeq(
      "2024-03-01 00:00:00", "2024-06-15 12:34:56.789012",
      "2023-12-31 23:59:59.999999", "2024-01-01 06:30:00")

    private def tsLeaf(): GE = pick(IndexedSeq(
      () => GE(C("ts"), "ts"),
      () => GE(C("ts_n"), "ts_n"),
      () => { val v = pick(tsLits)
        GE(timestamp(v), s"TIMESTAMP '$v'") }))()

    def boolE(d: Int): GE =
      if (d <= 0) GE(C("event_id") % lit(3L) === lit(0L), "(event_id % 3 = 0)")
      else pick(IndexedSeq[() => GE](
        () => { val a = tsE(d - 1); val b = tsE(d - 1)
          GE(a.e < b.e, s"(${a.d} < ${b.d})") },
        () => { val a = tsE(d - 1); val v = pick(tsLits)
          GE(a.e >= timestamp(v), s"(${a.d} >= TIMESTAMP '$v')") },
        () => { val k = 2 + rnd.nextInt(5); val r = rnd.nextInt(k)
          GE(C("event_id") % lit(k.toLong) === lit(r.toLong),
            s"(event_id % $k = $r)") },
        () => { val a = boolE(d - 1); val b = boolE(d - 1)
          GE(a.e && b.e, s"(${a.d} AND ${b.d})") },
        () => { val a = tsE(d - 1); GE(a.e.isNull, s"(${a.d} IS NULL)") }))()

    def tsE(d: Int): GE =
      if (d <= 0) tsLeaf()
      else pick(IndexedSeq[() => GE](
        () => tsLeaf(),
        () => { val c = boolE(d - 1); val a = tsE(d - 1); val b = tsE(d - 1)
          GE(when(c.e).then_(a.e).otherwise(b.e),
            s"(CASE WHEN ${c.d} THEN ${a.d} ELSE ${b.d} END)") },
        () => { val a = tsE(d - 1); val b = tsE(d - 1)
          GE(coalesce(a.e, b.e), s"COALESCE(${a.d}, ${b.d})") }))()

    /** One battery column: a datetime extractor over a random timestamp
      * tree, or a duration extractor over a random (possibly negative)
      * timestamp difference. */
    def next(): GE = {
      if (rnd.nextInt(8) < 5) {
        val a = tsE(2)
        pick(IndexedSeq[GE => GE](
          t => GE(t.e.dt.year, s"CAST(YEAR(${t.d}) AS BIGINT)"),
          t => GE(t.e.dt.month, s"CAST(MONTH(${t.d}) AS BIGINT)"),
          t => GE(t.e.dt.day, s"CAST(DAY(${t.d}) AS BIGINT)"),
          t => GE(t.e.dt.hour, s"CAST(HOUR(${t.d}) AS BIGINT)"),
          t => GE(t.e.dt.minute, s"CAST(MINUTE(${t.d}) AS BIGINT)"),
          t => GE(t.e.dt.second, s"CAST(SECOND(${t.d}) AS BIGINT)"),
          t => GE(t.e.dt.millisecond, s"CAST(MILLISECOND(${t.d}) % 1000 AS BIGINT)"),
          t => GE(t.e.dt.microsecond, s"CAST(MICROSECOND(${t.d}) % 1000000 AS BIGINT)"),
          t => GE(t.e.dt.dayOfWeek, s"CAST(ISODOW(${t.d}) AS BIGINT)"),
          t => GE(t.e.dt.dayOfYear, s"CAST(DAYOFYEAR(${t.d}) AS BIGINT)")))(a)
      } else {
        val a = tsE(1); val b = tsE(1)
        val diffD = s"CAST(DATE_DIFF('microsecond', ${b.d}, ${a.d}) AS DOUBLE)"
        val diffE = a.e - b.e
        def trunc(divUs: Long): String =
          s"CAST(TRUNC($diffD / $divUs) AS BIGINT)"
        pick(IndexedSeq[() => GE](
          () => GE(diffE, s"DATE_DIFF('microsecond', ${b.d}, ${a.d})"),
          () => GE(diffE.dur.days, trunc(86400000000L)),
          () => GE(diffE.dur.hours, trunc(3600000000L)),
          () => GE(diffE.dur.minutes, trunc(60000000L)),
          () => GE(diffE.dur.seconds, trunc(1000000L)),
          () => GE(diffE.dur.milliseconds, trunc(1000L)),
          () => GE(diffE.dur.microseconds,
            s"DATE_DIFF('microsecond', ${b.d}, ${a.d})")))()
      }
    }
  }

  lazy val dtBattery: Seq[(String, GE)] = {
    val g = new DtGen(new scala.util.Random(DtSeed))
    (0 until DtN).map(i => (f"df$i%02d", g.next()))
  }

  /** One projection over `events` carrying all fuzzed datetime columns;
    * `ts_n` (nulled every 7th row) drives NULL propagation through
    * extractors, CASE and COALESCE. */
  def dtQuery(s: SparkSession, dir: String): DataFrame = {
    val defs = dtBattery.map { case (n, ge) => n -> (ge.e: ColExpr) }
    Table.source(s, dir, "events")
      .mutate("ts_n" -> when(C("event_id") % lit(7L) === lit(0L))
        .then_(lit(null)).otherwise(C("ts")))
      .mutate(defs: _*)
      .select(C("event_id") +: dtBattery.map(b => C(b._1): ColExpr): _*)
      .arrange(C("event_id"))
      .toDF
  }

  def dtOracle: String = {
    val cols = dtBattery.map { case (n, ge) => s"${ge.d} AS $n" }
    s"""WITH e AS (SELECT *,
       |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE ts END AS ts_n FROM events)
       |SELECT event_id,
       |${cols.mkString(",\n")}
       |FROM e ORDER BY event_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Ordered-aggregation fuzz battery (q39): str.join under random
  // (value, delimiter, ordering-marker combo, filter=) draws — the
  // trickiest aggregate surface, where element ORDER inside the
  // aggregate (a sort the engine must thread through partial
  // aggregation), NULL placement of the ordering key, NULL skipping of
  // the aggregated value, and the filter= kwarg all interact. Every
  // ordering ends with the unique c_custkey tiebreak so the
  // concatenation is total-order deterministic; the oracle spells the
  // same ordering into STRING_AGG(... ORDER BY ... NULLS ...) with
  // FILTER (WHERE ...). A filter that empties a group must yield NULL
  // (the reference's empty-aggregate rule) in both engines.
  // -------------------------------------------------------------------

  val OaN = 20
  val OaSeed = 20270207L

  private final class OaGen(rnd: scala.util.Random) {
    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

    /** (DSL value expr, SQL) — seg_n is NULL every 5th row, so null
      * skipping of the aggregated VALUE is under the hash too. */
    private val values: IndexedSeq[(ColExpr, String)] = IndexedSeq(
      (C("c_name"), "c_name"),
      (C("c_custkey").cast(StringType), "CAST(c_custkey AS VARCHAR)"),
      (C("c_mktsegment"), "c_mktsegment"),
      (C("seg_n"), "seg_n"))

    private val delims = IndexedSeq(",", "|", "")

    /** (DSL markers, SQL ORDER BY body) — all four NULLS×direction
      * combos on the nullable bal_n, plus plain keys; every variant
      * ends with the unique tiebreak. */
    private val orders: IndexedSeq[(Seq[ColExpr], String)] = IndexedSeq(
      (Seq(C("bal_n").asc.nullsFirst, C("c_custkey")),
        "bal_n ASC NULLS FIRST, c_custkey ASC NULLS LAST"),
      (Seq(C("bal_n").asc.nullsLast, C("c_custkey")),
        "bal_n ASC NULLS LAST, c_custkey ASC NULLS LAST"),
      (Seq(C("bal_n").desc.nullsFirst, C("c_custkey")),
        "bal_n DESC NULLS FIRST, c_custkey ASC NULLS LAST"),
      (Seq(C("bal_n").desc.nullsLast, C("c_custkey")),
        "bal_n DESC NULLS LAST, c_custkey ASC NULLS LAST"),
      (Seq(C("c_name").desc, C("c_custkey")),
        "c_name DESC NULLS LAST, c_custkey ASC NULLS LAST"),
      (Seq(C("c_acctbal").asc, C("c_custkey")),
        "c_acctbal ASC NULLS LAST, c_custkey ASC NULLS LAST"),
      (Seq(C("c_custkey").desc, C("c_custkey")),
        "c_custkey DESC NULLS LAST, c_custkey ASC NULLS LAST"))

    private val filters: IndexedSeq[(ColExpr, String)] = IndexedSeq(
      (null, ""),
      (C("c_acctbal") > lit(3000.0), " FILTER (WHERE c_acctbal > 3000.0)"),
      (C("c_custkey") % lit(3L) === lit(0L),
        " FILTER (WHERE c_custkey % 3 = 0)"),
      // empties some groups entirely: the NULL-result rule under hash
      (C("c_acctbal") > lit(9990.0), " FILTER (WHERE c_acctbal > 9990.0)"))

    def next(): GE = {
      val (v, vd) = pick(values)
      val d = pick(delims)
      val (o, od) = pick(orders)
      val (f, fd) = pick(filters)
      GE(v.str.join(d, arrange = o, filter = f),
        s"STRING_AGG($vd, '$d' ORDER BY $od)$fd")
    }
  }

  lazy val oaBattery: Seq[(String, GE)] = {
    val g = new OaGen(new scala.util.Random(OaSeed))
    (0 until OaN).map(i => (f"oa$i%02d", g.next()))
  }

  /** One summarize over customer grouped by c_nationkey (25 groups). */
  def oaQuery(s: SparkSession, dir: String): DataFrame = {
    val defs = oaBattery.map { case (n, ge) => n -> (ge.e: ColExpr) }
    Table.source(s, dir, "customer")
      .mutate(
        "seg_n" -> when(C("c_custkey") % lit(5L) === lit(0L)).then_(lit(null))
          .otherwise(C("c_mktsegment")),
        "bal_n" -> when(C("c_custkey") % lit(7L) === lit(0L)).then_(lit(null))
          .otherwise(C("c_acctbal")))
      .groupBy(C("c_nationkey"))
      .summarize(defs: _*)
      .arrange(C("c_nationkey"))
      .toDF
  }

  def oaOracle: String = {
    val cols = oaBattery.map { case (n, ge) => s"${ge.d} AS $n" }
    s"""WITH c AS (SELECT *,
       |  CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS seg_n,
       |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal_n
       |  FROM customer)
       |SELECT c_nationkey,
       |${cols.mkString(",\n")}
       |FROM c GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
  }

  // -------------------------------------------------------------------
  // Special-double fuzz battery (q40): NaN / ±Infinity / NULL / ±0.0
  // woven through random arithmetic, comparisons, Kleene logic,
  // GREATEST/LEAST, COALESCE, partition aggregates and ordering. Both engines
  // deliberately depart from raw IEEE the SAME way (NaN = NaN is TRUE,
  // NaN sorts greater than everything) — this battery pins graft's
  // compilation to that shared convention. Raw NaN/Inf cells would be
  // weakly checked by the hash gate (NaN normalizes to NULL in the
  // compare), so every double-valued arm ENCODES specials to sentinel
  // finite doubles on both sides; boolean arms and rank positions carry
  // the semantics directly. Arithmetic stays un-rounded: IEEE +,*,/ are
  // bit-deterministic, and x/0 → NULL in both engines (non-ANSI Spark,
  // DuckDB default; inf/inf and 0*inf still produce NaN for the
  // encoder to catch). The nullable leaf also locks in the
  // null-PROPAGATING is_nan the reference prescribes (duckdb.py:101,
  // polars.py:714) — Spark's bare ISNAN would return FALSE for NULL.
  // -------------------------------------------------------------------

  val SpN = 28
  val SpSeed = 20270208L

  /** Sentinel-encode NaN/±Inf so the hash gate sees finite doubles. */
  private def enc0(g: GE): GE = GE(
    when(g.e.isNan).then_(lit(-999999.25))
      .when(g.e === lit(Double.PositiveInfinity)).then_(lit(999999.5))
      .when(g.e === lit(Double.NegativeInfinity)).then_(lit(-999999.75))
      .otherwise(g.e),
    s"(CASE WHEN isnan(${g.d}) THEN -999999.25 " +
      s"WHEN ${g.d} = 'infinity'::DOUBLE THEN 999999.5 " +
      s"WHEN ${g.d} = '-infinity'::DOUBLE THEN -999999.75 " +
      s"ELSE ${g.d} END)")

  private final class SpGen(rnd: scala.util.Random) {
    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

    private def leaf(): GE = pick(IndexedSeq(
      () => GE(C("v"), "v"),
      () => GE(C("w"), "w"),
      () => GE(C("value"), "value"),
      () => GE(lit(Double.NaN), "'nan'::DOUBLE"),
      () => GE(lit(Double.PositiveInfinity), "'infinity'::DOUBLE"),
      () => GE(lit(Double.NegativeInfinity), "'-infinity'::DOUBLE"),
      () => GE(lit(1.5), "1.5"),
      () => GE(lit(-2.0), "-2.0"),
      // IEEE signed zero is a DELIBERATE domain (round-9): the engines
      // produce it differently (Spark total-orders -0.0 < 0.0 in
      // GREATEST/LEAST/MIN/MAX; DuckDB keeps first-of-equals) but
      // consume it identically (-0.0 = 0.0 in comparisons, x/±0.0 →
      // NULL in both) — so ties are generated freely and every escape
      // route to an output cell is canonicalized (canonZero on double
      // arms, +0.0 on sort keys). '-0.0'::DOUBLE keeps the sign in
      // DuckDB; CAST(-0.0 AS DOUBLE) would fold it to +0.0.
      () => GE(lit(-0.0), "'-0.0'::DOUBLE"),
      () => GE(lit(0.0), "'0.0'::DOUBLE")))()

    def dblE(d: Int): GE =
      if (d <= 0) leaf()
      else pick(IndexedSeq[() => GE](
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(a.e + b.e, s"(${a.d} + ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(a.e * b.e, s"(${a.d} * ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(a.e / b.e, s"(CAST(${a.d} AS DOUBLE) / ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(hmax(a.e, b.e), s"GREATEST(${a.d}, ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(hmin(a.e, b.e), s"LEAST(${a.d}, ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(coalesce(a.e, b.e), s"COALESCE(${a.d}, ${b.d})") },
        () => { val c = boolE(d - 1); val a = dblE(d - 1); val b = dblE(d - 1)
          GE(when(c.e).then_(a.e).otherwise(b.e),
            s"(CASE WHEN ${c.d} THEN ${a.d} ELSE ${b.d} END)") }))()

    def boolE(d: Int): GE =
      if (d <= 0) GE(C("event_id") % lit(2L) === lit(0L), "(event_id % 2 = 0)")
      else pick(IndexedSeq[() => GE](
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(a.e < b.e, s"(${a.d} < ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(a.e >= b.e, s"(${a.d} >= ${b.d})") },
        () => { val a = dblE(d - 1); val b = dblE(d - 1)
          GE(a.e === b.e, s"(${a.d} = ${b.d})") },
        () => { val a = dblE(d - 1); GE(a.e.isNan, s"isnan(${a.d})") },
        () => { val a = dblE(d - 1)
          GE(a.e.isInf,
            s"(${a.d} = 'infinity'::DOUBLE OR ${a.d} = '-infinity'::DOUBLE)") },
        () => { val a = dblE(d - 1); GE(a.e.isNull, s"(${a.d} IS NULL)") },
        () => { val a = boolE(d - 1); val b = boolE(d - 1)
          GE(a.e && b.e, s"(${a.d} AND ${b.d})") }))()

    private def enc(g: GE): GE = enc0(g)

    def next(): GE = rnd.nextInt(7) match {
      case 0 | 1 | 2 => boolE(2)
      case 3 | 4 => canonZero(enc(dblE(2)))
      case 5 => // partition aggregate over specials (min/max/count);
        // Spark MIN/MAX pick ±0.0 by total order, DuckDB by first-of-
        // equals — canonZero makes the output cell engine-neutral
        val a = dblE(1)
        pick(IndexedSeq[() => GE](
          () => canonZero(enc(GE(a.e.min(partitionBy = Seq(C("event_type"))),
            s"MIN(${a.d}) OVER (PARTITION BY event_type)"))),
          () => canonZero(enc(GE(a.e.max(partitionBy = Seq(C("event_type"))),
            s"MAX(${a.d}) OVER (PARTITION BY event_type)"))),
          () => GE(count(partitionBy = Seq(C("event_type"))),
            "COUNT(*) OVER (PARTITION BY event_type)")))()
      case _ => // NaN/Inf/NULL placement under ordering; the sort key is
        // canonicalized +0.0 because Spark's physical sort total-orders
        // -0.0 BEFORE 0.0 while DuckDB's ORDER BY treats them equal
        // (then the event_id tiebreak decides) — different row_numbers
        val a = dblE(1)
        GE(rowNumber(
          arrange = Seq((a.e + lit(0.0)).asc.nullsLast, C("event_id")),
          partitionBy = Seq(C("event_type"))),
          s"CAST(ROW_NUMBER() OVER (PARTITION BY event_type " +
            s"ORDER BY (${a.d} + CAST(0.0 AS DOUBLE)) ASC NULLS LAST, " +
            s"event_id ASC NULLS LAST) AS BIGINT)")
    }
  }

  /** Forced signed-zero draws — one per proven divergence route, so the
    * ±0.0 domain is covered by DESIGN at any seed (the round-8 red was
    * only ever caught by seed luck). sp28 replays the exact f053 shape
    * that shipped red (`-ABS(-0.0)`). */
  private lazy val spForced: Seq[GE] = Seq(
    canonZero(GE(-(lit(-0.0).abs), "(- ABS('-0.0'::DOUBLE))")),
    canonZero(GE(hmax(lit(-0.0), lit(0.0)),
      "GREATEST('-0.0'::DOUBLE, '0.0'::DOUBLE)")),
    canonZero(GE(hmin(lit(0.0), lit(-0.0)),
      "LEAST('0.0'::DOUBLE, '-0.0'::DOUBLE)")),
    GE(lit(-0.0) === lit(0.0), "('-0.0'::DOUBLE = '0.0'::DOUBLE)"),
    GE(lit(-0.0) < lit(0.0), "('-0.0'::DOUBLE < '0.0'::DOUBLE)"),
    // v * 0.0 mints ±0.0 per row sign (NaN for specials — enc'd);
    // MIN picks among the zero ties differently per engine
    canonZero(enc0(GE((C("v") * lit(0.0)).min(partitionBy = Seq(C("event_type"))),
      "MIN((v * '0.0'::DOUBLE)) OVER (PARTITION BY event_type)"))),
    // ±0.0 in a sort key: canonicalized, then the event_id tiebreak
    // is what decides — identical row_numbers in both engines
    GE(rowNumber(
      arrange = Seq((C("v") * lit(0.0) + lit(0.0)).asc.nullsLast, C("event_id")),
      partitionBy = Seq(C("event_type"))),
      "CAST(ROW_NUMBER() OVER (PARTITION BY event_type " +
        "ORDER BY (v * '0.0'::DOUBLE + CAST(0.0 AS DOUBLE)) ASC NULLS LAST, " +
        "event_id ASC NULLS LAST) AS BIGINT)"))

  lazy val spBattery: Seq[(String, GE)] = {
    val g = new SpGen(new scala.util.Random(SpSeed))
    (0 until SpN).map(i => (f"sp$i%02d", g.next())) ++
      spForced.zipWithIndex.map { case (ge, i) => (f"sp${SpN + i}%02d", ge) }
  }

  def spQuery(s: SparkSession, dir: String): DataFrame = {
    val defs = spBattery.map { case (n, ge) => n -> (ge.e: ColExpr) }
    Table.source(s, dir, "events")
      .mutate(
        "v" -> when(C("event_id") % lit(11L) === lit(0L)).then_(lit(Double.NaN))
          .when(C("event_id") % lit(11L) === lit(1L))
          .then_(lit(Double.PositiveInfinity))
          .when(C("event_id") % lit(11L) === lit(2L))
          .then_(lit(Double.NegativeInfinity))
          .when(C("event_id") % lit(11L) === lit(3L)).then_(lit(null))
          .otherwise(C("value")),
        "w" -> when((C("event_id") + lit(3L)) % lit(7L) === lit(0L))
          .then_(lit(Double.NaN))
          .when((C("event_id") + lit(3L)) % lit(7L) === lit(1L))
          .then_(lit(Double.PositiveInfinity))
          .when((C("event_id") + lit(3L)) % lit(7L) === lit(2L)).then_(lit(null))
          .otherwise(C("value") * lit(0.5)))
      .mutate(defs: _*)
      .select(C("event_id") +: spBattery.map(b => C(b._1): ColExpr): _*)
      .arrange(C("event_id"))
      .toDF
  }

  // -------------------------------------------------------------------
  // Decimal fuzz battery (q41): random exact-decimal trees over a
  // NEGATIVE-capable 2dp column cast to a spread of (precision, scale)
  // types, composed with +/-/* (scale-widening only — both engines
  // derive result scale as max(s1,s2) for ± and s1+s2 for ×, so no
  // rounding ever occurs), unary minus/abs, CASE lca mixing, NULL
  // weaving, comparisons, and partition sum/min/max. DIVISION is
  // deliberately absent: result-scale formulas genuinely differ between
  // engines there (the reference inherits each backend's). Every
  // decimal output is rendered AS VARCHAR so the engines' scale
  // agreement is pinned by the hash, not coerced by the compare.
  // Multiplication only ever joins two leaf casts — nesting products
  // could exceed precision 38, where Spark starts rounding.
  // -------------------------------------------------------------------

  val DecN = 24
  val DecSeed = 20270209L

  private final class DecGen(rnd: scala.util.Random) {
    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

    // base columns minted in the query: d2 (12,2), d3 (14,3), d4 (16,4),
    // dn (nullable (12,2))
    private def leaf(): GE = pick(IndexedSeq(
      () => GE(C("d2"), "d2"),
      () => GE(C("d3"), "d3"),
      () => GE(C("d4"), "d4"),
      () => GE(C("dn"), "dn"),
      () => GE(lit("-7.25").cast(DecimalType(10, 2)),
        "CAST('-7.25' AS DECIMAL(10,2))"),
      () => GE(lit("1234.5678").cast(DecimalType(12, 4)),
        "CAST('1234.5678' AS DECIMAL(12,4))")))()

    def decE(d: Int): GE =
      if (d <= 0) leaf()
      else pick(IndexedSeq[() => GE](
        () => { val a = decE(d - 1); val b = decE(d - 1)
          GE(a.e + b.e, s"(${a.d} + ${b.d})") },
        () => { val a = decE(d - 1); val b = decE(d - 1)
          GE(a.e - b.e, s"(${a.d} - ${b.d})") },
        () => { val a = leaf(); val b = leaf()
          GE(a.e * b.e, s"(${a.d} * ${b.d})") },
        () => { val a = decE(d - 1); GE(-a.e, s"(- ${a.d})") },
        () => { val a = decE(d - 1); GE(a.e.abs, s"ABS(${a.d})") },
        () => { val a = decE(d - 1); val b = decE(d - 1)
          GE(coalesce(a.e, b.e), s"COALESCE(${a.d}, ${b.d})") },
        () => { val k = 2 + rnd.nextInt(4)
          val a = decE(d - 1); val b = decE(d - 1)
          GE(when(C("c_custkey") % lit(k.toLong) === lit(0L))
            .then_(a.e).otherwise(b.e),
            s"(CASE WHEN c_custkey % $k = 0 THEN ${a.d} ELSE ${b.d} END)") }))()

    def next(): GE = rnd.nextInt(6) match {
      case 0 => val a = decE(2); val b = decE(2)
        GE(a.e < b.e, s"(${a.d} < ${b.d})")
      case 1 => val a = decE(2); val b = decE(2)
        GE(a.e >= b.e, s"(${a.d} >= ${b.d})")
      case 2 => val a = decE(1)
        pick(IndexedSeq[() => GE](
          () => GE(a.e.sum(partitionBy = Seq(C("c_nationkey"))).cast(StringType),
            s"CAST(SUM(${a.d}) OVER (PARTITION BY c_nationkey) AS VARCHAR)"),
          () => GE(a.e.min(partitionBy = Seq(C("c_nationkey"))).cast(StringType),
            s"CAST(MIN(${a.d}) OVER (PARTITION BY c_nationkey) AS VARCHAR)"),
          () => GE(a.e.max(partitionBy = Seq(C("c_nationkey"))).cast(StringType),
            s"CAST(MAX(${a.d}) OVER (PARTITION BY c_nationkey) AS VARCHAR)")))()
      case _ =>
        val a = decE(2)
        GE(a.e.cast(StringType), s"CAST(${a.d} AS VARCHAR)")
    }
  }

  lazy val decBattery: Seq[(String, GE)] = {
    val g = new DecGen(new scala.util.Random(DecSeed))
    (0 until DecN).map(i => (f"dc$i%02d", g.next()))
  }

  def decQuery(s: SparkSession, dir: String): DataFrame = {
    val defs = decBattery.map { case (n, ge) => n -> (ge.e: ColExpr) }
    Table.source(s, dir, "customer")
      .mutate(
        "d2" -> C("c_acctbal").cast(DecimalType(12, 2)),
        "d3" -> C("c_acctbal").cast(DecimalType(14, 3)),
        "d4" -> C("c_acctbal").cast(DecimalType(16, 4)))
      .mutate("dn" -> when(C("c_custkey") % lit(7L) === lit(0L))
        .then_(lit(null)).otherwise(C("d2")))
      .mutate(defs: _*)
      .select(C("c_custkey") +: decBattery.map(b => C(b._1): ColExpr): _*)
      .arrange(C("c_custkey"))
      .toDF
  }

  // -------------------------------------------------------------------
  // Cast fuzz battery (q42): random conversions through every
  // cast/try_cast edge the engines disagree on, with the oracle
  // COMPENSATED to graft's committed semantics where DuckDB's native
  // cast differs (the q17 precedent):
  //   - float/decimal → int TRUNCATES toward zero (DuckDB rounds):
  //     oracle wraps in TRUNC
  //   - string → int parses INTEGRAL strings only, whitespace-tolerant
  //     (DuckDB parses '12.5' → 13 and '1e2' → 100): oracle gates on an
  //     integral regex
  //   - double → string stays in the |x| < 1e7 plain-notation domain
  //     (the engines' scientific-notation thresholds differ)
  // Fallible conversions go through try_cast (garbage → NULL in both);
  // infallible ones through plain cast.
  // -------------------------------------------------------------------

  val CastN = 24
  val CastSeed = 20270210L

  private final class CastGen(rnd: scala.util.Random) {
    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

    // string sources minted in the query: si (integral-or-garbage),
    // sf (fractional-or-garbage), sb (boolean-ish)
    private def strLeaf(): GE = pick(IndexedSeq(
      () => GE(C("si"), "si"),
      () => GE(C("sf"), "sf"),
      () => GE(C("sb"), "sb")))()

    private def dblLeaf(): GE = pick(IndexedSeq(
      () => GE(C("c_acctbal"), "c_acctbal"),
      () => GE(C("c_acctbal") * lit(0.31), "(c_acctbal * 0.31)"),
      () => GE(-C("c_acctbal"), "(- c_acctbal)")))()

    private def longLeaf(): GE = pick(IndexedSeq(
      () => GE(C("c_custkey"), "c_custkey"),
      () => GE(C("c_custkey") - lit(750L), "(c_custkey - 750)"),
      () => GE(C("c_nationkey"), "c_nationkey")))()

    private val intRegex = "'^[+-]?[0-9]+$'"

    def nextKind(): Int = rnd.nextInt(10)

    /** `kind` selects the arm — the battery forces one of each for the
      * first ten columns so no conversion family is left to seed luck. */
    def next(kind: Int): GE = kind match {
      case 0 => // string -> long: integral-only, whitespace-tolerant
        val a = strLeaf()
        GE(a.e.tryCast(LongType),
          s"(CASE WHEN regexp_matches(trim(${a.d}), $intRegex) " +
            s"THEN TRY_CAST(${a.d} AS BIGINT) END)")
      case 1 => // string -> double: both parse the same numeric forms
        val a = strLeaf()
        GE(a.e.tryCast(DoubleType), s"TRY_CAST(${a.d} AS DOUBLE)")
      case 2 => // double -> long: trunc toward zero (oracle TRUNC)
        val a = dblLeaf()
        GE(a.e.cast(LongType), s"CAST(TRUNC(${a.d}) AS BIGINT)")
      case 3 => // decimal -> long: trunc toward zero (oracle TRUNC)
        val a = dblLeaf()
        GE(a.e.cast(DecimalType(14, 2)).cast(LongType),
          s"CAST(TRUNC(CAST(${a.d} AS DECIMAL(14,2))) AS BIGINT)")
      case 4 => // long -> double, exact
        val a = longLeaf()
        GE(a.e.cast(DoubleType), s"CAST(${a.d} AS DOUBLE)")
      case 5 => // long -> string
        val a = longLeaf()
        GE(a.e.cast(StringType), s"CAST(${a.d} AS VARCHAR)")
      case 6 => // double -> string, |x| < 1e7 plain-notation domain
        GE(C("c_acctbal").cast(StringType), "CAST(c_acctbal AS VARCHAR)")
      case 7 => // string -> boolean via try_cast
        val a = strLeaf()
        GE(a.e.tryCast(BooleanType), s"TRY_CAST(${a.d} AS BOOLEAN)")
      case 8 => // boolean -> long and back through a comparison
        val a = longLeaf()
        GE((a.e % lit(3L) === lit(0L)).cast(LongType),
          s"CAST((${a.d} % 3 = 0) AS BIGINT)")
      case _ => // round-trip: long -> string -> long (identity)
        val a = longLeaf()
        GE(a.e.cast(StringType).tryCast(LongType),
          s"TRY_CAST(CAST(${a.d} AS VARCHAR) AS BIGINT)")
    }
  }

  lazy val castBattery: Seq[(String, GE)] = {
    val g = new CastGen(new scala.util.Random(CastSeed))
    (0 until CastN).map(i =>
      (f"ct$i%02d", g.next(if (i < 10) i else g.nextKind())))
  }

  def castQuery(s: SparkSession, dir: String): DataFrame = {
    val defs = castBattery.map { case (n, ge) => n -> (ge.e: ColExpr) }
    Table.source(s, dir, "customer")
      .mutate(
        "si" -> when(C("c_custkey") % lit(4L) === lit(0L)).then_(lit("abc"))
          .when(C("c_custkey") % lit(4L) === lit(1L)).then_(lit(""))
          .when(C("c_custkey") % lit(4L) === lit(2L)).then_(lit(" 42 "))
          .otherwise(C("c_custkey").cast(StringType)),
        "sf" -> when(C("c_custkey") % lit(3L) === lit(0L)).then_(lit("12.5"))
          .when(C("c_custkey") % lit(3L) === lit(1L)).then_(lit("1e2"))
          .otherwise(lit("-7.25")),
        "sb" -> when(C("c_custkey") % lit(3L) === lit(0L)).then_(lit("true"))
          .when(C("c_custkey") % lit(3L) === lit(1L)).then_(lit("false"))
          .otherwise(lit("nope")))
      .mutate(defs: _*)
      .select(C("c_custkey") +: castBattery.map(b => C(b._1): ColExpr): _*)
      .arrange(C("c_custkey"))
      .toDF
  }

  def castOracle: String = {
    val cols = castBattery.map { case (n, ge) => s"${ge.d} AS $n" }
    s"""WITH c AS (SELECT *,
       |  CASE WHEN c_custkey % 4 = 0 THEN 'abc'
       |       WHEN c_custkey % 4 = 1 THEN ''
       |       WHEN c_custkey % 4 = 2 THEN ' 42 '
       |       ELSE CAST(c_custkey AS VARCHAR) END AS si,
       |  CASE WHEN c_custkey % 3 = 0 THEN '12.5'
       |       WHEN c_custkey % 3 = 1 THEN '1e2'
       |       ELSE '-7.25' END AS sf,
       |  CASE WHEN c_custkey % 3 = 0 THEN 'true'
       |       WHEN c_custkey % 3 = 1 THEN 'false'
       |       ELSE 'nope' END AS sb
       |  FROM customer)
       |SELECT c_custkey,
       |${cols.mkString(",\n")}
       |FROM c ORDER BY c_custkey""".stripMargin
  }

  def decOracle: String = {
    val cols = decBattery.map { case (n, ge) => s"${ge.d} AS $n" }
    s"""WITH c AS (SELECT *,
       |  CASE WHEN c_custkey % 7 = 0 THEN NULL
       |       ELSE CAST(c_acctbal AS DECIMAL(12,2)) END AS dn
       |  FROM (SELECT *,
       |    CAST(c_acctbal AS DECIMAL(12,2)) AS d2,
       |    CAST(c_acctbal AS DECIMAL(14,3)) AS d3,
       |    CAST(c_acctbal AS DECIMAL(16,4)) AS d4 FROM customer))
       |SELECT c_custkey,
       |${cols.mkString(",\n")}
       |FROM c ORDER BY c_custkey""".stripMargin
  }

  def spOracle: String = {
    val cols = spBattery.map { case (n, ge) => s"${ge.d} AS $n" }
    s"""WITH e AS (SELECT *,
       |  CASE WHEN event_id % 11 = 0 THEN 'nan'::DOUBLE
       |       WHEN event_id % 11 = 1 THEN 'infinity'::DOUBLE
       |       WHEN event_id % 11 = 2 THEN '-infinity'::DOUBLE
       |       WHEN event_id % 11 = 3 THEN NULL
       |       ELSE value END AS v,
       |  CASE WHEN (event_id + 3) % 7 = 0 THEN 'nan'::DOUBLE
       |       WHEN (event_id + 3) % 7 = 1 THEN 'infinity'::DOUBLE
       |       WHEN (event_id + 3) % 7 = 2 THEN NULL
       |       ELSE value * 0.5 END AS w
       |  FROM events)
       |SELECT event_id,
       |${cols.mkString(",\n")}
       |FROM e ORDER BY event_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Temporal-join fuzz battery (x84): random draws over the THREE
  // extension temporal joins — as-of (union+window carry plan), binned
  // point-in-interval range join, binned interval-overlap join — each
  // reduced to one row of portable aggregates and unioned. The oracles
  // are structurally DIFFERENT implementations: DuckDB's native ASOF
  // LEFT JOIN for as-of, and the naive inequality joins the binned
  // plans exist to replace. Two design axes the fixed queries
  // (x16/x78/x79) cannot cover:
  //  - binWidth INVARIANCE: every range/overlap draw picks a random
  //    bin width from 1 min to 1 day while its oracle never mentions
  //    bins — any pair duplicated or dropped by the explode/residual
  //    logic at any width breaks the hash;
  //  - parameter spread: by-key arity/type (none, bigint mod-class,
  //    string), asymmetric interval lengths, mod-disjoint left/right
  //    samples (unmatched as-of rows pinned via COALESCE(-1) sums).
  // Domain discipline: event timestamps are globally unique and
  // null-free (verified at both SFs), so as-of right rows are unique
  // per (key, ts) — enforced anyway by a MIN(event_id) group — and
  // window-partition NULL grouping vs SQL NULL-key semantics never
  // diverges. Widths stay >= 17 min and interval arms <= ~1 h per side
  // so the worst interval explodes to <= 8 bins, bounding the
  // fixture's explode volume (solo-benched before landing).
  // -------------------------------------------------------------------

  val TjN = 18
  val TjSeed = 20270211L

  private final case class TjSpec(tag: String, mk: DataFrame => DataFrame,
      sql: String)

  private lazy val tjSpecs: Seq[TjSpec] = {
    import org.apache.spark.sql.{functions => F, Column}
    import graft.functions.joins
    val rnd = new scala.util.Random(TjSeed)
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))
    // bin widths in micros: 17 min, 1 h, 6 h, 1 day — floor chosen so
    // the worst interval (~2 h) explodes to <= 8 bins at fixture scale
    val widths = IndexedSeq(1020000000L, 3600000000L,
      21600000000L, 86400000000L)
    (0 until TjN).map { i =>
      (i % 3) match {
        case 0 => // ---- as-of vs DuckDB ASOF LEFT JOIN ----
          val r0 = rnd.nextInt(5); val r1 = rnd.nextInt(7)
          val (kSql, kCol) = pick(IndexedSeq[(String, Column)](
            ("user_id % 5", F.col("user_id") % 5),
            ("user_id % 11", F.col("user_id") % 11),
            ("user_id % 23", F.col("user_id") % 23),
            ("event_type", F.col("event_type"))))
          val tag = f"asof_$i%02d"
          TjSpec(tag,
            ev => {
              val l = ev.filter(F.col("event_id") % 5 === r0)
                .select(F.col("event_id").as("l_id"), kCol.as("k"), F.col("ts"))
              val r = ev.filter(F.col("event_id") % 7 === r1)
                .groupBy(kCol.as("k"), F.col("ts"))
                .agg(F.min("event_id").as("rv"))
              joins.asofBackward(l, r, "ts", "ts", Seq("k"), Seq("rv"))
                .agg(F.count(F.lit(1)).as("n_rows"),
                  F.sum("l_id").as("l_sum"),
                  F.sum(F.coalesce(F.col("rv"), F.lit(-1L))).as("r_sum"),
                  F.count(F.when(F.col("rv").isNull, 1)).as("n_null"))
                .withColumn("tag", F.lit(tag))
                .select("tag", "n_rows", "l_sum", "r_sum", "n_null")
            },
            s"""SELECT '$tag' AS tag, COUNT(*) AS n_rows,
               |  CAST(SUM(l_id) AS BIGINT) AS l_sum,
               |  CAST(SUM(COALESCE(rv, -1)) AS BIGINT) AS r_sum,
               |  COUNT(*) FILTER (WHERE rv IS NULL) AS n_null
               |FROM (SELECT l.l_id, r.rv
               |  FROM (SELECT event_id AS l_id, $kSql AS k, ts FROM events
               |        WHERE event_id % 5 = $r0) l
               |  ASOF LEFT JOIN (SELECT $kSql AS k, ts, MIN(event_id) AS rv
               |        FROM events WHERE event_id % 7 = $r1 GROUP BY 1, 2) r
               |  ON l.k = r.k AND l.ts >= r.ts) j""".stripMargin)
        case 1 => // ---- binned range join vs naive BETWEEN join ----
          val r0 = rnd.nextInt(7); val r2 = rnd.nextInt(23)
          val aMin = 5 + rnd.nextInt(56); val bMin = 5 + rnd.nextInt(56)
          val width = pick(widths)
          val useBy = rnd.nextBoolean()
          val tag = f"range_$i%02d"
          val byDsl = if (useBy) Seq("user_id") else Nil
          val bySql = if (useBy) "p.user_id = i.user_id AND " else ""
          TjSpec(tag,
            ev => {
              val pCols = Seq(F.col("event_id").as("p_id"), F.col("ts")) ++
                (if (useBy) Seq(F.col("user_id")) else Nil)
              val iCols = Seq(F.col("event_id").as("iv_id"),
                (F.col("ts") - F.expr(s"INTERVAL $aMin MINUTES")).as("lo"),
                (F.col("ts") + F.expr(s"INTERVAL $bMin MINUTES")).as("hi")) ++
                (if (useBy) Seq(F.col("user_id")) else Nil)
              val p = ev.filter(F.col("event_id") % 7 === r0).select(pCols: _*)
              val iv = ev.filter(F.col("event_id") % 23 === r2).select(iCols: _*)
              joins.rangeJoin(p, iv, "ts", "lo", "hi", width, byDsl)
                .agg(F.count(F.lit(1)).as("n_rows"),
                  F.sum("p_id").as("l_sum"),
                  F.sum("iv_id_iv").as("r_sum"))
                .withColumn("tag", F.lit(tag))
                .select("tag", "n_rows", "l_sum", "r_sum")
            },
            s"""SELECT '$tag' AS tag, COUNT(*) AS n_rows,
               |  CAST(SUM(p.event_id) AS BIGINT) AS l_sum,
               |  CAST(SUM(i.event_id) AS BIGINT) AS r_sum
               |FROM (SELECT * FROM events WHERE event_id % 7 = $r0) p
               |JOIN (SELECT event_id, user_id,
               |        ts - INTERVAL $aMin MINUTE AS lo,
               |        ts + INTERVAL $bMin MINUTE AS hi
               |      FROM events WHERE event_id % 23 = $r2) i
               |ON ${bySql}p.ts BETWEEN i.lo AND i.hi""".stripMargin)
        case _ => // ---- binned overlap join vs naive inequality join ----
          val r0 = rnd.nextInt(13); val r2 = rnd.nextInt(17)
          val aMin = 5 + rnd.nextInt(56); val bMin = 5 + rnd.nextInt(56)
          val width = pick(widths)
          val (byDsl, bySql) = pick(IndexedSeq[(Seq[String], String)](
            (Nil, ""),
            (Seq("user_id"), "a.user_id = b.user_id AND "),
            (Seq("event_type"), "a.event_type = b.event_type AND ")))
          val tag = f"overlap_$i%02d"
          TjSpec(tag,
            ev => {
              def win(m: Int, idAs: String, flt: Column) =
                ev.filter(flt).select(
                  Seq(F.col("event_id").as(idAs), F.col("ts").as("lo"),
                    (F.col("ts") + F.expr(s"INTERVAL $m MINUTES")).as("hi")) ++
                    byDsl.map(F.col): _*)
              val l = win(aMin, "a_id", F.col("event_id") % 13 === r0)
              val r = win(bMin, "b_id", F.col("event_id") % 17 === r2)
              joins.overlapJoin(l, r, "lo", "hi", "lo", "hi", width, byDsl)
                .agg(F.count(F.lit(1)).as("n_rows"),
                  F.sum("a_id").as("l_sum"),
                  F.sum("b_id_iv").as("r_sum"))
                .withColumn("tag", F.lit(tag))
                .select("tag", "n_rows", "l_sum", "r_sum")
            },
            s"""SELECT '$tag' AS tag, COUNT(*) AS n_rows,
               |  CAST(SUM(a.event_id) AS BIGINT) AS l_sum,
               |  CAST(SUM(b.event_id) AS BIGINT) AS r_sum
               |FROM (SELECT event_id, user_id, event_type, ts AS lo,
               |        ts + INTERVAL $aMin MINUTE AS hi
               |      FROM events WHERE event_id % 13 = $r0) a
               |JOIN (SELECT event_id, user_id, event_type, ts AS lo,
               |        ts + INTERVAL $bMin MINUTE AS hi
               |      FROM events WHERE event_id % 17 = $r2) b
               |ON ${bySql}a.lo <= b.hi AND b.lo <= a.hi""".stripMargin)
      }
    } ++ tjForced
  }

  /** Forced degenerate draws — the edge classes PathologicalTemporalSpec
    * asserts in-engine, pinned here CROSS-engine at any seed:
    * an as-of where every left row has an exact-timestamp right match
    * (the >= tie must be taken, not the predecessor), a range join of
    * zero-width intervals (matches only exact-ts points — boundary
    * inclusivity on both ends at once), and an overlap join of a sample
    * against itself (self-pairs plus fully-degenerate identical-window
    * ties through the exactly-once residual). */
  private def tjForced: Seq[TjSpec] = {
    import org.apache.spark.sql.{functions => F}
    import graft.functions.joins
    Seq(
      TjSpec("forced_asof_all_ties",
        ev => {
          val l = ev.filter(F.col("event_id") % 4 === 1)
            .select(F.col("event_id").as("l_id"),
              F.col("event_type").as("k"), F.col("ts"))
          val r = ev.filter(F.col("event_id") % 4 === 1)
            .groupBy(F.col("event_type").as("k"), F.col("ts"))
            .agg(F.min("event_id").as("rv"))
          joins.asofBackward(l, r, "ts", "ts", Seq("k"), Seq("rv"))
            .agg(F.count(F.lit(1)).as("n_rows"),
              F.sum("l_id").as("l_sum"),
              F.sum(F.coalesce(F.col("rv"), F.lit(-1L))).as("r_sum"),
              F.count(F.when(F.col("rv").isNull, 1)).as("n_null"))
            .withColumn("tag", F.lit("forced_asof_all_ties"))
            .select("tag", "n_rows", "l_sum", "r_sum", "n_null")
        },
        """SELECT 'forced_asof_all_ties' AS tag, COUNT(*) AS n_rows,
          |  CAST(SUM(l_id) AS BIGINT) AS l_sum,
          |  CAST(SUM(COALESCE(rv, -1)) AS BIGINT) AS r_sum,
          |  COUNT(*) FILTER (WHERE rv IS NULL) AS n_null
          |FROM (SELECT l.l_id, r.rv
          |  FROM (SELECT event_id AS l_id, event_type AS k, ts FROM events
          |        WHERE event_id % 4 = 1) l
          |  ASOF LEFT JOIN (SELECT event_type AS k, ts, MIN(event_id) AS rv
          |        FROM events WHERE event_id % 4 = 1 GROUP BY 1, 2) r
          |  ON l.k = r.k AND l.ts >= r.ts) j""".stripMargin),
      TjSpec("forced_range_zero_width",
        ev => {
          val p = ev.filter(F.col("event_id") % 2 === 0)
            .select(F.col("event_id").as("p_id"), F.col("ts"))
          val iv = ev.filter(F.col("event_id") % 3 === 0)
            .select(F.col("event_id").as("iv_id"),
              F.col("ts").as("lo"), F.col("ts").as("hi"))
          joins.rangeJoin(p, iv, "ts", "lo", "hi", 3600000000L, Nil)
            .agg(F.count(F.lit(1)).as("n_rows"),
              F.sum("p_id").as("l_sum"),
              F.sum("iv_id_iv").as("r_sum"))
            .withColumn("tag", F.lit("forced_range_zero_width"))
            .select("tag", "n_rows", "l_sum", "r_sum")
        },
        """SELECT 'forced_range_zero_width' AS tag, COUNT(*) AS n_rows,
          |  CAST(SUM(p.event_id) AS BIGINT) AS l_sum,
          |  CAST(SUM(i.event_id) AS BIGINT) AS r_sum
          |FROM (SELECT * FROM events WHERE event_id % 2 = 0) p
          |JOIN (SELECT event_id, ts AS lo, ts AS hi
          |      FROM events WHERE event_id % 3 = 0) i
          |ON p.ts BETWEEN i.lo AND i.hi""".stripMargin),
      TjSpec("forced_overlap_self",
        ev => {
          def win(idAs: String) = ev.filter(F.col("event_id") % 5 === 2)
            .select(F.col("event_id").as(idAs), F.col("user_id"),
              F.col("ts").as("lo"),
              (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).as("hi"))
          joins.overlapJoin(win("a_id"), win("b_id"),
              "lo", "hi", "lo", "hi", 1020000000L, Seq("user_id"))
            .agg(F.count(F.lit(1)).as("n_rows"),
              F.sum("a_id").as("l_sum"),
              F.sum("b_id_iv").as("r_sum"))
            .withColumn("tag", F.lit("forced_overlap_self"))
            .select("tag", "n_rows", "l_sum", "r_sum")
        },
        """SELECT 'forced_overlap_self' AS tag, COUNT(*) AS n_rows,
          |  CAST(SUM(a.event_id) AS BIGINT) AS l_sum,
          |  CAST(SUM(b.event_id) AS BIGINT) AS r_sum
          |FROM (SELECT event_id, user_id, ts AS lo,
          |        ts + INTERVAL 45 MINUTE AS hi
          |      FROM events WHERE event_id % 5 = 2) a
          |JOIN (SELECT event_id, user_id, ts AS lo,
          |        ts + INTERVAL 45 MINUTE AS hi
          |      FROM events WHERE event_id % 5 = 2) b
          |ON a.user_id = b.user_id AND a.lo <= b.hi AND b.lo <= a.hi"""
          .stripMargin))
  }

  /** All temporal-join draws unioned, one row each, ordered by tag.
    * `n_null` only exists on as-of draws (left-join unmatched count);
    * range/overlap draws pin it to 0 (inner joins emit no nulls) so
    * the union schema is uniform. */
  def temporalJoinQuery(s0: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val ev = graft.ExtQueries.eventsDf(fixtureSession(s0, dir, "events"), dir)
    tjSpecs.map { spec =>
      val df = spec.mk(ev)
      if (df.columns.contains("n_null")) df
      else df.withColumn("n_null", F.lit(0L))
    }.reduce(_ unionByName _).orderBy("tag")
  }

  def temporalJoinOracle: String =
    tjSpecs.map { spec =>
      if (spec.sql.contains("n_null")) spec.sql
      else s"SELECT *, CAST(0 AS BIGINT) AS n_null FROM (\n${spec.sql}\n) z"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY tag")

  /** Per-mix census hook (r14 verdict: the driver's c8 run recorded a
    * 23.6 s x84 sample vs its 5-6 s median — a rotated-seed mix CAN
    * plant a skewed temporal join, and the unioned battery hides which
    * draw). Times each draw SOLO through the noop sink under the same
    * fixture session the battery runs, so a
    * pathological mix is attributable by tag. Dev-only (Explain's
    * `x84_census` pseudo-query); never part of the bench or oracle. */
  def temporalJoinCensus(s0: SparkSession, dir: String): Unit = {
    val ev = graft.ExtQueries.eventsDf(fixtureSession(s0, dir, "events"), dir)
    tjSpecs.foreach { spec =>
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        spec.mk(ev).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[tjmix] ${spec.tag}%-24s " +
        runs.map(r => f"$r%6.2f s").mkString(" "))
    }
  }

  // -------------------------------------------------------------------
  // String fuzz battery (q45): the string surface over REAL document
  // text plus multibyte/emoji/Cyrillic literal content — the q30
  // battery only ever sees ASCII `n_name`. Covers codepoint-counted
  // length, multibyte-safe slicing, case mapping, literal replacement,
  // prefix/suffix/containment, a safe regex subset, and string→date/
  // timestamp parsing (junk → NULL under non-ANSI, TRY_CAST in the
  // oracle).
  //
  // Domain discipline (probed in DuckDB 1.x before the arm catalog was
  // chosen):
  //  - NO full/contextual case mappings: Spark (JVM Locale.ROOT) maps
  //    ß→SS, ﬁ→FI, lower(İ)→i+U+0307 and final-sigma σ/ς; DuckDB
  //    (utf8proc) maps ß→ẞ, keeps ligatures, lower(İ)→i, and never
  //    emits final sigma. The literal pool therefore carries only
  //    1:1-mapped scripts (accented Latin, Cyrillic, CJK, emoji) and
  //    NO ß/ﬁ/İ/Σ class characters.
  //  - slice offsets stay >= 0: DuckDB's SUBSTRING extends position 0
  //    leftward, Spark's substr(0,..) clamps — they diverge below 1.
  //  - replace search patterns are never-empty literals (both engines
  //    no-op on '' but it is not worth betting the hash on).
  //  - regexes use the Java∩RE2 common subset (char classes, anchors,
  //    alternation, '.', '+'); no backrefs, no lookaround, no \b.
  //  - string comparisons are safe unguarded: both engines compare
  //    binary UTF-8, and UTF-8 byte order equals codepoint order.
  // -------------------------------------------------------------------

  val StrN = 220
  val StrSeed = 20270212L
  val StrDepth = 3

  private final class StrGen(rnd: scala.util.Random) {
    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

    // 1:1-case-mapped scripts only (see domain discipline above);
    // no apostrophes (SQL literal safety)
    private val uniLits = IndexedSeq(
      "héllo wörld", "Ünïcödé", "中文数据", "😀ok", "кот и пёс",
      "", "  pad  ", "a-b_c.d", "ñandú")

    def strLeaf(): GE = pick(IndexedSeq(
      () => { val o = pick(IndexedSeq(0, 3, 7, 15, 31, 63))
        GE(C("text").str.slice(lit(o.toLong), lit(12L)),
          s"SUBSTRING(text, ${o + 1}, 12)") },
      () => GE(C("lang"), "lang"),
      () => GE(C("source"), "source"),
      () => { val v = pick(uniLits); GE(lit(v), s"'$v'") },
      () => { val v = pick(uniLits)
        GE(when(C("doc_id") % lit(7L) === lit(0L)).then_(lit(null))
          .otherwise(lit(v) + C("lang")),
          s"(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE '$v' || lang END)") }))()

    def strE(d: Int): GE =
      if (d <= 0) strLeaf()
      else pick(IndexedSeq[() => GE](
        () => { val a = strE(d - 1); GE(a.e.str.upper, s"UPPER(${a.d})") },
        () => { val a = strE(d - 1); GE(a.e.str.lower, s"LOWER(${a.d})") },
        () => { val a = strE(d - 1); GE(a.e.str.strip, s"TRIM(${a.d})") },
        () => { val a = strE(d - 1); val b = strE(d - 1)
          GE(a.e + b.e, s"(${a.d} || ${b.d})") },
        () => { val a = strE(d - 1)
          val (f, r) = pick(IndexedSeq(
            ("the", "THE"), ("a", "à"), ("batch", ""), (" ", "_"),
            ("aa", "b"), ("ö", "oe")))
          GE(a.e.str.replaceAll(f, r), s"REPLACE(${a.d}, '$f', '$r')") },
        () => { val a = strE(d - 1)
          val o = rnd.nextInt(9); val n = rnd.nextInt(11)
          GE(a.e.str.slice(lit(o.toLong), lit(n.toLong)),
            s"SUBSTRING(${a.d}, ${o + 1}, $n)") },
        () => { val a = strE(d - 1); val b = strE(d - 1)
          GE(a.e.fillNull(b.e), s"COALESCE(${a.d}, ${b.d})") },
        () => { val c = boolE(d - 1); val a = strE(d - 1); val b = strE(d - 1)
          GE(when(c.e).then_(a.e).otherwise(b.e),
            s"(CASE WHEN ${c.d} THEN ${a.d} ELSE ${b.d} END)") }))()

    def longE(d: Int): GE =
      if (d <= 0) {
        val a = strLeaf(); GE(a.e.str.len, s"CAST(LENGTH(${a.d}) AS BIGINT)")
      } else pick(IndexedSeq[() => GE](
        () => { val a = strE(d - 1)
          GE(a.e.str.len, s"CAST(LENGTH(${a.d}) AS BIGINT)") },
        () => { val a = longE(d - 1); val b = longE(d - 1)
          GE(a.e + b.e, s"(${a.d} + ${b.d})") },
        () => { val a = longE(d - 1); val b = longE(d - 1)
          GE(hmax(a.e, b.e), s"GREATEST(${a.d}, ${b.d})") },
        () => { val c = boolE(d - 1); val a = longE(d - 1); val b = longE(d - 1)
          GE(when(c.e).then_(a.e).otherwise(b.e),
            s"(CASE WHEN ${c.d} THEN ${a.d} ELSE ${b.d} END)") }))()

    private val regexes = IndexedSeq(
      "[a-z]+k", "^the", "w$", "[0-9]", "b.t", "(sort|merge)", "s+p")

    def boolE(d: Int): GE =
      if (d <= 0) GE(C("doc_id") % lit(3L) === lit(0L), "(doc_id % 3 = 0)")
      else pick(IndexedSeq[() => GE](
        () => { val a = strE(d - 1); val p = pick(IndexedSeq("the", "s", "", "é", "中"))
          GE(a.e.str.startsWith(p), s"starts_with(${a.d}, '$p')") },
        () => { val a = strE(d - 1); val p = pick(IndexedSeq("ch", "k", "", "п"))
          GE(a.e.str.endsWith(p), s"ends_with(${a.d}, '$p')") },
        () => { val a = strE(d - 1); val p = pick(IndexedSeq("an", "数", "", "o"))
          GE(a.e.str.contains(p, allowRegex = false), s"contains(${a.d}, '$p')") },
        () => { val a = strE(d - 1); val p = pick(regexes)
          GE(a.e.str.contains(p, allowRegex = true),
            s"regexp_matches(${a.d}, '$p')") },
        () => { val a = strE(d - 1); val b = strE(d - 1)
          GE(a.e < b.e, s"(${a.d} < ${b.d})") },
        () => { val a = strE(d - 1); val b = strE(d - 1)
          GE(a.e === b.e, s"(${a.d} = ${b.d})") },
        () => { val a = strE(d - 1); GE(a.e.isNull, s"(${a.d} IS NULL)") },
        () => { val a = boolE(d - 1); val b = boolE(d - 1)
          GE(a.e && b.e, s"(${a.d} AND ${b.d})") },
        () => { val a = boolE(d - 1); GE(!a.e, s"(NOT ${a.d})") }))()

    /** String→date/timestamp parse arm: a CASE over doc_id selects
      * among valid ISO strings, a junk string, and NULL, then parses.
      * Non-ANSI Spark to_date/to_timestamp ≡ DuckDB TRY_CAST. */
    def parseE(): GE = {
      val k = 2 + rnd.nextInt(4)
      val good = pick(IndexedSeq("2024-03-15", "1999-12-31", "2007-06-01"))
      val goodTs = pick(IndexedSeq(
        "2024-03-15 10:20:30", "1999-12-31 23:59:59"))
      val junk = pick(IndexedSeq("not a date", "2024-13-40", "20240315x"))
      val src = GE(
        when(C("doc_id") % lit(k.toLong) === lit(0L)).then_(lit(good))
          .when(C("doc_id") % lit(k.toLong) === lit(1L)).then_(lit(junk))
          .when(C("doc_id") % lit(k.toLong) === lit(2L)).then_(lit(null))
          .otherwise(lit(goodTs)),
        s"(CASE WHEN doc_id % $k = 0 THEN '$good' " +
          s"WHEN doc_id % $k = 1 THEN '$junk' " +
          s"WHEN doc_id % $k = 2 THEN NULL ELSE '$goodTs' END)")
      if (rnd.nextBoolean())
        GE(src.e.str.toDate, s"TRY_CAST(${src.d} AS DATE)")
      else
        GE(src.e.str.toDatetime, s"TRY_CAST(${src.d} AS TIMESTAMP)")
    }
  }

  lazy val strBattery: Seq[(String, GE)] = {
    val g = new StrGen(new scala.util.Random(StrSeed))
    (0 until StrN).map { i =>
      val ge = (i % 8) match {
        case 0 | 1 | 2 => g.strE(StrDepth)
        case 3 | 4 => g.boolE(StrDepth)
        case 5 | 6 => g.longE(StrDepth)
        case _ => g.parseE()
      }
      (f"s$i%03d", ge)
    }
  }

  def strQuery(s: SparkSession, dir: String): DataFrame = {
    val defs = strBattery.map { case (n, ge) => n -> (ge.e: ColExpr) }
    Table.source(s, dir, "documents")
      .mutate(defs: _*)
      .select(C("doc_id") +: strBattery.map(b => C(b._1): ColExpr): _*)
      .arrange(C("doc_id"))
      .toDF
  }

  def strOracle: String = {
    val cols = strBattery.map { case (n, ge) => s"${ge.d} AS $n" }
    s"SELECT doc_id,\n${cols.mkString(",\n")}\nFROM documents ORDER BY doc_id"
  }

  // -------------------------------------------------------------------
  // Special-double KEY battery (q46): GROUP BY / COUNT(DISTINCT) /
  // equi-JOIN on double keys carrying NaN, ±0.0, ±Infinity and NULL.
  // Both engines MERGE these classes identically (NaN groups with NaN
  // and NaN = NaN joins TRUE; -0.0 merges with 0.0; NULL forms one
  // group but never matches a join) while getting there by different
  // machinery — Spark rewrites float keys through
  // NormalizeFloatingNumbers before hash partitioning, DuckDB
  // normalizes inside its hash table — so a lost normalization on
  // either side splits a group or drops join rows and breaks the hash.
  // q40 pins these values flowing through EXPRESSIONS; this battery
  // pins them as KEYS. Group keys are never emitted as raw doubles:
  // every group row carries an exact BIGINT label derived from the key
  // (sentinel per special class, 4k for the quarter-valued finites),
  // sidestepping the NaN→NULL hash normalization and the ±0.0
  // representative question at the output cell.
  // -------------------------------------------------------------------

  val SkN = 12
  val SkSeed = 20270213L

  private final case class SkSpec(tag: String,
      mk: (SparkSession, String) => DataFrame, sql: String)

  /** A paired special-double key over `events`: residues of
    * `event_id % m` map to NaN / -0.0 / 0.0 (always) and NULL / ±Inf
    * (per-draw), the rest to exact quarter-valued finites. */
  private final case class SkKey(e: ColExpr, d: String)

  private def skKey(rnd: scala.util.Random): SkKey = {
    val m = IndexedSeq(7L, 11L)(rnd.nextInt(2))
    val useNull = rnd.nextBoolean()
    val useInf = rnd.nextBoolean()
    val fin = 5L + rnd.nextInt(5)
    def mod(r: Long): ColExpr = C("event_id") % lit(m) === lit(r)
    var e: CaseE =
      when(mod(0)).then_(lit(Double.NaN))
        .when(mod(1)).then_(lit(-0.0))
        .when(mod(2)).then_(lit(0.0))
    var d = s"(CASE WHEN event_id % $m = 0 THEN 'nan'::DOUBLE " +
      s"WHEN event_id % $m = 1 THEN '-0.0'::DOUBLE " +
      s"WHEN event_id % $m = 2 THEN '0.0'::DOUBLE "
    if (useNull) { e = e.when(mod(3)).then_(lit(null))
      d += s"WHEN event_id % $m = 3 THEN NULL " }
    if (useInf) {
      e = e.when(mod(4)).then_(lit(Double.PositiveInfinity))
        .when(mod(5)).then_(lit(Double.NegativeInfinity))
      d += s"WHEN event_id % $m = 4 THEN 'infinity'::DOUBLE " +
        s"WHEN event_id % $m = 5 THEN '-infinity'::DOUBLE "
    }
    val fe = e.otherwise(
      (C("event_id") % lit(fin)).cast(DoubleType) / lit(4.0))
    d += s"ELSE CAST(event_id % $fin AS DOUBLE) / CAST(4.0 AS DOUBLE) END)"
    SkKey(fe, d)
  }

  /** Exact BIGINT label for a key column named `k` (both dialects):
    * NULL→-100, NaN→-200, +Inf→-300, -Inf→-400, finite quarters→4k. */
  private def skLabel: ColExpr =
    when(C("k").isNull).then_(lit(-100L))
      .when(C("k").isNan).then_(lit(-200L))
      .when(C("k") === lit(Double.PositiveInfinity)).then_(lit(-300L))
      .when(C("k") === lit(Double.NegativeInfinity)).then_(lit(-400L))
      .otherwise((C("k") * lit(4.0)).cast(LongType))
  private def skLabelSql(k: String): String =
    s"CAST((CASE WHEN $k IS NULL THEN -100 WHEN isnan($k) THEN -200 " +
      s"WHEN $k = 'infinity'::DOUBLE THEN -300 " +
      s"WHEN $k = '-infinity'::DOUBLE THEN -400 " +
      s"ELSE CAST($k * 4 AS BIGINT) END) AS BIGINT)"

  private lazy val skSpecs: Seq[SkSpec] = {
    val rnd = new scala.util.Random(SkSeed)
    (0 until SkN).map { i =>
      val key = skKey(rnd)
      (i % 3) match {
        case 0 => // ---- GROUP BY the special key ----
          val ms = IndexedSeq(3L, 5L)(rnd.nextInt(2)); val r = rnd.nextInt(3).toLong
          val tag = f"grp_$i%02d"
          SkSpec(tag,
            (s, dir) => Table.source(s, dir, "events")
              .filter(C("event_id") % lit(ms) === lit(r))
              .mutate("k" -> key.e)
              .groupBy(C("k"))
              .summarize("n" -> count(), "s" -> C("event_id").sum())
              .mutate("lbl" -> skLabel, "tag" -> lit(tag))
              .select(C("tag"), C("lbl"), C("n"), C("s"))
              .toDF,
            s"""SELECT '$tag' AS tag, ${skLabelSql("k")} AS lbl,
               |  COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS s
               |FROM (SELECT ${key.d} AS k, event_id FROM events
               |      WHERE event_id % $ms = $r) GROUP BY k""".stripMargin)
        case 1 => // ---- COUNT(DISTINCT) over the special key ----
          val ms = IndexedSeq(3L, 7L)(rnd.nextInt(2)); val r = rnd.nextInt(3).toLong
          val tag = f"uni_$i%02d"
          SkSpec(tag,
            (s, dir) => Table.source(s, dir, "events")
              .filter(C("event_id") % lit(ms) === lit(r))
              .mutate("k" -> key.e)
              .summarize("n" -> C("k").nUnique(),
                "s" -> count(filter = !C("k").isNull))
              .mutate("tag" -> lit(tag), "lbl" -> lit(-1L))
              .select(C("tag"), C("lbl"), C("n"), C("s"))
              .toDF,
            s"""SELECT '$tag' AS tag, CAST(-1 AS BIGINT) AS lbl,
               |  COUNT(DISTINCT k) AS n, COUNT(k) AS s
               |FROM (SELECT ${key.d} AS k FROM events
               |      WHERE event_id % $ms = $r)""".stripMargin)
        case _ => // ---- equi-join ON the special key (same key map both
          // sides, mod-disjoint samples), grouped by key class ----
          val rl = rnd.nextInt(31).toLong; val rr = rnd.nextInt(37).toLong
          val tag = f"jn_$i%02d"
          SkSpec(tag,
            (s, dir) => {
              val l = Table.source(s, dir, "events")
                .filter(C("event_id") % lit(31L) === lit(rl))
                .mutate("k" -> key.e).select(C("k"), C("event_id"))
              val r = Table.source(s, dir, "events")
                .filter(C("event_id") % lit(37L) === lit(rr))
                .mutate("k" -> key.e).select(C("k"), C("event_id"))
              l.innerJoin(r, C("k") === r.col("k"), suffix = Some("_r"))
                .groupBy(C("k"))
                .summarize("n" -> count(),
                  "s" -> (C("event_id") + C("event_id_r")).sum())
                .mutate("lbl" -> skLabel, "tag" -> lit(tag))
                .select(C("tag"), C("lbl"), C("n"), C("s"))
                .toDF
            },
            s"""SELECT '$tag' AS tag, ${skLabelSql("a.k")} AS lbl,
               |  COUNT(*) AS n,
               |  CAST(SUM(a.event_id + b.event_id) AS BIGINT) AS s
               |FROM (SELECT ${key.d} AS k, event_id FROM events
               |      WHERE event_id % 31 = $rl) a
               |JOIN (SELECT ${key.d} AS k, event_id FROM events
               |      WHERE event_id % 37 = $rr) b ON a.k = b.k
               |GROUP BY a.k""".stripMargin)
      }
    } ++ skForced
  }

  /** Forced degenerate draws — one per merge hazard, present at any
    * seed: an all-NaN×all-NaN join (the normalization-dependent case: a
    * bits-compared NaN key would drop every pair), a ±0.0-only GROUP BY
    * (exactly ONE group or the normalization is lost), and an all-NULL
    * key (one group in GROUP BY, zero in COUNT(DISTINCT)). */
  private def skForced: Seq[SkSpec] = Seq(
    SkSpec("forced_nan_join",
      (s, dir) => {
        val l = Table.source(s, dir, "events")
          .filter(C("event_id") % lit(101L) === lit(0L))
          .mutate("k" -> (lit(Double.NaN): ColExpr))
          .select(C("k"), C("event_id"))
        val r = Table.source(s, dir, "events")
          .filter(C("event_id") % lit(103L) === lit(0L))
          .mutate("k" -> (lit(Double.NaN): ColExpr))
          .select(C("k"), C("event_id"))
        l.innerJoin(r, C("k") === r.col("k"), suffix = Some("_r"))
          .groupBy(C("k"))
          .summarize("n" -> count(),
            "s" -> (C("event_id") + C("event_id_r")).sum())
          .mutate("lbl" -> skLabel, "tag" -> lit("forced_nan_join"))
          .select(C("tag"), C("lbl"), C("n"), C("s"))
          .toDF
      },
      """SELECT 'forced_nan_join' AS tag, CAST(-200 AS BIGINT) AS lbl,
        |  COUNT(*) AS n, CAST(SUM(a.event_id + b.event_id) AS BIGINT) AS s
        |FROM (SELECT 'nan'::DOUBLE AS k, event_id FROM events
        |      WHERE event_id % 101 = 0) a
        |JOIN (SELECT 'nan'::DOUBLE AS k, event_id FROM events
        |      WHERE event_id % 103 = 0) b ON a.k = b.k
        |GROUP BY a.k""".stripMargin),
    SkSpec("forced_zero_group",
      (s, dir) => Table.source(s, dir, "events")
        .filter(C("event_id") % lit(5L) === lit(1L))
        .mutate("k" -> when(C("event_id") % lit(2L) === lit(0L))
          .then_(lit(-0.0)).otherwise(lit(0.0)))
        .groupBy(C("k"))
        .summarize("n" -> count(), "s" -> C("event_id").sum())
        .mutate("lbl" -> skLabel, "tag" -> lit("forced_zero_group"))
        .select(C("tag"), C("lbl"), C("n"), C("s"))
        .toDF,
      """SELECT 'forced_zero_group' AS tag, CAST(0 AS BIGINT) AS lbl,
        |  COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS s
        |FROM (SELECT CASE WHEN event_id % 2 = 0 THEN '-0.0'::DOUBLE
        |        ELSE '0.0'::DOUBLE END AS k, event_id FROM events
        |      WHERE event_id % 5 = 1) GROUP BY k""".stripMargin),
    SkSpec("forced_null_key",
      (s, dir) => Table.source(s, dir, "events")
        .filter(C("event_id") % lit(7L) === lit(2L))
        .mutate("k" -> when(C("event_id") < lit(0L)).then_(lit(0.0))
          .otherwise(lit(null)))
        .groupBy(C("k"))
        .summarize("n" -> count(), "s" -> C("k").nUnique())
        .mutate("lbl" -> skLabel, "tag" -> lit("forced_null_key"))
        .select(C("tag"), C("lbl"), C("n"), C("s"))
        .toDF,
      """SELECT 'forced_null_key' AS tag, CAST(-100 AS BIGINT) AS lbl,
        |  COUNT(*) AS n, COUNT(DISTINCT k) AS s
        |FROM (SELECT CASE WHEN event_id < 0 THEN '0.0'::DOUBLE
        |        ELSE NULL END AS k, event_id FROM events
        |      WHERE event_id % 7 = 2) GROUP BY k""".stripMargin))

  /** All special-key draws unioned, one row per key class, ordered by
    * (tag, lbl). Runs under the many-subplan fixture session. */
  def specialKeyQuery(s0: SparkSession, dir: String): DataFrame = {
    val s = fixtureSession(s0, dir, "events")
    skSpecs.map(_.mk(s, dir)).reduce(_ unionByName _)
      .orderBy("tag", "lbl")
  }

  def specialKeyOracle: String =
    skSpecs.map(_.sql).mkString("", "\nUNION ALL\n", "\nORDER BY tag, lbl")
}
