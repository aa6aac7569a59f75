package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.core._
import graft.dsl._
import graft.fuzz.DiffFuzz
import graft.table.Table

/** The correctness-gate query inventory: one entry per SURVEY §2 operator,
  * each written through the graft DSL and paired with DuckDB oracle SQL.
  *
  * Determinism rules (both engines):
  *  - every query ends in a total ORDER BY (unique key suffix);
  *  - SUM/AVG over doubles go through an exact DECIMAL intermediate and
  *    are cast back to DOUBLE, so results are addition-order-independent;
  *  - oracle integer SUMs are cast to BIGINT (DuckDB widens to HUGEINT).
  */
object Queries {

  private def src(s: SparkSession, dir: String, t: String): Table = Table.source(s, dir, t)

  private val D18 = DecimalType(18, 4)
  private val D25 = DecimalType(25, 6)

  /** exact, order-independent sum of a double column. */
  private def dsum(e: ColExpr): ColExpr = e.cast(D18).sum().cast(DoubleType)
  private def dsum25(e: ColExpr): ColExpr = e.cast(D25).sum().cast(DoubleType)

  // ---------------------------------------------------------------
  // q01 — flagship: TPC-H Q1 shape (filter → group_by → summarize → arrange)
  // ---------------------------------------------------------------
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "lineitem")
      .filter(C("l_shipdate") <= timestamp("1998-09-02 00:00:00"))
      .groupBy(C("l_returnflag"), C("l_linestatus"))
      .summarize(
        "sum_qty" -> dsum(C("l_quantity")),
        "sum_base_price" -> dsum(C("l_extendedprice")),
        "sum_disc_price" -> dsum25(C("l_extendedprice") * (lit(1.0) - C("l_discount"))),
        "avg_qty" -> dsum(C("l_quantity")) / count(),
        "avg_disc" -> dsum(C("l_discount")) / count(),
        "count_order" -> count())
      .arrange(C("l_returnflag"), C("l_linestatus"))
      .toDF

  private[graft] val q1Oracle =
    """SELECT l_returnflag, l_linestatus,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------
  // q02 — select / mutate (elementwise arithmetic)
  // ---------------------------------------------------------------
  def q2Mutate(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "lineitem")
      .mutate(
        "net_price" -> C("l_extendedprice") * (lit(1.0) - C("l_discount")),
        "taxed" -> C("l_extendedprice") * (lit(1.0) - C("l_discount")) * (lit(1.0) + C("l_tax")),
        "qty_sq" -> C("l_quantity") * C("l_quantity"),
        "half_qty" -> C("l_quantity") / lit(2),
        "line_mod" -> C("l_linenumber") % lit(3),
        "line_div" -> C("l_linenumber").floorDiv(lit(2)))
      .select(C("l_orderkey"), C("l_linenumber"), C("net_price"), C("taxed"),
        C("qty_sq"), C("half_qty"), C("line_mod"), C("line_div"))
      .arrange(C("l_orderkey"), C("l_linenumber"))
      .toDF

  private val q2Oracle =
    """SELECT l_orderkey, l_linenumber,
      |l_extendedprice * (1.0 - l_discount) AS net_price,
      |l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS taxed,
      |l_quantity * l_quantity AS qty_sq,
      |l_quantity / 2 AS half_qty,
      |l_linenumber % 3 AS line_mod,
      |CAST(TRUNC(CAST(l_linenumber AS DOUBLE) / 2) AS BIGINT) AS line_div
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------
  // q03 — filter (conjunction, comparisons, is_in, boolean logic)
  // ---------------------------------------------------------------
  def q3Filter(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .filter(
        C("o_orderstatus").isIn(lit("F"), lit("O")),
        C("o_totalprice") > lit(50000.0) || C("o_orderpriority") === lit("1-URGENT"),
        !(C("o_custkey") % lit(7) === lit(0)))
      .select(C("o_orderkey"), C("o_custkey"), C("o_orderstatus"), C("o_totalprice"))
      .arrange(C("o_orderkey"))
      .toDF

  private val q3Oracle =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_orderstatus IN ('F','O')
      |AND (o_totalprice > 50000.0 OR o_orderpriority = '1-URGENT')
      |AND NOT (o_custkey % 7 = 0)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q04 — arrange (desc / nulls handling) + slice_head (limit+offset)
  // ---------------------------------------------------------------
  def q4ArrangeSlice(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .arrange(C("o_totalprice").desc, C("o_orderkey"))
      .sliceHead(100, offset = 10)
      .select(C("o_orderkey"), C("o_totalprice"), C("o_orderpriority"))
      .toDF

  private val q4Oracle =
    """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100 OFFSET 10""".stripMargin

  // ---------------------------------------------------------------
  // q05 — rename / drop
  // ---------------------------------------------------------------
  def q5RenameDrop(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "nation")
      .rename(Map("n_name" -> "nation_name", "n_nationkey" -> "id"))
      .drop(C("n_regionkey"))
      .arrange(C("id"))
      .toDF

  private val q5Oracle =
    """SELECT n_nationkey AS id, n_name AS nation_name
      |FROM nation ORDER BY id""".stripMargin

  // ---------------------------------------------------------------
  // q06 — inner join + aggregate over the joined result
  // ---------------------------------------------------------------
  def q6JoinInner(s: SparkSession, dir: String): DataFrame = {
    val o = src(s, dir, "orders")
    val c = src(s, dir, "customer")
    o.innerJoin(c, C("o_custkey") === c.col("c_custkey"))
      .groupBy(C("c_mktsegment"))
      .summarize(
        "n_orders" -> count(),
        "revenue" -> dsum(C("o_totalprice")))
      .arrange(C("c_mktsegment"))
      .toDF
  }

  private val q6Oracle =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------
  // q07 — left join (nulls on the right), counting non-null keys
  // ---------------------------------------------------------------
  def q7JoinLeft(s: SparkSession, dir: String): DataFrame = {
    val c = src(s, dir, "customer")
    val o = src(s, dir, "orders")
    c.leftJoin(o, C("c_custkey") === o.col("o_custkey"))
      .groupBy(C("c_custkey"), C("c_name"))
      .summarize(
        "n_orders" -> C("o_orderkey").count(),
        "max_price" -> C("o_totalprice").max())
      .arrange(C("c_custkey"))
      .toDF
  }

  private val q7Oracle =
    """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
      |MAX(o_totalprice) AS max_price
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------
  // q08 — full outer join of two aggregates
  // ---------------------------------------------------------------
  def q8JoinFull(s: SparkSession, dir: String): DataFrame = {
    val bigCust = src(s, dir, "customer").filter(C("c_acctbal") > lit(9000.0))
      .select(C("c_custkey"), C("c_acctbal"))
    val o = src(s, dir, "orders")
      .groupBy(C("o_custkey"))
      .summarize("n_orders" -> count())
    bigCust.fullJoin(o, C("c_custkey") === o.col("o_custkey"))
      .mutate("key" -> coalesce(C("c_custkey"), C("o_custkey")))
      .select(C("key"), C("c_acctbal"), C("n_orders"))
      .arrange(C("key"))
      .toDF
  }

  private val q8Oracle =
    """SELECT COALESCE(c_custkey, o_custkey) AS key, c_acctbal, n_orders
      |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000.0) b
      |FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) o
      |ON b.c_custkey = o.o_custkey
      |ORDER BY key""".stripMargin

  // ---------------------------------------------------------------
  // q09 — cross join
  // ---------------------------------------------------------------
  def q9CrossJoin(s: SparkSession, dir: String): DataFrame = {
    val r = src(s, dir, "region").select(C("r_name"))
    val n = src(s, dir, "nation").select(C("n_name"))
    r.crossJoin(n)
      .arrange(C("r_name"), C("n_name"))
      .toDF
  }

  private val q9Oracle =
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------
  // q10 — union all / union distinct
  // ---------------------------------------------------------------
  def q10Union(s: SparkSession, dir: String): DataFrame = {
    val a = src(s, dir, "customer").select(C("c_nationkey")).rename(Map("c_nationkey" -> "k"))
    val b = src(s, dir, "supplier").select(C("s_nationkey")).rename(Map("s_nationkey" -> "k"))
    a.union(b) // UNION ALL
      .groupBy(C("k"))
      .summarize("n" -> count())
      .arrange(C("k"))
      .toDF
  }

  private val q10Oracle =
    """SELECT k, COUNT(*) AS n FROM (
      |SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey AS k FROM supplier
      |) GROUP BY k ORDER BY k""".stripMargin

  def q10b(s: SparkSession, dir: String): DataFrame = {
    val a = src(s, dir, "customer").select(C("c_nationkey")).rename(Map("c_nationkey" -> "k"))
    val b = src(s, dir, "supplier").select(C("s_nationkey")).rename(Map("s_nationkey" -> "k"))
    a.union(b, distinct = true).arrange(C("k")).toDF
  }

  private val q10bOracle =
    """SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey AS k FROM supplier
      |ORDER BY k""".stripMargin

  // ---------------------------------------------------------------
  // q11 — window rank family (row_number / rank / dense_rank)
  // ---------------------------------------------------------------
  def q11WindowRank(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .mutate(
        "rn" -> rowNumber(
          arrange = Seq(C("o_totalprice").desc, C("o_orderkey")),
          partitionBy = Seq(C("o_custkey"))),
        "rk" -> rank(
          arrange = Seq(C("o_orderpriority")),
          partitionBy = Seq(C("o_custkey"))),
        "drk" -> denseRank(
          arrange = Seq(C("o_orderpriority")),
          partitionBy = Seq(C("o_custkey"))))
      .filter(C("rn") <= lit(3L))
      .select(C("o_custkey"), C("o_orderkey"), C("rn"), C("rk"), C("drk"))
      .arrange(C("o_custkey"), C("rn"), C("o_orderkey"))
      .toDF

  private val q11Oracle =
    """SELECT o_custkey, o_orderkey, rn, rk, drk FROM (
      |SELECT o_custkey, o_orderkey,
      |CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
      |CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS BIGINT) AS rk,
      |CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS BIGINT) AS drk
      |FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn, o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q12 — window shift (lag/lead) + cum_sum
  // ---------------------------------------------------------------
  def q12WindowShift(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .mutate(
        "prev_price" -> C("o_totalprice").shift(1,
          partitionBy = Seq(C("o_custkey")),
          arrange = Seq(C("o_orderdate"), C("o_orderkey"))),
        "next_price" -> C("o_totalprice").shift(-1,
          partitionBy = Seq(C("o_custkey")),
          arrange = Seq(C("o_orderdate"), C("o_orderkey"))),
        "running" -> C("o_totalprice").cast(D18).cumSum(
          partitionBy = Seq(C("o_custkey")),
          arrange = Seq(C("o_orderdate"), C("o_orderkey"))).cast(DoubleType))
      .select(C("o_custkey"), C("o_orderkey"), C("prev_price"), C("next_price"), C("running"))
      .arrange(C("o_custkey"), C("o_orderkey"))
      .toDF

  private val q12Oracle =
    """SELECT o_custkey, o_orderkey,
      |LAG(o_totalprice) OVER w AS prev_price,
      |LEAD(o_totalprice) OVER w AS next_price,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q13 — grouped mutate: aggregates become windows under group_by
  // ---------------------------------------------------------------
  def q13GroupedMutate(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "customer")
      .groupBy(C("c_nationkey"))
      .mutate(
        "nation_total" -> dsum(C("c_acctbal")),
        "nation_n" -> count(),
        "share" -> C("c_acctbal") / (dsum(C("c_acctbal")) + lit(1e-9)))
      .ungroup
      .select(C("c_custkey"), C("c_nationkey"), C("nation_total"), C("nation_n"), C("share"))
      .arrange(C("c_custkey"))
      .toDF

  private val q13Oracle =
    """SELECT c_custkey, c_nationkey,
      |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) OVER w AS DOUBLE) AS nation_total,
      |COUNT(*) OVER w AS nation_n,
      |c_acctbal / (CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) OVER w AS DOUBLE) + 1e-9) AS share
      |FROM customer WINDOW w AS (PARTITION BY c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------
  // q14 — string operators
  // ---------------------------------------------------------------
  def q14Strings(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "part")
      .mutate(
        "up" -> C("p_name").str.upper,
        "lo" -> C("p_brand").str.lower,
        "ln" -> C("p_name").str.len,
        "first5" -> C("p_name").str.slice(lit(0), lit(5)),
        "brand_num" -> C("p_brand").str.replaceAll("Brand#", ""),
        "is_promo" -> C("p_type").str.startsWith("PROMO"),
        "ends_steel" -> C("p_type").str.endsWith("STEEL"),
        "has_green" -> C("p_name").str.contains("green", allowRegex = false),
        "full" -> (C("p_brand") + lit(":") + C("p_type")))
      .select(C("p_partkey"), C("up"), C("lo"), C("ln"), C("first5"),
        C("brand_num"), C("is_promo"), C("ends_steel"), C("has_green"), C("full"))
      .arrange(C("p_partkey"))
      .toDF

  private val q14Oracle =
    """SELECT p_partkey, UPPER(p_name) AS up, LOWER(p_brand) AS lo,
      |CAST(LENGTH(p_name) AS BIGINT) AS ln,
      |SUBSTRING(p_name, 1, 5) AS first5,
      |REPLACE(p_brand, 'Brand#', '') AS brand_num,
      |STARTS_WITH(p_type, 'PROMO') AS is_promo,
      |ENDS_WITH(p_type, 'STEEL') AS ends_steel,
      |CONTAINS(p_name, 'green') AS has_green,
      |p_brand || ':' || p_type AS full
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------
  // q15 — datetime operators (ISO day_of_week, day_of_year, parts)
  // ---------------------------------------------------------------
  def q15Datetime(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .mutate(
        "yr" -> C("o_orderdate").dt.year,
        "mo" -> C("o_orderdate").dt.month,
        "dy" -> C("o_orderdate").dt.day,
        "dow" -> C("o_orderdate").dt.dayOfWeek,
        "doy" -> C("o_orderdate").dt.dayOfYear,
        "hr" -> C("o_orderdate").dt.hour)
      .select(C("o_orderkey"), C("yr"), C("mo"), C("dy"), C("dow"), C("doy"), C("hr"))
      .arrange(C("o_orderkey"))
      .toDF

  private val q15Oracle =
    """SELECT o_orderkey,
      |CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
      |CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
      |CAST(DAY(o_orderdate) AS BIGINT) AS dy,
      |CAST(ISODOW(o_orderdate) AS BIGINT) AS dow,
      |CAST(DAYOFYEAR(o_orderdate) AS BIGINT) AS doy,
      |CAST(HOUR(o_orderdate) AS BIGINT) AS hr
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q16 — duration: datetime subtraction (μs) + extractors
  // ---------------------------------------------------------------
  def q16Duration(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .mutate(
        "age_us" -> (C("o_orderdate") - timestamp("1995-06-15 00:00:00")),
        "age_days" -> (C("o_orderdate") - timestamp("1995-06-15 00:00:00")).dur.days,
        "age_hours" -> (C("o_orderdate") - timestamp("1995-06-15 00:00:00")).dur.hours,
        "age_secs" -> (C("o_orderdate") - timestamp("1995-06-15 00:00:00")).dur.seconds)
      .select(C("o_orderkey"), C("age_us"), C("age_days"), C("age_hours"), C("age_secs"))
      .arrange(C("o_orderkey"))
      .toDF

  private val q16Oracle =
    """SELECT o_orderkey,
      |DATE_DIFF('microsecond', TIMESTAMP '1995-06-15 00:00:00', o_orderdate) AS age_us,
      |CAST(TRUNC(CAST(DATE_DIFF('microsecond', TIMESTAMP '1995-06-15 00:00:00', o_orderdate) AS DOUBLE) / 86400000000) AS BIGINT) AS age_days,
      |CAST(TRUNC(CAST(DATE_DIFF('microsecond', TIMESTAMP '1995-06-15 00:00:00', o_orderdate) AS DOUBLE) / 3600000000) AS BIGINT) AS age_hours,
      |CAST(TRUNC(CAST(DATE_DIFF('microsecond', TIMESTAMP '1995-06-15 00:00:00', o_orderdate) AS DOUBLE) / 1000000) AS BIGINT) AS age_secs
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q17 — case/when, map sugar, casts (incl. trunc-toward-zero), try_cast
  // ---------------------------------------------------------------
  def q17CaseCast(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .mutate(
        "bucket" -> when(C("o_totalprice") < lit(50000.0)).then_(lit("low"))
          .when(C("o_totalprice") < lit(150000.0)).then_(lit("mid"))
          .otherwise(lit("high")),
        "status_label" -> C("o_orderstatus").map(Map(
          (lit("O"): ColExpr) -> lit("open"),
          (lit("F"): ColExpr) -> lit("finished")), default = lit("other")),
        "price_int" -> C("o_totalprice").cast(LongType),
        "key_str" -> C("o_orderkey").cast(StringType),
        "prio_num" -> C("o_orderpriority").str.slice(lit(0), lit(1)).tryCast(LongType))
      .select(C("o_orderkey"), C("bucket"), C("status_label"), C("price_int"),
        C("key_str"), C("prio_num"))
      .arrange(C("o_orderkey"))
      .toDF

  private val q17Oracle =
    """SELECT o_orderkey,
      |CASE WHEN o_totalprice < 50000.0 THEN 'low'
      |     WHEN o_totalprice < 150000.0 THEN 'mid' ELSE 'high' END AS bucket,
      |CASE WHEN o_orderstatus = 'O' THEN 'open'
      |     WHEN o_orderstatus = 'F' THEN 'finished' ELSE 'other' END AS status_label,
      |CAST(TRUNC(o_totalprice) AS BIGINT) AS price_int,
      |CAST(o_orderkey AS VARCHAR) AS key_str,
      |TRY_CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS prio_num
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q18 — null ops: fill_null, is_null, is_in with nulls, clip, coalesce
  // ---------------------------------------------------------------
  def q18NullOps(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "customer")
      .mutate("bal" -> when(C("c_custkey") % lit(5) === lit(0)).then_(lit(null)).otherwise(C("c_acctbal")))
      .mutate(
        "bal_filled" -> C("bal").fillNull(lit(0.0)),
        "bal_null" -> C("bal").isNull,
        "bal_nn" -> C("bal").isNotNull,
        "bal_clip" -> C("bal").clip(lit(0.0), lit(5000.0)),
        "seg_in" -> C("c_mktsegment").isIn(lit("BUILDING"), lit("MACHINERY")),
        "first_nn" -> coalesce(C("bal"), C("c_acctbal"), lit(-1.0)))
      .select(C("c_custkey"), C("bal"), C("bal_filled"), C("bal_null"), C("bal_nn"),
        C("bal_clip"), C("seg_in"), C("first_nn"))
      .arrange(C("c_custkey"))
      .toDF

  private val q18Oracle =
    """SELECT c_custkey, bal,
      |COALESCE(bal, 0.0) AS bal_filled,
      |bal IS NULL AS bal_null,
      |bal IS NOT NULL AS bal_nn,
      |CASE WHEN bal IS NULL THEN NULL ELSE LEAST(GREATEST(bal, 0.0), 5000.0) END AS bal_clip,
      |c_mktsegment IN ('BUILDING','MACHINERY') AS seg_in,
      |COALESCE(bal, c_acctbal, -1.0) AS first_nn
      |FROM (SELECT *, CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END AS bal FROM customer)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------
  // q19 — horizontal fns: hmax/hmin/coalesce/hany/hall/hsum
  // ---------------------------------------------------------------
  def q19Horizontal(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "lineitem")
      .mutate(
        "mx" -> hmax(C("l_discount"), C("l_tax")),
        "mn" -> hmin(C("l_discount"), C("l_tax")),
        "either" -> hany(C("l_discount") > lit(0.05), C("l_tax") > lit(0.05)),
        "both" -> hall(C("l_discount") > lit(0.05), C("l_tax") > lit(0.05)),
        "tot" -> hsum(C("l_discount"), C("l_tax")))
      .select(C("l_orderkey"), C("l_linenumber"), C("mx"), C("mn"), C("either"), C("both"), C("tot"))
      .arrange(C("l_orderkey"), C("l_linenumber"))
      .toDF

  private val q19Oracle =
    """SELECT l_orderkey, l_linenumber,
      |GREATEST(l_discount, l_tax) AS mx,
      |LEAST(l_discount, l_tax) AS mn,
      |(l_discount > 0.05 OR l_tax > 0.05) AS either,
      |(l_discount > 0.05 AND l_tax > 0.05) AS both,
      |l_discount + l_tax AS tot
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------
  // q20 — summarize with filter= kwarg (FILTER WHERE), any/all, min/max
  // ---------------------------------------------------------------
  def q20AggKwargs(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "lineitem")
      .groupBy(C("l_returnflag"))
      .summarize(
        "n_cheap" -> count(filter = C("l_extendedprice") < lit(10000.0)),
        "qty_cheap" -> C("l_quantity").cast(D18).sum(filter = C("l_extendedprice") < lit(10000.0)).cast(DoubleType),
        "any_big" -> (C("l_quantity") > lit(49.0)).any(),
        "all_pos" -> (C("l_quantity") > lit(0.0)).all(),
        "min_ship" -> C("l_shipdate").min(),
        "max_ship" -> C("l_shipdate").max(),
        "n_lines" -> count(),
        "avg_size" -> C("l_linenumber").mean())
      .arrange(C("l_returnflag"))
      .toDF

  private val q20Oracle =
    """SELECT l_returnflag,
      |COUNT(*) FILTER (WHERE l_extendedprice < 10000.0) AS n_cheap,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_extendedprice < 10000.0) AS DOUBLE) AS qty_cheap,
      |BOOL_OR(l_quantity > 49.0) AS any_big,
      |BOOL_AND(l_quantity > 0.0) AS all_pos,
      |MIN(l_shipdate) AS min_ship,
      |MAX(l_shipdate) AS max_ship,
      |COUNT(*) AS n_lines,
      |AVG(CAST(l_linenumber AS DOUBLE)) AS avg_size
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------
  // q21 — str.join (ordered string agg) + list.agg
  // ---------------------------------------------------------------
  def q21StrJoin(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "nation")
      .groupBy(C("n_regionkey"))
      .summarize(
        "nations" -> C("n_name").str.join(",", arrange = Seq(C("n_name"))),
        "n" -> count())
      .arrange(C("n_regionkey"))
      .toDF

  private val q21Oracle =
    """SELECT n_regionkey, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
      |COUNT(*) AS n
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------
  // q22 — alias + self-join (uuid reset, verbs.py:100-160)
  // ---------------------------------------------------------------
  def q22SelfJoin(s: SparkSession, dir: String): DataFrame = {
    val n1 = src(s, dir, "nation")
    val n2 = n1.alias("n2")
    n1.innerJoin(n2,
        (C("n_regionkey") === n2.col("n_regionkey")) && (C("n_nationkey") < n2.col("n_nationkey")))
      .select(C("n_name"), C("n_name_n2"), C("n_regionkey"))
      .arrange(C("n_name"), C("n_name_n2"))
      .toDF
  }

  private val q22Oracle =
    """SELECT a.n_name AS n_name, b.n_name AS n_name_n2, a.n_regionkey
      |FROM nation a JOIN nation b
      |ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
      |ORDER BY n_name, n_name_n2""".stripMargin

  // ---------------------------------------------------------------
  // q23 — numeric math fns
  // ---------------------------------------------------------------
  def q23Math(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "part")
      .mutate(
        "r2" -> C("p_retailprice").round(2),
        "rneg" -> C("p_retailprice").round(-1),
        "fl" -> C("p_retailprice").floor,
        "ce" -> C("p_retailprice").ceil,
        "ab" -> (lit(0.0) - C("p_retailprice")).abs,
        "sq" -> C("p_retailprice").sqrt,
        // transcendentals: libm vs java.lang.Math differ in the last ulp —
        // quantize to 6 decimals for cross-engine comparability
        "lg" -> C("p_retailprice").log.round(6),
        "l10" -> C("p_retailprice").log10.round(6),
        "ex" -> (C("p_size").cast(DoubleType) / lit(100.0)).exp.round(6),
        "pw" -> C("p_size").cast(DoubleType).pow(lit(2.0)).round(6),
        "ng" -> -C("p_size"))
      .select(C("p_partkey"), C("r2"), C("rneg"), C("fl"), C("ce"), C("ab"),
        C("sq"), C("lg"), C("l10"), C("ex"), C("pw"), C("ng"))
      .arrange(C("p_partkey"))
      .toDF

  private val q23Oracle =
    """SELECT p_partkey,
      |ROUND(p_retailprice, 2) AS r2,
      |ROUND(p_retailprice, -1) AS rneg,
      |FLOOR(p_retailprice) AS fl,
      |CEIL(p_retailprice) AS ce,
      |ABS(0.0 - p_retailprice) AS ab,
      |SQRT(p_retailprice) AS sq,
      |ROUND(LN(p_retailprice), 6) AS lg,
      |ROUND(LOG10(p_retailprice), 6) AS l10,
      |ROUND(EXP(CAST(p_size AS DOUBLE) / 100.0), 6) AS ex,
      |ROUND(POW(CAST(p_size AS DOUBLE), 2.0), 6) AS pw,
      |-p_size AS ng
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------
  // q24 — trig/cbrt + inf/nan predicates
  // ---------------------------------------------------------------
  def q24Trig(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "part")
      .mutate("x" -> C("p_size").cast(DoubleType) / lit(50.0))
      .mutate("v" -> when(C("p_size") % lit(3) === lit(0)).then_(lit(Double.NaN))
        .when(C("p_size") % lit(3) === lit(1)).then_(lit(Double.PositiveInfinity))
        .otherwise(C("x")))
      .mutate(
        "sn" -> C("x").sin.round(9),
        "cs" -> C("x").cos.round(9),
        "tn" -> C("x").tan.round(9),
        "at" -> C("x").atan.round(9),
        "cb" -> C("x").cbrt.round(9),
        "is_nan" -> C("v").isNan,
        "is_inf" -> C("v").isInf,
        "not_inf" -> C("v").isNotInf)
      .select(C("p_partkey"), C("sn"), C("cs"), C("tn"), C("at"), C("cb"),
        C("is_nan"), C("is_inf"), C("not_inf"))
      .arrange(C("p_partkey"))
      .toDF

  private val q24Oracle =
    """SELECT p_partkey,
      |ROUND(SIN(x), 9) AS sn, ROUND(COS(x), 9) AS cs, ROUND(TAN(x), 9) AS tn,
      |ROUND(ATAN(x), 9) AS at, ROUND(CBRT(x), 9) AS cb,
      |isnan(v) AS is_nan,
      |(v = 'infinity'::DOUBLE OR v = '-infinity'::DOUBLE) AS is_inf,
      |NOT (v = 'infinity'::DOUBLE OR v = '-infinity'::DOUBLE) AS not_inf
      |FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) / 50.0 AS x,
      |  CASE WHEN p_size % 3 = 0 THEN 'nan'::DOUBLE
      |       WHEN p_size % 3 = 1 THEN 'infinity'::DOUBLE
      |       ELSE CAST(p_size AS DOUBLE) / 50.0 END AS v
      |  FROM part)
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------
  // q25 — string→date/datetime parsing + regex contains
  // ---------------------------------------------------------------
  def q25Parse(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .mutate("ds" -> C("o_orderdate").cast(StringType).str.slice(lit(0), lit(10)))
      .mutate(
        "d" -> C("ds").str.toDate,
        "dt2" -> (C("ds") + lit(" 12:30:00")).str.toDatetime,
        "has_urgent" -> C("o_orderpriority").str.contains("URG|HIGH", allowRegex = true))
      .select(C("o_orderkey"), C("ds"), C("d"), C("dt2"), C("has_urgent"))
      .arrange(C("o_orderkey"))
      .toDF

  private val q25Oracle =
    """SELECT o_orderkey,
      |substring(CAST(o_orderdate AS VARCHAR), 1, 10) AS ds,
      |CAST(substring(CAST(o_orderdate AS VARCHAR), 1, 10) AS DATE) AS d,
      |CAST(substring(CAST(o_orderdate AS VARCHAR), 1, 10) || ' 12:30:00' AS TIMESTAMP) AS dt2,
      |regexp_matches(o_orderpriority, 'URG|HIGH') AS has_urgent
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q26 — nested slice_head (limit/offset merging) + collect/cache verb
  // ---------------------------------------------------------------
  def q26NestedSlice(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .arrange(C("o_orderkey"))
      .sliceHead(100, offset = 20)
      .sliceHead(10, offset = 5)
      .select(C("o_orderkey"))
      .toDF

  private val q26Oracle =
    """SELECT o_orderkey FROM (
      |SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 20)
      |LIMIT 10 OFFSET 5""".stripMargin

  // ---------------------------------------------------------------
  // q27 — statistical aggregates: count-distinct, median, quantile
  // ---------------------------------------------------------------
  def q27Stats(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .groupBy(C("o_orderstatus"))
      .summarize(
        "n_cust" -> C("o_custkey").nUnique(),
        "n_prio" -> C("o_orderpriority").nUnique(),
        "med_price" -> C("o_totalprice").median(),
        "q90_price" -> C("o_totalprice").quantile(0.9),
        "med_urgent" -> C("o_totalprice").median(filter = C("o_orderpriority") === lit("1-URGENT")))
      .arrange(C("o_orderstatus"))
      .toDF

  private val q27Oracle =
    """SELECT o_orderstatus,
      |COUNT(DISTINCT o_custkey) AS n_cust,
      |COUNT(DISTINCT o_orderpriority) AS n_prio,
      |CAST(MEDIAN(o_totalprice) AS DOUBLE) AS med_price,
      |CAST(QUANTILE_CONT(o_totalprice, 0.9) AS DOUBLE) AS q90_price,
      |CAST(MEDIAN(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END) AS DOUBLE) AS med_urgent
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------
  // q28 — oracle-coverage closers: asin/acos, xor, str.strip,
  // dur.minutes, is_not_nan, unary pos, shift with non-null fill,
  // nulls_first/nulls_last arrange markers (observable via slice_head)
  // ---------------------------------------------------------------
  def q28Coverage(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "customer")
      .mutate("x" -> ((C("c_custkey") % lit(7L)).cast(DoubleType) / lit(7.0) - lit(0.5)))
      .mutate(
        "v" -> when(C("c_custkey") % lit(5L) === lit(0L)).then_(lit(Double.NaN))
          .otherwise(C("c_acctbal")),
        "nb" -> when(C("c_custkey") % lit(4L) === lit(0L)).then_(lit(null))
          .otherwise(C("c_acctbal")),
        "nb2" -> when(C("c_custkey") % lit(3L) === lit(0L)).then_(lit(null))
          .otherwise(C("c_acctbal")))
      .mutate(
        "asn" -> C("x").asin.round(9),
        "acs" -> C("x").acos.round(9),
        "xr" -> ((C("c_custkey") % lit(2L) === lit(0L)) ^
          (C("c_nationkey") % lit(2L) === lit(0L))),
        "st" -> (lit("  ") + C("c_name") + lit(" ")).str.strip,
        "nn" -> C("v").isNotNan,
        "mins" -> (C("c_custkey") * lit(90000000L)).dur.minutes,
        "p" -> +C("c_acctbal"),
        "prev2" -> C("c_acctbal").shift(2, fill = lit(-1.0),
          partitionBy = Seq(C("c_mktsegment")), arrange = Seq(C("c_custkey"))))
      .arrange(C("nb").nullsFirst, C("nb2").desc.nullsLast, C("c_custkey"))
      .sliceHead(60)
      .select(C("c_custkey"), C("asn"), C("acs"), C("xr"), C("st"), C("nn"),
        C("mins"), C("p"), C("prev2"), C("nb"), C("nb2"))
      .toDF

  private val q28Oracle =
    """WITH b AS (
      |SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
      |  CAST(c_custkey % 7 AS DOUBLE) / 7.0 - 0.5 AS x,
      |  CASE WHEN c_custkey % 5 = 0 THEN 'nan'::DOUBLE ELSE c_acctbal END AS v,
      |  CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_acctbal END AS nb,
      |  CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS nb2
      |FROM customer)
      |SELECT c_custkey,
      |ROUND(ASIN(x), 9) AS asn, ROUND(ACOS(x), 9) AS acs,
      |((c_custkey % 2 = 0) != (c_nationkey % 2 = 0)) AS xr,
      |TRIM('  ' || c_name || ' ') AS st,
      |NOT isnan(v) AS nn,
      |(c_custkey * 90000000) // 60000000 AS mins,
      |c_acctbal AS p,
      |lag(c_acctbal, 2, -1.0) OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS prev2,
      |nb, nb2
      |FROM b
      |ORDER BY nb ASC NULLS FIRST, nb2 DESC NULLS LAST, c_custkey
      |LIMIT 60""".stripMargin

  // ---------------------------------------------------------------
  // q29 — Decimal-typed pipeline: casts, Decimal lca across CASE
  // branches, decimal arithmetic, decimal aggregation (as a window);
  // results rendered as strings (scale is part of the rendering, so
  // the lca/widening rules are observable in the hash)
  // ---------------------------------------------------------------
  def q29Decimal(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .mutate(
        "d1" -> C("o_totalprice").cast(DecimalType(12, 2)),
        "d2" -> C("o_totalprice").cast(DecimalType(14, 4)))
      .mutate(
        "mix" -> when(C("o_orderkey") % lit(2L) === lit(0L)).then_(C("d1"))
          .otherwise(C("d2")), // lca(Decimal(12,2), Decimal(14,4)) = Decimal(14,4)
        "pls" -> (C("d1") + C("d1")),
        "tot" -> C("d1").sum(partitionBy = Seq(C("o_orderstatus"))))
      .mutate(
        "d1s" -> C("d1").cast(StringType),
        "mixs" -> C("mix").cast(StringType),
        "plss" -> C("pls").cast(StringType),
        "tots" -> C("tot").cast(StringType))
      .select(C("o_orderkey"), C("d1s"), C("mixs"), C("plss"), C("tots"))
      .arrange(C("o_orderkey"))
      .toDF

  private val q29Oracle =
    """WITH b AS (SELECT o_orderkey, o_orderstatus,
      |  CAST(o_totalprice AS DECIMAL(12,2)) AS d1,
      |  CAST(o_totalprice AS DECIMAL(14,4)) AS d2 FROM orders)
      |SELECT o_orderkey,
      |CAST(d1 AS VARCHAR) AS d1s,
      |CAST(CASE WHEN o_orderkey % 2 = 0 THEN d1 ELSE d2 END AS VARCHAR) AS mixs,
      |CAST(d1 + d1 AS VARCHAR) AS plss,
      |CAST(SUM(d1) OVER (PARTITION BY o_orderstatus) AS VARCHAR) AS tots
      |FROM b ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q31 — Enum type (reference types.py Enum; SURVEY §1.2 "String +
  // check constraint"): strict cast to an in-set enum passes values
  // through, try_cast to a narrower enum nulls out-of-set values,
  // enum columns compare against (validated) in-set literals and feed
  // String-typed ops; runtime stays String so the oracle is plain SQL
  // ---------------------------------------------------------------
  def q31Enum(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .mutate(
        "st" -> C("o_orderstatus").cast(EnumType(Seq("O", "F", "P"))),
        "pri" -> C("o_orderpriority").tryCast(
          EnumType(Seq("1-URGENT", "2-HIGH"))))
      .mutate(
        "is_open" -> (C("st") === lit("O")), // literal checked against the set
        "st_low" -> C("st").str.lower) // Enum converts into Str-typed params
      .groupBy(C("st"))
      .summarize(
        "n" -> count(),
        "n_prio" -> C("pri").count(), // non-null = in-set priorities
        "n_open" -> C("is_open").sum(),
        "st_low" -> C("st_low").min())
      .arrange(C("st"))
      .toDF

  private val q31Oracle =
    """WITH b AS (SELECT o_orderstatus AS st,
      |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN o_orderpriority END AS pri
      |  FROM orders)
      |SELECT st, CAST(COUNT(*) AS BIGINT) AS n,
      |CAST(COUNT(pri) AS BIGINT) AS n_prio,
      |CAST(SUM(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
      |MIN(LOWER(st)) AS st_low
      |FROM b GROUP BY st ORDER BY st""".stripMargin

  // ---------------------------------------------------------------
  // q32 — Time type (reference types.py:258,292,332: COMPARABLE-only
  // time-of-day scalar; Spark 4 TimeType behind spark.sql.timeType
  // .enabled). Times enter as literals — the reference admits no casts
  // to Time — and flow through compare / clip / min/max / sort; the
  // result carries TIME(6) columns through parquet to the DuckDB TIME
  // oracle.
  // ---------------------------------------------------------------
  def q32Time(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .mutate("slot" ->
        when(C("o_orderpriority") === lit("1-URGENT")).then_(time("06:00:00"))
          .when(C("o_orderpriority") === lit("2-HIGH")).then_(time("09:30:00"))
          .when(C("o_orderpriority") === lit("3-MEDIUM")).then_(time("13:45:15"))
          .otherwise(time("21:15:00")))
      .mutate(
        "clipped" -> C("slot").clip(time("08:00:00"), time("18:00:00")),
        "late" -> (C("slot") > time("12:00:00")))
      .groupBy(C("o_orderstatus"))
      .summarize(
        "mn" -> C("slot").min(),
        "mx" -> C("slot").max(),
        "mn_clip" -> C("clipped").min(),
        "n_late" -> C("late").sum())
      .arrange(C("o_orderstatus"))
      .toDF

  private val q32Oracle =
    """WITH b AS (SELECT o_orderstatus,
      |  CASE WHEN o_orderpriority = '1-URGENT' THEN TIME '06:00:00'
      |       WHEN o_orderpriority = '2-HIGH' THEN TIME '09:30:00'
      |       WHEN o_orderpriority = '3-MEDIUM' THEN TIME '13:45:15'
      |       ELSE TIME '21:15:00' END AS slot
      |  FROM orders)
      |SELECT o_orderstatus, MIN(slot) AS mn, MAX(slot) AS mx,
      |MIN(LEAST(GREATEST(slot, TIME '08:00:00'), TIME '18:00:00')) AS mn_clip,
      |CAST(SUM(CASE WHEN slot > TIME '12:00:00' THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_late
      |FROM b GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------
  // q33 — UInt types (reference types.py UInt8..UInt64; SURVEY §1.2
  // maps UInt8→Short, UInt16→Int, UInt32→Long, UInt64→Decimal(20,0)).
  // strict cast passes in-range values into the carrier, try_cast
  // nulls out-of-range (negative or > 2^bits−1); arithmetic and
  // aggregation dissolve to the carrier, so the runtime schema is the
  // SURVEY mapping exactly and the oracle is plain signed SQL with an
  // explicit range CASE.
  // ---------------------------------------------------------------
  def q33UInt(s: SparkSession, dir: String): DataFrame =
    src(s, dir, "orders")
      .mutate(
        "u8" -> (C("o_orderkey") % lit(300L)).tryCast(UIntType(8)),
        "u16" -> (C("o_orderkey") % lit(70000L)).tryCast(UIntType(16)),
        "u32" -> C("o_orderkey").cast(UIntType(32)), // strict: keys > 0
        "u64" -> C("o_orderkey").cast(UIntType(64)),
        "neg" -> (lit(0L) - C("o_orderkey")).tryCast(UIntType(8)))
      .mutate("u8_plus" -> (C("u8") + lit(1L))) // Short carrier + Long → Long
      .groupBy(C("o_orderstatus"))
      .summarize(
        "n_u8" -> C("u8").count(),
        "mx_u8" -> C("u8").max(),
        "mx_u16" -> C("u16").max(),
        "n_neg" -> C("neg").count(), // all negative → all null → 0
        "sum_u32" -> C("u32").sum(),
        // the UInt64 aggregate dissolves to Decimal(20,0) and Spark's SUM
        // widens it to Decimal(30,0) — value-equal to DuckDB's but not
        // representation-stable under the driver's hasher (decimal scale/
        // canonicalization differs across engines), so the OUTPUT column
        // is cast to DOUBLE on both sides (exact here: sums ≪ 2^53); the
        // UInt64 cast + aggregate machinery is still exercised in full
        "sum_u64" -> C("u64").sum().cast(DoubleType),
        "mx_plus" -> C("u8_plus").max())
      .arrange(C("o_orderstatus"))
      .toDF

  private val q33Oracle =
    """WITH b AS (SELECT o_orderstatus,
      |  CASE WHEN o_orderkey % 300 BETWEEN 0 AND 255
      |    THEN CAST(o_orderkey % 300 AS SMALLINT) END AS u8,
      |  CASE WHEN o_orderkey % 70000 BETWEEN 0 AND 65535
      |    THEN CAST(o_orderkey % 70000 AS INTEGER) END AS u16,
      |  CAST(o_orderkey AS BIGINT) AS u32,
      |  CAST(o_orderkey AS DECIMAL(20,0)) AS u64,
      |  CASE WHEN (0 - o_orderkey) BETWEEN 0 AND 255
      |    THEN CAST(0 - o_orderkey AS SMALLINT) END AS neg
      |  FROM orders)
      |SELECT o_orderstatus,
      |CAST(COUNT(u8) AS BIGINT) AS n_u8,
      |MAX(u8) AS mx_u8,
      |MAX(u16) AS mx_u16,
      |CAST(COUNT(neg) AS BIGINT) AS n_neg,
      |CAST(SUM(u32) AS BIGINT) AS sum_u32,
      |CAST(SUM(u64) AS DOUBLE) AS sum_u64,
      |MAX(CAST(u8 AS BIGINT) + 1) AS mx_plus
      |FROM b GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** rand() and approx_n_unique are the two expression ops whose VALUES
    * are inherently unoracleable (nondeterministic; HLL-estimated) —
    * spec-only for eight rounds. Like x49, this hashes their CONTRACTS
    * as constant-TRUE booleans instead: every rand draw lies in [0,1),
    * the draws are collision-free at fixture scale (~1500 doubles vs
    * 2^53 values) with a mean well inside 0.35..0.65 (>6 sigma at n=150),
    * and the HLL estimate of a 25-value column is exact (dense mode),
    * bounded here at 3x the default 5% rsd. Any violated bound flips a
    * hashed cell. rand()'s seed is fixed at expression creation, so
    * re-executions of the same plan are deterministic. */
  private def q43RandApprox(s: SparkSession, dir: String): DataFrame =
    Table.source(s, dir, "customer")
      .mutate("r" -> rand())
      .summarize(
        "in_unit" -> ((C("r") >= lit(0.0)) && (C("r") < lit(1.0))).all(),
        "n" -> count(),
        "nr" -> C("r").nUnique(),
        "mr" -> C("r").mean(),
        "ex" -> C("c_nationkey").nUnique(),
        "ap" -> C("c_nationkey").approxNUnique())
      .mutate(
        "rand_in_unit" -> C("in_unit"),
        "rand_collision_free" -> (C("nr") === C("n")),
        "rand_mean_centered" -> ((C("mr") > lit(0.35)) && (C("mr") < lit(0.65))),
        "approx_within_rsd" ->
          ((C("ap").cast(DoubleType) / C("ex").cast(DoubleType) > lit(0.85)) &&
            (C("ap").cast(DoubleType) / C("ex").cast(DoubleType) < lit(1.15))))
      .select(C("rand_in_unit"), C("rand_collision_free"),
        C("rand_mean_centered"), C("approx_within_rsd"))
      .toDF

  private val q43Oracle =
    """SELECT TRUE AS rand_in_unit, TRUE AS rand_collision_free,
      |  TRUE AS rand_mean_centered, TRUE AS approx_within_rsd""".stripMargin

  // ---------------------------------------------------------------
  // q47 — union LCA widening, one arm per promotion class. The union
  // verb routes mismatched branch types through the lca lattice
  // (core/types.scala:91-133); q41 pins the lattice via CASE mixing,
  // this pins it through the UNION path where the oracle spells out
  // the EXPECTED lca type with explicit casts — so a drifted
  // promotion changes the values, not just the schema. Arms:
  //   a1  int32 ∪ int64           → int64
  //   a2  int64 ∪ double          → double (exact: keys < 2^53)
  //   a3  date ∪ timestamp        → timestamp (documented delta:
  //       dates widen to MIDNIGHT timestamps, README "Deltas")
  //   a4  decimal(12,2) ∪ (9,4)   → decimal(14,4) (carry int part,
  //       max scale); rendering pinned via VARCHAR like q41
  //   a5  int64 ∪ decimal(10,2)   → decimal(22,2) (long enters as
  //       decimal(20,0))
  // Each arm reduces to one aggregate row; arms cross-join to the
  // single output row (1×1 joins, no data movement).
  // ---------------------------------------------------------------
  private def q47UnionLca(s: SparkSession, dir: String): DataFrame = {
    val D286 = DecimalType(28, 6)
    val a1 = src(s, dir, "lineitem").select(C("l_linenumber")).rename(Map("l_linenumber" -> "v"))
      .union(src(s, dir, "lineitem").select(C("l_orderkey")).rename(Map("l_orderkey" -> "v")))
      .summarize("a1_n" -> count(), "a1_s" -> C("v").sum(),
        "a1_mn" -> C("v").min(), "a1_mx" -> C("v").max())
    val a2 = src(s, dir, "orders").select(C("o_orderkey")).rename(Map("o_orderkey" -> "v"))
      .union(src(s, dir, "orders").select(C("o_totalprice")).rename(Map("o_totalprice" -> "v")))
      .summarize("a2_n" -> count(),
        "a2_s" -> C("v").cast(D286).sum().cast(DoubleType),
        "a2_mn" -> C("v").min(), "a2_mx" -> C("v").max())
    val a3 = src(s, dir, "lineitem")
      .mutate("v" -> C("l_shipdate").cast(DateType)).select(C("v"))
      .union(src(s, dir, "orders").select(C("o_orderdate")).rename(Map("o_orderdate" -> "v")))
      .summarize("a3_n" -> count(), "a3_mn" -> C("v").min(), "a3_mx" -> C("v").max())
    val a4 = src(s, dir, "lineitem")
      .mutate("v" -> C("l_quantity").cast(DecimalType(12, 2))).select(C("v"))
      .union(src(s, dir, "lineitem")
        .mutate("v" -> C("l_discount").cast(DecimalType(9, 4))).select(C("v")))
      .summarize("a4_n" -> count(),
        "a4_s" -> C("v").sum().cast(DecimalType(28, 4)).cast(StringType),
        "a4_mn" -> C("v").min().cast(StringType),
        "a4_mx" -> C("v").max().cast(StringType))
    val a5 = src(s, dir, "orders").select(C("o_custkey")).rename(Map("o_custkey" -> "v"))
      .union(src(s, dir, "lineitem")
        .mutate("v" -> C("l_quantity").cast(DecimalType(10, 2))).select(C("v")))
      .summarize("a5_n" -> count(),
        "a5_mn" -> C("v").min().cast(StringType),
        "a5_mx" -> C("v").max().cast(StringType))
    a1.crossJoin(a2).crossJoin(a3).crossJoin(a4).crossJoin(a5).toDF
  }

  private val q47Oracle =
    """SELECT * FROM
      |(SELECT COUNT(*) AS a1_n, CAST(SUM(v) AS BIGINT) AS a1_s,
      |   MIN(v) AS a1_mn, MAX(v) AS a1_mx FROM (
      |   SELECT CAST(l_linenumber AS BIGINT) AS v FROM lineitem
      |   UNION ALL SELECT l_orderkey FROM lineitem))
      |CROSS JOIN
      |(SELECT COUNT(*) AS a2_n,
      |   CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS a2_s,
      |   MIN(v) AS a2_mn, MAX(v) AS a2_mx FROM (
      |   SELECT CAST(o_orderkey AS DOUBLE) AS v FROM orders
      |   UNION ALL SELECT o_totalprice FROM orders))
      |CROSS JOIN
      |(SELECT COUNT(*) AS a3_n, MIN(v) AS a3_mn, MAX(v) AS a3_mx FROM (
      |   SELECT CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP) AS v FROM lineitem
      |   UNION ALL SELECT o_orderdate FROM orders))
      |CROSS JOIN
      |(SELECT COUNT(*) AS a4_n,
      |   CAST(CAST(SUM(v) AS DECIMAL(28,4)) AS VARCHAR) AS a4_s,
      |   CAST(MIN(v) AS VARCHAR) AS a4_mn, CAST(MAX(v) AS VARCHAR) AS a4_mx
      | FROM (
      |   SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(14,4)) AS v
      |   FROM lineitem
      |   UNION ALL
      |   SELECT CAST(CAST(l_discount AS DECIMAL(9,4)) AS DECIMAL(14,4))
      |   FROM lineitem))
      |CROSS JOIN
      |(SELECT COUNT(*) AS a5_n,
      |   CAST(MIN(v) AS VARCHAR) AS a5_mn, CAST(MAX(v) AS VARCHAR) AS a5_mx
      | FROM (
      |   SELECT CAST(o_custkey AS DECIMAL(22,2)) AS v FROM orders
      |   UNION ALL
      |   SELECT CAST(CAST(l_quantity AS DECIMAL(10,2)) AS DECIMAL(22,2)) AS v
      |   FROM lineitem))""".stripMargin

  // ---------------------------------------------------------------
  // registry — declared after every oracle val it reads (an earlier
  // position would capture null at object initialization)
  // ---------------------------------------------------------------

  val all: Seq[QuerySpec] = Seq(
    QuerySpec("q01_summarize_flagship", q1Agg, q1Oracle),
    QuerySpec("q02_select_mutate_arith", q2Mutate, q2Oracle),
    QuerySpec("q03_filter_isin_boolops", q3Filter, q3Oracle),
    QuerySpec("q04_arrange_slice_head", q4ArrangeSlice, q4Oracle),
    QuerySpec("q05_rename_drop", q5RenameDrop, q5Oracle),
    QuerySpec("q06_join_inner", q6JoinInner, q6Oracle),
    QuerySpec("q07_join_left", q7JoinLeft, q7Oracle),
    QuerySpec("q08_join_full", q8JoinFull, q8Oracle),
    QuerySpec("q09_join_cross", q9CrossJoin, q9Oracle),
    QuerySpec("q10_union_all", q10Union, q10Oracle),
    QuerySpec("q10b_union_distinct", q10b, q10bOracle),
    QuerySpec("q11_window_rank_family", q11WindowRank, q11Oracle),
    QuerySpec("q12_window_shift_cumsum", q12WindowShift, q12Oracle),
    QuerySpec("q13_grouped_mutate_window", q13GroupedMutate, q13Oracle),
    QuerySpec("q14_string_ops", q14Strings, q14Oracle),
    QuerySpec("q15_datetime_ops", q15Datetime, q15Oracle),
    QuerySpec("q16_duration_ops", q16Duration, q16Oracle),
    QuerySpec("q17_case_map_cast", q17CaseCast, q17Oracle),
    QuerySpec("q18_null_ops", q18NullOps, q18Oracle),
    QuerySpec("q19_horizontal_fns", q19Horizontal, q19Oracle),
    QuerySpec("q20_summarize_filter_kwarg", q20AggKwargs, q20Oracle),
    QuerySpec("q21_str_join_agg", q21StrJoin, q21Oracle),
    QuerySpec("q22_alias_self_join", q22SelfJoin, q22Oracle),
    QuerySpec("q23_numeric_math", q23Math, q23Oracle),
    QuerySpec("q24_trig_inf_nan", q24Trig, q24Oracle),
    QuerySpec("q25_parse_regex", q25Parse, q25Oracle),
    QuerySpec("q26_nested_slice", q26NestedSlice, q26Oracle),
    QuerySpec("q27_stats_aggregates", q27Stats, q27Oracle),
    QuerySpec("q28_coverage_closers", q28Coverage, q28Oracle),
    QuerySpec("q29_decimal_pipeline", q29Decimal, q29Oracle),
    QuerySpec("q30_diff_fuzz_battery", DiffFuzz.query, DiffFuzz.oracle),
    QuerySpec("q31_enum_cast", q31Enum, q31Oracle),
    QuerySpec("q32_time_type", q32Time, q32Oracle),
    QuerySpec("q33_uint_types", q33UInt, q33Oracle),
    QuerySpec("q34_window_fuzz_battery", DiffFuzz.windowQuery, DiffFuzz.windowOracle),
    QuerySpec("q35_agg_fuzz_battery", DiffFuzz.aggQuery, DiffFuzz.aggOracle),
    QuerySpec("q36_join_fuzz_battery", DiffFuzz.joinQuery, DiffFuzz.joinOracle),
    QuerySpec("q37_pipeline_fuzz_battery", DiffFuzz.pipelineQuery,
      DiffFuzz.pipelineOracle),
    QuerySpec("q38_datetime_fuzz_battery", DiffFuzz.dtQuery, DiffFuzz.dtOracle),
    QuerySpec("q39_ordered_agg_fuzz_battery", DiffFuzz.oaQuery, DiffFuzz.oaOracle),
    QuerySpec("q40_special_double_battery", DiffFuzz.spQuery, DiffFuzz.spOracle),
    QuerySpec("q41_decimal_fuzz_battery", DiffFuzz.decQuery, DiffFuzz.decOracle),
    QuerySpec("q42_cast_fuzz_battery", DiffFuzz.castQuery, DiffFuzz.castOracle),
    QuerySpec("q43_rand_approx_properties", q43RandApprox, q43Oracle),
    QuerySpec("q44_quantile_fuzz_battery", DiffFuzz.quantileQuery,
      DiffFuzz.quantileOracle),
    QuerySpec("q45_string_fuzz_battery", DiffFuzz.strQuery, DiffFuzz.strOracle),
    QuerySpec("q46_special_key_battery", DiffFuzz.specialKeyQuery,
      DiffFuzz.specialKeyOracle),
    QuerySpec("q47_union_lca", q47UnionLca, q47Oracle))
}
