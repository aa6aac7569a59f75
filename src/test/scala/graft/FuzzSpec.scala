package graft

import org.scalacheck.{Gen, rng}
import org.apache.spark.sql.types._
import graft.core._
import graft.dsl._
import graft.sqlgen.SqlGen

/** Differential expression fuzzing (port of the reference's fuzz.py idea):
  * random type-correct expression trees are compiled twice — through the
  * graft ExprCompiler and through Spark's SQL parser via SqlGen — and the
  * results must be identical row-for-row. Two independent compilation
  * paths over the same engine catch compiler bugs the golden tests miss. */
class FuzzSpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Ty
  private case object TLong extends Ty
  private case object TDouble extends Ty
  private case object TBool extends Ty
  private case object TStr extends Ty

  private val cols: Map[Ty, Seq[String]] = Map(
    TLong -> Seq("a", "a2"), TDouble -> Seq("b", "b2"),
    TBool -> Seq("d"), TStr -> Seq("c"))

  private def litGen(t: Ty): Gen[ColExpr] = t match {
    case TLong => Gen.oneOf(Gen.choose(-5L, 5L).map(v => lit(v)),
      Gen.const(Lit(null, Some(LongType))))
    case TDouble => Gen.oneOf(Gen.choose(-4.0, 4.0).map(v => lit(v)),
      Gen.const(Lit(null, Some(DoubleType))))
    case TBool => Gen.oneOf(lit(true), lit(false), Lit(null, Some(BooleanType)))
    case TStr => Gen.oneOf(lit("x"), lit("yy"), lit(""), Lit(null, Some(StringType)))
  }

  private def colGen(t: Ty): Gen[ColExpr] =
    Gen.oneOf(cols(t)).map(n => C(n))

  private def leaf(t: Ty): Gen[ColExpr] = Gen.frequency(3 -> colGen(t), 1 -> litGen(t))

  private def expr(t: Ty, depth: Int): Gen[ColExpr] =
    if (depth <= 0) leaf(t)
    else Gen.frequency(2 -> leaf(t), 5 -> node(t, depth))

  private def numTy: Gen[Ty] = Gen.oneOf(TLong, TDouble)

  private def node(t: Ty, d: Int): Gen[ColExpr] = t match {
    case TLong => Gen.oneOf(
      for { x <- expr(TLong, d - 1); y <- expr(TLong, d - 1) } yield x + y,
      for { x <- expr(TLong, d - 1); y <- expr(TLong, d - 1) } yield x - y,
      for { x <- expr(TLong, d - 1); y <- expr(TLong, d - 1) } yield x * y,
      for { x <- expr(TLong, d - 1) } yield x.abs,
      for { x <- expr(TLong, d - 1) } yield -x,
      for { x <- expr(TStr, d - 1) } yield x.str.len,
      for { x <- expr(TLong, d - 1); y <- expr(TLong, d - 1) } yield x.fillNull(y),
      for { c <- expr(TBool, d - 1); x <- expr(TLong, d - 1); y <- expr(TLong, d - 1) }
        yield when(c).then_(x).otherwise(y),
      // clip bounds are Const params (literals only, reference string.py
      // Const enforcement) — order them at generation time
      for { x <- expr(TLong, d - 1); a <- Gen.choose(-6L, 6L); b <- Gen.choose(-6L, 6L) }
        yield x.clip(lit(math.min(a, b)), lit(math.max(a, b))))
    case TDouble => Gen.oneOf(
      for { x <- expr(TDouble, d - 1); y <- expr(TDouble, d - 1) } yield x + y,
      for { x <- expr(TDouble, d - 1); y <- expr(TDouble, d - 1) } yield x * y,
      for { x <- numTy.flatMap(expr(_, d - 1)); y <- numTy.flatMap(expr(_, d - 1)) } yield x / y,
      for { x <- expr(TDouble, d - 1) } yield x.abs,
      for { x <- expr(TDouble, d - 1); y <- expr(TDouble, d - 1) } yield hmax(x, y),
      for { x <- expr(TDouble, d - 1); y <- expr(TDouble, d - 1) } yield hmin(x, y),
      for { x <- expr(TDouble, d - 1); y <- expr(TDouble, d - 1) } yield coalesce(x, y),
      for { c <- expr(TBool, d - 1); x <- expr(TDouble, d - 1); y <- expr(TDouble, d - 1) }
        yield when(c).then_(x).otherwise(y))
    case TBool => Gen.oneOf(
      for { ty <- numTy; x <- expr(ty, d - 1); y <- expr(ty, d - 1) } yield x < y,
      for { ty <- numTy; x <- expr(ty, d - 1); y <- expr(ty, d - 1) } yield x >= y,
      for { ty <- numTy; x <- expr(ty, d - 1); y <- expr(ty, d - 1) } yield x === y,
      for { x <- expr(TStr, d - 1); y <- expr(TStr, d - 1) } yield x =!= y,
      for { x <- expr(TBool, d - 1); y <- expr(TBool, d - 1) } yield x && y,
      for { x <- expr(TBool, d - 1); y <- expr(TBool, d - 1) } yield x || y,
      for { x <- expr(TBool, d - 1); y <- expr(TBool, d - 1) } yield x ^ y,
      for { x <- expr(TBool, d - 1) } yield !x,
      for { ty <- Gen.oneOf(TLong, TDouble, TStr); x <- expr(ty, d - 1) } yield x.isNull,
      for { x <- expr(TLong, d - 1); v1 <- litGen(TLong); v2 <- litGen(TLong) }
        yield x.isIn(v1, v2))
    case TStr => Gen.oneOf(
      for { x <- expr(TStr, d - 1) } yield x.str.upper,
      for { x <- expr(TStr, d - 1) } yield x.str.lower,
      for { x <- expr(TStr, d - 1) } yield x.str.strip,
      for { x <- expr(TStr, d - 1); y <- expr(TStr, d - 1) } yield x.fillNull(y),
      for { c <- expr(TBool, d - 1); x <- expr(TStr, d - 1); y <- expr(TStr, d - 1) }
        yield when(c).then_(x).otherwise(y))
  }

  private lazy val df = {
    val d = Seq[(java.lang.Long, java.lang.Long, java.lang.Double, java.lang.Double, String, java.lang.Boolean)](
      (1L, 4L, 1.5, -0.5, "x", true),
      (-2L, null, -2.25, 3.5, " y ", false),
      (null, 0L, null, 0.0, "", null),
      (3L, -1L, 0.0, null, null, true),
      (5L, 5L, 2.5, 2.5, "YY", null),
      (Long.MaxValue / 4, 1L, -0.0, 1e50, "%_", false),
      (-7L, 2L, 1e-51, -1.2e-39, "x" * 100, true)
    ).toDF("a", "a2", "b", "b2", "c", "d")
    d.createOrReplaceTempView("fuzz_t")
    d
  }

  // deepen with GRAFT_FUZZ_N=2000 for one-off assurance runs
  private val iterations = sys.env.getOrElse("GRAFT_FUZZ_N", "300").toInt

  test(s"fuzz: DSL compiler == Spark SQL parser on $iterations random expression trees") {
    val t = tbl(df, "fuzz")
    val seed0 = rng.Seed(42L)
    var seed = seed0
    var n = 0
    var checked = 0
    val tyGen = Gen.oneOf[Ty](TLong, TDouble, TBool, TStr)
    while (n < iterations) {
      n += 1
      val g = for { ty <- tyGen; e <- expr(ty, 3) } yield e
      val e = g.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val viaDsl = t.mutate("r" -> e).select(C("r")).toDF.collect().map(_.get(0)).toSeq
      val sql = SqlGen.exprSql(resolve(t, e), u => nameOfUuid(t, u))
      val viaSql = spark.sql(s"SELECT $sql AS r FROM fuzz_t").collect().map(_.get(0)).toSeq
      assert(viaDsl == viaSql,
        s"\nexpr: $e\nsql: $sql\ndsl=$viaDsl\nsql=$viaSql")
      checked += 1
    }
    assert(checked == iterations)
  }

  private val fixtureDir = "/root/testdata/sf0.001"

  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm small-input fuzz battery compiles no generated class") {
    def run(): Unit = graft.fuzz.DiffFuzz.joinQuery(spark, fixtureDir).collect()
    run()
    val before = compiles
    run()
    assert(compiles - before == 0)
  }

  test("the parent session still compiles generated classes") {
    // a fresh literal is inlined into the generated source: a class no
    // cache holds
    val before = compiles
    spark.range(3).selectExpr(s"id + ${System.nanoTime()}L AS v").collect()
    assert(compiles - before >= 1)
  }

  test("fixture batteries interpret below 1 MB of largest source, compile above") {
    val cut = 1L << 20
    Seq(0L, 34L << 10, cut - 1).foreach(b => assert(
      graft.fuzz.DiffFuzz.fixtureConfFor(b) == SparkEntry.fixtureInterpretedConf, b))
    Seq(cut, 2L << 20, Long.MaxValue).foreach(b => assert(
      graft.fuzz.DiffFuzz.fixtureConfFor(b) == SparkEntry.fixtureConf, b))
    assert(SparkEntry.fixtureInterpretedConf ==
      SparkEntry.fixtureConf + ("spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
  }

  // resolve CNames so SqlGen sees ColRefs with uuids mapped back to names
  private def resolve(t: graft.table.Table, e: ColExpr): ColExpr = e match {
    case CName(n) => t.col(n)
    case Fn(op, args, pb, arr, fc) => Fn(op, args.map(resolve(t, _)),
      pb.map(resolve(t, _)), arr.map(o => o.copy(e = resolve(t, o.e))), fc.map(resolve(t, _)))
    case CaseE(bs, o) => CaseE(bs.map { case (c, v) => (resolve(t, c), resolve(t, v)) },
      o.map(resolve(t, _)))
    case CastE(i, ty, s) => CastE(resolve(t, i), ty, s)
    case Marker(i, d2, nl) => Marker(resolve(t, i), d2, nl)
    case other => other
  }

  private def nameOfUuid(t: graft.table.Table, u: Long): String =
    t.columns.find(n => t.col(n).uuid == u).getOrElse(sys.error(s"uuid $u"))
}
