package graft

import scala.collection.immutable.ListMap

/** Plan-shape regression guard over the ENTIRE driver surface.
  *
  * The hash oracle (Verify + DuckDB) catches value regressions; nothing
  * so far caught *plan* regressions — an extra shuffle creeping into a
  * query, a broadcast silently degrading to a shuffled join, or a
  * cartesian product appearing where an equi-join used to be. At sf0.01
  * those are invisible in wall-clock; at 100 TB each one is an incident.
  *
  * This spec builds every [[SparkEntry.specs]] query (plus every
  * [[QuerySpec.bench]] production-posture substitute) against
  * the sf0.01 fixtures with AQE pinned OFF — the static physical plan is
  * deterministic for fixed input stats — and counts the operators whose
  * presence IS the cost model:
  *
  *   - `ShuffleExchangeExec`  — each one is a cluster-wide repartition
  *   - `BroadcastExchangeExec` — each one is a driver-collected build side
  *   - `BroadcastNestedLoopJoinExec` — broadcast cartesian (bounded side)
  *   - `CartesianProductExec` — UNBOUNDED cartesian: never acceptable
  *
  * The observed counts must match `src/test/resources/plan_budgets.tsv`
  * EXACTLY — a count above golden is a regression, a count below golden
  * means the plan improved and the golden must be tightened (regenerate
  * with GRAFT_REGEN_PLAN_BUDGETS=1, review the diff, commit). Either way
  * the change is surfaced in review instead of shipping silently.
  *
  * Reused exchanges (`ReusedExchangeExec`) are not counted: a reused
  * exchange is the *absence* of a second shuffle, which is exactly what
  * the budget should reward.
  */
class PlanAuditSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.01"
  private val goldenPath =
    java.nio.file.Paths.get("src/test/resources/plan_budgets.tsv")
  private val regen = sys.env.get("GRAFT_REGEN_PLAN_BUDGETS").contains("1")

  private case class Budget(shuffles: Int, broadcasts: Int, bnlj: Int,
      cartesian: Int) {
    def tsv: String = s"$shuffles\t$broadcasts\t$bnlj\t$cartesian"
  }

  private def audit(df: org.apache.spark.sql.DataFrame): Budget = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // executedPlan triggers planning only, not execution; subqueries
    // (scalar/IN) plan their own trees — include them, they shuffle too
    val roots = {
      val p = df.queryExecution.executedPlan
      p +: p.collect {
        case n => n.expressions.flatMap(_.collect {
          case e: org.apache.spark.sql.execution.ScalarSubquery => e.plan
          case e: org.apache.spark.sql.execution.InSubqueryExec => e.plan
        })
      }.flatten
    }
    val nodes = roots.flatMap(_.collect { case n => n })
    Budget(
      nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      nodes.count(_.isInstanceOf[CartesianProductExec]))
  }

  private def loadGolden(): Map[String, Budget] =
    if (!java.nio.file.Files.exists(goldenPath)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(goldenPath).asScala
        .filterNot(l => l.isEmpty || l.startsWith("#"))
        .map { l =>
          val f = l.split("\t")
          f(0) -> Budget(f(1).toInt, f(2).toInt, f(3).toInt, f(4).toInt)
        }.toMap
    }

  test("every driver query matches its golden exchange budget") {
    // Bench-posture substitutes audit under "<name>@bench" — the bench
    // path is the production path, its plan shape matters most of all
    val specs = SparkEntry.specs.sortBy(_.name)
    val all = ListMap(specs.map(q => q.name -> q.build) ++
      specs.flatMap(q => q.bench.map(s"${q.name}@bench" -> _)): _*)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val observed = try {
      all.map { case (name, mk) =>
        val b = try audit(mk(spark, sfDir)) catch {
          case e: Throwable => fail(s"$name failed to plan: ${e.getMessage.take(300)}", e)
        }
        name -> b
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    if (regen) {
      val body = "# query\tshuffles\tbroadcasts\tbnlj\tcartesian\n" +
        observed.map { case (n, b) => s"$n\t${b.tsv}" }.mkString("\n") + "\n"
      java.nio.file.Files.createDirectories(goldenPath.getParent)
      java.nio.file.Files.write(goldenPath, body.getBytes("UTF-8"))
      info(s"regenerated ${goldenPath} with ${observed.size} budgets")
    } else {
      val golden = loadGolden()
      assert(golden.nonEmpty,
        s"no golden budgets at $goldenPath — run once with GRAFT_REGEN_PLAN_BUDGETS=1")
      val problems = observed.flatMap { case (name, b) =>
        golden.get(name) match {
          case None => Some(s"$name: NEW query (no golden) — observed [${b.tsv}]; regen + review")
          case Some(g) if g != b =>
            val dir = if (b.shuffles > g.shuffles || b.cartesian > g.cartesian ||
              b.bnlj > g.bnlj) "REGRESSION" else "CHANGED (improved? tighten golden)"
            Some(s"$name: $dir — golden [${g.tsv}] observed [${b.tsv}]")
          case _ => None
        }
      } ++ golden.keys.filterNot(observed.contains).map(n =>
        s"$n: golden entry has no query — stale golden, regen")
      assert(problems.isEmpty,
        s"${problems.size} plan-budget mismatches (shuffles\tbroadcasts\tbnlj\tcartesian):\n" +
          problems.mkString("\n"))
    }

    // invariants independent of the goldens: an UNBOUNDED cartesian is
    // never an acceptable plan at 100 TB, budgeted or not
    val cartesian = observed.collect { case (n, b) if b.cartesian > 0 => n }
    assert(cartesian.isEmpty,
      s"CartesianProductExec (non-broadcast cartesian) in: ${cartesian.mkString(", ")}")
  }

  test("the Jaccard probe evaluates its size guard before the intersection merge") {
    // index.probeJaccardIndex builds ONE `guard && jaccard >= minJ`
    // filter so the cheap set-size bound short-circuits the O(|A|+|B|)
    // merge. That relies on the optimizer keeping conjunct order when it
    // pushes the filter into the verify join; fail loudly if it stops.
    import org.apache.spark.sql.catalyst.expressions.{And, Expression, Least}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    def merges(e: Expression) =
      e.exists(_.isInstanceOf[graft.plans.SortedLongIntersectCount])
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try SparkEntry.queries("x97_jaccard_index_probe")(spark, sfDir)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val verify = plan.collect {
      case j: BaseJoinExec => j.condition.toSeq
      case f: FilterExec => Seq(f.condition)
    }.flatten.filter(merges)
    assert(verify.nonEmpty, s"no condition calls the intersection merge:\n$plan")
    verify.foreach { c =>
      val cs = conjuncts(c)
      val guard = cs.indexWhere(x => x.exists(_.isInstanceOf[Least]) && !merges(x))
      assert(guard >= 0 && guard < cs.indexWhere(merges),
        s"size guard no longer precedes the intersection merge: $c")
    }
  }
}
