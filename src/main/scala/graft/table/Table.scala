package graft.table

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.types._
import graft.core._
import graft.compile.{Ctx, ExprCompiler, Mode, Typing}
import graft.sqlgen.{SqlGen, SqlQuery}

/** Column metadata: stable uuid identity + current user-facing name +
  * visibility (hidden columns stay addressable via old [[ColRef]] handles
  * but not by name — reference: pipe/verbs.py:428-433, cache.py:18-31). */
final case class ColMeta(uuid: Long, name: String, visible: Boolean)

/** The user-facing table: a lazy [[DataFrame]] whose physical columns are
  * named by globally-unique internal ids (`_g<uuid>`), plus the metadata
  * the reference keeps in its `Cache` (pipe/cache.py:18-31): name↔uuid
  * maps, visibility, ambient grouping. Spark-first design: every verb is a
  * DataFrame transformation, the lazy "AST" is Catalyst's logical plan,
  * and all optimization (pushdown, pruning, join selection, AQE) is
  * Catalyst's job (SURVEY §4).
  *
  * Internal names make `rename` metadata-only, keep hidden/overwritten
  * columns alive, and make join column collisions structurally impossible.
  * A hidden `__rowid` surrogate provides stable row order for windows
  * without `arrange` and for `slice_head` (SURVEY §7.4); Catalyst prunes
  * it whenever unused.
  */
final class Table private[graft] (
    private[graft] val df: DataFrame,
    private[graft] val cols: Vector[ColMeta],
    private[graft] val grouping: Vector[Long],
    private[graft] val rowIdUuid: Option[Long],
    private[graft] val ordered: Boolean,
    val name: String,
    private[graft] val sqlQ: Option[SqlQuery] = None,
    /** the sort keys of the last `arrange` — kept as [[Ord]] ASTs, not
      * compiled Columns, while the order is still current. evalAligned
      * compiles them against the table's CURRENT frame, so the keys
      * survive verbs that rebuild the physical columns (alias,
      * transferColReferences remap the uuids structurally) instead of
      * silently going stale with the old DataFrame's attributes. */
    private[graft] val sortOrds: Seq[Ord] = Nil) {

  import Table._

  // ------------------------------------------------------------------
  // column access
  // ------------------------------------------------------------------

  private def visibleCols: Vector[ColMeta] = cols.filter(_.visible)

  def columns: Seq[String] = visibleCols.map(_.name)

  private def dtypeOfUuid(u: Long): DataType = {
    val f = df.schema(internal(u))
    // enum-ness / uint-ness travel as column metadata — Spark preserves
    // field metadata on pass-through projections/joins
    EnumType.fromMetadata(f.metadata)
      .orElse(UIntType.fromMetadata(f.metadata))
      .getOrElse(f.dataType)
  }

  /** `t.col("x")` / `t("x")` — resolved column handle with stable uuid. */
  def col(n: String): ColRef = visibleCols.find(_.name == n) match {
    case Some(m) => ColRef(m.uuid, n, dtypeOfUuid(m.uuid))
    case None =>
      val near = visibleCols.map(_.name).filter(_.toLowerCase.contains(n.toLowerCase))
      throw new GraftColumnNotFoundError(
        s"column `$n` not found in table `$name`; available: ${columns.mkString(", ")}" +
          (if (near.nonEmpty) s"; did you mean ${near.mkString(", ")}?" else ""))
  }
  def apply(n: String): ColRef = col(n)

  // ------------------------------------------------------------------
  // expression plumbing
  // ------------------------------------------------------------------

  private def hasUuid(u: Long): Boolean = cols.exists(_.uuid == u)

  /** Resolve `C("x")` against the current table and validate foreign
    * ColRefs (reference preprocess_arg, pipe/verbs.py:1590-1640). */
  private def preprocess(e: ColExpr): ColExpr = e match {
    case CName(n) => col(n)
    case r @ ColRef(u, n, _) =>
      if (!hasUuid(u)) throw new GraftColumnNotFoundError(
        s"column `$n` (uuid $u) does not belong to table `$name` — " +
          "use alias() before self-joins or re-resolve after union/summarize")
      r
    case l: Lit => l
    case Marker(inner, d, nl) => Marker(preprocess(inner), d, nl)
    case CastE(inner, to, s) => CastE(preprocess(inner), to, s)
    case CaseE(bs, o) =>
      CaseE(bs.map { case (c, v) => (preprocess(c), preprocess(v)) }, o.map(preprocess))
    case Fn(op, args, pb, arr, fc) =>
      Fn(op, args.map(preprocess), pb.map(preprocess),
        arr.map(o => o.copy(e = preprocess(o.e))), fc.map(preprocess))
  }

  private def ctx(mode: Mode): Ctx = Ctx(
    resolve = u => df(internal(u)),
    dtype = dtypeOfUuid,
    ambient = grouping.map(u => df(internal(u))),
    rowId = rowIdUuid.map(u => df(internal(u))),
    mode = mode)

  private def compiled(e: ColExpr, mode: Mode): Column =
    ExprCompiler.compile(e, ctx(mode))

  private def withDf(df2: DataFrame, cols2: Vector[ColMeta] = cols,
      grouping2: Vector[Long] = grouping, ordered2: Boolean = ordered,
      sqlQ2: Option[SqlQuery] = None, sortOrds2: Seq[Ord] = null): Table =
    new Table(df2, cols2, grouping2, rowIdUuid, ordered2, name, sqlQ2,
      if (sortOrds2 != null) sortOrds2
      else if (ordered2) sortOrds else Nil)

  // ---- SQL-text tracking (build_query) ----
  private def sqlNameOf(u: Long): String = internal(u)
  private def sqlTypeOf(e: ColExpr): Option[DataType] =
    scala.util.Try(Typing.dtypeOf(e, dtypeOfUuid)).toOption
  private def trySql(e: ColExpr, mode: SqlGen.Mode): Option[String] =
    scala.util.Try(SqlGen.exprSql(e, sqlNameOf, mode,
      grouping.map(u => s"`${internal(u)}`"), sqlTypeOf)).toOption
  private def extendSql(f: SqlQuery => Option[SqlQuery]): Option[SqlQuery] =
    sqlQ.flatMap(q => scala.util.Try(f(q)).toOption.flatten)

  /** Chaining for user-defined composite verbs — the analog of the
    * reference's `@verb` decorator (pipe/pipeable.py:55-102). */
  def pipe(f: Table => Table): Table = f(this)
  def |>(f: Table => Table): Table = f(this)

  // ------------------------------------------------------------------
  // verbs (reference: _internal/pipe/verbs.py)
  // ------------------------------------------------------------------

  /** Keep a subset of columns visible; the rest become hidden but stay
    * addressable through existing handles (verbs.py:399). */
  def select(selection: ColExpr*): Table = {
    val uuids = selection.map {
      case CName(n) => col(n).uuid
      case ColRef(u, n, _) =>
        if (!hasUuid(u)) throw new GraftColumnNotFoundError(s"`$n` not in `$name`")
        u
      case other => throw new GraftError(s"select expects columns, got $other")
    }
    val keep = uuids.toSet
    // reorder visible cols to the selection order, hide the rest
    val hidden = cols.filterNot(c => keep(c.uuid)).map(_.copy(visible = false))
    val shown = uuids.map(u => cols.find(_.uuid == u).get.copy(visible = true))
    withDf(df, shown.toVector ++ hidden, sqlQ2 = sqlQ)
  }

  def drop(selection: ColExpr*): Table = {
    val dropU = selection.map {
      case CName(n) => col(n).uuid
      case ColRef(u, _, _) => u
      case other => throw new GraftError(s"drop expects columns, got $other")
    }.toSet
    select(visibleCols.filterNot(c => dropU(c.uuid)).map(c => CName(c.name)): _*)
  }

  /** Metadata-only rename; simultaneous application so swaps work
    * (verbs.py:486). */
  def rename(m: Map[String, String]): Table = {
    val vis = visibleCols.map(_.name).toSet
    m.keys.foreach(k => if (!vis(k)) throw new GraftColumnNotFoundError(
      s"rename: column `$k` not found in `$name`"))
    val newCols = cols.map { c =>
      if (c.visible && m.contains(c.name)) c.copy(name = m(c.name)) else c
    }
    val newVis = newCols.filter(_.visible).map(_.name)
    if (newVis.distinct.size != newVis.size)
      throw new GraftError(s"rename: name collision after renaming: " +
        newVis.diff(newVis.distinct).distinct.mkString(", "))
    withDf(df, newCols, sqlQ2 = sqlQ)
  }

  /** Add or overwrite computed columns. Aggregates under ambient grouping
    * become window functions (verbs.py:582, 1605-1611). Overwriting keeps
    * the old column alive as hidden (uuid identity). */
  def mutate(defs: (String, ColExpr)*): Table = {
    val resolved = defs.map { case (n, e0) =>
      val e = preprocess(e0)
      Typing.ftypeOf(e) // validates composition rules
      val dt = Typing.dtypeOf(e, dtypeOfUuid) // eager type check
      (n, e, dt)
    }
    val newMeta = resolved.map { case (n, _, _) => ColMeta(ColIds.next.getAndIncrement(), n, visible = true) }
    val existing = df.columns.map(df(_))
    val added = resolved.zip(newMeta).map { case ((_, e, dt), m) =>
      val c = compiled(e, Mode.Project)
      dt match { // persist enum-ness / uint-ness on the aliased field
        case et: EnumType => c.as(internal(m.uuid), EnumType.toMetadata(et))
        case ut: UIntType => c.as(internal(m.uuid), UIntType.toMetadata(ut))
        case _ => c.as(internal(m.uuid))
      }
    }
    val df2 = df.select((existing ++ added).toIndexedSeq: _*)
    val overwritten = defs.map(_._1).toSet
    val kept = cols.map(c => if (c.visible && overwritten(c.name)) c.copy(visible = false) else c)
    val sql2 = extendSql { q =>
      val rendered = resolved.zip(newMeta).map { case ((_, e, _), m) =>
        trySql(e, SqlGen.Mode.Project).map(sql => (m.uuid, sql)) }
      if (rendered.forall(_.isDefined)) Some(q.mutate(rendered.map(_.get))) else None
    }
    withDf(df2, kept ++ newMeta, ordered2 = ordered, sqlQ2 = sql2)
  }

  /** Row filter; aggregates and window functions are forbidden
    * (verbs.py:634,676-687). */
  def filter(preds: ColExpr*): Table = {
    if (preds.isEmpty) return this
    val ps = preds.map { p =>
      val e = preprocess(p)
      if (Typing.ftypeOf(e) != FType.ElementWise)
        throw new GraftFunctionTypeError(
          "filter: aggregates / window functions are not allowed here " +
            "(use summarize+filter or mutate first)")
      val dt = Typing.dtypeOf(e, dtypeOfUuid)
      if (dt != BooleanType) throw new GraftTypeError(s"filter predicate must be Bool, got $dt")
      e
    }
    val sql2 = extendSql { q =>
      val rendered = ps.map(e => trySql(e, SqlGen.Mode.Simple))
      if (rendered.forall(_.isDefined)) Some(q.filter(rendered.map(_.get))) else None
    }
    withDf(df.filter(ps.map(e => compiled(e, Mode.Simple)).reduce(_ && _)), sqlQ2 = sql2)
  }

  /** Stable multi-key sort (verbs.py:697). Stability comes from the hidden
    * row-id tiebreaker (Polars `maintain_order=True` analog). */
  def arrange(keys: ColExpr*): Table = {
    val ords = keys.map(k => Ord.of(preprocess(k)))
    ords.foreach { o =>
      if (Typing.ftypeOf(o.e) != FType.ElementWise)
        throw new GraftFunctionTypeError("arrange: keys must be elementwise")
    }
    val c = ctx(Mode.Simple)
    val sortCols = ExprCompiler.orderColumns(ords, c) ++
      rowIdUuid.map(u => df(internal(u)).asc)
    val sql2 = extendSql { q =>
      val rendered = ords.map(o =>
        scala.util.Try(SqlGen.ordKeySql(o, sqlNameOf, sqlTypeOf)).toOption)
      if (rendered.forall(_.isDefined)) Some(q.orderBy(rendered.map(_.get))) else None
    }
    withDf(df.orderBy(sortCols: _*), ordered2 = true, sqlQ2 = sql2,
      sortOrds2 = ords)
  }

  /** Set (or extend, with add=true) the ambient grouping — pure metadata,
    * no Spark op emitted (verbs.py:770, cache.py:135-138). */
  def groupBy(keys: ColExpr*): Table = groupByAdd(add = false, keys: _*)
  def groupByAdd(add: Boolean, keys: ColExpr*): Table = {
    val us = keys.map {
      case CName(n) => col(n).uuid
      case ColRef(u, n, _) =>
        if (!hasUuid(u)) throw new GraftColumnNotFoundError(s"`$n` not in `$name`")
        u
      case other => throw new GraftError(s"group_by expects columns, got $other")
    }
    val g2 = if (add) (grouping ++ us).distinct.toVector else us.distinct.toVector
    withDf(df, grouping2 = g2, sqlQ2 = sqlQ)
  }

  def ungroup: Table = withDf(df, grouping2 = Vector.empty, sqlQ2 = sqlQ)

  /** Grouped aggregation; output = group keys + aggregates only. Every
    * non-aggregated leaf must be a grouping column (verbs.py:862,928-944). */
  def summarize(defs: (String, ColExpr)*): Table = {
    val resolved = defs.map { case (n, e0) =>
      val e = preprocess(e0)
      checkSummarizeLeaves(e, n)
      Typing.dtypeOf(e, dtypeOfUuid)
      (n, e)
    }
    val keyNames = grouping.map(u => cols.find(_.uuid == u).get)
    val aggMeta = resolved.map { case (n, _) =>
      ColMeta(ColIds.next.getAndIncrement(), n, visible = true)
    }
    val aggCols = resolved.zip(aggMeta).map { case ((_, e), m) =>
      compiled(e, Mode.Agg).as(internal(m.uuid))
    }
    val out =
      if (grouping.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
      else df.groupBy(grouping.map(u => df(internal(u))): _*).agg(aggCols.head, aggCols.tail: _*)
    val ridMeta = ColMeta(ColIds.next.getAndIncrement(), RowIdName, visible = false)
    val out2 = out.withColumn(internal(ridMeta.uuid), F.monotonically_increasing_id())
    val sql2 = extendSql { q =>
      val rendered = resolved.zip(aggMeta).map { case ((_, e), m) =>
        trySql(e, SqlGen.Mode.Agg).map(sql => (m.uuid, sql)) }
      if (rendered.forall(_.isDefined)) Some(q.summarize(grouping, rendered.map(_.get)))
      else None
    }
    new Table(out2,
      keyNames.map(_.copy(visible = true)) ++ aggMeta :+ ridMeta,
      Vector.empty, Some(ridMeta.uuid), ordered = false, name, sql2)
  }

  private def checkSummarizeLeaves(e: ColExpr, defName: String): Unit = {
    val ft = Typing.ftypeOf(e)
    if (ft == FType.Window)
      throw new GraftFunctionTypeError(
        s"summarize `$defName`: window functions are not allowed (verbs.py:928-944)")
    // every ColRef leaf not under an aggregate must be a grouping key
    def walk(x: ColExpr, underAgg: Boolean): Unit = x match {
      case ColRef(u, n, _) =>
        if (!underAgg && !grouping.contains(u))
          throw new GraftFunctionTypeError(
            s"summarize `$defName`: column `$n` is neither aggregated nor a group key")
      case Fn(op, args, pb, arr, fc) =>
        val nowAgg = underAgg || op.ftype == FType.Aggregate
        (args ++ pb ++ arr.map(_.e) ++ fc).foreach(walk(_, nowAgg))
      case CaseE(bs, o) =>
        bs.foreach { case (c, v) => walk(c, underAgg); walk(v, underAgg) }
        o.foreach(walk(_, underAgg))
      case CastE(inner, _, _) => walk(inner, underAgg)
      case Marker(inner, _, _) => walk(inner, underAgg)
      case _ => ()
    }
    walk(e, underAgg = false)
  }

  /** LIMIT n OFFSET m; forbidden on grouped tables (verbs.py:955).
    * Positional ⇒ made deterministic via the row-id order when no arrange
    * is in effect. */
  def sliceHead(n: Int, offset: Int = 0): Table = {
    if (grouping.nonEmpty)
      throw new GraftError("slice_head: not allowed on a grouped table")
    val base =
      if (ordered) df
      else rowIdUuid.map(u => df.orderBy(df(internal(u)).asc)).getOrElse(df)
    val sliced = (if (offset > 0) base.offset(offset) else base).limit(n)
    val sql2 = extendSql(q => Some(q.limit(n, offset)))
    withDf(sliced, ordered2 = true, sqlQ2 = sql2)
  }

  // ------------------------------------------------------------------
  // joins (verbs.py:1010-1234)
  // ------------------------------------------------------------------

  /** Theta-join. `on` may reference both sides' resolved columns; right
    * visible columns whose names clash with left visible names get
    * `suffix` appended (default `_<right.name>`). `validate` runs an
    * eager cardinality assertion (1:1 / 1:m / m:1 / m:m). */
  def join(right: Table, on: ColExpr, how: String = "inner",
      suffix: Option[String] = None, validate: String = "m:m"): Table = {
    if (grouping.nonEmpty || right.grouping.nonEmpty)
      throw new GraftError("join: both tables must be ungrouped")
    val overlap = cols.map(_.uuid).toSet.intersect(right.cols.map(_.uuid).toSet)
    if (overlap.nonEmpty)
      throw new GraftError(
        "join: self-join without alias() — call `.alias(\"r\")` on one side first")
    val cond = resolveJoinCond(on, right)
    if (Typing.ftypeOf(cond) != FType.ElementWise)
      throw new GraftFunctionTypeError("join: `on` must be elementwise (verbs.py:1218-1224)")
    val jctx = joinCtx(right)
    if (validate != "m:m") validateCardinality(right, cond, validate)
    val condCol = ExprCompiler.compile(cond, jctx)
    val joined = how match {
      case "cross" => df.crossJoin(right.df)
      case h => df.join(right.df, condCol, h)
    }
    val sfx = suffix.getOrElse("_" + right.name)
    val leftVis = visibleCols.map(_.name).toSet
    val rightCols = right.cols.map { c =>
      if (c.visible && leftVis(c.name)) c.copy(name = c.name + sfx) else c
    }
    val rNames = rightCols.filter(_.visible).map(_.name)
    if (rNames.exists(leftVis)) throw new GraftError(
      s"join: suffix `$sfx` did not disambiguate: ${rNames.filter(leftVis).mkString(", ")}")
    // keep the left row-id as the combined surrogate order
    val sql2 = (for { l <- sqlQ; r <- right.sqlQ } yield {
      val jTypeOf: ColExpr => Option[DataType] =
        e => scala.util.Try(Typing.dtypeOf(e, joinCtx(right).dtype)).toOption
      if (how == "cross") scala.util.Try(l.join(r, how, None)).toOption
      else scala.util.Try(SqlGen.exprSql(cond, sqlNameOf, SqlGen.Mode.Simple, Nil, jTypeOf))
        .toOption.flatMap(cs => scala.util.Try(l.join(r, how, Some(cs))).toOption)
    }).flatten
    new Table(joined, cols ++ rightCols, Vector.empty, rowIdUuid, ordered = false, name, sql2)
  }

  def innerJoin(right: Table, on: ColExpr, suffix: Option[String] = None,
      validate: String = "m:m"): Table = join(right, on, "inner", suffix, validate)
  def leftJoin(right: Table, on: ColExpr, suffix: Option[String] = None,
      validate: String = "m:m"): Table = join(right, on, "left", suffix, validate)
  def fullJoin(right: Table, on: ColExpr, suffix: Option[String] = None,
      validate: String = "m:m"): Table = join(right, on, "full", suffix, validate)
  def crossJoin(right: Table, suffix: Option[String] = None): Table =
    join(right, Lit(true), "cross", suffix)

  /** Equi-join sugar: `on` column names present on both sides. */
  def joinOn(right: Table, names: Seq[String], how: String = "inner",
      suffix: Option[String] = None, validate: String = "m:m"): Table = {
    val cond = names.map(n => (col(n): ColExpr) === right.col(n)).reduce(_ && _)
    join(right, cond, how, suffix, validate)
  }

  /** Top-level bare `C("k")` is the same-name equi-join sugar; nested
    * CNames resolve left-first, then right. */
  private def resolveJoinCond(on: ColExpr, right: Table): ColExpr = on match {
    case CName(n) => (col(n): ColExpr) === right.col(n)
    case other => resolveInJoin(other, right)
  }

  private def resolveInJoin(e: ColExpr, right: Table): ColExpr = e match {
    case CName(n) =>
      if (visibleCols.exists(_.name == n)) col(n) else right.col(n)
    case r @ ColRef(u, n, _) =>
      if (!hasUuid(u) && !right.hasUuid(u))
        throw new GraftColumnNotFoundError(s"join on: `$n` not in either table")
      r
    case l: Lit => l
    case Marker(i, d, nl) => Marker(resolveInJoin(i, right), d, nl)
    case CastE(i, t, s) => CastE(resolveInJoin(i, right), t, s)
    case CaseE(bs, o) => CaseE(
      bs.map { case (c, v) => (resolveInJoin(c, right), resolveInJoin(v, right)) },
      o.map(resolveInJoin(_, right)))
    case Fn(op, args, pb, arr, fc) =>
      Fn(op, args.map(resolveInJoin(_, right)), pb.map(resolveInJoin(_, right)),
        arr.map(o => o.copy(e = resolveInJoin(o.e, right))), fc.map(resolveInJoin(_, right)))
  }

  private def joinCtx(right: Table): Ctx = Ctx(
    resolve = u =>
      if (hasUuid(u)) df(internal(u)) else right.df(internal(u)),
    dtype = u => if (hasUuid(u)) dtypeOfUuid(u) else right.dtypeOfUuid(u),
    ambient = Nil, rowId = None, mode = Mode.Simple)

  /** `validate=` cardinality assertion (verbs.py:1016,1037-1041): checks
    * key uniqueness on the constrained side(s) with a pre-join job over
    * the equi-keys extracted from the condition. */
  private def validateCardinality(right: Table, cond: ColExpr, validate: String): Unit = {
    val (leftKeys, rightKeys) = equiKeys(cond, right)
    if (leftKeys.isEmpty)
      throw new GraftError(s"join validate=$validate requires an equi-join condition")
    def unique(t: Table, keys: Seq[Long]): Boolean = {
      val kc = keys.map(u => t.df(internal(u)))
      t.df.groupBy(kc: _*).count().filter(F.col("count") > 1).isEmpty
    }
    validate match {
      case "1:1" =>
        if (!unique(this, leftKeys)) throw new GraftError("join validate=1:1: left keys not unique")
        if (!unique(right, rightKeys)) throw new GraftError("join validate=1:1: right keys not unique")
      case "1:m" =>
        if (!unique(this, leftKeys)) throw new GraftError("join validate=1:m: left keys not unique")
      case "m:1" =>
        if (!unique(right, rightKeys)) throw new GraftError("join validate=m:1: right keys not unique")
      case other => throw new GraftError(s"join: unknown validate=$other")
    }
  }

  private def equiKeys(cond: ColExpr, right: Table): (Seq[Long], Seq[Long]) = cond match {
    case Fn(op, Seq(a, b), _, _, _) if op.name == "and" =>
      val (l1, r1) = equiKeys(a, right); val (l2, r2) = equiKeys(b, right)
      (l1 ++ l2, r1 ++ r2)
    case Fn(op, Seq(ColRef(u1, _, _), ColRef(u2, _, _)), _, _, _) if op.name == "eq" =>
      if (hasUuid(u1) && right.hasUuid(u2)) (Seq(u1), Seq(u2))
      else if (hasUuid(u2) && right.hasUuid(u1)) (Seq(u2), Seq(u1))
      else (Nil, Nil)
    case _ => (Nil, Nil)
  }

  // ------------------------------------------------------------------
  // union (verbs.py:1357-1475)
  // ------------------------------------------------------------------

  /** UNION ALL (or UNION with distinct=true). Requires identical visible
    * column-name sets; types unified via lca. Hidden columns are dropped
    * (polars.py:444-479). */
  def union(right: Table, distinct: Boolean = false): Table = {
    val ln = visibleCols.map(_.name)
    val rn = right.visibleCols.map(_.name)
    if (ln.toSet != rn.toSet)
      throw new GraftError(s"union: column sets differ: ${ln.mkString(",")} vs ${rn.mkString(",")}")
    val types = ln.map { n =>
      val lt = dtypeOfUuid(col(n).uuid)
      val rt = right.dtypeOfUuid(right.col(n).uuid)
      n -> DTypes.lca(lt, rt)
    }.toMap
    val outMeta = ln.map(n => ColMeta(ColIds.next.getAndIncrement(), n, visible = true))
    def proj(t: Table): DataFrame =
      t.df.select(ln.zip(outMeta).map { case (n, m) =>
        val c = t.df(internal(t.col(n).uuid)).cast(DTypes.physical(types(n)))
        types(n) match {
          // lca kept the enum/uint (compatible both sides): re-attach
          // the metadata, as mutate does, so it survives the union
          case et: EnumType => c.as(internal(m.uuid), EnumType.toMetadata(et))
          case ut: UIntType => c.as(internal(m.uuid), UIntType.toMetadata(ut))
          case _ => c.as(internal(m.uuid))
        }
      }: _*)
    val merged = proj(this).unionByName(proj(right))
    val out = if (distinct) merged.distinct() else merged
    val rid = ColMeta(ColIds.next.getAndIncrement(), RowIdName, visible = false)
    val out2 = out.withColumn(internal(rid.uuid), F.monotonically_increasing_id())
    val sql2 = (for { l <- sqlQ; r <- right.sqlQ } yield scala.util.Try(
      l.union(r, ln.map(n => (col(n).uuid, types(n))),
        ln.map(n => (right.col(n).uuid, types(n))), outMeta.map(_.uuid), distinct)
    ).toOption).flatten
    new Table(out2, outMeta.toVector :+ rid, Vector.empty, Some(rid.uuid),
      ordered = false, name, sql2)
  }

  /** Fresh uuids for all columns — resets column references, enabling
    * self-joins (verbs.py:100-160, tree/verbs.py:79). An in-effect
    * `arrange` survives: the sort-key ASTs are remapped onto the fresh
    * uuids, so `arrange(..).alias(..).evalAligned(..)` still aligns by
    * the arranged order (not silently by insertion order). */
  def alias(newName: String = name): Table = {
    val fresh = cols.map(c => c.copy(uuid = ColIds.next.getAndIncrement()))
    val uuidMap = cols.zip(fresh).map { case (o, n) => o.uuid -> n.uuid }.toMap
    val df2 = df.select(cols.zip(fresh).map { case (o, n) =>
      df(internal(o.uuid)).as(internal(n.uuid))
    }: _*)
    val rid2 = rowIdUuid.map(u => fresh(cols.indexWhere(_.uuid == u)).uuid)
    val sql2 = sqlQ.map { q =>
      val pairs = cols.zip(fresh).filterNot(p => rowIdUuid.contains(p._1.uuid))
        .map { case (o, n) => s"${internal(o.uuid)} AS ${internal(n.uuid)}" }
      SqlQuery(s"SELECT ${pairs.mkString(", ")} FROM (\n${q.sql}\n)")
    }
    new Table(df2, fresh, grouping.map(u => fresh(cols.indexWhere(_.uuid == u)).uuid),
      rid2, ordered, newName, sql2,
      sortOrds.map(o => o.copy(e = Table.remapRefs(o.e, uuidMap))))
  }

  // ------------------------------------------------------------------
  // materialization / export (verbs.py:168-347)
  // ------------------------------------------------------------------

  /** Materialize now but keep pipelining (reference `collect`,
    * verbs.py:168-244) — Spark: cache + force. */
  def collectNow(): Table = { val c = df.cache(); c.count(); withDf(c) }

  /** Final projection: visible columns under their user names, in order.
    * The row-id and hidden columns are dropped here, letting Catalyst
    * prune them out of the physical plan entirely when unused. */
  def toDF: DataFrame = toDF(Map.empty)

  /** Final projection with per-column type overrides applied at the
    * export boundary (reference `schema_overrides`, verbs.py:252-347,
    * targets.py:11-40): a raw Spark cast OUTSIDE the graft type system —
    * the escape hatch when the target wants a physical type the checked
    * `cast` rules would refuse or adjust. */
  def toDF(schemaOverrides: Map[String, DataType]): DataFrame = {
    schemaOverrides.keys.foreach(col) // unknown name → GraftColumnNotFoundError
    df.select(visibleCols.map { c =>
      val base = df(internal(c.uuid))
      schemaOverrides.get(c.name).fold(base)(base.cast).as(c.name)
    }: _*)
  }

  def collect(schemaOverrides: Map[String, DataType] = Map.empty): Array[Row] =
    toDF(schemaOverrides).collect()
  def show(n: Int = 20): Unit = toDF.show(n, truncate = false)
  def count(): Long = toDF.count()

  // ---- sinks: the visible projection under its public names ----

  /** Parquet sink. `partitionCols` lays the data out for partition
    * pruning on those columns (the 100 TB read-path lever); keep
    * partition cardinality modest (thousands, not millions of dirs). */
  def writeParquet(path: String, mode: String = "error",
      partitionCols: Seq[String] = Nil): Unit = {
    val w = toDF.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  def writeOrc(path: String, mode: String = "error",
      partitionCols: Seq[String] = Nil): Unit = {
    val w = toDF.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .orc(path)
  }

  def writeCsv(path: String, mode: String = "error", header: Boolean = true,
      delimiter: String = ","): Unit =
    toDF.write.mode(mode).option("header", header.toString)
      .option("sep", delimiter).csv(path)

  def writeJson(path: String, mode: String = "error"): Unit =
    toDF.write.mode(mode).json(path)

  /** Catalog sink; with `bucketBy`, repeated equi-joins/aggregations on
    * the bucket keys read back shuffle-free (see functions.layout). */
  def saveAsTable(tableName: String, mode: String = "error",
      bucketBy: Option[(Int, Seq[String])] = None): Unit = {
    val w = toDF.write.mode(mode).format("parquet")
    bucketBy match {
      case Some((n, keys)) =>
        w.bucketBy(n, keys.head, keys.tail: _*)
          .sortBy(keys.head, keys.tail: _*).saveAsTable(tableName)
      case None => w.saveAsTable(tableName)
    }
  }

  /** Export targets (reference: backend/targets.py / verbs.py:252-347).
    * All accept `schemaOverrides` (name → Spark type): raw casts applied
    * at the export boundary, outside the checked type system. */
  def toLocalIterator: Iterator[Row] = toLocalIterator(Map.empty)
  def toLocalIterator(schemaOverrides: Map[String, DataType]): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    toDF(schemaOverrides).toLocalIterator().asScala
  }
  /** single value of a 1×1 result (reference `Scalar` target). */
  def exportScalar: Any = exportScalar(Map.empty)
  def exportScalar(schemaOverrides: Map[String, DataType]): Any = {
    val r = toDF(schemaOverrides).collect()
    if (r.length != 1 || r.head.length != 1)
      throw new GraftError(s"export scalar: result is ${r.length} rows × ${columns.length} cols, need 1×1")
    r.head.get(0)
  }
  /** rows as name→value maps (reference `ListOfDicts`). */
  def exportMaps: Seq[Map[String, Any]] = exportMaps(Map.empty)
  def exportMaps(schemaOverrides: Map[String, DataType]): Seq[Map[String, Any]] = {
    val names = columns
    collect(schemaOverrides).toSeq
      .map(r => names.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap)
  }
  /** columns as name→values (reference `DictOfLists`). */
  def exportColumns: Map[String, Seq[Any]] = exportColumns(Map.empty)
  def exportColumns(schemaOverrides: Map[String, DataType]): Map[String, Seq[Any]] = {
    val names = columns
    val data = collect(schemaOverrides)
    names.zipWithIndex.map { case (n, i) => n -> data.toSeq.map(_.get(i)) }.toMap
  }

  def backend: String = "spark"
  def isSqlBacked: Boolean = true

  /** Positional splice of an external local sequence as a column — the
    * reference's `Series` injection (col_expr.py:2771, pipe/aligned.py).
    * Values are parallelized and joined by stable row position; the local
    * data must fit in driver memory (it is external by definition). */
  def withColumnFromSeq[T: org.apache.spark.sql.Encoder](
      name2: String, values: Seq[T]): Table = {
    val spark = df.sparkSession
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder, newLongEncoder}
    val other = Table.fromDF(
      values.toDS().toDF("__v"), s"series_$name2")
    evalAligned(other, name2 -> CName("__v"))
  }

  /** Positional splice of expressions computed against ANOTHER table —
    * the reference's `eval_aligned` escape hatch (pipe/aligned.py:15-137).
    * Both sides are numbered by their CURRENT row order (the last
    * `arrange` if one is in effect, else the insertion-order surrogate)
    * and joined on position. Raises on a row-count mismatch (reference
    * semantics: alignment requires equal shapes) and fails fast above
    * `spark.graft.evalAligned.maxRows` (default 10M) — the positional
    * numbering single-tasks a global sort, so it is for rare alignment
    * flows, not bulk joins (SURVEY §7.4 hard part 4). */
  def evalAligned(other: Table, defs: (String, ColExpr)*): Table = {
    if (defs.map(_._1).exists(n => visibleCols.exists(_.name == n)))
      throw new GraftError("evalAligned: name collision with existing columns")
    val maxRows = df.sparkSession.conf
      .getOption("spark.graft.evalAligned.maxRows").map(_.toLong)
      .getOrElse(10000000L)
    // ONE fused job for the shape check: both sides reduced to a tag
    // column, unioned at the RDD level, and tallied per-partition under
    // a single action (a SQL-path union of two aggregates would still
    // run one AQE stage-materialization job per exchange). The cheap
    // counts run BEFORE any positional window so maxRows can refuse the
    // global sort.
    val tagged = df.select(F.lit(false).as("__right")).rdd
      .union(other.df.select(F.lit(true).as("__right")).rdd)
    val (nLeft, nRight) = tagged.mapPartitions { it =>
      var l = 0L; var r = 0L
      it.foreach(row => if (row.getBoolean(0)) r += 1 else l += 1)
      Iterator.single((l, r))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    if (nLeft != nRight)
      throw new GraftError(
        s"evalAligned: row count mismatch — left table `$name` has $nLeft " +
          s"rows, right table `${other.name}` has $nRight (positional " +
          "alignment requires equal shapes)")
    if (nLeft > maxRows)
      throw new GraftError(
        s"evalAligned: $nLeft rows exceeds spark.graft.evalAligned.maxRows" +
          s"=$maxRows — the positional splice serializes a global sort " +
          "into one task; use a keyed join for bulk data")
    def numbered(t: Table): DataFrame = {
      val ord: Seq[Column] =
        if (t.ordered && t.sortOrds.nonEmpty)
          // recompile the kept sort-key ASTs against the CURRENT frame
          // (+ rowid tiebreak, matching arrange's stable sort)
          ExprCompiler.orderColumns(t.sortOrds, t.ctx(Mode.Simple)) ++
            t.rowIdUuid.map(u => t.df(internal(u)).asc)
        else {
          val rid = t.rowIdUuid.getOrElse(
            throw new GraftError("evalAligned: table lacks a row-order surrogate"))
          Seq(t.df(internal(rid)).asc)
        }
      t.df.withColumn("__pos",
        F.row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(ord: _*)))
    }
    val rightCols = defs.map(_._1)
    val rightDf = {
      val m = other.mutate(defs: _*)
      val proj = numbered(m).select(F.col("__pos") +:
        rightCols.map(n => m.df(internal(m.col(n).uuid)).as(n)): _*)
      proj
    }
    val newMeta = rightCols.map(n => ColMeta(ColIds.next.getAndIncrement(), n, visible = true))
    val joined = numbered(this).join(rightDf, Seq("__pos"), "inner")
    val out = joined.select((df.columns.map(joined(_)) ++
      rightCols.zip(newMeta).map { case (n, m2) =>
        joined(n).as(internal(m2.uuid)) }).toIndexedSeq: _*)
    new Table(out, cols ++ newMeta, grouping, rowIdUuid, ordered, name, None, sortOrds)
  }

  /** Re-attach column identity after external materialization — the
    * reference's `transfer_col_references` (pipe/cache.py:288-353).
    * Returns THIS table's data with its visible columns re-identified by
    * `refSource`'s uuids (matched by name), so column handles taken from
    * `refSource` before a checkpoint keep resolving against the
    * re-loaded table:
    * {{{
    * val t  = Table.source(spark, dir, "orders")
    * val c  = t.col("o_totalprice")         // handle from the original
    * t.toDF.write.parquet(ckpt)             // materialize
    * val t2 = Table.fromDF(spark.read.parquet(ckpt), "orders")
    *   .transferColReferences(t)
    * t2.mutate("x" -> (c * lit(2.0)))       // old handle still works
    * }}}
    * Every visible column of this table must exist in `refSource`
    * (GraftColumnNotFoundError otherwise). The SQL-text tracking restarts
    * (build_query treats the materialization as a new source). */
  def transferColReferences(refSource: Table): Table = {
    val mapping: Map[Long, Long] = visibleCols.map { m =>
      val r = refSource.col(m.name) // throws with the available-columns message
      m.uuid -> r.uuid
    }.toMap
    val newCols = cols.map(m =>
      mapping.get(m.uuid).map(u => m.copy(uuid = u)).getOrElse(m))
    val renamed = df.select(cols.map(m =>
      df(internal(m.uuid)).as(internal(
        mapping.getOrElse(m.uuid, m.uuid)))): _*)
    new Table(renamed, newCols, grouping.map(u => mapping.getOrElse(u, u)),
      rowIdUuid, ordered, name, None,
      sortOrds.map(o => o.copy(e = Table.remapRefs(o.e, mapping))))
  }

  /** Reference `build_query`/`show_query` (verbs.py:355-390): the compiled
    * plan as text — Spark-first this is the Catalyst plan. */
  def buildQuery: String = toDF.queryExecution.optimizedPlan.toString
  def explainFormatted(): Unit = toDF.explain("formatted")

  /** Reference `build_query` proper: the pipeline as runnable Spark SQL
    * text (maintained incrementally per verb, SURVEY §7.1 "sqlgen").
    * Raises when the pipeline used a non-SQL-expressible construct.
    * NOTE: the SQL text omits the hidden row-order surrogate, so ordering
    * is only as deterministic as the emitted ORDER BY keys. */
  def buildQuerySql: String = sqlQ match {
    case Some(q) => q.render(visibleCols.map(c => (c.uuid, c.name)))
    case None => throw new GraftError(
      "build_query: pipeline contains a construct without a SQL rendering " +
        "(engine-native hashing, evalAligned, collectNow, or a non-parquet source)")
  }
  def showQuery(): Unit = println(buildQuerySql)

  def astRepr: String = {
    val vis = visibleCols.map(c => s"${c.name}: ${dtypeOfUuid(c.uuid).simpleString}")
    s"Table `$name` [${vis.mkString(", ")}]" +
      (if (grouping.nonEmpty) s" grouped by ${grouping.map(u => cols.find(_.uuid == u).get.name).mkString(",")}"
       else "")
  }
}

object Table {
  private[graft] val RowIdName = "__rowid"
  private[graft] def internal(uuid: Long): String = s"_g$uuid"

  /** Structurally remap [[ColRef]] uuids through `m` (identity for
    * unmapped uuids) — how kept sort-key ASTs follow alias() /
    * transferColReferences onto fresh column identities. */
  private[graft] def remapRefs(e: ColExpr, m: Map[Long, Long]): ColExpr = e match {
    case r @ ColRef(u, n, dt) => m.get(u).map(nu => ColRef(nu, n, dt)).getOrElse(r)
    case l: Lit => l
    case c: CName => c
    case Marker(i, d, nl) => Marker(remapRefs(i, m), d, nl)
    case CastE(i, to, s) => CastE(remapRefs(i, m), to, s)
    case CaseE(bs, o) =>
      CaseE(bs.map { case (c, v) => (remapRefs(c, m), remapRefs(v, m)) },
        o.map(remapRefs(_, m)))
    case Fn(op, args, pb, arr, fc) =>
      Fn(op, args.map(remapRefs(_, m)), pb.map(remapRefs(_, m)),
        arr.map(o => o.copy(e = remapRefs(o.e, m))), fc.map(remapRefs(_, m)))
  }

  /** Wrap an existing DataFrame: rename all columns to internal ids and
    * attach the hidden row-order surrogate (SURVEY §7.4 hard part 1). */
  def fromDF(src: DataFrame, name: String): Table = {
    val metas = src.schema.fields.map { f =>
      ColMeta(ColIds.next.getAndIncrement(), f.name, visible = true)
    }.toVector
    val rid = ColMeta(ColIds.next.getAndIncrement(), RowIdName, visible = false)
    val renamed = src.select(
      src.schema.fields.zip(metas).map { case (f, m) => src(f.name).as(internal(m.uuid)) }.toIndexedSeq
        :+ F.monotonically_increasing_id().as(internal(rid.uuid)): _*)
    new Table(renamed, metas :+ rid, Vector.empty, Some(rid.uuid), ordered = false, name)
  }

  /** Parquet source, resolved through [[readParquet]]: a repeat read of
    * an unchanged single file (same qualified path, modification time
    * and length, same schema-inference confs) runs no schema-inference
    * job. Directories, glob patterns and missing paths fall through to
    * `spark.read.parquet`. Either way the frame's schema equals the one
    * `spark.read.parquet(path)` infers. */
  def fromParquet(spark: SparkSession, path: String, name: String): Table = {
    val t = fromDF(readParquet(spark, path), name)
    val srcCols = t.cols.filterNot(c => t.rowIdUuid.contains(c.uuid))
    val seed = SqlQuery.fromParquet(path, srcCols.map(c => (c.uuid, c.name)))
    new Table(t.df, t.cols, t.grouping, t.rowIdUuid, t.ordered, name, Some(seed))
  }

  /** `spark.read.parquet(path)` without the eager schema-inference job on
    * a repeat read: the inferred `StructType` of a single parquet file is
    * cached and passed back as the read schema.
    *
    * The cache key is the file's qualified path plus the session confs
    * that change Parquet schema inference ([[schemaConfs]]), so session
    * clones with their own conf get their own entry. The entry also
    * holds the file's modification time and length: a file rewritten at
    * the same path re-infers and replaces it, so the cache keeps one
    * entry per (path, conf). A miss infers through the session's own
    * reader, so the schema, metadata included, is exactly the inferred
    * one. Anything that is not a plain regular file (a directory, a glob
    * pattern, a missing path) falls through to `spark.read.parquet`
    * unchanged, errors included. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    fileStatus(spark, path) match {
      case Some(st) =>
        val key = (st.getPath.toString, schemaConfs.map(spark.conf.getOption))
        val stamp = (st.getModificationTime, st.getLen)
        Option(schemaCache.get(key)).filter(_._1 == stamp) match {
          case Some((_, schema)) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemaCache.put(key, (stamp, df.schema))
            df
        }
      case None => spark.read.parquet(path)
    }

  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  // (qualified path, schemaConfs values) -> ((mtime, length), schema)
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[Option[String]]), ((Long, Long), StructType)]()

  /** The status of `path` when it names one regular file, else None. */
  private def fileStatus(spark: SparkSession, path: String)
      : Option[org.apache.hadoop.fs.FileStatus] =
    if (path.exists("*?[]{}\\".contains(_))) None
    else try {
      val p = new org.apache.hadoop.fs.Path(path)
      Some(p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p))
        .filter(_.isFile)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A testdata star-schema table: `Table.source(spark, sfDir, "lineitem")`. */
  def source(spark: SparkSession, sfDir: String, table: String): Table =
    fromParquet(spark, s"$sfDir/$table.parquet", table)

  // ---- further construction sources (the reference takes tables from
  // its host engines, table_impl.py:55-115; Spark-first we expose the
  // DataSource V2 formats + the catalog) ----

  /** CSV source; pass a schema for production scans (inference reads the
    * data twice) — header-driven inference is for exploration. */
  def fromCsv(spark: SparkSession, path: String, name: String,
      schema: Option[StructType] = None, header: Boolean = true,
      delimiter: String = ","): Table = {
    val r = spark.read.option("header", header.toString).option("sep", delimiter)
    fromDF(schema.map(r.schema).getOrElse(r.option("inferSchema", "true")).csv(path),
      name)
  }

  /** JSON-lines source (one object per line — the splittable layout). */
  def fromJson(spark: SparkSession, path: String, name: String,
      schema: Option[StructType] = None): Table = {
    val r = spark.read
    fromDF(schema.map(r.schema).getOrElse(r).json(path), name)
  }

  def fromOrc(spark: SparkSession, path: String, name: String): Table =
    fromDF(spark.read.orc(path), name)

  /** Catalog/metastore table (the analog of the reference's SQLAlchemy
    * table source) — bucketed tables keep their co-location metadata. */
  def fromTable(spark: SparkSession, tableName: String): Table =
    fromDF(spark.table(tableName), tableName)

  /** An arbitrary SQL query as a source. */
  def fromSql(spark: SparkSession, query: String, name: String): Table =
    fromDF(spark.sql(query), name)

  /** In-memory literal table for tests (reference: Table from dict,
    * table_impl.py:72-73). */
  def fromRows(spark: SparkSession, schema: StructType, rows: Seq[Row], name: String): Table = {
    import scala.jdk.CollectionConverters._
    fromDF(spark.createDataFrame(rows.asJava, schema), name)
  }
}
