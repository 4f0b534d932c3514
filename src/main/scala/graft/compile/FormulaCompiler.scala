package graft.compile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ast._
import graft.functions.BigDec
import graft.model._
import graft.operators.Prefix.{EwmStat, Fuse, RunKernel, RunKind}

/** Thrown when a formula references a name absent from the registry; the
  * analogue of the reference's decorated KeyError (coeff_maker.py:778-783). */
final class VariableNotFoundException(name: String, available: Iterable[String])
    extends RuntimeException(
      s"Variable '$name' not found in data dictionary. Available: ${available.mkString(", ")}")

/** Thrown for operations the decimal (ADP) mode rejects; the clean-error
  * analogue of the reference's ADP `**` guard (coeff_maker.py:743-749,
  * quirk Q4 — we fix the crash into a clean error, SURVEY §7.4(4)). */
final class AdpUnsupportedException(msg: String) extends RuntimeException(msg)

final class FormulaTypeException(msg: String) extends RuntimeException(msg)

/** The evaluation result ADT (SURVEY §7.4(7)). */
sealed trait EvalResult
/** Distributed matrix result; `isBool` marks comparison results, which pass
  * through validation untouched (reference behavior, coeff_maker.py:183-185). */
final case class MatrixResult(df: DataFrame, rowId: String, labels: Seq[String],
                              isBool: Boolean) extends EvalResult
/** Driver-side vector (Series ∘ Series positional path, SURVEY §2.3 A3). */
final case class VecResult(vec: Vec) extends EvalResult
/** One-row distributed result from whole-frame reductions (`m.sum()`). */
final case class RowResult(df: DataFrame, labels: Seq[String]) extends EvalResult
/** Scalar-only formula, e.g. "1 + 2" (quirk Q9). */
final case class ScalarResult(v: Double) extends EvalResult

/** Compiles a [[FormulaAst]] against a registry into ONE declarative Spark
  * plan (SURVEY §3: formula → AST → Column tree → Catalyst → codegen).
  *
  * Scale design (SURVEY §4.3):
  *  - matrices sharing a backing DataFrame compile to a single-scan
  *    projection — zero joins, zero shuffles, one WholeStageCodegen span;
  *  - matrices with different backings align via ONE N-way `full_outer`
  *    equi-join on the row id (the reference's label-alignment semantics,
  *    §2.3 A1); Catalyst picks broadcast/SMJ per stats, AQE re-plans;
  *  - vectors compile to literals inside the projection (no shuffle at all);
  *  - whole-frame reductions (`.sum()`, `.mean()`) become a partial-agg
  *    tree-reduce whose 1-row result is broadcast-cross-joined back — the
  *    classic scalar-subquery shape, no driver round-trip in the plan.
  */
final class FormulaCompiler(registry: Map[String, NamedData], mode: NumericMode) {

  private val std = !mode.adpEnabled
  private val ubp = mode.ubp

  /** Column count above which the over-budget `.rank()` fallback switches
    * from per-column value-equality joins to the single stacked
    * (column-index, value) join. Per-column joins are fine at
    * formula-typical widths (AQE broadcasts the tiny rank tables) but each
    * Dataset.join re-resolves a self-join over a tree containing all
    * previous joins — analysis cost explodes combinatorially
    * (PROBE_r7.json: 50 columns never finished; the stacked plan compiles
    * in constant node count at any width). */
  private val WideRankThreshold = 16

  // ---- compile-time values ------------------------------------------------

  private sealed trait CValue
  /** label-ordered Column exprs over the aligned base */
  private case class CMatrix(cols: Seq[(String, Column)], isBool: Boolean) extends CValue
  /** driver-resident vector */
  private case class CVecD(values: IndexedSeq[Double], labels: IndexedSeq[String]) extends CValue
  /** distributed 1-row vector (from reductions); aggIds name the 1-row agg
    * DataFrames its columns reference */
  private case class CVecC(cols: Seq[(String, Column)], aggIds: Set[Int]) extends CValue
  private case class CScalar(v: Double) extends CValue
  /** python string literal (r11): only meaningful as a method argument
    * (e.g. rank(method='min')); arithmetic use is a clean TypeError. */
  private case class CStr(s: String) extends CValue
  /** python list literal (r11): only meaningful as a method argument —
    * scalars for isin([1, 2]), strings for agg(['sum', 'mean']). Each use
    * site extracts the element type it needs and rejects the rest. */
  private case class CList(items: IndexedSeq[CValue]) extends CValue
  /** driver-collected matrix: a matmul RIGHT operand. Its row count equals
    * the left operand's column count by pandas' dot-alignment rule, so it
    * is schema-small by construction (`rows` is (rowId → cell values) in
    * collection order; `colLabels` the pandas column order). */
  private case class CMatD(rows: IndexedSeq[(String, IndexedSeq[Double])],
                           colLabels: Seq[String]) extends CValue
  /** TERMINAL summary frame (describe): its row domain is stat names, not
    * the base's row ids, so it cannot compose further. */
  private case class CFrame(df: org.apache.spark.sql.DataFrame,
                            rowId: String, labels: Seq[String]) extends CValue
  /** `.rolling(n)` / `.expanding()` marker values (r9 session 2): the
    * window spec waiting for its aggregation method — pandas' Rolling /
    * Expanding intermediate objects. Escaping to the top level is a
    * compile error. */
  private case class CRoll(cols: Seq[(String, Column)], n: Int,
                           minp: Int, center: Boolean) extends CValue
  private case class CExpand(cols: Seq[(String, Column)],
                             minp: Int) extends CValue
  private case class CRollD(vs: IndexedSeq[Double], ls: IndexedSeq[String],
                            n: Int, minp: Int,
                            center: Boolean) extends CValue
  private case class CExpandD(vs: IndexedSeq[Double],
                              ls: IndexedSeq[String],
                              minp: Int) extends CValue
  /** `.ewm(...)` marker (r9 session 3): pandas' ExponentialMovingWindow
    * intermediate, waiting for `.mean()/.var()/.std()` — r10: resolved to
    * the decay α at construction (com/span/halflife/alpha accepted). */
  private case class CEwm(cols: Seq[(String, Column)],
                          alpha: Double, minp: Int,
                          adjust: Boolean) extends CValue
  private case class CEwmD(vs: IndexedSeq[Double], ls: IndexedSeq[String],
                           alpha: Double, minp: Int,
                           adjust: Boolean) extends CValue
  /** compiled keyword argument (r10): only ever an element of a method's
    * arg list — e.g. min_periods=2 in `.rolling(5, min_periods=2)`. */
  private case class CKw(kwName: String, v: CValue) extends CValue

  // ---- compile context ----------------------------------------------------

  private final class Ctx(
      var base: Option[DataFrame],       // aligned base for matrix exprs
      var rowIdOut: String,              // row-id column name in `base`
      val physOf: Map[String, Seq[(String, String)]] // var → (label, physical col in base)
  ) {
    val aggDfs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val pulled = scala.collection.mutable.Set[Int]()
    var aggCounter = 0
    var seqCounter = 0 // unique ids for sequential-op scratch columns
    /** make sure agg df `id` is cross-joined (broadcast) into the base */
    def pull(id: Int): Unit = if (!pulled.contains(id)) {
      base = Some(base.get.crossJoin(broadcast(aggDfs(id))))
      pulled += id
    }
  }

  // ---- entry --------------------------------------------------------------

  def compile(ast: FormulaAst): EvalResult = {
    val vars = collectVarsInOrder(ast)
    vars.foreach { v =>
      if (!registry.contains(v)) throw new VariableNotFoundException(v, registry.keys)
    }
    // a registry matrix used ONLY as a matmul right operand is driver-
    // collected (see [[collectMatD]]) — its row ids live in the left
    // operand's column-label domain, not the row-id domain, so it must
    // stay OUT of the aligned base (a full-outer alignment join against
    // disjoint row ids would pollute the result with hole rows)
    val (mmArg, mmOther) = matmulUsage(ast)
    val collectedOnly = mmArg -- mmOther
    val matVars = vars.filter(v =>
      registry(v).isInstanceOf[Matrix] && !collectedOnly.contains(v))
    val ctx = buildBase(matVars)
    eval(ast, ctx) match {
      case CMatrix(cols, isBool) =>
        val base = ctx.base.get
        val out = base.select(
          (col(ctx.rowIdOut).as(ctx.rowIdOut) +: cols.map { case (l, c) => c.as(l) }): _*)
        MatrixResult(out, ctx.rowIdOut, cols.map(_._1), isBool)
      case CVecD(vs, ls)  => VecResult(Vec(vs, ls))
      case v: CVecC       =>
        // pure-reduction result: 1-row df from the agg(s), no base scan
        val joined = v.aggIds.toSeq.sorted.map(ctx.aggDfs).reduceLeft(_.crossJoin(_))
        RowResult(joined.select(v.cols.map { case (l, c) => c.as(l) }: _*), v.cols.map(_._1))
      case CScalar(x)     => ScalarResult(x)
      case CFrame(df, rid, labels) => MatrixResult(df, rid, labels, isBool = false)
      case _: CMatD       =>
        // unreachable: CMatD is only ever constructed as a matmul RIGHT
        // operand and consumed inside the same method() dispatch
        throw new FormulaTypeException(
          "internal: collected matmul operand escaped to the top level")
      case _: CRoll | _: CExpand | _: CRollD | _: CExpandD | _: CEwm |
           _: CEwmD =>
        throw new FormulaTypeException(
          "'.rolling(n)'/'.expanding()'/'.ewm(com)' must be aggregated — " +
            "append '.mean()' or '.sum()'")
      case _: CKw =>
        throw new FormulaTypeException(
          "a keyword argument is not an expression — it can only appear " +
            "inside a method call's argument list")
      case CStr(s) =>
        throw new FormulaTypeException(
          s"a string literal ('$s') is not a formula result — strings " +
            "are method arguments only (e.g. rank(method='min'))")
      case _: CList =>
        throw new FormulaTypeException(
          "a list literal is not a formula result — lists are method " +
            "arguments only (e.g. isin([1, 2]))")
    }
  }

  /** left-to-right first-appearance order (deterministic plans). */
  private def collectVarsInOrder(ast: FormulaAst): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    def go(a: FormulaAst): Unit = a match {
      case Num(_) | Str(_) => (); case Var(n) => seen += n
      case ListLit(items) => items.foreach(go)
      case Unary(_, e) => go(e)
      case Bin(_, l, r) => go(l); go(r)
      case Call(_, as) => as.foreach(go)
      case Method(t, _, as) => go(t); as.foreach(go)
      case Kw(_, v) => go(v)
    }
    go(ast)
    seen.toSeq
  }

  /** Build the aligned base: group matrix vars by backing-DataFrame identity;
    * one group → that DataFrame as-is (join-free fast path); several →
    * project each group and N-way full-outer join on `__row_id__`.
    */
  private def buildBase(matVars: Seq[String]): Ctx = {
    if (matVars.isEmpty) return new Ctx(None, "", Map.empty)
    val mats = matVars.map(v => v -> registry(v).asInstanceOf[Matrix])
    val groups = scala.collection.mutable.LinkedHashMap[DataFrame, scala.collection.mutable.ArrayBuffer[(String, Matrix)]]()
    mats.foreach { case (v, m) =>
      val key = groups.keys.find(_ eq m.base).getOrElse(m.base)
      groups.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer()) += (v -> m)
    }
    if (groups.size == 1) {
      val (df, members) = groups.head
      val rowId = members.head._2.rowId
      require(members.forall(_._2.rowId == rowId),
        "matrices over one backing DataFrame must share the row-id column")
      new Ctx(Some(df), rowId, members.map { case (v, m) => v -> m.cols }.toMap)
    } else {
      // rename each group's columns uniquely, then full-outer join on row id
      var physOf = Map.empty[String, Seq[(String, String)]]
      val projected = groups.zipWithIndex.map { case ((df, members), gi) =>
        val physNeeded = members.flatMap(_._2.cols.map(_._2)).distinct
        val rowId = members.head._2.rowId
        val renamed = df.select(
          (col(rowId).as("__row_id__") +:
            physNeeded.map(p => col(p).as(s"__g${gi}__$p"))).toSeq: _*)
        members.foreach { case (v, m) =>
          physOf += v -> m.cols.map { case (l, p) => (l, s"__g${gi}__$p") }
        }
        renamed
      }.toSeq
      val joined = projected.reduceLeft((a, b) => a.join(b, Seq("__row_id__"), "full_outer"))
      new Ctx(Some(joined), "__row_id__", physOf)
    }
  }

  // ---- recursive evaluation ----------------------------------------------

  private def eval(ast: FormulaAst, ctx: Ctx): CValue = ast match {
    case Num(v) => CScalar(v)
    case Str(s) => CStr(s)
    case ListLit(items) => CList(items.map(i => eval(i, ctx)).toIndexedSeq)

    case Var(name) => registry(name) match {
      case m: Matrix =>
        val phys = ctx.physOf(name)
        val cols = phys.map { case (l, p) =>
          (l,
            if (std) Ops.denull(col(p))
            else if (ubp) BigDec.norm(col(p).cast(mode.cellType))
            else col(p).cast(mode.cellType))
        }
        CMatrix(cols, isBool = false)
      case v: Vec => CVecD(v.values, v.labels)
    }

    case Unary(op, e) => (op, eval(e, ctx)) match {
      case ("+", v) => v
      case ("-", CMatrix(cols, b)) =>
        require(!b, "unary - on boolean frame")
        CMatrix(mapCols(cols)(if (ubp) BigDec.neg else Ops.neg), b)
      case ("-", CVecD(vs, ls)) => CVecD(vs.map(x => -x), ls)
      case ("-", CVecC(cols, ids)) =>
        CVecC(mapCols(cols)(if (ubp) BigDec.neg else Ops.neg), ids)
      case ("-", CScalar(v)) => CScalar(-v)
      case ("~", CMatrix(cols, true)) => CMatrix(mapCols(cols)(Ops.not), isBool = true)
      case (o, _) => throw new FormulaTypeException(s"unary '$o' not applicable here")
    }

    case Bin(op, l, r) =>
      if (!std && op == "**")
        throw new AdpUnsupportedException(
          "Power operations ('**') are not supported in arbitrary-decimal-" +
          "precision mode. Use repeated multiplication or standard mode " +
          "(reference: coeff_maker.py:743-749).")
      binop(op, eval(l, ctx), eval(r, ctx), ctx)

    case Call(fn, args) =>
      if (!std)
        throw new AdpUnsupportedException(
          s"Math function '$fn' is not supported in decimal (ADP) mode.")
      // math functions are positional-only (r10: reject keyword args
      // cleanly before they reach the column machinery)
      args.collectFirst { case Kw(kn, _) => kn }.foreach(kn =>
        throw new FormulaTypeException(
          s"'$fn()' got an unexpected keyword argument '$kn' " +
            "(math functions take positional arguments only)"))
      args.map(eval(_, ctx)) match {
        case List(a) if Ops.functions.contains(fn) => applyFn(Ops.functions(fn), fn, a)
        case List(a, b) if Ops.functions2.contains(fn) =>
          binopWith(Ops.functions2(fn), Ops.scalarFn2(fn), a, b, ctx, bool = false)
        case _ => throw new FormulaTypeException(
          s"Unknown function '$fn' with ${args.length} argument(s)")
      }

    // matmul with a registry-matrix right operand: driver-collect it
    // instead of evaluating over the aligned base (its row ids are the
    // left operand's column labels — a different domain). The collect cap
    // is the left's inner dimension, so a data-scaled frame on the right
    // fails with pandas' alignment error, never an unbounded collect.
    case Method(t, "matmul" | "dot", List(Var(n)))
        if registry.get(n).exists(_.isInstanceOf[Matrix]) =>
      val tgt = eval(t, ctx)
      val cap = tgt match {
        case CMatrix(cols, _) => cols.length
        case CVecD(vs, _)     => vs.length
        case CVecC(cols, _)   => cols.length
        case _ => throw new FormulaTypeException(
          "'.matmul()' needs a matrix, vector or reduction left operand " +
            "(a scalar has no '.dot' in pandas)")
      }
      method(tgt, "matmul", List(collectMatD(registry(n).asInstanceOf[Matrix], cap)), ctx)

    case Method(t, name, args) => method(eval(t, ctx), name, args.map(eval(_, ctx)), ctx)

    // keyword argument (r10): compiled in place, consumed by method()
    case Kw(kn, v) => CKw(kn, eval(v, ctx))
  }

  /** Var names appearing as the RIGHT operand of `.matmul(...)` vs anywhere
    * else (a var doing both stays in the aligned base AND is collected). */
  private def matmulUsage(ast: FormulaAst): (Set[String], Set[String]) = {
    val arg = Set.newBuilder[String]; val other = Set.newBuilder[String]
    def go(a: FormulaAst): Unit = a match {
      case Num(_) | Str(_) => ()
      case ListLit(items)  => items.foreach(go)
      case Var(n)       => other += n
      case Unary(_, e)  => go(e)
      case Bin(_, l, r) => go(l); go(r)
      case Call(_, as)  => as.foreach(go)
      case Method(t, "matmul" | "dot", List(Var(n))) => go(t); arg += n
      case Method(t, _, as) => go(t); as.foreach(go)
      case Kw(_, v)     => go(v)
    }
    go(ast)
    (arg.result(), other.result())
  }

  /** Driver-collect a matmul right operand (row ids as strings, cells as
    * doubles, null → NaN). `limit(cap + 1)` bounds the collect at the
    * left operand's inner dimension — one extra row proves misalignment. */
  private def collectMatD(m: Matrix, cap: Int): CMatD = {
    val rows = m.base.select((col(m.rowId).cast("string") +:
        m.cols.map { case (_, p) => col(p).cast("double") }): _*)
      .limit(cap + 1).collect()
    if (rows.length > cap)
      throw new FormulaTypeException(
        s"matrices are not aligned: matmul right operand has more than $cap " +
          "rows (its row ids must equal the left operand's column labels)")
    CMatD(rows.toIndexedSeq.map { r =>
      r.getString(0) -> m.cols.indices.map(i =>
        if (r.isNullAt(i + 1)) Double.NaN else r.getDouble(i + 1)).toIndexedSeq
    }, m.labels)
  }

  private def mapCols(cols: Seq[(String, Column)])(f: Column => Column) =
    cols.map { case (l, c) => (l, f(c)) }

  private def asScalar(v: CValue, what: String): Double = v match {
    case CScalar(x) => x
    case _ => throw new FormulaTypeException(s"$what expects a scalar literal argument")
  }

  /** The axis from a reduction's argument list (r11): Some(0)/Some(1)
    * for an explicit positional `0`/`1` or `axis=` keyword (or no args
    * at all — pandas' default axis 0); None when the args are something
    * else entirely (so quantile's q, etc., fall through untouched). */
  private def axisArg(args: List[CValue]): Option[Int] = args match {
    case Nil => Some(0)
    case List(CScalar(a)) if a == 0.0 || a == 1.0 => Some(a.toInt)
    case List(CKw("axis", CScalar(a))) if a == 0.0 || a == 1.0 => Some(a.toInt)
    case _ => None
  }

  /** `.sum(axis=1)` family (r11 session 4): pandas ROW-wise reductions —
    * pure per-row projections over the bounded column list. Zero
    * shuffles, zero aggregates, fully codegen'd (the only higher-order
    * expressions are median/nunique's sort/distinct over a width-sized
    * array). skipna mirrors the columnwise family: NaN cells drop out
    * per row; an all-NaN row gives sum 0 / prod 1 / count 0 /
    * any False / all True / everything else NaN. Result is the
    * one-column Series frame (label "0" — the matmul convention). */
  private def horizontalReduce(cols: Seq[(String, Column)], k: String,
                               skipna: Boolean = true): CValue = {
    val valid = cols.map { case (_, c) =>
      when(isnan(c), lit(null)).otherwise(c) }
    lazy val n = valid.map(v => when(v.isNull, lit(0)).otherwise(lit(1)))
      .reduce(_ + _).cast("double")
    lazy val s = valid.map(v => coalesce(v, lit(0.0))).reduce(_ + _)
    def sortedArr = array_sort(filter(array(valid: _*), v => v.isNotNull))
    // skipna=False (r11 session 5): a row with any invalid cell reads
    // NaN; any turns True on one (NaN is truthy in pandas), all never
    // flips — the columnwise rule applied per row
    lazy val anyInvalidRow = valid.map(_.isNull).reduce(_ || _)
    if (k == "any" || k == "all") {
      val cell0 =
        if (k == "any") valid.map(v => v.isNotNull && v =!= 0.0).reduce(_ || _)
        else valid.map(v => v.isNull || v =!= 0.0).reduce(_ && _)
      val cell = if (skipna || k == "all") cell0 else cell0 || anyInvalidRow
      return CMatrix(Seq(("0", cell)), isBool = true)
    }
    val cell: Column = k match {
      case "sum"   => s
      case "count" => n
      case "mean"  => when(n === 0.0, lit(Double.NaN)).otherwise(s / n)
      case "min" =>
        coalesce(if (valid.size == 1) valid.head else least(valid: _*),
          lit(Double.NaN))
      case "max" =>
        coalesce(if (valid.size == 1) valid.head else greatest(valid: _*),
          lit(Double.NaN))
      case "prod" => valid.map(v => coalesce(v, lit(1.0))).reduce(_ * _)
      case "std" | "var" | "sem" =>
        val m = s / n
        val ssd = valid.map(v =>
          when(v.isNull, lit(0.0)).otherwise((v - m) * (v - m))).reduce(_ + _)
        val va = ssd / (n - 1.0)
        when(n < 2.0, lit(Double.NaN)).otherwise(k match {
          case "var" => va
          case "std" => sqrt(va)
          case _     => sqrt(va) / sqrt(n)
        })
      case "median" =>
        val a = sortedArr
        val cnt = size(a)
        val odd = element_at(a, floor((cnt + 1) / 2).cast("int"))
        val even = (element_at(a, floor(cnt / 2).cast("int")) +
          element_at(a, floor(cnt / 2).cast("int") + 1)) / 2.0
        when(cnt === 0, lit(Double.NaN))
          .otherwise(when(cnt % 2 === 1, odd).otherwise(even))
      case "nunique" =>
        size(array_distinct(filter(array(valid: _*), v => v.isNotNull)))
          .cast("double")
    }
    val gated =
      if (skipna || k == "count" || k == "nunique") cell
      else when(anyInvalidRow, lit(Double.NaN)).otherwise(cell)
    CMatrix(Seq(("0", gated)), isBool = false)
  }

  /** `.describe(percentiles=[...])`'s percentile list (r11): pandas
    * semantics — validated to [0, 1], the median always included, sorted
    * ascending, deduped. No args → the default quartiles. */
  private def describePercentiles(args: List[CValue]): IndexedSeq[Double] =
    args match {
      case Nil => IndexedSeq(0.25, 0.5, 0.75)
      case List(CKw("percentiles", l: CList)) =>
        val ps = scalarList(l, "describe",
          "describe(percentiles=[0.1, 0.9])")
        ps.foreach { p =>
          if (p < 0.0 || p > 1.0) throw new FormulaTypeException(
            s"percentiles should all be in the interval [0, 1], got $p")
        }
        ((ps :+ 0.5).distinct.sorted: IndexedSeq[Double])
      case _ => throw new FormulaTypeException(
        "'.describe()' takes percentiles= with a list literal, e.g. " +
          "describe(percentiles=[0.1, 0.9])")
    }

  /** A truthy 0/1 keyword from an argument list (r11) — the center=1 /
    * ascending=0 convention (the DSL has numeric literals only). */
  private def truthyKw(args: List[CValue], name: String): Boolean =
    args.collectFirst {
      case CKw(`name`, CScalar(v)) => v != 0.0
      case CKw(`name`, other) => throw new FormulaTypeException(
        s"'$name=' expects 0 or 1, got $other")
    }.getOrElse(false)

  /** pandas' percentile row label: '25%', '10%', '12.5%'. */
  private def pctLabel(p: Double): String = {
    val x = p * 100.0
    if (x == math.rint(x)) s"${x.toLong}%"
    else s"${BigDecimal(x).underlying.stripTrailingZeros.toPlainString}%"
  }

  /** `.clip(...)` bounds (r11): pandas' optional lower/upper, each
    * positional or keyword; a bound given both ways raises the pandas
    * multiple-values TypeError. */
  private def clipBounds(args: List[CValue]): (Option[Double], Option[Double]) = {
    val (pos, kws) = args.span(!_.isInstanceOf[CKw])
    var (lo, hi) = pos match {
      case Nil         => (Option.empty[Double], Option.empty[Double])
      case List(a)     => (Some(asScalar(a, "clip")), Option.empty[Double])
      case List(a, b)  => (Some(asScalar(a, "clip")), Some(asScalar(b, "clip")))
      case _ => throw new FormulaTypeException(
        "'.clip()' takes at most two bounds (lower, upper)")
    }
    kws.foreach {
      case CKw("lower", v) =>
        if (lo.isDefined) throw new FormulaTypeException(
          "clip() got multiple values for argument 'lower'")
        lo = Some(asScalar(v, "clip"))
      case CKw("upper", v) =>
        if (hi.isDefined) throw new FormulaTypeException(
          "clip() got multiple values for argument 'upper'")
        hi = Some(asScalar(v, "clip"))
      case other => throw new FormulaTypeException(
        s"'.clip()' got an unexpected argument $other")
    }
    (lo, hi)
  }

  /** `.replace(a, b)` as (from, to) pairs (r11): scalar→scalar,
    * list→list (pandas' length check), or list→scalar. */
  private def replacePairs(a: CValue, b: CValue): Seq[(Double, Double)] =
    (a, b) match {
      case (l: CList, r: CList) =>
        val xs = scalarList(l, "replace", "replace([1, 2], [3, 4])")
        val ys = scalarList(r, "replace", "replace([1, 2], [3, 4])")
        if (xs.length != ys.length) throw new FormulaTypeException(
          s"Replacement lists must match in length: ${xs.length} vs ${ys.length}")
        xs.zip(ys)
      case (l: CList, CScalar(y)) =>
        scalarList(l, "replace", "replace([1, 2], 0)").map(_ -> y)
      case _ =>
        Seq(asScalar(a, "replace") -> asScalar(b, "replace"))
    }

  /** Every element of a list literal as a scalar (r11) — the isin shape;
    * strings or nested lists reject with the example spelling. */
  private def scalarList(l: CList, what: String, ex: String): IndexedSeq[Double] =
    l.items.map {
      case CScalar(x) => x
      case _ => throw new FormulaTypeException(
        s"'$what' list literals hold scalar values only (e.g. $ex)")
    }

  /** (min_periods, center) from `.rolling(n, ...)`'s remaining args
    * (r10): min_periods keyword or second positional, validated to
    * pandas' 1 <= m <= n (m = 0 rejected — emitting over empty windows
    * is not supported; default = n, hole-poisoning); center as the
    * truthy keyword `center=1` (the DSL has numeric literals only),
    * supported with the DEFAULT min_periods — partial CENTERED edge
    * windows (center + explicit min_periods < n) change the positions
    * semantics at both edges and are rejected cleanly. */
  private def rollingArgs(n: Int, rest: List[CValue]): (Int, Boolean) = {
    var m = n
    var mGiven = false
    var center = false
    // pandas raises TypeError when the same argument arrives twice
    // (positionally AND as a keyword, or a repeated keyword) — mirror it
    // instead of letting the later value silently win (r10 ADVICE)
    def setM(v: CValue): Unit = {
      if (mGiven) throw new FormulaTypeException(
        "'.rolling()' got multiple values for argument 'min_periods'")
      m = asScalar(v, "min_periods").toInt; mGiven = true
    }
    rest.zipWithIndex.foreach {
      case (CKw("min_periods", v), _) => setM(v)
      case (CKw("center", v), _) =>
        center = asScalar(v, "center") != 0.0
      case (v, 0) if !v.isInstanceOf[CKw] => setM(v)
      case _ => throw new FormulaTypeException(
        "'.rolling(n)' takes min_periods (keyword or second positional) " +
          "and center=1")
    }
    if (m < 1 || m > n) throw new FormulaTypeException(
      s"min_periods $m must be in [1, window size $n]")
    if (center && mGiven && m != n) throw new FormulaTypeException(
      "'.rolling(n, center=1)' supports the default min_periods only " +
        "(partial centered edge windows are not supported)")
    (m, center)
  }

  /** (method, ascending, pct) from `.rank(...)`'s args (r11): pandas'
    * keyword surface — method ∈ {'average','min','max','first','dense'}
    * (string literal, the r11 tokenizer addition), ascending (numeric
    * truthy; the DSL spells False as 0, the adjust=0 convention), pct
    * (numeric truthy), na_option='keep' only (pandas' 'top'/'bottom'
    * rewrite NaN ranks — rejected cleanly, the quirk-parity discipline).
    * pandas' first positional is `axis`, so positional args are rejected
    * rather than guessed at. */
  private def rankArgs(args: List[CValue])
      : (String, Boolean, Boolean, String) = {
    var meth = "average"; var asc = true; var pct = false
    var naOpt = "keep"
    val methods = Set("average", "min", "max", "first", "dense")
    args.foreach {
      case CKw("method", CStr(s)) =>
        if (!methods(s)) throw new FormulaTypeException(
          s"method must be one of 'average', 'min', 'max', 'first', " +
            s"'dense', got '$s'")
        meth = s
      case CKw("method", _) => throw new FormulaTypeException(
        "'.rank(method=)' expects a string literal, e.g. method='min'")
      case CKw("ascending", v) => asc = asScalar(v, "ascending") != 0.0
      case CKw("pct", v)       => pct = asScalar(v, "pct") != 0.0
      // na_option (r11 session 5): 'top'/'bottom' rank the NaN cells as
      // one tie class BEFORE/AFTER every valid value (pandas 2.2, pinned
      // — top stays first under ascending=False, pct denominators grow
      // by the NaN class, dense counts it as one distinct value)
      case CKw("na_option", CStr(s)) =>
        if (s != "keep" && s != "top" && s != "bottom")
          throw new FormulaTypeException(
            s"'.rank(na_option='$s')' — na_option must be one of " +
              "'keep', 'top', 'bottom'")
        naOpt = s
      case CKw("na_option", _) => throw new FormulaTypeException(
        "'.rank(na_option=)' expects a string literal")
      // axis=1 is dispatched before rankArgs runs (matrix targets); an
      // axis that reaches here is the explicit 0 (accepted) or a Series
      // axis=1 (rejected — pandas' no-axis error)
      case CKw("axis", v) =>
        if (asScalar(v, "axis") != 0.0) throw new FormulaTypeException(
          "'.rank(axis=1)': a Series has no axis 1")
      case _ => throw new FormulaTypeException(
        "'.rank()' takes keyword arguments only (method=, ascending=, " +
          "pct=, na_option=, axis=)")
    }
    (meth, asc, pct, naOpt)
  }

  /** The count-map `.rank()` (every method but the positional 'first'):
    * ONE bounded collect of the stacked (column, key) value counts — the
    * NULL class included, which yields the row count — then each
    * column's sorted distinct keys, exact Long prefix sums and final
    * double ranks on the driver, applied as a pure lookup projection
    * ([[graft.functions.RankLookup]]): no join and no shuffle in the
    * result plan at any width. The rank expressions are the fallback's,
    * term for term, so the bits agree. None — run the fallback — when a
    * key is not DoubleType or a column holds more than
    * `graft.percentile.approxAboveDistinct` distinct valid keys (the
    * [[graft.operators.Prefix.runningQuantile]] budget; the collect
    * brings at most width·(budget+1)+1 rows, and more than
    * width·(budget+1) proves by pigeonhole that some column is over). */
  private def rankCountMap(base: DataFrame, cols: Seq[(String, Column)],
                           keys: Seq[Column], meth: String, pct: Boolean,
                           naOpt: String): Option[Seq[(String, Column)]] = {
    val stacked = base.select(posexplode(array(keys: _*))
      .as(Seq("__ci", "__v")))
    if (stacked.schema("__v").dataType != org.apache.spark.sql.types.DoubleType)
      return None
    val budget = base.sparkSession.conf
      .getOption("graft.percentile.approxAboveDistinct")
      .map(_.toInt).getOrElse(16384)
    val cap = cols.length.toLong * (budget + 1)
    val rows = stacked.groupBy(col("__ci"), col("__v")).count()
      .limit((cap + 1).min(Int.MaxValue).toInt).collect()
    if (rows.length > cap) return None
    val byCol = rows.groupBy(_.getInt(0))
    // every base row stacks one key per column, so any column's counts
    // (its NULL class included) sum to the row count
    val nRows = byCol.headOption.map(_._2.map(_.getLong(2)).sum).getOrElse(0L)
    val perCol = cols.indices.map { i =>
      byCol.getOrElse(i, Array.empty).filterNot(_.isNullAt(1))
        .map(r => (r.getDouble(1) + 0.0, r.getLong(2)))
        .sortBy(_._1)(Ordering.Double.TotalOrdering)
    }
    if (perCol.exists(_.length > budget)) return None
    val na = naOpt != "keep"
    Some(cols.zip(keys).zip(perCol).map { case (((lbl, c), key), kc) =>
      val tot = kc.iterator.map(_._2).sum
      val dtot = kc.length.toLong
      // na_option: the NaN class is the rows with no valid key
      val totD = tot.toDouble
      val nan = nRows.toDouble - totD
      val hasNan = if (nan > 0) 1.0 else 0.0
      val shift =
        if (naOpt != "top") 0.0 else if (meth == "dense") hasNan else nan
      val denom =
        if (!na) (if (meth == "dense") dtot else tot).toDouble
        else if (meth == "dense") dtot.toDouble + hasNan
        else nRows.toDouble
      def fin(x: Double) = if (pct) x / denom else x
      var cum = 0L
      val ranks = kc.zipWithIndex.map { case ((_, n), j) =>
        cum += n
        val raw = meth match {
          case "min"   => (cum - n + 1L).toDouble
          case "max"   => cum.toDouble
          case "dense" => (j + 1L).toDouble
          case _       => (cum - n).toDouble + (n.toDouble + 1.0) / 2.0
        }
        fin(if (na) raw + shift else raw)
      }
      val look = graft.functions.ArrayOps.rank_lookup(key,
        kc.map(_._1), ranks)
      if (!na) (lbl, when(isnan(c), c).otherwise(look))
      else {
        val nanRank = (naOpt, meth) match {
          case ("top", "average") => (nan + 1.0) / 2.0
          case ("top", "max")     => nan
          case ("top", _)         => 1.0 // min, dense
          case (_, "average")     => totD + (nan + 1.0) / 2.0
          case (_, "min")         => totD + 1.0
          case (_, "max")         => totD + nan
          case _                  => dtot.toDouble + 1.0 // dense
        }
        (lbl, when(invalidOf(c), lit(fin(nanRank))).otherwise(look))
      }
    })
  }

  /** (q, interpolation code) from `.rolling(n).quantile(q, ...)`'s args
    * (r11): q positional in [0,1]; interpolation ∈ {'linear','lower',
    * 'higher','nearest','midpoint'} (pandas' five), encoded 0–4 for the
    * emit hot path. */
  private val interpCodes = Map("linear" -> 0, "lower" -> 1, "higher" -> 2,
    "nearest" -> 3, "midpoint" -> 4)

  /** `.rolling(n).rank(...)`'s window emit (r11). pandas rolling.rank
    * supports exactly average/min/max (no dense/first — there is no
    * stable positional identity inside a sliding window). */
  private def rollingRank(args: List[CValue]): Fuse.Rank = {
    val (meth, asc, pct, naOpt) = rankArgs(args)
    // pandas Rolling.rank has no na_option parameter at all
    if (naOpt != "keep") throw new FormulaTypeException(
      "'.rolling(n).rank()' got an unexpected keyword argument " +
        "'na_option' (pandas rolling.rank has none)")
    val mc = meth match {
      case "average" => 0; case "min" => 1; case "max" => 2
      case other => throw new FormulaTypeException(
        s"'.rolling(n).rank(method='$other')' — pandas rolling.rank " +
          "supports 'average', 'min', 'max'")
    }
    Fuse.Rank(mc, asc, pct)
  }

  /** The interpolation code from a quantile arg list's keyword tail. */
  private def interpOf(rest: List[CValue], what: String): Int = rest match {
    case Nil => 0
    case List(CKw("interpolation", CStr(s))) =>
      interpCodes.getOrElse(s, throw new FormulaTypeException(
        s"Interpolation '$s' is not supported — use one of 'linear', " +
          "'lower', 'higher', 'nearest', 'midpoint'"))
    case _ => throw new FormulaTypeException(
      s"'$what' takes interpolation= as its only keyword argument")
  }

  private def rollingQuantileArgs(args: List[CValue],
                                  what: String = ".rolling(n).quantile(q)")
      : (Double, Int) = {
    args match {
      case (qv :: rest) if !qv.isInstanceOf[CKw] && rest.length <= 1 =>
        val q = asScalar(qv, "quantile")
        if (!(q >= 0.0 && q <= 1.0)) throw new FormulaTypeException(
          s"'$what' needs 0 <= q <= 1, got $q")
        (q, interpOf(rest, what))
      case _ => throw new FormulaTypeException(
        s"'$what' needs the quantile as its first positional argument")
    }
  }

  /** The rolling methods and the [[graft.operators.Prefix.winEmitter]]
    * window each runs for its arguments (std is the square root of the
    * variance emit). */
  private val rollingWins: Map[String, List[CValue] => Fuse.Win] = Map(
    "sum" -> (_ => Fuse.Sum), "mean" -> (_ => Fuse.Mean),
    "min" -> (_ => Fuse.Min), "max" -> (_ => Fuse.Max),
    "count" -> (_ => Fuse.Count), "median" -> (_ => Fuse.Median),
    "std" -> (_ => Fuse.Var), "var" -> (_ => Fuse.Var),
    "skew" -> (_ => Fuse.Skew), "kurt" -> (_ => Fuse.Kurt),
    "sem" -> (_ => Fuse.Sem), "rank" -> rollingRank,
    "quantile" -> { a =>
      val (q, interp) = rollingQuantileArgs(a)
      Fuse.Quantile(q, interp)
    })

  /** Whether `.rolling(n).m(args)`'s argument list has m's shape:
    * quantile(q[, interpolation=]), rank(keywords…), the rest none. */
  private def rollingArgsFit(m: String, args: List[CValue]): Boolean =
    m match {
      case "quantile" =>
        args.nonEmpty && !args.head.isInstanceOf[CKw] && args.length <= 2
      case "rank" => args.forall(_.isInstanceOf[CKw])
      case _      => args.isEmpty
    }

  /** A Series rolling twin: the batch window `emit` once per position
    * over a ring of the ≤ n−1 predecessors (one slice, empty incoming
    * ring), then the centre shift by (n−1)/2 with the pandas tail NaN. */
  private def rollingTwin(rows: IndexedSeq[Array[Any]], n: Int,
      center: Boolean,
      emit: (graft.operators.Prefix.Ring, Array[Any], Int) => java.lang.Double)
      : IndexedSeq[Double] = {
    val ring: graft.operators.Prefix.Ring =
      scala.collection.mutable.ArrayDeque.empty
    val trail = rows.map { cur =>
      val v: Double = emit(ring, cur, 0)
      ring.append(cur)
      if (ring.length > n - 1) ring.removeHead()
      v
    }
    val lead = if (center) (n - 1) / 2 else 0
    trail.indices.map(i =>
      if (i + lead < trail.length) trail(i + lead) else Double.NaN)
  }

  /** An invalid std-mode cell: NULL or NaN. */
  private def invalidOf(c: Column): Column = c.isNull || isnan(c)

  /** The running-scan fold of each cumulative method. */
  private val cumKinds = Map("cumsum" -> RunKind.Sum,
    "cummax" -> RunKind.Max, "cummin" -> RunKind.Min,
    "cumprod" -> RunKind.Prod)

  /** min_periods from `.expanding(...)`'s args (r10): one optional value,
    * keyword or positional, m >= 1 (pandas default 1). */
  private def expandingMinPeriods(args: List[CValue]): Int = {
    val m = args match {
      case Nil                             => 1
      case List(CKw("min_periods", v))     => asScalar(v, "min_periods").toInt
      case List(v) if !v.isInstanceOf[CKw] => asScalar(v, "min_periods").toInt
      case _ => throw new FormulaTypeException(
        "'.expanding()' takes at most one argument (min_periods)")
    }
    if (m < 1) throw new FormulaTypeException(
      s"min_periods must be >= 1, got $m")
    m
  }

  // ---- binary dispatch over all operand-kind pairs ------------------------

  private def colOp(op: String): (Column, Column) => Column =
    if (std) op match {
      case "+" => Ops.add; case "-" => Ops.sub; case "*" => Ops.mul
      case "/" => Ops.div; case "%" => Ops.mod; case "//" => Ops.floorDiv
      case "**" => Ops.pow2
      case ">" => Ops.gt; case "<" => Ops.lt; case ">=" => Ops.geq
      case "<=" => Ops.leq; case "==" => Ops.eq; case "!=" => Ops.neq
      case "&" => Ops.and; case "|" => Ops.or
    } else if (ubp) op match {
      // unbounded ADP: BigDecimal string cells — + - * exact (no rounding),
      // / at decimalPrecision significant digits; /0 and %0 yield NULL (the
      // ADP invalid marker); comparisons are numeric via the compiled
      // three-way compare
      case "+" => BigDec.add _; case "-" => BigDec.sub _
      case "*" => BigDec.mul _
      case "/" => (l: Column, r: Column) => BigDec.div(l, r, mode.decimalPrecision)
      case "%" => BigDec.mod _
      case ">" => (l: Column, r: Column) => BigDec.cmp(l, r) > 0
      case "<" => (l: Column, r: Column) => BigDec.cmp(l, r) < 0
      case ">=" => (l: Column, r: Column) => BigDec.cmp(l, r) >= 0
      case "<=" => (l: Column, r: Column) => BigDec.cmp(l, r) <= 0
      case "==" => (l: Column, r: Column) => BigDec.cmp(l, r) === 0
      case "!=" => (l: Column, r: Column) => BigDec.cmp(l, r) =!= 0
      case "&" => Ops.and; case "|" => Ops.or
      case other => throw new AdpUnsupportedException(s"'$other' unsupported in ADP mode")
    } else op match {
      // decimal mode: Spark decimal arithmetic via try_* — division by zero
      // and precision overflow yield NULL (the ADP invalid marker) instead of
      // ANSI exceptions, mirroring the reference's invalid-cell semantics
      case "+" => try_add _; case "-" => try_subtract _
      case "*" => try_multiply _; case "/" => try_divide _
      case "%" => try_mod _
      case ">" => (_: Column) > (_: Column); case "<" => (_: Column) < (_: Column)
      case ">=" => (_: Column) >= (_: Column); case "<=" => (_: Column) <= (_: Column)
      case "==" => (_: Column) === (_: Column); case "!=" => (_: Column) =!= (_: Column)
      case "&" => Ops.and; case "|" => Ops.or
      case other => throw new AdpUnsupportedException(s"'$other' unsupported in ADP mode")
    }

  private def isCmp(op: String) = Set(">", "<", ">=", "<=", "==", "!=", "&", "|")(op)

  private def binop(op: String, l: CValue, r: CValue, ctx: Ctx): CValue =
    binopWith(colOp(op), (a, b) => Ops.scalarBin(op, a, b), l, r, ctx, bool = isCmp(op))

  private def litOf(v: Double): Column =
    if (std) lit(v)
    else if (ubp) {
      // no NaN/Inf cells in decimal modes: the invalid marker is NULL
      // (alignment holes from the label-union path land here as NaN)
      if (v.isNaN || v.isInfinite) lit(null).cast(mode.cellType)
      else lit(BigDec.litOf(v))
    } else lit(v).cast(mode.cellType)

  private def binopWith(f: (Column, Column) => Column, fs: (Double, Double) => Double,
                        l: CValue, r: CValue, ctx: Ctx, bool: Boolean): CValue = (l, r) match {
    // matrix ∘ matrix: label alignment (§2.3 A1). Same ordered labels → zip;
    // otherwise sorted union with NaN for one-sided labels.
    case (CMatrix(lc, lb), CMatrix(rc, rb)) =>
      val out =
        if (lc.map(_._1) == rc.map(_._1))
          lc.zip(rc).map { case ((lbl, a), (_, b)) => (lbl, f(a, b)) }
        else {
          val lm = lc.toMap; val rm = rc.toMap
          val union = (lc.map(_._1) ++ rc.map(_._1)).distinct.sorted
          union.map { lbl =>
            (lbl, f(lm.getOrElse(lbl, litOf(Double.NaN)), rm.getOrElse(lbl, litOf(Double.NaN))))
          }
        }
      CMatrix(out, bool)

    // matrix ∘ vector: COLUMN-POSITIONAL broadcast (§2.3 A2 [verified]) —
    // the vector becomes literals inside the projection; zero shuffle.
    case (CMatrix(mc, _), CVecD(vs, _)) =>
      requireLen(vs.length, mc.length)
      CMatrix(mc.zip(vs).map { case ((lbl, c), v) => (lbl, f(c, litOf(v))) }, bool)
    case (CVecD(vs, _), CMatrix(mc, _)) =>
      requireLen(vs.length, mc.length)
      CMatrix(mc.zip(vs).map { case ((lbl, c), v) => (lbl, f(litOf(v), c)) }, bool)

    // matrix ∘ reduction-vector: pull the 1-row agg into the base (broadcast
    // cross join — the scalar-subquery shape), then positional zip.
    case (CMatrix(mc, _), CVecC(vc, ids)) =>
      requireLen(vc.length, mc.length); ids.foreach(ctx.pull)
      CMatrix(mc.zip(vc).map { case ((lbl, c), (_, v)) => (lbl, f(c, v)) }, bool)
    case (CVecC(vc, ids), CMatrix(mc, _)) =>
      requireLen(vc.length, mc.length); ids.foreach(ctx.pull)
      CMatrix(mc.zip(vc).map { case ((lbl, c), (_, v)) => (lbl, f(v, c)) }, bool)

    // vector ∘ vector: positional, NO label alignment (§2.3 A3 [verified])
    case (CVecD(a, al), CVecD(b, _)) =>
      requireLen(a.length, b.length)
      CVecD(a.zip(b).map { case (x, y) => fs(x, y) }, al)
    case (CVecC(a, ids), CVecD(b, _)) =>
      requireLen(a.length, b.length)
      CVecC(a.zip(b).map { case ((lbl, c), v) => (lbl, f(c, litOf(v))) }, ids)
    case (CVecD(a, _), CVecC(b, ids)) =>
      requireLen(a.length, b.length)
      CVecC(b.zip(a).map { case ((lbl, c), v) => (lbl, f(litOf(v), c)) }, ids)
    case (CVecC(a, i1), CVecC(b, i2)) =>
      requireLen(a.length, b.length)
      CVecC(a.zip(b).map { case ((lbl, x), (_, y)) => (lbl, f(x, y)) }, i1 ++ i2)

    // scalar broadcast (E5)
    case (CMatrix(mc, _), CScalar(v)) => CMatrix(mapCols(mc)(c => f(c, litOf(v))), bool)
    case (CScalar(v), CMatrix(mc, _)) => CMatrix(mapCols(mc)(c => f(litOf(v), c)), bool)
    case (CVecD(a, al), CScalar(v))   => CVecD(a.map(fs(_, v)), al)
    case (CScalar(v), CVecD(a, al))   => CVecD(a.map(fs(v, _)), al)
    case (CVecC(a, ids), CScalar(v))  => CVecC(mapCols(a)(c => f(c, litOf(v))), ids)
    case (CScalar(v), CVecC(a, ids))  => CVecC(mapCols(a)(c => f(litOf(v), c)), ids)
    case (CScalar(a), CScalar(b))     => CScalar(fs(a, b))

    // string literals are method arguments only (r11) — arithmetic use
    // mirrors pd.eval's TypeError for str operands
    case (CStr(s), _) => throw new FormulaTypeException(
      s"unsupported operand: string literal '$s' (strings are method " +
        "arguments only, e.g. rank(method='min'))")
    case (_, CStr(s)) => throw new FormulaTypeException(
      s"unsupported operand: string literal '$s' (strings are method " +
        "arguments only, e.g. rank(method='min'))")

    case other => throw new FormulaTypeException(s"cannot combine operands: $other")
  }

  private def requireLen(a: Int, b: Int): Unit =
    if (a != b) throw new FormulaTypeException(
      s"operands are not aligned: vector length $a vs $b columns " +
        "(vectors broadcast by column position; see SURVEY §2.3 A2)")

  private def applyFn(f: Column => Column, name: String, v: CValue): CValue = v match {
    case CMatrix(cols, false) => CMatrix(mapCols(cols)(f), isBool = false)
    case CVecD(vs, ls)        => CVecD(vs.map(Ops.scalarFn(name, _)), ls)
    case CVecC(cols, ids)     => CVecC(mapCols(cols)(f), ids)
    case CScalar(x)           => CScalar(Ops.scalarFn(name, x))
    case other => throw new FormulaTypeException(s"$name() not applicable to $other")
  }

  // ---- method whitelist (E10/E11) ----------------------------------------

  /** Keyword arguments each method accepts (r10); every other (method,
    * keyword) pair is a clean python-style TypeError. */
  private val methodKwargs: Map[String, Set[String]] =
    Map("rolling" -> Set("min_periods", "center"),
      "expanding" -> Set("min_periods"),
      "ewm" -> Set("com", "span", "halflife", "alpha", "min_periods",
        "adjust"),
      "rank" -> Set("method", "ascending", "pct", "na_option", "axis"),
      "clip" -> Set("lower", "upper"),
      "describe" -> Set("percentiles"),
      "value_counts" -> Set("normalize", "ascending"),
      "quantile" -> Set("interpolation"),
      // skipna (r11 session 5): pandas' NaN-poisoning switch — but NOT
      // on count/nunique (no such pandas parameter there) and not on
      // idxmax/idxmin (deprecated in pandas 2.x, raises in 3)
      "skew" -> Set("skipna"), "kurt" -> Set("skipna")) ++
      Seq("sum", "mean", "min", "max", "std", "var", "median",
        "prod", "sem", "any", "all",
        "cumsum", "cummax", "cummin", "cumprod")
        .map(_ -> Set("axis", "skipna")).toMap ++
      Seq("count", "nunique").map(_ -> Set("axis")).toMap ++
      // flex arithmetic: fill the missing side when exactly one side is
      // invalid (r11 session 5)
      Seq("add", "sub", "mul", "div", "truediv", "mod", "floordiv")
        .map(_ -> Set("fill_value")).toMap

  /** Resolve `.ewm(...)`'s decay parameter to α — pandas' four mutually
    * exclusive spellings (com positional or keyword; span/halflife/alpha
    * keyword-only), with pandas' own domain checks:
    * α = 1/(1+com) = 2/(span+1) = 1 − exp(ln½/halflife). */
  /** `.ewm(...)`'s full parameter split (r11): min_periods (pandas
    * default 0 — emit as soon as a value exists) and adjust (pandas
    * default True; the DSL's numeric literals spell False as adjust=0)
    * peeled off, the rest resolved to the decay α by [[ewmAlpha]]. */
  private def ewmParams(args: List[CValue]): (Double, Int, Boolean) = {
    val (kws, decay) = args.partition {
      case CKw("min_periods" | "adjust", _) => true
      case _ => false
    }
    var minp = 0
    var minpGiven = false
    var adjust = true
    var adjGiven = false
    kws.foreach {
      case CKw("min_periods", v) =>
        if (minpGiven) throw new FormulaTypeException(
          "'.ewm()' got multiple values for argument 'min_periods'")
        minp = asScalar(v, "min_periods").toInt
        if (minp < 0) throw new FormulaTypeException(
          s"'.ewm(min_periods=m)' needs m >= 0, got $minp")
        minpGiven = true
      case CKw(_, v) =>
        if (adjGiven) throw new FormulaTypeException(
          "'.ewm()' got multiple values for argument 'adjust'")
        adjust = asScalar(v, "adjust") != 0.0
        adjGiven = true
      case _ => ()
    }
    (ewmAlpha(decay), minp, adjust)
  }

  private def ewmAlpha(args: List[CValue]): Double = {
    val params = args.map {
      case CKw(n, v) => (n, asScalar(v, s"ewm $n"))
      case v         => ("com", asScalar(v, "ewm"))
    }
    if (params.length != 1) throw new FormulaTypeException(
      "'.ewm()' takes exactly one of com, span, halflife, alpha " +
        "(mutually exclusive)")
    params.head match {
      case ("com", x) =>
        if (x < 0 || x.isNaN) throw new FormulaTypeException(
          s"'.ewm(com)' needs com >= 0, got $x")
        1.0 / (1.0 + x)
      case ("span", x) =>
        if (!(x >= 1)) throw new FormulaTypeException(
          s"'.ewm(span)' must satisfy span >= 1, got $x")
        2.0 / (x + 1.0)
      case ("halflife", x) =>
        if (!(x > 0)) throw new FormulaTypeException(
          s"'.ewm(halflife)' must be positive, got $x")
        1.0 - math.exp(math.log(0.5) / x)
      case (_, x) => // alpha
        if (!(x > 0 && x <= 1)) throw new FormulaTypeException(
          s"'.ewm(alpha)' must satisfy 0 < alpha <= 1, got $x")
        x
    }
  }

  /** The methods whose pandas signature carries skipna (r11 session 5). */
  private val skipnaMethods = Set("sum", "mean", "min", "max", "std",
    "var", "median", "prod", "sem", "any", "all", "skew", "kurt",
    "cumsum", "cummax", "cummin", "cumprod")

  private def method(target: CValue, name: String, args: List[CValue], ctx: Ctx): CValue = {
    args.foreach {
      case CKw(kn, _) if !methodKwargs.getOrElse(name, Set.empty)(kn) =>
        throw new FormulaTypeException(
          s"'.$name()' got an unexpected keyword argument '$kn'")
      case _ =>
    }
    // `.dot()` (r11 session 5): the actual pandas spelling of matrix
    // multiplication (`@` stays rejected, E12) — a pure alias
    val name1 = if (name == "dot") "matmul" else name
    // skipna (r11 session 5): peeled off the reduction/cum argument list
    // up front so the axis guards below see pandas' positional surface
    // unchanged; window markers keep their own kwarg contracts (pandas
    // Rolling.sum has no skipna), so the peel skips them
    val windowTarget = target match {
      case _: CRoll | _: CRollD | _: CExpand | _: CExpandD |
           _: CEwm | _: CEwmD => true
      case _ => false
    }
    if (windowTarget && args.exists {
        case CKw("skipna", _) => true; case _ => false })
      throw new FormulaTypeException(
        s"'.$name1()' on a window got an unexpected keyword argument " +
          "'skipna' (pandas window aggregates have none)")
    val (argsP, skipna) =
      if (windowTarget || !skipnaMethods(name1)) (args, true)
      else {
        val (sk, rest) = args.partition {
          case CKw("skipna", _) => true; case _ => false }
        sk match {
          case Nil => (rest, true)
          case List(CKw(_, v)) => (rest, asScalar(v, "skipna") != 0.0)
          case _ => throw new FormulaTypeException(
            s"'.$name1()' got multiple values for argument 'skipna'")
        }
      }
    (name1, target, argsP) match {
      case ("fillna", CMatrix(cols, false), List(a)) =>
        val v = asScalar(a, "fillna")
        val filled =
          if (std) mapCols(cols)(c => when(isnan(c), litOf(v)).otherwise(c))
          else mapCols(cols)(c => coalesce(c, litOf(v)))
        CMatrix(filled, isBool = false)
      case ("fillna", CVecD(vs, ls), List(a)) =>
        val v = asScalar(a, "fillna"); CVecD(vs.map(x => if (x.isNaN) v else x), ls)

      // `.isin([...])` (r11, with the list-literal tokenizer): the pandas
      // membership test — a boolean frame under the comparison encoding
      // (NaN and alignment-hole cells are False; the DSL has no NaN
      // literal, so NaN can never be IN the set). Compiles to one
      // codegen'd In() per cell — zero joins, zero shuffles.
      case ("isin", CMatrix(cols, _), List(lst: CList)) =>
        if (!std) throw new AdpUnsupportedException(
          "'.isin()' is not supported in ADP mode")
        val vs = scalarList(lst, "isin", "isin([1, 2.5])")
        CMatrix(cols.map { case (lbl, c) =>
          (lbl, if (vs.isEmpty) lit(false)
                else when(isnan(c), lit(false))
                  .otherwise(coalesce(c.isin(vs: _*), lit(false))))
        }, isBool = true)
      case ("isin", CVecD(vals, ls), List(lst: CList)) =>
        // bool vectors encode 1/0 (the scalar comparison convention)
        val vs = scalarList(lst, "isin", "isin([1, 2.5])")
        CVecD(vals.map(x =>
          if (!x.isNaN && vs.contains(x)) 1.0 else 0.0), ls)
      case ("isin", _, args) if !args.exists(_.isInstanceOf[CList]) =>
        throw new FormulaTypeException(
          "'.isin()' expects a list literal, e.g. isin([1, 2.5])")

      // `.agg('fn')` / `.agg(['fn1', 'fn2'])` (r11 session 4, unlocked by
      // the string/list literals): pandas' named-aggregation dispatch. A
      // single name delegates to the method itself (the 1-row Series
      // reduction); a list builds the stat frame — one row per function
      // name, the describe shape — with each row riding the SAME reduce
      // plan its method uses: one 1-row tree-reduce per function,
      // crossJoin-broadcast, zero extra shuffles, never a collect.
      // idxmax/idxmin (string cells) and any/all (boolean cells) are
      // excluded from the LIST form only — the stat frame is a double
      // matrix; pandas' object-dtype mixed frame has no analogue here.
      // single-name agg also delegates on the window markers
      // (rolling/expanding/ewm — pandas' r.agg('mean') ≡ r.mean());
      // the list (stat-frame) form stays frame/Series-only
      case ("agg", tgt, List(arg)) if (tgt match {
          case CMatrix(_, false) | _: CVecD | _: CRoll | _: CRollD |
               _: CExpand | _: CExpandD | _: CEwm | _: CEwmD => true
          case _ => false
        }) && (arg.isInstanceOf[CStr] || arg.isInstanceOf[CList]) =>
        val single = Set("sum", "mean", "min", "max", "count", "std",
          "var", "median", "prod", "nunique", "sem", "skew", "kurt",
          "quantile", "any", "all", "idxmax", "idxmin")
        val listable = single -- Set("any", "all", "idxmax", "idxmin")
        def named(k: String, allowed: Set[String]): String = {
          if (!allowed(k)) throw new FormulaTypeException(
            s"'.agg()' supports ${allowed.toSeq.sorted.mkString("/")}; " +
              s"got '$k'")
          k
        }
        arg match {
          case CStr(k) => method(tgt, named(k, single), Nil, ctx)
          case lst: CList =>
            val names = lst.items.map {
              case CStr(k) => named(k, listable)
              case _ => throw new FormulaTypeException(
                "'.agg([...])' takes a list of function-name strings, " +
                  "e.g. agg(['sum', 'mean'])")
            }
            if (names.isEmpty) throw new FormulaTypeException(
              "'.agg([...])' needs at least one function name")
            tgt match {
              case m: CMatrix =>
                val frames = names.map { k =>
                  method(m, k, Nil, ctx) match {
                    case v: CVecC =>
                      val joined = v.aggIds.toSeq.sorted.map(ctx.aggDfs)
                        .reduceLeft(_.crossJoin(_))
                      joined.select((lit(k).as("__row_id__") +:
                        v.cols.map { case (l, c) =>
                          c.cast("double").as(l) }): _*)
                    case other => throw new FormulaTypeException(
                      s"'.agg()' function '$k' did not reduce: $other")
                  }
                }
                CFrame(frames.reduceLeft(_.unionAll(_)), "__row_id__",
                  m.cols.map(_._1))
              case v: CVecD =>
                // pandas Series.agg(list) → a Series indexed by the
                // function names (driver path, like every vector reduce)
                CVecD(names.map { k =>
                  method(v, k, Nil, ctx) match {
                    case CScalar(x) => x
                    case other => throw new FormulaTypeException(
                      s"'.agg()' function '$k' did not reduce: $other")
                  }
                }, names)
              case _ => throw new FormulaTypeException(
                "'.agg([...])' takes a DataFrame or Series; window " +
                  "objects dispatch one function at a time (agg('mean'))")
            }
        }
      case ("agg", _, _) =>
        throw new FormulaTypeException(
          "'.agg()' takes one function name string or a list of them, " +
            "e.g. agg('sum') or agg(['sum', 'mean'])")

      // `.clip(...)` — r11 session 4 generalizes the two-positional form
      // to pandas' full signature: lower/upper each optional, positional
      // or keyword (clip(0), clip(upper=5), clip(lower=1, upper=9), …);
      // a double-given bound raises pandas' multiple-values TypeError.
      case ("clip", CMatrix(cols, false), args) =>
        val (lo, hi) = clipBounds(args)
        def bound(c: Column): Column = {
          val lowered = lo.fold(c)(l =>
            if (ubp) when(BigDec.cmp(c, litOf(l)) < 0, litOf(l)).otherwise(c)
            // least/greatest on decimal strings would compare
            // lexicographically; ubp clips via the numeric three-way cmp
            else greatest(c, litOf(l)))
          hi.fold(lowered)(h =>
            if (ubp) when(BigDec.cmp(lowered, litOf(h)) > 0, litOf(h))
              .otherwise(lowered)
            else least(lowered, litOf(h)))
        }
        val clipped =
          if (std) mapCols(cols)(c => when(isnan(c), c).otherwise(bound(c)))
          else mapCols(cols)(bound)
        CMatrix(clipped, isBool = false)
      case ("clip", CVecD(vs, ls), args) =>
        val (lo, hi) = clipBounds(args)
        CVecD(vs.map { x =>
          if (x.isNaN) x
          else hi.fold(lo.fold(x)(math.max(x, _)))(h =>
            math.min(lo.fold(x)(math.max(x, _)), h))
        }, ls)

      // `.isna()`/`.isnull()` and `.notna()`/`.notnull()` (r9): the hole
      // mask as a boolean frame. Std holes are NULL/NaN; decimal and
      // unbounded cells (and boolean frames, where isnan would not even
      // type-check) only NULL. Boolean results skip validation/fill like
      // every comparison (reference behavior, coeff_maker.py:183-185).
      case (m @ ("isna" | "isnull" | "notna" | "notnull"),
            CMatrix(cols, b), Nil) =>
        val neg = m.startsWith("not")
        val out = mapCols(cols) { c =>
          val miss = if (std && !b) c.isNull || isnan(c) else c.isNull
          if (neg) !miss else miss
        }
        CMatrix(out, isBool = true)
      case (m @ ("isna" | "isnull" | "notna" | "notnull"), CVecD(vs, ls), Nil) =>
        val neg = m.startsWith("not")
        CVecD(vs.map(x => if (x.isNaN != neg) 1.0 else 0.0), ls)

      // `.where(cond[, other])` / `.mask(cond[, other])` (r9): pandas
      // conditional replacement — `where` keeps cells where cond is True
      // (NULL cond counts as False, exactly pandas' NaN-comparison rule),
      // `mask` replaces them; `other` defaults to the invalid cell. The
      // condition aligns to the target BY LABEL (pandas alignment); both
      // operands live on the same aligned base, so the whole method is one
      // scan-stage projection — zero extra movement.
      case (m @ ("where" | "mask"), CMatrix(cols, false), condArg :: rest)
          if rest.length <= 1 =>
        val cond = condArg match {
          case CMatrix(cc, true) => cc.toMap
          case _ => throw new FormulaTypeException(
            s"'.$m(cond[, other])' needs a boolean-matrix condition " +
              "(e.g. a comparison result)")
        }
        val otherOf: String => Column = rest.headOption match {
          case None            => _ => litOf(Double.NaN)
          case Some(CScalar(v)) => _ => litOf(v)
          case Some(CMatrix(oc, false)) =>
            val om = oc.toMap
            lbl => om.getOrElse(lbl, litOf(Double.NaN))
          case Some(_) => throw new FormulaTypeException(
            s"'.$m(cond, other)' needs a scalar or matrix replacement")
        }
        val out = cols.map { case (lbl, c) =>
          val cc = cond.getOrElse(lbl, throw new FormulaTypeException(
            s"'.$m': the condition has no column '$lbl'"))
          val condTrue = cc.isNotNull && cc
          val keep = if (m == "where") condTrue else !condTrue
          (lbl, when(keep, c).otherwise(otherOf(lbl)))
        }
        CMatrix(out, isBool = false)

      // `.replace(a, b)` (r9): pandas scalar value replacement by exact
      // equality; holes are untouched (NULL/NaN never equals a finite
      // scalar). Unbounded cells compare numerically (string equality
      // would miss scale variants like "7" vs "7.0").
      case ("replace", CMatrix(cols, false), List(a, b)) =>
        // scalar→scalar, list→list (pairwise, pandas' length check), or
        // list→scalar; one chained CaseWhen per cell either way
        val pairs = replacePairs(a, b)
        val out =
          if (ubp) mapCols(cols)(c => pairs.foldLeft(when(lit(false), c)) {
            case (w, (x, y)) => w.when(BigDec.cmp(c, litOf(x)) === 0, litOf(y))
          }.otherwise(c))
          else mapCols(cols)(c => pairs.foldLeft(when(lit(false), c)) {
            case (w, (x, y)) => w.when(c === litOf(x), litOf(y))
          }.otherwise(c))
        CMatrix(out, isBool = false)
      case ("replace", CVecD(vs, ls), List(a, b)) =>
        val pairs = replacePairs(a, b)
        CVecD(vs.map(v => pairs.collectFirst {
          case (x, y) if v == x => y }.getOrElse(v)), ls)

      // `.duplicated()` (r9): pandas keep='first' — True for every row
      // whose full cell tuple already appeared at a SMALLER row id (the
      // engine's first-occurrence order). Distributed as ONE map-side-
      // combined groupBy over the value tuple (min(rid) per tuple) plus an
      // equi-join back — the aggregate-join-back shape, no window whose
      // partition is a duplicate class (a constant frame would put every
      // row in one partition). NULL holes are normalized to NaN for the
      // key so they group and join as equal values, pandas' NaN-equality
      // rule for duplicated; Spark groups and joins NaN keys as equal.
      case ("duplicated", CMatrix(cols, false), Nil) =>
        if (!std) throw new AdpUnsupportedException(
          "'.duplicated()' is not supported in ADP mode")
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        val rid = col(ctx.rowIdOut)
        val keyNames = cols.indices.map(i => s"__dp${tag}_k_$i")
        val firstName = s"__dp${tag}_first"
        val materialized = ctx.base.get.select(col("*") +:
          cols.zip(keyNames).map { case ((_, c), kn) =>
            coalesce(c, litOf(Double.NaN)).as(kn)
          }: _*)
        val firsts = materialized.groupBy(keyNames.map(col): _*)
          .agg(min(rid).as(firstName))
        ctx.base = Some(materialized.join(firsts, keyNames, "left"))
        CMatrix(Seq("dup" -> (rid =!= col(firstName))), isBool = true)

      // `.round(n)` (E11 long tail): pandas/numpy half-even rounding to n
      // decimals — Spark's bround IS HALF_EVEN, and the driver-side paths
      // use java BigDecimal.valueOf(x).setScale(n, HALF_EVEN), the same
      // algorithm bround runs. (numpy's scaled-rint formulation can differ
      // at binary-representation edges like 2.675 — documented, test-pinned
      // on safe values.) NaN/null cells propagate unchanged. Rejected in
      // unbounded mode: exactness is that mode's contract.
      case ("round", t, args) if args.length <= 1 =>
        val n = args.headOption.map(a => asScalar(a, "round").toInt).getOrElse(0)
        if (ubp) throw new AdpUnsupportedException(
          "'.round()' is not supported in unbounded ADP mode")
        def jround(x: Double): Double =
          if (x.isNaN || x.isInfinite) x
          else java.math.BigDecimal.valueOf(x)
            .setScale(n, java.math.RoundingMode.HALF_EVEN).doubleValue()
        t match {
          case CMatrix(cols, false) =>
            CMatrix(mapCols(cols)(c => bround(c, n)), isBool = false)
          case CVecC(cols, ids) => CVecC(mapCols(cols)(c => bround(c, n)), ids)
          case CVecD(vs, ls)    => CVecD(vs.map(jround), ls)
          case CScalar(x)       => CScalar(jround(x))
          case other =>
            throw new FormulaTypeException(
              s"'.round()' is not defined on ${other.getClass.getSimpleName}")
        }

      case ("pow", t, List(k)) => binop("**", t, k, ctx)
      case ("abs", t, Nil)     =>
        if (std) applyFn(Ops.functions("abs"), "abs", t)
        else if (ubp) t match {
          case CMatrix(cols, false) => CMatrix(mapCols(cols)(BigDec.abs), isBool = false)
          case other => applyFn(BigDec.abs, "abs", other)
        }
        else t match {
          case CMatrix(cols, false) => CMatrix(mapCols(cols)(abs), isBool = false)
          case other => applyFn(abs(_), "abs", other)
        }

      // whole-frame reductions: pandas skipna semantics (sum of all-NaN = 0,
      // prod of all-NaN = 1, the rest NaN; count of none = 0). One
      // partial-agg tree-reduce; 1-row result. std/var are ddof=1; median
      // interpolates the even middle — the full pd.eval-dispatchable
      // reduction family (E11 long tail).
      // axis=1 (row-wise) first: a pure projection, never an aggregate
      case (k @ ("sum" | "mean" | "min" | "max" | "count" | "std" | "var" |
                 "median" | "prod" | "nunique" | "sem" | "any" | "all"),
            CMatrix(cols, false), args)
          if axisArg(args).contains(1) =>
        if (!std) throw new AdpUnsupportedException(
          s"'.$k(axis=1)' is not supported in ADP mode")
        horizontalReduce(cols, k, skipna)
      case (k @ ("sum" | "mean" | "min" | "max" | "count" | "std" | "var" |
                 "median" | "prod" | "nunique" | "any" | "all" |
                 "idxmax" | "idxmin" | "sem" | "skew" | "kurt"),
            CMatrix(cols, false), args)
          if axisArg(args).contains(0) =>
        reduce(cols, ctx, k, skipna)
      case ("idxmax" | "idxmin", _: CVecD, Nil) =>
        throw new FormulaTypeException(
          "idxmax/idxmin on a driver vector returns a LABEL, not a " +
            "number — read the vector's labels directly instead")
      // `.quantile(q)`: the parameterized median — pandas linear
      // interpolation ≡ Spark `percentile` ≡ DuckDB quantile_cont.
      // r11: all five interpolation modes on both targets. 'linear' is
      // the one-pass foldable `percentile` aggregate; the order-statistic
      // modes (lower/higher/nearest/midpoint) can't ride a foldable
      // percentage, so they take the exact rank-selection plan over
      // grouped value counts (the Cleaning.groupedPercentile shape) —
      // see the quantileos branch in `reduce`.
      // `.quantile([q1, q2, ...])` (r11 session 4): pandas' list form —
      // a stat frame indexed by q. 'linear' computes ALL the quantiles in
      // ONE percentile(col, array(...)) aggregate pass (Spark's
      // Percentile buffers the column once regardless of how many
      // percentages it answers), then explodes the arrays into the
      // describe-shaped frame. The order-statistic modes ride one
      // rank-selection reduce per q (each a 1-row crossJoin-broadcast).
      case ("quantile", CMatrix(cols, false), args)
          if args.headOption.exists(_.isInstanceOf[CList]) &&
            args.length <= 2 =>
        if (!std) throw new AdpUnsupportedException(
          "'.quantile()' is not supported in ADP mode")
        val qs = scalarList(args.head.asInstanceOf[CList], "quantile",
          "quantile([0.25, 0.75])")
        if (qs.isEmpty) throw new FormulaTypeException(
          "'.quantile([...])' needs at least one quantile")
        qs.foreach { q =>
          if (q < 0.0 || q > 1.0)
            throw new FormulaTypeException(s"quantile $q outside [0, 1]")
        }
        val interp = interpOf(args.tail, ".quantile(q)")
        val base = ctx.base.getOrElse(
          throw new FormulaTypeException("reduction requires a matrix operand"))
        if (interp == 0) {
          ctx.seqCounter += 1
          val tag = ctx.seqCounter
          val aggExprs = cols.zipWithIndex.map { case ((_, c), i) =>
            val v = when(isnan(c), lit(null)).otherwise(c)
            percentile(v, array(qs.map(lit): _*)).as(s"__q${tag}_$i")
          }
          val agg1 = base.agg(aggExprs.head, aggExprs.tail: _*)
          val rows = qs.zipWithIndex.map { case (q, qi) =>
            struct((lit(q).as("__row_id__") +:
              cols.zipWithIndex.map { case ((lbl, _), i) =>
                coalesce(col(s"__q${tag}_$i").getItem(qi),
                  lit(Double.NaN)).as(lbl)
              }): _*)
          }
          val framed = agg1.select(explode(array(rows: _*)).as("__r"))
            .select(col("__r.*"))
          CFrame(framed, "__row_id__", cols.map(_._1))
        } else {
          val frames = qs.map { q =>
            reduce(cols, ctx, s"quantileos:$q:$interp") match {
              case v: CVecC =>
                val joined = v.aggIds.toSeq.sorted.map(ctx.aggDfs)
                  .reduceLeft(_.crossJoin(_))
                joined.select((lit(q).as("__row_id__") +:
                  v.cols.map { case (l, c) => c.as(l) }): _*)
              case other => throw new FormulaTypeException(
                s"quantile did not reduce: $other")
            }
          }
          CFrame(frames.reduceLeft(_.unionAll(_)), "__row_id__",
            cols.map(_._1))
        }
      case ("quantile", CVecD(vs, ls), args)
          if args.headOption.exists(_.isInstanceOf[CList]) &&
            args.length <= 2 =>
        // pandas Series.quantile(list) → a Series indexed by q
        val qs = scalarList(args.head.asInstanceOf[CList], "quantile",
          "quantile([0.25, 0.75])")
        if (qs.isEmpty) throw new FormulaTypeException(
          "'.quantile([...])' needs at least one quantile")
        val interp = interpOf(args.tail, ".quantile(q)")
        CVecD(qs.map { q =>
          method(CVecD(vs, ls), "quantile",
            List(CScalar(q)) ++ args.tail, ctx) match {
            case CScalar(x) => x
            case other => throw new FormulaTypeException(
              s"quantile did not reduce: $other")
          }
        }, qs.map(_.toString))
      case ("quantile", CMatrix(cols, false), args) if args.length <= 2 =>
        val (qArgs, rest) = args.span(!_.isInstanceOf[CKw])
        val q = qArgs.headOption.map(a => asScalar(a, "quantile")).getOrElse(0.5)
        if (q < 0.0 || q > 1.0)
          throw new FormulaTypeException(s"quantile $q outside [0, 1]")
        val interp = interpOf(rest, ".quantile(q)")
        if (interp == 0) reduce(cols, ctx, s"quantile:$q")
        else reduce(cols, ctx, s"quantileos:$q:$interp")
      case ("quantile", CVecD(vs, _), args) if args.length <= 2 =>
        val (qArgs, rest) = args.span(!_.isInstanceOf[CKw])
        val q = qArgs.headOption.map(a => asScalar(a, "quantile")).getOrElse(0.5)
        if (q < 0.0 || q > 1.0)
          throw new FormulaTypeException(s"quantile $q outside [0, 1]")
        val interp = interpOf(rest, ".quantile(q)")
        val ok = vs.filter(!_.isNaN).sorted
        CScalar(if (ok.isEmpty) Double.NaN else {
          val pos = q * (ok.length - 1)
          val lo = pos.toInt; val hi = math.min(ok.length - 1, lo + 1)
          val frac = pos - lo
          interp match {
            case 1 => ok(lo)
            case 2 => if (frac == 0.0) ok(lo) else ok(hi)
            case 3 => ok(math.rint(pos).toInt.min(ok.length - 1))
            case 4 => if (frac == 0.0) ok(lo) else (ok(lo) + ok(hi)) / 2.0
            case _ => ok(lo) + frac * (ok(hi) - ok(lo))
          }
        })
      case (k @ ("sum" | "mean" | "min" | "max" | "count" | "std" | "var" |
                 "median" | "prod" | "nunique" | "any" | "all" |
                 "sem" | "skew" | "kurt"),
            _: CVecD, args) if axisArg(args).contains(1) =>
        throw new FormulaTypeException(
          s"'.$k(axis=1)': a Series has no axis 1")
      case (k @ ("sum" | "mean" | "min" | "max" | "count" | "std" | "var" |
                 "median" | "prod" | "nunique" | "any" | "all" |
                 "sem" | "skew" | "kurt"),
            CVecD(vs, _), args) if axisArg(args).contains(0) =>
        val ok = vs.filter(!_.isNaN)
        val hasNan = vs.exists(_.isNaN)
        CScalar(k match {
          // skipna=False (r11 session 5): one NaN poisons the numeric
          // reduction; any turns True on it (NaN truthy), all never flips
          case "any" =>
            if (ok.exists(_ != 0.0) || (!skipna && hasNan)) 1.0 else 0.0
          case "all" => if (ok.forall(_ != 0.0)) 1.0 else 0.0
          case "count" => ok.length.toDouble
          case "nunique" => ok.distinct.length.toDouble
          case _ if !skipna && hasNan => Double.NaN
          case "sum"   => ok.sum
          case "prod"  => ok.product
          case _ if ok.isEmpty => Double.NaN
          case "mean"  => ok.sum / ok.length
          case "min"   => ok.min
          case "max"   => ok.max
          case "std" | "var" =>
            if (ok.length < 2) Double.NaN
            else {
              val m = ok.sum / ok.length
              val v = ok.map(x => (x - m) * (x - m)).sum / (ok.length - 1)
              if (k == "var") v else math.sqrt(v)
            }
          case "median" =>
            val s = ok.sorted
            val n = s.length
            if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
          case "sem" =>
            if (ok.length < 2) Double.NaN
            else {
              val m = ok.sum / ok.length
              val v = ok.map(x => (x - m) * (x - m)).sum / (ok.length - 1)
              math.sqrt(v) / math.sqrt(ok.length.toDouble)
            }
          case "skew" | "kurt" =>
            val n = ok.length.toDouble
            val m = ok.sum / n
            val m2 = ok.map(x => (x - m) * (x - m)).sum / n
            if (k == "skew") {
              if (ok.length < 3 || m2 <= 0) Double.NaN
              else {
                val m3 = ok.map(x => math.pow(x - m, 3)).sum / n
                math.sqrt(n * (n - 1)) / (n - 2) * (m3 / math.pow(m2, 1.5))
              }
            } else {
              if (ok.length < 4 || m2 <= 0) Double.NaN
              else {
                val m4 = ok.map(x => math.pow(x - m, 4)).sum / n
                ((n * n - 1) * (m4 / (m2 * m2)) - 3 * (n - 1) * (n - 1)) /
                  ((n - 2) * (n - 3))
              }
            }
        })

      // `.cumsum()/.cummax()/.cummin()/.cumprod()` axis=1 (r11 session 4):
      // the row-wise cumulative — a pure
      // projection like the axis=1 reductions (column k's cell folds
      // cells 0..k of ITS OWN ROW). skipna: an invalid cell stays
      // NaN but does not poison the cells right of it (pandas).
      case (cm @ ("cumsum" | "cummax" | "cummin" | "cumprod"),
            CMatrix(cols, false), args)
          if axisArg(args).contains(1) =>
        if (!std) throw new AdpUnsupportedException(
          s"'.$cm(axis=1)' is not supported in ADP mode")
        val valid = cols.map { case (_, c) =>
          when(isnan(c), lit(null)).otherwise(c) }
        val out = cols.zipWithIndex.map { case ((lbl, c), i) =>
          val upto = valid.take(i + 1)
          val run = cm match {
            case "cumsum"  => upto.map(v => coalesce(v, lit(0.0))).reduce(_ + _)
            case "cumprod" => upto.map(v => coalesce(v, lit(1.0))).reduce(_ * _)
            case "cummax" =>
              if (upto.size == 1) upto.head else greatest(upto: _*)
            case _ =>
              if (upto.size == 1) upto.head else least(upto: _*)
          }
          // skipna=False: the first invalid cell poisons the row's tail
          val cell =
            if (skipna) when(isnan(c), c).otherwise(run)
            else when(upto.map(_.isNull).reduce(_ || _),
              litOf(Double.NaN)).otherwise(run)
          (lbl, cell)
        }
        CMatrix(out, isBool = false)
      // axis=0 (E11 long tail): pandas column-wise running aggregates down
      // the index order — the row id is the engine's only ordering
      // contract. skipna: a NaN/invalid cell stays NaN/NULL in the output
      // but does NOT poison later cells; skipna=False poisons the tail from
      // the first invalid cell (a running count of invalid flags). One
      // [[graft.operators.Prefix.runningScan]] over the session-shared
      // slice layout: each slice folds its cells in row order from the
      // driver-combined state of the slices before it — never a
      // single-partition `ORDER BY` window. Integer-valued and decimal
      // cells are exact; other doubles can differ from a strictly
      // sequential scan in the last ulps across slice boundaries. cumprod
      // is a plain running product (std mode only).
      case (cm @ ("cumsum" | "cummax" | "cummin" | "cumprod"),
            CMatrix(cols, false), args) if axisArg(args).contains(0) =>
        if (cm == "cumprod" && !std) throw new AdpUnsupportedException(
          "'.cumprod()' is not supported in ADP mode")
        if (ubp) throw new AdpUnsupportedException(
          s"'.$cm()' is not supported in unbounded ADP mode")
        if (!skipna && !std) throw new AdpUnsupportedException(
          s"'.$cm(skipna=0)' is not supported in ADP mode " +
            "(decimal cells cannot hold the NaN it poisons to)")
        val kind = cumKinds(cm)
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        val inNames = cols.indices.map(i => s"__cum${tag}_in_$i")
        val invNames =
          if (skipna) Seq.empty
          else cols.indices.map(i => s"__cum${tag}_iv_$i")
        // the skip marker is NULL (std: NaN→NULL; decimal: already NULL)
        val derived = cols.zip(inNames).map { case ((_, c), n) =>
          (if (std) when(isnan(c), lit(null)).otherwise(c) else c).as(n)
        } ++ cols.zip(invNames).map { case ((_, c), n) =>
          invalidOf(c).cast("double").as(n)
        }
        ctx.base = Some(graft.operators.Prefix.runningScan(ctx.base.get,
          derived, ctx.rowIdOut, col(ctx.rowIdOut), inNames ++ invNames,
          Seq.fill(cols.size)(kind) ++ invNames.map(_ => RunKind.Sum),
          (inNames ++ invNames).map(_ + "_run")))
        val out = cols.zipWithIndex.map { case ((lbl, c), i) =>
          val run = col(inNames(i) + "_run")
          // a zero product reads +0.0 whatever its sign: numpy would keep
          // the −0.0 a negative factor gives it, but the catalog oracle's
          // exact compare holds one zero
          val running = if (kind == RunKind.Prod) run + lit(0.0) else run
          val cell =
            if (!skipna)
              when(col(invNames(i) + "_run") > 0, litOf(Double.NaN))
                .otherwise(running)
            else if (std) {
              // cumsum of a leading-NaN prefix is 0 in pandas only for sum
              // (empty sum = 0); the others stay NaN until a real value
              val empty = if (cm == "cumsum") lit(0.0) else litOf(Double.NaN)
              when(isnan(c), c).otherwise(coalesce(running, empty))
            } else
              // bounded decimal: NULL is the invalid marker; the running
              // aggregate skips it, the cell itself stays invalid
              when(c.isNull, c).otherwise(running)
          (lbl, cell)
        }
        CMatrix(out, isBool = false)
      // `.shift(n)` / `.diff(n)` (E11 long tail, r6): pandas POSITIONAL
      // shift down the index order / discrete difference x[i] − x[i−n].
      // Row ids are the ordering contract but are NOT guaranteed
      // contiguous, so the move is by dense POSITION
      // ([[graft.operators.Prefix.positionalLag]]): r8 single-pass — the
      // frame is sliced on the (row id) total order, each slice's |n|
      // edge rows hand off through a bounded driver collect, and one
      // exchange + within-partition sort + streaming ring buffer emits
      // every row with its donor attached. No join, no second movement
      // of the frame (the r7 positional join measured 1.93×/2.00× wall
      // at 10× data; window `lag()` is worse still — offset frames
      // buffer whole partitions).
      // No skipna: shift MOVES
      // invalid cells like any value (pandas semantics); the vacated edge
      // rows become invalid. diff subtracts in native column arithmetic,
      // so NaN/NULL propagate exactly as in `a - b`.
      case (m @ ("shift" | "diff"), CMatrix(cols, false), args)
          if args.length <= 1 =>
        val n = args.headOption.map(a => asScalar(a, m).toInt).getOrElse(1)
        if (ubp && m == "diff") throw new AdpUnsupportedException(
          "'.diff()' is not supported in unbounded ADP mode")
        if (n == 0) {
          if (m == "shift") CMatrix(cols, isBool = false)
          else CMatrix(mapCols(cols)(c => c - c), isBool = false)
        } else {
          ctx.seqCounter += 1
          val tag = ctx.seqCounter
          val valNames = cols.indices.map(i => s"__sh${tag}_v_$i")
          // r15: the derived value projections ride ABOVE the session-
          // shared slice layout (Prefix.sliceLayout) instead of below a
          // per-query exchange — see positionalLagShared
          val derived = cols.zip(valNames).map { case ((_, c), vn) =>
            c.as(vn) }
          // r9: std-mode diff fuses the subtraction into the lag's
          // streaming emit (the donor is already in hand in the ring
          // buffer) — one wide projection pass saved over the frame
          val fuse = std && m == "diff"
          ctx.base = Some(graft.operators.Prefix.positionalLagShared(
            ctx.base.get, derived, ctx.rowIdOut, col(ctx.rowIdOut),
            valNames, n, valNames.map(vn => s"${vn}_sh"),
            fuse = if (fuse) Fuse.Diff else Fuse.Donor))
          val out = cols.zip(valNames).map { case ((lbl, _), vn) =>
            val sh = col(s"${vn}_sh")
            // beyond-the-edge rows: NaN in std (the pandas fill), NULL
            // (the invalid marker) in the decimal/unbounded modes
            val cell =
              if (fuse) sh // already value − donor with the NaN edge fill
              else {
                val shifted =
                  if (std) coalesce(sh, litOf(Double.NaN)) else sh
                if (m == "shift") shifted else col(vn) - shifted
              }
            (lbl, cell)
          }
          CMatrix(out, isBool = false)
        }
      case (m @ ("shift" | "diff"), CVecD(vs, ls), args) if args.length <= 1 =>
        val n = args.headOption.map(a => asScalar(a, m).toInt).getOrElse(1)
        val shifted = vs.indices.map { i =>
          val j = i - n
          if (j >= 0 && j < vs.length) vs(j) else Double.NaN
        }
        if (m == "shift") CVecD(shifted.toIndexedSeq, ls)
        else CVecD(vs.indices.map(i => vs(i) - shifted(i)).toIndexedSeq, ls)

      // `.pct_change()` (r9): pandas fractional change v / v.shift(n) − 1
      // with fill_method=None (the pandas ≥ 2.2 semantics — no implicit
      // pad; pandas 3 removed the fill_method argument entirely).
      // Compiled BY COMPOSITION: the shift runs on the same single-pass
      // positional-lag plan as `.shift()`, and the divide/subtract reuse
      // the binop machinery, so every mode rule (decimal division,
      // NaN propagation, edge fill) is inherited rather than re-stated.
      case ("pct_change", t @ (_: CMatrix | _: CVecD), args)
          if args.length <= 1 =>
        if (ubp) throw new AdpUnsupportedException(
          "'.pct_change()' is not supported in unbounded ADP mode")
        val n = args.headOption.map(a => asScalar(a, "pct_change").toInt)
          .getOrElse(1)
        if (n == 0) throw new FormulaTypeException(
          "'.pct_change(n)' needs a non-zero period")
        t match {
          // std matrices ride the diff discipline: the ratio is fused
          // into the positional lag's streaming emit (the donor is
          // already in hand in the ring buffer), saving the wide
          // divide-projection pass the composition paid
          case CMatrix(cols, false) if std =>
            ctx.seqCounter += 1
            val tag = ctx.seqCounter
            val valNames = cols.indices.map(i => s"__pc${tag}_v_$i")
            val derived = cols.zip(valNames).map { case ((_, c), vn) =>
              c.cast("double").as(vn) }
            ctx.base = Some(graft.operators.Prefix.positionalLagShared(
              ctx.base.get, derived, ctx.rowIdOut, col(ctx.rowIdOut),
              valNames, n, valNames.map(vn => s"${vn}_sh"), fuse = Fuse.Pct))
            CMatrix(cols.zip(valNames).map { case ((lbl, _), vn) =>
              (lbl, col(s"${vn}_sh"))
            }, isBool = false)
          case _ =>
            val shifted = method(t, "shift", List(CScalar(n)), ctx)
            binop("-", binop("/", t, shifted, ctx), CScalar(1.0), ctx)
        }

      // `.ffill()` / `.bfill()` (r9): pandas positional fill — each hole
      // takes the nearest valid value before (ffill) / after (bfill) it in
      // the row-id order; a leading (trailing) run of holes stays invalid.
      // The running scan's `Last` carry over the shared slice layout —
      // bfill runs it down the reversed layout. All modes (the fill MOVES
      // cells, no arithmetic): std holes are NULL/NaN, decimal/unbounded
      // holes are NULL.
      case (m @ ("ffill" | "bfill"), CMatrix(cols, false), Nil) =>
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        val inNames = cols.indices.map(i => s"__ff${tag}_s_$i")
        val derived = cols.zip(inNames).map { case ((_, c), n) =>
          val valid = if (std) c.isNotNull && !isnan(c) else c.isNotNull
          when(valid, c).as(n)
        }
        ctx.base = Some(graft.operators.Prefix.runningScan(ctx.base.get,
          derived, ctx.rowIdOut, col(ctx.rowIdOut), inNames,
          inNames.map(_ => RunKind.Last), inNames.map(_ + "_r"),
          rev = m == "bfill"))
        val out = cols.zip(inNames).map { case ((lbl, _), n) =>
          val f = col(n + "_r")
          (lbl, if (std) coalesce(f, litOf(Double.NaN)) else f)
        }
        CMatrix(out, isBool = false)
      case (m @ ("ffill" | "bfill"), CVecD(vs, ls), Nil) =>
        CVecD(RunKernel.series(Seq(vs), Seq(RunKind.Last), m == "bfill")
          .map(_(0)), ls)

      // `.interpolate()` (r11 session 4): pandas linear gap fill down the
      // row order — each hole blends its nearest valid neighbors by
      // POSITION (pandas method='linear' treats rows as equally spaced
      // and ignores index values; row ids are the ORDER contract only).
      // Pandas' default limit_direction='forward' edges: a leading hole
      // run stays NaN, a trailing run carries the last valid value.
      // Two `Last` running scans: forward over the shared slice layout
      // (the previous valid value pv and its distance gPrev), then
      // reversed over that one-shot output under its own exchange (the
      // next valid value nv and gNext); one closing projection blends
      // pv + (nv − pv)·gPrev/(gPrev + gNext). The gaps are integers, so
      // the blend is the positional (pos − po)/(no − po) bit for bit.
      case ("interpolate", CMatrix(cols, false), Nil) =>
        if (!std) throw new AdpUnsupportedException(
          "'.interpolate()' is not supported in ADP mode")
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        val sNames = cols.indices.map(i => s"__ip${tag}_s_$i")
        val derived = cols.zip(sNames).map { case ((_, c), n) =>
          when(c.isNotNull && !isnan(c), c).as(n) }
        val fwd = graft.operators.Prefix.runningScan(ctx.base.get, derived,
          ctx.rowIdOut, col(ctx.rowIdOut), sNames,
          sNames.map(_ => RunKind.Last), sNames.map(_ + "_f"))
        ctx.base = Some(graft.operators.Prefix.runningScan(fwd, Nil,
          ctx.rowIdOut, col(ctx.rowIdOut), sNames,
          sNames.map(_ => RunKind.Last), sNames.map(_ + "_b"), rev = true,
          persist = false))
        val out = cols.zip(sNames).map { case ((lbl, c), n) =>
          val pv = col(n + "_f"); val nv = col(n + "_b")
          val gPrev = col(n + "_f_gap"); val gNext = col(n + "_b_gap")
          val cell = when(c.isNotNull && !isnan(c), c)
            .otherwise(when(pv.isNull, litOf(Double.NaN))
              .otherwise(when(nv.isNull, pv)
                .otherwise(pv + (nv - pv) * gPrev / (gPrev + gNext))))
          (lbl, cell)
        }
        CMatrix(out, isBool = false)
      case ("interpolate", CVecD(vs, ls), Nil) =>
        val fwd = RunKernel.series(Seq(vs), Seq(RunKind.Last))
        val bwd = RunKernel.series(Seq(vs), Seq(RunKind.Last), rev = true)
        CVecD(vs.indices.map { i =>
          // [value, gap] of the previous and the next valid cell
          val (Seq(pv, gPrev), Seq(nv, gNext)) = (fwd(i), bwd(i))
          if (!vs(i).isNaN || nv.isNaN) pv
          else pv + (nv - pv) * gPrev / (gPrev + gNext)
        }, ls)

      // Series twin: the matrix path's running scan on one slice
      case (cm @ ("cumsum" | "cummax" | "cummin" | "cumprod"), CVecD(vs, ls), Nil) =>
        val kind = cumKinds(cm)
        var poisoned = false // skipna=False: first NaN kills the tail
        CVecD(RunKernel.series(Seq(vs), Seq(kind)).zip(vs).map { case (r, x) =>
          if (x.isNaN) { poisoned = true; Double.NaN }
          else if (!skipna && poisoned) Double.NaN
          else if (kind == RunKind.Prod) r(0) + 0.0
          else r(0)
        }, ls)

      // `.rank(...)` (E11 long tail): pandas column-wise rank — the full
      // keyword surface (method='average'/'min'/'max'/'first'/'dense',
      // ascending=0, pct=1, na_option='keep'/'top'/'bottom'). Value-based,
      // so it compiles to grouped VALUE counts, never a value-ordered
      // global window. descending ranks are the ascending ranks of the
      // NEGATED key (groupBy and the lookup normalize −0.0 to 0.0, so the
      // key stays exact); NaN cells are the NULL key class.
      //   - count map (every method but 'first', each column within the
      //     `graft.percentile.approxAboveDistinct` budget — the
      //     runningQuantile budget, default 16384): ONE bounded collect of
      //     the (column, key) counts, the NULL class included; per column
      //     the driver sorts the keys, takes exact Long prefix sums and
      //     closes each method (avg = #smaller + (n+1)/2, min = #smaller +
      //     1, max = inclusive cum, dense = distinct index), then the
      //     na_option shift/NaN-class rank and the pct division, in the
      //     fallback's expression order; the result is a pure projection
      //     of compiled lookups (`rankCountMap`) — no join, no shuffle.
      //   - fallback (over budget, or a non-double key): the counts get
      //     their prefix from the distributed running aggregate
      //     ([[graft.operators.Prefix.runningAgg]]) and join back on value
      //     equality per column (one stacked pivot join past
      //     WideRankThreshold columns), plus a 1-row stats crossJoin for
      //     na_option.
      //   - method='first' is the one POSITIONAL variant: rank = #smaller
      //     + tie position by original row order, the tie position a
      //     grouped distributed prefix of 1s over the row id within each
      //     (column, value) group, the row-keyed result joined back ONCE
      //     on the row id via the literal pivot.
      // rank(axis=1) (r11 session 4): the row-wise rank as a pure
      // projection over the bounded column list — per cell, the counts
      // of row-mates strictly better / equal close every pandas method:
      //   average = less + (eq+1)/2   min = less + 1   max = less + eq
      //   first   = less + (equal cells LEFT of this one) + 1
      //   dense   = |distinct better values| + 1
      // pct divides by the row's valid count (dense: distinct count).
      // NaN cells stay NaN (na_option='keep'). Zero shuffles.
      case ("rank", CMatrix(cols, false), rargs)
          if rargs.exists {
            case CKw("axis", CScalar(a)) => a == 1.0; case _ => false } =>
        if (!std) throw new AdpUnsupportedException(
          "'.rank(axis=1)' is not supported in ADP mode")
        val (meth, asc, pct, naOpt) = rankArgs(rargs.filterNot {
          case CKw("axis", _) => true; case _ => false })
        val valid = cols.map { case (_, c) =>
          when(isnan(c), lit(null)).otherwise(c) }
        def better(a: Column, b: Column) = if (asc) a < b else a > b
        val nValid = valid.map(v => when(v.isNull, lit(0)).otherwise(lit(1)))
          .reduce(_ + _).cast("double")
        // na_option top/bottom (r11 session 5): the row's NaN cells rank
        // as one tie class before/after every valid value — pure rank
        // ARITHMETIC (shift valid ranks by the NaN-class size for 'top';
        // hand NaN cells the head/tail class ranks), so real ±inf values
        // never collide with an encoded sentinel
        val nanCnt = lit(cols.length.toDouble) - nValid
        lazy val denseValid = size(array_distinct(filter(array(valid: _*),
          vk => vk.isNotNull))).cast("double")
        val out = cols.zipWithIndex.map { case ((lbl, _), j) =>
          val vj = valid(j)
          val less = valid.map(vk =>
            coalesce(better(vk, vj).cast("int"), lit(0)))
            .reduce(_ + _).cast("double")
          val eq = valid.map(vk => coalesce((vk === vj).cast("int"), lit(0)))
            .reduce(_ + _).cast("double")
          val r0: Column = meth match {
            case "average" => less + (eq + 1.0) / 2.0
            case "min"     => less + 1.0
            case "max"     => less + eq
            case "first" =>
              val before = valid.take(j)
                .map(vk => coalesce((vk === vj).cast("int"), lit(0)))
                .foldLeft(lit(0): Column)(_ + _).cast("double")
              less + before + 1.0
            case _ =>
              size(array_distinct(filter(array(valid: _*),
                vk => better(vk, vj)))).cast("double") + 1.0
          }
          val r: Column = naOpt match {
            case "top" if meth == "dense" =>
              r0 + when(nanCnt > 0, lit(1.0)).otherwise(lit(0.0))
            case "top" => r0 + nanCnt
            case _     => r0
          }
          // the NaN cell's own class rank (NaN when na_option='keep')
          val nanBefore = valid.take(j)
            .map(vk => when(vk.isNull, lit(1)).otherwise(lit(0)))
            .foldLeft(lit(0): Column)(_ + _).cast("double")
          val nanRank: Column = naOpt match {
            case "keep" => litOf(Double.NaN)
            case "top" => meth match {
              case "average" => (nanCnt + 1.0) / 2.0
              case "min"     => lit(1.0)
              case "max"     => nanCnt
              case "dense"   => lit(1.0)
              case _         => nanBefore + 1.0 // first
            }
            case _ => meth match { // bottom
              case "average" => nValid + (nanCnt + 1.0) / 2.0
              case "min"     => nValid + 1.0
              case "max"     => nValid + nanCnt
              case "dense"   => denseValid + 1.0
              case _         => nValid + nanBefore + 1.0 // first
            }
          }
          val denom: Column =
            if (naOpt == "keep") {
              if (meth == "dense") denseValid else nValid
            } else if (meth == "dense")
              denseValid + when(nanCnt > 0, lit(1.0)).otherwise(lit(0.0))
            else lit(cols.length.toDouble)
          def fin(x: Column) = if (pct) x / denom else x
          (lbl, when(vj.isNull, fin(nanRank)).otherwise(fin(r)))
        }
        CMatrix(out, isBool = false)
      case ("rank", CMatrix(cols, false), rargs) =>
        if (!std) throw new AdpUnsupportedException(
          "'.rank()' is not supported in ADP mode")
        val (meth, asc, pct, naOpt) = rankArgs(rargs)
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        def keyOf(c: Column): Column = {
          val cNull = when(isnan(c), lit(null)).otherwise(c)
          if (asc) cNull else -cNull
        }
        val base0 = ctx.base.get
        val mapped = if (meth == "first") None
          else rankCountMap(base0, cols, cols.map { case (_, c) => keyOf(c) },
            meth, pct, naOpt)
        if (mapped.isDefined) CMatrix(mapped.get, isBool = false) else {
        // the fallback — ONE stacked pass over all matrix columns:
        // (column-index, value) pairs → grouped value counts → grouped
        // distributed prefix (partitioned by column index) → per-column
        // rank tables carved out of the SAME subtree, which AQE stage
        // reuse executes once
        val ridName = s"__rk${tag}_rid"
        val stacked = base0.select(col(ctx.rowIdOut).as(ridName),
            posexplode(array(cols.map { case (_, c) => keyOf(c) }: _*))
              .as(Seq("__ci", "__v")))
          .where(col("__v").isNotNull)
        val counts = stacked.groupBy(col("__ci"), col("__v"))
          .agg(count(lit(1)).as("__n"))
          .withColumn("__one", lit(1L))
        val withCum = graft.operators.Prefix.runningAgg(
          counts, col("__v"), Seq("__n", "__one"), Seq("sum", "sum"),
          Seq("__cum", "__dcum"), partitionCols = Seq("__ci"))
        // per-column valid totals for pct — one row per column, broadcast;
        // pandas normalizes 'dense' by the DISTINCT count, the rest by the
        // valid-row count
        lazy val totals = counts.groupBy(col("__ci"))
          .agg(sum(col("__n")).as("__tot"), count(lit(1)).as("__dtot"))
        def withPct(df: DataFrame): DataFrame =
          if (!pct || naOpt != "keep") df
          else {
            val denom = if (meth == "dense") col("__dtot") else col("__tot")
            df.join(broadcast(totals.withColumnRenamed("__ci", "__tci")),
                col("__ci") === col("__tci"))
              .withColumn("__avg", col("__avg") / denom.cast("double"))
              .drop("__tci", "__tot", "__dtot")
          }
        // na_option='top'/'bottom' (r11 session 5): pure rank ARITHMETIC
        // on the existing valid-rank tables — valid ranks shift by the
        // NaN-class size ('top'), NaN cells take the head/tail class
        // ranks, pct divides by the row count (dense: the NaN-inclusive
        // distinct count). One 1-row broadcast stats frame (per-column
        // valid/distinct totals + the global row count) feeds the
        // closing projection; no sentinel keys, so real ±inf data never
        // collides with the NaN class (pandas keeps them distinct).
        val na = naOpt != "keep"
        val tN = cols.indices.map(i => s"__rk${tag}_t_$i")
        val dN = cols.indices.map(i => s"__rk${tag}_d_$i")
        val nName = s"__rk${tag}_N"
        if (na) {
          val piv = totals.groupBy()
            .pivot("__ci", cols.indices.map(Int.box))
            .agg(first(col("__tot")).as("t"), first(col("__dtot")).as("d"))
          val statsRow = piv.select(cols.indices.flatMap(i => Seq(
            coalesce(col(s"`${i}_t`"), lit(0L)).as(tN(i)),
            coalesce(col(s"`${i}_d`"), lit(0L)).as(dN(i)))): _*)
          val nRow = base0.agg(count(lit(1)).as(nName))
          ctx.base = Some(ctx.base.get
            .crossJoin(broadcast(statsRow))
            .crossJoin(broadcast(nRow)))
        }
        def invalidCell(c: Column) = c.isNull || isnan(c)
        def naCell(c: Column, i: Int, validRaw: Column,
                   nanFirstPos: => Column): Column = {
          val tot = col(tN(i)).cast("double")
          val nan = col(nName).cast("double") - tot
          val dtot = col(dN(i)).cast("double")
          val hasNan = when(nan > 0, lit(1.0)).otherwise(lit(0.0))
          val shift: Column =
            if (naOpt != "top") lit(0.0)
            else if (meth == "dense") hasNan
            else nan
          val nanRank: Column = (naOpt, meth) match {
            case ("top", "average") => (nan + 1.0) / 2.0
            case ("top", "min")     => lit(1.0)
            case ("top", "max")     => nan
            case ("top", "dense")   => lit(1.0)
            case ("top", _)         => nanFirstPos
            case (_, "average")     => tot + (nan + 1.0) / 2.0
            case (_, "min")         => tot + 1.0
            case (_, "max")         => tot + nan
            case (_, "dense")       => dtot + 1.0
            case _                  => tot + nanFirstPos
          }
          val cell = when(invalidCell(c), nanRank)
            .otherwise(validRaw + shift)
          if (!pct) cell
          else cell / (if (meth == "dense") dtot + hasNan
                       else col(nName).cast("double"))
        }
        // NaN-cell appearance positions (method='first' only): one
        // grouped prefix of ones over the invalid cells + the same
        // literal pivot and row-id join the valid 'first' path uses
        lazy val nanFirstNames = cols.indices.map(i => s"__rk${tag}_f_$i")
        def joinNanFirst(): Unit = {
          val stackedNaN = base0.select(col(ctx.rowIdOut).as(ridName),
              posexplode(array(cols.map { case (_, c) => keyOf(c) }: _*))
                .as(Seq("__ci", "__v")))
            .where(col("__v").isNull)
            .withColumn("__one1", lit(1L))
          val ntp = graft.operators.Prefix.runningAgg(stackedNaN,
            col(ridName), Seq("__one1"), Seq("sum"), Seq("__ntp"),
            partitionCols = Seq("__ci"))
          val pivotedN = ntp.groupBy(col(ridName))
            .pivot("__ci", cols.indices.map(Int.box))
            .agg(first(col("__ntp")))
            .select(col(ridName) +: cols.indices.map(i =>
              col(s"`$i`").cast("double").as(nanFirstNames(i))): _*)
          val b = ctx.base.get
          ctx.base = Some(b.join(pivotedN,
            b(ctx.rowIdOut) === pivotedN(ridName), "left").drop(ridName))
        }
        if (meth == "first") {
          // positional tiebreak; the result is row-keyed, so it pivots
          // and joins back once on the row id at ANY width
          val smaller = withCum.select(col("__ci").as("__sci"),
            col("__v").as("__sv"), (col("__cum") - col("__n")).as("__sm"))
          val tiePos = graft.operators.Prefix.runningAgg(
            stacked.withColumn("__one1", lit(1L)), col(ridName),
            Seq("__one1"), Seq("sum"), Seq("__tp"),
            partitionCols = Seq("__ci", "__v"))
          val ranked = withPct(tiePos
            .join(smaller,
              col("__ci") === col("__sci") && col("__v") === col("__sv"))
            .select(col(ridName), col("__ci"),
              (col("__sm") + col("__tp")).cast("double").as("__avg")))
          val aNames = cols.indices.map(i => s"__rk${tag}_a_$i")
          val pivoted = ranked.groupBy(col(ridName))
            .pivot("__ci", cols.indices.map(Int.box))
            .agg(first(col("__avg")))
            .select(col(ridName) +: cols.indices.map(i =>
              col(s"`$i`").as(aNames(i))): _*)
          val b = ctx.base.get
          ctx.base = Some(b.join(pivoted,
              b(ctx.rowIdOut) === pivoted(ridName), "left")
            .drop(ridName))
          if (na) joinNanFirst()
          val out = cols.zip(aNames).zipWithIndex.map {
            case (((lbl, c), a), i) =>
              if (!na) (lbl, when(isnan(c), c).otherwise(col(a)))
              else (lbl, naCell(c, i, col(a), col(nanFirstNames(i))))
          }
          CMatrix(out, isBool = false)
        } else {
        val rawRank: Column = meth match {
          case "min"   => (col("__cum") - col("__n") + 1L).cast("double")
          case "max"   => col("__cum").cast("double")
          case "dense" => col("__dcum").cast("double")
          case _       => // average: inclusive cum − own count = #smaller
            (col("__cum") - col("__n")).cast("double") +
              (col("__n").cast("double") + 1.0) / 2.0
        }
        val ranked = withPct(withCum.select(col("__ci"),
          col("__v"), rawRank.as("__avg")))
        if (cols.size <= WideRankThreshold) {
          // narrow matrices: one value-equality left join per column onto
          // the base; each rank table is a filter over the SAME ranked
          // subtree, which AQE stage reuse executes once, and the joins
          // broadcast (bounded by distinct values, never rows)
          val out = cols.zipWithIndex.map { case ((lbl, c), i) =>
            val (vName, aName) = (s"__rk${tag}_v_$i", s"__rk${tag}_a_$i")
            val rankedI = ranked.where(col("__ci") === i)
              .select(col("__v").as(vName), col("__avg").as(aName))
            ctx.base = Some(ctx.base.get.join(rankedI, keyOf(c) === col(vName), "left"))
            if (!na) (lbl, when(isnan(c), c).otherwise(col(aName)))
            else (lbl, naCell(c, i, col(aName), litOf(Double.NaN)))
          }
          CMatrix(out, isBool = false)
        } else {
          // wide matrices: the per-column joins are a COMPILE-TIME
          // explosion, not a data-scale one — every Dataset.join on the
          // growing base re-resolves a self-join whose tree contains all
          // previous joins (PROBE_r7: a 50-column .rank() never finished
          // analysis; >600 s in resolveSelfJoinCondition). Re-plan as ONE
          // (column-index, value) equi-join of the row-id-carrying
          // stacked frame against the rank tables, pivoted back with
          // Spark's literal-value pivot (r8 — resolves to PivotFirst, a
          // fixed-width hash-aggregate buffer updated O(1) per input row;
          // the earlier p-wide max(when) fold made every n·p-row group
          // evaluate p when-aggregates, quadratic in width: w50 7.5 s →
          // w100 30.1 s exec, and a map_from_entries(collect_list) pivot
          // forces object/sort aggregation — measured slower still at
          // w50) and joined onto the base ONCE on the row id — 3 fixed
          // plan nodes and one linear aggregate at ANY width.
          val aNames = cols.indices.map(i => s"__rk${tag}_a_$i")
          // `stacked` already carries the row id — it IS the look frame
          val pivoted = stacked.join(ranked, Seq("__ci", "__v"), "left")
            .groupBy(col(ridName))
            .pivot("__ci", cols.indices.map(Int.box))
            .agg(first(col("__avg")))
            // pivot names columns by value ("0".."p−1") — rename before
            // they can collide with matrix labels on the base join
            .select(col(ridName) +: cols.indices.map(i =>
              col(s"`$i`").as(aNames(i))): _*)
          val b = ctx.base.get
          ctx.base = Some(b.join(pivoted,
              b(ctx.rowIdOut) === pivoted(ridName), "left")
            .drop(ridName))
          val out = cols.zip(aNames).zipWithIndex.map {
            case (((lbl, c), a), i) =>
              if (!na) (lbl, when(isnan(c), c).otherwise(col(a)))
              else (lbl, naCell(c, i, col(a), litOf(Double.NaN)))
          }
          CMatrix(out, isBool = false)
        }
        }
        }
      case ("rank", CVecD(vs, ls), rargs) =>
        val (meth, asc, pct, naOpt) = rankArgs(rargs)
        val key: Double => Double = if (asc) identity else (x => -x)
        val ok = vs.collect { case x if !x.isNaN => key(x) }.sorted
        val distinctSorted = ok.distinct
        // 'first': rank = position in the stable sort by (key, original
        // index) — order of appearance breaks ties
        lazy val firstRank: Map[Int, Int] = vs.zipWithIndex
          .filter(!_._1.isNaN)
          .sortBy { case (x, i) => (key(x), i) }
          .zipWithIndex.map { case ((_, i), r) => i -> (r + 1) }.toMap
        // na_option top/bottom (r11 session 5): the same rank arithmetic
        // as the matrix path — valid ranks shift by the NaN-class size
        // ('top'), NaN cells take the head/tail class ranks
        val nanIdx = vs.indices.filter(i => vs(i).isNaN)
        val nanCnt = nanIdx.length
        val tot = ok.length
        val hasNan = if (nanCnt > 0) 1 else 0
        val denom = (naOpt match {
          case "keep" => if (meth == "dense") distinctSorted.length else tot
          case _ => if (meth == "dense") distinctSorted.length + hasNan
                    else vs.length
        }).toDouble
        val shift: Double = naOpt match {
          case "top" if meth == "dense" => hasNan.toDouble
          case "top" => nanCnt.toDouble
          case _ => 0.0
        }
        def nanRank(i: Int): Double = naOpt match {
          case "keep" => Double.NaN
          case "top" => meth match {
            case "average" => (nanCnt + 1.0) / 2.0
            case "min"     => 1.0
            case "max"     => nanCnt.toDouble
            case "dense"   => 1.0
            case _         => nanIdx.indexOf(i) + 1.0 // first
          }
          case _ => meth match { // bottom
            case "average" => tot + (nanCnt + 1.0) / 2.0
            case "min"     => tot + 1.0
            case "max"     => (tot + nanCnt).toDouble
            case "dense"   => distinctSorted.length + 1.0
            case _         => tot + nanIdx.indexOf(i) + 1.0 // first
          }
        }
        CVecD(vs.zipWithIndex.map { case (x, i) =>
          if (x.isNaN) {
            val r = nanRank(i)
            if (pct) r / denom else r
          } else {
            val kx = key(x)
            val raw = (meth match {
              case "min"   => ok.indexWhere(_ == kx) + 1.0
              case "max"   => ok.lastIndexWhere(_ == kx) + 1.0
              case "dense" => distinctSorted.indexWhere(_ == kx) + 1.0
              case "first" => firstRank(i).toDouble
              case _ => // average
                val f = ok.indexWhere(_ == kx)
                val l = ok.lastIndexWhere(_ == kx)
                (f + l) / 2.0 + 1.0
            }) + shift
            if (pct) raw / denom else raw
          }
        }, ls)

      // `.matmul(b)` (E12, SURVEY §2.2): pandas DataFrame.dot semantics,
      // as the explicit method pd.eval's python engine dispatches (the
      // ambiguous `@` operator stays rejected at the tokenizer, matching
      // pd.eval — SURVEY §8 Q8). The inner dimension of a valid product is
      // always the LEFT operand's column count, so the right operand is
      // schema-small by construction: matrix⊗matrix compiles to a pure
      // literal-coefficient projection over the base — ZERO joins, ZERO
      // shuffles, one WholeStageCodegen span, the column-space linear
      // transform a 100 TB frame can afford — and matrix⊗vector to the
      // same with positional coefficients (Series → positional ndarray,
      // the A2/A3 convention).
      case ("matmul", _, _) if !std =>
        throw new AdpUnsupportedException(
          "'.matmul()' is not supported in ADP mode")
      case ("matmul", CMatrix(cols, false), List(CMatD(rows, colLabels))) =>
        val byId = rows.toMap
        val missing = cols.map(_._1).filterNot(byId.contains)
        if (missing.nonEmpty || rows.length != cols.length)
          throw new FormulaTypeException(
            "matrices are not aligned: matmul needs the right operand's row " +
              s"ids to equal the left operand's column labels (right rows: " +
              s"${rows.length}, left columns: ${cols.length}" +
              (if (missing.nonEmpty) s", missing: ${missing.mkString(", ")}" else "") + ")")
        val out = colLabels.zipWithIndex.map { case (cl, j) =>
          (cl, cols.map { case (k, c) => c * litOf(byId(k)(j)) }.reduceLeft(_ + _))
        }
        CMatrix(out, isBool = false)
      case ("matmul", CMatrix(cols, false), List(CVecD(vs, _))) =>
        if (vs.length != cols.length)
          throw new FormulaTypeException(
            s"matrices are not aligned: matrix has ${cols.length} columns, " +
              s"vector has ${vs.length} entries")
        // numpy column label 0 (df.dot(ndarray) → an unnamed Series)
        CMatrix(Seq(("0",
          cols.zip(vs).map { case ((_, c), v) => c * litOf(v) }.reduceLeft(_ + _))),
          isBool = false)
      case ("matmul", CVecD(vs, _), List(CVecD(ws, _))) =>
        if (vs.length != ws.length)
          throw new FormulaTypeException(
            s"matrices are not aligned: vectors of length ${vs.length} and ${ws.length}")
        CScalar(vs.lazyZip(ws).map(_ * _).sum)
      case ("matmul", CVecD(vs, ls), List(CMatD(rows, colLabels))) =>
        // series.dot(df): labels align to the right operand's row ids
        val byId = rows.toMap
        if (rows.length != ls.length || !ls.forall(byId.contains))
          throw new FormulaTypeException(
            "matrices are not aligned: matmul needs the right operand's row " +
              "ids to equal the vector's labels")
        CVecD(colLabels.indices.map(j =>
          ls.indices.map(i => vs(i) * byId(ls(i))(j)).sum).toIndexedSeq,
          colLabels.toIndexedSeq)
      case ("matmul", CVecD(_, _), List(CMatrix(_, _))) =>
        throw new FormulaTypeException(
          "vector.matmul(matrix) over a distributed matrix needs a " +
            "row-aligned vector (one entry per matrix ROW, a data-scaled " +
            "object); register the weights as a single-column matrix and " +
            "use element-wise '*' plus '.sum()' instead")
      case ("matmul", CVecC(cols, ids), List(CMatD(rows, colLabels))) =>
        // Series-from-reduction .dot(df) — pandas `qty.sum().dot(mm)`:
        // the reduction's labels align to the right operand's row ids and
        // the result stays a 1-row reduction-domain vector over the same
        // agg frames (pure column arithmetic, no extra join)
        val byId = rows.toMap
        if (rows.length != cols.length ||
            !cols.forall { case (l, _) => byId.contains(l) })
          throw new FormulaTypeException(
            "matrices are not aligned: matmul needs the right operand's " +
              "row ids to equal the reduction's labels")
        CVecC(colLabels.zipWithIndex.map { case (cl, j) =>
          (cl, cols.map { case (l, c) => c * litOf(byId(l)(j)) }
            .reduceLeft(_ + _))
        }, ids)
      case ("matmul", CMatrix(mc, false), List(CVecC(vc, ids))) =>
        // df.dot(reduction-series): series labels align to the matrix's
        // column labels; the 1-row agg joins in broadcast (ctx.pull) and
        // the product is still one zero-shuffle projection
        val byLbl = vc.toMap
        if (vc.length != mc.length ||
            !mc.forall { case (l, _) => byLbl.contains(l) })
          throw new FormulaTypeException(
            "matrices are not aligned: matmul needs the reduction's labels " +
              "to equal the left operand's column labels")
        ids.foreach(ctx.pull)
        CMatrix(Seq(("0",
          mc.map { case (l, c) => c * byLbl(l) }.reduceLeft(_ + _))),
          isBool = false)
      case ("matmul", _: CScalar, _) =>
        throw new FormulaTypeException(
          "'.matmul()' is not defined on a scalar left operand " +
            "(pandas scalars have no '.dot')")
      case ("matmul", _, _) =>
        throw new FormulaTypeException(
          "unsupported '.matmul()' operand shapes; supported: " +
            "matrix.matmul(matrix | vector | reduction), " +
            "vector.matmul(vector | registry matrix), " +
            "reduction.matmul(registry matrix)")

      // `.T` (attribute access, E11): the reference evaluates it through
      // pd.eval (SURVEY §8 probe Q8). On 1-D values (Series → ndarray,
      // reductions, scalars) numpy's .T is the IDENTITY — supported. On a
      // matrix it is a row↔column transpose, which would turn our
      // distributed column schema into row ids (and vice versa) — rejected
      // with a clear error; documented divergence, SURVEY §2.2 E11.
      case ("T", v @ (_: CVecD | _: CVecC | _: CScalar), Nil) => v
      case ("T", _: CMatrix, Nil) =>
        throw new FormulaTypeException(
          "'.T' on a matrix is a distributed row<->column transpose, which " +
            "the engine does not support (the row-id data model is fixed " +
            "per session; transpose at ingest instead via " +
            "Ingest.transposedMatrix, which bounds the collect to " +
            "schema-small frames). '.T' on vectors, " +
            "reductions and scalars is the identity, matching numpy.")

      // `.describe()`: pandas' 8-row summary frame (count/mean/std/min/
      // 25%/50%/75%/max per column) — ONE partial-agg tree-reduce over the
      // base, the single agg row exploded into the 8 stat rows. TERMINAL:
      // the result's row domain is stat names, not the base's row ids, so
      // further composition is rejected with a clear error.
      case ("describe", CMatrix(cols, false), args) if args.length <= 1 =>
        if (!std) throw new AdpUnsupportedException(
          "'.describe()' is not supported in ADP mode")
        val base = ctx.base.getOrElse(
          throw new FormulaTypeException("describe requires a matrix operand"))
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        // r11 session 4: percentiles=[...] — pandas' kwarg (median is
        // always included, the list is sorted and deduped). All the
        // percentiles still ride ONE aggregate pass.
        val ps = describePercentiles(args)
        val stats = Seq("count", "mean", "std", "min") ++
          ps.map(pctLabel) :+ "max"
        val keys = Seq("cnt", "avg", "std", "min") ++
          ps.indices.map(i => s"q$i") :+ "max"
        val aggExprs = cols.zipWithIndex.flatMap { case ((_, c), i) =>
          val v = when(isnan(c), lit(null)).otherwise(c)
          Seq(count(v).cast("double").as(s"__d${tag}_cnt_$i"),
            avg(v).as(s"__d${tag}_avg_$i"),
            stddev_samp(v).as(s"__d${tag}_std_$i"),
            min(v).as(s"__d${tag}_min_$i")) ++
            ps.zipWithIndex.map { case (p, pi) =>
              percentile(v, lit(p)).as(s"__d${tag}_q${pi}_$i") } :+
            max(v).as(s"__d${tag}_max_$i")
        }
        val agg1 = base.agg(aggExprs.head, aggExprs.tail: _*)
        val rows = stats.zip(keys).map { case (statName, key) =>
          struct((lit(statName).as("__row_id__") +:
            cols.zipWithIndex.map { case ((lbl, _), i) =>
              col(s"__d${tag}_${key}_$i").as(lbl)
            }): _*)
        }
        val framed = agg1.select(explode(array(rows: _*)).as("__r"))
          .select(col("__r.*"))
        CFrame(framed, "__row_id__", cols.map(_._1))
      case ("describe", CVecD(vs, _), args) if args.length <= 1 =>
        val ps = describePercentiles(args)
        val ok = vs.filter(!_.isNaN)
        def pct(q: Double): Double =
          if (ok.isEmpty) Double.NaN
          else {
            val so = ok.sorted
            val pos = q * (so.length - 1)
            val lo = pos.toInt; val hi = math.min(so.length - 1, lo + 1)
            so(lo) + (pos - lo) * (so(hi) - so(lo))
          }
        val n = ok.length
        val mean = if (n == 0) Double.NaN else ok.sum / n
        val sd =
          if (n < 2) Double.NaN
          else math.sqrt(ok.map(x => (x - mean) * (x - mean)).sum / (n - 1))
        CVecD((IndexedSeq(n.toDouble, mean, sd,
          if (n == 0) Double.NaN else ok.min) ++ ps.map(pct)) :+
          (if (n == 0) Double.NaN else ok.max),
          (IndexedSeq("count", "mean", "std", "min") ++
            ps.map(pctLabel)) :+ "max")
      // `.nlargest(n)` / `.nsmallest(n)` (r9): pandas Series top-n by
      // value, original index preserved, ties kept first-occurrence, NaN
      // dropped. Distributed: filter + TakeOrderedAndProject — a bounded
      // heap, never a sort of the frame. Single-column matrices only
      // (pandas DataFrame.nlargest needs a columns= argument the formula
      // language cannot express). TERMINAL: the result's row domain is a
      // value-ordered subset, not the engine's row universe.
      case (m @ ("nlargest" | "nsmallest"), CMatrix(cols, false), args)
          if args.length <= 1 =>
        if (!std) throw new AdpUnsupportedException(
          s"'.$m()' is not supported in ADP mode")
        if (cols.length != 1) throw new FormulaTypeException(
          s"'.$m(n)' needs a single-column matrix (pandas DataFrame.$m " +
            "requires a columns= argument, which the formula language " +
            "cannot express — register the column as its own matrix)")
        val n = args.headOption.map(a => asScalar(a, m).toInt).getOrElse(5)
        if (n <= 0) throw new FormulaTypeException(
          s"'.$m(n)' needs n > 0, got $n")
        val base = ctx.base.getOrElse(
          throw new FormulaTypeException(s"$m requires a matrix operand"))
        val (lbl, c) = cols.head
        val rid = col(ctx.rowIdOut)
        val ord =
          if (m == "nlargest") col(lbl).desc else col(lbl).asc
        val framed = base.where(c.isNotNull && !isnan(c))
          .select(rid, c.as(lbl))
          .orderBy(ord, rid.asc)
          .limit(n)
        CFrame(framed, ctx.rowIdOut, Seq(lbl))
      case (m @ ("nlargest" | "nsmallest"), CVecD(vs, ls), args)
          if args.length <= 1 =>
        val n = args.headOption.map(a => asScalar(a, m).toInt).getOrElse(5)
        if (n <= 0) throw new FormulaTypeException(
          s"'.$m(n)' needs n > 0, got $n")
        val pairs = vs.zip(ls).filter(!_._1.isNaN)
        val sorted = // stable sort: equal values keep occurrence order
          if (m == "nlargest") pairs.sortBy(-_._1) else pairs.sortBy(_._1)
        val top = sorted.take(n)
        CVecD(top.map(_._1).toIndexedSeq, top.map(_._2).toIndexedSeq)

      // `.head(n)` / `.tail(n)` (r9): the first/last n rows in the row-id
      // order (the engine's positional order contract). Distributed as a
      // bounded heap — orderBy(limit) plans TakeOrderedAndProject, so no
      // partition ever holds more than n rows and the frame is never
      // globally sorted. TERMINAL like dropna: the row subset no longer
      // aligns positionally with registry operands.
      case (m @ ("head" | "tail"), CMatrix(cols, false), args)
          if args.length <= 1 =>
        if (!std) throw new AdpUnsupportedException(
          s"'.$m()' is not supported in ADP mode")
        val n = args.headOption.map(a => asScalar(a, m).toInt).getOrElse(5)
        if (n < 0) throw new FormulaTypeException(
          s"'.$m(n)' needs n >= 0, got $n")
        val base = ctx.base.getOrElse(
          throw new FormulaTypeException(s"$m requires a matrix operand"))
        val rid = col(ctx.rowIdOut)
        val framed = base
          .select(rid +: cols.map { case (l, c) => c.as(l) }: _*)
          .orderBy(if (m == "head") rid.asc else rid.desc)
          .limit(n)
        CFrame(framed, ctx.rowIdOut, cols.map(_._1))
      case (m @ ("head" | "tail"), CVecD(vs, ls), args) if args.length <= 1 =>
        val n = args.headOption.map(a => asScalar(a, m).toInt).getOrElse(5)
        if (n < 0) throw new FormulaTypeException(
          s"'.$m(n)' needs n >= 0, got $n")
        val (v2, l2) =
          if (m == "head") (vs.take(n), ls.take(n))
          else (vs.takeRight(n), ls.takeRight(n))
        CVecD(v2, l2)

      // `.mode()` (r9): pandas' most-frequent values, ascending, indexed
      // 0..k−1. Single-column matrices only (pandas DataFrame.mode is
      // per-column with NaN padding — register the column as its own
      // matrix). Distributed on the value_counts shape: ONE map-side-
      // combined groupBy bounded by the distinct-value cardinality, the
      // max count broadcast back as a 1-row frame, and the position
      // window walking only the (usually tiny) mode set. TERMINAL: the
      // row domain is a rank.
      case ("mode", CMatrix(cols, false), Nil) =>
        if (!std) throw new AdpUnsupportedException(
          "'.mode()' is not supported in ADP mode")
        if (cols.length != 1) throw new FormulaTypeException(
          "'.mode()' needs a single-column matrix (pandas DataFrame.mode " +
            "is per-column — register the column as its own matrix)")
        val base = ctx.base.getOrElse(
          throw new FormulaTypeException("mode requires a matrix operand"))
        val (lbl, c) = cols.head
        val counts = base.where(c.isNotNull && !isnan(c))
          .groupBy(c.cast("double").as(lbl))
          .agg(count(lit(1)).as("__n"))
        val maxn = counts.agg(max(col("__n")).as("__mx"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col(lbl).asc)
        val framed = counts.crossJoin(broadcast(maxn))
          .where(col("__n") === col("__mx"))
          .select((row_number().over(w) - 1).cast("string").as("__row_id__"),
            col(lbl))
        CFrame(framed, "__row_id__", Seq(lbl))
      case ("mode", CVecD(vs, _), Nil) =>
        val grouped = vs.filter(!_.isNaN).groupBy(identity).view
          .mapValues(_.length).toSeq
        if (grouped.isEmpty) CVecD(IndexedSeq.empty, IndexedSeq.empty)
        else {
          val mx = grouped.map(_._2).max
          val modes = grouped.filter(_._2 == mx).map(_._1).sorted
          CVecD(modes.toIndexedSeq,
            modes.indices.map(_.toString).toIndexedSeq)
        }

      // `.value_counts()` (r9): grouped count per distinct value, ordered
      // by count desc (pandas), value asc as the deterministic tie-break
      // (pandas keeps occurrence order — a documented divergence). NaN
      // dropped (dropna=True). Distributed: ONE map-side-combined hash
      // groupBy on the value; the ordering window walks the AGGREGATED
      // frame, bounded by the distinct-value cardinality — the result
      // itself is that size. TERMINAL like describe: the row domain is a
      // rank, the columns are (value, count).
      case ("value_counts", CMatrix(cols, false), args)
          if args.forall(_.isInstanceOf[CKw]) =>
        if (!std) throw new AdpUnsupportedException(
          "'.value_counts()' is not supported in ADP mode")
        if (cols.length != 1) throw new FormulaTypeException(
          "'.value_counts()' needs a single-column matrix (pandas " +
            "DataFrame.value_counts counts distinct ROWS — register the " +
            "column as its own matrix)")
        val base = ctx.base.getOrElse(
          throw new FormulaTypeException(
            "value_counts requires a matrix operand"))
        // r11 session 4: normalize= (shares, pandas 'proportion' column)
        // and ascending= kwargs. The share divides by a 1-row broadcast
        // total — the counts frame itself is never re-walked.
        val normalize = truthyKw(args, "normalize")
        val ascending = truthyKw(args, "ascending")
        val (lbl, c) = cols.head
        val valid = base.where(c.isNotNull && !isnan(c))
        val counts0 = valid.groupBy(c.cast("double").as(lbl))
          .agg(count(lit(1)).cast("double").as("__vc_n"))
        val outName = if (normalize) "proportion" else "count"
        val counts =
          if (normalize)
            counts0.crossJoin(broadcast(
              valid.agg(count(lit(1)).cast("double").as("__vc_tot"))))
              .select(col(lbl), (col("__vc_n") / col("__vc_tot")).as(outName))
          else counts0.select(col(lbl), col("__vc_n").as(outName))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(if (ascending) col(outName).asc else col(outName).desc,
            col(lbl).asc)
        val framed = counts.select(
          row_number().over(w).cast("string").as("__row_id__"),
          col(lbl), col(outName))
        CFrame(framed, "__row_id__", Seq(lbl, outName))
      case ("value_counts", CVecD(vs, _), args)
          if args.forall(_.isInstanceOf[CKw]) =>
        val normalize = truthyKw(args, "normalize")
        val ascending = truthyKw(args, "ascending")
        val ok = vs.filter(!_.isNaN)
        val grouped = ok.groupBy(identity).view
          .mapValues(_.length.toDouble).toSeq
          .sortBy { case (v, n) => (if (ascending) n else -n, v) }
        val outVals = grouped.map(_._2)
          .map(n => if (normalize) n / ok.length else n)
        CVecD(outVals.toIndexedSeq,
          grouped.map(_._1.toString).toIndexedSeq)

      // `.corr()`/`.cov()` (r9): pandas' pairwise Pearson correlation /
      // ddof-1 covariance frames —
      // PAIRWISE-COMPLETE observations (each pair drops only rows where
      // that pair has a hole, exactly pandas), every pair's six moments
      // (n, Σx, Σy, Σx², Σy², Σxy) in ONE partial-agg tree-reduce, the
      // agg row exploded into one row per column. Moments are exact on
      // integer-valued cells (sums ≪ 2^53), the closing double formula
      // is fixed-order and mirrored op-for-op in the oracle. TERMINAL
      // like describe: the row domain is column labels. Width is capped
      // at 16 columns (p(p+1)/2 · 6 agg expressions — the wide-rank
      // threshold precedent); wider frames belong on
      // Profiling.correlationMatrix.
      // `.corrwith(other)` (r11 session 5): pandas' column-wise pairwise
      // Pearson between matching labels — the diagonal of a cross-frame
      // corr. ONE aggregate pass of pairwise-masked power sums per
      // shared label (the corr-matrix kernel below, rounded at 9 the
      // same way); non-shared union labels read NaN. Series-shaped
      // result — the 1-row reduction contract.
      case ("corrwith", CMatrix(cols, false), List(arg)) =>
        if (!std) throw new AdpUnsupportedException(
          "'.corrwith()' is not supported in ADP mode")
        val ocols = arg match {
          case CMatrix(oc, false) => oc
          case other => throw new FormulaTypeException(
            s"'.corrwith(other)' needs a DataFrame other, got $other")
        }
        val base = ctx.base.getOrElse(
          throw new FormulaTypeException("corrwith requires a matrix operand"))
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        val lm = cols.toMap; val rm = ocols.toMap
        // pandas 2.2 ordering (r12, the r11 ADVICE): shared labels first
        // in the CALLER's column order (the inner align), then the
        // non-shared remainder sorted (the union-difference append) —
        // e.g. caller [b,a] × other [a,b,d] → [b, a, d], not [a, b, d]
        val shared = cols.map(_._1).filter(rm.contains)
        val union: Seq[String] = shared ++
          (cols.map(_._1) ++ ocols.map(_._1)).distinct.sorted
            .filterNot(shared.contains)
        if (shared.isEmpty) throw new FormulaTypeException(
          "'.corrwith(other)' found no shared column labels")
        def okc(c: Column) = c.isNotNull && !isnan(c)
        val cwId = ctx.aggDfs.length
        val aggExprs = shared.zipWithIndex.flatMap { case (l, i) =>
          val (ci, cj) = (lm(l), rm(l))
          val both = okc(ci) && okc(cj)
          val x = when(both, ci); val y = when(both, cj)
          Seq(count(x).cast("double").as(s"__cw${tag}_n_$i"),
            sum(x).as(s"__cw${tag}_sx_$i"),
            sum(y).as(s"__cw${tag}_sy_$i"),
            sum(x * x).as(s"__cw${tag}_sxx_$i"),
            sum(y * y).as(s"__cw${tag}_syy_$i"),
            sum(x * y).as(s"__cw${tag}_sxy_$i"))
        }
        ctx.aggDfs += base.agg(aggExprs.head, aggExprs.tail: _*)
        CVecC(union.map { l =>
          val i = shared.indexOf(l)
          if (i < 0) (l, litOf(Double.NaN))
          else {
            def c0(s: String) = col(s"__cw${tag}_${s}_$i").cast("double")
            val n = c0("n"); val sx = c0("sx"); val sy = c0("sy")
            val num = n * c0("sxy") - sx * sy
            val den = sqrt(n * c0("sxx") - sx * sx) *
              sqrt(n * c0("syy") - sy * sy)
            (l, round(when(den === 0.0, litOf(Double.NaN))
              .otherwise(num / den), 9))
          }
        }, Set(cwId))

      // `.combine_first(other)` (r11 session 5): pandas' patching merge —
      // each cell keeps the caller's value where valid and takes the
      // other's where not; labels align like the elementwise binops
      // (sorted union, one-sided columns pass through). Pure projection.
      case ("combine_first", CMatrix(cols, false), List(arg)) =>
        val ocols = arg match {
          case CMatrix(oc, false) => oc
          case other => throw new FormulaTypeException(
            s"'.combine_first(other)' needs a DataFrame other, got $other")
        }
        val lm = cols.toMap; val rm = ocols.toMap
        val union: Seq[String] =
          if (cols.map(_._1) == ocols.map(_._1)) cols.map(_._1)
          else (cols.map(_._1) ++ ocols.map(_._1)).distinct.sorted
        def invC(c: Column) = c.isNull || isnan(c)
        CMatrix(union.map { l =>
          (lm.get(l), rm.get(l)) match {
            case (Some(a), Some(b)) =>
              (l, if (std) when(invC(a), b).otherwise(a)
                  else coalesce(a, b))
            case (Some(a), None) => (l, a)
            case (None, b)       => (l, b.get)
          }
        }, isBool = false)

      case (m @ ("corr" | "cov"), CMatrix(cols, false), Nil) =>
        if (!std) throw new AdpUnsupportedException(
          s"'.$m()' is not supported in ADP mode")
        if (cols.length < 2) throw new FormulaTypeException(
          s"'.$m()' needs at least two columns")
        if (cols.length > 16) throw new FormulaTypeException(
          s"'.$m()' supports up to 16 columns (got ${cols.length}): " +
            "p*(p+1)/2 moment aggregates per pair stop compiling well " +
            "past that — use graft.operators.Profiling.correlationMatrix " +
            "for wide frames")
        val base = ctx.base.getOrElse(
          throw new FormulaTypeException("corr requires a matrix operand"))
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        def ok(c: Column) = c.isNotNull && !isnan(c)
        val pairs = for {
          i <- cols.indices; j <- cols.indices if i <= j
        } yield (i, j)
        val aggExprs = pairs.flatMap { case (i, j) =>
          val (ci, cj) = (cols(i)._2, cols(j)._2)
          val both = ok(ci) && ok(cj)
          val x = when(both, ci); val y = when(both, cj)
          Seq(count(x).cast("double").as(s"__cr${tag}_n_${i}_$j"),
            sum(x).as(s"__cr${tag}_sx_${i}_$j"),
            sum(y).as(s"__cr${tag}_sy_${i}_$j"),
            sum(x * x).as(s"__cr${tag}_sxx_${i}_$j"),
            sum(y * y).as(s"__cr${tag}_syy_${i}_$j"),
            sum(x * y).as(s"__cr${tag}_sxy_${i}_$j"))
        }
        val agg1 = base.agg(aggExprs.head, aggExprs.tail: _*)
        def r(i: Int, j: Int): Column = {
          val (a, b) = if (i <= j) (i, j) else (j, i)
          def c0(s: String) = col(s"__cr${tag}_${s}_${a}_$b")
            .cast("double")
          val n = c0("n"); val sx = c0("sx"); val sy = c0("sy")
          if (m == "corr") {
            val num = n * c0("sxy") - sx * sy
            val den = sqrt(n * c0("sxx") - sx * sx) *
              sqrt(n * c0("syy") - sy * sy)
            // a constant (zero-variance) column → den = 0: Spark's Divide
            // yields NULL there, pandas NaN — emit the pandas NaN (r10
            // ADVICE; the oracle mirrors with a CASE WHEN den = 0)
            round(when(den === 0.0, litOf(Double.NaN)).otherwise(num / den),
              9)
          } else // cov, pandas ddof=1: (Σxy − Σx·Σy/n) / (n−1)
            round((c0("sxy") - sx * sy / n) / (n - lit(1.0)), 9)
        }
        val rows = cols.zipWithIndex.map { case ((lbl, _), i) =>
          struct((lit(lbl).as("__row_id__") +:
            cols.zipWithIndex.map { case ((l2, _), j) =>
              r(i, j).as(l2)
            }): _*)
        }
        val framed = agg1.select(explode(array(rows: _*)).as("__r"))
          .select(col("__r.*"))
        CFrame(framed, "__row_id__", cols.map(_._1))
      case (m @ ("corr" | "cov"), _: CVecD, _) =>
        throw new FormulaTypeException(
          s"Series '.$m(other)' is not supported — register both " +
            s"columns in one matrix and call '.$m()' on it")

      // `.dropna()` (r9): pandas' drop-rows-with-any-hole (how='any',
      // NaN/null cells; ±Inf is NOT a hole to pandas and is kept). A
      // stateless scan-stage filter over the aligned base — row ids
      // survive, so the result frame is the engine's own row universe
      // minus the dropped rows. TERMINAL as a frame (the filtered row
      // set no longer aligns positionally with registry operands).
      case ("dropna", CMatrix(cols, false), Nil) =>
        if (!std) throw new AdpUnsupportedException(
          "'.dropna()' is not supported in ADP mode")
        val base = ctx.base.getOrElse(
          throw new FormulaTypeException("dropna requires a matrix operand"))
        val keep = cols.map { case (_, c) => c.isNotNull && !isnan(c) }
          .reduce(_ && _)
        val rid = col(ctx.rowIdOut)
        val framed = base.where(keep)
          .select(rid +: cols.map { case (l, c) => c.as(l) }: _*)
        CFrame(framed, ctx.rowIdOut, cols.map(_._1))
      case ("dropna", CVecD(vs, ls), Nil) =>
        val kept = vs.zip(ls).filter(!_._1.isNaN)
        CVecD(kept.map(_._1).toIndexedSeq, kept.map(_._2).toIndexedSeq)

      case (_, _: CFrame, _) =>
        throw new FormulaTypeException(
          "frame results (describe/nlargest/nsmallest/value_counts/corr/cov/" +
            "dropna) are terminal: their rows are not the engine's row " +
            "universe — evaluate them as their own formula")

      // pandas method-form arithmetic (pd.eval's python engine dispatches
      // the real pandas methods): df.add(other) ≡ df + other, etc. —
      // delegated to the SAME binop machinery, so every operand-shape
      // pair, alignment rule and mode restriction is identical to the
      // operator form. `.pow` stays on its dedicated whitelist case
      // (scalar exponent + the ADP rejection).
      case (m @ ("add" | "sub" | "mul" | "div" | "truediv" | "mod" |
                 "floordiv"), t, List(a)) =>
        val op = m match {
          case "add" => "+"; case "sub" => "-"; case "mul" => "*"
          case "div" | "truediv" => "/"; case "mod" => "%"
          case "floordiv" => "//"
        }
        binop(op, t, a, ctx)
      // flex arithmetic with fill_value (r11 session 5): pandas fills
      // the MISSING side with the scalar when exactly one side is
      // invalid — both missing stays NaN. Cell-wise AFTER alignment
      // (one-sided union labels fill too), delegated to the same binop
      // machinery with a fill-wrapped combiner.
      case (m @ ("add" | "sub" | "mul" | "div" | "truediv" | "mod" |
                 "floordiv"), t, List(a, CKw("fill_value", fvv))) =>
        if (!std) throw new AdpUnsupportedException(
          s"'.$m(other, fill_value=)' is not supported in ADP mode")
        val fv = asScalar(fvv, "fill_value")
        val op = m match {
          case "add" => "+"; case "sub" => "-"; case "mul" => "*"
          case "div" | "truediv" => "/"; case "mod" => "%"
          case "floordiv" => "//"
        }
        val base = colOp(op)
        def invC(c: Column) = c.isNull || isnan(c)
        def fillC(c: Column, o: Column): Column =
          when(invC(c) && !invC(o), litOf(fv)).otherwise(c)
        def fillS(x: Double, y: Double): Double =
          if (x.isNaN && !y.isNaN) fv else x
        binopWith((x, y) => base(fillC(x, y), fillC(y, x)),
          (x, y) => Ops.scalarBin(op, fillS(x, y), fillS(y, x)),
          t, a, ctx, bool = false)
      // ...and the reflected forms (other ∘ self)
      case (m @ ("radd" | "rsub" | "rmul" | "rdiv" | "rtruediv" | "rmod" |
                 "rfloordiv"), t, List(a)) =>
        val op = m match {
          case "radd" => "+"; case "rsub" => "-"; case "rmul" => "*"
          case "rdiv" | "rtruediv" => "/"; case "rmod" => "%"
          case "rfloordiv" => "//"
        }
        binop(op, a, t, ctx)
      // `.rolling(n).mean()/.sum()` and `.expanding().mean()/.sum()` (r9
      // session 2): pandas positional window aggregates down the row-id
      // order, DEFAULT min_periods — rolling requires n non-NaN values in
      // the n-position window (any hole → NaN), expanding requires 1.
      // Distributed WITHOUT any global window: three running sums through
      // the distributed prefix (value with holes as 0, hole flag, row
      // position) + ONE positional lag of the first two by n — window sum
      // = S_i − S_{i−n}, holes-in-window = B_i − B_{i−n}; expanding is the
      // prefix alone (skipna running sum + valid count). Exact on
      // integer-valued cells (the e11_cumsum argument: prefix-and-
      // subtract associates differently from a sequential window sum but
      // integer sums are exact in double).
      // `.rolling(n[, min_periods=m])` (r10 kwarg): pandas accepts
      // min_periods keyword or second positional; default = the window
      // size (hole-poisoning). m must satisfy 1 <= m <= n (pandas raises
      // on m > n; m = 0 — emit over empty windows — is not supported).
      case ("rolling", CMatrix(cols, false), a :: rest)
          if !a.isInstanceOf[CKw] =>
        if (!std) throw new AdpUnsupportedException(
          "'.rolling()' is not supported in ADP mode")
        val n = asScalar(a, "rolling").toInt
        if (n <= 0) throw new FormulaTypeException(
          s"'.rolling(n)' needs n > 0, got $n")
        val (minp, center) = rollingArgs(n, rest)
        CRoll(cols, n, minp, center)
      case ("rolling", CVecD(vs, ls), a :: rest)
          if !a.isInstanceOf[CKw] =>
        val n = asScalar(a, "rolling").toInt
        if (n <= 0) throw new FormulaTypeException(
          s"'.rolling(n)' needs n > 0, got $n")
        val (minp, center) = rollingArgs(n, rest)
        CRollD(vs, ls, n, minp, center)
      // `.ewm(...)` (r9 session 3, exact scan + full parameter surface
      // r10): pandas' exponentially weighted windows, adjust=True /
      // ignore_na=False / min_periods=0 — weights (1−α)^d by POSITION
      // distance, invalid cells decay the weights but feed neither sum,
      // output NaN only before the first valid cell, with the pandas
      // carry across hole runs of any length. The decay accepts all four
      // pandas spellings (com positional/keyword, span/halflife/alpha
      // keyword). α = 1 (com = 0) degenerates the mean to
      // carry-last-valid, which IS `.ffill()`.
      case ("ewm", CMatrix(cols, false), args) if args.nonEmpty =>
        if (!std) throw new AdpUnsupportedException(
          "'.ewm()' is not supported in ADP mode")
        val (al, mp, adj) = ewmParams(args)
        CEwm(cols, al, mp, adj)
      case ("ewm", CVecD(vs, ls), args) if args.nonEmpty =>
        val (al, mp, adj) = ewmParams(args)
        CEwmD(vs, ls, al, mp, adj)

      // `.expanding([min_periods=m])` (r10 kwarg, default 1): aggregates
      // gate on valid count >= m — count on POSITIONS >= m (pandas 2.2,
      // pinned: expanding(min_periods=3).count() on [1,nan,2,...] emits
      // 2.0 at the third position)
      case ("expanding", CMatrix(cols, false), args) =>
        if (!std) throw new AdpUnsupportedException(
          "'.expanding()' is not supported in ADP mode")
        CExpand(cols, expandingMinPeriods(args))
      case ("expanding", CVecD(vs, ls), args) =>
        CExpandD(vs, ls, expandingMinPeriods(args))

      case (m, CRoll(cols, n, minp, center), rollArgs)
          if rollingWins.contains(m) && rollingArgsFit(m, rollArgs) =>
        // r11: quantile(q, interpolation=) — pandas' five order-statistic
        // interpolations at arbitrary q on the median's sorted ring;
        // skew/kurt — standardized moments on the variance two-pass
        // (window-local mean; exact under trends where pandas'
        // power-sum kernel loses digits); rank (session 4) — the current
        // cell's rank among the window's valid cells on the same ring
        val win = rollingWins(m)(rollArgs)
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        val rid = col(ctx.rowIdOut)
        // center=True (r10, default min_periods): centered(i) is EXACTLY
        // the trailing aggregate at position i + (n−1)/2 — one positional
        // LEAD of the finished trailing columns; the missing donor past
        // the tail edge is the pandas NaN (full windows only, both edges)
        // lead == 0 (n <= 2): the centered window IS the trailing window
        // (pandas-pinned) — skip the lead pass instead of handing
        // positionalLag a zero offset (r10 ADVICE crash)
        def finish(out: Seq[(String, Column)]): CValue =
          if (!center || n <= 2) CMatrix(out, isBool = false)
          else {
            val lead = (n - 1) / 2
            val tmpIn = cols.indices.map(i => s"__rc${tag}_$i")
            val based2 = ctx.base.get.select(col("*") +:
              out.zipWithIndex.map { case ((_, c), i) =>
                c.as(tmpIn(i)) }: _*)
            ctx.base = Some(graft.operators.Prefix.positionalLag(based2,
              ctx.rowIdOut, rid, tmpIn, -lead, tmpIn.map(_ + "_c")))
            CMatrix(cols.zipWithIndex.map { case ((lbl, _), i) =>
              (lbl, coalesce(col(tmpIn(i) + "_c"), litOf(Double.NaN)))
            }, isBool = false)
          }
        val needsSq = m == "std" || m == "var" || m == "sem"
        // std/var center on the frame-global column means (broadcast
        // 1-row aggregate) before forming moment sums: raw power sums
        // cancel catastrophically when |mean| >> spread — the skew/kurt
        // ADVICE lesson applied at design time; variance is
        // shift-invariant so centering never changes the result.
        def centered(base0: DataFrame): DataFrame =
          if (!needsSq) base0
          else {
            val mus = cols.zipWithIndex.map { case ((_, c), i) =>
              coalesce(avg(when(!invalidOf(c), c)), lit(0.0))
                .as(s"__rw${tag}_mu_$i")
            }
            base0.crossJoin(broadcast(base0.agg(mus.head, mus.tail: _*)))
          }
        def ccOf(c: Column, i: Int): Column =
          if (needsSq) c.cast("double") - col(s"__rw${tag}_mu_$i")
          else c.cast("double")
        // window sizes past the streaming-lag ring bound (n <= 257) — or
        // edge-cell volumes past the driver budget — fall back to the
        // prefix-sum formulation
        val fusedOk = graft.operators.Prefix.lagStreams(
          ctx.base.get.sparkSession, n - 1, cols.size)
        if (n == 1) {
          // a 1-position window is the cell itself (minp is forced to 1);
          // var/std divide by ddof n−1 = 0 → NaN everywhere (pandas)
          CMatrix(cols.map { case (lbl, c) =>
            (lbl, m match {
              case "count" =>
                when(invalidOf(c), lit(0.0)).otherwise(lit(1.0))
              case "std" | "var" | "skew" | "kurt" | "sem" =>
                litOf(Double.NaN)
              // a valid cell alone in its window ranks 1 (pct: 1/1)
              case "rank" => when(invalidOf(c), litOf(Double.NaN))
                .otherwise(lit(1.0))
              case _ => when(invalidOf(c), litOf(Double.NaN))
                .otherwise(c.cast("double"))
            })
          }, isBool = false)
        } else if (fusedOk) {
          // ---- fused single-pass window (r9): the rolling aggregate IS
          // the ring buffer the positional lag already streams — ONE
          // slice pass emits the window aggregate directly; no
          // running-prefix stage, no post-lag projection. The
          // min_periods valid-count gate (default n = hole-poisoning)
          // lives in the emit itself (r10: any 1 <= minp <= n).
          // std/var: the emit two-passes the ring window on ITS OWN mean
          // (Fuse.Var) — exact under any trend or global offset, no
          // centering stage, no broadcast job (the global-mean centering
          // below survives only in the prefix-sum fallback, whose sums
          // cannot see individual windows)
          val valIn = cols.indices.map(i => s"__rw${tag}_v_$i")
          // r15: derived projections ride above the shared slice layout
          val derived = cols.zipWithIndex.map { case ((_, c), i) =>
            when(invalidOf(c), litOf(Double.NaN))
              .otherwise(c.cast("double")).as(valIn(i))
          }
          // center=1 (r11): the lead is FUSED into the same slice pass
          // (the emit attaches each finished trailing aggregate to the
          // row (n−1)/2 back via a pending queue + bounded lookahead) —
          // the r10 shape paid a second positionalLag pass for it
          val lead = if (center) (n - 1) / 2 else 0
          ctx.base = Some(graft.operators.Prefix.positionalLagShared(
            ctx.base.get, derived, ctx.rowIdOut, rid, valIn, n - 1,
            valIn.map(_ + "_w"), fuse = win, winMinPeriods = minp,
            centerLead = lead))
          val out = cols.zipWithIndex.map { case ((lbl, _), i) =>
            val s = col(valIn(i) + "_w")
            val cell = m match {
              case "std"  => sqrt(s)
              case _      => s
            }
            (lbl, cell)
          }
          CMatrix(out, isBool = false)
        } else {
          // ---- prefix-sum fallback for very large windows: running sums
          // of (value, value², hole flag, position) + ONE positional lag
          // by n, window aggregate = prefix difference. Window extremes
          // are not prefix-invertible, so min/max stay on the fused path.
          if (m == "min" || m == "max" || m == "median" ||
              m == "quantile" || m == "skew" || m == "kurt" || m == "rank")
            throw new FormulaTypeException(
              s"'.rolling(n).$m()' supports window sizes up to 257 " +
                "(window order statistics and standardized moments are " +
                s"not prefix-invertible), got $n")
          val valIn = cols.indices.map(i => s"__rl${tag}_v_$i")
          val invIn = cols.indices.map(i => s"__rl${tag}_b_$i")
          val sqIn = cols.indices.map(i => s"__rl${tag}_q_$i")
          val posIn = s"__rl${tag}_one"
          val marked = centered(ctx.base.get).select(col("*") +:
            (cols.zipWithIndex.flatMap { case ((_, c), i) =>
              val invalid = invalidOf(c)
              val cc = ccOf(c, i)
              Seq(when(invalid, lit(0.0)).otherwise(cc).as(valIn(i)),
                invalid.cast("double").as(invIn(i))) ++
                (if (needsSq)
                   Seq(when(invalid, lit(0.0)).otherwise(cc * cc)
                     .as(sqIn(i)))
                 else Nil)
            } :+ lit(1.0).as(posIn)): _*)
          val lagBase = valIn ++ invIn ++ (if (needsSq) sqIn else Nil)
          val inNames = lagBase :+ posIn
          val runNames = inNames.map(_ + "_s")
          val run1 = graft.operators.Prefix.runningAgg(marked, rid,
            inNames, Seq.fill(inNames.size)("sum"), runNames)
          val lagIn = lagBase.map(_ + "_s")
          ctx.base = Some(graft.operators.Prefix.positionalLag(run1,
            ctx.rowIdOut, col(ctx.rowIdOut), lagIn, n, lagIn.map(_ + "_l")))
          val pos = col(posIn + "_s")
          val out = cols.zipWithIndex.map { case ((lbl, _), i) =>
            def win(nm: String) =
              col(nm + "_s") - coalesce(col(nm + "_s_l"), lit(0.0))
            val winSum = win(valIn(i))
            val winInv = win(invIn(i))
            // positions actually in the window (partial at the leading
            // edge when minp < n — the prefix differences already cover
            // exactly the first `pos` rows there) and the valid count
            // gating every aggregate (r10 min_periods; minp = n
            // reproduces the pos/hole gate exactly)
            val positions = least(pos, lit(n.toDouble))
            val validCnt = positions - winInv
            def gated(x: Column) =
              when(validCnt < minp, litOf(Double.NaN)).otherwise(x)
            val cell = m match {
              case "count" => when(positions < minp, litOf(Double.NaN))
                .otherwise(validCnt)
              case "sum"  => gated(winSum)
              case "mean" => gated(winSum / validCnt)
              case _ =>
                val winQ = win(sqIn(i))
                val v = greatest(
                  (winQ - winSum * winSum / validCnt) / (validCnt - 1),
                  lit(0.0))
                // sem (r11 session 5) = std(ddof=1)/sqrt(cnt−1) — the
                // pandas Rolling.sem denominator (count − ddof), NOT the
                // Series reduction's sqrt(count)
                when(validCnt < minp || validCnt < 2, litOf(Double.NaN))
                  .otherwise(m match {
                    case "var" => v
                    case "sem" => sqrt(v / (validCnt - 1))
                    case _     => sqrt(v)
                  })
            }
            (lbl, cell)
          }
          finish(out)
        }
      // `.rolling(n).cov(other)` / `.corr(other)` (r11 session 5):
      // pandas' pairwise moving covariance/correlation — pandas 2.2
      // masks BOTH inputs to the window's pairwise-complete cells (both
      // valid), computes sample moments over the PAIRS (corr's
      // denominator variances included), and gates on the valid-pair
      // count >= min_periods (all pinned empirically — see
      // Prefix.winEmitter's wincov note). Labels align like the
      // elementwise binops: sorted union, one-sided labels are all-NaN
      // columns (the pandas outer-align rule). Distributed as ONE fused
      // slice pass over 2w marked inputs — the ring already streams
      // whole rows, so pairing costs no extra exchange.
      case (m @ ("cov" | "corr"), CRoll(cols, n, minp, center),
            List(arg)) =>
        if (!std) throw new AdpUnsupportedException(
          s"'.rolling().$m()' is not supported in ADP mode")
        val ocols = arg match {
          case CMatrix(oc, false) => oc
          case _: CVecD | _: CVecC => throw new FormulaTypeException(
            s"'.rolling(n).$m(other)' needs a DataFrame other: the " +
              "DSL's Series broadcast COLUMN-positionally (SURVEY §2.3 " +
              "A2), so a row-axis moving covariance against one is " +
              "ill-formed")
          case other => throw new FormulaTypeException(
            s"'.rolling(n).$m(other)' is not applicable to $other")
        }
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        val rid = col(ctx.rowIdOut)
        val lm = cols.toMap; val rm = ocols.toMap
        val union: Seq[String] =
          if (cols.map(_._1) == ocols.map(_._1)) cols.map(_._1)
          else (cols.map(_._1) ++ ocols.map(_._1)).distinct.sorted
        val shared = union.filter(l => lm.contains(l) && rm.contains(l))
        // a 1-position window never holds 2 pairs — NaN everywhere
        // (ddof = 1), like var; and no shared labels means no pairs
        if (n == 1 || shared.isEmpty)
          CMatrix(union.map(l => (l, litOf(Double.NaN))), isBool = false)
        else {
          val w = shared.length
          if (!graft.operators.Prefix.lagStreams(ctx.base.get.sparkSession,
                n - 1, 2 * w)) throw new FormulaTypeException(
            s"'.rolling(n).$m(other)' supports window sizes up to 257 " +
              "within graft.lag.maxEdgeCells edge cells (the pairwise mask " +
              s"is not prefix-invertible), got $n over $w column pair(s)")
          val xIn = shared.indices.map(i => s"__rp${tag}_x_$i")
          val yIn = shared.indices.map(i => s"__rp${tag}_y_$i")
          val derived =
            shared.zipWithIndex.map { case (l, i) =>
              val c = lm(l)
              when(invalidOf(c), litOf(Double.NaN))
                .otherwise(c.cast("double")).as(xIn(i))
            } ++ shared.zipWithIndex.map { case (l, i) =>
              val c = rm(l)
              when(invalidOf(c), litOf(Double.NaN))
                .otherwise(c.cast("double")).as(yIn(i))
            }
          val lead = if (center) (n - 1) / 2 else 0
          ctx.base = Some(graft.operators.Prefix.positionalLagShared(
            ctx.base.get, derived, ctx.rowIdOut, rid, xIn ++ yIn, n - 1,
            xIn.map(_ + "_w"),
            fuse = if (m == "cov") Fuse.Cov else Fuse.Corr,
            winMinPeriods = minp, centerLead = lead))
          CMatrix(union.map { l =>
            val i = shared.indexOf(l)
            (l, if (i < 0) litOf(Double.NaN) else col(xIn(i) + "_w"))
          }, isBool = false)
        }
      // `.expanding()` sum/mean/count/min/max: one running scan over the
      // shared slice layout — the valid cells' Sum (Max, Min) beside their
      // running count (plus a running count of positions when count gates
      // on them). var/std/sem: the exact α = 0 Welford ewm scan (unit
      // weights, no decay: the corrected expanding variance — exact under
      // any offset or trend, where centered power sums cancel), with the
      // sem's count from a one-shot running scan chained on its output.
      case (m @ ("mean" | "sum" | "count" | "min" | "max"),
            CExpand(cols, minp), Nil) =>
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        val valIn = cols.indices.map(i => s"__ex${tag}_v_$i")
        val cntIn = cols.indices.map(i => s"__ex${tag}_c_$i")
        // count with min_periods > 1 gates on POSITIONS (pandas 2.2)
        val needPos = m == "count" && minp > 1
        val posIn = s"__ex${tag}_one"
        val derived = cols.zip(valIn.zip(cntIn)).flatMap {
          case ((_, c), (v, n)) =>
            val valid = !invalidOf(c)
            Seq(when(valid, c.cast("double")).as(v),
              when(valid, lit(1.0)).as(n))
        } ++ (if (needPos) Seq(lit(1.0).as(posIn)) else Nil)
        val inNames = valIn ++ cntIn ++ (if (needPos) Seq(posIn) else Nil)
        val kind = m match {
          case "min" => RunKind.Min; case "max" => RunKind.Max
          case _     => RunKind.Sum
        }
        ctx.base = Some(graft.operators.Prefix.runningScan(ctx.base.get,
          derived, ctx.rowIdOut, col(ctx.rowIdOut), inNames,
          valIn.map(_ => kind) ++ inNames.drop(valIn.size).map(_ =>
            RunKind.Sum), inNames.map(_ + "_s")))
        CMatrix(cols.zipWithIndex.map { case ((lbl, _), i) =>
          val s = col(valIn(i) + "_s")
          val ccnt = coalesce(col(cntIn(i) + "_s"), lit(0.0))
          val cell = m match {
            // a leading all-hole prefix counts 0, not NaN — pandas 2.2
            // pinned empirically (r10, answering the r9 ADVICE query):
            // Series([nan, nan, 1]).expanding().count() = [0, 0, 1] —
            // but with explicit min_periods > 1 the POSITION gate
            // applies (expanding(min_periods=3).count() starts NaN, NaN)
            case "count" =>
              if (!needPos) ccnt
              else when(col(posIn + "_s") < minp, litOf(Double.NaN))
                .otherwise(ccnt)
            // a Sum starts from its first cell; + 0.0 is pandas' 0.0 start
            case "sum"   => when(ccnt < minp.max(1), litOf(Double.NaN))
              .otherwise(s + lit(0.0))
            case "mean"  => when(ccnt < minp.max(1), litOf(Double.NaN))
              .otherwise((s + lit(0.0)) / ccnt)
            case _ =>
              when(s.isNull || ccnt < minp, litOf(Double.NaN)).otherwise(s)
          }
          (lbl, cell)
        }, isBool = false)
      case (m @ ("std" | "var" | "sem"), CExpand(cols, minp), Nil) =>
        val CMatrix(v, _) = method(CEwm(cols, 0.0, minp, adjust = true),
          if (m == "sem") "var" else m, Nil, ctx): @unchecked
        if (m != "sem") CMatrix(v, isBool = false)
        else {
          ctx.seqCounter += 1
          val cntIn = cols.indices.map(i => s"__ex${ctx.seqCounter}_c_$i")
          ctx.base = Some(graft.operators.Prefix.runningScan(ctx.base.get,
            cols.zip(cntIn).map { case ((_, c), n) =>
              when(!invalidOf(c), lit(1.0)).as(n) },
            ctx.rowIdOut, col(ctx.rowIdOut), cntIn,
            cntIn.map(_ => RunKind.Sum), cntIn.map(_ + "_s"),
            persist = false))
          // the pandas window denominator sqrt(count − ddof)
          CMatrix(v.zip(cntIn).map { case ((l, x), n) =>
            val cnt = coalesce(col(n + "_s"), lit(0.0))
            (l, when(cnt < 2, litOf(Double.NaN)).otherwise(sqrt(x / (cnt - 1))))
          }, isBool = false)
        }
      // `.expanding().median()/.quantile(q[, interpolation=])` (r12):
      // the last clean-rejection in the window family — the running
      // order statistic has no invertible prefix SHAPE, but under the
      // bounded-cell-domain contract it has a bounded STATE: running
      // rank selection over running value counts on
      // [[Prefix.runningQuantile]] (Fenwick over the sorted distinct
      // domain, additive per-slice partials, pandas' five
      // interpolations); clean raise above the
      // graft.percentile.approxAboveDistinct budget.
      case (m @ ("median" | "quantile"), CExpand(cols, minp), qargs)
          if (m == "median" && qargs.isEmpty) ||
             (m == "quantile" && qargs.nonEmpty &&
              !qargs.head.isInstanceOf[CKw] && qargs.length <= 2) =>
        if (!std) throw new AdpUnsupportedException(
          s"'.expanding().$m()' is not supported in ADP mode")
        val (qv, qInterp) =
          if (m == "median") (0.5, 0)
          else rollingQuantileArgs(qargs, ".expanding().quantile(q)")
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        val rid = col(ctx.rowIdOut)
        val vIn = cols.indices.map(i => s"__eq${tag}_v_$i")
        val derived = cols.zipWithIndex.map { case ((_, c), i) =>
          when(invalidOf(c), litOf(Double.NaN))
            .otherwise(c.cast("double")).as(vIn(i))
        }
        ctx.base = Some(graft.operators.Prefix.runningQuantile(
          ctx.base.get, derived, ctx.rowIdOut, rid, vIn, qv, qInterp,
          vIn.map(_ + "_q"), minp))
        CMatrix(cols.zipWithIndex.map { case ((l, _), i) =>
          (l, col(vIn(i) + "_q"))
        }, isBool = false)
      // `.expanding().cov(other)` / `.corr(other)` (r11 session 5;
      // replanned r12): the same pandas pairwise contract as the
      // rolling form, over the unbounded prefix — the `.ewm()` pairwise
      // polarization below at α = 0 (unit weights: the expanding Welford
      // + Chan merge, no closed-form moment subtraction anywhere; the
      // r11 centered-power-sum identity left a ~1e-12 cross-engine
      // residue that sat ON a 6-dp rounding quantum): cov =
      // (varC(x̃+ỹ) − varC(x̃−ỹ))/4 over the pair-masked inputs; gate =
      // running pair count >= max(min_periods, 2) (the den = n² − n guard
      // supplies the 2).
      case (m @ ("cov" | "corr"), CExpand(cols, minp), List(arg)) =>
        arg match {
          case CMatrix(_, false) =>
            method(CEwm(cols, 0.0, minp, adjust = true), m, List(arg), ctx)
          case _: CVecD | _: CVecC => throw new FormulaTypeException(
            s"'.expanding().$m(other)' needs a DataFrame other: the " +
              "DSL's Series broadcast COLUMN-positionally (SURVEY §2.3 " +
              "A2), so a row-axis moving covariance against one is " +
              "ill-formed")
          case other => throw new FormulaTypeException(
            s"'.expanding().$m(other)' is not applicable to $other")
        }
      // Series twin: the fused batch emit on one slice
      case (m, CRollD(vs, ls, n, minp, center), rollArgs)
          if rollingWins.contains(m) && rollingArgsFit(m, rollArgs) =>
        // a 1-position sum/mean is the cell itself, as the matrix path's
        // n == 1 projection emits it (the emit's 0.0 + v drops a −0.0)
        val out =
          if (n == 1 && (m == "sum" || m == "mean")) vs
          else rollingTwin(vs.map(v => Array[Any](v)), n, center,
            graft.operators.Prefix.winEmitter(rollingWins(m)(rollArgs), n - 1,
              minp))
        CVecD(if (m == "std") out.map(math.sqrt) else out, ls)
      // Series twins: the matrix path's running scan / α = 0 Welford ewm
      // scan on one slice
      case (m @ ("mean" | "sum" | "count" | "min" | "max"),
            CExpandD(vs, ls, minp), Nil) =>
        val kind = m match {
          case "min" => RunKind.Min; case "max" => RunKind.Max
          case _     => RunKind.Sum
        }
        val ones = vs.map(v => if (v.isNaN) Double.NaN else 1.0)
        CVecD(RunKernel.series(Seq(vs, ones), Seq(kind, RunKind.Sum))
          .zipWithIndex.map { case (Seq(s, cnt), i) =>
            val c = if (cnt.isNaN) 0.0 else cnt
            m match {
              case "count"            => if (i + 1 < minp) Double.NaN else c
              case _ if c < minp.max(1) => Double.NaN
              case "sum"              => s + 0.0
              case "mean"             => (s + 0.0) / c
              case _                  => s
            }
          }, ls)
      case (m @ ("std" | "var" | "sem"), CExpandD(vs, ls, minp), Nil) =>
        val CVecD(v, _) = method(CEwmD(vs, ls, 0.0, minp, adjust = true),
          "var", Nil, ctx): @unchecked
        var c = 0
        CVecD(v.zip(vs).map { case (x, raw) =>
          if (!raw.isNaN) c += 1
          m match {
            case "var" => x
            case "std" => math.sqrt(x)
            case _     => math.sqrt(x / (c - 1))
          }
        }, ls)
      // Series twin of the r12 expanding order statistic: the batch
      // emit on one slice — a [[Prefix.Fenwick]] over the sorted distinct
      // valid domain (−0.0 normalized), starting from an empty histogram
      case (m @ ("median" | "quantile"), CExpandD(vs, ls, minp), qargs)
          if (m == "median" && qargs.isEmpty) ||
             (m == "quantile" && qargs.nonEmpty &&
              !qargs.head.isInstanceOf[CKw] && qargs.length <= 2) =>
        val (qv, qInterp) =
          if (m == "median") (0.5, 0)
          else rollingQuantileArgs(qargs, ".expanding().quantile(q)")
        val dom = vs.map(_ + 0.0).filter(!_.isNaN).distinct.toArray
        java.util.Arrays.sort(dom)
        val fen = new graft.operators.Prefix.Fenwick(new Array[Long](dom.length))
        CVecD(vs.map { v =>
          if (!v.isNaN) fen.add(java.util.Arrays.binarySearch(dom, v + 0.0))
          if (fen.total < minp.max(1)) Double.NaN
          else fen.quantile(dom, qv, qInterp)
        }, ls)
      // Series twins of the pairwise window cov/corr: Series ∘ Series
      // pairs POSITIONALLY (the A3 vector rule) into the wincov/wincorr
      // batch emit on one slice
      case (m @ ("cov" | "corr"),
            CRollD(vs, ls, n, minp, center), List(arg)) =>
        val os = arg match {
          case CVecD(o, _) => o
          case other => throw new FormulaTypeException(
            s"'.rolling(n).$m(other)' on a Series needs a Series " +
              s"other, got $other")
        }
        requireLen(vs.length, os.length)
        CVecD(rollingTwin(vs.indices.map(i => Array[Any](vs(i), os(i))), n,
          center, graft.operators.Prefix.winEmitter(
            if (m == "cov") Fuse.Cov else Fuse.Corr, n - 1, minp,
            pairOff = 1)), ls)
      // the matrix path's α = 0 ewm polarization (unit weights: the
      // expanding Welford), through the Series ewm twin
      case (m @ ("cov" | "corr"), CExpandD(vs, ls, minp), List(arg)) =>
        if (!arg.isInstanceOf[CVecD]) throw new FormulaTypeException(
          s"'.expanding().$m(other)' on a Series needs a Series other, " +
            s"got $arg")
        method(CEwmD(vs, ls, 0.0, minp, adjust = true), m, List(arg), ctx)
      // `.ewm(...).mean()/.var()/.std()` (r10): pandas adjust=True /
      // ignore_na=False / bias=False, EXACT — the r9 truncated-horizon
      // ring (com <= ~8.8, NaN past hk-long hole runs where pandas
      // carries) is replaced by [[Prefix.ewmScan]]'s decayed
      // weighted-Welford distributed scan: any decay, O(1) per-row
      // state, the pandas carry across hole runs falls out of the
      // decay-invariant state, and the Welford products need no
      // centering stage (translation-robust by construction — unlike
      // the closed moment forms).
      case (m @ ("mean" | "var" | "std" | "sum"),
            CEwm(cols, alpha, minp, adjust), Nil) =>
        // pandas raises NotImplementedError for ewm.sum with adjust=False
        if (m == "sum" && !adjust) throw new FormulaTypeException(
          "sum is not implemented with adjust=False")
        if (m == "mean" && alpha == 1.0 && minp <= 1) {
          // α = 1: every weight but the current cell's is zero and pandas
          // carries the last valid value across holes — exactly `.ffill()`
          method(CMatrix(cols, isBool = false), "ffill", Nil, ctx)
        } else {
          ctx.seqCounter += 1
          val tag = ctx.seqCounter
          val rid = col(ctx.rowIdOut)
          val valIn = cols.indices.map(i => s"__ew${tag}_v_$i")
          val derived = cols.zipWithIndex.map { case ((_, c), i) =>
            when(invalidOf(c), litOf(Double.NaN))
              .otherwise(c.cast("double")).as(valIn(i))
          }
          val stat = m match { case "mean" => EwmStat.Mean
                               case "sum" => EwmStat.Sum
                               case _ => EwmStat.Var }
          ctx.base = Some(
            if (adjust) graft.operators.Prefix.ewmScan(ctx.base.get,
              derived, ctx.rowIdOut, rid, valIn, alpha,
              valIn.map(_ + "_w"), stat, minp)
            else graft.operators.Prefix.ewmScanRecursive(ctx.base.get,
              derived, ctx.rowIdOut, rid, valIn, alpha,
              valIn.map(_ + "_w"), stat, minp))
          CMatrix(cols.zipWithIndex.map { case ((lbl, _), i) =>
            val c = col(valIn(i) + "_w")
            (lbl, if (m == "std") sqrt(c) else c)
          }, isBool = false)
        }
      case (m @ ("mean" | "var" | "std" | "sum"),
            CEwmD(vs, ls, alpha, minp, adjust), Nil) =>
        if (m == "sum" && !adjust) throw new FormulaTypeException(
          "sum is not implemented with adjust=False")
        // α = 1 mean: `.ffill()`, as the matrix path runs it
        if (m == "mean" && alpha == 1.0 && minp <= 1)
          method(CVecD(vs, ls), "ffill", Nil, ctx)
        else {
          // Series twin: the batch [[Prefix.EwmKernel]] on one slice
          // with an empty history
          val k = graft.operators.Prefix.EwmKernel.entered(
            graft.operators.Prefix.EwmKernel.seed(1), alpha, adjust,
            m match { case "mean" => EwmStat.Mean; case "sum" => EwmStat.Sum
                      case _ => EwmStat.Var }, minp)
          val cell = new Array[Any](1)
          CVecD(vs.map { v =>
            k.cells(new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(Array[Any](v)), cell)
            val out = cell(0).asInstanceOf[Double]
            if (m == "std") math.sqrt(out) else out
          }, ls)
        }
      // `.ewm(...).cov(other)` / `.corr(other)` (r11 session 5): pandas'
      // pairwise exponentially weighted covariance/correlation — both
      // inputs masked to each position's pairwise-complete cells,
      // decayed weighted moments over the pairs (ignore_na=False: the
      // weights decay by raw position distance), bias=False correction
      // W1²/(W1²−ΣW²), the pandas carry at non-pair positions, and
      // min_periods on the running PAIR count. Computed by POLARIZATION
      // on the existing exact corrected var scan:
      //   cov  = (varC(x̃+ỹ) − varC(x̃−ỹ))/4
      //   corr = cov / √(varC(x̃)·varC(ỹ))
      // — the correction factor depends only on the shared pair mask, so
      // it distributes over the identity (and cancels in corr); one scan
      // pass over 2w (cov) / 4w (corr) masked columns, no new kernel.
      // Validated against pandas 2.2 to ~1e-13 (adjust=True and =False).
      case (m @ ("cov" | "corr"), CEwm(cols, alpha, minp, adjust),
            List(arg)) =>
        if (!std) throw new AdpUnsupportedException(
          s"'.ewm().$m()' is not supported in ADP mode")
        val ocols = arg match {
          case CMatrix(oc, false) => oc
          case _: CVecD | _: CVecC => throw new FormulaTypeException(
            s"'.ewm().$m(other)' needs a DataFrame other: the DSL's " +
              "Series broadcast COLUMN-positionally (SURVEY §2.3 A2), " +
              "so a row-axis weighted covariance against one is " +
              "ill-formed")
          case other => throw new FormulaTypeException(
            s"'.ewm().$m(other)' is not applicable to $other")
        }
        ctx.seqCounter += 1
        val tag = ctx.seqCounter
        val rid = col(ctx.rowIdOut)
        val lm = cols.toMap; val rm = ocols.toMap
        val union: Seq[String] =
          if (cols.map(_._1) == ocols.map(_._1)) cols.map(_._1)
          else (cols.map(_._1) ++ ocols.map(_._1)).distinct.sorted
        val shared = union.filter(l => lm.contains(l) && rm.contains(l))
        if (shared.isEmpty)
          CMatrix(union.map(l => (l, litOf(Double.NaN))), isBool = false)
        else {
          val wantCorr = m == "corr"
          val nan = litOf(Double.NaN)
          val sIn = shared.indices.map(i => s"__ec${tag}_s_$i")
          val dIn = shared.indices.map(i => s"__ec${tag}_d_$i")
          val xIn = shared.indices.map(i => s"__ec${tag}_x_$i")
          val yIn = shared.indices.map(i => s"__ec${tag}_y_$i")
          val derived =
            shared.zipWithIndex.flatMap { case (l, i) =>
              val x = lm(l).cast("double"); val y = rm(l).cast("double")
              val pv = !invalidOf(lm(l)) && !invalidOf(rm(l))
              Seq(when(pv, x + y).otherwise(nan).as(sIn(i)),
                when(pv, x - y).otherwise(nan).as(dIn(i))) ++
                (if (wantCorr)
                   Seq(when(pv, x).otherwise(nan).as(xIn(i)),
                     when(pv, y).otherwise(nan).as(yIn(i)))
                 else Nil)
            }
          val scanIns = sIn ++ dIn ++ (if (wantCorr) xIn ++ yIn else Nil)
          ctx.base = Some(
            if (adjust) graft.operators.Prefix.ewmScan(ctx.base.get,
              derived, ctx.rowIdOut, rid, scanIns, alpha,
              scanIns.map(_ + "_w"), EwmStat.Var, minp)
            else graft.operators.Prefix.ewmScanRecursive(ctx.base.get,
              derived, ctx.rowIdOut, rid, scanIns, alpha,
              scanIns.map(_ + "_w"), EwmStat.Var, minp))
          CMatrix(union.map { l =>
            val i = shared.indexOf(l)
            if (i < 0) (l, litOf(Double.NaN))
            else {
              val cov = (col(sIn(i) + "_w") - col(dIn(i) + "_w")) / 4.0
              (l, if (!wantCorr) cov
                  else cov / sqrt(col(xIn(i) + "_w") * col(yIn(i) + "_w")))
            }
          }, isBool = false)
        }
      case (m @ ("cov" | "corr"), CEwmD(vs, ls, alpha, minp, adjust),
            List(arg)) =>
        val os = arg match {
          case CVecD(o, _) => o
          case other => throw new FormulaTypeException(
            s"'.ewm().$m(other)' on a Series needs a Series other, " +
              s"got $other")
        }
        requireLen(vs.length, os.length)
        // the same polarization, through the Series var twin
        val pv = vs.indices.map(i => !vs(i).isNaN && !os(i).isNaN)
        def masked(f: Int => Double): IndexedSeq[Double] =
          vs.indices.map(i => if (pv(i)) f(i) else Double.NaN)
        def varOf(series: IndexedSeq[Double]): IndexedSeq[Double] =
          method(CEwmD(series, ls, alpha, minp, adjust), "var", Nil,
            ctx) match {
            case CVecD(out, _) => out.toIndexedSeq
            case other => throw new FormulaTypeException(
              s"internal: ewm var twin returned $other")
          }
        val covs = varOf(masked(i => vs(i) + os(i)))
          .zip(varOf(masked(i => vs(i) - os(i))))
          .map { case (a, b) => (a - b) / 4.0 }
        if (m == "cov") CVecD(covs, ls)
        else {
          val vx = varOf(masked(i => vs(i)))
          val vy = varOf(masked(i => os(i)))
          CVecD(covs.indices.map(i =>
            covs(i) / math.sqrt(vx(i) * vy(i))), ls)
        }

      case (other, _: CEwm | _: CEwmD, _) =>
        throw new FormulaTypeException(
          s"'.ewm(com)' windows support '.mean()/.sum()/.var()/.std()/" +
            s".cov(other)/.corr(other)' — got '.$other'")

      case (other, _: CRoll | _: CExpand | _: CRollD | _: CExpandD, _) =>
        throw new FormulaTypeException(
          "'.rolling()/.expanding()' windows support " +
            "'.sum/.mean/.count/.min/.max/.std/.var/.median/.quantile(q)' " +
            "(plus '.skew/.kurt' on rolling) — got " +
            s"'.$other'")

      // pandas method-form comparisons (r9): df.le(other) ≡ df <= other
      // etc. — the same binop delegation as the arithmetic method forms,
      // so boolean-result marking and every operand-shape rule match the
      // operator spelling exactly.
      case (m @ ("eq" | "ne" | "le" | "lt" | "ge" | "gt"), t, List(a)) =>
        val op = m match {
          case "eq" => "=="; case "ne" => "!="; case "le" => "<="
          case "lt" => "<"; case "ge" => ">="; case "gt" => ">"
        }
        binop(op, t, a, ctx)

      case (other, _, _) =>
        throw new FormulaTypeException(
          s"Method '.$other' is not in the supported whitelist " +
            "(fillna, clip, pow, abs, round, agg, isin, " +
            "sum, mean, min, max, count (each also axis=1), " +
            "std, var, median, quantile, prod, nunique, any, all, " +
            "idxmax, idxmin, sem, skew, kurt, describe, " +
            "nlargest, nsmallest, value_counts, corr, cov, dropna, " +
            "mode, head, tail, isna, isnull, notna, notnull, " +
            "where, mask, replace, duplicated, " +
            "ffill, bfill, interpolate, pct_change, " +
            "rolling(n[, min_periods]).sum/mean/count/min/max/std/var/" +
            "median/quantile/skew/kurt/rank, " +
            "expanding().sum/mean/count/min/max/std/var, " +
            "ewm(com).mean/var/std, " +
            "add, sub, mul, div, truediv, mod, floordiv + reflected " +
            "r-forms, eq, ne, le, lt, ge, gt, cumsum, " +
            "cummax, cummin, cumprod, rank, shift, diff, matmul, T — " +
            "SURVEY §2.2 E11/E12)")
    }
  }

  /** Whole-frame column reductions (pandas skipna semantics): one
    * partial-agg tree-reduce, 1-row result. `kind` ∈ sum, mean (all
    * modes), min, max, count (std + bounded decimal), std, var, median,
    * prod (std only — std/var/median are float-valued by nature and prod
    * runs the ln/sign/zero decomposition, neither meaningful on decimal
    * cells). pandas edge values: empty sum = 0, empty prod = 1, empty
    * min/max/mean/std/var/median = NaN, count of none = 0; std/var use
    * ddof=1 (stddev_samp/var_samp), median interpolates the even middle
    * (percentile 0.5). */
  private def reduce(cols: Seq[(String, Column)], ctx: Ctx, kind: String,
                     skipna: Boolean = true): CValue = {
    val base = ctx.base.getOrElse(
      throw new FormulaTypeException("reduction requires a matrix operand"))
    if (ubp && kind != "sum" && kind != "mean")
      throw new AdpUnsupportedException(
        s"'.$kind()' is not supported in unbounded ADP mode")
    // skipna=False (r11 session 5): any invalid cell poisons the numeric
    // reduction to NaN; any/all keep pandas' NaN-is-truthy rule (any
    // turns True on an invalid cell, all never flips). Decimal modes
    // have no NaN cell to emit — rejected cleanly.
    if (!skipna && !std) throw new AdpUnsupportedException(
      s"'.$kind(skipna=0)' is not supported in ADP mode " +
        "(decimal cells cannot hold the NaN it poisons to)")
    if (!std && (Set("std", "var", "median", "prod", "sem", "skew",
        "kurt")(kind) || kind.startsWith("quantile")))
      throw new AdpUnsupportedException(
        s"'.${kind.takeWhile(_ != ':').stripSuffix("os")}()' is not " +
          "supported in ADP mode")
    val id = ctx.aggDfs.length
    val aliases = cols.map { case (lbl, _) =>
      ctx.aggCounter += 1; (lbl, s"__agg${ctx.aggCounter}_$lbl")
    }
    if (kind == "idxmax" || kind == "idxmin") {
      // pandas arg-reduction: the ROW ID of the first max/min per column
      // (skipna). Deterministic under ties without a second pass: min of
      // struct(±value, rid) — the struct's lexicographic order resolves
      // the value first, then the SMALLEST rid in its native order
      // (pandas' first-occurrence rule under the engine's row-id
      // ordering contract). Output cast to string for a stable schema.
      val rid = col(ctx.rowIdOut)
      val parts = cols.zip(aliases).map { case ((_, c), (_, alias)) =>
        val nonNan = if (std) when(isnan(c), lit(null)).otherwise(c) else c
        // r9 (ADVICE): normalize −0.0 → +0.0 BEFORE the ± key — struct
        // ordering uses Double.compare (−0.0 < +0.0), so negating a +0.0
        // cell to −0.0 would let a LATER +0.0 row beat an earlier −0.0
        // row, where pandas treats them as equal-value ties broken by
        // first occurrence
        val zn = if (std) when(nonNan === 0.0, lit(0.0)).otherwise(nonNan)
                 else nonNan
        val key = if (kind == "idxmax") -zn else zn
        min(when(nonNan.isNull, lit(null))
          .otherwise(struct(key.as("k"), rid.as("r")))).as(alias)
      }
      ctx.aggDfs += base.agg(parts.head, parts.tail: _*)
      return CVecC(aliases.map { case (lbl, alias) =>
        (lbl, col(alias).getField("r").cast("string")) }, Set(id))
    }
    if (kind == "skew" || kind == "kurt") {
      // pandas bias-corrected sample skewness / Fisher excess kurtosis
      // from CENTERED power sums (r9 — ADVICE: the raw Σv..Σv⁴
      // formulation cancels catastrophically when |mean| ≫ spread, where
      // pandas' centered moments stay accurate). Two passes:
      //   pass 1: n and the mean (Σv exact on integer-valued cells,
      //           one double division — engine-identical both sides);
      //   pass 2: d = v − mean; Σd², Σd³, Σd⁴ with each term rounded to
      //           9 dp and folded through DECIMAL (the prof_psi
      //           discipline: order-independent and engine-exact).
      //   skew = √(n(n−1))/(n−2) · m₃/m₂^1.5           (n ≥ 3)
      //   kurt = [ (n²−1)·m₄/m₂² − 3(n−1)² ] / ((n−2)(n−3))   (n ≥ 4)
      // m₂ ≤ 0 (constant column) → NaN on both sides by construction.
      val dec = org.apache.spark.sql.types.DecimalType(38, 12)
      val meanParts = cols.zip(aliases).flatMap { case ((_, c), (_, alias)) =>
        val v = when(isnan(c), lit(null)).otherwise(c)
        Seq(count(v).cast("double").as(s"${alias}_n"),
          (sum(v) / count(v).cast("double")).as(s"${alias}_m")) ++
          (if (skipna) Nil
           else Seq(coalesce(max((c.isNull || isnan(c)).cast("int")),
             lit(0)).as(s"${alias}_h")))
      }
      val means = base.agg(meanParts.head, meanParts.tail: _*)
      val withM = base.crossJoin(broadcast(means))
      val sumParts = cols.zip(aliases).flatMap { case ((_, c), (_, alias)) =>
        val v = when(isnan(c), lit(null)).otherwise(c)
        val d = v - col(s"${alias}_m")
        Seq(max(col(s"${alias}_n")).as(s"${alias}_n"),
          sum(round(d * d, 9).cast(dec)).as(s"${alias}_s2"),
          sum(round(d * d * d, 9).cast(dec)).as(s"${alias}_s3"),
          sum(round(d * d * d * d, 9).cast(dec)).as(s"${alias}_s4")) ++
          (if (skipna) Nil
           else Seq(max(col(s"${alias}_h")).as(s"${alias}_h")))
      }
      ctx.aggDfs += withM.agg(sumParts.head, sumParts.tail: _*)
      val outCols = aliases.map { case (lbl, alias) =>
        val n = col(s"${alias}_n")
        val m2 = col(s"${alias}_s2").cast("double") / n
        val m3 = col(s"${alias}_s3").cast("double") / n
        val m4 = col(s"${alias}_s4").cast("double") / n
        val cell =
          if (kind == "skew")
            when(n >= 3.0 && m2 > 0.0,
              sqrt(n * (n - lit(1.0))) / (n - lit(2.0)) *
                (m3 / pow(m2, lit(1.5)))).otherwise(litOf(Double.NaN))
          else
            when(n >= 4.0 && m2 > 0.0,
              ((n * n - lit(1.0)) * (m4 / (m2 * m2)) -
                lit(3.0) * (n - lit(1.0)) * (n - lit(1.0))) /
                ((n - lit(2.0)) * (n - lit(3.0)))).otherwise(litOf(Double.NaN))
        (lbl, if (skipna) cell
              else when(col(s"${alias}_h") > 0, litOf(Double.NaN))
                .otherwise(cell))
      }
      return CVecC(outCols, Set(id))
    }
    if (kind == "prod") {
      // product as three aggregates through the ln/sign/zero
      // decomposition (the cumprod discipline, FormulaCompiler cumprod):
      // 0 if any zero, else (−1)^negatives · e^Σln|v|; empty product = 1
      val parts = cols.zip(aliases).flatMap { case ((_, c), (_, alias)) =>
        val nonNan = when(isnan(c), lit(null)).otherwise(c)
        Seq(sum(when(nonNan =!= 0.0, log(abs(nonNan)))).as(s"${alias}_ln"),
          count(when(nonNan < 0.0, lit(1))).as(s"${alias}_ng"),
          count(when(nonNan === 0.0, lit(1))).as(s"${alias}_zr")) ++
          (if (skipna) Nil
           else Seq(count(when(c.isNull || isnan(c), lit(1)))
             .as(s"${alias}_nn")))
      }
      ctx.aggDfs += base.agg(parts.head, parts.tail: _*)
      val outCols = aliases.map { case (lbl, alias) =>
        val sign = lit(1.0) - lit(2.0) * (col(s"${alias}_ng") % 2).cast("double")
        val cell = when(col(s"${alias}_zr") > 0, lit(0.0))
          .otherwise(sign * exp(coalesce(col(s"${alias}_ln"), lit(0.0))))
        (lbl, if (skipna) cell
              else when(col(s"${alias}_nn") > 0, litOf(Double.NaN))
                .otherwise(cell))
      }
      return CVecC(outCols, Set(id))
    }
    if (kind.startsWith("quantileos:")) {
      // r11 session 4: the order-statistic interpolations
      // (lower/higher/nearest/midpoint) on the DISTRIBUTED reduction —
      // exact rank selection over grouped value counts, the
      // Cleaning.groupedPercentile plan shape reused at the formula
      // surface. Unpivot the cells to (column, value), count duplicates,
      // walk each column's cumulative count to the two bracketing order
      // statistics v_lo = sorted[⌊h⌋] / v_hi = sorted[⌈h⌉] at
      // h = q·(n−1), close with the pandas mode arithmetic (nearest is
      // IEEE rint — half to even, QuantileInterpSpec), and pivot the
      // per-column picks back to the 1-row reduction contract.
      // Scale: the only cardinality-scaled stage is the per-column
      // cumulative window over DISTINCT values (state follows value
      // cardinality, not row count — the groupedPercentile posture; its
      // KLL fallback precedent applies above that if ever needed).
      val Array(_, qs, is) = kind.split(":")
      val q = qs.toDouble; val interp = is.toInt
      val cells = cols.zipWithIndex.map { case ((_, c), i) =>
        struct(lit(i).as("cid"), c.as("v")) }
      val long = base
        .select(explode(array(cells: _*)).as("__cell"))
        .select(col("__cell.cid").as("__cid"), col("__cell.v").as("__v"))
        .where(col("__v").isNotNull && !isnan(col("__v")))
      // Above the opt-in distinct-count budget, hand the selection to the
      // KLL sketch (the groupedPercentile fallback, Cleaning.scala:108) —
      // fixed O(capacity·log n) state per column at ANY cardinality,
      // where the exact walk's window state follows the distinct-value
      // count. The sketch answers the rank selection at ceil(q·W)
      // (documented approximate sibling: one value, not the
      // lower/higher/midpoint bracket — at sketch-rank error the mode
      // distinction is noise). q = 0 stays exact (the sketch needs a
      // rank ≥ 1 — the r10 ADVICE class); the budget decision is one
      // approx_count_distinct scan, a 1-row collect bounded by contract.
      val conf = base.sparkSession.conf
      val budget = conf.getOption("graft.percentile.approxAboveDistinct")
        .map(_.toLong).filter(_ => q > 0.0)
      val sketched = budget.exists { b =>
        long.select(approx_count_distinct(col("__v"), 0.05))
          .head.getLong(0) > b
      }
      if (sketched) {
        val picked = long.groupBy(col("__cid")).agg(
          graft.functions.Sketches.kll_quantiles(
            col("__v"), 512, Seq(q)).as("__qs"))
          .select(col("__cid"), element_at(col("__qs"), 1).as("__q"))
        val oneRow = aliases.zipWithIndex.map { case ((_, alias), i) =>
          coalesce(max(when(col("__cid") === i, col("__q"))),
            lit(Double.NaN)).as(alias) }
        ctx.aggDfs += picked.agg(oneRow.head, oneRow.tail: _*)
        return CVecC(aliases.map { case (lbl, alias) =>
          (lbl, col(alias)) }, Set(id))
      }
      val counts = long.groupBy(col("__cid"), col("__v"))
        .agg(count(lit(1)).as("__c"))
      val W = org.apache.spark.sql.expressions.Window
      val cum = W.partitionBy(col("__cid")).orderBy(col("__v"))
        .rowsBetween(W.unboundedPreceding, 0)
      val ranked = counts.select(col("__cid"), col("__v"),
        sum(col("__c")).over(cum).as("__cum"),
        sum(col("__c")).over(W.partitionBy(col("__cid"))).as("__n"))
      val pos = lit(q) * (col("__n") - 1).cast("double")
      val sel = ranked.groupBy(col("__cid")).agg(
        min(when(col("__cum") >= floor(pos) + 1, col("__v"))).as("__vlo"),
        min(when(col("__cum") >= ceil(pos) + 1, col("__v"))).as("__vhi"),
        max(pos).as("__pos"))
      val frac = col("__pos") - floor(col("__pos"))
      val vlo = col("__vlo"); val vhi = col("__vhi")
      // mode arithmetic mirrors the driver-vector path cell for cell
      // (frac == 0 short-circuits to v_lo BEFORE any blend — pandas
      // returns the element itself, never (v+v)/2)
      val pick = interp match {
        case 1 => vlo
        case 2 => when(frac === 0.0, vlo).otherwise(vhi)
        case 3 => when(rint(col("__pos")) === floor(col("__pos")), vlo)
          .otherwise(vhi)
        case _ => when(frac === 0.0, vlo).otherwise((vlo + vhi) / 2.0)
      }
      val picked = sel.select(col("__cid"), pick.as("__q"))
      // tiny pivot: numCols rows → the 1-row aggDf contract; a column
      // with zero valid cells never appears → NaN (pandas)
      val oneRow = aliases.zipWithIndex.map { case ((_, alias), i) =>
        coalesce(max(when(col("__cid") === i, col("__q"))),
          lit(Double.NaN)).as(alias) }
      ctx.aggDfs += picked.agg(oneRow.head, oneRow.tail: _*)
      return CVecC(aliases.map { case (lbl, alias) =>
        (lbl, col(alias)) }, Set(id))
    }
    val aggExprs = cols.zip(aliases).map { case ((_, c), (_, alias)) =>
      if (ubp) {
        // exact BigDecimal sum (nulls skipped, empty → "0"); mean = sum /
        // non-null count at decimalPrecision digits — count 0 divides by
        // "0" and yields NULL, the ADP all-invalid marker
        val s = BigDec.sum(c)
        (if (kind == "mean")
           BigDec.div(s, count(c).cast(mode.cellType), mode.decimalPrecision)
         else s).as(alias)
      } else {
        val nonNan = if (std) when(isnan(c), lit(null)).otherwise(c) else c
        val nanIfEmpty: Column => Column =
          e => if (std) coalesce(e, lit(Double.NaN)) else e
        // skipna=False: invalid cells poison numeric reductions to NaN
        // inside the SAME aggregate pass; any treats the invalid cell as
        // truthy (pandas), all never flips on one
        lazy val hasInvalid =
          coalesce(max((c.isNull || isnan(c)).cast("int")), lit(0)) > 0
        def gate(e: Column): Column =
          if (skipna) e else when(hasInvalid, lit(Double.NaN)).otherwise(e)
        (kind match {
          case "sum" =>
            val s = sum(nonNan)
            gate(if (std) coalesce(s, lit(0.0)) else coalesce(s, litOf(0.0)))
          case "mean"   => gate(nanIfEmpty(avg(nonNan)))
          case "min"    => gate(nanIfEmpty(min(nonNan)))
          case "max"    => gate(nanIfEmpty(max(nonNan)))
          case "count"  => count(nonNan).cast("double")
          case "std"    => gate(nanIfEmpty(stddev_samp(nonNan)))
          case "var"    => gate(nanIfEmpty(var_samp(nonNan)))
          case "median" => gate(nanIfEmpty(percentile(nonNan, lit(0.5))))
          case q if q.startsWith("quantile:") =>
            nanIfEmpty(percentile(nonNan, lit(q.stripPrefix("quantile:").toDouble)))
          // r8 tail: nunique (dropna, like pandas), any/all (skipna
          // truthiness v != 0; empty/all-invalid: any → False, all → True
          // — pandas' vacuous defaults). any/all yield BOOLEAN columns,
          // composable with the E8 boolean operators
          case "nunique" => countDistinct(nonNan).cast("double")
          // standard error of the mean: ddof-1 std / √n (n = 1 → NaN via
          // stddev_samp's own NaN)
          case "sem" =>
            gate(nanIfEmpty(
              stddev_samp(nonNan) / sqrt(count(nonNan).cast("double"))))
          case "any" =>
            val a = coalesce(max(nonNan =!= lit(0)), lit(false))
            if (skipna) a else a || hasInvalid
          case "all"     => coalesce(min(nonNan =!= lit(0)), lit(true))
        }).as(alias)
      }
    }
    ctx.aggDfs += base.agg(aggExprs.head, aggExprs.tail: _*)
    CVecC(aliases.map { case (lbl, alias) => (lbl, col(alias)) }, Set(id))
  }
}
