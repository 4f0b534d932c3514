package graft.validate

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import graft.ast.FormulaAst
import graft.compile._
import graft.model._

/** All cells invalid → error, mirroring the reference's ValueError taxonomy
  * (coeff_maker.py:473-507). */
final class AllInvalidResultException(msg: String) extends RuntimeException(msg)

/** Whole-frame validity stats, computed in ONE aggregate pass (the reference
  * walks the frame up to 3× — SURVEY §4.2(d); we fold V1+V2+V3 into a single
  * partial-agg tree-reduce). */
final case class ValidationStats(totalCells: Long, invalidCount: Long,
                                 hasNan: Boolean, hasInf: Boolean) {
  def allInvalid: Boolean  = totalCells > 0 && invalidCount == totalCells
  def someInvalid: Boolean = invalidCount > 0
  def pctInvalid: Double   =
    if (totalCells == 0) 0.0 else 100.0 * invalidCount / totalCells
}

object ValidationStats {
  /** A frame with no cell column: nothing to count, nothing invalid. */
  val Empty: ValidationStats = ValidationStats(0L, 0L, hasNan = false, hasInf = false)
}

/** The aggregate columns of [[ResultValidator.aggregates]] (named `n`,
  * `inv`, `nan`, `inf`) over `width` cell columns, and how to read their
  * values back, by name, into [[ValidationStats]]. */
final case class StatAggregates(columns: Seq[Column], width: Int) {
  def read(value: String => Any): ValidationStats =
    ValidationStats(value("n").asInstanceOf[Long] * width, value("inv").asInstanceOf[Long],
      value("nan").asInstanceOf[Boolean], value("inf").asInstanceOf[Boolean])
}

/** Per-cell validity subsystem (SURVEY §2.4 V1–V9) — the reference's
  * signature feature, re-expressed as Spark aggregates + projections.
  *
  * Standard mode: invalid ⇔ NULL ∨ NaN ∨ ±Inf (the engine never emits NULL
  * in standard mode, but guards anyway). Decimal (ADP) mode: invalid ⇔ NULL
  * (decimal has no NaN/Inf; Spark yields NULL on /0 and overflow).
  */
final class ResultValidator(mode: NumericMode, fillInvalid: Boolean, verbose: Boolean) {

  private val std = !mode.adpEnabled

  /** Last emitted warning (reference: warnings.warn(UserWarning) at
    * coeff_maker.py:139) — exposed for tests and callers. */
  @volatile var lastWarning: Option[String] = None

  private def invalidCol(c: Column): Column =
    if (std) Ops.invalid(c) else c.isNull

  private def nanCol(c: Column): Column =
    if (std) !c.isNull && isnan(c) else lit(false)

  private def infCol(c: Column): Column =
    if (std) c === lit(Double.PositiveInfinity) || c === lit(Double.NegativeInfinity)
    else lit(false)

  /** The V1+V2+V3 aggregates over a frame's cell columns, or None when it
    * has none: one definition for every source of the stats, whether the
    * validator's own aggregate job ([[stats]]) or an observation riding
    * another action over the same frame (the calculator's staged write).
    * BOOLEAN columns (any/all reductions, r8) carry no invalid states and
    * are excluded — a bool cell is never NULL/NaN/±Inf by construction. */
  def aggregates(df: DataFrame, valueCols0: Seq[String]): Option[StatAggregates] = {
    val valueCols = valueCols0.filter(c => df.schema(c).dataType match {
      case org.apache.spark.sql.types.DoubleType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      // unbounded-ADP cells ARE strings — only exclude strings when they
      // can't be cells (std/decimal modes: idxmax/idxmin label columns)
      case org.apache.spark.sql.types.StringType =>
        mode.cellType == org.apache.spark.sql.types.StringType
      case _ => false // bool reductions carry no invalid states
    })
    if (valueCols.isEmpty) None else {
      val inv = valueCols.map(c => sum(invalidCol(col(c)).cast("long")))
        .reduce(_ + _)
      val nan = valueCols.map(c => max(nanCol(col(c)))).reduce(greatest(_, _))
      val inf = valueCols.map(c => max(infCol(col(c)))).reduce(greatest(_, _))
      Some(StatAggregates(Seq(count(lit(1)).as("n"), coalesce(inv, lit(0L)).as("inv"),
        coalesce(nan, lit(false)).as("nan"), coalesce(inf, lit(false)).as("inf")),
        valueCols.length))
    }
  }

  /** V1+V2+V3 in one pass: one job, one tree-aggregate, no per-check rescan. */
  def stats(df: DataFrame, valueCols: Seq[String]): ValidationStats =
    aggregates(df, valueCols).fold(ValidationStats.Empty) { a =>
      val row = df.agg(a.columns.head, a.columns.tail: _*).head()
      a.read(row.getAs[Any](_: String))
    }

  /** V4: replace NaN/±Inf/NULL with zero — one narrow projection (the
    * reference ADP path loops per cell, coeff_maker.py:262-313; ours stays
    * columnar and codegen'd in both modes). */
  def fillDf(df: DataFrame, rowId: String, valueCols: Seq[String]): DataFrame = {
    val zero = if (std) lit(0.0) else lit(0).cast(mode.cellType)
    df.select((col(rowId) +: valueCols.map(c =>
      when(invalidCol(col(c)), zero).otherwise(col(c)).as(c))): _*)
  }

  /** V8 orchestration: mask/stats → (fill | error | warn) → (result, count).
    * The count is `None` when it was never computed (the silent-fill fast
    * path below) — callers that report or threshold invalid counts must
    * force the stats pass (verbose mode) rather than read a sentinel.
    * Boolean frames, scalars and driver vectors follow the reference's
    * bypass/cheap paths (coeff_maker.py:183-185 [verified]).
    * `statsOf` is where a matrix or row result's stats come from: by
    * default [[stats]]' own aggregate job; a caller that runs an action
    * over the frame anyway may observe [[aggregates]] on it instead.
    */
  def validate(result: EvalResult, ast: FormulaAst, formulaStr: String,
               registry: Map[String, NamedData],
               statsOf: (DataFrame, Seq[String]) => ValidationStats = stats)
      : (EvalResult, Option[Long]) = {
    lastWarning = None
    result match {
      // Fast path: when filling silently, the fill projection is semantically
      // identical whether or not invalid cells exist (filling a valid frame is
      // the identity), so the eager stats job — a second full scan of the
      // input — is skipped entirely and the invalid count is None.
      // Warnings/errors only fire when NOT filling, and verbose diagnostics
      // force the stats pass, so behavior is otherwise unchanged.
      case MatrixResult(df, rowId, labels, false) if fillInvalid && !verbose =>
        (MatrixResult(fillDf(df, rowId, labels), rowId, labels, isBool = false), None)
      case RowResult(df, labels) if fillInvalid && !verbose =>
        (fillRow(df, labels), None)
      case MatrixResult(df, rowId, labels, false) =>
        val st = statsOf(df, labels)
        if (verbose) logDetails(st, formulaStr)
        finish(result, st, ast, formulaStr, registry,
               fill = MatrixResult(fillDf(df, rowId, labels), rowId, labels, isBool = false))
      case RowResult(df, labels) =>
        val st = statsOf(df, labels)
        if (verbose) logDetails(st, formulaStr)
        finish(result, st, ast, formulaStr, registry, fill = fillRow(df, labels))
      case VecResult(v) =>
        val invalid = v.values.count(x => x.isNaN || x.isInfinite).toLong
        val st = ValidationStats(v.length.toLong, invalid,
                                 v.values.exists(_.isNaN), v.values.exists(_.isInfinite))
        if (verbose) logDetails(st, formulaStr)
        finish(result, st, ast, formulaStr, registry,
               fill = VecResult(Vec(v.values.map(x =>
                 if (x.isNaN || x.isInfinite) 0.0 else x), v.labels)))
      case other => (other, Some(0L)) // scalars & boolean frames bypass validation
    }
  }

  private def fillRow(df: DataFrame, labels: Seq[String]): RowResult = {
    val zero = if (std) lit(0.0) else lit(0).cast(mode.cellType)
    RowResult(df.select(labels.map { c =>
      df.schema(c).dataType match {
        // only CELL-typed columns have invalid states to fill; bool
        // (any/all) and non-ubp string (idxmax/idxmin) reductions pass
        // through — the when(...) coercion would silently retype them.
        // Unbounded-ADP cells ARE strings and must keep the fill.
        case org.apache.spark.sql.types.DoubleType |
             _: org.apache.spark.sql.types.DecimalType =>
          when(invalidCol(col(c)), zero).otherwise(col(c)).as(c)
        case org.apache.spark.sql.types.StringType
            if mode.cellType == org.apache.spark.sql.types.StringType =>
          when(invalidCol(col(c)), zero).otherwise(col(c)).as(c)
        case _ => col(c).as(c)
      }
    }: _*), labels)
  }

  private def finish(result: EvalResult, st: ValidationStats, ast: FormulaAst,
                     formulaStr: String, registry: Map[String, NamedData],
                     fill: => EvalResult): (EvalResult, Option[Long]) = {
    if (!st.someInvalid) return (result, Some(0L))
    if (fillInvalid) return (fill, Some(st.invalidCount))
    // V9: Series/DataFrame mixture check — metadata lookup on the kept AST,
    // no re-parse (the reference re-parses, coeff_maker.py:446-471)
    val vars = ast.freeVariables
    val hasVec = vars.exists(v => registry.get(v).exists(_.isInstanceOf[Vec]))
    val hasMat = vars.exists(v => registry.get(v).exists(_.isInstanceOf[Matrix]))
    val mixture = hasVec && hasMat
    if (st.allInvalid) throw new AllInvalidResultException(allInvalidMsg(formulaStr, mixture))
    val w = warningMsg(st, formulaStr, mixture)
    lastWarning = Some(w)
    System.err.println(s"[graft] WARNING: $w")
    (result, Some(st.invalidCount))
  }

  // ---- message taxonomy (V5/V6, coeff_maker.py:473-569) -------------------

  private def allInvalidMsg(formula: String, mixture: Boolean): String =
    if (mixture)
      s"Formula '$formula' produced only invalid values. The formula mixes " +
        "Series (vectors) and DataFrames (matrices); this typically means " +
        "misaligned indices between the operands. Check that vector lengths " +
        "match matrix column counts."
    else
      s"Formula '$formula' produced only invalid values. This typically " +
        "indicates division by zero or completely misaligned data. Check " +
        "the input data for zeros in denominators and for disjoint row ids."

  private def warningMsg(st: ValidationStats, formula: String, mixture: Boolean): String = {
    val causes = Seq(
      if (st.hasNan) Some("NaN values (0/0, missing cells, or misaligned labels)") else None,
      if (st.hasInf) Some("infinite values (division by zero)") else None,
    ).flatten.mkString(" and ")
    val hint = if (mixture)
      " The formula mixes vectors and matrices; verify positional alignment." else ""
    f"Formula '$formula' produced ${st.invalidCount} invalid values out of " +
      f"${st.totalCells} cells (${st.pctInvalid}%.2f%%), caused by $causes.$hint"
  }

  private def logDetails(st: ValidationStats, formula: String): Unit =
    if (st.someInvalid)
      System.err.println(
        f"[graft] formula '$formula': ${st.invalidCount}/${st.totalCells} invalid " +
          f"(${st.pctInvalid}%.2f%%), hasNaN=${st.hasNan}, hasInf=${st.hasInf}")
}
