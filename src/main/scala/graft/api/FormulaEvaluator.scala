package graft.api

import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.{Failure, Try}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.ast.{FormulaAst, FormulaParser}
import graft.compile._
import graft.model._
import graft.validate.{ResultValidator, ValidationStats}

/** The engine's single-query facade — the Spark-native counterpart of the
  * reference's `FormulaEvaluator` (coeff_maker.py:572-840).
  *
  * @param dataDict        named matrices/vectors (the flat registry, §1.1)
  * @param adpEnabled      decimal high-precision mode (§1.2; DecimalType(38,s))
  * @param decimalPrecision significant digits for ADP mode (must be > 0 — F5)
  * @param fillInvalid     replace NaN/±Inf/NULL results with 0 (V4)
  * @param verbose         log per-formula validity diagnostics (V7)
  * @param unboundedExponent with adpEnabled: BigDecimal string cells with an
  *                        unbounded exponent (the reference's mpf
  *                        1e-30/1e30 regime, SURVEY §7.4(5)); `+ - *` exact,
  *                        `/` at decimalPrecision significant digits
  */
final class FormulaEvaluator(
    dataDict: Map[String, NamedData],
    val adpEnabled: Boolean = false,
    val decimalPrecision: Int = 35,
    val fillInvalid: Boolean = false,
    val verbose: Boolean = false,
    val unboundedExponent: Boolean = false) {

  val mode: NumericMode = NumericMode(adpEnabled, decimalPrecision, unboundedExponent)
  val validator = new ResultValidator(mode, fillInvalid, verbose)

  /** Construction-time ingest cast (S1/S2, coeff_maker.py:633-671): every
    * matrix cell is cast to the session cell type up front. Matrices sharing
    * a backing DataFrame keep sharing one (so the join-free compile fast path
    * survives the cast). NaN→NULL under decimal cast preserves invalidity.
    */
  val registry: Map[String, NamedData] = {
    val mats = dataDict.toSeq.collect { case (n, m: Matrix) => (n, m) }
    // group by REFERENCE identity of the backing DataFrame (identityHashCode
    // can collide across distinct frames; Dataset keeps default object
    // equality, but be explicit — same idiom as FormulaCompiler.buildBase)
    val groups = scala.collection.mutable.LinkedHashMap[
      DataFrame, scala.collection.mutable.ArrayBuffer[(String, Matrix)]]()
    mats.foreach { case (n, m) =>
      val key = groups.keys.find(_ eq m.base).getOrElse(m.base)
      groups.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer()) += (n -> m)
    }
    val recast: Map[String, Matrix] = groups.flatMap { case (base, group) =>
      val rowId = group.head._2.rowId
      val phys = group.flatMap(_._2.cols.map(_._2)).distinct
      val newBase = base.select(
        (col(rowId) +: phys.map(p => Ingest.castCell(base, p, mode).as(p))).toSeq: _*)
      group.map { case (n, m) => (n, Matrix(newBase, m.rowId, m.cols)) }
    }.toMap
    dataDict.map {
      case (n, _: Matrix) => (n, recast(n))
      case (n, v: Vec)    => (n, v)
    }
  }

  private val compiler = new FormulaCompiler(registry, mode)

  /** F1: formula string → AST (the reference's sympify step, without the
    * algebraic-canonicalization side effect — Catalyst does constant folding
    * on the Column tree instead). */
  def parseFormula(formula: String): FormulaAst = FormulaParser.parse(formula)

  /** F2: free variables of a parsed formula. */
  def extractVariables(ast: FormulaAst): Seq[String] = ast.freeVariables.toSeq.sorted

  /** Decorate compile-time type errors with the formula, the same message
    * family as the reference's wrapped TypeError ("Type error in formula
    * '<f>': <cause>", coeff_maker.py:789-791). */
  private def decorated[T](formula: String)(body: => T): T =
    try body catch {
      case e: FormulaTypeException =>
        throw new FormulaTypeException(
          s"Type error in formula '$formula': ${e.getMessage}")
    }

  /** Compile and evaluate WITHOUT validation (X1 alone) — for callers that
    * want the raw result plus separate stats (e.g. the V2/V3 stats query). */
  def evaluateRaw(formula: String): EvalResult =
    decorated(formula)(compiler.compile(parseFormula(formula)))

  /** X2: evaluate a formula end-to-end: parse → compile to one Spark plan →
    * validate (single-pass stats) → optional fill. Returns the result and
    * leaves warnings on `validator.lastWarning`. */
  def evaluateFormula(formula: String): EvalResult = evaluate(formula, validator.stats)

  /** [[evaluateFormula]] with the validator's stats taken from `statsOf`
    * (see [[ResultValidator.validate]]). */
  private[api] def evaluate(formula: String,
                            statsOf: (DataFrame, Seq[String]) => ValidationStats)
      : EvalResult = {
    val ast = parseFormula(formula)
    if (verbose && ast.containsOp("/"))
      System.err.println(
        s"[graft] formula '$formula' contains division; division by zero " +
          "produces invalid (Inf/NaN) cells that the validator will flag.")
    val raw = decorated(formula)(compiler.compile(ast))
    val (validated, _) = validator.validate(raw, ast, formula, registry, statsOf)
    validated
  }

  /** Convenience: evaluate and demand a DataFrame-shaped result. */
  def evaluateToDf(formula: String): DataFrame =
    FormulaEvaluator.asDataFrame(evaluateFormula(formula),
      org.apache.spark.sql.SparkSession.active)
}

object FormulaEvaluator {
  /** A result as a DataFrame: matrices and row reductions as they are, a
    * driver vector as one row over its labels, a scalar as one `value`
    * row. */
  private[api] def asDataFrame(result: EvalResult,
                               spark: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    def oneRow(labels: Seq[String], values: Seq[Any]): DataFrame =
      spark.createDataFrame(java.util.List.of(Row.fromSeq(values)),
        StructType(labels.map(StructField(_, DoubleType))))
    result match {
      case MatrixResult(df, _, _, _) => df
      case RowResult(df, _)          => df
      case VecResult(v)              => oneRow(v.labels, v.values)
      case ScalarResult(x)           => oneRow(Seq("value"), Seq(x))
    }
  }

  /** The frame of a matrix or row result. */
  private[api] def frameOf(result: EvalResult): Option[DataFrame] = result match {
    case MatrixResult(df, _, _, _) => Some(df)
    case RowResult(df, _)          => Some(df)
    case _                         => None
  }
}

/** Batch driver over a formula table — the counterpart of the reference's
  * `CoefficientCalculator` (coeff_maker.py:843-1016).
  *
  * Per reference semantics: rows with empty formulas are skipped (F4), rows
  * referencing unknown variables are skipped with a notice (F3), and results
  * are NOT fed back into the registry (no formula chaining — S4,
  * coeff_maker.py:1012).
  *
  * `chainResults = true` is an opt-in EXTENSION beyond the reference
  * (SURVEY §2.1 S4): each computed matrix/vector result is registered under
  * its result name for use by LATER formulas in the same table (shadowing
  * an input of the same name). Spark keeps this cheap: chaining composes
  * lazy plans — no intermediate result is materialized unless a later
  * formula forces it.
  *
  * `parallelism > 1` evaluates independent formulas concurrently on a
  * fixed-size driver pool — Spark's scheduler interleaves the jobs across
  * the cluster (SURVEY §2.6 X3's noted follow-up). The DEFAULT is 4: a
  * formula batch is embarrassingly parallel driver-side work whose per-job
  * scheduling constant dominates at interactive scale, and concurrent jobs
  * amortize it (x6_par measures ~0.13 s/formula vs ~0.4 s sequential).
  * Ignored when chaining (later formulas depend on earlier results). Each
  * task gets its own evaluator so validator state isn't shared across
  * threads.
  *
  * Each formula is computed once when its result is sunk. Where the
  * validator needs its stats and fills nothing (`fillInvalid = false`),
  * the stats pass IS the parquet write of the raw result to a staging
  * directory under `spark.sql.warehouse.dir` (`_graft_staging/<uuid>/…`),
  * the stats observed on that same job; [[writeResults]] then commits the
  * staged copy by a rename instead of computing the formula a second time.
  * The trade: every validated result is written at compute time, also
  * one the caller never passes to [[writeResults]].
  */
final class CoefficientCalculator(
    dataDict: Map[String, NamedData],
    coefficientMap: DataFrame,
    resultNameCol: String = "result_name",
    formulaNameCol: String = "formula",
    adpEnabled: Boolean = true, // reference default (coeff_maker.py:893)
    decimalPrecision: Int = 35,
    fillInvalid: Boolean = false,
    verbose: Boolean = false,
    chainResults: Boolean = false,
    parallelism: Int = 4,
    unboundedExponent: Boolean = false) {

  // F6: mandatory-column validation (KeyError analogue, coeff_maker.py:938-954)
  locally {
    val have = coefficientMap.columns.toSet
    val missing = Seq(resultNameCol, formulaNameCol).filterNot(have)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"coefficient map is missing mandatory column(s): ${missing.mkString(", ")}; " +
          s"present: ${have.mkString(", ")}")
  }

  val evaluator = new FormulaEvaluator(dataDict, adpEnabled, decimalPrecision,
                                       fillInvalid, verbose, unboundedExponent)

  private def spark = coefficientMap.sparkSession
  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  /** The directory this calculator's staging root is made under:
    * `<spark.sql.warehouse.dir>/_graft_staging`. */
  private[api] var stagingParent: Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), "_graft_staging")

  /** Where this calculator stages results: `<stagingParent>/<uuid>`, made
    * on first use and deleted when the JVM closes its FileSystems. */
  private[api] lazy val stagingRoot: Path = {
    val root = new Path(stagingParent, java.util.UUID.randomUUID().toString)
    val fs = root.getFileSystem(hadoopConf)
    fs.mkdirs(root)
    fs.deleteOnExit(root)
    root
  }

  /** Staged copies not yet committed, by the result frame they hold
    * (compared by reference). */
  private val staged = new java.util.IdentityHashMap[DataFrame, Path]()
  private val stageSeq = new java.util.concurrent.atomic.AtomicLong()
  /** How long a staged write waits for its observed stats before it runs
    * the validator's own stats job instead. */
  private val observationWait = 30.seconds

  /** Deletes a staged copy, at best: a cleanup that fails never replaces
    * the result or the error it cleans up after. */
  private def delete(dir: Path): Unit = Try(dir.getFileSystem(hadoopConf).delete(dir, true))

  /** Deletes every staged copy not yet committed. */
  private def discardStaged(): Unit = staged.synchronized {
    staged.values.forEach(delete(_))
    staged.clear()
  }

  /** `f` over `items` in order: on a pool of up to `parallelism` threads
    * when there are two or more, where every call finishes before the
    * first failure in item order is rethrown. */
  private def onPool[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (parallelism <= 1 || items.size <= 1) items.map(f) else {
      val pool = Executors.newFixedThreadPool(math.min(parallelism, items.size))
      try {
        val futures = items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
        futures.map(fu => Try(fu.get()).recoverWith {
          case e: ExecutionException => Failure(e.getCause)
        }).map(_.get)
      } finally pool.shutdown()
    }

  /** S4 sink: write every computed coefficient to `outDir/<name>` parquet
    * (the reference returns an in-memory dict and writes nothing; at scale
    * the results are tables, so persisting is the natural sink). A result
    * this calculator staged is committed by renaming its copy into place
    * (replacing what is there, then refreshing cached reads of the path
    * as Spark's own overwrite does); any other result, a second write of
    * one, or a target on another FileSystem is written from its plan.
    * Several results are written on the `parallelism` pool: every write
    * runs, then the first failure in map order is rethrown. */
  def writeResults(results: scala.collection.Map[String, EvalResult],
                   outDir: String): Unit =
    onPool(results.toSeq) { case (name, result) =>
      val target = s"$outDir/$name"
      val copy = FormulaEvaluator.frameOf(result)
        .flatMap(df => staged.synchronized(Option(staged.remove(df))))
      if (!copy.exists(c => Try(commit(c, new Path(target))).getOrElse(false))) {
        copy.foreach(delete)
        FormulaEvaluator.asDataFrame(result, spark)
          .write.mode("overwrite").parquet(target)
      }
    }

  /** Moves a staged copy to `target` in place of what is there; false,
    * with nothing moved, when the two are on different FileSystems or the
    * rename fails. */
  private def commit(copy: Path, target: Path): Boolean = {
    val fs = target.getFileSystem(hadoopConf)
    fs.getUri == copy.getFileSystem(hadoopConf).getUri && {
      fs.delete(target, true)
      fs.mkdirs(target.getParent)
      val moved = Try(fs.rename(copy, target)).getOrElse(false)
      if (moved) spark.catalog.refreshByPath(target.toString)
      moved
    }
  }

  /** Evaluates `formula` with its stats pass, if it has one, run as the
    * parquet write of the raw result to a fresh staging directory, the
    * stats observed on that job. The copy is kept for [[writeResults]]
    * only when the validated result is the very frame staged; it is
    * deleted when validation raises. A fill-mode calculator stages
    * nothing, since a fill replaces the staged frame of every result that
    * has invalid cells.
    * Any staging failure (the staging root, the write, the observation)
    * leaves the stats to the validator's own job, which raises as it
    * always did. */
  private def evaluateStaged(ev: FormulaEvaluator, formula: String): EvalResult = {
    if (fillInvalid) return ev.evaluateFormula(formula)
    var copy = Option.empty[(DataFrame, Path)]
    def stage(df: DataFrame, cols: Seq[String]): ValidationStats =
      ev.validator.aggregates(df, cols).fold(ValidationStats.Empty) { a =>
        var dir = Option.empty[Path]
        val obs = new Observation()
        val observed = Try {
          dir = Some(new Path(stagingRoot, stageSeq.incrementAndGet().toString))
          df.observe(obs, a.columns.head, a.columns.tail: _*).write.parquet(dir.get.toString)
          copy = dir.map(df -> _)
          // the observation completes on the listener bus, after the write
          Await.ready(obs.future, observationWait)
          obs.get
        }
        if (copy.isEmpty) dir.foreach(delete)
        observed.fold(_ => ev.validator.stats(df, cols), a.read)
      }
    val result = try ev.evaluate(formula, stage) catch {
      case e: Throwable => copy.foreach(c => delete(c._2)); throw e
    }
    copy.foreach { case (df, dir) =>
      if (FormulaEvaluator.frameOf(result).exists(_ eq df))
        staged.synchronized(staged.put(df, dir))
      else delete(dir)
    }
    result
  }

  /** F3/F4: whether a table row runs against `registry` — an empty
    * formula or unknown variables skip it with the reference's notice. */
  private def runnable(name: String, formula: String,
                       registry: Map[String, NamedData]): Boolean =
    if (formula.trim.isEmpty) {
      System.err.println(s"[graft] skipping '$name': empty formula")
      false
    } else {
      val missing = FormulaParser.parse(formula).freeVariables
        .filterNot(registry.contains)
      if (missing.nonEmpty) System.err.println(
        s"[graft] skipping '$name': missing variable(s) ${missing.mkString(", ")}")
      missing.isEmpty
    }

  /** X3: the batch loop. The formula table is tiny and driver-resident; each
    * formula compiles to an independent Spark job. Staged copies of the
    * previous batch that were never written are deleted first, and those of
    * a batch that fails with it. */
  def computeCoefficients(): scala.collection.immutable.ListMap[String, EvalResult] = {
    discardStaged()
    try batch() catch { case e: Throwable => discardStaged(); throw e }
  }

  private def batch(): scala.collection.immutable.ListMap[String, EvalResult] = {
    val rows = coefficientMap
      .select(col(resultNameCol).cast("string"), col(formulaNameCol).cast("string"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("")))
    if (!chainResults && parallelism > 1) return computeConcurrent(rows)
    var out = scala.collection.immutable.ListMap.empty[String, EvalResult]
    var ev = evaluator
    var dict = dataDict
    rows.foreach { case (name, formula) =>
      if (runnable(name, formula, ev.registry)) {
        val result = evaluateStaged(ev, formula)
        out = out + (name -> result)
        System.err.println(s"[graft] computed coefficient '$name' = $formula")
        if (chainResults) asNamedData(result).foreach { nd =>
          dict = dict + (name -> nd)
          ev = new FormulaEvaluator(dict, adpEnabled, decimalPrecision,
            fillInvalid, verbose, unboundedExponent)
        }
      }
    }
    out
  }

  /** Independent formulas on a fixed-size pool; results keep table order.
    * Failures propagate exactly like the sequential loop (first error by
    * table order wins). */
  private def computeConcurrent(rows: Array[(String, String)])
      : scala.collection.immutable.ListMap[String, EvalResult] = {
    val todo = rows.toSeq.filter { case (name, formula) =>
      runnable(name, formula, evaluator.registry)
    }
    val results = onPool(todo) { case (_, formula) =>
      evaluateStaged(new FormulaEvaluator(dataDict, adpEnabled, decimalPrecision,
        fillInvalid, verbose, unboundedExponent), formula)
    }
    todo.zip(results).foldLeft(scala.collection.immutable.ListMap.empty[String, EvalResult]) {
      case (out, ((name, formula), result)) =>
        System.err.println(s"[graft] computed coefficient '$name' = $formula")
        out + (name -> result)
    }
  }

  /** Chaining wrap: matrix results keep their lazy plan; 1-row reductions
    * and driver vectors become Vecs; scalars can't be named data (skipped,
    * like the reference skips nothing it can't represent). */
  private def asNamedData(result: EvalResult): Option[NamedData] = result match {
    case MatrixResult(df, rowId, labels, _) =>
      Some(Matrix(df, rowId, labels.map(l => (l, l))))
    case RowResult(df, labels) =>
      val row = df.head()
      Some(Vec(labels.map(l =>
        Option(row.get(row.fieldIndex(l))).fold(Double.NaN)(v =>
          v.asInstanceOf[Number].doubleValue())).toIndexedSeq,
        labels.toIndexedSeq))
    case VecResult(v) => Some(v)
    case ScalarResult(_) => None
  }
}
