package perfbench

import java.io.{File, OutputStream, PrintStream}
import java.util.concurrent.{Callable, Executors}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.{QueryCatalog, SessionTuning, SparkEntry}
import graft.api.{CoefficientCalculator, FormulaEvaluator}
import graft.ast.FormulaParser
import graft.compile.{EvalResult, MatrixResult, RowResult}
import graft.model.{Matrix, NamedData}
import org.apache.spark.sql.functions.{col, lit}
import Runner.SelfLayers

/** Captures the engine's `[graft]` stderr lines (warnings, skips) while
  * passing every byte through to the real stderr. */
final class StderrTap(out: PrintStream) extends OutputStream {
  private val line = new java.io.ByteArrayOutputStream()
  private val captured = ArrayBuffer[String]()
  override def write(b: Int): Unit = synchronized {
    out.write(b)
    if (b == '\n') {
      val s = line.toString("UTF-8")
      if (s.startsWith("[graft]")) captured += s
      line.reset()
    } else line.write(b)
  }
  def drain(): Seq[String] = synchronized {
    val r = captured.toList
    captured.clear()
    r
  }
}

/** The outcome of one item in one pass. `fullS` is the full-result time,
  * `countS` the traced `count()` time (NaN when not measured). */
final case class ItemRec(item: Item, fullS: Double, countS: Double, ok: Boolean,
                         digest: String, note: String)

/** One pass: its wall, items, executor task-seconds, per-layer figures
  * (traced passes) and the validator's invalid count per warned formula. */
final case class PassRec(traced: Boolean, wallS: Double, items: Seq[ItemRec],
                         taskS: Double, layer: Map[String, Double],
                         invalid: Map[String, Long])

/** What a workload's set-up leaves for its passes. */
final case class Prepared(registry: Map[String, NamedData],
                          calc: Option[CoefficientCalculator],
                          ev: Option[FormulaEvaluator],
                          queries: Map[String, (SparkSession, String) => DataFrame])

object Runner {
  /** Self-time groups reported per layer: layer → span names. `harness`
    * is the benchmark's own per-item and per-pass glue. */
  val SelfLayers: Seq[(String, Seq[String])] = Seq(
    "ast" -> Seq("ast"), "model" -> Seq("model"), "compile" -> Seq("compile"),
    "validate" -> Seq("validate"), "api" -> Seq("api.batch", "api.eval"),
    "operators" -> Seq("operators"), "exec" -> Seq("exec"), "sink" -> Seq("sink"),
    "harness" -> Seq("item", "pass"))
}

final class Runner(workload: String, seed: Long, data: String, work: String,
                   goldens: Map[String, (String, Long)], tap: StderrTap,
                   itemsOverride: Option[Seq[Item]] = None) {
  private val cpus = Runtime.getRuntime.availableProcessors
  private val adp = workload == "coeff_adp"
  val items: Seq[Item] = itemsOverride.getOrElse(Workloads.items(workload, seed))
  private val skipRows = if (adp) Workloads.SkipRows else Nil

  def newSession(): SparkSession = {
    val s = SessionTuning.tuned(SparkSession.builder()
        .master(s"local[$cpus]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Ingests the shared inputs and builds the calculator or evaluator.
    * Returns the prepared inputs and the (ingest, construction) seconds. */
  def setup(spark: SparkSession): (Prepared, Double, Double) = {
    val t0 = System.nanoTime()
    val (registry, queries) = workload match {
      case "pipeline_ops" =>
        QueryCatalog.docs(spark, data).count()
        QueryCatalog.embs(spark, data).count()
        (Map.empty[String, NamedData], SparkEntry.queries)
      case _ =>
        val wide = QueryCatalog.wide(spark, data)
        wide.count()
        val labels = QueryCatalog.J.map(j => s"c$j")
        val bases = if (workload != "scan_churn") Nil
          else Workloads.churnBases(items).map { k =>
            s"b$k" -> Matrix(wide.select(col("__row_id__") +: QueryCatalog.J.map(j =>
              (col(s"q$j") + lit(k) * col(s"e$j")).as(s"c$j")): _*),
              "__row_id__", labels.map(l => (l, l)))
          }
        (QueryCatalog.registry(spark, data) ++ bases,
          Map.empty[String, (SparkSession, String) => DataFrame])
    }
    val ingestS = secs(t0)
    val t1 = System.nanoTime()
    val prep = workload match {
      case "coeff_adp" | "scan_churn" =>
        val rows = items.map(i => Row(i.name, i.formula)) ++
          skipRows.map { case (n, f) => Row(n, f) }
        val table = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          StructType(Seq(StructField("result_name", StringType),
            StructField("formula", StringType))))
        Prepared(registry, Some(new CoefficientCalculator(registry, table,
          adpEnabled = adp, fillInvalid = !adp)), None, queries)
      case "scan_shared" =>
        Prepared(registry, None, Some(new FormulaEvaluator(registry, fillInvalid = true)),
          queries)
      case _ => Prepared(registry, None, None, queries)
    }
    (prep, ingestS, secs(t1))
  }

  private def resultDf(r: EvalResult): DataFrame = r match {
    case MatrixResult(df, _, _, _) => df
    case RowResult(df, _) => df
    case other => throw new IllegalStateException(s"unexpected driver-side result $other")
  }

  /** The calculator's concurrent batch, replayed call by call through the
    * public API so each layer gets a span: parse and the skip checks on the
    * calling thread, then per formula on a pool of the calculator's default
    * size: evaluator construction, compile (`evaluateRaw`) and validation. */
  private def tracedBatch(tr: Tracer, p: Prepared, counts: Counts): ListMap[String, EvalResult] = {
    val todo = (items.map(i => (i.name, i.formula)) ++ skipRows).flatMap { case (name, f) =>
      tr.span("ast", name) {
        if (f.trim.isEmpty) { counts.skipped += 1; counts.skippedNames += name; None }
        else {
          val ast = FormulaParser.parse(f)
          if (ast.freeVariables.exists(v => !p.registry.contains(v))) {
            counts.skipped += 1; counts.skippedNames += name; None
          } else Some((name, f, ast))
        }
      }
    }
    val pool = Executors.newFixedThreadPool(4)
    val parent = tr.current
    try {
      val futures = todo.map { case (name, f, ast) =>
        name -> pool.submit(new Callable[EvalResult] {
          def call(): EvalResult = tr.adopt(parent) {
            tr.span("api.eval", name) {
              val ev = tr.span("model")(new FormulaEvaluator(p.registry,
                adpEnabled = adp, fillInvalid = !adp))
              val raw = tr.span("compile")(ev.evaluateRaw(f))
              val (res, inv) = tr.span("validate")(
                ev.validator.validate(raw, ast, f, ev.registry))
              counts.synchronized { counts.invalidCells += inv.getOrElse(0L) }
              res
            }
          }
        })
      }
      ListMap(futures.map { case (n, fu) =>
        n -> (try fu.get() catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        })
      }: _*)
    } finally pool.shutdown()
  }

  /** What the traced replay of a batch saw. */
  final class Counts {
    var skipped = 0L
    val skippedNames = ArrayBuffer[String]()
    var invalidCells = 0L
  }

  private val warnRe = """\[graft\] WARNING: Formula '(.*)' produced (\d+) invalid values.*""".r
  private val skipRe = """\[graft\] skipping '([^']*)'.*""".r

  /** One pass over every item, each checked against its golden digest.
    * Traced passes add spans, and a `count()` per item outside the pass
    * wall. */
  def pass(spark: SparkSession, p: Prepared, tr: Tracer, exec: ExecListener,
           plans: PlanListener, idx: Int, traced: Boolean): PassRec = {
    tap.drain()
    tr.enabled = traced
    val mark = tr.mark
    val counts = new Counts
    val outDir = s"$work/out/pass$idx"
    PerfbenchBridge.drain(spark.sparkContext)
    val e0 = exec.snapshot(); val p0 = plans.snapshot()
    val fb0 = graft.plans.CodegenFallbackCounter.count.get
    val rdd0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val recs = ArrayBuffer[ItemRec]()
    val dfs = ArrayBuffer[(Item, DataFrame)]()
    def timed(item: Item)(body: => (String, DataFrame)): Unit = {
      val s = System.nanoTime()
      try {
        val (digest, df) = tr.span("item", item.key)(body)
        recs += ItemRec(item, secs(s), Double.NaN, ok = true, digest, "")
        dfs += ((item, df))
      } catch {
        case e: Exception =>
          recs += ItemRec(item, secs(s), Double.NaN, ok = false, "", s"error: $e")
      }
    }
    tr.span("pass") {
      workload match {
        case "coeff_adp" | "scan_churn" =>
          val calc = p.calc.get
          val results: Option[ListMap[String, EvalResult]] =
            try Some(if (traced) tr.span("api.batch")(tracedBatch(tr, p, counts))
                     else calc.computeCoefficients())
            catch { case e: Exception =>
              items.foreach(i => recs += ItemRec(i, 0.0, Double.NaN, ok = false, "",
                s"batch error: $e"))
              None
            }
          results.foreach { res =>
            items.foreach { item =>
              timed(item) {
                val r = res.getOrElse(item.name,
                  throw new IllegalStateException(s"no result for ${item.name}"))
                val df = resultDf(r)
                if (adp) {
                  tr.span("sink")(calc.writeResults(ListMap(item.name -> r), outDir))
                  ("", df)
                } else (tr.span("exec")(Digest.materialize(df)), df)
              }
            }
          }
        case "scan_shared" =>
          val ev = p.ev.get
          items.foreach { item =>
            timed(item) {
              val r = if (!traced) ev.evaluateFormula(item.formula) else tr.span("api.eval") {
                val ast = tr.span("ast")(ev.parseFormula(item.formula))
                val raw = tr.span("compile")(ev.evaluateRaw(item.formula))
                val (res, inv) = tr.span("validate")(
                  ev.validator.validate(raw, ast, item.formula, ev.registry))
                counts.invalidCells += inv.getOrElse(0L)
                res
              }
              val df = resultDf(r)
              (tr.span("exec")(Digest.materialize(df)), df)
            }
          }
        case "pipeline_ops" =>
          items.foreach { item =>
            timed(item) {
              val df = tr.span("operators")(p.queries(item.formula)(spark, data))
              (tr.span("exec")(Digest.materialize(df)), df)
            }
          }
      }
    }
    val wallS = secs(t0)
    val wall1 = System.currentTimeMillis()
    PerfbenchBridge.drain(spark.sparkContext)
    val e1 = exec.snapshot(); val p1 = plans.snapshot()
    val rdd1 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val fb1 = graft.plans.CodegenFallbackCounter.count.get
    val lines = tap.drain()
    tr.enabled = false

    // written results are checked from what the sink wrote
    val checked = if (!adp) recs.toSeq else {
      val written = recs.filter(_.ok)
      try {
        val ds = Digest.ofAll(written.map(r => spark.read.parquet(s"$outDir/${r.item.name}")).toSeq)
        val byKey = written.map(_.item.key).zip(ds).toMap
        recs.toSeq.map(r => byKey.get(r.item.key).fold(r)(d => r.copy(digest = d)))
      } catch { case e: Exception =>
        recs.toSeq.map(r => r.copy(ok = false, note = s"readback error: $e"))
      }
    }
    val outFiles = Option(new File(outDir).listFiles).toSeq.flatten
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .filter(_.getName.startsWith("part-"))
    val warnings = lines.collect { case warnRe(f, n) => f -> n.toLong }.toMap
    val skippedNames = if (traced) counts.skippedNames.toSet
      else lines.collect { case skipRe(n) => n }.toSet
    val verified = checked.map { r =>
      if (!r.ok) r else goldens.get(r.item.key) match {
        case None => r.copy(ok = false, note = "no golden")
        case Some((g, _)) if g != r.digest => r.copy(ok = false, note = s"digest ${r.digest} != $g")
        case Some((_, inv)) if adp && warnings.getOrElse(r.item.formula, 0L) != inv =>
          r.copy(ok = false, note = s"validator: ${warnings.get(r.item.formula)} invalid, golden $inv")
        case _ => r
      }
    } ++ skipRows.map { case (n, _) =>
      ItemRec(Item(s"skip|$n", n, "skip", ""), Double.NaN, Double.NaN,
        skippedNames(n), "", if (skippedNames(n)) "" else "row not skipped")
    }
    // traced passes also time count() per item, outside the pass wall
    val withCount = if (!traced) verified else {
      val countS = dfs.map { case (item, df) =>
        val s = System.nanoTime()
        try { df.count(); item.key -> secs(s) }
        catch { case _: Exception => item.key -> Double.NaN }
      }.toMap
      verified.map(r => r.copy(countS = countS.getOrElse(r.item.key, Double.NaN)))
    }
    val layer = if (!traced) Map.empty[String, Double] else {
      val (n, total, self) = tr.times(mark)
      def d(a: Map[String, Double], b: Map[String, Double], k: String) =
        b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0)
      Map(
        "ast.parse_s" -> total.getOrElse("ast", 0.0),
        "compile.s" -> total.getOrElse("compile", 0.0),
        "compile.calls" -> n.getOrElse("compile", 0).toDouble,
        "compile.eager_jobs" -> d(e0, e1, "jobs_in.compile"),
        "catalyst.analysis_s" -> d(p0, p1, "analysis_s"),
        "catalyst.optimization_s" -> d(p0, p1, "optimization_s"),
        "catalyst.planning_s" -> d(p0, p1, "planning_s"),
        "catalyst.exchanges" -> d(p0, p1, "exchanges"),
        "plans.codegen_fallbacks" -> (fb1 - fb0).toDouble,
        "exec.jobs" -> d(e0, e1, "jobs"),
        "exec.stages" -> d(e0, e1, "stages"),
        "exec.tasks" -> d(e0, e1, "tasks"),
        "exec.task_s" -> d(e0, e1, "task_s"),
        "exec.cpu_s" -> d(e0, e1, "cpu_s"),
        "exec.gc_s" -> d(e0, e1, "gc_s"),
        "exec.shuffle_write_mb" -> d(e0, e1, "shuffle_write_mb"),
        "exec.shuffle_read_mb" -> d(e0, e1, "shuffle_read_mb"),
        "exec.spill_mb" -> d(e0, e1, "spill_mb"),
        "exec.failed_tasks" -> d(e0, e1, "failed_tasks"),
        "exec.no_job_s" -> (wall1 - wall0 - exec.jobCoveredMs(wall0, wall1)) / 1e3,
        "validate.s" -> total.getOrElse("validate", 0.0),
        "validate.stats_jobs" -> d(e0, e1, "jobs_in.validate"),
        "validate.invalid_cells" -> counts.invalidCells.toDouble,
        "validate.warnings" -> warnings.size.toDouble,
        "api.batch_s" -> total.getOrElse("api.batch", 0.0),
        "api.formulas" -> n.getOrElse("compile", 0).toDouble,
        "api.skipped" -> counts.skipped.toDouble,
        "operators.persisted" -> (rdd1 -- rdd0).size.toDouble,
        "operators.evicted" -> (rdd0 -- rdd1).size.toDouble,
        "operators.cache_scans" -> d(p0, p1, "cache_scans"),
        "sink.write_s" -> total.getOrElse("sink", 0.0),
        "sink.files" -> outFiles.size.toDouble,
        "sink.out_mb" -> outFiles.map(_.length).sum / 1048576.0,
      ) ++ SelfLayers.map { case (k, spans) =>
        s"self.${k}_s" -> spans.map(self.getOrElse(_, 0.0)).sum }
    }
    deleteTree(new File(outDir))
    PassRec(traced, wallS, withCount.toSeq,
      e1.getOrElse("task_s", 0.0) - e0.getOrElse("task_s", 0.0), layer, warnings)
  }


  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
