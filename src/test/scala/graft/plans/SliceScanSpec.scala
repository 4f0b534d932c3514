package graft.plans

import graft.SparkSpec
import graft.api.FormulaEvaluator
import graft.compile.MatrixResult
import graft.model.Matrix
import graft.operators.Prefix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.functions._

/** The lazy slice-scan operator ([[SliceScanNode]] → [[SliceScanExec]]):
  *
  *   1. compiling a slice-scan formula on a warm layout starts no Spark
  *      job — the partial pass runs inside the action — and its result
  *      plan holds exactly one SliceScanExec and no object
  *      (de)serialization or `mapPartitions` node;
  *   2. a plan's formatted explain renders the memoized slice bounds as
  *      their count, never the bound literal itself;
  *   3. a layout hit re-derives nothing: with the bound memo cleared, a
  *      scan over a registered layout leaves the memo empty, runs no job
  *      and registers no second layout.
  */
class SliceScanSpec extends SparkSpec {

  /** 240 rows, three columns of small integers with holes. */
  private lazy val qty: Matrix = {
    val df = spark.range(240).select(col("id").as("__row_id__") +:
      (1 to 3).map { j =>
        when((col("id") * j) % 11 === 3, lit(Double.NaN))
          .otherwise(((col("id") * (j + 2)) % 7).cast("double")).as(s"c$j")
      }: _*).repartition(3)
    Matrix.of(df, "__row_id__", Seq("c1", "c2", "c3"))
  }

  private def evaluator = new FormulaEvaluator(Map("qty" -> qty))

  private def result(f: String): DataFrame =
    evaluator.evaluateRaw(f) match {
      case MatrixResult(df, _, _, _) => df
      case other => fail(s"$f: expected a matrix result, got $other")
    }

  /** Every node of a final physical plan, through adaptive wrappers and
    * query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private val scans = Seq(
    "qty.shift(2)", "qty.rolling(3).mean()",
    "qty.rolling(5, center=1).mean()", "qty.ewm(0.3).mean()",
    "qty.ewm(0.3, adjust=0).var()", "qty.expanding().median()",
    "qty.cumsum()")

  test("a warm slice scan compiles with no job and plans one " +
      "SliceScanExec over InternalRow") {
    for (f <- scans) {
      result(f).collect() // warm: the layout is registered and persisted
      val (df, jobs) = jobsOf(result(f))
      assert(jobs == 0, s"$f: compiling started $jobs Spark job(s)")
      df.collect()
      val names = nodes(df.queryExecution.executedPlan)
        .map(_.getClass.getSimpleName)
      assert(names.count(_ == "SliceScanExec") == 1,
        s"$f: expected one SliceScanExec in:\n${df.queryExecution.executedPlan}")
      val objects = names.filter(n => n.startsWith("DeserializeToObject") ||
        n.startsWith("SerializeFromObject") || n.startsWith("MapPartitions"))
      assert(objects.isEmpty, s"$f: ${objects.mkString(", ")} in:\n" +
        df.queryExecution.executedPlan)
    }
  }

  test("the formatted explain of a scan renders the slice bounds as a " +
      "count") {
    val df = result("qty.ewm(0.3).mean()")
    df.collect()
    val explain = df.queryExecution.explainString(FormattedMode)
    // the expression's default rendering is its prettyName, quantilebucket
    val buckets = "quantile_?bucket\\(".r.findAllMatchIn(explain).toSeq
    assert(buckets.nonEmpty, s"no slice id in the explain:\n$explain")
    buckets.foreach { m =>
      assert("^quantile_bucket\\(\\d+ bounds, ".r
          .findPrefixOf(explain.substring(m.start)).isDefined,
        "the explain renders the slice-bound literal: " +
          explain.substring(m.start, math.min(explain.length, m.start + 200)))
    }
  }

  test("a layout hit with the bound memo cleared re-derives nothing") {
    val df = spark.range(300).select(col("id").as("rid"),
      (col("id") % 13).cast("double").as("a"))
    def scan(scale: Double): DataFrame = Prefix.ewmScan(df,
      Seq((col("a") * scale).as("va")), "rid", col("rid"), Seq("va"), 0.4,
      Seq("va_w"), Prefix.EwmStat.Mean)
    val first = scan(1.0).orderBy("rid").select("va_w").collect().toSeq
    val layouts = Prefix.sliceLayouts(spark).size
    Prefix.sliceBounds(spark).clear()
    val (hit, jobs) = jobsOf(scan(2.0))
    assert(jobs == 0, s"the layout hit started $jobs Spark job(s)")
    assert(Prefix.sliceBounds(spark).isEmpty,
      "the layout hit re-derived the slice bounds")
    assert(Prefix.sliceLayouts(spark).size == layouts,
      "the layout hit registered a second layout")
    // the ewm mean is linear in its input: the hit emits 2 × the first
    val doubled = hit.orderBy("rid").select("va_w").collect().toSeq
    assert(doubled.map(_.getDouble(0)) == first.map(2.0 * _.getDouble(0)))
  }
}
