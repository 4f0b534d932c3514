package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Plan-shape pins for the sequential formula methods (`.cumsum()`,
  * `.cummax()`, `.cumprod()`, `.ffill()`, `.interpolate()`, `.rank()`,
  * …): the round-5 verdict's one scale-killer shape was these running on
  * a GLOBAL single-partition window. The row-order cumulative family now
  * runs the running scan ([[graft.operators.Prefix.runningScan]]) on the
  * slice-scan skeleton, so its plans hold no window at all. rank compiles
  * through grouped value counts: within the distinct-value budget to one
  * compile-time count collect and a pure lookup projection, otherwise (and
  * for method='first') through the two-phase distributed prefix
  * ([[graft.operators.Prefix.runningAgg]]), whose only unpartitioned
  * window is the bounded partials-offsets one. Either way the
  * whole-matrix serialization through one task is structurally gone.
  */
class SequentialPlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** An empty-partition-spec window is tolerable ONLY over the bounded
    * ≤nParts partials frame of [[graft.operators.Prefix.runningAgg]] —
    * recognizable by the per-partition-id aggregate directly beneath it.
    * Any other unpartitioned window serializes data-scaled rows. */
  private def isBoundedOffsetsWindow(w: WindowExec): Boolean =
    w.child.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.groupingExpressions.exists(_.toString.contains("__pfx_pid")) => a
    }.nonEmpty

  private def assertNoGlobalWindow(name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.count() // settle AQE so the final physical plan is inspected
    val plan = finalPlan(df.queryExecution.executedPlan)
    val windows = plan.collect { case w: WindowExec => w }
    windows.foreach(w => assert(
      w.partitionSpec.nonEmpty || isBoundedOffsetsWindow(w),
      s"$name: data-scaled single-partition window survived:\n$plan"))
    // belt and braces: no window may ORDER the row-id stream without
    // partitioning — that is exactly the corpus-serializing shape
    val s = plan.toString
    assert(!raw"windowspecdefinition\(__row_id__".r.findFirstIn(s).isDefined,
      s"$name: row-id-ordered unpartitioned window in plan:\n$s")
  }

  /** The running-scan queries: mapPartitions passes over the slice
    * layout, no WindowExec anywhere in the plan. */
  private def assertNoWindow(name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.count()
    val plan = finalPlan(df.queryExecution.executedPlan)
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.isEmpty, s"$name: window in a running-scan plan:\n$plan")
  }

  test("e11_cumsum plans with no single-partition window") {
    assertNoWindow("e11_cumsum")
  }
  test("e11_cummax plans with no single-partition window") {
    assertNoWindow("e11_cummax")
  }
  test("e11_rank plans with no single-partition window") {
    assertNoGlobalWindow("e11_rank")
  }
  test("r11 rank variants plan with no single-partition window " +
      "(min/dense/pct on the value prefix; first on the grouped " +
      "tie-position prefix + row-id pivot)") {
    for (name <- Seq("e11_rankmin", "e11_rankdense", "e11_rankfirst",
        "e11_rankpct"))
      assertNoGlobalWindow(name)
  }
  /** Every node of a final physical plan, through adaptive wrappers and
    * query stages (cached relations are not descended into). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Builds and collects catalog query `name`, returning its Dataset and
    * the query executions of every action run meanwhile — the build's
    * compile-time collects included. Listener events arrive in order, so
    * once the result's own action is seen every earlier one has been. */
  private def withActions(name: String)
      : (org.apache.spark.sql.DataFrame, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_ eq df.queryExecution) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(_ eq df.queryExecution),
        s"$name: the result action never reached the listener")
      (df, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("count-map rank variants plan no join and no shuffle of the " +
      "matrix: the compile-time count collect is the only exchange " +
      "besides the output's row-id sort") {
    for (name <- Seq("e11_rank", "e11_rankmin", "e11_rankdense",
        "e11_rankpct", "e11_ranktop", "e11_rankbot")) {
      val (df, actions) = withActions(name)
      val plan = nodes(df.queryExecution.executedPlan)
      val joins = plan.collect { case j: BaseJoinExec => j }
      assert(joins.isEmpty, s"$name: join in the result plan:\n" +
        df.queryExecution.executedPlan)
      // the catalog query orders its output by row id: that range
      // exchange is the only one the result plan may hold
      val moves = plan.collect {
        case e: ShuffleExchangeExec
            if !e.outputPartitioning.isInstanceOf[RangePartitioning] => e
        case e: Exchange if !e.isInstanceOf[ShuffleExchangeExec] => e
      }
      assert(moves.isEmpty, s"$name: exchange in the result plan:\n" +
        moves.mkString("\n"))
      val exchanges = actions.map(qe => nodes(qe.executedPlan)
        .count(_.isInstanceOf[Exchange])).sum
      assert(exchanges <= 2, s"$name: $exchanges exchanges across " +
        s"${actions.length} actions (the count collect and the sort " +
        "allow 2)")
    }
  }
  test("e11_cumprod plans with no single-partition window") {
    assertNoWindow("e11_cumprod")
  }
  test("e11_interp plans with no window (two running-scan passes)") {
    assertNoWindow("e11_interp")
  }
  test("e11_ffill/e11_bfill plan with no window (one running-scan pass)") {
    assertNoWindow("e11_ffill")
    assertNoWindow("e11_bfill")
  }
  test("r11 axis=1 reductions are pure projections: no exchange, no " +
      "window, no aggregate anywhere in the plan") {
    for (name <- Seq("e11_hsum", "e11_hstd", "e11_hmed")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.count()
      val plan = finalPlan(df.queryExecution.executedPlan)
      val bad = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        case w: WindowExec => w
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      // the only allowed shape above the cached wide base is sort+project
      assert(bad.isEmpty,
        s"$name: axis=1 must stay a projection, found:\n${bad.mkString("\n")}")
    }
  }
  test("e11_shift/e11_diff plan with no single-partition window") {
    assertNoGlobalWindow("e11_shift")
    assertNoGlobalWindow("e11_diff")
  }

  /** r9 session 3: the fused rolling family (count/min/max/var/std plus
    * the re-planned mean/sum) emits the window aggregate from the
    * positional-lag ring buffer — ONE slice pass, no WindowExec over any
    * data-scaled frame and no buffering offset frame anywhere. */
  test("rolling-family queries plan with no data-scaled window at all") {
    for (name <- Seq("e11_rmean", "e11_rcount", "e11_rmin", "e11_rvar")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.count()
      val plan = finalPlan(df.queryExecution.executedPlan)
      val windows = plan.collect { case w: WindowExec => w }
      windows.foreach(w => assert(isBoundedOffsetsWindow(w),
        s"$name: non-partials window in the fused rolling plan:\n$w"))
      windows.foreach { w =>
        val s = w.windowExpression.mkString(";")
        assert(!s.contains("lag(") && !s.contains("lead("),
          s"$name: buffering offset window frame survived:\n$w")
      }
    }
  }

  /** r10: the exact ewm scan (mean/var/std at any decay) and the
    * min_periods rolling variants are mapPartitions recurrences over the
    * distributed slices — a WindowExec may appear ONLY as the bounded
    * partials-offset window; in particular no window may order the
    * corpus-scaled row stream. */
  test("ewm-family and min_periods queries plan with no data-scaled " +
      "window (r10)") {
    for (name <- Seq("e11_ewm", "e11_ewvar", "e11_ewmbig", "e11_rmp",
        "e11_empc")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.count()
      val plan = finalPlan(df.queryExecution.executedPlan)
      val windows = plan.collect { case w: WindowExec => w }
      windows.foreach(w => assert(
        w.partitionSpec.nonEmpty || isBoundedOffsetsWindow(w),
        s"$name: data-scaled single-partition window survived:\n$w"))
    }
  }

  /** r11: center=1 is FUSED into the trailing slice pass (a pending
    * queue + bounded lookahead inside the same mapPartitions emit) —
    * the plan must carry exactly ONE exchange of the wide frame
    * (the slice-id repartition), not the two the r10 second-lead-pass
    * shape paid; the r11 quantile/skew/kurt rows ride the identical
    * single-pass plan. */
  test("centered/quantile/skew rolling queries move the wide frame " +
      "through ONE slice exchange (r11)") {
    // session 5: the pairwise cov/corr and sem ride the SAME fused
    // single-pass plan (the ring streams whole rows, so the second
    // input column costs no extra exchange); expanding/ewm cov are
    // one running-sum / one scan pass (slice-exchange-bounded too)
    for (name <- Seq("e11_rctr", "e11_rq", "e11_rskew", "e11_rkurt",
        "e11_rcov", "e11_rcorr", "e11_rsem", "e11_ecov", "e11_ewcov")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.count()
      val plan = finalPlan(df.queryExecution.executedPlan)
      // count exchanges that move the WIDE frame (hash on the slice id);
      // the bounded edge/lookahead collects run as separate tiny jobs
      val slices = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("__pfx_pid") => e
      }
      assert(slices.length <= 1,
        s"$name: the wide frame must move through at most one slice " +
          s"exchange, found ${slices.length}:\n$plan")
      val windows = plan.collect { case w: WindowExec => w }
      windows.foreach(w => assert(isBoundedOffsetsWindow(w),
        s"$name: non-partials window in the fused plan:\n$w"))
    }
  }

  /** shift/diff must never plan a window `lag`/`lead`: offset window
    * frames make WindowExec buffer whole partitions
    * (ExternalAppendOnlyUnsafeRowArray) instead of streaming — measured
    * at 4–15× the executor time of the streaming prefix pass. The
    * positional move compiles to the narrow prefix + equi-join
    * ([[graft.operators.Prefix.positionalLag]]) instead. */
  test("e11_shift/e11_diff plan with no offset window frame") {
    for (name <- Seq("e11_shift", "e11_diff")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.count()
      val plan = finalPlan(df.queryExecution.executedPlan)
      val windows = plan.collect { case w: WindowExec => w }
      windows.foreach { w =>
        val s = w.windowExpression.mkString(";")
        assert(!s.contains("lag(") && !s.contains("lead("),
          s"$name: buffering offset window frame survived:\n$w")
      }
    }
  }

  /** Rounding-boundary pins at sf0.1: e11_ewadj, e11_ewadjv, e11_ewvar and
    * e11_rkurt round to 5–6 dp with cells within a few ULPs of a rounding
    * boundary there, so a change of association order in the slice scans
    * can flip an oracle cell. The unrounded result bits are pinned as
    * digests (row-id order, NaN canonical, NULL marked) on the suite's 4
    * slices, so such drift fails here first. */
  test("sf0.1 rounding-boundary queries keep their golden bits") {
    val sf01 = sf.replace("sf0.001", "sf0.1")
    val golden = Map(
      "qty.ewm(1, adjust=0).mean()" -> -2003184495,
      "qty.ewm(1, adjust=0).var()" -> -1207513063,
      "qty.ewm(1).var()" -> -1115146702,
      "qty.rolling(6, min_periods=4).kurt()" -> -1908723540)
    val got = golden.keys.map { f =>
      val ev = new graft.api.FormulaEvaluator(
        QueryCatalog.registry(spark, sf01), fillInvalid = true)
      val graft.compile.MatrixResult(df, rid, lbls, _) =
        ev.evaluateFormula(f): @unchecked
      f -> scala.util.hashing.MurmurHash3.orderedHash(
        df.orderBy(rid).select(lbls.map(org.apache.spark.sql.functions.col): _*)
          .collect().toSeq.flatMap(r => lbls.indices.map(i =>
            if (r.isNullAt(i)) "null"
            else java.lang.Double.doubleToLongBits(r.getDouble(i)))))
    }.toMap
    assert(got == golden, s"sf0.1 boundary digests moved: $got")
  }
}
