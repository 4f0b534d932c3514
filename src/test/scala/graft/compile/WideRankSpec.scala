package graft.compile

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.api.FormulaEvaluator
import graft.model.Matrix

/** The wide-matrix `.rank()` paths. Within the distinct-value budget the
  * count map is a join-free lookup projection at any width. Over it, the
  * fallback re-plans the per-column value-equality joins above
  * [[FormulaCompiler]]'s width threshold as ONE stacked (column-index,
  * value) join + pivot-back (PROBE_r7: the per-column joins never
  * finished ANALYSIS at 50 columns — each Dataset.join re-resolves a
  * self-join over all previous ones). Each test runs both paths; values
  * are checked against a driver-computed pandas average rank. */
class WideRankSpec extends SparkSpec {

  private val nRows = 40
  private val nCols = 24 // above the threshold → stacked path

  /** deterministic cells with ties and a NaN sprinkle */
  private def cell(r: Int, c: Int): Double =
    if ((r * 31 + c * 17) % 11 == 0) Double.NaN
    else ((r * 7 + c * 13) % 5).toDouble

  private lazy val wideMatrix: Matrix = {
    val labels = (0 until nCols).map(i => s"c$i")
    val schema = StructType(StructField("__row_id__", LongType) +:
      labels.map(l => StructField(l, DoubleType)))
    val data = (0 until nRows).map { r =>
      Row.fromSeq(r.toLong +: labels.indices.map(c => cell(r, c)))
    }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava), schema)
    Matrix.of(df, "__row_id__", labels)
  }

  /** Runs `body` on the count map (`fallback` = false, the default
    * budget) and on the joined fallback (a budget of 1 forces it). */
  private def bothPaths(body: Boolean => Unit): Unit = {
    body(false)
    spark.conf.set("graft.percentile.approxAboveDistinct", "1")
    try body(true)
    finally spark.conf.unset("graft.percentile.approxAboveDistinct")
  }

  /** pandas method='average' ascending rank, NaN excluded and kept NaN */
  private def driverRank(col: Seq[Double]): Seq[Double] = {
    val ok = col.filter(!_.isNaN).sorted
    col.map { x =>
      if (x.isNaN) Double.NaN
      else (ok.indexWhere(_ == x) + ok.lastIndexWhere(_ == x)) / 2.0 + 1.0
    }
  }

  test("wide .rank() matches the driver-computed average rank, with NaN") {
    bothPaths { _ =>
      val ev = new FormulaEvaluator(reg("m" -> wideMatrix), fillInvalid = false)
      val MatrixResult(df, rowId, labels, _) =
        ev.evaluateFormula("m.rank()"): @unchecked
      assert(labels.size == nCols)
      val got = cells(df, rowId, labels)
      for (c <- 0 until nCols) {
        val expect = driverRank((0 until nRows).map(r => cell(r, c)))
        for (r <- 0 until nRows)
          assertCell(got(r.toLong)(s"c$c"), expect(r))
      }
    }
  }

  test("an ALL-NaN row survives the pivot (its row id is absent from the stack)") {
    // every cell NaN → the stacked frame has no rows for that rid → the
    // pivot join misses → every output cell must stay NaN, not null-crash
    val labels = (0 until nCols).map(i => s"c$i")
    val schema = StructType(StructField("__row_id__", LongType) +:
      labels.map(l => StructField(l, DoubleType)))
    val data = (0 until 6).map { r =>
      Row.fromSeq(r.toLong +: labels.indices.map(c =>
        if (r == 3) Double.NaN else (r * 2 + c % 3).toDouble))
    }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava), schema)
    bothPaths { _ =>
      val ev = new FormulaEvaluator(
        reg("m" -> Matrix.of(df, "__row_id__", labels)), fillInvalid = false)
      val MatrixResult(res, rowId, outLabels, _) =
        ev.evaluateFormula("m.rank()"): @unchecked
      val got = cells(res, rowId, outLabels)
      assert(outLabels.forall(l => got(3L)(l).isNaN), "all-NaN row must stay NaN")
      assert(got(0L)("c0") == 1.0) // sanity: other rows still ranked
    }
  }

  test("wide .rank() compiles in bounded time and plan size") {
    bothPaths { fallback =>
      val ev = new FormulaEvaluator(reg("m" -> wideMatrix), fillInvalid = false)
      val t0 = System.nanoTime()
      val MatrixResult(df, _, _, _) = ev.evaluateRaw("m.rank()"): @unchecked
      val plan = df.queryExecution.executedPlan.toString
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 60.0, s"wide rank took ${secs}s to compile+plan")
      // the fallback: exactly TWO joins at any width (stack⋈rank-tables,
      // pivot⋈base); the count map: none
      val joins = "(?i)join".r.findAllIn(plan).size
      if (fallback) assert(plan.nonEmpty && joins > 0)
      else assert(plan.nonEmpty && joins == 0, plan)
    }
  }
}
