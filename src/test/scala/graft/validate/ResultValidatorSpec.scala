package graft.validate

import graft.SparkSpec
import graft.api.FormulaEvaluator
import graft.compile._
import graft.model._

/** Validator-subsystem tests (ports of reference tests/test_ResultValidator.py
  * behaviors: single-pass stats V1–V3, fill V4, message taxonomy V5/V6,
  * mixture check V9). */
class ResultValidatorSpec extends SparkSpec {

  private def validator(fill: Boolean = false) =
    new ResultValidator(NumericMode.Standard, fill, verbose = false)

  test("stats: single-pass count of NaN and Inf cells (V1-V3)") {
    val df = mat3(Seq(
      Seq(1.0, Double.NaN, 3.0),
      Seq(Double.PositiveInfinity, 5.0, 6.0),
      Seq(7.0, 8.0, Double.NegativeInfinity))).base
    val st = validator().stats(df, Seq("c0", "c1", "c2"))
    assert(st.totalCells == 9 && st.invalidCount == 3)
    assert(st.hasNan && st.hasInf && !st.allInvalid && st.someInvalid)
    assert(math.abs(st.pctInvalid - 100.0 / 3) < 1e-9)
  }

  test("stats: clean frame has zero invalid") {
    val st = validator().stats(fixA.base, Seq("c0", "c1", "c2"))
    assert(st.invalidCount == 0 && !st.hasNan && !st.hasInf)
  }

  test("fill replaces NaN/Inf/null with zero, leaves valid cells (V4)") {
    val df = mat3(Seq(
      Seq(1.0, Double.NaN, 3.0),
      Seq(Double.PositiveInfinity, 5.0, 6.0),
      Seq(7.0, 8.0, 9.0))).base
    val filled = validator(fill = true).fillDf(df, "__row_id__", Seq("c0", "c1", "c2"))
    val got = cells(filled, "__row_id__", Seq("c0", "c1", "c2"))
    assert(got(0L)("c1") == 0.0 && got(1L)("c0") == 0.0)
    assert(got(0L)("c0") == 1.0 && got(2L)("c2") == 9.0)
  }

  test("all-invalid error mentions division by zero for matrix-only formulas (V5)") {
    val ev = new FormulaEvaluator(reg("a" -> fixA, "e" -> fixE))
    val ex = intercept[AllInvalidResultException](ev.evaluateFormula("a / e"))
    assert(ex.getMessage.contains("division by zero"))
  }

  test("all-invalid error mentions misaligned indices for vector-matrix mixtures (V5/V9)") {
    // 3-col matrix ∘ 3-vector of NaN → all cells invalid, mixture hint
    val v = Vec(IndexedSeq(Double.NaN, Double.NaN, Double.NaN),
                IndexedSeq("c0", "c1", "c2"))
    val ev = new FormulaEvaluator(reg("a" -> fixA, "v" -> v))
    val ex = intercept[AllInvalidResultException](ev.evaluateFormula("a * v"))
    assert(ex.getMessage.contains("misaligned indices"))
  }

  test("partial-invalid warning reports count, percent and cause (V6)") {
    val ev = new FormulaEvaluator(reg("a" -> fixA, "g" -> fixG))
    ev.evaluateFormula("a / g")
    val w = ev.validator.lastWarning.get
    assert(w.contains("6 invalid values out of 9"))
    assert(w.contains("66.67"))
    assert(w.contains("division by zero"))
  }

  test("warning distinguishes NaN causes from Inf causes (V6)") {
    val ev = new FormulaEvaluator(reg("i" -> fixI, "a" -> fixA))
    ev.evaluateFormula("i + a") // NaN cells from i, no Inf
    val w = ev.validator.lastWarning.get
    assert(w.contains("NaN") && !w.contains("infinite"))
  }

  test("fill mode suppresses warnings and errors (V8 fill path)") {
    val ev = new FormulaEvaluator(reg("e" -> fixE), fillInvalid = true)
    val MatrixResult(df, rowId, labels, _) = ev.evaluateFormula("e / e"): @unchecked
    assert(ev.validator.lastWarning.isEmpty)
    val got = cells(df, rowId, labels)
    assert(got.values.forall(_.values.forall(_ == 0.0)))
  }

  test("driver-side vector results validate cheaply (V8)") {
    val s1 = Vec(IndexedSeq(1.0, 0.0), IndexedSeq("0", "1"))
    val s2 = Vec(IndexedSeq(0.0, 0.0), IndexedSeq("0", "1"))
    val ev = new FormulaEvaluator(reg("s1" -> s1, "s2" -> s2), fillInvalid = true)
    val VecResult(v) = ev.evaluateFormula("s1 / s2"): @unchecked
    assert(v.values == IndexedSeq(0.0, 0.0)) // Inf and NaN both filled
  }

  test("stats observed on another action equal the aggregate job's") {
    val std = mat3(Seq(
      Seq(1.0, Double.NaN, 3.0),
      Seq(Double.PositiveInfinity, 5.0, 6.0),
      Seq(7.0, 8.0, Double.NegativeInfinity))).base
    val dec = new FormulaEvaluator(reg("a" -> fixA, "g" -> fixG), adpEnabled = true)
      .evaluateRaw("a / g") match { case MatrixResult(df, _, _, _) => df }
    val adp = new ResultValidator(NumericMode(true, 35, false), fillInvalid = false,
      verbose = false)
    for ((v, df) <- Seq(validator() -> std, validator() -> fixA.base, adp -> dec)) {
      val cols = Seq("c0", "c1", "c2")
      val a = v.aggregates(df, cols).get
      val obs = new org.apache.spark.sql.Observation()
      df.observe(obs, a.columns.head, a.columns.tail: _*).write.format("noop")
        .mode("overwrite").save()
      assert(a.read(obs.get) == v.stats(df, cols))
    }
    assert(adp.stats(dec, Seq("c0", "c1", "c2")).invalidCount == 6)
  }
}
