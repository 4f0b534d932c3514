package graft.api

import graft.SparkSpec
import graft.compile._
import graft.model._
import graft.validate.AllInvalidResultException

/** Golden tests porting the reference's pytest suites 1:1 over the frozen
  * seed-42 fixtures (FIXTURES.md §A; reference tests/test_FormulaEvaluator_*).
  */
class FormulaEvaluatorSpec extends SparkSpec {

  private def evalMat(ev: FormulaEvaluator, f: String): Map[Long, Map[String, Double]] =
    ev.evaluateFormula(f) match {
      case MatrixResult(df, rowId, labels, _) => cells(df, rowId, labels)
      case other => fail(s"expected matrix result, got $other")
    }

  private def golden(f: String, expect: Seq[Seq[Double]],
                     extra: (String, NamedData)*): Unit = {
    val ev = new FormulaEvaluator(
      reg(Seq("a" -> fixA, "b" -> fixB, "c" -> fixC, "d" -> fixD, "e" -> fixE,
              "g" -> fixG, "i" -> fixI) ++ extra: _*))
    val got = evalMat(ev, f)
    for (r <- 0 until 3; ci <- 0 until 3)
      assertCell(got(r.toLong)(s"c$ci"), expect(r)(ci))
  }

  // pt1: basic arithmetic over a,b,c,d (reference pt1:71-156)
  test("a + b")(golden("a + b", Seq(Seq(2, 10, 10), Seq(7, 8, 11), Seq(5, 10, 3))))
  test("a - b")(golden("a - b", Seq(Seq(0, 4, 2), Seq(1, 0, 5), Seq(-3, 4, 1))))
  test("a * c")(golden("a * c", Seq(Seq(2, 7, 12), Seq(4, 4, 16), Seq(2, 14, 2))))
  test("a / b")(golden("a / b",
    Seq(Seq(1.0, 7.0 / 3, 1.5), Seq(4.0 / 3, 1, 8.0 / 3), Seq(0.25, 7.0 / 3, 2))))
  test("(a + b) / (c + d)")(golden("(a + b) / (c + d)",
    Seq(Seq(2.0 / 7, 2, 2), Seq(7.0 / 4, 8.0 / 3, 11.0 / 4), Seq(5.0 / 6, 10.0 / 7, 1))))
  test("(a ** 2.0) * (a ** c)")(golden("(a ** 2.0) * (a ** c)",
    Seq(Seq(1, 343, 1296), Seq(64, 64, 4096), Seq(1, 2401, 8))))
  test("a ** b - c")(golden("a ** b - c",
    Seq(Seq(-1, 342, 1294), Seq(63, 255, 510), Seq(-1, 341, 1))))
  test("unary minus")(golden("-a + b", Seq(Seq(0, -4, -2), Seq(-1, 0, -5), Seq(3, -4, -1))))

  // division by zero: std mode → ±Inf / NaN; all-invalid result raises (V5)
  test("a / e and e / e raise all-invalid errors like the reference") {
    val ev = new FormulaEvaluator(reg("a" -> fixA, "e" -> fixE))
    assertThrows[AllInvalidResultException](ev.evaluateFormula("a / e"))
    val ev2 = new FormulaEvaluator(reg("e" -> fixE), fillInvalid = false)
    assertThrows[AllInvalidResultException](ev2.evaluateFormula("e / e"))
  }

  test("fill_invalid replaces Inf/NaN with 0 (V4)") {
    val ev = new FormulaEvaluator(reg("a" -> fixA, "e" -> fixE), fillInvalid = true)
    val got = evalMat(ev, "a / e")
    for (r <- 0 until 3; ci <- 0 until 3) assertCell(got(r.toLong)(s"c$ci"), 0.0)
  }

  test("partial invalid emits warning, result keeps NaN (V6)") {
    val ev = new FormulaEvaluator(reg("a" -> fixA, "g" -> fixG))
    val got = evalMat(ev, "a / g") // g diagonal: off-diagonal → x/0
    assert(ev.validator.lastWarning.isDefined)
    assertCell(got(0L)("c0"), 1.0 / 6)
    assert(got(0L)("c1") == Double.PositiveInfinity)
  }

  // NaN-bearing input + fillna method (E10, reference pt1:289-302)
  test("i.fillna(0) * a") {
    golden("i.fillna(0) * a", Seq(Seq(7, 0, 6), Seq(36, 20, 72), Seq(7, 56, 0)))
  }

  // scalar broadcast + scalar-only formulas (E5 [verified])
  test("1 / g propagates Inf off-diagonal") {
    val ev = new FormulaEvaluator(reg("g" -> fixG))
    val got = evalMat(ev, "1 / g")
    assertCell(got(0L)("c0"), 1.0 / 6)
    assert(got(1L)("c0") == Double.PositiveInfinity)
    assert(ev.validator.lastWarning.isDefined)
  }
  test("scalar-only formula returns scalar (quirk Q9)") {
    val ev = new FormulaEvaluator(reg("a" -> fixA))
    assert(ev.evaluateFormula("1 + 2") == ScalarResult(3.0))
    assert(ev.evaluateFormula("2 ** 3 / 4") == ScalarResult(2.0))
  }

  // E6/E7/E8: mod, floordiv, comparisons, boolean algebra
  test("a % b and a // b") {
    golden("a % b", Seq(Seq(0, 1, 2), Seq(1, 0, 2), Seq(1, 1, 0)))
    golden("a // b", Seq(Seq(1, 2, 1), Seq(1, 1, 2), Seq(0, 2, 2)))
  }
  test("comparisons yield boolean frames that bypass validation (E7)") {
    val ev = new FormulaEvaluator(reg("a" -> fixA, "b" -> fixB))
    val MatrixResult(df, rowId, labels, isBool) =
      ev.evaluateFormula("a > b"): @unchecked
    assert(isBool)
    val got = cells(df, rowId, labels)
    assert(got(0L)("c0") == 0.0 && got(0L)("c1") == 1.0)
    // NaN comparison is false (numpy), not Spark's NaN-is-largest
    val ev2 = new FormulaEvaluator(reg("i" -> fixI, "a" -> fixA))
    val got2 = evalMat(ev2, "i > a")
    assert(got2(0L)("c1") == 0.0) // NaN > 7 → false
  }
  test("boolean combine (E8)") {
    val ev = new FormulaEvaluator(reg("a" -> fixA, "b" -> fixB, "c" -> fixC))
    val got = evalMat(ev, "(a > b) & (b > c)")
    assert(got(0L)("c1") == 1.0) // 7>3 && 3>1
    assert(got(0L)("c0") == 0.0)
  }

  // E9 math functions
  test("math functions match numpy semantics") {
    val ev = new FormulaEvaluator(reg("a" -> fixA, "e" -> fixE), fillInvalid = false)
    val got = evalMat(ev, "sqrt(a) + log(a) * 0 + floor(a / 2) + abs(-a)")
    assertCell(got(0L)("c0"), math.sqrt(1) + 0 + 0 + 1)
    assertCell(got(1L)("c2"), math.sqrt(8) + 0 + 4 + 8)
    // log(0) → -Inf (numpy), not Spark's NULL; -Inf*0 = NaN → all invalid
    val ev3 = new FormulaEvaluator(reg("e" -> fixE, "a" -> fixA), fillInvalid = true)
    val got2 = evalMat(ev3, "log(e) * 0 + a")
    assert(got2(0L)("c0") == 0.0) // NaN filled; would be NULL+a=NULL if Spark's log
  }

  // E11 reductions
  test("a.sum() returns per-column totals (pandas skipna)") {
    val ev = new FormulaEvaluator(reg("a" -> fixA, "i" -> fixI))
    val RowResult(df, labels) = ev.evaluateFormula("a.sum()"): @unchecked
    val r = df.collect()(0)
    assert(labels == Seq("c0", "c1", "c2"))
    assert(r.getDouble(0) == 6.0 && r.getDouble(1) == 18.0 && r.getDouble(2) == 16.0)
    // NaN-skipping sum
    val RowResult(df2, _) = ev.evaluateFormula("i.sum()"): @unchecked
    val r2 = df2.collect()(0)
    assert(r2.getDouble(0) == 23.0 && r2.getDouble(1) == 13.0 && r2.getDouble(2) == 10.0)
  }
  test("a / a.sum() normalizes columns (scalar-subquery shape)") {
    val ev = new FormulaEvaluator(reg("a" -> fixA))
    val got = evalMat(ev, "a / a.sum()")
    assertCell(got(0L)("c0"), 1.0 / 6)
    assertCell(got(1L)("c2"), 8.0 / 16)
  }
  test("a.mean() and clip") {
    val ev = new FormulaEvaluator(reg("a" -> fixA))
    val RowResult(df, _) = ev.evaluateFormula("a.mean()"): @unchecked
    val r = df.collect()(0)
    assertCell(r.getDouble(0), 2.0)
    assertCell(r.getDouble(1), 6.0)
    val got = evalMat(ev, "a.clip(2, 6)")
    assert(got(0L)("c0") == 2.0 && got(0L)("c1") == 6.0 && got(2L)("c2") == 2.0)
  }

  // alignment: disjoint/overlapping row domains (A1, quirk Q7)
  test("misaligned row domains full-outer align with NaN holes (A1)") {
    import org.apache.spark.sql.functions._
    val d1 = fixA.base.filter(col("__row_id__") < 2)  // rows 0,1
    val d2 = fixB.base.filter(col("__row_id__") > 0)  // rows 1,2
    val m1 = Matrix.of(d1, "__row_id__", Seq("c0", "c1", "c2"))
    val m2 = Matrix.of(d2, "__row_id__", Seq("c0", "c1", "c2"))
    val ev = new FormulaEvaluator(reg("m1" -> m1, "m2" -> m2))
    val got = evalMat(ev, "m1 + m2")
    assert(got.keySet == Set(0L, 1L, 2L))
    assert(got(0L)("c0").isNaN)           // m2 missing row 0
    assertCell(got(1L)("c0"), 4 + 3)      // both present
    assert(got(2L)("c2").isNaN)           // m1 missing row 2
    // with fill: holes → 0
    val evF = new FormulaEvaluator(reg("m1" -> m1, "m2" -> m2), fillInvalid = true)
    val gotF = evalMat(evF, "m1 + m2")
    assert(gotF(0L)("c0") == 0.0 && gotF(2L)("c2") == 0.0)
  }

  test("disjoint column labels produce sorted-union all-NaN columns (A1)") {
    val m2 = mat3(Seq(Seq(1.0, 1, 1), Seq(1, 1, 1), Seq(1, 1, 1)), Seq("c2", "c3", "c4"))
    val ev = new FormulaEvaluator(reg("a" -> fixA, "k" -> m2), fillInvalid = true)
    val MatrixResult(df, rowId, labels, _) = ev.evaluateFormula("a + k"): @unchecked
    assert(labels == Seq("c0", "c1", "c2", "c3", "c4"))
    val got = cells(df, rowId, labels)
    assert(got(0L)("c0") == 0.0)          // a-only column filled
    assertCell(got(0L)("c2"), 7.0)        // shared column: 6 + 1
    assert(got(0L)("c4") == 0.0)          // k-only column filled
  }

  // vector semantics (A2/A3, quirks Q1/Q6)
  test("matrix * vector broadcasts by column position (A2/Q1)") {
    val v = Vec(Seq(10.0, 20.0, 30.0))
    val ev = new FormulaEvaluator(reg("a" -> fixA, "v" -> v))
    val got = evalMat(ev, "a * v")
    assert(got(0L)("c0") == 10.0 && got(0L)("c1") == 140.0 && got(0L)("c2") == 180.0)
  }
  test("vector ∘ vector is positional and returns a vector (A3/Q6)") {
    val s1 = Vec(IndexedSeq(1.0, 2.0), IndexedSeq("0", "1"))
    val s2 = Vec(IndexedSeq(3.0, 4.0), IndexedSeq("5", "6")) // disjoint labels!
    val ev = new FormulaEvaluator(reg("s1" -> s1, "s2" -> s2))
    val VecResult(v) = ev.evaluateFormula("s1 + s2"): @unchecked
    assert(v.values == IndexedSeq(4.0, 6.0)) // positional, no label alignment
  }
  test("vector length mismatch raises (A2)") {
    val v = Vec(Seq(1.0, 2.0))
    val ev = new FormulaEvaluator(reg("a" -> fixA, "v" -> v))
    assertThrows[FormulaTypeException](ev.evaluateFormula("a * v"))
  }

  test("unknown variable raises decorated error") {
    val ev = new FormulaEvaluator(reg("a" -> fixA))
    assertThrows[VariableNotFoundException](ev.evaluateFormula("a + nosuch"))
  }

  // arctan2 on driver-side operand kinds (pd.eval supports all of them)
  test("arctan2 over vectors and scalars") {
    val v1 = Vec(IndexedSeq(1.0, -1.0))
    val v2 = Vec(IndexedSeq(1.0, 2.0))
    val ev = new FormulaEvaluator(reg("v1" -> v1, "v2" -> v2))
    val VecResult(vv) = ev.evaluateFormula("arctan2(v1, v2)"): @unchecked
    assert(vv.values == IndexedSeq(math.atan2(1.0, 1.0), math.atan2(-1.0, 2.0)))
    val VecResult(vs) = ev.evaluateFormula("arctan2(v1, 2)"): @unchecked
    assert(vs.values == IndexedSeq(math.atan2(1.0, 2.0), math.atan2(-1.0, 2.0)))
    assert(ev.evaluateFormula("arctan2(1, 2)") == ScalarResult(math.atan2(1.0, 2.0)))
  }

  test("arctan2 over matrix and scalar (column path)") {
    val ev = new FormulaEvaluator(reg("a" -> fixA))
    val got = evalMat(ev, "arctan2(a, 2)")
    assertCell(got(0L)("c0"), math.atan2(1.0, 2.0))
    assertCell(got(0L)("c1"), math.atan2(7.0, 2.0))
  }

  // E11 long tail: `.T` attribute + the decorated unknown-method family
  test(".T is the identity on vectors, reductions and scalars (E11/Q8)") {
    val v = Vec(IndexedSeq(1.0, 2.0), IndexedSeq("x", "y"))
    val ev = new FormulaEvaluator(reg("a" -> fixA, "v" -> v))
    val VecResult(vt) = ev.evaluateFormula("v.T"): @unchecked
    assert(vt.values == IndexedSeq(1.0, 2.0)) // numpy: 1-D .T == itself
    val VecResult(vm) = ev.evaluateFormula("v.T * 2"): @unchecked
    assert(vm.values == IndexedSeq(2.0, 4.0))
    // reduction result (.sum() → 1-row vector): .T also identity
    val RowResult(df, labels) = ev.evaluateFormula("a.sum().T"): @unchecked
    val r = df.head()
    assert(labels.map(l => r.getDouble(r.fieldIndex(l))) == Seq(6.0, 18.0, 16.0))
    assert(ev.evaluateFormula("(1 + 2).T") == ScalarResult(3.0))
  }

  test(".T on a matrix raises a clear transpose rejection (E11)") {
    val ev = new FormulaEvaluator(reg("a" -> fixA))
    val e = intercept[FormulaTypeException](ev.evaluateFormula("a.T"))
    assert(e.getMessage.contains("Type error in formula 'a.T'"), e.getMessage)
    assert(e.getMessage.contains("transpose"), e.getMessage)
  }

  // E11 long tail: pandas column-wise running sum down the index, skipna —
  // the NaN cell stays NaN but does not poison later cells
  test(".cumsum() runs down the row-id order with pandas skipna semantics") {
    golden("i.cumsum()", Seq(Seq(7, Double.NaN, 1), Seq(16, 5, 10),
      Seq(23, 13, Double.NaN)))
    // matches `i + i.cumsum()` composition too (window + projection fuse)
    golden("i.cumsum() - i", Seq(Seq(0, Double.NaN, 0), Seq(7, 0, 1),
      Seq(16, 5, Double.NaN)))
  }

  test(".cummax()/.cummin() run down the rows with skipna semantics") {
    golden("i.cummax()", Seq(Seq(7, Double.NaN, 1), Seq(9, 5, 9),
      Seq(9, 8, Double.NaN)))
    golden("i.cummin()", Seq(Seq(7, Double.NaN, 1), Seq(7, 5, 1),
      Seq(7, 5, Double.NaN)))
  }

  test(".shift()/.diff() move values positionally down the row-id order") {
    val nan = Double.NaN
    // shift MOVES cells (including NaN) — no skipna; vacated edge = NaN
    golden("i.shift(1)", Seq(Seq(nan, nan, nan), Seq(7, nan, 1), Seq(9, 5, 9)))
    golden("i.shift(-1)", Seq(Seq(9, 5, 9), Seq(7, 8, nan), Seq(nan, nan, nan)))
    // diff = x − x.shift(n); NaN propagates through the subtraction
    golden("i.diff()", Seq(Seq(nan, nan, nan), Seq(2, nan, 8), Seq(-2, 3, nan)))
  }

  test(".rank() is the pandas average rank per column, NaN excluded") {
    // i = [[7,NaN,1],[9,5,9],[7,8,NaN]]: c0 has a tie at 7 -> (1+2)/2
    golden("i.rank()", Seq(Seq(1.5, Double.NaN, 1), Seq(3, 1, 2),
      Seq(1.5, 2, Double.NaN)))
  }

  test(".cumprod() is the pandas skipna running product (E11, r6)") {
    // a = [[1,7,6],[4,4,8],[1,7,2]] column-wise: [1,4,4], [7,28,196], [6,48,96]
    golden("a.cumprod()", Seq(Seq(1, 7, 6), Seq(4, 28, 48), Seq(4, 196, 96)))
    // i = [[7,NaN,1],[9,5,9],[7,8,NaN]]: NaN stays NaN, does not poison
    golden("i.cumprod()", Seq(Seq(7, Double.NaN, 1), Seq(63, 5, 9),
      Seq(441, 40, Double.NaN)))
    // zeros zero out everything after (g has zero off-diagonals); negatives
    // flip the sign by parity
    golden("g.cumprod()", Seq(Seq(6, 0, 0), Seq(0, 0, 0), Seq(0, 0, 0)))
    golden("(e - c).cumprod()", // e=0 ⇒ cells -c: [-2,-1,-2],[ -1,-1,-2],[-2,-2,-1]
      Seq(Seq(-2, -1, -2), Seq(2, 1, 4), Seq(-4, -2, -4)))
  }

  test(".cumprod() on a driver vector is a running skipna product") {
    val ev = new FormulaEvaluator(reg("v" -> Vec(IndexedSeq(2.0, Double.NaN, 3.0, -4.0),
      IndexedSeq("a", "b", "c", "d"))))
    ev.evaluateFormula("v.cumprod()") match {
      case VecResult(out) =>
        assertCell(out.values(0), 2.0); assert(out.values(1).isNaN)
        assertCell(out.values(2), 6.0); assertCell(out.values(3), -24.0)
      case other => fail(s"expected vector, got $other")
    }
  }

  test(".cumsum()/.cummax() in bounded ADP mode (decimal prefix offsets)") {
    // exercises Prefix.runningScan's Decimal fold: the
    // decimal partials collected per slice must combine exactly
    val ev = new FormulaEvaluator(
      reg("a" -> fixA, "i" -> fixI), adpEnabled = true)
    val got = evalMat(ev, "a.cumsum()")
    val expect = Seq(Seq(1, 7, 6), Seq(5, 11, 14), Seq(6, 18, 16))
    for (r <- 0 until 3; ci <- 0 until 3)
      assertCell(got(r.toLong)(s"c$ci"), expect(r)(ci))
    val gotMax = evalMat(ev, "i.cummax()")
    // decimal mode marks invalid cells NULL; cells() maps NULL -> NaN
    val expMax = Seq(Seq(7.0, Double.NaN, 1.0), Seq(9.0, 5.0, 9.0),
      Seq(9.0, 8.0, Double.NaN))
    for (r <- 0 until 3; ci <- 0 until 3)
      assertCell(gotMax(r.toLong)(s"c$ci"), expMax(r)(ci))
  }

  test(".round(n) is half-even to n decimals, NaN-transparent (E11)") {
    // (i / 8) = [[0.875, NaN, 0.125], [1.125, 0.625, 1.125], [0.875, 1.0, NaN]]
    // half-even at 1 decimal: 0.875→0.9 (HALF_EVEN on the DECIMAL string
    // 0.875, which binary64 stores exactly), 0.125→0.1, 1.125→1.1, 0.625→0.6
    golden("(i / 8).round(1)", Seq(Seq(0.9, Double.NaN, 0.1),
      Seq(1.1, 0.6, 1.1), Seq(0.9, 1.0, Double.NaN)))
    // default n = 0; ties go to the even integer: 3.5→4, 0.5→0, 4.5→4, 2.5→2
    golden("(i / 2).round()", Seq(Seq(4, Double.NaN, 0),
      Seq(4, 2, 4), Seq(4, 4, Double.NaN)))
    // scalar and reduction paths
    val ev = new FormulaEvaluator(reg("a" -> fixA))
    assert(ev.evaluateFormula("(1 / 3).round(2)") == ScalarResult(0.33))
    ev.evaluateFormula("(a / 7).sum().round(1)") match {
      case RowResult(df, labels) =>
        val r = df.head()
        // col sums of a/7: 6/7≈0.857→0.9, 18/7≈2.571→2.6, 16/7≈2.286→2.3
        assert(labels.map(l => r.getDouble(r.fieldIndex(l))) ==
          Seq(0.9, 2.6, 2.3))
      case other => fail(s"expected row result, got $other")
    }
  }

  test(".cumsum() on a driver vector is a running skipna scan") {
    val ev = new FormulaEvaluator(reg("a" -> fixA,
      "v" -> Vec(IndexedSeq(1.0, Double.NaN, 2.0), IndexedSeq("c0", "c1", "c2"))))
    ev.evaluateFormula("v.cumsum()") match {
      case VecResult(v) =>
        assert(v.values(0) == 1.0 && v.values(1).isNaN && v.values(2) == 3.0)
      case other => fail(s"expected vector result, got $other")
    }
  }

  test("unknown methods raise the reference's decorated type-error family") {
    val ev = new FormulaEvaluator(reg("a" -> fixA))
    val e = intercept[FormulaTypeException](ev.evaluateFormula("a.kurtosis()"))
    assert(e.getMessage.startsWith("Type error in formula 'a.kurtosis()':"),
      e.getMessage)
    assert(e.getMessage.contains("'.kurtosis'"), e.getMessage)
  }

  // chained comparison end-to-end (desugars to conjunction)
  test("chained comparison 1 < a < 7 evaluates as conjunction") {
    val ev = new FormulaEvaluator(reg("a" -> fixA))
    val MatrixResult(df, rowId, labels, isBool) =
      ev.evaluateFormula("1 < a < 7"): @unchecked
    assert(isBool)
    val got = df.collect().map(r => r.getLong(r.fieldIndex(rowId)) ->
      labels.map(l => r.getBoolean(r.fieldIndex(l)))).toMap
    // fixA row 0 = (1, 7, 6): 1<1<7 false, 1<7<7 false, 1<6<7 true
    assert(got(0L) == Seq(false, false, true))
  }
}
