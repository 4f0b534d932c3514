package graft.compile

import graft.SparkSpec
import graft.api.FormulaEvaluator
import graft.model.Matrix

/** r11 `.rank(...)` keyword surface: method='average'/'min'/'max'/
  * 'first'/'dense', ascending=0, pct=1, na_option='keep' — the distributed
  * value-count-prefix plan (plus the positional tie-break prefix for
  * 'first') against a literal-definition sequential reference and pandas
  * 2.2 pinned goldens. Also pins the r11 string-literal tokenizer rules
  * (both quotes, unterminated rejection, arithmetic misuse). */
class RankVariantsSpec extends SparkSpec {

  private def series(vs: Double*): Matrix =
    mat3(vs.map(v => Seq(v)), labels = Seq("c0"))

  private def colOf(f: String, m: Matrix): Seq[Double] = {
    val ev = new FormulaEvaluator(reg("s" -> m))
    ev.evaluateFormula(f) match {
      case MatrixResult(df, rowId, labels, _) =>
        val byId = cells(df, rowId, labels)
        byId.keys.toSeq.sorted.map(i => byId(i)("c0"))
      case other => fail(s"expected matrix result, got $other")
    }
  }

  private def assertSeq(actual: Seq[Double], expected: Seq[Double],
                        tol: Double = 1e-9): Unit = {
    assert(actual.length == expected.length,
      s"length ${actual.length} vs ${expected.length}")
    actual.zip(expected).zipWithIndex.foreach { case ((a, e), i) =>
      if (e.isNaN) assert(a.isNaN, s"row $i: expected NaN, got $a")
      else assert(math.abs(a - e) <= tol, s"row $i: expected $e, got $a")
    }
  }

  /** literal pandas definition: rank over non-NaN cells; NaN cells are
    * kept NaN ('keep') or ranked as one tie class before/after every
    * valid value ('top'/'bottom' — r11 session 5), with pct dividing by
    * the NaN-inclusive counts. */
  private def refRank(vs: Seq[Double], meth: String, asc: Boolean,
                      pct: Boolean, naOpt: String = "keep"): Seq[Double] = {
    val key: Double => Double = if (asc) identity else (x => -x)
    val ok = vs.filter(!_.isNaN).map(key).sorted
    val distinct = ok.distinct
    lazy val firstRank: Map[Int, Int] = vs.zipWithIndex
      .filter(!_._1.isNaN)
      .sortBy { case (x, i) => (key(x), i) }
      .zipWithIndex.map { case ((_, i), r) => i -> (r + 1) }.toMap
    val nanIdx = vs.indices.filter(i => vs(i).isNaN)
    val nanCnt = nanIdx.length
    val hasNan = if (nanCnt > 0) 1 else 0
    val denom = (naOpt match {
      case "keep" => if (meth == "dense") distinct.length else ok.length
      case _ => if (meth == "dense") distinct.length + hasNan else vs.length
    }).toDouble
    val shift: Double = naOpt match {
      case "top" if meth == "dense" => hasNan.toDouble
      case "top"                    => nanCnt.toDouble
      case _                        => 0.0
    }
    vs.zipWithIndex.map { case (x, i) =>
      if (x.isNaN) {
        val r = naOpt match {
          case "keep" => Double.NaN
          case "top" => meth match {
            case "average" => (nanCnt + 1.0) / 2.0
            case "min"     => 1.0
            case "max"     => nanCnt.toDouble
            case "dense"   => 1.0
            case _         => nanIdx.indexOf(i) + 1.0
          }
          case _ => meth match {
            case "average" => ok.length + (nanCnt + 1.0) / 2.0
            case "min"     => ok.length + 1.0
            case "max"     => (ok.length + nanCnt).toDouble
            case "dense"   => distinct.length + 1.0
            case _         => ok.length + nanIdx.indexOf(i) + 1.0
          }
        }
        if (pct) r / denom else r
      } else {
        val kx = key(x)
        val raw = (meth match {
          case "min"   => ok.indexWhere(_ == kx) + 1.0
          case "max"   => ok.lastIndexWhere(_ == kx) + 1.0
          case "dense" => distinct.indexWhere(_ == kx) + 1.0
          case "first" => firstRank(i).toDouble
          case _ =>
            (ok.indexWhere(_ == kx) + ok.lastIndexWhere(_ == kx)) / 2.0 + 1.0
        }) + shift
        if (pct) raw / denom else raw
      }
    }
  }

  // pandas: s = Series([3, 1, 3, NaN, 2, 3, 1])
  private lazy val s7 =
    series(3.0, 1.0, 3.0, Double.NaN, 2.0, 3.0, 1.0)

  test("rank(method='min'/'max'/'dense'/'first') pandas goldens") {
    // pandas s.rank(method='min'):   [4, 1, 4, nan, 3, 4, 1]
    assertSeq(colOf("s.rank(method='min')", s7),
      Seq(4, 1, 4, Double.NaN, 3, 4, 1))
    // pandas s.rank(method='max'):   [6, 2, 6, nan, 3, 6, 2]
    assertSeq(colOf("s.rank(method='max')", s7),
      Seq(6, 2, 6, Double.NaN, 3, 6, 2))
    // pandas s.rank(method='dense'): [3, 1, 3, nan, 2, 3, 1]
    assertSeq(colOf("s.rank(method='dense')", s7),
      Seq(3, 1, 3, Double.NaN, 2, 3, 1))
    // pandas s.rank(method='first'): [4, 1, 5, nan, 3, 6, 2]
    assertSeq(colOf("s.rank(method='first')", s7),
      Seq(4, 1, 5, Double.NaN, 3, 6, 2))
    // default (average) unchanged:   [5, 1.5, 5, nan, 3, 5, 1.5]
    assertSeq(colOf("s.rank()", s7),
      Seq(5, 1.5, 5, Double.NaN, 3, 5, 1.5))
    // method='average' spelled explicitly equals the default
    assertSeq(colOf("s.rank(method='average')", s7),
      Seq(5, 1.5, 5, Double.NaN, 3, 5, 1.5))
  }

  test("rank(ascending=0) and rank(pct=1) pandas goldens") {
    // pandas s.rank(ascending=False):            [2, 5.5, 2, nan, 4, 2, 5.5]
    assertSeq(colOf("s.rank(ascending=0)", s7),
      Seq(2, 5.5, 2, Double.NaN, 4, 2, 5.5))
    // pandas s.rank(method='min', ascending=False): [1, 5, 1, nan, 4, 1, 5]
    assertSeq(colOf("s.rank(method='min', ascending=0)", s7),
      Seq(1, 5, 1, Double.NaN, 4, 1, 5))
    // pandas s.rank(pct=True): avg/6            [5/6, .25, 5/6, nan, .5, 5/6, .25]
    assertSeq(colOf("s.rank(pct=1)", s7),
      Seq(5.0 / 6, 1.5 / 6, 5.0 / 6, Double.NaN, 3.0 / 6, 5.0 / 6, 1.5 / 6))
    // pandas s.rank(method='dense', pct=True): dense/#distinct = /3
    assertSeq(colOf("s.rank(method='dense', pct=1)", s7),
      Seq(1.0, 1.0 / 3, 1.0, Double.NaN, 2.0 / 3, 1.0, 1.0 / 3))
    // pandas s.rank(method='first', ascending=False): [1, 5, 2, nan, 4, 3, 6]
    assertSeq(colOf("s.rank(method='first', ascending=0)", s7),
      Seq(1, 5, 2, Double.NaN, 4, 3, 6))
  }

  test("fuzz: every (method, ascending, pct) against the literal " +
      "definition on random tied series with NaN holes") {
    val rnd = new scala.util.Random(1104)
    for (trial <- 0 until 6) {
      val n = 12 + rnd.nextInt(20)
      val vs = IndexedSeq.fill(n) {
        if (rnd.nextDouble() < 0.2) Double.NaN
        else rnd.nextInt(6).toDouble // heavy ties on purpose
      }
      val m = series(vs: _*)
      for (meth <- Seq("average", "min", "max", "first", "dense");
           asc <- Seq(true, false); pct <- Seq(false, true)) {
        val f = s"s.rank(method='$meth'" +
          (if (asc) "" else ", ascending=0") +
          (if (pct) ", pct=1" else "") + ")"
        assertSeq(colOf(f, m), refRank(vs, meth, asc, pct),
          tol = 1e-9)
      }
    }
  }

  // pandas 2.2 goldens on Series([3, NaN, 1, 3, NaN, 2]):
  //   top/average [5.5, 1.5, 3, 5.5, 1.5, 4], bottom/min [3, 5, 1, 3, 5, 2],
  //   top/dense [4, 1, 2, 4, 1, 3], top/first [5, 1, 3, 6, 2, 4],
  //   bottom/first [1, 5, 4, 2, 6, 3] (descending), pct: /6 (dense: /4)
  test("rank(na_option='top'/'bottom') pandas goldens") {
    val s6 = series(3.0, Double.NaN, 1.0, 3.0, Double.NaN, 2.0)
    assertSeq(colOf("s.rank(na_option='top')", s6),
      Seq(5.5, 1.5, 3, 5.5, 1.5, 4))
    assertSeq(colOf("s.rank(method='min', na_option='bottom')", s6),
      Seq(3, 5, 1, 3, 5, 2))
    assertSeq(colOf("s.rank(method='dense', na_option='top')", s6),
      Seq(4, 1, 2, 4, 1, 3))
    assertSeq(colOf("s.rank(method='first', na_option='top')", s6),
      Seq(5, 1, 3, 6, 2, 4))
    assertSeq(colOf(
      "s.rank(method='first', ascending=0, na_option='bottom')", s6),
      Seq(1, 5, 4, 2, 6, 3))
    // pct divides by the NaN-inclusive counts
    assertSeq(colOf("s.rank(na_option='top', pct=1)", s6),
      Seq(5.5 / 6, 1.5 / 6, 3.0 / 6, 5.5 / 6, 1.5 / 6, 4.0 / 6))
    assertSeq(colOf("s.rank(method='dense', na_option='top', pct=1)", s6),
      Seq(1.0, 0.25, 0.5, 1.0, 0.25, 0.75))
  }

  // pandas 2.2 goldens on DataFrame a=[3,NaN,1], b=[NaN,NaN,5], c=[3,2,NaN]
  test("rank(axis=1, na_option=): the row-wise projection ranks the " +
      "row's NaN class before/after its valid cells") {
    val m = mat3(Seq(Seq(3.0, Double.NaN, 3.0),
      Seq(Double.NaN, Double.NaN, 2.0), Seq(1.0, 5.0, Double.NaN)),
      labels = Seq("a", "b", "c"))
    def rows(f: String): Seq[Seq[Double]] = {
      val ev = new FormulaEvaluator(reg("s" -> m))
      val MatrixResult(df, rowId, labels, _) =
        ev.evaluateFormula(f): @unchecked
      val byId = cells(df, rowId, labels)
      byId.keys.toSeq.sorted.map(i => labels.map(l => byId(i)(l)))
    }
    assert(rows("s.rank(axis=1, na_option='top')") ==
      Seq(Seq(2.5, 1.0, 2.5), Seq(1.5, 1.5, 3.0), Seq(2.0, 3.0, 1.0)))
    assert(rows("s.rank(axis=1, method='min', na_option='bottom')") ==
      Seq(Seq(1.0, 3.0, 1.0), Seq(2.0, 2.0, 1.0), Seq(1.0, 2.0, 3.0)))
    val pctRows = rows("s.rank(axis=1, method='dense', " +
      "na_option='top', pct=1)")
    val expPct = Seq(Seq(1.0, 0.5, 1.0), Seq(0.5, 0.5, 1.0),
      Seq(2.0 / 3, 1.0, 1.0 / 3))
    pctRows.zip(expPct).foreach { case (g, e) =>
      g.zip(e).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    }
    assert(rows("s.rank(axis=1, method='first', na_option='top')") ==
      Seq(Seq(2.0, 1.0, 3.0), Seq(1.0, 2.0, 3.0), Seq(2.0, 3.0, 1.0)))
  }

  test("fuzz: na_option='top'/'bottom' across every variant, matrix " +
      "and vector paths vs the literal definition") {
    import graft.model.Vec
    val rnd = new scala.util.Random(5115)
    for (trial <- 0 until 4) {
      val n = 10 + rnd.nextInt(14)
      val vs = IndexedSeq.fill(n) {
        if (rnd.nextDouble() < 0.25) Double.NaN
        else rnd.nextInt(5).toDouble
      }
      val m = series(vs: _*)
      val v = Vec(vs, vs.indices.map(i => s"l$i"))
      val evV = new FormulaEvaluator(reg("s" -> v))
      for (meth <- Seq("average", "min", "max", "first", "dense");
           asc <- Seq(true, false); pct <- Seq(false, true);
           naOpt <- Seq("top", "bottom")) {
        val f = s"s.rank(method='$meth'" +
          (if (asc) "" else ", ascending=0") +
          (if (pct) ", pct=1" else "") +
          s", na_option='$naOpt')"
        val expected = refRank(vs, meth, asc, pct, naOpt)
        assertSeq(colOf(f, m), expected, tol = 1e-9)
        evV.evaluateFormula(f) match {
          case VecResult(out) => assertSeq(out.values, expected, tol = 1e-9)
          case other          => fail(s"expected vector, got $other")
        }
      }
    }
  }

  test("count-map rank equals the distributed fallback bit for bit: every " +
      "method × ascending × pct × na_option on an 18-column matrix with " +
      "ties, NaN, NULL, −0.0, ±inf and an all-NaN column") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(808)
    val width = 18
    val special = IndexedSeq[java.lang.Double](0.0, -0.0,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN, null,
      1.5, -0.0, Double.PositiveInfinity, 1.5, -2.0)
    val labels = (0 until width).map(j => s"c$j")
    val data = (0 until 40).map { i =>
      val cells: Seq[Any] = (0 until width).map {
        case 0 => special(i % special.length)
        case 1 => Double.NaN
        case 2 => if (i % 4 == 0) null else java.lang.Double.valueOf(i % 3 - 1.0)
        case _ =>
          if (rnd.nextDouble() < 0.15) Double.NaN
          else rnd.nextInt(5) - 2.0
      }
      Row.fromSeq(i.toLong +: cells)
    }
    val schema = StructType(StructField("__row_id__", LongType) +:
      labels.map(StructField(_, DoubleType)))
    val m = Matrix.of(spark.createDataFrame(
      spark.sparkContext.parallelize(data, 3), schema), "__row_id__", labels)
    // the reference reads NULL as NaN and −0.0 as 0.0 (its `distinct`
    // would keep both zeros)
    val inputs = labels.indices.map(j => data.map(r =>
      if (r.isNullAt(1 + j)) Double.NaN else r.getDouble(1 + j) + 0.0))
    // (cells per row in row-id order as Option[bits] — NULL is None —
    // and whether the optimized plan holds a join)
    def run(f: String): (Seq[Seq[Option[Long]]], Boolean) = {
      val MatrixResult(df, rowId, ls, _) =
        new FormulaEvaluator(reg("s" -> m)).evaluateFormula(f): @unchecked
      val rows = df.collect().toSeq.sortBy(_.getAs[Long](rowId)).map(r =>
        ls.map { l =>
          val k = r.fieldIndex(l)
          if (r.isNullAt(k)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(k)))
        })
      (rows, df.queryExecution.optimizedPlan.collect { case j: Join => j }
        .nonEmpty)
    }
    for (meth <- Seq("average", "min", "max", "dense");
         asc <- Seq(true, false); pct <- Seq(false, true);
         naOpt <- Seq("keep", "top", "bottom")) {
      val f = s"s.rank(method='$meth', ascending=${if (asc) 1 else 0}, " +
        s"pct=${if (pct) 1 else 0}, na_option='$naOpt')"
      val (mapped, mapJoin) = run(f)
      spark.conf.set("graft.percentile.approxAboveDistinct", "1")
      val (fallback, fbJoin) =
        try run(f) finally spark.conf.unset("graft.percentile.approxAboveDistinct")
      assert(!mapJoin, s"$f: the count-map plan holds a join")
      assert(fbJoin, s"$f: a budget of 1 must force the joined fallback")
      assert(mapped == fallback, s"$f: count map and fallback differ")
      labels.indices.foreach { j =>
        assertSeq(mapped.map(_(j).fold(Double.NaN)(java.lang.Double.longBitsToDouble)),
          refRank(inputs(j), meth, asc, pct, naOpt))
      }
    }
  }

  test("vector path mirrors every variant") {
    import graft.model.Vec
    val vs = IndexedSeq(3.0, 1.0, 3.0, Double.NaN, 2.0, 3.0, 1.0)
    val v = Vec(vs, (0 until 7).map(i => s"l$i"))
    val ev = new FormulaEvaluator(reg("v" -> v))
    def run(f: String): Seq[Double] =
      ev.evaluateFormula(f) match {
        case VecResult(out) => out.values
        case other          => fail(s"expected vector, got $other")
      }
    assertSeq(run("v.rank(method='min')"), Seq(4, 1, 4, Double.NaN, 3, 4, 1))
    assertSeq(run("v.rank(method='first', ascending=0)"),
      Seq(1, 5, 2, Double.NaN, 4, 3, 6))
    for (meth <- Seq("average", "min", "max", "first", "dense");
         asc <- Seq(true, false); pct <- Seq(false, true)) {
      val f = s"v.rank(method='$meth'" +
        (if (asc) "" else ", ascending=0") +
        (if (pct) ", pct=1" else "") + ")"
      assertSeq(run(f), refRank(vs, meth, asc, pct))
    }
  }

  test("string-literal rules: both quotes tokenize; misuse is a clean " +
      "error") {
    // double quotes are the same literal
    assertSeq(colOf("s.rank(method=\"min\")", s7),
      Seq(4, 1, 4, Double.NaN, 3, 4, 1))
    val ev = new FormulaEvaluator(reg("s" -> s7))
    // unknown method: the pandas ValueError wording
    val e1 = intercept[FormulaTypeException](
      ev.evaluateFormula("s.rank(method='median')"))
    assert(e1.getMessage.contains("method must be one of"))
    // na_option outside keep/top/bottom rejects cleanly
    val e2 = intercept[FormulaTypeException](
      ev.evaluateFormula("s.rank(na_option='drop')"))
    assert(e2.getMessage.contains("na_option"))
    // pandas Rolling.rank has no na_option parameter at all
    val e2b = intercept[FormulaTypeException](
      ev.evaluateFormula("s.rolling(3).rank(na_option='top')"))
    assert(e2b.getMessage.contains("na_option"))
    // positional args are pandas' axis — rejected, not guessed at
    intercept[FormulaTypeException](ev.evaluateFormula("s.rank(1)"))
    // strings never enter arithmetic
    val e3 = intercept[FormulaTypeException](
      ev.evaluateFormula("s + 'min'"))
    assert(e3.getMessage.contains("string literal"))
    // a string is not a formula result
    intercept[FormulaTypeException](ev.evaluateFormula("'min'"))
    // unterminated string is a syntax error
    intercept[graft.ast.FormulaSyntaxException](
      ev.evaluateFormula("s.rank(method='min)"))
    // unknown kwarg still rejected
    val e4 = intercept[FormulaTypeException](
      ev.evaluateFormula("s.rank(metod='min')"))
    assert(e4.getMessage.contains("unexpected keyword argument"))
  }
}
