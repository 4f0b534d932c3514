package graft.api

import graft.SparkSpec
import graft.compile._
import graft.model._

/** Batch-driver semantics (reference tests/test_CoefficientCalculator.py)
  * plus decimal (ADP) mode behavior. */
class CoefficientCalculatorSpec extends SparkSpec {

  private def formulaTable(rows: (String, String)*): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("result_name", StringType), StructField("formula", StringType),
      StructField("description", StringType)))
    val data = rows.map { case (n, f) => R(n, f, "") }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava), schema)
  }

  test("batch loop: computes all, skips empty and missing-variable formulas (F3/F4/X3)") {
    val fm = formulaTable(
      "sum_ab" -> "a + b", "diff_ab" -> "a - b", "a_times_c" -> "a * c",
      "a_divided_by_b" -> "a / b", "empty_formula" -> "",
      "missing_var" -> "a + nosuchvar")
    val calc = new CoefficientCalculator(
      reg("a" -> fixA, "b" -> fixB, "c" -> fixC), fm, adpEnabled = false)
    val out = calc.computeCoefficients()
    assert(out.keySet == Set("sum_ab", "diff_ab", "a_times_c", "a_divided_by_b"))
    val MatrixResult(df, rowId, labels, _) = out("sum_ab"): @unchecked
    val got = cells(df, rowId, labels)
    assert(got(0L)("c0") == 2.0 && got(1L)("c2") == 11.0)
  }

  test("custom column names (examples/README.md:322-341)") {
    import org.apache.spark.sql.functions._
    val fm = formulaTable("r1" -> "a * 2")
      .withColumnRenamed("formula", "calculation")
    val calc = new CoefficientCalculator(reg("a" -> fixA), fm,
      formulaNameCol = "calculation", adpEnabled = false)
    assert(calc.computeCoefficients().keySet == Set("r1"))
  }

  test("missing mandatory columns raise (F6)") {
    val fm = formulaTable("x" -> "a")
    assertThrows[IllegalArgumentException](
      new CoefficientCalculator(reg("a" -> fixA), fm, resultNameCol = "wrong_col"))
  }

  test("ADP mode: decimal arithmetic is exact; ** rejected cleanly (E3/Q4)") {
    val fm = formulaTable("m" -> "a * b + c", "p" -> "a ** b")
    val calc = new CoefficientCalculator(
      reg("a" -> fixA, "b" -> fixB, "c" -> fixC), fm, adpEnabled = true)
    assertThrows[AdpUnsupportedException](calc.computeCoefficients())
    val calc2 = new CoefficientCalculator(
      reg("a" -> fixA, "b" -> fixB, "c" -> fixC),
      formulaTable("m" -> "a * b + c"), adpEnabled = true)
    val out = calc2.computeCoefficients()
    val MatrixResult(df, rowId, labels, _) = out("m"): @unchecked
    assert(df.schema(labels.head).dataType.isInstanceOf[
      org.apache.spark.sql.types.DecimalType])
    val got = cells(df, rowId, labels)
    assert(got(0L)("c0") == 3.0 && got(1L)("c2") == 26.0)
  }

  test("ADP division by zero yields invalid cells → clean all-invalid error (Q5 divergence)") {
    val calc = new CoefficientCalculator(
      reg("a" -> fixA, "e" -> fixE), formulaTable("d" -> "a / e"), adpEnabled = true)
    assertThrows[graft.validate.AllInvalidResultException](calc.computeCoefficients())
  }

  test("ADP fill_invalid fills nulls with decimal zero") {
    val calc = new CoefficientCalculator(
      reg("a" -> fixA, "g" -> fixG), formulaTable("d" -> "a / g"),
      adpEnabled = true, fillInvalid = true)
    val out = calc.computeCoefficients()
    val MatrixResult(df, rowId, labels, _) = out("d"): @unchecked
    val got = cells(df, rowId, labels)
    assert(got(0L)("c1") == 0.0)               // filled x/0
    assertCell(got(0L)("c0"), 1.0 / 6, 1e-9)   // 1/6 in decimal
  }

  test("ADP beats double precision on decimal-fraction arithmetic (pt2 spirit)") {
    // 0.1 + 0.2 != 0.3 in binary64; exact in decimal cells. The reference's
    // equivalent claim is mpmath's better-than-double relative error
    // (tests/test_FormulaEvaluator_pt2.py:578-645); mpf's arbitrary binary
    // exponent itself is out of reach for fixed-scale decimal —
    // documented divergence, SURVEY §7.4(5).
    val m1 = mat3(Seq.fill(3)(Seq(0.1, 0.1, 0.1)))
    val m2 = mat3(Seq.fill(3)(Seq(0.2, 0.2, 0.2)))
    val evAdp = new FormulaEvaluator(reg("x" -> m1, "y" -> m2), adpEnabled = true)
    val MatrixResult(df, rowId, labels, _) = evAdp.evaluateFormula("x + y"): @unchecked
    val cell = df.collect()(0).getDecimal(1)
    assert(cell.compareTo(new java.math.BigDecimal("0.3")) == 0) // exact
    val evStd = new FormulaEvaluator(reg("x" -> m1, "y" -> m2))
    val MatrixResult(dfS, _, _, _) = evStd.evaluateFormula("x + y"): @unchecked
    assert(dfS.collect()(0).getDouble(1) != 0.3) // binary64 artifact
  }

  test("writeResults persists every result shape to parquet (S4 sink)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val fm = formulaTable("m" -> "a * 2", "v" -> "a.sum()", "s" -> "1 + 2")
    val calc = new CoefficientCalculator(reg("a" -> fixA), fm, adpEnabled = false)
    val out = calc.computeCoefficients()
    calc.writeResults(out, dir)
    val m = spark.read.parquet(s"$dir/m")
    assert(m.count() == 3 && m.columns.toSeq == Seq("__row_id__", "c0", "c1", "c2"))
    assert(spark.read.parquet(s"$dir/v").count() == 1)
    assert(spark.read.parquet(s"$dir/s").head().getDouble(0) == 3.0)
  }

  test("results are not fed back into the registry (no chaining, S4)") {
    val fm = formulaTable("first" -> "a * 2", "second" -> "first + 1")
    val calc = new CoefficientCalculator(reg("a" -> fixA), fm, adpEnabled = false)
    val out = calc.computeCoefficients()
    assert(out.keySet == Set("first")) // 'second' skipped: 'first' unknown
  }

  test("parallel batch evaluation matches sequential results (X3 pool)") {
    val fm = formulaTable(
      "sum_ab" -> "a + b", "diff_ab" -> "a - b", "prod" -> "a * c",
      "skipme" -> "", "missing" -> "a + nope", "scaled" -> "a * 2.5")
    def run(par: Int) = {
      val out = new CoefficientCalculator(
        reg("a" -> fixA, "b" -> fixB, "c" -> fixC), fm,
        adpEnabled = false, parallelism = par).computeCoefficients()
      out.map { case (n, MatrixResult(df, rowId, labels, _)) =>
        n -> cells(df, rowId, labels) }
    }
    val (seq1, par4) = (run(1), run(4))
    assert(seq1.keys.toSeq == par4.keys.toSeq) // table order preserved
    assert(seq1 == par4)
    // errors propagate from the pool like the sequential loop
    val bad = new CoefficientCalculator(reg("a" -> fixA, "e" -> fixE),
      formulaTable("d" -> "a / e"), adpEnabled = false, parallelism = 4)
    assertThrows[graft.validate.AllInvalidResultException](bad.computeCoefficients())
  }

  test("chainResults extension: later formulas see earlier results (S4 ext)") {
    val fm = formulaTable(
      "first" -> "a * 2", "second" -> "first + 1",  // matrix chain
      "tot" -> "first.sum()", "scaled" -> "a * tot") // reduction → vec chain
    val calc = new CoefficientCalculator(reg("a" -> fixA), fm,
      adpEnabled = false, chainResults = true)
    val out = calc.computeCoefficients()
    assert(out.keySet == Set("first", "second", "tot", "scaled"))
    val MatrixResult(df, rowId, labels, _) = out("second"): @unchecked
    val got = cells(df, rowId, labels)
    assert(got(0L)("c0") == 3.0) // a(0,0)=1 → 1*2+1
    // chained name shadows an input of the same name
    val fm2 = formulaTable("a" -> "a + 1", "b2" -> "a * 10")
    val out2 = new CoefficientCalculator(reg("a" -> fixA), fm2,
      adpEnabled = false, chainResults = true).computeCoefficients()
    val MatrixResult(df2, rid2, lb2, _) = out2("b2"): @unchecked
    assert(cells(df2, rid2, lb2)(0L)("c0") == 20.0) // (1+1)*10
  }

  // ---- the staged commit: each validated formula is computed once --------

  /** Fixtures a, b, c and i (FIXTURES.md §A) as column groups of ONE
    * backing frame, so that a formula over them plans no join and an
    * action over it is one Spark job. */
  private lazy val shared: Map[String, NamedData] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val names = Seq("a" -> fixA, "b" -> fixB, "c" -> fixC, "i" -> fixI)
    val cols = for ((n, _) <- names; j <- 0 until 3) yield s"$n$j"
    val vals = names.map { case (_, m) => cells(m.base, m.rowId, m.labels) }
    val rows = (0L until 3L).map(r =>
      Row.fromSeq(r +: (for (v <- vals; j <- 0 until 3) yield v(r)(s"c$j"))))
    val base = spark.createDataFrame(java.util.List.of(rows: _*), StructType(
      StructField("__row_id__", LongType) +: cols.map(StructField(_, DoubleType))))
    names.map { case (n, _) =>
      n -> Matrix(base, "__row_id__", (0 until 3).map(j => (s"c$j", s"$n$j")))
    }.toMap
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_sink").toString

  /** What a calculator has staged and not yet committed. */
  private def stagedCopies(calc: CoefficientCalculator): Seq[String] = {
    val root = calc.stagingRoot
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil else fs.listStatus(root).map(_.getPath.getName).toSeq
  }

  /** The parquet part files under a directory. */
  private def partFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).toSet.flatten.filter(_.startsWith("part-"))

  /** A written result's rows, sorted, every cell as a string. */
  private def rowsAt(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.mkString("|")).toSeq.sorted

  test("staged commit: an ADP batch of k matrix formulas runs k jobs, its write none") {
    val fm = formulaTable("m1" -> "a * b + c", "m2" -> "a - b", "m3" -> "a * 2")
    val calc = new CoefficientCalculator(shared, fm, adpEnabled = true)
    val (out, computeJobs) = jobsOf(calc.computeCoefficients())
    assert(computeJobs == 3)
    assert(stagedCopies(calc).size == 3)
    val dir = tmpDir()
    val (_, writeJobs) = jobsOf(calc.writeResults(out, dir))
    assert(writeJobs == 0)
    assert(stagedCopies(calc).isEmpty)
    val got = cells(spark.read.parquet(s"$dir/m1"), "__row_id__", Seq("c0", "c1", "c2"))
    assert(got(0L)("c0") == 3.0 && got(1L)("c2") == 26.0)
    // the returned results keep their lazy plans
    val MatrixResult(df, rowId, labels, _) = out("m1"): @unchecked
    assert(cells(df, rowId, labels) == got)
  }

  test("staged commit: a standard-mode cumsum runs its slice-scan partial pass once") {
    val fm = formulaTable("cs" -> "i.cumsum()")
    def calc = new CoefficientCalculator(shared, fm, adpEnabled = false)
    calc.computeCoefficients() // warm the slice layout and its bounds
    val c = calc
    val dir = tmpDir()
    val (_, jobs) = jobsOf(c.writeResults(c.computeCoefficients(), dir))
    // the partial pass (a nested job) and the staged write; a separate
    // stats action would run both again
    assert(jobs == 2)
    val got = cells(spark.read.parquet(s"$dir/cs"), "__row_id__", Seq("c0", "c1", "c2"))
    assert(got(2L)("c0") == 23.0 && got(1L)("c2") == 10.0 && got(2L)("c2").isNaN)
  }

  test("staged commit: a cached read of the target sees the new rows, renamed or rewritten") {
    val dir = tmpDir()
    /** Computes and writes `m`; true when the staged copy was renamed there. */
    def write(formula: String, fill: Boolean): Boolean = {
      val calc = new CoefficientCalculator(shared, formulaTable("m" -> formula),
        adpEnabled = false, fillInvalid = fill)
      val out = calc.computeCoefficients()
      val copy = stagedCopies(calc)
        .flatMap(n => partFiles(s"${calc.stagingRoot.toUri.getPath}/$n")).toSet
      calc.writeResults(out, dir)
      copy.nonEmpty && copy == partFiles(s"$dir/m")
    }
    def cellAt(rowId: Long): Double =
      cells(spark.read.parquet(s"$dir/m"), "__row_id__", Seq("c0"))(rowId)("c0")
    write("a * 2", fill = false)
    val cached = spark.read.parquet(s"$dir/m").cache()
    try {
      assert(cached.count() == 3 && cellAt(1L) == 8.0)
      assert(write("a * 3", fill = false)) // the rename commit
      assert(cellAt(1L) == 12.0)
      assert(!write("a * 4", fill = true)) // a fill result: a plain write
      assert(cellAt(1L) == 16.0)
    } finally cached.unpersist()
  }

  test("staged commit: a staging root that cannot be made falls back to the stats job") {
    import org.apache.hadoop.fs.Path
    val blocker = java.io.File.createTempFile("graft_staging", ".file") // not a directory
    blocker.deleteOnExit()
    // a scheme with no FileSystem, and a parent that is a regular file
    for (parent <- Seq(new Path("nofs://nowhere/staging"), new Path(blocker.toURI))) {
      val calc = new CoefficientCalculator(shared,
        formulaTable("m" -> "a * 2", "n" -> "a + 1"), adpEnabled = false)
      calc.stagingParent = parent
      val (out, computeJobs) = jobsOf(calc.computeCoefficients())
      // the stats job per formula, its aggregate's map stage a job of its own
      assert(computeJobs == 4, s"under $parent")
      val dir = tmpDir()
      assert(jobsOf(calc.writeResults(out, dir))._2 == 2) // written from the plans
      assert(cells(spark.read.parquet(s"$dir/m"), "__row_id__", Seq("c0"))(1L)("c0") == 8.0)
      val failing = new CoefficientCalculator(reg("a" -> fixA, "e" -> fixE),
        formulaTable("d" -> "a / e"), adpEnabled = false)
      failing.stagingParent = parent
      assertThrows[graft.validate.AllInvalidResultException](failing.computeCoefficients())
    }
  }

  test("staged commit: a verbose fill-mode calculator stages nothing") {
    val calc = new CoefficientCalculator(shared, formulaTable("m" -> "a * 2"),
      adpEnabled = false, fillInvalid = true, verbose = true)
    val (out, computeJobs) = jobsOf(calc.computeCoefficients())
    assert(computeJobs == 2) // the validator's stats job and its map stage
    assert(stagedCopies(calc).isEmpty)
    val dir = tmpDir()
    assert(jobsOf(calc.writeResults(out, dir))._2 == 1) // written from the plan
    assert(cells(spark.read.parquet(s"$dir/m"), "__row_id__", Seq("c0"))(1L)("c0") == 8.0)
  }

  test("staging hygiene: copies go with a failed batch, the next batch and the write") {
    val failing = new CoefficientCalculator(reg("a" -> fixA, "e" -> fixE),
      formulaTable("ok" -> "a + 1", "d" -> "a / e", "ok2" -> "a * 2"), adpEnabled = false)
    assertThrows[graft.validate.AllInvalidResultException](failing.computeCoefficients())
    assert(stagedCopies(failing).isEmpty)

    val calc = new CoefficientCalculator(shared,
      formulaTable("m" -> "a * 2", "n" -> "a + 1"), adpEnabled = false)
    val first = calc.computeCoefficients()
    val firstCopies = stagedCopies(calc)
    assert(firstCopies.size == 2)
    val second = calc.computeCoefficients()
    assert(stagedCopies(calc).size == 2 && stagedCopies(calc).intersect(firstCopies).isEmpty)
    val (dir1, dir2) = (tmpDir(), tmpDir())
    calc.writeResults(second, dir1)
    assert(stagedCopies(calc).isEmpty)
    // the first batch's copies are gone: its results are written from their plans
    calc.writeResults(first, dir2)
    assert(rowsAt(s"$dir1/m") == rowsAt(s"$dir2/m"))
  }

  test("staging hygiene: writing one result twice gives identical parquet") {
    val calc = new CoefficientCalculator(shared, formulaTable("m" -> "a / i"),
      adpEnabled = false)
    val out = calc.computeCoefficients()
    val (dir1, dir2) = (tmpDir(), tmpDir())
    assert(jobsOf(calc.writeResults(out, dir1))._2 == 0) // the rename commit
    assert(jobsOf(calc.writeResults(out, dir2))._2 == 1) // a plain write
    assert(partFiles(s"$dir1/m").size == partFiles(s"$dir2/m").size)
    assert(spark.read.parquet(s"$dir1/m").schema == spark.read.parquet(s"$dir2/m").schema)
    assert(rowsAt(s"$dir1/m") == rowsAt(s"$dir2/m"))
  }

  test("writeResults writes a multi-result map on the pool as it does one by one") {
    val fm = formulaTable("m" -> "a / i", "v" -> "i.sum()", "s" -> "1 + 2")
    def written(par: Int): Map[String, Seq[String]] = {
      val calc = new CoefficientCalculator(shared, fm,
        adpEnabled = false, fillInvalid = true, parallelism = par)
      val dir = tmpDir()
      calc.writeResults(calc.computeCoefficients(), dir)
      Seq("m", "v", "s").map(n => n -> rowsAt(s"$dir/$n")).toMap
    }
    val (seq1, par4) = (written(1), written(4))
    assert(seq1 == par4)
    assert(seq1("m").size == 3 && seq1("s") == Seq("3.0"))
  }
}
