package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The r15 session-shared slice layout (`Prefix.sliceLayout`): the
  * keyCol-tied scan operators consume ONE persisted
  * (base + order + slice id) layout per session, with the per-query
  * derived value projections applied ABOVE it. These tests pin
  *
  *   1. bit-identity: the shared positional lag against its one-shot
  *      materialized form, and the ewm / running-quantile scans against
  *      golden digests (MurmurHash3 over the rid-ordered double bits,
  *      NULL marked) recorded when their legacy materialized forms still
  *      existed and matched the shared path bit for bit — on a fuzzed
  *      NULL/NaN-bearing frame, so the layout may not change the merge
  *      order or any emitted value;
  *   2. the plan contract: every shared emit consumes the cached layout
  *      with NO exchange between the in-memory scan and the
  *      SliceScanExec emitter (the per-query exchange + sort is gone);
  *   3. reuse: two different shared queries over the same base register
  *      exactly one layout; and the per-session registry stays bounded
  *      by its cap under distinct bases, evicting the least recently
  *      used layout;
  *   4. freshness: a Spark overwrite of a parquet source is seen by the
  *      next shared-layout scan over a re-read of that path;
  *   5. the scan's one-partition-per-slice guard on the collected
  *      partials;
  *   6. the running scan's combine: every fold, forward and reversed,
  *      emits the same bits on four slices as on one, equal to a
  *      sequential fold, on integer-valued and decimal cells.
  */
class SliceLayoutSpec extends SparkSpec {

  private def frame(n: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("rid", LongType, nullable = false),
      StructField("a", DoubleType, nullable = true),
      StructField("b", DoubleType, nullable = true)))
    val rnd = new scala.util.Random(42)
    val rows = (0 until n).map { i =>
      def cell(): java.lang.Double = rnd.nextInt(10) match {
        case 0 => null
        case 1 => Double.box(Double.NaN)
        case _ => Double.box(math.rint(rnd.nextDouble() * 50) / 2.0)
      }
      Row(i.toLong, cell(), cell())
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .repartition(5) // multi-partition input, unlike the cached bench base
  }

  /** Exact (bitwise-for-doubles, NaN == NaN) frame comparison in rid
    * order over the named output columns. */
  private def assertSame(legacy: DataFrame, shared: DataFrame,
                         outs: Seq[String]): Unit = {
    def dump(df: DataFrame): Seq[Seq[java.lang.Long]] =
      df.orderBy(col("rid")).select(outs.map(col): _*).collect().toSeq
        .map(r => outs.indices.map(i =>
          if (r.isNullAt(i)) null
          else Long.box(java.lang.Double.doubleToLongBits(r.getDouble(i)))))
    val (l, s) = (dump(legacy), dump(shared))
    assert(l == s, s"shared path diverged from legacy: ${
      l.zip(s).zipWithIndex.filter(p => p._1._1 != p._1._2).take(3)}")
  }

  private def derived(df: DataFrame, names: Seq[String]): Seq[
      org.apache.spark.sql.Column] =
    Seq(when(col("a").isNull || isnan(col("a")), lit(Double.NaN))
        .otherwise(col("a")).as(names(0)),
      when(col("b").isNull || isnan(col("b")), lit(Double.NaN))
        .otherwise(col("b")).as(names(1)))

  test("positionalLagShared window fuse is bit-identical to the legacy path") {
    val df = frame(400)
    val names = Seq("va", "vb")
    val d = derived(df, names)
    val legacy = Prefix.positionalLag(df.select(col("*") +: d: _*), "rid",
      col("rid"), names, 4, names.map(_ + "_w"), fuse = Prefix.Fuse.Mean,
      winMinPeriods = 2)
    val shared = Prefix.positionalLagShared(df, d, "rid", col("rid"),
      names, 4, names.map(_ + "_w"), fuse = Prefix.Fuse.Mean, winMinPeriods = 2)
    assertSame(legacy, shared, names.map(_ + "_w"))
  }

  test("positionalLagShared diff fuse and lead are bit-identical") {
    val df = frame(300)
    val names = Seq("va", "vb")
    val d = derived(df, names)
    for (n <- Seq(3, -2)) {
      val legacy = Prefix.positionalLag(df.select(col("*") +: d: _*),
        "rid", col("rid"), names, n, names.map(_ + "_s"),
        fuse = if (n > 0) Prefix.Fuse.Diff else Prefix.Fuse.Donor)
      val shared = Prefix.positionalLagShared(df, d, "rid", col("rid"),
        names, n, names.map(_ + "_s"), fuse = if (n > 0) Prefix.Fuse.Diff else Prefix.Fuse.Donor)
      assertSame(legacy, shared, names.map(_ + "_s"))
    }
  }

  /** Order-sensitive digest of the rid-ordered output doubles (bits,
    * NaN canonical, NULL marked) — the golden form of [[assertSame]]. */
  private def digest(df: DataFrame, outs: Seq[String]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(
      df.orderBy(col("rid")).select(outs.map(col): _*).collect().toSeq
        .flatMap(r => outs.indices.map(i =>
          if (r.isNullAt(i)) "null"
          else java.lang.Double.doubleToLongBits(r.getDouble(i)))))

  /** The goldens assume the suite's 4 slices: the ewm Chan merge
    * associates per slice boundary. */
  private def fourSlices[T](body: => T): T = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("ewmScan / ewmScanRecursive shared are bit-identical") {
    val df = frame(350)
    val names = Seq("va", "vb")
    val d = derived(df, names)
    val outs = names.map(_ + "_w")
    val golden = Map(
      ("ewmScan", "mean") -> 214943405, ("ewmScan", "var") -> 2062883810,
      ("ewmScanRecursive", "mean") -> 1189695060,
      ("ewmScanRecursive", "var") -> -512093451)
    fourSlices {
      for ((stat, st) <- Seq("mean" -> Prefix.EwmStat.Mean,
          "var" -> Prefix.EwmStat.Var)) {
        assert(digest(Prefix.ewmScan(df, d, "rid", col("rid"), names, 0.3,
          outs, st, 2), outs) == golden(("ewmScan", stat)),
          s"ewmScan $stat moved off its golden digest")
        assert(digest(Prefix.ewmScanRecursive(df, d, "rid", col("rid"),
          names, 0.3, outs, st, 2), outs) ==
          golden(("ewmScanRecursive", stat)),
          s"ewmScanRecursive $stat moved off its golden digest")
      }
    }
  }

  test("runningQuantile shared is bit-identical (domains, counts, emit)") {
    val df = frame(300)
    val names = Seq("va", "vb")
    val outs = names.map(_ + "_q")
    // exact order statistics: the digest holds at any slice count
    assert(digest(Prefix.runningQuantile(df, derived(df, names), "rid",
      col("rid"), names, 0.25, 0, outs, 2), outs) == -793738030,
      "runningQuantile moved off its golden digest")
  }

  test("shared emit reads the cached layout with no exchange above it") {
    val df = frame(200)
    val names = Seq("va", "vb")
    val d = derived(df, names)
    val outs = names.map(_ + "_w")
    val scans = Seq(
      "positionalLagShared" -> Prefix.positionalLagShared(df, d, "rid",
        col("rid"), names, 2, outs, fuse = Prefix.Fuse.Sum, winMinPeriods = 1),
      "ewmScan" -> Prefix.ewmScan(df, d, "rid", col("rid"), names, 0.3,
        outs, Prefix.EwmStat.Var, 2),
      "ewmScanRecursive" -> Prefix.ewmScanRecursive(df, d, "rid",
        col("rid"), names, 0.3, outs, Prefix.EwmStat.Mean, 2),
      "runningQuantile" -> Prefix.runningQuantile(df, d, "rid", col("rid"),
        names, 0.5, 0, outs, 1),
      "runningScan" -> Prefix.runningScan(df, d, "rid", col("rid"), names,
        Seq(Prefix.RunKind.Sum, Prefix.RunKind.Last), outs),
      "runningScan rev" -> Prefix.runningScan(df, d, "rid", col("rid"),
        names, Seq(Prefix.RunKind.Max, Prefix.RunKind.Last), outs,
        rev = true))
    import org.apache.spark.sql.execution.SparkPlan
    // find the SliceScanExec emitter and walk its subtree: it must reach
    // an InMemoryTableScan without crossing a shuffle exchange
    def findEmit(p: SparkPlan): Option[SparkPlan] =
      if (p.getClass.getSimpleName.startsWith("SliceScanExec")) Some(p)
      else p.children.iterator.map(findEmit).collectFirst {
        case Some(x) => x }
    def collapse(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collapse(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collapse(q.plan)
      case other => other
    }
    def scanBelow(p: SparkPlan): Boolean = {
      val c = collapse(p)
      if (c.getClass.getSimpleName.startsWith("ShuffleExchange")) false
      else if (c.getClass.getSimpleName.startsWith("InMemoryTableScan")) true
      else c.children.exists(scanBelow)
    }
    for ((name, shared) <- scans) {
      shared.count() // materialize the layout so the final plan is real
      val plan = shared.queryExecution.executedPlan
      val emit = findEmit(collapse(plan))
      assert(emit.isDefined, s"$name: no SliceScanExec emitter in:\n$plan")
      assert(scanBelow(emit.get),
        s"$name: shared emit does not sit on the cached layout:\n${emit.get}")
    }
  }

  test("one layout per (base, order, key); registry bounded by its cap") {
    val df = frame(250)
    val names = Seq("va", "vb")
    val d1 = derived(df, names)
    val d2 = Seq((col("a") * 2).as(names(0)), (col("b") * 3).as(names(1)))
    Prefix.positionalLagShared(df, d1, "rid", col("rid"), names, 2,
      names.map(_ + "_w"), fuse = Prefix.Fuse.Sum, winMinPeriods = 1).count()
    val afterOne = Prefix.sliceLayouts(spark).size
    Prefix.ewmScan(df, d2, "rid", col("rid"), names, 0.5,
      names.map(_ + "_e"), Prefix.EwmStat.Mean, 0).count()
    assert(Prefix.sliceLayouts(spark).size == afterOne,
      "a second shared query over the same base registered a new layout")
    // distinct bases may not grow the registry past its cap
    (0 until 20).foreach { i =>
      Prefix.positionalLagShared(frame(60 + i), d1, "rid", col("rid"),
        names, 1, names.map(_ + "_w"), fuse = Prefix.Fuse.Sum,
        winMinPeriods = 1).count()
    }
    // the shared suite session may already sit AT the cap from earlier
    // suites' compiled formulas, so pin the bound and that registration
    // happens at all — not growth relative to an unknown start
    assert(Prefix.sliceLayouts(spark).size <= 16,
      s"layout registry exceeded its cap: ${Prefix.sliceLayouts(spark).size}")
    assert(Prefix.sliceLayouts(spark).size >= 1,
      "layouts were never registered")
  }

  test("a layout touched between distinct-base churn is never evicted") {
    val cache = spark.sharedState.cacheManager
    def layout(df: DataFrame): DataFrame =
      Prefix.sliceLayout(df, "rid", col("rid"), 4, rev = false)
    // sizes unlike the cap test's, so every churn base is a miss
    val hotBase = frame(41)
    val hot = layout(hotBase)
    (0 until 20).foreach { i =>
      layout(frame(100 + i))
      layout(hotBase) // a hit: moves the hot layout to the end
    }
    assert(Prefix.sliceLayouts(spark).exists(_ eq hot),
      "the hot layout was evicted from the registry")
    assert(cache.lookupCachedData(
        hot.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined,
      "the hot layout is no longer persisted")
  }

  test("a Spark overwrite of the source is seen by a re-read scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-slc")
    val path = dir.resolve("src.parquet").toString
    def write(v: Double): Unit =
      spark.range(10).select(col("id").as("rid"), lit(v).as("v"))
        .write.mode("overwrite").parquet(path)
    def scan(): (Double, Double) = {
      val r = Prefix.positionalLagShared(spark.read.parquet(path),
        Seq(col("v").as("vv")), "rid", col("rid"), Seq("vv"), 2,
        Seq("vv_w"), fuse = Prefix.Fuse.Sum, winMinPeriods = 1)
        .agg(sum("v"), sum("vv_w")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    try {
      write(1.0)
      // window sums over ten rows, window 3: 1 + 2 + 8·3 = 27 per unit
      assert(scan() == (10.0, 27.0))
      write(4.0)
      assert(scan() == (40.0, 108.0),
        "the re-read scan served the rows from before the overwrite")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a slice partial arriving from two partitions is refused") {
    import graft.plans.SliceScan.slicePartials
    val one = Seq(0 -> Seq(1.0), 2 -> Seq(2.0))
    assert(slicePartials(one.iterator, 4) ==
      Map(0 -> Seq(1.0), 2 -> Seq(2.0)))
    val dup = intercept[IllegalStateException](
      slicePartials((one :+ (0 -> Seq(3.0))).iterator, 4))
    assert(dup.getMessage.contains("two partitions"))
    intercept[IllegalStateException](
      slicePartials(Iterator(4 -> Seq(1.0)), 4))
  }

  test("runningScan: every fold, forward and reversed, emits the same " +
      "bits on 4 slices as on 1, equal to the sequential fold") {
    import Prefix.RunKind._
    val n = 3000
    val rnd = new scala.util.Random(7)
    // integer-valued doubles, ±1/2 factors (exact products) and decimals,
    // each with one hole in six
    val rows = (0 until n).map { i =>
      def hole = rnd.nextInt(6) == 0
      Row(i.toLong,
        if (hole) null else Double.box(rnd.nextInt(201) - 100),
        if (hole) null
        else Double.box(if (i % 97 == 0) 2.0 else if (rnd.nextBoolean()) 1.0
                        else -1.0),
        if (hole) null
        else java.math.BigDecimal.valueOf(rnd.nextInt(20001) - 10000L, 2))
    }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("rid", LongType, nullable = false),
        StructField("x", DoubleType), StructField("p", DoubleType),
        StructField("d", DecimalType(12, 2)))))
      .repartition(5)
    val specs = Seq("x" -> Sum, "x" -> Max, "x" -> Min, "p" -> Prod,
      "x" -> Last, "d" -> Sum, "d" -> Max, "d" -> Min, "d" -> Last)
    val ins = specs.indices.map(i => s"i$i")
    val outs = ins.map(_ + "_o")
    val gaps = specs.zip(outs).collect { case ((_, Last), o) => o + "_gap" }
    def cell(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case other => other
    }
    def scanned(parts: Int, rev: Boolean): Seq[Seq[Any]] = {
      val saved = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try Prefix.runningScan(df, specs.zip(ins).map { case ((c, _), i) =>
          col(c).as(i) }, "rid", col("rid"), ins, specs.map(_._2), outs,
          rev = rev)
        .orderBy("rid").select((outs ++ gaps).map(col): _*).collect()
        .map(_.toSeq.map(cell)).toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    }
    // the sequential fold, row by row in stream order
    def sequential(rev: Boolean): Seq[Seq[Any]] = {
      val acc = new Array[Any](specs.length)
      val gap = new Array[Long](specs.length)
      val order = if (rev) rows.reverse else rows
      val out = order.map { r =>
        specs.indices.foreach { j =>
          val (c, k) = specs(j)
          val v = r.get(Seq("x", "p", "d").indexOf(c) + 1)
          if (v == null) gap(j) += 1
          else {
            gap(j) = 0
            acc(j) = if (acc(j) == null || k == Last) v else (acc(j), v) match {
              case (a: Double, b: Double) => k match {
                case Sum => a + b; case Prod => a * b
                case Max => if (b > a) b else a; case _ => if (b < a) b else a
              }
              case (a: java.math.BigDecimal, b: java.math.BigDecimal) =>
                k match {
                  case Sum => a.add(b)
                  case Max => if (b.compareTo(a) > 0) b else a
                  case _ => if (b.compareTo(a) < 0) b else a
                }
              case other => fail(s"unexpected cells $other")
            }
          }
        }
        (acc.toSeq ++ specs.indices.collect { case j if specs(j)._2 == Last =>
          if (acc(j) == null) null else Double.box(gap(j).toDouble) })
          .map(cell)
      }
      if (rev) out.reverse else out
    }
    for (rev <- Seq(false, true)) {
      val (four, one) = (scanned(4, rev), scanned(1, rev))
      val want = sequential(rev)
      assert(four.length == n)
      for ((got, name) <- Seq(four -> "4 slices", one -> "1 slice")) {
        got.indices.find(i => got(i) != want(i)).foreach(i =>
          fail(s"rev=$rev $name: row $i: got ${got(i)}, sequential ${want(i)}"))
      }
    }
  }
}
