package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[Prefix.runningAgg]] — the two-phase distributed prefix that replaces
  * single-partition `ORDER BY` windows for running aggregates. Checked
  * against a driver-side sequential fold on inputs that exercise NULL
  * skipping, values spread across many range partitions, and partitions
  * left empty by the range partitioner.
  */
class PrefixSpec extends SparkSpec {

  private def frame(values: Seq[java.lang.Double]) = {
    val schema = StructType(Seq(
      StructField("ord", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    val rows = values.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
  }

  private def sequential(values: Seq[java.lang.Double],
                         combine: (Double, Double) => Double): Seq[java.lang.Double] = {
    var acc: java.lang.Double = null
    values.map { v =>
      if (v == null) acc
      else { acc = if (acc == null) v else Double.box(combine(acc, v)); acc }
    }
  }

  private def check(kind: String, combine: (Double, Double) => Double): Unit = {
    val values: Seq[java.lang.Double] =
      Seq[java.lang.Double](3.0, null, 1.0, 7.0, null, 2.0, 2.0, 9.0, null, 4.0, 0.0, 8.0)
    val out = Prefix.runningAgg(frame(values), col("ord"), Seq("v"), Seq(kind), Seq("run"))
      .orderBy(col("ord")).select(col("run")).collect()
      .map(r => if (r.isNullAt(0)) null else Double.box(r.getDouble(0))).toSeq
    assert(out == sequential(values, combine), s"$kind mismatch: $out")
  }

  test("running sum matches a sequential fold, NULLs skipped") { check("sum", _ + _) }
  test("running max matches a sequential fold") { check("max", math.max) }
  test("running min matches a sequential fold") { check("min", math.min) }

  test("leading NULLs stay NULL until the first value") {
    val values: Seq[java.lang.Double] = Seq[java.lang.Double](null, null, 5.0, null, 1.0)
    val out = Prefix.runningAgg(frame(values), col("ord"), Seq("v"), Seq("sum"), Seq("run"))
      .orderBy(col("ord")).select(col("run")).collect()
      .map(r => if (r.isNullAt(0)) null else Double.box(r.getDouble(0))).toSeq
    assert(out == Seq[java.lang.Double](null, null, 5.0, 5.0, 6.0))
  }

  test("multiple specs over one pass agree with independent calls") {
    val values: Seq[java.lang.Double] =
      Seq[java.lang.Double](5.0, 2.0, null, 8.0, 1.0, 1.0, 9.0)
    val out = Prefix.runningAgg(frame(values), col("ord"),
        Seq("v", "v", "v"), Seq("sum", "max", "min"), Seq("s", "mx", "mn"))
      .orderBy(col("ord")).select(col("s"), col("mx"), col("mn")).collect()
    def colOf(i: Int) = out.map(r => if (r.isNullAt(i)) null else Double.box(r.getDouble(i))).toSeq
    assert(colOf(0) == sequential(values, _ + _))
    assert(colOf(1) == sequential(values, math.max))
    assert(colOf(2) == sequential(values, math.min))
  }

  test("no data-scaled single-partition window in the plan") {
    val df = Prefix.runningAgg(frame(Seq[java.lang.Double](1.0, 2.0, 3.0)),
      col("ord"), Seq("v"), Seq("sum"), Seq("run"))
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected window nodes in:\n$plan")
    windows.foreach { w =>
      // unpartitioned windows may only sit on the bounded ≤nParts partials
      // aggregate (the offsets scan); the running window must be
      // partitioned by the physical partition id
      val boundedOffsets = w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.groupingExpressions.exists(_.toString.contains("__pfx_pid")) => a
      }.nonEmpty
      assert(w.partitionSpec.nonEmpty || boundedOffsets,
        s"data-scaled single-partition window:\n$plan")
    }
    assert(plan.toString.contains("__pfx_pid"),
      s"expected pid-partitioned window:\n$plan")
  }

  test("grouped running agg restarts per group, distributed within each") {
    val schema = StructType(Seq(
      StructField("g", StringType, nullable = false),
      StructField("ord", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    val rows = for (g <- Seq("a", "b", "c"); i <- 0 until 40) yield
      Row(g, i.toLong, if ((i + g.hashCode) % 5 == 0) null
        else Double.box(((i * 31 + g.hashCode) % 17).toDouble))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val out = Prefix.runningAgg(df, col("ord"), Seq("v"), Seq("sum"), Seq("run"),
        partitionCols = Seq("g"))
      .orderBy(col("g"), col("ord"))
      .select(col("g"), col("v"), col("run")).collect()
    // driver reference: per-group sequential fold
    val byG = rows.groupBy(_.getString(0))
    for (g <- Seq("a", "b", "c")) {
      val vals = byG(g).sortBy(_.getLong(1)).map(r =>
        if (r.isNullAt(2)) null else Double.box(r.getDouble(2)))
      val expect = sequential(vals, _ + _)
      val got = out.filter(_.getString(0) == g)
        .map(r => if (r.isNullAt(2)) null else Double.box(r.getDouble(2))).toSeq
      assert(got == expect, s"group $g mismatch")
    }
  }

  test("larger-than-partition-count input: global order holds across partitions") {
    val n = 5000
    val values: Seq[java.lang.Double] =
      (0 until n).map(i => if (i % 7 == 3) null
        else Double.box(((i * 2654435761L) % 1000).toDouble)) // deterministic spread
    val out = Prefix.runningAgg(frame(values), col("ord"), Seq("v"), Seq("sum"), Seq("run"))
      .orderBy(col("ord")).select(col("run")).collect()
      .map(r => if (r.isNullAt(0)) null else Double.box(r.getDouble(0))).toSeq
    assert(out == sequential(values, _ + _))
  }

  test("a CONSTANT order column still computes correctly (and spreads slices)") {
    // r8: sampled-quantile slices split order-value ties by the tie hash,
    // so even a degenerate single-value order domain parallelizes; the
    // running sum under ties is any valid arbitrary tie order — for sum
    // of the same rows, every tie order gives the same FINAL prefix set
    val n = 2000
    val schema = StructType(Seq(
      StructField("ord", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    val rows = (0 until n).map(i => Row(7L, Double.box(1.0)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    // tieCols default = ord + values (all constant here) → one slice is
    // legal; with a row-entropy tie the slices must SPREAD
    val out = Prefix.runningAgg(df, col("ord"), Seq("v"), Seq("sum"), Seq("run"))
      .select(col("run")).collect().map(_.getDouble(0)).sorted
    assert(out.toSeq == (1 to n).map(_.toDouble), "prefix set must be 1..n")
    val hist = Prefix.withSliceId(df.withColumn("rk", monotonically_increasing_id()),
        col("ord"), Seq("v"), Nil, descending = false, nullsLast = false,
        tieCols = Seq(col("rk")), 32)
      .groupBy("__pfx_pid").count().collect()
    assert(hist.length > 16,
      s"constant order with row-entropy ties must use most slices, got ${hist.length}")
  }

  private def lagFrame(n: Int, ord: Int => Long) = {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("o", LongType, nullable = false),
      StructField("a", DoubleType, nullable = true),
      StructField("b", DoubleType, nullable = false)))
    val rows = (0 until n).map { i =>
      Row(i.toLong, ord(i),
        if (i % 7 == 0) null else Double.box(i.toDouble),
        Double.box(i * 1000.0))
    }
    (rows, spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema).repartition(7))
  }

  test("positionalLag: lag and lead match a driver reference on a unique order") {
    val n = 500
    val (rows, df) = lagFrame(n, i => (i * 13 % 997).toLong * 1000 + i) // unique, shuffled
    for (shift <- Seq(1, 3, -2)) {
      val out = Prefix.positionalLag(df, "k", col("o"), Seq("a", "b"), shift,
          Seq("la", "lb")).orderBy(col("o"))
        .select(col("k"), col("la"), col("lb")).collect()
      val sorted = rows.sortBy(_.getLong(1))
      val byPos = sorted.zipWithIndex.map { case (r, i) => i -> r }.toMap
      sorted.zipWithIndex.foreach { case (r, i) =>
        val got = out(i)
        assert(got.getLong(0) == r.getLong(0), "row order must follow o")
        byPos.get(i - shift) match {
          case None => assert(got.isNullAt(1) && got.isNullAt(2),
            s"edge row $i shift $shift must be NULL")
          case Some(d) =>
            if (d.isNullAt(2)) assert(got.isNullAt(1),
              s"NULL donor value must stay NULL at $i shift $shift")
            else assert(!got.isNullAt(1) && got.getDouble(1) == d.getDouble(2),
              s"donor a mismatch at $i shift $shift")
            assert(got.getDouble(2) == d.getDouble(3),
              s"donor b mismatch at $i shift $shift")
        }
      }
    }
  }

  test("positionalLag: heavy order ties form SOME valid total order") {
    // ties get an arbitrary-but-deterministic relative order (the engine
    // contract); the output must still be the successor structure of ONE
    // total order extending the o-order: exactly |n| edge NULLs, every
    // row donated at most once, donors never from a later o-group
    val n = 400
    val (rows, df) = lagFrame(n, i => (i / 50).toLong) // 8 big tie groups
    for (shift <- Seq(2, -3)) {
      val out = Prefix.positionalLag(df, "k", col("o"), Seq("b"), shift,
          Seq("lb")).select(col("k"), col("o"), col("lb")).collect()
      assert(out.length == n)
      val nullEdges = out.count(_.isNullAt(2))
      assert(nullEdges == math.abs(shift),
        s"expected ${math.abs(shift)} edge NULLs, got $nullEdges")
      val donorB = out.filter(!_.isNullAt(2)).map(_.getDouble(2))
      assert(donorB.distinct.length == donorB.length,
        "no row may donate twice")
      val oOfB = rows.map(r => r.getDouble(3) -> r.getLong(1)).toMap
      out.filter(!_.isNullAt(2)).foreach { r =>
        val dOrd = oOfB(r.getDouble(2))
        if (shift > 0) assert(dOrd <= r.getLong(1), "lag donor from later o-group")
        else assert(dOrd >= r.getLong(1), "lead donor from earlier o-group")
      }
    }
  }

  test("positionalLag: offsets past 256 take the join fallback, same semantics") {
    val n = 400
    val (rows, df) = lagFrame(n, i => i.toLong)
    val out = Prefix.positionalLag(df, "k", col("o"), Seq("b"), 300, Seq("lb"))
      .orderBy(col("o")).select(col("k"), col("lb")).collect()
    rows.indices.foreach { i =>
      val got = out(i)
      if (i < 300) assert(got.isNullAt(1), s"edge row $i")
      else assert(got.getDouble(1) == rows(i - 300).getDouble(3),
        s"donor mismatch at $i")
    }
  }

  test("positionalLag: cell budget routes wide frames to the join path (r9)") {
    // ADVICE: |n| ≤ 256 bounds only the edge-collect ROW count — a wide
    // value list multiplies the driver bytes. With a tiny cell budget the
    // same small offset must take the join fallback, same semantics.
    val n = 400
    val (rows, df) = lagFrame(n, i => i.toLong)
    val saved = spark.conf.getOption("graft.lag.maxEdgeCells")
    try {
      spark.conf.set("graft.lag.maxEdgeCells", "1")
      val out = Prefix.positionalLag(df, "k", col("o"), Seq("b"), 3, Seq("lb"))
        .orderBy(col("o")).select(col("k"), col("lb")).collect()
      rows.indices.foreach { i =>
        if (i < 3) assert(out(i).isNullAt(1), s"edge row $i")
        else assert(out(i).getDouble(1) == rows(i - 3).getDouble(3),
          s"donor mismatch at $i")
      }
    } finally {
      saved match {
        case Some(v) => spark.conf.set("graft.lag.maxEdgeCells", v)
        case None => spark.conf.unset("graft.lag.maxEdgeCells")
      }
    }
  }

  test("positionalLag fuseDiff = value - donor on both paths (r9)") {
    // fused emit must equal the two-step donor + subtraction with the
    // std NaN edge fill, NULL current values preserved, on BOTH the
    // streaming and the join fallback path
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    val vals: Seq[java.lang.Double] =
      Seq[java.lang.Double](3.0, 1.0, null, 7.0, 2.0, Double.NaN, 9.0, 4.0)
    val rows = vals.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    def expected(i: Int): java.lang.Double = {
      val cur = vals(i)
      if (cur == null) null
      else {
        val d = if (i < 2 || vals(i - 2) == null) Double.NaN
                else vals(i - 2).doubleValue()
        Double.box(cur.doubleValue() - d)
      }
    }
    def run(): Seq[java.lang.Double] =
      Prefix.positionalLag(df, "k", col("k"), Seq("v"), 2, Seq("d"),
          fuse = Prefix.Fuse.Diff)
        .orderBy(col("k")).select(col("d")).collect()
        .map(r => if (r.isNullAt(0)) null else Double.box(r.getDouble(0)))
        .toSeq
    def same(a: java.lang.Double, b: java.lang.Double): Boolean =
      (a == null && b == null) ||
        (a != null && b != null &&
          (a.isNaN && b.isNaN || a.doubleValue() == b.doubleValue()))
    val exp = vals.indices.map(expected)
    assert(run().zip(exp).forall((same _).tupled), s"stream path: ${run()}")
    val saved = spark.conf.getOption("graft.lag.maxEdgeCells")
    try {
      spark.conf.set("graft.lag.maxEdgeCells", "1") // force the join path
      assert(run().zip(exp).forall((same _).tupled), s"join path: ${run()}")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("graft.lag.maxEdgeCells", v)
        case None => spark.conf.unset("graft.lag.maxEdgeCells")
      }
    }
  }

  test("positionalLag: offset beyond the data length yields all NULL donors") {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    val rows = (0 until 10).map(i => Row(i.toLong, Double.box(i.toDouble)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val out = Prefix.positionalLag(df, "k", col("k"), Seq("v"), 50, Seq("lv"))
      .select(col("lv")).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("BIGINT order values beyond 2^53 keep the native order (r9)") {
    // ADVICE r8: the slice bucket key casts the order column to double,
    // but within-slice sorts use the NATIVE type — 2^53+i longs collide
    // pairwise in double, and the old (double, hash) composite could split
    // a collision pair across slices in hash order, silently producing a
    // running sum that is not a valid ORDER BY of the column. The native
    // surrogate (v) now orders collision groups exactly.
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val base = 1L << 53
      val n = 2000
      // deterministic shuffle of 2^53 + 0..n-1 (unique, pairwise-colliding)
      val ords = (0 until n).map(i => base + ((i * 977) % n))
      val schema = StructType(Seq(
        StructField("ord", LongType, nullable = false),
        StructField("one", DoubleType, nullable = false)))
      val rows = ords.map(o => Row(o, 1.0))
      val df = spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        schema).repartition(16)
      val out = Prefix.runningAgg(df, col("ord"), Seq("one"), Seq("sum"),
          Seq("run"))
        .orderBy(col("ord")).select(col("run")).collect()
        .map(_.getDouble(0)).toSeq
      // running count over a unique order domain == the native rank 1..n
      assert(out == (1 to n).map(_.toDouble),
        s"running sum must follow the native long order; head=${out.take(8)}")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("QuantileBucket kernel: empty, tiny and boundary-tie cases") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    def arr(elems: (Double, Long, Long)*): ArrayData =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        elems.map { case (o, v, t) => InternalRow(o, v, t) }.toArray[Any])
    import graft.functions.GraftVec.quantileBucket
    assert(quantileBucket(arr(), 5.0, 0L, 0L, 32) == 0, "empty sample → slice 0")
    val s = arr((1.0, 0L, 10L), (2.0, 0L, 20L), (3.0, 0L, 30L), (4.0, 0L, 40L))
    assert(quantileBucket(s, 0.5, 0L, 0L, 4) == 0)   // below all
    assert(quantileBucket(s, 9.0, 0L, 0L, 4) == 3)   // above all → clamp
    assert(quantileBucket(s, 2.0, 0L, 20L, 4) == 2)  // ≤ ties count inclusively
    assert(quantileBucket(s, 2.0, 0L, 19L, 4) == 1)  // tie hash below element
    // monotone in (o, v, t)
    val keys = Seq((0.0, 0L, 0L), (1.0, 0L, 9L), (1.0, 0L, 10L),
      (2.5, 0L, 0L), (4.0, 0L, 40L), (9.9, 0L, 1L))
    val buckets = keys.map { case (o, v, t) => quantileBucket(s, o, v, t, 4) }
    assert(buckets == buckets.sorted, s"must be monotone: $buckets")
    // r9: the native surrogate outranks the tie hash — BIGINTs beyond 2^53
    // collide in double, and the bucket order must follow v, not the hash
    val big = (1L << 53) // 2^53: 2^53 and 2^53+1 cast to the SAME double
    val d = big.toDouble
    val s2 = arr((d, big, 99L), (d, big + 1, 1L), (d, big + 2, 50L),
      (d, big + 3, 7L))
    val vKeys = Seq((d, big, 99L), (d, big + 1, 1L), (d, big + 2, 50L),
      (d, big + 3, 7L))
    val vb = vKeys.map { case (o, v, t) => quantileBucket(s2, o, v, t, 4) }
    // count-≤ of the i-th smallest element is i+1 → buckets (1, 2, 3, 3);
    // the point: they follow v, NOT the tie hashes (99, 1, 50, 7)
    assert(vb == Seq(1, 2, 3, 3),
      s"native-order surrogate must order a double-collision group: $vb")
    // ...and a probe below the whole group (smaller v, any hash) buckets 0
    assert(quantileBucket(s2, d, big - 2, 999L, 4) == 0)
  }

  test("slice ids agree across plan branches at high partition counts") {
    // REGRESSION: an earlier formulation derived the slice id from
    // repartitionByRange + spark_partition_id; the RangePartitioner seeds
    // its boundary sampling by RDD id, so the partials branch and the
    // output branch could bucket the SAME row differently unless the
    // exchange happened to be reused — silently double-counting offsets
    // (caught only at 32 partitions on the sf0.01 oracle). The slice id is
    // now a pure projection of the data; this pins the failing condition.
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val n = 5000
      val values: Seq[java.lang.Double] =
        (0 until n).map(i => if (i % 11 == 5) null
          else Double.box(((i * 1103515245L) % 997).toDouble))
      val out = Prefix.runningAgg(frame(values), col("ord"), Seq("v"), Seq("sum"), Seq("run"))
        .orderBy(col("ord")).select(col("run")).collect()
        .map(r => if (r.isNullAt(0)) null else Double.box(r.getDouble(0))).toSeq
      assert(out == sequential(values, _ + _))
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("positionalLag fuse=pct = value / donor - 1 on both paths, IEEE " +
      "zero-denominator (r9 session 2)") {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    // includes a ZERO donor (index 2 donates to 4: 2.0/0.0 = +Inf) and a
    // negative-over-zero pair (index 3 donates to 5: -5.0/0.0 = -Inf)...
    // laid out so every IEEE edge of the fused division is exercised
    val vals: Seq[java.lang.Double] = Seq[java.lang.Double](
      3.0, null, 0.0, 0.0, 2.0, -5.0, Double.NaN, 4.0)
    val rows = vals.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    def expected(i: Int): java.lang.Double = {
      val cur = vals(i)
      if (cur == null) null
      else {
        val d = if (i < 2 || vals(i - 2) == null) Double.NaN
                else vals(i - 2).doubleValue()
        Double.box(cur.doubleValue() / d - 1.0)
      }
    }
    def run(): Seq[java.lang.Double] =
      Prefix.positionalLag(df, "k", col("k"), Seq("v"), 2, Seq("p"),
          fuse = Prefix.Fuse.Pct)
        .orderBy(col("k")).select(col("p")).collect()
        .map(r => if (r.isNullAt(0)) null else Double.box(r.getDouble(0)))
        .toSeq
    def same(a: java.lang.Double, b: java.lang.Double): Boolean =
      (a == null && b == null) ||
        (a != null && b != null &&
          (a.isNaN && b.isNaN || a.doubleValue() == b.doubleValue()))
    val exp = vals.indices.map(expected)
    // sanity on the fixture: the IEEE edges are present
    assert(exp(4).isInfinite && exp(4) > 0)
    assert(exp(5).isInfinite && exp(5) < 0)
    assert(run().zip(exp).forall((same _).tupled), s"stream path: ${run()}")
    val saved = spark.conf.getOption("graft.lag.maxEdgeCells")
    try {
      spark.conf.set("graft.lag.maxEdgeCells", "1") // force the join path
      assert(run().zip(exp).forall((same _).tupled), s"join path: ${run()}")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("graft.lag.maxEdgeCells", v)
        case None => spark.conf.unset("graft.lag.maxEdgeCells")
      }
    }
  }
}
