package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured-Streaming operator tests via MemoryStream (processing driven
  * batch-by-batch; results observed from the in-memory sink). */
class StreamingOpsSpec extends SparkSpec {

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  case class Doc(ts: Timestamp, text: String)
  case class Ev(ts: Timestamp, event_type: String, value: Double)
  case class SessEv(user_id: Long, ts: Timestamp, value: Double)
  case class KeyedEv(doc_id: Long, ts: Timestamp, value: Double)
  case class Label(doc_id: Long, lts: Timestamp, label: String)

  test("streaming exact dedup keeps first arrival per fingerprint") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = StreamingOps.dedupStream(in.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(Doc(ts(0), "hello world"), Doc(ts(1), "hello world"),
                 Doc(ts(2), "different text"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect()
      assert(got.length == 2) // dup within watermark dropped
      // advance the watermark past firstSeen+delay (eviction happens at the
      // START of a later batch), then the same content re-arrives and is kept
      in.addData(Doc(ts(60), "watermark advancing text"))
      q.processAllAvailable()
      in.addData(Doc(ts(90), "hello world"))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 4)
    } finally q.stop()
  }

  test("streaming contamination gate matches the batch operator's flags") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpusRows = Seq(
      Doc(ts(0), "the quick brown fox jumps over the lazy dog"), // exact dup
      Doc(ts(1), "the quick brown fox went elsewhere entirely today"), // partial
      Doc(ts(2), "completely unrelated content about spark engines"))
    val in = MemoryStream[Doc]
    val q = StreamingOps.contaminationGate(in.toDF(), bench)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode("append").start()
    try {
      in.addData(corpusRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("contam_out").collect()
        .map(_.getString(1)).toSet
      // batch twin: same corpus, same benchmark, same threshold
      val corpusDf = corpusRows.zipWithIndex
        .map { case (d, i) => (i.toLong, d.text) }.toDF("doc_id", "text")
      val batchKept = graft.operators.Dedup.contamination(corpusDf, bench)
        .filter(!col("contaminated"))
        .collect().map(_.getLong(0)).toSet
      val batchTexts = corpusRows.zipWithIndex
        .collect { case (d, i) if batchKept(i.toLong) => d.text }.toSet
      assert(streamed == batchTexts, s"streamed=$streamed batch=$batchTexts")
      assert(!streamed.exists(_.contains("lazy dog")), "exact dup must drop")
      assert(streamed.exists(_.contains("unrelated")), "clean doc must pass")
    } finally q.stop()
  }

  test("streaming span gate matches the batch cross-corpus span operator") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((100L, "a b c d e f g h i j"),
      (101L, "p q r s t u v w x y z")).toDF("doc_id", "text")
    val rows = Seq(
      IdDoc(1L, "x1 a b c d e f g h i j x2 x3"), // ref span at offset 1
      IdDoc(2L, "m n o p q r s t"),              // one window, no match
      IdDoc(3L, "a b c d e f g h"),              // exactly the ref window
      IdDoc(4L, "zz yy"))                        // shorter than k
    val in = MemoryStream[IdDoc]
    val q = StreamingOps.spanDupGate(in.toDF(), ref, k = 8)
      .writeStream.format("memory").queryName("span_gate_out")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("span_gate_out").collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
      // hand-computed expectations (k = 8)
      assert(got(1L) == ((6L, 3L, 10L, "x1 x2 x3")), got(1L).toString)
      assert(got(2L) == ((1L, 0L, 0L, "m n o p q r s t")), got(2L).toString)
      assert(got(3L) == ((1L, 1L, 8L, "")), got(3L).toString)
      assert(got(4L) == ((0L, 0L, 0L, "zz yy")), got(4L).toString)
      // batch equivalence: identical stats for every doc the batch
      // operator reports (docs with ≥1 window; the gate additionally
      // passes short docs through with zeros)
      val batch = graft.operators.Dedup.spanStatsAgainst(
          rows.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
          ref, "text", "doc_id", k = 8)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(batch.keySet == Set(1L, 2L, 3L))
      batch.foreach { case (id, st) =>
        val g = got(id)
        assert((g._1, g._2, g._3) == st, s"doc $id: stream $g vs batch $st")
      }
    } finally q.stop()
  }

  test("heavy_hitters aggregates a stream in update mode (exact on bounded domain)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = in.toDF()
      .agg(graft.functions.HeavyHitters.heavy_hitters(col("text"), 8).as("hh"))
      .select(explode(col("hh.items")).as(Seq("item", "cnt")))
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("complete").start()
    try {
      in.addData(Doc(ts(0), "alpha"), Doc(ts(1), "alpha"), Doc(ts(2), "beta"))
      q.processAllAvailable()
      in.addData(Doc(ts(3), "alpha"), Doc(ts(4), "gamma"))
      q.processAllAvailable()
      val got = spark.table("hh_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("alpha" -> 3L, "beta" -> 1L, "gamma" -> 1L))
    } finally q.stop()
  }

  test("kmin_values keeps a running distinct-count sketch across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    // running min-k over the hashed stream: the same TypedImperativeAggregate
    // the batch agg_kmv/agg_setsk queries use, here merged across batches by
    // the streaming state store (complete mode)
    val q = in.toDF()
      .agg(graft.functions.Sketches.kmin_values(
        graft.functions.ArrayOps.md5_long60(col("text")), 16).as("mins"))
      .select(size(col("mins")).as("n_distinct"))
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("complete").start()
    try {
      in.addData(Doc(ts(0), "alpha"), Doc(ts(1), "alpha"), Doc(ts(2), "beta"))
      q.processAllAvailable()
      assert(spark.table("kmv_out").collect().map(_.getInt(0)).last == 2)
      in.addData(Doc(ts(3), "gamma"), Doc(ts(4), "beta"), Doc(ts(5), "delta"))
      q.processAllAvailable()
      // below k=16 the sketch is EXACT: 4 distinct texts seen so far
      assert(spark.table("kmv_out").collect().map(_.getInt(0)).last == 4)
    } finally q.stop()
  }

  test("streaming grouped top-k holds the k-best per key across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingOps.TkRow]
    val q = StreamingOps.topKStream(in.toDS(), k = 2)
      .toDF("key", "value", "id")
      .writeStream.format("memory").queryName("tk_out")
      .outputMode("update").start()
    try {
      in.addData(StreamingOps.TkRow(1L, 5.0, 10L), StreamingOps.TkRow(1L, 3.0, 11L),
                 StreamingOps.TkRow(2L, 9.0, 20L))
      q.processAllAvailable()
      // batch 2: a better row for key 1 displaces 3.0; key 2 unchanged row
      // below its current set emits nothing
      in.addData(StreamingOps.TkRow(1L, 7.0, 12L), StreamingOps.TkRow(2L, 1.0, 21L))
      q.processAllAvailable()
      val rows = spark.table("tk_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      // the LAST update per key is its current top-k
      val latestK1 = rows.filter(_._1 == 1L).takeRight(2).toSet
      assert(latestK1 == Set((1L, 7.0, 12L), (1L, 5.0, 10L)), rows.toSeq)
      // key 2: only the initial emission (second batch did not change it...
      // except 1.0 enters the top-2 since only one row was held)
      val k2 = rows.filter(_._1 == 2L)
      assert(k2.last == (2L, 1.0, 21L) || k2.contains((2L, 9.0, 20L)), rows.toSeq)
    } finally q.stop()
  }

  test("streaming quality filter is stateless and matches batch heuristic") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = StreamingOps.qualityFilter(in.toDF(), minTokens = 3)
      .writeStream.format("memory").queryName("qual_out")
      .outputMode("append").start()
    try {
      in.addData(Doc(ts(0), "too short"), Doc(ts(1), "this one is long enough"))
      q.processAllAvailable()
      val got = spark.table("qual_out").select("text").as[String].collect()
      assert(got.toSeq == Seq("this one is long enough"))
    } finally q.stop()
  }

  test("streaming sessionization closes sessions via event-time timeout") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SessEv]
    val q = graft.operators.Sessionize.stream(in.toDF(), gapMinutes = 10,
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then a 30-min gap
      in.addData(SessEv(1L, ts(0), 1.0), SessEv(1L, ts(5), 2.0))
      q.processAllAvailable()
      in.addData(SessEv(1L, ts(35), 4.0)) // gap > 10 min → closes session 1
      q.processAllAvailable()
      in.addData(SessEv(2L, ts(120), 8.0)) // watermark past user 1's timeout
      q.processAllAvailable()
      in.addData(SessEv(2L, ts(180), 16.0)) // advance again so timeouts fire
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select("user_id", "n_events", "sum_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.contains((1L, 2L, 3.0)))  // first session: events at 0 and 5
      assert(got.contains((1L, 1L, 4.0)))  // second session closed by timeout
    } finally q.stop()
  }

  test("streaming gap fill carries the last valid value per key across " +
      "micro-batches; batch-equivalent to a sequential ffill") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.GfRow
    val in = MemoryStream[GfRow]
    val q = StreamingOps.gapFillStream(in.toDS())
      .toDF("key", "id", "value")
      .writeStream.format("memory").queryName("gf_out")
      .outputMode("append").start()
    try {
      // key 1: leading hole, then 5.0, hole, NaN-hole; key 2: valid only
      in.addData(GfRow(1L, 0L, None), GfRow(1L, 1L, Some(5.0)),
        GfRow(1L, 2L, None), GfRow(2L, 0L, Some(9.0)))
      q.processAllAvailable()
      // batch 2: the fill must survive the batch boundary via state
      in.addData(GfRow(1L, 3L, Some(Double.NaN)), GfRow(1L, 4L, Some(7.0)),
        GfRow(2L, 1L, None))
      q.processAllAvailable()
      val got = spark.table("gf_out").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      // the sequential per-key ffill of the same arrival order
      val expect = Set(
        (1L, 0L, None), (1L, 1L, Some(5.0)), (1L, 2L, Some(5.0)),
        (1L, 3L, Some(5.0)), (1L, 4L, Some(7.0)),
        (2L, 0L, Some(9.0)), (2L, 1L, Some(9.0)))
      assert(got == expect, got.toSeq.sortBy(r => (r._1, r._2)).mkString(","))
    } finally q.stop()
  }

  test("streaming constraint metrics accumulate across micro-batches " +
      "(cumulative completeness/validity in update mode)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Option[Double], String)]
    val q = StreamingOps.constraintStream(
      in.toDS().toDF("v", "flag"),
      Seq(("complete_v", col("v").isNotNull, 1.0),
        ("flag_ok", col("flag").isin("A", "B"), 0.75)))
      .writeStream.format("memory").queryName("cs_out")
      .outputMode("complete").start()
    try {
      in.addData((Some(1.0), "A"), (Some(2.0), "B"))
      q.processAllAvailable()
      def snap(): Map[String, (Double, Boolean)] =
        spark.table("cs_out").collect()
          .map(r => r.getString(0) -> ((r.getDouble(1), r.getBoolean(2))))
          .toMap
      assert(snap() == Map("complete_v" -> ((1.0, true)),
        "flag_ok" -> ((1.0, true))))
      // batch 2 degrades both metrics; the counters must be CUMULATIVE
      in.addData((None, "A"), (Some(3.0), "C"))
      q.processAllAvailable()
      assert(snap() == Map("complete_v" -> ((0.75, false)),
        "flag_ok" -> ((0.75, true)))) // exactly at its 0.75 threshold
    } finally q.stop()
  }

  test("streaming rolling window aggregates match the batch pandas gates " +
      "across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.RwRow
    val in = MemoryStream[RwRow]
    val q = StreamingOps.rollingStream(in.toDS(), n = 3)
      .toDF("key", "id", "sum", "mean", "min", "max", "count")
      .writeStream.format("memory").queryName("rw_out")
      .outputMode("append").start()
    try {
      // key 1 arrival order: 1, 2, NaN — same series as the batch
      // RollingFamilySpec goldens (pandas [1, 2, NaN, 4, 5, 6])
      in.addData(RwRow(1L, 0L, 1.0), RwRow(1L, 1L, 2.0),
        RwRow(1L, 2L, Double.NaN))
      q.processAllAvailable()
      // batch 2: the ring must survive the micro-batch boundary as state
      in.addData(RwRow(1L, 3L, 4.0), RwRow(1L, 4L, 5.0), RwRow(1L, 5L, 6.0))
      q.processAllAvailable()
      val got = spark.table("rw_out").collect().map { r =>
        def f(i: Int): Option[Double] =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        r.getLong(1) -> ((f(2), f(4), f(6))) // id -> (sum, min, count)
      }.toMap
      assert(got(0L) == ((None, None, None))) // unformed
      assert(got(1L) == ((None, None, None)))
      assert(got(2L)._1.exists(_.isNaN) && got(2L)._3 == Some(2.0))
      assert(got(3L)._1.exists(_.isNaN) && got(3L)._3 == Some(2.0))
      assert(got(4L)._1.exists(_.isNaN) && got(4L)._3 == Some(2.0))
      assert(got(5L) == ((Some(15.0), Some(4.0), Some(3.0))))
    } finally q.stop()
  }

  test("streaming ewm mean/var carries O(1) keyed state across " +
      "micro-batches and matches the pandas goldens (r10)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.EwRow
    val in = MemoryStream[EwRow]
    // com = 2 → α = 1/3; pandas Series([1, 2, NaN, 4, 5]).ewm(com=2):
    //   mean = [1, 1.6, 1.6, 2.9787234042553195, 3.914285714285714]
    //   var  = [nan, 0.5, 0.5, 2.622641509433962, 2.7539870053160067]
    val q = StreamingOps.ewmStream(in.toDS(), alpha = 1.0 / 3.0)
      .toDF("key", "id", "mean", "variance")
      .writeStream.format("memory").queryName("ew_out")
      .outputMode("append").start()
    try {
      in.addData(EwRow(1L, 0L, 1.0), EwRow(1L, 1L, 2.0))
      q.processAllAvailable()
      // batch 2: the Welford tuple must survive the micro-batch boundary
      in.addData(EwRow(1L, 2L, Double.NaN), EwRow(1L, 3L, 4.0),
        EwRow(1L, 4L, 5.0))
      q.processAllAvailable()
      val got = spark.table("ew_out").collect()
        .map(r => r.getLong(1) -> ((r.getDouble(2), r.getDouble(3))))
        .toMap
      def close(a: Double, e: Double) =
        if (e.isNaN) a.isNaN else math.abs(a - e) < 1e-9
      val mean = Seq(1.0, 1.6, 1.6, 2.9787234042553195, 3.914285714285714)
      val vr = Seq(Double.NaN, 0.5, 0.5, 2.622641509433962,
        2.7539870053160067)
      (0 to 4).foreach { i =>
        assert(close(got(i.toLong)._1, mean(i)),
          s"mean id=$i: got ${got(i.toLong)._1}, want ${mean(i)}")
        assert(close(got(i.toLong)._2, vr(i)),
          s"var id=$i: got ${got(i.toLong)._2}, want ${vr(i)}")
      }
    } finally q.stop()
  }

  test("streaming expanding quantile carries the value-count ledger " +
      "across micro-batches and matches the batch operator (r12)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.EqRow
    val in = MemoryStream[EqRow]
    // pandas Series([1, 2, NaN, 4, 5, 6]).expanding().median()
    //   = [1, 1.5, 1.5, 2, 3, 4]  (the RollingFamilySpec golden)
    val q = StreamingOps.expandingQuantileStream(in.toDS(), q = 0.5)
      .toDF("key", "id", "quantile")
      .writeStream.format("memory").queryName("eq_out")
      .outputMode("append").start()
    try {
      in.addData(EqRow(1L, 0L, 1.0), EqRow(1L, 1L, 2.0),
        EqRow(1L, 2L, Double.NaN))
      q.processAllAvailable()
      // batch 2: the ledger must survive the micro-batch boundary
      in.addData(EqRow(1L, 3L, 4.0), EqRow(1L, 4L, 5.0),
        EqRow(1L, 5L, 6.0))
      q.processAllAvailable()
      val got = spark.table("eq_out").collect()
        .map(r => r.getLong(1) -> r.getDouble(2)).toMap
      val want = Seq(1.0, 1.5, 1.5, 2.0, 3.0, 4.0)
      want.zipWithIndex.foreach { case (e, i) =>
        assert(math.abs(got(i.toLong) - e) < 1e-12,
          s"id=$i: got ${got(i.toLong)}, want $e")
      }
      // second key on the same stream stays independent; lower
      // interpolation at q=0.25 over [3, 1, 4]:
      // pandas quantile(0.25, 'lower') prefix = [3, 1, 1]
      val in2 = MemoryStream[EqRow]
      val q2 = StreamingOps.expandingQuantileStream(in2.toDS(), q = 0.25,
        interp = 1, minPeriods = 1)
        .toDF("key", "id", "quantile")
        .writeStream.format("memory").queryName("eq_out2")
        .outputMode("append").start()
      try {
        in2.addData(EqRow(7L, 0L, 3.0), EqRow(7L, 1L, 1.0),
          EqRow(7L, 2L, 4.0))
        q2.processAllAvailable()
        val g2 = spark.table("eq_out2").collect()
          .map(r => r.getLong(1) -> r.getDouble(2)).toMap
        assert(g2(0L) == 3.0 && g2(1L) == 1.0 && g2(2L) == 1.0)
      } finally q2.stop()
    } finally q.stop()
  }

  test("streaming pairwise rolling cov/corr/sem matches the batch " +
      "pandas contract across micro-batches (r11 session 5)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.PairRow
    // the CovCorrSemSpec golden pair: x=[3,1,4,1,5,9,2,6],
    // y=[2,7,1,8,2,8,1,8]; pandas rolling(3).cov =
    // [nan, nan, -29/6, -6.5, -22/3, 0, 38/3, 77/6]
    val x = Seq(3.0, 1, 4, 1, 5, 9, 2, 6)
    val y = Seq(2.0, 7, 1, 8, 2, 8, 1, 8)
    val in = MemoryStream[PairRow]
    val q = StreamingOps.rollingPairStream(in.toDS(), n = 3)
      .toDF("key", "id", "cov", "corr", "semX")
      .writeStream.format("memory").queryName("rp_out")
      .outputMode("append").start()
    try {
      in.addData((0 until 4).map(i => PairRow(1L, i, x(i), y(i))): _*)
      q.processAllAvailable()
      // the (x, y) ring must survive the micro-batch boundary
      in.addData((4 until 8).map(i => PairRow(1L, i, x(i), y(i))): _*)
      q.processAllAvailable()
      val got = spark.table("rp_out").collect().map { r =>
        def f(i: Int): Option[Double] =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        r.getLong(1) -> ((f(2), f(3)))
      }.toMap
      assert(got(0L) == ((None, None)) && got(1L) == ((None, None)))
      val expCov = Seq(-29.0 / 6, -6.5, -22.0 / 3, 0.0, 38.0 / 3, 77.0 / 6)
      val expCorr = Seq(-0.984324138288, -0.991240707162, -0.930500855763,
        0.0, 0.952683200071, 0.904194430179)
      (2 to 7).foreach { i =>
        assert(math.abs(got(i.toLong)._1.get - expCov(i - 2)) < 1e-9,
          s"cov id=$i")
        val c = got(i.toLong)._2.get
        if (expCorr(i - 2).isNaN) assert(c.isNaN, s"corr id=$i")
        else assert(math.abs(c - expCorr(i - 2)) < 1e-9, s"corr id=$i")
      }
    } finally q.stop()
  }

  test("streaming ewm pairwise cov/corr (polarization, 4 states) " +
      "matches the pandas goldens across micro-batches (r11 session 5)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.PairRow
    // pandas x=[1,2,NaN,4,5,100], y=[2,1,4,3,NaN,7], ewm(com=1):
    //   cov  = [nan, -0.5, -0.5, 1.653846153846154, 1.653846153846154,
    //           200.8756613756614]
    //   corr = [nan, -1, -1, 0.851026430327255, 0.851026430327255,
    //           0.9820077673630595]
    val x = Seq(1.0, 2.0, Double.NaN, 4.0, 5.0, 100.0)
    val y = Seq(2.0, 1.0, 4.0, 3.0, Double.NaN, 7.0)
    val in = MemoryStream[PairRow]
    val q = StreamingOps.ewmCovStream(in.toDS(), alpha = 0.5)
      .toDF("key", "id", "cov", "corr")
      .writeStream.format("memory").queryName("ec_out")
      .outputMode("append").start()
    try {
      in.addData((0 until 3).map(i => PairRow(1L, i, x(i), y(i))): _*)
      q.processAllAvailable()
      in.addData((3 until 6).map(i => PairRow(1L, i, x(i), y(i))): _*)
      q.processAllAvailable()
      val got = spark.table("ec_out").collect()
        .map(r => r.getLong(1) -> ((r.getDouble(2), r.getDouble(3))))
        .toMap
      def close(a: Double, e: Double) =
        if (e.isNaN) a.isNaN else math.abs(a - e) < 1e-9
      val cov = Seq(Double.NaN, -0.5, -0.5, 1.653846153846154,
        1.653846153846154, 200.8756613756614)
      val corr = Seq(Double.NaN, -1.0, -1.0, 0.851026430327255,
        0.851026430327255, 0.9820077673630595)
      (0 to 5).foreach { i =>
        assert(close(got(i.toLong)._1, cov(i)),
          s"cov id=$i: got ${got(i.toLong)._1}, want ${cov(i)}")
        assert(close(got(i.toLong)._2, corr(i)),
          s"corr id=$i: got ${got(i.toLong)._2}, want ${corr(i)}")
      }
    } finally q.stop()
  }

  test("stream-stream interval join matches labels only inside the window") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = MemoryStream[KeyedEv]
    val lbs = MemoryStream[Label]
    val q = StreamingOps.enrichWithin(evs.toDF(), lbs.toDF(),
        joinWindow = "10 minutes", watermark = "30 minutes")
      .writeStream.format("memory").queryName("join_out")
      .outputMode("append").start()
    try {
      evs.addData(KeyedEv(1L, ts(0), 1.0), KeyedEv(2L, ts(0), 2.0))
      lbs.addData(Label(1L, ts(5), "good"),   // within 10 min of event 1
                  Label(2L, ts(25), "late"))  // outside the join window
      q.processAllAvailable()
      val got = spark.table("join_out")
        .select("doc_id", "label").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "good")))
    } finally q.stop()
  }

  case class NdDoc(doc_id: Long, ts: Timestamp, text: String)

  test("streaming LSH near-dup flags the arriving near-duplicate, not others") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[NdDoc]
    val q = StreamingOps.nearDupStream(in.toDF(), threshold = 0.4)
      .writeStream.format("memory").queryName("nd_out")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again today"
      in.addData(NdDoc(1L, ts(0), base))
      q.processAllAvailable()
      in.addData(
        NdDoc(2L, ts(1), base.replace("today", "tomorrow")), // near-dup of 1
        NdDoc(3L, ts(2), "completely different content about spark engines"))
      q.processAllAvailable()
      val pairs = spark.table("nd_out").select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
        s"doc 3 must not pair: $pairs")
    } finally q.stop()
  }

  test("streaming sessionize equals batch sessionize on the sf0.001 corpus") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // batch truth: (user, n_events, round6 sum) per session
    val batch = graft.operators.Sessionize.batch(raw, gapMinutes = 30)
      .select(col("user_id"), col("n_events"), round(col("sum_value"), 6).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    // stream the same events (ts → ms timestamps, physical-type-tolerant:
    // long nanos under the legacy flag, or TIMESTAMP_NTZ/TIMESTAMP for µs
    // parquet), then advance the watermark with far-future sentinels so
    // every open session times out
    val tsMs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("timestamp_millis(ts div 1000000)")
      case _ => col("ts").cast("timestamp")
    }
    val evs = raw.select(col("user_id"), tsMs.as("ts"),
        col("value")).collect()
      .map(r => SessEv(r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val maxMs = evs.map(_.ts.getTime).max
    val in = MemoryStream[SessEv]
    val q = graft.operators.Sessionize.stream(in.toDF(), gapMinutes = 30,
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_eq_out")
      .outputMode("append").start()
    try {
      in.addData(evs.toSeq)
      q.processAllAvailable()
      in.addData(SessEv(-1L, new Timestamp(maxMs + 86400000L), 0.0))
      q.processAllAvailable()
      in.addData(SessEv(-1L, new Timestamp(maxMs + 2 * 86400000L), 0.0))
      q.processAllAvailable()
      val stream = spark.table("sess_eq_out")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("n_events"), round(col("sum_value"), 6).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(stream == batch,
        s"streaming sessions != batch: ${stream.size} vs ${batch.size} distinct")
    } finally q.stop()
  }

  test("streaming LSH near-dup pairs equal the batch candidate set (sf0.001)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val batchPairs = graft.operators.Dedup
      .minhashLsh(docs, threshold = 0.2, k = 32, bands = 8)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    case object Ignored
    val in = MemoryStream[(Long, Timestamp, String)]
    val stream = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), ts(0), r.getString(1)))
    val q = StreamingOps.nearDupStream(
        in.toDF().toDF("doc_id", "ts", "text"),
        n = 3, k = 32, bands = 8, threshold = 0.2)
      .writeStream.format("memory").queryName("nd_eq_out")
      .outputMode("append").start()
    try {
      in.addData(stream.toSeq)
      q.processAllAvailable()
      val streamPairs = spark.table("nd_eq_out").select("id1", "id2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamPairs == batchPairs,
        s"stream ${streamPairs.size} pairs vs batch ${batchPairs.size}; " +
          s"onlyStream=${(streamPairs -- batchPairs).take(3)} " +
          s"onlyBatch=${(batchPairs -- streamPairs).take(3)}")
    } finally q.stop()
  }

  test("streaming LSH equals batch candidates on the 10x corpus under load") {
    // the 10x ScaleGen shape for documents: sf0.1 replicated with shifted
    // ids (~50k docs; cross-replica exact dups are genuine near-dup pairs)
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val docs10 = (0 until 10).map(r =>
        base.withColumn("doc_id", col("doc_id") + lit(r * 10000000L)))
      .reduce(_ union _)
    val batchPairs = graft.operators.Dedup
      .minhashLsh(docs10, threshold = 0.5, k = 16, bands = 4)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = docs10.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val t0 = ts(0)
    val t2 = new Timestamp(t0.getTime + 120000L)
    val in = MemoryStream[(Long, Timestamp, String)]
    // Watermark 0s: the sentinel batch advances the watermark between the
    // two halves, so half2 merges into buckets whose state predates the
    // current watermark — the continuous-ingest shape. (Spark 4 FILTERS
    // late rows before flatMapGroupsWithState — verified here: feeding
    // half2 below the watermark silently dropped it — so all rows must be
    // non-late for equivalence, and the setTimeoutTimestamp watermark
    // clamp in nearDupStream is defense-in-depth, not reachable via late
    // arrivals.)
    val q = StreamingOps.nearDupStream(
        in.toDF().toDF("doc_id", "ts", "text"),
        n = 3, k = 16, bands = 4, threshold = 0.5,
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("nd10_out")
      .outputMode("append").start()
    try {
      in.addData(half1.map { case (id, t) => (id, t0, t) }.toSeq)
      q.processAllAvailable() // watermark -> t0
      in.addData((-1L, new Timestamp(t0.getTime + 60000L),
        "watermark advancing sentinel with unmatched content"))
      q.processAllAvailable() // watermark -> t0 + 60s
      in.addData(half2.map { case (id, t) => (id, t2, t) }.toSeq)
      q.processAllAvailable() // non-late merge into pre-watermark state
      val streamPairs = spark.table("nd10_out")
        .filter(col("id1") =!= -1L && col("id2") =!= -1L)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamPairs == batchPairs,
        s"stream ${streamPairs.size} pairs vs batch ${batchPairs.size}; " +
          s"onlyStream=${(streamPairs -- batchPairs).take(3)} " +
          s"onlyBatch=${(batchPairs -- streamPairs).take(3)}")
      assert(batchPairs.size > 1000,
        s"10x corpus must produce a heavy candidate load, got ${batchPairs.size}")
    } finally q.stop()
  }

  test("streaming anomaly gate scores against prior history, then folds the row in") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingOps.AnRow]
    val q = StreamingOps.anomalyStream(in.toDS(), z = 2.0, minN = 5)
      .toDF("key", "id", "value", "zscore")
      .writeStream.format("memory").queryName("an_out")
      .outputMode("append").start()
    try {
      // batch 1: five baseline rows — below minN, nothing can fire yet
      in.addData((1 to 5).map(i => StreamingOps.AnRow(1L, i.toLong, 10.0)): _*)
      q.processAllAvailable()
      assert(spark.table("an_out").count() == 0)
      // batch 2: one wild spike + one normal row; only the spike fires,
      // and it is scored against the PRE-spike statistics
      in.addData(StreamingOps.AnRow(1L, 6L, 100.0), StreamingOps.AnRow(1L, 7L, 10.0))
      q.processAllAvailable()
      val got = spark.table("an_out").collect()
        .map(r => (r.getLong(1), r.getDouble(2))).toSet
      // the baseline is constant → variance 0 → even the spike cannot be
      // scored (guarded); fold it in and the NEXT normal row is judged
      // against spike-inflated stats but sits within 2σ of them
      assert(got.isEmpty)
      // batch 3: with the spike now in history, variance > 0; a fresh
      // spike fires, a baseline row does not
      in.addData(StreamingOps.AnRow(1L, 8L, 120.0), StreamingOps.AnRow(1L, 9L, 10.0))
      q.processAllAvailable()
      val got3 = spark.table("an_out").collect()
        .map(r => (r.getLong(1), r.getDouble(2))).toSet
      assert(got3.map(_._1) == Set(8L), got3)
    } finally q.stop()
  }

  test("streaming anomaly gate keeps its variance at a large offset " +
      "(Welford state)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ten values cycling 0, 1, 2 (mean 0.9, population variance 0.69),
    // then a spike at +10: z = 9.1 / √0.69 ≈ 10.955 at any offset — raw
    // power sums cancel every digit of the variance at 1e9
    for ((offset, name) <- Seq((0.0, "an_off0"), (1e9, "an_off9"))) {
      val in = MemoryStream[StreamingOps.AnRow]
      val q = StreamingOps.anomalyStream(in.toDS(), z = 2.0, minN = 10)
        .toDF("key", "id", "value", "zscore")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData((0 until 10).map(i =>
          StreamingOps.AnRow(1L, i.toLong, offset + i % 3)): _*)
        q.processAllAvailable()
        in.addData(StreamingOps.AnRow(1L, 10L, offset + 10.0))
        q.processAllAvailable()
        val got = spark.table(name).collect()
          .map(r => (r.getLong(1), r.getDouble(3))).toSeq
        assert(got.map(_._1) == Seq(10L), s"offset $offset: $got")
        assert(math.abs(got.head._2 - 9.1 / math.sqrt(0.69)) < 1e-4,
          s"offset $offset: z = ${got.head._2}")
      } finally q.stop()
    }
  }

  test("streaming PSI equals batch psiDrift on an identical window slice") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val refVals = Seq(1.0, 2.0, 2.5, 7.0, 8.0, 9.0)
    val incoming = Seq(1.0, 1.5, 8.5, 9.5, 3.0)
    val batch = graft.operators.Profiling.psiDrift(
      incoming.toDF("v"), refVals.toDF("v"), "v",
      bins = 4, lo = 0.0, hi = 10.0)
    val refShares = batch.orderBy("bin").select("p_b").collect()
      .map(_.getDouble(0)).toSeq
    val expectedPsi = batch.select("psi").head().getDouble(0)
    val in = MemoryStream[KeyedEv]
    val q = StreamingOps.driftStream(in.toDF(), refShares, "value",
        lo = 0.0, hi = 10.0, window_ = "10 minutes",
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("append").start()
    try {
      in.addData(incoming.zipWithIndex.map { case (v, i) =>
        KeyedEv(i.toLong, ts(i), v) }: _*)
      q.processAllAvailable()
      // advance the watermark far past the window so it closes and emits
      in.addData(KeyedEv(99L, ts(60), 5.0))
      q.processAllAvailable()
      val got = spark.table("drift_out").orderBy("win_start").collect()
      assert(got.nonEmpty)
      assert(got.head.getLong(1) == incoming.size)
      assert(got.head.getDouble(2) == expectedPsi)
    } finally q.stop()
  }

  test("streaming PSI merges late rows within the watermark into their window") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = Seq(1.0, 1.5, 8.5, 9.5, 3.0)
    val refVals = Seq(1.0, 2.0, 7.0, 9.0)
    val batch = graft.operators.Profiling.psiDrift(
      all.toDF("v"), refVals.toDF("v"), "v", bins = 4, lo = 0.0, hi = 10.0)
    val refShares = batch.orderBy("bin").select("p_b").collect()
      .map(_.getDouble(0)).toSeq
    val expectedPsi = batch.select("psi").head().getDouble(0)
    val in = MemoryStream[KeyedEv]
    val q = StreamingOps.driftStream(in.toDF(), refShares, "value",
        lo = 0.0, hi = 10.0, window_ = "10 minutes",
        watermark = "30 minutes")
      .writeStream.format("memory").queryName("drift_late_out")
      .outputMode("append").start()
    try {
      // three on-time rows, then two LATE arrivals for the same window
      // (delivered in a later micro-batch but inside the 30 min watermark)
      in.addData(all.take(3).zipWithIndex.map { case (v, i) =>
        KeyedEv(i.toLong, ts(i), v) }: _*)
      q.processAllAvailable()
      in.addData(KeyedEv(10L, ts(4), all(3)), KeyedEv(11L, ts(5), all(4)))
      q.processAllAvailable()
      // now advance the watermark far past the window so it closes once
      in.addData(KeyedEv(99L, ts(120), 5.0))
      q.processAllAvailable()
      val got = spark.table("drift_late_out").orderBy("win_start").collect()
      assert(got.length == 1) // one closed window, emitted once
      assert(got.head.getLong(1) == all.size) // late rows merged in
      assert(got.head.getDouble(2) == expectedPsi)
    } finally q.stop()
  }

  test("windowed event aggregation merges late data within the watermark") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.eventWindowAgg(in.toDF(), window_ = "10 minutes",
        watermark = "30 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      in.addData(Ev(ts(1), "click", 1.0), Ev(ts(5), "click", 2.0),
                 Ev(ts(12), "view", 5.0))
      q.processAllAvailable()
      in.addData(Ev(ts(3), "click", 10.0)) // late event, same first window
      q.processAllAvailable()
      val got = spark.table("win_out")
        .select("event_type", "n_events", "sum_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == Set(("click", 3L, 13.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  case class IdDoc(doc_id: Long, text: String)

  test("chunkWindows is stateless and streams unchanged, matching batch") {
    // the r6 chunker is a pure scan-stage generator — it must run under
    // readStream with NO state store and produce batch-identical rows
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      IdDoc(1L, (0 until 9).map(i => s"w$i").mkString(" ")), // 9 tokens → 3 chunks @ 4/1
      IdDoc(2L, "tiny doc"))
    val in = MemoryStream[IdDoc]
    val q = graft.operators.TextAnalysis
      .chunkWindows(in.toDF(), chunkTokens = 4, overlap = 1)
      .writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("chunk_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      val batchIn = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            docs.map(d => org.apache.spark.sql.Row(d.doc_id, d.text))).asJava),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
      val batch = graft.operators.TextAnalysis
        .chunkWindows(batchIn, chunkTokens = 4, overlap = 1).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch && streamed.count(_._1 == 1L) == 3)
    } finally q.stop()
  }

  test("streaming rolling min_periods and center match the batch gates " +
      "across micro-batch boundaries (r11)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.RwRow
    // pandas Series([1, 2, NaN, 4, 5, 6]).rolling(3, min_periods=2):
    //   mean = [nan, 1.5, 1.5, 3, 4.5, 5]; count = [nan, 2, 2, 2, 2, 3]
    val in = MemoryStream[RwRow]
    val q = StreamingOps.rollingStream(in.toDS(), n = 3, minPeriods = 2)
      .toDF("key", "id", "sum", "mean", "min", "max", "count")
      .writeStream.format("memory").queryName("rwmp_out")
      .outputMode("append").start()
    try {
      in.addData(RwRow(1L, 0L, 1.0), RwRow(1L, 1L, 2.0),
        RwRow(1L, 2L, Double.NaN))
      q.processAllAvailable()
      in.addData(RwRow(1L, 3L, 4.0), RwRow(1L, 4L, 5.0), RwRow(1L, 5L, 6.0))
      q.processAllAvailable()
      val got = spark.table("rwmp_out").collect().map { r =>
        def f(i: Int): Option[Double] =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        r.getLong(1) -> ((f(3), f(6)))
      }.toMap
      assert(got(0L) == ((None, None)))
      assert(got(1L) == ((Some(1.5), Some(2.0))))
      assert(got(2L) == ((Some(1.5), Some(2.0))))
      assert(got(3L) == ((Some(3.0), Some(2.0))))
      assert(got(4L) == ((Some(4.5), Some(2.0))))
      assert(got(5L) == ((Some(5.0), Some(3.0))))
    } finally q.stop()

    // center=1: the output for row i arrives with row i+lead — pandas
    // centered [nan, nan, nan, nan, 5, nan]; ids 0..4 emit (id 5's
    // centered window never completes on an unbounded stream)
    val in2 = MemoryStream[RwRow]
    val q2 = StreamingOps.rollingStream(in2.toDS(), n = 3, center = true)
      .toDF("key", "id", "sum", "mean", "min", "max", "count")
      .writeStream.format("memory").queryName("rwc_out")
      .outputMode("append").start()
    try {
      in2.addData(RwRow(1L, 0L, 1.0), RwRow(1L, 1L, 2.0),
        RwRow(1L, 2L, Double.NaN))
      q2.processAllAvailable()
      in2.addData(RwRow(1L, 3L, 4.0), RwRow(1L, 4L, 5.0),
        RwRow(1L, 5L, 6.0))
      q2.processAllAvailable()
      val got = spark.table("rwc_out").collect().map { r =>
        def f(i: Int): Option[Double] =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        r.getLong(1) -> f(3)
      }.toMap
      assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L),
        s"pending tail must stay unemitted, got ${got.keySet}")
      assert(got(0L) == None)
      assert(got(1L).exists(_.isNaN) && got(2L).exists(_.isNaN) &&
        got(3L).exists(_.isNaN))
      assert(got(4L) == Some(5.0))
    } finally q2.stop()
  }

  test("streaming twins on the margin-audited fixture (r14, the r13 #8 " +
      "stretch): ewmStream and expandingQuantileStream equal the batch " +
      "operators over the sf0.001 qty column (ewm within slice-merge ULP " +
      "noise, quantile bit-for-bit)") {
    // The quantum-margin audit runs in the BATCH dump only, but the
    // streaming twins share the exposure (same statistics, same rounding
    // downstream). The twins run the batch emit recurrence STEP FOR STEP,
    // but the distributed batch scan additionally merges per-slice
    // partials on the driver (Prefix.ewmMerge) — an algebraically equal,
    // differently-ASSOCIATED blend, so cells downstream of a slice
    // boundary may differ by a few ULPs (measured at sf0.001, full-suite
    // session posture: mean 1 ULP first diverging at row 322 ≈ the 7th of
    // 32 slice boundaries; var 31 ULPs — the Welford covB merge subtracts
    // before it blends, so its re-association noise is larger; both read
    // 0 ULPs under the isolated-suite posture where slice cuts land
    // elsewhere). The audit-transfer claim this spec certifies is
    // therefore: the stream/batch delta is bounded by ULP re-association
    // noise ORDERS below every audited rounding margin (min nonzero
    // margin 5.96e-6 quanta = 5.96e-12 abs at 6 dp, vs the allowed
    // 32/128 ULPs ≈ 1e-14/5e-13 on these O(1..30) cells), so every
    // margin conclusion from the batch audit transfers to the streaming
    // path. The expanding quantile twin has NO merge blend — exact rank
    // selection over integer counts — and must stay bit-identical.
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/lineitem.parquet").exists())
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.{EwRow, EqRow}
    def batchCol(f: String): Array[Double] = {
      // fill = false: keep the NaN holes (the default result fill would
      // zero them) — the twins' NaN-carry path is half the point here
      val df = graft.QueryCatalog.formulaQuery(f, fill = false)(spark, sf)
      val i = df.schema.fieldIndex("c1")
      df.collect().map(r => if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
    }
    // the series the batch operators consumed: qty's c1 in row-id order
    val raw = batchCol("qty * 1")
    assert(raw.length > 500 && raw.exists(_.isNaN),
      "fixture lost its size or its NaN holes — the twin comparison " +
        "no longer covers the hole-carry path")
    def identical(got: Array[Double], want: Array[Double], tag: String,
                  maxUlps: Long = 0L): Unit = {
      assert(got.length == want.length, s"$tag: length")
      var worst = 0L
      got.indices.foreach { i =>
        val exact = java.lang.Double.compare(got(i), want(i)) == 0 ||
          (got(i).isNaN && want(i).isNaN)
        val ulps =
          if (exact) 0L
          else if (got(i).isNaN || want(i).isNaN) Long.MaxValue
          else math.abs(java.lang.Double.doubleToLongBits(got(i)) -
            java.lang.Double.doubleToLongBits(want(i)))
        assert(ulps <= maxUlps,
          s"$tag row $i: stream ${got(i)} != batch ${want(i)} ($ulps ULPs" +
            s" > $maxUlps allowed)")
        if (ulps > worst) worst = ulps
      }
      info(s"$tag: max stream-vs-batch delta $worst ULPs (allowed $maxUlps)")
    }
    // ---- ewm(com=1) mean + var: α = 1/2, the e11_ewadj/ewsum family ----
    locally {
      val in = MemoryStream[EwRow]
      val q = StreamingOps.ewmStream(in.toDS(), alpha = 0.5)
        .toDF("key", "id", "mean", "variance")
        .writeStream.format("memory").queryName("tw_ew")
        .outputMode("append").start()
      try {
        raw.zipWithIndex.grouped(500).foreach { chunk =>
          in.addData(chunk.map { case (v, i) => EwRow(1L, i.toLong, v) })
          q.processAllAvailable()
        }
        val got = spark.table("tw_ew").collect()
          .map(r => r.getLong(1) -> ((r.getDouble(2), r.getDouble(3)))).toMap
        identical(raw.indices.map(i => got(i.toLong)._1).toArray,
          batchCol("qty.ewm(1).mean()"), "ewm mean", maxUlps = 32L)
        identical(raw.indices.map(i => got(i.toLong)._2).toArray,
          batchCol("qty.ewm(1).var()"), "ewm var", maxUlps = 128L)
      } finally q.stop()
    }
    // ---- expanding median: the runningQuantile twin ----
    locally {
      val in = MemoryStream[EqRow]
      val q = StreamingOps.expandingQuantileStream(in.toDS(), q = 0.5)
        .toDF("key", "id", "quantile")
        .writeStream.format("memory").queryName("tw_eq")
        .outputMode("append").start()
      try {
        raw.zipWithIndex.grouped(500).foreach { chunk =>
          in.addData(chunk.map { case (v, i) => EqRow(1L, i.toLong, v) })
          q.processAllAvailable()
        }
        val got = spark.table("tw_eq").collect()
          .map(r => r.getLong(1) -> r.getDouble(2)).toMap
        identical(raw.indices.map(i => got(i.toLong)).toArray,
          batchCol("qty.expanding().median()"), "expanding median")
      } finally q.stop()
    }
  }

  test("streaming ewm min_periods gates on the running valid count (r11)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.EwRow
    // pandas Series([1, 2, NaN, 4, 5, 6]).ewm(com=2, min_periods=3):
    //   mean = [nan, nan, nan, 2.9787234042553195, 3.914285714285714,
    //           4.768971332209106]
    val in = MemoryStream[EwRow]
    val q = StreamingOps.ewmStream(in.toDS(), alpha = 1.0 / 3.0,
        minPeriods = 3)
      .toDF("key", "id", "mean", "variance")
      .writeStream.format("memory").queryName("ewmp_out")
      .outputMode("append").start()
    try {
      in.addData(EwRow(1L, 0L, 1.0), EwRow(1L, 1L, 2.0),
        EwRow(1L, 2L, Double.NaN))
      q.processAllAvailable()
      in.addData(EwRow(1L, 3L, 4.0), EwRow(1L, 4L, 5.0), EwRow(1L, 5L, 6.0))
      q.processAllAvailable()
      val got = spark.table("ewmp_out").collect()
        .map(r => r.getLong(1) -> r.getDouble(2)).toMap
      assert(got(0L).isNaN && got(1L).isNaN && got(2L).isNaN)
      assert(math.abs(got(3L) - 2.9787234042553195) < 1e-12)
      assert(math.abs(got(4L) - 3.914285714285714) < 1e-12)
      assert(math.abs(got(5L) - 4.768971332209106) < 1e-12)
    } finally q.stop()
  }

  test("streaming ewm at alpha = 1 carries the last valid value, as the " +
      "batch .ffill() does") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.EwRow
    val in = MemoryStream[EwRow]
    val q = StreamingOps.ewmStream(in.toDS(), alpha = 1.0)
      .toDF("key", "id", "mean", "variance")
      .writeStream.format("memory").queryName("ew1_out")
      .outputMode("append").start()
    try {
      // the recurrence reads 0·inf = NaN at the second cell; the carry
      // reads the cell itself, across the micro-batch boundary too
      in.addData(EwRow(1L, 0L, Double.PositiveInfinity), EwRow(1L, 1L, 1.0))
      q.processAllAvailable()
      in.addData(EwRow(1L, 2L, Double.NaN), EwRow(1L, 3L, 3.0))
      q.processAllAvailable()
      val got = spark.table("ew1_out").collect()
        .map(r => r.getLong(1) -> r.getDouble(2)).toMap
      assert(got(0L) == Double.PositiveInfinity)
      assert(got(1L) == 1.0)
      assert(got(2L) == 1.0)
      assert(got(3L) == 3.0)
    } finally q.stop()
  }
}
