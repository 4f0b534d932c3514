package graft.compile

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.api.FormulaEvaluator
import graft.model.{Matrix, Vec}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps._

/** One window arithmetic, three drivers: every rolling, ewm, expanding
  * and cumulative/fill formula runs down the matrix path on ONE slice
  * (`spark.sql.shuffle.partitions = 1`: no partial merge), the driver-side
  * Series twin, and — where one exists — the keyed streaming twin fed in
  * three micro-batches, and all of them must agree bit for bit
  * (`doubleToLongBits`, so NaN is canonical; a streaming `None` reads NaN).
  * The inputs carry holes, a −0.0 cell, ties, (z) a hole run long enough
  * to collapse the ewm mass at α = 0.5 (0.5^520 < 0.5·1e-150), and (1e9)
  * the short series shifted by 1e9, where power sums cancel. */
class TwinParitySpec extends SparkSpec {

  private val nan = Double.NaN
  private val xs = IndexedSeq(1.5, nan, -0.0, 2.25, 4.0, nan, 3.0, -1.5, 0.0,
    7.0, 2.25, nan, 5.5, -2.0, 1.0, 3.5, nan, nan, 0.5, 6.0)
  private val ys = IndexedSeq(0.5, 2.0, 1.0, nan, -3.0, 2.5, 0.0, 4.0, nan,
    1.25, -0.5, 3.0, 2.0, nan, 8.0, -1.0, 2.5, 1.5, nan, 0.75)
  private val zs = IndexedSeq(2.0, nan, 1.0, 3.0) ++
    IndexedSeq.fill(520)(nan) ++ IndexedSeq(4.0, 1.0, nan, 5.0, 2.0)

  /** A frame: label → series, one streaming key per column (1-based).
    * Pairwise formulas take `o` = the same columns swapped, so label c0
    * pairs (x, y) and c1 pairs (y, x). */
  private type Frame = Seq[(String, IndexedSeq[Double])]
  private val short: Frame = Seq("c0" -> xs, "c1" -> ys)
  private val long: Frame = Seq("c0" -> zs)
  private val offset: Frame = short.map { case (l, v) => l -> v.map(_ + 1e9) }
  private def swapped(fr: Frame): Frame = fr.map(_._1).zip(fr.map(_._2).reverse)

  /** Results are keyed (case, label); a case is the formula, tagged when
    * it runs on the long or the offset frame. */
  private type Out = Map[(String, String), Seq[Double]]
  private def caseOf(f: String, fr: Frame): String =
    if (fr eq long) s"$f [z]" else if (fr eq offset) s"$f [1e9]" else f

  private val roll = "rolling(5, min_periods=2)"
  private val ewm1 = "ewm(alpha=0.5, min_periods=2)"
  private val ewm0 = "ewm(alpha=0.5, adjust=0)"

  private val formulas: Seq[(String, Frame)] =
    (Seq("sum", "mean", "min", "max", "count", "median", "var", "std", "sem",
      "skew", "kurt").map(m => s"s.$roll.$m()") ++
      Seq("rank()", "rank(method='max', ascending=0, pct=1)", "cov(o)",
        "corr(o)").map(m => s"s.$roll.$m") ++
      Seq("linear", "lower", "higher", "nearest", "midpoint").map(i =>
        s"s.$roll.quantile(0.3, interpolation='$i')") ++
      Seq("s.rolling(5, center=1).sum()",
        "s.rolling(4, center=1).quantile(0.7)", "s.rolling(1).sum()",
        "s.rolling(1).mean()", "s.rolling(2, min_periods=1).sum()",
        "s.ewm(alpha=1).mean()",
        s"s.$ewm1.cov(o)", s"s.$ewm1.corr(o)", s"s.$ewm0.cov(o)",
        s"s.$ewm0.corr(o)", "s.expanding().median()",
        "s.expanding(2).quantile(0.3, interpolation='nearest')",
        "s.expanding(3).quantile(0.8)", "s.expanding(2).cov(o)",
        "s.expanding().corr(o)")).map((_, short)) ++
      Seq(short, long).flatMap { fr =>
        (Seq("mean", "var", "std", "sum").map(m => s"s.$ewm1.$m()") ++
          Seq("mean", "var", "std").map(m => s"s.$ewm0.$m()")).map((_, fr))
      } ++
      Seq(short, offset).flatMap { fr =>
        (Seq("cumsum", "cummax", "cummin", "cumprod").flatMap(m =>
          Seq(s"s.$m()", s"s.$m(skipna=0)")) ++
          Seq("s.ffill()", "s.bfill()", "s.interpolate()",
            "s.expanding(3).mean()", "s.expanding(3).count()") ++
          Seq("sum", "mean", "count", "min", "max", "var", "std", "sem")
            .map(m => s"s.expanding().$m()")).map((_, fr))
      }

  private def matrixOf(fr: Frame): Matrix =
    mat3(fr.head._2.indices.map(i => fr.map(_._2(i))), fr.map(_._1))

  /** The matrix path on one slice. */
  private def matrixPath(): Out = {
    val frames = Seq(short, long, offset).map(fr =>
      fr -> ((matrixOf(fr), matrixOf(swapped(fr))))).toMap
    val conf = spark.conf
    val parts = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", "1")
    try formulas.flatMap { case (f, fr) =>
      val (s, o) = frames(fr)
      new FormulaEvaluator(reg("s" -> s, "o" -> o)).evaluateRaw(f) match {
        case MatrixResult(df, rowId, labels, _) =>
          val byId = cells(df, rowId, labels)
          labels.map(l =>
            (caseOf(f, fr), l) -> byId.keys.toSeq.sorted.map(byId(_)(l)))
        case other => fail(s"$f: expected a matrix result, got $other")
      }
    }.toMap
    finally conf.set("spark.sql.shuffle.partitions", parts)
  }

  /** The driver-side Series twins, one Series per column. */
  private def seriesPath(): Out =
    formulas.flatMap { case (f, fr) =>
      fr.zip(swapped(fr)).map { case ((l, v), (_, w)) =>
        def vec(vs: IndexedSeq[Double]) =
          Vec(vs, vs.indices.map(i => f"r$i%04d"))
        new FormulaEvaluator(reg("s" -> vec(v), "o" -> vec(w)))
          .evaluateRaw(f) match {
          case VecResult(out) => (caseOf(f, fr), l) -> out.values
          case other => fail(s"$f: expected a vector result, got $other")
        }
      }
    }.toMap

  /** One streaming query over `rows`, fed in three micro-batches split on
    * the row id; returns the sink's rows. */
  private def streamed[I: Encoder, O: Encoder](name: String, rows: Seq[I],
      id: I => Long)(op: Dataset[I] => Dataset[O]): Seq[O] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[I]
    val q = op(in.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      Seq(0L, 7L, 14L, Long.MaxValue).sliding(2).foreach { case Seq(a, b) =>
        in.addData(rows.filter(r => id(r) >= a && id(r) < b))
        q.processAllAvailable()
      }
      spark.table(name).as[O].collect().toSeq
    } finally q.stop()
  }

  /** The keyed streaming twins, one key per column. */
  private def streamingPath(): Out = {
    val spark2 = spark
    import spark2.implicits._
    // (key, id, value) rows of every column, in id order
    def keyed(fr: Frame): Seq[(Long, Long, Double)] =
      fr.zipWithIndex.flatMap { case ((_, v), k) =>
        v.indices.map(i => (k + 1L, i.toLong, v(i)))
      }.sortBy(t => (t._2, t._1))
    def pairs(fr: Frame): Seq[PairRow] =
      fr.zip(swapped(fr)).zipWithIndex.flatMap {
        case (((_, v), (_, w)), k) =>
          v.indices.map(i => PairRow(k + 1L, i.toLong, v(i), w(i)))
      }.sortBy(r => (r.id, r.key))
    // one case per (formula, output field), grouped back into series
    def series[O](fr: Frame, outs: Seq[O], key: O => Long, id: O => Long)(
        fields: (String, O => Double)*): Out =
      fields.flatMap { case (f, get) =>
        outs.groupBy(key).map { case (k, os) =>
          (caseOf(f, fr), fr(k.toInt - 1)._1) -> os.sortBy(id).map(get)
        }
      }.toMap
    def opt(o: Option[Double]): Double = o.getOrElse(nan)

    val rw = streamed("tp_roll", keyed(short).map(t =>
      RwRow(t._1, t._2, t._3)), (r: RwRow) => r.id)(
      StreamingOps.rollingStream(_, 5, 2))
    val rp = streamed("tp_rollpair", pairs(short), (r: PairRow) => r.id)(
      StreamingOps.rollingPairStream(_, 5, 2))
    // the long frame rides the same ewm query as key 3
    val ew = streamed("tp_ewm", (keyed(short) ++ keyed(long).map(t =>
      (t._1 + 2, t._2, t._3))).map(t => EwRow(t._1, t._2, t._3)),
      (r: EwRow) => r.id)(StreamingOps.ewmStream(_, 0.5, 2))
    val ec = streamed("tp_ewmcov", pairs(short), (r: PairRow) => r.id)(
      StreamingOps.ewmCovStream(_, 0.5, 2))
    val eq = streamed("tp_expq", keyed(short).map(t =>
      EqRow(t._1, t._2, t._3)), (r: EqRow) => r.id)(
      StreamingOps.expandingQuantileStream(_, 0.5))
    // α = 1: the mean is the `.ffill()` carry, as is the gap fill
    val ew1 = streamed("tp_ewm1", keyed(short).map(t =>
      EwRow(t._1, t._2, t._3)), (r: EwRow) => r.id)(
      StreamingOps.ewmStream(_, 1.0))
    val gf = streamed("tp_gapfill", keyed(short).map(t =>
      GfRow(t._1, t._2, Some(t._3))), (r: GfRow) => r.id)(
      StreamingOps.gapFillStream)
    val (ewShort, ewLong) = ew.partition(_.key <= 2)
    val ewFields = Seq[(String, EwOut => Double)](
      s"s.$ewm1.mean()" -> (_.mean), s"s.$ewm1.var()" -> (_.variance))
    series(short, rw, (o: RwOut) => o.key, (o: RwOut) => o.id)(
      s"s.$roll.sum()" -> (o => opt(o.sum)),
      s"s.$roll.mean()" -> (o => opt(o.mean)),
      s"s.$roll.min()" -> (o => opt(o.min)),
      s"s.$roll.max()" -> (o => opt(o.max)),
      s"s.$roll.count()" -> (o => opt(o.count))) ++
      series(short, rp, (o: RpOut) => o.key, (o: RpOut) => o.id)(
        s"s.$roll.cov(o)" -> (o => opt(o.cov)),
        s"s.$roll.corr(o)" -> (o => opt(o.corr)),
        s"s.$roll.sem()" -> (o => opt(o.semX))) ++
      series(short, ewShort, (o: EwOut) => o.key, (o: EwOut) => o.id)(
        ewFields: _*) ++
      series(long, ewLong, (o: EwOut) => o.key - 2, (o: EwOut) => o.id)(
        ewFields: _*) ++
      series(short, ec, (o: EwCovOut) => o.key, (o: EwCovOut) => o.id)(
        s"s.$ewm1.cov(o)" -> (_.cov), s"s.$ewm1.corr(o)" -> (_.corr)) ++
      series(short, eq, (o: EqOut) => o.key, (o: EqOut) => o.id)(
        "s.expanding().median()" -> (_.quantile)) ++
      series(short, ew1, (o: EwOut) => o.key, (o: EwOut) => o.id)(
        "s.ewm(alpha=1).mean()" -> (_.mean)) ++
      series(short, gf, (o: (Long, Long, Option[Double])) => o._1,
        (o: (Long, Long, Option[Double])) => o._2)(
        "s.ffill()" -> (o => opt(o._3)))
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("matrix, Series and streaming twins agree bit for bit") {
    val matrix = matrixPath()
    val series = seriesPath()
    val stream = streamingPath()
    assert(series.keySet == matrix.keySet)
    assert(stream.size == 32, stream.keySet)
    val mismatches = for {
      (path, got) <- Seq("Series" -> series, "streaming" -> stream)
      (k, v) <- got.toSeq.sortBy(_._1)
      want = matrix(k)
      cells = v.indices.filter(i =>
        i >= want.length || bits(v(i)) != bits(want(i)))
      if v.length != want.length || cells.nonEmpty
    } yield s"$path ${k._1} [${k._2}]: " + cells.take(3).map(i =>
      s"row $i got ${v(i)}, matrix ${want(i)}").mkString("; ")
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }
}
