package perfbench

import java.io.{File, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** The harness JVM, started by `run.py`.
  *
  *   gen    --data DIR --sf X                   write the synthetic tables
  *   run    --workload W --seed N --seconds S --trace 0|1 --data DIR
  *          --work DIR --goldens FILE [--trace-out FILE]
  *          [--posture JSON]                    one benchmark run
  *   record --data DIR --work DIR --goldens FILE  record every golden digest
  *
  * A run sets up three times (each a fresh session, the shared ingest and
  * the calculator construction; the last one is kept), repeats untimed
  * warm-up passes until S seconds have passed (at least one), then
  * repeats timed passes until another S seconds have passed (at least
  * three).
  * Every item of every pass is checked against its golden digest. The last
  * stdout line is the result JSON. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("gen") =>
        val spark = SparkSession.builder().master("local[2]").appName("perfbench-gen")
          .config("spark.ui.enabled", "false").getOrCreate()
        DataGen.generate(spark, opts("data"), opts("sf").toDouble)
        spark.stop()
      case Some("run") => run(opts)
      case Some("record") => record(opts)
      case _ =>
        System.err.println("usage: Main gen|run|record --key value ...")
        sys.exit(2)
    }
  }

  private def readGoldens(path: String): Map[String, (String, Long)] =
    if (!new File(path).exists) Map.empty
    else Files.readAllLines(Paths.get(path), UTF_8).asScala.filter(_.nonEmpty)
      .map { l =>
        val Array(k, d, inv) = l.split('\t')
        k -> (d, inv.toLong)
      }.toMap

  /** The fewest timed passes a run makes. */
  private val MinTimed = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val realErr = System.err
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit =
      realErr.println(s"[perfbench] ${System.currentTimeMillis() - jvmStart} ms: $name done")
    phase("jvm start")
    val tap = new StderrTap(realErr)
    System.setErr(new PrintStream(tap, true, "UTF-8"))
    val runner = new Runner(workload, seed, o("data"), o("work"),
      readGoldens(o("goldens")), tap)
    if (traced) graft.plans.CodegenFallbackCounter.install()

    // ---- set-up, three times; the last session is kept ----
    val setupS = ArrayBuffer[Double](); val ingestS = ArrayBuffer[Double]()
    val buildS = ArrayBuffer[Double]()
    // the first set-up also starts the SparkContext; later ones open a new
    // session on it after dropping every cached relation, so each one
    // re-ingests from the files
    var spark: SparkSession = null
    var prep: Prepared = null
    (1 to 3).foreach { _ =>
      val t0 = System.nanoTime()
      spark = if (spark == null) runner.newSession() else {
        spark.catalog.clearCache()
        spark.newSession()
      }
      val (p, ing, bld) = runner.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      ingestS += ing; buildS += bld
      prep = p
    }
    phase("setup")
    val exec = new ExecListener
    spark.sparkContext.addSparkListener(exec)
    val plans = new PlanListener
    spark.listenerManager.register(plans)
    val tr = new Tracer(spark.sparkContext)
    JvmStats.resetPeak()
    val jit0 = JvmStats.jitMs

    // ---- warm-up, then timed passes, each until the time is up ----
    // passes keep getting faster for the first 20-30 s of them, as the JIT
    // compiles Spark's and the engine's hot paths, so the warm-up runs as
    // long as the timed phase does
    val passes = ArrayBuffer[PassRec]()
    var t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || passes.isEmpty)
      passes += runner.pass(spark, prep, tr, exec, plans, 0, traced = false)
    val warmups = passes.length
    JvmStats.quiesce(1000)
    phase("warmup")
    t0 = System.nanoTime()
    val timed = ArrayBuffer[PassRec]()
    // at least MinTimed timed passes; a traced run alternates untraced and
    // traced passes, so the tracing overhead is measured inside one JVM
    while (elapsed < seconds || timed.length < MinTimed) {
      val rec = runner.pass(spark, prep, tr, exec, plans, timed.length + 1,
        traced = traced && timed.length % 2 == 1)
      timed += rec; passes += rec
    }
    phase("timed passes")
    val jitS = (JvmStats.jitMs - jit0) / 1e3
    val heapPeak = JvmStats.heapPeakMb
    PerfbenchBridge.drain(spark.sparkContext) // block sizes reach the status store through the bus
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

    // ---- correctness over every pass (warm-up included) ----
    val all = passes.flatMap(_.items)
    val failed = all.filterNot(_.ok)
    failed.take(20).foreach(r => realErr.println(s"[perfbench] FAILED ${r.item.key}: ${r.note}"))

    val plain = timed.filterNot(_.traced)
    val times = plain.flatMap(_.items.filter(r => r.ok && !r.fullS.isNaN).map(_.fullS)).sorted
    // the highest percentile with at least ten samples beyond it in the
    // fewest timed passes a run makes, so that it does not depend on how
    // many passes fit; taken by nearest rank
    val tailPct = 100.0 * math.max(0.0, 1.0 - 10.0 / (MinTimed * runner.items.length))
    val tail = if (times.isEmpty) Double.NaN
      else times(math.min(times.length - 1,
        math.max(0, math.ceil(tailPct / 100.0 * times.length - 1e-9).toInt - 1)))
    val metrics: Seq[(String, Double, String)] = if (!traced) Seq(
      ("setup_s", median(setupS.toSeq), "s"),
      ("wall_s", median(plain.map(_.wallS).toSeq), "s"),
      ("item_p50_s", median(times.toSeq), "s"),
      ("item_tail_s", tail, "s"),
      ("task_s", median(plain.map(_.taskS).toSeq), "s"),
      ("cached_mb", cachedMb, "MB"))
    else {
      val tp = timed.filter(_.traced)
      val keys = tp.head.layer.keys.toSeq.sorted
      val tItems = tp.flatMap(_.items).filter(r => r.ok && !r.fullS.isNaN && !r.countS.isNaN)
      val tracedWall = median(tp.map(_.wallS).toSeq)
      val plainWall = median(plain.map(_.wallS).toSeq)
      keys.map(k => (k, tp.map(_.layer(k)).sum / tp.length, LayerUnits.of(k))) ++ Seq(
        ("model.base_build_s", median(ingestS.toSeq), "s"),
        ("model.cast_s", median(buildS.toSeq), "s"),
        ("jvm.heap_peak_mb", heapPeak, "MB"),
        ("jvm.jit_s", jitS, "s"),
        ("trace.wall_s", tracedWall, "s"),
        ("trace.untraced_wall_s", plainWall, "s"),
        ("trace.overhead_s", tracedWall - plainWall, "s"),
        ("item.full_s", tItems.map(_.fullS).sum / tp.length, "s"),
        ("item.count_s", tItems.map(_.countS).sum / tp.length, "s"))
    }

    val posture = o.getOrElse("posture", "{}")
    val info = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "posture" -> posture,
      "passes" -> timed.length.toString,
      "traced_passes" -> timed.count(_.traced).toString,
      "items_per_pass" -> runner.items.length.toString,
      "tail" -> Json.obj("percentile" -> Json.num(tailPct),
        "samples" -> times.length.toString),
      "setups_s" -> Json.arr(setupS.map(Json.num).toSeq),
      "pass_walls_s" -> Json.arr(timed.map(p => Json.num(p.wallS)).toSeq),
      "warmup_walls_s" -> Json.arr(passes.take(warmups).map(p => Json.num(p.wallS)).toSeq))
    println(info)
    o.get("trace-out").filter(_ => traced).foreach { path =>
      val spans = tr.dump()
      val families = tp(timed).flatMap(_.items).filter(r => r.ok && !r.countS.isNaN)
        .groupBy(_.item.family).toSeq.sortBy(_._1).map { case (fam, rs) =>
          fam -> Json.obj("items" -> rs.length.toString,
            "full_s" -> Json.num(rs.map(_.fullS).sum),
            "count_s" -> Json.num(rs.map(_.countS).sum),
            "full_over_count" -> Json.num(rs.map(_.fullS).sum / rs.map(_.countS).sum))
        }
      val doc = Json.obj(
        "info" -> info,
        "metrics" -> Json.obj(metrics.map { case (k, v, _) => k -> Json.num(v) }: _*),
        "count_gap_by_family" -> Json.obj(families: _*),
        "items" -> Json.arr(tp(timed).flatMap(_.items).map(r => Json.obj(
          "key" -> Json.str(r.item.key), "full_s" -> Json.num(r.fullS),
          "count_s" -> Json.num(r.countS), "ok" -> r.ok.toString)).toSeq),
        "spans" -> Json.arr(spans.map(s => Json.obj("id" -> s.id.toString,
          "name" -> Json.str(s.name), "parent" -> s.parent.toString,
          "item" -> Json.str(s.item), "start_ns" -> s.startNs.toString,
          "end_ns" -> s.endNs.toString))))
      Files.write(Paths.get(path), doc.getBytes(UTF_8))
    }
    val result = Json.obj(
      "correct" -> failed.isEmpty.toString,
      "attempted" -> all.length.toString,
      "failed" -> failed.length.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*))
    spark.stop()
    phase("stop")
    println(result)
    System.out.flush()
  }

  private def tp(ps: scala.collection.Seq[PassRec]) = ps.toSeq.filter(_.traced)

  /** Runs every item any seed can produce, once, and writes its digest and
    * validator invalid count as the golden file. */
  def record(o: Map[String, String]): Unit = {
    val tap = new StderrTap(System.err)
    System.setErr(new PrintStream(tap, true, "UTF-8"))
    val lines = ArrayBuffer[String]()
    Workloads.Names.foreach { w =>
      val runner = new Runner(w, 0L, o("data"), o("work"), Map.empty, tap,
        Some(Workloads.allItems(w).zipWithIndex.map { case (i, k) =>
          i.copy(name = f"g$k%03d") }))
      val spark = runner.newSession()
      val (prep, _, _) = runner.setup(spark)
      val tr = new Tracer(spark.sparkContext)
      val rec = runner.pass(spark, prep, tr, new ExecListener, new PlanListener, 0,
        traced = false)
      rec.items.filter(_.item.family != "skip").foreach { r =>
        require(r.ok || r.note == "no golden", s"${r.item.key}: ${r.note}")
        lines += s"${r.item.key}\t${r.digest}\t${rec.invalid.getOrElse(r.item.formula, 0L)}"
      }
      spark.stop()
    }
    Files.write(Paths.get(o("goldens")), (lines.sorted.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

/** Units of the per-layer metrics, from their name. */
object LayerUnits {
  def of(k: String): String =
    if (k.endsWith("_s") || k == "compile.s" || k == "validate.s") "s"
    else if (k.endsWith("_mb")) "MB"
    else "count"
}

/** Just enough JSON writing for the result lines and the trace file;
  * values are passed pre-rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v) match {
      case s if s.contains('E') => java.math.BigDecimal.valueOf(v).toPlainString
      case s => s
    }
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
