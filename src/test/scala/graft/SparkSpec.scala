package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Matrix, NamedData, Vec}

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Build a 3×3 matrix fixture with integer row ids 0..2 and labels c0..c2
    * (FIXTURES.md §A: the reference's seed-42 pytest matrices, frozen). */
  def mat3(rows: Seq[Seq[Double]], labels: Seq[String] = Seq("c0", "c1", "c2")): Matrix = {
    val schema = StructType(StructField("__row_id__", LongType) +:
      labels.map(l => StructField(l, DoubleType)))
    val data = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(i.toLong +: r)
    }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
      schema)
    Matrix.of(df, "__row_id__", labels)
  }

  /** Collect a matrix result to (rowId → label → value), NaN-safe. */
  def cells(df: DataFrame, rowId: String, labels: Seq[String]): Map[Long, Map[String, Double]] =
    df.collect().map { r =>
      val id = r.get(r.fieldIndex(rowId)) match {
        case l: Long => l; case i: Int => i.toLong
        case d: Double => d.toLong
        case x => x.toString.toLong
      }
      id -> labels.map { l =>
        val v = r.get(r.fieldIndex(l))
        l -> (v match {
          case null => Double.NaN
          case d: Double => d
          case b: java.math.BigDecimal => b.doubleValue()
          case b: Boolean => if (b) 1.0 else 0.0
          case x => x.toString.toDouble
        })
      }.toMap
    }.toMap

  def assertCell(actual: Double, expected: Double, tol: Double = 1e-10): Unit = {
    if (expected.isNaN) assert(actual.isNaN, s"expected NaN, got $actual")
    else if (expected.isInfinite) assert(actual == expected, s"expected $expected, got $actual")
    else assert(math.abs(actual - expected) <= tol, s"expected $expected, got $actual")
  }

  // Reference fixture matrices, FIXTURES.md §A (seed 42, frozen literals)
  lazy val fixA = mat3(Seq(Seq(1, 7, 6), Seq(4, 4, 8), Seq(1, 7, 2)).map(_.map(_.toDouble)))
  lazy val fixB = mat3(Seq(Seq(1, 3, 4), Seq(3, 4, 3), Seq(4, 3, 1)).map(_.map(_.toDouble)))
  lazy val fixC = mat3(Seq(Seq(2, 1, 2), Seq(1, 1, 2), Seq(2, 2, 1)).map(_.map(_.toDouble)))
  lazy val fixD = mat3(Seq(Seq(5, 4, 3), Seq(3, 2, 2), Seq(4, 5, 2)).map(_.map(_.toDouble)))
  lazy val fixE = mat3(Seq.fill(3)(Seq(0.0, 0.0, 0.0)))
  lazy val fixG = mat3(Seq(Seq(6, 0, 0), Seq(0, 2, 0), Seq(0, 0, 7)).map(_.map(_.toDouble)))
  lazy val fixI = mat3(Seq(Seq(7, Double.NaN, 1), Seq(9, 5, 9), Seq(7, 8, Double.NaN)))

  /** The Spark jobs `body` starts: jobs of a job group seen by a listener,
    * read once a marker job started after `body` has been seen (listener
    * events arrive in order). */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .orNull
        if (g != null) seen.merge(g, 1, (a: Integer, b: Integer) => a + b)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.containsKey(group + "-marker") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.containsKey(group + "-marker"),
        "the marker job never reached the listener")
      (out, Option(seen.get(group)).map(_.intValue).getOrElse(0))
    } finally sc.removeSparkListener(listener)
  }

  def reg(entries: (String, NamedData)*): Map[String, NamedData] = entries.toMap
}
