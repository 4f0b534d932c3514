package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc profiling harness: runMain graft.Profile <queryName> [sfDir]
  * prints the formatted physical plan and wall time for one catalog query. */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // warmup
    // time construction + execution together: iterative operators
    // (duplicateGroups) materialize eagerly while the query is BUILT.
    // The noop sink computes the full result; count() lets Catalyst
    // prune projections, sorts and aggregate expressions
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    df.explain("formatted")
    println(f"[profile] $name: full result in $sec%.2f s (incl. construction)")
    spark.stop()
  }
}
