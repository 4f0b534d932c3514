package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result digest: row count plus the sums of the low
  * and high 32 bits of a per-row xxhash64. Floating-point cells are hashed
  * at float precision (and -0.0 folded into 0.0), so an ulp-level
  * difference in a distributed sum does not read as a wrong result while
  * any real change of a value still does. */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType) + lit(0.0f)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => x.cast(FloatType) + lit(0.0f))
    case _ => c
  }

  private def aggs(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.schema.fields.toSeq.map(f =>
      norm(col(s"`${f.name.replace("`", "``")}`"), f.dataType)): _*)
    Seq(count(lit(1)).as("n"), sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  private def render(n: Any, lo: Any, hi: Any): String = {
    def l(x: Any) = if (x == null) 0L else x.asInstanceOf[Number].longValue
    f"${l(n)}%d:${l(lo)}%x:${l(hi)}%x"
  }

  /** Digests of several frames, computed by one job over their union. */
  def ofAll(dfs: Seq[DataFrame]): Seq[String] =
    if (dfs.isEmpty) Nil else {
      val parts = dfs.zipWithIndex.map { case (df, i) =>
        val a = aggs(df)
        df.agg(a.head, a.tail: _*).withColumn("i", lit(i))
      }
      val rows = parts.reduce(_ unionByName _).collect().map(r => r.getInt(3) -> r).toMap
      dfs.indices.map { i => val r = rows(i); render(r.get(0), r.get(1), r.get(2)) }
    }

  /** Materializes the full result of `df` into the `noop` sink and returns
    * its digest, observed in the same pass over the rows. */
  def materialize(df: DataFrame): String = {
    val obs = new Observation()
    val a = aggs(df)
    df.observe(obs, a.head, a.tail: _*).write.format("noop").mode("overwrite").save()
    val m = obs.get
    render(m("n"), m("lo"), m("hi"))
  }
}
