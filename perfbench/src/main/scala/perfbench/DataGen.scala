package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Synthetic TPC-H-ish tables with the schemas the engine's catalog reads
  * (`region nation customer supplier part orders lineitem documents
  * embeddings`), one parquet file each, sized by a scale factor `sf`
  * (lineitem ≈ 6M·sf rows). The data is a pure function of `sf`: the rows
  * come from one fixed-seed generator, so golden digests stay valid for
  * every benchmark seed — the benchmark seed varies the formula tables,
  * scan parameters and item order, never the data. */
object DataGen {
  private val DataSeed = 42L
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")
  private val Adjectives = Array("blue", "cold", "hot", "large", "old",
    "red", "small", "new")
  private val Nouns = Array("bolt", "gear", "gizmo", "plate", "ring", "rod",
    "widget", "spring")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Vocab = ("a agg batch big column customer data fast filter " +
    "group hash join key line merge order part query row scan slow small " +
    "sort spark stream table the value vector window").split(' ')
  private val Langs = Array("en", "en", "en", "en", "zh", "es", "de", "fr")

  private def field(n: String, t: DataType) = StructField(n, t, nullable = true)

  /** Writes every table of scale `sf` under `dir` (replacing it). */
  def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    val rnd = new SplittableRandom(DataSeed)
    val nCust = math.max(150, (150000 * sf).toInt)
    val nSupp = math.max(10, (10000 * sf).toInt)
    val nPart = math.max(200, (200000 * sf).toInt)
    val nOrd = math.max(1500, (1500000 * sf).toInt)
    val nLine = 4 * nOrd
    val nDocs = math.max(500, (50000 * sf).toInt)
    val nVecs = math.max(500, (20000 * sf).toInt)
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    def money(lo: Double, hi: Double) =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", StructType(Seq(field("r_regionkey", IntegerType),
        field("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    write("nation", StructType(Seq(field("n_nationkey", IntegerType),
        field("n_name", StringType), field("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write("customer", StructType(Seq(field("c_custkey", LongType),
        field("c_name", StringType), field("c_nationkey", IntegerType),
        field("c_acctbal", DoubleType), field("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
        rnd.nextInt(25), money(-999.99, 9999.99),
        Segments(rnd.nextInt(Segments.length)))))
    write("supplier", StructType(Seq(field("s_suppkey", LongType),
        field("s_name", StringType), field("s_nationkey", IntegerType),
        field("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rnd.nextInt(25), money(-999.99, 9999.99))))
    val retail = Array.tabulate(nPart)(i => 900.0 + (i % 1000) / 10.0)
    write("part", StructType(Seq(field("p_partkey", LongType),
        field("p_name", StringType), field("p_brand", StringType),
        field("p_type", StringType), field("p_size", IntegerType),
        field("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        Adjectives(rnd.nextInt(Adjectives.length)) + " " +
          Nouns(rnd.nextInt(Nouns.length)),
        s"Brand#${1 + rnd.nextInt(25)}", PartTypes(rnd.nextInt(PartTypes.length)),
        1 + rnd.nextInt(50), retail(i))))
    write("orders", StructType(Seq(field("o_orderkey", LongType),
        field("o_custkey", LongType), field("o_orderstatus", StringType),
        field("o_totalprice", DoubleType), field("o_orderdate", TimestampNTZType),
        field("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong,
        "FOP".charAt(rnd.nextInt(3)).toString, money(1000.0, 500000.0),
        day0.plusDays(rnd.nextInt(2404).toLong),
        Priorities(rnd.nextInt(Priorities.length)))))
    write("lineitem", StructType(Seq(field("l_orderkey", LongType),
        field("l_partkey", LongType), field("l_suppkey", LongType),
        field("l_linenumber", IntegerType), field("l_quantity", DoubleType),
        field("l_extendedprice", DoubleType), field("l_discount", DoubleType),
        field("l_tax", DoubleType), field("l_returnflag", StringType),
        field("l_linestatus", StringType), field("l_shipdate", TimestampNTZType))),
      (0 until nLine).map { _ =>
        val pk = rnd.nextInt(nPart)
        val q = 1 + rnd.nextInt(50)
        Row(rnd.nextInt(nOrd).toLong, pk.toLong, rnd.nextInt(nSupp).toLong,
          1 + rnd.nextInt(7), q.toDouble,
          math.round(q * retail(pk) * 100 * (0.9 + rnd.nextDouble() * 0.2)) / 100.0,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          "RAN".charAt(rnd.nextInt(3)).toString, "OF".charAt(rnd.nextInt(2)).toString,
          day0.plusDays(1L + rnd.nextInt(2500)))
      })
    // every fifth document repeats a 12-word run of an earlier one, so the
    // span-dedup operators find real duplicate windows
    val texts = new Array[Array[String]](nDocs)
    write("documents", StructType(Seq(field("doc_id", LongType),
        field("text", StringType), field("lang", StringType),
        field("source", StringType), field("n_chars", LongType))),
      (0 until nDocs).map { i =>
        val own = Array.fill(8 + rnd.nextInt(90))(Vocab(rnd.nextInt(Vocab.length)))
        texts(i) = if (i % 5 == 4 && texts(i / 2).length >= 12) {
          val src = texts(i / 2)
          val at = rnd.nextInt(src.length - 11)
          own ++ src.slice(at, at + 12) ++ Array("dup")
        } else own
        val text = texts(i).mkString(" ")
        Row(i.toLong, text, Langs(rnd.nextInt(Langs.length)), s"src${i % 20}",
          text.length.toLong)
      })
    val centroids = Array.fill(10, 64)(rnd.nextGaussian() * 0.08)
    write("embeddings", StructType(Seq(field("vec_id", LongType),
        field("embedding", ArrayType(FloatType, containsNull = true)),
        field("label", IntegerType))),
      (0 until nVecs).map { i =>
        val label = rnd.nextInt(10)
        Row(i.toLong,
          centroids(label).map(c => (c + rnd.nextGaussian() * 0.1).toFloat).toSeq,
          label)
      })
  }
}
