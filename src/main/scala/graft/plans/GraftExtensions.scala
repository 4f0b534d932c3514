package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotProduct, DotProductExact, Md5Long60, MinHashSig,
  PortableRollingHash, SimHash60, WordShingles}

/** SparkSessionExtensions entry point: registers graft's compiled Catalyst
  * expressions as native SQL functions, so `spark.sql` users (and pure-SQL
  * tooling layered on the session) get the same fast paths as the Column
  * API in `graft.functions.ArrayOps` — callable as `dot_product(a, b)`,
  * `dot_product_exact(a, b)`, `rolling_hash_portable(arr)` — plus the
  * optimizer rules and the custom-operator planner strategies.
  *
  * Wire-up (any of the three works):
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)                       // in-code
  *     .config("spark.sql.extensions", classOf[GraftExtensions].getName)
  *   GraftExtensions.ensureFunctions(spark)   // runtime, existing session
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rules: interpreted HOF dot products → compiled DotProduct;
    // row_number()-over-window top-k filters → the custom TopK operator;
    // surviving GLOBAL row_number windows → the two-phase distributed
    // prefix (registered after the top-k rule so bounded filters take the
    // heap operator and only genuine full numberings are re-planned)
    ext.injectOptimizerRule(_ => CompiledDotProductRule)
    ext.injectOptimizerRule(_ => WindowTopKRule)
    ext.injectOptimizerRule(_ => GlobalRowNumberRule)
    // physical strategies for the grouped top-k operator (TopKPerKeyNode →
    // partial heaps → exchange → final heaps) and the slice scans
    // (SliceScanNode → SliceScanExec)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectPlannerStrategy(_ => SliceScanStrategy)
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        GraftExtensions.info(name, usage), builder))
    }
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, "", name, usage,
      "", "", "", "", "", "", "scala_udf")

  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression =
    args => {
      require(args.length == n,
        s"$name expects $n argument(s), got ${args.length}")
      build(args)
    }

  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be an int literal")
  }

  /** The SQL function surface (name, usage, builder) — shared between the
    * build-time extensions path and runtime registration. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("dot_product",
      "dot_product(a, b) - compiled double dot product of two numeric arrays",
      arity("dot_product", 2)(a => DotProduct(a(0), a(1)))),
    ("dot_product_exact",
      "dot_product_exact(a, b) - order-independent decimal-summed dot product",
      arity("dot_product_exact", 2)(a => DotProductExact(a(0), a(1)))),
    ("rolling_hash_portable",
      "rolling_hash_portable(arr) - engine-portable rolling hash of a string array",
      arity("rolling_hash_portable", 1)(a => PortableRollingHash(a(0)))),
    ("md5_long60",
      "md5_long60(s) - first 15 hex digits of md5(s) as a long (portable 60-bit hash)",
      arity("md5_long60", 1)(a => Md5Long60(a(0)))),
    ("minhash_sig",
      "minhash_sig(words, n, k) - portable k-slot MinHash signature of a token array",
      arity("minhash_sig", 3)(a => MinHashSig(a(0), litInt(a(1), "n"),
        graft.operators.Dedup.uhParams(litInt(a(2), "k"))))),
    ("simhash60",
      "simhash60(words) - portable 60-bit SimHash of a token array",
      arity("simhash60", 1)(a => SimHash60(a(0)))),
    ("word_shingles",
      "word_shingles(words, n) - word n-gram shingle array (first-occurrence distinct)",
      arity("word_shingles", 2)(a => WordShingles(a(0), litInt(a(1), "n")))),
    ("heavy_hitters",
      "heavy_hitters(s, capacity) - Misra-Gries frequent-items sketch: " +
        "struct(items: map<item, lower-bound count>, err: error bound)",
      arity("heavy_hitters", 2)(a =>
        graft.functions.MisraGries(a(0), litInt(a(1), "capacity")))),
    ("quantize_int8",
      "quantize_int8(emb) - symmetric int8 quantization of a numeric array: " +
        "struct(scale: double, q: array<int>)",
      arity("quantize_int8", 1)(a => graft.functions.QuantizeInt8(a(0)))),
    ("sign_pack32",
      "sign_pack32(emb, half) - 32 sign bits of embedding half `half` " +
        "packed into a long (1-bit binary quantization; r8)",
      arity("sign_pack32", 2)(a =>
        graft.functions.SignPack32(a(0), litInt(a(1), "half")))),
    ("repetition_stats",
      "repetition_stats(words) - Gopher repetition signals of a token array: " +
        "struct(n_tokens, n_bigrams, dup_word_frac, top_bigram_frac, dup_bigram_frac)",
      arity("repetition_stats", 1)(a => graft.functions.RepetitionStats(a(0)))))

  /** Idempotently register the SQL function surface on an EXISTING session
    * (extensions bind at build time; this is the runtime path — e.g. a
    * notebook session the user cannot rebuild). Re-registration simply
    * overwrites with an identical builder. */
  def ensureFunctions(spark: SparkSession): Unit =
    functions.foreach { case (name, usage, builder) =>
      GraftColumnBridge.registerFunction(spark,
        FunctionIdentifier(name), info(name, usage), builder)
    }

  /** Idempotently install the optimizer rules AND the custom-operator
    * planner strategies on an EXISTING session (r9): `spark.experimental`
    * is the runtime registration hook Spark provides for exactly this —
    * the rules land in the optimizer's "User Provided Optimizers" batch,
    * the strategy ahead of the built-in ones. After this call a plain
    * (extensions-less) session re-plans the `row_number() <= k` window
    * idiom onto the bounded-heap [[TopKPerKeyNode]] and global
    * numberings onto the distributed prefix, same as a session built
    * `.withExtensions(new GraftExtensions)`. Rule order matters and is
    * preserved: [[WindowTopKRule]] ahead of [[GlobalRowNumberRule]], so
    * bounded filters take the heap operator and only genuine full
    * numberings are re-planned. */
  def ensureRules(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    val rules: Seq[Rule[LogicalPlan]] =
      Seq(CompiledDotProductRule, WindowTopKRule, GlobalRowNumberRule)
    val missing = rules.filterNot(spark.experimental.extraOptimizations.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++ missing
    TopKPerKey.ensureStrategy(spark)
    SliceScan.ensureStrategy(spark)
    ensureFunctions(spark)
  }
}
