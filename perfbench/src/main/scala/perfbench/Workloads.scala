package perfbench

import scala.util.Random

/** One result the benchmark times and checks: `key` names its golden
  * digest, `name` is its result name in a formula table, and `family`
  * groups items for the count-vs-full-result gap. */
final case class Item(key: String, name: String, family: String, formula: String)

/** The seeded inputs of each workload. A seed chooses, for every slot, one
  * variant from a small fixed pool (a constant, a window, a span, a shift,
  * an operand) and the order of the slots; the engine receives only the
  * resulting formula table, formula list or query list. Every variant of
  * every pool has a recorded golden digest. */
object Workloads {
  val Names: Seq[String] = Seq("coeff_adp", "scan_shared", "scan_churn", "pipeline_ops")

  // ---- coeff_adp: element-wise and ratio formulas in ADP decimal mode ----
  // ADP's grammar has no `abs` or `**`, and no formula may be all-invalid
  // (AllInvalidResultException aborts the batch). `zro` is zero wherever an
  // order has no line j, so the `/ zro` rows are partly invalid.
  private val adpTemplates: IndexedSeq[Int => String] = IndexedSeq(
    c => s"qty + price * $c", c => s"qty * $c - price",
    c => s"(qty + $c * price) / pos", c => s"qty / zro * $c",
    c => s"price / zro + $c", c => s"qty * w + $c", c => s"price * va / $c",
    c => s"(qty - zro) * $c + pos", c => s"(price + $c) / (pos + $c)",
    c => s"price * $c / pos", c => s"zro / pos * $c", c => s"pos * w / $c",
    c => s"qty / zro - price / pos * $c", c => s"(qty + price + pos) / $c")
  private val adpConsts = IndexedSeq(2, 3, 5)
  /** The two rows the calculator must skip: an empty formula and one with
    * a variable that is not in the registry. */
  val SkipRows: Seq[(String, String)] = Seq("skip_empty" -> "", "skip_missing" -> "qty + nosuch")

  private def adpItem(slot: Int, c: Int): Item = {
    val f = adpTemplates(slot)(c)
    Item(s"adp|$f", f"c$slot%02d", "formula", f)
  }

  // ---- scan_shared: slice-scan and rank methods on the shared matrices ----
  // One slot per method; the rank slot dominates the pass.
  private val sharedTemplates: IndexedSeq[(String, IndexedSeq[String], String => String)] = {
    val ops = IndexedSeq("qty", "price")
    val win = IndexedSeq("3", "4", "5")
    IndexedSeq(
      ("rank", IndexedSeq("", "method='min'", "method='dense'"), m => s"qty.rank($m)"),
      ("rolling", win, w => s"qty.rolling($w).mean()"),
      ("rolling", win, w => s"qty.rolling($w, min_periods=2).quantile(0.25)"),
      ("rolling", win, w => s"qty.rolling($w).cov(price)"),
      ("expanding", IndexedSeq("1", "2", "3"), m => s"qty.expanding(min_periods=$m).median()"),
      ("ewm", IndexedSeq("10", "20", "30"), s => s"qty.ewm(span=$s).mean()"),
      ("ewm", IndexedSeq("0.5", "1", "2"), c => s"qty.ewm($c).var()"),
      ("ewm", IndexedSeq("0.5", "1", "2"), c => s"qty.ewm($c).corr(price)"),
      ("lag", IndexedSeq("1", "2", "3"), k => s"qty.pct_change($k)"),
      ("lag", IndexedSeq("1", "2", "3"), k => s"price.diff($k)"),
      ("cum", ops, x => s"$x.cumsum()"))
  }

  private def sharedItem(slot: Int, v: Int): Item = {
    val (fam, pool, f) = sharedTemplates(slot)
    val formula = f(pool(v))
    Item(s"std|$formula", f"s$slot%02d", fam, formula)
  }

  // ---- scan_churn: one scan per row, each over its own derived base ----
  // Row s scans base `bK` = qty + K*price, a matrix backed by its own
  // DataFrame (K = 2s+1 or 2s+2), so every row needs its own slice layout:
  // more bases than the engine's 16-entry layout cache holds.
  val ChurnSlots = 17
  private val churnMethods: IndexedSeq[(String, IndexedSeq[String], String => String)] =
    IndexedSeq(
      ("rolling", IndexedSeq("3", "5"), w => s".rolling($w).mean()"),
      ("ewm", IndexedSeq("10", "20"), s => s".ewm(span=$s).mean()"),
      ("lag", IndexedSeq("1", "2"), k => s".shift($k)"),
      ("expanding", IndexedSeq("1", "2"), m => s".expanding(min_periods=$m).median()"),
      ("lag", IndexedSeq("1", "3"), k => s".diff($k)"))

  private def churnItem(slot: Int, k: Int, v: Int): Item = {
    val (fam, pool, f) = churnMethods(slot % churnMethods.length)
    val formula = s"b${2 * slot + 1 + k}" + f(pool(v))
    Item(s"std|$formula", f"r$slot%02d", fam, formula)
  }

  /** The K of every derived base `bK` the churn items scan. */
  def churnBases(items: Seq[Item]): Seq[Int] =
    items.map(_.formula.drop(1).takeWhile(_.isDigit).toInt).distinct.sorted

  // ---- pipeline_ops: catalog queries outside the formula language ----
  // TPC-H shapes (scan + aggregate, multi-way joins), span
  // and semantic dedup, cosine similarity, language id and MAD cleaning.
  val PipelineQueries: IndexedSeq[String] = IndexedSeq("h_q1", "h_q3", "h_q5",
    "dd_span", "dd_semantic", "sim_cosine", "txt_langid", "cln_mad")

  private def queryItem(q: String): Item =
    Item(s"q|$q", q, q.takeWhile(_ != '_'), q)

  /** The items of one run of `workload` under `seed`, in run order. */
  def items(workload: String, seed: Long): Seq[Item] = {
    val r = new Random(seed)
    workload match {
      case "coeff_adp" =>
        r.shuffle(adpTemplates.indices.map(s =>
          adpItem(s, adpConsts(r.nextInt(adpConsts.length)))))
      case "scan_shared" =>
        r.shuffle(sharedTemplates.indices.map(s =>
          sharedItem(s, r.nextInt(sharedTemplates(s)._2.length))))
      case "scan_churn" =>
        r.shuffle((0 until ChurnSlots).map(s => churnItem(s, r.nextInt(2),
          r.nextInt(churnMethods(s % churnMethods.length)._2.length))))
      case "pipeline_ops" => r.shuffle(PipelineQueries.map(queryItem))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  /** Every item any seed can produce for `workload` (the golden set). */
  def allItems(workload: String): Seq[Item] = workload match {
    case "coeff_adp" =>
      for (s <- adpTemplates.indices; c <- adpConsts) yield adpItem(s, c)
    case "scan_shared" =>
      for (s <- sharedTemplates.indices; v <- sharedTemplates(s)._2.indices)
        yield sharedItem(s, v)
    case "scan_churn" =>
      for (s <- 0 until ChurnSlots; k <- 0 to 1;
           v <- churnMethods(s % churnMethods.length)._2.indices)
        yield churnItem(s, k, v)
    case "pipeline_ops" => PipelineQueries.map(queryItem)
  }
}
