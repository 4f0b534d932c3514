package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.QueryCatalog._
import graft.api.CoefficientCalculator
import graft.compile.MatrixResult
import graft.model.{Matrix, NamedData}
import graft.operators._

/** Driver contract — one query per implemented operator from SURVEY.md §2
  * (S/E/A/V/F/X inventory) plus the training-data pipeline operators
  * (dedup / similarity / text / multimodal). Each oracle-checked query has a
  * DuckDB SQL mirror in [[oracleSql]]; queries whose semantics aren't
  * SQL-expressible (hash-based LSH internals) get the weaker rows-only
  * check and are covered by ScalaTest instead.
  */
object SparkEntry {

  /** Flagship: batch coefficient calculation over sf0.001 (the reference's
    * README workflow: formula table → per-formula matrix results). */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val fmSchema = StructType(Seq(StructField("result_name", StringType),
      StructField("formula", StringType)))
    val fm = spark.createDataFrame(java.util.List.of(
      Row("ratio", "qty / pos"), Row("scaled", "qty * w"),
      Row("combo", "(qty + price) / pos + price"),
      Row("skipme", ""), Row("missing", "qty + nosuch")), fmSchema)
    val calc = new CoefficientCalculator(registry(spark, sfDir), fm,
      adpEnabled = false, fillInvalid = true)
    val out = calc.computeCoefficients()
    val MatrixResult(df, rowId, _, _) = out("combo"): @unchecked
    df.orderBy(col(rowId))
  }

  /** PII fixture shared by txt_pii / pipe_pretrain: plant doc_id-derived
    * emails / IPs / phones / account ids into the (clean-word) corpus,
    * mirrored verbatim in the oracle SQL, so the redactor must find
    * exactly these. */
  private def injectPii(dd: DataFrame): DataFrame = {
    val id = col("doc_id")
    dd.withColumn("text", concat(
      col("text"),
      when(id % 3 === 0, concat(lit(" reach me at user"), id,
        lit("@mail.example.com"))).otherwise(lit("")),
      when(id % 4 === 0, concat(lit(" from 10.0."), (id % 256).cast("string"),
        lit(".42"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" call 555-"),
        lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(id % 7 === 0, concat(lit(" acct "),
        (id + 9000000L).cast("string"))).otherwise(lit(""))))
  }

  /** Shared left/right sides for the as-of join queries: odd events join
    * against even events per user on epoch-µs time. The right side is
    * pre-deduped to one row per (key, ts) — latest event_id wins — so the
    * match is unambiguous in any engine. */
  /** Deterministic NESTED JSON document rebuilt from real event columns —
    * the ev_jstruct/ev_jarr input. Both engines construct the byte-identical
    * string and then use their own JSON machinery to take it apart. */
  private def nestedJson: org.apache.spark.sql.Column = concat(
    lit("{\"m\":{\"k\":"),
    coalesce(get_json_object(col("props"), "$.k"), lit("null")),
    lit(",\"t\":\""), col("event_type"), lit("\"},\"vals\":["),
    pmod(col("event_id"), lit(7L)),
    lit(","), pmod(col("event_id") * 3, lit(11L)),
    lit(","), pmod(col("event_id") * 5, lit(13L)),
    lit("]}"))

  private def asofSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // `tu` = epoch-µs BIGINT via QueryCatalog.eventsWithTu (tolerant of
    // both the TIMESTAMP(NANOS) and TIMESTAMP(MICROS) physical encodings)
    val ev = eventsWithTu(s, d)
      .select(col("event_id"), col("user_id"), col("tu"), col("value"))
    val l = ev.filter(col("event_id") % 2 === 1)
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("tu")).orderBy(col("event_id").desc)
    val r = ev.filter(col("event_id") % 2 === 0)
      .withColumn("rn", row_number().over(rw)).filter(col("rn") === 1)
      .select(col("user_id"), col("tu"), col("event_id").as("r_event_id"),
        col("tu").as("r_tu"), col("value").as("r_value"))
    (l, r)
  }

  // ---- queries ------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E1: element-wise arithmetic (label-aligned, same backing → join-free)
    "e1_add" -> ((s, d) => formulaQuery("qty + price")(s, d)),
    "e1_sub" -> ((s, d) => formulaQuery("qty - price")(s, d)),
    "e1_mul" -> ((s, d) => formulaQuery("qty * price")(s, d)),
    "e1_div" -> ((s, d) => formulaQuery("qty / pos")(s, d)),
    // E2: power (bit-exact: integer base/exponent + pow(x,.5)≡sqrt in
    // both Java and glibc libm — verified empirically)
    "e2_pow" -> ((s, d) => formulaQuery("qty ** 2 + pos ** 0.5")(s, d)),
    // E4: unary minus + precedence (binds tighter than + but looser than **)
    "e4_neg" -> ((s, d) => formulaQuery("-qty + price")(s, d)),
    // E5: scalar broadcast
    "e5_scalar" -> ((s, d) => formulaQuery("qty * 2.5 + 100")(s, d)),
    // E6: mod & floordiv (positive operands; python≡C here)
    "e6_mod" -> ((s, d) => formulaQuery("qty % 7 + qty // 7")(s, d)),
    // E7: comparisons → boolean frame (bypasses validation)
    "e7_cmp" -> ((s, d) => formulaQuery("qty > price * 10", fill = false)(s, d)),
    // r11 list literals: membership test as a compiled In() per cell
    "e11_isin" -> ((s, d) =>
      formulaQuery("qty.isin([1, 5, 25])", fill = false)(s, d)),
    // E8: boolean algebra
    "e8_bool" -> ((s, d) =>
      formulaQuery("(qty > 1) & (price > 1) | (qty == 1)", fill = false)(s, d)),
    // E9: math functions (sqrt/abs/floor are bit-identical across libms →
    // no rounding; ln/exp differ by ≤1 ulp → round6 on e9_log only)
    "e9_math" -> ((s, d) =>
      formulaQuery("sqrt(pos) + abs(qty - price) + floor(price)")(s, d)),
    "e9_log" -> ((s, d) =>
      formulaQuery("log(pos) + exp(price * 0.001)", roundTo = Some(6))(s, d)),
    "e9_trig" -> ((s, d) =>
      formulaQuery("sin(qty) + cos(price) + arctan2(qty, pos)",
        roundTo = Some(6))(s, d)),
    // E10/E11: method whitelist
    "e10_fillna" -> ((s, d) => formulaQuery("qty.fillna(0) + pos", fill = false)(s, d)),
    "e11_clip" -> ((s, d) => formulaQuery("qty.clip(5, 20)")(s, d)),
    "e11_sum" -> ((s, d) => formulaQuery("qty.sum()")(s, d)),
    "e11_cumsum" -> ((s, d) => formulaQuery("qty.cumsum()")(s, d)),
    "e11_cummax" -> ((s, d) => formulaQuery("qty.cummax()")(s, d)),
    "e11_rank" -> ((s, d) => formulaQuery("qty.rank()")(s, d)),
    // r11 rank keyword surface: min/max/dense are closed forms of the
    // same value-count prefix; 'first' is the positional tie-break path;
    // descending ranks the negated key; pct normalizes by the valid
    // (dense: distinct) count
    "e11_rankmin" -> ((s, d) => formulaQuery("qty.rank(method='min')")(s, d)),
    "e11_rankdense" -> ((s, d) =>
      formulaQuery("qty.rank(method='dense', ascending=0)")(s, d)),
    "e11_rankfirst" -> ((s, d) => formulaQuery("qty.rank(method='first')")(s, d)),
    "e11_rankpct" -> ((s, d) => formulaQuery("qty.rank(pct=1)")(s, d)),
    // na_option (r11 session 5): the NaN cells rank as one tie class
    // before ('top') / after ('bottom') every valid value — pure rank
    // arithmetic over the same value-count prefix (broadcast 1-row
    // per-column stats), no sentinel keys
    "e11_ranktop" -> ((s, d) =>
      formulaQuery("qty.rank(na_option='top')")(s, d)),
    "e11_rankbot" -> ((s, d) =>
      formulaQuery("qty.rank(method='min', na_option='bottom')")(s, d)),
    // tie-free by construction: q integer ⇒ q/7 is never a scale-2 decimal
    // tie (1000q = 7m with m ≡ 5 (mod 10) has no solution), and the true
    // value stays ≥ 1/7000 from every tie point — 10 orders beyond double
    // repr error, so bround (shortest-repr HALF_EVEN) and DuckDB's binary
    // round cannot disagree. The 2.675-style tie edges stay covered by the
    // half-even goldens in FormulaEvaluatorSpec.
    "e11_round" -> ((s, d) => formulaQuery("(qty / 7).round(2)")(s, d)),
    // positional shift/diff down the row-id order: dense position via the
    // distributed prefix + an equi-join on pos−n — no global window
    "e11_shift" -> ((s, d) => formulaQuery("qty.shift(2)")(s, d)),
    "e11_diff" -> ((s, d) => formulaQuery("qty.diff()")(s, d)),
    // tie-free by construction: factors (q % 3 − 1) ∈ {−1, 0, 1}, so the
    // engine's exp/ln running-product path is BIT-exact (ln 1 = 0 exactly,
    // exp 0 = 1 exactly, sign from negative-count parity, zero latches the
    // product at 0) — the one value domain where the distributed cumprod
    // and a sequential multiply cannot differ by even an ulp. Magnitude
    // accumulation stays covered by the goldens in FormulaEvaluatorSpec.
    "e11_cumprod" -> ((s, d) => formulaQuery("(qty % 3 - 1).cumprod()")(s, d)),
    "e11_mean" -> ((s, d) => formulaQuery("qty.mean()")(s, d)),
    // the rest of the pd.eval-dispatchable reduction family (E11 long
    // tail): each one partial-agg tree-reduce, 1-row result. std/var are
    // ddof=1 and float-valued → rounded to 6 on both sides (the e9
    // policy); median interpolates the even middle (integer-valued cells
    // → halves, exact); prod runs the ln/sign/zero decomposition over
    // factors pinned to {−1, 1}, where it is integer-exact
    "e11_min" -> ((s, d) => formulaQuery("qty.min()")(s, d)),
    // r8 reduction tail: distinct count (dropna) and skipna truthiness —
    // any/all run over `zro` (coalesced quantities WITH zeros, so the
    // truth values are data-determined, not vacuous)
    "e11_nunique" -> ((s, d) => formulaQuery("qty.nunique()")(s, d)),
    "e11_idxmax" -> ((s, d) => formulaQuery("qty.idxmax()")(s, d)),
    // method-form arithmetic: same binop machinery as the operators —
    // one oracle row pins the dispatch end-to-end
    "e11_madd" -> ((s, d) => formulaQuery("qty.add(price).mul(2)")(s, d)),
    "e11_desc" -> ((s, d) => formulaQuery("qty.describe()", roundTo = Some(6))(s, d)),
    "e11_sem" -> ((s, d) => formulaQuery("qty.sem()", roundTo = Some(6))(s, d)),
    "e11_skew" -> ((s, d) => formulaQuery("qty.skew()", roundTo = Some(6))(s, d)),
    "e11_kurt" -> ((s, d) => formulaQuery("qty.kurt()", roundTo = Some(6))(s, d)),
    "e11_idxmin" -> ((s, d) => formulaQuery("qty.idxmin()")(s, d)),
    // r9: the Series-shaped top-n / histogram methods (terminal frames
    // like describe): nlargest/nsmallest = filter + TakeOrdered (bounded
    // heap, never a frame sort); value_counts = one map-side-combined
    // hash groupBy on the value
    "e11_nlarge" -> ((s, d) => formulaQuery("qone.nlargest(7)")(s, d)),
    "e11_nsmall" -> ((s, d) => formulaQuery("qone.nsmallest(7)")(s, d)),
    "e11_vcounts" -> ((s, d) => formulaQuery("qone.value_counts()")(s, d)),
    "e11_vcnorm" -> ((s, d) =>
      formulaQuery("qone.value_counts(normalize=1, ascending=1)",
        roundTo = Some(9))(s, d)),
    // r9: pairwise-complete Pearson/covariance frames + any-hole row filter
    "e11_corr" -> ((s, d) => formulaQuery("qty.corr()")(s, d)),
    "e11_cov" -> ((s, d) => formulaQuery("qty.cov()")(s, d)),
    "e11_dropna" -> ((s, d) => formulaQuery("qty.dropna()")(s, d)),
    // r9 session 2 — the E11 long tail continued. pct_change composes the
    // single-pass positional lag with the binop machinery; ffill/bfill run
    // the nearest-valid fill as a running struct(rid, value) extreme
    // through the distributed prefix (one exchange, slice-bounded state)
    "e11_pct" -> ((s, d) => formulaQuery("qty.pct_change()")(s, d)),
    "e11_ffill" -> ((s, d) => formulaQuery("qty.ffill()")(s, d)),
    "e11_bfill" -> ((s, d) => formulaQuery("qty.bfill()")(s, d)),
    // hole mask / conditional replacement / scalar replace — all
    // scan-stage projections (where/mask piggyback on the comparison's
    // NULL-cond-is-False rule; bool results skip fill like e7)
    "e11_isna" -> ((s, d) => formulaQuery("qty.isna()", fill = false)(s, d)),
    "e11_where" -> ((s, d) => formulaQuery("qty.where(qty > 7, 0)")(s, d)),
    "e11_mask" -> ((s, d) => formulaQuery("qty.mask(qty > 7, 0)")(s, d)),
    "e11_repl" -> ((s, d) => formulaQuery("qty.replace(7, 700)")(s, d)),
    // duplicated: groupBy(min rid) + equi-join back — no duplicate-class
    // window partitions; NULL keys normalized to NaN so holes compare
    // equal (pandas' NaN-equality rule for duplicated)
    "e11_dup" -> ((s, d) => formulaQuery("qty.duplicated()", fill = false)(s, d)),
    // head/tail: bounded heap (TakeOrderedAndProject) on the row-id order
    "e11_head" -> ((s, d) => formulaQuery("qty.head(7)")(s, d)),
    "e11_tail" -> ((s, d) => formulaQuery("qty.tail(7)")(s, d)),
    // mode: value_counts shape — groupBy bounded by distinct values, max
    // count broadcast back, position window over the mode set only
    "e11_mode" -> ((s, d) => formulaQuery("qone.mode()")(s, d)),
    // method-form comparisons: same binop dispatch as the `<=` operator
    "e11_mcmp" -> ((s, d) => formulaQuery("qty.le(price * 10)", fill = false)(s, d)),
    // positional window aggregates: rolling = prefix sums + ONE lag
    // (window sum = S_i − S_{i−n}), expanding = the skipna prefix alone —
    // no global window operator anywhere
    "e11_rmean" -> ((s, d) => formulaQuery("qty.rolling(3).mean()")(s, d)),
    "e11_rsum" -> ((s, d) => formulaQuery("qty.rolling(4).sum()")(s, d)),
    "e11_emean" -> ((s, d) => formulaQuery("qty.expanding().mean()")(s, d)),
    // r9 session 3: the rest of the rolling/expanding family — count is
    // NaN only while the window is unformed; min/max/var/std are
    // hole-poisoned full-window (pandas default min_periods); the
    // expanding std is the α = 0 Welford scan
    "e11_rcount" -> ((s, d) => formulaQuery("qty.rolling(3).count()")(s, d)),
    "e11_rmin" -> ((s, d) => formulaQuery("qty.rolling(3).min()")(s, d)),
    "e11_rmax" -> ((s, d) => formulaQuery("qty.rolling(4).max()")(s, d)),
    "e11_rvar" -> ((s, d) =>
      formulaQuery("qty.rolling(3).var()", roundTo = Some(6))(s, d)),
    "e11_rstd" -> ((s, d) =>
      formulaQuery("qty.rolling(3).std()", roundTo = Some(6))(s, d)),
    "e11_estd" -> ((s, d) =>
      formulaQuery("qty.expanding().std()", roundTo = Some(6))(s, d)),
    "e11_emax" -> ((s, d) => formulaQuery("qty.expanding().max()")(s, d)),
    // rolling median: the sorted-ring order statistic (odd window over
    // integer-valued cells -> exact, no rounding needed)
    "e11_rmed" -> ((s, d) => formulaQuery("qty.rolling(3).median()")(s, d)),
    // exponentially weighted family (pandas adjust=True / ignore_na=False
    // / bias=False; positional arg = com) — r10: the EXACT decayed
    // normalized-Welford scan (Prefix.ewmScan), no horizon truncation,
    // no com bound, pandas carry across hole runs; var/std ride the same
    // scan with the add-only DEN = W1²−ΣW² recurrence
    "e11_ewm" -> ((s, d) =>
      formulaQuery("qty.ewm(0.3).mean()", roundTo = Some(6))(s, d)),
    "e11_ewmbig" -> ((s, d) =>
      formulaQuery("qty.ewm(12).mean()", roundTo = Some(5))(s, d)),
    "e11_ewvar" -> ((s, d) =>
      formulaQuery("qty.ewm(1).var()", roundTo = Some(6))(s, d)),
    "e11_ewstd" -> ((s, d) =>
      formulaQuery("qty.ewm(1).std()", roundTo = Some(6))(s, d)),
    // the other pandas decay spellings (r10 kwargs): span (THE finance
    // idiom), halflife; all resolve to α and ride the same exact scan
    "e11_ewspan" -> ((s, d) =>
      formulaQuery("qty.ewm(span=20).mean()", roundTo = Some(5))(s, d)),
    "e11_ewhl" -> ((s, d) =>
      formulaQuery("qty.ewm(halflife=8).mean()", roundTo = Some(5))(s, d)),
    // ewm min_periods (r11): NaN until the running valid-observation
    // count reaches m — the scan threads the count through the same
    // partials/driver/emit monoid
    "e11_ewmp" -> ((s, d) =>
      formulaQuery("qty.ewm(0.3, min_periods=6).mean()",
        roundTo = Some(6))(s, d)),
    // adjust=0 (r11): the recursive form y = (1−α)y + αx as the
    // generalized-weight scan (Prefix.ewmScanRecursive) — the other half
    // of the pandas ewm parameter surface
    "e11_ewadj" -> ((s, d) =>
      formulaQuery("qty.ewm(1, adjust=0).mean()",
        roundTo = Some(5))(s, d)),
    "e11_ewadjv" -> ((s, d) =>
      formulaQuery("qty.ewm(1, adjust=0).var()",
        roundTo = Some(5))(s, d)),
    // expanding min_periods (r10): valid-count gate; count gates on
    // positions (pandas 2.2, pinned)
    "e11_emp" -> ((s, d) =>
      formulaQuery("qty.expanding(min_periods=3).mean()")(s, d)),
    "e11_empc" -> ((s, d) =>
      formulaQuery("qty.expanding(min_periods=2).count()")(s, d)),
    // rolling min_periods (r10 kwarg): valid-count-gated skipna windows
    // with partial leading edges; count gates on positions (pandas 2.2)
    "e11_rmp" -> ((s, d) =>
      formulaQuery("qty.rolling(5, min_periods=2).mean()",
        roundTo = Some(6))(s, d)),
    "e11_rmpc" -> ((s, d) =>
      formulaQuery("qty.rolling(3, min_periods=1).count()")(s, d)),
    "e11_rmpv" -> ((s, d) =>
      formulaQuery("qty.rolling(4, min_periods=2).var()",
        roundTo = Some(6))(s, d)),
    // center=1 (r10): the centered smoothing window — the trailing
    // aggregate led by (n-1)/2, full windows only (pandas center=True
    // with the default min_periods)
    "e11_rctr" -> ((s, d) =>
      formulaQuery("qty.rolling(7, center=1).mean()",
        roundTo = Some(6))(s, d)),
    // r11: arbitrary-q order statistic (pandas linear interpolation on
    // the winmed sorted ring) + standardized third/fourth moments (the
    // winvar two-pass on the window's own mean, pandas 2.x constant and
    // near-constant guards) — the last of the pandas rolling surface
    "e11_rq" -> ((s, d) =>
      formulaQuery("qty.rolling(4, min_periods=2).quantile(0.25)",
        roundTo = Some(6))(s, d)),
    // r11: the order-statistic interpolations on the same sorted ring
    // (q=0.6 keeps h = (cnt−1)·0.6 off the .5 tie line at every cnt, so
    // the DuckDB round() (half-away) and the engine rint (half-even)
    // cannot disagree; the tie rule itself is pandas-pinned in
    // QuantileInterpSpec)
    "e11_rqmid" -> ((s, d) =>
      formulaQuery(
        "qty.rolling(5, min_periods=2).quantile(0.6, interpolation='midpoint')",
        roundTo = Some(6))(s, d)),
    "e11_rqnear" -> ((s, d) =>
      formulaQuery(
        "qty.rolling(5, min_periods=2).quantile(0.6, interpolation='nearest')",
        roundTo = Some(6))(s, d)),
    // skew/kurt round at 5 dp (the ewmbig precedent): integer cells
    // make rational mid-quantum values structural — one sf0.01 cell
    // reads exactly 2.0109375, which 1e-16 cross-engine noise rounds
    // to either 6-dp side
    // rolling rank (r11 session 4): the current cell's rank among the
    // window's valid cells on the same ring emit (integer + .5 halves
    // — exact, rounded 6 for the cross-engine margin)
    "e11_rrank" -> ((s, d) =>
      formulaQuery("qty.rolling(4, min_periods=2).rank()",
        roundTo = Some(6))(s, d)),
    "e11_rskew" -> ((s, d) =>
      formulaQuery("qty.rolling(5, min_periods=3).skew()",
        roundTo = Some(5))(s, d)),
    "e11_rkurt" -> ((s, d) =>
      formulaQuery("qty.rolling(6, min_periods=4).kurt()",
        roundTo = Some(5))(s, d)),
    // r11 session 5: the window standard error (pandas Rolling.sem =
    // std(ddof=1)/sqrt(count − ddof) — NOT the Series reduction's
    // sqrt(count); pinned on pandas 2.2) on the fused ring / the
    // expanding prefix
    "e11_rsem" -> ((s, d) =>
      formulaQuery("qty.rolling(4, min_periods=2).sem()",
        roundTo = Some(6))(s, d)),
    "e11_esem" -> ((s, d) =>
      formulaQuery("qty.expanding().sem()", roundTo = Some(6))(s, d)),
    // r12: the expanding order statistic — running rank selection over
    // running value counts (Fenwick over the bounded distinct domain,
    // Prefix.runningQuantile); closes the last window-family rejection
    "e11_emed" -> ((s, d) =>
      formulaQuery("qty.expanding().median()", roundTo = Some(6))(s, d)),
    "e11_eq" -> ((s, d) =>
      formulaQuery("qty.expanding(min_periods=2).quantile(0.25)",
        roundTo = Some(6))(s, d)),
    // r11 session 5: pairwise moving covariance/correlation — pandas
    // 2.2 masks BOTH inputs to the window's pairwise-complete cells,
    // moments over the PAIRS (corr's denominator too), gate =
    // valid-pair count >= min_periods; ONE fused slice pass over the
    // 2w marked inputs (rolling) / one running-sum pass (expanding)
    "e11_rcov" -> ((s, d) =>
      formulaQuery("qty.rolling(3).cov(price)", roundTo = Some(6))(s, d)),
    "e11_rcorr" -> ((s, d) =>
      formulaQuery("qty.rolling(4, min_periods=2).corr(price)",
        roundTo = Some(6))(s, d)),
    // ecov compares under the ε-nudged 6-dp rounding (ε = 1e-9, same in
    // the oracle SQL): the data's integer-qty × cent-price covariances
    // TERMINATE at x.xxxxxx5 — exactly ON the 6-dp boundary, within one
    // double ULP — so unnudged cross-engine rounding flips coins there
    // (the r11 red row; margins audited in CovCorrSemSpec)
    "e11_ecov" -> ((s, d) =>
      formulaQuery("qty.expanding().cov(price)", roundTo = Some(6),
        nudge = 1e-9)(s, d)),
    "e11_ecorr" -> ((s, d) =>
      formulaQuery("qty.expanding().corr(price)",
        roundTo = Some(6))(s, d)),
    // ewm pairwise cov/corr (r11 session 5): polarization on the exact
    // corrected var scan — cov = (varC(x̃+ỹ) − varC(x̃−ỹ))/4 over the
    // pair-masked inputs, corr divides by √(varC(x̃)·varC(ỹ)) (the bias
    // factors share the pair mask and cancel); ONE scan pass, no new
    // kernel
    "e11_ewcov" -> ((s, d) =>
      formulaQuery("qty.ewm(1).cov(price)", roundTo = Some(6))(s, d)),
    "e11_ewcorr" -> ((s, d) =>
      formulaQuery("qty.ewm(1).corr(price)", roundTo = Some(6))(s, d)),
    // ewm sum (r11 session 5): the unnormalized decayed sum = μ·W1 —
    // both already in the exact scan's state; unlike the mean it DECAYS
    // at holes (no carry). adjust=0 raises (pandas NotImplementedError).
    // ε-nudged like e11_ecov (r14): the α=1/2 decayed sums over integer
    // qty terminate on the 6-dp boundary (deterministic dyadic ties) —
    // but ONE sf0.01 cell (15.6796875 + 2e-15 of accumulation error)
    // sits 2e-9 quanta OFF the boundary, the coin-flip class the r13
    // audit's per-query MIN margin masked behind the exact-zero ties
    // (found by the r14 exact-tie pin, CovCorrSemSpec)
    "e11_ewsum" -> ((s, d) =>
      formulaQuery("qty.ewm(1).sum()", roundTo = Some(6),
        nudge = 1e-9)(s, d)),
    // flex arithmetic fill_value (r11 session 5): the missing side
    // fills with the scalar when exactly one side is invalid
    "e11_addfv" -> ((s, d) =>
      formulaQuery("qty.add(pos, fill_value=100)")(s, d)),
    // corrwith (r11 session 5): column-wise pairwise Pearson between
    // matching labels — one aggregate pass, Series-shaped result
    "e11_cwith" -> ((s, d) =>
      formulaQuery("qty.corrwith(price)", roundTo = Some(6))(s, d)),
    // combine_first: the patching merge (keep the caller's valid cells,
    // take the other's where not) — pure projection
    "e11_combf" -> ((s, d) =>
      formulaQuery("qty.combine_first(pos)")(s, d)),
    // `.dot()` — the actual pandas spelling of matrix multiplication
    // (alias of the DSL's `.matmul`, E12)
    "e11_dot" -> ((s, d) => formulaQuery("qty.dot(mm)")(s, d)),
    // skipna=0 (r11 session 5): pandas' NaN-poisoning switch — the
    // reduction reads NaN when the column has any hole (same single
    // aggregate pass), cum* poisons from the first hole onward (one
    // extra running flag sum), axis=1 poisons per row
    "e11_sumsk" -> ((s, d) => formulaQuery("qty.sum(skipna=0)")(s, d)),
    "e11_cumsk" -> ((s, d) => formulaQuery("qty.cumsum(skipna=0)")(s, d)),
    "e11_hsumsk" -> ((s, d) =>
      formulaQuery("qty.sum(axis=1, skipna=0)")(s, d)),
    "e11_any" -> ((s, d) => formulaQuery("zro.any()")(s, d)),
    "e11_all" -> ((s, d) => formulaQuery("zro.all()")(s, d)),
    "e11_max" -> ((s, d) => formulaQuery("qty.max()")(s, d)),
    "e11_count" -> ((s, d) => formulaQuery("qty.count()")(s, d)),
    "e11_median" -> ((s, d) => formulaQuery("qty.median()")(s, d)),
    "e11_std" -> ((s, d) => formulaQuery("qty.std()", roundTo = Some(6))(s, d)),
    "e11_var" -> ((s, d) => formulaQuery("qty.var()", roundTo = Some(6))(s, d)),
    "e11_prod" -> ((s, d) => formulaQuery("(2 * (qty % 2) - 1).prod()")(s, d)),
    // quantile interpolation positions are quarters of integer gaps →
    // exact in double on both sides
    "e11_quantile" -> ((s, d) => formulaQuery("qty.quantile(0.75)")(s, d)),
    // r11 session 4: the order-statistic interpolations on the
    // distributed reduction — exact rank selection over grouped value
    // counts (the groupedPercentile plan at the formula surface). q=0.6
    // keeps h = 0.6·(n−1) off the .5 tie line (DuckDB round() is
    // half-away, the engine's nearest is IEEE rint half-even); the picks
    // are integer cells (and the midpoint an integer-or-half) → exact in
    // double, no rounding needed
    "e11_qlow" -> ((s, d) =>
      formulaQuery("qty.quantile(0.6, interpolation='lower')")(s, d)),
    "e11_qnear" -> ((s, d) =>
      formulaQuery("qty.quantile(0.6, interpolation='nearest')")(s, d)),
    "e11_qmidp" -> ((s, d) =>
      formulaQuery("qty.quantile(0.6, interpolation='midpoint')")(s, d)),
    // r11 session 4: pandas .agg dispatch — a single name delegates to
    // the method (1-row Series reduction); a list builds the stat frame
    // (one row per function, the describe shape), each row riding its
    // method's own reduce plan as a crossJoin-broadcast 1-row aggregate
    // list form: all three quantiles in ONE percentile(col, array(...))
    // pass, exploded to the q-indexed stat frame (quarters of integer
    // gaps → exact in double on both sides)
    "e11_qlist" -> ((s, d) =>
      formulaQuery("qty.quantile([0.25, 0.5, 0.75])")(s, d)),
    // r11 session 4: axis=1 (row-wise) reductions — pure per-row
    // projections, zero shuffle; integer cells keep sum/mean/median
    // exact, std rounds 6 dp (identical IEEE chains, margin only)
    // interpolate: linear gap fill by POSITION (two running scans — the
    // last valid value and its distance, forward and reversed)
    "e11_interp" -> ((s, d) =>
      formulaQuery("qty.interpolate()", roundTo = Some(6))(s, d)),
    // describe(percentiles=[...]) — all percentiles still one aggregate
    // pass; cumsum(axis=1) — the row-wise fold as a pure projection
    "e11_descp" -> ((s, d) =>
      formulaQuery("qty.describe(percentiles=[0.1, 0.9])",
        roundTo = Some(6))(s, d)),
    "e11_hcum" -> ((s, d) => formulaQuery("qty.cumsum(axis=1)")(s, d)),
    // clip one-sided keyword + replace list form (r11 session 4)
    "e11_clipk" -> ((s, d) => formulaQuery("qty.clip(upper=10)")(s, d)),
    "e11_replist" -> ((s, d) =>
      formulaQuery("qty.replace([1, 5], [100, 500])")(s, d)),
    "e11_hsum" -> ((s, d) => formulaQuery("qty.sum(axis=1)")(s, d)),
    "e11_hrank" -> ((s, d) => formulaQuery("qty.rank(axis=1)")(s, d)),
    "e11_hmean" -> ((s, d) => formulaQuery("qty.mean(axis=1)")(s, d)),
    "e11_hstd" -> ((s, d) =>
      formulaQuery("qty.std(axis=1)", roundTo = Some(6))(s, d)),
    "e11_hmed" -> ((s, d) => formulaQuery("qty.median(axis=1)")(s, d)),
    "e11_hcnt" -> ((s, d) => formulaQuery("qty.count(axis=1)")(s, d)),
    "e11_aggstr" -> ((s, d) => formulaQuery("qty.agg('median')")(s, d)),
    "e11_agglist" -> ((s, d) =>
      formulaQuery("qty.agg(['max', 'mean', 'sum'])",
        roundTo = Some(6))(s, d)),
    // E12: explicit matmul (pandas DataFrame.dot; `@` stays rejected like
    // pd.eval). matrix⊗vector is a positional linear combination of the
    // columns; matrix⊗matrix a literal-coefficient column-space transform
    // against the driver-collected registry matrix `mm` (rows keyed by
    // qty's column labels). Both compile to pure projections: zero joins,
    // zero shuffles. Cells are integer-valued, so the double dot products
    // are exact — no rounding needed on either side.
    "e12_matmul" -> ((s, d) => formulaQuery("qty.matmul(w)")(s, d)),
    "e12_matmat" -> ((s, d) => formulaQuery("qty.matmul(mm)")(s, d)),
    "e11_norm" -> ((s, d) => formulaQuery("qty / qty.sum()")(s, d)),
    // A1: alignment full-outer join across different backing frames
    "a1_align" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
      val x = Matrix.of(o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), (col("o_totalprice") / 100000.0).as("t")),
        "o_orderkey", Seq("t"))
      val y = Matrix.of(o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), ((col("o_custkey") + 1.0) / 10.0).as("t")),
        "o_orderkey", Seq("t"))
      val ev = new graft.api.FormulaEvaluator(
        Map[String, NamedData]("x" -> x, "y" -> y), fillInvalid = true)
      val MatrixResult(df, rowId, _, _) = ev.evaluateFormula("x + y"): @unchecked
      df.orderBy(col(rowId))
    }),
    // A2: matrix ∘ vector positional broadcast (vector → literals)
    "a2_vec" -> ((s, d) => formulaQuery("qty * w")(s, d)),
    // A3: vector ∘ vector positional (driver-side)
    "a3_vecvec" -> ((s, d) => formulaQuery("(va + w) * 2 + va")(s, d)),
    // V2/V3: single-pass validity stats as data
    "v2_stats" -> ((s, d) => statsQuery("qty / zro")(s, d)),
    // S1: strict ingest + clip over a second source (customer)
    "s1_ingest" -> ((s, d) => {
      val c = s.read.parquet(s"$d/customer.parquet")
      val m = Matrix(c.select(col("c_custkey"), col("c_acctbal").as("bal")),
        "c_custkey", Seq(("bal", "bal")))
      val ev = new graft.api.FormulaEvaluator(Map[String, NamedData]("m" -> m))
      val MatrixResult(df, rowId, _, _) =
        ev.evaluateFormula("m.clip(0, 5000) / 100"): @unchecked
      df.orderBy(col(rowId))
    }),
    // X3/F3/F4: batch calculator with skip semantics
    "x3_batch" -> ((s, d) => {
      val fmSchema = StructType(Seq(StructField("result_name", StringType),
        StructField("formula", StringType)))
      val fm = s.createDataFrame(java.util.List.of(
        Row("r1", "(qty + price) / pos"), Row("skipme", ""),
        Row("missing", "qty + nosuch")), fmSchema)
      val calc = new CoefficientCalculator(registry(s, d), fm,
        adpEnabled = false, fillInvalid = true)
      val MatrixResult(df, rowId, _, _) = calc.computeCoefficients()("r1"): @unchecked
      df.orderBy(col(rowId))
    }),
    // S2/ADP: decimal-mode arithmetic (exact on integer-valued cells)
    "adp_arith" -> ((s, d) => formulaQuery("zro * 3 + zro", fill = false, adp = true)(s, d)),
    // (ADP `**` is intentionally REJECTED — reference parity, E3 — covered
    // by CoefficientCalculatorSpec; no driver query possible)
    // X4 extension: chained batch — r2 references r1's (filled) result
    "x4_chain" -> ((s, d) => {
      val fmSchema = StructType(Seq(StructField("result_name", StringType),
        StructField("formula", StringType)))
      val fm = s.createDataFrame(java.util.List.of(
        Row("r1", "qty + price"), Row("r2", "r1 / pos")), fmSchema)
      val calc = new CoefficientCalculator(registry(s, d), fm,
        adpEnabled = false, fillInvalid = true, chainResults = true)
      val MatrixResult(df, rowId, _, _) = calc.computeCoefficients()("r2"): @unchecked
      df.orderBy(col(rowId))
    }),

    // X3 on the concurrent scheduler: same formulas, parallelism = 4 —
    // results must be identical to the sequential path
    "x6_par" -> ((s, d) => {
      val fmSchema = StructType(Seq(StructField("result_name", StringType),
        StructField("formula", StringType)))
      val fm = s.createDataFrame(java.util.List.of(
        Row("r1", "(qty + price) / pos"), Row("r2", "qty * 2"),
        Row("r3", "price - qty")), fmSchema)
      val calc = new CoefficientCalculator(registry(s, d), fm,
        adpEnabled = false, fillInvalid = true, parallelism = 4)
      val MatrixResult(df, rowId, _, _) = calc.computeCoefficients()("r1"): @unchecked
      df.orderBy(col(rowId))
    }),

    // ---- dedup (portable md5-based hashes → DuckDB-checkable end-to-end;
    //      the xxhash64 default paths stay the library's fast mode) ----
    "dd_exact" -> ((s, d) => Dedup.exact(docs(s, d)).orderBy(col("fp"))),
    // incremental-ingest content delta: which NEW arrivals already exist
    // in the accepted history by exact content hash — the dedup gate every
    // crawl increment runs. The slices deliberately OVERLAP (history =
    // even ids, arrivals = ids divisible by 3: a re-crawl re-fetching
    // pages), so both outcomes exercise. Both sides shuffle on the 128-bit
    // fp (hash equi-join, corpus-scale safe); the history collapses to
    // distinct fps first, so the join's build side is bounded by UNIQUE
    // historical content, not raw rows
    "dd_delta" -> ((s, d) => {
      val dd = docs(s, d)
      val history = dd.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(md5(col("text")).as("fp")).distinct()
        .withColumn("seen", lit(true))
      dd.filter(pmod(col("doc_id"), lit(3L)) === 0L)
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .join(history, Seq("fp"), "left")
        .select(col("doc_id"), col("fp"),
          coalesce(col("seen"), lit(false)).as("is_known"))
        .orderBy(col("doc_id"))
    }),
    // SoftDeDup: keep every copy but weight it 1/n so each duplicate
    // group carries one document's total training influence — a count
    // window over the fingerprint partition (high-cardinality key →
    // window, not groupBy+join-back); the weight is one IEEE division of
    // exact longs, so no rounding anywhere
    "dd_soft" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      docs(s, d).select(col("doc_id"), md5(col("text")).as("fp"))
        .withColumn("n_copies", count(lit(1)).over(w))
        .select(col("doc_id"), col("n_copies"),
          (lit(1.0) / col("n_copies").cast(DoubleType)).as("weight"))
        .orderBy(col("doc_id"))
    }),
    "dd_minhash" -> ((s, d) => pairs02(s, d).orderBy(col("id1"), col("id2"))),
    "dd_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Dedup.simhash(docs(s, d), portable = true),
          maxHamming = 8, bandBits = 15)
        .orderBy(col("id1"), col("id2"))),
    "dd_jaccard" -> ((s, d) => {
      val cand = pairs01(s, d).select("id1", "id2")
      Dedup.ngramJaccard(docs(s, d), cand).orderBy(col("id1"), col("id2"))
    }),
    // character-level verification of the same LSH candidates: built-in
    // codegen'd Levenshtein — catches in-token edits word shingles miss
    "dd_edit" -> ((s, d) =>
      Dedup.editDistanceVerify(docs(s, d), pairs02(s, d).select("id1", "id2"))
        .orderBy(col("id1"), col("id2"))),
    // candidate pairs → connected duplicate groups (iterative min-label
    // propagation; every doc gets a group, keep = id == group_id)
    "dd_groups" -> ((s, d) =>
      Dedup.duplicateGroups(docs(s, d), pairs02(s, d).select("id1", "id2"))
        .orderBy(col("id"))),

    // benchmark decontamination: "benchmark" = the deterministic 1/53
    // doc_id slice, corpus = everything else; flag corpus docs whose
    // distinct-3-gram overlap with the benchmark set reaches 50%
    "dd_contam" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.contamination(
          corpus = dd.filter(col("doc_id") % 53 =!= 7),
          benchmark = dd.filter(col("doc_id") % 53 === 7))
        .orderBy(col("doc_id"))
    }),

    // dedup KEEP policy: one representative per duplicate group — the
    // longest doc (token count, id tiebreak) — composed from
    // duplicateGroups + qualityScore + the custom TopKPerKey (k = 1)
    "dd_keep" -> ((s, d) => {
      val dd = docs(s, d)
      val groups = Dedup.duplicateGroups(dd, pairs02(s, d).select("id1", "id2"))
      val quality = TextAnalysis.tokenStats(dd)
        .select(col("doc_id").as("id"), col("n_tokens"))
      graft.plans.TopKPerKey(groups.join(quality, Seq("id")),
          Seq(col("group_id")), Seq(col("n_tokens").desc, col("id")), k = 1)
        .select(col("group_id"), col("id").as("keep_id"), col("n_tokens"))
        .orderBy(col("group_id"))
    }),

    // the end-to-end curation pipeline — the flagship composition a
    // training-data user runs: dedup to one representative per duplicate
    // group (longest doc), then language + length gates, then a
    // deterministic 50% downsample. Every stage is one of the catalog's
    // operators; the whole pipeline is one lazy plan.
    "pipe_curate" -> ((s, d) => {
      val dd = docs(s, d)
      val stats = TextAnalysis.tokenStats(dd).select(col("doc_id").as("id"),
        col("n_tokens"))
      val lang = dd.select(col("doc_id").as("lid"),
        TextAnalysis.langPred(col("text")).as("lang_pred"))
      val groups = Dedup.duplicateGroups(dd, pairs02(s, d).select("id1", "id2"))
      val reps = graft.plans.TopKPerKey(groups.join(stats, Seq("id")),
          Seq(col("group_id")), Seq(col("n_tokens").desc, col("id")), k = 1)
        .select(col("id"), col("group_id"), col("n_tokens"))
      reps
        .join(lang, reps("id") === lang("lid"))
        .filter(col("lang_pred") =!= "und" && col("n_tokens").between(20, 2000))
        .filter(Sampling.hashUniform(col("id")) < 0.5)
        .select(col("id"), col("group_id"), col("n_tokens"), col("lang_pred"))
        .orderBy(col("id"))
    }),

    // ---- similarity ----
    "sim_cosine" -> ((s, d) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val qc = array(q.map(v => lit(v)): _*)
      e.select(col("vec_id"), Similarity.cosineExact(col("embedding"), qc).as("sim"))
        .orderBy(col("vec_id"))
    }),
    // exact-decimal scores → deterministic top-k (rounded sim + id tiebreak)
    // that a DuckDB oracle can mirror; bruteForceTopK stays the fast path.
    "sim_topk" -> ((s, d) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val qc = array(q.map(v => lit(v)): _*)
      e.select(col("vec_id"), Similarity.cosineExact(col("embedding"), qc).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(25)
    }),
    // corpus embeddings are near-random (within-label max cosine ≈ 0.47 at
    // sf0.01), so thresholds sit where candidates actually exist
    // the 0.25 pair set is computed ONCE (QueryCatalog.blockPairs025) and
    // shared by sim_block / sim_knn / gr_pagerank / dd_embed — the pair
    // generation dominates all four, and a batch user runs them together
    "sim_block" -> ((s, d) =>
      blockPairs025(s, d).orderBy(col("id1"), col("id2"))),
    // kNN graph: each vector's top-3 block-local neighbors (the primitive
    // under graph-based dedup / NN-Descent-style index builds)
    "sim_knn" -> ((s, d) =>
      knnEdges(s, d).orderBy(col("id"), col("sim").desc, col("nbr"))),
    // NN-Descent (r10): 6 pinned rounds of neighbor-of-neighbor descent
    // (+ fresh hash-rank exploration strides per round) refining the
    // block-local seed into k=5 lists — the graph-based ANN construction
    // family (HNSW/NND class); every round is bounded-fanout joins + the
    // bounded-heap top-k re-rank, linear in the corpus at fixed k
    "sim_nnd" -> ((s, d) =>
      nndGraph(s, d).orderBy(col("id"), col("sim").desc, col("nbr"))),
    // NN-Descent quality gate: recall@3 on the probe nodes against the
    // exact top-3 — refined lists must beat the block-local seed's
    // recall (descent finds the cross-block neighbors blocking hides)
    "sim_nndrecall" -> ((s, d) => {
      val e = embs(s, d)
      // FIXED probe set (≤ 25 at any corpus scale — the sim_recall
      // k-bounded-gate discipline; the r10 catalog-wide 10× sweep caught
      // the unbounded `% 199` form growing the exact side O(n²/199)),
      // and per-SIDE norms hoisted out of the pair projection (the
      // inline form recomputed three decimal dots per pair)
      val probes = e.where(col("vec_id") % 199 === 0 &&
          col("vec_id") < lit(199L * 25))
        .select(col("vec_id").as("id"), col("embedding").as("qe"),
          sqrt(Similarity.dotExact(col("embedding"), col("embedding")))
            .as("qn"))
      val pairs = e
        .select(col("vec_id"), col("embedding"),
          sqrt(Similarity.dotExact(col("embedding"), col("embedding")))
            .as("en"))
        .crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("id"))
        .select(col("id"), col("vec_id").as("nbr"),
          round(Similarity.dotExact(col("embedding"), col("qe")) /
            (col("en") * col("qn")), 6).as("sim"))
      val exact = graft.plans.TopKPerKey(pairs, Seq(col("id")),
        Seq(col("sim").desc, col("nbr")), 3).select(col("id"), col("nbr"))
      val seed = knnEdges(s, d).select(col("id"), col("nbr"))
      val nnd = nndGraph(s, d).select(col("id"), col("nbr"))
      val tot = exact.agg(count(lit(1)).as("k_total"))
      val sHit = seed.join(exact, Seq("id", "nbr"))
        .agg(count(lit(1)).as("seed_hits"))
      val nHit = nnd.join(exact, Seq("id", "nbr"))
        .agg(count(lit(1)).as("nnd_hits"))
      tot.crossJoin(sHit).crossJoin(nHit)
        .select(col("k_total"), col("seed_hits"), col("nnd_hits"),
          round(col("seed_hits").cast("double") / col("k_total"), 6)
            .as("seed_recall"),
          round(col("nnd_hits").cast("double") / col("k_total"), 6)
            .as("nnd_recall"))
    }),
    // r8: 1-bit binary quantization + Hamming scan — the modern
    // first-pass ANN (64x smaller than float32, distance = popcount of
    // XOR). Sign bits pack scan-stage into two 32-bit halves (compiled
    // SignPack32 — never the sign bit of a long, so any SQL engine
    // reproduces the packing); ~25 probe codes broadcast against the
    // corpus. r9: the per-probe top-5 runs on the bounded-heap
    // TopKPerKey operator (partial heaps cut every partition to ≤5 rows
    // per probe BEFORE the exchange) — the r8 row_number window carried
    // the ENTIRE candidate corpus through one window task per probe
    "sim_binq" -> ((s, d) => {
      val (_, pairs) = binqPairs(s, d)
      // codes only through the heaps — the embeddings ride the shared
      // pair frame for the rerank consumers, not this one
      val narrow = pairs.select(col("q_id"), col("vec_id"), col("ham"))
      graft.plans.TopKPerKey(narrow, Seq(col("q_id")),
          Seq(col("ham").asc, col("vec_id").asc), k = 5, rankCol = "rk")
        .select(col("q_id"), col("vec_id").as("cand_id"), col("ham"),
          col("rk").cast("int").as("rk"))
        .orderBy(col("q_id"), col("rk"))
    }),
    // the full two-stage ANN: Hamming coarse scan (top-20 per probe on
    // the 1-bit codes) -> exact decimal-scored cosine rerank of only
    // those 20 -> final top-5. The shape every production vector store
    // runs: the cheap code distance bounds the candidate set, the
    // expensive exact score only ever touches k-bounded lists. r9: BOTH
    // ranking stages run on the bounded-heap TopKPerKey operator — the
    // coarse stage no longer moves the whole corpus into one window
    // partition per probe, and the rerank top-5 heaps over ≤20-row lists
    "sim_rerank" -> ((s, d) => {
      val (_, pairs) = binqPairs(s, d)
      val coarse = graft.plans.TopKPerKey(pairs, Seq(col("q_id")),
          Seq(col("ham").asc, col("vec_id").asc), k = 20, rankCol = "crk")
        .drop("crk")
      val scored = coarse.withColumn("sim", binqCosine)
      graft.plans.TopKPerKey(scored, Seq(col("q_id")),
          Seq(col("sim").desc, col("vec_id").asc), k = 5, rankCol = "rk")
        .select(col("q_id"), col("vec_id").as("cand_id"), col("ham"),
          col("sim"), col("rk").cast("int").as("rk"))
        .orderBy(col("q_id"), col("rk"))
    }),
    // r9: the quality row that makes the 1-bit speed/recall trade visible
    // and CI-pinned (the sim_recall discipline, per probe): recall@5 of
    // sim_rerank's final list against the EXACT cosine top-5 — the exact
    // reference scores every pair scan-stage and ranks on the bounded
    // heaps, so even the certification query is 100 TB-shaped
    "sim_brecall" -> ((s, d) => {
      val (probes, pairs) = binqPairs(s, d)
      val coarse = graft.plans.TopKPerKey(pairs, Seq(col("q_id")),
          Seq(col("ham").asc, col("vec_id").asc), k = 20, rankCol = "crk")
        .drop("crk")
      val finalTop = graft.plans.TopKPerKey(
          coarse.withColumn("sim", binqCosine), Seq(col("q_id")),
          Seq(col("sim").desc, col("vec_id").asc), k = 5, rankCol = "rk")
        .select(col("q_id"), col("vec_id").as("cand_id"))
      val exactTop = graft.plans.TopKPerKey(
          pairs.withColumn("sim", binqCosine), Seq(col("q_id")),
          Seq(col("sim").desc, col("vec_id").asc), k = 5, rankCol = "erk")
        .select(col("q_id"), col("vec_id").as("cand_id"))
      val hits = finalTop.join(exactTop, Seq("q_id", "cand_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      probes.select(col("q_id")).join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / 5, 6)
            .as("recall"))
        .orderBy(col("q_id"))
    }),
    // r9 session 2 — product quantization (Jégou et al., TPAMI 2011), the
    // third production ANN compression beside IVF and 1-bit codes:
    // per-subspace deterministic kmeans codebooks, each vector encoded to
    // m=2 small ints in ONE projection (no join). sim_adc is the matching
    // asymmetric-distance search: probes precompute an m·k LUT, so the
    // corpus side never touches its embeddings — per-candidate cost is m
    // lookups, ranked on the bounded-heap TopKPerKey
    "sim_pq" -> ((s, d) =>
      pqModel(s, d)._1.orderBy(col("vec_id"))),
    "sim_adc" -> ((s, d) => {
      val (codes, books) = pqModel(s, d)
      val probes = embs(s, d).where(col("vec_id") % 199 === 0 &&
          col("vec_id") < lit(199L * 25)) // bounded probe set (r11 — the
        // sim_nndrecall r10 fix applied here too: %199 alone grows the
        // probe count with the corpus, making candidates O(n^2/199);
        // identical probes at the sf0.01 gate, where only 11 exist)
        .select(col("vec_id").as("q_id"), col("embedding").as("qemb"))
      Similarity.adcTopK(codes.where(col("vec_id") % 199 =!= 0), probes,
          books, kTrain = 16, topK = 5)
        .orderBy(col("q_id"), col("vec_id"))
    }),
    // the PQ quality gate (the sim_brecall discipline): recall@R — how
    // much of the EXACT top-5 the ADC top-50 coarse list captures, under
    // the SAME metric ADC approximates (squared Euclidean |x|² − 2q·x;
    // |q|² is probe-constant and cancels in ranking). The FAISS
    // evaluation of PQ in its production role: the coarse candidate
    // generator of a PQ → exact-rerank pipeline (the sim_rerank shape).
    // Makes the m=4/k=16 quantization loss visible and CI-pinned; both
    // sides rank on the bounded heap
    "sim_pqrecall" -> ((s, d) => {
      import graft.functions.ArrayOps
      val (codes, books) = pqModel(s, d)
      val probes = embs(s, d).where(col("vec_id") % 199 === 0 &&
          col("vec_id") < lit(199L * 25)) // bounded probe set (r11 — the
        // sim_nndrecall r10 fix applied here too: %199 alone grows the
        // probe count with the corpus, making candidates O(n^2/199);
        // identical probes at the sf0.01 gate, where only 11 exist)
        .select(col("vec_id").as("q_id"), col("embedding").as("qemb"))
      val adcTop = Similarity.adcTopK(
          codes.where(col("vec_id") % 199 =!= 0), probes, books,
          kTrain = 16, topK = 50)
        .select(col("q_id"), col("vec_id").as("cand_id"))
      val pairs = embs(s, d).where(col("vec_id") % 199 =!= 0)
        .crossJoin(broadcast(probes))
        .withColumn("l2", round(
          ArrayOps.dot_product_exact(col("embedding"), col("embedding")) -
            lit(2.0) *
            ArrayOps.dot_product_exact(col("embedding"), col("qemb")), 9))
      val exactTop = graft.plans.TopKPerKey(pairs, Seq(col("q_id")),
          Seq(col("l2").asc, col("vec_id").asc), k = 5, rankCol = "erk")
        .select(col("q_id"), col("vec_id").as("cand_id"))
      val hits = adcTop.join(exactTop, Seq("q_id", "cand_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      probes.select(col("q_id")).join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / 5, 6)
            .as("recall"))
        .orderBy(col("q_id"))
    }),
    // the full FAISS-IVFPQ composition: the IVF coarse quantizer (the
    // shared clu_kmeans model) prunes the corpus to the probe's nProbe=2
    // nearest cells BEFORE any scoring; the PQ codes make the
    // per-surviving-candidate cost m LUT lookups. Routing + LUT both
    // computed on the bounded probe frame before the broadcast
    "sim_ivfpq" -> ((s, d) => {
      val (codes, books) = pqModel(s, d)
      val (asg, cents) = kmeansModel(s, d)
      val probes = embs(s, d).where(col("vec_id") % 199 === 0 &&
          col("vec_id") < lit(199L * 25)) // bounded probe set (r11 — the
        // sim_nndrecall r10 fix applied here too: %199 alone grows the
        // probe count with the corpus, making candidates O(n^2/199);
        // identical probes at the sf0.01 gate, where only 11 exist)
        .select(col("vec_id").as("q_id"), col("embedding").as("qemb"))
      Similarity.ivfpqTopK(codes.where(col("vec_id") % 199 =!= 0), asg,
          probes, books, cents, kTrain = 16, nProbe = 2, topK = 5)
        .orderBy(col("q_id"), col("vec_id"))
    }),
    "sim_lsh" -> ((s, d) =>
      Similarity.lshNearDup(embs(s, d), nPlanes = 6, threshold = 0.25,
          exact = true)
        .orderBy(col("id1"), col("id2"))),
    // hard-negative mining (contrastive-training data): cross-label pairs
    // among the LSH near-dup candidates, globally top-50 by similarity —
    // candidates come bucketed (never all-pairs) and the global top-k is
    // a TakeOrderedAndProject, so no stage materializes the full ranking
    "sim_hardneg" -> ((s, d) =>
      Similarity.lshHardNegatives(embs(s, d), "label", k = 50,
          nPlanes = 6, threshold = 0.1)
        .select(col("id1"), col("id2"), col("sim"),
          col("label1"), col("label2"))
        .orderBy(col("sim").desc, col("id1"), col("id2"))),
    // int8 quantization (compiled expression): scale is bit-deterministic
    // (float→double exact, abs/max exact, one IEEE divide), q digested to
    // a sum + md5 fingerprint so the oracle compares scalars, not arrays
    // PCA by deterministic power iteration: one corpus pass builds every
    // covariance moment via the compiled OuterMomentsFlat projection (the
    // d²-fanout is scan-stage CPU; the shuffle carries ≤ 2144 pre-combined
    // decimal rows per partition); the 64×64 eigen-iteration runs on the
    // driver and the per-vector projection is one compiled decimal dot
    // against the broadcast component (oracle: the iteration unrolled as
    // matrix-vector CTEs, the clu_kmeans/gr_pagerank convention)
    "sim_pca" -> ((s, d) =>
      Similarity.pca1(embs(s, d), iters = 2)._1.orderBy(col("vec_id"))),
    "sim_quant" -> ((s, d) => {
      val qz = Similarity.quantizeInt8(embs(s, d))
      qz.select(col("id").as("vec_id"), col("scale"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long"))
            .as("q_sum"),
          md5(concat_ws(",", transform(col("q"), _.cast("string"))))
            .as("q_fp"))
        .orderBy(col("vec_id"))
    }),
    // exact mode end-to-end: decimal-dot scores rounded to 6 with (score
    // desc, cell desc) tie order make assignment, probe selection and the
    // final top-k all reproducible in the DuckDB mirror
    // Lloyd's k-means, k = 4, 3 deterministic iterations; output is the
    // final cluster assignment (the SemDeDup/cluster-balance primitive).
    // The assignment is computed once and shared by the three clu_*/dd_
    // consumers (QueryCatalog.kmeansAsg) — the batch-user pattern: train
    // the model once, consume it from every downstream query.
    "clu_kmeans" -> ((s, d) => kmeansAsg(s, d).orderBy(col("vec_id"))),
    // SemDeDup: k-means cells as the blocking key for within-cluster
    // near-dup pairs, resolved to duplicate groups
    "dd_semantic" -> ((s, d) =>
      Dedup.semanticGroups(embs(s, d), k = 4, iters = 3, threshold = 0.3,
          precomputedAsg = Some(kmeansAsg(s, d)))
        .orderBy(col("id"))),
    // cluster-balanced sampling: fixed-size deterministic sample per
    // k-means cell (the data-mixing sibling of SemDeDup — equalize cluster
    // representation instead of deduplicating)
    "clu_sample" -> ((s, d) =>
      Sampling.takePerStratum(kmeansAsg(s, d), "cell", "vec_id", n = 25)
        .select(col("vec_id"), col("cell"))
        .orderBy(col("cell"), col("vec_id"))),
    "sim_ivf" -> ((s, d) => {
      val e = embs(s, d)
      val cents = Similarity.ivfCentroids(e, 16)
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      Similarity.ivfTopK(Similarity.ivfAssign(e, cents, exact = true), cents, q,
        k = 25, nProbe = 4, exact = true)
    }),
    // ANN quality gate: recall@25 of the IVF(nProbe=4) list against the
    // exact top-25 — both sides are k-bounded, so the check itself is
    // free; it certifies the speed/recall trade before a corpus-scale run
    "sim_recall" -> ((s, d) => {
      val e = embs(s, d)
      val cents = Similarity.ivfCentroids(e, 16)
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val approx = Similarity.ivfTopK(
        Similarity.ivfAssign(e, cents, exact = true), cents, q,
        k = 25, nProbe = 4, exact = true)
      val qc = array(q.map(v => lit(v)): _*)
      val exact = e.select(col("vec_id"),
          Similarity.cosineExact(col("embedding"), qc).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(25)
      Similarity.recallAtK(approx, exact, k = 25)
    }),

    // ---- text analysis ----
    "txt_tokens" -> ((s, d) => TextAnalysis.tokenStats(docs(s, d)).orderBy(col("doc_id"))),
    "txt_quality" -> ((s, d) => TextAnalysis.qualityScore(docs(s, d)).orderBy(col("doc_id"))),
    "txt_langid" -> ((s, d) => TextAnalysis.langId(docs(s, d)).orderBy(col("doc_id"))),
    "txt_fp" -> ((s, d) => TextAnalysis.fingerprint(docs(s, d)).orderBy(col("doc_id"))),
    "txt_norm" -> ((s, d) => TextAnalysis.normalize(docs(s, d)).orderBy(col("doc_id"))),
    // bigram LM quality score (perplexity-style filter); decimal-summed
    // rounded log-probs so the mean is order-independent in both engines
    "txt_lm" -> ((s, d) =>
      TextAnalysis.bigramLogProb(docs(s, d))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),
    // collocation mining: top-20 bigrams by lift (exponent-free PMI) —
    // counts aggregate map-side, the pair table joins the vocab twice
    // (bounded by distinct bigrams), the top-k is a bounded-heap
    // TakeOrdered; every score op is an exactly-rounded IEEE div/mul so
    // the oracle computes bit-identical doubles
    "txt_pmi" -> ((s, d) =>
      TextAnalysis.collocations(docs(s, d), n = 20, minCount = 5)
        .orderBy(col("lift").desc, col("w1"), col("w2"))),
    // BPE merge induction: the first 3 merge rules a tokenizer trainer
    // learns — one pair-count aggregate + 1-row TakeOrdered per round,
    // the replaced corpus pinned between rounds; exact greedy fusion via
    // the doubled-separator replace (closed representation, regex-free)
    "txt_vocab" -> ((s, d) =>
      TextAnalysis.bpeMerges(docs(s, d), rounds = 3).orderBy(col("round"))),
    // Gopher repetition filters: one compiled pass per row, zero shuffle
    "txt_rep" -> ((s, d) =>
      TextAnalysis.repetitionStats(docs(s, d)).orderBy(col("doc_id"))),
    // PII scrub over deterministically injected PII (the corpus itself is
    // clean lowercase words, so the fixture plants doc_id-derived emails/
    // IPs/phones/account ids — identically in the oracle — and the
    // redactor must find exactly those)
    "txt_pii" -> ((s, d) =>
      TextAnalysis.piiRedact(injectPii(docs(s, d))).orderBy(col("doc_id"))),
    // fastText-shape hashed linear quality gate: unigram+bigram features →
    // portable-hash buckets → fixed-point weights derived from the same
    // hash (no weight file), scored in ONE compiled pass per doc — no
    // explode, no shuffle; the integer milli-sum is exact, so the mean and
    // the keep/drop sign reproduce bit-identically in any engine
    "clf_score" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          graft.functions.Classifier
            .hashed_linear_score(split(col("text"), " "), 4096, "s1").as("ls"))
        .select(col("doc_id"), col("ls.n_feats").as("n_feats"),
          round(col("ls.milli") / (col("ls.n_feats") * lit(1000.0)), 9).as("score"),
          (col("ls.milli") > 0).as("keep"))
        .orderBy(col("doc_id"))),
    // the pretraining-curation pipeline over the NEW round-4 operators —
    // PII scrub → repetition + length gates on the CLEAN text →
    // benchmark decontamination → deterministic 80% downsample; one lazy
    // plan, every stage a catalog operator
    "pipe_pretrain" -> ((s, d) => {
      val dd = docs(s, d)
      val bench = dd.filter(col("doc_id") % 53 === 7)
      val scrubbed = TextAnalysis
        .piiScrub(injectPii(dd.filter(col("doc_id") % 53 =!= 7)))
      val gated = scrubbed
        .withColumn("r", graft.functions.ArrayOps
          .repetition_stats(split(col("text_clean"), " ")))
        .filter(col("r.n_tokens").between(20, 90) &&
          col("r.dup_bigram_frac") <= 0.12)
        .select(col("doc_id"), col("text_clean"),
          col("r.n_tokens").as("n_tokens"))
      val clean = Dedup.contamination(
          corpus = gated.withColumnRenamed("text_clean", "text"),
          benchmark = bench)
        .filter(!col("contaminated")).select(col("doc_id"))
      gated.join(clean, Seq("doc_id"))
        .filter(Sampling.hashUniform(col("doc_id")) < 0.8)
        .select(col("doc_id"), col("n_tokens"),
          substring(md5(col("text_clean")), 1, 16).as("fp_clean"))
        .orderBy(col("doc_id"))
    }),
    "txt_rolling" -> ((s, d) =>
      TextAnalysis.rollingHashPortable(docs(s, d)).orderBy(col("doc_id"))),
    "txt_bpe" -> ((s, d) =>
      TextAnalysis.bpeTokenStats(docs(s, d)).orderBy(col("doc_id"))),
    // corpus 3-gram document frequency: compiled shingle expression →
    // explode → count → top-20 (TakeOrderedAndProject; partial agg
    // absorbs the explode multiplier map-side)
    "txt_ngrams" -> ((s, d) =>
      docs(s, d)
        .select(explode(graft.functions.ArrayOps
          .word_shingles(split(col("text"), " "), 3)).as("ngram"))
        .groupBy(col("ngram")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("ngram")).limit(20)),

    // per-doc n-gram novelty (dataset-diversity audit): the fraction of a
    // doc's distinct 3-grams appearing in NO other document. A shingle
    // with df = 1 has exactly ONE owner, so min(doc_id) inside the df
    // aggregate recovers it — per-shingle frequencies + the unique
    // shingles' owners come from one sort-free hash aggregate, per-doc
    // totals from a second, and both map-side combine (the shuffles carry
    // combined partials, not the exploded table). The previous
    // count-window over the shingle key shuffled AND sorted the full
    // exploded corpus — the sort is pure overhead for an unordered count
    // (2.17 s → this shape at sf0.1; at 100 TB the sort spill would
    // dominate). The compiled word_shingles kernel replaces the
    // interpreted transform()-based shingle HOF on both passes.
    "txt_novel" -> ((s, d) => {
      val sh = docs(s, d).select(col("doc_id"),
        explode_outer(graft.functions.ArrayOps
          .word_shingles(split(col("text"), " "), 3)).as("sh"))
      val uniq = sh.groupBy(col("sh"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("own"))
        .filter(col("df") === 1)
        .groupBy(col("own").as("doc_id"))
        .agg(count(lit(1)).as("n_unique"))
      sh.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"))
        .join(uniq, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"))
        .withColumn("novelty",
          round(col("n_unique").cast(DoubleType) / col("n_shingles"), 6))
        .orderBy(col("doc_id"))
    }),

    // X5 extension: star-schema join over the dimension tables — explicit
    // broadcast for the true dims (region/nation/supplier stay small at any
    // scale factor); part is left to Catalyst/AQE since it grows with SF
    // (broadcast here at test scale, shuffle join at 100 TB). Revenue is
    // decimal-exact: each factor cast to DECIMAL(18,2) before multiplying,
    // so the sum is order-independent and engine-identical.
    "x5_star" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val sup = broadcast(s.read.parquet(s"$d/supplier.parquet"))
      val nat = broadcast(s.read.parquet(s"$d/nation.parquet"))
      val reg = broadcast(s.read.parquet(s"$d/region.parquet"))
      val prt = s.read.parquet(s"$d/part.parquet").filter(col("p_size") <= 20)
      val dec = DecimalType(18, 2)
      val rev = col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec))
      li.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .join(prt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(rev).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // ---- semi-structured JSON props (r7): events.props is a JSON string
    //      column; extraction via Spark's JSON path machinery, then a
    //      plain grouped aggregate — the web/event-pipeline shape where
    //      payloads arrive as JSON blobs. Oracle extracts the same field
    //      with a capture-group regex (the VALUES must match; the
    //      machinery is each engine's own) ----
    "ev_json" -> ((s, d) => {
      val ev = eventsWithTu(s, d)
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      ev.select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("k")), lit(0L)).as("sum_k"),
          round(avg(col("k")), 6).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),
    // r8: TYPED semi-structured extraction. The events payload is a flat
    // {"k": n}; real event pipelines carry nested objects and arrays, so
    // the query first REBUILDS a nested JSON document from real columns
    // (deterministic string concat — both engines construct the identical
    // document), then parses it back with a typed from_json schema
    // (struct field access, no per-path string extraction) and, in
    // ev_jarr, posexplodes the nested array. All scan-stage projections +
    // one grouped agg — the decode cost scales linearly and fuses into
    // the scan.
    "ev_jstruct" -> ((s, d) => {
      val ev = eventsWithTu(s, d)
      val js = nestedJson
      val schema = "m STRUCT<k: BIGINT, t: STRING>, vals ARRAY<BIGINT>"
      val p = from_json(js, org.apache.spark.sql.types.StructType.fromDDL(schema))
      ev.select(p.as("p"))
        .groupBy(col("p.m.t").as("t"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("p.m.k")), lit(0L)).as("sum_k"),
          sum(size(col("p.vals")).cast(LongType)).as("n_vals"),
          coalesce(sum(col("p.vals")(0)), lit(0L)).as("sum_v0"))
        .orderBy(col("t"))
    }),
    "ev_jarr" -> ((s, d) => {
      val ev = eventsWithTu(s, d)
      val js = nestedJson
      // r13: parse ONLY the array this query consumes — explicit schema
      // pruning halves the per-row parse allocation (the full-schema
      // parse lives on in ev_jstruct); this query's 4–10× in-context
      // inflation at 30× was adjudicated as GC sensitivity of exactly
      // this allocation (SCALE30X_r12_c32 tail note)
      val schema = "vals ARRAY<BIGINT>"
      val p = from_json(js, org.apache.spark.sql.types.StructType.fromDDL(schema))
      ev.select(p.getField("vals").as("vals"))
        .select(posexplode(col("vals")).as(Seq("pos", "v")))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          round(avg(col("v")), 6).as("avg_v"))
        .orderBy(col("pos"))
    }),

    // ---- sessionization (events table; windowed custom-state shape) ----
    "ev_sessions" -> ((s, d) => {
      // events.parquet carries TIMESTAMP(NANOS) — Spark 4 reads it only as
      // LongType via the legacy flag (the operator normalizes either way)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Sessionize.batch(s.read.parquet(s"$d/events.parquet"), gapMinutes = 30)
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // ---- explicit joins (SURVEY §2.8 extensions) ----
    // backward as-of join: odd events pick up the latest even event per
    // user (union + one analytic window — single shuffle by key)
    "aj_asof" -> ((s, d) => {
      val (l, r) = asofSides(s, d)
      Joins.asofBackward(l, r, Seq("user_id"), "tu",
          payload = Seq("r_event_id", "r_tu", "r_value"))
        .orderBy(col("event_id"))
    }),
    // forward as-of join: odd events pick up the EARLIEST following even
    // event per user (same single-shuffle window shape, forward frame)
    "aj_fwd" -> ((s, d) => {
      val (l, r) = asofSides(s, d)
      Joins.asofForward(l, r, Seq("user_id"), "tu",
          payload = Seq("r_event_id", "r_tu", "r_value"))
        .orderBy(col("event_id"))
    }),
    // nearest as-of join: whichever side is closer in time, ties backward;
    // both direction candidates from ONE window node (one shuffle + sort)
    "aj_near" -> ((s, d) => {
      val (l, r) = asofSides(s, d)
      Joins.asofNearest(l, r, Seq("user_id"), "tu",
          payload = Seq("r_event_id", "r_tu", "r_value"))
        .orderBy(col("event_id"))
    }),
    // point-in-interval range join via fixed-width bucketing, then a
    // per-band aggregate (decimal-exact sums)
    "rj_range" -> ((s, d) => {
      val bands = s.range(10).select(col("id").cast("int").as("band_id"),
        (col("id") * 50000.0).as("lo"), ((col("id") + 1) * 50000.0).as("hi"))
      val pts = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"))
      Joins.pointInInterval(pts, "o_totalprice", bands, "lo", "hi", 10000.0)
        .groupBy(col("band_id"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("band_id"))
    }),
    // left-semi / left-anti joins (customers with / without orders)
    "j_semi" -> ((s, d) => {
      val c = s.read.parquet(s"$d/customer.parquet")
      val o = s.read.parquet(s"$d/orders.parquet")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_acctbal")).orderBy(col("c_custkey"))
    }),
    // anti join against a filtered right side (every customer has SOME
    // order in this corpus; "no order above 300k" keeps the result
    // non-degenerate)
    "j_anti" -> ((s, d) => {
      val c = s.read.parquet(s"$d/customer.parquet")
      val o = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_acctbal")).orderBy(col("c_custkey"))
    }),

    // ---- window analytics (§2.8: ranking + frames) ----
    // grouped top-k: top-3 orders per customer (deterministic tie-break)
    // custom TopKPerKey operator (graft.plans): partial bounded heaps →
    // one exchange → final heaps — replaces the window row_number shape,
    // which fully sorts every partition before the k-filter runs
    "w_topk" -> ((s, d) =>
      graft.plans.TopKPerKey(s.read.parquet(s"$d/orders.parquet"),
          Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3, rankCol = "rn")
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))),
    // analytic frames: lag + running decimal sum + running count per
    // customer in order-date order
    "w_moving" -> ((s, d) => {
      // o_orderdate reads as TIMESTAMP_NTZ; under a UTC session the cast to
      // TIMESTAMP is the identity wall-clock mapping, so unix_millis equals
      // DuckDB's epoch_ms of the naive value
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"),
          unix_millis(col("o_orderdate").cast(TimestampType)).as("od_ms"),
          col("o_totalprice"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("od_ms"), col("o_orderkey"))
      val wRun = wOrd.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      o.select(col("o_custkey"), col("o_orderkey"), col("od_ms"),
          col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(wOrd).as("prev_price"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(wRun)
            .cast(DoubleType).as("run_total"),
          count(lit(1)).over(wRun).as("n_so_far"))
        .orderBy(col("o_custkey"), col("od_ms"), col("o_orderkey"))
    }),

    // ---- grouping sets (§2.8: rollup) ----
    "g_rollup" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_items"))
        .orderBy(col("rf"), col("ls"))),

    // cube: all four grouping combinations (adds the (ALL, status) slices
    // rollup omits)
    "g_cube" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_items"))
        .orderBy(col("rf"), col("ls"))),

    // explicit grouping sets: per-returnflag and per-linestatus slices in
    // one pass (non-hierarchical — neither rollup nor cube expresses it)
    "g_sets" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_items"))
        .orderBy(col("rf"), col("ls"))),

    // grouped exact quantiles by RANK SELECTION (the chosen value is an
    // existing row's value — no interpolation arithmetic, so engines agree
    // bit-for-bit; interpolating percentiles of 6-decimal-quantized inputs
    // would land on round-half ties, which Spark and DuckDB break
    // differently)
    "txt_quantile" -> ((s, d) => {
      // one projection computes both density and language — a join of the
      // two derived tables would re-scan the corpus twice and shuffle both.
      // Quantiles run on GROUPED (language, density) COUNTS, not raw rows:
      // the per-language window then walks distinct 6-decimal densities
      // (bounded cardinality at any corpus size), so the ≤-#languages
      // parallelism ceiling of a rows-level window applies only to a
      // pre-aggregated table the map-side combine already collapsed.
      // Rank selection is unchanged: quantile q = the smallest density
      // whose running count reaches ceil(n·q).
      val t = col("text")
      val j = docs(s, d).select(
        round(TextAnalysis.tokenCount(t).cast("double")
          / length(t).cast("double"), 6).as("token_density"),
        TextAnalysis.langPred(t).as("lang_pred"))
      val counts = j.groupBy(col("lang_pred"), col("token_density"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang_pred")).orderBy(col("token_density"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cw = org.apache.spark.sql.expressions.Window.partitionBy(col("lang_pred"))
      counts.select(col("lang_pred"), col("token_density"),
          sum(col("c")).over(w).as("cum"), sum(col("c")).over(cw).as("cnt"))
        .groupBy(col("lang_pred"))
        .agg(
          min(when(col("cum") >= ceil(col("cnt") * 0.25), col("token_density"))).as("p25"),
          min(when(col("cum") >= ceil(col("cnt") * 0.5), col("token_density"))).as("p50"),
          min(when(col("cum") >= ceil(col("cnt") * 0.9), col("token_density"))).as("p90"),
          max(col("cnt")).as("n_docs"))
        .orderBy(col("lang_pred"))
    }),

    // Misra-Gries heavy-hitters sketch (custom TypedImperativeAggregate):
    // capacity 8 > the 3-value domain, so every count is exact and the
    // summary hash-matches a plain group-count oracle (the over-capacity
    // error-bound behavior is ScalaTest-covered — not SQL-expressible)
    "agg_hh" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .agg(graft.functions.HeavyHitters
          .heavy_hitters(col("l_returnflag"), 8).as("hh"))
        .select(explode(col("hh.items")).as(Seq("item", "cnt")),
          col("hh.err").as("err"))
        .orderBy(col("item"))),

    // KMV distinct-count sketch (custom TypedImperativeAggregate): "how
    // many distinct shingles in the corpus" without count(distinct)'s
    // domain-wide shuffle — each partition ships its k=1024 smallest
    // distinct hash values and the merge keeps the global min-k. The
    // min-k SET is exactly defined, so the k-th minimum and the
    // (k-1)/u estimator hash-match a DISTINCT-ORDER-LIMIT oracle.
    "agg_kmv" -> ((s, d) => {
      val k = 1024
      docs(s, d)
        .select(explode_outer(graft.functions.ArrayOps
          .word_shingles(split(col("text"), " "), 3)).as("sh"))
        .agg(graft.functions.Sketches.kmin_values(
          graft.functions.ArrayOps.md5_long60(concat(lit("0:"), col("sh"))),
          k).as("mins"))
        // size(mins), not the nominal k: an under-filled sketch (corpus
        // with < k distinct shingles) must use its LAST element as the
        // order statistic — element_at(mins, k) would be NULL/ANSI-error
        .select(size(col("mins")).cast("long").as("n_kept"),
          element_at(col("mins"), size(col("mins"))).as("kth_hash"))
        .withColumn("est_distinct",
          round((col("n_kept").cast("double") - 1.0) * lit(math.pow(2, 60)) /
            col("kth_hash").cast("double"), 4))
    }),

    // KMV set operations ACROSS corpora: per-source min-k sketches in ONE
    // grouped aggregate, then union / Jaccard / intersection estimates by
    // pure array algebra on the two k-long sketches (Beyer et al., SIGMOD
    // 2007 — the min-k union sample is a uniform sample of the true
    // union). At 100 TB this estimates cross-corpus overlap with NO join
    // between the corpora: each side ships k longs per partition through
    // one shuffle, the combine is O(k log k) on a single row
    "agg_setsk" -> ((s, d) => {
      val k = 512
      val hash = graft.functions.ArrayOps.md5_long60(
        concat(lit("0:"), col("sh")))
      val sk = docs(s, d).filter(col("source").isin("src0", "src1"))
        .select(col("source"),
          explode_outer(graft.functions.ArrayOps
            .word_shingles(split(col("text"), " "), 3)).as("sh"))
        .groupBy(col("source"))
        .agg(graft.functions.Sketches.kmin_values(hash, k).as("mins"))
        // pivot the two sketch rows into one row (array max = the single
        // non-null per branch) — no second pass over the corpus
        .agg(max(when(col("source") === "src0", col("mins"))).as("am"),
          max(when(col("source") === "src1", col("mins"))).as("bm"))
      // the union sample may hold fewer than k values on small corpora —
      // size(u), not the nominal k, is the sample size everywhere: the kth
      // order statistic is its LAST element and the Jaccard denominator is
      // |sample| (a fixed /k would return NULL estimates under ANSI and
      // underestimate J in the under-filled regime)
      sk.select(col("am"), col("bm"),
          slice(array_sort(array_union(col("am"), col("bm"))), 1, k).as("u"))
        .select(
          element_at(col("u"), size(col("u"))).as("kth"),
          size(col("u")).cast("long").as("usz"),
          size(array_intersect(array_intersect(col("u"), col("am")),
            col("bm"))).cast("long").as("n_both"))
        .select(
          round((col("usz").cast("double") - 1.0) * lit(math.pow(2, 60)) /
            col("kth").cast("double"), 4).as("est_union"),
          round(col("n_both").cast("double") / col("usz").cast("double"), 6)
            .as("est_jaccard"),
          round((col("n_both").cast("double") / col("usz").cast("double")) *
            ((col("usz").cast("double") - 1.0) * lit(math.pow(2, 60)) /
              col("kth").cast("double")), 4).as("est_inter"))
    }),

    // Corpus-overlap MATRIX: estimated Jaccard for every source pair from
    // the same per-source min-k sketches — the "which sources duplicate
    // each other" curation report. ONE corpus aggregate produces 20 sketch
    // rows; the pair join is sketch⊗sketch (sources² rows, bounded by the
    // source cardinality, never by the corpus), so at 100 TB the corpus is
    // read once and the matrix costs nothing
    "agg_setmat" -> ((s, d) => {
      val k = 256
      val hash = graft.functions.ArrayOps.md5_long60(
        concat(lit("0:"), col("sh")))
      val sk = docs(s, d)
        .select(col("source"),
          explode_outer(graft.functions.ArrayOps
            .word_shingles(split(col("text"), " "), 3)).as("sh"))
        .groupBy(col("source"))
        .agg(graft.functions.Sketches.kmin_values(hash, k).as("mins"))
        // the self-join below references this subtree twice — pin the
        // ~sources-row sketch frame so the corpus aggregate runs ONCE.
        // A source with zero 3-shingles yields an empty sketch — drop it
        // (the DuckDB mirror's pairs derive from non-empty sketches only)
        .localCheckpoint()
        .filter(size(col("mins")) > 0)
      sk.as("x").join(sk.as("y"), col("x.source") < col("y.source"))
        .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
          slice(array_sort(array_union(col("x.mins"), col("y.mins"))), 1, k)
            .as("u"),
          col("x.mins").as("am"), col("y.mins").as("bm"))
        // |union sample| (≤ k), not nominal k, is the Jaccard denominator —
        // under-filled sketches on small corpora otherwise underestimate
        .select(col("src_a"), col("src_b"),
          round(size(array_intersect(array_intersect(col("u"), col("am")),
            col("bm"))).cast("double") / size(col("u")).cast("double"), 6)
          .as("est_jaccard"))
        .orderBy(col("est_jaccard").desc, col("src_a"), col("src_b"))
        .limit(20)
    }),

    // HyperLogLog distinct-count (m = 64 registers) as a plain two-level
    // aggregate: bucket = h % m, register = max "rank" where rank is pure
    // INTEGER arithmetic — 55 − MSB position via length(bin(h div m)) —
    // so no log2 doubles whose ULPs could differ across engines. The
    // register merge is Spark's own map-side-combined max (≤ m rows per
    // partition through the shuffle — the sketch property without a
    // custom aggregate), and the harmonic sum is integerized as
    // Σ 2^(55−r) picoweights: everything up to one final double division
    // hash-matches exactly. Empty registers contribute 2^55 (rank 0)
    "agg_hll" -> ((s, d) => {
      val two55 = 36028797018963968L // 2^55
      docs(s, d)
        .select(explode_outer(graft.functions.ArrayOps
          .word_shingles(split(col("text"), " "), 3)).as("sh"))
        .select(graft.functions.ArrayOps
          .md5_long60(concat(lit("0:"), col("sh"))).as("h"))
        .select((col("h") % 64).as("bucket"), expr("h div 64").as("hd"))
        .groupBy(col("bucket"))
        .agg(max(when(col("hd") === 0, lit(55))
          .otherwise(lit(55) - length(bin(col("hd"))))).as("r"))
        .agg(count(lit(1)).as("n_filled"),
          sum(expr("shiftleft(cast(1 as bigint), cast(55 - r as int))"))
            .as("wsum"))
        .select(col("n_filled"),
          (col("wsum") + (lit(64L) - col("n_filled")) * lit(two55)).as("w"))
        .withColumn("est_distinct",
          round(lit(0.709) * lit(4096.0) * lit(36028797018963968.0) /
            col("w").cast(DoubleType), 4))
    }),

    // Count-Min sketch (custom TypedImperativeAggregate): frequency
    // estimation over an unbounded key domain with a FIXED depth×width
    // block of longs per partition through the shuffle (groupBy.count
    // shuffles every distinct key). Cells are deterministic hash-partition
    // sums — the oracle recomputes all of them from exact per-key counts.
    "agg_cms" -> ((s, d) => {
      val width = 64
      val hb = graft.functions.ArrayOps.md5_long60(
        concat(lit("0:"), col("l_partkey").cast("string"))) % Dedup.UhPrime
      s.read.parquet(s"$d/lineitem.parquet")
        .agg(graft.functions.Sketches
          .count_min(hb, width, Dedup.uhParams(4)).as("cms"))
        .select(posexplode(col("cms")).as(Seq("idx", "cnt")))
        .select(expr(s"idx div $width").cast(IntegerType).as("depth"),
          expr(s"idx % $width").cast(IntegerType).as("cell"), col("cnt"))
        .orderBy(col("depth"), col("cell"))
    }),

    // KLL quantile sketch (custom TypedImperativeAggregate): per-group
    // p25/p50/p75/p90 without percentile()'s collect-everything buffers —
    // bounded level arrays per partition through the shuffle. Capacity
    // 4096 > any sf0.01 group, so level 0 never compacts and the sketch
    // is EXACT sorted-rank selection (the MisraGries oracle discipline);
    // at bench scale the same query exercises the real compaction path.
    "agg_qsk" -> ((s, d) =>
      s.read.parquet(s"$d/orders.parquet")
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.Sketches.kll_quantiles(col("o_totalprice"),
            capacity = 4096, probs = Seq(0.25, 0.5, 0.75, 0.9)).as("qs"),
          count(lit(1)).as("n"))
        .select(col("o_orderpriority"), col("n"),
          element_at(col("qs"), 1).as("q25"),
          element_at(col("qs"), 2).as("q50"),
          element_at(col("qs"), 3).as("q75"),
          element_at(col("qs"), 4).as("q90"))
        .orderBy(col("o_orderpriority"))),

    // pivoted aggregation: returnflag columns × linestatus rows, decimal-
    // exact sums (Spark's relational pivot — one partial agg + one shuffle)
    "g_pivot" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType))
        .orderBy(col("l_linestatus"))),

    // grouped multi-column distinct counts (Expand-based distinct
    // aggregation: one shuffle, partial dedup map-side)
    "g_distinct" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))),

    // ---- set operations (§2.8: union/intersect/except) ----
    "set_ops" -> ((s, d) => {
      val c = s.read.parquet(s"$d/customer.parquet")
      val o = s.read.parquet(s"$d/orders.parquet")
      val building = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val rich = c.filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("k"))
      val withOrders = o.select(col("o_custkey").as("k"))
      val neg = c.filter(col("c_acctbal") < 0).select(col("c_custkey").as("k"))
      building.union(rich).distinct()
        .intersect(withOrders).except(neg).orderBy(col("k"))
    }),

    // embedding-cosine near-dup groups: blocked exact-cosine pairs (≥ 0.3)
    // resolved to connected components over vec_ids
    "dd_embed" -> ((s, d) => {
      val e = embs(s, d)
      // exact filtered superset of the shared 0.25 pair set: the block
      // threshold gates only the final rounded score
      val pairs = blockPairs025(s, d).filter(col("sim") >= 0.3)
        .select(col("id1"), col("id2"))
      Dedup.duplicateGroups(e.select(col("vec_id")), pairs, idCol = "vec_id")
        .orderBy(col("id"))
    }),

    // batch tumbling-window aggregation (the batch twin of
    // StreamingOps.eventWindowAgg): hour buckets over truncated epoch-µs
    "ev_window" -> ((s, d) => {
      eventsWithTu(s, d)
        .select(expr("tu div 3600000000").as("win_hour"),
          col("event_type"), col("value"))
        .groupBy(col("win_hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_value"))
        .orderBy(col("win_hour"), col("event_type"))
    }),

    // cohort retention matrix: cohort = first active day per user; cells
    // count users (and events) active `day_offset` days later. Raw events
    // are reduced to (user, day) in the scan stage; the per-user window
    // sees at most days-per-user rows.
    "ev_cohort" -> ((s, d) => {
      Funnel.cohortRetention(eventsWithTu(s, d), "user_id",
          expr("tu div 86400000000"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // interval-overlap join: odd-event vs even-event 2-hour windows per
    // user — bucketed equi-join on (user, time bucket), each pair emitted
    // once in the first shared bucket (no dedup shuffle)
    "j_interval" -> ((s, d) => {
      val ev = eventsWithTu(s, d)
        .select(col("user_id"), col("event_id"), col("tu"))
      val len = 7200000000L // 2 h in µs
      val l = ev.filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("event_id").as("l_event"),
          col("tu").as("l_from"), (col("tu") + len).as("l_to"))
      val r = ev.filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id").as("r_event"),
          col("tu").as("r_from"), (col("tu") + len).as("r_to"))
      Joins.intervalOverlap(l, "l_from", "l_to", r, "r_from", "r_to",
          bucketWidth = 14400000000.0, keys = Seq("user_id"))
        .select(col("user_id"), col("l_event"), col("r_event"),
          col("l_from"), col("r_from"))
        .orderBy(col("user_id"), col("l_event"), col("r_event"))
    }),

    // RFM customer segmentation: one groupBy for the metrics, broadcast
    // rank-selected quartile thresholds, bins as a scan-stage projection —
    // no ntile (a global ntile is a single-partition sort over all users)
    "ev_rfm" -> ((s, d) => {
      Funnel.rfm(eventsWithTu(s, d), "user_id", expr("tu div 86400000000"),
          col("event_type"), col("value"), "purchase")
        .orderBy(col("user_id"))
    }),

    // strictly-ordered conversion funnel (first-touch): view → click →
    // purchase, each step's first event strictly after the previous
    // step's; one shuffle by user, one window node per step
    "ev_funnel" -> ((s, d) => {
      Funnel.funnel(eventsWithTu(s, d), "user_id", col("tu"), col("event_type"),
          Seq("view", "click", "purchase"))
        .orderBy(col("step"))
    }),

    // time-series regularization: hourly resample per user with forward
    // fill over the gaps (grid from sequence-explode, ONE window per key)
    "ev_ffill" -> ((s, d) => {
      TimeSeries.resampleForwardFill(eventsWithTu(s, d), "user_id",
          expr("tu div 3600000000"), "value")
        .orderBy(col("user_id"), col("bucket"))
    }),
    // linear interpolation over the same hourly grid: gaps get the exact
    // straight line (multiplied-through decimal, one final IEEE divide —
    // no rounding, no half-way hazard), edges fall back to nearest
    "ts_interp" -> ((s, d) => {
      TimeSeries.interpolateLinear(eventsWithTu(s, d), "user_id",
          expr("tu div 3600000000"), "value")
        .orderBy(col("user_id"), col("bucket"))
    }),

    // range-frame window: per customer, rolling 15-day order-value sum
    // (RANGE frame on epoch days — value-based, tie-inclusive)
    "w_range" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          unix_date(to_date(col("o_orderdate"))).cast(LongType).as("day"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("tp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-15, 0)
      o.select(col("o_orderkey"), col("o_custkey"), col("day"),
          sum(col("tp")).over(w).cast(DoubleType).as("sum_15d"),
          count(lit(1)).over(w).as("n_15d"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- skew playbook (results must be salt-invariant: the oracle is
    //      the plain unsalted SQL) ----
    "sk_agg" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_returnflag"),
          col("l_quantity").cast(DecimalType(18, 2)).as("v"))
      Skew.saltedAggregate(li, "l_returnflag", "v", salt = 16)
        .select(col("l_returnflag"),
          col("sum_value").cast(DoubleType).as("sum_value"), col("n"))
        .orderBy(col("l_returnflag"))
    }),
    "sk_join" -> ((s, d) => {
      val l = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_partkey").as("k"),
          col("l_quantity").cast(DecimalType(18, 2)).as("v"))
      val r = s.read.parquet(s"$d/part.parquet")
        .filter(col("p_size") <= 10)
        .select(col("p_partkey").as("k"), col("p_size"))
      Skew.saltedJoin(l, r, "k", salt = 8)
        .groupBy(col("p_size"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("v")).cast(DoubleType).as("sum_qty"))
        .orderBy(col("p_size"))
    }),

    // ---- classic OLAP headliners (TPC-H shapes over the star schema;
    //      decimal-exact money math → order-independent, engine-identical) ----
    // Q1 pricing summary: ONE scan with pushed date filter, map-side partial
    // agg absorbs 600k rows into 4 groups before the (tiny) shuffle
    "h_q1" -> ((s, d) => {
      val d2 = DecimalType(12, 2); val d3 = DecimalType(3, 2)
      val disc = lit(1).cast(d3) - col("l_discount").cast(d3)
      val qty = col("l_quantity").cast(d2)
      val base = col("l_extendedprice").cast(d2)
      s.read.parquet(s"$d/lineitem.parquet")
        .filter(to_date(col("l_shipdate")) <= lit(java.sql.Date.valueOf("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qty).cast(DoubleType).as("sum_qty"),
          sum(base).cast(DoubleType).as("sum_base_price"),
          sum(base * disc).cast(DoubleType).as("sum_disc_price"),
          sum(base * disc * (lit(1).cast(d3) + col("l_tax").cast(d3)))
            .cast(DoubleType).as("sum_charge"),
          round(sum(qty).cast(DoubleType) / count(lit(1)), 6).as("avg_qty"),
          round(sum(base).cast(DoubleType) / count(lit(1)), 6).as("avg_price"),
          round(sum(col("l_discount").cast(d3)).cast(DoubleType) / count(lit(1)), 6)
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    // Q3 shipping priority: selective dim filter broadcast into the fact
    // join, top-10 via TakeOrderedAndProject (no global sort)
    "h_q3" -> ((s, d) => {
      val d2 = DecimalType(12, 2); val d3 = DecimalType(3, 2)
      val cust = s.read.parquet(s"$d/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = s.read.parquet(s"$d/orders.parquet")
        .filter(to_date(col("o_orderdate")) < lit(java.sql.Date.valueOf("1998-03-15")))
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_orderpriority"))
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .filter(to_date(col("l_shipdate")) > lit(java.sql.Date.valueOf("1998-03-15")))
        .select(col("l_orderkey"), (col("l_extendedprice").cast(d2) *
          (lit(1).cast(d3) - col("l_discount").cast(d3))).as("rev"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_date"), col("o_orderpriority"))
        .agg(sum(col("rev")).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Q5 local-supplier volume: the join cycle (customer↔supplier nation
    // equality) — true dims broadcast, fact joins shuffle, one agg
    "h_q5" -> ((s, d) => {
      val d2 = DecimalType(12, 2); val d3 = DecimalType(3, 2)
      val rev = col("l_extendedprice").cast(d2) *
        (lit(1).cast(d3) - col("l_discount").cast(d3))
      val ord = s.read.parquet(s"$d/orders.parquet")
        .filter(to_date(col("o_orderdate")) >= lit(java.sql.Date.valueOf("1996-01-01")) &&
          to_date(col("o_orderdate")) < lit(java.sql.Date.valueOf("1997-01-01")))
      s.read.parquet(s"$d/lineitem.parquet")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(s.read.parquet(s"$d/customer.parquet"),
          col("o_custkey") === col("c_custkey"))
        .join(s.read.parquet(s"$d/supplier.parquet"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(s.read.parquet(s"$d/nation.parquet")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(s.read.parquet(s"$d/region.parquet"))
          .filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(rev).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    // Q7 volume shipping: the two-nation disjunctive join cycle — both
    // nation dims broadcast, the pair predicate applied across them,
    // yearly decimal-exact volume
    "h_q7" -> ((s, d) => {
      val d2 = DecimalType(12, 2); val d3 = DecimalType(3, 2)
      val vol = col("l_extendedprice").cast(d2) *
        (lit(1).cast(d3) - col("l_discount").cast(d3))
      val n1 = broadcast(s.read.parquet(s"$d/nation.parquet")
        .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation")))
      val n2 = broadcast(s.read.parquet(s"$d/nation.parquet")
        .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation")))
      s.read.parquet(s"$d/lineitem.parquet")
        .filter(to_date(col("l_shipdate"))
          .between(lit(java.sql.Date.valueOf("1996-01-01")),
            lit(java.sql.Date.valueOf("1997-12-31"))))
        .join(s.read.parquet(s"$d/orders.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .join(s.read.parquet(s"$d/customer.parquet"),
          col("o_custkey") === col("c_custkey"))
        .join(s.read.parquet(s"$d/supplier.parquet"),
          col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("nk1"))
        .join(n2, col("c_nationkey") === col("nk2"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(to_date(col("l_shipdate"))).as("l_year"))
        .agg(sum(vol).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),
    // Q10 returned-item reporting: selective returnflag + quarter filters
    // reduce the fact FIRST, dims broadcast, top-20 via
    // TakeOrderedAndProject
    "h_q10" -> ((s, d) => {
      val d2 = DecimalType(12, 2); val d3 = DecimalType(3, 2)
      val rev = col("l_extendedprice").cast(d2) *
        (lit(1).cast(d3) - col("l_discount").cast(d3))
      val ord = s.read.parquet(s"$d/orders.parquet")
        .filter(to_date(col("o_orderdate")) >= lit(java.sql.Date.valueOf("1997-01-01")) &&
          to_date(col("o_orderdate")) < lit(java.sql.Date.valueOf("1997-04-01")))
      s.read.parquet(s"$d/lineitem.parquet")
        .filter(col("l_returnflag") === "R")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(s.read.parquet(s"$d/customer.parquet"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(s.read.parquet(s"$d/nation.parquet")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(rev).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    }),
    // Q6 forecast-revenue change: pure scan-side query — date range,
    // discount band and quantity filters all push into the parquet scan
    "h_q6" -> ((s, d) => {
      val d2 = DecimalType(12, 2); val d3 = DecimalType(3, 2)
      s.read.parquet(s"$d/lineitem.parquet")
        .filter(to_date(col("l_shipdate")) >= lit(java.sql.Date.valueOf("1996-01-01")) &&
          to_date(col("l_shipdate")) < lit(java.sql.Date.valueOf("1997-01-01")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(d2) * col("l_discount").cast(d3))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q14 shape (promo revenue share): one month of lineitem joined
    // to part, conditional/total decimal revenue sums in one aggregate —
    // the scan-pushed date filter cuts the fact side before the join
    "h_q14" -> ((s, d) => {
      val rev = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(java.math.BigDecimal.ONE) - col("l_discount").cast(DecimalType(3, 2))))
      s.read.parquet(s"$d/lineitem.parquet")
        .filter(to_date(col("l_shipdate")) >= lit(java.sql.Date.valueOf("1996-03-01")) &&
          to_date(col("l_shipdate")) < lit(java.sql.Date.valueOf("1996-04-01")))
        .join(s.read.parquet(s"$d/part.parquet"),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
            sum(when(col("p_type") === "PROMO", rev)).cast(DoubleType) /
            sum(rev).cast(DoubleType), 6).as("promo_share"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q19 shape (disjunctive brand/size/quantity predicate): the
    // OR-of-conjuncts post-join filter over an equi-join on partkey —
    // the planner keeps the equi-key join and evaluates the disjunction
    // as a join residual, never a cartesian
    "h_q19" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val p = s.read.parquet(s"$d/part.parquet")
      val pred =
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#19" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 40)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 50))
      li.join(p, col("l_partkey") === col("p_partkey") && pred)
        .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
            (lit(java.math.BigDecimal.ONE) - col("l_discount").cast(DecimalType(3, 2))))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q4 shape (order-priority checking): EXISTS rewritten as a
    // left-semi join whose condition carries a non-equi residual (the
    // lineitem shipped >30 days after the order date); the quarter filter
    // prunes orders at the scan before the semi probe, and the probe side
    // projects just (orderkey, shipdate)
    "h_q4" -> ((s, d) => {
      val ord = s.read.parquet(s"$d/orders.parquet")
        .filter(to_date(col("o_orderdate")) >= lit(java.sql.Date.valueOf("1996-07-01")) &&
          to_date(col("o_orderdate")) < lit(java.sql.Date.valueOf("1996-10-01")))
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li, col("l_orderkey") === col("o_orderkey") &&
            to_date(col("l_shipdate")) > date_add(to_date(col("o_orderdate")), 30),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q8 shape (national market share): nation joined TWICE in two
    // roles (customer's nation restricts the market to one region, the
    // supplier's nation is the share numerator). Both nation legs and the
    // region leg broadcast; the conditional/total revenue ratio is one
    // aggregate over the fact join, yearly
    "h_q8" -> ((s, d) => {
      val d2 = DecimalType(12, 2); val d3 = DecimalType(3, 2)
      val rev = col("l_extendedprice").cast(d2) *
        (lit(1).cast(d3) - col("l_discount").cast(d3))
      val nat = s.read.parquet(s"$d/nation.parquet")
      val custAsia = s.read.parquet(s"$d/customer.parquet")
        .join(broadcast(nat.select(col("n_nationkey").as("cn_key"),
          col("n_regionkey").as("cn_reg"))), col("c_nationkey") === col("cn_key"))
        .join(broadcast(s.read.parquet(s"$d/region.parquet")
          .filter(col("r_name") === "ASIA")), col("cn_reg") === col("r_regionkey"))
        .select(col("c_custkey"))
      val sup = s.read.parquet(s"$d/supplier.parquet")
        .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      s.read.parquet(s"$d/lineitem.parquet")
        .join(s.read.parquet(s"$d/orders.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .join(custAsia, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(to_date(col("o_orderdate"))).as("o_year"))
        .agg(round(sum(when(col("supp_nation") === "NATION_7", rev)).cast(DoubleType) /
          sum(rev).cast(DoubleType), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q13 shape (customer order-count distribution): LEFT outer join
    // keeps zero-order customers (their count(o_orderkey)=0 bucket is the
    // query's whole point), two cascaded aggregations — the second groups
    // the bounded count domain, so it collapses to a near-free shuffle
    "h_q13" -> ((s, d) => {
      val ord = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      s.read.parquet(s"$d/customer.parquet")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q15 shape (top supplier): per-supplier decimal revenue for one
    // quarter, then the max as a broadcast 1-row scalar subquery. The rev
    // subtree appears twice in the plan but its shuffle is identical on
    // both sides, so Spark's ReuseExchange runs the scan+partial-agg once.
    // Decimal equality keeps ties exact (no float max ambiguity)
    "h_q15" -> ((s, d) => {
      val d2 = DecimalType(12, 2); val d3 = DecimalType(3, 2)
      val rev = s.read.parquet(s"$d/lineitem.parquet")
        .filter(to_date(col("l_shipdate")) >= lit(java.sql.Date.valueOf("1996-01-01")) &&
          to_date(col("l_shipdate")) < lit(java.sql.Date.valueOf("1996-04-01")))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast(d2) *
          (lit(1).cast(d3) - col("l_discount").cast(d3))).as("total_rev"))
      val mx = rev.agg(max(col("total_rev")).as("max_rev"))
      s.read.parquet(s"$d/supplier.parquet")
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .crossJoin(broadcast(mx))
        .filter(col("total_rev") === col("max_rev"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_rev").cast(DoubleType), 6).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q17 shape (small-quantity revenue): the correlated per-part
    // avg-quantity subquery as a grouped aggregate JOINed back to the
    // fact; the brand filter semi-joins the aggregate's input too, so the
    // per-part stats are computed only for parts that can match
    "h_q17" -> ((s, d) => {
      val d2 = DecimalType(12, 2)
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val pt = s.read.parquet(s"$d/part.parquet")
        .filter(col("p_brand") === "Brand#23")
      val avgq = li
        .join(pt.select(col("p_partkey").as("bp_key")),
          col("l_partkey") === col("bp_key"), "left_semi")
        .groupBy(col("l_partkey").as("ap_key"))
        .agg((sum(col("l_quantity").cast(d2)).cast(DoubleType) /
          count(lit(1))).as("avg_qty"))
      li.join(pt, col("l_partkey") === col("p_partkey"))
        .join(avgq, col("l_partkey") === col("ap_key"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(round(sum(col("l_extendedprice").cast(d2)).cast(DoubleType) / 7.0, 6)
            .as("avg_yearly"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q22 shape (global-account anti join): above-average-balance
    // customers with no RECENT orders (every sf0.01 customer has some
    // order, so the classic no-orders-ever form is vacuous here). The
    // average is a broadcast 1-row scalar subquery compared
    // multiplied-through (bal * n > sum) so the threshold stays
    // decimal-exact — no engine-specific decimal division
    "h_q22" -> ((s, d) => {
      val dec = DecimalType(12, 2)
      val cust = s.read.parquet(s"$d/customer.parquet")
      val thr = cust.filter(col("c_acctbal") > 0)
        .agg(sum(col("c_acctbal").cast(dec)).as("bal_sum"),
          count(lit(1)).as("bal_n"))
      cust.crossJoin(broadcast(thr))
        .filter(col("c_acctbal").cast(dec) * col("bal_n") > col("bal_sum"))
        .join(s.read.parquet(s"$d/orders.parquet")
            .filter(to_date(col("o_orderdate")) >= lit(java.sql.Date.valueOf("1999-01-01")))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(dec)).cast(DoubleType).as("totacctbal"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- correlated-subquery TPC-H sweep (q2/q9/q11/q12/q16/q20/q21
    //      shapes adapted to the available star schema — no partsupp table,
    //      so lineitem doubles as the part↔supplier relation with
    //      min(l_extendedprice) as the supply cost). These are written as
    //      SQL text on purpose: the correlated scalar subqueries / NOT IN /
    //      EXISTS+NOT EXISTS forms exercise Catalyst's decorrelation rules
    //      (RewriteCorrelatedScalarSubquery, RewritePredicateSubquery) so the
    //      physical plans are joins+aggregates, never per-row re-execution ----

    // Q2 shape: min-cost supplier per part — a correlated scalar MIN
    // subquery over the same cost relation that feeds the outer join.
    // Catalyst decorrelates it to a per-part aggregate joined back (never
    // per-row execution). The region restriction lives INSIDE the cost CTE
    // so both consumers aggregate the already-reduced relation; the CTE
    // still plans twice (runtime-filter injection keeps the two instances
    // from canonicalizing equal), the inherent cost of q2's declarative
    // form — the window-min formulation is the single-scan alternative
    "h_q2" -> ((s, d) => s.sql(
      s"""WITH cost AS (
         |  SELECT l_partkey AS pk, l_suppkey AS sk,
         |         min(l_extendedprice) AS cost
         |  FROM parquet.`$d/lineitem.parquet`
         |  WHERE l_suppkey IN (
         |    SELECT s_suppkey FROM parquet.`$d/supplier.parquet`
         |    JOIN parquet.`$d/nation.parquet` ON s_nationkey = n_nationkey
         |    JOIN parquet.`$d/region.parquet` ON n_regionkey = r_regionkey
         |    WHERE r_name = 'ASIA')
         |  GROUP BY 1, 2)
         |SELECT p_partkey, p_name, s_name, s_acctbal, cost AS supply_cost
         |FROM parquet.`$d/part.parquet`
         |JOIN cost ON p_partkey = pk
         |JOIN parquet.`$d/supplier.parquet` ON sk = s_suppkey
         |WHERE p_size < 5
         |  AND cost = (SELECT min(c2.cost) FROM cost c2
         |              WHERE c2.pk = p_partkey)
         |ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 20""".stripMargin)),

    // Q2, window-min formulation: the single-scan alternative to the
    // correlated-subquery form above — min(cost) OVER (PARTITION BY pk)
    // computes the per-part floor in the same pass that carries the rows,
    // so the cost CTE plans ONCE (the subquery form plans it twice;
    // runtime-filter injection keeps the instances from canonicalizing).
    // Same oracle, identical rows — the bench shows the trade measured
    "h_q2w" -> ((s, d) => s.sql(
      s"""WITH cost AS (
         |  SELECT l_partkey AS pk, l_suppkey AS sk,
         |         min(l_extendedprice) AS cost
         |  FROM parquet.`$d/lineitem.parquet`
         |  WHERE l_suppkey IN (
         |    SELECT s_suppkey FROM parquet.`$d/supplier.parquet`
         |    JOIN parquet.`$d/nation.parquet` ON s_nationkey = n_nationkey
         |    JOIN parquet.`$d/region.parquet` ON n_regionkey = r_regionkey
         |    WHERE r_name = 'ASIA')
         |  GROUP BY 1, 2),
         |mc AS (SELECT pk, sk, cost,
         |              min(cost) OVER (PARTITION BY pk) AS mcost
         |       FROM cost)
         |SELECT p_partkey, p_name, s_name, s_acctbal, cost AS supply_cost
         |FROM parquet.`$d/part.parquet`
         |JOIN mc ON p_partkey = pk
         |JOIN parquet.`$d/supplier.parquet` ON sk = s_suppkey
         |WHERE p_size < 5 AND cost = mcost
         |ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 20""".stripMargin)),

    // Q9 shape (product-type profit): the 4-way fact join grouped by
    // nation × year; profit = decimal-exact revenue minus a retail-cost
    // proxy (0.6·retailprice·qty — no ps_supplycost in this schema).
    // Two separate decimal sums cast to double keep both engines exact
    "h_q9" -> ((s, d) => s.sql(
      s"""SELECT n_name AS nation, year(CAST(l_shipdate AS DATE)) AS o_year,
         |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
         |             (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
         |      - CAST(sum(CAST(p_retailprice AS DECIMAL(12,2)) *
         |             CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) * 0.6,
         |      4) AS profit,
         |  count(*) AS n_items
         |FROM parquet.`$d/lineitem.parquet`
         |JOIN parquet.`$d/part.parquet` ON l_partkey = p_partkey
         |JOIN parquet.`$d/supplier.parquet` ON l_suppkey = s_suppkey
         |JOIN parquet.`$d/nation.parquet` ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%gear%'
         |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin)),

    // Q11 shape (important part values): grouped decimal value per part
    // for one nation's suppliers, kept only above a fraction of the total —
    // the uncorrelated scalar-subquery HAVING family. The v CTE is computed
    // once and reused for both the rows and the threshold (ReuseExchange)
    "h_q11" -> ((s, d) => s.sql(
      s"""WITH v AS (
         |  SELECT l_partkey AS ps_partkey,
         |         sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
         |             CAST(l_quantity AS DECIMAL(12,2))) AS val
         |  FROM parquet.`$d/lineitem.parquet`
         |  JOIN parquet.`$d/supplier.parquet` ON l_suppkey = s_suppkey
         |  JOIN parquet.`$d/nation.parquet` ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_3'
         |  GROUP BY 1)
         |SELECT ps_partkey, CAST(val AS DOUBLE) AS part_value
         |FROM v
         |WHERE CAST(val AS DOUBLE) >
         |      0.001 * (SELECT CAST(sum(val) AS DOUBLE) FROM v)
         |ORDER BY part_value DESC, ps_partkey""".stripMargin)),

    // Q12 shape (shipping-delay priority counts): conditional aggregation
    // over the order↔lineitem join with a >60-day ship-delay residual —
    // l_returnflag stands in for the missing l_shipmode
    "h_q12" -> ((s, d) => s.sql(
      s"""SELECT l_returnflag AS ship_class,
         |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |           THEN 1 ELSE 0 END) AS high_line_count,
         |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |           THEN 0 ELSE 1 END) AS low_line_count
         |FROM parquet.`$d/orders.parquet`
         |JOIN parquet.`$d/lineitem.parquet` ON o_orderkey = l_orderkey
         |WHERE CAST(l_shipdate AS DATE) > date_add(CAST(o_orderdate AS DATE), 60)
         |  AND year(CAST(l_shipdate AS DATE)) = 1997
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q16 shape (supplier diversity per part group): count-distinct
    // suppliers excluding a NOT IN subquery — Catalyst plans the null-aware
    // anti join as a broadcast (supplier is 100 rows), then one
    // distinct-aggregate
    "h_q16" -> ((s, d) => s.sql(
      s"""SELECT p_brand, p_type, p_size,
         |  count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM parquet.`$d/lineitem.parquet`
         |JOIN parquet.`$d/part.parquet` ON l_partkey = p_partkey
         |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
         |  AND p_size IN (1, 5, 10, 15, 20, 25)
         |  AND l_suppkey NOT IN (SELECT s_suppkey
         |                        FROM parquet.`$d/supplier.parquet`
         |                        WHERE s_acctbal < 500)
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // Q20 shape (excess-stock suppliers): IN over a grouped relation whose
    // filter is a correlated scalar subquery (per-part 1997 total) — the
    // nested-decorrelation family. Decimal sums keep the 0.3·total
    // comparison engine-exact
    "h_q20" -> ((s, d) => s.sql(
      s"""SELECT s_name, s_acctbal
         |FROM parquet.`$d/supplier.parquet`
         |JOIN parquet.`$d/nation.parquet` ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_3'
         |  AND s_suppkey IN (
         |    SELECT sq.l_suppkey FROM (
         |      SELECT l_suppkey, l_partkey,
         |             sum(CAST(l_quantity AS DECIMAL(12,2))) AS q
         |      FROM parquet.`$d/lineitem.parquet`
         |      JOIN parquet.`$d/part.parquet` ON l_partkey = p_partkey
         |      WHERE p_name LIKE '%gear%'
         |        AND year(CAST(l_shipdate AS DATE)) = 1997
         |      GROUP BY 1, 2) sq
         |    WHERE CAST(sq.q AS DOUBLE) > 0.3 * CAST(
         |      (SELECT sum(CAST(l2.l_quantity AS DECIMAL(12,2)))
         |       FROM parquet.`$d/lineitem.parquet` l2
         |       WHERE l2.l_partkey = sq.l_partkey
         |         AND year(CAST(l2.l_shipdate AS DATE)) = 1997) AS DOUBLE))
         |ORDER BY s_name""".stripMargin)),

    // Q21 shape (sole at-fault supplier): EXISTS (another supplier on the
    // order) + NOT EXISTS (another supplier also returned) — the double
    // existence-join family; l_returnflag='R' stands in for the missing
    // receipt/commit-date lateness predicate
    "h_q21" -> ((s, d) => s.sql(
      s"""SELECT s_name, count(*) AS numwait
         |FROM parquet.`$d/supplier.parquet`
         |JOIN parquet.`$d/lineitem.parquet` l1 ON s_suppkey = l1.l_suppkey
         |JOIN parquet.`$d/orders.parquet` ON o_orderkey = l1.l_orderkey
         |JOIN parquet.`$d/nation.parquet` ON s_nationkey = n_nationkey
         |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
         |  AND n_name = 'NATION_3'
         |  AND EXISTS (SELECT 1 FROM parquet.`$d/lineitem.parquet` l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM parquet.`$d/lineitem.parquet` l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey
         |                    AND l3.l_returnflag = 'R')
         |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin)),

    // ---- data layout (z-order clustering — the 100 TB scan-pruning
    //      lever): the Morton key is a pure shift/mask projection (codegen,
    //      zero shuffle); the reports are single hash aggregates. lay_zorder
    //      dumps the per-file min/max extents a scan planner prunes on;
    //      lay_prune quantifies the win: files/rows surviving min-max
    //      pruning for a 10%-per-dim box under the z layout vs a 1-D sort
    //      at the same file count ----
    "lay_zorder" -> ((s, d) =>
      Layout.fileExtents(eventsWithTu(s, d).select("user_id", "event_id"),
          "user_id", "event_id", bits = 8, fileShift = 8)
        .orderBy(col("file_id"))),
    "lay_prune" -> ((s, d) =>
      Layout.pruneStats(eventsWithTu(s, d).select("user_id", "event_id"),
        "user_id", "event_id", bits = 8, fileShift = 8,
        boxNum = 1, boxDen = 10)),
    // Hilbert-curve layout (locality strictly better than Morton: every
    // consecutive cell is grid-adjacent, so key-range files carry tighter
    // extents) — same compiled-projection + single-aggregate shape
    "lay_hilbert" -> ((s, d) =>
      Layout.hilbertExtents(eventsWithTu(s, d).select("user_id", "event_id"),
          "user_id", "event_id", bits = 8, fileShift = 8)
        .orderBy(col("file_id"))),

    // ---- deterministic sampling (portable hash order, no rand(): the
    //      sample is reproducible across runs/engines/partitionings and the
    //      Bernoulli forms are pure scan-stage filters — zero shuffle) ----
    "smp_bern" -> ((s, d) =>
      Sampling.sample(docs(s, d), "doc_id", 0.25)
        .select(col("doc_id")).orderBy(col("doc_id"))),
    // deterministic global shuffle (training-order permutation) with
    // materialized contiguous positions — two-phase distributed prefix,
    // never a single-partition row_number window
    "smp_shuffle" -> ((s, d) =>
      Sampling.shuffleOrder(docs(s, d), "doc_id").orderBy(col("doc_id"))),
    "smp_strat" -> ((s, d) =>
      Sampling.stratified(docs(s, d), "lang", "doc_id",
          Map("en" -> 0.1, "zh" -> 0.5), default = 1.0)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),
    // weighted priority sample: the 150 docs with the smallest
    // hash(id)/n_chars key (longer docs proportionally likelier) — a
    // stateless scan projection + bounded-heap TakeOrdered, never a
    // shuffle; division-keyed so the key is bit-identical cross-engine
    "smp_res" -> ((s, d) =>
      Sampling.weightedPriority(docs(s, d), "doc_id", "n_chars", n = 150)),
    // token-budget selection: longest-first greedy fill of a 10k-token
    // budget — the running total is the two-phase distributed prefix
    // (never a single-partition window), the cut a stateless filter; the
    // priority key is unique so the walk order is total
    "smp_budget" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Sampling.tokenBudget(t,
          col("doc_id") - col("n_tokens") * lit(10000000L), "n_tokens",
          budget = 10000L)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    }),
    // mixture targeting: the kept corpus must be 50/30/20 across three
    // sources (maximal retention; every other source dropped)
    "smp_mix" -> ((s, d) =>
      Sampling.mixture(docs(s, d), "source", "doc_id",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))),
    // temperature-scaled mixture (α = 0.5): keep fractions ∝ sqrt(n)/n,
    // scaled to a 40% corpus budget — small sources keep a larger share
    // than their raw frequency (the multilingual-rebalance primitive)
    "smp_temp" -> ((s, d) =>
      Sampling.temperatureMixture(docs(s, d), "source", "doc_id",
          budgetFrac = 0.4)
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))),
    // DSIR importance scores: target = the English slice, raw = the whole
    // corpus; per-bucket smoothed log ratios (rounded once per BOUNDED
    // bucket space) broadcast back onto a scan-stage tokenization, per-doc
    // decimal sums — nothing wider than (doc_id, decimal) shuffles
    "smp_dsir" -> ((s, d) => {
      val dd = docs(s, d)
      Sampling.dsirScores(dd, dd.filter(col("lang") === "en"))
        .orderBy(col("doc_id"))
    }),
    "smp_topn" -> ((s, d) =>
      Sampling.takePerStratum(s.read.parquet(s"$d/orders.parquet"),
          "o_orderstatus", "o_orderkey", n = 50)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderstatus"), col("o_orderkey"))),
    // deterministic 3-way split: per-(lang, split) counts prove the
    // assignment is the same pure function of doc_id in both engines
    "smp_split" -> ((s, d) =>
      Sampling.split3(docs(s, d), "doc_id", trainFrac = 0.8, valFrac = 0.1)
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"), col("split"))),

    // sequence packing: distributed exclusive prefix-sum (two-phase scan,
    // no single-partition window) → contiguous token-budget pack ids
    "pack_seq" -> ((s, d) =>
      graft.operators.Packing
        .packContiguous(s.read.parquet(s"$d/documents.parquet"), budget = 4096)
        .orderBy(col("id"))),
    "pack_stats" -> ((s, d) =>
      graft.operators.Packing.packStats(
        graft.operators.Packing.packContiguous(
          s.read.parquet(s"$d/documents.parquet"), budget = 4096))
        .orderBy(col("pack_id"))),
    // length-bucketed batching (padding-waste lever): per-bucket contiguous
    // positions via the GROUPED distributed prefix — a dominant length
    // bucket cannot serialize onto one task
    "pack_batch" -> ((s, d) =>
      graft.operators.Packing.lengthBatches(docs(s, d),
          bucketWidth = 64, batchSize = 32)
        .orderBy(col("id"))),
    // overlapping token-window chunking (RAG / long-doc splitting): pure
    // scan-stage generator, token array materialized once per row
    "txt_chunks" -> ((s, d) =>
      TextAnalysis.chunkWindows(docs(s, d), chunkTokens = 32, overlap = 8)
        .orderBy(col("id"), col("chunk_idx"))),

    // corpus TF-IDF: top-3 most distinctive terms per document (bounded-heap
    // top-k on the custom operator; scores rounded before ranking so the
    // ranking is engine-portable)
    "txt_tfidf" -> ((s, d) =>
      graft.operators.TfIdf.topTerms(docs(s, d), k = 3)
        .select(col("id"), col("term"), col("tfidf"), col("rank"))
        .orderBy(col("id"), col("rank"))),

    // null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys pair
    // with the NULL dim row instead of dropping out
    "j_nullsafe" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(when(col("o_orderkey") % 5 === 0, lit(null))
          .otherwise(col("o_orderkey") % 7).as("k"))
      val dim = s.range(0, 7).select(col("id").as("k"))
        .union(s.range(1).select(lit(null).cast(LongType).as("k")))
        .withColumn("lbl", coalesce(col("k").cast(StringType), lit("none")))
      o.join(broadcast(dim), o("k") <=> dim("k"))
        .groupBy(col("lbl")).agg(count(lit(1)).as("n"))
        .orderBy(col("lbl"))
    }),

    // SQL surface end-to-end: the compiled expressions registered on the
    // gate's own (extensions-less) session at RUNTIME, driven via spark.sql
    "x7_sql" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureFunctions(s)
      docs(s, d).createOrReplaceTempView("graft_docs_v")
      s.sql("""SELECT doc_id,
               |       md5_long60('0:' || text) AS h,
               |       rolling_hash_portable(split(text, ' ')) AS rh,
               |       simhash60(split(text, ' ')) AS sh
               |FROM graft_docs_v ORDER BY doc_id""".stripMargin)
    }),

    // ---- chunk-level exact dedup (RefinedWeb-style substring dedup at
    //      fixed 8-token-chunk granularity): per-doc fraction of chunks
    //      shared with ANOTHER doc; chunk fingerprints are aggregatable
    //      position-weighted hash sums — no collect_list, no HOFs ----
    "dd_chunk" -> ((s, d) =>
      Dedup.chunkDupStats(docs(s, d), "text", "doc_id", chunkSize = 8)
        .orderBy(col("doc_id"))),

    // ---- sliding-window exact-substring duplication (r7; the Lee et al.
    //      span-removal shape): every OVERLAPPING 8-token window
    //      fingerprinted via the (S1 − pos·S0, S0) pair of sliding sums —
    //      catches a repeated sentence at ANY offset, where dd_chunk only
    //      sees boundary-aligned copies; removable_tokens folds maximal
    //      dup runs (run + k−1 per run) with one lag ----
    "dd_span" -> ((s, d) =>
      Dedup.spanDupStats(docs(s, d), "text", "doc_id", k = 8)
        .orderBy(col("doc_id"))),
    // the ACTION half: corpus rewritten with covered tokens removed —
    // clean_text hash-matching pins the whole pipeline byte-for-byte
    "dd_despan" -> ((s, d) =>
      Dedup.removeDupSpans(docs(s, d), "text", "doc_id", k = 8)
        .orderBy(col("doc_id"))),
    // r8: CROSS-CORPUS span decontamination (Lee et al.'s eval-set
    // shape): flag windows of the target corpus shared with a REFERENCE
    // corpus (here the doc_id%5==0 slice) — one equi-join of target
    // starts against the reference's distinct fingerprints
    "dd_spanref" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.spanStatsAgainst(dd.where(col("doc_id") % 5 =!= 0),
          dd.where(col("doc_id") % 5 === 0), "text", "doc_id", k = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- finite-horizon EWMA per user (10 taps, 2^-j weights): every
    //      product is IEEE-exact (power-of-two scaling), the tap chains
    //      add left-to-right in both engines, ONE window node ----
    "w_ewma" -> ((s, d) => {
      val ev = eventsWithTu(s, d)
        .select(col("event_id"), col("user_id"), col("tu"), col("value"))
      TimeSeries.ewmaFiniteHorizon(ev, "user_id",
          Seq(col("tu"), col("event_id")), "value", taps = 10)
        .orderBy(col("event_id"))
    }),

    // ---- TPC-H Q18 shape (large-volume customers): HAVING over a
    //      map-side-combined per-order aggregate, then the filtered (tiny)
    //      key set drives the orders/customer joins — the agg-then-
    //      semi-join discipline, never the other way around ----
    "h_q18" -> ((s, d) => {
      val d2 = DecimalType(12, 2)
      val big = s.read.parquet(s"$d/lineitem.parquet")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(d2)).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      val o = s.read.parquet(s"$d/orders.parquet")
      val c = s.read.parquet(s"$d/customer.parquet")
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_totalprice"), col("sum_qty").cast(DoubleType).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)
    }),

    // ---- curriculum construction: bin the corpus into LM-quality
    //      quartiles. Scores are rounded to 2 decimals FIRST so every
    //      downstream step walks a bounded-cardinality grouped
    //      pre-aggregate (~tens of distinct values at any corpus size —
    //      the txt_quantile discipline applied to a global quantile).
    //      The per-doc frame is consumed exactly ONCE (the bigram
    //      subtree is expensive — re-executing it for a second consumer
    //      measured 2.9x): doc counts AND n_bigram sums fold into one
    //      groupBy(sc1), and the quartile bin of a score is derived
    //      in-window — a score sits above threshold t_q iff the
    //      cumulative count of scores strictly below it (cum - c)
    //      already reached ceil(n*q) ----
    "pipe_curr" -> ((s, d) => {
      val lm = TextAnalysis.bigramLogProb(docs(s, d))
        .select(col("id"), round(col("lm_score"), 2).as("sc1"), col("n_bigrams"))
      val counts = lm.groupBy(col("sc1"))
        .agg(count(lit(1)).as("c"), sum(col("n_bigrams")).as("sb"))
      val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("sc1"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      counts
        .select(col("sc1"), col("c"), col("sb"),
          (sum(col("c")).over(wCum) - col("c")).as("below"),
          sum(col("c")).over(wAll).as("n"))
        .withColumn("bucket",
          ((col("below") >= ceil(col("n") * 0.25)).cast("int") +
            (col("below") >= ceil(col("n") * 0.5)).cast("int") +
            (col("below") >= ceil(col("n") * 0.75)).cast("int")))
        .groupBy(col("bucket"))
        .agg(sum(col("c")).as("n_docs"),
          min(col("sc1")).as("min_sc"), max(col("sc1")).as("max_sc"),
          sum(col("sb")).as("sum_bigrams"))
        .orderBy(col("bucket"))
    }),

    // ---- grouped mode (most frequent value): two-level aggregate —
    //      map-side-combined (key, value) counts, then rank-1 on the
    //      custom bounded-heap TopKPerKey (count desc, value asc) ----
    "agg_mode" -> ((s, d) => {
      val counts = s.read.parquet(s"$d/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
      graft.plans.TopKPerKey(counts, Seq(col("l_returnflag")),
          Seq(col("cnt").desc, col("l_quantity")), k = 1, rankCol = "rn")
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("cnt"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- window rank functions (ntile / percent_rank / cume_dist):
    //      per-customer windows — partitioned, so parallelism scales with
    //      keys; (price, orderkey) order is unique → tie-free ----
    "w_rank" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      s.read.parquet(s"$d/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
    }),

    // ---- data profiling: per-column stats in ONE pass (multi-column
    //      exact distinct counts via Expand; decimal-exact means) ----
    "prof_cols" -> ((s, d) =>
      Profiling.profile(s.read.parquet(s"$d/lineitem.parquet"),
          Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
        .orderBy(col("column"))),

    // equi-width histogram + CDF of order values: scan-stage binning,
    // cumulative window over the bounded bin table only
    "prof_hist" -> ((s, d) =>
      Profiling.histogram(s.read.parquet(s"$d/orders.parquet"),
          "o_totalprice", width = 25000.0)
        .orderBy(col("bin"))),

    // distribution-drift monitor (PSI): token-length distribution of the
    // src0 slice vs src1 — the "is the new crawl shaped like the old one"
    // gate; corpora never join, each collapses to <=bins counted rows
    "prof_drift" -> ((s, d) => {
      val dd = docs(s, d)
      Profiling.psiDrift(
          dd.filter(col("source") === "src0")
            .select(TextAnalysis.tokenCount(col("text")).as("v")),
          dd.filter(col("source") === "src1")
            .select(TextAnalysis.tokenCount(col("text")).as("v")),
          "v", bins = 16, lo = 0.0, hi = 160.0)
        .orderBy(col("bin"))
    }),

    // per-source corpus datacard: doc/token volumes, exact-dup exposure,
    // short-doc fraction, English share — one scan projection, one
    // bounded fingerprint groupBy+join, one |sources|-row aggregate
    "prof_card" -> ((s, d) =>
      Profiling.corpusCard(docs(s, d)).orderBy(col("source"))),

    // pairwise Pearson correlations of all column pairs in ONE scan:
    // exact-decimal moments (sums / square-sums / cross-sums) from a
    // single aggregate, then the corr/cov formulas in fixed-order double
    // arithmetic — bit-identical across engines
    "prof_corr" -> ((s, d) =>
      Profiling.correlationMatrix(s.read.parquet(s"$d/lineitem.parquet"),
          Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
        .orderBy(col("col_x"), col("col_y"))),

    // chunk-embeddings -> per-group pooled embedding (long form): the
    // k-means-update plan shape — posexplode + map-side-combined decimal
    // partial sums; the exchange carries <= groups*dim rows per partition
    "emb_pool" -> ((s, d) =>
      Similarity.meanPool(s.read.parquet(s"$d/embeddings.parquet"), "label")
        .orderBy(col("label"), col("i"))),

    // embedding-quality diagnostics per label: vector counts, decimal-exact
    // squared-norm mass, zero-vector count, norm extrema — the "are these
    // embeddings healthy" gate before any ANN/dedup run. The squared norm
    // is ONE compiled dot kernel per row (codegen, array order fixed →
    // engine-identical doubles); per-vector values rounded once, then the
    // cross-vector sum folds as DECIMAL (order-independent)
    "emb_stats" -> ((s, d) => {
      val sq = graft.functions.ArrayOps
        .dot_product(col("embedding"), col("embedding"))
      embs(s, d).select(col("label"), sq.as("sq"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(round(col("sq"), 9).cast(DecimalType(28, 12)))
            .cast(DoubleType).as("sum_sq"),
          sum(when(col("sq") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          round(min(round(sqrt(col("sq")), 6)), 6).as("min_norm"),
          round(max(round(sqrt(col("sq")), 6)), 6).as("max_norm"))
        .orderBy(col("label"))
    }),

    // ---- data cleaning: winsorization at per-group exact quantiles
    //      (rank-selected over GROUPED value counts — bounded cardinality —
    //      then thresholds broadcast back; clip is a scan-stage projection) ----
    "cln_winsor" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      Cleaning.winsorize(li, "l_returnflag", "l_quantity", 0.05, 0.95)
        .groupBy(col("l_returnflag"), col("p_lo"), col("p_hi"))
        .agg(count(lit(1)).as("n"),
          sum(col("__winsorized").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_wins"),
          sum(when(col("l_quantity") < col("p_lo"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("l_quantity") > col("p_hi"), 1L).otherwise(0L)).as("n_clip_hi"))
        .orderBy(col("l_returnflag"))
    }),

    // robust (median/MAD) outliers — the heavy-tail-safe sibling: 1% of
    // rows get a deterministic 100x spike; quantities are integers, so
    // both engines' interpolated medians are exact to the half
    // entropy / mutual information of two categorical columns — the
    // feature-redundancy probe of a dataset audit
    "prof_mi" -> ((s, d) =>
      Profiling.mutualInformation(s.read.parquet(s"$d/lineitem.parquet"),
        "l_returnflag", "l_linestatus")),

    // Deequ-style constraint suite (r9 session 3): the unit-tests-for-
    // data gate a pipeline runs before curation — completeness, value
    // bounds (qty<=40 fails by construction, and the synthetic
    // lineitem's (orderkey, linenumber) is genuinely NOT a key — both
    // exercise the fail surface), set membership, key uniqueness,
    // referential integrity. One scan
    // for all scalar checks; uniqueness = one exact distinct aggregate;
    // RI = one equi-join against distinct orderkeys
    "prof_checks" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val ord = s.read.parquet(s"$d/orders.parquet")
      Profiling.constraintSuite(li, Seq(
        Profiling.Complete("c1_shipdate_complete", "l_shipdate"),
        Profiling.Satisfies("c2_qty_bounds",
          col("l_quantity") >= 1 && col("l_quantity") <= 50),
        Profiling.Satisfies("c3_qty_le_40", col("l_quantity") <= 40),
        Profiling.Satisfies("c4_flag_domain",
          col("l_returnflag").isin("A", "N", "R")),
        Profiling.Unique("c5_pk_unique",
          Seq("l_orderkey", "l_linenumber")),
        Profiling.RefIn("c6_orderkey_ri", "l_orderkey", ord,
          "o_orderkey")))
    }),

    "cln_mad" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_returnflag"),
          (col("l_quantity") * (lit(1) + lit(99) *
            (col("l_orderkey") % 97 === 0).cast("int"))).as("v"))
      Cleaning.madOutliers(li, "l_returnflag", "v")
        .groupBy(col("l_returnflag"), col("key_median"), col("key_mad"))
        .agg(count(lit(1)).as("n_outliers"),
          round(max(abs(col("robust_z"))), 6).as("max_abs_z"),
          round(min(abs(col("robust_z"))), 6).as("min_abs_z"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- anomaly detection: per-user z-scores from ONE decimal-exact
    //      partial aggregate (sum, sum-of-squares) joined back — the
    //      groupBy+join shape map-side-combines at any scale ----
    "ts_anom" -> ((s, d) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      Cleaning.zscoreAnomalies(ev, "user_id", "value", z = 2.0)
        .select(col("event_id"), col("user_id"), col("value"),
          col("zscore"), col("key_mean"), col("key_std"))
        .orderBy(col("event_id"))
    }),

    // group-mean imputation over a deterministic 10% missing-value mask
    // (hash-derived, planted identically in the oracle): per-type means
    // from one map-side-combined decimal-exact aggregate joined back —
    // never a rows-level window partitioned by the handful of groups
    "cln_impute" -> ((s, d) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("event_type"),
          when(Sampling.hashUniform(col("event_id"), seed = 7) < 0.1,
            lit(null).cast(DoubleType)).otherwise(col("value")).as("value"))
      Cleaning.imputeGroupMean(ev, "event_type", "value")
        .select(col("event_id"), col("event_type"), col("value"),
          col("imputed"))
        .orderBy(col("event_id"))
    }),

    // ---- entity resolution: blocked candidates (equi-join on the cheap
    //      key, never all-pairs) + levenshtein verification; the dirty
    //      fixture is a deterministic function of custkey, derived
    //      identically in the oracle, with one corruption class (distance
    //      4) that the verifier must REJECT ----
    "er_match" -> ((s, d) => {
      val c = s.read.parquet(s"$d/customer.parquet")
      EntityResolution.matchBlocked(
          EntityResolution.dirtyCustomers(c), c, maxDist = 2)
        .orderBy(col("dirty_id"), col("master_id"))
    }),

    // ---- bloom-filter runtime join pruning: filter built distributed
    //      over the dim keys, probed by a compiled expression INSIDE the
    //      fact scan stage; the real join then drops false positives, so
    //      the result — and the oracle — is the plain join ----
    "j_bloom" -> ((s, d) => {
      val cust = s.read.parquet(s"$d/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = s.read.parquet(s"$d/orders.parquet")
      val pre = graft.functions.BloomFilterOps.bloomPrefilter(
        o, "o_custkey", cust, "c_custkey",
        expectedItems = 1000000L, fpp = 0.01)
      pre.join(broadcast(cust.select(col("c_custkey"))),
          pre("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- bucketed co-located join: orders/customer written ONCE as
    //      8-bucket catalog tables on the customer key, then join +
    //      per-customer aggregate with ZERO exchanges below the output
    //      sort (BucketingSpec asserts the plan) — the pay-the-shuffle-
    //      at-ingest layout every repeated 100 TB join should use ----
    "j_bucket" -> ((s, d) => {
      val (ot, ct) = bucketedOrdersCustomer(s, d)
      graft.sources.Bucketing.bucketedEquiJoin(s, ot, ct,
          "o_custkey", "c_custkey")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_spent"))
        .filter(col("n_orders") >= 10)
        .orderBy(col("c_custkey"))
    }),

    // ---- graph centrality: deterministic damped PageRank over the kNN
    //      graph (per-iteration decimal-summed contributions, rank
    //      re-rounded to 12 — trajectory unrolls as oracle CTEs) ----
    "gr_pagerank" -> ((s, d) => {
      val edges = knnEdges(s, d)
        .select(col("id").as("src"), col("nbr").as("dst"))
      val verts = embs(s, d).select(col("vec_id").as("id"))
      Graph.pageRank(verts, edges, iters = 3)
        .select(col("id"), col("rank").as("pr"))
        .orderBy(col("id"))
    }),
    // triangle participation in the kNN graph (degree-ordered join — the
    // "last reducer" fanout is O(sqrt m) per key): dense duplicate
    // clusters show up as high per-vertex triangle counts
    "gr_tri" -> ((s, d) =>
      Graph.triangleCounts(knnEdges(s, d)
          .select(col("id").as("src"), col("nbr").as("dst")))
        .orderBy(col("id"))),
    // connected components of the kNN graph (cluster extraction): the
    // size-adaptive duplicateGroups core behind a general edge-list API —
    // driver union-find below the pair cutoff, doubling label propagation
    // above it; labels are component-minimum vertex ids
    "gr_cc" -> ((s, d) =>
      Graph.connectedComponents(knnEdges(s, d)
          .select(col("id").as("src"), col("nbr").as("dst")))
        .orderBy(col("id"))),
    // label-propagation communities (2 synchronous rounds, min-label tie):
    // splits the kNN graph into densely-linked groups — per round one
    // label join + two map-side-combined aggregates, argmax as a
    // struct-min fold, label table pinned between rounds
    "gr_lpa" -> ((s, d) =>
      Graph.labelPropagation(knnEdges(s, d)
          .select(col("id").as("src"), col("nbr").as("dst")), iters = 2)
        .orderBy(col("id"))),
    // k-core by synchronous peeling (k=2, 10 rounds — converged at
    // sf0.001/0.01/0.1: the fixpoint needs 10/8/4 peels respectively, so
    // every output degree ≥ k at all test scales): the dense-subgraph
    // extraction of a curation pipeline; per round two semi-joins
    // against the shrinking survivor set + one map-side-combined degree
    // aggregate
    "gr_kcore" -> ((s, d) =>
      Graph.kCore(knnEdges(s, d)
          .select(col("id").as("src"), col("nbr").as("dst")),
          k = 2, rounds = 10)
        .orderBy(col("id"))),

    // changelog upsert (CDC latest-wins with delete tombstones): final
    // entity state in ONE map-side-combinable aggregate — max over a
    // (ts, event_id, ...) struct picks the latest change per key without
    // a window sort; 'error' tombstones drop the key from the snapshot
    "cdc_upsert" -> ((s, d) => {
      val ev = eventsWithTu(s, d)
        .select(col("user_id"), col("event_id"), col("tu"),
          col("event_type"), col("value"))
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_changes"),
          max(struct(col("tu"), col("event_id"), col("event_type"),
            col("value"))).as("last"))
        .filter(col("last.event_type") =!= "error")
        .select(col("user_id"), col("last.tu").as("last_tu"),
          col("last.event_type").as("last_type"),
          col("last.value").as("last_value"), col("n_changes"))
        .orderBy(col("user_id"))
    }),

    // SCD Type-2 dimension build from a changelog: per-key versioned
    // validity intervals — valid_from = the change's time, valid_to = the
    // next change's (null = current). One shuffle by key, one window node
    // for both lead() and version; per-key rows are bounded by change
    // counts, not corpus size
    "cdc_scd2" -> ((s, d) => {
      val ev = eventsWithTu(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("user_id"), col("event_id"), col("tu"),
          col("event_type"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
      ev.select(col("user_id"), col("event_type").as("attr"),
          col("tu").as("valid_from"),
          lead(col("tu"), 1).over(w).as("valid_to"),
          row_number().over(w).as("version"))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy(col("user_id"), col("version"))
    }),

    // snapshot diff (dataset versioning): added/removed/changed rows
    // between two table versions from ONE full-outer join on the key —
    // the Delta/Iceberg-style version-compare primitive; synthetic
    // versions are deterministic key-mod slices of orders
    "cdc_diff" -> ((s, d) => {
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"))
      val old = orders.filter(col("o_orderkey") % 89 =!= 1)
        .toDF("k", "old_price")
      val nw = orders.filter(col("o_orderkey") % 83 =!= 2)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("new_price"))
      old.join(nw, Seq("k"), "full_outer")
        .withColumn("status",
          when(col("old_price").isNull, "added")
            .when(col("new_price").isNull, "removed")
            .when(col("old_price") =!= col("new_price"), "changed"))
        .filter(col("status").isNotNull)
        .select(col("k").as("o_orderkey"), col("status"),
          col("old_price"), col("new_price"))
        .orderBy(col("o_orderkey"))
    }),

    // doc-sharded inverted index: posting lists bounded by the shard's
    // corpus slice (the hottest stopword costs a reducer 1/nShards of its
    // global postings); postings fingerprinted so results stay scalar
    "txt_index" -> ((s, d) =>
      TextAnalysis.invertedIndex(docs(s, d), nShards = 8)
        .orderBy(col("tok"), col("shard"))),

    // ---- multimodal plumbing ----
    "mm_meta" -> ((s, d) =>
      Multimodal.extractMeta(Multimodal.asMediaTable(docs(s, d)))
        .orderBy(col("media_id"))),
    "mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.asMediaTable(docs(s, d)))
        .select(col("media_id"), col("n_frames")).orderBy(col("media_id"))),
    // flattened to scalar columns: the driver's pandas-side compare cannot
    // sort rows containing array cells (round-1 mm_features failure)
    "mm_features" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.asMediaTable(docs(s, d)))
        .select(col("media_id") +:
          (0 until 16).map(i =>
            element_at(col("features"), i + 1).cast("double").as(s"f$i")): _*)
        .orderBy(col("media_id"))),
    // REAL codec roundtrips (r6): the synth parameters are deterministic
    // functions of the id/token count, so the oracle PREDICTS analytically
    // what the byte-level RIFF/BMP parse must recover — if the encoder or
    // the chunk-walking parser is off by one byte anywhere, these rows
    // hash-mismatch. (Sample-content features — rms/peak/thumb — are
    // covered by MediaCodecSpec roundtrips; an engine-independent oracle
    // cannot replay the 64-bit LCG.)
    "mm_wav" -> ((s, d) =>
      Multimodal.decodeWav(Multimodal.asWavTable(docs(s, d)))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"))
        .orderBy(col("media_id"))),
    "mm_bmp" -> ((s, d) =>
      Multimodal.decodeBmp(Multimodal.asBmpTable(docs(s, d)))
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 9).as("mean_r"),
          round(col("mean_g"), 9).as("mean_g"),
          round(col("mean_b"), 9).as("mean_b"))
        .orderBy(col("media_id"))),
    // r7: PNG is a real COMPRESSED codec roundtrip — zlib deflate/inflate
    // (java.util.zip), all five scanline filters applied by the encoder
    // and reversed by the decoder, every chunk CRC-verified. The oracle
    // predicts the channel means analytically from the synth parameters;
    // one wrong byte in filter math, inflate bookkeeping, or the chunk
    // walk shifts a mean and hash-mismatches. RGBA (even ids) and RGB
    // (odd ids) both exercised; RGB reports the opaque mean_a = 255.
    "mm_png" -> ((s, d) =>
      Multimodal.decodePng(Multimodal.asPngTable(docs(s, d)))
        .select(col("media_id"), col("width"), col("height"),
          col("color_type"),
          round(col("mean_r"), 9).as("mean_r"),
          round(col("mean_g"), 9).as("mean_g"),
          round(col("mean_b"), 9).as("mean_b"),
          round(col("mean_a"), 9).as("mean_a"))
        .orderBy(col("media_id"))),
    // r7: GIF89a — the fourth real codec, this one LZW-compressed with
    // variable-width codes (9→10 bits exercised at catalog image sizes).
    // The oracle predicts channel means from the palette + index synth
    // functions; any slip in bit packing, width growth, sub-block
    // reassembly, or the wKwK special case corrupts pixels and
    // hash-mismatches.
    "mm_gif" -> ((s, d) =>
      Multimodal.decodeGif(Multimodal.asGifTable(docs(s, d)))
        .select(col("media_id"), col("width"), col("height"),
          col("gct_size"),
          round(col("mean_r"), 9).as("mean_r"),
          round(col("mean_g"), 9).as("mean_g"),
          round(col("mean_b"), 9).as("mean_b"))
        .orderBy(col("media_id"))),
    // r7: G.711 µ-law WAV — companded audio where the oracle checks the
    // DECODED CONTENT: the expansion is exact integer bit-math, so mean
    // |PCM| and peak are analytically predictable (mm_wav's PCM16 LCG
    // content is golden-tested instead; this closes that gap for audio)
    "mm_ulaw" -> ((s, d) =>
      Multimodal.decodeUlaw(Multimodal.asUlawTable(docs(s, d)))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), round(col("mean_abs"), 6).as("mean_abs"),
          col("peak"))
        .orderBy(col("media_id"))),
    // the A-law half of G.711 (format code 6), same content-oracle idea
    "mm_alaw" -> ((s, d) =>
      Multimodal.decodeAlaw(Multimodal.asAlawTable(docs(s, d)))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), round(col("mean_abs"), 6).as("mean_abs"),
          col("peak"))
        .orderBy(col("media_id"))),
    // r7: baseline TIFF — the fifth real format; the substance is the
    // IFD tag walk (typed entries, values inline-or-out-of-line,
    // out-of-line BitsPerSample SHORT triple, strip bounds). Oracle
    // predicts channel means analytically from the synth functions.
    "mm_tiff" -> ((s, d) =>
      Multimodal.decodeTiff(Multimodal.asTiffTable(docs(s, d)))
        .select(col("media_id"), col("width"), col("height"),
          col("samples_per_pixel"),
          round(col("mean_r"), 9).as("mean_r"),
          round(col("mean_g"), 9).as("mean_g"),
          round(col("mean_b"), 9).as("mean_b"))
        .orderBy(col("media_id"))),
    // r8: baseline JPEG (SOF0) — the last image modality without native
    // code. The decode is the real thing (Huffman, dequant, 2-D IDCT,
    // fixed-point color transform); the DC-only synthesis makes the
    // decoded pixels integer-exact, so the oracle predicts the CONTENT
    // analytically (the G.711 discipline), not just the header fields.
    "mm_jpeg" -> ((s, d) =>
      Multimodal.decodeJpeg(Multimodal.asJpegTable(docs(s, d)))
        .select(col("media_id"), col("width"), col("height"),
          col("n_components"),
          round(col("mean_r"), 9).as("mean_r"),
          round(col("mean_g"), 9).as("mean_g"),
          round(col("mean_b"), 9).as("mean_b"))
        .orderBy(col("media_id"))),
    // r9: FLAC — the ninth real format and the last pure-JVM-achievable
    // audio codec. LOSSLESS: the Rice/fixed-predictor decode must return
    // the synth PCM bit-exactly (both CRCs verified on the way), so the
    // oracle predicts the decoded CONTENT from the synthesis formula —
    // the G.711 discipline on a genuinely compressed stream.
    "mm_flac" -> ((s, d) =>
      Multimodal.decodeFlac(Multimodal.asFlacTable(docs(s, d)))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("bits"), col("n_samples"),
          round(col("mean_abs"), 6).as("mean_abs"), col("peak"))
        .orderBy(col("media_id"))),
  )

  // ---- oracle SQL ---------------------------------------------------------

  /** Driver contract: no-arg map (the correctness gate runs at sf0.01). */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  /** Oracle SQL with table paths interpolated from the actual data dir —
    * Verify passes the sfDir it was invoked with, so the oracle can never
    * silently read a different scale factor than the Spark side. */
  def oracleSqlFor(sfDir: String): Map[String, String] = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "that")
    val stopCnt = stop.map(wordOccSql).mkString(" + ")
    val punctCnt = Seq(".", ",", "!", "?", ";", ":").map(p => occSql("text", p)).mkString(" + ")
    val digitCnt = (0 to 9).map(dd => occSql("text", dd.toString)).mkString(" + ")
    val markers = Seq(
      "en" -> Seq("the", "and", "of", "to", "is"),
      "es" -> Seq("el", "la", "los", "que", "es"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "fr" -> Seq("le", "la", "les", "et", "est"))
    val scoreSql = markers.map { case (l, ws) =>
      l -> s"(${ws.map(wordOccSql).mkString(" + ")})"
    }.toMap
    // langPred mirror: argmax of marker votes, earlier language wins
    // ties (the engine's array_max struct carries a negated tiebreak
    // index — r12, same contract as the old reduceLeft), 'und' when no
    // marker fires — shared by txt_langid and pipe_curate
    val langPredSql =
      s"CASE WHEN GREATEST(${scoreSql("en")}, ${scoreSql("es")}, ${scoreSql("de")}, ${scoreSql("fr")}) = 0 THEN 'und' " +
        s"WHEN ${scoreSql("en")} >= ${scoreSql("es")} AND ${scoreSql("en")} >= ${scoreSql("de")} AND ${scoreSql("en")} >= ${scoreSql("fr")} THEN 'en' " +
        s"WHEN ${scoreSql("es")} >= ${scoreSql("de")} AND ${scoreSql("es")} >= ${scoreSql("fr")} THEN 'es' " +
        s"WHEN ${scoreSql("de")} >= ${scoreSql("fr")} THEN 'de' ELSE 'fr' END"
    // exact-decimal cosine of every embedding vs the vec_id=0 query vector
    val cosineCore =
      """WITH q AS (SELECT unnest(embedding) AS qe, generate_subscripts(embedding,1) AS i
        |           FROM embeddings WHERE vec_id=0),
        |     e AS (SELECT vec_id, unnest(embedding) AS ee, generate_subscripts(embedding,1) AS i
        |           FROM embeddings),
        |     d AS (SELECT vec_id,
        |                  sum(CAST(CAST(ee AS DOUBLE)*CAST(qe AS DOUBLE) AS DECIMAL(38,30))) AS dt,
        |                  sum(CAST(CAST(ee AS DOUBLE)*CAST(ee AS DOUBLE) AS DECIMAL(38,30))) AS na
        |           FROM e JOIN q USING (i) GROUP BY vec_id),
        |     nq AS (SELECT sum(CAST(CAST(qe AS DOUBLE)*CAST(qe AS DOUBLE) AS DECIMAL(38,30))) AS nb FROM q)
        |SELECT vec_id,
        |       round(CAST(dt AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))),6) AS sim
        |FROM d, nq""".stripMargin
    val cosineVsQuery = cosineCore + " ORDER BY vec_id"
    // exact-decimal all-pairs cosine within label blocks; CTEs shared by
    // sim_block (pair list) and dd_embed (connected components over pairs)
    def blockedCtes(threshold: Double) =
      s"""e AS (SELECT vec_id, label, unnest(embedding) AS v,
         |           generate_subscripts(embedding,1) AS i FROM embeddings),
         |nrm AS (SELECT vec_id,
         |               sqrt(CAST(sum(CAST(CAST(v AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE)) AS nrm
         |        FROM e GROUP BY vec_id),
         |d AS (SELECT l.vec_id AS id1, r.vec_id AS id2,
         |             CAST(sum(CAST(CAST(l.v AS DOUBLE)*CAST(r.v AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS dt
         |      FROM e l JOIN e r ON l.label = r.label AND l.i = r.i AND l.vec_id < r.vec_id
         |      GROUP BY 1, 2),
         |bp AS (SELECT id1, id2, round(dt/(n1.nrm*n2.nrm),6) AS sim
         |       FROM d JOIN nrm n1 ON d.id1 = n1.vec_id JOIN nrm n2 ON d.id2 = n2.vec_id
         |       WHERE round(dt/(n1.nrm*n2.nrm),6) >= $threshold)""".stripMargin
    val blockedPairs =
      s"WITH ${blockedCtes(0.25)} SELECT id1, id2, sim FROM bp ORDER BY id1, id2"
    // NN-Descent trajectory mirror (r10): pinned rounds as MATERIALIZED
    // per-round CTEs (the gr_kcore lesson — each round's graph is read
    // several times by the next). Round r: fresh exploration strides f{r}
    // (hash-rank strides 1/3 + 17·(r−1) over the portable md5
    // hashUniform(42) order — mirrors nnDescent's randomStrides; without
    // them the blocked seed is block-closed and descent can never reach
    // a cross-block neighbor) → undirected exploration edges u{r} →
    // candidates c{r} (neighbor-of-neighbor ∪ the exploration edges
    // themselves) → exact-decimal rescore s{r} → merged m{r} → top-k per
    // node g{r}. Seed g0 = the block-local top-3 (sym); rounds keep k=5.
    val nndRounds = 6
    val nndK = 5
    def nndCtes: String = {
      def strideEdges(s: Int) =
        s"""SELECT a.id, b.id AS nbr FROM rk a, cnt, rk b
           |WHERE b.r = ((a.r + ${s - 1}) % cnt.n) + 1 AND a.id <> b.id"""
          .stripMargin
      def round(r: Int): String = {
        val p = s"g${r - 1}"
        s"""f$r AS (${strideEdges(1 + 17 * (r - 1))}
           |       UNION ALL
           |       ${strideEdges(3 + 17 * (r - 1))}),
           |x$r AS (SELECT id, nbr FROM $p
           |        UNION ALL SELECT id, nbr FROM f$r),
           |u$r AS MATERIALIZED (SELECT DISTINCT id, nbr FROM (
           |  SELECT id, nbr FROM x$r UNION ALL SELECT nbr, id FROM x$r)),
           |c$r AS MATERIALIZED (SELECT DISTINCT id, nbr FROM (
           |  SELECT a.id, b.nbr FROM u$r a JOIN u$r b ON a.nbr = b.id
           |  WHERE a.id <> b.nbr
           |  UNION ALL SELECT id, nbr FROM u$r)),
           |s$r AS MATERIALIZED (SELECT c.id, c.nbr,
           |    round(CAST(sum(CAST(CAST(l.v AS DOUBLE)*CAST(r.v AS DOUBLE)
           |      AS DECIMAL(38,30))) AS DOUBLE)/(n1.nrm*n2.nrm), 6) AS sim
           |  FROM c$r c JOIN e l ON l.vec_id = c.id
           |             JOIN e r ON r.vec_id = c.nbr AND r.i = l.i
           |             JOIN nrm n1 ON n1.vec_id = c.id
           |             JOIN nrm n2 ON n2.vec_id = c.nbr
           |  GROUP BY c.id, c.nbr, n1.nrm, n2.nrm),
           |m$r AS MATERIALIZED (SELECT id, nbr, max(sim) AS sim FROM (
           |  SELECT * FROM $p UNION ALL SELECT * FROM s$r) GROUP BY 1, 2),
           |g$r AS MATERIALIZED (SELECT id, nbr, sim FROM (
           |  SELECT id, nbr, sim, row_number() OVER (PARTITION BY id
           |    ORDER BY sim DESC, nbr) AS rn FROM m$r) WHERE rn <= $nndK)"""
          .stripMargin
      }
      // rank order = the 60-bit portable md5 alone (no tiebreak): the
      // engine's GlobalRowNumberRule re-plan requires a single sort key
      val hu = "(('0x' || substr(md5('42:' || vec_id),1,15))::BIGINT)"
      s"""${blockedCtes(0.25)},
         |sym AS (SELECT id1 AS id, id2 AS nbr, sim FROM bp
         |        UNION ALL SELECT id2 AS id, id1 AS nbr, sim FROM bp),
         |rk AS MATERIALIZED (SELECT vec_id AS id,
         |  row_number() OVER (ORDER BY $hu) AS r FROM embeddings),
         |cnt AS (SELECT count(*) AS n FROM embeddings),
         |g0 AS MATERIALIZED (SELECT id, nbr, sim FROM (
         |  SELECT id, nbr, sim, row_number() OVER (PARTITION BY id
         |    ORDER BY sim DESC, nbr) AS rn FROM sym) WHERE rn <= 3),
         |${(1 to nndRounds).map(round).mkString(",\n")}""".stripMargin
    }
    val simNnd =
      s"""WITH $nndCtes
         |SELECT id, nbr, sim FROM g$nndRounds
         |ORDER BY id, sim DESC, nbr""".stripMargin
    // recall mirror: exact top-3 per probe node (vec_id % 199 = 0) over
    // the whole corpus, intersected with the seed (g0) and refined
    // (g{rounds}) lists
    val simNndRecall =
      s"""WITH $nndCtes,
         |xd AS (SELECT a.vec_id AS id, b.vec_id AS nbr,
         |    CAST(sum(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE)
         |      AS DECIMAL(38,30))) AS DOUBLE) AS dt
         |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id % 199 = 0 AND a.vec_id < ${199L * 25}
         |  GROUP BY 1, 2),
         |xs AS (SELECT id, nbr, round(dt/(n1.nrm*n2.nrm), 6) AS sim
         |  FROM xd JOIN nrm n1 ON xd.id = n1.vec_id
         |          JOIN nrm n2 ON xd.nbr = n2.vec_id),
         |xt AS MATERIALIZED (SELECT id, nbr FROM (
         |  SELECT id, nbr, row_number() OVER (PARTITION BY id
         |    ORDER BY sim DESC, nbr) AS rn FROM xs) WHERE rn <= 3),
         |gs AS (SELECT id, nbr FROM (
         |  SELECT id, nbr, row_number() OVER (PARTITION BY id
         |    ORDER BY sim DESC, nbr) AS rn FROM sym) WHERE rn <= 3),
         |f AS (SELECT
         |  (SELECT count(*) FROM xt) AS k_total,
         |  (SELECT count(*) FROM gs JOIN xt USING (id, nbr)) AS seed_hits,
         |  (SELECT count(*) FROM g$nndRounds JOIN xt USING (id, nbr))
         |    AS nnd_hits)
         |SELECT CAST(k_total AS BIGINT) AS k_total,
         |       CAST(seed_hits AS BIGINT) AS seed_hits,
         |       CAST(nnd_hits AS BIGINT) AS nnd_hits,
         |       round(CAST(seed_hits AS DOUBLE)/k_total, 6) AS seed_recall,
         |       round(CAST(nnd_hits AS DOUBLE)/k_total, 6) AS nnd_recall
         |FROM f""".stripMargin
    // embedding near-dup groups: recursive min-label closure over the
    // blocked pairs (mirrors Dedup.duplicateGroups over vec_ids)
    val ddEmbed =
      s"""WITH RECURSIVE ${blockedCtes(0.3)},
         |edges AS (SELECT id1 AS a, id2 AS b FROM bp
         |          UNION ALL SELECT id2 AS a, id1 AS b FROM bp),
         |reach(id, l) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT g.a, r.l FROM edges g JOIN reach r ON g.b = r.id)
         |SELECT id, min(l) AS group_id FROM reach GROUP BY id ORDER BY id""".stripMargin
    // ---- portable-hash mirrors (md5 is md5 in every engine) ----
    // 60-bit md5-derived hash: first 15 hex digits as BIGINT — mirrors
    // graft.operators.Dedup.portableHash exactly
    def mdInt(expr: String) = s"(('0x' || substr(md5($expr),1,15))::BIGINT)"
    // word-3-gram shingle list with the short-doc whole-text fallback
    // (mirrors Dedup.shinglesOf for n = 3)
    val shingleList =
      "CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1), " +
        "i -> array_to_string(w[i:i+2], ' ')) " +
        "ELSE [array_to_string(w, ' ')] END"
    // minhash pipeline CTEs shared by dd_minhash / dd_jaccard: one md5 per
    // shingle, k=32 universal-hash slot mins, 8 bands of 4 slots, bucket
    // guard 256 (mirrors Dedup.minhashSignatures portable = true)
    def minhashCtes(k: Int = 32, bands: Int = 8): String = {
      val rpb = k / bands
      val P = graft.operators.Dedup.UhPrime
      val slotMins = graft.operators.Dedup.uhParams(k).zipWithIndex
        .map { case ((a, b), i) => s"min((hb * $a + $b) % $P) AS m$i" }
        .mkString(", ")
      val bandRows = (0 until bands).map { b =>
        val slotStr = (0 until rpb).map(r => s"m${b * rpb + r}::VARCHAR")
          .mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, ${mdInt(s"'$b' || ',' || $slotStr")} AS band_hash FROM sig"
      }.mkString(" UNION ALL ")
      val sigArr = (0 until k).map(s => s"m$s").mkString("[", ", ", "]")
      s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, unnest($shingleList) AS s FROM toks),
         |shb AS (SELECT doc_id, ${mdInt("'0:' || s")} % $P AS hb FROM sh),
         |sig AS (SELECT doc_id, $slotMins FROM shb GROUP BY doc_id),
         |sigarr AS (SELECT doc_id, $sigArr AS sig FROM sig),
         |banded AS ($bandRows),
         |sized AS (SELECT *, count(*) OVER (PARTITION BY band, band_hash) AS bn FROM banded),
         |cand AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
         |         FROM sized l JOIN sized r
         |           ON l.band = r.band AND l.band_hash = r.band_hash
         |          AND l.doc_id < r.doc_id
         |         WHERE l.bn <= 256 AND r.bn <= 256),
         |est AS (SELECT id1, id2,
         |               len(list_distinct(list_intersect(s1.sig, s2.sig))) / ${k}.0 AS est_jaccard
         |        FROM cand JOIN sigarr s1 ON cand.id1 = s1.doc_id
         |                  JOIN sigarr s2 ON cand.id2 = s2.doc_id)""".stripMargin
    }
    val ddMinhash =
      s"WITH ${minhashCtes()} SELECT id1, id2, est_jaccard FROM est " +
        "WHERE est_jaccard >= 0.2 ORDER BY id1, id2"
    // connected components over the est>=0.2 candidate pairs as a recursive
    // closure: min reachable label per doc (mirrors Dedup.duplicateGroups)
    val ddGroups =
      s"""WITH RECURSIVE ${minhashCtes()},
         |edges AS (SELECT id1 AS a, id2 AS b FROM est WHERE est_jaccard >= 0.2
         |          UNION ALL
         |          SELECT id2 AS a, id1 AS b FROM est WHERE est_jaccard >= 0.2),
         |reach(id, l) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.a, r.l FROM edges e JOIN reach r ON e.b = r.id)
         |SELECT id, min(l) AS group_id FROM reach GROUP BY id ORDER BY id""".stripMargin
    // keep policy: longest doc (token count, id tiebreak) per duplicate
    // group — the ddGroups closure + token counts + rank-1 selection
    val ddKeep =
      s"""WITH RECURSIVE ${minhashCtes()},
         |edges AS (SELECT id1 AS a, id2 AS b FROM est WHERE est_jaccard >= 0.2
         |          UNION ALL
         |          SELECT id2 AS a, id1 AS b FROM est WHERE est_jaccard >= 0.2),
         |reach(id, l) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.a, r.l FROM edges e JOIN reach r ON e.b = r.id),
         |grp AS (SELECT id, min(l) AS group_id FROM reach GROUP BY id),
         |q AS (SELECT doc_id, $tokSql AS n_tokens FROM documents)
         |SELECT group_id, id AS keep_id, n_tokens FROM (
         |  SELECT g.group_id, g.id, q.n_tokens,
         |         row_number() OVER (PARTITION BY g.group_id
         |                            ORDER BY q.n_tokens DESC, g.id) AS rn
         |  FROM grp g JOIN q ON g.id = q.doc_id)
         |WHERE rn = 1 ORDER BY group_id""".stripMargin
    val ddJaccard =
      s"""WITH ${minhashCtes()},
         |shl AS (SELECT doc_id, list_distinct($shingleList) AS shset FROM toks)
         |SELECT id1, id2,
         |       len(list_distinct(list_intersect(a.shset, b.shset)))::DOUBLE /
         |       len(list_distinct(list_concat(a.shset, b.shset)))::DOUBLE AS jaccard
         |FROM est JOIN shl a ON est.id1 = a.doc_id JOIN shl b ON est.id2 = b.doc_id
         |WHERE est_jaccard >= 0.1 ORDER BY id1, id2""".stripMargin
    // Levenshtein verification over the est>=0.2 candidates — levenshtein
    // is the identical classic DP in both engines; the similarity is one
    // IEEE division + round(6) (mirrors Dedup.editDistanceVerify)
    val ddEdit =
      s"""WITH ${minhashCtes()}
         |SELECT id1, id2,
         |       levenshtein(a.text, b.text)::BIGINT AS edit_dist,
         |       round(1.0 - levenshtein(a.text, b.text)::DOUBLE /
         |             greatest(length(a.text), length(b.text), 1)::DOUBLE, 6)
         |         AS edit_sim
         |FROM est JOIN documents a ON est.id1 = a.doc_id
         |         JOIN documents b ON est.id2 = b.doc_id
         |WHERE est_jaccard >= 0.2 ORDER BY id1, id2""".stripMargin
    // portable 60-bit simhash: per-bit majority of md5-hash bits, banded on
    // 15-bit quarters, Hamming ≤ 8 (mirrors Dedup.simhash portable = true)
    val ddSimhash = {
      val bitSums = (0 until 60)
        .map(b => s"sum(((h >> $b) & 1)*2 - 1) AS b$b").mkString(", ")
      val shBits = (0 until 60)
        .map(b => s"(CASE WHEN b$b > 0 THEN 1::BIGINT << $b ELSE 0::BIGINT END)")
        .mkString(" | ")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |h AS (SELECT doc_id, ${mdInt("'0:' || t")} AS h
         |      FROM (SELECT doc_id, unnest(w) AS t FROM toks)),
         |bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
         |sh AS (SELECT doc_id, $shBits AS simhash FROM bits),
         |banded0 AS (SELECT doc_id, simhash, q, (simhash >> (q*15)) & 32767 AS band_val
         |           FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS q)),
         |banded AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY q, band_val)
         |           AS bucket_n FROM banded0) WHERE bucket_n <= 256),
         |pairs AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
         |                 l.simhash AS s1, r.simhash AS s2
         |          FROM banded l JOIN banded r
         |            ON l.q = r.q AND l.band_val = r.band_val AND l.doc_id < r.doc_id)
         |SELECT id1, id2, bit_count(xor(s1, s2))::BIGINT AS hamming
         |FROM pairs WHERE bit_count(xor(s1, s2)) <= 8 ORDER BY id1, id2""".stripMargin
    }
    // portable rolling hash: (acc * 1000003 + md5_60(token) % 2^20) % 2^40
    // (mirrors TextAnalysis.rollingHashPortable; list_reduce needs the seed
    // prepended since DuckDB folds from the first element)
    val txtRolling =
      s"""SELECT doc_id, list_reduce(
         |  list_prepend(0::BIGINT, list_transform(string_split(text, ' '),
         |    t -> ${mdInt("'0:' || t")} % 1048576)),
         |  (acc, h) -> (acc * 1000003 + h) % 1099511627776) AS rolling_hash
         |FROM documents ORDER BY doc_id""".stripMargin
    // exact-decimal hyperplane LSH: plane literals inlined from the same
    // deterministic seed, bucket = sign bits of decimal dots, exact cosine
    // within buckets ≥ 0.25 (mirrors Similarity.lshNearDup exact = true)
    // hyperplane-LSH candidate pairs as reusable CTEs (ends in `pr`):
    // shared by sim_lsh (threshold 0.25) and sim_hardneg (0.1)
    def simLshCtes(threshold: Double) = {
      val planes = Similarity.hyperplanes(64, 6, 42L)
      val vals = planes.zipWithIndex.flatMap { case (p, pi) =>
        p.zipWithIndex.map { case (v, i) => s"($pi, ${i + 1}, $v)" }
      }.mkString(", ")
      // r9: the oversize-bucket sub-split planes (seed + 1) and the
      // conditional sub id (bucket size > 1024) — mirrors lshNearDup's
      // bounded-fanout pairing; inactive at test scales where no bucket
      // exceeds the cap, bit-identical either way
      val planes2 = Similarity.hyperplanes(64, 8, 43L)
      val vals2 = planes2.zipWithIndex.flatMap { case (p, pi) =>
        p.zipWithIndex.map { case (v, i) => s"($pi, ${i + 1}, $v)" }
      }.mkString(", ")
      s"""planes(pi, i, pv) AS (SELECT * FROM (VALUES $vals)),
         |planes2(pi, i, pv) AS (SELECT * FROM (VALUES $vals2)),
         |e AS (SELECT vec_id, unnest(embedding) AS v,
         |             generate_subscripts(embedding,1) AS i FROM embeddings),
         |pd AS (SELECT e.vec_id, p.pi,
         |              CAST(sum(CAST(CAST(e.v AS DOUBLE) * p.pv AS DECIMAL(38,30))) AS DOUBLE) AS dt
         |       FROM e JOIN planes p ON e.i = p.i GROUP BY 1, 2),
         |bkt AS (SELECT vec_id,
         |               sum(CASE WHEN dt > 0 THEN 1::BIGINT << pi ELSE 0 END) AS bucket
         |        FROM pd GROUP BY 1),
         |sizes AS (SELECT bucket, count(*) AS bn FROM bkt GROUP BY 1),
         |pd2 AS (SELECT e.vec_id, p.pi,
         |              CAST(sum(CAST(CAST(e.v AS DOUBLE) * p.pv AS DECIMAL(38,30))) AS DOUBLE) AS dt
         |       FROM e JOIN planes2 p ON e.i = p.i GROUP BY 1, 2),
         |sub0 AS (SELECT vec_id,
         |               sum(CASE WHEN dt > 0 THEN 1::BIGINT << pi ELSE 0 END) AS sub
         |        FROM pd2 GROUP BY 1),
         |bkt2 AS (SELECT b.vec_id, b.bucket,
         |               CASE WHEN s.bn > 1024 THEN sub0.sub ELSE 0 END AS sub
         |         FROM bkt b JOIN sizes s USING (bucket)
         |                    JOIN sub0 USING (vec_id)),
         |nrm AS (SELECT vec_id,
         |               sqrt(CAST(sum(CAST(CAST(v AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE)) AS nrm
         |        FROM e GROUP BY 1),
         |eb AS (SELECT e.*, bkt2.bucket, bkt2.sub FROM e JOIN bkt2 USING (vec_id)),
         |d AS (SELECT l.vec_id AS id1, r.vec_id AS id2,
         |             CAST(sum(CAST(CAST(l.v AS DOUBLE)*CAST(r.v AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS dt
         |      FROM eb l JOIN eb r
         |        ON l.bucket = r.bucket AND l.sub = r.sub AND l.i = r.i
         |           AND l.vec_id < r.vec_id
         |      GROUP BY 1, 2),
         |pr AS (SELECT id1, id2, round(dt/(n1.nrm*n2.nrm),6) AS sim
         |       FROM d JOIN nrm n1 ON d.id1 = n1.vec_id
         |                 JOIN nrm n2 ON d.id2 = n2.vec_id
         |       WHERE round(dt/(n1.nrm*n2.nrm),6) >= $threshold)""".stripMargin
    }
    val simLsh =
      s"WITH ${simLshCtes(0.25)}\nSELECT id1, id2, sim FROM pr ORDER BY id1, id2"
    // IVF mirror: centroids = first 16 vectors by id; every (vector, cell)
    // scored round6(decimal-dot / double-centroid-norm); assignment and the
    // query's 4 probe cells take (score DESC, cell DESC); exact cosine
    // top-25 within probed cells (mirrors ivfAssign/ivfTopK exact = true)
    val simIvf =
      """WITH cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS ce
        |               FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |ce AS (SELECT cell, unnest(ce) AS cv, generate_subscripts(ce,1) AS i FROM cents),
        |cn AS (SELECT cell, sqrt(sum(CAST(cv AS DOUBLE)*CAST(cv AS DOUBLE))) AS cn FROM ce GROUP BY cell),
        |e AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) AS i
        |      FROM embeddings),
        |asg AS (SELECT e.vec_id, c.cell,
        |               round(CAST(sum(CAST(CAST(e.v AS DOUBLE)*CAST(c.cv AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE)
        |                     / n.cn, 6) AS score
        |        FROM e JOIN ce c ON e.i = c.i JOIN cn n ON c.cell = n.cell
        |        GROUP BY e.vec_id, c.cell, n.cn),
        |best AS (SELECT vec_id, cell FROM
        |           (SELECT vec_id, cell,
        |                   row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
        |            FROM asg) WHERE rn = 1),
        |probe AS (SELECT cell FROM asg WHERE vec_id = 0 ORDER BY score DESC, cell DESC LIMIT 4),
        |sel AS (SELECT b.vec_id FROM best b JOIN probe p ON b.cell = p.cell),
        |q AS (SELECT unnest(embedding) AS qe, generate_subscripts(embedding,1) AS i
        |      FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT vec_id,
        |             sum(CAST(CAST(ee.v AS DOUBLE)*CAST(q.qe AS DOUBLE) AS DECIMAL(38,30))) AS dt,
        |             sum(CAST(CAST(ee.v AS DOUBLE)*CAST(ee.v AS DOUBLE) AS DECIMAL(38,30))) AS na
        |      FROM e ee JOIN q USING (i)
        |      WHERE vec_id IN (SELECT vec_id FROM sel) GROUP BY vec_id),
        |nq AS (SELECT sum(CAST(CAST(qe AS DOUBLE)*CAST(qe AS DOUBLE) AS DECIMAL(38,30))) AS nb FROM q)
        |SELECT vec_id,
        |       round(CAST(dt AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))),6) AS sim
        |FROM d, nq ORDER BY sim DESC, vec_id LIMIT 25""".stripMargin
    // Lloyd's k-means mirror (k = 4, 3 iterations + final assignment):
    // every mean and score goes through the DECIMAL(38,30)-sum + round
    // convention, so the iteration trajectory is bit-identical to
    // Similarity.kmeans in any engine
    val kmeansK = 4
    val kmeansIters = 3
    // parametric form (r9 session 2): `pfx` prefixes every CTE name and
    // `embExpr` replaces the embedding expression (a DuckDB list slice
    // like embedding[1:32] for the PQ subspaces); pfx="" /
    // embExpr="embedding" reproduces the original clu_kmeans chain
    // byte-for-byte
    def kmeansCtesFor(pfx: String, embExpr: String,
                      k: Int, iters: Int): String = {
      def roundCtes(r: Int): String = {
        val cp = s"${pfx}c${r - 1}"
        s"""${cp}f AS (SELECT cell, unnest(c) AS cv, generate_subscripts(c,1) AS i FROM $cp),
           |${cp}n AS (SELECT cell, CAST(sum(CAST(cv*cv AS DECIMAL(38,30))) AS DOUBLE) AS n2
           |           FROM ${cp}f GROUP BY cell),
           |${pfx}a${r}d AS (SELECT e.vec_id, c.cell,
           |           CAST(sum(CAST(CAST(e.v AS DOUBLE)*c.cv AS DECIMAL(38,30))) AS DOUBLE) AS dt
           |           FROM ${pfx}e e JOIN ${cp}f c USING (i) GROUP BY e.vec_id, c.cell),
           |${pfx}a$r AS (SELECT vec_id, cell FROM (
           |           SELECT d.vec_id, d.cell,
           |                  row_number() OVER (PARTITION BY d.vec_id
           |                    ORDER BY round(n.n2 - 2*d.dt, 9), d.cell) AS rn
           |           FROM ${pfx}a${r}d d JOIN ${cp}n n USING (cell)) WHERE rn = 1)""".stripMargin
      }
      def updateCte(r: Int): String =
        s"""${pfx}c$r AS (SELECT cell, list(m ORDER BY i) AS c FROM (
           |           SELECT a.cell, e.i,
           |                  round(CAST(sum(CAST(CAST(e.v AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE)
           |                        / count(*), 9) AS m
           |           FROM ${pfx}a$r a JOIN ${pfx}e e USING (vec_id) GROUP BY a.cell, e.i) GROUP BY cell)""".stripMargin
      val rounds = (1 to iters).map(r => roundCtes(r) + ",\n" + updateCte(r))
        .mkString(",\n")
      s"""${pfx}e AS (SELECT vec_id, unnest($embExpr) AS v,
         |           generate_subscripts($embExpr,1) AS i FROM embeddings),
         |${pfx}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |              list_transform($embExpr, x -> CAST(x AS DOUBLE)) AS c
         |       FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $k)),
         |$rounds,
         |${roundCtes(iters + 1)}""".stripMargin
    }
    val kmeansCtes: String = kmeansCtesFor("", "embedding", kmeansK, kmeansIters)
    // final assignment CTE produced by the chain above
    val kmeansAsgCte = s"a${kmeansIters + 1}"
    val cluKmeans =
      s"WITH $kmeansCtes\nSELECT vec_id, cell FROM $kmeansAsgCte ORDER BY vec_id"
    // SemDeDup mirror: within-cell exact-decimal all-pairs over the k-means
    // assignment, then the recursive min-label closure (same shapes as
    // blockedCtes / ddEmbed, blocked on the LEARNED cell instead of label)
    val ddSemantic =
      s"""WITH RECURSIVE $kmeansCtes,
         |pe AS (SELECT e.vec_id, a.cell, e.v, e.i
         |       FROM e JOIN $kmeansAsgCte a USING (vec_id)),
         |snrm AS (SELECT vec_id,
         |               sqrt(CAST(sum(CAST(CAST(v AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE)) AS nrm
         |        FROM e GROUP BY vec_id),
         |sd AS (SELECT l.vec_id AS id1, r.vec_id AS id2,
         |             CAST(sum(CAST(CAST(l.v AS DOUBLE)*CAST(r.v AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS dt
         |      FROM pe l JOIN pe r ON l.cell = r.cell AND l.i = r.i AND l.vec_id < r.vec_id
         |      GROUP BY 1, 2),
         |sbp AS (SELECT id1, id2 FROM sd
         |       JOIN snrm n1 ON sd.id1 = n1.vec_id JOIN snrm n2 ON sd.id2 = n2.vec_id
         |       WHERE round(dt/(n1.nrm*n2.nrm),6) >= 0.3),
         |sedges AS (SELECT id1 AS a, id2 AS b FROM sbp
         |          UNION ALL SELECT id2 AS a, id1 AS b FROM sbp),
         |sreach(id, l) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT g.a, r.l FROM sedges g JOIN sreach r ON g.b = r.id)
         |SELECT id, min(l) AS group_id FROM sreach GROUP BY id ORDER BY id""".stripMargin
    // 16-bin byte histogram over ASCII text: per-bin char count / length in
    // FLOAT arithmetic (mirrors the stub's float accumulation exactly)
    // Product-quantization mirror (r9 session 2): the SAME Lloyd CTE
    // chain, instantiated once per subspace on a DuckDB list slice of the
    // embedding (m = 2 halves of the 64-dim vectors, k = 4, 2 iterations
    // + final assignment). codes = the two per-subspace assignments
    // joined; the ADC query rebuilds each probe's per-(subspace, cell)
    // distance table with the chain's own n2/dot CTE patterns and ranks
    // lookup-summed scores — bit-identical to the engine's LUT because
    // every term goes through the identical decimal-sum + round(…, 9)
    // convention.
    val pqIters = 2
    // k = 16 / m = 4 subspaces of 16 dims (not kmeansK = 4 / halves):
    // with m·k code cells the ADC ranking must actually discriminate
    // among the candidates — at m = 2, k = 4 the 16 code combos tie so
    // heavily that any top-k is a vec_id lottery, and near-uniform
    // synthetic embeddings are PQ's worst case (distance concentration),
    // so the subspace count carries the signal
    val pqK = 16
    val pqM = 4
    val pqSub = 64 / pqM
    val pqCtes = (0 until pqM).map(m =>
      kmeansCtesFor(s"p$m", s"embedding[${m * pqSub + 1}:${(m + 1) * pqSub}]",
        pqK, pqIters)).mkString(",\n")
    val pqCodesCte = {
      val joins = (1 until pqM)
        .map(m => s"JOIN p${m}a${pqIters + 1} a$m USING (vec_id)")
        .mkString(" ")
      val cols = (0 until pqM).map(m => s"a$m.cell AS code_$m").mkString(", ")
      s"codes AS (SELECT a0.vec_id, $cols FROM p0a${pqIters + 1} a0 $joins)"
    }
    val simPq =
      s"""WITH $pqCtes,
         |$pqCodesCte
         |SELECT vec_id, ${(0 until pqM).map(m => s"code_$m").mkString(", ")}
         |FROM codes ORDER BY vec_id""".stripMargin
    def pqDistCtes(s: Int): String = {
      val lo = s * pqSub + 1; val hi = (s + 1) * pqSub
      s"""qe$s AS (SELECT q_id, unnest(embedding[$lo:$hi]) AS v,
         |        generate_subscripts(embedding[$lo:$hi],1) AS i FROM q),
         |d${s}d AS (SELECT e.q_id, c.cell,
         |        CAST(sum(CAST(CAST(e.v AS DOUBLE)*c.cv AS DECIMAL(38,30))) AS DOUBLE) AS dt
         |        FROM qe$s e JOIN p${s}c${pqIters}f c USING (i)
         |        GROUP BY e.q_id, c.cell),
         |d$s AS (SELECT q_id, d.cell, round(n.n2 - 2*d.dt, 9) AS dist
         |       FROM d${s}d d JOIN p${s}c${pqIters}n n USING (cell))""".stripMargin
    }
    val pqAdcScoreCtes: String = {
      val dists = (0 until pqM).map(pqDistCtes).mkString(",\n")
      val joins = (1 until pqM)
        .map(m => s"JOIN d$m ON d$m.q_id = d0.q_id AND d$m.cell = codes.code_$m")
        .mkString(" ")
      val score = (0 until pqM).map(m => s"d$m.dist").mkString(" + ")
      s"""$dists,
         |sc AS (SELECT d0.q_id, codes.vec_id, $score AS adc_score
         |       FROM codes
         |       JOIN d0 ON d0.cell = codes.code_0 $joins
         |       WHERE codes.vec_id % 199 <> 0)""".stripMargin
    }
    val simAdc =
      s"""WITH $pqCtes,
         |$pqCodesCte,
         |q AS (SELECT vec_id AS q_id, embedding FROM embeddings
         |      WHERE vec_id % 199 = 0 AND vec_id < 4975),
         |$pqAdcScoreCtes
         |SELECT q_id, vec_id, adc_score, rank FROM (
         |  SELECT q_id, vec_id, adc_score,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY adc_score, vec_id) AS rank
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY q_id, vec_id""".stripMargin
    // recall@5 of the ADC ranking vs the exact decimal cosine — the pq
    // CTE chain for the code side, the sim_brecall unnest/norms/dots
    // discipline for the exact side
    val simPqRecall = {
      s"""WITH $pqCtes,
         |$pqCodesCte,
         |q AS (SELECT vec_id AS q_id, embedding FROM embeddings
         |      WHERE vec_id % 199 = 0 AND vec_id < 4975),
         |$pqAdcScoreCtes,
         |asc_ AS (SELECT q_id, cand_id FROM (
         |  SELECT q_id, vec_id AS cand_id,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY adc_score, vec_id) AS rank
         |  FROM sc) WHERE rank <= 50),
         |uu AS (SELECT vec_id, unnest(embedding) AS e,
         |              generate_subscripts(embedding, 1) AS i
         |       FROM embeddings),
         |nrm AS (SELECT vec_id,
         |          CAST(sum(CAST(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)
         |              AS DECIMAL(38,30))) AS DOUBLE) AS nn
         |        FROM uu GROUP BY 1),
         |edots AS (SELECT eq.vec_id AS q_id, ec.vec_id AS cand_id,
         |           CAST(sum(CAST(CAST(eq.e AS DOUBLE) * CAST(ec.e AS DOUBLE)
         |               AS DECIMAL(38,30))) AS DOUBLE) AS dt
         |         FROM uu eq JOIN uu ec ON ec.i = eq.i
         |         WHERE eq.vec_id % 199 = 0 AND eq.vec_id < 4975 AND ec.vec_id % 199 <> 0
         |         GROUP BY 1, 2),
         |escored AS (SELECT q_id, cand_id,
         |             round(nc.nn - 2 * dt, 9) AS l2
         |           FROM edots JOIN nrm nc ON nc.vec_id = edots.cand_id),
         |etop AS (SELECT q_id, cand_id FROM (SELECT *,
         |           row_number() OVER (PARTITION BY q_id
         |             ORDER BY l2, cand_id) AS rk FROM escored)
         |         WHERE rk <= 5),
         |hits AS (SELECT q_id, count(*) AS n_hit
         |         FROM asc_ JOIN etop USING (q_id, cand_id) GROUP BY 1)
         |SELECT q.q_id, CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
         |       round(CAST(coalesce(n_hit, 0) AS DOUBLE) / 5, 6) AS recall
         |FROM q LEFT JOIN hits ON hits.q_id = q.q_id
         |ORDER BY q.q_id""".stripMargin
    }
    // IVFPQ mirror: the clu_kmeans Lloyd chain (unprefixed) routes each
    // probe to its 2 nearest coarse cells with the same n2/dot CTE
    // patterns; the ADC pair scores (sc, from the pq chains) are then
    // filtered to candidates whose IVF assignment is probed
    val simIvfPq =
      s"""WITH $kmeansCtes,
         |$pqCtes,
         |$pqCodesCte,
         |q AS (SELECT vec_id AS q_id, embedding FROM embeddings
         |      WHERE vec_id % 199 = 0 AND vec_id < 4975),
         |qu AS (SELECT q_id, unnest(embedding) AS v,
         |       generate_subscripts(embedding,1) AS i FROM q),
         |pcd0 AS (SELECT u.q_id, c.cell,
         |       CAST(sum(CAST(CAST(u.v AS DOUBLE)*c.cv AS DECIMAL(38,30))) AS DOUBLE) AS dt
         |       FROM qu u JOIN c${kmeansIters}f c USING (i) GROUP BY 1, 2),
         |pcd AS (SELECT q_id, d.cell, round(n.n2 - 2*d.dt, 9) AS dist
         |        FROM pcd0 d JOIN c${kmeansIters}n n USING (cell)),
         |pcells AS (SELECT q_id, cell FROM (SELECT *,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY dist, cell) AS r
         |           FROM pcd) WHERE r <= 2),
         |$pqAdcScoreCtes,
         |scf AS (SELECT sc.q_id, sc.vec_id, sc.adc_score
         |        FROM sc JOIN $kmeansAsgCte ivf ON ivf.vec_id = sc.vec_id
         |                JOIN pcells pc ON pc.q_id = sc.q_id
         |                              AND pc.cell = ivf.cell)
         |SELECT q_id, vec_id, adc_score, rank FROM (
         |  SELECT q_id, vec_id, adc_score,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY adc_score, vec_id) AS rank
         |  FROM scf)
         |WHERE rank <= 5 ORDER BY q_id, vec_id""".stripMargin
    val mmFeatures = {
      val bins = (0 until 16).map { b =>
        val cnt = s"len(list_filter(regexp_split_to_array(text,''), c -> ascii(c) >= ${b * 16} AND ascii(c) < ${(b + 1) * 16}))"
        s"CAST(CAST($cnt AS FLOAT) / CAST(greatest(length(text), 1) AS FLOAT) AS DOUBLE) AS f$b"
      }.mkString(", ")
      s"SELECT doc_id AS media_id, $bins FROM documents ORDER BY media_id"
    }
    // deterministic-sampling mirror of Sampling.hashUniform: portable
    // 60-bit md5 of "seed:id" → 2^30 buckets → [0,1)
    def hashU(idExpr: String, seed: Int = 42) =
      s"((${mdInt(s"'$seed:' || $idExpr")} % 1073741824)::DOUBLE / 1073741824.0)"
    // decimal-exact TPC-H money math (mirrors h_q1/h_q3; every factor cast
    // to a bounded decimal before multiplying, so sums are exact and
    // order-independent in both engines)
    val d12 = "DECIMAL(12,2)"; val d3 = "DECIMAL(3,2)"
    val discF = s"(CAST(1 AS $d3) - CAST(l_discount AS $d3))"
    val hQ1 =
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS $d12)) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS $d12)) AS DOUBLE) AS sum_base_price,
         |  CAST(sum(CAST(l_extendedprice AS $d12) * $discF) AS DOUBLE) AS sum_disc_price,
         |  CAST(sum(CAST(l_extendedprice AS $d12) * $discF *
         |           (CAST(1 AS $d3) + CAST(l_tax AS $d3))) AS DOUBLE) AS sum_charge,
         |  round(CAST(sum(CAST(l_quantity AS $d12)) AS DOUBLE) / count(*), 6) AS avg_qty,
         |  round(CAST(sum(CAST(l_extendedprice AS $d12)) AS DOUBLE) / count(*), 6) AS avg_price,
         |  round(CAST(sum(CAST(l_discount AS $d3)) AS DOUBLE) / count(*), 6) AS avg_disc,
         |  CAST(count(*) AS BIGINT) AS count_order
         |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    val hQ3 =
      s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
         |  o_orderpriority,
         |  CAST(sum(CAST(l_extendedprice AS $d12) * $discF) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
         |  AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
         |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin
    val hQ5 =
      s"""SELECT n_name,
         |  CAST(sum(CAST(l_extendedprice AS $d12) * $discF) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN read_parquet('$sfDir/supplier.parquet') sup
         |  ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN read_parquet('$sfDir/nation.parquet') nat ON s_nationkey = n_nationkey
         |JOIN read_parquet('$sfDir/region.parquet') reg ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
         |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
         |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin
    val hQ6 =
      s"""SELECT CAST(sum(CAST(l_extendedprice AS $d12) *
         |                CAST(l_discount AS $d3)) AS DOUBLE) AS revenue,
         |  CAST(count(*) AS BIGINT) AS n_items
         |FROM lineitem
         |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
         |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin
    val hQ7 =
      s"""SELECT supp_nation, cust_nation, l_year,
         |  CAST(sum(vol) AS DOUBLE) AS revenue, CAST(count(*) AS BIGINT) AS n_items
         |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |             year(CAST(l_shipdate AS DATE)) AS l_year,
         |             CAST(l_extendedprice AS $d12) * $discF AS vol
         |      FROM lineitem
         |      JOIN orders ON l_orderkey = o_orderkey
         |      JOIN customer ON o_custkey = c_custkey
         |      JOIN read_parquet('$sfDir/supplier.parquet') sup ON l_suppkey = s_suppkey
         |      JOIN read_parquet('$sfDir/nation.parquet') n1 ON s_nationkey = n1.n_nationkey
         |      JOIN read_parquet('$sfDir/nation.parquet') n2 ON c_nationkey = n2.n_nationkey
         |      WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
         |        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         |          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))) t
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    val hQ4 =
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         |FROM orders o
         |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
         |  AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
         |  AND EXISTS (SELECT 1 FROM lineitem l
         |              WHERE l.l_orderkey = o.o_orderkey
         |                AND CAST(l.l_shipdate AS DATE) >
         |                    CAST(o.o_orderdate AS DATE) + 30)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    val hQ8 =
      s"""SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
         |  round(CAST(sum(CASE WHEN n2.n_name = 'NATION_7'
         |                      THEN CAST(l_extendedprice AS $d12) * $discF END) AS DOUBLE) /
         |        CAST(sum(CAST(l_extendedprice AS $d12) * $discF) AS DOUBLE), 6) AS mkt_share
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN read_parquet('$sfDir/supplier.parquet') sup ON l_suppkey = s_suppkey
         |JOIN read_parquet('$sfDir/nation.parquet') n2 ON s_nationkey = n2.n_nationkey
         |WHERE o_custkey IN (
         |  SELECT c_custkey FROM customer
         |  JOIN read_parquet('$sfDir/nation.parquet') n1 ON c_nationkey = n1.n_nationkey
         |  JOIN read_parquet('$sfDir/region.parquet') reg ON n1.n_regionkey = r_regionkey
         |  WHERE r_name = 'ASIA')
         |GROUP BY 1 ORDER BY 1""".stripMargin
    val hQ13 =
      s"""SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
         |  SELECT c_custkey, count(o_orderkey) AS c_count
         |  FROM customer LEFT JOIN (
         |    SELECT o_custkey, o_orderkey FROM orders
         |    WHERE o_orderpriority <> '1-URGENT') o ON c_custkey = o_custkey
         |  GROUP BY 1) t
         |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin
    val hQ15 =
      s"""WITH rev AS (
         |  SELECT l_suppkey, sum(CAST(l_extendedprice AS $d12) * $discF) AS total_rev
         |  FROM lineitem
         |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
         |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, round(CAST(total_rev AS DOUBLE), 6) AS total_revenue
         |FROM read_parquet('$sfDir/supplier.parquet') JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_rev = (SELECT max(total_rev) FROM rev)
         |ORDER BY s_suppkey""".stripMargin
    val hQ17 =
      s"""SELECT round(CAST(sum(CAST(l_extendedprice AS $d12)) AS DOUBLE) / 7.0, 6)
         |    AS avg_yearly,
         |  CAST(count(*) AS BIGINT) AS n_items
         |FROM lineitem
         |JOIN read_parquet('$sfDir/part.parquet') p ON l_partkey = p_partkey
         |JOIN (SELECT l2.l_partkey AS ap_key,
         |        CAST(sum(CAST(l2.l_quantity AS $d12)) AS DOUBLE) / count(*) AS avg_qty
         |      FROM lineitem l2
         |      JOIN read_parquet('$sfDir/part.parquet') p2 ON l2.l_partkey = p2.p_partkey
         |      WHERE p2.p_brand = 'Brand#23'
         |      GROUP BY 1) a ON l_partkey = ap_key
         |WHERE p_brand = 'Brand#23' AND l_quantity < CAST(0.2 AS DOUBLE) * avg_qty""".stripMargin
    val hQ22 =
      s"""WITH thr AS (
         |  SELECT sum(CAST(c_acctbal AS $d12)) AS bal_sum,
         |         CAST(count(*) AS BIGINT) AS bal_n
         |  FROM customer WHERE c_acctbal > 0)
         |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
         |  CAST(sum(CAST(c_acctbal AS $d12)) AS DOUBLE) AS totacctbal
         |FROM customer, thr
         |WHERE CAST(c_acctbal AS $d12) * bal_n > bal_sum
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |                  AND CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
         |GROUP BY 1 ORDER BY 1""".stripMargin
    val hQ10 =
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  CAST(sum(CAST(l_extendedprice AS $d12) * $discF) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN read_parquet('$sfDir/nation.parquet') nat ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
         |  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
         |GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin
    val hQ2 =
      s"""WITH cost AS (
         |  SELECT l_partkey AS pk, l_suppkey AS sk,
         |         min(l_extendedprice) AS cost
         |  FROM lineitem
         |  WHERE l_suppkey IN (
         |    SELECT s_suppkey FROM read_parquet('$sfDir/supplier.parquet') sup
         |    JOIN read_parquet('$sfDir/nation.parquet') nat ON s_nationkey = n_nationkey
         |    JOIN read_parquet('$sfDir/region.parquet') reg ON n_regionkey = r_regionkey
         |    WHERE r_name = 'ASIA')
         |  GROUP BY 1, 2)
         |SELECT p_partkey, p_name, s_name, s_acctbal, cost AS supply_cost
         |FROM read_parquet('$sfDir/part.parquet') prt
         |JOIN cost ON p_partkey = pk
         |JOIN read_parquet('$sfDir/supplier.parquet') sup ON sk = s_suppkey
         |WHERE p_size < 5
         |  AND cost = (SELECT min(c2.cost) FROM cost c2
         |              WHERE c2.pk = p_partkey)
         |ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 20""".stripMargin
    val hQ9 =
      s"""SELECT n_name AS nation, year(CAST(l_shipdate AS DATE)) AS o_year,
         |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
         |             (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
         |      - CAST(sum(CAST(p_retailprice AS DECIMAL(12,2)) *
         |             CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) * 0.6,
         |      4) AS profit,
         |  CAST(count(*) AS BIGINT) AS n_items
         |FROM lineitem
         |JOIN read_parquet('$sfDir/part.parquet') prt ON l_partkey = p_partkey
         |JOIN read_parquet('$sfDir/supplier.parquet') sup ON l_suppkey = s_suppkey
         |JOIN read_parquet('$sfDir/nation.parquet') nat ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%gear%'
         |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin
    val hQ11 =
      s"""WITH v AS (
         |  SELECT l_partkey AS ps_partkey,
         |         sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
         |             CAST(l_quantity AS DECIMAL(12,2))) AS val
         |  FROM lineitem
         |  JOIN read_parquet('$sfDir/supplier.parquet') sup ON l_suppkey = s_suppkey
         |  JOIN read_parquet('$sfDir/nation.parquet') nat ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_3'
         |  GROUP BY 1)
         |SELECT ps_partkey, CAST(val AS DOUBLE) AS part_value
         |FROM v
         |WHERE CAST(val AS DOUBLE) >
         |      0.001 * (SELECT CAST(sum(val) AS DOUBLE) FROM v)
         |ORDER BY part_value DESC, ps_partkey""".stripMargin
    val hQ12 =
      s"""SELECT l_returnflag AS ship_class,
         |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM orders
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60
         |  AND year(CAST(l_shipdate AS DATE)) = 1997
         |GROUP BY 1 ORDER BY 1""".stripMargin
    val hQ16 =
      s"""SELECT p_brand, p_type, p_size,
         |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         |FROM lineitem
         |JOIN read_parquet('$sfDir/part.parquet') prt ON l_partkey = p_partkey
         |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
         |  AND p_size IN (1, 5, 10, 15, 20, 25)
         |  AND l_suppkey NOT IN (SELECT s_suppkey
         |                        FROM read_parquet('$sfDir/supplier.parquet')
         |                        WHERE s_acctbal < 500)
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin
    val hQ20 =
      s"""SELECT s_name, s_acctbal
         |FROM read_parquet('$sfDir/supplier.parquet') sup
         |JOIN read_parquet('$sfDir/nation.parquet') nat ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_3'
         |  AND s_suppkey IN (
         |    SELECT sq.l_suppkey FROM (
         |      SELECT l_suppkey, l_partkey,
         |             sum(CAST(l_quantity AS DECIMAL(12,2))) AS q
         |      FROM lineitem
         |      JOIN read_parquet('$sfDir/part.parquet') prt ON l_partkey = p_partkey
         |      WHERE p_name LIKE '%gear%'
         |        AND year(CAST(l_shipdate AS DATE)) = 1997
         |      GROUP BY 1, 2) sq
         |    WHERE CAST(sq.q AS DOUBLE) > 0.3 * CAST(
         |      (SELECT sum(CAST(l2.l_quantity AS DECIMAL(12,2)))
         |       FROM lineitem l2
         |       WHERE l2.l_partkey = sq.l_partkey
         |         AND year(CAST(l2.l_shipdate AS DATE)) = 1997) AS DOUBLE))
         |ORDER BY s_name""".stripMargin
    val hQ21 =
      s"""SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
         |FROM read_parquet('$sfDir/supplier.parquet') sup
         |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         |JOIN orders ON o_orderkey = l1.l_orderkey
         |JOIN read_parquet('$sfDir/nation.parquet') nat ON s_nationkey = n_nationkey
         |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
         |  AND n_name = 'NATION_3'
         |  AND EXISTS (SELECT 1 FROM lineitem l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey
         |                    AND l3.l_returnflag = 'R')
         |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin
    // Morton interleave, unrolled to plain bit ops (bit i of bx → 2i,
    // bit i of by → 2i+1) — the exact mirror of Layout.interleaveBits
    def zInterleaveSql(bx: String, by: String, bits: Int): String =
      (0 until bits).flatMap(i => Seq(
        s"(($bx & ${1L << i}) << $i)",
        s"(($by & ${1L << i}) << ${i + 1})")).mkString(" | ")
    // equi-width 8-bit bucket, binary64-exact (mirror of Layout.eqWidthBucket)
    def bucketSql(x: String, lo: String, hi: String): String =
      s"CAST(floor((($x - $lo) * 256.0) / CAST($hi - $lo + 1 AS DOUBLE)) AS BIGINT)"
    // Hilbert xy→d walk unrolled as one CTE per bit level (full-grid
    // rotation variant: reflections use 2^bits−1 so coordinates stay
    // non-negative and the div/mod bit reads are portable integer math —
    // mirrors functions.HilbertIndex2D.compute exactly)
    def hilbertLevelCtes(bits: Int): String = {
      val n1 = (1 << bits) - 1
      (0 until bits).reverse.zipWithIndex.map { case (lev, j) =>
        val sb = 1L << lev
        val idx = j + 1
        s"""k$idx AS (SELECT user_id, event_id, lo_x, hi_x, lo_y, hi_y, z, bye,
           |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $n1 - hy ELSE hy END ELSE hx END AS hx,
           |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $n1 - hx ELSE hx END ELSE hy END AS hy,
           |  hd + ${sb * sb} * (CASE WHEN rx = 0 AND ry = 0 THEN 0
           |       WHEN rx = 0 THEN 1 WHEN ry = 1 THEN 2 ELSE 3 END) AS hd
           |  FROM (SELECT *, ((hx // $sb) % 2) AS rx, ((hy // $sb) % 2) AS ry
           |        FROM k${idx - 1}))""".stripMargin
      }.mkString(",\n")
    }
    val layKeyed =
      s"""b AS (SELECT min(user_id) AS lo_x, max(user_id) AS hi_x,
         |             min(event_id) AS lo_y, max(event_id) AS hi_y
         |      FROM read_parquet('$sfDir/events.parquet')),
         |k0 AS (SELECT user_id, event_id, lo_x, hi_x, lo_y, hi_y,
         |             ${zInterleaveSql("bxe", "bye", 8)} AS z, bye,
         |             bxe AS hx, bye AS hy, CAST(0 AS BIGINT) AS hd
         |      FROM (SELECT user_id, event_id, lo_x, hi_x, lo_y, hi_y,
         |              ${bucketSql("user_id", "lo_x", "hi_x")} AS bxe,
         |              ${bucketSql("event_id", "lo_y", "hi_y")} AS bye
         |            FROM read_parquet('$sfDir/events.parquet'), b)),
         |${hilbertLevelCtes(8)},
         |k AS (SELECT user_id, event_id, lo_x, hi_x, lo_y, hi_y, z, bye, hd
         |      FROM k8)""".stripMargin
    val layZorder =
      s"""WITH $layKeyed
         |SELECT z >> 8 AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
         |       min(user_id) AS x_lo, max(user_id) AS x_hi,
         |       min(event_id) AS y_lo, max(event_id) AS y_hi
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin
    val layPrune = {
      // centered 10%-per-dim box, integer-exact: lo + span·4/10 .. lo + span·5/10
      val boxed =
        s"""kb AS (SELECT *,
           |         lo_x + ((hi_x - lo_x + 1) * 4) // 10 AS bx_lo,
           |         lo_x + ((hi_x - lo_x + 1) * 5) // 10 AS bx_hi,
           |         lo_y + ((hi_y - lo_y + 1) * 4) // 10 AS by_lo,
           |         lo_y + ((hi_y - lo_y + 1) * 5) // 10 AS by_hi,
           |         z >> 8 AS zfile, bye AS lfile, hd >> 8 AS hfile
           |       FROM k)""".stripMargin
      def fileAgg(fileCol: String, name: String, suffix: String) =
        s"""$name AS (SELECT CAST(count(*) AS BIGINT) AS n_files_$suffix,
           |  CAST(sum(CASE WHEN x_hi >= bx_lo AND x_lo <= bx_hi
           |                 AND y_hi >= by_lo AND y_lo <= by_hi
           |            THEN 1 ELSE 0 END) AS BIGINT) AS files_kept_$suffix,
           |  CAST(sum(CASE WHEN x_hi >= bx_lo AND x_lo <= bx_hi
           |                 AND y_hi >= by_lo AND y_lo <= by_hi
           |            THEN n ELSE 0 END) AS BIGINT) AS rows_kept_$suffix
           |  FROM (SELECT $fileCol, count(*) AS n,
           |          min(user_id) AS x_lo, max(user_id) AS x_hi,
           |          min(event_id) AS y_lo, max(event_id) AS y_hi,
           |          min(bx_lo) AS bx_lo, min(bx_hi) AS bx_hi,
           |          min(by_lo) AS by_lo, min(by_hi) AS by_hi
           |        FROM kb GROUP BY 1))""".stripMargin
      s"""WITH $layKeyed,
         |$boxed,
         |${fileAgg("zfile", "za", "z")},
         |${fileAgg("lfile", "la", "lin")},
         |${fileAgg("hfile", "ha", "h")},
         |ex AS (SELECT CAST(sum(CASE WHEN user_id BETWEEN bx_lo AND bx_hi
         |                             AND event_id BETWEEN by_lo AND by_hi
         |                        THEN 1 ELSE 0 END) AS BIGINT) AS rows_matching
         |       FROM kb)
         |SELECT * FROM za, la, ha, ex""".stripMargin
    }
    // Hilbert-layout extent mirror: same k CTE, files on hd
    val layHilbert =
      s"""WITH $layKeyed
         |SELECT hd >> 8 AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
         |       min(user_id) AS x_lo, max(user_id) AS x_hi,
         |       min(event_id) AS y_lo, max(event_id) AS y_hi
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin
    Map(
      "lay_zorder" -> layZorder,
      "lay_prune" -> layPrune,
      "lay_hilbert" -> layHilbert,
      "h_q1" -> hQ1,
      "h_q2" -> hQ2,
      "h_q2w" -> hQ2, // window-min variant: same result set by construction
      "h_q3" -> hQ3,
      "h_q5" -> hQ5,
      "h_q6" -> hQ6,
      "h_q4" -> hQ4,
      "h_q7" -> hQ7,
      "h_q8" -> hQ8,
      "h_q9" -> hQ9,
      "h_q10" -> hQ10,
      "h_q11" -> hQ11,
      "h_q12" -> hQ12,
      "h_q13" -> hQ13,
      "h_q15" -> hQ15,
      "h_q16" -> hQ16,
      "h_q17" -> hQ17,
      "h_q20" -> hQ20,
      "h_q21" -> hQ21,
      "h_q22" -> hQ22,
      "h_q14" ->
        s"""SELECT round(100.0 *
           |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN
           |        CAST(l_extendedprice AS DECIMAL(12,2)) *
           |        (1 - CAST(l_discount AS DECIMAL(3,2))) END) AS DOUBLE) /
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
           |        (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE), 6)
           |    AS promo_share,
           |  CAST(count(*) AS BIGINT) AS n_items
           |FROM lineitem JOIN read_parquet('$sfDir/part.parquet') p
           |  ON l_partkey = p_partkey
           |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-01'
           |  AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'""".stripMargin,
      "h_q19" ->
        s"""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
           |        (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
           |  CAST(count(*) AS BIGINT) AS n_items
           |FROM lineitem JOIN read_parquet('$sfDir/part.parquet') p
           |  ON l_partkey = p_partkey
           |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
           |       AND l_quantity BETWEEN 1 AND 20)
           |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30
           |       AND l_quantity BETWEEN 10 AND 40)
           |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50
           |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin,
      "txt_novel" ->
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
           |             FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct($shingleList)) AS s
           |       FROM toks),
           |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_unique,
           |       round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE
           |             / count(*), 6) AS novelty
           |FROM sh JOIN df USING (s) GROUP BY 1 ORDER BY 1""".stripMargin,
      "smp_bern" ->
        s"SELECT doc_id FROM documents WHERE ${hashU("doc_id")} < 0.25 ORDER BY doc_id",
      // weighted-priority mirror: identical hash, identical single IEEE
      // division (exactly rounded in both engines), identical tiebreak
      "smp_res" ->
        (s"SELECT doc_id, n_chars, ${hashU("doc_id")} / CAST(n_chars AS DOUBLE) AS key " +
          "FROM documents ORDER BY key, doc_id LIMIT 150"),
      // budget mirror: identical unique priority key, inclusive running
      // sum, identical cut
      "smp_budget" ->
        s"""WITH t AS (SELECT doc_id, $tokSql AS n_tokens FROM documents),
           |r AS (SELECT doc_id, n_tokens,
           |        sum(n_tokens) OVER (ORDER BY doc_id - n_tokens * 10000000
           |                            ROWS UNBOUNDED PRECEDING) AS cum_tokens
           |      FROM t)
           |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
           |FROM r WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin,
      "smp_shuffle" ->
        (s"SELECT doc_id, row_number() OVER (ORDER BY ${mdInt("'42:' || doc_id")}, doc_id) - 1 AS pos " +
          "FROM documents ORDER BY doc_id"),
      "smp_strat" ->
        (s"SELECT doc_id, lang FROM documents WHERE ${hashU("doc_id")} < " +
          "CASE WHEN lang = 'en' THEN 0.1 WHEN lang = 'zh' THEN 0.5 ELSE 1.0 END " +
          "ORDER BY doc_id"),
      "smp_mix" ->
        (s"""WITH w(source, wt) AS (VALUES ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE), ('src2', 0.2::DOUBLE)),
            |cnt AS (SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
            |j AS (SELECT c.source, n, wt FROM cnt c JOIN w USING (source) WHERE wt > 0),
            |cap AS (SELECT min(n / wt) AS cap FROM j),
            |frac AS (SELECT source, least(1.0::DOUBLE, cap * wt / n) AS f FROM j, cap)
            |SELECT d.doc_id, d.source FROM documents d JOIN frac USING (source)
            |WHERE ${hashU("doc_id")} < f ORDER BY doc_id""".stripMargin),
      "smp_temp" ->
        s"""WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
           |  CAST(round(sqrt(CAST(count(*) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS wt
           |  FROM documents GROUP BY 1),
           |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, sum(wt) AS sw FROM cnt),
           |frac AS (SELECT source, least(CAST(1.0 AS DOUBLE),
           |  CAST(0.4 AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(wt AS DOUBLE) /
           |  (CAST(sw AS DOUBLE) * CAST(n AS DOUBLE))) AS f FROM cnt, tot)
           |SELECT d.doc_id, d.source FROM documents d JOIN frac USING (source)
           |WHERE ${hashU("doc_id")} < f ORDER BY doc_id""".stripMargin,
      "smp_dsir" ->
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
           |            FROM documents),
           |b AS (SELECT doc_id, ${mdInt("'0:' || t")} % 4096 AS b FROM tok),
           |raw AS (SELECT b, count(*) AS r FROM b GROUP BY 1),
           |tgt AS (SELECT bb.b, count(*) AS g FROM b bb
           |        JOIN documents d USING (doc_id)
           |        WHERE d.lang = 'en' GROUP BY 1),
           |tots AS (SELECT (SELECT sum(r) FROM raw) AS rt,
           |                (SELECT sum(g) FROM tgt) AS gt),
           |w AS (SELECT raw.b,
           |             round(ln(((coalesce(g, 0) + 1)::DOUBLE / (gt + 4096)::DOUBLE)
           |                    / ((r + 1)::DOUBLE / (rt + 4096)::DOUBLE)), 6)
           |               ::DECIMAL(18,6) AS lr
           |      FROM raw LEFT JOIN tgt USING (b), tots),
           |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |             CAST(sum(lr) AS DOUBLE) AS score,
           |             CAST(sum(lr) * 1000000 AS BIGINT) AS s6
           |      FROM b JOIN w USING (b) GROUP BY 1),
           |st AS (SELECT doc_id, n_tokens, score,
           |              CASE WHEN s6 >= 0 THEN (2*s6 + n_tokens) // (2*n_tokens)
           |                   ELSE -((2*(-s6) + n_tokens) // (2*n_tokens)) END
           |                AS st6 FROM s),
           |m AS (SELECT sum(st6) AS ms, count(*) AS mn FROM st)
           |SELECT doc_id, n_tokens, score, st6 / 1000000.0 AS score_tok,
           |       st6 * mn > ms AS keep
           |FROM st, m ORDER BY doc_id""".stripMargin,
      "smp_split" ->
        (s"""WITH s AS (SELECT lang, doc_id,
            |  CASE WHEN ${hashU("doc_id")} < 0.8 THEN 'train'
            |       WHEN ${hashU("doc_id")} < 0.9 THEN 'val'
            |       ELSE 'test' END AS split FROM documents)
            |SELECT lang, split, CAST(count(*) AS BIGINT) AS n,
            |       min(doc_id) AS min_id
            |FROM s GROUP BY 1, 2 ORDER BY lang, split""".stripMargin),
      "pack_seq" ->
        (s"""WITH t AS (SELECT doc_id AS id, $tokSql AS n_tokens FROM documents),
            |c AS (SELECT id, n_tokens,
            |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY id
            |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            |  AS start_offset FROM t)
            |SELECT id, n_tokens, start_offset,
            |       CAST(start_offset // 4096 AS BIGINT) AS pack_id
            |FROM c ORDER BY id""".stripMargin),
      "pack_stats" ->
        (s"""WITH t AS (SELECT doc_id AS id, $tokSql AS n_tokens FROM documents),
            |c AS (SELECT id, n_tokens,
            |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY id
            |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            |  AS start_offset FROM t)
            |SELECT CAST(start_offset // 4096 AS BIGINT) AS pack_id,
            |       CAST(count(*) AS BIGINT) AS n_docs,
            |       CAST(SUM(n_tokens) AS BIGINT) AS tokens_started
            |FROM c GROUP BY 1 ORDER BY pack_id""".stripMargin),
      // length-bucket batching mirror: per-bucket id-order rank via a
      // partitioned row_number (fine in the referee; the engine side uses
      // the grouped distributed prefix for the same positions)
      "pack_batch" ->
        (s"""WITH t AS (SELECT doc_id AS id, $tokSql AS n_tokens FROM documents),
            |b AS (SELECT id, n_tokens, CAST(n_tokens // 64 AS BIGINT) AS bucket,
            |        row_number() OVER (PARTITION BY n_tokens // 64
            |                           ORDER BY id) - 1 AS pos FROM t)
            |SELECT id, n_tokens, bucket,
            |       CAST(pos // 32 AS BIGINT) AS batch_in_bucket
            |FROM b ORDER BY id""".stripMargin),
      // chunk-window mirror: same windows by 1-based inclusive slices,
      // same 'c:'-prefixed 60-bit fingerprint of the joined chunk text
      "txt_chunks" ->
        (s"""WITH t AS (SELECT doc_id AS id, string_split(text, ' ') AS w
            |           FROM documents),
            |c AS (SELECT id, len(w) AS n, w,
            |        unnest(range(0, 1 + greatest(0,
            |          CAST(ceil((len(w) - 32)::DOUBLE / 24) AS INT)))) AS idx
            |      FROM t)
            |SELECT id, CAST(idx AS INT) AS chunk_idx,
            |       CAST(least(32, n - idx * 24) AS BIGINT) AS chunk_tokens,
            |       ${mdInt("'c:' || array_to_string(w[idx*24+1 : idx*24+32], ' ')")}
            |         AS chunk_fp
            |FROM c ORDER BY id, chunk_idx""".stripMargin),
      "txt_tfidf" ->
        ("""WITH terms AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
           |               FROM documents),
           |tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2),
           |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM documents),
           |sc AS (SELECT id, term,
           |         round(CAST(tf AS DOUBLE) * ln(nn / CAST(df AS DOUBLE)), 6) AS tfidf
           |       FROM tf JOIN dfx USING (term) CROSS JOIN n),
           |rk AS (SELECT id, term, tfidf,
           |         CAST(row_number() OVER (PARTITION BY id
           |           ORDER BY tfidf DESC, term) AS BIGINT) AS rank
           |       FROM sc)
           |SELECT id, term, tfidf, rank FROM rk WHERE rank <= 3
           |ORDER BY id, rank""".stripMargin),
      "j_nullsafe" ->
        ("""WITH o AS (SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL
           |                       ELSE o_orderkey % 7 END AS k FROM orders),
           |d AS (SELECT CAST(x AS BIGINT) AS k, CAST(x AS VARCHAR) AS lbl
           |      FROM generate_series(0, 6) t(x)
           |      UNION ALL SELECT NULL, 'none')
           |SELECT lbl, CAST(count(*) AS BIGINT) AS n
           |FROM o JOIN d ON o.k IS NOT DISTINCT FROM d.k
           |GROUP BY 1 ORDER BY 1""".stripMargin),
      "x7_sql" -> {
        val bitSums = (0 until 60)
          .map(b => s"sum(((h >> $b) & 1)*2 - 1) AS b$b").mkString(", ")
        val shBits = (0 until 60)
          .map(b => s"(CASE WHEN b$b > 0 THEN 1::BIGINT << $b ELSE 0::BIGINT END)")
          .mkString(" | ")
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |hh AS (SELECT doc_id, ${mdInt("'0:' || t")} AS h
           |       FROM (SELECT doc_id, unnest(w) AS t FROM toks)),
           |bits AS (SELECT doc_id, $bitSums FROM hh GROUP BY doc_id),
           |shv AS (SELECT doc_id, $shBits AS sh FROM bits),
           |rhv AS (SELECT doc_id, list_reduce(
           |          list_prepend(0::BIGINT, list_transform(string_split(text, ' '),
           |            t -> ${mdInt("'0:' || t")} % 1048576)),
           |          (acc, x) -> (acc * 1000003 + x) % 1099511627776) AS rh
           |        FROM documents)
           |SELECT d.doc_id, ${mdInt("'0:' || d.text")} AS h, rhv.rh, shv.sh
           |FROM documents d JOIN rhv ON d.doc_id = rhv.doc_id
           |JOIN shv ON d.doc_id = shv.doc_id
           |ORDER BY d.doc_id""".stripMargin
      },
      "ev_ffill" ->
        s"""WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS bucket, value
           |           FROM read_parquet('$sfDir/events.parquet')),
           |a AS (SELECT user_id, bucket, sum(CAST(value AS DECIMAL(18,2))) AS v,
           |             CAST(count(*) AS BIGINT) AS n
           |      FROM e GROUP BY 1, 2),
           |b AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM a GROUP BY 1),
           |g AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM b),
           |j AS (SELECT g.user_id, g.bucket, a.v, coalesce(a.n, 0) AS n_events
           |      FROM g LEFT JOIN a ON g.user_id = a.user_id AND g.bucket = a.bucket)
           |SELECT user_id, bucket, n_events,
           |       CAST(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
           |            ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS v_filled
           |FROM j ORDER BY user_id, bucket""".stripMargin,
      // interpolation mirror: same grid CTEs; the line value is the
      // multiplied-through exact-decimal form with one final double divide
      "ts_interp" ->
        s"""WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS bucket, value
           |           FROM read_parquet('$sfDir/events.parquet')),
           |a AS (SELECT user_id, bucket, sum(CAST(value AS DECIMAL(18,2))) AS v,
           |             CAST(count(*) AS BIGINT) AS n
           |      FROM e GROUP BY 1, 2),
           |b AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM a GROUP BY 1),
           |g AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM b),
           |j AS (SELECT g.user_id, g.bucket, a.v, coalesce(a.n, 0) AS n_events
           |      FROM g LEFT JOIN a ON g.user_id = a.user_id AND g.bucket = a.bucket),
           |x AS (SELECT *,
           |        last_value(v IGNORE NULLS) OVER wp AS pv,
           |        last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
           |          OVER wp AS pb,
           |        first_value(v IGNORE NULLS) OVER wn AS nv,
           |        first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
           |          OVER wn AS nb
           |      FROM j
           |      WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
           |                    ROWS UNBOUNDED PRECEDING),
           |             wn AS (PARTITION BY user_id ORDER BY bucket
           |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
           |SELECT user_id, bucket, n_events,
           |  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
           |       WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
           |       WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
           |       ELSE CAST(pv * (nb - bucket) + nv * (bucket - pb) AS DOUBLE) /
           |            CAST(nb - pb AS DOUBLE) END AS v_interp
           |FROM x ORDER BY user_id, bucket""".stripMargin,
      "w_range" ->
        s"""SELECT o_orderkey, o_custkey, day,
           |  CAST(sum(tp) OVER w AS DOUBLE) AS sum_15d,
           |  CAST(count(*) OVER w AS BIGINT) AS n_15d
           |FROM (SELECT o_orderkey, o_custkey,
           |        CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
           |        CAST(o_totalprice AS DECIMAL(18,2)) AS tp FROM orders)
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
           |             RANGE BETWEEN 15 PRECEDING AND CURRENT ROW)
           |ORDER BY o_orderkey""".stripMargin,
      "dd_keep" -> ddKeep,
      // pretraining pipeline: inject → scrub → repetition/length gates on
      // the clean text → decontamination vs the raw benchmark slice →
      // deterministic 80% downsample (all stages mirror their standalone
      // query oracles)
      "pipe_pretrain" -> {
        val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
        val phone = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
        val idRun = "[0-9]{6,}"
        s"""WITH inj AS (SELECT doc_id, text ||
           |  CASE WHEN doc_id % 3 = 0 THEN ' reach me at user' || doc_id::VARCHAR || '@mail.example.com' ELSE '' END ||
           |  CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.42' ELSE '' END ||
           |  CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END ||
           |  CASE WHEN doc_id % 7 = 0 THEN ' acct ' || (doc_id + 9000000)::VARCHAR ELSE '' END AS t
           |  FROM documents WHERE doc_id % 53 <> 7),
           |p4 AS (SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
           |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
           |    '$phone', '<PHONE>', 'g'), '$idRun', '<ID>', 'g') AS t FROM inj),
           |tk AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM p4),
           |rbg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS b
           |        FROM tk, UNNEST(range(1, len(w))) AS x(i)),
           |rbc AS (SELECT doc_id, b, count(*) AS c FROM rbg GROUP BY 1, 2),
           |rbagg AS (SELECT doc_id, sum(c) AS nbg,
           |                 sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupb
           |          FROM rbc GROUP BY 1),
           |gated AS (SELECT tk.doc_id, t, w, len(w) AS n_tokens
           |          FROM tk LEFT JOIN rbagg USING (doc_id)
           |          WHERE len(w) BETWEEN 20 AND 90
           |            AND coalesce(dupb::DOUBLE / nbg, 0) <= 0.12),
           |bt AS (SELECT string_split(text, ' ') AS w FROM documents
           |       WHERE doc_id % 53 = 7),
           |bng AS (SELECT DISTINCT unnest($shingleList) AS ngram FROM bt),
           |cng AS (SELECT doc_id, list_distinct($shingleList) AS ngs FROM gated),
           |cex AS (SELECT doc_id, len(ngs) AS nng, unnest(ngs) AS ngram FROM cng),
           |ov AS (SELECT e.doc_id, max(e.nng) AS nng, count(b.ngram) AS m
           |       FROM cex e LEFT JOIN bng b USING (ngram) GROUP BY 1),
           |cleand AS (SELECT doc_id FROM ov WHERE m::DOUBLE / nng < 0.5)
           |SELECT g.doc_id, CAST(g.n_tokens AS BIGINT) AS n_tokens,
           |       substr(md5(g.t), 1, 16) AS fp_clean
           |FROM gated g JOIN cleand USING (doc_id)
           |WHERE ${hashU("doc_id")} < 0.8 ORDER BY doc_id""".stripMargin
      },
      "pipe_curate" ->
        s"""WITH RECURSIVE ${minhashCtes()},
           |edges AS (SELECT id1 AS a, id2 AS b FROM est WHERE est_jaccard >= 0.2
           |          UNION ALL
           |          SELECT id2 AS a, id1 AS b FROM est WHERE est_jaccard >= 0.2),
           |reach(id, l) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.a, r.l FROM edges e JOIN reach r ON e.b = r.id),
           |grp AS (SELECT id, min(l) AS group_id FROM reach GROUP BY id),
           |q AS (SELECT doc_id, $tokSql AS n_tokens FROM documents),
           |reps AS (SELECT group_id, id, n_tokens FROM (
           |  SELECT g.group_id, g.id, q.n_tokens,
           |         row_number() OVER (PARTITION BY g.group_id
           |                            ORDER BY q.n_tokens DESC, g.id) AS rn
           |  FROM grp g JOIN q ON g.id = q.doc_id) WHERE rn = 1),
           |lp AS (SELECT doc_id, $langPredSql AS lang_pred FROM documents)
           |SELECT r.id, r.group_id, r.n_tokens, lp.lang_pred
           |FROM reps r JOIN lp ON r.id = lp.doc_id
           |WHERE lp.lang_pred <> 'und' AND r.n_tokens BETWEEN 20 AND 2000
           |  AND ${hashU("r.id")} < 0.5
           |ORDER BY r.id""".stripMargin,
      "txt_ngrams" ->
        (s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |sh AS (SELECT doc_id, unnest(list_distinct($shingleList)) AS ngram FROM toks)
            |SELECT ngram, CAST(count(*) AS BIGINT) AS n_docs FROM sh
            |GROUP BY 1 ORDER BY n_docs DESC, ngram LIMIT 20""".stripMargin),
      "g_pivot" ->
        ("SELECT l_linestatus, " +
          Seq("A", "N", "R").map(f =>
            s"CAST(sum(CASE WHEN l_returnflag = '$f' THEN " +
              s"CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS \"$f\"")
            .mkString(", ") +
          " FROM lineitem GROUP BY 1 ORDER BY l_linestatus"),
      "agg_hh" ->
        ("SELECT l_returnflag AS item, CAST(count(*) AS BIGINT) AS cnt, " +
          "CAST(0 AS BIGINT) AS err " +
          "FROM lineitem GROUP BY 1 ORDER BY item"),
      // KMV mirror: the k smallest distinct shingle hashes are a
      // well-defined set — DISTINCT + ORDER + LIMIT k reproduces the
      // sketch state exactly; the estimator is plain double arithmetic
      "agg_kmv" ->
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT unnest($shingleList) AS s FROM toks),
           |mins AS (SELECT DISTINCT ${mdInt("'0:' || s")} AS h FROM sh
           |         ORDER BY h LIMIT 1024)
           |SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS kth_hash,
           |       round((CAST(count(*) AS DOUBLE) - 1.0) * 1152921504606846976.0
           |             / CAST(max(h) AS DOUBLE), 4)
           |         AS est_distinct
           |FROM mins""".stripMargin,
      // KMV set-ops mirror: per-source DISTINCT-ORDER-LIMIT min-k sets,
      // union sample re-limited to k, then the same double formulas with
      // identical association order
      "agg_setsk" ->
        s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w
           |              FROM documents WHERE source IN ('src0', 'src1')),
           |sh AS (SELECT source, unnest($shingleList) AS s FROM toks),
           |ha AS (SELECT DISTINCT ${mdInt("'0:' || s")} AS h FROM sh
           |       WHERE source = 'src0' ORDER BY h LIMIT 512),
           |hb AS (SELECT DISTINCT ${mdInt("'0:' || s")} AS h FROM sh
           |       WHERE source = 'src1' ORDER BY h LIMIT 512),
           |u AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
           |      ORDER BY h LIMIT 512),
           |st AS (SELECT max(h) AS kth, CAST(count(*) AS BIGINT) AS usz,
           |         CAST(sum(CASE WHEN h IN (SELECT h FROM ha)
           |                        AND h IN (SELECT h FROM hb)
           |                   THEN 1 ELSE 0 END) AS BIGINT) AS n_both
           |       FROM u)
           |SELECT
           |  round((CAST(usz AS DOUBLE) - 1.0) * 1152921504606846976.0
           |        / CAST(kth AS DOUBLE), 4)
           |    AS est_union,
           |  round(CAST(n_both AS DOUBLE) / CAST(usz AS DOUBLE), 6) AS est_jaccard,
           |  round((CAST(n_both AS DOUBLE) / CAST(usz AS DOUBLE)) *
           |        ((CAST(usz AS DOUBLE) - 1.0) * 1152921504606846976.0
           |         / CAST(kth AS DOUBLE)), 4)
           |    AS est_inter
           |FROM st""".stripMargin,
      // overlap-matrix mirror: per-source min-k via a partitioned
      // row_number window, per-pair union re-limited to k the same way,
      // intersection membership by joining back to both sketch sides
      "agg_setmat" ->
        s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w
           |              FROM documents),
           |sh AS (SELECT source, unnest($shingleList) AS s FROM toks),
           |hs AS (SELECT DISTINCT source, ${mdInt("'0:' || s")} AS h FROM sh),
           |mins AS (SELECT source, h FROM
           |           (SELECT source, h,
           |              row_number() OVER (PARTITION BY source ORDER BY h) AS rn
           |            FROM hs) WHERE rn <= 256),
           |pairs AS (SELECT DISTINCT a.source AS sa, b.source AS sb
           |          FROM mins a, mins b WHERE a.source < b.source),
           |ud AS (SELECT DISTINCT p.sa, p.sb, m.h
           |       FROM pairs p JOIN mins m
           |         ON m.source = p.sa OR m.source = p.sb),
           |uk AS (SELECT sa, sb, h FROM
           |         (SELECT sa, sb, h,
           |            row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
           |          FROM ud) WHERE rn <= 256),
           |usz AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS n FROM uk
           |        GROUP BY 1, 2),
           |bth AS (SELECT u.sa, u.sb, CAST(count(*) AS BIGINT) AS c
           |         FROM uk u
           |         JOIN mins ma ON ma.source = u.sa AND ma.h = u.h
           |         JOIN mins mb ON mb.source = u.sb AND mb.h = u.h
           |         GROUP BY 1, 2)
           |SELECT p.sa AS src_a, p.sb AS src_b,
           |       round(CAST(COALESCE(b.c, 0) AS DOUBLE)
           |             / CAST(z.n AS DOUBLE), 6)
           |         AS est_jaccard
           |FROM pairs p
           |JOIN usz z ON p.sa = z.sa AND p.sb = z.sb
           |LEFT JOIN bth b ON p.sa = b.sa AND p.sb = b.sb
           |ORDER BY est_jaccard DESC, src_a, src_b LIMIT 20""".stripMargin,
      // HLL mirror: registers recomputed from the distinct hash domain
      // with the same integer rank (55 - MSB position via bin-string
      // length); the harmonic sum is an exact integer picoweight sum
      "agg_hll" ->
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT unnest($shingleList) AS s FROM toks),
           |h AS (SELECT ${mdInt("'0:' || s")} AS h FROM sh),
           |b AS (SELECT h % 64 AS bucket, h // 64 AS hd FROM h),
           |regs AS (SELECT bucket,
           |           max(CASE WHEN hd = 0 THEN 55
           |               ELSE 55 - length(bin(hd)) END) AS r
           |         FROM b GROUP BY 1),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_filled,
           |          sum(CAST(1 AS BIGINT) << (55 - r)) AS wsum FROM regs)
           |SELECT n_filled,
           |  CAST(wsum + (64 - n_filled) * 36028797018963968 AS BIGINT) AS w,
           |  round(CAST(0.709 AS DOUBLE) * 4096.0 * 36028797018963968.0 /
           |    CAST(wsum + (64 - n_filled) * 36028797018963968 AS DOUBLE), 4)
           |    AS est_distinct
           |FROM agg""".stripMargin,
      "agg_cms" -> {
        val P = graft.operators.Dedup.UhPrime
        val rows = graft.operators.Dedup.uhParams(4).zipWithIndex.map {
          case ((a, b), j) =>
            s"SELECT $j AS depth, ((hb * $a + $b) % $P) % 64 AS cell, c FROM h"
        }.mkString(" UNION ALL ")
        s"""WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS key, count(*) AS c
           |           FROM lineitem GROUP BY 1),
           |h AS (SELECT ${mdInt("'0:' || key")} % $P AS hb, c FROM k),
           |cells AS ($rows),
           |grid AS (SELECT d.range AS depth, w.range AS cell
           |         FROM range(4) d, range(64) w)
           |SELECT CAST(g.depth AS INT) AS depth, CAST(g.cell AS INT) AS cell,
           |       CAST(coalesce(sum(c), 0) AS BIGINT) AS cnt
           |FROM grid g LEFT JOIN cells ON g.depth = cells.depth
           |                           AND g.cell = cells.cell
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      },
      // KLL oracle (exact regime at sf0.01: groups < capacity, so the
      // sketch IS sorted-rank selection at ceil(p·n) — ties at the rank
      // boundary share the value, so row_number tie order is irrelevant)
      "agg_qsk" ->
        """WITH rk AS (SELECT o_orderpriority, o_totalprice,
          |              row_number() OVER (PARTITION BY o_orderpriority
          |                                 ORDER BY o_totalprice) AS r,
          |              count(*) OVER (PARTITION BY o_orderpriority) AS n
          |            FROM orders)
          |SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n,
          |       max(CASE WHEN r = CAST(ceil(0.25*n) AS BIGINT) THEN o_totalprice END) AS q25,
          |       max(CASE WHEN r = CAST(ceil(0.5*n)  AS BIGINT) THEN o_totalprice END) AS q50,
          |       max(CASE WHEN r = CAST(ceil(0.75*n) AS BIGINT) THEN o_totalprice END) AS q75,
          |       max(CASE WHEN r = CAST(ceil(0.9*n)  AS BIGINT) THEN o_totalprice END) AS q90
          |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,
      "g_distinct" ->
        ("SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, " +
          "count(DISTINCT l_suppkey) AS n_supps, CAST(count(*) AS BIGINT) AS n_rows " +
          "FROM lineitem GROUP BY 1 ORDER BY 1"),
      "smp_topn" ->
        (s"SELECT o_orderkey, o_orderstatus FROM (" +
          s"SELECT o_orderkey, o_orderstatus, row_number() OVER (" +
          s"PARTITION BY o_orderstatus ORDER BY ${hashU("o_orderkey")}, o_orderkey) AS rn " +
          "FROM orders) WHERE rn <= 50 ORDER BY o_orderstatus, o_orderkey"),
      "e1_add" -> matSql(j => F(s"q$j + e$j")),
      "e11_madd" -> matSql(j => F(s"(q$j + e$j) * 2")),
      "e1_sub" -> matSql(j => F(s"q$j - e$j")),
      "e1_mul" -> matSql(j => F(s"q$j * e$j")),
      "e1_div" -> matSql(j => F(s"q$j / p$j")),
      "e2_pow" -> matSql(j => F(s"pow(q$j,2) + pow(p$j,0.5)")),
      "e5_scalar" -> matSql(j => F(s"q$j * 2.5 + 100")),
      "e6_mod" -> matSql(j => F(s"(q$j % 7) + floor(q$j / 7)")),
      "e7_cmp" -> matSql(j => s"coalesce(q$j > e$j * 10, FALSE)"),
      "e11_isin" -> matSql(j => s"coalesce(q$j IN (1, 5, 25), FALSE)"),
      "e8_bool" -> matSql(j =>
        s"coalesce((q$j > 1) AND (e$j > 1) OR (q$j = 1), FALSE)"),
      "e9_math" -> matSql(j => F(s"sqrt(p$j) + abs(q$j - e$j) + floor(e$j)")),
      "e9_log" -> matSql(j => s"round(${F(s"ln(p$j) + exp(e$j * 0.001)")},6)"),
      // numpy arctan2(y, x) ≡ SQL atan2(y, x); libm vs DuckDB differ by
      // ≤ 1 ulp on trig → round6 both sides (same policy as e9_log)
      "e9_trig" -> matSql(j =>
        s"round(${F(s"sin(q$j) + cos(e$j) + atan2(q$j, p$j)")},6)"),
      "e10_fillna" -> matSql(j => s"coalesce(q$j, 0) + p$j"),
      // NB DuckDB's GREATEST skips NULLs (Spark-style), so guard NULL first
      "e11_clip" -> matSql(j =>
        s"CASE WHEN q$j IS NULL THEN 0.0 ELSE LEAST(GREATEST(q$j, 5), 20) END"),
      "e11_sum" ->
        s"$W SELECT ${J.map(j => s"coalesce(sum(q$j),0.0) AS c$j").mkString(", ")} FROM w",
      // pandas skipna cumsum: a NULL-hole cell stays invalid (filled to 0
      // by V4) but does not poison later cells; quantity sums are
      // integer-valued, so the running double sum is exact in any engine
      // running max with the same skipna contract (SQL max skips NULLs);
      // a leading all-NULL prefix is NaN in pandas -> filled 0 by V4
      "e11_cummax" -> (s"$W SELECT __row_id__, " +
        J.map(j => ("CASE WHEN q$j IS NULL THEN 0.0 ELSE coalesce(" +
          "max(q$j) OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW), 0.0) END AS c$j").replace("$j", j.toString))
          .mkString(", ") +
        " FROM w ORDER BY __row_id__"),
      // pandas rank(method='average', ascending): ties share the average
      // of their positions = rank + (tie_count-1)/2; NaN cells excluded
      // from the ranking (and filled 0 by V4). Value-based -> exact ties
      "e11_rank" -> (s"$W SELECT __row_id__, " +
        J.map(j => ("CASE WHEN q$j IS NULL THEN 0.0 ELSE " +
          "rank() OVER (ORDER BY q$j NULLS LAST) + " +
          "(count(q$j) OVER (PARTITION BY q$j) - 1) / 2.0 END AS c$j")
          .replace("$j", j.toString)).mkString(", ") +
        " FROM w ORDER BY __row_id__"),
      // r11 rank variants: min = SQL rank(); dense desc = dense_rank over
      // the reversed order; first = row_number with the row id breaking
      // ties (pandas order of appearance IS the row order); pct divides
      // the average rank by the column's valid count
      "e11_rankmin" -> (s"$W SELECT __row_id__, " +
        J.map(j => ("CASE WHEN q$j IS NULL THEN 0.0 ELSE " +
          "CAST(rank() OVER (ORDER BY q$j NULLS LAST) AS DOUBLE) END AS c$j")
          .replace("$j", j.toString)).mkString(", ") +
        " FROM w ORDER BY __row_id__"),
      "e11_rankdense" -> (s"$W SELECT __row_id__, " +
        J.map(j => ("CASE WHEN q$j IS NULL THEN 0.0 ELSE " +
          "CAST(dense_rank() OVER (ORDER BY q$j DESC NULLS LAST) AS DOUBLE) " +
          "END AS c$j")
          .replace("$j", j.toString)).mkString(", ") +
        " FROM w ORDER BY __row_id__"),
      "e11_rankfirst" -> (s"$W SELECT __row_id__, " +
        J.map(j => ("CASE WHEN q$j IS NULL THEN 0.0 ELSE " +
          "CAST(row_number() OVER (ORDER BY q$j NULLS LAST, __row_id__) " +
          "AS DOUBLE) END AS c$j")
          .replace("$j", j.toString)).mkString(", ") +
        " FROM w ORDER BY __row_id__"),
      "e11_rankpct" -> (s"$W SELECT __row_id__, " +
        J.map(j => ("CASE WHEN q$j IS NULL THEN 0.0 ELSE " +
          "(rank() OVER (ORDER BY q$j NULLS LAST) + " +
          "(count(q$j) OVER (PARTITION BY q$j) - 1) / 2.0) / " +
          "count(q$j) OVER () END AS c$j")
          .replace("$j", j.toString)).mkString(", ") +
        " FROM w ORDER BY __row_id__"),
      // na_option: NULL cells get the head/tail class ranks — top shifts
      // every valid rank by the column's NULL count and hands NULLs the
      // class average (nan+1)/2; bottom/min is valid-count + 1
      "e11_ranktop" -> (s"$W SELECT __row_id__, " +
        J.map(j => ("CASE WHEN q$j IS NULL THEN " +
          "(count(*) OVER () - count(q$j) OVER () + 1) / 2.0 ELSE " +
          "rank() OVER (ORDER BY q$j NULLS LAST) + " +
          "(count(q$j) OVER (PARTITION BY q$j) - 1) / 2.0 + " +
          "count(*) OVER () - count(q$j) OVER () END AS c$j")
          .replace("$j", j.toString)).mkString(", ") +
        " FROM w ORDER BY __row_id__"),
      "e11_rankbot" -> (s"$W SELECT __row_id__, " +
        J.map(j => ("CASE WHEN q$j IS NULL THEN " +
          "CAST(count(q$j) OVER () + 1 AS DOUBLE) ELSE " +
          "CAST(rank() OVER (ORDER BY q$j NULLS LAST) AS DOUBLE) " +
          "END AS c$j")
          .replace("$j", j.toString)).mkString(", ") +
        " FROM w ORDER BY __row_id__"),
      // q/7 never lands on (or within double-repr distance of) a scale-2
      // tie — see the query-side comment — so HALF_EVEN vs binary-nearest
      // is moot and both engines round identically
      "e11_round" -> matSql(j => F(s"round(q$j / 7.0, 2)")),
      // shift/diff mirrors: LAG over the row-id order — values (including
      // NULL holes) MOVE, the vacated edge is NULL, fill maps both to 0;
      // diff's subtraction is one exactly-rounded IEEE op per cell
      "e11_shift" -> matSql(j =>
        F(s"lag(q$j, 2) OVER (ORDER BY __row_id__)")),
      "e11_diff" -> matSql(j =>
        F(s"q$j - lag(q$j, 1) OVER (ORDER BY __row_id__)")),
      "e11_cumsum" -> (s"$W SELECT __row_id__, " +
        J.map(j => ("CASE WHEN q$j IS NULL THEN 0.0 ELSE coalesce(" +
          "sum(q$j) OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW), 0.0) END AS c$j").replace("$j", j.toString))
          .mkString(", ") +
        " FROM w ORDER BY __row_id__"),
      // cumprod over factors in {−1, 0, 1}: skipna running product =
      // 0 once any zero factor was seen, else (−1)^(negatives so far) —
      // the oracle tracks the zero latch and the sign parity with two
      // running counts, exactly the engine's decomposition, over a value
      // domain where both are integer-exact
      "e11_cumprod" -> matSql { j =>
        val v = s"((q$j % 3) - 1)"
        val win = "OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        F(s"CASE WHEN q$j IS NULL THEN NULL " +
          s"WHEN coalesce(sum(CASE WHEN $v = 0 THEN 1 END) $win, 0) > 0 " +
          s"THEN 0.0 ELSE 1.0 - 2.0 * " +
          s"(coalesce(sum(CASE WHEN $v = -1 THEN 1 END) $win, 0) % 2) END")
      },
      // pandas skipna mean ≡ SQL avg (NULL holes excluded from both count
      // and sum); quantity sums are integer-valued → exact in any order
      "e11_mean" ->
        s"$W SELECT ${J.map(j => s"avg(q$j) AS c$j").mkString(", ")} FROM w",
      "e11_min" ->
        s"$W SELECT ${J.map(j => s"CAST(min(q$j) AS DOUBLE) AS c$j").mkString(", ")} FROM w",
      // sem/skew/kurt: the raw power sums are integer-exact on quantity
      // cells, and the closing float formula mirrors the engine's op
      // order exactly; rounded 6dp like std/var
      // describe mirror: the 8 stat rows unioned, each reusing the
      // established per-stat exactness policy, ordered by stat name
      "e11_desc" ->
        (s"$W SELECT * FROM (SELECT 'count' AS __row_id__, round(CAST(count(q1) AS DOUBLE), 6) AS c1, round(CAST(count(q2) AS DOUBLE), 6) AS c2, round(CAST(count(q3) AS DOUBLE), 6) AS c3, round(CAST(count(q4) AS DOUBLE), 6) AS c4 FROM w UNION ALL SELECT 'mean' AS __row_id__, round(avg(q1), 6) AS c1, round(avg(q2), 6) AS c2, round(avg(q3), 6) AS c3, round(avg(q4), 6) AS c4 FROM w UNION ALL SELECT 'std' AS __row_id__, round(stddev_samp(q1), 6) AS c1, round(stddev_samp(q2), 6) AS c2, round(stddev_samp(q3), 6) AS c3, round(stddev_samp(q4), 6) AS c4 FROM w UNION ALL SELECT 'min' AS __row_id__, round(CAST(min(q1) AS DOUBLE), 6) AS c1, round(CAST(min(q2) AS DOUBLE), 6) AS c2, round(CAST(min(q3) AS DOUBLE), 6) AS c3, round(CAST(min(q4) AS DOUBLE), 6) AS c4 FROM w UNION ALL SELECT '25%' AS __row_id__, round(quantile_cont(q1, 0.25), 6) AS c1, round(quantile_cont(q2, 0.25), 6) AS c2, round(quantile_cont(q3, 0.25), 6) AS c3, round(quantile_cont(q4, 0.25), 6) AS c4 FROM w UNION ALL SELECT '50%' AS __row_id__, round(quantile_cont(q1, 0.5), 6) AS c1, round(quantile_cont(q2, 0.5), 6) AS c2, round(quantile_cont(q3, 0.5), 6) AS c3, round(quantile_cont(q4, 0.5), 6) AS c4 FROM w UNION ALL SELECT '75%' AS __row_id__, round(quantile_cont(q1, 0.75), 6) AS c1, round(quantile_cont(q2, 0.75), 6) AS c2, round(quantile_cont(q3, 0.75), 6) AS c3, round(quantile_cont(q4, 0.75), 6) AS c4 FROM w UNION ALL SELECT 'max' AS __row_id__, round(CAST(max(q1) AS DOUBLE), 6) AS c1, round(CAST(max(q2) AS DOUBLE), 6) AS c2, round(CAST(max(q3) AS DOUBLE), 6) AS c3, round(CAST(max(q4) AS DOUBLE), 6) AS c4 FROM w) ORDER BY __row_id__"),
      "e11_sem" ->
        s"$W SELECT ${J.map(j => s"round(stddev_samp(q$j) / sqrt(count(q$j)), 6) AS c$j").mkString(", ")} FROM w",
      // r9: CENTERED moments (pandas-stable when |mean| >> spread), the
      // engine's two-pass shape mirrored: pass-1 mean (exact integer sum,
      // one double division), pass-2 Σdᵏ with each term rounded 9dp and
      // folded through DECIMAL — order-independent in both engines
      "e11_skew" -> (s"$W, mm AS (SELECT " + J.map { j =>
        s"sum(q$j) / CAST(count(q$j) AS DOUBLE) AS m$j, " +
          s"CAST(count(q$j) AS DOUBLE) AS n$j"
      }.mkString(", ") + " FROM w), ss AS (SELECT " + J.map { j =>
        val d = s"(q$j - m$j)"
        s"max(n$j) AS n$j, " +
          s"sum(CAST(round($d*$d, 9) AS DECIMAL(38,12))) AS s2_$j, " +
          s"sum(CAST(round($d*$d*$d, 9) AS DECIMAL(38,12))) AS s3_$j"
      }.mkString(", ") + " FROM w, mm) SELECT " + J.map { j =>
        val n = s"n$j"
        val m2 = s"(CAST(s2_$j AS DOUBLE) / $n)"
        val m3 = s"(CAST(s3_$j AS DOUBLE) / $n)"
        s"round(CASE WHEN $n >= 3 AND $m2 > 0 THEN sqrt($n * ($n - 1.0)) / ($n - 2.0) * ($m3 / pow($m2, 1.5)) END, 6) AS c$j"
      }.mkString(", ") + " FROM ss"),
      "e11_kurt" -> (s"$W, mm AS (SELECT " + J.map { j =>
        s"sum(q$j) / CAST(count(q$j) AS DOUBLE) AS m$j, " +
          s"CAST(count(q$j) AS DOUBLE) AS n$j"
      }.mkString(", ") + " FROM w), ss AS (SELECT " + J.map { j =>
        val d = s"(q$j - m$j)"
        s"max(n$j) AS n$j, " +
          s"sum(CAST(round($d*$d, 9) AS DECIMAL(38,12))) AS s2_$j, " +
          s"sum(CAST(round($d*$d*$d*$d, 9) AS DECIMAL(38,12))) AS s4_$j"
      }.mkString(", ") + " FROM w, mm) SELECT " + J.map { j =>
        val n = s"n$j"
        val m2 = s"(CAST(s2_$j AS DOUBLE) / $n)"
        val m4 = s"(CAST(s4_$j AS DOUBLE) / $n)"
        s"round(CASE WHEN $n >= 4 AND $m2 > 0 THEN (($n * $n - 1.0) * ($m4 / ($m2 * $m2)) - 3.0 * ($n - 1.0) * ($n - 1.0)) / (($n - 2.0) * ($n - 3.0)) END, 6) AS c$j"
      }.mkString(", ") + " FROM ss"),
      // arg-reductions: value first, then the smallest row id (native
      // numeric order) — both engines break max/min ties identically
      "e11_idxmax" ->
        s"$W SELECT ${J.map(j => s"CAST(min(CASE WHEN q$j = (SELECT max(q$j) FROM w) THEN __row_id__ END) AS VARCHAR) AS c$j").mkString(", ")} FROM w",
      "e11_idxmin" ->
        s"$W SELECT ${J.map(j => s"CAST(min(CASE WHEN q$j = (SELECT min(q$j) FROM w) THEN __row_id__ END) AS VARCHAR) AS c$j").mkString(", ")} FROM w",
      "e11_nunique" ->
        s"$W SELECT ${J.map(j => s"CAST(count(DISTINCT q$j) AS DOUBLE) AS c$j").mkString(", ")} FROM w",
      // r9 terminal frames: top-n keeps the ORIGINAL row ids (value desc/
      // asc, row id as the first-occurrence tie-break, NaN-free column);
      // value_counts ranks (count desc, value asc) with a rank row id
      "e11_nlarge" ->
        (s"$W SELECT __row_id__, CAST(q1 AS DOUBLE) AS c1 FROM " +
          "(SELECT __row_id__, q1 FROM w WHERE q1 IS NOT NULL " +
          "ORDER BY q1 DESC, __row_id__ LIMIT 7) ORDER BY __row_id__"),
      "e11_nsmall" ->
        (s"$W SELECT __row_id__, CAST(q1 AS DOUBLE) AS c1 FROM " +
          "(SELECT __row_id__, q1 FROM w WHERE q1 IS NOT NULL " +
          "ORDER BY q1 ASC, __row_id__ LIMIT 7) ORDER BY __row_id__"),
      "e11_vcounts" ->
        (s"$W, vc AS (SELECT CAST(q1 AS DOUBLE) AS c1, " +
          "CAST(count(*) AS DOUBLE) AS \"count\" FROM w " +
          "WHERE q1 IS NOT NULL GROUP BY 1) " +
          "SELECT CAST(row_number() OVER (ORDER BY \"count\" DESC, c1) " +
          "AS VARCHAR) AS __row_id__, c1, \"count\" FROM vc " +
          "ORDER BY __row_id__"),
      // normalize=1: shares of the valid total (both engines divide the
      // same integer-valued doubles — exact quotient, rounded 9 for the
      // float margin); ascending=1 flips the rank order
      "e11_vcnorm" ->
        (s"$W, vc AS (SELECT CAST(q1 AS DOUBLE) AS c1, " +
          "CAST(count(*) AS DOUBLE) AS n FROM w " +
          "WHERE q1 IS NOT NULL GROUP BY 1), " +
          "tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM w " +
          "WHERE q1 IS NOT NULL) " +
          "SELECT CAST(row_number() OVER (ORDER BY n / t ASC, c1) " +
          "AS VARCHAR) AS __row_id__, c1, round(n / t, 9) AS proportion " +
          "FROM vc, tot ORDER BY __row_id__"),
      // pairwise-complete Pearson: per pair the six moments over rows
      // where BOTH cells are present (exact on integer quantities), then
      // the same fixed-order double formula as the engine, rounded 9
      "e11_corr" -> {
        val pairs = for { i <- J; j <- J if i <= j } yield (i, j)
        val moments = pairs.flatMap { case (i, j) =>
          val both = s"q$i IS NOT NULL AND q$j IS NOT NULL"
          def d(c: String) = s"CAST($c AS DOUBLE)"
          Seq(
            s"CAST(count(CASE WHEN $both THEN 1 END) AS DOUBLE) AS n_${i}_$j",
            s"sum(CASE WHEN $both THEN ${d(s"q$i")} END) AS sx_${i}_$j",
            s"sum(CASE WHEN $both THEN ${d(s"q$j")} END) AS sy_${i}_$j",
            s"sum(CASE WHEN $both THEN ${d(s"q$i")}*${d(s"q$i")} END) AS sxx_${i}_$j",
            s"sum(CASE WHEN $both THEN ${d(s"q$j")}*${d(s"q$j")} END) AS syy_${i}_$j",
            s"sum(CASE WHEN $both THEN ${d(s"q$i")}*${d(s"q$j")} END) AS sxy_${i}_$j")
        }.mkString(", ")
        def r(i: Int, j: Int): String = { // symmetric — reuse the i<=j pair
          val (a, b) = if (i <= j) (i, j) else (j, i)
          val (n, sx, sy, sxx, syy, sxy) = (s"n_${a}_$b", s"sx_${a}_$b",
            s"sy_${a}_$b", s"sxx_${a}_$b", s"syy_${a}_$b", s"sxy_${a}_$b")
          // a constant (zero-variance) column → den = 0: mirror the
          // engine's pandas NaN (r10; latent — no constant column in the
          // qty frame — but the two sides must agree on the degenerate
          // case by construction, not by luck)
          val den = s"(sqrt($n*$sxx - $sx*$sx) * sqrt($n*$syy - $sy*$sy))"
          s"round(CASE WHEN $den = 0 THEN 'NaN'::DOUBLE " +
            s"ELSE ($n*$sxy - $sx*$sy) / $den END, 9)"
        }
        val rows = J.map { i =>
          s"SELECT 'c$i' AS __row_id__, " +
            J.map(j => s"${r(i, j)} AS c$j").mkString(", ") + " FROM m"
        }.mkString(" UNION ALL ")
        s"$W, m AS (SELECT $moments FROM w) " +
          s"SELECT * FROM ($rows) ORDER BY __row_id__"
      },
      // same pairwise moments, the pandas ddof-1 covariance closing form
      "e11_cov" -> {
        val pairs = for { i <- J; j <- J if i <= j } yield (i, j)
        val moments = pairs.flatMap { case (i, j) =>
          val both = s"q$i IS NOT NULL AND q$j IS NOT NULL"
          def d(c: String) = s"CAST($c AS DOUBLE)"
          Seq(
            s"CAST(count(CASE WHEN $both THEN 1 END) AS DOUBLE) AS n_${i}_$j",
            s"sum(CASE WHEN $both THEN ${d(s"q$i")} END) AS sx_${i}_$j",
            s"sum(CASE WHEN $both THEN ${d(s"q$j")} END) AS sy_${i}_$j",
            s"sum(CASE WHEN $both THEN ${d(s"q$i")}*${d(s"q$j")} END) AS sxy_${i}_$j")
        }.mkString(", ")
        def r(i: Int, j: Int): String = {
          val (a, b) = if (i <= j) (i, j) else (j, i)
          val (n, sx, sy, sxy) = (s"n_${a}_$b", s"sx_${a}_$b",
            s"sy_${a}_$b", s"sxy_${a}_$b")
          s"round(($sxy - $sx*$sy/$n) / ($n - 1.0), 9)"
        }
        val rows = J.map { i =>
          s"SELECT 'c$i' AS __row_id__, " +
            J.map(j => s"${r(i, j)} AS c$j").mkString(", ") + " FROM m"
        }.mkString(" UNION ALL ")
        s"$W, m AS (SELECT $moments FROM w) " +
          s"SELECT * FROM ($rows) ORDER BY __row_id__"
      },
      "e11_dropna" ->
        (s"$W SELECT __row_id__, " +
          J.map(j => s"CAST(q$j AS DOUBLE) AS c$j").mkString(", ") +
          s" FROM w WHERE ${J.map(j => s"q$j IS NOT NULL").mkString(" AND ")}" +
          " ORDER BY __row_id__"),
      // pct_change: v / lag(v) − 1, fill_method=None (pandas ≥ 2.2) — one
      // IEEE division + one exact subtraction per cell, both engines
      // identical; holes and edges map to NULL and fill 0
      "e11_pct" -> matSql(j =>
        F(s"q$j / lag(q$j, 1) OVER (ORDER BY __row_id__) - 1")),
      // ffill/bfill: nearest valid value before/after in row-id order —
      // values MOVE (no arithmetic), leading/trailing runs stay NULL → 0
      "e11_ffill" -> matSql(j =>
        F(s"last_value(q$j IGNORE NULLS) OVER (ORDER BY __row_id__ " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")),
      "e11_bfill" -> matSql(j =>
        F(s"first_value(q$j IGNORE NULLS) OVER (ORDER BY __row_id__ " +
          "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")),
      // isna: the hole mask; boolean result (no fill, the e7 discipline)
      "e11_isna" -> (s"$W SELECT __row_id__, " +
        J.map(j => s"(q$j IS NULL) AS c$j").mkString(", ") +
        " FROM w ORDER BY __row_id__"),
      // where/mask: NULL cond counts as False (the engine's comparison
      // normalizes NULL → False; SQL CASE falls through to ELSE — same
      // cell either way)
      "e11_where" -> matSql(j =>
        F(s"CASE WHEN q$j > 7 THEN q$j ELSE 0 END")),
      "e11_mask" -> matSql(j =>
        F(s"CASE WHEN q$j > 7 THEN 0 ELSE q$j END")),
      "e11_repl" -> matSql(j =>
        F(s"CASE WHEN q$j = 7 THEN 700 ELSE q$j END")),
      // duplicated: first-occurrence rule on the row-id order; the window
      // here partitions the ORACLE by the tuple (fine at oracle scale) —
      // the engine runs the aggregate-join-back shape instead. NULL cells
      // group as equal in both engines (DuckDB window partitions group
      // NULLs; the engine normalizes NULL keys to NaN, which Spark groups
      // and joins as equal values)
      "e11_dup" -> (s"$W SELECT __row_id__, " +
        "(__row_id__ <> min(__row_id__) OVER " +
        s"(PARTITION BY ${J.map(j => s"q$j").mkString(", ")})) AS dup " +
        "FROM w ORDER BY __row_id__"),
      // head/tail: first/last n rows of the row-id order
      "e11_head" -> (s"$W SELECT __row_id__, " +
        J.map(j => s"${F(s"q$j")} AS c$j").mkString(", ") +
        " FROM w ORDER BY __row_id__ LIMIT 7"),
      "e11_tail" -> (s"$W SELECT * FROM (SELECT __row_id__, " +
        J.map(j => s"${F(s"q$j")} AS c$j").mkString(", ") +
        " FROM w ORDER BY __row_id__ DESC LIMIT 7) t ORDER BY __row_id__"),
      // mode: most-frequent values ascending, 0-based rank as the row id
      "e11_mode" -> (s"$W, c AS (SELECT q1 AS c1, count(*) AS n FROM w " +
        "WHERE q1 IS NOT NULL GROUP BY 1) " +
        "SELECT CAST(row_number() OVER (ORDER BY c1) - 1 AS VARCHAR) " +
        "AS __row_id__, c1 FROM c WHERE n = (SELECT max(n) FROM c) " +
        "ORDER BY c1"),
      // method-form <=: identical to the operator spelling, bool result
      "e11_mcmp" -> matSql(j => s"coalesce(q$j <= e$j * 10, FALSE)"),
      // rolling/expanding: pandas default min_periods — the window must
      // hold n (resp. 1) NON-NULL values; integer window sums are exact
      // in both engines, the closing division is one IEEE op
      "e11_rmean" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 2 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"CASE WHEN count(q$j) $w = 3 THEN sum(q$j) $w / 3 END")
      },
      "e11_rsum" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 3 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"CASE WHEN count(q$j) $w = 4 THEN sum(q$j) $w END")
      },
      "e11_emean" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        F(s"CASE WHEN count(q$j) $w >= 1 " +
          s"THEN sum(q$j) $w / count(q$j) $w END")
      },
      // r9 session 3, rest of the rolling family. count: the window must
      // be FORMED (row_number ≥ n) but holes inside it are counted out,
      // not poisoning; min/max/var/std: full-window all-valid only
      // (count(q)=n), var/std rounded to 6 on both sides (libm-class)
      "e11_rcount" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 2 PRECEDING " +
          "AND CURRENT ROW)"
        F("CASE WHEN row_number() OVER (ORDER BY __row_id__) >= 3 " +
          s"THEN CAST(count(q$j) $w AS DOUBLE) END")
      },
      "e11_rmin" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 2 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"CASE WHEN count(q$j) $w = 3 THEN min(q$j) $w END")
      },
      "e11_rmax" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 3 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"CASE WHEN count(q$j) $w = 4 THEN max(q$j) $w END")
      },
      "e11_rvar" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 2 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w = 3 " +
          s"THEN var_samp(q$j) $w END, 6)")
      },
      "e11_rstd" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 2 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w = 3 " +
          s"THEN stddev_samp(q$j) $w END, 6)")
      },
      "e11_estd" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w >= 2 " +
          s"THEN stddev_samp(q$j) $w END, 6)")
      },
      "e11_emax" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        F(s"CASE WHEN count(q$j) $w >= 1 THEN max(q$j) $w END")
      },
      "e11_rmed" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 2 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"CASE WHEN count(q$j) $w = 3 " +
          s"THEN CAST(median(q$j) $w AS DOUBLE) END")
      },
      // ewm mirrors (r10): the engine is EXACT (ewmScan carries the
      // pandas value across any hole run), so the oracle computes the
      // finite-horizon weighted stat ONLY AT VALID target cells — where
      // the dropped tail is provably < 1e-12 of the kept mass (the
      // current cell's weight is 1) — and CARRIES it across holes with
      // last_value(... IGNORE NULLS), exactly the pandas/engine carry.
      // The horizon must also exceed the data's longest per-column hole
      // run (measured ≤ 18 at sf0.01, ≤ 22 at sf0.1) by the tail margin,
      // so every surviving weight dominates the dropped mass. Both
      // engines build the weight base from the identical IEEE double.
      "e11_ewm" -> ewmMeanOracle("1.0 - 1.0/1.3", 40),
      "e11_ewmbig" -> ewmMeanOracle("1.0 - 1.0/13.0", 320, dp = 5),
      "e11_ewvar" -> ewmVarOracle("1.0 - 1.0/2.0", 64, std = false),
      "e11_ewstd" -> ewmVarOracle("1.0 - 1.0/2.0", 64, std = true),
      // pairwise ewm cov/corr: the PAIR mask can run longer holes than
      // either column alone, so the horizon doubles the ewvar one
      "e11_ewcov" -> ewmCovOracle("1.0 - 1.0/2.0", 128, corr = false),
      "e11_ewcorr" -> ewmCovOracle("1.0 - 1.0/2.0", 128, corr = true),
      // ewm sum: the direct horizon-truncated decayed sum at EVERY row
      // (no carry — the value itself decays at holes); tail < 5e-20.
      // + 1e-9 mirrors the Spark side's ε-nudged rounding (one sf0.01
      // cell rides 2e-9 quanta off the boundary — see queries())
      "e11_ewsum" -> {
        val beta = "1.0 - 1.0/2.0"; val h = 64
        val cells = J.map(j =>
          F(s"round(sum(CASE WHEN b.q$j IS NOT NULL THEN " +
            s"pow(($beta), a.rn - b.rn) * b.q$j END) + 1e-9, 6)") + s" AS c$j")
          .mkString(", ")
        s"""$W, p AS (SELECT *,
           |  row_number() OVER (ORDER BY __row_id__) AS rn FROM w)
           |SELECT a.__row_id__, $cells
           |FROM p a JOIN p b ON b.rn BETWEEN a.rn - ${h - 1} AND a.rn
           |GROUP BY a.rn, a.__row_id__ ORDER BY a.__row_id__""".stripMargin
      },
      // fill_value: qty's hole fills with 100 against the never-NULL pos
      "e11_addfv" -> matSql(j => F(s"coalesce(q$j, 100.0) + p$j")),
      // corrwith: DuckDB corr already drops NULL pairs (the pandas
      // pairwise contract); 1-row Series-shaped result
      "e11_cwith" ->
        (s"$W SELECT ${J.map(j =>
          s"round(corr(q$j, e$j), 6) AS c$j").mkString(", ")} FROM w"),
      // combine_first: q's holes take pos's value
      "e11_combf" -> matSql(j => F(s"coalesce(q$j, p$j)")),
      // span/halflife mirrors: the weight base is the IDENTICAL double
      // expression the compiler evaluates (α = 2/(span+1), resp.
      // 1 − exp(ln½/halflife) — exp/ln may differ from the JVM by an
      // ulp, absorbed by the 5-dp quantum like the other deep decays)
      "e11_ewspan" -> ewmMeanOracle("1.0 - 2.0/(20.0 + 1.0)", 280, dp = 5),
      "e11_ewhl" ->
        ewmMeanOracle("1.0 - (1.0 - exp(ln(0.5)/8.0))", 320, dp = 5),
      "e11_ewmp" -> ewmMeanOracle("1.0 - 1.0/1.3", 40, minp = 6),
      "e11_ewadj" -> ewmAdjOracle(0.5, 40, "mean"),
      "e11_ewadjv" -> ewmAdjOracle(0.5, 40, "var"),
      "e11_emp" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        F(s"CASE WHEN count(q$j) $w >= 3 " +
          s"THEN sum(q$j) $w / count(q$j) $w END")
      },
      "e11_empc" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        F(s"CASE WHEN row_number() OVER (ORDER BY __row_id__) >= 2 " +
          s"THEN CAST(count(q$j) $w AS DOUBLE) END")
      },
      // rolling min_periods mirrors: DuckDB window aggregates skip NULLs
      // natively, partial leading frames come free with ROWS BETWEEN
      "e11_rmp" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 4 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w >= 2 " +
          s"THEN sum(q$j) $w / count(q$j) $w END, 6)")
      },
      "e11_rmpc" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 2 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"CAST(count(q$j) $w AS DOUBLE)")
      },
      "e11_rmpv" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 3 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w >= 2 " +
          s"THEN var_samp(q$j) $w END, 6)")
      },
      // centered window mirror: n = 7, lead = 3 → 3 PRECEDING..3
      // FOLLOWING; count(qj) = 7 enforces both in-bounds AND all-valid
      // (the default-min_periods full-window gate)
      "e11_rctr" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 3 PRECEDING " +
          "AND 3 FOLLOWING)"
        F(s"round(CASE WHEN count(q$j) $w = 7 " +
          s"THEN sum(q$j) $w / count(q$j) $w END, 6)")
      },
      // r11 mirrors: quantile_cont IS pandas' linear interpolation;
      // skewness/kurtosis match pandas' G1/G2 sample estimators, with
      // the pandas 2.x degenerate windows CASE'd explicitly (DuckDB
      // yields NULL on constant windows where pandas reads 0 / −3, and
      // computes through near-constant ones where pandas NaNs at
      // var_pop ≤ 1e-14)
      "e11_rq" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 3 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w >= 2 " +
          s"THEN quantile_cont(q$j, 0.25) $w END, 6)")
      },
      // r11 interpolation mirrors: list(x) OVER w skips NULLs like the
      // engine's valid-cell window; the sorted list indexed at
      // floor/ceil/round of h = (cnt−1)·q is the order statistic itself
      "e11_rqmid" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 4 PRECEDING " +
          "AND CURRENT ROW)"
        val ls = s"list_sort(list(q$j) $w)"
        val cnt = s"count(q$j) $w"
        val lo = s"$ls[CAST(floor(($cnt - 1) * 0.6) AS INT) + 1]"
        val hi = s"$ls[CAST(ceil(($cnt - 1) * 0.6) AS INT) + 1]"
        F(s"round(CASE WHEN $cnt >= 2 THEN ($lo + $hi) / 2.0 END, 6)")
      },
      "e11_rqnear" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 4 PRECEDING " +
          "AND CURRENT ROW)"
        val ls = s"list_sort(list(q$j) $w)"
        val cnt = s"count(q$j) $w"
        val nr = s"$ls[CAST(round(($cnt - 1) * 0.6) AS INT) + 1]"
        F(s"round(CASE WHEN $cnt >= 2 THEN $nr END, 6)")
      },
      // rolling rank mirror: less/eq counts against the window list
      // (lambda captures the row's own cell; NULL comparisons drop out)
      "e11_rrank" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 3 PRECEDING " +
          "AND CURRENT ROW)"
        val less = s"len(list_filter(list(q$j) $w, y -> y < q$j))"
        val eq = s"len(list_filter(list(q$j) $w, y -> y = q$j))"
        F(s"round(CASE WHEN count(q$j) $w >= 2 AND q$j IS NOT NULL " +
          s"THEN ($less) + (($eq) + 1.0) / 2.0 END, 6)")
      },
      "e11_rskew" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 4 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w >= 3 THEN " +
          s"CASE WHEN min(q$j) $w = max(q$j) $w THEN 0.0 " +
          s"WHEN var_pop(q$j) $w <= 1e-14 THEN NULL " +
          s"ELSE skewness(q$j) $w END END, 5)")
      },
      "e11_rkurt" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 5 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w >= 4 THEN " +
          s"CASE WHEN min(q$j) $w = max(q$j) $w THEN -3.0 " +
          s"WHEN var_pop(q$j) $w <= 1e-14 THEN NULL " +
          s"ELSE kurtosis(q$j) $w END END, 5)")
      },
      // sem: std(ddof=1)/sqrt(count − 1) — the pandas window denominator
      "e11_rsem" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 3 PRECEDING " +
          "AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w >= 2 THEN " +
          s"stddev_samp(q$j) $w / sqrt(count(q$j) $w - 1) END, 6)")
      },
      "e11_esem" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w >= 2 THEN " +
          s"stddev_samp(q$j) $w / sqrt(count(q$j) $w - 1) END, 6)")
      },
      // r12 expanding order statistics: quantile_cont IS pandas' linear
      // interpolation; the unbounded-preceding window skips NULLs like
      // the engine's valid-cell prefix
      "e11_emed" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w >= 1 " +
          s"THEN CAST(median(q$j) $w AS DOUBLE) END, 6)")
      },
      "e11_eq" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        F(s"round(CASE WHEN count(q$j) $w >= 2 " +
          s"THEN quantile_cont(q$j, 0.25) $w END, 6)")
      },
      // pairwise cov/corr: DuckDB's covar_samp/corr already skip rows
      // where either side is NULL — the gate counts the valid PAIRS
      // (the pandas 2.2 contract; corr's variances are pair-masked too)
      "e11_rcov" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 2 PRECEDING " +
          "AND CURRENT ROW)"
        val p = s"count(CASE WHEN q$j IS NOT NULL AND e$j IS NOT NULL " +
          s"THEN 1 END) $w"
        F(s"round(CASE WHEN $p = 3 THEN covar_samp(q$j, e$j) $w END, 6)")
      },
      "e11_rcorr" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN 3 PRECEDING " +
          "AND CURRENT ROW)"
        val p = s"count(CASE WHEN q$j IS NOT NULL AND e$j IS NOT NULL " +
          s"THEN 1 END) $w"
        F(s"round(CASE WHEN $p >= 2 THEN corr(q$j, e$j) $w END, 6)")
      },
      // the + 1e-9 mirrors the Spark side's ε-nudged rounding (boundary-
      // tie covariances — see the e11_ecov queries() entry)
      "e11_ecov" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        val p = s"count(CASE WHEN q$j IS NOT NULL AND e$j IS NOT NULL " +
          s"THEN 1 END) $w"
        F(s"round((CASE WHEN $p >= 2 THEN covar_samp(q$j, e$j) $w END) " +
          "+ 1e-9, 6)")
      },
      "e11_ecorr" -> matSql { j =>
        val w = "OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        val p = s"count(CASE WHEN q$j IS NOT NULL AND e$j IS NOT NULL " +
          s"THEN 1 END) $w"
        F(s"round(CASE WHEN $p >= 2 THEN corr(q$j, e$j) $w END, 6)")
      },
      // skipna=0: a column/prefix/row with any NULL hole reads NaN
      // (→ 0.0 through the V4 fill)
      "e11_sumsk" ->
        (s"$W SELECT ${J.map(j =>
          s"CASE WHEN count(*) > count(q$j) THEN 0.0 " +
            s"ELSE coalesce(sum(q$j),0.0) END AS c$j").mkString(", ")} " +
          "FROM w"),
      "e11_cumsk" -> (s"$W SELECT __row_id__, " +
        J.map(j => ("CASE WHEN sum(CASE WHEN q$j IS NULL THEN 1 ELSE 0 " +
          "END) OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW) > 0 THEN 0.0 ELSE " +
          "sum(q$j) OVER (ORDER BY __row_id__ ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW) END AS c$j")
          .replace("$j", j.toString)).mkString(", ") +
        " FROM w ORDER BY __row_id__"),
      "e11_hsumsk" -> {
        val anyNull = J.map(j => s"q$j IS NULL").mkString(" OR ")
        val s = J.map(j => s"q$j").mkString(" + ")
        s"""$W SELECT __row_id__, CASE WHEN $anyNull THEN 0.0 """ +
          s"""ELSE ($s) END AS "0" FROM w ORDER BY __row_id__"""
      },
      // dot = matmul (alias): identical mirror to e12_matmat
      "e11_dot" -> (s"$W SELECT __row_id__, " +
        F(J.map(j => s"q$j * $j.0").mkString(" + ")) + " AS d1, " +
        F(J.map(j => s"q$j * ${j * j}.0").mkString(" + ")) + " AS d2 " +
        "FROM w ORDER BY __row_id__"),
      // zro cells are never NULL (coalesced), so bool_or/bool_and run the
      // plain truthiness fold; coalesce mirrors the engine's empty edges
      "e11_any" ->
        s"$W SELECT ${J.map(j => s"coalesce(bool_or(z$j <> 0), false) AS c$j").mkString(", ")} FROM w",
      "e11_all" ->
        s"$W SELECT ${J.map(j => s"coalesce(bool_and(z$j <> 0), true) AS c$j").mkString(", ")} FROM w",
      "e11_max" ->
        s"$W SELECT ${J.map(j => s"CAST(max(q$j) AS DOUBLE) AS c$j").mkString(", ")} FROM w",
      "e11_count" ->
        s"$W SELECT ${J.map(j => s"CAST(count(q$j) AS DOUBLE) AS c$j").mkString(", ")} FROM w",
      "e11_median" ->
        s"$W SELECT ${J.map(j => s"CAST(median(q$j) AS DOUBLE) AS c$j").mkString(", ")} FROM w",
      "e11_std" ->
        s"$W SELECT ${J.map(j => s"round(stddev_samp(q$j), 6) AS c$j").mkString(", ")} FROM w",
      "e11_var" ->
        s"$W SELECT ${J.map(j => s"round(var_samp(q$j), 6) AS c$j").mkString(", ")} FROM w",
      "e11_quantile" ->
        s"$W SELECT ${J.map(j => s"CAST(quantile_cont(q$j, 0.75) AS DOUBLE) AS c$j").mkString(", ")} FROM w",
      // r11 order-statistic interpolations: the sorted valid-cell list
      // indexed at floor/round/ceil of h = (count−1)·0.6 IS the order
      // statistic (list() FILTERed to non-NULL; count() skips them too,
      // so index and length agree)
      "e11_qlow" -> (s"$W SELECT " + J.map { j =>
        val ls = s"list_sort(list(q$j) FILTER (q$j IS NOT NULL))"
        s"CAST($ls[CAST(floor((count(q$j) - 1) * 0.6) AS INT) + 1] " +
          s"AS DOUBLE) AS c$j"
      }.mkString(", ") + " FROM w"),
      "e11_qnear" -> (s"$W SELECT " + J.map { j =>
        val ls = s"list_sort(list(q$j) FILTER (q$j IS NOT NULL))"
        s"CAST($ls[CAST(round((count(q$j) - 1) * 0.6) AS INT) + 1] " +
          s"AS DOUBLE) AS c$j"
      }.mkString(", ") + " FROM w"),
      "e11_qmidp" -> (s"$W SELECT " + J.map { j =>
        val ls = s"list_sort(list(q$j) FILTER (q$j IS NOT NULL))"
        val lo = s"$ls[CAST(floor((count(q$j) - 1) * 0.6) AS INT) + 1]"
        val hi = s"$ls[CAST(ceil((count(q$j) - 1) * 0.6) AS INT) + 1]"
        s"CAST(($lo + $hi) / 2.0 AS DOUBLE) AS c$j"
      }.mkString(", ") + " FROM w"),
      // .agg mirrors: the single name is the method's own oracle; the
      // list form unions the per-function 1-row reductions with the
      // function name as the row id (the describe pattern)
      // axis=1 mirrors: per-row expressions over q1..q4 in the engine's
      // own left-associated order (identical IEEE chains)
      // interpolate mirror: positions are row_number over the row-id
      // order; forward neighbor via last_value IGNORE NULLS over the
      // preceding frame, backward via first_value over the following;
      // the blend is the engine's own formula (pv + (nv−pv)·Δ/gap),
      // leading holes NULL (→ fill 0), trailing holes carry forward
      "e11_interp" -> {
        val pcols = J.map(j => s"q$j").mkString(", ")
        val nbrs = J.flatMap { j =>
          val vp = s"CASE WHEN q$j IS NOT NULL THEN pos END"
          Seq(
            s"last_value($vp IGNORE NULLS) OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS fp$j",
            s"last_value(q$j IGNORE NULLS) OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS fv$j",
            s"first_value($vp IGNORE NULLS) OVER (ORDER BY pos ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bp$j",
            s"first_value(q$j IGNORE NULLS) OVER (ORDER BY pos ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bv$j")
        }.mkString(", ")
        val outs = J.map { j =>
          F(s"round(CASE WHEN q$j IS NOT NULL THEN q$j " +
            s"WHEN fp$j IS NULL THEN NULL " +
            s"WHEN bp$j IS NULL THEN fv$j " +
            s"ELSE fv$j + (bv$j - fv$j) * (pos - fp$j) / (bp$j - fp$j) " +
            s"END, 6)") + s" AS c$j"
        }.mkString(", ")
        s"$W, p AS (SELECT __row_id__, $pcols, " +
          "CAST(row_number() OVER (ORDER BY __row_id__) AS DOUBLE) AS pos " +
          "FROM w), d AS (SELECT *, " + nbrs + " FROM p) " +
          s"SELECT __row_id__, $outs FROM d ORDER BY __row_id__"
      },
      // describe(percentiles=) mirror: the quartile rows of e11_desc with
      // the percentile rows computed by explicit sorted-list indexing in
      // Spark Percentile's own formula (v_lo + frac·(v_hi − v_lo))
      "e11_descp" -> {
        def pctRow(lbl: String, q: Double) = {
          val cells = J.map { j =>
            val arr = s"list_sort(list(q$j) FILTER (q$j IS NOT NULL))"
            val h = s"((count(q$j) - 1) * $q)"
            val lo = s"$arr[CAST(floor($h) AS INT) + 1]"
            val hi = s"$arr[CAST(ceil($h) AS INT) + 1]"
            s"round($lo + ($h - floor($h)) * ($hi - $lo), 6) AS c$j"
          }.mkString(", ")
          s"SELECT '$lbl' AS __row_id__, $cells FROM w"
        }
        s"$W SELECT * FROM (" +
          s"SELECT 'count' AS __row_id__, ${J.map(j => s"round(CAST(count(q$j) AS DOUBLE), 6) AS c$j").mkString(", ")} FROM w UNION ALL " +
          s"SELECT 'mean' AS __row_id__, ${J.map(j => s"round(avg(q$j), 6) AS c$j").mkString(", ")} FROM w UNION ALL " +
          s"SELECT 'std' AS __row_id__, ${J.map(j => s"round(stddev_samp(q$j), 6) AS c$j").mkString(", ")} FROM w UNION ALL " +
          s"SELECT 'min' AS __row_id__, ${J.map(j => s"round(CAST(min(q$j) AS DOUBLE), 6) AS c$j").mkString(", ")} FROM w UNION ALL " +
          pctRow("10%", 0.1) + " UNION ALL " + pctRow("50%", 0.5) +
          " UNION ALL " + pctRow("90%", 0.9) + " UNION ALL " +
          s"SELECT 'max' AS __row_id__, ${J.map(j => s"round(CAST(max(q$j) AS DOUBLE), 6) AS c$j").mkString(", ")} FROM w" +
          ") ORDER BY __row_id__"
      },
      "e11_hcum" -> matSql(j => F(
        s"CASE WHEN q$j IS NULL THEN NULL ELSE " +
          (1 to j).map(k => s"coalesce(q$k, 0)").mkString(" + ") + " END")),
      // DuckDB least() SKIPS NULLs (returns the other operand), so the
      // hole must stay NULL explicitly for the fill to zero it
      "e11_clipk" -> matSql(j => F(
        s"CASE WHEN q$j IS NULL THEN NULL ELSE least(q$j, 10) END")),
      "e11_replist" -> matSql(j => F(
        s"CASE WHEN q$j = 1 THEN 100 WHEN q$j = 5 THEN 500 ELSE q$j END")),
      "e11_hsum" -> {
        val s = J.map(j => s"coalesce(q$j, 0)").mkString(" + ")
        s"""$W SELECT __row_id__, ${F(s"($s)")} AS "0" FROM w ORDER BY __row_id__"""
      },
      "e11_hmean" -> {
        val s = J.map(j => s"coalesce(q$j, 0)").mkString(" + ")
        val n = J.map(j => s"CASE WHEN q$j IS NOT NULL THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""$W SELECT __row_id__, ${F(s"($s) / CAST($n AS DOUBLE)")} AS "0" FROM w ORDER BY __row_id__"""
      },
      "e11_hstd" -> {
        val s = J.map(j => s"coalesce(q$j, 0)").mkString(" + ")
        val n = s"CAST(${J.map(j => s"CASE WHEN q$j IS NOT NULL THEN 1 ELSE 0 END").mkString(" + ")} AS DOUBLE)"
        val m = s"(($s) / $n)"
        val ssd = J.map(j =>
          s"CASE WHEN q$j IS NULL THEN 0.0 ELSE (q$j - $m) * (q$j - $m) END")
          .mkString(" + ")
        s"""$W SELECT __row_id__, ${F(s"round(CASE WHEN $n >= 2 THEN sqrt(($ssd) / ($n - 1.0)) END, 6)")} AS "0" FROM w ORDER BY __row_id__"""
      },
      "e11_hmed" -> {
        val arr = s"list_sort(list_filter([${J.map(j => s"q$j").mkString(", ")}], x -> x IS NOT NULL))"
        val cnt = s"len($arr)"
        val odd = s"$arr[($cnt + 1) // 2]"
        val even = s"($arr[$cnt // 2] + $arr[$cnt // 2 + 1]) / 2.0"
        s"""$W SELECT __row_id__, ${F(s"CASE WHEN $cnt % 2 = 1 THEN $odd ELSE $even END")} AS "0" FROM w ORDER BY __row_id__"""
      },
      "e11_hcnt" -> {
        val n = J.map(j => s"CASE WHEN q$j IS NOT NULL THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""$W SELECT __row_id__, CAST($n AS DOUBLE) AS "0" FROM w ORDER BY __row_id__"""
      },
      // row-wise average rank: less + (eq+1)/2 per cell over the row
      // mates (integers — exact halves); NaN cells -> NULL -> fill 0
      "e11_hrank" -> matSql { j =>
        val less = J.map(k =>
          s"CASE WHEN q$k < q$j THEN 1 ELSE 0 END").mkString(" + ")
        val eq = J.map(k =>
          s"CASE WHEN q$k = q$j THEN 1 ELSE 0 END").mkString(" + ")
        F(s"CASE WHEN q$j IS NULL THEN NULL ELSE " +
          s"($less) + (($eq) + 1.0) / 2.0 END")
      },
      "e11_qlist" -> (s"$W SELECT * FROM (" +
        Seq(0.25, 0.5, 0.75).map(q =>
          s"SELECT CAST($q AS DOUBLE) AS __row_id__, " +
            J.map(j => s"CAST(quantile_cont(q$j, $q) AS DOUBLE) AS c$j")
              .mkString(", ") + " FROM w").mkString(" UNION ALL ") +
        ") ORDER BY __row_id__"),
      "e11_aggstr" ->
        s"$W SELECT ${J.map(j => s"CAST(median(q$j) AS DOUBLE) AS c$j").mkString(", ")} FROM w",
      "e11_agglist" -> (s"$W SELECT * FROM (" +
        s"SELECT 'max' AS __row_id__, ${J.map(j => s"round(CAST(max(q$j) AS DOUBLE), 6) AS c$j").mkString(", ")} FROM w " +
        "UNION ALL " +
        s"SELECT 'mean' AS __row_id__, ${J.map(j => s"round(avg(q$j), 6) AS c$j").mkString(", ")} FROM w " +
        "UNION ALL " +
        s"SELECT 'sum' AS __row_id__, ${J.map(j => s"round(coalesce(sum(q$j), 0.0), 6) AS c$j").mkString(", ")} FROM w" +
        ") ORDER BY __row_id__"),
      // prod over factors 2*(q%2)−1 ∈ {−1,1}: the sign is the parity of
      // the −1 count (rows with even q), NULL holes skipped (pandas
      // skipna) — integer-exact on both sides
      "e11_prod" -> (s"$W SELECT " +
        J.map(j => "CASE WHEN mod(coalesce(sum(" +
          s"CASE WHEN (q$j % 2) = 0 THEN 1 END), 0), 2) = 1 " +
          s"THEN -1.0 ELSE 1.0 END AS c$j").mkString(", ") + " FROM w"),
      // matmul: NaN/NULL holes propagate through the whole dot product on
      // both sides (any NULL qj nulls the sum in DuckDB; any NaN qj NaNs
      // it in the engine), then fill → 0. Integer-valued cells times
      // integer coefficients: exact in double regardless of add order.
      "e12_matmul" -> (s"$W SELECT __row_id__, " +
        F(J.map(j => s"q$j * ${j * 10}.0").mkString(" + ")) + " AS \"0\" " +
        "FROM w ORDER BY __row_id__"),
      "e12_matmat" -> (s"$W SELECT __row_id__, " +
        F(J.map(j => s"q$j * $j.0").mkString(" + ")) + " AS d1, " +
        F(J.map(j => s"q$j * ${j * j}.0").mkString(" + ")) + " AS d2 " +
        "FROM w ORDER BY __row_id__"),
      "e4_neg" -> matSql(j => F(s"-q$j + e$j")),
      "e11_norm" -> (s"$W, s AS (SELECT ${J.map(j => s"coalesce(sum(q$j),0.0) AS s$j").mkString(", ")} FROM w) " +
        s"SELECT __row_id__, ${J.map(j => s"${F(s"q$j / s.s$j")} AS c$j").mkString(", ")} " +
        "FROM w, s ORDER BY __row_id__"),
      "a1_align" ->
        ("""WITH x AS (SELECT o_orderkey AS rid, o_totalprice/100000.0 AS t FROM orders WHERE o_orderkey % 3 <> 0),
           |     y AS (SELECT o_orderkey AS rid, (o_custkey+1.0)/10.0 AS t FROM orders WHERE o_orderkey % 2 = 0)
           |SELECT coalesce(x.rid, y.rid) AS __row_id__,
           |       CASE WHEN x.t IS NULL OR y.t IS NULL THEN 0.0 ELSE x.t + y.t END AS t
           |FROM x FULL JOIN y ON x.rid = y.rid ORDER BY 1""".stripMargin),
      "a2_vec" -> matSql(j => F(s"q$j * ${j * 10}.0")),
      "a3_vecvec" ->
        s"SELECT ${J.map(j => s"CAST((${j}.0 + ${j * 10}.0) * 2 + ${j}.0 AS DOUBLE) AS c$j").mkString(", ")}",
      "v2_stats" ->
        (s"$W SELECT CAST(${J.map(j => s"sum(CASE WHEN q$j IS NULL THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS invalid_count, " +
          "CAST(count(*)*4 AS BIGINT) AS total_cells, " +
          s"${J.map(j => s"sum(CASE WHEN q$j IS NULL THEN 1 ELSE 0 END)").mkString(" + ")} > 0 AS has_nan, " +
          "FALSE AS has_inf FROM w"),
      "s1_ingest" ->
        ("SELECT c_custkey, LEAST(GREATEST(c_acctbal, 0), 5000)/100.0 AS bal " +
          "FROM customer ORDER BY c_custkey"),
      "x3_batch" -> matSql(j => F(s"(q$j + e$j) / p$j")),
      // star join mirror: dims may not be pre-registered as views →
      // read_parquet paths interpolated from the gate's sfDir
      "x5_star" ->
        s"""SELECT r_name, n_name,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          |       CAST(count(*) AS BIGINT) AS n_items
          |FROM lineitem
          |JOIN read_parquet('$sfDir/supplier.parquet') sup ON l_suppkey = s_suppkey
          |JOIN read_parquet('$sfDir/nation.parquet') nat ON s_nationkey = n_nationkey
          |JOIN read_parquet('$sfDir/region.parquet') reg ON n_regionkey = r_regionkey
          |JOIN read_parquet('$sfDir/part.parquet') prt ON l_partkey = p_partkey
          |WHERE p_size <= 20
          |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
      "adp_arith" -> matSql(j => s"CAST(z$j * 3 + z$j AS DOUBLE)"),
      // chained: r2 = fill(r1) / pos where r1 = fill(qty + price)
      "x4_chain" -> matSql(j => F(s"${F(s"q$j + e$j")} / p$j")),
      "x6_par" -> matSql(j => F(s"(q$j + e$j) / p$j")),
      "dd_exact" ->
        ("SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups " +
          "FROM documents GROUP BY 1 ORDER BY fp"),
      "dd_delta" ->
        ("""WITH hist AS (SELECT DISTINCT md5(text) AS fp FROM documents
           |              WHERE doc_id % 2 = 0)
           |SELECT d.doc_id, md5(d.text) AS fp,
           |       (md5(d.text) IN (SELECT fp FROM hist)) AS is_known
           |FROM documents d WHERE d.doc_id % 3 = 0
           |ORDER BY d.doc_id""".stripMargin),
      "dd_soft" ->
        ("SELECT doc_id, " +
          "CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies, " +
          "CAST(1.0 AS DOUBLE) / CAST(count(*) OVER (PARTITION BY md5(text)) " +
          "AS DOUBLE) AS weight FROM documents ORDER BY doc_id"),
      // decontamination: distinct corpus 3-grams left-joined to the distinct
      // benchmark n-gram set (benchmark = the doc_id % 53 = 7 slice)
      "dd_contam" ->
        s"""WITH bt AS (SELECT string_split(text, ' ') AS w FROM documents
           |            WHERE doc_id % 53 = 7),
           |bng AS (SELECT DISTINCT unnest($shingleList) AS ngram, 1 AS hit FROM bt),
           |ct AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           |       WHERE doc_id % 53 <> 7),
           |ex AS (SELECT doc_id, len(ngs) AS n_ngrams, unnest(ngs) AS ngram
           |       FROM (SELECT doc_id, list_distinct($shingleList) AS ngs FROM ct))
           |SELECT e.doc_id, CAST(max(e.n_ngrams) AS BIGINT) AS n_ngrams,
           |       CAST(count(b.hit) AS BIGINT) AS n_matched,
           |       round(count(b.hit)::DOUBLE / max(e.n_ngrams), 6) AS contam_ratio,
           |       count(b.hit)::DOUBLE / max(e.n_ngrams) >= 0.5 AS contaminated
           |FROM ex e LEFT JOIN bng b USING (ngram)
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "sim_cosine" -> cosineVsQuery,
      "sim_topk" -> (cosineCore + " ORDER BY sim DESC, vec_id LIMIT 25"),
      "sim_block" -> blockedPairs,
      "sim_knn" ->
        (s"""WITH ${blockedCtes(0.25)},
            |sym AS (SELECT id1 AS id, id2 AS nbr, sim FROM bp
            |        UNION ALL SELECT id2 AS id, id1 AS nbr, sim FROM bp),
            |r AS (SELECT id, nbr, sim,
            |        row_number() OVER (PARTITION BY id
            |          ORDER BY sim DESC, nbr) AS rn FROM sym)
            |SELECT id, nbr, sim FROM r WHERE rn <= 3
            |ORDER BY id, sim DESC, nbr""".stripMargin),
      "sim_nnd" -> simNnd,
      "sim_nndrecall" -> simNndRecall,
      "sim_lsh" -> simLsh,
      // hard-negative mirror: same LSH candidates at threshold 0.1, same
      // cross-label filter, same total (sim DESC, id1, id2) order
      "sim_hardneg" ->
        s"""WITH ${simLshCtes(0.1)},
           |lb AS (SELECT vec_id, label FROM embeddings)
           |SELECT p.id1, p.id2, p.sim, l1.label AS label1, l2.label AS label2
           |FROM pr p JOIN lb l1 ON p.id1 = l1.vec_id
           |          JOIN lb l2 ON p.id2 = l2.vec_id
           |WHERE l1.label <> l2.label
           |ORDER BY p.sim DESC, p.id1, p.id2 LIMIT 50""".stripMargin,
      // power iteration unrolled: decimal moment sums → rounded covariance
      // → two matrix-vector steps (products decimal-summed, vectors
      // re-rounded to 12 after each normalization) → projection rounded 6
      "sim_pca" ->
        """WITH e AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i
          |           FROM (SELECT vec_id, unnest(embedding) AS v,
          |                        generate_subscripts(embedding, 1) AS i
          |                 FROM embeddings)),
          |nn AS (SELECT count(*) AS n FROM embeddings),
          |s AS (SELECT i, sum(CAST(v AS DECIMAL(38,30))) AS s FROM e GROUP BY i),
          |mu AS (SELECT i, round(CAST(s AS DOUBLE) / n, 12) AS mu FROM s, nn),
          |m AS (SELECT a.i AS i, b.i AS j,
          |             sum(CAST(a.v * b.v AS DECIMAL(38,30))) AS m
          |      FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
          |cov AS (SELECT m.i, m.j,
          |               round(round(CAST(m.m AS DOUBLE) / nn.n, 12)
          |                     - mi.mu * mj.mu, 12) AS c
          |        FROM m JOIN mu mi ON m.i = mi.i JOIN mu mj ON m.j = mj.i
          |        CROSS JOIN nn),
          |v0 AS (SELECT i, round(1.0 / sqrt(64.0), 12) AS x
          |       FROM range(1, 65) t(i)),
          |w1 AS (SELECT cov.i,
          |              CAST(sum(CAST(cov.c * v0.x AS DECIMAL(38,30))) AS DOUBLE) AS w
          |       FROM cov JOIN v0 ON cov.j = v0.i GROUP BY 1),
          |n1 AS (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,30))) AS DOUBLE)) AS nrm
          |       FROM w1),
          |v1 AS (SELECT i, round(w / nrm, 12) AS x FROM w1, n1),
          |w2 AS (SELECT cov.i,
          |              CAST(sum(CAST(cov.c * v1.x AS DECIMAL(38,30))) AS DOUBLE) AS w
          |       FROM cov JOIN v1 ON cov.j = v1.i GROUP BY 1),
          |n2 AS (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,30))) AS DOUBLE)) AS nrm
          |       FROM w2),
          |v2 AS (SELECT i, round(w / nrm, 12) AS x FROM w2, n2),
          |p AS (SELECT e.vec_id,
          |             CAST(sum(CAST(e.v * v2.x AS DECIMAL(38,30))) AS DOUBLE) AS dt
          |      FROM e JOIN v2 ON e.i = v2.i GROUP BY 1)
          |SELECT vec_id, round(dt, 6) AS pc1 FROM p ORDER BY vec_id""".stripMargin,
      "sim_binq" ->
        (s"""WITH u AS (SELECT vec_id, unnest(embedding) AS e,
           |                  generate_subscripts(embedding, 1) AS i
           |           FROM read_parquet('$sfDir/embeddings.parquet')),
           |b AS (SELECT vec_id,
           |        CAST(sum(CASE WHEN e > 0 AND i <= 32
           |              THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)
           |          AS BIGINT) AS lo,
           |        CAST(sum(CASE WHEN e > 0 AND i > 32
           |              THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)
           |          AS BIGINT) AS hi
           |      FROM u GROUP BY 1),
           |p AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM b
           |      WHERE vec_id % 199 = 0),
           |pr AS (SELECT q_id, c.vec_id AS cand_id,
           |              bit_count(xor(c.lo, qlo)) +
           |                bit_count(xor(c.hi, qhi)) AS ham
           |       FROM b c, p WHERE c.vec_id % 199 <> 0),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                 ORDER BY ham, cand_id) AS rk FROM pr)
           |SELECT q_id, cand_id, CAST(ham AS INT) AS ham,
           |       CAST(rk AS INT) AS rk
           |FROM rk WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
      "sim_rerank" ->
        (s"""WITH u AS (SELECT vec_id, unnest(embedding) AS e,
           |                  generate_subscripts(embedding, 1) AS i
           |           FROM read_parquet('$sfDir/embeddings.parquet')),
           |b AS (SELECT vec_id,
           |        CAST(sum(CASE WHEN e > 0 AND i <= 32
           |              THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)
           |          AS BIGINT) AS lo,
           |        CAST(sum(CASE WHEN e > 0 AND i > 32
           |              THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)
           |          AS BIGINT) AS hi
           |      FROM u GROUP BY 1),
           |p AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM b
           |      WHERE vec_id % 199 = 0),
           |pr AS (SELECT q_id, c.vec_id AS cand_id,
           |              bit_count(xor(c.lo, qlo)) +
           |                bit_count(xor(c.hi, qhi)) AS ham
           |       FROM b c, p WHERE c.vec_id % 199 <> 0),
           |co AS (SELECT * FROM (SELECT *, row_number() OVER (
           |         PARTITION BY q_id ORDER BY ham, cand_id) AS crk FROM pr)
           |       WHERE crk <= 20),
           |dots AS (SELECT co.q_id, co.cand_id, co.ham,
           |           sum(CAST(CAST(eq.e AS DOUBLE) * CAST(ec.e AS DOUBLE)
           |               AS DECIMAL(38,30))) AS dt
           |         FROM co JOIN u eq ON eq.vec_id = co.q_id
           |                 JOIN u ec ON ec.vec_id = co.cand_id
           |                          AND ec.i = eq.i
           |         GROUP BY 1, 2, 3),
           |norms AS (SELECT vec_id,
           |            sum(CAST(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)
           |                AS DECIMAL(38,30))) AS nn
           |          FROM u GROUP BY 1),
           |scored AS (SELECT q_id, cand_id, ham,
           |             round(CAST(dt AS DOUBLE) /
           |               (sqrt(CAST(nq.nn AS DOUBLE)) *
           |                sqrt(CAST(nc.nn AS DOUBLE))), 6) AS sim
           |           FROM dots JOIN norms nq ON nq.vec_id = dots.q_id
           |                     JOIN norms nc ON nc.vec_id = dots.cand_id),
           |r2 AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |                 ORDER BY sim DESC, cand_id) AS rk FROM scored)
           |SELECT q_id, cand_id, CAST(ham AS INT) AS ham, sim,
           |       CAST(rk AS INT) AS rk
           |FROM r2 WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
      "sim_brecall" ->
        (s"""WITH u AS (SELECT vec_id, unnest(embedding) AS e,
           |                  generate_subscripts(embedding, 1) AS i
           |           FROM read_parquet('$sfDir/embeddings.parquet')),
           |b AS (SELECT vec_id,
           |        CAST(sum(CASE WHEN e > 0 AND i <= 32
           |              THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)
           |          AS BIGINT) AS lo,
           |        CAST(sum(CASE WHEN e > 0 AND i > 32
           |              THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)
           |          AS BIGINT) AS hi
           |      FROM u GROUP BY 1),
           |p AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM b
           |      WHERE vec_id % 199 = 0),
           |pr AS (SELECT q_id, c.vec_id AS cand_id,
           |              bit_count(xor(c.lo, qlo)) +
           |                bit_count(xor(c.hi, qhi)) AS ham
           |       FROM b c, p WHERE c.vec_id % 199 <> 0),
           |norms AS (SELECT vec_id,
           |            sum(CAST(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)
           |                AS DECIMAL(38,30))) AS nn
           |          FROM u GROUP BY 1),
           |co AS (SELECT * FROM (SELECT *, row_number() OVER (
           |         PARTITION BY q_id ORDER BY ham, cand_id) AS crk FROM pr)
           |       WHERE crk <= 20),
           |edots AS (SELECT pr.q_id, pr.cand_id,
           |           sum(CAST(CAST(eq.e AS DOUBLE) * CAST(ec.e AS DOUBLE)
           |               AS DECIMAL(38,30))) AS dt
           |         FROM pr JOIN u eq ON eq.vec_id = pr.q_id
           |                 JOIN u ec ON ec.vec_id = pr.cand_id
           |                          AND ec.i = eq.i
           |         GROUP BY 1, 2),
           |escored AS (SELECT q_id, cand_id,
           |             round(CAST(dt AS DOUBLE) /
           |               (sqrt(CAST(nq.nn AS DOUBLE)) *
           |                sqrt(CAST(nc.nn AS DOUBLE))), 6) AS sim
           |           FROM edots JOIN norms nq ON nq.vec_id = edots.q_id
           |                      JOIN norms nc ON nc.vec_id = edots.cand_id),
           |ftop AS (SELECT q_id, cand_id FROM (SELECT es.*,
           |           row_number() OVER (PARTITION BY es.q_id
           |             ORDER BY es.sim DESC, es.cand_id) AS rk
           |         FROM escored es JOIN co USING (q_id, cand_id))
           |         WHERE rk <= 5),
           |etop AS (SELECT q_id, cand_id FROM (SELECT *,
           |           row_number() OVER (PARTITION BY q_id
           |             ORDER BY sim DESC, cand_id) AS rk FROM escored)
           |         WHERE rk <= 5),
           |hits AS (SELECT q_id, count(*) AS n_hit
           |         FROM ftop JOIN etop USING (q_id, cand_id) GROUP BY 1)
           |SELECT p.q_id, CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
           |       round(CAST(coalesce(n_hit, 0) AS DOUBLE) / 5, 6) AS recall
           |FROM p LEFT JOIN hits ON hits.q_id = p.q_id
           |ORDER BY p.q_id""".stripMargin),
      "sim_quant" ->
        ("""WITH z AS (SELECT vec_id, embedding,
           |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))/127.0 AS scale
           |  FROM embeddings),
           |q AS (SELECT vec_id, scale,
           |  CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
           |       ELSE list_transform(embedding,
           |              x -> CAST(floor(CAST(x AS DOUBLE)/scale + 0.5) AS INT))
           |  END AS qv FROM z)
           |SELECT vec_id, scale, CAST(list_sum(qv) AS BIGINT) AS q_sum,
           |       md5(array_to_string(qv, ',')) AS q_fp
           |FROM q ORDER BY vec_id""".stripMargin),
      "sim_ivf" -> simIvf,
      // recall mirror: the full IVF statement and the exact top-25 as
      // scoped subqueries (their inner CTE names don't collide across
      // subquery scopes), intersected on vec_id
      "sim_recall" ->
        s"""WITH ivf AS ($simIvf),
           |ex AS (${cosineCore + " ORDER BY sim DESC, vec_id LIMIT 25"})
           |SELECT CAST(25 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_hit,
           |       round(CAST(count(*) AS DOUBLE) / 25, 6) AS recall
           |FROM ivf JOIN ex USING (vec_id)""".stripMargin,
      "clu_kmeans" -> cluKmeans,
      "sim_pq" -> simPq,
      "sim_adc" -> simAdc,
      "sim_pqrecall" -> simPqRecall,
      "sim_ivfpq" -> simIvfPq,
      "dd_semantic" -> ddSemantic,
      "clu_sample" ->
        (s"""WITH $kmeansCtes,
            |ranked AS (SELECT vec_id, cell,
            |       row_number() OVER (PARTITION BY cell
            |         ORDER BY ${hashU("vec_id")}, vec_id) AS rn
            |       FROM $kmeansAsgCte)
            |SELECT vec_id, cell FROM ranked WHERE rn <= 25
            |ORDER BY cell, vec_id""".stripMargin),
      "mm_features" -> mmFeatures,
      // analytic codec-roundtrip mirrors: predict what the byte-level
      // RIFF/BMP parse must recover from the deterministic synth params
      "mm_wav" ->
        (s"""SELECT doc_id AS media_id,
            |  CAST(16000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
            |  CAST(greatest(16, $tokSql * 16) AS INT) AS n_samples,
            |  round(CAST(greatest(16, $tokSql * 16) AS DOUBLE) * 1000.0
            |        / 16000.0, 6) AS duration_ms
            |FROM documents ORDER BY media_id""".stripMargin),
      "mm_bmp" ->
        ("""WITH d AS (SELECT doc_id AS id, 16 + doc_id % 17 AS w,
           |                  12 + doc_id % 11 AS h FROM documents),
           |cells AS (SELECT id, w, h,
           |    ((x.range * 255) // (w - 1) + id) % 256 AS v,
           |    ((y.range * 255) // (h - 1) + id * 3) % 256 AS u
           |  FROM d, range(0, 40) x, range(0, 30) y
           |  WHERE x.range < w AND y.range < h)
           |SELECT id AS media_id, CAST(w AS INT) AS width,
           |       CAST(h AS INT) AS height,
           |       round(avg(v), 9) AS mean_r, round(avg(u), 9) AS mean_g,
           |       round(avg((v + u) // 2), 9) AS mean_b
           |FROM cells GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin),
      "mm_png" ->
        ("""WITH d AS (SELECT doc_id AS id, 8 + doc_id % 13 AS w,
           |                  6 + doc_id % 7 AS h FROM documents),
           |cells AS (SELECT id, w, h,
           |    ((x.range * 255) // (w - 1) + id) % 256 AS v,
           |    ((y.range * 255) // (h - 1) + id * 3) % 256 AS u,
           |    (x.range + y.range + 7 * id) % 256 AS a
           |  FROM d, range(0, 20) x, range(0, 12) y
           |  WHERE x.range < w AND y.range < h)
           |SELECT id AS media_id, CAST(w AS INT) AS width,
           |       CAST(h AS INT) AS height,
           |       CAST(CASE WHEN id % 2 = 0 THEN 6 ELSE 2 END AS INT)
           |         AS color_type,
           |       round(avg(v), 9) AS mean_r, round(avg(u), 9) AS mean_g,
           |       round(avg((v + u) // 2), 9) AS mean_b,
           |       round(CASE WHEN id % 2 = 0 THEN avg(a) ELSE 255.0 END, 9)
           |         AS mean_a
           |FROM cells GROUP BY 1, 2, 3, 4 ORDER BY media_id""".stripMargin),
      "mm_gif" ->
        ("""WITH d AS (SELECT doc_id AS id, 10 + doc_id % 31 AS w,
           |                  8 + doc_id % 23 AS h FROM documents),
           |cells AS (SELECT id, w, h,
           |    (x.range * 7 + y.range * 11 + id) % 256 AS i
           |  FROM d, range(0, 41) x, range(0, 31) y
           |  WHERE x.range < w AND y.range < h)
           |SELECT id AS media_id, CAST(w AS INT) AS width,
           |       CAST(h AS INT) AS height, CAST(256 AS INT) AS gct_size,
           |       round(avg(i), 9) AS mean_r,
           |       round(avg((2 * i) % 256), 9) AS mean_g,
           |       round(avg((3 * i) % 256), 9) AS mean_b
           |FROM cells GROUP BY 1, 2, 3, 4 ORDER BY media_id""".stripMargin),
      // µ-law mirror: the exact G.711 expansion in integer SQL —
      // u = 255 − b; |pcm| = ((u%16)·8 + 132) · 2^((u//16)%8) − 132
      "mm_ulaw" ->
        (s"""WITH d AS (SELECT doc_id AS id,
           |              least(2048, greatest(16, $tokSql * 4)) AS n
           |            FROM documents),
           |s AS (SELECT id, n, (x.range * 7 + id) % 256 AS b
           |      FROM d, range(0, 2048) x WHERE x.range < n),
           |m AS (SELECT id, n,
           |        ((((255 - b) % 16) * 8 + 132) *
           |          (1 << (((255 - b) // 16) % 8))) - 132 AS mag
           |      FROM s)
           |SELECT id AS media_id, CAST(8000 AS INT) AS sample_rate,
           |       CAST(1 AS INT) AS channels, CAST(n AS INT) AS n_samples,
           |       round(avg(mag), 6) AS mean_abs, CAST(max(mag) AS INT) AS peak
           |FROM m GROUP BY 1, 2, 3, 4 ORDER BY media_id""".stripMargin),
      // A-law mirror: a = b XOR 0x55; |pcm| = mant·16+8 in segment 0,
      // (mant·16+264)·2^(exp−1) above
      "mm_alaw" ->
        (s"""WITH d AS (SELECT doc_id AS id,
           |              least(2048, greatest(16, $tokSql * 4)) AS n
           |            FROM documents),
           |s AS (SELECT id, n, xor(CAST((x.range * 11 + 3 * id) % 256 AS BIGINT),
           |                        CAST(85 AS BIGINT)) AS a
           |      FROM d, range(0, 2048) x WHERE x.range < n),
           |m AS (SELECT id, n,
           |        CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
           |             ELSE ((a % 16) * 16 + 264) * (1 << ((a // 16) % 8 - 1))
           |        END AS mag
           |      FROM s)
           |SELECT id AS media_id, CAST(8000 AS INT) AS sample_rate,
           |       CAST(1 AS INT) AS channels, CAST(n AS INT) AS n_samples,
           |       round(avg(mag), 6) AS mean_abs, CAST(max(mag) AS INT) AS peak
           |FROM m GROUP BY 1, 2, 3, 4 ORDER BY media_id""".stripMargin),
      "mm_tiff" ->
        ("""WITH d AS (SELECT doc_id AS id, 9 + doc_id % 19 AS w,
           |                  7 + doc_id % 13 AS h FROM documents),
           |cells AS (SELECT id, w, h,
           |    (x.range * 5 + id) % 256 AS r,
           |    (y.range * 7 + 2 * id) % 256 AS g,
           |    (x.range + y.range + 3 * id) % 256 AS b
           |  FROM d, range(0, 28) x, range(0, 20) y
           |  WHERE x.range < w AND y.range < h)
           |SELECT id AS media_id, CAST(w AS INT) AS width,
           |       CAST(h AS INT) AS height, CAST(3 AS INT) AS samples_per_pixel,
           |       round(avg(r), 9) AS mean_r, round(avg(g), 9) AS mean_g,
           |       round(avg(b), 9) AS mean_b
           |FROM cells GROUP BY 1, 2, 3, 4 ORDER BY media_id""".stripMargin),
      // baseline JPEG mirror: blockwise-constant DC-only synthesis means
      // the decoded pixels are exact integers — the oracle rebuilds each
      // block's (Y, Cb, Cr) from the same formulas and mirrors the
      // decoder's 16.16 fixed-point color transform (floor division =
      // the arithmetic >> 16). Block-aligned dims, so block avg = pixel avg.
      "mm_jpeg" ->
        (s"""WITH d AS (SELECT doc_id AS id, 8*(2 + doc_id % 4) AS w,
           |                   8*(1 + doc_id % 3) AS h
           |            FROM documents),
           |blocks AS (
           |  SELECT id, w, h, bx.range AS bx, by.range AS by
           |  FROM d, range(0, 5) bx, range(0, 3) by
           |  WHERE bx.range < w // 8 AND by.range < h // 8),
           |c AS (SELECT id, w, h,
           |        (bx*17 + by*29 + id) % 256 AS y,
           |        (bx*5 + by*3 + 2*id) % 256 AS cb,
           |        (bx*11 + by*7 + 3*id) % 256 AS cr
           |      FROM blocks),
           |rgb AS (SELECT id, w, h,
           |  CASE WHEN id % 2 = 1 THEN y ELSE greatest(0, least(255,
           |    y + CAST(floor((91881*(cr-128)) / 65536.0) AS BIGINT))) END AS r,
           |  CASE WHEN id % 2 = 1 THEN y ELSE greatest(0, least(255,
           |    y - CAST(floor((22554*(cb-128) + 46802*(cr-128)) / 65536.0)
           |        AS BIGINT))) END AS g,
           |  CASE WHEN id % 2 = 1 THEN y ELSE greatest(0, least(255,
           |    y + CAST(floor((116130*(cb-128)) / 65536.0) AS BIGINT))) END AS b
           |  FROM c)
           |SELECT id AS media_id, CAST(w AS INT) AS width,
           |       CAST(h AS INT) AS height,
           |       CAST(CASE WHEN id % 2 = 1 THEN 1 ELSE 3 END AS INT)
           |         AS n_components,
           |       round(avg(r), 9) AS mean_r, round(avg(g), 9) AS mean_g,
           |       round(avg(b), 9) AS mean_b
           |FROM rgb GROUP BY 1, 2, 3, 4 ORDER BY media_id""".stripMargin),
      // FLAC is lossless, so the oracle rebuilds the synth PCM directly
      // (constant signal for every fifth doc, sawtooth otherwise) — the
      // decode must recover it bit-exactly through the Rice/fixed-
      // predictor machinery for the content stats to hash-match
      "mm_flac" ->
        (s"""WITH d AS (SELECT doc_id AS id,
           |              least(2048, greatest(16, $tokSql * 4)) AS n
           |            FROM documents),
           |s AS (SELECT id, n,
           |        CASE WHEN id % 5 = 0 THEN ((id % 100) - 50) * 100
           |             ELSE (((x.range * 7 + id) % 256) - 128) * 64
           |        END AS v
           |      FROM d, range(0, 2048) x WHERE x.range < n)
           |SELECT id AS media_id, CAST(8000 AS INT) AS sample_rate,
           |       CAST(1 AS INT) AS channels, CAST(16 AS INT) AS bits,
           |       CAST(n AS INT) AS n_samples,
           |       round(avg(abs(v)), 6) AS mean_abs,
           |       CAST(max(abs(v)) AS INT) AS peak
           |FROM s GROUP BY 1, 2, 3, 4, 5 ORDER BY media_id""".stripMargin),
      // gap sessionization over events: lag/sum windows then per-session agg
      // in epoch-microsecond BIGINTs (mirrors Sessionize.batch; 30-min gap).
      // read_parquet by interpolated path: an `events` view may not be
      // pre-registered by the gate.
      "ev_json" ->
        (s"""WITH e AS (SELECT event_type,
           |        CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '')
           |             AS BIGINT) AS k
           |      FROM read_parquet('$sfDir/events.parquet'))
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |       CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k,
           |       round(avg(k), 6) AS avg_k,
           |       CAST(min(k) AS BIGINT) AS min_k,
           |       CAST(max(k) AS BIGINT) AS max_k
           |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),
      // typed nested-JSON mirrors: construct the byte-identical document,
      // then take it apart with DuckDB's own JSON machinery (json_extract
      // paths and a BIGINT[] cast of the array field)
      "ev_jstruct" ->
        (s"""WITH e AS (SELECT
           |        '{"m":{"k":' ||
           |          coalesce(regexp_extract(props, '"k":\\s*(\\d+)', 1), 'null') ||
           |          ',"t":"' || event_type || '"},"vals":[' ||
           |          (event_id % 7) || ',' || (event_id * 3 % 11) || ',' ||
           |          (event_id * 5 % 13) || ']}' AS js
           |      FROM read_parquet('$sfDir/events.parquet')),
           |p AS (SELECT
           |        CAST(js -> '$$.m' ->> 'k' AS BIGINT) AS k,
           |        js -> '$$.m' ->> 't' AS t,
           |        CAST(js -> '$$.vals' AS BIGINT[]) AS vals
           |      FROM e)
           |SELECT t, CAST(count(*) AS BIGINT) AS n,
           |       CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k,
           |       CAST(sum(len(vals)) AS BIGINT) AS n_vals,
           |       CAST(coalesce(sum(vals[1]), 0) AS BIGINT) AS sum_v0
           |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
      "ev_jarr" ->
        (s"""WITH e AS (SELECT
           |        '{"vals":[' ||
           |          (event_id % 7) || ',' || (event_id * 3 % 11) || ',' ||
           |          (event_id * 5 % 13) || ']}' AS js
           |      FROM read_parquet('$sfDir/events.parquet')),
           |v AS (SELECT CAST(js -> '$$.vals' AS BIGINT[]) AS vals FROM e),
           |x AS (SELECT unnest(vals) AS v,
           |             generate_subscripts(vals, 1) - 1 AS pos
           |      FROM v)
           |SELECT CAST(pos AS INT) AS pos, CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(v) AS BIGINT) AS sum_v,
           |       round(avg(v), 6) AS avg_v
           |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),
      "ev_sessions" ->
        s"""WITH x AS (SELECT user_id, event_id, value, epoch_us(ts) AS tu,
          |                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pu
          |           FROM read_parquet('$sfDir/events.parquet')),
          |y AS (SELECT *, CASE WHEN pu IS NULL OR tu - pu > 1800000000 THEN 1 ELSE 0 END AS ns FROM x),
          |z AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY tu, event_id
          |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM y)
          |SELECT user_id, session_idx, min(tu) AS session_start, max(tu) AS session_end,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM z GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,
      // backward as-of join mirror: DuckDB's native ASOF LEFT JOIN (right
      // side pre-deduped to one row per (user, µs) — latest event_id wins —
      // so the match is unambiguous in both engines)
      "aj_asof" ->
        s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tu, value
          |            FROM read_parquet('$sfDir/events.parquet')),
          |l AS (SELECT * FROM ev WHERE event_id % 2 = 1),
          |r0 AS (SELECT *, row_number() OVER (PARTITION BY user_id, tu ORDER BY event_id DESC) AS rn
          |       FROM ev WHERE event_id % 2 = 0),
          |r AS (SELECT user_id, event_id AS r_event_id, tu AS r_tu, value AS r_value
          |      FROM r0 WHERE rn = 1)
          |SELECT l.event_id, l.user_id, l.tu, l.value, r.r_event_id, r.r_tu, r.r_value
          |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tu >= r.r_tu
          |ORDER BY l.event_id""".stripMargin,
      // forward as-of mirror: DuckDB ASOF supports the <= direction natively
      "aj_fwd" ->
        s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tu, value
          |            FROM read_parquet('$sfDir/events.parquet')),
          |l AS (SELECT * FROM ev WHERE event_id % 2 = 1),
          |r0 AS (SELECT *, row_number() OVER (PARTITION BY user_id, tu ORDER BY event_id DESC) AS rn
          |       FROM ev WHERE event_id % 2 = 0),
          |r AS (SELECT user_id, event_id AS r_event_id, tu AS r_tu, value AS r_value
          |      FROM r0 WHERE rn = 1)
          |SELECT l.event_id, l.user_id, l.tu, l.value, r.r_event_id, r.r_tu, r.r_value
          |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tu <= r.r_tu
          |ORDER BY l.event_id""".stripMargin,
      // nearest as-of mirror: backward and forward ASOF joins, then pick
      // the closer side (ties to backward; a missing side loses)
      "aj_near" ->
        s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tu, value
          |            FROM read_parquet('$sfDir/events.parquet')),
          |l AS (SELECT * FROM ev WHERE event_id % 2 = 1),
          |r0 AS (SELECT *, row_number() OVER (PARTITION BY user_id, tu ORDER BY event_id DESC) AS rn
          |       FROM ev WHERE event_id % 2 = 0),
          |r AS (SELECT user_id, event_id AS r_event_id, tu AS r_tu, value AS r_value
          |      FROM r0 WHERE rn = 1),
          |b AS (SELECT l.event_id, r.r_event_id AS b_eid, r.r_tu AS b_tu, r.r_value AS b_val
          |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tu >= r.r_tu),
          |f AS (SELECT l.event_id, r.r_event_id AS f_eid, r.r_tu AS f_tu, r.r_value AS f_val
          |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tu <= r.r_tu),
          |j AS (SELECT l.*, b_eid, b_tu, b_val, f_eid, f_tu, f_val,
          |             (f_tu IS NULL OR (b_tu IS NOT NULL AND l.tu - b_tu <= f_tu - l.tu)) AS use_b
          |      FROM l JOIN b USING (event_id) JOIN f USING (event_id))
          |SELECT event_id, user_id, tu, value,
          |       CASE WHEN use_b THEN b_eid ELSE f_eid END AS r_event_id,
          |       CASE WHEN use_b THEN b_tu  ELSE f_tu  END AS r_tu,
          |       CASE WHEN use_b THEN b_val ELSE f_val END AS r_value
          |FROM j ORDER BY event_id""".stripMargin,
      // range join mirror: plain BETWEEN theta join (the bucketing is an
      // execution strategy, not a semantic change)
      "rj_range" ->
        """WITH bands AS (SELECT CAST(range AS INTEGER) AS band_id,
          |                      range*50000.0 AS lo, (range+1)*50000.0 AS hi
          |               FROM range(10))
          |SELECT band_id, lo, hi, CAST(count(*) AS BIGINT) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
          |GROUP BY 1, 2, 3 ORDER BY band_id""".stripMargin,
      "j_semi" ->
        ("SELECT c_custkey, c_acctbal FROM customer " +
          "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
          "ORDER BY c_custkey"),
      "j_anti" ->
        ("SELECT c_custkey, c_acctbal FROM customer " +
          "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
          "AND o_totalprice > 300000) ORDER BY c_custkey"),
      // the bucketed layout must not change a single value: the oracle is
      // the plain join over the raw parquet
      "j_bucket" ->
        """SELECT c_custkey, c_mktsegment, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1, 2 HAVING count(*) >= 10 ORDER BY c_custkey""".stripMargin,
      "w_topk" ->
        """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_custkey
          |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
      "w_moving" ->
        """SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS od_ms, o_totalprice,
          |       lag(o_totalprice) OVER w AS prev_price,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER wr AS DOUBLE) AS run_total,
          |       CAST(count(*) OVER wr AS BIGINT) AS n_so_far
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate), o_orderkey),
          |       wr AS (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate), o_orderkey
          |              ROWS UNBOUNDED PRECEDING)
          |ORDER BY o_custkey, od_ms, o_orderkey""".stripMargin,
      "g_rollup" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |       CAST(count(*) AS BIGINT) AS n_items
          |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
          |ORDER BY rf, ls""".stripMargin,
      "g_cube" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |       CAST(count(*) AS BIGINT) AS n_items
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY rf, ls""".stripMargin,
      "g_sets" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |       CAST(count(*) AS BIGINT) AS n_items
          |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY rf, ls""".stripMargin,
      "txt_quantile" -> {
        val dens = s"round(CAST($tokSql AS DOUBLE) / CAST(length(text) AS DOUBLE), 6)"
        val lang =
          s"CASE WHEN GREATEST(${scoreSql("en")}, ${scoreSql("es")}, ${scoreSql("de")}, ${scoreSql("fr")}) = 0 THEN 'und' " +
            s"WHEN ${scoreSql("en")} >= ${scoreSql("es")} AND ${scoreSql("en")} >= ${scoreSql("de")} AND ${scoreSql("en")} >= ${scoreSql("fr")} THEN 'en' " +
            s"WHEN ${scoreSql("es")} >= ${scoreSql("de")} AND ${scoreSql("es")} >= ${scoreSql("fr")} THEN 'es' " +
            s"WHEN ${scoreSql("de")} >= ${scoreSql("fr")} THEN 'de' ELSE 'fr' END"
        s"""WITH j AS (SELECT doc_id, $dens AS token_density, $lang AS lang_pred FROM documents),
           |r AS (SELECT lang_pred, token_density,
           |             row_number() OVER (PARTITION BY lang_pred ORDER BY token_density, doc_id) AS rn,
           |             count(*) OVER (PARTITION BY lang_pred) AS cnt
           |      FROM j)
           |SELECT lang_pred,
           |       max(CASE WHEN rn = ceil(cnt * 0.25) THEN token_density END) AS p25,
           |       max(CASE WHEN rn = ceil(cnt * 0.5) THEN token_density END) AS p50,
           |       max(CASE WHEN rn = ceil(cnt * 0.9) THEN token_density END) AS p90,
           |       CAST(max(cnt) AS BIGINT) AS n_docs
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
      },
      "set_ops" ->
        """WITH b AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
          |n AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
          |ords AS (SELECT o_custkey AS k FROM orders),
          |neg AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0),
          |u AS (SELECT k FROM b UNION SELECT k FROM n),
          |i AS (SELECT k FROM u INTERSECT SELECT k FROM ords),
          |x AS (SELECT k FROM i EXCEPT SELECT k FROM neg)
          |SELECT k FROM x ORDER BY k""".stripMargin,
      "ev_window" ->
        s"""SELECT epoch_us(ts) // 3600000000 AS win_hour, event_type,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM read_parquet('$sfDir/events.parquet')
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "ev_cohort" ->
        s"""WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
           |                   count(*) AS n_ev
           |            FROM read_parquet('$sfDir/events.parquet') GROUP BY 1, 2),
           |c AS (SELECT *, min(day) OVER (PARTITION BY user_id) AS cohort_day
           |      FROM ud)
           |SELECT cohort_day, day - cohort_day AS day_offset,
           |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |       CAST(sum(n_ev) AS BIGINT) AS n_events
           |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "ev_funnel" ->
        s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_type
           |           FROM read_parquet('$sfDir/events.parquet')),
           |s1 AS (SELECT user_id, min(tu) AS t1 FROM e
           |       WHERE event_type = 'view' GROUP BY 1),
           |s2 AS (SELECT e.user_id, min(tu) AS t2 FROM e JOIN s1 USING (user_id)
           |       WHERE event_type = 'click' AND tu > t1 GROUP BY 1),
           |s3 AS (SELECT e.user_id, min(tu) AS t3 FROM e JOIN s2 USING (user_id)
           |       WHERE event_type = 'purchase' AND tu > t2 GROUP BY 1),
           |n AS (SELECT (SELECT count(*) FROM s1) AS n1,
           |             (SELECT count(*) FROM s2) AS n2,
           |             (SELECT count(*) FROM s3) AS n3)
           |SELECT CAST(1 AS INT) AS step, 'view' AS event_type,
           |       CAST(n1 AS BIGINT) AS n_users,
           |       CAST(1.0 AS DOUBLE) AS conv_from_prev FROM n
           |UNION ALL
           |SELECT 2, 'click', CAST(n2 AS BIGINT),
           |       CASE WHEN n1 = 0 THEN 0.0
           |            ELSE round(n2::DOUBLE / n1, 6) END FROM n
           |UNION ALL
           |SELECT 3, 'purchase', CAST(n3 AS BIGINT),
           |       CASE WHEN n2 = 0 THEN 0.0
           |            ELSE round(n3::DOUBLE / n2, 6) END FROM n
           |ORDER BY step""".stripMargin,
      // skew-playbook mirrors: salting must be invisible in the result
      "sk_agg" ->
        ("SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, " +
          "CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1 ORDER BY 1"),
      "sk_join" ->
        (s"""SELECT p_size, CAST(count(*) AS BIGINT) AS n_items,
           |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM lineitem JOIN read_parquet('$sfDir/part.parquet') p
           |  ON l_partkey = p_partkey
           |WHERE p_size <= 10 GROUP BY 1 ORDER BY 1""".stripMargin),
      "dd_embed" -> ddEmbed,
      "dd_minhash" -> ddMinhash,
      "dd_jaccard" -> ddJaccard,
      "dd_edit" -> ddEdit,
      "dd_groups" -> ddGroups,
      "dd_simhash" -> ddSimhash,
      "txt_rolling" -> txtRolling,
      "txt_tokens" ->
        (s"SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, $tokSql AS n_tokens, " +
          s"CAST(length(text) - ($tokSql - 1) AS DOUBLE) / CAST($tokSql AS DOUBLE) AS avg_token_len " +
          "FROM documents ORDER BY doc_id"),
      "txt_quality" ->
        (s"SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, $tokSql AS n_tokens, " +
          s"round(CAST($stopCnt AS DOUBLE) / CAST($tokSql AS DOUBLE), 6) AS stopword_ratio, " +
          s"round(CAST($punctCnt AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS punct_ratio, " +
          s"round(CAST($digitCnt AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS digit_ratio, " +
          s"round(CAST($tokSql AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS token_density " +
          "FROM documents ORDER BY doc_id"),
      "txt_langid" ->
        (s"SELECT doc_id, ${scoreSql("en")} AS score_en, ${scoreSql("es")} AS score_es, " +
          s"${scoreSql("de")} AS score_de, ${scoreSql("fr")} AS score_fr, " +
          s"$langPredSql AS lang_pred FROM documents ORDER BY doc_id"),
      "txt_fp" ->
        ("SELECT doc_id, substr(md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 16) AS fp " +
          "FROM documents ORDER BY doc_id"),
      "txt_norm" ->
        ("""WITH n AS (SELECT doc_id,
           |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
           |       ' +', ' ', 'g')) AS norm FROM documents)
           |SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS n_chars_norm,
           |       substr(md5(norm), 1, 16) AS fp_norm
           |FROM n ORDER BY doc_id""".stripMargin),
      "txt_rep" ->
        ("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |wx AS (SELECT doc_id, len(w) AS n, unnest(w) AS word FROM toks),
           |wc AS (SELECT doc_id, max(n) AS n, word, count(*) AS c
           |       FROM wx GROUP BY doc_id, word),
           |wagg AS (SELECT doc_id, max(n) AS n_tokens,
           |                sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupw
           |         FROM wc GROUP BY doc_id),
           |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS b
           |       FROM toks, UNNEST(range(1, len(w))) AS t(i)),
           |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
           |bagg AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS topb,
           |                sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupb
           |         FROM bc GROUP BY 1)
           |SELECT w.doc_id, CAST(w.n_tokens AS BIGINT) AS n_tokens,
           |       CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           |       round(dupw::DOUBLE / w.n_tokens, 6) AS dup_word_frac,
           |       round(coalesce(topb::DOUBLE / b.n_bigrams, 0), 6) AS top_bigram_frac,
           |       round(coalesce(dupb::DOUBLE / b.n_bigrams, 0), 6) AS dup_bigram_frac
           |FROM wagg w LEFT JOIN bagg b USING (doc_id) ORDER BY doc_id""".stripMargin),
      "txt_pii" -> {
        val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
        val phone = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
        val idRun = "[0-9]{6,}"
        s"""WITH inj AS (SELECT doc_id, text ||
           |  CASE WHEN doc_id % 3 = 0 THEN ' reach me at user' || doc_id::VARCHAR || '@mail.example.com' ELSE '' END ||
           |  CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.42' ELSE '' END ||
           |  CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END ||
           |  CASE WHEN doc_id % 7 = 0 THEN ' acct ' || (doc_id + 9000000)::VARCHAR ELSE '' END AS t
           |  FROM documents),
           |r1 AS (SELECT doc_id, CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_email,
           |              regexp_replace(t, '$email', '<EMAIL>', 'g') AS t FROM inj),
           |r2 AS (SELECT doc_id, n_email, CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ip,
           |              regexp_replace(t, '$ip', '<IP>', 'g') AS t FROM r1),
           |r3 AS (SELECT doc_id, n_email, n_ip, CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phone,
           |              regexp_replace(t, '$phone', '<PHONE>', 'g') AS t FROM r2),
           |r4 AS (SELECT doc_id, n_email, n_ip, n_phone, CAST(len(regexp_extract_all(t, '$idRun')) AS BIGINT) AS n_id,
           |              regexp_replace(t, '$idRun', '<ID>', 'g') AS t FROM r3)
           |SELECT doc_id, n_email, n_ip, n_phone, n_id,
           |       CAST(length(t) AS BIGINT) AS n_chars_clean,
           |       substr(md5(t), 1, 16) AS clean_fp
           |FROM r4 ORDER BY doc_id""".stripMargin
      },
      "txt_lm" ->
        ("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |bg AS (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS bg
           |       FROM toks, UNNEST(range(1, len(w))) AS t(i)),
           |bgc AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY 1),
           |w1c AS (SELECT w1, count(*) AS c_w1 FROM bg GROUP BY 1),
           |sc AS (SELECT doc_id,
           |  CAST(round(ln(CAST(c_bg AS DOUBLE)/CAST(c_w1 AS DOUBLE)), 9)
           |       AS DECIMAL(28,12)) AS lp
           |  FROM bg JOIN bgc USING (bg) JOIN w1c USING (w1))
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |       round(CAST(sum(lp) AS DOUBLE)/count(*), 6) AS lm_score
           |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin),
      // collocation mirror: identical count tables and the identical IEEE
      // division/multiply chain — lift carries no log, so no libm
      // divergence; ordering on the UNROUNDED score with (w1, w2) tiebreak
      "txt_pmi" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          |uni AS (SELECT w[i] AS word FROM toks, UNNEST(range(1, len(w) + 1)) AS t(i)),
          |cw AS (SELECT word, count(*) AS c_w FROM uni GROUP BY 1),
          |nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_tok FROM uni),
          |bg AS (SELECT w[i] AS w1, w[i + 1] AS w2
          |       FROM toks, UNNEST(range(1, len(w))) AS t(i)),
          |nb AS (SELECT CAST(count(*) AS DOUBLE) AS n_bg FROM bg),
          |cab AS (SELECT w1, w2, count(*) AS c_ab FROM bg
          |        GROUP BY 1, 2 HAVING count(*) >= 5),
          |lf AS (SELECT w1, w2, c_ab,
          |         (CAST(c_ab AS DOUBLE) / n_bg) /
          |         ((CAST(a.c_w AS DOUBLE) / n_tok) * (CAST(b.c_w AS DOUBLE) / n_tok)) AS l
          |       FROM cab JOIN cw a ON a.word = w1 JOIN cw b ON b.word = w2
          |            CROSS JOIN nt CROSS JOIN nb)
          |SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab, round(l, 6) AS lift
          |FROM lf ORDER BY l DESC, w1, w2 LIMIT 20""".stripMargin,
      // BPE mirror: identical doubled-separator representation, identical
      // literal replace per round (both engines fuse non-overlapping
      // occurrences left-to-right), identical (count desc, pair asc) pick
      "txt_vocab" -> {
        def rnd(i: Int, src: String) =
          s"""w${i}s AS (SELECT string_split(trim(t), '  ') AS w FROM $src),
             |p$i AS (SELECT w[i] AS w1, w[i + 1] AS w2, count(*) AS c
             |        FROM w${i}s, UNNEST(range(1, len(w))) AS u(i)
             |        GROUP BY 1, 2),
             |m$i AS (SELECT w1, w2, c FROM p$i
             |        ORDER BY c DESC, w1, w2 LIMIT 1)""".stripMargin
        def fuse(i: Int, src: String) =
          s"""d$i AS (SELECT replace($src.t,
             |  ' ' || m$i.w1 || '  ' || m$i.w2 || ' ',
             |  ' ' || m$i.w1 || '_' || m$i.w2 || ' ') AS t
             |  FROM $src, m$i)""".stripMargin
        s"""WITH d0 AS (SELECT ' ' || replace(text, ' ', '  ') || ' ' AS t
           |            FROM documents),
           |${rnd(1, "d0")},
           |${fuse(1, "d0")},
           |${rnd(2, "d1")},
           |${fuse(2, "d1")},
           |${rnd(3, "d2")}
           |SELECT 1 AS round, w1, w2, CAST(c AS BIGINT) AS cnt FROM m1
           |UNION ALL SELECT 2, w1, w2, CAST(c AS BIGINT) FROM m2
           |UNION ALL SELECT 3, w1, w2, CAST(c AS BIGINT) FROM m3
           |ORDER BY round""".stripMargin
      },
      // classifier mirror: same unigram+bigram features, same md5 bucket,
      // same hash-derived fixed-point weights; milli is an exact integer
      // sum so mean and sign agree bit-for-bit
      "clf_score" ->
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |feats AS (
           |  SELECT doc_id, w[i] AS f
           |  FROM toks, UNNEST(range(1, len(w) + 1)) AS t(i)
           |  UNION ALL
           |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS f
           |  FROM toks, UNNEST(range(1, len(w))) AS t(i)),
           |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
           |  sum(${mdInt(s"'s1:' || CAST(${mdInt("'f:' || f")} % 4096 AS VARCHAR)")} % 2001 - 1000)
           |    AS milli
           |  FROM feats GROUP BY 1)
           |SELECT doc_id, n_feats, round(milli / (n_feats * 1000.0), 9) AS score,
           |       milli > 0 AS keep
           |FROM sc ORDER BY doc_id""".stripMargin,
      // BPE-ish regex token classes; the pattern is lookaround-free so Java
      // regex (Spark) and RE2 (DuckDB) agree on every match
      "txt_bpe" -> {
        def cnt(pat: String) =
          s"CAST(len(regexp_extract_all(lower(text), '$pat')) AS BIGINT)"
        s"SELECT doc_id, ${cnt("''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\\s'']+")} AS n_bpe_tokens, " +
          s"${cnt("[a-z]+")} AS n_alpha_runs, ${cnt("[0-9]+")} AS n_digit_runs, " +
          s"${cnt("[^a-z0-9\\s'']+")} AS n_other_runs FROM documents ORDER BY doc_id"
      },
      // chunk-dedup mirror: identical position-weighted 40-bit hash sums
      "dd_chunk" ->
        s"""WITH toksp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           |                     generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           |              FROM documents),
           |ch AS (SELECT doc_id, pos // 8 AS ci,
           |              sum((pos % 8 + 1) * (${mdInt("'0:' || tok")} % 1099511627776)) AS chash
           |       FROM toksp GROUP BY 1, 2),
           |freq AS (SELECT chash, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
           |pd AS (SELECT doc_id, count(*) AS n_chunks,
           |              sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_dup
           |       FROM ch JOIN freq USING (chash) GROUP BY 1)
           |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
           |       CAST(n_dup AS BIGINT) AS n_dup_chunks,
           |       round(n_dup::DOUBLE / n_chunks, 6) AS dup_chunk_frac
           |FROM pd ORDER BY doc_id""".stripMargin,
      // sliding-span mirror: identical window sums, 40-bit md5 token
      // hashes, identical run-fold arithmetic
      "dd_span" ->
        s"""WITH toksp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           |                     generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           |              FROM documents),
           |h AS (SELECT doc_id, pos,
           |             (${mdInt("'0:' || tok")} % 1099511627776) AS th
           |      FROM toksp),
           |st AS (SELECT doc_id, pos,
           |              sum(th) OVER w AS s0,
           |              sum(th * (pos + 1)) OVER w AS s1,
           |              count(*) OVER w AS wn
           |       FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos
           |                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
           |f AS (SELECT doc_id, pos, s1 - pos * s0 AS f1, s0 AS f0
           |      FROM st WHERE wn = 8),
           |freq AS (SELECT f1, f0, count(DISTINCT doc_id) AS nd
           |         FROM f GROUP BY 1, 2),
           |fl AS (SELECT doc_id, pos,
           |              CASE WHEN nd > 1 THEN 1 ELSE 0 END AS dup
           |       FROM f JOIN freq USING (f1, f0)),
           |tk AS (SELECT t.doc_id, t.pos, coalesce(fl.dup, 0) AS sdup
           |       FROM toksp t LEFT JOIN fl ON t.doc_id = fl.doc_id
           |                                AND t.pos = fl.pos),
           |cv AS (SELECT doc_id,
           |              max(sdup) OVER (PARTITION BY doc_id ORDER BY pos
           |                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
           |       FROM tk),
           |ws AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
           |              CAST(sum(dup) AS BIGINT) AS n_dup_windows
           |       FROM fl GROUP BY doc_id),
           |cs AS (SELECT doc_id, CAST(sum(cov) AS BIGINT)
           |                        AS removable_tokens
           |       FROM cv GROUP BY doc_id)
           |SELECT doc_id, n_windows, n_dup_windows, removable_tokens
           |FROM ws JOIN cs USING (doc_id) ORDER BY doc_id""".stripMargin,
      // cross-corpus span mirror: identical fingerprint CTEs computed per
      // corpus slice; a target window is dup when its fingerprint exists
      // among the reference slice's distinct fingerprints
      "dd_spanref" ->
        s"""WITH toksp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           |                     generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           |              FROM documents WHERE doc_id % 5 <> 0),
           |h AS (SELECT doc_id, pos,
           |             (${mdInt("'0:' || tok")} % 1099511627776) AS th
           |      FROM toksp),
           |st AS (SELECT doc_id, pos,
           |              sum(th) OVER w AS s0,
           |              sum(th * (pos + 1)) OVER w AS s1,
           |              count(*) OVER w AS wn
           |       FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos
           |                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
           |f AS (SELECT doc_id, pos, s1 - pos * s0 AS f1, s0 AS f0
           |      FROM st WHERE wn = 8),
           |rtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           |                generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           |         FROM documents WHERE doc_id % 5 = 0),
           |rh AS (SELECT doc_id, pos,
           |              (${mdInt("'0:' || tok")} % 1099511627776) AS th
           |       FROM rtok),
           |rst AS (SELECT doc_id, pos,
           |               sum(th) OVER w AS s0,
           |               sum(th * (pos + 1)) OVER w AS s1,
           |               count(*) OVER w AS wn
           |        FROM rh WINDOW w AS (PARTITION BY doc_id ORDER BY pos
           |                            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
           |rf AS (SELECT DISTINCT s1 - pos * s0 AS f1, s0 AS f0
           |       FROM rst WHERE wn = 8),
           |fl AS (SELECT f.doc_id, f.pos,
           |              CASE WHEN rf.f1 IS NOT NULL THEN 1 ELSE 0 END AS dup
           |       FROM f LEFT JOIN rf ON f.f1 = rf.f1 AND f.f0 = rf.f0),
           |tk AS (SELECT t.doc_id, t.pos, coalesce(fl.dup, 0) AS sdup
           |       FROM toksp t LEFT JOIN fl ON t.doc_id = fl.doc_id
           |                                AND t.pos = fl.pos),
           |cv AS (SELECT doc_id,
           |              max(sdup) OVER (PARTITION BY doc_id ORDER BY pos
           |                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
           |       FROM tk),
           |ws AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
           |              CAST(sum(dup) AS BIGINT) AS n_dup_windows
           |       FROM fl GROUP BY doc_id),
           |cs AS (SELECT doc_id, CAST(sum(cov) AS BIGINT)
           |                        AS removable_tokens
           |       FROM cv GROUP BY doc_id)
           |SELECT doc_id, n_windows, n_dup_windows, removable_tokens
           |FROM ws JOIN cs USING (doc_id) ORDER BY doc_id""".stripMargin,
      // despan mirror: same flag CTEs, token⟕start left join, k-wide
      // coverage max, order-preserving string_agg rebuild
      "dd_despan" ->
        s"""WITH toksp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           |                     generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           |              FROM documents),
           |h AS (SELECT doc_id, pos, tok,
           |             (${mdInt("'0:' || tok")} % 1099511627776) AS th
           |      FROM toksp),
           |st AS (SELECT doc_id, pos,
           |              sum(th) OVER w AS s0,
           |              sum(th * (pos + 1)) OVER w AS s1,
           |              count(*) OVER w AS wn
           |       FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos
           |                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
           |f AS (SELECT doc_id, pos, s1 - pos * s0 AS f1, s0 AS f0
           |      FROM st WHERE wn = 8),
           |freq AS (SELECT f1, f0, count(DISTINCT doc_id) AS nd
           |         FROM f GROUP BY 1, 2),
           |fl AS (SELECT doc_id, pos,
           |              CASE WHEN nd > 1 THEN 1 ELSE 0 END AS dup
           |       FROM f JOIN freq USING (f1, f0)),
           |tk AS (SELECT t.doc_id, t.pos, t.tok, coalesce(fl.dup, 0) AS sdup
           |       FROM toksp t LEFT JOIN fl ON t.doc_id = fl.doc_id
           |                                AND t.pos = fl.pos),
           |cv AS (SELECT doc_id, pos, tok,
           |              max(sdup) OVER (PARTITION BY doc_id ORDER BY pos
           |                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
           |       FROM tk)
           |SELECT doc_id,
           |       coalesce(string_agg(CASE WHEN cov = 0 THEN tok END, ' '
           |                           ORDER BY pos), '') AS clean_text,
           |       CAST(count(*) AS BIGINT) AS n_tokens,
           |       CAST(sum(cov) AS BIGINT) AS removed_tokens
           |FROM cv GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // EWMA mirror: identical lag taps, exact power-of-two weight
      // literals, identical left-to-right addition order
      "w_ewma" -> {
        val wlit = (j: Int) =>
          java.math.BigDecimal.valueOf(math.pow(2.0, -j)).toPlainString
        val lagDefs = (1 until 10)
          .map(j => s"lag(value, $j) OVER w AS l$j").mkString(", ")
        val num = (s"coalesce(value * ${wlit(0)}, 0)" +:
          (1 until 10).map(j => s"coalesce(l$j * ${wlit(j)}, 0)"))
          .mkString(" + ")
        val den = (s"${wlit(0)}" +:
          (1 until 10).map(j =>
            s"CASE WHEN l$j IS NOT NULL THEN ${wlit(j)} ELSE 0 END"))
          .mkString(" + ")
        s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tu, value
           |            FROM read_parquet('$sfDir/events.parquet')),
           |l AS (SELECT event_id, user_id, tu, value, $lagDefs
           |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id))
           |SELECT event_id, user_id, tu, value,
           |       round(($num) / ($den), 6) AS ewma
           |FROM l ORDER BY event_id""".stripMargin
      },
      // Q18 mirror: HAVING over the per-order aggregate, then the joins
      "h_q18" ->
        """SELECT c_custkey, c_name, o_orderkey,
          |       strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
          |       CAST(sq AS DOUBLE) AS sum_qty
          |FROM orders
          |JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sq
          |      FROM lineitem GROUP BY 1 HAVING sq > 300) t
          |  ON o_orderkey = l_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
      // curriculum mirror: same rounded scores, same rank-selected
      // quartile thresholds, same strictly-greater bin assignment
      "pipe_curr" ->
        ("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |bg AS (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS bg
           |       FROM toks, UNNEST(range(1, len(w))) AS t(i)),
           |bgc AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY 1),
           |w1c AS (SELECT w1, count(*) AS c_w1 FROM bg GROUP BY 1),
           |lp AS (SELECT doc_id,
           |  CAST(round(ln(CAST(c_bg AS DOUBLE)/CAST(c_w1 AS DOUBLE)), 9)
           |       AS DECIMAL(28,12)) AS lp
           |  FROM bg JOIN bgc USING (bg) JOIN w1c USING (w1)),
           |lmq AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |               round(round(CAST(sum(lp) AS DOUBLE)/count(*), 6), 2) AS sc1
           |        FROM lp GROUP BY 1),
           |cnt AS (SELECT sc1, count(*) AS c FROM lmq GROUP BY 1),
           |cum AS (SELECT sc1, sum(c) OVER (ORDER BY sc1 ROWS UNBOUNDED PRECEDING) AS cum,
           |               sum(c) OVER () AS n FROM cnt),
           |thr AS (SELECT min(CASE WHEN cum >= ceil(n * 0.25) THEN sc1 END) AS t25,
           |               min(CASE WHEN cum >= ceil(n * 0.5) THEN sc1 END) AS t50,
           |               min(CASE WHEN cum >= ceil(n * 0.75) THEN sc1 END) AS t75
           |        FROM cum)
           |SELECT (CAST(sc1 > t25 AS INTEGER) + CAST(sc1 > t50 AS INTEGER) +
           |        CAST(sc1 > t75 AS INTEGER)) AS bucket,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       min(sc1) AS min_sc, max(sc1) AS max_sc,
           |       CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams
           |FROM lmq CROSS JOIN thr
           |GROUP BY 1 ORDER BY bucket""".stripMargin),
      // grouped-mode mirror: same counts, same (count desc, value) order
      "agg_mode" ->
        """SELECT l_returnflag, l_quantity AS mode_qty, cnt FROM (
          |  SELECT l_returnflag, l_quantity, CAST(count(*) AS BIGINT) AS cnt,
          |         row_number() OVER (PARTITION BY l_returnflag
          |                            ORDER BY count(*) DESC, l_quantity) AS rn
          |  FROM lineitem GROUP BY 1, 2)
          |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
      // rank-function mirror: unique (price, orderkey) order → tie-free
      "w_rank" ->
        """SELECT o_custkey, o_orderkey, o_totalprice,
          |       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
          |       round(percent_rank() OVER w, 6) AS pct_rank,
          |       round(cume_dist() OVER w, 6) AS cume
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_custkey, o_totalprice, o_orderkey""".stripMargin,
      // one profile row per column; DuckDB quotes "column" (keyword)
      "prof_cols" ->
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax").map { c =>
          s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
             |  round(CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / count($c), 6) AS mean_v
             |FROM lineitem""".stripMargin
        }.mkString("SELECT * FROM (", " UNION ALL ", ") t ORDER BY \"column\""),
      // correlation-matrix mirror: identical exact-decimal moments from one
      // aggregate, identical fixed-order double formulas per pair
      "prof_corr" -> {
        val cs = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        val cps = for { i <- cs.indices; j <- (i + 1) until cs.size }
          yield (cs(i), cs(j))
        def d(c: String) = s"CAST($c AS DECIMAL(18,2))"
        val moments =
          (s"CAST(count(*) AS DOUBLE) AS n" +:
            cs.map(c => s"CAST(sum(${d(c)}) AS DOUBLE) AS s_$c")) ++
            cs.map(c => s"CAST(sum(${d(c)} * ${d(c)}) AS DOUBLE) AS q_$c") ++
            cps.map { case (a, b) =>
              s"CAST(sum(${d(a)} * ${d(b)}) AS DOUBLE) AS p_${a}_$b"
            }
        val rows = cps.map { case (a, b) =>
          s"""SELECT '$a' AS col_x, '$b' AS col_y,
             |  round((n * p_${a}_$b - s_$a * s_$b) /
             |    sqrt((n * q_$a - s_$a * s_$a) * (n * q_$b - s_$b * s_$b)), 6)
             |    AS corr_v,
             |  round((n * p_${a}_$b - s_$a * s_$b) / (n * n), 6) AS cov_v
             |FROM m""".stripMargin
        }
        s"WITH m AS (SELECT ${moments.mkString(", ")} FROM lineitem)\n" +
          rows.mkString("SELECT * FROM (", " UNION ALL ", ") t ORDER BY col_x, col_y")
      },
      // mean-pool mirror: same decimal-exact per-(group, dim) means
      // embedding diagnostics mirror: same in-order double fold per vector
      // (list_sum over the transformed list), same rounding + decimal mass
      "emb_stats" ->
        """WITH e AS (SELECT label,
          |             list_sum(list_transform(embedding,
          |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq
          |           FROM embeddings)
          |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
          |       CAST(sum(CAST(round(sq, 9) AS DECIMAL(28,12))) AS DOUBLE)
          |         AS sum_sq,
          |       CAST(sum(CASE WHEN sq = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_zero,
          |       round(min(round(sqrt(sq), 6)), 6) AS min_norm,
          |       round(max(round(sqrt(sq), 6)), 6) AS max_norm
          |FROM e GROUP BY 1 ORDER BY label""".stripMargin,
      "emb_pool" ->
        """WITH e AS (SELECT label, unnest(embedding) AS v,
          |                  generate_subscripts(embedding, 1) - 1 AS i
          |           FROM embeddings)
          |SELECT label, CAST(i AS BIGINT) AS i,
          |       round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE)
          |             / count(*), 9) AS m,
          |       CAST(count(*) AS BIGINT) AS n_vecs
          |FROM e GROUP BY 1, 2 ORDER BY label, i""".stripMargin,
      // winsorization mirror: rank-selected thresholds over grouped value
      // counts, then clip + decimal-exact aggregate
      "cln_winsor" ->
        """WITH counts AS (SELECT l_returnflag, l_quantity AS v, count(*) AS c
          |                FROM lineitem GROUP BY 1, 2),
          |w AS (SELECT l_returnflag, v,
          |        sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
          |                     ROWS UNBOUNDED PRECEDING) AS cum,
          |        sum(c) OVER (PARTITION BY l_returnflag) AS n FROM counts),
          |thr AS (SELECT l_returnflag,
          |          min(CASE WHEN cum >= ceil(n * 0.05) THEN v END) AS p_lo,
          |          min(CASE WHEN cum >= ceil(n * 0.95) THEN v END) AS p_hi
          |        FROM w GROUP BY 1)
          |SELECT l.l_returnflag, p_lo, p_hi, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(least(greatest(l_quantity, p_lo), p_hi) AS DECIMAL(18,2))) AS DOUBLE) AS sum_wins,
          |  CAST(sum(CASE WHEN l_quantity < p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
          |  CAST(sum(CASE WHEN l_quantity > p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi
          |FROM lineitem l JOIN thr USING (l_returnflag)
          |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
      // MAD mirror: two interpolated medians (exact on integer inputs),
      // identical float chain, 6dp rounding before the threshold
      // MI mirror: identical 6/6/9-dp rounding chain, decimal folds
      "prof_mi" ->
        """WITH ab AS (SELECT l_returnflag AS a, l_linestatus AS b,
          |                   count(*) AS nab
          |            FROM lineitem GROUP BY 1, 2),
          |t AS (SELECT sum(nab) AS tot FROM ab),
          |ca AS (SELECT l_returnflag AS k, count(*) AS n FROM lineitem GROUP BY 1),
          |cb AS (SELECT l_linestatus AS k, count(*) AS n FROM lineitem GROUP BY 1),
          |ha AS (SELECT round(CAST(sum(CAST(round(
          |         -round(CAST(n AS DOUBLE) / (SELECT CAST(sum(n) AS DOUBLE) FROM ca), 6)
          |         * round(ln(round(CAST(n AS DOUBLE) / (SELECT CAST(sum(n) AS DOUBLE) FROM ca), 6)), 6),
          |         9) AS DECIMAL(28,12))) AS DOUBLE), 6) AS h_a FROM ca),
          |hb AS (SELECT round(CAST(sum(CAST(round(
          |         -round(CAST(n AS DOUBLE) / (SELECT CAST(sum(n) AS DOUBLE) FROM cb), 6)
          |         * round(ln(round(CAST(n AS DOUBLE) / (SELECT CAST(sum(n) AS DOUBLE) FROM cb), 6)), 6),
          |         9) AS DECIMAL(28,12))) AS DOUBLE), 6) AS h_b FROM cb),
          |m AS (SELECT ab.a, ab.b, nab,
          |        round(CAST(nab AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS pxy,
          |        round(CAST(na.s AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS px,
          |        round(CAST(nb.s AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS py
          |      FROM ab, t,
          |        (SELECT a, sum(nab) AS s FROM ab GROUP BY 1) na,
          |        (SELECT b, sum(nab) AS s FROM ab GROUP BY 1) nb
          |      WHERE na.a = ab.a AND nb.b = ab.b),
          |mi AS (SELECT round(CAST(sum(CAST(round(
          |         pxy * round(ln(pxy / (px * py)), 6), 9)
          |         AS DECIMAL(28,12))) AS DOUBLE), 6) AS mi FROM m)
          |SELECT h_a, h_b, mi,
          |       CASE WHEN h_a > 0 AND h_b > 0
          |            THEN round(mi / round(sqrt(h_a * h_b), 6), 6) END AS nmi
          |FROM ha, hb, mi""".stripMargin,
      // constraint-suite mirror: indicator means are exact integer
      // sums / count in both engines; distinct tuple count via a
      // subquery; RI via the same left join on distinct orderkeys
      "prof_checks" ->
        """WITH s AS (SELECT
          |    avg(CASE WHEN l_shipdate IS NOT NULL THEN 1.0 ELSE 0.0 END) AS m1,
          |    avg(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1.0 ELSE 0.0 END) AS m2,
          |    avg(CASE WHEN l_quantity <= 40 THEN 1.0 ELSE 0.0 END) AS m3,
          |    avg(CASE WHEN l_returnflag IN ('A','N','R') THEN 1.0 ELSE 0.0 END) AS m4,
          |    count(*) AS cnt
          |  FROM lineitem),
          |u AS (SELECT CAST((SELECT count(*) FROM
          |        (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
          |        AS DOUBLE) / CAST((SELECT count(*) FROM lineitem) AS DOUBLE)
          |        AS m),
          |r AS (SELECT avg(CASE WHEN o.o_orderkey IS NOT NULL
          |                 THEN 1.0 ELSE 0.0 END) AS m
          |      FROM lineitem l LEFT JOIN
          |        (SELECT DISTINCT o_orderkey FROM orders) o
          |        ON l.l_orderkey = o.o_orderkey)
          |SELECT "check", round(metric, 6) AS metric, passed FROM (
          |  SELECT 'c1_shipdate_complete' AS "check", m1 AS metric,
          |         m1 >= 1.0 - 1e-9 AS passed FROM s
          |  UNION ALL SELECT 'c2_qty_bounds', m2, m2 >= 1.0 - 1e-9 FROM s
          |  UNION ALL SELECT 'c3_qty_le_40', m3, m3 >= 1.0 - 1e-9 FROM s
          |  UNION ALL SELECT 'c4_flag_domain', m4, m4 >= 1.0 - 1e-9 FROM s
          |  UNION ALL SELECT 'c5_pk_unique', m, m >= 1.0 - 1e-9 FROM u
          |  UNION ALL SELECT 'c6_orderkey_ri', m, m >= 1.0 - 1e-9 FROM r
          |) ORDER BY "check"""".stripMargin,
      "cln_mad" ->
        """WITH src AS (SELECT l_returnflag,
          |        l_quantity * (1 + 99 * (CASE WHEN l_orderkey % 97 = 0
          |                                THEN 1 ELSE 0 END)) AS v
          |      FROM lineitem),
          |med AS (SELECT l_returnflag, median(v) AS key_median
          |        FROM src GROUP BY 1),
          |j1 AS (SELECT s.l_returnflag, v, key_median
          |       FROM src s JOIN med USING (l_returnflag)),
          |mad AS (SELECT l_returnflag, median(abs(v - key_median)) AS key_mad
          |        FROM j1 GROUP BY 1),
          |fl AS (SELECT j1.l_returnflag, v, key_median, key_mad,
          |              round(0.6745 * (v - key_median) / key_mad, 6) AS rz
          |       FROM j1 JOIN mad USING (l_returnflag) WHERE key_mad > 0)
          |SELECT l_returnflag, key_median, key_mad,
          |       CAST(count(*) AS BIGINT) AS n_outliers,
          |       round(max(abs(rz)), 6) AS max_abs_z,
          |       round(min(abs(rz)), 6) AS min_abs_z
          |FROM fl WHERE abs(rz) > 3.5 GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
      // z-score mirror: decimal-exact (sum, sum²) per user; mean/msq/std
      // each rounded to 6 so the IEEE chain is engine-identical; variance
      // guarded > 0 BEFORE sqrt (NaN ordering differs across engines)
      "ts_anom" ->
        s"""WITH st AS (SELECT user_id, count(*) AS n,
           |              sum(CAST(value AS DECIMAL(18,2))) AS s,
           |              sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS ss
           |            FROM read_parquet('$sfDir/events.parquet') GROUP BY 1),
           |m AS (SELECT user_id, round(CAST(s AS DOUBLE) / n, 6) AS key_mean,
           |             round(CAST(ss AS DOUBLE) / n, 6) AS msq FROM st),
           |m2 AS (SELECT user_id, key_mean,
           |              CASE WHEN msq - key_mean * key_mean > 0
           |                   THEN round(sqrt(msq - key_mean * key_mean), 6) END AS key_std
           |       FROM m)
           |SELECT event_id, user_id, value,
           |       round((value - key_mean) / key_std, 6) AS zscore, key_mean, key_std
           |FROM read_parquet('$sfDir/events.parquet') JOIN m2 USING (user_id)
           |WHERE key_std > 0 AND abs(round((value - key_mean) / key_std, 6)) > 2.0
           |ORDER BY event_id""".stripMargin,
      // imputation mirror: identical hash-derived missing mask, identical
      // decimal-exact group means (sum DECIMAL / count, round 6), coalesce
      "cln_impute" ->
        s"""WITH masked AS (SELECT event_id, event_type,
           |    CASE WHEN ${hashU("event_id", 7)} < 0.1 THEN NULL
           |         ELSE value END AS value
           |  FROM read_parquet('$sfDir/events.parquet')),
           |m AS (SELECT event_type,
           |        round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |              / count(value), 6) AS mv
           |      FROM masked WHERE value IS NOT NULL GROUP BY 1)
           |SELECT event_id, event_type, coalesce(value, mv) AS value,
           |       (value IS NULL AND mv IS NOT NULL) AS imputed
           |FROM masked LEFT JOIN m USING (event_type)
           |ORDER BY event_id""".stripMargin,
      // entity-resolution mirror: identical dirty-variant derivation,
      // identical blocking key, identical levenshtein verification
      "er_match" ->
        """WITH dirty AS (SELECT c_custkey + 10000000 AS dirty_id,
          |    CASE WHEN c_custkey % 3 = 0 THEN substr(c_name, 1, 1) || substr(c_name, 3)
          |         WHEN c_custkey % 3 = 1 THEN substr(c_name, 1, 1) || 'x' || substr(c_name, 3)
          |         ELSE 'Zzzz' || substr(c_name, 5) END AS dirty_name
          |  FROM customer WHERE c_custkey % 7 = 2),
          |m AS (SELECT c_custkey AS master_id, c_name AS master_name,
          |             right(c_name, 6) AS blk FROM customer),
          |d2 AS (SELECT dirty_id, dirty_name, right(dirty_name, 6) AS blk FROM dirty)
          |SELECT dirty_id, master_id, dirty_name, master_name,
          |       CAST(levenshtein(dirty_name, master_name) AS INTEGER) AS dist
          |FROM d2 JOIN m USING (blk)
          |WHERE levenshtein(dirty_name, master_name) <= 2
          |ORDER BY dirty_id, master_id""".stripMargin,
      // bloom pruning is an execution strategy, not a semantic change:
      // the oracle is the plain join
      "j_bloom" ->
        """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      // PageRank mirror: kNN edges from the sim_knn CTEs, then the three
      // iterations unrolled in FIXED-POINT INTEGER picoranks — floor
      // divisions and integer sums are bit-identical across engines
      // (double round-to-12 hit a half-way boundary on 2/500 vertices)
      "gr_pagerank" -> {
        def iterCtes(i: Int) =
          s"""c$i AS (SELECT e.dst AS id, sum(r.prp // o.odeg) AS s
             |        FROM knn e JOIN r${i - 1} r ON e.src = r.id
             |                   JOIN od o ON e.src = o.src GROUP BY 1),
             |r$i AS (SELECT v.vec_id AS id,
             |          bp.basep + (coalesce(c.s, 0) * 85) // 100 AS prp
             |        FROM embeddings v CROSS JOIN basep bp
             |        LEFT JOIN c$i c ON v.vec_id = c.id)""".stripMargin
        s"""WITH ${blockedCtes(0.25)},
           |sym AS (SELECT id1 AS id, id2 AS nbr, sim FROM bp
           |        UNION ALL SELECT id2 AS id, id1 AS nbr, sim FROM bp),
           |rk AS (SELECT id, nbr,
           |         row_number() OVER (PARTITION BY id ORDER BY sim DESC, nbr) AS rn
           |       FROM sym),
           |knn AS (SELECT id AS src, nbr AS dst FROM rk WHERE rn <= 3),
           |od AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM knn GROUP BY 1),
           |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
           |basep AS (SELECT 15 * (1000000000000 // 100) // n AS basep FROM nv),
           |r0 AS (SELECT vec_id AS id, 1000000000000 // nv.n AS prp
           |       FROM embeddings CROSS JOIN nv),
           |${iterCtes(1)},
           |${iterCtes(2)},
           |${iterCtes(3)}
           |SELECT id, CAST(prp AS DOUBLE) / 1000000000000.0 AS pr
           |FROM r3 ORDER BY id""".stripMargin
      },
      // triangle mirror: same kNN edges; the triangle SET is orientation-
      // independent, so the oracle enumerates with the natural a<b<c order
      // while the engine uses the degree order — identical triangles
      "gr_tri" ->
        s"""WITH ${blockedCtes(0.25)},
           |sym AS (SELECT id1 AS id, id2 AS nbr, sim FROM bp
           |        UNION ALL SELECT id2 AS id, id1 AS nbr, sim FROM bp),
           |rk AS (SELECT id, nbr,
           |         row_number() OVER (PARTITION BY id ORDER BY sim DESC, nbr) AS rn
           |       FROM sym),
           |ce AS (SELECT DISTINCT LEAST(id, nbr) AS a, GREATEST(id, nbr) AS b
           |       FROM rk WHERE rn <= 3 AND id <> nbr),
           |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |        FROM ce e1 JOIN ce e2 ON e2.a = e1.b
           |                   JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
           |corners AS (SELECT x AS id FROM tri UNION ALL
           |            SELECT y FROM tri UNION ALL SELECT z FROM tri)
           |SELECT id, CAST(count(*) AS BIGINT) AS n_tri
           |FROM corners GROUP BY 1 ORDER BY id""".stripMargin,
      // connected-components mirror: same kNN edges; the reachability
      // closure via a recursive CTE, min reachable id = component label
      // (identical convention to the engine's union-find / label-prop)
      "gr_cc" ->
        s"""WITH RECURSIVE ${blockedCtes(0.25)},
           |sym AS (SELECT id1 AS id, id2 AS nbr, sim FROM bp
           |        UNION ALL SELECT id2 AS id, id1 AS nbr, sim FROM bp),
           |rk AS (SELECT id, nbr,
           |         row_number() OVER (PARTITION BY id ORDER BY sim DESC, nbr) AS rn
           |       FROM sym),
           |knn AS (SELECT id AS src, nbr AS dst FROM rk WHERE rn <= 3),
           |e2 AS (SELECT src AS a, dst AS b FROM knn
           |       UNION ALL SELECT dst, src FROM knn),
           |nodes AS (SELECT src AS id FROM knn UNION SELECT dst FROM knn),
           |reach(id, l) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.a, r.l FROM e2 e JOIN reach r ON e.b = r.id)
           |SELECT id, min(l) AS group_id FROM reach GROUP BY id
           |ORDER BY id""".stripMargin,
      // LPA mirror: same symmetric simple edges, rounds unrolled, argmax
      // per vertex via (count desc, label asc) row_number — identical to
      // the engine's struct-min fold
      "gr_lpa" -> {
        def round(i: Int): String =
          s"""c$i AS (SELECT s.v, l.lbl, count(*) AS c
             |        FROM se s JOIN l${i - 1} l ON s.nbr = l.id GROUP BY 1, 2),
             |l$i AS (SELECT v AS id, lbl FROM (
             |          SELECT v, lbl, row_number() OVER (PARTITION BY v
             |            ORDER BY c DESC, lbl) AS rn FROM c$i) WHERE rn = 1)""".stripMargin
        s"""WITH ${blockedCtes(0.25)},
           |sym AS (SELECT id1 AS id, id2 AS nbr, sim FROM bp
           |        UNION ALL SELECT id2 AS id, id1 AS nbr, sim FROM bp),
           |rk AS (SELECT id, nbr,
           |         row_number() OVER (PARTITION BY id ORDER BY sim DESC, nbr) AS rn
           |       FROM sym),
           |knn AS (SELECT id AS src, nbr AS dst FROM rk WHERE rn <= 3),
           |se AS (SELECT DISTINCT v, nbr FROM (
           |         SELECT src AS v, dst AS nbr FROM knn
           |         UNION ALL SELECT dst, src FROM knn) WHERE v <> nbr),
           |l0 AS (SELECT DISTINCT v AS id, v AS lbl FROM se),
           |${round(1)},
           |${round(2)}
           |SELECT id, lbl AS community FROM l2 ORDER BY id""".stripMargin
      },
      // k-core mirror: same kNN edges, peels unrolled as CTEs (the
      // pageRank/LPA/kmeans fixed-iterate discipline) — degree against
      // the previous survivor set, filter deg >= k
      "gr_kcore" -> {
        // every a_i is read TWICE by the next peel and d_i once by its
        // own filter — without MATERIALIZED DuckDB inlines the chain and
        // re-evaluates the knn prelude 2^rounds times
        def peel(i: Int, k: Int): String =
          s"""d$i AS MATERIALIZED (SELECT s.v, count(*) AS deg
             |        FROM se s JOIN a${i - 1} a ON s.v = a.v
             |                  JOIN a${i - 1} b ON s.nbr = b.v GROUP BY 1),
             |a$i AS MATERIALIZED (SELECT v FROM d$i WHERE deg >= $k)""".stripMargin
        s"""WITH ${blockedCtes(0.25)},
           |sym AS (SELECT id1 AS id, id2 AS nbr, sim FROM bp
           |        UNION ALL SELECT id2 AS id, id1 AS nbr, sim FROM bp),
           |rk AS (SELECT id, nbr,
           |         row_number() OVER (PARTITION BY id ORDER BY sim DESC, nbr) AS rn
           |       FROM sym),
           |knn AS (SELECT id AS src, nbr AS dst FROM rk WHERE rn <= 3),
           |se AS MATERIALIZED (SELECT DISTINCT v, nbr FROM (
           |         SELECT src AS v, dst AS nbr FROM knn
           |         UNION ALL SELECT dst, src FROM knn) WHERE v <> nbr),
           |a0 AS MATERIALIZED (SELECT DISTINCT v FROM se),
           |${(1 to 10).map(i => peel(i, 2)).mkString(",\n")}
           |SELECT v AS id, CAST(deg AS BIGINT) AS deg FROM d10
           |WHERE deg >= 2 ORDER BY id""".stripMargin
      },
      // upsert mirror: latest row per key via window rank (the result —
      // not the plan — is what must match the struct-max aggregate)
      "cdc_upsert" ->
        s"""WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
           |                  event_type, value
           |           FROM read_parquet('$sfDir/events.parquet')),
           |r AS (SELECT *,
           |        row_number() OVER (PARTITION BY user_id
           |          ORDER BY tu DESC, event_id DESC) AS rn,
           |        count(*) OVER (PARTITION BY user_id) AS nc
           |      FROM x)
           |SELECT user_id, tu AS last_tu, event_type AS last_type,
           |       value AS last_value, CAST(nc AS BIGINT) AS n_changes
           |FROM r WHERE rn = 1 AND event_type <> 'error'
           |ORDER BY user_id""".stripMargin,
      "j_interval" ->
        s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu
           |           FROM read_parquet('$sfDir/events.parquet')),
           |l AS (SELECT user_id, event_id AS l_event, tu AS l_from,
           |             tu + 7200000000 AS l_to FROM e WHERE event_id % 2 = 1),
           |r AS (SELECT user_id, event_id AS r_event, tu AS r_from,
           |             tu + 7200000000 AS r_to FROM e WHERE event_id % 2 = 0)
           |SELECT l.user_id AS user_id, l_event, r_event, l_from, r_from
           |FROM l JOIN r ON l.user_id = r.user_id
           |  AND l_from <= r_to AND r_from <= l_to
           |ORDER BY l.user_id, l_event, r_event""".stripMargin,
      "cdc_scd2" ->
        s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu, event_type
           |           FROM read_parquet('$sfDir/events.parquet')
           |           WHERE event_type IN ('signup', 'purchase'))
           |SELECT user_id, event_type AS attr, tu AS valid_from,
           |       lead(tu) OVER w AS valid_to,
           |       CAST(row_number() OVER w AS INT) AS version,
           |       lead(tu) OVER w IS NULL AS is_current
           |FROM e
           |WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
           |ORDER BY user_id, version""".stripMargin,
      "ev_rfm" -> {
        def thr(metric: String) =
          s"""(SELECT
             |   min(CASE WHEN cum >= ceil(n * 0.25) THEN v END) AS ${metric}_p25,
             |   min(CASE WHEN cum >= ceil(n * 0.5) THEN v END) AS ${metric}_p50,
             |   min(CASE WHEN cum >= ceil(n * 0.75) THEN v END) AS ${metric}_p75
             | FROM (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
             |              sum(c) OVER () AS n
             |       FROM (SELECT $metric AS v, count(*) AS c FROM per GROUP BY 1)))"""
            .stripMargin
        s"""WITH per AS (
           |  SELECT user_id,
           |         max(epoch_us(ts) // 86400000000) AS recency,
           |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |              AS BIGINT) AS frequency,
           |         CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
           |               THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE)
           |           AS monetary
           |  FROM read_parquet('$sfDir/events.parquet') GROUP BY 1),
           |rt AS ${thr("recency")},
           |ft AS ${thr("frequency")},
           |mt AS ${thr("monetary")},
           |binned AS (
           |  SELECT user_id, recency, frequency, monetary,
           |    1 + (recency > recency_p25)::INT + (recency > recency_p50)::INT
           |      + (recency > recency_p75)::INT AS r_bin,
           |    1 + (frequency > frequency_p25)::INT + (frequency > frequency_p50)::INT
           |      + (frequency > frequency_p75)::INT AS f_bin,
           |    1 + (monetary > monetary_p25)::INT + (monetary > monetary_p50)::INT
           |      + (monetary > monetary_p75)::INT AS m_bin
           |  FROM per, rt, ft, mt)
           |SELECT *, CAST(r_bin * 100 + f_bin * 10 + m_bin AS INT) AS rfm_score
           |FROM binned ORDER BY user_id""".stripMargin
      },
      // PSI drift mirror: identical clamped binning, +1 Laplace smoothing,
      // 6-dp shares and logs, decimal contribution fold
      "prof_drift" ->
        (s"""WITH a AS (SELECT least(15, greatest(0,
            |             CAST(floor($tokSql / 10.0) AS INT))) AS bin,
            |             count(*) AS n FROM documents WHERE source = 'src0'
            |           GROUP BY 1),
            |b AS (SELECT least(15, greatest(0,
            |        CAST(floor($tokSql / 10.0) AS INT))) AS bin,
            |        count(*) AS n FROM documents WHERE source = 'src1'
            |      GROUP BY 1),
            |g AS (SELECT CAST(range AS INT) AS bin FROM range(16)),
            |j AS (SELECT g.bin, CAST(coalesce(a.n, 0) AS BIGINT) AS n_a,
            |             CAST(coalesce(b.n, 0) AS BIGINT) AS n_b
            |      FROM g LEFT JOIN a ON g.bin = a.bin
            |             LEFT JOIN b ON g.bin = b.bin),
            |p AS (SELECT bin, n_a, n_b,
            |        round((n_a + 1)::DOUBLE / (sum(n_a) OVER () + 16), 6) AS p_a,
            |        round((n_b + 1)::DOUBLE / (sum(n_b) OVER () + 16), 6) AS p_b
            |      FROM j),
            |c AS (SELECT bin, n_a, n_b, p_a, p_b,
            |        CAST(round((p_a - p_b) * round(ln(p_a / p_b), 6), 9)
            |             AS DECIMAL(28,12)) AS cd,
            |        round(abs(
            |          round(sum(n_a) OVER (ORDER BY bin ROWS UNBOUNDED
            |                PRECEDING)::DOUBLE / sum(n_a) OVER (), 6) -
            |          round(sum(n_b) OVER (ORDER BY bin ROWS UNBOUNDED
            |                PRECEDING)::DOUBLE / sum(n_b) OVER (), 6)), 6)
            |          AS gap
            |      FROM p)
            |SELECT bin, n_a, n_b, p_a, p_b,
            |       CAST(cd AS DOUBLE) AS contrib,
            |       round(CAST(sum(cd) OVER () AS DOUBLE), 6) AS psi,
            |       round(max(gap) OVER (), 6) AS ks
            |FROM c ORDER BY bin""".stripMargin),
      "prof_hist" ->
        """WITH b AS (SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
          |                  count(*) AS n
          |           FROM orders GROUP BY 1)
          |SELECT bin, bin * 25000.0 AS lo, n,
          |       CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
          |            AS BIGINT) AS cum_n,
          |       round(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)::DOUBLE
          |             / sum(n) OVER (), 6) AS cdf
          |FROM b ORDER BY bin""".stripMargin,
      // datacard mirror: same md5 fingerprint classes, same integer
      // counts, same round-6 fractions
      "prof_card" ->
        s"""WITH base AS (SELECT source, lang, $tokSql AS n_tokens,
           |                     md5(text) AS fp
           |              FROM documents),
           |dc AS (SELECT fp, count(*) AS n FROM base GROUP BY 1)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           |       round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 6) AS avg_tokens,
           |       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           |       round(CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           |             / count(*), 6) AS dup_frac,
           |       CAST(sum(CASE WHEN n_tokens < 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           |       round(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
           |             / count(*), 6) AS en_frac
           |FROM base JOIN dc USING (fp)
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      // snapshot-diff mirror: same key-mod version slices, same +1.0
      // price bump, same full-outer status derivation
      "cdc_diff" ->
        """WITH old AS (SELECT o_orderkey AS k, o_totalprice AS old_price
          |             FROM orders WHERE o_orderkey % 89 <> 1),
          |nw AS (SELECT o_orderkey AS k,
          |              CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
          |                   ELSE o_totalprice END AS new_price
          |       FROM orders WHERE o_orderkey % 83 <> 2),
          |j AS (SELECT coalesce(old.k, nw.k) AS o_orderkey, old_price, new_price,
          |             CASE WHEN old.k IS NULL THEN 'added'
          |                  WHEN nw.k IS NULL THEN 'removed'
          |                  WHEN old_price <> new_price THEN 'changed'
          |             END AS status
          |      FROM old FULL OUTER JOIN nw ON old.k = nw.k)
          |SELECT o_orderkey, status, old_price, new_price
          |FROM j WHERE status IS NOT NULL ORDER BY o_orderkey""".stripMargin,
      // inverted-index mirror: same doc-mod sharding, same sorted
      // doc:pos posting fingerprints (0-based positions both sides)
      "txt_index" ->
        """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
          |                  generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
          |           FROM documents)
          |SELECT tok, doc_id % 8 AS shard,
          |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df_shard,
          |       CAST(count(*) AS BIGINT) AS cf_shard,
          |       md5(array_to_string(list_sort(list(doc_id || ':' || pos)), ','))
          |         AS postings_fp
          |FROM t GROUP BY 1, 2 ORDER BY tok, shard""".stripMargin,
      "mm_meta" ->
        ("SELECT doc_id AS media_id, 'fake/raw' AS format, " +
          "CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS width, " +
          "CAST(octet_length(encode(text)) % 48 + 12 AS INTEGER) AS height, " +
          "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes " +
          "FROM documents ORDER BY media_id"),
      "mm_frames" ->
        ("SELECT doc_id AS media_id, " +
          "CAST(GREATEST((octet_length(encode(text)) - 1) // 128, 0) + 1 AS BIGINT) AS n_frames " +
          "FROM documents ORDER BY media_id"),
    )
  }
}
