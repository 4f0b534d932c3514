package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for embedding arithmetic.
  *
  * Spark has no native dot product; the `zip_with`+`aggregate` composition
  * is semantically right but runs INTERPRETED (per-element Expression.eval
  * with boxing — measured ~1.5 ms per 64-dim pair when it lands in a join's
  * bound condition). These expressions run a compiled Scala loop over the
  * unsafe array data instead (~0.2 µs), the (b)-tier extension path from
  * SURVEY §4.3 / the Spark guide's preference order.
  *
  * Every expression here implements REAL `doGenCode` — none is a
  * `CodegenFallback`. A single fallback expression excludes its whole host
  * operator from whole-stage codegen (CollapseCodegenStages rejects plans
  * containing one), splitting the fused stage around every projection that
  * touches a signature or a dot product. The generated code is one static
  * or reference-object call into the same compiled loop `eval` uses, so
  * the stage stays fused and the per-row cost is one (JIT-inlinable) call. */

/** Double-precision dot product of two float/double/int array columns
  * (int arrays appear on the quantized-embedding path). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) |
           ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float|double|int>, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  // element kind for the static kernel: 0 = double, 1 = float, 2 = int
  private def kind(t: DataType): Int = t match {
    case ArrayType(FloatType, _)   => 1
    case ArrayType(IntegerType, _) => 2
    case _                         => 0
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    // length mismatch → null, matching the aggregate(zip_with(a,b,*),0,+)
    // composition this expression replaces (zip_with null-pads the shorter
    // array and the null propagates through the sum) — required for the
    // CompiledDotProductRule rewrite to be semantics-preserving
    if (a.numElements() != b.numElements()) return null
    GraftVec.dot(a, b, kind(left.dataType), kind(right.dataType))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.GraftVec.dot(
          $a, $b, ${kind(left.dataType)}, ${kind(right.dataType)});
      }""")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** IEEE-754 double division: `left / right` exactly as the JVM computes
  * it — 0/0 = NaN, x/±0 = ±Inf with the SIGN of the zero respected, NaN
  * propagation. Spark's `Divide` returns NULL on a zero denominator (SQL
  * semantics), and rebuilding the IEEE cases from `when()` branches
  * cannot see the sign of a negative zero (`=== 0.0` matches both) — the
  * r9 positional-lag join path emitted +Inf where the streaming path's
  * JVM `/` gave −Inf for a −0.0 donor (r10 ADVICE). One codegen'd `/` is
  * both exact and cheaper than the branch tree it replaces. */
case class IeeeDivide(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ieee_div expects (double, double), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def nullSafeEval(l: Any, r: Any): Any =
    l.asInstanceOf[Double] / r.asInstanceOf[Double]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $a / $b;")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Order-independent exact dot product: each pairwise double product is
  * rounded to DECIMAL(38,30) (identical to Spark's double→decimal cast:
  * BigDecimal.valueOf, i.e. the shortest decimal representation — exact at
  * scale 30) and summed exactly; the decimal total is returned as a double.
  * Bit-equivalent to
  * `aggregate(zip_with(a,b,(x,y)->cast(x*y as decimal(38,30))),0,+).cast(double)`
  * but ~1000× faster. */
case class DotProductExact(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null // see DotProduct
    GraftVec.dotExact(a, b, isFloat(left.dataType), isFloat(right.dataType))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.GraftVec.dotExact(
          $a, $b, ${isFloat(left.dataType)}, ${isFloat(right.dataType)});
      }""")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Symmetric per-vector int8 quantization of a float/double array column:
  * scale = max|x| / 127, q_i = floor(x_i / scale + 0.5) (round-half-up via
  * floor — identical in every engine, unlike round()'s dialect-specific
  * half-tie rules). Returns struct(scale: double, q: array<int>). The
  * compressed form is how vector search actually ships at corpus scale:
  * 4× smaller than float32, and int dot products SIMD-vectorize. */
case class QuantizeInt8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(IntegerType, containsNull = false), nullable = false)))
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"quantize_int8 expects array<float|double>, got ${t.simpleString}")
    }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(in: Any): Any = compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("quantize", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      val a = math.abs(x)
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val scale = maxAbs / 127.0
    val q = new Array[Int](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) {
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        q(i) = math.floor(x / scale + 0.5).toInt
        i += 1
      }
    }
    InternalRow(scale, new org.apache.spark.sql.catalyst.util.GenericArrayData(q))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Flattened first+second moment contributions of a float/double vector,
  * in ONE compiled pass per row: [v_0..v_{d-1}] followed by the upper
  * triangle [v_i·v_j for i ≤ j], length d + d(d+1)/2. Feeding a
  * posexplode → groupBy(pos) decimal aggregation with this projection
  * computes the full covariance-moment set in a single corpus pass whose
  * shuffle carries ≤ d + d(d+1)/2 pre-combined rows per partition — the
  * d²-fanout happens as CPU inside the scan stage, never on the wire
  * (the posexplode self-join alternative ships the exploded corpus).
  * Each product of two (exactly widened) floats is EXACT in double
  * (24-bit · 24-bit ≤ 53-bit mantissa), so downstream decimal sums are
  * order-independent and engine-portable. */
case class OuterMomentsFlat(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"outer_moments_flat expects array<float|double>, got ${t.simpleString}")
    }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(in: Any): Any = compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("moments", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  def compute(arr: ArrayData): ArrayData = {
    val d = arr.numElements()
    val v = new Array[Double](d)
    var i = 0
    while (i < d) {
      v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val out = new Array[Double](d + d * (d + 1) / 2)
    System.arraycopy(v, 0, out, 0, d)
    var p = d
    i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        out(p) = v(i) * v(j)
        p += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Per-document repetition statistics — the Gopher repetition filters
  * (Rae et al. 2021, "Scaling Language Models: ... Gopher", table A1:
  * duplicate-word/-n-gram fractions and the top-n-gram share), token-based
  * over a token-array column, in ONE compiled pass per row. The per-doc
  * counts live and die inside the row: zero shuffle, zero explode — at
  * 100 TB the operator is a pure map fused into the scan stage.
  *
  * Struct fields (fractions of INSTANCES, not characters):
  *  - n_tokens, n_bigrams
  *  - dup_word_frac    = Σ c(w) over words with c(w) > 1, / n_tokens
  *  - top_bigram_frac  = max bigram count / n_bigrams (0 when no bigrams)
  *  - dup_bigram_frac  = Σ c(b) over bigrams with c(b) > 1, / n_bigrams */
case class RepetitionStats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("dup_word_frac", DoubleType, nullable = false),
    StructField("top_bigram_frac", DoubleType, nullable = false),
    StructField("dup_bigram_frac", DoubleType, nullable = false)))
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"repetition_stats expects array<string>, got ${t.simpleString}")
    }

  override def nullSafeEval(in: Any): Any = compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repStats", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val wc = new java.util.HashMap[String, Int]()
    val bc = new java.util.HashMap[String, Int]()
    var i = 0
    var prev: String = null
    while (i < n) {
      val w = arr.getUTF8String(i).toString
      wc.merge(w, 1, Integer.sum)
      if (prev != null) bc.merge(prev + " " + w, 1, Integer.sum)
      prev = w
      i += 1
    }
    var dupW = 0L
    wc.forEach((_, c) => if (c > 1) dupW += c)
    var dupB = 0L
    var topB = 0L
    bc.forEach((_, c) => {
      if (c > 1) dupB += c
      if (c > topB) topB = c
    })
    val nBg = if (n >= 2) (n - 1).toLong else 0L
    InternalRow(n.toLong, nBg,
      if (n > 0) dupW.toDouble / n else 0.0,
      if (nBg > 0) topB.toDouble / nBg else 0.0,
      if (nBg > 0) dupB.toDouble / nBg else 0.0)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Count of elements of a string-array column that belong to a FIXED
  * driver-resident set (bound at plan time, shipped once per task via the
  * expression's reference object — the broadcast-set membership shape).
  * Powers the zero-state streaming contamination gate: per-row overlap
  * against a benchmark n-gram set without a join or aggregation, so the
  * operator is append-mode-safe and fuses into the scan. The set must be
  * driver-bounded (benchmark sets are MBs by definition; the scalable
  * batch path is [[graft.operators.Dedup.contamination]]'s join). */
case class SetOverlapCount(child: Expression, set: Array[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"set_overlap_count expects array<string>, got ${t.simpleString}")
    }

  @transient private lazy val lookup: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](set.length * 2)
    set.foreach(x => s.add(org.apache.spark.unsafe.types.UTF8String.fromString(x)))
    s
  }

  override def nullSafeEval(in: Any): Any = compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("setOverlap", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  def compute(arr: ArrayData): Int = {
    var n = 0
    var i = 0
    val m = arr.numElements()
    while (i < m) {
      if (lookup.contains(arr.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Per-document sliding-window span-dedup against a FIXED reference
  * fingerprint set — the streaming twin of the batch span machinery
  * (`Dedup.spanStatsAgainst`), collapsed into ONE compiled pass per row so
  * the streaming gate is a stateless projection (append-mode-safe, no
  * window functions, no stream-static join re-executed per micro-batch).
  * `ref` packs the reference's distinct (f1, f0) window fingerprints flat;
  * the per-token hash and the position-reweighted window fingerprint are
  * BIT-IDENTICAL to the batch operator's (md5_long60("0:"+tok) mod 2^40;
  * f1 = Σh·(rel+1), f0 = Σh), so batch equivalence is exact. Returns
  * struct(n_windows, n_dup_windows, removable_tokens, clean_text); docs
  * shorter than k pass through with zero windows. */
case class SpanRefStats(child: Expression, k: Int, ref: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(k >= 2 && k <= 64, "window size k must be in [2, 64]")
  require(ref.length % 2 == 0, "ref must pack (f1, f0) pairs")

  override def dataType: DataType = StructType(Seq(
    StructField("n_windows", LongType, nullable = false),
    StructField("n_dup_windows", LongType, nullable = false),
    StructField("removable_tokens", LongType, nullable = false),
    StructField("clean_text", StringType, nullable = false)))
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"span_ref_stats expects array<string>, got ${t.simpleString}")
    }

  @transient private lazy val lookup: java.util.HashSet[(Long, Long)] = {
    val s = new java.util.HashSet[(Long, Long)](ref.length)
    var i = 0
    while (i < ref.length) { s.add((ref(i), ref(i + 1))); i += 2 }
    s
  }

  override def nullSafeEval(in: Any): Any = compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refObj = ctx.addReferenceObj("spanRefStats", this)
    defineCodeGen(ctx, ev, c => s"$refObj.compute($c)")
  }

  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    val h = new Array[Long](n)
    val zero = org.apache.spark.unsafe.types.UTF8String.fromString("0:")
    var i = 0
    while (i < n) {
      toks(i) = arr.getUTF8String(i)
      h(i) = GraftHash.md5Long60(
        org.apache.spark.unsafe.types.UTF8String.concat(zero, toks(i))) %
        1099511627776L
      i += 1
    }
    val nWin = math.max(0, n - k + 1)
    val dup = new Array[Boolean](math.max(nWin, 0))
    var nDup = 0L
    if (nWin > 0) {
      // sliding sums, exactly the batch arithmetic
      var s0 = 0L; var s1 = 0L
      var j = 0
      while (j < k) { s0 += h(j); s1 += h(j) * (j + 1); j += 1 }
      var p = 0
      while (p < nWin) {
        if (p > 0) {
          s0 += h(p + k - 1) - h(p - 1)
          s1 += h(p + k - 1) * (p + k) - h(p - 1) * p.toLong
        }
        if (lookup.contains((s1 - p.toLong * s0, s0))) { dup(p) = true; nDup += 1 }
        p += 1
      }
    }
    // coverage: token p covered when any dup window starts in [p−k+1, p]
    var removable = 0L
    val sb = new java.lang.StringBuilder()
    var p = 0
    while (p < n) {
      var cov = false
      var s = math.max(0, p - k + 1)
      val e = math.min(nWin - 1, p)
      while (!cov && s <= e) { cov = dup(s); s += 1 }
      if (cov) removable += 1
      else {
        if (sb.length > 0) sb.append(' ')
        sb.append(toks(p).toString)
      }
      p += 1
    }
    InternalRow(nWin.toLong, nDup, removable,
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Static vector kernels callable from generated Java (object → static
  * forwarders, same pattern as [[GraftHash]]). The element-type flags are
  * codegen-time literals, so the JIT sees constant branches. */
object GraftVec {
  // kind: 0 = double, 1 = float, 2 = int
  def dot(a: ArrayData, b: ArrayData, aKind: Int, bKind: Int): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aKind == 1) a.getFloat(i).toDouble
              else if (aKind == 2) a.getInt(i).toDouble
              else a.getDouble(i)
      val y = if (bKind == 1) b.getFloat(i).toDouble
              else if (bKind == 2) b.getInt(i).toDouble
              else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  def dotExact(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc = acc.add(java.math.BigDecimal.valueOf(x * y))
      i += 1
    }
    acc.doubleValue()
  }

  /** 32 sign bits of embedding half `half` packed into a long (see
    * [[SignPack32]]). */
  def signPack32(a: ArrayData, half: Int, isFloat: Boolean): Long = {
    var code = 0L
    val base = half * 32
    val n = math.min(32, a.numElements() - base)
    var i = 0
    while (i < n) {
      val v = if (isFloat) a.getFloat(base + i).toDouble
              else a.getDouble(base + i)
      if (v > 0) code |= (1L << i)
      i += 1
    }
    code
  }

  /** Equi-height bucket of a composite (ord, v, tie) key against a SORTED
    * sample array of struct(o: double, v: long, t: long): binary-search
    * the count `c` of sample elements lexicographically ≤ (ord, v, tie),
    * return min(parts−1, c·parts/size) — the quantile slice id of
    * `Prefix.withSliceId`. `v` (r9) is a NATIVE-ORDER long surrogate
    * compared BEFORE the tie hash: order columns whose distinct native
    * values collide after the double cast (BIGINT > 2^53) would otherwise
    * have the hash split a collision group across slices in an order
    * inconsistent with the native within-slice sort. ~log2(size) struct
    * compares per row where the flat boundary-column formulation
    * generated a method past the JIT's 8 KB bytecode ceiling (HotSpot
    * refuses to compile huge methods, so the generated projection ran
    * INTERPRETED — measured ~25× the scan cost of the same frame). Empty
    * sample → 0. */
  def quantileBucket(all: ArrayData, ord: Double, v: Long, tie: Long,
                     parts: Int): Int = {
    val size = all.numElements()
    if (size == 0) return 0
    var lo = 0
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val e = all.getStruct(mid, 3)
      val eo = e.getDouble(0)
      val ev = e.getLong(1)
      val le = eo < ord || (eo == ord &&
        (ev < v || (ev == v && e.getLong(2) <= tie)))
      if (le) lo = mid + 1 else hi = mid
    }
    val b = (lo.toLong * parts / size).toInt
    if (b > parts - 1) parts - 1 else b
  }
}

/** 32 sign bits of one HALF of a float/double embedding packed into a
  * long (bit i of half h = [element 32h+i > 0]) — the 1-bit binary
  * quantization modern vector search ships for its first-pass Hamming
  * scan (64× smaller than float32; distance = popcount of XOR). A
  * compiled scan-stage projection; two halves cover dim ≤ 64 without
  * touching the sign bit of either long, so the identical packing is
  * expressible in any SQL engine (the oracle mirrors it). */
case class SignPack32(child: Expression, half: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(half >= 0, "half must be non-negative")
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sign_pack32 expects array<float|double>, got ${t.simpleString}")
    }

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(in: Any): Any =
    GraftVec.signPack32(in.asInstanceOf[ArrayData], half, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GraftVec.signPack32($c, $half, $isFloat);")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The quantile slice id of [[graft.operators.Prefix]]: equi-height bucket
  * of (ord, v, tie) against a broadcast sorted sample array — one compiled
  * binary search per row (see [[GraftVec.quantileBucket]]). `second` is
  * the double order key, `third` the native-order long surrogate (r9 —
  * compared before the tie hash so slice order always extends the native
  * sort even when distinct native values collide in double), `fourth` the
  * tie hash. */
case class QuantileBucket(first: Expression, second: Expression,
                          third: Expression, fourth: Expression, parts: Int)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (first.dataType, second.dataType, third.dataType,
        fourth.dataType) match {
      case (ArrayType(StructType(fs), _), DoubleType, LongType, LongType)
          if fs.length == 3 && fs(0).dataType == DoubleType &&
            fs(1).dataType == LongType && fs(2).dataType == LongType => true
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "quantile_bucket expects (array<struct<o:double,v:bigint,t:bigint>>, " +
        s"double, bigint, bigint), got ${first.dataType.simpleString}, " +
        s"${second.dataType.simpleString}, ${third.dataType.simpleString}, " +
        s"${fourth.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, o: Any, v: Any, t: Any): Any =
    GraftVec.quantileBucket(a.asInstanceOf[ArrayData],
      o.asInstanceOf[Double], v.asInstanceOf[Long], t.asInstanceOf[Long],
      parts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, o, v, t) =>
      s"${ev.value} = graft.functions.GraftVec.quantileBucket($a, $o, $v, $t, $parts);")

  /** The bounds render as their count, as [[RankLookup]] renders its keys:
    * the memoized bound literal holds up to parts·256 structs, and every
    * explain and plan-info string of a slice-scan plan would print them. */
  override def toString: String = {
    val bounds = first match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          a: org.apache.spark.sql.catalyst.util.ArrayData, _) =>
        s"${a.numElements()} bounds"
      case other => other.toString
    }
    s"quantile_bucket($bounds, $second, $third, $fourth, $parts)"
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression) =
    copy(first = f, second = s, third = t, fourth = q)
}

/** The count-map `.rank()` of [[graft.compile.FormulaCompiler]]: the rank
  * of the double key `child` read from `ranks`, parallel to the sorted
  * distinct `keys` both collected at plan time — one compiled binary
  * search per row. Keys are normalized (+0.0, no NaN), as the lookup
  * normalizes its input. A key absent from `keys` means the input changed
  * between the count collect and this projection (a non-deterministic
  * source): it throws rather than emit a wrong rank. */
case class RankLookup(child: Expression, keys: Array[Double],
                      ranks: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(keys.length == ranks.length, "keys and ranks must align")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"rank_lookup expects double, got ${child.dataType.simpleString}")

  override def nullSafeEval(in: Any): Any = lookup(in.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rankLookup", this)
    defineCodeGen(ctx, ev, c => s"$ref.lookup($c)")
  }

  def lookup(k: Double): Double = {
    val i = java.util.Arrays.binarySearch(keys, k + 0.0)
    if (i < 0) throw new IllegalStateException(
      s"rank_lookup: value $k is absent from the collected value counts — " +
        "the input changed between the count collect and the projection " +
        "(non-deterministic source?). Refusing to emit a wrong rank")
    ranks(i)
  }

  override def toString: String = s"rank_lookup($child, ${keys.length} keys)"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Engine-portable rolling hash of a string array (one compiled loop per
  * row; the HOF formulation evaluates md5 per element INTERPRETED, measured
  * ~70× slower). Per token: h = md5_60("0:" + token) % 2^20 (first 15 md5
  * hex digits as a long); acc' = (acc * 1000003 + h) % 2^40. Every step is
  * exact signed-64 arithmetic any SQL engine reproduces. */
case class PortableRollingHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(in: Any): Any = compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rollingHash", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  def compute(arr: ArrayData): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      md.reset()
      val bytes = md.digest(
        ("0:" + arr.getUTF8String(i).toString).getBytes("UTF-8"))
      // first 15 hex digits = top 60 bits of the first 8 digest bytes
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (bytes(j) & 0xFFL); j += 1 }
      h = h >>> 4 // drop the 16th hex digit
      acc = (acc * 1000003L + h % 1048576L) % 1099511627776L
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** k-slot MinHash signature of a token array, computed in ONE compiled pass
  * per row — no explode, no groupBy, no shuffle. Replaces the
  * explode(shingles) → k hash projections → groupBy(id).agg(k mins) pipeline
  * (reference semantics: SURVEY §2.9 dd_minhash), whose shuffle carries
  * k longs per document; this is a narrow projection that scales as a pure
  * map at any corpus size.
  *
  * Parity contract (bit-identical to the explode pipeline and its DuckDB
  * oracle): word n-gram shingles joined by " " (whole-doc shingle for docs
  * shorter than n tokens); portable mode hashes each shingle once with
  * md5_long60("0:" + shingle) and derives slot k as
  * (a_k * (h % P) + b_k) % P over the Mersenne prime P = 2^31-1; the
  * signature slot is the min over shingles. Duplicate shingles cannot
  * affect a min, so no distinct pass is needed.
  *
  * xxhash mode (`portable = false`): slot k is Spark-native
  * `xxhash64(lit(k), shingle)` — reproduced exactly by seeding
  * XxHash64Function with the hash of the integer literal, so results stay
  * bit-identical to the previous explode+groupBy formulation (and to the
  * streaming near-dup signatures). */
case class MinHashSig(child: Expression, n: Int,
                      params: Seq[(Long, Long)],
                      portable: Boolean = true)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig expects array<string>, got ${t.simpleString}")
    }

  @transient private lazy val as: Array[Long] = params.map(_._1).toArray
  @transient private lazy val bs: Array[Long] = params.map(_._2).toArray
  // xxhash mode: seed of slot k = the running hash xxhash64(lit(k), ·)
  // carries after its first (integer-literal) child
  @transient private lazy val xxSeeds: Array[Long] =
    (0 until params.length).map(s =>
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        s, org.apache.spark.sql.types.IntegerType, 42L)).toArray

  override def nullSafeEval(in: Any): Any = compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val k = params.length
    val mins = Array.fill(k)(Long.MaxValue)
    val sb = new java.lang.StringBuilder(64)
    def hashShingle(from: Int, until: Int): Unit = {
      sb.setLength(0)
      if (portable) sb.append("0:")
      var j = from
      while (j < until) {
        if (j > from) sb.append(' ')
        sb.append(arr.getUTF8String(j).toString)
        j += 1
      }
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      if (portable) {
        val base = GraftHash.md5Long60(u) % GraftHash.UhPrime
        var s = 0
        while (s < k) {
          val v = (base * as(s) + bs(s)) % GraftHash.UhPrime
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      } else {
        var s = 0
        while (s < k) {
          val v = org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(u, org.apache.spark.sql.types.StringType, xxSeeds(s))
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
    }
    if (m >= n) {
      var i = 0
      while (i <= m - n) { hashShingle(i, i + n); i += 1 }
    } else hashShingle(0, m)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** SimHash of a token array in ONE compiled pass per row — replaces the
  * explode(words) → packed-lane sums → groupBy(id) pipeline with a
  * shuffle-free projection. Parity contract: per token, portable mode
  * hashes h = md5_long60("0:" + token) (60 bits); xx mode hashes
  * h = xxhash64(lit(0), token) (64 bits, seeded exactly as the Spark
  * expression chain). Bit b of the result is set iff strictly more than
  * half of the document's tokens (duplicates counted) have bit b set in h.
  * Identical to the lane-packed aggregate formulation and its DuckDB
  * oracle. */
case class SimHash60(child: Expression, portable: Boolean = true)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash60 expects array<string>, got ${t.simpleString}")
    }

  @transient private lazy val xxSeed: Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      0, org.apache.spark.sql.types.IntegerType, 42L)

  override def nullSafeEval(in: Any): Any = compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  def compute(arr: ArrayData): Long = {
    val m = arr.numElements()
    val nBits = if (portable) 60 else 64
    val ones = new Array[Int](nBits)
    val prefix = org.apache.spark.unsafe.types.UTF8String.fromString("0:")
    var i = 0
    while (i < m) {
      val h =
        if (portable) GraftHash.md5Long60(org.apache.spark.unsafe.types
          .UTF8String.concat(prefix, arr.getUTF8String(i)))
        else org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(arr.getUTF8String(i), org.apache.spark.sql.types.StringType, xxSeed)
      var b = 0
      while (b < nBits) {
        if (((h >>> b) & 1L) == 1L) ones(b) += 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < nBits) {
      if (ones(b) * 2 > m) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Word n-gram shingle array (" "-joined), compiled. Default mode is
  * first-occurrence-distinct, matching the `transform(sequence(...))` +
  * array_distinct formulation of Dedup.shinglesOf (which runs INTERPRETED
  * per element); `distinct = false` keeps EVERY occurrence in order — the
  * counting mode (BPE pair frequencies, collocation counts). One loop per
  * row either way. Whole-doc shingle for docs under n tokens. */
case class WordShingles(child: Expression, n: Int, distinct: Boolean = true)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_shingles expects array<string>, got ${t.simpleString}")
    }

  override def nullSafeEval(in: Any): Any = compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val out = new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String]()
    val seen =
      if (distinct) new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
      else null
    val sb = new java.lang.StringBuilder(64)
    def shingle(from: Int, until: Int): Unit = {
      sb.setLength(0)
      var j = from
      while (j < until) {
        if (j > from) sb.append(' ')
        sb.append(arr.getUTF8String(j).toString)
        j += 1
      }
      val s = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      if (seen == null || seen.add(s)) out.add(s)
    }
    if (m >= n) {
      var i = 0
      while (i <= m - n) { shingle(i, i + n); i += 1 }
    } else shingle(0, m)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Hilbert-curve index of a 2-D bucket pair (the xy→d walk of the classic
  * iterative algorithm; see Hilbert 1891, and the bit-twiddling form in
  * Warren, "Hacker's Delight" §16): per level from the top bit down, read
  * the two quadrant bits, accumulate `s²·gray(rx,ry)` and rotate/reflect
  * the frame. Hilbert keys preserve locality strictly better than Morton
  * z-values (every consecutive pair of cells is grid-adjacent — no Morton
  * "seam jumps"), so equal-size key-range files have tighter min/max
  * extents. One fixed-trip loop per row, compiled (no per-level expression
  * tree blow-up); inputs must already be bucketed into [0, 2^bits). */
case class HilbertIndex2D(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType &&
        bits >= 1 && bits <= 31)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hilbert_2d expects (bigint, bigint) and bits in [1,31], got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}, $bits")

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hilbert", this)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.compute($a, $b)")
  }

  def compute(bx: Long, by: Long): Long = {
    // full-grid rotation variant: reflections use 2^bits-1 so x and y stay
    // inside [0, 2^bits) at every level — no negative intermediates, which
    // keeps the oracle's div/mod bit reads exact (SQL has no bit-and on
    // two's-complement negatives with portable semantics)
    val n1 = (1L << bits) - 1
    var x = bx; var y = by; var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) { // rotate/reflect the frame
        if (rx == 1L) { x = n1 - x; y = n1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Static hash helpers callable from generated Java (no companion class, so
  * scalac emits static forwarders and codegen can reference
  * `graft.functions.GraftHash.md5Long60(...)` directly). */
object GraftHash {
  /** Mersenne prime 2^31-1: modulus of the universal-hash family used by the
    * portable minhash (slot k = (a_k·(h%P) + b_k) % P; a·h < 2^62 keeps the
    * arithmetic inside signed-64 / ANSI-safe). */
  val UhPrime: Long = 2147483647L

  private val mdPool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex digits of md5(utf8) as a long — identical to
    * `conv(substring(md5(x),1,15),16,10)::long` (16 hex digits = the first
    * 8 digest bytes as an unsigned 64-bit value; dropping the 16th digit is
    * a `>>> 4`), without the hex-string/substring/bigint-parse detour. */
  def md5Long60(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = mdPool.get()
    md.reset()
    val b = md.digest(s.getBytes)
    var h = 0L
    var j = 0
    while (j < 8) { h = (h << 8) | (b(j) & 0xFFL); j += 1 }
    h >>> 4
  }
}

/** Engine-portable 60-bit string hash (SURVEY §2.9 dedup operators): the
  * first 15 hex digits of md5 as a long, with REAL whole-stage codegen —
  * the built-in `conv(substring(md5(x),1,15),16,10)` chain allocates a hex
  * string, a substring and a radix-parse per row; this compiles to one
  * static call. */
case class Md5Long60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_long60 expects string, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(in: Any): Any =
    GraftHash.md5Long60(in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.md5Long60($c)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object ArrayOps {
  private def expr(c: Column): Expression = GraftColumnBridge.expression(c)

  /** Fast double dot product (compiled loop). */
  def dot_product(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(expr(a), expr(b)))

  /** Exact, order-independent dot product (decimal-summed, as double). */
  def dot_product_exact(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProductExact(expr(a), expr(b)))

  /** IEEE-754 double division (JVM `/`: 0/0 = NaN, x/±0 = signed Inf). */
  def ieee_div(a: Column, b: Column): Column =
    GraftColumnBridge.column(IeeeDivide(expr(a), expr(b)))

  /** Portable rolling hash over a string-array column (compiled loop). */
  def rolling_hash_portable(a: Column): Column =
    GraftColumnBridge.column(PortableRollingHash(expr(a)))

  /** Portable 60-bit md5 hash of a string column (codegen'd static call). */
  def md5_long60(c: Column): Column =
    GraftColumnBridge.column(Md5Long60(expr(c)))

  /** k-slot portable MinHash signature of a token-array column (one compiled
    * pass per row; no shuffle). */
  def minhash_sig(words: Column, n: Int, params: Seq[(Long, Long)],
                  portable: Boolean = true): Column =
    GraftColumnBridge.column(MinHashSig(expr(words), n, params, portable))

  /** SimHash of a token-array column (one compiled pass; 60-bit portable
    * md5 by default, 64-bit xxhash with portable = false). */
  def simhash60(words: Column, portable: Boolean = true): Column =
    GraftColumnBridge.column(SimHash60(expr(words), portable))

  /** Compiled word n-gram shingle array (first-occurrence distinct). */
  def word_shingles(words: Column, n: Int): Column =
    GraftColumnBridge.column(WordShingles(expr(words), n))

  /** Compiled word n-gram shingle array, EVERY occurrence in order (the
    * counting mode: BPE pair frequencies, collocation counts). */
  def word_shingles_all(words: Column, n: Int): Column =
    GraftColumnBridge.column(WordShingles(expr(words), n, distinct = false))

  /** Compiled 2-D Hilbert-curve index of two [0, 2^bits) bucket columns. */
  def hilbert_2d(bx: Column, by: Column, bits: Int): Column =
    GraftColumnBridge.column(HilbertIndex2D(expr(bx), expr(by), bits))

  /** Symmetric int8 quantization: struct(scale: double, q: array<int>). */
  def quantize_int8(emb: Column): Column =
    GraftColumnBridge.column(QuantizeInt8(expr(emb)))

  /** Flattened per-row moment contributions for one-pass covariance:
    * [v_i] ++ [v_i·v_j, i ≤ j] (length d + d(d+1)/2). */
  def outer_moments_flat(emb: Column): Column =
    GraftColumnBridge.column(OuterMomentsFlat(expr(emb)))

  /** Gopher repetition signals over a token array (one compiled pass):
    * struct(n_tokens, n_bigrams, dup_word_frac, top_bigram_frac,
    * dup_bigram_frac). */
  def repetition_stats(words: Column): Column =
    GraftColumnBridge.column(RepetitionStats(expr(words)))

  /** Count of a string-array column's elements that belong to a fixed
    * driver-resident set (broadcast-set membership, zero shuffle). */
  def set_overlap_count(arr: Column, set: Array[String]): Column =
    GraftColumnBridge.column(SetOverlapCount(expr(arr), set))

  /** Equi-height quantile bucket of (ord, v, tie) against a sorted sample
    * array column (compiled binary search); `v` is the native-order long
    * surrogate compared before the tie hash (r9). */
  def quantile_bucket(all: Column, ord: Column, v: Column, tie: Column,
                      parts: Int): Column =
    GraftColumnBridge.column(
      QuantileBucket(expr(all), expr(ord), expr(v), expr(tie), parts))

  /** The rank of a double key among sorted distinct `keys`, read from the
    * parallel `ranks` (compiled binary search; see [[RankLookup]]). */
  def rank_lookup(key: Column, keys: Array[Double],
                  ranks: Array[Double]): Column =
    GraftColumnBridge.column(RankLookup(expr(key), keys, ranks))

  /** 1-bit binary quantization: 32 sign bits of half `half` as a long. */
  def sign_pack32(emb: Column, half: Int): Column =
    GraftColumnBridge.column(SignPack32(expr(emb), half))

  /** Per-row sliding-window span-dedup stats + removal against a fixed
    * reference fingerprint set (one compiled pass; the streaming twin of
    * Dedup.spanStatsAgainst). */
  def span_ref_stats(tokens: Column, k: Int, ref: Array[Long]): Column =
    GraftColumnBridge.column(SpanRefStats(expr(tokens), k, ref))
}
