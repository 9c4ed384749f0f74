package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType, StructType}

/** Native codegen trailing-window series kernels (r12 optimization round,
  * guide §4). The window keys collect a trailing ≤16-sample array per row
  * and then run O(k²) interpreted higher-order expressions over it —
  * `win_theil_sen`'s pairwise-slope median evaluated ~120 slopes through
  * `transform`/`flatten`/`array_sort`/`aggregate` PER ROW, each element a
  * boxed Catalyst eval. These kernels compute the identical values in a
  * tight primitive loop inside whole-stage codegen.
  *
  * Exactness: slope arithmetic replays the HOF's IEEE op order verbatim;
  * the sort is a stable TimSort under the SAME comparator Spark's
  * `array_sort` uses for doubles (`SQLOrderingUtil.compareDoubles` — ±0.0
  * compare equal, NaN greatest), so the sorted multiset AND the order of
  * equal-comparing elements (stability) match; SeriesOpsSpec pins equality
  * against the HOF formulation on adversarial inputs (±0.0, NaN, constant
  * runs) plus randomized series. */
object SeriesOps {

  /** True when any slot of `l` is SQL NULL. The library's call sites all
    * feed `collect_list` outputs (containsNull = false), but the functions
    * are session-registered and reachable from ad-hoc SQL over
    * containsNull arrays, where ArrayData.getDouble/getLong on a null slot
    * would fabricate 0.0/0. Every kernel returns NULL instead: a deliberate
    * total-function choice. For the sequential folds it is also what their
    * HOF `aggregate` chains give; for [[theilSen]] it is not (the HOF sorts
    * null slopes and can still pick a non-null median). SeriesOpsSpec pins
    * the NULL. */
  private def anyNullSlot(l: ArrayData, k: Int): Boolean = {
    var i = 0
    while (i < k) { if (l.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Theil–Sen readout of `win_theil_sen`: all pairwise slopes
    * (l[j]−l[i])/(j−i) for 1 ≤ i < j ≤ k, sorted ascending, median
    * (lower-middle/upper-middle mean when even), floored at 1e-4.
    * Returns null when k < 2 or a slot is null (boxed Double for the
    * nullable slot). Called from generated code. */
  def theilSen(l: ArrayData): java.lang.Double = {
    val k = l.numElements()
    if (k < 2) return null
    if (anyNullSlot(l, k)) return null
    val v = new Array[Double](k)
    var i = 0
    while (i < k) { v(i) = l.getDouble(i); i += 1 }
    val m = k * (k - 1) / 2
    val slopes = new Array[java.lang.Double](m)
    var p = 0
    i = 0
    while (i < k - 1) {
      var j = i + 1
      while (j < k) {
        // identical IEEE ops to the HOF: (element_at(l,j) - element_at(l,i)) / (j - i)
        slopes(p) = java.lang.Double.valueOf((v(j) - v(i)) / (j - i).toDouble)
        p += 1
        j += 1
      }
      i += 1
    }
    // stable sort under Spark's array_sort double comparator
    java.util.Arrays.sort(slopes, SeriesOps.sparkDoubleComparator)
    val med =
      if (m % 2 == 1) slopes((m + 1) / 2 - 1).doubleValue()
      else (slopes(m / 2 - 1).doubleValue() + slopes(m / 2).doubleValue()) / 2.0
    // SQL floor(double) is LongType: math.floor(x).toLong (NaN → 0,
    // ±Inf → Long.Min/MaxValue), then `/ 10000` divides as doubles —
    // replay exactly so non-finite medians round-trip like the HOF's.
    java.lang.Double.valueOf(math.floor(med * 10000).toLong.toDouble / 10000.0)
  }

  /** The comparator Spark's ordering applies to DoubleType. */
  val sparkDoubleComparator: java.util.Comparator[java.lang.Double] =
    new java.util.Comparator[java.lang.Double] {
      override def compare(a: java.lang.Double, b: java.lang.Double): Int =
        org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(
          a.doubleValue(), b.doubleValue())
    }

  // ---------------------------------------------------------------------
  // Sequential-fold kernels for the bounded-window forecasting family.
  // Every kernel replays the IEEE op order of the HOF `aggregate` chain
  // it replaces VERBATIM (same literals, same op sequence per step) and
  // returns the RAW fold value — the floor-1e-4 quantization stays in the
  // caller's SQL, so the edge semantics (SQL floor(double) -> LongType)
  // are untouched. Null on an empty list (where the HOF's element_at(l, 1)
  // seed would THROW under ANSI mode — these kernels are the total
  // function) and on any null slot (r13, ADVICE: ArrayData.getDouble on a
  // null slot fabricates 0.0; the HOF chain null-propagates instead).
  // SeriesOpsSpec pins each kernel equal (<=>) to its HOF formulation on
  // adversarial and random series.
  // ---------------------------------------------------------------------

  /** win_ewma's fold: seed l[0], step y = 0.25*x + 0.75*y. */
  def ewma(l: ArrayData): java.lang.Double = {
    val k = l.numElements()
    if (k == 0 || anyNullSlot(l, k)) return null
    var acc = l.getDouble(0)
    var i = 1
    while (i < k) { acc = 0.25 * l.getDouble(i) + 0.75 * acc; i += 1 }
    java.lang.Double.valueOf(acc)
  }

  /** win_holt's fold: seed (l[0], 0); per step the SQL computes
    * lv' = 0.3x + 0.7(lv+tr) and tr' = 0.4*(lv' − lv) + 0.6*tr (the lv'
    * expression is textually duplicated in the HOF — same value).
    * Returns lv + tr. */
  def holt(l: ArrayData): java.lang.Double = {
    val k = l.numElements()
    if (k == 0 || anyNullSlot(l, k)) return null
    var lv = l.getDouble(0)
    var tr = 0.0
    var i = 1
    while (i < k) {
      val x = l.getDouble(i)
      val lv2 = 0.3 * x + 0.7 * (lv + tr)
      tr = 0.4 * (lv2 - lv) + 0.6 * tr
      lv = lv2
      i += 1
    }
    java.lang.Double.valueOf(lv + tr)
  }

  /** win_kalman's fold (Q=4, R=16): seed (l[0], p=16); per step
    * k = (p+4)/((p+4)+16), x' = x + k(z−x), p' = (1−k)(p+4). */
  def kalman(l: ArrayData): java.lang.Double = {
    val k = l.numElements()
    if (k == 0 || anyNullSlot(l, k)) return null
    var x = l.getDouble(0)
    var p = 16.0
    var i = 1
    while (i < k) {
      val z = l.getDouble(i)
      val g = (p + 4.0) / ((p + 4.0) + 16.0)
      x = x + g * (z - x)
      p = (1.0 - g) * (p + 4.0)
      i += 1
    }
    java.lang.Double.valueOf(x)
  }

  /** win_ewm_var's RiskMetrics fold over µ-unit long returns: per element
    * d = (x/1e6)*(x/1e6) (the transform step), seed d₀, step
    * v = 0.94*v + 0.06*d. */
  def ewmVar(l: ArrayData): java.lang.Double = {
    val k = l.numElements()
    if (k == 0 || anyNullSlot(l, k)) return null
    def d(i: Int): Double = {
      val r = l.getLong(i).toDouble / 1e6
      r * r
    }
    var acc = d(0)
    var i = 1
    while (i < k) { acc = 0.94 * acc + 0.06 * d(i); i += 1 }
    java.lang.Double.valueOf(acc)
  }

  /** win_ewma_irregular's continuous-time fold over (us: long, v: double)
    * structs: e = exp(−Δus/3.6e9), y = v(1−e) + y_prev·e (the SQL writes
    * the exp twice — same value; Spark's exp IS java.lang.Math.exp). */
  def ewmaT(l: ArrayData): java.lang.Double = {
    val k = l.numElements()
    if (k == 0 || anyNullSlot(l, k)) return null
    val s0 = l.getStruct(0, 2)
    var us = s0.getLong(0)
    var y = s0.getDouble(1)
    var i = 1
    while (i < k) {
      val s = l.getStruct(i, 2)
      val e = math.exp(-((s.getLong(0) - us).toDouble / 3600000000.0))
      y = s.getDouble(1) * (1.0 - e) + y * e
      us = s.getLong(0)
      i += 1
    }
    java.lang.Double.valueOf(y)
  }

  /** Additive Holt–Winters fold — the kernel twin of
    * [[graft.ops.HoltWinters.forecastExpr]]'s generated SQL (which stays
    * the reference formulation): state [lv, tr, s0..s(m−1), i], season
    * slot P = (int)i % m, and per step (x):
    *   LV = α(x − s_P) + (1−α)(lv + tr)
    *   TR = β(LV − lv) + (1−β)tr
    *   s_P' = γ(x − LV) + (1−γ)s_P
    * readout lv + tr + s_P over the FINAL state. Seeding per the
    * generator: simple (l[0], 0, 0⃗, 1) folding from the 2nd sample, or
    * first-season (mean of l[0..m−1] by sequential sum, slot j = l[j] −
    * mean, i = m) folding from sample m+1 — with the same
    * shorter-than-one-season fallback IF. Complements are computed in
    * exact decimal exactly like the generator's literals. */
  def holtWinters(l: ArrayData, m: Int, alpha: Double, beta: Double,
                  gamma: Double, seedFirstSeason: Boolean): java.lang.Double = {
    val k = l.numElements()
    if (k == 0 || anyNullSlot(l, k)) return null
    val ca = (BigDecimal(1) - BigDecimal(alpha.toString)).toDouble
    val cb = (BigDecimal(1) - BigDecimal(beta.toString)).toDouble
    val cg = (BigDecimal(1) - BigDecimal(gamma.toString)).toDouble
    var lv = 0.0
    var tr = 0.0
    val s = new Array[Double](m)
    var cnt = 0.0
    var from = 0
    if (seedFirstSeason && k >= m) {
      var sum = 0.0
      var j = 0
      while (j < m) { sum = sum + l.getDouble(j); j += 1 }
      val mean = sum / m.toDouble
      lv = mean
      j = 0
      while (j < m) { s(j) = l.getDouble(j) - mean; j += 1 }
      cnt = m.toDouble
      from = m
    } else {
      lv = l.getDouble(0)
      cnt = 1.0
      from = 1
    }
    var i = from
    while (i < k) {
      val x = l.getDouble(i)
      val p = cnt.toInt % m
      val si = s(p)
      val nlv = alpha * (x - si) + ca * (lv + tr)
      tr = beta * (nlv - lv) + cb * tr
      s(p) = gamma * (x - nlv) + cg * si
      lv = nlv
      cnt = cnt + 1.0
      i += 1
    }
    val p = cnt.toInt % m
    java.lang.Double.valueOf(lv + tr + s(p))
  }

  /** win_dtw's exact-integer 8×8 DTW between the two octaves of a
    * 16-sample µ-unit window: a = l[0..7], b = l[8..15], classic DP with
    * |a_i − b_j| cells, plus the aligned L1 Σ|a_i − b_i|. Returns
    * [dtw, l1]; null when the window holds fewer than 16 samples (the
    * old lag-15 notNull filter). All arithmetic exact longs — identical
    * integers to the stacked-projection DP by construction. */
  def dtw16(l: ArrayData): ArrayData = {
    if (l.numElements() < 16) return null
    if (anyNullSlot(l, l.numElements())) return null
    val a = new Array[Long](8)
    val b = new Array[Long](8)
    var i = 0
    while (i < 8) { a(i) = l.getLong(i); b(i) = l.getLong(8 + i); i += 1 }
    val d = new Array[Long](64) // d(i*8 + j)
    var l1 = 0L
    i = 0
    while (i < 8) {
      var j = 0
      while (j < 8) {
        val c = math.abs(a(i) - b(j))
        d(i * 8 + j) =
          if (i == 0 && j == 0) c
          else if (i == 0) d(j - 1) + c
          else if (j == 0) d((i - 1) * 8) + c
          else c + math.min(d((i - 1) * 8 + j),
            math.min(d(i * 8 + j - 1), d((i - 1) * 8 + j - 1)))
        j += 1
      }
      l1 += math.abs(a(i) - b(i))
      i += 1
    }
    new GenericArrayData(Array(d(63), l1))
  }

  def theilSenExpr(children: Seq[Expression]): TheilSenMedian = {
    require(children.size == 1,
      s"theil_sen_med requires exactly 1 argument, got ${children.size}")
    TheilSenMedian(children.head)
  }

  private[functions] def unary1(name: String, children: Seq[Expression],
                     mk: Expression => Expression): Expression = {
    require(children.size == 1, s"$name requires exactly 1 argument, got ${children.size}")
    mk(children.head)
  }

  def hwFoldExpr(children: Seq[Expression]): HwFold = {
    require(children.size == 6,
      s"hw_fold requires exactly 6 arguments, got ${children.size}")
    val (m, a, b, g, seed) = (children(1), children(2), children(3),
      children(4), children(5)) match {
      case (Literal(m: Int, IntegerType), Literal(a: Double, DoubleType),
            Literal(b: Double, DoubleType), Literal(g: Double, DoubleType),
            Literal(s: Boolean, BooleanType)) => (m, a, b, g, s)
      case _ => throw new IllegalArgumentException(
        "hw_fold requires literal (int m, double alpha/beta/gamma, boolean seeded) arguments")
    }
    require(m >= 2, s"season length must be >= 2, got $m")
    HwFold(children.head, m, a, b, g, seed)
  }

  /** Forwards to [[Kernels.ensure]]; kept only because the benchmark
    * harness's `KernelProbe` calls it by this name. */
  def register(spark: SparkSession): Unit = Kernels.ensure(spark)
}

/** `theil_sen_med(array<double>)` — see [[SeriesOps.theilSen]]. */
case class TheilSenMedian(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"theil_sen_med requires array<double>, got $t")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "theil_sen_med"
  override def nullSafeEval(a: Any): Any = {
    val r = SeriesOps.theilSen(a.asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("ts")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |java.lang.Double $boxed = graft.functions.SeriesOps.theilSen($c);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): TheilSenMedian =
    copy(child = newChild)
}

object FoldKernel {
  sealed abstract class Kind(val fnName: String, val method: String,
                             val inputOk: DataType => Boolean, val inputDesc: String)
  case object Ewma extends Kind("ewma_fold", "ewma",
    { case ArrayType(DoubleType, _) => true; case _ => false }, "array<double>")
  case object Holt extends Kind("holt_fold", "holt",
    { case ArrayType(DoubleType, _) => true; case _ => false }, "array<double>")
  case object Kalman extends Kind("kalman_fold", "kalman",
    { case ArrayType(DoubleType, _) => true; case _ => false }, "array<double>")
  case object EwmVar extends Kind("ewm_var_fold", "ewmVar",
    { case ArrayType(LongType, _) => true; case _ => false }, "array<bigint>")
  case object EwmaT extends Kind("ewma_t_fold", "ewmaT",
    {
      case ArrayType(st: StructType, _) if st.length == 2 &&
        st(0).dataType == LongType && st(1).dataType == DoubleType => true
      case _ => false
    }, "array<struct<us: bigint, v: double>>")
}

/** One-argument sequential-fold kernels — see the [[SeriesOps]] methods
  * of the same names. The `kind` selects the fold; all return a nullable
  * raw double (quantization stays in the caller's SQL). */
case class FoldKernel(child: Expression, kind: FoldKernel.Kind) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (kind.inputOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${kind.fnName} requires ${kind.inputDesc}, got ${child.dataType}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = kind.fnName
  override def nullSafeEval(a: Any): Any = {
    val r: java.lang.Double = kind match {
      case FoldKernel.Ewma => SeriesOps.ewma(a.asInstanceOf[ArrayData])
      case FoldKernel.Holt => SeriesOps.holt(a.asInstanceOf[ArrayData])
      case FoldKernel.Kalman => SeriesOps.kalman(a.asInstanceOf[ArrayData])
      case FoldKernel.EwmVar => SeriesOps.ewmVar(a.asInstanceOf[ArrayData])
      case FoldKernel.EwmaT => SeriesOps.ewmaT(a.asInstanceOf[ArrayData])
    }
    if (r == null) null else r.doubleValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("fold")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |java.lang.Double $boxed = graft.functions.SeriesOps.${kind.method}($c);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): FoldKernel =
    copy(child = newChild)
}

/** `hw_fold(l, m, α, β, γ, seeded)` — see [[SeriesOps.holtWinters]].
  * Parameters are baked at construction (registration requires literals). */
case class HwFold(child: Expression, m: Int, alpha: Double, beta: Double,
                  gamma: Double, seedFirstSeason: Boolean) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"hw_fold requires array<double>, got $t")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "hw_fold"
  override def nullSafeEval(a: Any): Any = {
    val r = SeriesOps.holtWinters(a.asInstanceOf[ArrayData], m, alpha, beta,
      gamma, seedFirstSeason)
    if (r == null) null else r.doubleValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("hw")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |java.lang.Double $boxed = graft.functions.SeriesOps.holtWinters(
         |  $c, $m, $alpha, $beta, $gamma, $seedFirstSeason);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): HwFold =
    copy(child = newChild)
}

/** `dtw16(l)` — see [[SeriesOps.dtw16]]. */
case class Dtw16(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"dtw16 requires array<bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "dtw16"
  override def nullSafeEval(a: Any): Any = SeriesOps.dtw16(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.freshName("dtw")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $arr = graft.functions.SeriesOps.dtw16($c);
         |if ($arr == null) { ${ev.isNull} = true; } else { ${ev.value} = $arr; }
       """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): Dtw16 =
    copy(child = newChild)
}
