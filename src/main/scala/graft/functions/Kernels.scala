package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The catalogue of the library's custom Catalyst functions: one
  * (name, info, builder) entry per kernel, each builder the arity-checked
  * one its expression family defines. It reaches a session two ways, both
  * from this table:
  *   - `spark.sql.extensions=graft.GraftExtensions` injects every entry
  *     into every session state built over the context;
  *   - [[ensure]] registers the entries a session lacks, for sessions built
  *     without the extension. It never replaces a registered function, so
  *     it is idempotent and logs nothing on a session that has them.
  */
object Kernels {
  type Entry = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def kernel(name: String, cls: Class[_], usage: String)(build: FunctionBuilder): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, null, name, usage, ""), build)

  private def fold(kind: FoldKernel.Kind, usage: String): Entry =
    kernel(kind.fnName, classOf[FoldKernel], usage)(
      c => SeriesOps.unary1(kind.fnName, c, FoldKernel(_, kind)))

  val all: Seq[Entry] = Seq(
    kernel("vec_dot", classOf[VecDot],
      "vec_dot(a, b) - dot product of two array<float|double> vectors, accumulated left-to-right in double.")(
      VecDot.builder),
    kernel("mask_intersect", classOf[MaskIntersect],
      "mask_intersect(a, b) - popcount of the bitwise AND of two array<bigint> bitmasks.")(
      MaskOps.intersectExpr),
    kernel("mask_card", classOf[MaskCard],
      "mask_card(a) - total popcount of an array<bigint> bitmask.")(
      MaskOps.cardExpr),
    kernel("md5_bits", classOf[Md5Bits],
      "md5_bits(s, start, len) - hex window [start, start+len) of md5(s) as an unsigned long; " +
        "bit-identical to CAST(conv(substring(md5(s), start, len), 16, 10) AS BIGINT).")(
      HashOps.md5BitsExpr),
    kernel("mh8_md5", classOf[Mh8],
      "mh8_md5(s) - array(md5('0:'||s), ..., md5('7:'||s)) as lowercase hex.")(
      HashOps.mh8Expr),
    kernel("cdc_cuts", classOf[CdcCuts],
      "cdc_cuts(s) - 1-based char positions i in [2, len-7] where the 60-bit md5 prefix of the " +
        "8-char window at i is divisible by 32 (content-defined chunk boundaries).")(
      HashOps.cdcCutsExpr),
    kernel("md5_words", classOf[Md5Words],
      "md5_words(s) - the four 32-bit words of md5(s) as unsigned longs; word m+1 is " +
        "bit-identical to CAST(conv(substring(md5(s), 8m+1, 8), 16, 10) AS BIGINT).")(
      HashOps.md5WordsExpr),
    // Spark ships BloomFilterAggregate / BloomFilterMightContain for its
    // own runtime join filtering but does not register them publicly;
    // surfacing them here gives the library a broadcastable membership
    // prefilter (llm_bloom_decontaminate) without a per-row UDF — the
    // aggregate is mergeable (map-side partials), the probe codegens.
    kernel("bloom_agg", classOf[BloomFilterAggregate],
      "bloom_agg(xxhash64(x), estimatedNumItems) - build a bloom filter over hashed values.")(
      c => new BloomFilterAggregate(c.head, c(1))),
    kernel("bloom_might_contain", classOf[BloomFilterMightContain],
      "bloom_might_contain(bf, xxhash64(x)) - membership probe; false = definitely absent.")(
      c => BloomFilterMightContain(c.head, c(1))),
    kernel("theil_sen_med", classOf[TheilSenMedian],
      "theil_sen_med(l) - floor-1e-4 median of the pairwise slopes of array<double> l; " +
        "null when l has fewer than 2 elements or a null slot.")(
      SeriesOps.theilSenExpr),
    fold(FoldKernel.Ewma, "ewma_fold(l) - EWMA of array<double> l: seed l[1], step y = 0.25*x + 0.75*y."),
    fold(FoldKernel.Holt, "holt_fold(l) - Holt level/trend fold (0.3, 0.4) of array<double> l; returns level + trend."),
    fold(FoldKernel.Kalman, "kalman_fold(l) - scalar Kalman estimate (Q=4, R=16) over array<double> l."),
    fold(FoldKernel.EwmVar, "ewm_var_fold(l) - RiskMetrics variance (0.94) of array<bigint> micro-unit returns."),
    fold(FoldKernel.EwmaT, "ewma_t_fold(l) - continuous-time EWMA (1 h scale) over array<struct<us, v>>."),
    kernel("hw_fold", classOf[HwFold],
      "hw_fold(l, m, alpha, beta, gamma, seeded) - additive Holt-Winters one-step forecast, season m.")(
      SeriesOps.hwFoldExpr),
    kernel("dtw16", classOf[Dtw16],
      "dtw16(l) - [dtw, l1] between the two 8-sample halves of a 16-sample array<bigint> window.")(
      c => SeriesOps.unary1("dtw16", c, Dtw16(_))))

  /** Register on `spark` every entry it does not already resolve. Checks
    * before it adds and never replaces, so a second call, or a call on an
    * extension session, changes nothing. Temp registrations are copied into
    * a stream's cloned session, so calling this before a query starts
    * covers its micro-batches too. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}
