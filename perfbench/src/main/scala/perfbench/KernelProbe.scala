package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{MaskOps, SeriesOps}

/** The `functions` layer: each registered kernel timed on a generated,
  * cached in-memory column against the built-in chain it replaced, both
  * forced through the `noop` sink (full evaluation, no row conversion).
  * `rows_per_s` is the kernel's rate; `vs_builtin` is the built-in chain's
  * time over the kernel's (> 1: the kernel wins). Each pair must agree on
  * every row. */
object KernelProbe {
  final case class Kernel(name: String, input: String, kernel: String, builtin: String)

  private def md5Word(i: Int) = s"CAST(conv(substring(md5(s), ${8 * i + 1}, 8), 16, 10) AS BIGINT)"

  val Kernels = Seq(
    Kernel("md5_bits", "strings", "md5_bits(s, 1, 15)",
      "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"),
    Kernel("md5_words", "strings", "md5_words(s)", (0 until 4).map(md5Word).mkString("array(", ", ", ")")),
    Kernel("mh8", "strings", "mh8_md5(s)",
      (0 until 8).map(i => s"md5(concat('$i:', s))").mkString("array(", ", ", ")")),
    Kernel("vec_dot", "vectors", "vec_dot(a, b)",
      "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"),
    Kernel("ewma_fold", "series", "ewma_fold(l)",
      "aggregate(slice(l, 2, greatest(size(l) - 1, 0)), CAST(element_at(l, 1) AS DOUBLE), " +
        "(acc, x) -> 0.25 * x + 0.75 * acc)"),
    Kernel("mask_intersect", "masks", "mask_intersect(a_mask, b_mask)",
      "aggregate(zip_with(a_mask, b_mask, (x, y) -> bit_count(x & y)), 0, (acc, n) -> acc + n)"))

  val Rows = 200000

  private def inputs(spark: SparkSession): Map[String, DataFrame] = {
    val base = spark.range(Rows)
    Map(
      "strings" -> base.selectExpr("concat('doc-', id, '-', id * 7919) AS s"),
      "vectors" -> base.selectExpr(
        "transform(sequence(1, 64), i -> CAST(sin(id + i) AS FLOAT)) AS a",
        "transform(sequence(1, 64), i -> CAST(cos(id * i) AS FLOAT)) AS b"),
      "series" -> base.selectExpr("transform(sequence(1, 16), i -> sin(id * 0.1 + i) * 100) AS l"),
      "masks" -> base.selectExpr(
        "transform(sequence(1, 7), w -> xxhash64(id, w)) AS a_mask",
        "transform(sequence(1, 7), w -> xxhash64(id + 1, w)) AS b_mask"),
    ).map { case (k, df) => k -> df.cache() }
  }

  private def timeNoop(df: DataFrame, reps: Int): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })

  def run(spark: SparkSession, out: Outcome): Unit = {
    SeriesOps.register(spark)
    MaskOps.register(spark)
    val in = inputs(spark)
    in.values.foreach(_.count())
    Kernels.foreach { k =>
      val df = in(k.input)
      val mismatched = df.selectExpr(s"${k.kernel} AS k", s"${k.builtin} AS b")
        .where("NOT (k <=> b)").count()
      out.check(s"kernel ${k.name} equals its built-in chain", mismatched == 0)
      val kernel = df.selectExpr(s"${k.kernel} AS x")
      val builtin = df.selectExpr(s"${k.builtin} AS x")
      timeNoop(kernel, 1); timeNoop(builtin, 1)
      val tk = timeNoop(kernel, 3)
      val tb = timeNoop(builtin, 3)
      out.layer(s"functions.${k.name}.rows_per_s") = (Rows / tk, "1/s")
      out.layer(s"functions.${k.name}.vs_builtin") = (tb / tk, "ratio")
    }
    in.values.foreach(_.unpersist(blocking = true))
  }
}
