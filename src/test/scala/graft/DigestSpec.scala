package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r12 codegen hash expressions (graft.functions.HashOps)
  * bit-identical to the builtin md5/conv/substring chains they replaced in
  * the dedup/CDC hot paths — the exactness contract that keeps every
  * oracle hash unaffected by the optimization.
  *
  * Uses the shared SparkSpec session: a getOrCreate() in a suite aliases
  * whatever session an earlier suite created, so stopping it here would
  * kill the SparkContext for every remaining suite (r12 driver failure). */
class DigestSpec extends SparkSpec {

  /** Adversarial strings: empty, single char, ASCII, multi-byte UTF-8
    * (2/3/4-byte sequences incl. an emoji supplementary pair), boundary
    * lengths around the CDC window (8/9 chars), long repetitive text. */
  private def fixtures = Seq(
    "", "a", "0:", "hello world", "ffffffff",
    "exactly8", "exactly9c", "ümläut tøkens", "日本語のテキストです長い",
    "mixed ascii と 日本語 🙂 and more", "🙂🙂🙂🙂🙂🙂🙂🙂🙂",
    ("lorem ipsum dolor sit amet " * 20).trim,
    (0 until 64).map(i => s"tok$i").mkString(" "))

  test("md5_bits equals CAST(conv(substring(md5(x), a, n), 16, 10) AS BIGINT) at every window") {
    val sp = spark; import sp.implicits._
    val df = fixtures.toDF("s")
    for ((start, len) <- Seq((1, 15), (1, 4), (1, 8), (1, 12), (5, 4), (9, 1), (13, 12), (18, 15), (29, 4))) {
      val bad = df
        .withColumn("fast", call_function("md5_bits", col("s"), lit(start), lit(len)))
        .withColumn("ref", expr(
          s"CAST(conv(substring(md5(s), $start, $len), 16, 10) AS BIGINT)"))
        .where(col("fast") =!= col("ref"))
        .count()
      assert(bad === 0, s"md5_bits($start, $len) diverged from the builtin chain")
    }
  }

  test("md5_words equals the four conv(substring(md5(x), 8m+1, 8)) windows") {
    val sp = spark; import sp.implicits._
    val df = fixtures.toDF("s")
      .withColumn("ws", call_function("md5_words", col("s")))
    val checks = (0 until 4).map(m =>
      element_at(col("ws"), m + 1) ===
        expr(s"CAST(conv(substring(md5(s), ${8 * m + 1}, 8), 16, 10) AS BIGINT)"))
    assert(df.where(!checks.reduce(_ && _)).count() === 0)
  }

  test("mh8_md5 equals the 8 seeded builtin md5(concat('i:', x)) hashes") {
    val sp = spark; import sp.implicits._
    val df = fixtures.toDF("s")
      .withColumn("mh", call_function("mh8_md5", col("s")))
    val checks = (0 until 8).map(i =>
      element_at(col("mh"), i + 1) === md5(concat(lit(s"$i:"), col("s"))))
    assert(df.where(!checks.reduce(_ && _)).count() === 0)
  }

  test("cdc_cuts equals the HOF filter formulation (ASCII and multi-byte)") {
    val sp = spark; import sp.implicits._
    val df = fixtures.toDF("text")
    val bad = df
      .withColumn("fast", call_function("cdc_cuts", col("text")))
      .withColumn("len", length(col("text")))
      .withColumn("ref", expr(
        "CASE WHEN len >= 9 THEN filter(sequence(2, len - 7), " +
          "i -> cast(conv(substring(md5(substring(text, i, 8)), 1, 15), 16, 10) as bigint) % 32 = 0) " +
          "ELSE array() END"))
      .where(expr("NOT (fast <=> ref)"))
      .count()
    assert(bad === 0)
  }

  test("cdc_cuts on a real-shaped corpus slice matches the HOF formulation") {
    // deterministic synthetic docs with enough positions for real cuts
    val sp = spark; import sp.implicits._
    val docs = (0 until 200).map { i =>
      val toks = (0 until 50).map(j => s"w${(i * 31 + j * 7) % 97}")
      toks.mkString(" ")
    }.toDF("text")
    val bad = docs
      .withColumn("fast", call_function("cdc_cuts", col("text")))
      .withColumn("len", length(col("text")))
      .withColumn("ref", expr(
        "CASE WHEN len >= 9 THEN filter(sequence(2, len - 7), " +
          "i -> cast(conv(substring(md5(substring(text, i, 8)), 1, 15), 16, 10) as bigint) % 32 = 0) " +
          "ELSE array() END"))
      .where(expr("NOT (fast <=> ref)"))
      .count()
    assert(bad === 0)
    // and the corpus actually produces cuts (the test isn't vacuous)
    val nCuts = docs.select(explode(call_function("cdc_cuts", col("text")))).count()
    assert(nCuts > 100, s"expected a real cut population, got $nCuts")
  }
}
