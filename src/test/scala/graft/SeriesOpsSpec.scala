package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r12 codegen series kernels (graft.functions.SeriesOps)
  * bit-identical to the interpreted HOF formulations they replaced.
  *
  * Uses the shared SparkSpec session: a getOrCreate() in a suite aliases
  * whatever session an earlier suite created, so stopping it here would
  * kill the SparkContext for every remaining suite (r12 driver failure). */
class SeriesOpsSpec extends SparkSpec with BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    graft.functions.SeriesOps.register(spark) // forwards to Kernels.ensure: a no-op here
  }

  /** The exact pre-r12 win_theil_sen HOF formulation over column `l`. */
  private def hofTheilSen = Seq(
    "CASE WHEN size(l) < 2 THEN array() ELSE " +
      "array_sort(flatten(transform(sequence(1, size(l) - 1), i -> " +
      "transform(sequence(i + 1, size(l)), j -> " +
      "(element_at(l, j) - element_at(l, i)) / CAST(j - i AS DOUBLE)))))" +
      " END",
    """CASE WHEN size(l) < 2 THEN CAST(NULL AS DOUBLE) ELSE
      |  floor((CASE WHEN size(slopes) % 2 = 1
      |              THEN element_at(slopes, CAST((size(slopes) + 1) div 2 AS INT))
      |              ELSE (element_at(slopes, CAST(size(slopes) div 2 AS INT))
      |                  + element_at(slopes, CAST(size(slopes) div 2 + 1 AS INT))) / 2.0D
      |         END) * 10000) / 10000 END""".stripMargin)

  test("theil_sen_med equals the HOF slope/sort/median/floor chain") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(42)
    val adversarial: Seq[Seq[Double]] = Seq(
      Seq.empty, Seq(1.0), Seq(1.0, 1.0), Seq(0.0, -0.0), Seq(-0.0, 0.0),
      Seq(-0.0, 0.0, -0.0, 0.0, 5.0), Seq(Double.NaN, 1.0, 2.0),
      Seq(1.0, Double.NaN, Double.NaN, 3.0),
      Seq.fill(16)(7.25), Seq.tabulate(16)(_.toDouble),
      Seq.tabulate(16)(i => if (i % 2 == 0) 1.0 else -1.0))
    val random: Seq[Seq[Double]] = (0 until 300).map { _ =>
      val k = 2 + rnd.nextInt(15)
      Seq.fill(k)(math.floor(rnd.nextDouble() * 1e4) / 1e4 *
        (if (rnd.nextBoolean()) 1 else -1))
    }
    val df = (adversarial ++ random).toDF("l")
      .withColumn("slopes", expr(hofTheilSen.head))
      .withColumn("ref", expr(hofTheilSen(1)))
      .withColumn("fast", call_function("theil_sen_med", col("l")))
    val bad = df.where(expr("NOT (fast <=> ref)")).count()
    assert(bad === 0)
    // non-vacuous: real medians were produced
    assert(df.where(col("fast").isNotNull).count() > 300)
  }

  /** Double-array fixtures shared by the fold-kernel pins: adversarial
    * (empty, singleton, NaN, ±0.0, constants, alternating) + random. */
  private def doubleSeries: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    val adversarial: Seq[Seq[Double]] = Seq(
      Seq.empty, Seq(5.0), Seq(0.0, -0.0), Seq(-0.0, 0.0, Double.NaN),
      Seq(Double.NaN, 1.0, 2.0), Seq.fill(16)(7.25),
      Seq.tabulate(16)(_.toDouble),
      Seq.tabulate(16)(i => if (i % 2 == 0) 100.0 else -100.0),
      Seq.tabulate(5)(i => i * 0.1))
    adversarial ++ (0 until 300).map { _ =>
      val k = 1 + rnd.nextInt(16)
      Seq.fill(k)(math.floor(rnd.nextDouble() * 1e4) / 1e4 *
        (if (rnd.nextBoolean()) 1 else -1))
    }
  }

  /** Pin a double-array fold kernel (wrapped in the caller's exact SQL
    * edge) against the HOF formulation it replaced. The HOF's
    * element_at(l, 1) seed THROWS on an empty array under ANSI mode
    * (the Spark 4 default) where the kernel returns NULL — guard the
    * REFERENCE so the empty fixture pins the kernel's documented
    * null-on-empty behavior instead of crashing the reference. */
  private def pinFold(kernelSql: String, hofSql: String): Unit = {
    val sp = spark; import sp.implicits._
    val df = doubleSeries.toDF("l")
      .withColumn("ref", expr(
        s"CASE WHEN size(l) = 0 THEN CAST(NULL AS DOUBLE) ELSE ($hofSql) END"))
      .withColumn("fast", expr(kernelSql))
    assert(df.where(expr("NOT (fast <=> ref)")).count() === 0)
    assert(df.where(col("fast").isNotNull).count() > 300)
  }

  test("ewma_fold equals the HOF aggregate chain") {
    pinFold("floor(ewma_fold(l) * 10000) / 10000",
      """floor(aggregate(slice(l, 2, greatest(size(l) - 1, 0)),
        |  CAST(element_at(l, 1) AS DOUBLE),
        |  (acc, x) -> 0.25 * x + 0.75 * acc) * 10000) / 10000""".stripMargin)
  }

  test("holt_fold equals the HOF aggregate chain (raw and floored)") {
    val hof =
      """aggregate(slice(l, 2, greatest(size(l) - 1, 0)),
        |  named_struct('lv', CAST(element_at(l, 1) AS DOUBLE), 'tr', CAST(0.0 AS DOUBLE)),
        |  (acc, x) -> named_struct(
        |    'lv', 0.3 * x + 0.7 * (acc.lv + acc.tr),
        |    'tr', 0.4 * ((0.3 * x + 0.7 * (acc.lv + acc.tr)) - acc.lv) + 0.6 * acc.tr),
        |  acc -> acc.lv + acc.tr)""".stripMargin
    pinFold("holt_fold(l)", hof) // raw — win_forecast_eval's usage
    pinFold(s"floor(holt_fold(l) * 10000) / 10000",
      s"floor(($hof) * 10000) / 10000") // floored — win_holt's usage
  }

  test("kalman_fold equals the HOF aggregate chain") {
    pinFold("floor(kalman_fold(l) * 10000) / 10000",
      """floor(aggregate(slice(l, 2, greatest(size(l) - 1, 0)),
        |  named_struct('x', CAST(element_at(l, 1) AS DOUBLE), 'p', CAST(16.0 AS DOUBLE)),
        |  (acc, z) -> named_struct(
        |    'x', acc.x + ((acc.p + 4.0D) / ((acc.p + 4.0D) + 16.0D)) * (z - acc.x),
        |    'p', (1.0D - ((acc.p + 4.0D) / ((acc.p + 4.0D) + 16.0D))) * (acc.p + 4.0D)),
        |  acc -> acc.x) * 10000) / 10000""".stripMargin)
  }

  test("hw_fold equals the ops.HoltWinters generated expression (both seedings)") {
    pinFold("floor(hw_fold(l, 4, 0.3D, 0.2D, 0.3D, false) * 1e4) / 1e4",
      graft.ops.HoltWinters.forecastExpr("l", m = 4))
    pinFold("floor(hw_fold(l, 4, 0.3D, 0.2D, 0.3D, true) * 1e4) / 1e4",
      graft.ops.HoltWinters.forecastExpr("l", m = 4, seedFirstSeason = true))
    // parameter generality at a second season length / constants
    pinFold("floor(hw_fold(l, 7, 0.5D, 0.1D, 0.25D, true) * 1e4) / 1e4",
      graft.ops.HoltWinters.forecastExpr("l", m = 7, alpha = 0.5, beta = 0.1,
        gamma = 0.25, seedFirstSeason = true))
  }

  test("ewm_var_fold equals the transform + HOF aggregate chain over long returns") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(11)
    val series: Seq[Seq[Long]] = Seq(Seq.empty[Long], Seq(0L), Seq(-1000000L, 1000000L),
      Seq.fill(16)(123456L)) ++
      (0 until 300).map { _ =>
        Seq.fill(1 + rnd.nextInt(16))(rnd.nextInt(200000000).toLong - 100000000L)
      }
    val df = series.toDF("l")
      .withColumn("l2", expr(
        "transform(l, x -> (CAST(x AS DOUBLE) / 1e6) * (CAST(x AS DOUBLE) / 1e6))"))
      .withColumn("ref", expr(
        """CASE WHEN size(l2) = 0 THEN CAST(NULL AS DOUBLE) ELSE
          |aggregate(slice(l2, 2, greatest(size(l2) - 1, 0)),
          |  element_at(l2, 1),
          |  (acc, x) -> 0.94 * acc + 0.06 * x) END""".stripMargin))
      .withColumn("fast", expr("ewm_var_fold(l)"))
    assert(df.where(expr("NOT (fast <=> ref)")).count() === 0)
    assert(df.where(col("fast").isNotNull).count() > 300)
  }

  test("ewma_t_fold equals the HOF aggregate chain over (us, v) structs") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(13)
    // gaps from 1 µs to 3 days, plus zero-gap (equal us) and empty/single
    val series: Seq[Seq[(Long, Double)]] =
      Seq(Seq.empty, Seq((0L, 1.0)), Seq((0L, 1.0), (0L, 2.0)),
        Seq((0L, 5.0), (259200000000L, 50.0))) ++
        (0 until 300).map { _ =>
          var us = 0L
          Seq.fill(1 + rnd.nextInt(16)) {
            us += (if (rnd.nextBoolean()) rnd.nextInt(1000000).toLong
                   else rnd.nextInt(100000000).toLong * 100)
            (us, math.floor(rnd.nextDouble() * 1e4) / 1e4)
          }
        }
    val df = series.map(s => s.map(p => (p._1, p._2))).toDF("raw")
      .withColumn("l", expr("transform(raw, x -> named_struct('us', x._1, 'v', x._2))"))
      .withColumn("ref", expr(
        """CASE WHEN size(l) = 0 THEN CAST(NULL AS DOUBLE) ELSE
          |floor(aggregate(slice(l, 2, greatest(size(l) - 1, 0)),
          |  named_struct('us', element_at(l, 1).us, 'y', CAST(element_at(l, 1).v AS DOUBLE)),
          |  (acc, x) -> named_struct(
          |    'us', x.us,
          |    'y', x.v * (1.0D - exp(-(CAST(x.us - acc.us AS DOUBLE) / 3600000000.0D)))
          |       + acc.y * exp(-(CAST(x.us - acc.us AS DOUBLE) / 3600000000.0D))),
          |  acc -> acc.y) * 10000) / 10000 END""".stripMargin))
      .withColumn("fast", expr("floor(ewma_t_fold(l) * 10000) / 10000"))
    assert(df.where(expr("NOT (fast <=> ref)")).count() === 0)
    assert(df.where(col("fast").isNotNull).count() > 300)
  }

  test("dtw16 kernel equals the stacked-projection DP over an events-shaped table") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(17)
    val rows = (0 until 2000).map { i =>
      (i.toLong, (i % 7).toLong, i.toLong * 1000,
        math.floor(rnd.nextDouble() * 1e4) / 1e4 * 100)
    }
    val ev = rows.toDF("event_id", "user_id", "tsus", "value")
      .withColumn("ts", timestamp_micros(col("tsus")))
    // OLD formulation: 16 lag columns + 15 stacked DP projections
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    var base = ev.where(col("value").isNotNull)
      .withColumn("vq", floor(col("value") * 1e6).cast("long"))
    for (i <- 1 to 8) base = base.withColumn(s"a$i", lag("vq", 16 - i).over(w))
    for (j <- 1 to 7) base = base.withColumn(s"b$j", lag("vq", 8 - j).over(w))
    base = base.withColumn("b8", col("vq"))
    var old = base.where(col("a1").isNotNull)
    for (k <- 2 to 16) {
      val cols = for { i <- 1 to 8; j = k - i; if j >= 1 && j <= 8 } yield {
        val c = abs(col(s"a$i") - col(s"b$j"))
        val v =
          if (i == 1 && j == 1) c
          else if (i == 1) col(s"d_1_${j - 1}") + c
          else if (j == 1) col(s"d_${i - 1}_1") + c
          else c + least(col(s"d_${i - 1}_$j"), col(s"d_${i}_${j - 1}"),
            col(s"d_${i - 1}_${j - 1}"))
        v.as(s"d_${i}_$j")
      }
      old = old.select(col("*") +: cols.toSeq: _*)
    }
    val oldOut = old.select(col("event_id"), col("d_8_8").as("dtw_ref"),
      (1 to 8).map(i => abs(col(s"a$i") - col(s"b$i"))).reduce(_ + _).as("l1_ref"))
    // NEW formulation: collect_list + dtw16 kernel
    val wf = w.rowsBetween(-15, 0)
    val newOut = ev.where(col("value").isNotNull)
      .withColumn("vq", floor(col("value") * 1e6).cast("long"))
      .withColumn("l", collect_list(col("vq")).over(wf))
      .where(size(col("l")) === 16)
      .withColumn("dl", expr("dtw16(l)"))
      .select(col("event_id"), element_at(col("dl"), 1).as("dtw"),
        element_at(col("dl"), 2).as("l1"))
    assert(newOut.count() === oldOut.count())
    assert(newOut.join(oldOut, "event_id")
      .where(col("dtw") =!= col("dtw_ref") || col("l1") =!= col("l1_ref"))
      .count() === 0)
    assert(newOut.count() > 1500) // non-vacuous: warm rows dominate
  }

  test("theil_sen_med is NULL when any slot is NULL") {
    // a deliberate total-function choice, not the HOF chain's answer (it
    // sorts the null slopes and can still pick a non-null median)
    val r = spark.sql("SELECT theil_sen_med(array(1.0D, NULL, 3.0D))").head()
    assert(r.isNullAt(0))
  }
}
