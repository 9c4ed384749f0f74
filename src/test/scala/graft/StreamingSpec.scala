package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** True multi-batch streaming semantics via MemoryStream: watermark
  * late-data drop, cross-batch dedup, cross-batch state — plus equivalence
  * of each drained stream query against its batch twin (SURVEY.md §5.2). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermarked tumbling window drops data older than the watermark") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val agg = in.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("b"), col("cnt"))
    val ckpt = tmpDir("ckpt_late")
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
    // batch 1: two events in hour 08, one at 10:00 -> watermark reaches 09:50
    in.addData((ts("2024-01-01 08:05:00"), 1.0), (ts("2024-01-01 08:30:00"), 1.0),
      (ts("2024-01-01 10:00:00"), 1.0))
    q.processAllAvailable()
    // batch 2: a late hour-08 event, far behind the 09:50 watermark -> dropped
    in.addData((ts("2024-01-01 08:45:00"), 9.0))
    q.processAllAvailable()
    // batch 3: advance watermark past 11:00 so the hour-10 window also closes
    in.addData((ts("2024-01-01 11:30:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_test").collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    assert(out("2024-01-01 08:00:00.0") == 2L, s"late row must be dropped: $out")
    assert(out("2024-01-01 10:00:00.0") == 1L, out.toString)
  }

  test("counter-rate state carries the previous sample across micro-batches") {
    implicit val sq = spark.sqlContext
    // (event_id, ts_us, user_id, value_q) — RateState's input shape
    val in = MemoryStream[(Long, Long, Long, Long)]
    val deltas = in.toDS()
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
        graft.streaming.RateState.update)
    val ckpt = tmpDir("ckpt_rate")
    val q = deltas.toDF("event_id", "user_id", "dq")
      .writeStream.format("memory").queryName("rate_test")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
    // batch 1: user 1 samples 100, 150 (out of ts order within the batch)
    in.addData((2L, 2000L, 1L, 150L), (1L, 1000L, 1L, 100L))
    q.processAllAvailable()
    // batch 2: user 1 sample 120 -> delta vs the STATE's 150, not batch-local
    in.addData((3L, 3000L, 1L, 120L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("rate_test").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out(1L).isEmpty, "first-ever sample has no delta")
    assert(out(2L).contains(50L), "in-batch fold must follow (ts, event_id) order")
    assert(out(3L).contains(-30L), "cross-batch delta must use carried state")
  }

  test("online Holt state carries (level, trend) across micro-batches") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, Double)]
    val smoothed = in.toDS()
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
        graft.streaming.HoltState.update)
    val ckpt = tmpDir("ckpt_holt")
    val q = smoothed.toDF("event_id", "user_id", "f")
      .writeStream.format("memory").queryName("holt_test")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
    in.addData((1L, 1000L, 1L, 10.0), (2L, 2000L, 1L, 20.0))
    q.processAllAvailable()
    in.addData((3L, 3000L, 1L, 30.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("holt_test").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // same arithmetic as the operator, by hand:
    val lv2 = 0.3 * 20.0 + 0.7 * 10.0; val tr2 = 0.4 * (lv2 - 10.0)
    val lv3 = 0.3 * 30.0 + 0.7 * (lv2 + tr2)
    val tr3 = 0.4 * (lv3 - lv2) + 0.6 * tr2
    assert(out(1L) == 10.0, "seed forecast is x0")
    assert(out(2L) == lv2 + tr2)
    assert(out(3L) == lv3 + tr3, "batch-2 forecast must fold from carried state")
  }

  test("online EWMA variance carries (last, var) across micro-batches") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, Double)]
    val scored = in.toDS()
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
        graft.streaming.EwmVarState.update)
    val ckpt = tmpDir("ckpt_ewmvar")
    val q = scored.toDF("event_id", "user_id", "v")
      .writeStream.format("memory").queryName("ewmvar_test")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
    in.addData((1L, 1000L, 1L, 10.0), (2L, 2000L, 1L, 12.0))
    q.processAllAvailable()
    in.addData((3L, 3000L, 1L, 9.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ewmvar_test").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // same arithmetic by hand: returns are exact µ-unit lags / 1e6
    val r2 = (math.floor(12.0 * 1e6) - math.floor(10.0 * 1e6)) / 1e6
    val r3 = (math.floor(9.0 * 1e6) - math.floor(12.0 * 1e6)) / 1e6
    val v2 = r2 * r2
    val v3 = 0.94 * v2 + 0.06 * (r3 * r3)
    assert(!out.contains(1L), "first-ever sample emits no variance")
    assert(out(2L) == v2, "second sample seeds var = r1^2")
    assert(out(3L) == v3, "batch-2 var must fold from carried state")
  }

  test("dropDuplicatesWithinWatermark deduplicates across micro-batches") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val dedup = in.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val ckpt = tmpDir("ckpt_dedup")
    val q = dedup.writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
    in.addData((1L, ts("2024-01-01 08:00:00")), (2L, ts("2024-01-01 08:01:00")))
    q.processAllAvailable()
    in.addData((1L, ts("2024-01-01 08:02:00")), (3L, ts("2024-01-01 08:03:00"))) // 1 is a dup
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_test").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), ids.mkString(","))
  }

  test("restart from checkpoint resumes offsets and state exactly-once into a file sink") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val ckpt = tmpDir("ckpt_restart")
    val out = tmpDir("out_restart")
    def dedup = in.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

    val q1 = dedup.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    in.addData((1L, ts("2024-01-01 08:00:00")), (2L, ts("2024-01-01 08:01:00")))
    q1.processAllAvailable()
    q1.stop()

    // arrives while the query is down: a dup of 2 plus a new id
    in.addData((2L, ts("2024-01-01 08:02:00")), (3L, ts("2024-01-01 08:03:00")))

    // second incarnation, same checkpoint: offsets AND dedup state recover,
    // so the dup of 2 is still dropped and nothing already committed to the
    // file sink is appended twice
    val q2 = dedup.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    q2.processAllAvailable()
    q2.stop()

    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), s"not exactly-once across restart: ${ids.mkString(",")}")
  }

  test("foreachBatch harvest into the trend store is idempotent under replay") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val store = new graft.store.TrendStore(spark, tmpDir("harvest_store"), Seq("kpi_load"))
    val q = graft.streaming.Streams.harvestIntoTrendStore(
      in.toDF().toDF("entity_id", "ts", "kpi_load"), store, "raw", tmpDir("ckpt_harvest"))
    in.addData((1L, ts("2024-01-01 08:00:00"), 1.0), (2L, ts("2024-01-01 09:00:00"), 2.0))
    q.processAllAvailable()
    // batch 2: re-reading for key 1 (same ts, corrected value) + a new entity
    in.addData((1L, ts("2024-01-01 08:00:00"), 10.0), (3L, ts("2024-01-02 08:00:00"), 3.0))
    q.processAllAvailable()
    q.stop()

    def contents = store.read("raw").select("entity_id", "kpi_load")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(contents == Set((1L, 10.0), (2L, 2.0), (3L, 3.0)))

    // replaying the last batch (failure before the epoch commit) converges
    // to the same contents — the idempotence that makes this exactly-once
    val replay = Seq((1L, "2024-01-01 08:00:00", 10.0), (3L, "2024-01-02 08:00:00", 3.0))
      .toDF("entity_id", "ts", "kpi_load")
      .withColumn("ts", col("ts").cast("timestamp"))
    store.upsert(replay, "raw")
    assert(contents == Set((1L, 10.0), (2L, 2.0), (3L, 3.0)))
  }

  test("stateful gap detection accumulates across micro-batches") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (user_id, ts_sec)
    val agg = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(graft.streaming.GapState.update)
    val ckpt = tmpDir("ckpt_state")
    val q = agg.toDF("user_id", "n_events", "max_gap_sec")
      .writeStream.format("memory").queryName("state_test")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
    in.addData((7L, 100L), (7L, 160L)) // gap 60
    q.processAllAvailable()
    in.addData((7L, 400L)) // gap 240 across the batch boundary
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("state_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // last emission carries the cross-batch state
    assert(rows.contains((7L, 3L, 240L)), rows.mkString(";"))
  }

  test("transformWithState (arbitrary state v2) matches the flatMapGroupsWithState fold") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Long)]
      val agg = in.toDS()
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.GapProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val ckpt = tmpDir("ckpt_tws")
      val q = agg.toDF("user_id", "n_events", "max_gap_sec")
        .writeStream.format("memory").queryName("tws_test")
        .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
      in.addData((7L, 100L), (7L, 160L), (9L, 50L))
      q.processAllAvailable()
      in.addData((7L, 400L)) // cross-batch state: gap 240
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains((7L, 3L, 240L)), rows.mkString(";"))
      assert(rows.contains((9L, 1L, 0L)), rows.mkString(";"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("v2 processors (registered routes) ≡ flatMapGroupsWithState twins across batches") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TimeMode}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the same two-batch feed drives both routes; outputs must be
      // row-identical (the fold core is shared — this pins the two state
      // APIs' batching/replay behavior, not just the arithmetic)
      val batches = Seq(
        Seq((1L, 1000L, 1L, 10.0), (2L, 2000L, 1L, 20.0), (5L, 500L, 2L, 7.5)),
        Seq((3L, 3000L, 1L, 30.0), (6L, 600L, 2L, 7.0), (7L, 700L, 2L, 9.0)),
        Seq((4L, 4000L, 1L, 25.0), (8L, 800L, 2L, 8.0), (9L, 900L, 2L, 6.0)))

      def run(name: String, mk: MemoryStream[(Long, Long, Long, Double)] =>
          org.apache.spark.sql.Dataset[_]): Seq[String] = {
        val in = MemoryStream[(Long, Long, Long, Double)]
        val q = mk(in).toDF().writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", tmpDir(s"ckpt_$name")).start()
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        q.stop()
        spark.table(name).collect().map(_.toString).sorted.toSeq
      }

      val holtV1 = run("eq_holt_v1", _.toDS().groupByKey(_._3)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          graft.streaming.HoltState.update))
      val holtV2 = run("eq_holt_v2", _.toDS().groupByKey(_._3)
        .transformWithState(new graft.streaming.HoltProcessor(),
          TimeMode.None(), OutputMode.Append()))
      assert(holtV1 == holtV2, s"holt routes diverged:\n$holtV1\n$holtV2")

      val kalV1 = run("eq_kal_v1", _.toDS().groupByKey(_._3)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          graft.streaming.KalmanState.update))
      val kalV2 = run("eq_kal_v2", _.toDS().groupByKey(_._3)
        .transformWithState(new graft.streaming.KalmanProcessor(),
          TimeMode.None(), OutputMode.Append()))
      assert(kalV1 == kalV2, s"kalman routes diverged:\n$kalV1\n$kalV2")

      val welV1 = run("eq_wel_v1", _.toDS().groupByKey(_._3)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          graft.streaming.WelfordState.update))
      val welV2 = run("eq_wel_v2", _.toDS().groupByKey(_._3)
        .transformWithState(new graft.streaming.WelfordProcessor(),
          TimeMode.None(), OutputMode.Append()))
      assert(welV1 == welV2, s"welford routes diverged:\n$welV1\n$welV2")

      val ewmV1 = run("eq_ewm_v1", _.toDS().groupByKey(_._3)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          graft.streaming.EwmVarState.update))
      val ewmV2 = run("eq_ewm_v2", _.toDS().groupByKey(_._3)
        .transformWithState(new graft.streaming.EwmVarProcessor(),
          TimeMode.None(), OutputMode.Append()))
      assert(ewmV1 == ewmV2, s"ewm_var routes diverged:\n$ewmV1\n$ewmV2")

      def runRate(name: String, mk: MemoryStream[(Long, Long, Long, Long)] =>
          org.apache.spark.sql.Dataset[_]): Seq[String] = {
        val in = MemoryStream[(Long, Long, Long, Long)]
        val q = mk(in).toDF().writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", tmpDir(s"ckpt_$name")).start()
        Seq(Seq((2L, 2000L, 1L, 150L), (1L, 1000L, 1L, 100L)),
          Seq((3L, 3000L, 1L, 120L), (4L, 100L, 2L, 55L)))
          .foreach { b => in.addData(b: _*); q.processAllAvailable() }
        q.stop()
        spark.table(name).collect().map(_.toString).sorted.toSeq
      }
      val rateV1 = runRate("eq_rate_v1", _.toDS().groupByKey(_._3)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          graft.streaming.RateState.update))
      val rateV2 = runRate("eq_rate_v2", _.toDS().groupByKey(_._3)
        .transformWithState(new graft.streaming.RateProcessor(),
          TimeMode.None(), OutputMode.Append()))
      assert(rateV1 == rateV2, s"rate routes diverged:\n$rateV1\n$rateV2")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream-stream join matches in-batch and evicts state past the watermark") {
    implicit val sq = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Timestamp)]
    val purchIn = MemoryStream[(Long, Timestamp)]
    val clicks = clicksIn.toDF().toDF("user_id", "click_ts")
      .withWatermark("click_ts", "10 minutes")
    val purchases = purchIn.toDF().toDF("p_user", "p_ts")
      .withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(purchases,
      expr("user_id = p_user AND p_ts >= click_ts AND p_ts <= click_ts + interval 1 hour"))
      .select("user_id", "click_ts", "p_ts")
    val ckpt = tmpDir("ckpt_ssj")
    val q = joined.writeStream.format("memory").queryName("ssj_test")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
    // batch 1: click at 08:00, purchase at 08:20 -> joins
    clicksIn.addData((1L, ts("2024-01-01 08:00:00")))
    purchIn.addData((1L, ts("2024-01-01 08:20:00")))
    q.processAllAvailable()
    // batch 2: advance both watermarks far past the click's join horizon
    clicksIn.addData((2L, ts("2024-01-01 12:00:00")))
    purchIn.addData((2L, ts("2024-01-01 12:30:00")))
    q.processAllAvailable()
    // batch 3: a purchase that WOULD match user 1's click but arrives after
    // its state was evicted (watermark ~11:50 >> 08:00 click + 1h horizon)
    purchIn.addData((1L, ts("2024-01-01 08:40:00")))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ssj_test").collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).toString)).toSet
    assert(pairs.contains((1L, "2024-01-01 08:20:00.0")), pairs.mkString(";"))
    assert(pairs.contains((2L, "2024-01-01 12:30:00.0")), pairs.mkString(";"))
    assert(!pairs.contains((1L, "2024-01-01 08:40:00.0")),
      s"late purchase must not match evicted click state: $pairs")
  }

  test("drained stream queries equal their batch twins on sf0.001") {
    val stream = graft.streaming.Streams.queries("stream_tumbling")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val batch = Tables.events(spark, sf0001)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(stream == batch)
  }

  test("stream_tumbling on a cwd-relative data dir drains the same rows as on the absolute one") {
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val relative = cwd.relativize(java.nio.file.Paths.get(sf0001)).toString
    assert(!java.nio.file.Paths.get(relative).isAbsolute)
    def rows(d: String) = graft.streaming.Streams.queries("stream_tumbling")(spark, d)
      .collect().map(_.toSeq).toSet
    val absolute = rows(sf0001)
    assert(absolute.nonEmpty)
    assert(rows(relative) == absolute)
  }

  test("stream_topk keeps at most 3 types per window, rank-consistent with batch counts") {
    val rows = graft.streaming.Streams.queries("stream_topk")(spark, sf0001).collect()
    val perBucket = rows.groupBy(_.get(0))
    assert(perBucket.nonEmpty)
    perBucket.values.foreach { rs =>
      assert(rs.length <= 3)
      val ranked = rs.sortBy(_.getInt(3))
      assert(ranked.map(_.getInt(3)).toSeq == (1 to rs.length), "ranks not dense from 1")
      // counts non-increasing with rank; ties broken by event_type ascending
      ranked.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(2) > b.getLong(2)
            || (a.getLong(2) == b.getLong(2) && a.getString(1) < b.getString(1)))
        case _ =>
      }
    }
    // the rank-1 row per bucket is the true argmax of the batch counts
    val batchTop = Tables.events(spark, sf0001)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .collect().groupBy(_.get(0))
      .map { case (b, rs) => b -> rs.map(r => (-r.getLong(2), r.getString(1))).min._2 }
    perBucket.foreach { case (b, rs) =>
      assert(rs.find(_.getInt(3) == 1).get.getString(1) == batchTop(b))
    }
  }

  test("stream_attribution equals the batch win_attribution on sf0.001") {
    val stream = graft.streaming.Streams.queries("stream_attribution")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("win_attribution")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(stream.nonEmpty)
    assert(stream == batch, "online last-touch attribution diverged from the batch window")
  }

  test("stream_escalate equals the batch filter_trigger_escalate on sf0.001") {
    val stream = graft.streaming.Streams.queries("stream_escalate")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("filter_trigger_escalate")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(stream.nonEmpty)
    assert(stream == batch, "online escalation feed diverged from the batch ladder")
  }

  test("stream_cusum equals a batch recompute and exercises both alarm states") {
    val stream = graft.streaming.Streams.queries("stream_cusum")(spark, sf0001)
      .collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("entity_id").orderBy("ts")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val batch = Tables.events(spark, sf0001)
      .groupBy(col("event_type").as("entity_id"),
        date_trunc("hour", col("ts")).as("ts"))
      .agg(sum(floor(col("value") * 1e6).cast("long") - lit(50000000L)).as("devq"))
      .withColumn("cusq", sum(col("devq")).over(w))
      .select(col("entity_id"), col("ts"),
        (col("devq").cast("double") / 1e6).as("hourly_dev"),
        (col("cusq").cast("double") / 1e6).as("cusum"),
        (abs(col("cusq")) > lit(500000000L)).as("alarm"))
      .orderBy("entity_id", "ts").collect()
    assert(stream.nonEmpty)
    assert(stream.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq,
      "online CUSUM feed diverged from the batch fold")
    assert(stream.map(_.getBoolean(4)).toSet == Set(true, false),
      "fixture must exercise both alarm states")
  }

  test("stream_hist_quantile equals the batch histogram readout; quantiles ordered") {
    val stream = graft.streaming.Streams.queries("stream_hist_quantile")(spark, sf0001)
      .collect()
    assert(stream.nonEmpty)
    // batch twin: per-day fixed-bin histogram + the same rank-cut readout
    val hist = Tables.events(spark, sf0001)
      .where(col("value").isNotNull)
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("bucket",
        least(greatest(floor(col("value") / 25), lit(0.0)), lit(39.0)).cast("long"))
      .groupBy("day", "bucket").count()
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    val expect = hist.groupBy(_._1).flatMap { case (day, rows) =>
      val sorted = rows.sortBy(_._2)
      val n = sorted.map(_._3).sum
      Seq(("50", (n + 1) / 2), ("90", (9 * n + 9) / 10), ("99", (99 * n + 99) / 100))
        .map { case (q, tgt) =>
          var cum = 0L
          val (bucket, cnt, cumAt) = sorted.map { case (_, b, c) =>
            cum += c; (b, c, cum)
          }.find(_._3 >= tgt).get
          val est = bucket * 25.0 + 25.0 * (tgt - (cumAt - cnt)).toDouble / cnt.toDouble
          (day, q) -> ((n, math.rint(est * 1e4) / 1e4))
        }
    }
    val got = stream.map(r => (r.getTimestamp(0), r.getString(1))
      -> ((r.getLong(2), r.getDouble(3)))).toMap
    // rounding: Spark round() is HALF_UP on the shortest decimal repr;
    // compare with a ±1e-4 tolerance on the interpolated estimate and
    // exactly on n
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, (n, est)) =>
      assert(n == expect(k)._1)
      assert(math.abs(est - expect(k)._2) <= 1e-4, s"$k: $est vs ${expect(k)._2}")
    }
    // per day: p50 <= p90 <= p99
    stream.groupBy(_.getTimestamp(0)).values.foreach { rs =>
      val m = rs.map(r => r.getString(1) -> r.getDouble(3)).toMap
      assert(m("50") <= m("90") && m("90") <= m("99"))
    }
  }

  test("stream_watermark_audit: drops are real, open tail exists, and the rematerializer repairs exactly them") {
    val audit = graft.streaming.Streams.queries("stream_watermark_audit")(spark, sf0001)
      .collect()
    assert(audit.nonEmpty)
    // final days conserve mass: served + dropped == truth
    audit.filter(_.getString(3) == "final").foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(4), r.toString)
      assert(r.getLong(4) >= 0)
    }
    // the watermark policy genuinely dropped late rows somewhere
    assert(audit.exists(r => r.getString(3) == "final" && r.getLong(4) > 0),
      "no late rows dropped — the audit's subject is absent from the fixture")
    // and the stream end leaves an open (never-finalized) tail
    assert(audit.exists(_.getString(3) == "open"), "no open trailing day")
    // contrast pin: the REMATERIALIZING policy serves the batch truth for
    // every day the watermark policy shortchanged
    val remat = graft.streaming.Streams.queries("stream_late_rematerialize")(spark, sf0001)
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    audit.foreach { r =>
      assert(remat(r.getString(0)) == r.getLong(1),
        s"${r.getString(0)}: rematerialized store != batch truth")
    }
  }

  test("stream_kmv_distinct equals the batch Kmv aggregation; sketch bounded by k") {
    val stream = graft.streaming.Streams.queries("stream_kmv_distinct")(spark, sf0001)
      .collect()
    val kmvAgg = udaf(new graft.functions.Kmv(64))
    val batch = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 day"))
      .agg(kmvAgg(col("user_id").cast("string")).as("sk"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("day"), col("n_events"),
        size(col("sk")).cast("long").as("n_sketch"),
        round(when(size(col("sk")) < 64, size(col("sk")).cast("double"))
          .otherwise(lit(63.0) /
            (element_at(col("sk"), 64).cast("double") / lit(1152921504606846976.0))),
          4).as("est_users"))
      .orderBy("day").collect()
    assert(stream.nonEmpty)
    assert(stream.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq,
      "drained streaming sketch diverged from the batch Kmv aggregation")
    // at sf0.001 every day holds < 64 distinct users: the sketch IS the
    // set, so the estimate must be EXACT per day
    val exact = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 day").getField("start").as("day"))
      .agg(countDistinct(col("user_id")).cast("double").as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
    stream.foreach { r =>
      assert(r.getLong(2) <= 64, "sketch exceeded k")
      assert(r.getDouble(3) == exact(r.getTimestamp(0)),
        s"sub-k sketch estimate not exact for ${r.getTimestamp(0)}")
    }
  }

  test("attribution touch state carries across micro-batches") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.streaming.TimeMode
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // batch 1: a click; batch 2: a purchase 1h later (attributed to the
      // carried touch) + a purchase 25h later by another user whose only
      // touch is out of lookback (unattributed, not dropped)
      val in = MemoryStream[(Long, Long, Long, String)]
      val q = in.toDS().groupByKey(_._3)
        .transformWithState(new graft.streaming.AttributionProcessor(),
          TimeMode.None(), OutputMode.Append())
        .toDF("event_id", "user_id", "touch_id", "touch_type", "gap_sec")
        .writeStream.format("memory").queryName("attr_carry")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", tmpDir("ckpt_attr_carry")).start()
      in.addData((1L, 0L, 1L, "click"), (10L, 0L, 2L, "view"))
      q.processAllAvailable()
      in.addData((2L, 3600000000L, 1L, "purchase"),
        (11L, 90000000000L, 2L, "purchase"))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("attr_carry").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).sortBy(_._1).toSeq
      assert(rows == Seq(
        (2L, Some(1L), Some(3600.0)),
        (11L, None, None)), s"got $rows")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("funnel state carries across micro-batches and converts exactly once") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.streaming.TimeMode
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // user 1: view (batch 1) → click (batch 2) → purchase (batch 3) —
      //   the funnel spans three micro-batches and converts once;
      //   a later second purchase must NOT convert again.
      // user 2: purchase then click then view — wrong order, never converts.
      // user 3: view + same-µs click (strict > rejects) — never converts.
      val in = MemoryStream[(Long, Long, Long, String)]
      val q = in.toDS().groupByKey(_._3)
        .transformWithState(new graft.streaming.FunnelProcessor(),
          TimeMode.None(), OutputMode.Append())
        .toDF("user_id", "tv", "tc", "tp")
        .writeStream.format("memory").queryName("funnel_carry")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", tmpDir("ckpt_funnel_carry")).start()
      in.addData((100L, 1L, 1L, "view"), (100L, 10L, 2L, "purchase"),
        (300L, 11L, 3L, "view"), (300L, 12L, 3L, "click"))
      q.processAllAvailable()
      in.addData((200L, 2L, 1L, "click"), (200L, 11L, 2L, "click"))
      q.processAllAvailable()
      in.addData((300L, 3L, 1L, "purchase"), (400L, 4L, 1L, "purchase"),
        (300L, 12L, 2L, "view"))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("funnel_carry").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(rows == Seq((1L, 100L, 200L, 300L)), s"got $rows")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("trigger notification store: batch-twin equality, replay idempotence, in-place refresh") {
    // 1. Drained streaming store equals the batch twin (same rules, same
    //    hourly KPI grain) — the property the shared oracle rests on.
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("entity_id", "ts", "rule", "severity", "kpi", "value")
        .collect().map(_.mkString("|")).sorted.toSeq
    val streamed = graft.streaming.Streams.queries("stream_trigger_notify")(spark, sf0001)
    val batch = graft.queries.Rel.queries("filter_trigger_notify")(spark, sf0001)
    val streamedRows = rows(streamed)
    assert(streamedRows.nonEmpty, "fixture must raise at least one alarm")
    assert(streamedRows == rows(batch), "drained store must equal the batch twin")

    // 2. Replay idempotence: re-applying an already-applied micro-batch
    //    through Triggers.upsert must converge to identical store contents
    //    (last-writer-wins on (entity_id, ts, rule)) — the crash-recovery
    //    property that makes the foreachBatch sink effectively exactly-once.
    val rules = Seq(
      graft.store.Triggers.Rule("load_high", "kpi_load", "major")(_ > 200.0),
      graft.store.Triggers.Rule("burst", "kpi_burst", "warning")(_ >= 2.0))
    val kpis = Seq(
      (1L, ts("2024-01-01 08:00:00"), 250.0, 3.0),
      (1L, ts("2024-01-02 09:00:00"), 100.0, 2.0),
      (2L, ts("2024-01-01 08:00:00"), 300.0, 1.0))
      .toDF("entity_id", "ts", "kpi_load", "kpi_burst")
    val notifs = graft.store.Triggers.evaluate(kpis, rules)
    val dir = tmpDir("notif_idem")
    graft.store.Triggers.upsert(notifs, spark, dir)
    def store(): Seq[String] =
      spark.read.parquet(dir)
        .select("entity_id", "ts", "rule", "severity", "kpi", "value", "d")
        .collect().map(_.mkString("|")).sorted.toSeq
    val afterFirst = store()
    assert(afterFirst.size == 4, s"3 KPI rows trip 4 rule exceedances: $afterFirst")
    graft.store.Triggers.upsert(notifs, spark, dir) // replayed batch
    assert(store() == afterFirst, "replayed batch must leave the store unchanged")

    // 3. Update-mode refinement: a later micro-batch re-emitting the SAME
    //    alarm key with a refreshed KPI value updates the row in place —
    //    no second alarm row for a still-open window.
    val refined = graft.store.Triggers.evaluate(
      Seq((1L, ts("2024-01-01 08:00:00"), 275.0, 3.0))
        .toDF("entity_id", "ts", "kpi_load", "kpi_burst"), rules)
    graft.store.Triggers.upsert(refined, spark, dir)
    val afterRefine = store()
    assert(afterRefine.size == 4, "refresh must not add rows")
    assert(afterRefine.exists(_.contains("275.0")), s"value must refresh: $afterRefine")
    assert(!afterRefine.exists(_.contains("250.0")), "stale value must be gone")
  }

  test("streaming incremental LSH dedup equals the one-shot batch LSH+verify") {
    // The key's whole contract: every colliding pair is discovered exactly
    // once (when its second doc is ingested) and emitted canonically, so
    // the 4-micro-batch drain must equal Dedup.lshVerified over the full
    // corpus at the same threshold — pair set AND jacc values (a doc's
    // bitmask depends only on its own token set, so per-batch dictionary
    // scope never moves a jacc).
    val streamed = graft.streaming.Streams.queries("stream_dedup_lsh")(spark, sf0001)
      .collect().map(_.mkString("|")).sorted.toSeq
    val oneShot = graft.queries.Dedup
      .lshVerified(spark, Tables.documents(spark, sf0001), threshold = 0.9)
      .select(greatest(col("a_id"), col("b_id")).as("dup_id"),
        least(col("a_id"), col("b_id")).as("orig_id"), col("jacc"))
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(streamed.nonEmpty, "fixture must contain near-identical pairs at 0.9")
    assert(streamed == oneShot, "drained incremental pairs must equal the one-shot set")
    // exactly-once: no pair may surface twice across micro-batches
    assert(streamed.distinct.size == streamed.size, "duplicate pair emitted")
  }

  test("session windows match the batch islands formulation") {
    val stream = graft.streaming.Streams.queries("stream_session")(spark, sf0001)
      .agg(count(lit(1)), sum("n_events")).collect().head
    val ev = Tables.events(spark, sf0001)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val batchSessions = ev
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_sess", when(col("prev").isNull
        || col("ts").cast("double") - col("prev").cast("double") > 1800, 1).otherwise(0))
      .agg(sum(col("new_sess")), count(lit(1))).collect().head
    assert(stream.getLong(0) == batchSessions.getLong(0), s"$stream vs $batchSessions")
    assert(stream.getLong(1) == batchSessions.getLong(1))
  }

  test("stream_ohlc assembles one candle across micro-batches; picks are arrival-order free") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, Double)]
    val agg = in.toDF().toDF("ts", "event_id", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("b"), col("event_type"),
        col("o.value").as("open"), col("high"), col("low"),
        col("c.value").as("close"), col("n"))
    val q = agg.writeStream.format("memory").queryName("ohlc_test")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmpDir("ckpt_ohlc")).start()
    // batch 1: mid-hour events arrive FIRST
    in.addData((ts("2024-01-01 08:30:00"), 3L, "trade", 50.0),
      (ts("2024-01-01 08:40:00"), 4L, "trade", 20.0))
    q.processAllAvailable()
    // batch 2: the true open (earliest ts) arrives LAST — including a
    // same-timestamp tie broken by event_id — plus the closing sample
    in.addData((ts("2024-01-01 08:05:00"), 1L, "trade", 30.0),
      (ts("2024-01-01 08:05:00"), 2L, "trade", 99.0),
      (ts("2024-01-01 08:55:00"), 5L, "trade", 40.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ohlc_test").collect()
    assert(rows.length == 1, rows.mkString(";"))
    val r = rows.head
    assert(r.getDouble(2) == 30.0, "open must be the earliest (ts, event_id) pick, not arrival order")
    assert(r.getDouble(3) == 99.0 && r.getDouble(4) == 20.0)
    assert(r.getDouble(5) == 40.0, "close must track the max (ts, event_id)")
    assert(r.getLong(6) == 5L)
  }

  test("late arrivals invalidate and re-materialize exactly the stale buckets") {
    val (passes, out) = graft.streaming.Streams.lateRematerializeWithAudit(spark, sf0001)
    assert(passes.size == 4, s"expected 4 micro-batch passes, got ${passes.size}")
    val emittedEarly = passes.take(3).flatten.toSet
    val lastPass = passes(3).toSet
    // a late row CHANGES an already-emitted bucket -> pass 4 must
    // re-materialize buckets pass 1-3 already wrote
    val reTouched = lastPass.intersect(emittedEarly)
    assert(reTouched.nonEmpty,
      "pass 4 re-materialized no already-emitted bucket — late-data semantics not exercised")
    // ...and ONLY the stale ones: fingerprint gating must leave the
    // non-late cohort of early buckets alone
    assert((emittedEarly -- lastPass).nonEmpty,
      "pass 4 recomputed every early bucket — fingerprint gating is not selective")
    // convergence: drained store equals the batch twin over the FULL feed
    val twin = Tables.events(spark, sf0001)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1e6).cast("long")).as("value_microunits"))
    val got = out.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), if (r.isNullAt(3)) null else r.getLong(3))).toMap
    val exp = twin.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), if (r.isNullAt(3)) null else r.getLong(3))).toMap
    assert(got == exp, "final store diverged from the batch recompute over the full feed")
    // value-level: for some re-touched bucket the late rows genuinely
    // changed the stored aggregate (on-time-only count < final count)
    val lateFlag = (conv(substring(md5(date_format(date_trunc("day", col("ts")),
      "yyyy-MM-dd")), 1, 4), 16, 10).cast("long") % 4 === 0) &&
      (conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 8 === 0)
    val onTimeCounts = Tables.events(spark, sf0001).where(!lateFlag)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("bucket"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val finalCounts = out.groupBy("bucket").agg(sum("n_events").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val changed = reTouched.filter(b => finalCounts(b) > onTimeCounts.getOrElse(b, 0L))
    assert(changed.nonEmpty,
      "no re-touched bucket actually gained rows from the late cohort")
  }

  test("stream_scd2_apply: version rows close across micro-batch boundaries (r11)") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Long, Long, String)] // (user, event_id, ts_sec, segment)
      val agg = in.toDS().groupByKey(_._1)
        .transformWithState(new graft.streaming.Scd2Processor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val ckpt = tmpDir("ckpt_scd2")
      val q = agg.toDF("user_id", "segment_value", "valid_from", "valid_to", "n_events")
        .writeStream.format("memory").queryName("scd2_test")
        .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
      // batch 1: user 1 runs a, a, then b (closing a); user 2 opens c
      in.addData((1L, 10L, 100L, "a"), (1L, 11L, 160L, "a"), (1L, 12L, 200L, "b"),
        (2L, 20L, 50L, "c"))
      q.processAllAvailable()
      // batch 2: user 1's open b closes ACROSS the batch boundary;
      // user 2's run continues (no emission — same segment)
      in.addData((1L, 13L, 400L, "a"), (2L, 21L, 90L, "c"))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("scd2_test").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(rows == Set(
        (1L, "a", 100L, 200L, 2L),  // batch-1 close: 2 events in run a
        (1L, "b", 200L, 400L, 1L)), // cross-batch close: state carried over
        rows.mkString(";"))
      // out-of-order arrival within a batch folds in (ts, event_id) order
      val fold = graft.streaming.Scd2State.fold(5L, None,
        Seq((2L, 20L, "y"), (1L, 10L, "x"), (3L, 30L, "x")).sortBy(r => (r._2, r._1)))
      assert(fold._1.contains(("x", 30L, 1L)))
      assert(fold._2 == Seq((5L, "x", 10L, 20L, 1L), (5L, "y", 20L, 30L, 1L)))
      // monotone-replay contract (r12, ADVICE): a LATER batch carrying a
      // ts older than the open row's valid_from would emit an inverted
      // interval — the fold must refuse it loudly, not corrupt silently
      val ex = intercept[IllegalArgumentException] {
        graft.streaming.Scd2State.fold(5L, Some(("x", 100L, 2L)),
          Seq((9L, 40L, "y")))
      }
      assert(ex.getMessage.contains("out-of-order SCD2 observation"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream_scd2_enrich: facts read the LIVE dimension version as of their instant, across batches (r12)") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Long, Long, String)] // (user, event_id, ts_sec, type)
      val agg = in.toDS().groupByKey(_._1)
        .transformWithState(new graft.streaming.Scd2EnrichProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val ckpt = tmpDir("ckpt_scd2_enrich")
      val q = agg.toDF("user_id", "event_id", "ts_sec", "segment_asof")
        .writeStream.format("memory").queryName("scd2_enrich_test")
        .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
      // batch 1 (delivered unsorted — the fold orders by (ts, event_id)):
      // fact eid 1 BEFORE any observation -> 'none'; dim eid 4 opens 'a'
      // at t=100; fact eid 5 at t=150 -> 'a'
      in.addData((1L, 5L, 150L, "ignored"), (1L, 4L, 100L, "a"), (1L, 1L, 50L, "x"))
      q.processAllAvailable()
      // batch 2: fact eid 9 at t=200 reads 'a' CARRIED ACROSS the batch
      // boundary; dim eid 8 flips to 'b' at t=250; fact eid 13 at t=250
      // (same instant as the change, higher event_id) must read 'b' —
      // the valid_from <= ts boundary convention
      in.addData((1L, 13L, 250L, "y"), (1L, 8L, 250L, "b"), (1L, 9L, 200L, "z"))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("scd2_enrich_test").collect()
        .map(r => (r.getLong(1), r.getString(3))).toMap
      assert(rows == Map(1L -> "none", 5L -> "a", 9L -> "a", 13L -> "b"), rows.toString)
      // monotone-replay contract: a late fact would silently read a
      // TOO-NEW version — the fold refuses instead
      val ex = intercept[IllegalArgumentException] {
        graft.streaming.Scd2EnrichState.fold(1L, ("b", 250L), Seq((17L, 180L, "w")))
      }
      assert(ex.getMessage.contains("out-of-order row"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
