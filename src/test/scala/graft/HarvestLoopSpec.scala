package graft

import java.io.{File, PrintWriter}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.materialize.Materializer
import graft.pipeline.HarvestLoop
import graft.store.Triggers

/** The orchestration loop (SURVEY §1.2 library surface): harvest new
  * landing files → fingerprint-gated materialization → notifications, with
  * exactly-once ingest, no-op reruns, and incremental late-data handling. */
class HarvestLoopSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("entity_id", LongType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  private def writeCsv(dir: String, name: String, lines: Seq[String]): Unit = {
    val pw = new PrintWriter(new File(dir, name))
    try lines.foreach(pw.println) finally pw.close()
  }

  private val transform: DataFrame => DataFrame = src =>
    src.groupBy("bucket", "entity_id")
      .agg(sum("value").as("kpi_load"), max("ts").as("ts"))

  private def mkLoop(landing: String, work: String): HarvestLoop = {
    val reader: Seq[String] => DataFrame = paths =>
      spark.read.schema(schema).csv(paths: _*)
        .withColumn("bucket", date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH"))
    new HarvestLoop(spark, landing, work, reader, transform,
      Seq(Triggers.Rule("load_high", "kpi_load", "major")(_ > 150.0)))
  }

  /** Buckets in the materializer state of the loop working in `work`. */
  private def stateBuckets(work: String): Int =
    new Materializer(spark, s"$work/state").readState().size

  /** Spark jobs that `body` starts on this thread. A marker job started
    * after it is seen last on the listener bus, which delivers in order,
    * so once the marker arrives every job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"hl_jobs_${System.nanoTime()}"
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group.end" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group.end", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("tick ingests + materializes + notifies; rerun no-op; late data incremental") {
    val landing = tmpDir("hl_landing")
    val work = tmpDir("hl_work")
    writeCsv(landing, "f1.csv", Seq(
      "1,2024-01-01 10:05:00,10.0",
      "2,2024-01-01 10:10:00,200.0",
      "2,2024-01-01 10:40:00,30.0"))
    writeCsv(landing, "f2.csv", Seq(
      "3,2024-01-01 11:05:00,50.0"))
    val loop = mkLoop(landing, work)

    val r1 = loop.tick()
    assert(r1.filesIngested.map(new File(_).getName) == Seq("f1.csv", "f2.csv"))
    assert(r1.bucketsRecomputed == Seq("2024-01-01 10", "2024-01-01 11"))
    assert(r1.notificationsRaised == 1L) // entity 2: 230 > 150

    val r2 = loop.tick()
    assert(r2.isNoOp, s"rerun must be a no-op, got $r2")

    // a late file lands rows in the 10h bucket ONLY
    writeCsv(landing, "f3.csv", Seq("1,2024-01-01 10:55:00,300.0"))
    val r3 = loop.tick()
    assert(r3.filesIngested.map(new File(_).getName) == Seq("f3.csv"))
    assert(r3.bucketsRecomputed == Seq("2024-01-01 10"))
    // entity 1 now exceeds (310) and entity 2 re-raises (230) on recompute
    assert(r3.notificationsRaised == 2L)

    // derived store equals a from-scratch transform over all raw rows
    val derived = spark.read.parquet(loop.derivedDir)
      .select("bucket", "entity_id", "kpi_load")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(derived == Set(
      ("2024-01-01 10", 1L, 310.0),
      ("2024-01-01 10", 2L, 230.0),
      ("2024-01-01 11", 3L, 50.0)))

    // notification store is append-only: 1 (tick1) + 2 (tick3)
    assert(spark.read.parquet(loop.notificationsDir).count() == 3)
  }

  test("raw rows landed without an ingest-log entry (crash window) still materialize") {
    import org.apache.spark.sql.SaveMode
    val landing = tmpDir("hl_landing3")
    val work = tmpDir("hl_work3")
    writeCsv(landing, "f1.csv", Seq("1,2024-01-01 10:05:00,10.0"))
    val loop = mkLoop(landing, work)
    loop.tick()

    // simulate the documented crash window: rows appended to the raw store
    // with no corresponding log entry (as if the tick died between writes)
    spark.createDataFrame(Seq((2L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 400.0)))
      .toDF("entity_id", "ts", "value")
      .withColumn("bucket", date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH"))
      .write.mode(SaveMode.Append).partitionBy("bucket").parquet(s"$work/raw")

    // the bucket fingerprint sees the orphaned rows -> recompute, notify
    val r = loop.tick()
    assert(r.filesIngested.isEmpty)
    assert(r.bucketsRecomputed == Seq("2024-01-01 10"))
    assert(r.notificationsRaised == 1L) // entity 2: 400 > 150
    val derived = spark.read.parquet(loop.derivedDir)
      .select("entity_id", "kpi_load")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(derived == Set((1L, 10.0), (2L, 400.0)))
  }

  test("retention expires old buckets from raw/derived/state; notifications survive") {
    val landing = tmpDir("hl_landing4")
    val work = tmpDir("hl_work4")
    writeCsv(landing, "f1.csv", Seq(
      "1,2024-01-01 10:05:00,200.0",
      "2,2024-01-01 11:05:00,200.0",
      "3,2024-01-01 12:05:00,30.0"))
    val loop = mkLoop(landing, work)
    val r1 = loop.tick()
    assert(r1.bucketsRecomputed.size == 3 && r1.notificationsRaised == 2L)

    // expire everything before the 12h bucket
    val r2 = loop.tick(expireBefore = Some("2024-01-01 12"))
    assert(r2.bucketsExpired == Seq("2024-01-01 10", "2024-01-01 11"), r2.toString)
    assert(r2.filesIngested.isEmpty && r2.bucketsRecomputed.isEmpty,
      "expiry must not trigger recomputation of surviving buckets")
    // raw + derived keep only the retained bucket
    assert(spark.read.parquet(s"$work/raw").select("bucket").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("2024-01-01 12"))
    assert(spark.read.parquet(loop.derivedDir).select("bucket").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("2024-01-01 12"))
    // state purged with them: bounded by the retention window
    assert(stateBuckets(work) == 1)
    // the append-only event log is NOT expired
    assert(spark.read.parquet(loop.notificationsDir).count() == 2)

    // the next plain tick is a clean no-op — expiry left no stale signal
    assert(loop.tick().isNoOp)
  }

  /** Every file under `dir` (markers included) with its mtime. */
  private def snapshot(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val st = java.nio.file.Files.walk(root)
    try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    finally st.close()
  }

  private def derivedEqualsTransform(loop: HarvestLoop, work: String): Boolean = {
    val cols = Seq("bucket", "entity_id", "kpi_load", "ts").map(col)
    val derived = spark.read.parquet(loop.derivedDir).select(cols: _*)
    val expected = transform(spark.read.parquet(s"$work/raw")).select(cols: _*)
    derived.exceptAll(expected).isEmpty && expected.exceptAll(derived).isEmpty
  }

  test("crash between state delete and rename: full recompute of the retained buckets") {
    val landing = tmpDir("hl_landing5")
    val work = tmpDir("hl_work5")
    writeCsv(landing, "f1.csv", Seq(
      "1,2024-01-01 10:05:00,200.0",
      "2,2024-01-01 11:05:00,20.0",
      "3,2024-01-01 12:05:00,30.0"))
    val loop = mkLoop(landing, work)
    assert(loop.tick().bucketsRecomputed.size == 3)

    // the commit died after deleting `state`, leaving a finished state.tmp
    val state = new File(work, "state")
    val tmp = new File(work, "state.tmp")
    FileUtils.copyFile(state, tmp)
    FileUtils.delete(state)

    val r = loop.tick(expireBefore = Some("2024-01-01 11"))
    assert(r.bucketsExpired == Seq("2024-01-01 10"), r.toString)
    assert(r.bucketsRecomputed == Seq("2024-01-01 11", "2024-01-01 12"), r.toString)
    assert(derivedEqualsTransform(loop, work))
    assert(stateBuckets(work) == 2)
    assert(!tmp.exists(), "the commit must consume state.tmp")
    assert(loop.tick(expireBefore = Some("2024-01-01 11")).isNoOp)
  }

  test("a retention cut that expires every raw bucket still empties the state") {
    val landing = tmpDir("hl_landing6")
    val work = tmpDir("hl_work6")
    writeCsv(landing, "f1.csv", Seq(
      "1,2024-01-01 10:05:00,10.0",
      "2,2024-01-01 11:05:00,20.0"))
    val loop = mkLoop(landing, work)
    loop.tick()
    assert(stateBuckets(work) == 2)

    val r = loop.tick(expireBefore = Some("2024-01-02 00"))
    assert(r.bucketsExpired == Seq("2024-01-01 10", "2024-01-01 11"), r.toString)
    assert(stateBuckets(work) == 0)
    assert(loop.tick(expireBefore = Some("2024-01-02 00")).isNoOp)
  }

  test("a no-op tick leaves every store directory untouched") {
    val landing = tmpDir("hl_landing7")
    val work = tmpDir("hl_work7")
    writeCsv(landing, "f1.csv", Seq(
      "1,2024-01-01 10:05:00,200.0",
      "2,2024-01-01 11:05:00,20.0"))
    val loop = mkLoop(landing, work)
    loop.tick(expireBefore = Some("2024-01-01 10"))
    val before = snapshot(work)
    Thread.sleep(20) // a rewrite would move mtimes
    assert(loop.tick(expireBefore = Some("2024-01-01 10")).isNoOp)
    assert(snapshot(work) == before)
  }

  test("a steady tick runs at most 4 Spark jobs and a no-op tick runs none") {
    val landing = tmpDir("hl_landing9")
    val work = tmpDir("hl_work9")
    writeCsv(landing, "f1.csv", Seq(
      "1,2024-01-01 10:05:00,200.0",
      "2,2024-01-01 11:05:00,20.0"))
    val loop = mkLoop(landing, work)
    loop.tick()

    writeCsv(landing, "f2.csv", Seq("3,2024-01-01 11:15:00,300.0"))
    var r: HarvestLoop.TickReport = null
    val steady = jobsOf { r = loop.tick() }
    assert(r.bucketsRecomputed == Seq("2024-01-01 11") && r.notificationsRaised == 1L, r.toString)
    // raw write, recompute shuffle + write, notification write
    assert(steady <= 4, s"steady tick ran $steady jobs")
    val noop = jobsOf { r = loop.tick() }
    assert(r.isNoOp, r.toString)
    assert(noop == 0, s"no-op tick ran $noop jobs")
  }

  test("a bucket whose raw file set changed is recomputed; an untouched one is not") {
    val landing = tmpDir("hl_landing10")
    val work = tmpDir("hl_work10")
    writeCsv(landing, "f1.csv", Seq(
      "1,2024-01-01 10:05:00,200.0",
      "2,2024-01-01 11:05:00,20.0"))
    val loop = mkLoop(landing, work)
    loop.tick()
    val derivedBefore = spark.read.parquet(loop.derivedDir).collect().toSet

    // rewrite the 10h bucket's one file under a new name: same rows, new file set
    val bucketDir = new File(work, "raw/bucket=2024-01-01 10")
    val Array(part) = bucketDir.listFiles().filter(_.getName.startsWith("part-"))
    FileUtils.moveFile(part, new File(bucketDir, "part-renamed.snappy.parquet"))
    new File(bucketDir, s".${part.getName}.crc").delete()

    val r = loop.tick()
    assert(r.filesIngested.isEmpty && r.bucketsRecomputed == Seq("2024-01-01 10"), r.toString)
    assert(spark.read.parquet(loop.derivedDir).collect().toSet == derivedBefore)
    assert(loop.tick().isNoOp)
  }

  test("a parquet ingest log is converted once, never re-ingested") {
    import org.apache.spark.sql.SaveMode
    val landing = tmpDir("hl_landing11")
    val work = tmpDir("hl_work11")
    writeCsv(landing, "f1.csv", Seq("1,2024-01-01 10:05:00,200.0"))
    val loop = mkLoop(landing, work)
    loop.tick()

    // the log as a parquet directory of file paths, as it was written
    // before it became a control file
    val log = new File(work, "ingest_log")
    val logged = Fs.readUtf8(spark, log.toString).get.split("\n").toSeq
    FileUtils.delete(log)
    spark.createDataFrame(logged.map(Tuple1(_))).toDF("file")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(log.toString)

    assert(loop.tick().isNoOp)
    assert(log.isFile)
    assert(Fs.readUtf8(spark, log.toString).get.split("\n").toSeq == logged)
    assert(spark.read.parquet(s"$work/raw").count() == 1)
  }

  test("a tick that raises no notification adds no file to the notification store") {
    val landing = tmpDir("hl_landing8")
    val work = tmpDir("hl_work8")
    writeCsv(landing, "f1.csv", Seq("1,2024-01-01 10:05:00,200.0"))
    val loop = mkLoop(landing, work)
    assert(loop.tick().notificationsRaised == 1L)
    val files = Fs.countDataFiles(spark, loop.notificationsDir, ".parquet")
    assert(files > 0)

    writeCsv(landing, "f2.csv", Seq("2,2024-01-01 11:05:00,20.0"))
    val r = loop.tick()
    assert(r.bucketsRecomputed == Seq("2024-01-01 11") && r.notificationsRaised == 0L, r.toString)
    assert(Fs.countDataFiles(spark, loop.notificationsDir, ".parquet") == files)
    assert(spark.read.parquet(loop.notificationsDir).count() == 1)
  }

  test("stability delay keeps hot buckets out of a tick, picked up later") {
    val landing = tmpDir("hl_landing2")
    val work = tmpDir("hl_work2")
    writeCsv(landing, "f1.csv", Seq(
      "1,2024-01-01 10:05:00,500.0",
      "2,2024-01-01 11:05:00,500.0"))
    val loop = mkLoop(landing, work)
    val r = loop.tick(stableBefore = Some("2024-01-01 11"))
    assert(r.bucketsRecomputed == Seq("2024-01-01 10"))
    assert(r.notificationsRaised == 1L)
    // once the delay passes, the hot bucket materializes with NO new files
    val r2 = loop.tick()
    assert(r2.filesIngested.isEmpty)
    assert(r2.bucketsRecomputed == Seq("2024-01-01 11"))
    assert(r2.notificationsRaised == 1L)
  }
}
