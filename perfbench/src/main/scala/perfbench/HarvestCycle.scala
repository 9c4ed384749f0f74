package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.Fs
import graft.pipeline.HarvestLoop
import graft.sources.MeasurementXml
import graft.store.Triggers

/** `harvest_cycle`: the daemon cycle through `HarvestLoop.tick`.
  *
  * Landing files are rendered (untimed) from the seeded [[Landing]] plan
  * just before each tick. The first tick ingests `BackfillBatches` of
  * backlog into empty stores (cold, not measured); after it, every tick
  * ingests one batch — a late tick when the batch carries held-back rows —
  * under a fixed retention cut `RetentionBatches` behind it, so the stores
  * stay at a steady size, and a no-op tick follows every `NoopEvery`-th
  * batch. The number of batches is fixed by `--seconds` (one per
  * `SecondsPerBatch`), so every run with the same arguments does the same
  * work. The traced run traces every other steady tick and every late and
  * no-op tick.
  */
object HarvestCycle {
  val RetentionBatches = 3
  val NoopEvery = 3
  val BackfillBatches = 3
  /** ~4 s per measured tick on 4 cores, next to ~25 s of set-up, cold
    * tick and checks. */
  val SecondsPerBatch = 4

  private val rules = Seq(
    Triggers.Rule("load_high", "kpi_max", "major")(_ > 150.0),
    Triggers.Rule("busy", "n", "minor")(_ >= 2))

  /** Hourly per-entity KPIs; sums run over integer cents, so the derived
    * store is bit-identical whatever the row order. */
  def transform(df: DataFrame): DataFrame =
    df.groupBy(col("bucket"), col("dn").as("entity_id"), date_trunc("hour", col("ts")).as("ts"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("kpi_value") * 100).cast("long")) / 100.0).as("kpi_sum"),
        max("kpi_value").as("kpi_max"),
        max("kpi_k").as("k_max"))

  private def bucketOf(col: org.apache.spark.sql.Column) =
    date_format(date_trunc("hour", col), "yyyy-MM-dd HH")

  private def bucketString(micros: Long): String =
    java.time.Instant.ofEpochSecond(micros / 1000000L).atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH"))

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** The store's data files (hidden and marker files excluded). */
  private def dataFiles(p: Path): Set[Path] =
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toSet
      finally s.close()
    }

  final case class TickRec(kind: String, wallS: Double, listS: Double, listed: Int,
                           rows: Long, buckets: Int, stateBytes: Long, storeFiles: Int,
                           traced: Boolean)

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val landing = Paths.get(ctx.workDir, "landing")
    val work = Paths.get(ctx.workDir, "harvest")
    Files.createDirectories(landing)

    val measured = math.max(3, ctx.seconds / SecondsPerBatch)
    val batchMicros = Landing.BatchHours * 3600L * 1000000L
    // the month's first days: every batch the run lands, plus the ones
    // whose held-back rows could still land in them
    val src = spark.read.parquet(s"${ctx.dataDir}/harvest_events.parquet")
      .selectExpr("event_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS us", "user_id", "value",
        "CAST(get_json_object(props, '$.k') AS INT)")
    val start = src.selectExpr("min(us)").head().getLong(0) / 86400000000L * 86400000000L
    val horizon = start + (BackfillBatches + measured + Landing.LateEvery).toLong * batchMicros
    val events = src.where(s"us < $horizon")
      .collect().map(r => Landing.Event(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toIndexedSeq
    val batches = Landing.plan(events, start, ctx.seed)

    // sources layer: parse time and bytes, summed over the parse tasks
    val parseNs = spark.sparkContext.longAccumulator("perfbench.parse_ns")
    val parseBytes = spark.sparkContext.longAccumulator("perfbench.parse_bytes")
    val counters = Landing.Counters
    val enc = Encoders.row(MeasurementXml.schema(counters))
    val reader: Seq[String] => DataFrame = files =>
      spark.read.option("wholetext", "true").text(files: _*)
        .mapPartitions { it =>
          it.flatMap { r =>
            val s = r.getString(0)
            val t0 = System.nanoTime()
            val rows = MeasurementXml.parseFile(s, counters).toVector
            parseNs.add(System.nanoTime() - t0)
            parseBytes.add(s.getBytes(StandardCharsets.UTF_8).length.toLong)
            rows
          }
        }(enc)
        .withColumn("bucket", bucketOf(col("ts")))
    val loop = new HarvestLoop(spark, landing.toString, work.toString, reader, transform, rules)

    var landedBytes = 0L
    val ingested = mutable.ArrayBuffer.empty[Landing.Event]
    def land(b: Int): Unit = batches(b).foreach { f =>
      val bytes = f.render.getBytes(StandardCharsets.UTF_8)
      Files.write(landing.resolve(f.name), bytes)
      landedBytes += bytes.length
      ingested ++= f.events
    }

    val ticks = mutable.ArrayBuffer.empty[TickRec]
    var lastCut: Option[String] = None
    var rowsBefore = 0L
    var traceNextSteady = true // the traced run traces every other steady tick

    def tick(kind: String, cut: Option[String], idx: Int): Unit = {
      val traced = ctx.traced && (kind match {
        case "cold"   => false
        case "steady" => traceNextSteady = !traceNextSteady; !traceNextSteady
        case _        => true
      })
      val t0 = System.nanoTime()
      val listed = Fs.listDataFiles(spark, landing.toString)
      val listS = (System.nanoTime() - t0) / 1e9
      val notesBefore = dataFiles(Paths.get(loop.notificationsDir))
      out.attempted += 1
      val id = f"tick$idx%03d.$kind"
      val res = ctx.op(id, traced) {
        loop.tick(expireBefore = cut)
      }
      if (kind != "cold") LiveHeap.sample()
      res match {
        case Left(err) => out.fail(id, err)
        case Right((r, wall)) =>
          // output check: the rows this tick appended to the notification
          // store equal the trigger rules re-run over exactly the buckets
          // it recomputed, and their count is the one the tick reported
          val added = (dataFiles(Paths.get(loop.notificationsDir)) -- notesBefore).toSeq.map(_.toString)
          val expected = Triggers.evaluate(spark.read.parquet(loop.derivedDir)
            .where(col("bucket").isin(r.bucketsRecomputed: _*)), rules)
          val stored = if (added.isEmpty) expected.limit(0)
            else spark.read.parquet(added: _*).select(expected.columns.toSeq.map(col): _*)
          val storedN = stored.count()
          val sameRows = stored.exceptAll(expected).union(expected.exceptAll(stored)).isEmpty
          val okKind = kind match {
            case "noop" => r.filesIngested.isEmpty && r.bucketsRecomputed.isEmpty
            case _      => r.filesIngested.nonEmpty
          }
          if (!sameRows || storedN != r.notificationsRaised || !okKind)
            out.fail(id, s"stored $storedN notification rows (reported ${r.notificationsRaised}), " +
              s"equal to the re-evaluated rows: $sameRows; files ${r.filesIngested.size}, " +
              s"recomputed ${r.bucketsRecomputed.size}")
          else {
            val rows = ingested.size - rowsBefore
            out.note(f"$id%-16s $wall%8.3f s  $rows rows")
            ticks += TickRec(kind, wall, listS, listed.size, rows, r.bucketsRecomputed.size,
              if (r.bucketsRecomputed.isEmpty) 0L
              else dirBytes(work.resolve("state")) + dirBytes(work.resolve("state.tmp")),
              added.size, traced)
          }
      }
      rowsBefore = ingested.size
    }

    (0 until BackfillBatches).foreach(land)
    tick("cold", None, 0)
    (BackfillBatches until BackfillBatches + measured).zipWithIndex.foreach { case (b, i) =>
      land(b)
      val cut = Some(bucketString(start + (b - RetentionBatches).toLong * batchMicros))
      lastCut = cut
      val kind = if (batches(b).exists(_.name.endsWith("-late.xml"))) "late" else "steady"
      tick(kind, cut, 2 * i + 1)
      if (i % NoopEvery == NoopEvery - 1) tick("noop", cut, 2 * i + 2)
    }
    val storeRatio = Seq("raw", "derived", "state", "notifications", "ingest_log")
      .map(d => dirBytes(work.resolve(d))).sum.toDouble / landedBytes

    checkStores(ctx, out, loop, ingested.toSeq, lastCut)

    val steady = ticks.filter(t => t.kind == "steady" && !t.traced).map(_.wallS).toSeq
    if (steady.isEmpty) return
    val (tailV, tailPct) = Stats.tail(steady)
    out.tailPct = tailPct
    out.tailN = steady.size
    if (ctx.traced) harvestLayers(ctx, out, ticks.toSeq, parseNs.value, parseBytes.value, storeRatio)
    else {
      out.e2e("wall_s") = (ticks.filter(_.kind != "cold").map(_.wallS).sum, "s")
      out.e2e("op_p50_s") = (Stats.median(steady), "s")
      out.e2e("op_tail_s") = (tailV, "s")
      out.note(f"op_tail_s is p$tailPct of ${steady.size} steady ticks; store_bytes_ratio $storeRatio%.4f")
    }
  }

  private def checkStores(ctx: Ctx, out: Outcome, loop: HarvestLoop,
                          landed: Seq[Landing.Event], cut: Option[String]): Unit = {
    val spark = ctx.spark
    val schema = MeasurementXml.schema(Landing.Counters)
    val expected = spark.createDataFrame(landed.map(Landing.toRow).asJava, schema)
      .withColumn("bucket", bucketOf(col("ts")))
      .where(cut.map(c => col("bucket") >= c).getOrElse(lit(true)))
    val raw = spark.read.parquet(s"${ctx.workDir}/harvest/raw")
    val cols = Seq("dn", "ts", "kpi_value", "kpi_k", "bucket").map(col)
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.select(cols: _*).exceptAll(b.select(cols: _*)).isEmpty &&
        b.select(cols: _*).exceptAll(a.select(cols: _*)).isEmpty
    if (!same(raw, expected))
      out.check("harvest raw rows equal landed rows (exactly-once)", ok = false)
    else out.check("harvest raw rows equal landed rows (exactly-once)", ok = true)
    val derived = spark.read.parquet(loop.derivedDir)
    val recomputed = transform(raw)
    val dcols = recomputed.columns.toSeq.map(col)
    val eq = derived.select(dcols: _*).exceptAll(recomputed.select(dcols: _*)).isEmpty &&
      recomputed.select(dcols: _*).exceptAll(derived.select(dcols: _*)).isEmpty
    out.check("harvest derived store equals transform(raw)", eq)
  }

  private def harvestLayers(ctx: Ctx, out: Outcome, ticks: Seq[TickRec], parseNs: Long,
                            parseBytes: Long, storeRatio: Double): Unit = {
    val tr = ctx.tracer.get
    val traced = ticks.filter(_.traced)
    val ops = tr.ops.values.toSeq
    val steadyOps = ops.filter(_.id.endsWith(".steady"))
    val workOps = ops.filter(o => o.id.endsWith(".steady") || o.id.endsWith(".late"))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val L = out.layer
    L("sources.parse_s") = (parseNs / 1e9 / math.max(1, ticks.count(_.rows > 0)), "s")
    L("sources.parse_mb_per_s") = (if (parseNs == 0) 0.0 else parseBytes / 1e6 / (parseNs / 1e9), "MB/s")
    L("fs.list_s") = (med(ticks.map(_.listS)), "s")
    L("fs.files_listed") = (med(ticks.map(_.listed.toDouble)), "count")
    L("pipeline.jobs") = (med(steadyOps.map(_.moduleJobs("pipeline").toDouble)), "count")
    L("pipeline.task_s") = (med(steadyOps.map(_.moduleTaskS("pipeline"))), "s")
    L("pipeline.self_s") = (med(steadyOps.map(o => math.max(0.0, o.wallS - o.jobWallS))), "s")
    L("pipeline.ingest_log_rows_read") = (med(steadyOps.map(_.ingestLogRows.toDouble)), "count")
    L("pipeline.trigger_plan_runs") = (med(workOps.map(_.triggerPlans.size.toDouble)), "count")
    L("materialize.jobs") = (med(steadyOps.map(_.moduleJobs("materialize").toDouble)), "count")
    L("materialize.task_s") = (med(steadyOps.map(_.moduleTaskS("materialize"))), "s")
    L("materialize.rows_read") = (med(steadyOps.map(_.moduleRowsRead("materialize").toDouble)), "count")
    val ingestedTraced = traced.filter(t => t.kind == "steady" || t.kind == "late").map(_.rows).sum
    L("materialize.rows_read_per_row_ingested") = (
      if (ingestedTraced == 0) 0.0 else workOps.map(_.moduleRowsRead("materialize")).sum.toDouble / ingestedTraced,
      "ratio")
    L("materialize.buckets_recomputed") = (med(traced.filter(_.kind == "steady").map(_.buckets.toDouble)), "count")
    L("materialize.state_bytes_written") = (med(traced.filter(_.kind == "steady").map(_.stateBytes.toDouble)), "bytes")
    L("store.jobs") = (med(workOps.map(_.moduleJobs("store").toDouble)), "count")
    L("store.task_s") = (med(workOps.map(_.moduleTaskS("store"))), "s")
    L("store.files_written") = (med(traced.filter(t => t.kind == "steady" || t.kind == "late").map(_.storeFiles.toDouble)), "count")
    L("store.bytes_written") = (med(workOps.map(_.moduleBytesWritten("store").toDouble)), "bytes")
    def wallMed(kind: String, traced: Boolean) =
      med(ticks.filter(t => t.kind == kind && t.traced == traced).map(_.wallS))
    L("harvest.noop_tick_s") = (wallMed("noop", traced = true), "s")
    L("harvest.late_tick_s") = (wallMed("late", traced = true), "s")
    val work = ticks.filter(t => t.kind == "steady" || t.kind == "late")
    L("harvest.ingest_rows_per_s") = (work.map(_.rows).sum / math.max(1e-9, work.map(_.wallS).sum), "1/s")
    L("harvest.store_bytes_ratio") = (storeRatio, "ratio")
    out.overhead = (wallMed("steady", traced = true), wallMed("steady", traced = false))
  }
}
