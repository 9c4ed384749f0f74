package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** Spans for the traced run. Every op (a harvest tick or a key rep) runs
  * under its own job group and the `perfbench.op` local property, so each
  * Spark job is a child span of its op — streaming jobs included, because
  * a stream's execution thread inherits the local properties of the thread
  * that started it. Stage task metrics are folded per op and per module;
  * spans live in memory and are written once, at the end of the run.
  *
  * Module attribution: a stage is charged to the innermost `graft.*` frame
  * of its call site (`StageInfo.details`), except that stages whose short
  * call site is `localCheckpoint` go to `ops`, and stages whose innermost
  * user frame is the benchmark's own (`foreach` over a key's result) go to
  * `queries`.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val ops = mutable.LinkedHashMap.empty[String, OpSpan]
  private val jobOp = mutable.HashMap.empty[Int, OpSpan]
  private val stageModule = mutable.HashMap.empty[Int, String]
  private val stageName = mutable.HashMap.empty[Int, String]
  private val execModule = mutable.HashMap.empty[Long, String]
  private val execDetails = mutable.HashMap.empty[Long, String]
  private val stageOp = mutable.HashMap.empty[Int, OpSpan]
  private val liveBlocks = mutable.HashMap.empty[String, Long]
  private var liveBytes = 0L
  var peakBlockBytes = 0L
  private var current: Option[OpSpan] = None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      id.flatMap(ops.get).foreach { span =>
        jobOp(e.jobId) = span
        val finalStage = e.stageInfos.map(_.stageId).max
        e.stageInfos.foreach { s =>
          val own = moduleOf(s.name, s.details)
          // adaptive execution submits query stages from a pool thread whose
          // call site has no user frame: charge them to their SQL execution
          val m = if (own != "other") own
            else execution.flatMap(execModule.get).getOrElse(own)
          stageModule(s.stageId) = m
          stageName(s.stageId) = s.name
          stageOp(s.stageId) = span
        }
        val m = stageModule(finalStage)
        span.jobs += 1
        span.moduleJobs(m) += 1
        if (e.stageInfos.exists(_.name.startsWith("localCheckpoint at"))) span.checkpointJobs += 1
        // the trigger plan runs once for `notes.count()` and once per
        // notification-store write (stages that adaptive execution submits
        // carry only the call site of their SQL execution)
        val sites = e.stageInfos.map(_.details) ++ execution.flatMap(execDetails.get)
        if (sites.exists { site =>
              val top = site.linesIterator.take(2).mkString("\n")
              site.contains("graft.store.Triggers$.store(") ||
                (top.contains("Dataset.count(") && top.contains("graft.pipeline.HarvestLoop.tick(")) })
          span.triggerPlans += execution.getOrElse(-1L - e.jobId)
        span.jobStartMs(e.jobId) = e.time
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execModule(x.executionId) = moduleOf(x.description, x.details)
        execDetails(x.executionId) = x.details
      }
      case _ =>
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOp.get(e.jobId).foreach { span =>
        span.jobWallS += (e.time - span.jobStartMs.getOrElse(e.jobId, e.time)) / 1e3
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(_.stages += e.stageInfo.stageId)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (span <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
        val module = stageModule.getOrElse(e.stageId, "other")
        val info = e.taskInfo
        val runS = m.executorRunTime / 1e3
        span.tasks += 1
        span.taskS += runS
        span.moduleTaskS(module) += runS
        span.schedDelayS += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime) / 1e3
        span.gcS += m.jvmGCTime / 1e3
        span.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        span.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        span.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        span.moduleRowsRead(module) += m.inputMetrics.recordsRead
        span.moduleBytesWritten(module) += m.outputMetrics.bytesWritten
        if (stageName.get(e.stageId).exists(_.startsWith("collect at HarvestLoop")) &&
            stageModule.get(e.stageId).contains("pipeline"))
          span.ingestLogRows += m.inputMetrics.recordsRead
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case b: RDDBlockId =>
          val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          val before = liveBlocks.getOrElse(b.name, 0L)
          if (size > 0) liveBlocks(b.name) = size else liveBlocks.remove(b.name)
          liveBytes += size - before
          peakBlockBytes = math.max(peakBlockBytes, liveBytes)
          if (size > before) current.foreach(_.checkpointBytes += size - before)
        case _ =>
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        current.foreach(_.batches += Batch(p.batchDuration / 1e3, d("addBatch"),
          d("commitOffsets") + d("walCommit"), d("queryPlanning")))
      }
  }

  private var attached = false

  /** Run `body` as op `id` (whose job group and `OpProperty` the caller
    * has set); traced only when `traced`. */
  def span[T](id: String, traced: Boolean)(body: => T): T = {
    if (traced) {
      synchronized { val s = new OpSpan(id); ops(id) = s; current = Some(s) }
      if (!attached) {
        sc.addSparkListener(listener)
        spark.streams.addListener(streamListener)
        attached = true
      }
    } else if (attached) detach()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) {
        org.apache.spark.BenchBus.drain(sc)
        synchronized { ops(id).wallS = wall; current = None }
      }
    }
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Spans as JSON lines, one per op. */
  def spansJson: Seq[String] = synchronized {
    ops.values.toSeq.map { s =>
      def m(x: mutable.Map[String, _]): String =
        x.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"op":"${s.id}","wall_s":${s.wallS},"jobs":${s.jobs},"stages":${s.stages.size},""" +
        s""""tasks":${s.tasks},"task_s":${s.taskS},"job_wall_s":${s.jobWallS},""" +
        s""""sched_delay_s":${s.schedDelayS},"gc_s":${s.gcS},"shuffle_write_bytes":${s.shuffleWrite},""" +
        s""""shuffle_read_bytes":${s.shuffleRead},"spill_bytes":${s.spill},""" +
        s""""checkpoint_jobs":${s.checkpointJobs},"checkpoint_bytes":${s.checkpointBytes},""" +
        s""""batches":${s.batches.size},"module_jobs":${m(s.moduleJobs)},""" +
        s""""module_task_s":${m(s.moduleTaskS)},"module_rows_read":${m(s.moduleRowsRead)},""" +
        s""""module_bytes_written":${m(s.moduleBytesWritten)}}"""
    }
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  final case class Batch(durationS: Double, addBatchS: Double, commitS: Double, planningS: Double)

  final class OpSpan(val id: String) {
    var wallS = 0.0
    var jobs = 0
    val stages = mutable.HashSet.empty[Int]
    var tasks = 0L
    var taskS = 0.0
    var jobWallS = 0.0
    var schedDelayS = 0.0
    var gcS = 0.0
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var checkpointJobs = 0
    var checkpointBytes = 0L
    /** SQL executions (or bare jobs) that evaluated the trigger plan. */
    val triggerPlans = mutable.HashSet.empty[Long]
    var ingestLogRows = 0L
    val jobStartMs = mutable.HashMap.empty[Int, Long]
    val moduleJobs = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val moduleTaskS = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val moduleRowsRead = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val moduleBytesWritten = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val batches = mutable.ArrayBuffer.empty[Batch]
  }

  private val Packages = Set("directory", "functions", "materialize", "multimodal", "ops",
    "pipeline", "queries", "sources", "store", "streaming", "tools")

  /** The module a stage is charged to; see the class doc. */
  def moduleOf(shortCallSite: String, details: String): String = {
    val frames = details.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    if (shortCallSite.startsWith("localCheckpoint at") ||
        frames.headOption.exists(_.contains(".localCheckpoint("))) return "ops"
    frames.find(_.startsWith("graft.")) match {
      case Some(f) =>
        val parts = f.split('.')
        if (Packages.contains(parts(1))) parts(1)
        else if (parts(1).startsWith("Fs")) "fs"
        else "queries"
      case None =>
        if (frames.headOption.exists(_.startsWith("perfbench."))) "queries" else "other"
    }
  }
}
