package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer], val seed: Long,
                val seconds: Int, val dataDir: String, val workDir: String, val cpus: Int) {
  def traced: Boolean = tracer.isDefined

  /** Run one op under its own job group; Left(error) if it throws. */
  def op[T](id: String, traced: Boolean)(body: => T): Either[String, (T, Double)] = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, id)
    sc.setLocalProperty(Tracer.OpProperty, id)
    val t0 = System.nanoTime()
    try {
      val r = tracer match {
        case Some(t) => t.span(id, traced)(body)
        case None    => body
      }
      Right((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Throwable =>
        val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(x => s"${x.getClass.getSimpleName}: ${x.getMessage}").take(3).mkString(" <- ")
        Left(msg.take(2000))
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty(Tracer.OpProperty, null)
    }
  }
}

/** The largest heap left live at the end of a measured op (before its
  * cached blocks are dropped): what the program holds — cached and
  * checkpointed blocks, broadcasts, driver-side state — in MB. A reading
  * is a full collection, a pause in which Spark's context cleaner drops
  * the broadcast and shuffle state of what that collection freed, and a
  * second full collection; so it does not depend on when the collector or
  * the cleaner last ran. */
object LiveHeap {
  private var bytes = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    bytes = math.max(bytes, used)
  }
  def peakMb: Double = bytes / 1048576.0
}

/** What one run produced: metrics, op counts and the output-check verdict.
  * Failures and check results go to stderr as they happen. */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0
  var failed = 0
  var correct = true
  var tailPct = 0
  var tailN = 0
  /** (traced, untraced) wall over the same ops, for trace.overhead_ratio. */
  var overhead = (0.0, 0.0)

  def fail(op: String, msg: String): Unit = {
    failed += 1
    correct = false
    System.err.println(s"[perfbench] FAILED $op: $msg")
  }
  def check(name: String, ok: Boolean): Unit = {
    if (!ok) correct = false
    System.err.println(s"[perfbench] check ${if (ok) "ok" else "FAILED"}: $name")
  }
  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** One benchmark run: `--workload --seed --seconds --trace` plus the data,
  * work and spans locations `run.py` passes. Prints the result JSON as the
  * last stdout line. */
object Main {
  val Workloads = Seq("harvest_cycle", KeyWorkloads.Name)

  def session(cpus: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

  /** Session, extensions and warm-up: the measured set-up. */
  private def setUp(cpus: Int, localDir: String, dataDir: String): SparkSession = {
    val spark = session(cpus, localDir)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.sql("SELECT md5_bits('warm', 1, 15), vec_dot(array(1.0F), array(2.0F))").collect()
    spark.read.parquet(s"$dataDir/region.parquet").count()
    spark
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val dataDir = a("data")
    val workDir = a("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val localDir = Paths.get(workDir, "spark-local").toString
    Files.createDirectories(Paths.get(localDir))

    // set-up: once JVM-cold, then SetupReps times warm after a full
    // collection; setup_s is the median warm set-up, and the last session
    // is kept
    val SetupReps = 5
    var spark: SparkSession = null
    val setups = (0 to SetupReps).map { _ =>
      if (spark != null) { spark.stop(); System.gc() }
      val t0 = System.nanoTime()
      spark = setUp(cpus, localDir, dataDir)
      (System.nanoTime() - t0) / 1e9
    }
    val coldSetup = setups.head
    val warmSetups = setups.tail
    val digests = Digests.load(a("digests"))

    val out = new Outcome
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, tracer, seed, seconds, dataDir, workDir, cpus)
    val t0 = System.nanoTime()
    try {
      if (workload == "harvest_cycle") HarvestCycle.run(ctx, out)
      else KeyWorkloads.run(ctx, out, digests)
      tracer.foreach(_.detach())
      if (traced && workload != "harvest_cycle")
        KernelProbe.run(spark, out)
    } catch {
      case e: Throwable =>
        out.fail(s"$workload run", e.toString)
        e.printStackTrace()
    }
    val runS = (System.nanoTime() - t0) / 1e9
    out.note(s"set-up: cold ${f"$coldSetup%.3f"} s, warm ${warmSetups.map(s => f"$s%.3f").mkString(", ")} s")
    out.note(f"run took $runS%.1f s; attempted ${out.attempted}, failed ${out.failed}, " +
      f"fail_ratio ${out.failed.toDouble / math.max(1, out.attempted)}%.4f")

    if (!traced) {
      out.e2e("setup_s") = (Stats.median(warmSetups), "s")
      out.e2e("peak_heap_mb") = (LiveHeap.peakMb, "MB")
    } else {
      out.layer("setup.cold_s") = (coldSetup, "s")
      tracer.foreach { tr => sparkLayer(out, tr, cpus) }
      out.layer("run.tail_pct") = (out.tailPct.toDouble, "pct")
      out.layer("run.tail_n") = (out.tailN.toDouble, "count")
      val (t, u) = out.overhead
      out.layer("trace.overhead_ratio") = (if (u > 0) t / u else 0.0, "ratio")
      a.get("spans").foreach { p =>
        Files.write(Paths.get(p), tracer.get.spansJson.mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8))
      }
    }
    spark.stop()

    val metrics = (if (traced) out.layer else out.e2e).map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${out.correct}, "attempted": ${math.max(1, out.attempted)}, """ +
      s""""failed": ${out.failed}, "metrics": $metrics}""")
  }

  private def sparkLayer(out: Outcome, tr: Tracer, cpus: Int): Unit = {
    val spans = tr.ops.values.toSeq
    val n = math.max(1, spans.size).toDouble
    def mean(f: Tracer.OpSpan => Double) = spans.map(f).sum / n
    val L = out.layer
    L("spark.jobs") = (mean(_.jobs.toDouble), "count")
    L("spark.stages") = (mean(_.stages.size.toDouble), "count")
    L("spark.tasks") = (mean(_.tasks.toDouble), "count")
    L("spark.task_s") = (mean(_.taskS), "s")
    L("spark.sched_delay_s") = (mean(_.schedDelayS), "s")
    L("spark.gc_s") = (mean(_.gcS), "s")
    L("spark.shuffle_write_bytes") = (mean(_.shuffleWrite.toDouble), "bytes")
    L("spark.shuffle_read_bytes") = (mean(_.shuffleRead.toDouble), "bytes")
    L("spark.spill_bytes") = (mean(_.spill.toDouble), "bytes")
    L("spark.core_util") = (spans.map(_.taskS).sum / math.max(1e-9, spans.map(_.wallS).sum * cpus), "ratio")
  }
}
