package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The key workload, `dedup_graph`: the registry keys that run a job per
  * round or micro-batch and stage through `localCheckpoint` — `graph_*`,
  * `llm_dedup_*`, `llm_lsh_*`, the IVF/PQ/recall keys and the `stream_*`
  * keys. Each run measures a fixed sample of them, one key or more per
  * family, in an order drawn from `--seed`.
  *
  * One key rep is `SparkEntry.queries(key)(spark, sfDir)` plus a full
  * `foreach` over the result. Per key: a cold rep that computes the
  * order-insensitive digest (untimed), then a timed warm rep, which counts
  * its rows; a key's time is its warm rep. The traced run adds a traced
  * warm rep and a closing digest rep (untimed). A key fails — and its time
  * enters no latency metric — when it throws, returns no rows, or its
  * digest differs from the committed table, from the warm rep's row count,
  * or across reps.
  */
object KeyWorkloads {
  val Name = "dedup_graph"

  /** The key's family (`ann` is the IVF/PQ/recall keys). */
  def familyOf(key: String): String =
    if (key.startsWith("graph_")) "graph"
    else if (key.startsWith("stream_")) "stream"
    else if (key.startsWith("llm_dedup_") || key.startsWith("llm_lsh_")) "dedup"
    else "ann"

  /** The sample, in the order keys join it as `--seconds` grows: one key
    * of each family per tier, so every family is always measured. Outside
    * the stream family each is a key whose rep runs a Spark job per round
    * and stages through `localCheckpoint` (jobs and checkpoint jobs per rep
    * in BENCHMARK.md). The stream keys that do that (`stream_dedup_lsh`,
    * `stream_late_rematerialize`: four micro-batches, 74–87 jobs) cost
    * three times a first-tier key, so the first tier takes
    * `stream_tumbling` (one micro-batch, a windowed aggregation) and
    * `stream_dedup_lsh` waits for the second. */
  val Sample = Seq(
    "graph_pagerank", "llm_dedup_clusters", "llm_ivf_two_level", "stream_tumbling",
    "graph_cc", "llm_dedup_survivors", "llm_pq_adc", "stream_dedup_lsh")

  /** Keys per run: the first tier at `--seconds 12`, more in proportion;
    * a first-tier key costs ~8 s on 4 cores (cold digest rep and warm
    * rep). The seed shuffles the order they run in. */
  def sample(seconds: Int): Seq[String] =
    Sample.take(math.max(4, math.round(4 * seconds / 12.0).toInt))

  /** Order-insensitive digest: row count and the DECIMAL sum of a 64-bit
    * hash of each row's columns in name order (maps as sorted entries). */
  def digest(df: DataFrame): (Long, String) = {
    def canon(c: Column, t: DataType): Column = t match {
      case _: MapType => array_sort(map_entries(c))
      case _          => c
    }
    val cols = df.schema.fields.sortBy(_.name).map(f => canon(df.col(s"`${f.name}`"), f.dataType))
    val r = df.select(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def digestString(d: (Long, String)): String = s"${d._1}:${d._2}"

  private def freeBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  final case class KeyRec(key: String, family: String, warmS: Double, tracedS: Double)

  def run(ctx: Ctx, out: Outcome, digests: Map[String, String]): Unit = {
    val spark = ctx.spark
    val keys = new Random(ctx.seed).shuffle(sample(ctx.seconds))
    val rowsAcc = spark.sparkContext.longAccumulator("perfbench.rows")
    out.note(s"$Name: ${keys.size} keys")
    def rep[T](key: String, tag: String, traced: Boolean)(body: DataFrame => T): Either[String, (T, Double)] = {
      val r = ctx.op(s"$key#$tag", traced)(body(SparkEntry.queries(key)(spark, ctx.dataDir)))
      if (tag == "warm") LiveHeap.sample()
      freeBlocks(spark)
      r
    }
    def digestRep(key: String, tag: String) =
      rep(key, tag, traced = false)(df => digestString(digest(df))).map(_._1)
    // (seconds, rows counted by the full foreach)
    def timedRep(key: String, tag: String, traced: Boolean) = {
      rowsAcc.reset()
      rep(key, tag, traced)(_.foreach(_ => rowsAcc.add(1L))).map { case (_, t) => (t, rowsAcc.value) }
    }
    // Passes, each over every key in seed order: every cold rep runs before
    // any timed rep, so no key's time depends on how warm the JVM was at
    // its position in the order.
    out.attempted += keys.size
    val failed = mutable.LinkedHashMap.empty[String, String]
    def pass[T](f: String => Either[String, T]): Map[String, T] =
      keys.filterNot(failed.contains).flatMap { k =>
        f(k) match {
          case Left(err) => failed(k) = err; None
          case Right(v)  => Some(k -> v)
        }
      }.toMap
    val cold = pass(digestRep(_, "cold"))
    val warm = pass(timedRep(_, "warm", traced = false))
    val traced = if (ctx.traced) pass(timedRep(_, "traced", traced = true)) else Map.empty[String, (Double, Long)]
    val check = if (ctx.traced) pass(digestRep(_, "check")) else cold
    keys.filterNot(failed.contains).foreach { k =>
      val (d1, (_, rows), d2) = (cold(k), warm(k), check(k))
      val problem =
        if (rows == 0) Some("returned no rows")
        else if (d1 != d2) Some(s"digest differs across reps: $d1 vs $d2")
        else if (!d1.startsWith(s"$rows:")) Some(s"foreach saw $rows rows, digest $d1")
        else if (!digests.contains(k)) Some("no committed digest for this key")
        else if (digests(k) != d1) Some(s"digest $d1 != committed ${digests(k)}")
        else None
      problem.foreach(p => failed(k) = p)
    }
    failed.foreach { case (k, err) => out.fail(k, err) }
    val recs = keys.filterNot(failed.contains).map { k =>
      out.note(f"$k%-32s ${warm(k)._1}%8.3f s  ${warm(k)._2} rows")
      KeyRec(k, familyOf(k), warm(k)._1, traced.get(k).map(_._1).getOrElse(0.0))
    }
    if (recs.isEmpty) return
    val times = recs.map(_.warmS).toSeq
    val (tailV, tailPct) = Stats.tail(times)
    out.tailPct = tailPct
    out.tailN = times.size
    if (ctx.traced) {
      out.overhead = (recs.map(_.tracedS).sum, times.sum)
      keyLayers(ctx, out, recs.toSeq)
    } else {
      out.e2e("wall_s") = (times.sum, "s")
      out.e2e("op_p50_s") = (Stats.median(times), "s")
      out.e2e("op_tail_s") = (tailV, "s")
      out.note(s"op_tail_s is p$tailPct of ${times.size} keys")
    }
  }

  private def keyLayers(ctx: Ctx, out: Outcome, recs: Seq[KeyRec]): Unit = {
    val tr = ctx.tracer.get
    val spans = tr.ops.values.toSeq
    def spansOf(keys: Set[String]) = spans.filter(s => keys.contains(s.id.takeWhile(_ != '#')))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val L = out.layer
    recs.groupBy(_.family).foreach { case (fam, rs) =>
      val ss = spansOf(rs.map(_.key).toSet)
      val jobs = ss.map(_.jobs).sum
      L(s"queries.$fam.wall_s") = (med(rs.map(_.warmS)), "s")
      L(s"queries.$fam.jobs_per_key") = (med(ss.map(_.jobs.toDouble)), "count")
      L(s"queries.$fam.tasks_per_job") = (if (jobs == 0) 0.0 else ss.map(_.tasks).sum.toDouble / jobs, "count")
      L(s"queries.$fam.core_util") = (ss.map(_.taskS).sum / math.max(1e-9, ss.map(_.wallS).sum * ctx.cpus), "ratio")
    }
    L("queries.plan_task_s") = (med(spans.map(_.moduleTaskS("queries"))), "s")
    L("queries.exchange_bytes") = (med(spans.map(_.shuffleWrite.toDouble)), "bytes")
    L("ops.checkpoint_jobs") = (spans.map(_.checkpointJobs).sum.toDouble / spans.size, "count")
    L("ops.checkpoint_task_s") = (spans.map(_.moduleTaskS("ops")).sum / spans.size, "s")
    L("ops.checkpoint_bytes") = (spans.map(_.checkpointBytes).sum.toDouble / spans.size, "bytes")
    L("ops.checkpoint_peak_bytes") = (tr.peakBlockBytes.toDouble, "bytes")
    val streams = spansOf(recs.filter(_.family == "stream").map(_.key).toSet)
    val batches = streams.flatMap(_.batches)
    if (batches.nonEmpty) {
      L("streaming.batches") = (batches.size.toDouble / streams.size, "count")
      L("streaming.batch_p50_s") = (med(batches.map(_.durationS)), "s")
      L("streaming.add_batch_s") = (med(batches.map(_.addBatchS)), "s")
      L("streaming.commit_s") = (med(batches.map(_.commitS)), "s")
      L("streaming.planning_s") = (med(batches.map(_.planningS)), "s")
      L("streaming.jobs_per_batch") = (streams.map(_.jobs).sum.toDouble / batches.size, "count")
    }
  }
}
