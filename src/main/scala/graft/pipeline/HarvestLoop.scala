package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fs
import graft.materialize.Materializer
import graft.store.Triggers

/** The harvest → materialize → notify orchestration loop — the reference's
  * daemon cycle (scan sources for new measurement files, ingest them,
  * rematerialize what changed, raise threshold notifications) re-expressed
  * as one deterministic batch pass. A scheduler (cron, Airflow, a
  * Structured Streaming file source for the push variant) calls [[tick]]
  * per cycle; everything inside a tick is idempotent and incremental:
  *
  *  1. **Harvest**: landing-dir files not yet in the ingest log are read
  *     by the caller-supplied `reader` and appended to the raw store,
  *     partitioned by `bucket`. The ingest log (tiny parquet of file
  *     paths) is the exactly-once guard — a re-listed file is never
  *     re-read, so re-running a tick after a crash cannot double-ingest.
  *  2. **Materialize**: the fingerprint-gated [[Materializer]] recomputes
  *     ONLY buckets whose raw rows changed (new, late or removed rows of a
  *     bucket that still has raw rows), writing per-bucket dynamic
  *     overwrites into the derived store.
  *  3. **Notify**: trigger rules evaluate over the freshly recomputed
  *     buckets only — never the whole derived store — and exceedances
  *     append to the notification store. A bucket recomputed after late
  *     data re-raises its notifications (deliberate: the new derived
  *     values supersede the old ones, and downstream consumers read
  *     notifications as an append-only event log).
  *
  * Scale stance: the per-tick driver state is file PATHS, BUCKET ids and
  * one fingerprint per bucket — all bounded by operational cardinality
  * (files per cycle, buckets per retention window), never by data volume.
  * Row data only ever moves through partitioned writes and fingerprint
  * aggregations.
  *
  * Contracts: `reader` must emit a string `bucket` column; `transform`
  * must preserve it (Materializer requirement); when `rules` is non-empty
  * the transform output must carry the notification shape's `entity_id`
  * and `ts` columns (see [[Triggers.evaluate]]).
  */
final class HarvestLoop(
    spark: SparkSession,
    landingDir: String,
    workDir: String,
    reader: Seq[String] => DataFrame,
    transform: DataFrame => DataFrame,
    rules: Seq[Triggers.Rule]) {

  import HarvestLoop._

  private val ingestLogDir = s"$workDir/ingest_log"
  private val rawDir = s"$workDir/raw"
  private val stateDir = s"$workDir/state"
  val derivedDir = s"$workDir/derived"
  val notificationsDir = s"$workDir/notifications"

  /** Paths already ingested — driver-side, bounded by files-per-retention
    * (operational cardinality, like the Materializer's stale list). */
  private def ingestedFiles(): Set[String] =
    if (Fs.existsNonEmptyData(spark, ingestLogDir))
      spark.read.schema("file STRING").parquet(ingestLogDir).collect().map(_.getString(0)).toSet
    else Set.empty

  /** One orchestration cycle; see class doc. `stableBefore` is the
    * materialization stability delay (buckets at or past it stay hot);
    * `expireBefore` is the retention cutoff — bucket partitions strictly
    * below it are dropped from the raw and derived stores (metadata-only
    * partition deletes, [[graft.Fs.dropPartitions]]) BEFORE
    * materialization, so a tick never recomputes a bucket it is about to
    * expire, and the materializer drops them from its state in the same
    * commit as the tick's fresh fingerprints. Notifications are
    * deliberately NOT expired here: they are the append-only event log. */
  def tick(
      stableBefore: Option[String] = None,
      expireBefore: Option[String] = None): TickReport = {
    import spark.implicits._

    val fresh = (Fs.listDataFiles(spark, landingDir).toSet -- ingestedFiles())
      .toSeq.sorted
    if (fresh.nonEmpty) {
      val rows = reader(fresh)
      require(rows.columns.contains("bucket"),
        "harvest reader must emit a string 'bucket' column")
      rows.write.mode(SaveMode.Append).partitionBy("bucket").parquet(rawDir)
      // log AFTER the data lands: a crash between the two writes re-reads
      // the file next tick and appends duplicate rows, which the bucket
      // fingerprint then flags as changed — recompute-correct, never lost
      fresh.toDF("file").coalesce(1).write.mode(SaveMode.Append).parquet(ingestLogDir)
    }

    val expired = expireBefore.toSeq.flatMap { cut =>
      (Fs.dropPartitions(spark, rawDir, "bucket", cut) ++
        Fs.dropPartitions(spark, derivedDir, "bucket", cut)).distinct.sorted
    }

    val materializer = new Materializer(spark, stateDir)
    if (!Fs.existsNonEmptyData(spark, rawDir)) {
      expireBefore.foreach(materializer.expire)
      return TickReport(fresh, Nil, 0L, expired)
    }

    val result = materializer.materialize(spark.read.parquet(rawDir), transform, derivedDir,
      stableBefore, expireBefore)
    val raised = notifyRecomputed(spark, derivedDir, result.recomputedBuckets, rules, notificationsDir)
    TickReport(fresh, result.recomputedBuckets, raised, expired)
  }
}

object HarvestLoop {
  /** The notify step of both harvest paths: evaluates `rules` over the
    * derived rows of the `recomputed` buckets and appends the exceedances
    * to the notification store in one pass; returns the rows appended. */
  private[pipeline] def notifyRecomputed(
      spark: SparkSession,
      derivedDir: String,
      recomputed: Seq[String],
      rules: Seq[Triggers.Rule],
      notificationsDir: String): Long =
    if (recomputed.isEmpty || rules.isEmpty) 0L
    else Triggers.raise(
      spark.read.parquet(derivedDir).where(col("bucket").isin(recomputed: _*)),
      rules, notificationsDir)

  /** What one cycle did — the daemon's heartbeat record. */
  final case class TickReport(
      filesIngested: Seq[String],
      bucketsRecomputed: Seq[String],
      notificationsRaised: Long,
      bucketsExpired: Seq[String] = Nil) {
    def isNoOp: Boolean =
      filesIngested.isEmpty && bucketsRecomputed.isEmpty &&
        notificationsRaised == 0 && bucketsExpired.isEmpty
  }
}
