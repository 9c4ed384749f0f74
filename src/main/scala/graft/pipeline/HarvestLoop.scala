package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

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
  *     partitioned by `bucket`. The ingest log (a control file of file
  *     paths, one per line) is the exactly-once guard — a re-listed file
  *     is never re-read, so re-running a tick after a crash cannot
  *     double-ingest. The raw store records the reader's schema in
  *     `raw/_schema.json` at its first write (and again only if it
  *     changes), so reading it infers nothing.
  *  2. **Materialize**: the fingerprint-gated [[Materializer]] recomputes
  *     ONLY buckets whose raw files changed (new files of a new, late or
  *     re-landed bucket that still has raw files), writing per-bucket
  *     dynamic overwrites into the derived store. The fingerprint is
  *     [[Materializer.fileFingerprints]], taken from the raw read's own
  *     listing: raw files are only ever appended under fresh names or
  *     dropped with their bucket, so the file set changes exactly when the
  *     rows do.
  *  3. **Notify**: trigger rules evaluate over the freshly recomputed
  *     buckets only — never the whole derived store — and exceedances
  *     append to the notification store. A bucket recomputed after late
  *     data re-raises its notifications (deliberate: the new derived
  *     values supersede the old ones, and downstream consumers read
  *     notifications as an append-only event log).
  *
  * Spark runs only for row data: a tick that ingests runs the raw write,
  * the recompute (shuffle and write) and the notification write; the
  * ingest log, the schemas, the fingerprints and the materializer state
  * are control files and listings read and written on the driver through
  * [[graft.Fs]], so a tick that lands nothing runs no Spark job. A work
  * dir written while the log and the state were parquet directories is
  * picked up as it is: the log is converted on the first read, and the
  * state reads as empty, so the first tick recomputes every retained
  * bucket once (see [[Materializer]]).
  *
  * Scale stance: the per-tick driver state is file PATHS, BUCKET ids and
  * one fingerprint per bucket — all bounded by operational cardinality
  * (files ever ingested, buckets per retention window), never by data
  * volume. Row data only ever moves through partitioned writes.
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

  private val ingestLog = s"$workDir/ingest_log"
  private val rawDir = s"$workDir/raw"
  private val rawSchemaFile = s"$rawDir/_schema.json"
  private val materializer =
    new Materializer(spark, s"$workDir/state", Materializer.fileFingerprints)
  val derivedDir = s"$workDir/derived"
  val notificationsDir = s"$workDir/notifications"

  /** Paths already ingested — driver-side, one line per file ever
    * ingested; an ingesting tick rewrites the whole log. A crash between
    * the log's delete and rename leaves its complete `.tmp`, which is read
    * instead: reading nothing would re-ingest every landing file. A
    * parquet log directory (written before the log was a control file) is
    * converted once. */
  private def ingestedFiles(): Seq[String] =
    Fs.readUtf8(spark, ingestLog).orElse(Fs.readUtf8(spark, ingestLog + ".tmp")) match {
      case Some(log) => log.split("\n").toSeq.filter(_.nonEmpty)
      case None if Fs.existsNonEmptyData(spark, ingestLog) =>
        val legacy = spark.read.schema("file STRING").parquet(ingestLog)
          .collect().map(_.getString(0)).toSeq.sorted
        Fs.writeUtf8(spark, ingestLog, legacy.mkString("\n"))
        legacy
      case None => Nil
    }

  /** The raw store as its recorded schema reads it. A store written
    * before the schema was recorded infers it until its next write. */
  private def readRaw(): DataFrame =
    Fs.readUtf8(spark, rawSchemaFile) match {
      case Some(json) => spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType])
        .parquet(rawDir)
      case None => spark.read.parquet(rawDir)
    }

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
    val ingested = ingestedFiles()
    val fresh = (Fs.listDataFiles(spark, landingDir).toSet -- ingested).toSeq.sorted
    if (fresh.nonEmpty) {
      val rows = reader(fresh)
      require(rows.columns.contains("bucket"),
        "harvest reader must emit a string 'bucket' column")
      rows.write.mode(SaveMode.Append).partitionBy("bucket").parquet(rawDir)
      val schema = rows.schema.json
      if (!Fs.readUtf8(spark, rawSchemaFile).contains(schema))
        Fs.writeUtf8(spark, rawSchemaFile, schema)
      // log AFTER the data lands: a crash between the two writes re-reads
      // the file next tick and appends duplicate rows, which the bucket
      // fingerprint then flags as changed — recompute-correct, never lost
      Fs.writeUtf8(spark, ingestLog, (ingested ++ fresh).mkString("\n"))
    }

    val expired = expireBefore.toSeq.flatMap { cut =>
      (Fs.dropPartitions(spark, rawDir, "bucket", cut) ++
        Fs.dropPartitions(spark, derivedDir, "bucket", cut)).distinct.sorted
    }

    if (!Fs.existsNonEmptyData(spark, rawDir)) {
      expireBefore.foreach(materializer.expire)
      return TickReport(fresh, Nil, 0L, expired)
    }

    val raw = readRaw()
    val result = materializer.materialize(raw, transform, derivedDir, stableBefore, expireBefore)
    val raised = notifyRecomputed(spark, derivedDir, transform(raw).schema,
      result.recomputedBuckets, rules, notificationsDir)
    TickReport(fresh, result.recomputedBuckets, raised, expired)
  }
}

object HarvestLoop {
  /** The notify step of both harvest paths: evaluates `rules` over the
    * derived rows of the `recomputed` buckets, read with the transform's
    * output schema `derived` (no inference; only analysed when a bucket
    * was recomputed), and appends the exceedances to the notification
    * store in one pass; returns the rows appended. */
  private[pipeline] def notifyRecomputed(
      spark: SparkSession,
      derivedDir: String,
      derived: => StructType,
      recomputed: Seq[String],
      rules: Seq[Triggers.Rule],
      notificationsDir: String): Long =
    if (recomputed.isEmpty || rules.isEmpty) 0L
    else Triggers.raise(
      spark.read.schema(derived).parquet(derivedDir).where(col("bucket").isin(recomputed: _*)),
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
