package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.materialize.Materializer
import graft.store.Triggers

/** The push variant of [[HarvestLoop]]: the same
  * harvest → materialize → notify cycle driven by a Structured Streaming
  * file source instead of a polled directory listing. Each micro-batch is
  * one daemon tick; [[runOnce]] drains everything currently in the landing
  * dir (`Trigger.AvailableNow`) and returns per-batch reports, so a
  * scheduler can call it exactly like `HarvestLoop.tick` — or the same
  * query can be started unbounded for a true long-running daemon.
  *
  * Exactly-once, strictly stronger than the batch loop's:
  *  - **File tracking** lives in the streaming checkpoint (the file
  *    source's commit log) — the engine-managed equivalent of the batch
  *    loop's ingest-log control file. A file is never offered twice after
  *    its epoch commits.
  *  - **Raw-store idempotence** closes the crash window the batch loop
  *    documents (re-ingest appending duplicate rows): every batch writes
  *    its rows under `ingest_batch=<epoch id>` partitions with dynamic
  *    overwrite, so a micro-batch replayed after a crash OVERWRITES its
  *    own previous (possibly partial) output instead of appending next to
  *    it. Replay converges to identical store contents — no duplicate
  *    rows, no fingerprint churn.
  *  - Materialization and notification are the batch loop's own
  *    fingerprint-gated machinery, shared via [[Materializer]] /
  *    [[Triggers]]: only buckets whose raw rows changed recompute, and
  *    notifications append per recomputed bucket.
  *
  * Scale stance matches [[HarvestLoop]]: driver state per tick is batch
  * ids and bucket keys (operational cardinality); row data moves only
  * through partitioned writes and fingerprint aggregations.
  *
  * Contracts: `prepare` must emit a string `bucket` column; `transform`
  * must preserve it; with non-empty `rules` the transform output must
  * carry `entity_id` and `ts` (see [[Triggers.evaluate]]).
  */
final class HarvestStream(
    spark: SparkSession,
    landingDir: String,
    workDir: String,
    schema: StructType,
    format: String,
    prepare: DataFrame => DataFrame,
    transform: DataFrame => DataFrame,
    rules: Seq[Triggers.Rule]) {

  import HarvestLoop.TickReport

  private val rawDir = s"$workDir/raw"
  private val stateFile = s"$workDir/state"
  val derivedDir = s"$workDir/derived"
  val notificationsDir = s"$workDir/notifications"

  /** Drain everything currently in the landing dir and return one report
    * per micro-batch processed (empty when nothing new landed). Restarts
    * resume from the checkpoint: already-committed files are never
    * re-offered. */
  def runOnce(): Seq[TickReport] = {
    val reports = ArrayBuffer.empty[TickReport]
    val src = spark.readStream.schema(schema).format(format).load(landingDir)
    val q = prepare(src).writeStream
      .option("checkpointLocation", s"$workDir/checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        reports.synchronized { reports += ingestTick(batch.toDF(), id) }
        ()
      }
      .start()
    q.awaitTermination()
    reports.toSeq
  }

  /** One daemon tick for one micro-batch — package-visible so the replay
    * guarantee is directly testable. Idempotent in `id`: re-running a
    * (batch, id) pair overwrites its own raw partitions and the
    * fingerprint gate then sees unchanged buckets. */
  private[graft] def ingestTick(batch: DataFrame, id: Long): TickReport = {
    require(batch.columns.contains("bucket"),
      "prepare must emit a string 'bucket' column")
    if (!batch.isEmpty) {
      batch.withColumn("ingest_batch", lit(id))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch", "bucket")
        .parquet(rawDir)
    }
    if (!graft.Fs.existsNonEmptyData(spark, rawDir))
      return TickReport(Nil, Nil, 0L)

    val raw = spark.read.option("basePath", rawDir).parquet(rawDir)
      .drop("ingest_batch")
    val result = new Materializer(spark, stateFile)
      .materialize(raw, transform, derivedDir, None)
    val raised = HarvestLoop.notifyRecomputed(spark, derivedDir, transform(raw).schema,
      result.recomputedBuckets, rules, notificationsDir)
    TickReport(Nil, result.recomputedBuckets, raised)
  }
}
