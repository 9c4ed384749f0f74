package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Trend store: the reference's core time-series relation — a wide table
  * keyed (entity_id, timestamp) with one column per counter, split by
  * granularity and time-partitioned.
  *
  * Spark mapping: one parquet dataset per (store, granularity), directory-
  * partitioned by day (`d=yyyy-MM-dd`). Partition pruning on `d` replaces
  * the reference's PostgreSQL time-partition elimination; the declared
  * schema is asserted on read (never inferred — at 100 TB inference is an
  * extra full pass and a correctness hazard).
  */
final class TrendStore(
    spark: SparkSession,
    rootDir: String,
    val counters: Seq[String]) {

  private val keyCols = Seq("entity_id", "ts")

  def dir(granularity: String): String = s"$rootDir/granularity=$granularity"

  /** Append a data package (rows of entity_id, ts, counters...) at a
    * granularity. The write shuffles nothing: rows land in day partitions
    * written by whatever partitioning the source already has. */
  def write(df: DataFrame, granularity: String): Unit = {
    val missing = (keyCols ++ counters).filterNot(df.columns.contains)
    require(missing.isEmpty, s"data package missing columns: ${missing.mkString(",")}")
    df.select((keyCols ++ counters).map(col): _*)
      .withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode(SaveMode.Append).partitionBy("d").parquet(dir(granularity))
  }

  /** Upsert a data package: batch rows replace stored rows with the same
    * (entity_id, ts) key, new keys append — the reference's COPY-with-
    * fallback-to-UPDATE ingest path. The rewrite is scoped to the day
    * partitions the batch touches (dynamic partition overwrite), so cost
    * tracks batch days, not store size: at 100 TB a late one-day batch
    * rewrites one day. The affected-day list is batch-sized (collected to
    * drive static partition pruning of the base read), and the merge and
    * rewrite are [[graft.ops.Upsert.overwriteDays]].
    */
  def upsert(batch: DataFrame, granularity: String): Unit = {
    val missing = (keyCols ++ counters).filterNot(batch.columns.contains)
    require(missing.isEmpty, s"data package missing columns: ${missing.mkString(",")}")
    // existence must be answered by the store's OWN filesystem (HDFS/S3 in
    // a real deployment) — a driver-local java.nio check would silently
    // report "empty" there and turn the merge into a duplicating append
    if (!graft.Fs.exists(spark, dir(granularity))) {
      // nothing stored yet — the upsert degenerates to the append path
      write(batch, granularity)
      return
    }
    val batchD = batch.select((keyCols ++ counters).map(col): _*)
      .withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
    val days = batchD.select("d").distinct().collect().map(_.getString(0)).toSeq
    val base = read(granularity).where(col("d").isin(days: _*))
      .select(batchD.columns.map(col): _*)
    graft.ops.Upsert.overwriteDays(base, batchD, keyCols, dir(granularity))
  }

  /** Read one granularity, asserting the declared columns exist. Filters on
    * `d` (or on `ts` through the `d` column) prune partitions at planning
    * time. */
  def read(granularity: String): DataFrame = {
    val df = spark.read.parquet(dir(granularity))
    val missing = (keyCols ++ counters).filterNot(df.columns.contains)
    require(missing.isEmpty, s"trend store corrupt, missing: ${missing.mkString(",")}")
    df
  }

  /** Re-aggregate counters to a coarser granularity (the reference's
    * time aggregation): sums per counter plus a `samples` count. One
    * shuffle on (entity, coarse bucket); partial aggregation map-side. */
  def aggregateTime(df: DataFrame, truncUnit: String): DataFrame = {
    val aggs = counters.map(c => sum(col(c)).as(c)) :+ count(lit(1)).as("samples")
    df.groupBy(col("entity_id"), date_trunc(truncUnit, col("ts")).as("ts"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Granularity-catalog variant, guarding the reference's valid rollup
    * edges (e.g. hours never roll into weeks through months). */
  def aggregateTime(df: DataFrame, from: Granularity, to: Granularity): DataFrame = {
    require(Granularity.canRollupTo(from, to),
      s"cannot re-aggregate ${from.name} -> ${to.name}")
    val aggs = counters.map(c => sum(col(c)).as(c)) :+ count(lit(1)).as("samples")
    df.groupBy(col("entity_id"), to.bucket(col("ts")).as("ts"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Retention expiry — the reference's per-granularity data-retention
    * job re-expressed as a pure partition drop: day directories whose
    * `d` key is strictly before `cutoff` (yyyy-MM-dd; lexicographic =
    * chronological for this format) are deleted through the store's own
    * FileSystem (HDFS/S3-safe, like [[upsert]]'s existence check), with
    * no scan and no data movement. Cost is a directory listing at
    * operational cardinality (days in the store) — expiring a year from
    * a 100 TB store is a few hundred metadata ops. Returns the dropped
    * day keys sorted, the daemon's audit record. */
  def expire(granularity: String, cutoff: String): Seq[String] = {
    require(cutoff.matches("\\d{4}-\\d{2}-\\d{2}"), s"cutoff not yyyy-MM-dd: $cutoff")
    graft.Fs.dropPartitions(spark, dir(granularity), "d", cutoff)
  }

  /** Roll counters up an entity relation (source_id -> target_id), i.e.
    * cell -> site aggregation. The relation is dimension-sized: broadcast. */
  def aggregateEntity(df: DataFrame, relation: DataFrame): DataFrame = {
    val aggs = counters.map(c => sum(col(c)).as(c)) :+ count(lit(1)).as("samples")
    df.join(broadcast(relation), col("entity_id") === col("source_id"))
      .groupBy(col("target_id").as("entity_id"), col("ts"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
