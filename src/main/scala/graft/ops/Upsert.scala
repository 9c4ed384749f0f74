package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Last-writer-wins merge — the reference's ingest upsert (bulk COPY with
  * fallback to UPDATE on key conflict) re-expressed as one declarative
  * plan: union both sides with a priority column, keep the top row per key.
  *
  * Shuffle shape: exactly one exchange, on the merge key (the window's
  * partition key). No pair join, so a batch touching every base key costs
  * the same as one touching none. At 100 TB the same plan holds: the
  * shuffle carries base+batch once, and AQE splits skewed key partitions.
  * For continuously-arriving batches, pair this with
  * `TrendStore.upsert`, which scopes the rewrite to the day partitions the
  * batch actually touches instead of rewriting the store.
  */
object Upsert {

  /** Merge `batch` into `base` on `keys`: batch rows replace base rows with
    * the same key; unmatched batch rows are inserts; base rows otherwise
    * survive. Both inputs must contain at most one row per key (the
    * trend-store contract); the result then has exactly one row per key.
    */
  def lastWriterWins(base: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame = {
    val pri = "__graft_upsert_pri"
    val rn = "__graft_upsert_rn"
    val unioned = base.withColumn(pri, lit(0))
      .unionByName(batch.withColumn(pri, lit(1)))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(pri).desc)
    unioned.withColumn(rn, row_number().over(w))
      .where(col(rn) === 1)
      .drop(rn, pri)
  }

  /** The read-merge-overwrite tail of the day-partitioned stores
    * (`TrendStore.upsert`, `Triggers.upsert`): [[lastWriterWins]] of
    * `batch` into `base` (the store's rows for the days `batch` touches),
    * then a dynamic overwrite of just those `d` partitions of `dir`.
    *
    * The merge is not staged: the dynamic overwrite runs it once, writes
    * to a staging directory and replaces the partitions only at commit,
    * so reading the partitions it overwrites is safe (StoreSpec pins the
    * stored rows). */
  def overwriteDays(base: DataFrame, batch: DataFrame, keys: Seq[String],
                    dir: String): Unit =
    lastWriterWins(base, batch, keys).write.mode(SaveMode.Overwrite)
      // writer-local, NOT session conf: other writers on this session must
      // keep their own overwrite semantics
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("d").parquet(dir)
}
