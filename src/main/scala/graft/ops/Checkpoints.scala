package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{broadcast, count, lit}

/** The one staging path, and deterministic reclamation of what it stages.
  *
  * Every staged intermediate goes through [[stage]], which is
  * `df.localCheckpoint(true)`: its own execution, which the plan audits
  * record (`graft.tools.PlanScan.executedPlans`). HarnessSpec pins, with a
  * source scan, that no other file under `src/main` calls `localCheckpoint`.
  *
  * A local checkpoint's blocks are reclaimed only when the JVM
  * garbage-collects the RDD (the ContextCleaner hook). Per-round stages in
  * iterative loops, and long many-query runs (the bench, any ETL daemon),
  * turn that into a leak: round 3's bench measured 4.8–9.7× GC/eviction on
  * every dedup query scheduled after the clustering keys, and at 100 TB it
  * kills executors on storage memory. So superseded stages are freed
  * explicitly.
  *
  * The checkpointed RDD sits behind the `LogicalRDD` leaf of the returned
  * frame's analyzed plan (it survives `.drop`/`.select` wrappers); removal
  * is non-blocking. Free only once nothing reads the stage again:
  * downstream plans hold the RDD by reference, and a freed block set
  * recomputes from an EMPTY lineage, so a premature free is an error, not
  * a slowdown.
  */
object Checkpoints {
  /** Frees the checkpoint behind `df`, which must have EXACTLY ONE
    * `LogicalRDD` leaf. A plan that joins/unions several checkpoints is
    * rejected loudly: silently freeing an arbitrary one (the old
    * `collectFirst` behavior) would leak the rest and — because
    * localCheckpoint truncates lineage — turn any premature free into a
    * hard read failure later, not a recompute. Call [[freeAll]] when
    * releasing every checkpoint under a composite plan is what you mean. */
  def free(df: DataFrame): Unit = {
    val leaves = checkpointLeaves(df)
    require(leaves.length == 1,
      s"Checkpoints.free expects exactly one LogicalRDD leaf, found ${leaves.length}; " +
        "use freeAll(df) to release every checkpoint under a composite plan")
    leaves.head.unpersist(blocking = false)
  }

  /** Frees EVERY checkpointed RDD under `df`'s plan — the explicit form
    * for composite plans (joins/unions of checkpoints). Safe only once
    * nothing will read any of them again. */
  def freeAll(df: DataFrame): Unit =
    checkpointLeaves(df).foreach(_.unpersist(blocking = false))

  /** Materialize `result` as its own checkpoint, then free every
    * checkpoint under each `spent` plan — the standard finish for an
    * operator that staged intermediates (band/mask/edge tables) it will
    * never read again. The one surviving block is the result itself,
    * reclaimed by the ContextCleaner once the caller drops it; the
    * intermediates are gone immediately. */
  def finishFreeing(result: DataFrame, spent: DataFrame*): DataFrame = {
    val out = stage(result)
    spent.foreach(freeAll)
    out
  }

  /** Materialize `df` as a `localCheckpoint` (eager: the job runs here)
    * and return the lineage-free frame over its blocks. */
  def stage(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** [[stage]] and the staged row count. The count is an `Observation`
    * on the staging job itself, so it costs no job of its own. */
  def stageCounted(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val staged = stage(df.observe(rows, count(lit(1)).as("n")))
    (staged, rows.get("n").asInstanceOf[Long])
  }

  /** Row count under which [[broadcastGate]] broadcasts a table. */
  val BroadcastNodes = 5000000L

  /** `broadcast(df)` when the table's measured row count is under
    * [[BroadcastNodes]], else `df`. A staged frame keeps the estimated
    * statistics of the plan it was built from, so the planner does
    * broadcast small staged tables by itself; but estimates through joins
    * and aggregates can be far off in either direction, and the gate
    * decides from a measured count instead. */
  def broadcastGate(rows: Long): DataFrame => DataFrame =
    df => if (rows < BroadcastNodes) broadcast(df) else df

  private def checkpointLeaves(df: DataFrame) =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
}
