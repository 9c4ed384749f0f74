package graft.ops

import org.apache.spark.sql.DataFrame

/** Deterministic reclamation of `localCheckpoint` storage.
  *
  * `df.localCheckpoint(true)` persists the materialized RDD in the block
  * manager; the blocks are reclaimed only when the JVM garbage-collects the
  * RDD reference (the ContextCleaner hook). Two shapes turn that lazy
  * reclamation into a real leak:
  *
  *  - iterative algorithms that checkpoint per round (connected-components
  *    label propagation) — dozens of dead label tables pin storage memory
  *    for the whole loop;
  *  - long sequential runs of many queries in one JVM (the driver's bench
  *    shape, or any ETL daemon) — blocks from query N tax queries N+1…
  *    with GC pressure and cache eviction until a full GC happens to run.
  *
  * Round-3's driver bench measured the damage: every dedup-family query
  * scheduled after the clustering keys paid 4.8–9.7× in GC/eviction. At
  * 100 TB the same pattern kills executors on storage memory outright, so
  * freeing superseded checkpoints is a scale requirement.
  *
  * The checkpointed RDD sits behind the `LogicalRDD` leaf of the returned
  * DataFrame's analyzed plan (it survives `.drop`/`.select` wrappers);
  * non-blocking removal keeps callers off the block-manager round-trip.
  * Only call this once nothing will read the checkpoint again — downstream
  * plans hold the RDD by reference, and a freed block set recomputes from
  * an EMPTY lineage (localCheckpoint truncates it), so a premature free is
  * an error, not a slowdown.
  */
object Checkpoints {
  /** Frees the checkpoint behind `df`, which must have EXACTLY ONE
    * `LogicalRDD` leaf. A plan that joins/unions several checkpoints is
    * rejected loudly: silently freeing an arbitrary one (the old
    * `collectFirst` behavior) would leak the rest and — because
    * localCheckpoint truncates lineage — turn any premature free into a
    * hard read failure later, not a recompute. Call [[freeAll]] when
    * releasing every checkpoint under a composite plan is what you mean. */
  def free(df: DataFrame): Unit = if (!auditing) {
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
    if (!auditing) checkpointLeaves(df).foreach(_.unpersist(blocking = false))

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
    * and return the lineage-free frame over its blocks. Inside
    * [[auditLazily]] it returns `df` unexecuted instead. */
  def stage(df: DataFrame): DataFrame =
    if (auditing) df else df.localCheckpoint(true)

  /** Runs `body` with staging turned into plan composition: [[stage]]
    * returns its input lazily, [[free]]/[[freeAll]] do nothing, and
    * [[Iterate.untilFixpoint]] fails (its round count depends on the
    * data). An operator that stages only through this object therefore
    * returns, from its own registry route, the whole lazy plan it would
    * have executed — which is how the plan audits (graft.tools.PlanScan,
    * PlanDump, PlanShapeSpec) inspect keys whose route executes eagerly.
    * Only scalar driver reads (counts, argmaxes) still run. Scoped to the
    * calling thread and the threads it starts. */
  def auditLazily[A](body: => A): A = lazyAudit.withValue(true)(body)

  /** True inside [[auditLazily]]. */
  private[ops] def auditing: Boolean = lazyAudit.value

  private val lazyAudit = new scala.util.DynamicVariable[Boolean](false)

  private def checkpointLeaves(df: DataFrame) =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
}
