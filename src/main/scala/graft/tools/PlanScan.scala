package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.Checkpoints

/** Plan auditor: prints, for every declared query, the physical-plan
  * features that matter at 100 TB — shuffle (Exchange) count, join
  * strategies, pushed filters, and scale red flags (CartesianProduct,
  * unpruned scans). Run with `sbt "runMain graft.tools.PlanScan [sfDir]"`.
  *
  * Streaming keys are skipped: their plans are per-micro-batch
  * (IncrementalExecution) and are asserted in StreamingSpec instead. */
object PlanScan {
  /** Keys whose batch plan is not meaningful to audit: every streaming key
    * (derived from Streams.queries so the set cannot drift as keys are
    * added — the r4 VERDICT caught four drained-by-accident strays), plus
    * side-effecting scans/sinks whose cost is the layout write, asserted
    * in their own specs instead, plus the graph keys with no auditable
    * lazy plan: `graph_cc` and `graph_kcore` run fixpoint loops
    * (pointer-jump rounds / peel with early exit) whose round count
    * depends on the data, so [[graft.ops.Iterate.untilFixpoint]] refuses
    * to run under [[graft.ops.Checkpoints.auditLazily]]; `graph_bfs_levels`,
    * `graph_closeness` and `graph_betweenness` read their per-round table
    * twice per round, so the lazy 8-round unroll doubles the plan per
    * round (2^8 subtrees). Their per-round join shapes are covered by
    * GraphSpec/DedupSpec. Every other graph key IS audited — see
    * [[auditOverrides]]. */
  val skipKeys: Set[String] =
    graft.streaming.Streams.queries.keySet ++ Set(
      "scan_csv_typed", "scan_csv_malformed", "scan_jsonl", "scan_xml_typed",
      "sink_partitioned", "join_bucketed", "scan_binary", "graph_cc",
      "graph_bfs_levels", "graph_kcore", "graph_closeness",
      "graph_betweenness", // eager 16-round BFS+Brandes loop (closeness)
      "geo_dbscan_label") // pointer-jump loop executes eagerly (graph_cc)

  /** How the audits read a key whose registry route executes eagerly
    * (checkpoint hygiene) and would otherwise show only a LogicalRDD scan:
    * every non-skipped graph key plus the two staged dedup keys
    * (`llm_dedup_lsh_verified`, `llm_dedup_minhash`) run their own
    * registry route inside [[graft.ops.Checkpoints.auditLazily]], where
    * staging and the per-round loops compose the plan instead of
    * executing it — the audited plan is the shipped plan by construction.
    * Not every key: lazily unrolled loop keys explode (`llm_hnsw_search`
    * 0 → 2559 exchanges). Shared by this audit, PlanDump and PlanShapeSpec
    * so they can't disagree about which plan a key is judged on. */
  def auditOverrides: Map[String, (SparkSession, String) => DataFrame] =
    (graft.queries.Graph.queries.keySet -- skipKeys +
      "llm_dedup_lsh_verified" + "llm_dedup_minhash").map { k =>
      val q = SparkEntry.queries(k)
      k -> ((s: SparkSession, d: String) => Checkpoints.auditLazily(q(s, d)))
    }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val skip = PlanScan.skipKeys
    var flags = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn0) =>
      if (!skip.contains(name)) {
        // eager routes are audited through their lazy plan, not a
        // vacuous LogicalRDD scan
        val fn = auditOverrides.getOrElse(name, fn0)
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).size
        val cartesian = n("CartesianProduct")
        val bnl = n("BroadcastNestedLoopJoin")
        // BNL is intentional only for the bounded pairwise similarity ops
        // (llm_ prefix) and the keys whose BNL build side is a broadcast
        // ONE-ROW aggregate (the scalar-reference idiom — Catalyst folds a
        // constant-key equi-join back to a cross join, so this shape
        // cannot be expressed as a hash join)
        val scalarBnlOk = Set("agg_decay_score", "win_seasonal_decompose",
          "agg_count_min") // one-row sketch broadcast readout
        val marks = Seq(
          if (cartesian > 0) s"CARTESIAN=$cartesian" else "",
          if (bnl > 0 && !name.startsWith("llm_") && !scalarBnlOk.contains(name))
            s"BNL=$bnl" else "",
          // Pushdown is only checkable where a file scan exists: parquet
          // FileScans always print a PushedFilters list (even when empty),
          // so a plan with Filters but no PushedFilters string is a
          // checkpointed-RDD plan whose filters are post-aggregation
          // (degree caps, trend non-null) with no scan to push into —
          // not a pushdown failure.
          if (plan.contains("FileScan") && !plan.contains("PushedFilters") &&
            plan.contains("Filter")) "NO_PUSHDOWN" else ""
        ).filter(_.nonEmpty)
        if (marks.nonEmpty) flags += 1
        println(f"[plan] $name%-22s exchanges=${n("Exchange")}%-2d bhj=${n("BroadcastHashJoin")}%-2d " +
          f"smj=${n("SortMergeJoin")}%-2d shj=${n("ShuffledHashJoin")}%-2d " +
          f"win=${n("Window")}%-2d ${marks.mkString(" ")}")
      }
    }
    println(s"[plan] red-flagged queries: $flags")
    spark.stop()
  }
}
