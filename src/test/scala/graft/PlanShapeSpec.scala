package graft

/** Plan-shape assertions (SURVEY.md §4): the optimizer behaviors we rely on
  * at 100 TB must actually appear in the physical plans — pushdown reaching
  * the parquet scan, broadcast joins for dims, top-k short-circuiting, and
  * the custom vector expression participating in codegen. */
class PlanShapeSpec extends SparkSpec {

  private def planOf(key: String): String =
    SparkEntry.queries(key)(spark, sf0001).queryExecution.executedPlan.toString

  /** The partition-less `WindowExec`s over all of `plans`. */
  private def partitionlessWindows(plans: Seq[(String, org.apache.spark.sql.execution.SparkPlan)]) =
    plans.flatMap(_._2.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    })

  test("filter_pred pushes predicates into the parquet scan") {
    val p = planOf("filter_pred")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in plan:\n$p")
    assert(p.contains("GreaterThan") || p.contains("In(l_returnflag"), p)
  }

  test("scan_parquet prunes columns at the scan") {
    val p = planOf("scan_parquet")
    assert(p.contains("ReadSchema"), p)
    // only the two referenced columns are read, not all 16 lineitem columns
    assert(!p.contains("l_extendedprice"), s"unpruned scan:\n$p")
  }

  test("join_broadcast uses BroadcastHashJoin") {
    val p = planOf("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dims should not shuffle:\n$p")
  }

  test("agg_entity_rollup broadcasts every dimension") {
    val p = planOf("agg_entity_rollup")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("limit_topk plans TakeOrderedAndProject (no global sort)") {
    val p = planOf("limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("agg_groupby is a two-phase hash aggregate") {
    val p = planOf("agg_groupby")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final:\n$p")
  }

  test("llm_cosine_topk uses the native vec_dot expression inside codegen") {
    // AQE wraps the plan so codegen explain sees no subtrees until
    // execution; disable it for this static inspection only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = SparkEntry.queries("llm_cosine_topk")(spark, sf0001).queryExecution
      assert(qe.executedPlan.toString.contains("vec_dot"))
      val codegen = qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      // the generated Java contains the primitive loop, not a call into an
      // interpreted expression
      assert(codegen.contains("getFloat"), "vec_dot did not generate code")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("join_asof is a single shuffle + window, not a pair join") {
    val p = planOf("join_asof")
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("llm_decontaminate joins the eval shingle set by broadcast") {
    // the membership join's build side is the eval-bucket shingle set —
    // eval-sized by construction, so it must broadcast, never shuffle the
    // corpus side
    val p = planOf("llm_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus side must not co-shuffle:\n$p")
  }

  test("llm_pack_batches shuffles once on source (window + agg share the key)") {
    val p = planOf("llm_pack_batches")
    // window partition key (source) and groupBy key (source, batch) — the
    // agg reuses the window's hash partitioning where batch derives from
    // it; what we pin: no more than 2 exchanges incl. the final sort
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(p.contains("Window"), p)
    assert(exchanges <= 3, s"unexpected exchange count $exchanges:\n$p")
  }

  test("win_counter_rate collapses both lags into one Window operator") {
    val p = planOf("win_counter_rate")
    assert("Window\\b".r.findAllIn(p).size <= 2, s"windows not collapsed:\n$p")
  }

  test("llm_domain_mix broadcasts the 1-row totals, never a float-order sum") {
    val p = planOf("llm_domain_mix")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("sql_star_join broadcasts the dims and keeps the fact joins keyed") {
    val p = planOf("sql_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("llm_perplexity's unhinted unigram join is broadcast by AQE at runtime") {
    // the unigram table carries no static stats (it comes off a groupBy),
    // so the static plan can't pick broadcast — AQE must convert the join
    // once the actual build-side size is known. This is the behavior the
    // no-hint design relies on (hinting would force a broadcast even on a
    // web-scale vocabulary).
    val df = SparkEntry.queries("llm_perplexity")(spark, sf0001)
    df.collect() // execute so AQE finalizes the plan
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin"), s"AQE did not broadcast:\n$finalPlan")
    assert(!finalPlan.contains("SortMergeJoin"), s"corpus side shuffled:\n$finalPlan")
  }

  test("win_analytic carries the data through a range-partitioned window, not one task") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("win_analytic")(spark, sf0001)
    // value parity with the straightforward global-window formulation
    val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
    val ref = Tables.customer(spark, sf0001)
      .select(col("c_custkey"),
        ntile(4).over(w).as("nt"),
        round(percent_rank().over(w), 4).as("pr"),
        round(cume_dist().over(w), 4).as("cd"))
      .orderBy("c_custkey")
    assert(df.collect().toSeq == ref.collect().toSeq)
    // the full table flows through a rangepartitioning exchange, and more
    // than one of its partitions actually carries rows (the sort is spread)
    assert(df.queryExecution.executedPlan.toString.contains("rangepartitioning"),
      "no range exchange in the plan")
    val spread = Tables.customer(spark, sf0001).select("c_custkey", "c_acctbal")
      .repartitionByRange(16, col("c_acctbal"), col("c_custkey"))
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").count().count()
    assert(spread > 1, s"all rows landed in $spread partition(s)")
  }

  test("scan_parquet_pruned carries the day predicate as a PartitionFilter") {
    val p = planOf("scan_parquet_pruned")
    assert("PartitionFilters: \\[[^\\]]*d#".r.findFirstIn(p).isDefined,
      s"no partition filter on the day column:\n$p")
    // the pruning predicate must NOT appear as a post-scan data Filter
    assert(p.contains("PartitionFilters"), p)
  }

  test("dim filter dynamically prunes the partitioned fact scan (DPP)") {
    // The 100 TB layout: fact partitioned by day on disk, dim filter
    // selecting few days — DynamicPartitionPruning must reach the fact's
    // PartitionFilters so unselected day directories are never listed.
    val root = tmpDir("dpp_fact")
    import org.apache.spark.sql.functions._
    Tables.events(spark, sf0001)
      .withColumn("d", to_date(col("ts")))
      .repartition(col("d"))
      .write.mode("overwrite").partitionBy("d").parquet(root)
    val fact = spark.read.parquet(root)
    val dim = Tables.events(spark, sf0001)
      .select(to_date(col("ts")).as("dim_d")).distinct()
      .withColumn("tag", (dayofmonth(col("dim_d")) <= 3).cast("int"))
    val q = fact.join(dim.where(col("tag") === 1), col("d") === col("dim_d"))
      .groupBy("d").agg(count(lit(1)).as("n"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), s"no DPP filter on the fact scan:\n$p")
  }

  test("agg_ohlc window and groupBy share one hash exchange") {
    // both windows and the aggregate key on (user_id, h): the aggregate
    // must reuse the window's partitioning, not re-shuffle
    val p = planOf("agg_ohlc")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx:\n$p")
  }

  test("join_asof_tolerance stays a window plan — no pair join anywhere") {
    val p = planOf("join_asof_tolerance")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"asof tolerance must not plan a join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("join_scd2_pit is the single-shuffle asof shape — no interval/BNL join") {
    val p = planOf("join_scd2_pit")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"PIT read must not plan the BETWEEN interval join:\n$p")
  }

  test("withGlobalRank shuffles the data exactly once and reuses it for counts") {
    import org.apache.spark.sql.functions._
    val df = graft.ops.Rank.withGlobalRank(
      Tables.customer(spark, sf0001).select("c_custkey", "c_acctbal"),
      Seq(col("c_acctbal"), col("c_custkey")), "g", "n")
    df.collect() // AQE final plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the INVARIANT rank correctness rests on: range boundaries are sampled
    // per physical exchange, so the counts side must read the SAME exchange
    // as the data side — one rangepartitioning, reused, or offsets could
    // silently disagree with the data's partition ids
    // ReusedExchange's toString repeats the referenced node's text, so
    // count actual tree nodes ("+- Exchange"), not substring occurrences
    assert("\\+- Exchange rangepartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one range exchange:\n$p")
    assert(p.contains("ReusedExchange"), s"counts side did not reuse the range exchange:\n$p")
    // the mid-arithmetic local rank must not regress to a data-sized
    // window (that shape forces a second full-data hash exchange on pid)
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"expected only the tiny offsets window, data-side window crept back:\n$p")
  }

  test("withGlobalCumSum counts side reuses the single range exchange") {
    import org.apache.spark.sql.functions._
    val df = graft.ops.Rank.withGlobalCumSum(
      Tables.customer(spark, sf0001).select("c_custkey", "c_acctbal")
        .withColumn("v", lit(1L)),
      Seq(col("c_acctbal"), col("c_custkey")), "v", "cum", "g", "n")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("\\+- Exchange rangepartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one range exchange:\n$p")
    assert(p.contains("ReusedExchange"), s"stats side did not reuse the range exchange:\n$p")
  }

  test("agg_rfm plans range partitioning (ops.Rank), never a partition-less data window") {
    val p = planOf("agg_rfm")
    assert(p.contains("rangepartitioning"), s"expected Rank's range exchange:\n$p")
    // the only partition-less windows allowed are over the tiny per-partition
    // offset tables, which sit above an aggregate on __pid
    assert(p.contains("__pid"), p)
  }

  test("llm_bloom_decontaminate probes a literal bloom filter map-side") {
    val p = planOf("llm_bloom_decontaminate")
    assert(p.contains("might_contain"), s"bloom probe missing:\n$p")
    // the probe must appear as a Filter over the scan side, not after a join
    val probeIdx = p.indexOf("might_contain")
    val joinIdx = p.indexOf("SortMergeJoin") max p.indexOf("BroadcastHashJoin")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"probe should sit below the verify join in the plan string:\n$p")
  }

  test("partition-less windows occur only on allowlisted bounded-input keys") {
    // A WindowExec with no partition spec moves ALL data to one task — fatal
    // at 100 TB over data-sized input, but legitimate over inputs that are
    // bounded by construction (per-partition summary rows, calendar-grain
    // tables, vocabulary tables). This pins exactly which keys are allowed
    // one, so a future key can't silently plan a global window over data —
    // and turns the bench log's WindowExec warning spray into a guard.
    // Rationale per allowlisted key (the window's INPUT, not the key, must
    // be bounded):
    //   - ops.Rank __pid offsets window (one row per physical partition —
    //     numPartitions-sized metadata): agg_rfm, llm_vocab_coverage,
    //     llm_zipf_slope, win_analytic (the spec above additionally pins
    //     that this is the ONLY window in win_analytic's plan),
    //     llm_shard_plan (Rank at corpus grain — the data itself takes
    //     the RANGE exchange + per-partition local window; only the
    //     offsets table is partition-less)
    //   - Dedup.assignTokenIds vocabulary window (one row per DISTINCT
    //     token, gated at 10M with the documented RDD zipWithIndex route
    //     past it — Dedup.scala LargeVocab): llm_dedup_incremental,
    //     llm_dedup_lsh_verified, llm_dedup_near, llm_lsh_recall
    //     (whose truth side IS jaccardBitmask — same vocabulary window),
    //     and llm_decontaminate_fuzzy (r12: its candidate verify now
    //     rides Dedup.tokenMasks — same vocabulary window, same gate)
    //   - agg_survival_km duration-grain risk window (one row per distinct
    //     duration — bounded by observation-window days, never corpus size)
    //   - graph_degree_dist CCDF window (one row per distinct degree value
    //     in the degree histogram — summary-sized, never node-sized)
    //   - agg_pareto / agg_lorenz / llm_sample_systematic:
    //     ops.Rank.withGlobalCumSum's __pid offsets window — the same
    //     numPartitions-sized metadata window as the agg_rfm family; the
    //     customer/doc data itself takes the range exchange
    //   - llm_curriculum stage-cut windows (cumulative count + total over
    //     one row per DISTINCT difficulty value — summary-sized, the
    //     graph_degree_dist situation; the corpus itself only sees the
    //     broadcast stage join and the (stage, shard)-partitioned rank)
    //   - llm_rank_fusion shortlist-rank windows (input = each system's
    //     TakeOrdered top-100 — bounded by the limit, never corpus-sized)
    //   - llm_rank_ndcg rank + cumulative-DCG windows (input = the
    //     TakeOrdered top-10 shortlist — the llm_rank_fusion rationale)
    //   - llm_dedup_clusters / llm_dedup_soft / llm_dedup_survivors: the
    //     Dedup.assignTokenIds vocabulary window of llm_dedup_near's entry
    //     (one row per DISTINCT token, same 10M gate), run inside the
    //     pointer jump's staged pair table
    //   - llm_elo_online: the ops.Rank __pid offsets window (numPartitions
    //     rows) of its staged source index
    //   - win_seasonal_decompose 7-day trend window (input = the day-grain
    //     rollup, one row per calendar day — bounded by the observation
    //     window, the agg_survival_km argument), run inside its stage
    val allow = Set(
      "agg_rfm", "llm_vocab_coverage", "llm_zipf_slope", "win_analytic",
      "llm_shard_plan",
      "llm_dedup_incremental", "llm_dedup_lsh_verified", "llm_dedup_near",
      "llm_lsh_recall", "llm_decontaminate_fuzzy",
      "agg_survival_km", "graph_degree_dist", "agg_pareto", "agg_lorenz",
      "llm_sample_systematic", "llm_curriculum",
      "llm_rank_fusion", "llm_rank_ndcg",
      "llm_dedup_clusters", "llm_dedup_soft", "llm_dedup_survivors",
      "llm_elo_online", "win_seasonal_decompose")
    // Each key is judged on every plan it executed (its stages and driver
    // reads too, not only the frame it returns): PlanScan.executedPlans.
    val offenders = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.keys.toSeq.sorted.filterNot(graft.tools.PlanScan.skipKeys).foreach { name =>
      val unpartitioned =
        partitionlessWindows(graft.tools.PlanScan.executedPlans(spark, name, sf0001))
      if (unpartitioned.nonEmpty && !allow.contains(name))
        offenders += s"$name runs ${unpartitioned.size} partition-less window(s)"
      if (unpartitioned.isEmpty && allow.contains(name))
        offenders += s"$name is allowlisted but runs none — tighten the list"
    }
    assert(offenders.isEmpty,
      s"partition-less WindowExec drift:\n  ${offenders.mkString("\n  ")}")
  }

  test("the window guard sees a partition-less window run inside a stage") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val plans = graft.tools.PlanScan.executedPlans(spark) {
      val numbered = graft.ops.Checkpoints.stage(spark.range(100).toDF("id")
        .withColumn("g", row_number().over(Window.orderBy("id"))))
      numbered.select((col("g") * 2).as("g2"))
    }
    assert(plans.map(_._1) == Seq("localCheckpoint", "foreach"), plans.map(_._1))
    // the returned frame alone reads the staged blocks, no window
    assert(partitionlessWindows(plans.takeRight(1)).isEmpty, plans.last._2)
    assert(partitionlessWindows(plans).size == 1, plans.head._2)
  }

  test("agg_count_min reduces to one sketch per map task before the exchange") {
    val p = planOf("agg_count_min")
    // the typed Aggregator must plan as partial + final object-hash
    // aggregation: every map task folds its slice into ONE d×w counter
    // matrix, so the exchange carries a constant-size sketch per task —
    // never data rows. A single-phase plan would ship raw items.
    val phases = "ObjectHashAggregate".r.findAllIn(p).size
    assert(phases >= 2, s"expected partial+final sketch aggregation:\n$p")
    // the readout joins the one-row sketch by broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), s"sketch not broadcast:\n$p")
  }

  test("agg_kmv_distinct and agg_kmv_merge plan partial+final sketch aggregation") {
    // same contract as agg_count_min: the bottom-k Aggregators must plan
    // as partial + final object-hash aggregation so every map task ships
    // ≤k longs per group — never raw items. agg_kmv_merge runs TWO
    // levels (daily sketch, then weekly merge), both partial+final.
    val p1 = planOf("agg_kmv_distinct")
    assert("ObjectHashAggregate".r.findAllIn(p1).size >= 2,
      s"kmv_distinct: expected partial+final sketch aggregation:\n$p1")
    val p2 = planOf("agg_kmv_merge")
    assert("ObjectHashAggregate".r.findAllIn(p2).size >= 4,
      s"kmv_merge: expected two partial+final sketch levels:\n$p2")
  }

  test("llm_cdc_chunks keeps the boundary scan inside the scan stage (no position explode)") {
    // the per-position boundary scan must run INSIDE one expression over
    // the text — a plan that exploded raw positions before filtering
    // would materialize one row per corpus character. r12: the scan is
    // the codegen cdc_cuts kernel (replacing the interpreted HOF
    // filter(sequence(...)) chain); only the sparse CUT positions are
    // ever exploded into rows.
    val p = planOf("llm_cdc_chunks")
    assert(p.contains("cdc_cuts("),
      s"boundary scan not inside the codegen cdc_cuts kernel:\n$p")
    assert(!p.contains("filter(sequence"),
      s"interpreted per-position HOF chain resurfaced:\n$p")
  }

  test("join_interval_binned replaces the nested-loop range join with an equi-join") {
    val p = planOf("join_interval_binned")
    // the whole point: the keyless range join must NOT plan as a
    // nested-loop scan of windows x events
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to nested loop:\n$p")
    // the day bin is the equi-key (either shuffled or broadcast hash join)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join on the bin key:\n$p")
  }

  test("agg_dq_checks fuses the row-level rules into one pass over events") {
    val p = planOf("agg_dq_checks")
    // one aggregate computes both the null and range measures (the stack
    // keeps Catalyst from pruning the shared sub-plan into two scans):
    // both conditional sums appear in a single HashAggregate line
    assert("HashAggregate[^\\n]*isnull\\(value[^\\n]*sum".r.findFirstIn(p).isDefined,
      s"row rules must share one aggregate:\n$p")
  }
}
