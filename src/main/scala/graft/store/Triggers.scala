package graft.store

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

/** Trigger rules and the notification store: threshold rules evaluated
  * over KPI data per granularity period; exceedances become append-only
  * notification records — the reference's trigger/notification machinery.
  */
object Triggers {

  /** A threshold rule over one KPI column. `predicate` receives the KPI
    * column and returns the exceedance condition. */
  final case class Rule(name: String, kpi: String, severity: String)(
      val predicate: Column => Column)

  /** Evaluate rules over a KPI DataFrame (entity_id, ts, kpi columns...).
    * Each rule contributes its exceedance rows; the result is the
    * notification shape (entity_id, ts, rule, severity, kpi, value).
    * Pure narrow filters — no shuffle beyond the union. */
  def evaluate(kpis: DataFrame, rules: Seq[Rule]): DataFrame =
    rules.map { r =>
      kpis.where(r.predicate(col(r.kpi)))
        .select(col("entity_id"), col("ts"),
          lit(r.name).as("rule"), lit(r.severity).as("severity"),
          lit(r.kpi).as("kpi"), col(r.kpi).cast("double").as("value"))
    }.reduce(_ unionByName _)

  /** Idempotent notification sink for STREAMING evaluation: last-writer-
    * wins upsert on (entity_id, ts, rule) into the day-partitioned store —
    * the same discipline as `TrendStore.upsert`, and the property that
    * makes a `foreachBatch` trigger sink effectively exactly-once: a
    * micro-batch replayed after a crash converges to identical store
    * contents instead of appending a duplicate alarm row, and a KPI
    * re-emitted by a later micro-batch (Update-mode refinement of a
    * still-open window) REFRESHES the stored value under the same alarm
    * key rather than raising a second alarm. Only the days present in the
    * batch rewrite (dynamic partition overwrite); everything else is
    * untouched, so the scan cost tracks batch size, not store history. */
  def upsert(notifications: DataFrame,
             spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val batchD = notifications
      .withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
    if (!graft.Fs.existsNonEmptyData(spark, dir)) {
      batchD.write.mode(SaveMode.Append).partitionBy("d").parquet(dir)
      return
    }
    val days = batchD.select("d").distinct().collect().map(_.getString(0)).toSeq
    // Partition-column inference types a '2024-01-01' directory value as
    // DateType while batchD's derived d is StringType; pin string right at
    // the read so the upsert's unionByName never leans on implicit
    // date→string coercion (fragile under ANSI/coercion-setting changes,
    // and it would flip the store's d type between branches).
    val base = spark.read.parquet(dir)
      .withColumn("d", col("d").cast("string"))
      .where(col("d").isin(days: _*))
      .select(batchD.columns.map(col): _*)
    graft.ops.Upsert.overwriteDays(base, batchD, Seq("entity_id", "ts", "rule"), dir)
  }

  /** Append notifications to the store (append-only, day-partitioned). */
  def store(notifications: DataFrame, dir: String): Unit =
    notifications
      .withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode(SaveMode.Append).partitionBy("d").parquet(dir)

  /** Evaluate `rules` over `kpis` and append the exceedances to the store
    * at `dir`, evaluating the rules once; returns the rows appended. The
    * count is observed on the write itself, and a write of no rows adds no
    * data file. */
  def raise(kpis: DataFrame, rules: Seq[Rule], dir: String): Long = {
    val written = Observation()
    store(evaluate(kpis, rules).observe(written, count(lit(1)).as("n")), dir)
    written.get("n").asInstanceOf[Long]
  }

  /** Cooldown suppression — the daemon's alarm-flood guard: a
    * (entity, rule) pair raises at most once per `cooldown`. A fresh
    * exceedance is dropped unless it is strictly more than `cooldown`
    * after the pair's LAST stored notification — which also silences the
    * re-raises a late-data recompute produces for already-alarmed
    * periods. The prior-notification side is pruned BEFORE its shuffle:
    * the per-pair `max(ts)` aggregate reduces the store to
    * (entity, rule) cardinality — operational, not data, volume — and
    * the anti-join is a broadcast-friendly equi-join on the pair plus
    * one timestamp compare. A missing/empty store suppresses nothing.
    *
    * The store read is day-pruned before anything else: only priors newer
    * than `min(fresh ts) − cooldown` can suppress (any prior at or after a
    * fresh ts suppresses it trivially; older ones must be within the
    * window), so the `d` partition filter bounds the scan by the cooldown
    * horizon, not by years of notification history. The one driver-side
    * value is that min timestamp — a 1-row aggregate over the fresh
    * exceedances. */
  def evaluateWithCooldown(
      kpis: DataFrame,
      rules: Seq[Rule],
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      cooldown: String): DataFrame = {
    val fresh = evaluate(kpis, rules)
    if (!graft.Fs.existsNonEmptyData(spark, dir)) return fresh
    val minDay = fresh
      .select(date_format(
        min(col("ts")) - expr(s"INTERVAL $cooldown") - expr("INTERVAL 1 DAY"),
        "yyyy-MM-dd"))
      .head().getString(0)
    if (minDay == null) return fresh // no fresh exceedances at all
    val prior = spark.read.parquet(dir)
      .where(col("d") >= minDay)
      .groupBy(col("entity_id").as("p_entity"), col("rule").as("p_rule"))
      .agg(max(col("ts")).as("p_ts"))
    fresh.join(prior,
        col("entity_id") === col("p_entity") && col("rule") === col("p_rule")
          && col("ts") <= col("p_ts") + expr(s"INTERVAL $cooldown"),
        "left_anti")
  }
}
