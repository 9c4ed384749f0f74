package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions (SURVEY.md §2 section E). Every window's ORDER BY ends
  * with a unique key so frame contents are deterministic across engines;
  * doubles that leave the query are rounded to 4 decimals — except columns
  * derived from exact integers by a single final divide (win_busy_hour's
  * `traffic` = DECIMAL(38,0) µ-units / 1e6): one IEEE divide of the same
  * exact integer is bit-identical in both engines, so rounding would only
  * discard resolution.
  *
  * At scale each of these is a single shuffle on the partition key followed
  * by an in-partition sort — no driver-side work.
  */
object Wins {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // E1 — ranked top-3 orders per customer.
    "win_topn_group" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("rnk"), col("drnk"),
          round(col("o_totalprice"), 4).as("total"))
        .orderBy("o_custkey", "rn")
    }),

    // E2 — counter -> delta via lag (Minerva counter-rate semantics).
    "win_lag_delta" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("delta", round(col("value") - lag(col("value"), 1).over(w), 4))
        .select(col("event_id"), col("user_id"), col("delta"))
        .orderBy("event_id")
    }),

    // E3 — moving average over an explicit ROWS frame.
    "win_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
      Tables.events(s, d)
        .withColumn("ma", round(avg(col("value")).over(w), 4))
        .select(col("event_id"), col("ma"))
        .orderBy("event_id")
    }),

    // E4 — running sum over a RANGE frame: peers (equal order dates) share
    // the same running value, so ties are deterministic by construction.
    "win_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("running", round(sum(col("o_totalprice")).over(w), 4))
        .select(col("o_orderkey"), col("running"))
        .orderBy("o_orderkey")
    }),

    // E5 — analytic functions over a global ordering, WITHOUT the global
    // single-partition window (which funnels every row through one task at
    // scale). Two-pass distributed rank instead (ops.Rank.withGlobalRank):
    // range-partition on the order key, row_number within each range, then
    // lift to a global rank by adding each partition's broadcast prefix
    // offset. The order key is unique (c_custkey tie-break), so rank ==
    // row_number and ntile / percent_rank / cume_dist reduce to exact
    // integer arithmetic on (rank, n). The only partition-less window left
    // runs over the partition-COUNT-sized offsets table (≤ #partitions rows).
    "win_analytic" -> ((s, d) => {
      val base = Tables.customer(s, d).select("c_custkey", "c_acctbal")
      graft.ops.Rank.withGlobalRank(base,
          Seq(col("c_acctbal"), col("c_custkey")), "g", "n_rows")
        .withColumn("nt", graft.ops.Rank.ntileExpr(4, "g", "n_rows"))
        .withColumn("pr", round((col("g") - 1).cast("double") / (col("n_rows") - 1), 4))
        .withColumn("cd", round(col("g").cast("double") / col("n_rows"), 4))
        .select("c_custkey", "nt", "pr", "cd")
        .orderBy("c_custkey")
    }),

    // E6 — first/last value with an explicit unbounded frame (attribute
    // store "latest per entity" lookup shape).
    "win_first_last" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("event_id"),
          round(first(col("value")).over(w), 4).as("fv"),
          round(last(col("value")).over(w), 4).as("lv"))
        .orderBy("event_id")
    }),

    // E8 — IGNORE NULLS carry-forward: readings under 25 are nulled out
    // (simulating dropped counter samples) and last_value(... IGNORE
    // NULLS) fills each gap with the last good reading per user — the
    // classic counter gap-fill idiom.
    "win_ignore_nulls" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("v", when(col("value") >= 25, round(col("value"), 4)))
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .select(col("event_id"), col("user_id"), col("v"), col("filled"))
        .orderBy("event_id")
    }),

    // E9 — regular-grid resample with carry-forward fill (the trend-store
    // "align samples to the granularity grid" operation): per user, an
    // hourly grid spanning that user's observed range, the hourly mean
    // where samples exist, and the last known mean carried forward into
    // empty buckets. The grid is generated distributed (sequence + explode
    // per user — no driver loop); the join and the fill window share the
    // user_id shuffle.
    "win_resample" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val hourly = ev.groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(round(avg(col("value")), 4).as("v"), count(lit(1)).as("n_obs"))
      val bounds = ev.groupBy("user_id")
        .agg(date_trunc("hour", min(col("ts"))).as("h0"), date_trunc("hour", max(col("ts"))).as("h1"))
      val grid = bounds.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      val w = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("h"), col("v"), col("filled"),
          coalesce(col("n_obs"), lit(0L)).as("n_obs"))
        .orderBy("user_id", "h")
    }),

    // E9b — linear interpolation on the hourly grid (the other gap-fill
    // mode next to win_resample's carry-forward): empty buckets between
    // two observations take the time-weighted value; before the first /
    // after the last observation falls back to nearest. Interpolation
    // reads the ROUNDED hourly means so both engines interpolate
    // bit-identical inputs. Same single user-keyed shuffle as
    // win_resample. The "next observation" side deliberately does NOT use
    // a [currentRow, unboundedFollowing] frame: Spark re-aggregates a
    // SHRINKING frame from scratch for every row (aggregates can't be
    // un-merged), which is O(partition²) work — measured 27 s foreach at
    // sf0.1 vs 1.7 s for the running direction (NOTES.md round 7). Instead
    // the grid is sorted DESCENDING and the same running
    // [unboundedPreceding, currentRow] last() frame reads the forward
    // neighbor — `h` is unique per user on the grid, so the reversed
    // order is an exact mirror. Price: a second in-partition sort on the
    // shared exchange; O(n log n) beats O(n²) at any scale.
    "win_interpolate" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val hourly = ev.groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(round(avg(col("value")), 4).as("v"))
      val bounds = ev.groupBy("user_id")
        .agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
      val grid = bounds.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      val wPrev = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNextRev = Window.partitionBy("user_id").orderBy(col("h").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("pt", last(when(col("v").isNotNull, col("h")), ignoreNulls = true).over(wPrev))
        .withColumn("nv", last(col("v"), ignoreNulls = true).over(wNextRev))
        .withColumn("nt", last(when(col("v").isNotNull, col("h")), ignoreNulls = true).over(wNextRev))
        // floor-truncate instead of round: interpolation midpoints land
        // exactly on .00005 boundaries, where Spark's string-based round
        // (HALF_UP on the shortest decimal) and DuckDB's arithmetic round
        // disagree. floor(x*1e4)/1e4 is pure IEEE double arithmetic —
        // bit-identical on both engines for identical inputs.
        .withColumn("interp", floor(
          (when(col("v").isNotNull, col("v"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv") + (col("nv") - col("pv"))
                * (unix_micros(col("h")) - unix_micros(col("pt"))).cast("double")
                / (unix_micros(col("nt")) - unix_micros(col("pt"))).cast("double"))
            .otherwise(coalesce(col("pv"), col("nv")))) * 10000) / 10000.0)
        .select(col("user_id"), col("h"), col("v"), col("interp"))
        .orderBy("user_id", "h")
    }),

    // E10 — counter-delta-with-reset-handling (the reference's core
    // counter-to-rate transform): per entity stream, the delta against the
    // previous sample; a negative delta means the counter reset and the
    // raw value IS the delta (counting restarted from zero); rate divides
    // by the exact microsecond interval. One entity-keyed shuffle.
    "win_counter_rate" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_v", lag(col("value"), 1).over(w))
        .withColumn("du", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .where(col("prev_v").isNotNull)
        .withColumn("eff", when(col("value") - col("prev_v") < 0, col("value"))
          .otherwise(col("value") - col("prev_v")))
        .select(col("event_id"), col("user_id"), round(col("eff"), 4).as("delta"),
          round(col("eff") * lit(1000000.0) / nullif(col("du").cast("double"), lit(0.0)), 4)
            .as("rate_per_s"))
        .orderBy("event_id")
    }),

    // E11 — sample-gap detection (the reference's existence/completeness
    // check over trend series): per entity, flag successive samples more
    // than 24 h apart — the holes a granularity-aligned store must either
    // backfill or report. Exact µs arithmetic; one entity-keyed shuffle.
    "win_gap_detect" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
        .where(col("gap_us") > lit(86400L) * 1000000L)
        .select(col("user_id"), col("event_id"), col("prev_ts"), col("ts"),
          expr("gap_us div 1000000").as("gap_s"))
        .orderBy("user_id", "event_id")
    }),

    // E7 — batch sessionization: a 30-minute inactivity gap starts a new
    // session (the batch twin of stream_session, via lag + cumulative sum
    // instead of session_window). Gaps compare exact microsecond epochs —
    // no truncation corner between engines. One shuffle on user_id; the
    // two windows and the groupBy all reuse that partitioning.
    "win_session_batch" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_s",
          when(col("prev_us").isNull
            || unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_no", sum("new_s").over(run))
        .groupBy("user_id", "session_no")
        .agg(min("ts").as("session_start"), max("ts").as("session_end"),
          count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("user_id", "session_no")
    }),

    // E12' — local-peak detection with prominence (added r9): the spike
    // readout `win_zscore_anomaly`/`win_mad_anomaly` can't give — not
    // "how unusual is this value" but "is this a LOCAL MAXIMUM and by
    // how much", the shape primitive under busy-hour analysis, alarm
    // de-bouncing and event counting. A sample is a peak when it is
    // strictly greater than ALL four ±2 neighbors in its entity's
    // (ts, event_id) order (strict > means same-height plateaus emit NO
    // peak — deterministic where tie-broken plateau picks would depend
    // on convention); prominence-lite = height above the tallest
    // neighbor. Everything is exact µ-unit long comparisons — no float
    // crosses a row; interior-only (all 4 neighbors must exist) so the
    // series edge can't fake a peak. One entity-keyed shuffle.
    "win_peak_detect" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val base = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("m2", lag("vq", 2).over(w))
        .withColumn("m1", lag("vq", 1).over(w))
        .withColumn("p1", lead("vq", 1).over(w))
        .withColumn("p2", lead("vq", 2).over(w))
        .where(col("m2").isNotNull && col("m1").isNotNull
          && col("p1").isNotNull && col("p2").isNotNull
          && col("vq") > col("m2") && col("vq") > col("m1")
          && col("vq") > col("p1") && col("vq") > col("p2"))
      base.select(col("event_id"), col("user_id"),
          col("vq").as("value_microunits"),
          (col("vq") - greatest(col("m2"), col("m1"), col("p1"), col("p2")))
            .as("prominence_microunits"))
        .orderBy("event_id")
    }),

    // E — dynamic time warping between consecutive octaves (added r9):
    // DTW distance of each sample's trailing-8 window against the SAME
    // entity's preceding-8 window — the elastic-alignment regime-change
    // score (win_changepoint prices a MEAN shift; DTW prices a SHAPE
    // shift, tolerant of phase drift a pointwise L1 would misprice as
    // change). The 8×8 DP d[i][j] = |aᵢ−bⱼ| + min(d[i−1][j], d[i][j−1],
    // d[i−1][j−1]) has a sequentially-dependent inner loop, so it's
    // STATICALLY UNROLLED along 15 anti-diagonal waves — every cell a
    // named column referencing only earlier waves (the Column tree would
    // be 3¹⁴ nodes if inlined; named bindings keep it 64 expressions,
    // and Catalyst collapses the 15 projections into one). ALL
    // arithmetic is exact µ-unit longs — no float in the DP; the lone
    // IEEE expression is the warp_gain readout 1 − dtw/L1 (DTW ≤ L1
    // because the diagonal is a valid path — the spec's invariant),
    // floor-1e-4. One entity-keyed shuffle; 64 integer ops/row.
    "win_dtw" -> ((s, d) => {
      // r12 (guide §4): the 8×8 DP runs in the codegen dtw16 kernel over
      // one trailing-16 collect_list instead of 16 lag() window columns
      // + 15 stacked 64-column projections — identical exact-integer DP
      // (SeriesOpsSpec pins kernel == the stacked-projection
      // formulation), same 16-sample warm-up filter (size(l) = 16 ⟺ the
      // old lag-15 notNull), same IEEE warp_gain readout.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-15, 0)
      Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("l", collect_list(col("vq")).over(w))
        .where(size(col("l")) === 16)
        .withColumn("dl", expr("dtw16(l)"))
        .withColumn("dtw", element_at(col("dl"), 1))
        .withColumn("l1", element_at(col("dl"), 2))
        .select(col("event_id"), col("user_id"),
          col("dtw").as("dtw_microunits"), col("l1").as("l1_microunits"),
          when(col("l1") > 0,
            floor((lit(1.0) - col("dtw").cast("double") / col("l1").cast("double"))
              * 1e4) / 1e4).otherwise(lit(0.0)).as("warp_gain"))
        .orderBy("event_id")
    }),

    // E12 — rolling z-score anomaly flags (added r3): each sample scored
    // against the trailing 20-sample mean/stddev of its own entity — the
    // adaptive-baseline variant of the reference's fixed-threshold trigger.
    // The frame is leave-one-out (20 PRECEDING .. 1 PRECEDING) so a spike
    // can't dampen its own baseline; warm-up (< 5 priors) and flat
    // baselines (sd = 0, exact in both engines when all values are equal)
    // yield NULL. The anomaly flag compares the ROUNDED score so both
    // engines threshold the same value. One entity-keyed shuffle.
    "win_zscore_anomaly" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-20, -1)
      Tables.events(s, d)
        .withColumn("mu", avg(col("value")).over(w))
        .withColumn("sd", stddev_samp(col("value")).over(w))
        .withColumn("n_prior", count(col("value")).over(w))
        .withColumn("z",
          when(col("n_prior") >= 5 && col("sd") > 0,
            round((col("value") - col("mu")) / col("sd"), 4)))
        .select(col("event_id"), col("user_id"), col("z"),
          coalesce(abs(col("z")) > 2.0, lit(false)).as("is_anomaly"))
        .orderBy("event_id")
    }),

    // E13 — exponentially weighted moving average (added r3), the classic
    // trend-smoothing transform a plain window sum can't express (each
    // output depends recursively on the previous). Bounded-history form:
    // fold the last 16 samples oldest→newest with y = αx + (1-α)y,
    // α = 0.25, seeded with the oldest sample — truncation bias ≤ 0.75¹⁵
    // ≈ 1.3% of weight. The fold is strictly sequential in both engines
    // (Spark `aggregate` over a frame-ordered collect_list; DuckDB
    // `list_reduce`, which seeds with the first element — hence the
    // slice-from-2 here), so the doubles are bit-identical. Quantized with
    // the floor idiom, NOT round(): on a bit-identical input the single
    // x*1e4 multiply is deterministic, while the engines' round()s
    // disagree when that multiply lands exactly on a .5 (measured: fold
    // 29.678749999999997 → ×1e4 = 296787.5 exactly → DuckDB 29.6788,
    // Spark's shortest-repr HALF_UP 29.6787). O(16) per row, one
    // entity-keyed shuffle at any scale.
    "win_ewma" -> ((s, d) => {
      // r12 (guide §4): the fold runs in the codegen ewma_fold kernel —
      // identical IEEE op sequence to the HOF aggregate (SeriesOpsSpec),
      // the floor-1e-4 edge stays in SQL so its long-cast semantics are
      // untouched.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-15, 0)
      Tables.events(s, d)
        .withColumn("l", collect_list(col("value")).over(w))
        .withColumn("ewma", expr("floor(ewma_fold(l) * 10000) / 10000"))
        .select(col("event_id"), col("user_id"), col("ewma"))
        .orderBy("event_id")
    }),

    // E13b — Holt's LINEAR (double) exponential smoothing (added r4): the
    // trend-aware sibling of win_ewma — simple EWMA lags a trending
    // series systematically; Holt carries (level, trend) state so the
    // one-step forecast lv+tr tracks a drift. Same bounded-16-sample
    // recursive-fold discipline as win_ewma: a two-field named_struct
    // accumulator seeded (x₀, 0) folds strictly sequentially (α=0.3,
    // β=0.4), so both engines execute the identical IEEE op sequence —
    // bit-identical doubles, floor-quantized at 1e-4 (the win_interpolate
    // midpoint rule). One user-keyed shuffle + in-partition sort.
    // E13d — CROSTON intermittent-demand forecast (added r10; Croston
    // 1972): the forecasting family's missing regime — a series that is
    // MOSTLY ZERO (spare-part demand, rare-event load) breaks SES/Holt
    // (forecasts decay toward zero between demands); Croston runs two
    // exponential smoothers, one over the NONZERO demand sizes and one
    // over the INTER-DEMAND intervals, updated only when demand occurs,
    // and forecasts their ratio z/p. The sparse series: per user per
    // day, the exact µ-unit sum over the deterministic ~1/37 event
    // subset (event_id % 37 = 0 — scale-free sparsity), on the COMPLETE
    // global day spine (zeros materialized — the interval smoother needs
    // them). Determinism: daily sums are exact longs cast once to double
    // (< 2⁵³); the fold is one ordered sequential pass per user (the
    // win_holt discipline — both engines add identical sequences);
    // α = 0.2 with D-suffixed literals; readouts floor-1e-4. Shapes: one
    // (user, day) agg, a users × days spine (dimension × ~30 — linear),
    // one entity-grain fold.
    "win_croston" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
        .withColumn("yq", when(col("event_id") % 37 === 0,
          floor(col("value") * 1e6).cast("long")).otherwise(lit(0L)))
      val daily = ev.groupBy("user_id", "day").agg(sum("yq").as("demand"))
      val bounds = ev.agg(min("day").as("lo"), max("day").as("hi"))
      val spine = ev.select("user_id").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("user_id"),
          explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      val fold =
        """aggregate(
          |  transform(array_sort(collect_list(named_struct('day', day, 'd', demand))),
          |            x -> CAST(x.d AS DOUBLE)),
          |  named_struct('z', CAST(0.0 AS DOUBLE), 'p', CAST(0.0 AS DOUBLE),
          |               'q', CAST(0.0 AS DOUBLE), 'init', CAST(0.0 AS DOUBLE)),
          |  (acc, x) -> CASE
          |    WHEN x > 0.0D AND acc.init = 0.0D THEN
          |      named_struct('z', x, 'p', acc.q + 1.0D, 'q', CAST(0.0 AS DOUBLE),
          |                   'init', CAST(1.0 AS DOUBLE))
          |    WHEN x > 0.0D THEN
          |      named_struct('z', 0.2D * x + 0.8D * acc.z,
          |                   'p', 0.2D * (acc.q + 1.0D) + 0.8D * acc.p,
          |                   'q', CAST(0.0 AS DOUBLE), 'init', CAST(1.0 AS DOUBLE))
          |    ELSE named_struct('z', acc.z, 'p', acc.p, 'q', acc.q + 1.0D,
          |                      'init', acc.init) END)""".stripMargin
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("demand", coalesce(col("demand"), lit(0L)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("demand") > 0, 1L).otherwise(0L)).as("n_demand_days"),
          expr(fold).as("st"))
        .select(col("user_id"), col("n_days"), col("n_demand_days"),
          when(col("st.init") > 0, floor(col("st.z") / 1e2) / 1e4).as("z_microunits_4dp"),
          when(col("st.init") > 0, floor(col("st.p") * 1e4) / 1e4).as("p_days"),
          when(col("st.init") > 0,
            floor(col("st.z") / col("st.p") / 1e2) / 1e4).as("croston_forecast"))
        .orderBy("user_id")
    }),

    "win_holt" -> ((s, d) => {
      // r12 (guide §4): codegen holt_fold kernel — identical IEEE op
      // sequence to the HOF aggregate (SeriesOpsSpec), floor edge in SQL.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-15, 0)
      Tables.events(s, d)
        .withColumn("l", collect_list(col("value")).over(w))
        .withColumn("holt_forecast", expr("floor(holt_fold(l) * 10000) / 10000"))
        .select(col("event_id"), col("user_id"), col("holt_forecast"))
        .orderBy("event_id")
    }),

    // E13c' — forecast BACKTEST evaluation (added r8): the readout that
    // makes the forecasting family (holt / holt_winters / kalman)
    // operationally trustworthy — per entity, score the one-step-ahead
    // Holt forecast against the realized value over the entity's own
    // history (walk-forward backtest: forecast for row t folds ONLY rows
    // < t, the trailing [−16, −1] frame — no leakage) and report MAE /
    // bias / MAPE. You never deploy a forecaster without this table; the
    // reference's trend pipeline is exactly where it would hang.
    // Determinism: the Holt fold is the win_holt bit-identical
    // sequential fold; each row's error is ONE IEEE subtract, then
    // µ-quantized (⌊·1e6⌋) into exact DECIMAL sums — no float
    // accumulation across rows — and the per-entity readouts are single
    // IEEE divides of exact ints. First row per entity (empty history)
    // is excluded on both engines (empty frame ⇒ size 0 / NULL list).
    "win_forecast_eval" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-16, -1)
      Tables.events(s, d)
        .withColumn("l", collect_list(col("value")).over(w))
        .where(size(col("l")) >= 1)
        // r12: the win_holt fold via the same codegen holt_fold kernel
        // (raw, unquantized — exactly what the HOF chain produced here)
        .withColumn("fcast", expr("holt_fold(l)"))
        .withColumn("err", col("value") - col("fcast"))
        // MAPE is undefined at zero actuals (sf0.1 has value = 0 rows):
        // the textbook practice — score it over positive actuals only,
        // with its own denominator
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_eval"),
          sum(floor(col("err") * 1e6).cast(dec)).as("seq"),
          sum(floor(abs(col("err")) * 1e6).cast(dec)).as("saq"),
          sum(when(col("value") > 0.0d,
            floor(abs(col("err")) / col("value") * 1e6)).otherwise(0L).cast(dec))
            .as("spq"),
          sum(when(col("value") > 0.0d, 1L).otherwise(0L)).as("n_mape"))
        .select(col("user_id"), col("n_eval"),
          (col("saq").cast("double") / col("n_eval").cast("double") / 1e6).as("mae"),
          (col("seq").cast("double") / col("n_eval").cast("double") / 1e6).as("bias"),
          when(col("n_mape") > 0L,
            col("spq").cast("double") / col("n_mape").cast("double") / 1e6).as("mape"))
        .orderBy("user_id")
    }),

    // E13e — time-decay EWMA for IRREGULAR sampling (added r7): the gap
    // `win_ewma`'s fixed α papers over — a per-sample constant α weights
    // a reading after a 3-day outage exactly like one 5 s later, which is
    // wrong for real telemetry. Here the decay follows the actual gap:
    // e = exp(−Δt/τ) at τ = 1 h, ŷ = y·(1−e) + ŷ_prev·e — a 5 s
    // follow-up barely moves the estimate, a 3-day-later reading
    // effectively restarts it (e ≈ 0): the continuous-time EWMA. Same
    // sequential-fold contract as the ewma/holt/kalman family (trailing
    // ≤16 samples, (ts,event_id) order, seed = first sample); Δt is exact
    // µs integers into one IEEE divide + exp — the exp() is written
    // verbatim at both uses and mirrored in the oracle, cross-engine
    // libm ulp drift absorbed by the floor-1e-4 edge (the adamic_adar
    // ln() argument).
    "win_ewma_irregular" -> ((s, d) => {
      // r12 (guide §4): codegen ewma_t_fold kernel over the (us, v)
      // structs — the exp() is Math.exp on both routes and the decay is
      // computed once per step (the duplicated SQL sub-expression equals
      // the same value); SeriesOpsSpec pins equality, floor edge in SQL.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-15, 0)
      Tables.events(s, d)
        .withColumn("l", collect_list(
          struct(unix_micros(col("ts")).as("us"), col("value").as("v"))).over(w))
        .withColumn("ewma_t", expr("floor(ewma_t_fold(l) * 10000) / 10000"))
        .select(col("event_id"), col("user_id"), col("ewma_t"))
        .orderBy("event_id")
    }),

    // E13d — Theil–Sen robust trend slope (added r7): per row, the MEDIAN
    // of all pairwise per-step slopes over the trailing ≤16 samples —
    // the breakdown-point-0.29 robust alternative to `agg_trend_slope`'s
    // OLS (one spike corrupts a least-squares slope; Theil–Sen shrugs
    // off ≤29% outliers, which is why SLA trend monitors prefer it).
    // Slopes are indexed per sample step ((y_j − y_i)/(j − i), exact
    // integer denominators — evenly-spaced-sample form, tie-safe where
    // raw-timestamp x's duplicate µs would put ∞ into the median), the
    // median is an exact element pick (odd) or one IEEE mean (even) of
    // the sorted slope array. C(16,2)=120 slopes/row — constant work per
    // row, all inside codegen'd higher-order functions; same identical-
    // IEEE-op-order oracle contract as the fold family; floor-1e-4 edge.
    // E — MANN-KENDALL trend test (added r10; Mann 1945, Kendall 1975):
    // the significance half of the robust-trend pair — `win_theil_sen`
    // estimates the slope, this key decides whether a monotone trend
    // EXISTS: S = Σ_{i<j} sign(y_j − y_i) over the entity's daily series,
    // τ = S / C(n,2), and the tie-corrected normal z-score
    // (S∓1)/√Var(S), Var = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18 — the
    // standard KPI-degradation gate (is this cell's load trending up,
    // beyond noise?). Exactness: daily values are exact µ-unit long
    // sums; S and both variance terms are exact integer arithmetic
    // (day-grain series, ≤ C(n,2) sign terms per entity — bounded by the
    // calendar, not the corpus); only √ and one divide are IEEE, then
    // floor-1e-4, and the trend flag thresholds the QUANTIZED z (the
    // zscore precedent). One (user, day) agg + one entity fold.
    "win_mann_kendall" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id", "day").agg(sum("yq").as("v"))
      val ties = daily.groupBy("user_id", "v").agg(count(lit(1)).as("t"))
        .groupBy("user_id")
        .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tsum"))
      daily.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          expr("transform(array_sort(collect_list(named_struct('day', day, 'v', v))), x -> x.v)")
            .as("vs"))
        .where(col("n") >= 2)
        .join(ties, "user_id")
        .withColumn("s_stat", expr(
          """aggregate(flatten(transform(sequence(1, CAST(n - 1 AS INT)), i ->
            |  transform(sequence(i + 1, CAST(n AS INT)), j ->
            |    CASE WHEN element_at(vs, j) > element_at(vs, i) THEN CAST(1 AS BIGINT)
            |         WHEN element_at(vs, j) < element_at(vs, i) THEN CAST(-1 AS BIGINT)
            |         ELSE CAST(0 AS BIGINT) END))),
            |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin))
        .withColumn("var18", col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tsum"))
        .withColumn("z", expr(
          """CASE WHEN var18 <= 0 THEN CAST(NULL AS DOUBLE)
            |     WHEN s_stat > 0 THEN floor((s_stat - 1) / sqrt(var18 / 18.0D) * 1e4) / 1e4
            |     WHEN s_stat < 0 THEN floor((s_stat + 1) / sqrt(var18 / 18.0D) * 1e4) / 1e4
            |     ELSE CAST(0.0 AS DOUBLE) END""".stripMargin))
        .select(col("user_id"), col("n").as("n_days"), col("s_stat"),
          (floor(col("s_stat").cast("double") / (col("n") * (col("n") - 1) / 2).cast("double")
            * 1e4) / 1e4).as("tau"),
          col("z"),
          when(col("z").isNull, lit("flat"))
            .when(col("z") > 1.96, lit("up"))
            .when(col("z") < -1.96, lit("down"))
            .otherwise(lit("none")).as("trend"))
        .orderBy("user_id")
    }),

    "win_theil_sen" -> ((s, d) => {
      // r12 (guide §4): the O(k²) pairwise-slope + sort + median readout
      // runs in the codegen theil_sen_med kernel instead of ~120
      // interpreted transform/flatten/array_sort/aggregate element evals
      // per row — identical values (same IEEE slope op order, stable sort
      // under Spark's own SQLOrderingUtil double comparator, same
      // even/odd median and floor-1e-4; SeriesOpsSpec pins the kernel
      // against the old HOF formulation on adversarial and random series,
      // and the oracle re-verified hash-green at sf0.001/0.01/0.1).
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-15, 0)
      Tables.events(s, d)
        .withColumn("l", collect_list(col("value")).over(w))
        .select(col("event_id"), col("user_id"),
          call_function("theil_sen_med", col("l")).as("ts_slope"))
        .orderBy("event_id")
    }),

    // E13c — scalar Kalman filter (added r7): the random-walk-plus-noise
    // state-space smoother (process var Q=4, observation var R=16) — the
    // optimal-gain rung above win_ewma's FIXED gain: the Kalman gain
    // K = P⁻/(P⁻+R) ADAPTS, large while the estimate is uncertain (fast
    // lock-on after gaps/restarts) and settling toward the steady-state
    // gain as evidence accumulates — the reason production KPI smoothers
    // prefer it over a hand-tuned EWMA α. Same bit-identical-sequential-
    // fold contract as ewma/holt/holt_winters: per row the trailing ≤16
    // samples fold strictly in (ts, event_id) order, seed (z₀, P=R), and
    // the gain expression is written out verbatim wherever it appears so
    // both engines execute the identical IEEE op sequence; D-suffixed
    // constants (the DECIMAL literal trap); floor-1e-4 quantized output.
    "win_kalman" -> ((s, d) => {
      // r12 (guide §4): codegen kalman_fold kernel — identical IEEE op
      // sequence (gain computed once per step, as the duplicated SQL
      // sub-expression evaluates to the same value; SeriesOpsSpec pins
      // equality), floor edge in SQL.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-15, 0)
      Tables.events(s, d)
        .withColumn("l", collect_list(col("value")).over(w))
        .withColumn("kalman_est", expr("floor(kalman_fold(l) * 10000) / 10000"))
        .select(col("event_id"), col("user_id"), col("kalman_est"))
        .orderBy("event_id")
    }),

    // E13b — additive Holt-Winters (added r4): the seasonal rung above
    // win_holt — (level, trend, 4 seasonal offsets) state folded strictly
    // sequentially over the trailing 16 samples (α=0.3, β=0.2, γ=0.3,
    // season m=4), one-step forecast lv + tr + s[next]. This is the
    // telecom-PM forecast shape (traffic has hard daily/weekly seasons a
    // trend-only smoother aliases into lag). State is an ARRAY<DOUBLE> of
    // 7 slots [lv, tr, s0..s3, i] — same bit-identical-sequential-fold
    // contract as ewma/holt, now with an indexed-slot update (the
    // consumed-count i picks the season slot; IF per slot keeps the
    // array build codegen-friendly). Seed (x₀, 0, 0⃗, 1): the standard
    // simple seeding, matching the oracle's transform-first-element
    // list_reduce seed exactly. All constants D-suffixed (the DECIMAL
    // literal trap); floor-1e-4 quantized output.
    // The key delegates to ops.HoltWinters.forecastExpr pinned at the
    // oracle's parameterization (m=4, α=.3 β=.2 γ=.3, simple seeding); the
    // generator is the production surface — m and first-season seeding are
    // arguments there, proven at m∈{4,7} in WinsOpsSpec (r5).
    "win_holt_winters" -> ((s, d) => {
      // r12 (guide §4): the generated HOF fold runs in the codegen
      // hw_fold kernel at the same pinned parameterization — identical
      // IEEE op order per step (SeriesOpsSpec pins kernel == the
      // ops.HoltWinters generated expression, which remains the
      // reference formulation); floor edge in SQL.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-15, 0)
      Tables.events(s, d)
        .withColumn("l", collect_list(col("value")).over(w))
        .withColumn("hw_forecast",
          expr("floor(hw_fold(l, 4, 0.3D, 0.2D, 0.3D, false) * 1e4) / 1e4"))
        .select(col("event_id"), col("user_id"), col("hw_forecast"))
        .orderBy("event_id")
    }),

    // E13c — first-season-SEEDED Holt-Winters (added r5): the production
    // seeding the zero-seed key documents as its trade — level seeds from
    // the first full season's mean, seasonal slot j from xⱼ − mean, and
    // the fold starts AFTER the season (windows shorter than one season
    // fall back to the simple seed inside the same generated expression).
    // Same generator (ops.HoltWinters), same m=4 cadence; proves the
    // seeded route cross-engine, not just against the scalatest reference.
    "win_holt_winters_seeded" -> ((s, d) => {
      // r12: same hw_fold kernel, first-full-season seeding (the
      // short-history fallback lives inside the kernel exactly like the
      // generated expression's IF).
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-15, 0)
      Tables.events(s, d)
        .withColumn("l", collect_list(col("value")).over(w))
        .withColumn("hw_forecast",
          expr("floor(hw_fold(l, 4, 0.3D, 0.2D, 0.3D, true) * 1e4) / 1e4"))
        .select(col("event_id"), col("user_id"), col("hw_forecast"))
        .orderBy("event_id")
    }),

    // E14 — CUSUM control chart (added r3): per-user running sum of the
    // deviation from a reference value, the classic SPC drift detector
    // (pairs with win_zscore_anomaly's point outliers — CUSUM catches
    // small persistent shifts). Determinism: the deviation is accumulated
    // in exact integers (value floor-quantized at 1e-6, reference 500 as
    // 5e8 micro-units) under a totally-ordered frame (ts, event_id), so
    // the running sum is order-free arithmetic; the single final divide
    // of an exact integer is IEEE-identical in both engines. One
    // user-keyed shuffle + in-partition sort at any scale.
    "win_cusum" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
        .withColumn("cusum", sum(col("yq") - lit(500000000L)).over(w) / 1e6)
        .select(col("event_id"), col("user_id"), col("ts"), col("cusum"))
        .orderBy("event_id")
    }),

    // E14' — Page–Hinkley drift detector (added r12; Page 1954, the
    // sequential test the stream-drift literature standardizes on): the
    // alarm-bearing sibling of `win_cusum` — PH tracks the cumulative
    // deviation m_t = Σ(x − μ0 − δ) AND its running minimum, alarming on
    // m_t − min_{i≤t} m_i > λ. The min-anchor is what CUSUM's raw sum
    // lacks: after a long low period the sum is deeply negative and a
    // genuine upward shift takes ages to cross any fixed line; PH
    // re-anchors at the historical minimum, so detection delay depends
    // only on the POST-CHANGE drift (the property that makes it the
    // model-monitoring default). μ0 = 50 (the KPI's design center),
    // δ = 1 tolerance, λ = 200. Exact µ-unit longs: one running sum +
    // one running min over the same entity-keyed order — one shuffle,
    // one sort, two window passes; the only float is the final display
    // divide of an exact long (the win_cusum stance). Both alarm states
    // live on the fixture (checked at review: alarms fire on heavy-tail
    // bursts, clear after re-anchoring).
    "win_page_hinkley" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("mq", sum(floor(col("value") * 1e6).cast("long")
          - lit(51000000L)).over(w))
        .withColumn("mn", min(col("mq")).over(w))
        .select(col("event_id"), col("user_id"), col("ts"),
          ((col("mq") - col("mn")).cast("double") / 1e6).as("ph"),
          (col("mq") - col("mn") > lit(200000000L)).cast("int").as("alarm"))
        .orderBy("event_id")
    }),

    // E14h — EWMA VARIANCE / volatility (added r12; RiskMetrics 1996):
    // the risk-monitoring sibling of win_ewma — the exponentially-
    // weighted second moment of the series' first differences,
    // var_t = λ·var_{t-1} + (1−λ)·r_t² at the RiskMetrics λ = 0.94,
    // whose square root is the vol estimate every SLO/latency-burn and
    // financial-risk monitor tracks (a level shift moves win_ewma; a
    // VARIANCE shift — same mean, noisier — only shows here). Returns
    // are EXACT µ-unit long differences (lag of floor-quantized longs);
    // first-row-per-user (null return) is dropped BEFORE the window so
    // both engines fold identical null-free lists. Same bounded-16-
    // sample recursive-fold discipline as win_ewma: seed r₁², strictly
    // sequential fold, identical IEEE op sequence on both engines →
    // bit-identical doubles, floor-quantized 1e-4 (vol via IEEE-exact
    // sqrt of the same raw accumulator). One user-keyed shuffle +
    // in-partition sort; the fold is O(16) per row.
    "win_ewm_var" -> ((s, d) => {
      val wl = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wf = wl.rowsBetween(-15, 0)
      Tables.events(s, d)
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
        .withColumn("rq", col("yq") - lag(col("yq"), 1).over(wl))
        .where(col("rq").isNotNull)
        .withColumn("l", collect_list(col("rq")).over(wf))
        // r12 (guide §4): the transform-to-squares + fold runs in the
        // codegen ewm_var_fold kernel over the µ-unit longs directly —
        // identical IEEE op sequence per element (SeriesOpsSpec).
        .withColumn("v", expr("ewm_var_fold(l)"))
        .select(col("event_id"), col("user_id"),
          expr("floor(v * 10000) / 10000").as("ewm_var"),
          expr("floor(sqrt(v) * 10000) / 10000").as("ewm_vol"))
        .orderBy("event_id")
    }),

    // E14i — AVERAGE TRUE RANGE (added r12; Wilder 1978): per-entity
    // volatility over HOURLY OHLC bars — true range extends the bar's
    // high−low by any gap against the PREVIOUS close (a series that
    // jumps between bars is volatile even when each bar is narrow; range
    // alone misses it), then Wilder-smooths: atr = (13·atr + tr)/14.
    // The canonical band-width input (Keltner channels, stop sizing) and
    // the telemetry analogue — per-entity hourly KPI envelopes. Bars are
    // exact µ-unit longs (max/min/last of quantized values), so tr =
    // greatest(h−l, |h−pc|, |l−pc|) is exact integer arithmetic; the
    // Wilder fold runs the win_ewma bounded-16-bar recursive-fold
    // discipline (identical IEEE sequence both engines, floor 1e-4).
    // Scale: the window input is the (user, hour) ROLLUP — one groupBy
    // shuffle collapses events to bars, then a user-keyed window over
    // bar-count-sized data; the fold is O(16) per bar.
    "win_atr" -> ((s, d) => {
      // close = max_by on the unique (ts, event_id) key — the
      // deterministic-pick idiom; ONE aggregation produces all three
      // bar stats, no pre-groupBy sort pass (r12 review)
      val bars = Tables.events(s, d)
        .withColumn("h", date_trunc("hour", col("ts")))
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id", "h")
        .agg(max(col("vq")).as("hq"), min(col("vq")).as("lq"),
          max_by(col("vq"), struct(col("ts"), col("event_id"))).as("cq"))
      val wu = Window.partitionBy("user_id").orderBy(col("h"))
      bars
        .withColumn("pc", lag(col("cq"), 1).over(wu))
        .withColumn("trq", when(col("pc").isNull, col("hq") - col("lq"))
          .otherwise(greatest(col("hq") - col("lq"),
            abs(col("hq") - col("pc")), abs(col("lq") - col("pc")))))
        .withColumn("l", collect_list(col("trq")).over(wu.rowsBetween(-15, 0)))
        .withColumn("lt", expr("transform(l, x -> CAST(x AS DOUBLE) / 1e6)"))
        .withColumn("a", expr(
          """aggregate(slice(lt, 2, greatest(size(lt) - 1, 0)),
            |  element_at(lt, 1),
            |  (acc, x) -> (acc * 13.0 + x) / 14.0)""".stripMargin))
        .select(col("user_id"), col("h"),
          (col("trq").cast("double") / 1e6).as("tr"),
          expr("floor(a * 10000) / 10000").as("atr"))
        .orderBy("user_id", "h")
    }),

    // E15 — busy hour (added r3): per (user, day) the hour carrying the
    // most traffic — the canonical telecom-PM readout (networks are
    // dimensioned on the busy hour, not the mean). Determinism: the
    // ranking quantity is a sum of exact integers (value floor-quantized
    // at 1e-6, summed in DECIMAL(38,0)), never a float sum whose
    // accumulation order could flip a near-tie across engines; exact ties
    // break on the earlier hour. One (user, day, hour) groupBy shuffle +
    // a (user, day)-keyed window over the 24-row-per-key hourly rollup —
    // the window input is already aggregated, so the sort is trivial at
    // any scale.
    "win_busy_hour" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val hourly = Tables.events(s, d)
        .select(col("user_id"),
          to_date(col("ts")).as("day"),
          hour(col("ts")).as("hr"),
          floor(col("value") * 1e6).cast("long").as("vq"))
        .groupBy("user_id", "day", "hr")
        .agg(sum(col("vq").cast(dec)).as("tq"), count(lit(1)).as("n_samples"))
      val w = Window.partitionBy("user_id", "day")
        .orderBy(col("tq").desc, col("hr").asc)
      hourly.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("day"), col("hr").as("busy_hour"),
          (col("tq").cast("double") / 1e6).as("traffic"), col("n_samples"))
        .orderBy("user_id", "day")
    }),

    // E16 — drawdown vs running peak (added r4): per-entity distance below
    // the highest value seen so far — the standard "how far has this KPI
    // fallen from its best" readout (capacity regression, revenue dip).
    // Determinism: running max over floor-1e-6 µ-unit longs is exact
    // integer arithmetic under a totally-ordered frame; the two outputs
    // are single final IEEE divides of exact ints (header contract's
    // exempt class). One user-keyed shuffle + in-partition sort.
    "win_drawdown" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
        .withColumn("pq", max(col("yq")).over(w))
        .select(col("event_id"), col("user_id"),
          (col("pq").cast("double") / 1e6).as("peak"),
          ((col("pq") - col("yq")).cast("double") / 1e6).as("drawdown"))
        .orderBy("event_id")
    }),

    // E17 — exact rolling median (added r4): trailing-25-sample median per
    // entity — the robust-baseline alternative to win_moving_avg (a single
    // spike moves the mean but not the median). Spark's exact `percentile`
    // and DuckDB's `median` both compute quantile_cont(0.5): sort the
    // frame, interpolate at 0.5*(n-1) — probed identical (even-count
    // frames average the two middles). Inputs are exact µ-unit longs, so
    // the interpolated midpoint (a+b)/2 is exact in double; one final
    // divide by 1e6. O(k log k) per row at k=25 — bounded, in-partition.
    "win_rolling_median" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-24, 0)
      Tables.events(s, d)
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
        .withColumn("mq", expr("percentile(yq, 0.5)").over(w))
        .select(col("event_id"), col("user_id"),
          (col("mq") / 1e6).as("roll_median"))
        .orderBy("event_id")
    }),

    // E — gaps-and-islands (added r9): maximal runs of a per-sample STATE
    // (value ≥ 100 = hi) collapsed to island rows — the value-run twin of
    // `win_session_batch`'s time-gap sessions, and the classic SQL
    // pattern under uptime/outage reporting ("how long was the KPI
    // continuously degraded"). Island identity is the exact integer
    // row_number difference (global rn − per-state rn is constant within
    // a run and cannot collide across states) — no sequential scan, two
    // same-keyed windows + one groupBy that all reuse the single entity
    // shuffle. Everything exact: integer state test, count, min/max ts;
    // island_no re-ranks islands per user by start so the output order
    // is total. One entity-keyed shuffle at any scale.
    "win_islands" -> ((s, d) => {
      val wAll = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wSt = Window.partitionBy("user_id", "state").orderBy(col("ts"), col("event_id"))
      val runs = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("state", (col("value") >= 100).cast("int"))
        .withColumn("grp", row_number().over(wAll) - row_number().over(wSt))
        .groupBy("user_id", "state", "grp")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("island_start"), max("ts").as("island_end"))
      val wIsl = Window.partitionBy("user_id").orderBy("island_start")
      runs
        .withColumn("island_no", row_number().over(wIsl).cast("long"))
        .select(col("user_id"), col("island_no"), col("state"),
          col("n_events"), col("island_start"), col("island_end"))
        .orderBy("user_id", "island_no")
    }),

    // E — Hampel REPAIR filter (added r9): `win_mad_anomaly` flags; this
    // key FIXES — the sensor-cleaning transform that replaces a sample
    // breaching the 3·1.4826·MAD fence around its trailing-20
    // leave-one-out median WITH that median (the repaired series is what
    // a forecasting pipeline actually trains on; flags alone still feed
    // it spikes). Same exact machinery as the MAD key: µ-unit longs
    // through both order statistics (midpoints (a+b)/2 exact in double),
    // the fence test one IEEE comparison of exact-in-double values,
    // identical on both engines; warm-up rows (< 12 priors) pass
    // through unrepaired. O(k log k) per row in-partition, one entity
    // shuffle. NULL values are filtered on BOTH engines before
    // windowing (r9 ADVICE): Spark's collect_list drops NULLs while
    // DuckDB's list() keeps them, so an unfiltered null-bearing corpus
    // would give the two engines different rolling windows, n, and
    // medians — the explicit filter is the parity contract.
    "win_hampel" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-20, -1)
      Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
        .withColumn("l", collect_list(col("yq")).over(w))
        .withColumn("n", size(col("l")))
        .withColumn("srt", array_sort(col("l")))
        .withColumn("med", expr(
          """CASE WHEN n >= 12 THEN
            |  (element_at(srt, CAST((n+1) div 2 AS INT))
            |   + element_at(srt, CAST(n div 2 + 1 AS INT))) / 2.0D
            |END""".stripMargin))
        .withColumn("dev", expr("array_sort(transform(l, x -> abs(x - med)))"))
        .withColumn("mad", expr(
          """CASE WHEN n >= 12 THEN
            |  (element_at(dev, CAST((n+1) div 2 AS INT))
            |   + element_at(dev, CAST(n div 2 + 1 AS INT))) / 2.0D
            |END""".stripMargin))
        .withColumn("hit", expr(
          "coalesce(mad > 0 AND abs(yq - med) > 3.0D * 1.4826D * mad, false)"))
        .select(col("event_id"), col("user_id"),
          col("yq").as("value_microunits"),
          expr("floor((CASE WHEN hit THEN med ELSE CAST(yq AS DOUBLE) END) / 100.0D) / 1e4")
            .as("repaired"),
          expr("CAST(hit AS INT)").as("was_repaired"))
        .orderBy("event_id")
    }),

    // E21 — MAD anomaly score (added r4): each sample scored against the
    // trailing-20 leave-one-out MEDIAN and median-absolute-deviation of
    // its entity — the robust twin of win_zscore_anomaly (one prior spike
    // inflates a mean/stddev baseline and masks the next anomaly; the
    // median baseline shrugs it off). 1.4826·MAD is the standard
    // consistency constant (σ-equivalent under normality). Exact µ-unit
    // longs through both medians (even-count midpoints are (a+b)/2 —
    // exact in double), one multiply + one divide of the same values on
    // both engines, floor-1e-4 quantized; the flag thresholds the
    // QUANTIZED score (the zscore precedent). Frame work is O(k log k)
    // at k=20 — bounded, in-partition. NULLs filtered on both engines
    // (r9 ADVICE — the win_hampel parity contract: collect_list drops
    // NULLs, DuckDB list() keeps them).
    "win_mad_anomaly" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-20, -1)
      Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
        .withColumn("l", collect_list(col("yq")).over(w))
        .withColumn("n", size(col("l")))
        .withColumn("srt", array_sort(col("l")))
        // 2.0D / 1.4826D: plain decimal-looking literals make Spark run
        // the whole chain in DECIMAL arithmetic, whose bounded division
        // scale ROUNDS the score before the floor lattice (measured: 45
        // boundary rows flipped at sf0.01) — the D suffix pins every
        // operation to the same IEEE doubles DuckDB uses
        .withColumn("med", expr(
          """CASE WHEN n >= 12 THEN
            |  (element_at(srt, CAST((n+1) div 2 AS INT))
            |   + element_at(srt, CAST(n div 2 + 1 AS INT))) / 2.0D
            |END""".stripMargin))
        .withColumn("dev", expr("array_sort(transform(l, x -> abs(x - med)))"))
        // the n >= 12 guard also keeps element_at off index 0 (ANSI error)
        // when the leave-one-out frame is empty at partition starts
        .withColumn("mad", expr(
          """CASE WHEN n >= 12 THEN
            |  (element_at(dev, CAST((n+1) div 2 AS INT))
            |   + element_at(dev, CAST(n div 2 + 1 AS INT))) / 2.0D
            |END""".stripMargin))
        .withColumn("score", expr(
          "CASE WHEN mad > 0 THEN floor((yq - med) / (1.4826D * mad) * 1e4) / 1e4 END"))
        .select(col("event_id"), col("user_id"), col("score"),
          expr("CAST(score IS NOT NULL AND abs(score) > 3.5 AS INT)").as("is_anomaly"))
        .orderBy("event_id")
    }),

    // E20 — top movers (added r4): the 20 biggest day-over-day traffic
    // swings across all entities — the "what changed since yesterday"
    // triage view an operations screen opens with. Daily totals are exact
    // µ-unit DECIMAL(38,0) sums; the delta is exact integer subtraction
    // over the entity-keyed lag, so the global ranking never compares
    // floats. The final global sort is a TakeOrdered(20) — no full sort,
    // no single-partition window, at any scale.
    "win_top_movers" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val daily = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          floor(col("value") * 1e6).cast("long").as("vq"))
        .groupBy("user_id", "day")
        .agg(sum(col("vq").cast(dec)).as("tq"))
      val w = Window.partitionBy("user_id").orderBy("day")
      daily
        .withColumn("prev_tq", lag(col("tq"), 1).over(w))
        .where(col("prev_tq").isNotNull)
        .withColumn("dq", col("tq") - col("prev_tq"))
        .withColumn("adq", abs(col("dq")))
        .orderBy(col("adq").desc, col("user_id"), col("day"))
        .limit(20)
        .select(col("user_id"), col("day"),
          (col("tq").cast("double") / 1e6).as("traffic"),
          (col("prev_tq").cast("double") / 1e6).as("prev_traffic"),
          (col("dq").cast("double") / 1e6).as("delta"))
    }),

    // E19 — activity streaks (added r4): per user the longest run of
    // consecutive active days plus totals — the classic gaps-and-islands
    // engagement readout. Island id = day-number − row_number (exact
    // integer arithmetic on distinct days, so island boundaries are facts,
    // not float compares). Two shuffles: the distinct-day groupBy and the
    // user-keyed window over the day-level rollup (≤ span-days rows per
    // user — the window input is already aggregated).
    "win_streak" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("dn")
      val days = Tables.events(s, d)
        .select(col("user_id"), datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("dn"))
        .distinct()
      days
        .withColumn("grp", col("dn") - row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max(col("len")).as("longest_streak"),
          sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    }),

    // E18 — ratio-to-report + cumulative share (added r4): each sample's
    // share of its entity's total, and the running Pareto share (the
    // "which prefix of events carries 80% of the volume" readout).
    // Determinism: numerators and denominators are exact µ-unit longs
    // (partition totals ~1e12 ≪ 2^53, exact in double), shares are single
    // IEEE divides. The whole-partition total reuses the same shuffle as
    // the running sum — one user-keyed exchange, two frames.
    "win_ratio_total" -> ((s, d) => {
      val wAll = Window.partitionBy("user_id")
      val wRun = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
        .withColumn("tot", sum(col("yq")).over(wAll))
        .withColumn("run", sum(col("yq")).over(wRun))
        .select(col("event_id"), col("user_id"),
          (col("yq").cast("double") / col("tot")).as("share"),
          (col("run").cast("double") / col("tot")).as("cum_share"))
        .orderBy("event_id")
    }),

    // E20 — classical additive seasonal decomposition (added r5): daily
    // totals split into trend + weekly-seasonal + residual. Trend is the
    // centered m=7 moving average (null where the window is short — the
    // textbook edge handling); the seasonal index per weekday is the mean
    // detrended value, zero-centered so the three components sum back to
    // the observation; residual is what's left. This is the batch
    // decomposition behind every "is Monday always like this?" capacity
    // view. Scale shape: the groupBy collapses event-grain data to one
    // row per day BEFORE any window runs, so the partition-less windows
    // see a calendar-sized table (days, then 7 weekday rows) — the same
    // rollup-first discipline as win_busy_hour; the event-grain scan is
    // one map-side-combined aggregation, and the day-grain result is
    // localCheckpoint'd (calendar-sized, trivially cached) because three
    // consumers read it (seasonal index, index centering, final join) —
    // without the checkpoint the unrolled plan re-scans the event table
    // once per consumer, which at 100 TB is 2 wasted full-corpus reads.
    // round(4): daily sums are float accumulations whose order differs
    // across engines.
    "win_seasonal_decompose" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum("value").as("v"))
      val wMa = Window.orderBy("day").rowsBetween(-3, 3)
      val t = daily
        .withColumn("trend", when(count(lit(1)).over(wMa) === 7, avg("v").over(wMa)))
        .withColumn("dow", dayofweek(col("day")) - 1)
        .localCheckpoint()
      val sIdx = t.where(col("trend").isNotNull)
        .groupBy("dow").agg(avg(col("v") - col("trend")).as("s_raw"))
      val sAdj = sIdx
        .crossJoin(broadcast(sIdx.agg(avg("s_raw").as("s_mean"))))
        .select(col("dow"), (col("s_raw") - col("s_mean")).as("seas"))
      t.join(broadcast(sAdj), Seq("dow"), "left")
        .select(col("day"), round(col("v"), 4).as("value"),
          round(col("trend"), 4).as("trend"),
          round(col("seas"), 4).as("seasonal"),
          round(col("v") - col("trend") - col("seas"), 4).as("residual"))
        .orderBy("day")
    }),

    // E21 — last-touch attribution (added r5): each purchase credits the
    // most recent prior click/view by the same user within a 24 h
    // lookback — the marketing-attribution shape (and Minerva's
    // notification-to-cause pattern). One pass: an IGNORE-NULLS
    // carry-forward window streams the latest touch alongside every
    // event (three aligned carries — id/type/ts — null together, so no
    // struct is needed), purchases filter AFTER the carry, and the
    // lookback caps the credited window. No join: the window is
    // per-user, sorted once, linear at any scale. Gap seconds are exact
    // integer µs differences divided by 1e6 — bit-identical IEEE in
    // both engines. Touches outside the lookback null out rather than
    // dropping the purchase (unattributed conversions are a number
    // every funnel report needs).
    "win_attribution" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val isTouch = col("event_type").isin("click", "view")
      val withTouch = Tables.events(s, d)
        .withColumn("t_id", last(when(isTouch, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("t_type", last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
        .withColumn("t_us", last(when(isTouch, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      val gapUs = unix_micros(col("ts")) - col("t_us")
      val within = col("t_us").isNotNull && gapUs <= 86400000000L
      withTouch.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          when(within, col("t_id")).as("touch_id"),
          when(within, col("t_type")).as("touch_type"),
          when(within, gapUs.cast("double") / lit(1e6)).as("gap_sec"))
        .orderBy("event_id")
    }),

    // E27 — RSI(14) (added r5): the relative-strength index in its
    // simple-average form — per entity, the last 14 deltas split into
    // gains and losses, RSI = 100·ΣG/(ΣG+ΣL). The algebraic identity
    // 100 − 100/(1+RS) = 100·ΣG/(ΣG+ΣL) removes a division and, more
    // importantly for hash-match determinism, reduces the readout to ONE
    // multiply + ONE divide of exact integers: deltas are µ-unit longs,
    // gain/loss sums are integer window sums (order-free), so no float
    // accumulates across the frame. Null until a full 14-delta frame
    // exists, null when the frame is flat (ΣG+ΣL = 0, the 0/0 case both
    // engines would disagree on). The gain/loss split is CASE-based, not
    // greatest(delta, 0) — greatest() disagrees between engines on NULL
    // inputs. One entity shuffle + in-partition sort, like every E key.
    "win_rsi" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-13, 0)
      Tables.events(s, d)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("dq", col("vq") - lag(col("vq"), 1).over(w))
        .withColumn("gain", sum(
          when(col("dq") > 0, col("dq")).otherwise(when(col("dq").isNotNull, 0L))).over(wf))
        .withColumn("loss", sum(
          when(col("dq") < 0, -col("dq")).otherwise(when(col("dq").isNotNull, 0L))).over(wf))
        .withColumn("nd", count(col("dq")).over(wf))
        .select(col("event_id"),
          when(col("nd") === 14 && col("gain") + col("loss") > 0,
            lit(100.0) * col("gain").cast("double") /
              (col("gain") + col("loss")).cast("double")).as("rsi"))
        .orderBy("event_id")
    }),

    // E28 — sample autocorrelation function at lags {1, 2, 24} per event
    // type (added r8): the SEASONALITY DETECTOR that justifies the rest of
    // the forecasting family's structure — an elevated lag-24 reading on an
    // hourly series is the daily cycle `win_holt_winters` models with its
    // season length, and a flat ACF says a trend-only smoother (holt/
    // kalman) suffices. Series = the DENSE hourly grid per type (the
    // win_resample sequence/generate_series recipe; missing hours are REAL
    // zero-traffic hours — leaving them out would misalign lag 24 away
    // from "same hour yesterday"), values exact 1e-4-unit integer hourly
    // sums. ACF via expanded moments so everything before the final divide
    // is ORDER-FREE exact integer arithmetic (the agg_trend_slope
    // discipline): with S1=Σx, S2=Σx², and per lag ℓ the head/tail/cross
    // sums A=Σ_{t≤n−ℓ}x, B=Σ_{t>ℓ}x, Sℓ=Σx_t·x_{t+ℓ} (all DECIMAL(38,0)/
    // HUGEINT), r_ℓ = (n²Sℓ − n·S1·A − n·S1·B + (n−ℓ)·S1²)/(n²S2 − n·S1²)
    // — ONE IEEE divide of two exact integers, floor-1e-6. Flat series
    // (zero variance) and ℓ ≥ n yield NULL on both engines. One counting
    // scan + one type-keyed window over the ≤ types·hours summary grid —
    // everything past the first groupBy is summary-sized at any corpus.
    // W — AR(1) fit + one-step forecast (added r11): the model the acf
    // key only diagnoses, actually FIT — conditional least squares over
    // consecutive pairs of the zero-filled hourly series (x_{t+1} =
    // c + φ·x_t + ε): φ = (m·S11 − S1·S2)/(m·S00 − S1²) from EXACT
    // DECIMAL(38,0) moments of 1e4-quantized values (the win_acf
    // discipline — order-free integer sums, division deferred), then c
    // and the one-step forecast c + φ·x_last as a fixed chain of IEEE
    // ops on exactly-cast decimals — bit-identical cross-engine,
    // floor-1e-6/1e-4 at the edge. One groupBy over the lead-paired
    // grid: linear, map-side partial, no iteration — a per-entity
    // forecaster at fleet scale is one aggregation pass. Entities with
    // fewer than 3 grid hours or a constant series (zero variance
    // denominator) are excluded on both engines.
    "win_ar1" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val ev = Tables.events(s, d)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          floor(col("value") * 1e4).cast("long").as("vq"))
      val hourly = ev.groupBy("event_type", "h").agg(sum(col("vq")).as("xq"))
      val bounds = ev.groupBy("event_type")
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = bounds.select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      val dense = grid.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"), coalesce(col("xq"), lit(0L)).as("xq"))
      val w = Window.partitionBy("event_type").orderBy("h")
      val led = dense.withColumn("x1", lead(col("xq"), 1).over(w))
      val xd = col("xq").cast(dec)
      val st = led.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(when(col("x1").isNotNull, xd)).as("s1"),
        sum(col("x1").cast(dec)).as("s2"),
        sum(when(col("x1").isNotNull, xd * xd)).as("s00"),
        sum(xd * col("x1").cast(dec)).as("s11"),
        // the dense grid's only null lead is the final row: x_last
        max(when(col("x1").isNull, col("xq"))).as("xlast"))
      val m = (col("n") - 1).cast(dec)
      val num = m * col("s11") - col("s1") * col("s2")
      val den = m * col("s00") - col("s1") * col("s1")
      val phi = num.cast("double") / den.cast("double")
      val c0 = (col("s2").cast("double") - phi * col("s1").cast("double")) / m.cast("double")
      val fc = (c0 + phi * col("xlast").cast("double")) / 1e4
      st.where(col("n") >= 3 && den =!= lit(0).cast(dec))
        .select(col("event_type"), col("n").as("n_hours"),
          (floor(phi * 1e6) / 1e6).as("phi"),
          (floor(fc * 1e4) / 1e4).as("forecast_next"))
        .orderBy("event_type")
    }),

    "win_acf" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val ev = Tables.events(s, d)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          floor(col("value") * 1e4).cast("long").as("vq"))
      val hourly = ev.groupBy("event_type", "h").agg(sum(col("vq")).as("xq"))
      val bounds = ev.groupBy("event_type")
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = bounds.select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      val dense = grid.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"), coalesce(col("xq"), lit(0L)).as("xq"))
      val w = Window.partitionBy("event_type").orderBy("h")
      val led = dense
        .withColumn("x1", lead(col("xq"), 1).over(w))
        .withColumn("x2", lead(col("xq"), 2).over(w))
        .withColumn("x24", lead(col("xq"), 24).over(w))
      val xd = col("xq").cast(dec)
      def lagAggs(c: String) = Seq(
        sum(xd * col(c).cast(dec)).as(s"sl_$c"),
        sum(when(col(c).isNotNull, xd)).as(s"a_$c"),
        sum(col(c).cast(dec)).as(s"b_$c"))
      val aggs = Seq(sum(xd).as("s1"), sum(xd * xd).as("s2")) ++
        lagAggs("x1") ++ lagAggs("x2") ++ lagAggs("x24")
      val st = led.groupBy("event_type")
        .agg(count(lit(1)).as("n"), aggs: _*)
      val nD = col("n").cast(dec)
      def acf(c: String, lag: Int) = {
        val num = nD * nD * col(s"sl_$c") - nD * col("s1") * col(s"a_$c") -
          nD * col("s1") * col(s"b_$c") +
          (nD - lit(lag).cast(dec)) * col("s1") * col("s1")
        val den = nD * nD * col("s2") - nD * col("s1") * col("s1")
        when(den =!= lit(0).cast(dec) && col(s"sl_$c").isNotNull,
          floor(num.cast("double") / den.cast("double") * 1e6) / 1e6)
      }
      st.select(col("event_type"), col("n").as("n_hours"),
          acf("x1", 1).as("acf1"), acf("x2", 2).as("acf2"),
          acf("x24", 24).as("acf24"))
        .select(col("event_type"), col("n_hours"),
          expr("stack(3, CAST(1 AS BIGINT), acf1, CAST(2 AS BIGINT), acf2, " +
            "CAST(24 AS BIGINT), acf24) AS (lag, acf)"))
        .orderBy("event_type", "lag")
    }),

    // E32 — rolling OLS regression (added r9): per-user trailing-16-point
    // slope / intercept / R² — the local-trend readout dashboards draw as
    // a "trend arrow" per entity, strictly stronger than win_moving_avg's
    // level and cheaper than win_theil_sen's robust variant. Exactness
    // route: the regressor x is the FRAME POSITION (0..15, oldest first),
    // expressed as 16 lag() taps over one window pass — so Σx/Σx² are
    // compile-time constants (120 / 1240), Σxy = Σₚ p·lag(y, 15−p) and Σy
    // are exact µ-unit longs, Σy² accumulates in DECIMAL(38,0)/HUGEINT,
    // and x never grows with history length (no row_number·value overflow
    // at any series length). Emitted only on full frames; one shuffle on
    // the user key; all divisions guarded, readouts floor-1e-4.
    "win_rolling_regression" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val base = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
      // y at frame position p (0 = oldest of the 16) is lag(vq, 15-p)
      val taps = (0 to 15).map(p => lag(col("vq"), 15 - p).over(w).as(s"y$p"))
      val withTaps = base.select((col("event_id") +: col("user_id") +: taps): _*)
      val sy = (0 to 15).map(p => col(s"y$p")).reduce(_ + _)
      val sxy = (1 to 15).map(p => lit(p.toLong) * col(s"y$p")).reduce(_ + _)
      val sy2 = (0 to 15).map(p => (col(s"y$p") * col(s"y$p")).cast(dec)).reduce(_ + _)
      // n=16, Σx=120, Σx²=1240 ⇒ nΣx²−(Σx)² = 5440
      val num = lit(16.0) * sxy.cast("double") - lit(120.0) * sy.cast("double")
      val denY = lit(16.0) * sy2.cast("double") -
        sy.cast("double") * sy.cast("double")
      withTaps
        .where(col("y0").isNotNull)
        .select(col("event_id"),
          (floor(num / lit(5440.0) * 1e4) / 1e4).as("slope"),
          (floor((lit(1240.0) * sy.cast("double") - lit(120.0) * sxy.cast("double"))
            / lit(5440.0) * 1e4) / 1e4).as("intercept"),
          when(denY > 0,
            floor(num * num / (lit(5440.0) * denY) * 1e4) / 1e4).as("r2"))
        .orderBy("event_id")
    }),

    // E33 — Bollinger bands (added r9): trailing-8-point mean ± 2σ per
    // user with a breakout flag — the volatility-envelope companion to
    // win_rsi on the same (user, ts) series. Rolling Σy (long) and Σy²
    // (DECIMAL/HUGEINT) over one [-7,0] frame; σ from the exact-integer
    // population-variance identity (nΣy²−(Σy)²)/n²; bands and flag read
    // out through identical IEEE expressions both engines, floor-1e-4.
    // Full frames only; one shuffle on the user key.
    "win_bollinger" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-7, 0)
      val base = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("n", count(col("vq")).over(wf))
        .withColumn("s1", sum(col("vq")).over(wf))
        .withColumn("s2", sum(col("vq").cast(dec) * col("vq")).over(wf))
      val mean = col("s1").cast("double") / lit(8.0)
      val sigma = sqrt((lit(8.0) * col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double")) / lit(64.0))
      val upper = mean + lit(2.0) * sigma
      val lower = mean - lit(2.0) * sigma
      base.where(col("n") === 8)
        .select(col("event_id"),
          (floor(mean / 1e6 * 1e4) / 1e4).as("mid"),
          (floor(upper / 1e6 * 1e4) / 1e4).as("upper"),
          (floor(lower / 1e6 * 1e4) / 1e4).as("lower"),
          when(col("vq").cast("double") > upper, lit(1L))
            .when(col("vq").cast("double") < lower, lit(-1L))
            .otherwise(lit(0L)).as("breakout"))
        .orderBy("event_id")
    }),

    // E34 — offline changepoint detection (added r9): per-user single
    // best mean-shift split by SSE reduction (binary segmentation's first
    // step — the OFFLINE complement to win_cusum's online alarm: "did the
    // level shift, and when?"). Every split candidate is priced from
    // prefix/total sums in one window pass — SSE(seg) = Σy²−(Σy)²/n from
    // exact µ-unit longs (Σy² in DECIMAL/HUGEINT) — so the plan is one
    // user-keyed sort, no per-split rescan. The winning split per user is
    // row_number()=1 ordered by (sse_split, event_id) — a float ORDER on
    // identically-computed doubles plus an integer tiebreak, hash-safe on
    // both engines. Gain readout guarded for constant series, floor-1e-4.
    "win_changepoint" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val wp = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wAll = Window.partitionBy("user_id")
      val base = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("nl", count(col("vq")).over(wp))
        .withColumn("s1l", sum(col("vq")).over(wp))
        .withColumn("s2l", sum(col("vq").cast(dec) * col("vq")).over(wp))
        .withColumn("n", count(col("vq")).over(wAll))
        .withColumn("s1", sum(col("vq")).over(wAll))
        .withColumn("s2", sum(col("vq").cast(dec) * col("vq")).over(wAll))
        .where(col("nl") < col("n") && col("n") >= 2)
      def sse(n: org.apache.spark.sql.Column, s1: org.apache.spark.sql.Column,
              s2: org.apache.spark.sql.Column) =
        s2.cast("double") - s1.cast("double") * s1.cast("double") / n.cast("double")
      val scored = base
        .withColumn("sse_full", sse(col("n"), col("s1"), col("s2")))
        .withColumn("sse_split",
          sse(col("nl"), col("s1l"), col("s2l")) +
            sse(col("n") - col("nl"), col("s1") - col("s1l"),
              col("s2") - col("s2l")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("sse_split"), col("event_id"))))
      scored.where(col("rn") === 1)
        .select(col("user_id"), col("n"), col("event_id").as("split_event_id"),
          col("nl").as("n_left"),
          (floor(col("sse_full") / 1e12 * 1e4) / 1e4).as("sse_full"),
          (floor(col("sse_split") / 1e12 * 1e4) / 1e4).as("sse_split"),
          when(col("sse_full") > 0,
            floor((col("sse_full") - col("sse_split")) / col("sse_full") * 1e4) / 1e4)
            .as("gain"))
        .orderBy("user_id")
    }),

    // E35 — MACD (added r10): the convergence/divergence pair of bounded-
    // history EMAs (12/26, α = 2/(n+1)) plus the 9-EMA signal line and the
    // histogram/crossover flag — the classic momentum readout, and the
    // nested-recursion showcase: the signal line is an EMA OF an EMA
    // difference, so each row prices 9 MACD taps (one per trailing
    // position), each from two 33-sample sequential folds over the same
    // collected frame. All folds are the win_ewma bit-identical
    // sequential-fold discipline (Spark aggregate ↔ DuckDB list_reduce,
    // same seed, same α spelled as a double-division literal); 18 folds ×
    // 32 steps is a fixed per-row constant, one user-keyed shuffle, full
    // 41-sample frames only. floor-1e-4; the crossover sign reads the
    // unfloored doubles (identical on both engines).
    "win_macd" -> ((s, d) => {
      // MACD is computed ONCE per row (two folds over the 33-frame); the
      // signal line's 9 taps come from lag() over the already-computed
      // column — the tap at offset j IS the MACD of the row j back
      // (full frames are consecutive per user), so this is value-identical
      // to refolding 18 EMAs per row at an 8× lower constant (measured:
      // 16 s → ~2 s at sf0.1).
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-32, 0)
      val wl = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val base = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("l", collect_list(col("value")).over(w))
        .where(size(col("l")) === 33)
        .withColumn("m_raw", expr(s"${emaLSpark(2, 13)} - ${emaLSpark(2, 27)}"))
      val taps = (8 to 1 by -1).map(j => lag(col("m_raw"), j).over(wl)) :+ col("m_raw")
      base
        .withColumn("m", array(taps: _*))
        .where(element_at(col("m"), 1).isNotNull)
        .withColumn("macd_raw", expr("element_at(m, 9)"))
        .withColumn("sig_raw", expr(
          "aggregate(slice(m, 2, 8), CAST(element_at(m, 1) AS DOUBLE), " +
            "(acc, x) -> 0.2D * x + 0.8D * acc)"))
        .select(col("event_id"),
          (floor(col("macd_raw") * 1e4) / 1e4).as("macd"),
          (floor(col("sig_raw") * 1e4) / 1e4).as("signal"),
          (floor((col("macd_raw") - col("sig_raw")) * 1e4) / 1e4).as("hist"),
          when(col("macd_raw") > col("sig_raw"), lit(1L))
            .when(col("macd_raw") < col("sig_raw"), lit(-1L))
            .otherwise(lit(0L)).as("crossover"))
        .orderBy("event_id")
    }),

    // E36 — stochastic oscillator (added r10): %K = position of the
    // current sample inside its trailing-14 min/max envelope, %D = 3-tap
    // average of %K, zone flag at the 80/20 bands — the range-position
    // momentum companion to win_rsi (gain-ratio) and win_bollinger
    // (σ-envelope) on the same per-user series. %K is a single IEEE
    // divide of exact µ-long differences; %D sums the three ALREADY
    // FLOORED %K taps left-associatively via lag (no window sum — 3
    // identical doubles added in one expression order on both engines).
    // Flat envelopes (max = min) pin %K at 50 by convention. Full frames
    // only; one user-keyed shuffle, two frames over the same sort.
    "win_stochastic" -> ((s, d) => {
      val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-13, 0)
      val wl = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("n", count(col("vq")).over(wf))
        .withColumn("mn", min(col("vq")).over(wf))
        .withColumn("mx", max(col("vq")).over(wf))
        .where(col("n") === 14)
        .withColumn("k", when(col("mx") > col("mn"),
          floor((col("vq") - col("mn")).cast("double")
            / (col("mx") - col("mn")).cast("double") * lit(100.0) * 1e4) / 1e4)
          .otherwise(lit(50.0)))
        .withColumn("d", floor((lag(col("k"), 2).over(wl) + lag(col("k"), 1).over(wl)
          + col("k")) / lit(3.0) * 1e4) / 1e4)
        .select(col("event_id"), col("user_id"),
          col("k").as("k_pct"), col("d").as("d_pct"),
          when(col("k") > 80.0, lit(1L)).when(col("k") < 20.0, lit(-1L))
            .otherwise(lit(0L)).as("zone"))
        .orderBy("event_id")
    }),

    // E37 — cumulative VWAP per part (added r10): the volume-weighted
    // running average unit price over each part's shipment history — the
    // execution-quality benchmark every trading/pricing stack serves, and
    // the canonical weighted running ratio: both running sums are exact
    // integer windows (cents / whole units, truncated with explicit
    // floor() — DuckDB CAST double→int ROUNDS while Spark's truncates, so
    // neither side uses bare CAST), the readout one IEEE divide per row.
    // Partitioned by part key (cardinality grows with the data — no
    // low-cardinality funnel), one shuffle, one sort.
    "win_vwap" -> ((s, d) => {
      // (shipdate, orderkey, linenumber) is not guaranteed unique in the
      // synthetic lineitem — the two value columns close the total order
      // so the running sums are deterministic by construction
      val w = Window.partitionBy("l_partkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("pc"), col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .withColumn("pc", floor(col("l_extendedprice") * lit(100.0)).cast("long"))
        .withColumn("q", floor(col("l_quantity")).cast("long"))
        .withColumn("cp", sum(col("pc")).over(w))
        .withColumn("cq", sum(col("q")).over(w))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          (floor(col("cp").cast("double") / col("cq").cast("double")
            / lit(100.0) * 1e4) / 1e4).as("vwap"),
          col("cq").as("cum_qty"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // E38 — Wald–Wolfowitz runs test per user (added r10): is the
    // direction of consecutive value changes random, or does it trend/
    // mean-revert? Signs of nonzero µ-long deltas (zero deltas dropped —
    // exact integer comparison), runs counted as 1 + sign changes via a
    // second lag over the SAME user-keyed sort, and the closed-form
    // z-statistic (μ = 1 + 2n₁n₂/n, σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1)))
    // computed in DOUBLE from the exact counts with identical IEEE op
    // order. Degenerate users (single sign, or 2n₁n₂ = n ⇒ σ = 0) emit
    // NULL via the guard. One shuffle; all per-row work exact ints.
    "win_runs_test" -> ((s, d) => {
      val wl = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val sg = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("dlt", col("vq") - lag(col("vq"), 1).over(wl))
        .where(col("dlt").isNotNull && col("dlt") =!= 0L)
        .withColumn("sgn", when(col("dlt") > 0, lit(1)).otherwise(lit(-1)))
      val agg = sg
        .withColumn("chg", when(lag(col("sgn"), 1).over(wl).isNull ||
          lag(col("sgn"), 1).over(wl) === col("sgn"), lit(0L)).otherwise(lit(1L)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_signs"),
          sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_neg"),
          (sum(col("chg")) + lit(1L)).as("runs"))
      val n1 = col("n_pos").cast("double")
      val n2 = col("n_neg").cast("double")
      val nd = col("n_signs").cast("double")
      val t = lit(2.0) * n1 * n2
      val mu = lit(1.0) + t / nd
      val vr = t * (t - nd) / (nd * nd * (nd - lit(1.0)))
      agg.select(col("user_id"), col("n_signs"), col("n_pos"), col("n_neg"), col("runs"),
        when(col("n_pos") > 0 && col("n_neg") > 0 && col("n_signs") > 1 &&
          col("n_pos") * col("n_neg") * 2 > col("n_signs"),
          floor((col("runs").cast("double") - mu) / sqrt(vr) * 1e4) / 1e4).as("z"))
        .orderBy("user_id")
    }),

    // E39 — rolling R/S (rescaled-range) Hurst estimate per user (added
    // r10): trending (H>0.5) vs mean-reverting (H<0.5) vs random-walk —
    // the long-memory diagnostic over the trailing-32 frame. The entire
    // statistic is EXACT-INTEGER until two final IEEE ops: the cumulative
    // deviations are scaled by n (32·prefix_k − k·Σx — exact longs, so
    // the range R needs no float at all), n·S uses the variance identity
    // on exact DECIMAL/HUGEINT moments, and rs = R_scaled/√(nΣx²−(Σx)²)
    // (the 1/32 scalings cancel). H = ln(rs)/ln(n/2) — the single-window
    // R/S estimate (a full Hurst regresses log R/S over scales; this is
    // its per-scale kernel). One integer fold per row (32 steps), one
    // user-keyed shuffle; constant series NULL via the variance guard.
    "win_hurst" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-31, 0)
      val base = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("n", count(col("vq")).over(wf))
        .withColumn("s1", sum(col("vq")).over(wf))
        .withColumn("s2", sum(col("vq").cast(dec) * col("vq")).over(wf))
        .withColumn("l", collect_list(col("vq")).over(wf))
        .where(col("n") === 32)
        .withColumn("rng", expr(
          """aggregate(l,
            |  named_struct('k', 0L, 'run', 0L,
            |    'mn', 9223372036854775807L, 'mx', -9223372036854775807L),
            |  (acc, x) -> named_struct(
            |    'k', acc.k + 1L,
            |    'run', acc.run + x,
            |    'mn', least(acc.mn, 32L * (acc.run + x) - (acc.k + 1L) * s1),
            |    'mx', greatest(acc.mx, 32L * (acc.run + x) - (acc.k + 1L) * s1)),
            |  acc -> acc.mx - acc.mn)""".stripMargin))
        .withColumn("varn", (lit(32).cast(dec) * col("s2")
          - col("s1").cast(dec) * col("s1")).cast("double"))
      base.select(col("event_id"), col("user_id"),
          when(col("varn") > 0,
            floor(col("rng").cast("double") / sqrt(col("varn")) * 1e4) / 1e4).as("rs"),
          when(col("varn") > 0,
            floor(log(col("rng").cast("double") / sqrt(col("varn")))
              / log(lit(16.0)) * 1e4) / 1e4).as("hurst"))
        .orderBy("event_id")
    }),

    // E40 — per-entity series feature vector (added r10): the tsfresh-lite
    // extraction pass a downstream model consumes — n, mean, std, lag-1
    // autocorrelation, linear trend slope, mean-crossing rate — over each
    // user's full value series in ONE user-keyed sort (two frames). Every
    // moment is an exact integer: acf1's numerator/denominator are
    // multiplied through by n² so no mean ever divides early
    // (n²Σ′xy − n·Σx·(Σx−last + Σx−first) + (n−1)(Σx)² over
    // DECIMAL(38)/HUGEINT — exact to n ≈ 3·10⁶ samples per entity, past
    // which the expanded-double form takes over — documented envelope);
    // the trend regressor is the row position with CLOSED-FORM Σt and
    // Σt²; mean crossings compare n·x vs Σx in exact decimals (no
    // division). Each feature is one final IEEE expression, floor-1e-4.
    "win_series_features" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val wAll = Window.partitionBy("user_id")
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val base = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("nn", count(col("vq")).over(wAll))
        .withColumn("s1", sum(col("vq")).over(wAll))
        .withColumn("t", row_number().over(wOrd))
        .withColumn("nxt", lead(col("vq"), 1).over(wOrd))
        .withColumn("above",
          (col("nn").cast(dec) * col("vq")) > col("s1").cast(dec))
        .withColumn("aboveNxt", lead(col("above"), 1).over(wOrd))
      val agg = base.groupBy("user_id")
        .agg(
          max("nn").as("n"), max("s1").as("s1v"),
          sum((col("vq").cast(dec) * col("vq"))).as("s2"),
          sum(when(col("nxt").isNotNull, col("vq").cast(dec) * col("nxt"))
            .otherwise(lit(0).cast(dec))).as("sxy"),
          sum(col("t").cast(dec) * col("vq")).as("stx"),
          min(when(col("t") === 1, col("vq"))).as("first"),
          max(when(col("t") === col("nn"), col("vq"))).as("last"),
          sum(when(col("aboveNxt").isNotNull && col("above") =!= col("aboveNxt"), 1L)
            .otherwise(0L)).as("crossings"))
      val varn = (col("n").cast(dec) * col("s2")
        - col("s1v").cast(dec) * col("s1v")).cast("double")
      // acf1 ·n²: n²Σ′xy − n·s1·(2s1 − last − first) + (n−1)·s1²
      val acfNum = (col("n").cast(dec) * col("n") * col("sxy")
        - col("n").cast(dec) * col("s1v")
          * (lit(2).cast(dec) * col("s1v") - col("last") - col("first"))
        + (col("n") - 1).cast(dec) * col("s1v") * col("s1v")).cast("double")
      val acfDen = (col("n").cast(dec)
        * (col("n").cast(dec) * col("s2") - col("s1v").cast(dec) * col("s1v")))
        .cast("double")
      // slope: Σt = n(n+1)/2, Σt² = n(n+1)(2n+1)/6 closed-form
      val st = (col("n").cast(dec) * (col("n") + 1) / 2)
      val stt = (col("n").cast(dec) * (col("n") + 1) * (lit(2).cast(dec) * col("n") + 1) / 6)
      val slNum = (col("n").cast(dec) * col("stx") - st * col("s1v")).cast("double")
      val slDen = (col("n").cast(dec) * stt - st * st).cast("double")
      val n = col("n").cast("double")
      val s1d = col("s1v").cast("double")
      agg.select(col("user_id"), col("n"),
          (floor(s1d / n / 1e6 * 1e4) / 1e4).as("mean"),
          when(varn > 0, floor(sqrt(varn) / n / 1e6 * 1e4) / 1e4).as("std"),
          when(varn > 0 && col("n") > 2, floor(acfNum / acfDen * 1e4) / 1e4).as("acf1"),
          when(col("n") > 1, floor(slNum / slDen / 1e6 * 1e4) / 1e4).as("trend_slope"),
          when(col("n") > 1, floor(col("crossings").cast("double") / (n - 1.0) * 1e4) / 1e4)
            .as("crossing_rate"))
        .orderBy("user_id")
    }),

    // E41 — SAX symbolization (added r10): the trailing-16 frame reduced
    // to a 4-symbol word — PAA (4 segment means) then z-normalized
    // against the frame and mapped through the 4-letter Gaussian
    // breakpoints (−0.6745, 0, 0.6745) — the time-series INDEXING
    // primitive (similar shapes ⇒ similar words ⇒ motif/anomaly lookups
    // become string equality, the llm_fingerprint trick for series).
    // Exactness: segment sums and frame moments are exact integers; the
    // z-score of each PAA mean is (16·segsum·4⁻¹·... ) — computed as one
    // IEEE expression of exact ints on both engines; breakpoint compares
    // on identical doubles. Flat frames (σ=0) emit the all-mid word
    // "bbbb" by convention. One user-keyed shuffle, full frames only.
    "win_sax" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-15, 0)
      val base = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("n", count(col("vq")).over(wf))
        .withColumn("s1", sum(col("vq")).over(wf))
        .withColumn("s2", sum(col("vq").cast(dec) * col("vq")).over(wf))
        .withColumn("l", collect_list(col("vq")).over(wf))
        .where(col("n") === 16)
      // z of the k-th PAA mean against the frame: PAA = segsum/4,
      // mean = s1/16, σ = √(16·s2 − s1²)/16 ⇒ the 16s cancel and
      // z_k = (4·segsum_k − s1) / √varn — numerator an exact long,
      // one IEEE divide
      val segs = (0 to 3).map { k =>
        expr(s"aggregate(slice(l, ${4 * k + 1}, 4), 0L, (acc, x) -> acc + x)")
          .as(s"seg$k")
      }
      val withSegs = base.select((col("event_id") +: col("user_id") +: col("s1")
        +: col("s2") +: segs): _*)
        .withColumn("varn", (lit(16).cast(dec) * col("s2")
          - col("s1").cast(dec) * col("s1")).cast("double"))
      def sym(k: Int) = {
        val z = (col(s"seg$k") * 4 - col("s1")).cast("double") / sqrt(col("varn"))
        when(col("varn") <= 0, lit("b"))
          .when(z < -0.6745, lit("a"))
          .when(z < 0.0, lit("b"))
          .when(z < 0.6745, lit("c"))
          .otherwise(lit("d"))
      }
      withSegs.select(col("event_id"), col("user_id"),
          concat(sym(0), sym(1), sym(2), sym(3)).as("sax_word"))
        .orderBy("event_id")
    }),
  )


  /** win_macd fold pieces: the EMA over the full 33-sample collected
    * frame `l` — Spark HOF and DuckDB list_reduce twins (same seed
    * element, same fold order, α spelled as the same double division). */
  private def emaLSpark(num: Int, den: Int): String =
    s"aggregate(slice(l, 2, 32), CAST(element_at(l, 1) AS DOUBLE), " +
      s"(acc, x) -> ($num.0D / $den.0D) * x + (${den - num}.0D / $den.0D) * acc)"
  private def emaLDuck(num: Int, den: Int): String =
    s"list_reduce(l, (acc, x) -> (CAST($num.0 AS DOUBLE) / $den.0) * x " +
      s"+ (CAST(${den - num}.0 AS DOUBLE) / $den.0) * acc)"

  /** The win_holt_winters oracle's fold pieces (DuckDB 1-based list
    * indexing; state layout [lv, tr, s0..s3, i] mirrors the Spark array). */
  private val hwP = "(CAST(acc[7] AS INT) % 4)"
  private val hwSI = s"acc[$hwP + 3]"
  private val hwLV = s"(0.3 * (x[1] - $hwSI) + 0.7 * (acc[1] + acc[2]))"
  private val hwTR = s"(0.2 * ($hwLV - acc[1]) + 0.8 * acc[2])"
  private val hwSN = s"(0.3 * (x[1] - $hwLV) + 0.7 * $hwSI)"

  /** win_dtw's oracle, generated by the SAME anti-diagonal unroll as the
    * Spark side (cell for cell — the two DPs cannot drift): 15 nested
    * SELECTs each add one wave of named d_i_j columns, because inlining
    * the recurrence would duplicate subtrees 3¹⁴-fold. All-long DP; the
    * warp_gain readout is the lone IEEE expression (lateral alias). */
  private def dtwSql: String = {
    val nested = (2 to 16).foldLeft("SELECT * FROM t WHERE a1 IS NOT NULL") {
      (inner, k) =>
        val cols = for { i <- 1 to 8; j = k - i; if j >= 1 && j <= 8 } yield {
          val c = s"abs(a$i - b$j)"
          val v =
            if (i == 1 && j == 1) c
            else if (i == 1) s"d_1_${j - 1} + $c"
            else if (j == 1) s"d_${i - 1}_1 + $c"
            else s"$c + LEAST(d_${i - 1}_$j, d_${i}_${j - 1}, d_${i - 1}_${j - 1})"
          s"$v AS d_${i}_$j"
        }
        s"SELECT *, ${cols.mkString(", ")} FROM ($inner)"
    }
    val lags = ((1 to 8).map(i => s"lag(vq, ${16 - i}) OVER wf AS a$i") ++
      (1 to 7).map(j => s"lag(vq, ${8 - j}) OVER wf AS b$j")).mkString(", ")
    val l1 = (1 to 8).map(i => s"abs(a$i - b$i)").mkString(" + ")
    s"""WITH e AS (
       |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       |         CAST(floor(value * 1e6) AS BIGINT) AS vq
       |  FROM events WHERE value IS NOT NULL
       |),
       |t AS (
       |  SELECT event_id, user_id, $lags, vq AS b8
       |  FROM e WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id)
       |),
       |dp AS ($nested)
       |SELECT event_id, user_id, d_8_8 AS dtw_microunits,
       |       $l1 AS l1_microunits,
       |       CASE WHEN l1_microunits > 0
       |            THEN floor((1.0 - CAST(d_8_8 AS DOUBLE)
       |                        / CAST(l1_microunits AS DOUBLE)) * 1e4) / 1e4
       |            ELSE 0.0 END AS warp_gain
       |FROM dp ORDER BY event_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "win_ar1" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |         CAST(floor(value * 10000) AS BIGINT) AS vq
        |  FROM events
        |),
        |hourly AS (SELECT event_type, h, sum(vq) AS xq FROM e GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM e GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b),
        |dense AS (
        |  SELECT g.event_type, g.h, CAST(coalesce(hr.xq, 0) AS HUGEINT) AS xq
        |  FROM grid g LEFT JOIN hourly hr ON g.event_type = hr.event_type AND g.h = hr.h
        |),
        |led AS (
        |  SELECT event_type, xq,
        |         lead(xq, 1) OVER (PARTITION BY event_type ORDER BY h) AS x1
        |  FROM dense
        |),
        |st AS (
        |  SELECT event_type, count(*) AS n,
        |         sum(CASE WHEN x1 IS NOT NULL THEN xq END) AS s1,
        |         sum(x1) AS s2,
        |         sum(CASE WHEN x1 IS NOT NULL THEN xq * xq END) AS s00,
        |         sum(xq * x1) AS s11,
        |         max(CASE WHEN x1 IS NULL THEN xq END) AS xlast
        |  FROM led GROUP BY 1
        |),
        |p AS (
        |  SELECT *, CAST((n - 1) * s11 - s1 * s2 AS DOUBLE)
        |         / CAST((n - 1) * s00 - s1 * s1 AS DOUBLE) AS phid
        |  FROM st WHERE n >= 3 AND (n - 1) * s00 - s1 * s1 <> 0
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n_hours,
        |       floor(phid * 1e6) / 1e6 AS phi,
        |       floor(((CAST(s2 AS DOUBLE) - phid * CAST(s1 AS DOUBLE))
        |              / CAST(n - 1 AS DOUBLE)
        |              + phid * CAST(xlast AS DOUBLE)) / 1e4 * 1e4) / 1e4 AS forecast_next
        |FROM p ORDER BY event_type""".stripMargin,
    "win_acf" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |         CAST(floor(value * 10000) AS BIGINT) AS vq
        |  FROM events
        |),
        |hourly AS (SELECT event_type, h, sum(vq) AS xq FROM e GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM e GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b),
        |dense AS (
        |  SELECT g.event_type, g.h, CAST(coalesce(hr.xq, 0) AS HUGEINT) AS xq
        |  FROM grid g LEFT JOIN hourly hr ON g.event_type = hr.event_type AND g.h = hr.h
        |),
        |led AS (
        |  SELECT event_type, xq,
        |         lead(xq, 1) OVER w AS x1,
        |         lead(xq, 2) OVER w AS x2,
        |         lead(xq, 24) OVER w AS x24
        |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY h)
        |),
        |st AS (
        |  SELECT event_type, count(*) AS n, sum(xq) AS s1, sum(xq * xq) AS s2,
        |         sum(xq * x1) AS sl1, sum(CASE WHEN x1 IS NOT NULL THEN xq END) AS a1, sum(x1) AS b1,
        |         sum(xq * x2) AS sl2, sum(CASE WHEN x2 IS NOT NULL THEN xq END) AS a2, sum(x2) AS b2,
        |         sum(xq * x24) AS sl24, sum(CASE WHEN x24 IS NOT NULL THEN xq END) AS a24, sum(x24) AS b24
        |  FROM led GROUP BY 1
        |),
        |u AS (
        |  SELECT event_type, n, 1 AS lag, sl1 AS sl, a1 AS a, b1 AS b, s1, s2 FROM st
        |  UNION ALL
        |  SELECT event_type, n, 2, sl2, a2, b2, s1, s2 FROM st
        |  UNION ALL
        |  SELECT event_type, n, 24, sl24, a24, b24, s1, s2 FROM st
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n_hours, CAST(lag AS BIGINT) AS lag,
        |       CASE WHEN n * n * s2 - n * s1 * s1 <> 0 AND sl IS NOT NULL
        |            THEN floor(CAST(n * n * sl - n * s1 * a - n * s1 * b + (n - lag) * s1 * s1 AS DOUBLE)
        |                 / CAST(n * n * s2 - n * s1 * s1 AS DOUBLE) * 1e6) / 1e6 END AS acf
        |FROM u ORDER BY event_type, lag""".stripMargin,
    "win_holt_winters" ->
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |l AS (
        |  SELECT event_id, user_id,
        |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
        |  FROM e
        |),
        |st AS (
        |  SELECT event_id, user_id,
        |         list_reduce(list_transform(l,
        |             x -> [x, CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 1.0]),
        |           (acc, x) -> [
        |             $hwLV,
        |             $hwTR,
        |             CASE WHEN $hwP = 0 THEN $hwSN ELSE acc[3] END,
        |             CASE WHEN $hwP = 1 THEN $hwSN ELSE acc[4] END,
        |             CASE WHEN $hwP = 2 THEN $hwSN ELSE acc[5] END,
        |             CASE WHEN $hwP = 3 THEN $hwSN ELSE acc[6] END,
        |             acc[7] + 1.0
        |           ]) AS s
        |  FROM l
        |)
        |SELECT event_id, user_id,
        |       floor((s[1] + s[2] + s[CAST(s[7] AS INT) % 4 + 3]) * 10000) / 10000 AS hw_forecast
        |FROM st ORDER BY event_id""".stripMargin,
    // Seeded variant: list_reduce has no seed parameter, so the seed array
    // [mean, 0, s0..s3, 4] is PREPENDED via list_concat and the remaining
    // samples (l[5:]) are wrapped as 7-arrays whose tail slots are unused;
    // the lambda then sees exactly the Spark fold's (acc, x) sequence.
    // list_aggregate(l[1:4],'sum') folds left like Spark's aggregate seed
    // 0.0 + x1 + x2 + x3 + x4 (0.0+x1 == x1 exactly), /4.0 matches /4.0D.
    "win_holt_winters_seeded" ->
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |l AS (
        |  SELECT event_id, user_id,
        |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
        |  FROM e
        |),
        |lm AS (
        |  SELECT event_id, user_id, l,
        |         list_aggregate(l[1:4], 'sum') / 4.0 AS m4
        |  FROM l
        |),
        |st AS (
        |  SELECT event_id, user_id,
        |         CASE WHEN len(l) >= 4 THEN
        |           list_reduce(list_concat(
        |               [[m4, CAST(0.0 AS DOUBLE), l[1] - m4, l[2] - m4, l[3] - m4, l[4] - m4, 4.0]],
        |               list_transform(l[5:], x -> [x, CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0])),
        |             (acc, x) -> [
        |               $hwLV,
        |               $hwTR,
        |               CASE WHEN $hwP = 0 THEN $hwSN ELSE acc[3] END,
        |               CASE WHEN $hwP = 1 THEN $hwSN ELSE acc[4] END,
        |               CASE WHEN $hwP = 2 THEN $hwSN ELSE acc[5] END,
        |               CASE WHEN $hwP = 3 THEN $hwSN ELSE acc[6] END,
        |               acc[7] + 1.0
        |             ])
        |         ELSE
        |           list_reduce(list_transform(l,
        |               x -> [x, CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 1.0]),
        |             (acc, x) -> [
        |               $hwLV,
        |               $hwTR,
        |               CASE WHEN $hwP = 0 THEN $hwSN ELSE acc[3] END,
        |               CASE WHEN $hwP = 1 THEN $hwSN ELSE acc[4] END,
        |               CASE WHEN $hwP = 2 THEN $hwSN ELSE acc[5] END,
        |               CASE WHEN $hwP = 3 THEN $hwSN ELSE acc[6] END,
        |               acc[7] + 1.0
        |             ])
        |         END AS s
        |  FROM lm
        |)
        |SELECT event_id, user_id,
        |       floor((s[1] + s[2] + s[CAST(s[7] AS INT) % 4 + 3]) * 10000) / 10000 AS hw_forecast
        |FROM st ORDER BY event_id""".stripMargin,
    "win_cusum" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |       sum(CAST(floor(value * 1000000) AS BIGINT) - 500000000)
        |         OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |               ROWS UNBOUNDED PRECEDING) / 1000000.0 AS cusum
        |FROM events ORDER BY event_id""".stripMargin,
    "win_page_hinkley" ->
      """WITH m AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         sum(CAST(floor(value * 1000000) AS BIGINT) - 51000000)
        |           OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |                 ROWS UNBOUNDED PRECEDING) AS mq
        |  FROM events
        |),
        |p AS (
        |  SELECT *, min(mq) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS mn
        |  FROM m
        |)
        |SELECT event_id, user_id, ts,
        |       CAST(mq - mn AS DOUBLE) / 1000000.0 AS ph,
        |       CAST(CASE WHEN mq - mn > 200000000 THEN 1 ELSE 0 END AS INTEGER) AS alarm
        |FROM p ORDER BY event_id""".stripMargin,
    // list_reduce seeds with the list head, so the list is pre-transformed
    // to squared µ-returns — seed r₁² and step 0.94·acc + 0.06·x² fall out
    // of the same lambda on both engines (the win_ewma fold idiom).
    "win_ewm_var" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(floor(value * 1000000) AS BIGINT) AS yq
        |  FROM events
        |),
        |r AS (
        |  SELECT event_id, user_id, ts,
        |         yq - lag(yq, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rq
        |  FROM e
        |),
        |l AS (
        |  SELECT event_id, user_id,
        |         list_transform(
        |           list(rq) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS BETWEEN 15 PRECEDING AND CURRENT ROW),
        |           x -> (CAST(x AS DOUBLE) / 1e6) * (CAST(x AS DOUBLE) / 1e6)) AS l2
        |  FROM r WHERE rq IS NOT NULL
        |),
        |v AS (
        |  SELECT event_id, user_id,
        |         list_reduce(l2, (acc, x) -> 0.94 * acc + 0.06 * x) AS v
        |  FROM l
        |)
        |SELECT event_id, user_id,
        |       floor(v * 10000) / 10000 AS ewm_var,
        |       floor(sqrt(v) * 10000) / 10000 AS ewm_vol
        |FROM v ORDER BY event_id""".stripMargin,
    "win_atr" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |         CAST(floor(value * 1000000) AS BIGINT) AS vq
        |  FROM events
        |),
        |bars AS (
        |  SELECT user_id, h, max(vq) AS hq, min(vq) AS lq,
        |         last(vq ORDER BY ts, event_id) AS cq
        |  FROM e GROUP BY user_id, h
        |),
        |tr AS (
        |  SELECT user_id, h,
        |         CASE WHEN lag(cq, 1) OVER w IS NULL THEN hq - lq
        |              ELSE greatest(hq - lq,
        |                            abs(hq - lag(cq, 1) OVER w),
        |                            abs(lq - lag(cq, 1) OVER w)) END AS trq
        |  FROM bars
        |  WINDOW w AS (PARTITION BY user_id ORDER BY h)
        |),
        |f AS (
        |  SELECT user_id, h, trq,
        |         list_reduce(
        |           list_transform(
        |             list(trq) OVER (PARTITION BY user_id ORDER BY h
        |                             ROWS BETWEEN 15 PRECEDING AND CURRENT ROW),
        |             x -> CAST(x AS DOUBLE) / 1e6),
        |           (acc, x) -> (acc * 13.0 + x) / 14.0) AS a
        |  FROM tr
        |)
        |SELECT user_id, h, CAST(trq AS DOUBLE) / 1000000.0 AS tr,
        |       floor(a * 10000) / 10000 AS atr
        |FROM f ORDER BY user_id, h""".stripMargin,
    "win_interpolate" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, round(avg(value), 4) AS v
        |  FROM e GROUP BY 1, 2
        |),
        |b AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
        |  FROM e GROUP BY 1
        |),
        |grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b),
        |j AS (SELECT g.user_id, g.h, hr.v
        |      FROM grid g LEFT JOIN hourly hr ON g.user_id = hr.user_id AND g.h = hr.h),
        |w AS (
        |  SELECT *,
        |         last_value(v IGNORE NULLS) OVER wp AS pv,
        |         last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS pt,
        |         first_value(v IGNORE NULLS) OVER wn AS nv,
        |         first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wn AS nt
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY h
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY h
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT user_id, h, v,
        |       floor((CASE WHEN v IS NOT NULL THEN v
        |                   WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |                     pv + (nv - pv)
        |                       * CAST(epoch_us(h) - epoch_us(pt) AS DOUBLE)
        |                       / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE)
        |                   ELSE coalesce(pv, nv) END) * 10000) / 10000 AS interp
        |FROM w ORDER BY user_id, h""".stripMargin,
    "win_counter_rate" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |l AS (
        |  SELECT event_id, user_id, value,
        |         lag(value) OVER w AS prev_v,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS du
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |f AS (
        |  SELECT event_id, user_id,
        |         CASE WHEN value - prev_v < 0 THEN value ELSE value - prev_v END AS eff, du
        |  FROM l WHERE prev_v IS NOT NULL
        |)
        |SELECT event_id, user_id, round(eff, 4) AS delta,
        |       round(eff * 1000000.0 / nullif(CAST(du AS DOUBLE), 0.0), 4) AS rate_per_s
        |FROM f ORDER BY event_id""".stripMargin,
    "win_gap_detect" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (
        |  SELECT user_id, event_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM e
        |)
        |SELECT user_id, event_id, prev_ts, ts,
        |       (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS gap_s
        |FROM l
        |WHERE epoch_us(ts) - epoch_us(prev_ts) > CAST(86400 AS BIGINT) * 1000000
        |ORDER BY user_id, event_id""".stripMargin,
    "win_topn_group" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(rn AS INTEGER) AS rn, CAST(rnk AS INTEGER) AS rnk, CAST(drnk AS INTEGER) AS drnk,
        |       round(o_totalprice, 4) AS total
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk
        |  FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
        |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "win_lag_delta" ->
      """SELECT event_id, user_id,
        |       round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) + 0 AS delta
        |FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
        |ORDER BY event_id""".stripMargin,
    "win_moving_avg" ->
      """SELECT event_id,
        |       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS ma
        |FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
        |ORDER BY event_id""".stripMargin,
    "win_range_frame" ->
      """SELECT o_orderkey,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "win_analytic" ->
      """SELECT c_custkey, CAST(ntile(4) OVER w AS INTEGER) AS nt,
        |       round(percent_rank() OVER w, 4) AS pr, round(cume_dist() OVER w, 4) AS cd
        |FROM customer WINDOW w AS (ORDER BY c_acctbal, c_custkey) ORDER BY c_custkey""".stripMargin,
    "win_first_last" ->
      """SELECT event_id, round(first_value(value) OVER w, 4) AS fv,
        |       round(last_value(value) OVER w, 4) AS lv
        |FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) ORDER BY event_id""".stripMargin,
    "win_ignore_nulls" ->
      """SELECT event_id, user_id,
        |       CASE WHEN value >= 25 THEN round(value, 4) END AS v,
        |       last_value(CASE WHEN value >= 25 THEN round(value, 4) END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
        |ORDER BY event_id""".stripMargin,
    "win_resample" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, round(avg(value), 4) AS v,
        |         count(*) AS n_obs
        |  FROM e GROUP BY 1, 2
        |),
        |b AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
        |  FROM e GROUP BY 1
        |),
        |grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b)
        |SELECT g.user_id, g.h, hr.v,
        |       last_value(hr.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.h
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |       coalesce(hr.n_obs, 0) AS n_obs
        |FROM grid g LEFT JOIN hourly hr ON g.user_id = hr.user_id AND g.h = hr.h
        |ORDER BY g.user_id, g.h""".stripMargin,
    "win_session_batch" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |l AS (
        |  SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM e
        |),
        |g AS (
        |  SELECT *, sum(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |                     THEN 1 ELSE 0 END)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM l
        |)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM g GROUP BY user_id, session_no ORDER BY user_id, session_no""".stripMargin,
    "win_peak_detect" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(floor(value * 1e6) AS BIGINT) AS vq
        |  FROM events WHERE value IS NOT NULL
        |),
        |w AS (
        |  SELECT event_id, user_id, vq,
        |         lag(vq, 2) OVER wf AS m2, lag(vq, 1) OVER wf AS m1,
        |         lead(vq, 1) OVER wf AS p1, lead(vq, 2) OVER wf AS p2
        |  FROM e WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT event_id, user_id, vq AS value_microunits,
        |       vq - GREATEST(m2, m1, p1, p2) AS prominence_microunits
        |FROM w
        |WHERE m2 IS NOT NULL AND m1 IS NOT NULL AND p1 IS NOT NULL AND p2 IS NOT NULL
        |  AND vq > m2 AND vq > m1 AND vq > p1 AND vq > p2
        |ORDER BY event_id""".stripMargin,
    "win_dtw" -> dtwSql,
    "win_zscore_anomaly" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |w AS (
        |  SELECT event_id, user_id, value,
        |         avg(value) OVER wf AS mu,
        |         stddev_samp(value) OVER wf AS sd,
        |         count(value) OVER wf AS n_prior
        |  FROM e WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        |),
        |z AS (
        |  SELECT event_id, user_id,
        |         CASE WHEN n_prior >= 5 AND sd > 0
        |              THEN round((value - mu) / sd, 4) + 0 END AS z
        |  FROM w
        |)
        |SELECT event_id, user_id, z, coalesce(abs(z) > 2.0, false) AS is_anomaly
        |FROM z ORDER BY event_id""".stripMargin,
    "win_ewma" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |l AS (
        |  SELECT event_id, user_id,
        |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
        |  FROM e
        |)
        |SELECT event_id, user_id,
        |       floor(list_reduce(l, (acc, x) -> 0.25 * x + 0.75 * acc) * 10000) / 10000 AS ewma
        |FROM l ORDER BY event_id""".stripMargin,
    // Same two-state fold as the Spark side, with the (lv, tr) pair held
    // in a 2-element DOUBLE[] — NOT a struct: DuckDB 1.0's list_reduce
    // evaluates a struct-literal lambda's fields with in-place accumulator
    // updates (a later field referencing acc.lv sees the NEW lv; probed
    // directly, {'a': acc.a+1, 'b': acc.a} folds to b==a). List literals
    // evaluate all elements against the old accumulator, matching Spark's
    // named_struct semantics exactly. list_reduce seeds from the first
    // element, so the list is pre-lifted to [x, 0] pairs — the seed
    // becomes (x₀, 0) exactly like the Spark init.
    // the Croston fold mirrored with list_reduce (seed prepended — DuckDB
    // folds from the first element); literals promote to DOUBLE against
    // the DOUBLE state array, the win_holt precedent
    "win_croston" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value
        |  FROM events
        |),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
        |u AS (SELECT DISTINCT user_id FROM e),
        |spine AS (
        |  SELECT u.user_id, CAST(g.g AS DATE) AS day
        |  FROM u CROSS JOIN b
        |       CROSS JOIN LATERAL (SELECT unnest(generate_series(
        |         CAST(b.lo AS TIMESTAMP), CAST(b.hi AS TIMESTAMP), INTERVAL 1 DAY)) AS g) g
        |),
        |dl AS (
        |  SELECT user_id, day,
        |         sum(CASE WHEN event_id % 37 = 0
        |                  THEN CAST(floor(value * 1e6) AS BIGINT) ELSE 0 END) AS demand
        |  FROM e GROUP BY 1, 2
        |),
        |grid AS (
        |  SELECT s.user_id, s.day, coalesce(dl.demand, 0) AS demand
        |  FROM spine s LEFT JOIN dl USING (user_id, day)
        |),
        |ser AS (
        |  SELECT user_id, count(*) AS n_days,
        |         CAST(sum(CASE WHEN demand > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_demand_days,
        |         list(CAST(demand AS DOUBLE) ORDER BY day) AS ds
        |  FROM grid GROUP BY 1
        |),
        |st AS (
        |  SELECT user_id, n_days, n_demand_days,
        |         list_reduce(
        |           [[CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)]]
        |             || list_transform(ds, x -> [x, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)]),
        |           (acc, e2) -> CASE
        |             WHEN e2[1] > 0 AND acc[4] = 0 THEN [e2[1], acc[3] + 1.0, 0.0, 1.0]
        |             WHEN e2[1] > 0 THEN [0.2 * e2[1] + 0.8 * acc[1],
        |                                  0.2 * (acc[3] + 1.0) + 0.8 * acc[2], 0.0, 1.0]
        |             ELSE [acc[1], acc[2], acc[3] + 1.0, acc[4]] END) AS s
        |  FROM ser
        |)
        |SELECT user_id, n_days, n_demand_days,
        |       CASE WHEN s[4] > 0 THEN floor(s[1] / 1e2) / 1e4 END AS z_microunits_4dp,
        |       CASE WHEN s[4] > 0 THEN floor(s[2] * 1e4) / 1e4 END AS p_days,
        |       CASE WHEN s[4] > 0 THEN floor(s[1] / s[2] / 1e2) / 1e4 END AS croston_forecast
        |FROM st ORDER BY user_id""".stripMargin,
    "win_holt" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |l AS (
        |  SELECT event_id, user_id,
        |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
        |  FROM e
        |),
        |st AS (
        |  SELECT event_id, user_id,
        |         list_reduce(list_transform(l, x -> [x, CAST(0.0 AS DOUBLE)]),
        |           (acc, x) -> [0.3 * x[1] + 0.7 * (acc[1] + acc[2]),
        |                        0.4 * ((0.3 * x[1] + 0.7 * (acc[1] + acc[2])) - acc[1])
        |                        + 0.6 * acc[2]]) AS s
        |  FROM l
        |)
        |SELECT event_id, user_id,
        |       floor((s[1] + s[2]) * 10000) / 10000 AS holt_forecast
        |FROM st ORDER BY event_id""".stripMargin,
    "win_forecast_eval" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |l AS (
        |  SELECT event_id, user_id, value,
        |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING) AS l
        |  FROM e
        |),
        |f AS (
        |  SELECT user_id, value,
        |         list_reduce(list_transform(l, x -> [CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)]),
        |           (acc, x) -> [0.3 * x[1] + 0.7 * (acc[1] + acc[2]),
        |                        0.4 * ((0.3 * x[1] + 0.7 * (acc[1] + acc[2])) - acc[1])
        |                        + 0.6 * acc[2]]) AS s
        |  FROM l WHERE len(l) >= 1
        |),
        |er AS (
        |  SELECT user_id, value - (s[1] + s[2]) AS err, value FROM f
        |),
        |ag AS (
        |  SELECT user_id, count(*) AS n_eval,
        |         sum(CAST(floor(err * 1e6) AS HUGEINT)) AS seq,
        |         sum(CAST(floor(abs(err) * 1e6) AS HUGEINT)) AS saq,
        |         sum(CASE WHEN value > 0 THEN CAST(floor(abs(err) / value * 1e6) AS HUGEINT)
        |                  ELSE 0 END) AS spq,
        |         sum(CASE WHEN value > 0 THEN 1 ELSE 0 END) AS n_mape
        |  FROM er GROUP BY 1
        |)
        |SELECT user_id, n_eval,
        |       CAST(saq AS DOUBLE) / CAST(n_eval AS DOUBLE) / 1e6 AS mae,
        |       CAST(seq AS DOUBLE) / CAST(n_eval AS DOUBLE) / 1e6 AS bias,
        |       CASE WHEN n_mape > 0
        |            THEN CAST(spq AS DOUBLE) / CAST(n_mape AS DOUBLE) / 1e6 END AS mape
        |FROM ag ORDER BY user_id""".stripMargin,
    "win_ewma_irregular" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |l AS (
        |  SELECT event_id, user_id,
        |         list(struct_pack(us := epoch_us(ts), v := value))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
        |  FROM e
        |),
        |st AS (
        |  SELECT event_id, user_id,
        |         list_reduce(list_transform(l, s -> struct_pack(us := s.us, y := CAST(s.v AS DOUBLE))),
        |           (acc, x) -> struct_pack(
        |             us := x.us,
        |             y := x.y * (1.0 - exp(-(CAST(x.us - acc.us AS DOUBLE) / 3600000000.0)))
        |                + acc.y * exp(-(CAST(x.us - acc.us AS DOUBLE) / 3600000000.0)))) AS s
        |  FROM l
        |)
        |SELECT event_id, user_id,
        |       floor(s.y * 10000) / 10000 AS ewma_t
        |FROM st ORDER BY event_id""".stripMargin,
    "win_mann_kendall" ->
      """WITH dl AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         sum(CAST(floor(value * 1e6) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2
        |),
        |tt AS (
        |  SELECT user_id, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
        |  FROM (SELECT user_id, v, count(*) AS t FROM dl GROUP BY 1, 2)
        |  GROUP BY 1
        |),
        |ser AS (
        |  SELECT user_id, count(*) AS n, list(v ORDER BY day) AS vs
        |  FROM dl GROUP BY 1 HAVING count(*) >= 2
        |),
        |st AS (
        |  SELECT ser.user_id, n, tsum,
        |         CAST(list_aggregate(flatten(list_transform(range(1, n), i ->
        |           list_transform(range(i + 1, n + 1), j ->
        |             CASE WHEN vs[CAST(j AS INTEGER)] > vs[CAST(i AS INTEGER)] THEN 1
        |                  WHEN vs[CAST(j AS INTEGER)] < vs[CAST(i AS INTEGER)] THEN -1
        |                  ELSE 0 END))), 'sum') AS BIGINT) AS s_stat,
        |         n * (n - 1) * (2 * n + 5) - tsum AS var18
        |  FROM ser JOIN tt ON ser.user_id = tt.user_id
        |)
        |SELECT user_id, n AS n_days, s_stat,
        |       floor(CAST(s_stat AS DOUBLE) / (CAST(n * (n - 1) AS DOUBLE) / 2) * 1e4) / 1e4
        |         AS tau,
        |       CASE WHEN var18 <= 0 THEN NULL
        |            WHEN s_stat > 0 THEN floor((s_stat - 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1e4) / 1e4
        |            WHEN s_stat < 0 THEN floor((s_stat + 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1e4) / 1e4
        |            ELSE 0.0 END AS z,
        |       CASE WHEN var18 <= 0 THEN 'flat'
        |            WHEN s_stat > 0 AND floor((s_stat - 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1e4) / 1e4 > 1.96
        |              THEN 'up'
        |            WHEN s_stat < 0 AND floor((s_stat + 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1e4) / 1e4 < -1.96
        |              THEN 'down'
        |            ELSE 'none' END AS trend
        |FROM st ORDER BY user_id""".stripMargin,
    "win_theil_sen" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |l AS (
        |  SELECT event_id, user_id,
        |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
        |  FROM e
        |),
        |sl AS (
        |  SELECT event_id, user_id, len(l) AS n,
        |         CASE WHEN len(l) < 2 THEN CAST([] AS DOUBLE[]) ELSE
        |           list_sort(flatten(list_transform(range(1, len(l)), i ->
        |             list_transform(range(i + 1, len(l) + 1), j ->
        |               (l[j] - l[i]) / CAST(j - i AS DOUBLE)))))
        |         END AS slopes
        |  FROM l
        |)
        |SELECT event_id, user_id,
        |       CASE WHEN n < 2 THEN CAST(NULL AS DOUBLE) ELSE
        |         floor((CASE WHEN len(slopes) % 2 = 1
        |                     THEN slopes[(len(slopes) + 1) // 2]
        |                     ELSE (slopes[len(slopes) // 2] + slopes[len(slopes) // 2 + 1]) / 2.0
        |                END) * 10000) / 10000 END AS ts_slope
        |FROM sl ORDER BY event_id""".stripMargin,
    "win_kalman" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |l AS (
        |  SELECT event_id, user_id,
        |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
        |  FROM e
        |),
        |st AS (
        |  SELECT event_id, user_id,
        |         list_reduce(list_transform(l, z -> [z, CAST(16.0 AS DOUBLE)]),
        |           (acc, z) -> [acc[1] + ((acc[2] + 4.0) / ((acc[2] + 4.0) + 16.0)) * (z[1] - acc[1]),
        |                        (1.0 - ((acc[2] + 4.0) / ((acc[2] + 4.0) + 16.0))) * (acc[2] + 4.0)]) AS s
        |  FROM l
        |)
        |SELECT event_id, user_id,
        |       floor(s[1] * 10000) / 10000 AS kalman_est
        |FROM st ORDER BY event_id""".stripMargin,
    "win_busy_hour" ->
      """WITH e AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER) AS hr,
        |         CAST(floor(value * 1000000) AS BIGINT) AS vq
        |  FROM events
        |),
        |h AS (
        |  SELECT user_id, day, hr, sum(CAST(vq AS HUGEINT)) AS tq,
        |         count(*) AS n_samples
        |  FROM e GROUP BY 1, 2, 3
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, day
        |                               ORDER BY tq DESC, hr ASC) AS rn
        |  FROM h
        |)
        |SELECT user_id, day, hr AS busy_hour,
        |       CAST(tq AS DOUBLE) / 1000000 AS traffic, n_samples
        |FROM r WHERE rn = 1 ORDER BY user_id, day""".stripMargin,
    "win_drawdown" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(floor(value * 1000000) AS BIGINT) AS yq
        |  FROM events
        |),
        |p AS (
        |  SELECT event_id, user_id, yq,
        |         max(yq) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS UNBOUNDED PRECEDING) AS pq
        |  FROM e
        |)
        |SELECT event_id, user_id,
        |       CAST(pq AS DOUBLE) / 1000000 AS peak,
        |       CAST(pq - yq AS DOUBLE) / 1000000 AS drawdown
        |FROM p ORDER BY event_id""".stripMargin,
    "win_rolling_median" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(floor(value * 1000000) AS BIGINT) AS yq
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |       median(yq) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
        |         / 1000000 AS roll_median
        |FROM e ORDER BY event_id""".stripMargin,
    "win_islands" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(value >= 100 AS INT) AS state
        |  FROM events WHERE value IS NOT NULL
        |),
        |g AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            - row_number() OVER (PARTITION BY user_id, state
        |                                 ORDER BY ts, event_id) AS grp
        |  FROM e
        |),
        |runs AS (
        |  SELECT user_id, state, grp, count(*) AS n_events,
        |         min(ts) AS island_start, max(ts) AS island_end
        |  FROM g GROUP BY 1, 2, 3
        |)
        |SELECT user_id,
        |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY island_start)
        |            AS BIGINT) AS island_no,
        |       state, n_events, island_start, island_end
        |FROM runs ORDER BY user_id, island_no""".stripMargin,
    "win_hampel" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(floor(value * 1000000) AS BIGINT) AS yq
        |  FROM events WHERE value IS NOT NULL
        |), l AS (
        |  SELECT event_id, user_id, yq,
        |         list(yq) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS l
        |  FROM e
        |), m AS (
        |  SELECT *, len(l) AS n, list_sort(l) AS srt FROM l
        |), md AS (
        |  SELECT *, CASE WHEN n >= 12 THEN
        |      (srt[(n+1) // 2] + srt[n // 2 + 1]) / 2.0 END AS med
        |  FROM m
        |), dv AS (
        |  SELECT *, list_sort(list_transform(l, x -> abs(x - med))) AS dev FROM md
        |), sc AS (
        |  SELECT *, CASE WHEN n >= 12 THEN
        |      (dev[(n+1) // 2] + dev[n // 2 + 1]) / 2.0 END AS mad FROM dv
        |), h AS (
        |  SELECT *, coalesce(mad > 0 AND abs(yq - med) > 3.0 * 1.4826 * mad, false) AS hit
        |  FROM sc
        |)
        |SELECT event_id, user_id, yq AS value_microunits,
        |       floor((CASE WHEN hit THEN med ELSE CAST(yq AS DOUBLE) END) / 100.0)
        |         / 10000 AS repaired,
        |       CAST(hit AS INTEGER) AS was_repaired
        |FROM h ORDER BY event_id""".stripMargin,
    "win_mad_anomaly" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(floor(value * 1000000) AS BIGINT) AS yq
        |  FROM events WHERE value IS NOT NULL
        |), l AS (
        |  SELECT event_id, user_id, yq,
        |         list(yq) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS l
        |  FROM e
        |), m AS (
        |  SELECT *, len(l) AS n, list_sort(l) AS srt FROM l
        |), md AS (
        |  SELECT *, CASE WHEN n >= 12 THEN
        |      (srt[(n+1) // 2] + srt[n // 2 + 1]) / 2.0 END AS med
        |  FROM m
        |), dv AS (
        |  SELECT *, list_sort(list_transform(l, x -> abs(x - med))) AS dev FROM md
        |), sc AS (
        |  SELECT *, CASE WHEN n >= 12 THEN
        |      (dev[(n+1) // 2] + dev[n // 2 + 1]) / 2.0 END AS mad FROM dv
        |)
        |SELECT event_id, user_id,
        |       CASE WHEN mad > 0 THEN floor((yq - med) / (1.4826 * mad) * 10000) / 10000 END AS score,
        |       CAST(CASE WHEN mad > 0 THEN floor((yq - med) / (1.4826 * mad) * 10000) / 10000 END
        |              IS NOT NULL
        |            AND abs(CASE WHEN mad > 0 THEN floor((yq - med) / (1.4826 * mad) * 10000) / 10000 END)
        |              > 3.5 AS INTEGER) AS is_anomaly
        |FROM sc ORDER BY event_id""".stripMargin,
    "win_top_movers" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         sum(CAST(CAST(floor(value * 1000000) AS BIGINT) AS HUGEINT)) AS tq
        |  FROM events GROUP BY 1, 2
        |), lagged AS (
        |  SELECT user_id, day, tq,
        |         lag(tq) OVER (PARTITION BY user_id ORDER BY day) AS prev_tq
        |  FROM daily
        |)
        |SELECT user_id, day,
        |       CAST(tq AS DOUBLE) / 1000000 AS traffic,
        |       CAST(prev_tq AS DOUBLE) / 1000000 AS prev_traffic,
        |       CAST(tq - prev_tq AS DOUBLE) / 1000000 AS delta
        |FROM lagged WHERE prev_tq IS NOT NULL
        |ORDER BY abs(tq - prev_tq) DESC, user_id, day
        |LIMIT 20""".stripMargin,
    "win_streak" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |         datediff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS dn
        |  FROM events
        |), g AS (
        |  SELECT user_id, dn,
        |         dn - row_number() OVER (PARTITION BY user_id ORDER BY dn) AS grp
        |  FROM days
        |), runs AS (
        |  SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
        |       CAST(sum(len) AS BIGINT) AS n_active_days,
        |       count(*) AS n_streaks
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,
    "win_ratio_total" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(floor(value * 1000000) AS BIGINT) AS yq
        |  FROM events
        |),
        |s AS (
        |  SELECT event_id, user_id, yq,
        |         sum(yq) OVER (PARTITION BY user_id) AS tot,
        |         sum(yq) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS UNBOUNDED PRECEDING) AS run
        |  FROM e
        |)
        |SELECT event_id, user_id,
        |       CAST(yq AS DOUBLE) / tot AS share,
        |       CAST(run AS DOUBLE) / tot AS cum_share
        |FROM s ORDER BY event_id""".stripMargin,
    "win_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, sum(value) AS v FROM events GROUP BY 1
        |),
        |t AS (
        |  SELECT day, v,
        |         CASE WHEN count(*) OVER w = 7 THEN avg(v) OVER w END AS trend,
        |         date_part('dow', day) AS dow
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |),
        |sidx AS (
        |  SELECT dow, avg(v - trend) AS s_raw FROM t WHERE trend IS NOT NULL GROUP BY dow
        |),
        |sadj AS (
        |  SELECT dow, s_raw - (SELECT avg(s_raw) FROM sidx) AS seas FROM sidx
        |)
        |SELECT t.day, round(t.v, 4) AS value, round(t.trend, 4) AS trend,
        |       round(sadj.seas, 4) AS seasonal,
        |       round(t.v - t.trend - sadj.seas, 4) AS residual
        |FROM t LEFT JOIN sadj USING (dow) ORDER BY day""".stripMargin,
    "win_attribution" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |c AS (
        |  SELECT event_id, user_id, ts, event_type,
        |         last_value(CASE WHEN event_type IN ('click','view') THEN event_id END
        |                    IGNORE NULLS) OVER wp AS t_id,
        |         last_value(CASE WHEN event_type IN ('click','view') THEN event_type END
        |                    IGNORE NULLS) OVER wp AS t_type,
        |         last_value(CASE WHEN event_type IN ('click','view') THEN epoch_us(ts) END
        |                    IGNORE NULLS) OVER wp AS t_us
        |  FROM e
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, user_id,
        |       CASE WHEN t_us IS NOT NULL AND epoch_us(ts) - t_us <= 86400000000 THEN t_id END AS touch_id,
        |       CASE WHEN t_us IS NOT NULL AND epoch_us(ts) - t_us <= 86400000000 THEN t_type END AS touch_type,
        |       CASE WHEN t_us IS NOT NULL AND epoch_us(ts) - t_us <= 86400000000
        |            THEN CAST(epoch_us(ts) - t_us AS DOUBLE) / 1000000.0 END AS gap_sec
        |FROM c WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "win_rsi" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  CAST(floor(value * 1e6) AS BIGINT) AS vq FROM events),
        |d AS (
        |  SELECT event_id, user_id, ts,
        |         vq - lag(vq) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dq
        |  FROM e
        |),
        |f AS (
        |  SELECT event_id,
        |         CAST(sum(CASE WHEN dq > 0 THEN dq WHEN dq IS NOT NULL THEN 0 END)
        |              OVER w AS BIGINT) AS gain,
        |         CAST(sum(CASE WHEN dq < 0 THEN -dq WHEN dq IS NOT NULL THEN 0 END)
        |              OVER w AS BIGINT) AS loss,
        |         count(dq) OVER w AS nd
        |  FROM d
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id,
        |       CASE WHEN nd = 14 AND gain + loss > 0
        |            THEN 100.0 * CAST(gain AS DOUBLE) / CAST(gain + loss AS DOUBLE) END AS rsi
        |FROM f ORDER BY event_id""".stripMargin,
    "win_rolling_regression" -> {
      val lags = (0 to 15).map(p => s"lag(vq, ${15 - p}) OVER w AS y$p").mkString(",\n        |         ")
      val sy = (0 to 15).map(p => s"y$p").mkString(" + ")
      val sxy = (1 to 15).map(p => s"$p * y$p").mkString(" + ")
      val sy2 = (0 to 15).map(p => s"CAST(y$p AS HUGEINT) * y$p").mkString(" + ")
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  CAST(floor(value * 1e6) AS BIGINT) AS vq
        |           FROM events WHERE value IS NOT NULL),
        |t AS (
        |  SELECT event_id,
        |         $lags
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |sums AS (
        |  SELECT event_id,
        |         CAST($sy AS BIGINT) AS sy,
        |         CAST($sxy AS BIGINT) AS sxy,
        |         ($sy2) AS sy2
        |  FROM t WHERE y0 IS NOT NULL
        |),
        |f AS (
        |  SELECT event_id,
        |         16.0 * CAST(sxy AS DOUBLE) - 120.0 * CAST(sy AS DOUBLE) AS num,
        |         16.0 * CAST(sy2 AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den_y,
        |         CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd
        |  FROM sums
        |)
        |SELECT event_id,
        |       floor(num / 5440.0 * 1e4) / 1e4 AS slope,
        |       floor((1240.0 * syd - 120.0 * sxyd) / 5440.0 * 1e4) / 1e4 AS intercept,
        |       CASE WHEN den_y > 0
        |            THEN floor(num * num / (5440.0 * den_y) * 1e4) / 1e4 END AS r2
        |FROM f ORDER BY event_id""".stripMargin
    },
    "win_bollinger" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  CAST(floor(value * 1e6) AS BIGINT) AS vq
        |           FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT event_id, vq,
        |         count(vq) OVER w AS n,
        |         CAST(sum(vq) OVER w AS BIGINT) AS s1,
        |         sum(CAST(vq AS HUGEINT) * vq) OVER w AS s2
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        |),
        |g AS (
        |  SELECT event_id, vq,
        |         CAST(s1 AS DOUBLE) / 8.0 AS mean,
        |         sqrt((8.0 * CAST(s2 AS DOUBLE)
        |               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / 64.0) AS sigma
        |  FROM f WHERE n = 8
        |)
        |SELECT event_id,
        |       floor(mean / 1e6 * 1e4) / 1e4 AS mid,
        |       floor((mean + 2.0 * sigma) / 1e6 * 1e4) / 1e4 AS upper,
        |       floor((mean - 2.0 * sigma) / 1e6 * 1e4) / 1e4 AS lower,
        |       CASE WHEN CAST(vq AS DOUBLE) > mean + 2.0 * sigma THEN 1
        |            WHEN CAST(vq AS DOUBLE) < mean - 2.0 * sigma THEN -1
        |            ELSE 0 END AS breakout
        |FROM g ORDER BY event_id""".stripMargin,
    "win_changepoint" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  CAST(floor(value * 1e6) AS BIGINT) AS vq
        |           FROM events WHERE value IS NOT NULL),
        |p AS (
        |  SELECT event_id, user_id,
        |         count(vq) OVER wp AS nl,
        |         CAST(sum(vq) OVER wp AS BIGINT) AS s1l,
        |         sum(CAST(vq AS HUGEINT) * vq) OVER wp AS s2l,
        |         count(vq) OVER wa AS n,
        |         CAST(sum(vq) OVER wa AS BIGINT) AS s1,
        |         sum(CAST(vq AS HUGEINT) * vq) OVER wa AS s2
        |  FROM e
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wa AS (PARTITION BY user_id)
        |),
        |scored AS (
        |  SELECT event_id, user_id, n, nl,
        |         CAST(s2 AS DOUBLE)
        |           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS sse_full,
        |         (CAST(s2l AS DOUBLE)
        |           - CAST(s1l AS DOUBLE) * CAST(s1l AS DOUBLE) / CAST(nl AS DOUBLE))
        |         + (CAST(s2 - s2l AS DOUBLE)
        |           - CAST(s1 - s1l AS DOUBLE) * CAST(s1 - s1l AS DOUBLE)
        |             / CAST(n - nl AS DOUBLE)) AS sse_split
        |  FROM p WHERE nl < n AND n >= 2
        |),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY sse_split, event_id) AS rn
        |  FROM scored
        |)
        |SELECT user_id, n, event_id AS split_event_id, nl AS n_left,
        |       floor(sse_full / 1e12 * 1e4) / 1e4 AS sse_full,
        |       floor(sse_split / 1e12 * 1e4) / 1e4 AS sse_split,
        |       CASE WHEN sse_full > 0
        |            THEN floor((sse_full - sse_split) / sse_full * 1e4) / 1e4 END AS gain
        |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "win_macd" ->
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT event_id, user_id, ts,
        |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN 32 PRECEDING AND CURRENT ROW) AS l
        |  FROM e
        |),
        |g AS (
        |  SELECT event_id, user_id, ts,
        |         ${emaLDuck(2, 13)} - ${emaLDuck(2, 27)} AS m_raw
        |  FROM f WHERE len(l) = 33
        |),
        |h AS (
        |  SELECT event_id,
        |         [${(8 to 1 by -1).map(j => s"lag(m_raw, $j) OVER w2").mkString(", ")}, m_raw] AS m
        |  FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |i AS (
        |  SELECT event_id, m[9] AS macd_raw,
        |         list_reduce(m, (acc, x) -> CAST(0.2 AS DOUBLE) * x
        |                                    + CAST(0.8 AS DOUBLE) * acc) AS sig_raw
        |  FROM h WHERE m[1] IS NOT NULL
        |)
        |SELECT event_id,
        |       floor(macd_raw * 1e4) / 1e4 AS macd,
        |       floor(sig_raw * 1e4) / 1e4 AS signal,
        |       floor((macd_raw - sig_raw) * 1e4) / 1e4 AS hist,
        |       CASE WHEN macd_raw > sig_raw THEN 1
        |            WHEN macd_raw < sig_raw THEN -1 ELSE 0 END AS crossover
        |FROM i ORDER BY event_id""".stripMargin,
    "win_stochastic" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  CAST(floor(value * 1e6) AS BIGINT) AS vq
        |           FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT event_id, user_id, ts, vq,
        |         count(vq) OVER w AS n, min(vq) OVER w AS mn, max(vq) OVER w AS mx
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |),
        |g AS (
        |  SELECT event_id, user_id, ts,
        |         CASE WHEN mx > mn
        |              THEN floor(CAST(vq - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE)
        |                         * 100.0 * 1e4) / 1e4
        |              ELSE CAST(50.0 AS DOUBLE) END AS k
        |  FROM f WHERE n = 14
        |),
        |h AS (
        |  SELECT event_id, user_id, k,
        |         floor((lag(k, 2) OVER w2 + lag(k, 1) OVER w2 + k) / 3.0 * 1e4) / 1e4 AS d
        |  FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT event_id, user_id, k AS k_pct, d AS d_pct,
        |       CASE WHEN k > 80.0 THEN 1 WHEN k < 20.0 THEN -1 ELSE 0 END AS zone
        |FROM h ORDER BY event_id""".stripMargin,
    "win_vwap" ->
      """WITH f AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |         CAST(sum(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) OVER w AS BIGINT) AS cp,
        |         CAST(sum(CAST(floor(l_quantity) AS BIGINT)) OVER w AS BIGINT) AS cq
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_partkey
        |               ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |                        CAST(floor(l_extendedprice * 100.0) AS BIGINT),
        |                        CAST(floor(l_quantity) AS BIGINT)
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT l_orderkey, l_linenumber, l_partkey,
        |       floor(CAST(cp AS DOUBLE) / CAST(cq AS DOUBLE) / 100.0 * 1e4) / 1e4 AS vwap,
        |       cq AS cum_qty
        |FROM f ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "win_runs_test" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  CAST(floor(value * 1e6) AS BIGINT) AS vq
        |           FROM events WHERE value IS NOT NULL),
        |dd AS (
        |  SELECT event_id, user_id, ts,
        |         vq - lag(vq, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dlt
        |  FROM e
        |),
        |sg AS (SELECT event_id, user_id, ts,
        |              CASE WHEN dlt > 0 THEN 1 ELSE -1 END AS sgn
        |       FROM dd WHERE dlt IS NOT NULL AND dlt <> 0),
        |ch AS (
        |  SELECT user_id, sgn,
        |         CASE WHEN lag(sgn, 1) OVER w IS NULL
        |                OR lag(sgn, 1) OVER w = sgn THEN 0 ELSE 1 END AS chg
        |  FROM sg WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |agg AS (
        |  SELECT user_id, count(*) AS n_signs,
        |         CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |         CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |         CAST(sum(chg) + 1 AS BIGINT) AS runs
        |  FROM ch GROUP BY 1
        |)
        |SELECT user_id, n_signs, n_pos, n_neg, runs,
        |       CASE WHEN n_pos > 0 AND n_neg > 0 AND n_signs > 1
        |                 AND 2 * n_pos * n_neg > n_signs THEN
        |         floor((CAST(runs AS DOUBLE)
        |                - (1.0 + (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |                         / CAST(n_signs AS DOUBLE)))
        |               / sqrt((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |                      * ((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |                         - CAST(n_signs AS DOUBLE))
        |                      / (CAST(n_signs AS DOUBLE) * CAST(n_signs AS DOUBLE)
        |                         * (CAST(n_signs AS DOUBLE) - 1.0)))
        |               * 1e4) / 1e4
        |       END AS z
        |FROM agg ORDER BY user_id""".stripMargin,
    "win_hurst" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  CAST(floor(value * 1e6) AS BIGINT) AS vq
        |           FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT event_id, user_id,
        |         count(vq) OVER w AS n,
        |         CAST(sum(vq) OVER w AS BIGINT) AS s1,
        |         sum(CAST(vq AS HUGEINT) * vq) OVER w AS s2,
        |         list(vq) OVER w AS l
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 31 PRECEDING AND CURRENT ROW)
        |),
        |g AS (
        |  SELECT event_id, user_id,
        |         list_reduce(
        |           list_prepend([CAST(0 AS BIGINT), 0, 9223372036854775807,
        |                         -9223372036854775807],
        |                        list_transform(l, x -> [x, 0, 0, 0])),
        |           (acc, x) -> [acc[1] + 1,
        |                        acc[2] + x[1],
        |                        least(acc[3], 32 * (acc[2] + x[1]) - (acc[1] + 1) * s1),
        |                        greatest(acc[4], 32 * (acc[2] + x[1]) - (acc[1] + 1) * s1)]
        |         ) AS st,
        |         CAST(32 * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) AS varn
        |  FROM f WHERE n = 32
        |)
        |SELECT event_id, user_id,
        |       CASE WHEN varn > 0
        |            THEN floor(CAST(st[4] - st[3] AS DOUBLE) / sqrt(varn) * 1e4) / 1e4
        |       END AS rs,
        |       CASE WHEN varn > 0
        |            THEN floor(ln(CAST(st[4] - st[3] AS DOUBLE) / sqrt(varn))
        |                       / ln(16.0) * 1e4) / 1e4
        |       END AS hurst
        |FROM g ORDER BY event_id""".stripMargin,
    "win_series_features" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  CAST(floor(value * 1e6) AS BIGINT) AS vq
        |           FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT user_id, ts, event_id, vq,
        |         count(vq) OVER wa AS nn,
        |         CAST(sum(vq) OVER wa AS BIGINT) AS s1,
        |         row_number() OVER wo AS t,
        |         lead(vq) OVER wo AS nxt
        |  FROM e
        |  WINDOW wa AS (PARTITION BY user_id),
        |         wo AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |g AS (SELECT *, CAST(nn AS HUGEINT) * vq > CAST(s1 AS HUGEINT) AS above FROM f),
        |h AS (SELECT *, lead(above) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                AS aboveNxt
        |      FROM g),
        |a AS (
        |  SELECT user_id, max(nn) AS n, max(s1) AS s1v,
        |         sum(CAST(vq AS HUGEINT) * vq) AS s2,
        |         sum(CASE WHEN nxt IS NOT NULL THEN CAST(vq AS HUGEINT) * nxt
        |                  ELSE CAST(0 AS HUGEINT) END) AS sxy,
        |         sum(CAST(t AS HUGEINT) * vq) AS stx,
        |         min(CASE WHEN t = 1 THEN vq END) AS fst,
        |         max(CASE WHEN t = nn THEN vq END) AS lst,
        |         CAST(sum(CASE WHEN aboveNxt IS NOT NULL AND above <> aboveNxt
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS crossings
        |  FROM h GROUP BY 1
        |),
        |c AS (
        |  SELECT user_id, n, s1v, crossings,
        |         CAST(n AS HUGEINT) * s2 - CAST(s1v AS HUGEINT) * s1v AS varn_i,
        |         CAST(n AS HUGEINT) * n * sxy
        |           - CAST(n AS HUGEINT) * s1v
        |             * (CAST(2 AS HUGEINT) * s1v - lst - fst)
        |           + CAST(n - 1 AS HUGEINT) * s1v * s1v AS acfnum_i,
        |         CAST(n AS HUGEINT)
        |           * (CAST(n AS HUGEINT) * s2 - CAST(s1v AS HUGEINT) * s1v) AS acfden_i,
        |         CAST(n AS HUGEINT) * stx
        |           - ((CAST(n AS HUGEINT) * (n + 1)) // 2) * s1v AS slnum_i,
        |         CAST(n AS HUGEINT)
        |           * ((CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1)) // 6)
        |           - ((CAST(n AS HUGEINT) * (n + 1)) // 2)
        |             * ((CAST(n AS HUGEINT) * (n + 1)) // 2) AS slden_i
        |  FROM a
        |)
        |SELECT user_id, n,
        |       floor(CAST(s1v AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 * 1e4) / 1e4 AS mean,
        |       CASE WHEN varn_i > 0
        |            THEN floor(sqrt(CAST(varn_i AS DOUBLE)) / CAST(n AS DOUBLE)
        |                       / 1e6 * 1e4) / 1e4 END AS std,
        |       CASE WHEN varn_i > 0 AND n > 2
        |            THEN floor(CAST(acfnum_i AS DOUBLE) / CAST(acfden_i AS DOUBLE)
        |                       * 1e4) / 1e4 END AS acf1,
        |       CASE WHEN n > 1
        |            THEN floor(CAST(slnum_i AS DOUBLE) / CAST(slden_i AS DOUBLE)
        |                       / 1e6 * 1e4) / 1e4 END AS trend_slope,
        |       CASE WHEN n > 1
        |            THEN floor(CAST(crossings AS DOUBLE)
        |                       / (CAST(n AS DOUBLE) - 1.0) * 1e4) / 1e4 END AS crossing_rate
        |FROM c ORDER BY user_id""".stripMargin,
    "win_sax" -> {
      def zduck(k: Int) =
        s"CAST(CAST(g$k AS BIGINT) * 4 - s1 AS DOUBLE) / sqrt(varn)"
      def symDuck(k: Int) =
        s"""CASE WHEN varn <= 0 THEN 'b'
           |     WHEN ${zduck(k)} < -0.6745 THEN 'a'
           |     WHEN ${zduck(k)} < 0.0 THEN 'b'
           |     WHEN ${zduck(k)} < 0.6745 THEN 'c'
           |     ELSE 'd' END""".stripMargin
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  CAST(floor(value * 1e6) AS BIGINT) AS vq
        |           FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT event_id, user_id,
        |         count(vq) OVER w AS n,
        |         CAST(sum(vq) OVER w AS BIGINT) AS s1,
        |         sum(CAST(vq AS HUGEINT) * vq) OVER w AS s2,
        |         list(vq) OVER w AS l
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
        |),
        |g AS (
        |  SELECT event_id, user_id, s1,
        |         CAST(16 * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) AS varn,
        |         list_aggregate(list_slice(l, 1, 4), 'sum') AS g0,
        |         list_aggregate(list_slice(l, 5, 8), 'sum') AS g1,
        |         list_aggregate(list_slice(l, 9, 12), 'sum') AS g2,
        |         list_aggregate(list_slice(l, 13, 16), 'sum') AS g3
        |  FROM f WHERE n = 16
        |)
        |SELECT event_id, user_id,
        |       concat(${symDuck(0)}, ${symDuck(1)}, ${symDuck(2)}, ${symDuck(3)}) AS sax_word
        |FROM g ORDER BY event_id""".stripMargin
    },
  )
}
