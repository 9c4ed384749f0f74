package graft.queries

import graft.Tables
import graft.ops.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregations (SURVEY.md §2 section D): grouped aggs, distinct counts,
  * rollup/cube/grouping sets, time-bucket and entity-rollup (the two
  * Minerva-core aggregation semantics), and a typed UDAF.
  *
  * All of these compile to HashAggregateExec with map-side partial
  * aggregation — the shuffle carries pre-aggregated state, not raw rows,
  * which is the property that holds at 100 TB.
  */
object Aggs {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // D1 — TPC-H Q1 shape: the flagship (also wired as SparkEntry.entry).
    "agg_groupby" -> ((s, d) => {
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // D2 — exact distinct count (expand + two-phase aggregation).
    "agg_count_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }),

    // D3 — HLL sketch distinct per day; approximate, so no SQL oracle —
    // scalatest asserts it lands within 2% of the exact count. This is the
    // 100 TB path: a mergeable sketch instead of a shuffle-heavy expand.
    "agg_approx_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
        .orderBy("day")
    }),

    // D4 — ROLLUP hierarchy subtotals with grouping flags. Expressed via the
    // SQL front end (same LogicalPlan IR; the DataFrame rollup+grouping()
    // combination trips Spark's ambiguous-self-join detector through the
    // Expand node). Dims are broadcast-hinted: the fact side never shuffles
    // for the join, only for the rollup aggregation itself.
    "agg_rollup" -> ((s, d) => {
      s.sql(
        s"""SELECT /*+ BROADCAST(n, r) */ r_name, n_name,
           |       CAST(grouping(r_name) AS INT) AS g_r,
           |       CAST(grouping(n_name) AS INT) AS g_n,
           |       count(*) AS cnt, round(sum(c_acctbal), 4) AS sum_bal
           |FROM parquet.`$d/customer.parquet` c
           |JOIN parquet.`$d/nation.parquet` n ON c_nationkey = n_nationkey
           |JOIN parquet.`$d/region.parquet` r ON n_regionkey = r_regionkey
           |GROUP BY ROLLUP (r_name, n_name)
           |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)
    }),

    // D5 — CUBE over (event_type, day).
    "agg_cube" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
        .cube("event_type", "day")
        .agg(
          grouping(col("event_type")).cast("int").as("g_t"),
          grouping(col("day")).cast("int").as("g_d"),
          count(lit(1)).as("cnt"),
          round(sum("value"), 4).as("sum_value"))
        .orderBy(col("g_t"), col("g_d"), col("event_type").asc_nulls_first, col("day").asc_nulls_first)
    }),

    // D6 — explicit GROUPING SETS via the SQL front end (same LogicalPlan IR
    // as the DataFrame API; SURVEY.md §3.2).
    "agg_grouping_sets" -> ((s, d) => {
      s.sql(
        s"""SELECT o_orderpriority, o_orderstatus,
           |       CAST(grouping(o_orderpriority) AS INT) AS g_p,
           |       CAST(grouping(o_orderstatus) AS INT) AS g_s,
           |       count(*) AS cnt, round(sum(o_totalprice), 4) AS total
           |FROM parquet.`$d/orders.parquet`
           |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
           |ORDER BY g_p, g_s, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)
    }),

    // D7 — Minerva core: time aggregation to 1-hour buckets per entity.
    // date_trunc keeps the column a plain timestamp (groupable, prunable);
    // at scale this is a single shuffle on (bucket, entity).
    "agg_time_bucket" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("user_id"))
        .agg(round(sum("value"), 4).as("sum_value"), count(lit(1)).as("samples"))
        .orderBy("bucket", "user_id")
    }),

    // D8 — Minerva core: entity aggregation along the relation hierarchy
    // customer -> nation -> region (broadcast dims; fact shuffles once).
    "agg_entity_rollup" -> ((s, d) => {
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          round(sum("o_totalprice"), 4).as("total"),
          count(lit(1)).as("samples"),
          countDistinct(col("o_custkey")).as("entities"))
        .orderBy("r_name", "n_name")
    }),

    // D23 — tag-filtered entity rollup: the reference's directory.tag →
    // filter → aggregate composition, end-to-end through the
    // EntityDirectory machinery. Customers register under a DN; a tag
    // marks the subset whose DN-parsed key falls in the first three
    // deciles; orders resolve their DN to entity ids, restrict to the tag
    // via the broadcast SEMI join (the fact side never shuffles for the
    // filter), then roll up along the nation dimension. The oracle states
    // the equivalent semantic predicate directly (o_custkey % 10 < 3) —
    // xxhash64 entity ids never surface in the output.
    "agg_tag_rollup" -> ((s, d) => {
      import graft.directory.EntityDirectory
      val cust = Tables.customer(s, d)
        .withColumn("dn", EntityDirectory.dnBuild("Cust" -> col("c_custkey").cast("string")))
      val dir = EntityDirectory.register(cust, "dn", "customer")
      val tags = EntityDirectory.tag(dir,
        EntityDirectory.dnPart(col("dn"), "Cust").cast("long") % 10 < 3, "decile03")
      val facts = EntityDirectory.resolve(
        Tables.orders(s, d).withColumn("dn",
          EntityDirectory.dnBuild("Cust" -> col("o_custkey").cast("string"))),
        dir, "dn")
      val tagged = EntityDirectory.filterByTag(facts, tags, "decile03")
      tagged
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 4).as("total"),
          count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy("n_name")
    }),

    // D10b — per-type OLS trend slope over time, the telemetry trend
    // detector (is this counter drifting up?). regr_slope's float sums
    // are accumulation-order-sensitive, so the sufficient statistics are
    // accumulated EXACTLY instead: x = epoch seconds (integer, rebased to
    // the fixture's day-0 so squares stay small), y floor-quantized at
    // 1e-6 (pure IEEE), Σx/Σy/Σxy/Σx² in DECIMAL(38,0) — order-free and
    // overflow-free (|n·Σxy| ≲ 1e27 << 1e38). The slope is then ONE IEEE
    // divide of two exact integers, floor-quantized. Same one-shuffle
    // groupBy shape as any aggregate, partials map-side.
    "agg_trend_slope" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val e = Tables.events(s, d).select(col("event_type"),
        (expr("unix_micros(ts) div 1000000") - lit(1704067200L)).as("x"),
        floor(col("value") * 1e6).cast("long").as("yq"))
      e.groupBy("event_type")
        .agg(
          count(lit(1)).as("n_points"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("yq").cast(dec)).as("sy"),
          sum(col("x").cast(dec) * col("yq").cast(dec)).as("sxy"),
          sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"))
        .select(col("event_type"), col("n_points"),
          (floor(
            (col("n_points").cast(dec) * col("sxy") - col("sx") * col("sy")).cast("double")
              / (col("n_points").cast(dec) * col("sxx") - col("sx") * col("sx")).cast("double")
              / 1e6 * 1e9) / 1e9).as("slope"))
        .orderBy("event_type")
    }),

    // D13'' — chi-square independence screen (added r7): is the value
    // DISTRIBUTION independent of event type? — the categorical
    // complement of `agg_ab_ttest`'s mean comparison (a type can keep the
    // same mean while its shape shifts; χ² over the contingency table
    // catches that). Cells = (event_type × 4 fixed value buckets);
    // observed counts are exact longs, expected e = row·col/n and the
    // χ² fold are one fixed IEEE expression over those exact integers —
    // identical op order in the oracle (cells iterate in (type, bucket)
    // order via the sorted pivot), floor-1e-4 edge. The contingency
    // table is groups×4 rows — summary-sized; one scan, one tiny
    // exchange.
    "agg_chi_square" -> ((s, d) => {
      val cells = Tables.events(s, d)
        .where(col("value").isNotNull)
        .select(col("event_type"),
          least(greatest(floor(col("value") / 125), lit(0.0)), lit(3.0))
            .cast("long").as("bucket"))
        .groupBy("event_type", "bucket").agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy("event_type").agg(sum("o").as("rt"))
      val colT = cells.groupBy("bucket").agg(sum("o").as("ct"))
      val n = cells.agg(sum("o").as("n"))
      cells.join(rowT, "event_type").join(colT, "bucket").crossJoin(broadcast(n))
        .withColumn("e",
          col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double"))
        .withColumn("contrib",
          (col("o").cast("double") - col("e")) * (col("o").cast("double") - col("e")) / col("e"))
        .groupBy("event_type")
        .agg(sum("o").as("n_rows"),
          // cells fold in bucket order (ordered-list sum, the
          // agg_decay_score idiom) — a plain float sum() would depend on
          // partial-aggregation order
          expr("floor(aggregate(array_sort(collect_list(named_struct('b', bucket, 'c', contrib))), " +
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.c) * 1e4) / 1e4").as("chi2"))
        .orderBy("event_type")
    }),

    // D8'' — granularity rollup chain (added r7): the LOSSLESS
    // re-aggregation contract `Granularity.canRollupTo` encodes, run as a
    // query: events roll to 15-minute partials, those to hourly, those to
    // daily — and the chained result must equal a direct daily rollup,
    // which is exactly what the oracle computes (the oracle is the DIRECT
    // form; hash equality IS the losslessness proof). This is the
    // materialized-rollup serving path at 100 TB: coarser grains are
    // served by re-aggregating stored partials, never by re-reading raw —
    // sound only because the measures are exact integer sums (µ-unit
    // longs; a float sum would drift by accumulation order at every
    // level, an avg wouldn't re-aggregate at all without its weight).
    // Output stays in exact µ-units end to end — no float anywhere.
    "agg_rollup_chain" -> ((s, d) => {
      import graft.store.Granularity
      val q15 = Tables.events(s, d)
        .select(col("user_id"),
          Granularity.QuarterHour.bucket(col("ts")).as("b15"),
          floor(col("value") * 1e6).cast("long").as("vq"))
        .groupBy("user_id", "b15")
        .agg(sum("vq").as("vq"), count(lit(1)).as("n"))
      val h1 = q15
        .groupBy(col("user_id"), Granularity.Hour.bucket(col("b15")).as("bh"))
        .agg(sum("vq").as("vq"), sum("n").as("n"))
      h1.groupBy(col("user_id"), Granularity.Day.bucket(col("bh")).as("day"))
        .agg(sum("vq").as("value_microunits"), sum("n").as("n_samples"))
        .orderBy("user_id", "day")
    }),

    // D8''' — CALENDAR-grain rollup chain (added r9, VERDICT item 4): the
    // week/month ends of the `Granularity` catalog, which
    // `agg_rollup_chain` stopped short of. Months are variable-length and
    // weeks straddle months — `canRollupTo` allows Day→Week and Day→Month
    // but NOT Week→Month, and this key runs both legal edges from the
    // SAME stored daily partials (15 min → 1 h → 1 d paid once, then two
    // calendar re-aggregations off the checkpointed day grain). The
    // oracle computes both grains DIRECTLY from raw events, so hash
    // equality proves the chained calendar rollup lossless AND pins
    // `date_trunc('week'|'month')` parity cross-engine (both truncate to
    // ISO Monday / month start). Exact µ-unit longs end to end — the same
    // integer-sum argument that makes any rollup chain sound.
    "agg_rollup_calendar" -> ((s, d) => {
      import graft.store.Granularity
      require(Granularity.canRollupTo(Granularity.Day, Granularity.Week)
        && Granularity.canRollupTo(Granularity.Day, Granularity.Month)
        && !Granularity.canRollupTo(Granularity.Week, Granularity.Month))
      val daily = Tables.events(s, d)
        .select(col("user_id"),
          Granularity.QuarterHour.bucket(col("ts")).as("b15"),
          floor(col("value") * 1e6).cast("long").as("vq"))
        .groupBy("user_id", "b15")
        .agg(sum("vq").as("vq"), count(lit(1)).as("n"))
        .groupBy(col("user_id"), Granularity.Hour.bucket(col("b15")).as("bh"))
        .agg(sum("vq").as("vq"), sum("n").as("n"))
        .groupBy(col("user_id"), Granularity.Day.bucket(col("bh")).as("bd"))
        .agg(sum("vq").as("vq"), sum("n").as("n"))
        .transform(Checkpoints.stage) // user×day grain, read by BOTH calendar legs
      def leg(g: Granularity) = daily
        .groupBy(col("user_id"), g.bucket(col("bd")).as("bucket"))
        .agg(sum("vq").as("value_microunits"), sum("n").as("n_samples"))
        .withColumn("grain", lit(g.name))
      leg(Granularity.Week).unionByName(leg(Granularity.Month))
        .select("grain", "user_id", "bucket", "value_microunits", "n_samples")
        .orderBy("grain", "user_id", "bucket")
    }),

    // D13' — Welch two-sample t statistic for every event-type pair
    // (added r7): the A/B-test readout over the value KPI — which
    // treatment/control splits differ beyond noise, the decision layer
    // above `agg_stats`' descriptive moments. Determinism at hash-match
    // strictness via the trend_slope discipline: values floor-quantized
    // to exact µ-unit longs, Σy and Σy² accumulated as DECIMAL(38,0)
    // (order-free where float sums are not), then mean / variance / t are
    // a fixed IEEE expression over those exact integers — identical op
    // order in the oracle, so the statistic is bit-identical before the
    // floor-1e-4 edge quantization (µ-units cancel in t, so no rescale).
    // The pair join is over the 5-row aggregate — group-count-sized,
    // never data-sized.
    "agg_ab_ttest" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val g = Tables.events(s, d)
        .select(col("event_type"), floor(col("value") * 1e6).cast("long").as("yq"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("yq").cast(dec)).as("sy"),
          sum(col("yq").cast(dec) * col("yq").cast(dec)).as("syy"))
      def side(sfx: String) = g.select(
        col("event_type").as(s"type_$sfx"), col("n").as(s"n_$sfx"),
        col("sy").as(s"sy_$sfx"), col("syy").as(s"syy_$sfx"))
      side("a").join(side("b"), col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          expr("floor(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e6 * 1e4) / 1e4")
            .as("mean_a"),
          expr("floor(CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 1e6 * 1e4) / 1e4")
            .as("mean_b"),
          expr(
            """floor((CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              |      - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))
              |  / sqrt(((CAST(syy_a AS DOUBLE) - CAST(sy_a AS DOUBLE) * CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0D)) / CAST(n_a AS DOUBLE)
              |       + ((CAST(syy_b AS DOUBLE) - CAST(sy_b AS DOUBLE) * CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0D)) / CAST(n_b AS DOUBLE))
              |  * 1e4) / 1e4""".stripMargin).as("t_stat"))
        .orderBy("type_a", "type_b")
    }),

    // D9c — one-way ANOVA F (added r8): does the event-type factor
    // explain the KPI at all — the k-group generalization the A/B pair
    // (`agg_ab_ttest`, pairwise) needs before pairwise testing is even
    // warranted. Same exactness discipline as the t-test: values
    // quantized to 1e-6-unit longs, per-group (n, Σy, Σy²) in exact
    // DECIMAL(38,0), so every engine-side sum is order-free integer
    // arithmetic. The one float reduction — T = Σ_g sy_g²/n_g — is a
    // SEQUENTIAL fold over the groups in event_type order
    // (sort_array+aggregate here, list(... ORDER BY ...)+list_aggregate
    // in DuckDB: the centroid-sum recipe), so it is bit-identical
    // cross-engine; SS_between = T − SY²/N, SS_within = SYY − T, both
    // floor-quantized at 1e-4 in value² units, F from the same doubles.
    // Scale shape: one map-side-partial groupBy to k rows, then a k-row
    // fold — the readout never touches data again.
    "agg_anova_f" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val g = Tables.events(s, d)
        .select(col("event_type"), floor(col("value") * 1e6).cast("long").as("yq"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("yq").cast(dec)).as("sy"),
          sum(col("yq").cast(dec) * col("yq").cast(dec)).as("syy"))
      g.agg(
          count(lit(1)).as("k"),
          sum(col("n")).as("nn"),
          sum(col("sy")).as("syt"),
          sum(col("syy")).as("syyt"),
          sort_array(collect_list(struct(col("event_type"), col("sy"), col("n"))))
            .as("gs"))
        .select(col("k"), col("nn"),
          aggregate(col("gs"), lit(0.0), (acc, e) =>
            acc + e.getField("sy").cast("double") * e.getField("sy").cast("double")
              / e.getField("n").cast("double")).as("t"),
          col("syt").cast("double").as("syd"),
          col("syyt").cast("double").as("syyd"))
        .select(col("k"), col("nn").as("n"),
          (floor((col("t") - col("syd") * col("syd") / col("nn").cast("double"))
            / 1e12 * 1e4) / 1e4).as("ss_between"),
          (floor((col("syyd") - col("t")) / 1e12 * 1e4) / 1e4).as("ss_within"),
          (floor((col("t") - col("syd") * col("syd") / col("nn").cast("double"))
              / (col("k").cast("double") - lit(1.0d))
            / ((col("syyd") - col("t"))
              / (col("nn").cast("double") - col("k").cast("double")))
            * 1e4) / 1e4).as("f_stat"))
    }),

    // D9d — Mann–Whitney U (added r8): the rank-based (distribution-free)
    // twin of `agg_ab_ttest` for every type pair — the test an
    // experimenter reaches for when the KPI is skewed/heavy-tailed and
    // the t-test's mean comparison misleads. EXACT cross-engine without
    // any float rank arithmetic via the 2R trick: over the per-pair
    // value histogram (distinct quantized values with counts — the only
    // data-sized aggregation), the tie-averaged rank sum satisfies
    // 2·R_a = Σ_v ca·(2·cprev + ct + 1), an INTEGER (avg rank is
    // half-integer ⇒ doubled it's whole), accumulated in DECIMAL(38,0)
    // (HUGEINT in DuckDB). U, the tie term Σ(t³−t), and the normal
    // z-statistic with tie-corrected variance then read out through
    // identical IEEE ops; z floor-quantized 1e-4. Scale shape: histogram
    // groupBy (map-side partial), k²/2 broadcast pair fan-out of the
    // histogram, per-pair running-sum window — no row-level rank over
    // raw events ever materializes.
    "agg_mann_whitney" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val ev = Tables.events(s, d)
        .select(col("event_type"), floor(col("value") * 1e6).cast("long").as("yq"))
      val types = ev.select("event_type").distinct()
      val pairs = types.select(col("event_type").as("type_a"))
        .join(types.select(col("event_type").as("type_b")),
          col("type_a") < col("type_b"))
      val h = ev.groupBy("event_type", "yq").agg(count(lit(1)).as("c"))
      // r13 (guide §3): the OR-predicate join planned as a
      // BroadcastNestedLoopJoin (every histogram row predicate-scanned
      // against every pair). Exploding each pair into its two member rows
      // (t = type_a, t = type_b — the broadcast side only) turns it into
      // ONE BroadcastHashJoin over one histogram pass. Identical row
      // multiset: type_a ≠ type_b within a pair, so a histogram row
      // matches at most one member row per pair — exactly the rows the
      // OR predicate admitted.
      val mem = pairs.select(col("type_a").as("t"), col("type_a"), col("type_b"))
        .unionByName(pairs.select(col("type_b").as("t"), col("type_a"), col("type_b")))
      val hv = h.join(broadcast(mem), col("event_type") === col("t")).drop("t")
        .groupBy("type_a", "type_b", "yq")
        .agg(sum(col("c")).as("ct"),
          sum(when(col("event_type") === col("type_a"), col("c")).otherwise(0L)).as("ca"))
      val w = Window.partitionBy("type_a", "type_b").orderBy("yq")
        .rowsBetween(Window.unboundedPreceding, -1)
      val ag = hv.withColumn("cprev", coalesce(sum(col("ct")).over(w), lit(0L)))
        .groupBy("type_a", "type_b")
        .agg(sum(col("ca")).as("n_a"), sum(col("ct") - col("ca")).as("n_b"),
          sum((col("ca") * (lit(2L) * col("cprev") + col("ct") + lit(1L))).cast(dec))
            .as("r2a"),
          sum((col("ct") * col("ct") * col("ct") - col("ct")).cast(dec)).as("tie3"),
          sum(col("ct")).as("nn"))
      def d2(c: String) = col(c).cast("double")
      val uA = (col("r2a").cast("double") -
        d2("n_a") * (d2("n_a") + lit(1.0d))) / lit(2.0d)
      ag.select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          uA.as("u_a"),
          (d2("n_a") * d2("n_b") - uA).as("u_b"),
          (floor((uA - d2("n_a") * d2("n_b") / lit(2.0d))
            / sqrt(d2("n_a") * d2("n_b") / lit(12.0d)
              * ((d2("nn") + lit(1.0d))
                - col("tie3").cast("double") / (d2("nn") * (d2("nn") - lit(1.0d)))))
            * 1e4) / 1e4).as("z_stat"))
        .orderBy("type_a", "type_b")
    }),

    // D9e — Poisson-bootstrap confidence interval (added r8): the CI
    // method that actually runs at 100 TB (the classic resample-n-rows
    // bootstrap needs a global shuffle per replicate; the Poisson
    // approximation — each row enters replicate b with weight
    // w ~ Poisson(1) — is one map-side pass computing ALL B replicates'
    // partial sums at once, the standard massive-A/B-test construction).
    // Fully deterministic and float-free until the readout: the weight
    // is an inverse-CDF lookup of the first 8 md5 hex digits of
    // (event_id|b) against PRECOMPUTED INTEGER thresholds
    // ⌊CDF_Poisson(1)(k)·2³²⌋ (no float CDF at runtime, no rand()); per
    // (type, replicate) Σw and Σw·y accumulate in DECIMAL(38,0)/HUGEINT;
    // each replicate mean is one IEEE divide of exact ints; the CI
    // bounds are ORDER STATISTICS (2nd smallest / 2nd largest of B=32
    // replicate means ≈ a 94% interval) — selected from a (mean, b)
    // sorted list, so no float summation anywhere. B multiplies map
    // work ×32 but the shuffle carries types×32 rows.
    "agg_bootstrap_ci" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val thresholds = Seq(1580030168L, 3160060337L, 3950075421L,
        4213413783L, 4279248373L, 4292415291L, 4294609777L, 4294923276L)
      val wCol = thresholds.zipWithIndex.foldRight(lit(8): org.apache.spark.sql.Column) {
        case ((t, i), acc) => when(col("u") < lit(t), lit(i)).otherwise(acc)
      }
      val rep = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 1e6).cast("long").as("yq"))
        // one md5 yields 32 hex chars = FOUR independent 32-bit draws:
        // replicate b reads window (b mod 4) of md5(event_id|⌊b/4⌋).
        // r12 (guide §4): the hash group g = b div 4 explodes FIRST and
        // the digest is computed once per (event, g) — 8 digests/row
        // materialized as a value, where the single-explode form
        // re-evaluated the md5 chain in all four b-rows that share g
        // (32 evals/row). b = 4g + m and the substring windows are
        // unchanged, so every (event, b) draws the identical u.
        .withColumn("g", explode(sequence(lit(0), lit(7))))
        // r13 (guide §4): md5_words extracts all four 32-bit windows of
        // the one digest as longs — no commons-codec digest per call, no
        // 32-char hex string, no substring/conv parse per (event, b);
        // word m+1 is bit-identical to the old conv(substring(h, m*8+1,
        // 8), 16, 10) readout (DigestSpec pins the equality).
        .withColumn("ws", call_function("md5_words",
          concat(col("event_id").cast("string"), lit("|"), col("g").cast("string"))))
        .withColumn("m", explode(sequence(lit(0), lit(3))))
        .withColumn("b", col("g") * 4 + col("m"))
        .withColumn("u", element_at(col("ws"), (col("m") + 1).cast("int")))
        .withColumn("w", wCol.cast("long"))
        .groupBy("event_type", "b")
        .agg(sum(col("w").cast(dec)).as("nw"),
          sum((col("w") * col("yq")).cast(dec)).as("sw"))
        .withColumn("mean_b",
          col("sw").cast("double") / col("nw").cast("double") / 1e6)
      val exact = Tables.events(s, d)
        .select(col("event_type"), floor(col("value") * 1e6).cast("long").as("yq"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("yq").cast(dec)).as("sy"))
      rep.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("mean_b"), col("b")))).as("ms"))
        .join(exact, "event_type")
        .select(col("event_type"), col("n"),
          (floor(col("sy").cast("double") / col("n").cast("double") / 1e6 * 1e4) / 1e4)
            .as("mean"),
          (floor(element_at(col("ms"), 2).getField("mean_b") * 1e4) / 1e4).as("boot_lo"),
          (floor(element_at(col("ms"), 31).getField("mean_b") * 1e4) / 1e4).as("boot_hi"))
        .orderBy("event_type")
    }),

    // D10d — OHLC resample bars (added r3): per (user, hour) the
    // open/high/low/close + sample count — the canonical downsample for
    // any gauge-style counter (what a trend dashboard renders). Every
    // output is an exact selection (window-first/-last under a total
    // (ts, event_id) order, plain min/max) — NO float accumulation
    // anywhere, so no rounding is needed at all. One (user, hour)-keyed
    // window + the same-keyed groupBy reuse one shuffle.
    "agg_ohlc" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("h", date_trunc("hour", col("ts")))
      val wAsc = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "h").orderBy(col("ts").asc, col("event_id").asc)
      val wDesc = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "h").orderBy(col("ts").desc, col("event_id").desc)
      e.withColumn("rn_a", row_number().over(wAsc))
        .withColumn("rn_d", row_number().over(wDesc))
        .groupBy("user_id", "h")
        .agg(
          count(lit(1)).as("n_samples"),
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"))
        .orderBy("user_id", "h")
    }),

    // D10c — Gini coefficient per event type (added r3): how unevenly a
    // counter is distributed across events — the load-concentration
    // readout (a handful of hot cells vs an even network). Computed from
    // the rank formulation G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n over
    // ascending-sorted exact integers (value floor-quantized at 1e-6;
    // Σ and Σrank·x in DECIMAL(38,0)/HUGEINT). Tie order can't leak in:
    // swapping equal x values never changes Σrank·x. Finals are IEEE ops
    // on exact integers, floor-quantized at 1e-6. One rank window + one
    // groupBy, both keyed on event_type.
    "agg_gini" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("yq").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
        .withColumn("rnk", row_number().over(w))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_points"),
          sum(col("yq").cast(dec)).as("s"),
          sum(col("rnk").cast(dec) * col("yq").cast(dec)).as("a"))
        .select(col("event_type"), col("n_points"),
          (floor(
            (lit(2.0) * col("a").cast("double")
              / (col("n_points").cast("double") * col("s").cast("double"))
              - (col("n_points") + lit(1)).cast("double") / col("n_points").cast("double"))
              * 1e6) / 1e6).as("gini"))
        .orderBy("event_type")
    }),

    // D10 — statistical aggregates (PG stats surface Minerva KPIs use):
    // stddev/variance/correlation/covariance. Well-conditioned at 4
    // decimals: corr is bounded and the variances carry ~8 guard digits.
    "agg_stats" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qd"))
        .orderBy("l_returnflag")
    }),

    // D11 — exact percentiles via ordered-set aggregates (PG
    // percentile_cont/percentile_disc); SQL front end on both engines.
    "agg_percentile" -> ((s, d) => {
      s.sql(
        s"""SELECT o_orderpriority,
           |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS median_price,
           |       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90_price,
           |       round(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS median_disc
           |FROM parquet.`$d/orders.parquet`
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // D12 — correlated scalar subquery (orders above their customer's own
    // average): Catalyst decorrelates into an aggregate + join
    // (RewriteCorrelatedScalarSubquery) — no per-row re-execution.
    "sub_scalar_corr" -> ((s, d) => {
      s.sql(
        s"""SELECT o_orderkey, round(o_totalprice, 4) AS total
           |FROM parquet.`$d/orders.parquet` o
           |WHERE o_totalprice > 1.5 * (
           |  SELECT avg(o_totalprice) FROM parquet.`$d/orders.parquet` i
           |  WHERE i.o_custkey = o.o_custkey)
           |ORDER BY o_orderkey""".stripMargin)
    }),

    // D13 — pivot: long event rows -> wide per-type sum columns (the
    // counter-table shaping that pairs with udtf_unpivot). Pivot values
    // are declared, not discovered — at scale discovery is an extra pass.
    "agg_pivot" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(round(sum("value"), 4))
        .orderBy("user_id")
    }),

    // D9 — typed Aggregator UDAF: sample-weighted average
    // (graft.functions.WeightedAvg; merges associatively -> partial agg).
    "agg_weighted_udaf" -> ((s, d) => {
      val wavg = udaf(graft.functions.WeightedAvg)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(wavg(col("l_extendedprice"), col("l_quantity")), 4).as("wavg_price"))
        .orderBy("l_returnflag")
    }),

    // D16 — several exact COUNT(DISTINCT) in one aggregation: Catalyst
    // plans this with Expand (one replicated stream per distinct column)
    // + two-phase agg — worth pinning because naive engines re-scan per
    // distinct.
    "agg_distinct_multi" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("event_type")).as("n_types"),
          count(lit(1)).as("n_events"))
        .orderBy("day")
    }),

    // D15 — deterministic list aggregation: collect_list is
    // order-nondeterministic by itself, so the canonical form is
    // sort_array + a string join (emitting the raw array would also trip
    // cross-engine array stringification in the compare).
    "agg_array_agg" -> ((s, d) => {
      Tables.nation(s, d)
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"),
          count(lit(1)).as("n_nations"))
        .orderBy("r_name")
    }),

    // D14 — salted two-phase aggregation over hot keys: events has only 5
    // event types, so a plain groupBy funnels 20k+ rows per reducer key;
    // Skew.saltedAgg spreads each hot key over 16 salt buckets and merges
    // partials. Results are identical to the plain groupBy (the oracle IS
    // the plain GROUP BY) — the key exists to keep the skew path
    // result-checked, not just unit-tested.
    "agg_skew_salted" -> ((s, d) => {
      graft.ops.Skew.saltedAgg(
        Tables.events(s, d), Seq("event_type"), saltBuckets = 16,
        Map("n" -> ("value", "count"), "sum_value" -> ("value", "sum"),
          "min_value" -> ("value", "min"), "max_value" -> ("value", "max")))
        .select(col("event_type"), col("n"), round(col("sum_value"), 4).as("sum_value"),
          round(col("min_value"), 4).as("min_value"), round(col("max_value"), 4).as("max_value"))
        .orderBy("event_type")
    }),

    // D18 — fixed-grid histogram (the trend store's distribution rollup):
    // per event type, counts over 10 width-50 value buckets with edge
    // clamping. Fixed grids are the re-aggregable histogram form — partial
    // counts merge by addition across time partitions, unlike quantile
    // sketches; one shuffle keyed on (type, bucket), partial agg map-side.
    "agg_histogram" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("bucket",
          least(greatest(floor(col("value") / 50), lit(0.0)), lit(9.0)).cast("int"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("bucket"),
          (col("bucket") * 50).cast("double").as("lo"),
          ((col("bucket") + 1) * 50).cast("double").as("hi"),
          col("n"))
        .orderBy("event_type", "bucket")
    }),

    // D16 — min_by / max_by (PG's closest analogue is DISTINCT ON; DuckDB
    // arg_min/arg_max): per user, the event_type of their first and last
    // ingested event. The ordering key is event_id — unique by contract —
    // so the pick is deterministic (rule: never order min_by/max_by on a
    // column that can tie).
    "agg_minmax_by" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          expr("min_by(event_type, event_id)").as("first_type"),
          expr("max_by(event_type, event_id)").as("last_type"),
          min("event_id").as("first_event_id"),
          max("event_id").as("last_event_id"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // D17 — sketch partial aggregation (the 100 TB re-aggregation story):
    // per-day HLL sketches of the user set, merged to weekly estimates
    // with hll_union_agg. Sketches are the only way distinct counts
    // re-aggregate without a second pass over raw data — Minerva's
    // materialized-counter rollups need exactly this shape for
    // distinct-valued KPIs. Estimates are engine-specific, so the key is
    // rows-only checked by the driver; SketchSpec asserts the estimate
    // lands within 2% of the exact count and that merged(daily) equals
    // sketch(raw week) exactly (mergeability).
    "agg_sketch_merge" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"), count(lit(1)).as("n_events"))
        .groupBy(weekofyear(col("day")).as("week"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"),
          sum("n_events").as("n_events"), count(lit(1)).as("n_days"))
        .orderBy("week")
    }),

    // D24 — heavy hitters via a mergeable Misra–Gries summary + exact
    // second pass (functions.MisraGries: summary guarantees every item
    // with freq > n/(k+1) is among its ≤k candidates, any partitioning,
    // any merge order). Pass 1 reduces each map task's slice to ≤k
    // counters before the exchange; pass 2 counts ONLY the candidate
    // items exactly (predicate pushed to the scan) and keeps those over
    // the threshold — so the final rows are exact and deterministic even
    // though the sketch contents aren't. At 100 TB the shuffle tracks k,
    // never vocabulary width; the ≤k-entry candidate set is the only
    // thing that touches the driver. k=128 < the 150-user keyspace, so
    // eviction is genuinely exercised at every SF.
    "agg_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val k = 128
      val items = Tables.events(s, d).select(col("user_id").cast("string").as("item"))
      val sk = items.as[String]
        .select(new graft.functions.MisraGries(k).toColumn.name("sk"))
        .head()
      items.where(col("item").isin(sk.counts.keys.toSeq: _*))
        .groupBy("item").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * (k + 1) > sk.n)
        .orderBy("item")
    }),

    // D20' — Count-Min sketch point queries (functions.CountMin, Cormode
    // & Muthukrishnan 2005): the depth×width counter matrix is built by
    // one mergeable Aggregator pass (map tasks reduce to a constant-size
    // sketch before the exchange — shuffle carries d·w longs, never data
    // volume), then every item's estimate is read out against the exact
    // count. Counters are order-independent SUMS, so unlike Misra–Gries
    // the sketch is deterministic and the oracle reconstructs it in
    // closed form: counter(r, b) = sum of true counts of items hashing
    // to b under seed r — estimates pinned EXACTLY cross-engine. The
    // one-row sketch rides a broadcast crossJoin; the readout is pure
    // codegen'd column math (md5 → conv → element_at → least).
    "agg_count_min" -> ((s, d) => {
      import s.implicits._
      val (depth, width) = (4, 64)
      val items = Tables.events(s, d).select(col("user_id").cast("string").as("item"))
      val sketch = items.as[String]
        .select(new graft.functions.CountMin(depth, width).toColumn.name("sketch"))
      items.groupBy("item").agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(sketch))
        .select(col("item"), col("n_exact"),
          graft.functions.CountMin.estimateCol(col("sketch"), col("item"), depth, width)
            .as("cm_est"))
        .orderBy("item")
    }),

    // D19'' — two-level Count-Min rollup merge (added r8): the
    // DETERMINISTIC frequency twin of `agg_kmv_merge`'s distinct rollup,
    // completing the mergeable-sketch triple (HLL tolerance-checked, KMV
    // exact-distinct, CM exact-frequency): per-day CM sketches of the
    // user stream merged to weekly grain by ELEMENTWISE COUNTER ADDITION
    // (`functions.CountMinMerge`) — the re-aggregable frequency path a
    // materialized rollup stores (daily partials on disk, coarser grains
    // served by merging partials, raw never re-read). Counter addition is
    // associative + commutative, so merge(cm(A), cm(B)) = cm(A ⊎ B)
    // EXACTLY, and the oracle recomputes the weekly counters directly
    // from raw in closed form — estimates pinned exactly cross-engine.
    // Readout: per (week, item) the sketch estimate vs the exact weekly
    // count. Shuffles carry d·w longs per day then per week — constant.
    "agg_cm_merge" -> ((s, d) => {
      val (depth, width) = (4, 64)
      val cmAgg = udaf(new graft.functions.CountMin(depth, width))
      val cmMerge = udaf(new graft.functions.CountMinMerge(depth, width))
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id").cast("string").as("item"))
      val weekly = ev.groupBy("day")
        .agg(cmAgg(col("item")).as("sk"))
        .groupBy(weekofyear(col("day")).as("week"))
        .agg(cmMerge(col("sk")).as("wsk"))
      ev.groupBy(weekofyear(col("day")).as("week"), col("item"))
        .agg(count(lit(1)).as("n_exact"))
        .join(broadcast(weekly), "week")
        .select(col("week"), col("item"), col("n_exact"),
          graft.functions.CountMin.estimateCol(col("wsk"), col("item"), depth, width)
            .as("cm_est"))
        .orderBy("week", "item")
    }),

    // D20'' — KMV (bottom-k) distinct sketch readout (functions.Kmv,
    // Bar-Yossef et al. 2002): per event type, the ≤64 smallest distinct
    // 60-bit md5 hashes of the user set, estimate (k−1)/(h_k/2^60) read
    // out against the exact distinct count. Bottom-k of a set is a pure
    // function of the set — partitioning and merge order cancel — so the
    // sketch is DETERMINISTIC like CountMin's counters and the oracle
    // reconstructs h_k in closed form (k-th smallest distinct hash via one
    // window): the estimate is pinned EXACTLY cross-engine, where the HLL
    // keys can only be tolerance-checked. 2^60 is a power of two (exact
    // double literal), so the two IEEE divides agree bit-for-bit. The
    // ~150-user keyspace exceeds k=64, so the estimation path (not the
    // exact-small-set path) is genuinely exercised at every SF. Shuffle
    // carries ≤k longs per group — never cardinality volume.
    "agg_kmv_distinct" -> ((s, d) => {
      val k = 64
      val kmvAgg = udaf(new graft.functions.Kmv(k))
      Tables.events(s, d)
        .select(col("event_type"), col("user_id").cast("string").as("item"))
        .groupBy("event_type")
        .agg(countDistinct(col("item")).as("n_exact"), kmvAgg(col("item")).as("sk"))
        .select(col("event_type"), col("n_exact"),
          round(
            when(size(col("sk")) < k, size(col("sk")).cast("double"))
              .otherwise(lit((k - 1).toDouble) /
                (element_at(col("sk"), k).cast("double") / lit(1152921504606846976.0))),
            4).as("kmv_est"))
        .orderBy("event_type")
    }),

    // D7c — KMV SET-OPERATION estimates (added r8; Beyer et al. SIGMOD
    // 2007 §5): audience-overlap between segments ("users doing both X
    // and Y") from bottom-k sketches alone — the question a rollup store
    // answers WITHOUT re-reading raw data, and the operation plain
    // distinct counts cannot compose (|A∩B| ≠ f(|A|, |B|)). Per type
    // pair: L = bottom-k(A ∪ B) (= merge of the two sketches — exact, a
    // pure function of the sets), ρ = |{h ∈ L : h ∈ both sketches}|/k,
    // union estimate Û = (k−1)/(h_k/2^60) (the agg_kmv_distinct readout),
    // intersection estimate ρ·Û. KEY EQUIVALENCE the oracle leans on:
    // for h ∈ L, h ∈ sketch(A) ⟺ h ∈ A — h's rank within A is ≤ its
    // rank within A∪B ≤ k — so closed-form SQL set membership
    // reconstructs the sketch intersection exactly. Deterministic
    // end-to-end (sketches are pure functions of the sets; estimates are
    // fixed IEEE over exactly-agreed integers). Pairs with an exhausted
    // union (|L| < k) read off exact counts — the sketch IS the union
    // there. The pair frame is #types² rows of ≤k longs — metadata; the
    // only data-sized work is the one sketch aggregation.
    "agg_kmv_intersect" -> ((s, d) => {
      val k = 64
      val kmvAgg = udaf(new graft.functions.Kmv(k))
      val items = Tables.events(s, d)
        .select(col("event_type"), col("user_id").cast("string").as("item"))
      val sk = items.groupBy("event_type").agg(kmvAgg(col("item")).as("sk"))
      val ut = items.distinct()
      val exact = ut.as("x").join(ut.as("y"),
          col("x.item") === col("y.item") && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_inter_exact"))
      sk.as("a").join(sk.as("b"), col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
          col("a.sk").as("ska"), col("b.sk").as("skb"))
        .withColumn("lu", expr(s"slice(array_sort(array_distinct(concat(ska, skb))), 1, $k)"))
        .withColumn("c", expr(
          "size(filter(lu, h -> array_contains(ska, h) AND array_contains(skb, h)))"))
        .withColumn("kmv_union",
          when(size(col("lu")) < k, size(col("lu")).cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (element_at(col("lu"), k).cast("double") / lit(1152921504606846976.0))))
        .withColumn("kmv_inter",
          when(size(col("lu")) < k, col("c").cast("double"))
            .otherwise(col("c").cast("double") / lit(k.toDouble) * col("kmv_union")))
        .join(exact, Seq("type_a", "type_b"), "left")
        .select(col("type_a"), col("type_b"),
          coalesce(col("n_inter_exact"), lit(0L)).as("n_inter_exact"),
          col("c").cast("long").as("n_common_bottomk"),
          round(col("kmv_union"), 4).as("kmv_union"),
          round(col("kmv_inter"), 4).as("kmv_inter"))
        .orderBy("type_a", "type_b")
    }),

    // D8' — definition-driven trend rollup (added r7): the reference's
    // time-aggregation CONFIGS as documents — the third leg of the
    // config-as-schema layer (store defs r6 → trigger defs r7 →
    // aggregation defs). The YAML names an entity column, a target
    // granularity from the catalog, and measures drawn from a CLOSED
    // function set (sum/avg/min/max/count — the reference's
    // re-aggregation functions; config stays config, never an expression
    // language, so nothing injectable reaches the plan and every legal
    // document has a derivable SQL twin). `AggregationDef.compile`
    // produces the same one-shuffle map-side-partial groupBy the
    // hand-written `agg_time_bucket` plans — the document scales the
    // rollup's SCHEMA, never its execution shape.
    "agg_def_rollup" -> ((s, d) => {
      val defn = graft.store.Definitions.parseAggregation(
        """name: hourly_user_load
          |entity: user_id
          |granularity: 1h
          |measures:
          |  - {name: sum_value, column: value, function: sum}
          |  - {name: avg_value, column: value, function: avg}
          |  - {name: min_value, column: value, function: min}
          |  - {name: max_value, column: value, function: max}
          |  - {name: samples,   column: value, function: count}
          |""".stripMargin)
      defn.compile(Tables.events(s, d)).orderBy("entity_id", "ts")
    }),

    // D20''' — two-level KMV rollup merge (the deterministic twin of
    // `agg_sketch_merge`): per-DAY bottom-k sketches of the user set
    // merged to WEEKLY distinct estimates — the re-aggregable
    // distinct-count path a materialized trend rollup stores (daily
    // partials on disk; any coarser grain served by merging partials,
    // never re-reading raw). Because bottom-k of a set is a pure function
    // of the set, merge(bottom-k(A), bottom-k(B)) = bottom-k(A∪B)
    // EXACTLY — so unlike the HLL union key (tolerance-checked, estimates
    // engine-specific) the merged estimate is deterministic and the
    // oracle recomputes it from raw in closed form: hash-checked, not
    // tolerance-checked. Shuffles carry ≤k longs per day then per week.
    "agg_kmv_merge" -> ((s, d) => {
      val k = 64
      val kmvAgg = udaf(new graft.functions.Kmv(k))
      val mergeAgg = udaf(new graft.functions.KmvMerge(k))
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id").cast("string").as("item"))
      ev.groupBy("day")
        .agg(kmvAgg(col("item")).as("sk"), count(lit(1)).as("n_events"))
        .groupBy(weekofyear(col("day")).as("week"))
        .agg(mergeAgg(col("sk")).as("sk"),
          sum("n_events").as("n_events"), count(lit(1)).as("n_days"))
        .select(col("week"),
          round(
            when(size(col("sk")) < k, size(col("sk")).cast("double"))
              .otherwise(lit((k - 1).toDouble) /
                (element_at(col("sk"), k).cast("double") / lit(1152921504606846976.0))),
            4).as("est_users"),
          col("n_events"), col("n_days"))
        .orderBy("week")
    }),

    // D18'' — two-level HISTOGRAM rollup merge (added r8): the quantile
    // leg of the mergeable-summary family, now complete across all four
    // question types a materialized rollup store serves without
    // re-reading raw data — distinct (KMV, exact merge), frequency (CM,
    // exact merge), cardinality-at-tolerance (HLL), and now QUANTILES:
    // per-day fixed-grid histograms (40 width-25 buckets, the
    // agg_histogram grid) merged to weekly grain by ELEMENTWISE COUNT
    // ADDITION — addition is associative/commutative so
    // merge(hist(A), hist(B)) = hist(A ⊎ B) EXACTLY, and the p90 served
    // from the MERGED sketch is bit-equal to one computed on raw weekly
    // data (the oracle computes exactly that directly). Readout is
    // agg_hist_quantile's exact-integer rank + in-bucket interpolation.
    // Shuffles carry ≤40 longs per (day, type) then per (week, type).
    "agg_hist_merge" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("week", "event_type").orderBy("bucket")
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy("week", "event_type")
      val daily = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("bucket",
          least(greatest(floor(col("value") / 25), lit(0.0)), lit(39.0)).cast("long"))
        .groupBy(to_date(col("ts")).as("day"), col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val weekly = daily
        .groupBy(weekofyear(col("day")).as("week"), col("event_type"), col("bucket"))
        .agg(sum("cnt").as("cnt"))
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(wAll))
        .withColumn("tgt", expr("(9 * n + 9) div 10"))
      weekly.where(col("cum") >= col("tgt"))
        .groupBy("week", "event_type", "n", "tgt")
        .agg(min_by(struct(col("bucket"), col("cnt"), col("cum")), col("bucket")).as("b"))
        .select(col("week"), col("event_type"), col("n"),
          round(
            (col("b.bucket") * 25).cast("double") +
              lit(25.0) * (col("tgt") - (col("b.cum") - col("b.cnt"))).cast("double")
                / col("b.cnt").cast("double"),
            4).as("p90_est"))
        .orderBy("week", "event_type")
    }),

    // D18' — re-aggregable histogram quantiles: the quantile readout over
    // `agg_histogram`'s fixed-grid form (40 width-25 buckets, edge-
    // clamped). Fixed-grid counts merge by ADDITION across partitions and
    // time — the property quantile sketches (t-digest/KLL) trade away —
    // so a materialized rollup can serve p50/p90/p99 at any roll-up grain
    // without re-reading data; the price is grid resolution (±bucket
    // width), honest and documented. Readout: target rank via EXACT
    // integer arithmetic (⌈q·n⌉ as (q_num·n + q_num) div q_den — no float
    // rank), first bucket with cum ≥ target, linear interpolation inside
    // it: lo + 25·(target − cum_prev)/cnt — exact ints into one IEEE
    // multiply+divide+add, identical op order in the oracle. The window
    // is partitioned by event_type over ≤40 bucket rows — summary-sized,
    // never data-sized.
    "agg_hist_quantile" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("bucket")
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      val hist = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("bucket",
          least(greatest(floor(col("value") / 25), lit(0.0)), lit(39.0)).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(wAll))
      val targets = hist.select("event_type", "n").distinct()
        .select(col("event_type"), col("n"),
          explode(expr(
            "array(named_struct('q', '50', 'tgt', (n + 1) div 2), " +
              "named_struct('q', '90', 'tgt', (9 * n + 9) div 10), " +
              "named_struct('q', '99', 'tgt', (99 * n + 99) div 100))")).as("t"))
        .select(col("event_type"), col("n"), col("t.q").as("q"), col("t.tgt").as("tgt"))
      targets.join(hist.select("event_type", "bucket", "cnt", "cum"), "event_type")
        .where(col("cum") >= col("tgt"))
        .groupBy("event_type", "q", "n", "tgt")
        .agg(min_by(struct(col("bucket"), col("cnt"), col("cum")), col("bucket")).as("b"))
        .select(col("event_type"), col("q"), col("n"),
          round(
            (col("b.bucket") * 25).cast("double") +
              lit(25.0) * (col("tgt") - (col("b.cum") - col("b.cnt"))).cast("double") / col("b.cnt").cast("double"),
            4).as("q_est"))
        .orderBy("event_type", "q")
    }),

    // D21 — ordered funnel stages (behavioral analytics): per user, the
    // first 'view', the first 'click' strictly after it, the first
    // 'purchase' strictly after that. Each stage is one user-keyed
    // aggregation joined back on the user — three cheap shuffles on the
    // same key (co-partitioned after the first), no per-user sort, no
    // window over the whole fact.
    "agg_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.join(v, "user_id")
        .where(col("event_type") === "click" && col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.join(c, "user_id")
        .where(col("event_type") === "purchase" && col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          col("t_purchase").isNotNull.cast("int").as("completed"))
        .orderBy("user_id")
    }),

    // D22 — cohort retention: users bucketed by their first-activity day,
    // activity counted per (cohort day, day offset). Two user-keyed aggs;
    // the first-day dimension joins back onto the fact by user.
    "agg_cohort" -> ((s, d) => {
      val ev = Tables.events(s, d).select("user_id", "ts")
      val firstDay = ev.groupBy("user_id").agg(to_date(min("ts")).as("cohort_d"))
      ev.join(firstDay, "user_id")
        .groupBy(col("cohort_d"),
          datediff(to_date(col("ts")), col("cohort_d")).as("day_offset"))
        .agg(countDistinct("user_id").as("active_users"), count(lit(1)).as("n_events"))
        .orderBy("cohort_d", "day_offset")
    }),

    // D20 — boolean aggregates (the trigger-rule / SLA-check primitives):
    // every / any / count_if per group, emitted as ints so both engines
    // stringify identically.
    "agg_bool" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          expr("every(value > 0)").cast("int").as("all_pos"),
          expr("any(value > 900)").cast("int").as("any_high"),
          expr("count_if(value > 900)").as("n_high"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // D19 — data-quality profile (the ingest-side check every warehouse
    // runs before trusting a batch): per-column null count, distinct
    // count, numeric min/max — ONE pass over the fact table (a single
    // aggregation with multiple count-distincts → Catalyst's Expand
    // two-phase plan, never one scan per column), then a stack() unpivot
    // into one row per column. Distinct counts are EXACT at or under the
    // measured row gate and HLL estimates above it (see dqProfile).
    "agg_dq_profile" -> ((s, d) => dqProfile(Tables.events(s, d), DqExactRows)),

    // D18 — deterministic mode (most frequent value per group). Both
    // engines' native mode() is tie-nondeterministic, so the key pins the
    // tie-break explicitly: highest count, then smallest value. Two
    // aggregations, both keyed: the count shuffle on (group, value), then
    // a window over the group-sized intermediate — no global exchange.
    "agg_mode" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("cnt").desc, col("user_id").asc)
      counts.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("event_type"), col("user_id").as("mode_user"), col("cnt"))
        .orderBy("event_type")
    }),

    // C31 — Benford first-digit screening (added r4): observed vs expected
    // leading-digit frequency per event type — the classic forensic /
    // data-quality test (hand-keyed, capped, or synthetic-uniform values
    // bend away from log10(1+1/d)). The digit comes from the decimal
    // string of the exact µ-unit long (integer-to-string is deterministic
    // on both engines — never from formatting a double); observed
    // frequency is floor-1e-4 quantized (n_d/n lands on .00005 midpoints
    // when n divides the grid — the win_interpolate lesson), expected is
    // a round-4 log10 of small rationals. Two map-side-partial groupBys.
    "agg_benford" -> ((s, d) => {
      val digits = Tables.events(s, d)
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
        .where(col("yq") > 0)
        .withColumn("digit", substring(col("yq").cast("string"), 1, 1).cast("int"))
        .groupBy("event_type", "digit")
        .agg(count(lit(1)).as("n"))
      val totals = digits.groupBy("event_type").agg(sum(col("n")).as("tot"))
      digits.join(totals, "event_type")
        .select(col("event_type"), col("digit"), col("n"),
          (floor(col("n").cast("double") / col("tot") * 1e4) / 1e4).as("obs_freq"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 4).as("exp_freq"))
        .orderBy("event_type", "digit")
    }),

    // C32 — event-type transition matrix (added r4): first-order Markov
    // counts over each user's event sequence — the behavioral-model input
    // (and the sequence-level anomaly baseline: a transition that never
    // occurred before is worth a trigger). Successor via lead over the
    // totally-ordered (ts, event_id) user window — one entity shuffle, no
    // self-join; probabilities are single IEEE divides of exact counts.
    "agg_transition_matrix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy("from_type").agg(sum(col("n")).as("tot"))
      trans.join(totals, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("tot")).as("p"))
        .orderBy("from_type", "to_type")
    }),

    // C34 — declarative expectation checks (added r4): a fixed rule suite
    // over the ingest tables — non-null, range, key-uniqueness,
    // referential integrity, calendar completeness — each emitting
    // (rule, violation measure, pass). The rule-driven twin of
    // agg_dq_profile's open-ended profiling: profiles describe, checks
    // GATE (a failed row is what blocks a load). Exact integer measures
    // only; the row-level rules fuse into ONE conditional-sum pass over
    // events (not one scan per rule), uniqueness is a key groupBy,
    // integrity an anti-join count, completeness a distinct-day rollup
    // against the exact span arithmetic.
    "agg_dq_checks" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // both row-level measures leave ONE aggregate via stack — a shared
      // sub-plan referenced twice would be column-pruned by Catalyst into
      // two separate scans (observed; PlanShapeSpec pins the fusion)
      val rowRules = ev.agg(
          sum(col("value").isNull.cast("long")).as("m_null"),
          sum((col("value") < 0.0 || col("value") > 1000.0).cast("long")).as("m_range"))
        .select(expr(
          """stack(2,
            |  1, 'events.value non-null', m_null,
            |  2, 'events.value in [0,1000]', m_range
            |) AS (rule_id, rule, violations)""".stripMargin))
      val dupKeys = ev.groupBy("event_id").agg(count(lit(1)).as("c"))
        .where(col("c") > 1).agg(count(lit(1)).as("m")).select(col("m"))
      val orphans = Tables.orders(s, d).join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("m")).select(col("m"))
      val gapDays = ev.select(to_date(col("ts")).as("day"))
        .agg((datediff(max(col("day")), min(col("day"))) + 1
          - countDistinct(col("day"))).cast("long").as("m"))
      def row(id: Int, rule: String, m: DataFrame) =
        m.select(lit(id).as("rule_id"), lit(rule).as("rule"),
          col(m.columns.head).cast("long").as("violations"))
      rowRules
        .unionByName(row(3, "event_id unique", dupKeys))
        .unionByName(row(4, "orders.o_custkey in customer", orphans))
        .unionByName(row(5, "no empty calendar days", gapDays))
        .withColumn("pass", (col("violations") === 0L).cast("int"))
        .orderBy("rule_id")
    }),

    // C32b — rule-TABLE-driven DQ checks (added r5): the declarative twin
    // of `agg_dq_checks`. Expectations arrive as ROWS (rule_id, column,
    // kind, lo, hi) — config-as-data, the shape a production check surface
    // exposes so operators edit rules without redeploying plans — and
    // ops.DqRules compiles them into ONE conditional-sum aggregate: single
    // scan, one tiny exchange, stack() back to a row per rule. The rules
    // here intentionally include the fixed twin's two row-level rules, and
    // DqSpec proves the two routes emit identical rows for them.
    "agg_dq_rules" -> ((s, d) => {
      import s.implicits._
      val rules = Seq(
        (1, "events.value non-null", "value", "not_null", 0.0, 0.0),
        (2, "events.value in [0,1000]", "value", "range", 0.0, 1000.0),
        (3, "events.user_id non-null", "user_id", "not_null", 0.0, 0.0),
        (4, "events.value under 900", "value", "max", 0.0, 900.0),
        (5, "events.user_id positive", "user_id", "positive", 0.0, 0.0),
      ).toDF("rule_id", "rule", "column", "kind", "lo", "hi")
      graft.ops.DqRules.check(Tables.events(s, d), rules)
    }),

    // C33 — recency-decayed engagement score (added r4): per user
    // Σ traffic_day · 0.5^(age div 7) against the corpus's newest day —
    // the half-life-weighted score ranking/retention systems keep instead
    // of a plain sum (yesterday's activity outweighs last month's).
    // Determinism by construction: daily totals are exact µ-unit DECIMAL
    // sums; ages quantize to whole half-life steps so 0.5^k is an EXACT
    // power-of-two double (never an approximated exp); each term is one
    // IEEE multiply; and the terms fold SEQUENTIALLY in day order
    // (sort_array + aggregate ≡ DuckDB's ordered-list sum), so the
    // accumulated double is bit-identical across engines before the
    // final floor quantization. Fold lists are span-days-sized.
    "agg_decay_score" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val daily = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          floor(col("value") * 1e6).cast("long").as("vq"))
        .groupBy("user_id", "day").agg(sum(col("vq").cast(dec)).as("tq"))
      // crossJoin with a broadcast ONE-ROW aggregate (the global newest
      // day) — the scalar-broadcast idiom; the resulting BNL has a 1-row
      // build side and is allowlisted as such in PlanScan
      val mx = daily.agg(max(col("day")).as("max_day"))
      daily.crossJoin(broadcast(mx))
        .withColumn("k", expr("datediff(max_day, day) div 7"))
        .withColumn("term", col("tq").cast("double") * pow(lit(0.5), col("k")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_days"),
          expr("aggregate(sort_array(collect_list(named_struct('d', day, 't', term))), " +
            "0.0D, (acc, x) -> acc + x.t)").as("acc"))
        .select(col("user_id"), col("n_days"),
          expr("floor(acc / 1e6 * 1e4) / 1e4").as("decay_score"))
        .orderBy("user_id")
    }),

    // C29 — Shannon entropy of each user's event-type mix (added r4): the
    // behavioral-diversity readout (0 = single-typed, ln 5 ≈ 1.609 = all
    // five types equally). Computed as H = ln n − (Σ c·ln c)/n from exact
    // integer counts, so the only float work is ≤5 ln terms summed per
    // group; round-4 absorbs accumulation-order drift (the avg-log
    // precedent from llm_perplexity). Two map-side-partial groupBys, no
    // per-row float state.
    "agg_entropy" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum(col("c")).as("n"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
        .select(col("user_id"),
          round(log(col("n").cast("double")) - col("clc") / col("n"), 4).as("entropy"))
        .orderBy("user_id")
    }),

    // C30 — RFM segmentation (added r4): recency / frequency / monetary
    // per customer with quintile scores — the standard CRM segmentation
    // readout. Monetary is an exact µ-unit DECIMAL(38,0) sum (no float
    // near-tie can flip a quintile boundary), recency an exact µs max;
    // each quintile orders with a user_id tie-break so tile edges are
    // total-order facts. Each score is a distributed two-pass global rank
    // (ops.Rank — range partition + broadcast prefix offsets), never a
    // partition-less ntile window: the entity rollup is billions of rows
    // at full scale even though the fact table shrinks 1000× into it.
    "agg_rfm" -> ((s, d) => {
      import graft.ops.Rank
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val base = Tables.events(s, d)
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id")
        .agg(max(unix_micros(col("ts"))).as("last_us"),
          count(lit(1)).as("frequency"),
          sum(col("yq").cast(dec)).as("mq"))
      val scored = Seq(
        (Seq(col("last_us").desc, col("user_id").asc), "r_score"),
        (Seq(col("frequency").desc, col("user_id").asc), "f_score"),
        (Seq(col("mq").desc, col("user_id").asc), "m_score"))
        .foldLeft(base) { case (df, (ord, name)) =>
          Rank.withGlobalRank(df, ord, "__g", "__n")
            .withColumn(name, Rank.ntileExpr(5, "__g", "__n"))
            .drop("__g", "__n")
        }
      scored
        .select(col("user_id"), col("frequency"),
          (col("mq").cast("double") / 1e6).as("monetary"),
          col("r_score"), col("f_score"), col("m_score"))
        .orderBy("user_id")
    }),

    // D33 — pairwise Pearson correlation matrix (added r5): all 6 column
    // pairs of lineitem's numeric measures in ONE scan — six `corr`
    // aggregates computed side by side (each a constant-size moment
    // state merged map-side), then `stack` pivots the single result row
    // into tidy (col_a, col_b, r) rows. The one-scan shape is the point
    // at 100 TB: a naive per-pair loop reads the fact table 6× (and a
    // k-column matrix k(k-1)/2×) for work whose combined state is ~100
    // bytes. round(6): both engines accumulate co-moments in different
    // orders (~1e-12 relative drift on 60 k rows).
    "agg_corr_matrix" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      val aggs = pairs.map { case (a, b) =>
        round(corr(col(a), col(b)), 6).as(s"${a}__$b") }
      Tables.lineitem(s, d)
        .agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${pairs.size}, " +
          pairs.map { case (a, b) => s"'$a', '$b', `${a}__$b`" }.mkString(", ") +
          ") AS (col_a, col_b, r)")
        .orderBy("col_a", "col_b")
    }),

    // D34 — differentially-private count release (added r5): per-group
    // counts with Laplace(1/ε) noise at ε=1, the mechanism behind every
    // privacy-bounded aggregate release. The noise is DERIVED
    // DETERMINISTICALLY from the group key (md5 → uniform in (0,1) →
    // inverse-CDF Laplace): a re-run or a retried partition releases the
    // SAME noisy value — at 100 TB, nondeterministic noise regenerated
    // per task retry silently burns privacy budget (each retry is a
    // fresh release) and breaks replay testing; keyed noise is the
    // idempotent form (rotate an epoch salt into the hash to re-release).
    // The true count is included here ONLY for oracle checking — a
    // production release ships the noisy column alone. ln() differs by
    // ≤1 ulp across libm implementations; round(4) absorbs it.
    "agg_dp_counts" -> ((s, d) => {
      val h = call_function("md5_bits", col("event_type"), lit(1), lit(8))
        .cast("double")
      val u = (h + lit(0.5)) / lit(4294967296.0)
      val v = u - lit(0.5)
      val noise = -signum(v) * log(lit(1.0) - lit(2.0) * abs(v))
      Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .withColumn("noisy_n", round(col("n") + noise, 4))
        .select("event_type", "n", "noisy_n")
        .orderBy("event_type")
    }),

    // D35 — Apdex satisfaction score (added r5): the standard SLA rollup
    // (Apdex spec: satisfied ≤ T, tolerating ≤ 4T, score =
    // (satisfied + tolerating/2) / n) per event type, T = 1.0 on the
    // value column as latency-seconds. One conditional-sum scan — the
    // same single-pass shape as agg_dq_checks; counts leave executors as
    // three longs per group. The score is computed as ONE IEEE divide of
    // exact integers (2·sat + tol) / (2·n) — never sat/n + tol/2/n,
    // whose two-rounding result can differ in the last ulp.
    "agg_apdex" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count_if(col("value") <= 1.0).as("satisfied"),
          count_if(col("value") > 1.0 && col("value") <= 4.0).as("tolerating"))
        .withColumn("apdex",
          (lit(2) * col("satisfied") + col("tolerating")).cast("double") /
            (lit(2) * col("n")).cast("double"))
        .orderBy("event_type")
    }),

    // D36 — two-sample Kolmogorov–Smirnov drift screen (added r8): per
    // event type, the KS statistic between that type's value distribution
    // and the GLOBAL one — the distribution-drift alarm a DQ monitor runs
    // beside agg_chi_square's independence test (KS catches shape shifts
    // chi-square's 4 coarse cells smooth over). ECDFs are evaluated on a
    // fixed 256-bin grid (bin = floor(value/2) clamped to [0,255]) — the
    // binned form IS the scale form: one scan folds to (type × bin)
    // counts with map-side partials, and everything after is
    // summary-sized (≤ types·256 rows), flat at any corpus size. Bin
    // count is the resolution knob (binned KS under-estimates sup-diff by
    // at most the largest within-bin mass). Determinism at hash-match
    // strictness: cumulative counts are exact longs; the sup of
    // |F_t − F_all| is taken over the exact integer cross-products
    // |cum_t·n_all − cum_all·n_t| (DECIMAL(38,0) — order-free, and the
    // max of integers needs no float compare), with ONE IEEE divide at
    // the end, floor-1e-6 edge.
    "agg_ks_drift" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val cells = Tables.events(s, d)
        .where(col("value").isNotNull)
        .select(col("event_type"),
          least(greatest(floor(col("value") / 2), lit(0.0)), lit(255.0))
            .cast("long").as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
      val grid = cells.groupBy("bin").agg(sum("c").as("c_all"))
      val types = cells.groupBy("event_type").agg(sum("c").as("n_t"))
      val nAll = cells.agg(sum("c").as("n_all"))
      // dense (type × occupied-bin) matrix: both sides are tiny
      // aggregates, so the cross join is broadcast and summary-sized
      val dense = types.crossJoin(broadcast(grid))
        .join(cells, Seq("event_type", "bin"), "left")
        .na.fill(0L, Seq("c"))
        .crossJoin(broadcast(nAll))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("bin")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      dense
        .withColumn("cum_t", sum("c").over(w))
        .withColumn("cum_all", sum("c_all").over(w))
        .withColumn("num",
          abs(col("cum_t").cast(dec) * col("n_all").cast(dec)
            - col("cum_all").cast(dec) * col("n_t").cast(dec)))
        .groupBy("event_type")
        .agg(max("n_t").cast("long").as("n_t"),
          max("num").as("mnum"), max(col("n_all")).cast("long").as("na"))
        .select(col("event_type"), col("n_t"),
          (floor(col("mnum").cast("double")
            / (col("n_t").cast(dec) * col("na").cast(dec)).cast("double")
            * 1e6) / 1e6).as("ks"))
        .orderBy("event_type")
    }),

    // D37 — Population Stability Index drift score (added r8): the
    // industry-standard scorecard-monitoring companion to agg_ks_drift —
    // PSI = Σ_b (p_t − p_all)·ln(p_t/p_all) over 8 coarse value bins,
    // per event type vs the global mix. Laplace add-1 smoothing keeps
    // empty bins finite (and is itself part of the published metric's
    // standard practice); the coarse-bin + smoothing pair is what makes
    // PSI robust where KS is exact — the two keys are the two standard
    // drift lenses. Same flat scale shape as KS: one (type × bin)
    // aggregation scan, then summary-sized arithmetic. The 8-term fold
    // runs in bin order via the ordered-list sum (agg_chi_square idiom) —
    // a plain float sum would depend on partial-agg order; ln's ≤1-ulp
    // libm drift is absorbed by the floor-1e-4 edge.
    "agg_psi_drift" -> ((s, d) => {
      val cells = Tables.events(s, d)
        .where(col("value").isNotNull)
        .select(col("event_type"),
          least(greatest(floor(col("value") / 64), lit(0.0)), lit(7.0))
            .cast("long").as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
      val types = cells.select("event_type").distinct()
      val bins = s.range(0, 8).select(col("id").as("bin"))
      val dense = types.crossJoin(broadcast(bins))
        .join(cells, Seq("event_type", "bin"), "left")
        .na.fill(0L, Seq("c"))
      val grid = dense.groupBy("bin").agg(sum("c").as("c_all"))
      val tot = dense.groupBy("event_type").agg(sum("c").as("n_t"))
      val nAll = dense.agg(sum("c").as("n_all"))
      dense.join(broadcast(grid), "bin").join(broadcast(tot), "event_type")
        .crossJoin(broadcast(nAll))
        .withColumn("p_t", (col("c") + lit(1)).cast("double")
          / (col("n_t") + lit(8)).cast("double"))
        .withColumn("p_all", (col("c_all") + lit(1)).cast("double")
          / (col("n_all") + lit(8)).cast("double"))
        .withColumn("term", (col("p_t") - col("p_all")) * log(col("p_t") / col("p_all")))
        .groupBy("event_type")
        .agg(max("n_t").cast("long").as("n_t"),
          expr("floor(aggregate(array_sort(collect_list(named_struct('b', bin, 't', term))), " +
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.t) * 1e4) / 1e4").as("psi"))
        .orderBy("event_type")
    }),

    // D32 — market-basket association rules (added r9): the classic
    // co-occurrence mining readout (support / confidence / lift) over
    // order baskets at BRAND grain. Scale shape: the pair generator is a
    // self-join on the ORDER key — per-order fan-out is bounded by basket
    // size² (≤C(12,2) here, never corpus²), and the rule aggregation
    // shuffles on a key space bounded by brand² (≤625), so the plan is
    // linear in orders at any corpus size. All counts exact ints; the
    // three ratio readouts are single IEEE expressions of exact ints,
    // floor-quantized (r2 #2 rule).
    "agg_assoc_rules" -> ((s, d) => {
      val baskets = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
        .distinct()
      val nOrders = baskets.agg(countDistinct(col("ok")).as("n_orders"))
      val itemCnt = baskets.groupBy("brand").agg(count(lit(1)).as("n_item"))
      val pairs = baskets.select(col("ok"), col("brand").as("brand_a"))
        .join(baskets.select(col("ok"), col("brand").as("brand_b")), Seq("ok"))
        .where(col("brand_a") < col("brand_b"))
        .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("n_ab"))
      // each unordered pair yields two directed rules a→b and b→a
      val rules = pairs.select(col("brand_a").as("antecedent"),
          col("brand_b").as("consequent"), col("n_ab"))
        .unionAll(pairs.select(col("brand_b").as("antecedent"),
          col("brand_a").as("consequent"), col("n_ab")))
        .where(col("n_ab") >= 2)
      val ia = itemCnt.select(col("brand").as("antecedent"), col("n_item").as("n_ant"))
      val ic = itemCnt.select(col("brand").as("consequent"), col("n_item").as("n_con"))
      rules.join(broadcast(ia), "antecedent").join(broadcast(ic), "consequent")
        .crossJoin(broadcast(nOrders))
        .select(col("antecedent"), col("consequent"), col("n_ab"),
          col("n_ant"), col("n_con"), col("n_orders"),
          (floor(col("n_ab").cast("double") / col("n_orders").cast("double") * 1e4) / 1e4)
            .as("support"),
          (floor(col("n_ab").cast("double") / col("n_ant").cast("double") * 1e4) / 1e4)
            .as("confidence"),
          (floor(col("n_ab").cast("double") * col("n_orders").cast("double")
            / (col("n_ant").cast("double") * col("n_con").cast("double")) * 1e4) / 1e4)
            .as("lift"))
        .orderBy("antecedent", "consequent")
    }),

    // D33 — Cramér's V association strength (added r9): the effect-size
    // companion to agg_chi_square — how strongly is market segment
    // associated with order priority, per region. Contingency cells are
    // exact int counts from ONE fact-keyed join (orders⋈customer shuffles
    // on the customer key; nation/region are broadcast dims); the χ²
    // fold runs in (seg, prio) cell order via the ordered-list sum
    // (agg_chi_square idiom), and V = sqrt(χ² / (n·min(r−1, c−1))) is
    // IEEE sqrt of exact-derived doubles — deterministic both engines.
    "agg_cramers_v" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"), col("c_nationkey"))
        .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("seg"), col("r_name").as("region"))
      val cells = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderpriority").as("prio"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("region", "seg", "prio").agg(count(lit(1)).as("o"))
      val rt = cells.groupBy("region", "seg").agg(sum("o").as("rt"))
      val ct = cells.groupBy("region", "prio").agg(sum("o").as("ct"))
      val nn = cells.groupBy("region")
        .agg(sum("o").as("n"), countDistinct(col("seg")).as("r"),
          countDistinct(col("prio")).as("c"))
      cells.join(rt, Seq("region", "seg")).join(ct, Seq("region", "prio"))
        .join(broadcast(nn), "region")
        .withColumn("e",
          col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double"))
        .withColumn("contrib",
          (col("o").cast("double") - col("e")) * (col("o").cast("double") - col("e")) / col("e"))
        .groupBy("region", "n", "r", "c")
        .agg(expr("aggregate(array_sort(collect_list(named_struct('s', seg, 'p', prio, 'c', contrib))), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.c)").as("chi2raw"))
        .select(col("region"), col("n"),
          (floor(col("chi2raw") * 1e4) / 1e4).as("chi2"),
          (floor(sqrt(col("chi2raw") / (col("n").cast("double")
            * (least(col("r"), col("c")) - lit(1L)).cast("double"))) * 1e4) / 1e4)
            .as("cramers_v"))
        .orderBy("region")
    }),

    // D34 — Herfindahl–Hirschman concentration index (added r9): supplier
    // revenue concentration per nation — the market-structure readout a
    // trend store serves next to shares. Revenue is quantized to exact
    // cent longs AT THE SCAN (floor(price·(1−disc)·100), identical IEEE
    // op order in the oracle) so every sum is exact-integer and
    // partial-agg-order-free; shares and the Σshare² fold are the only
    // floats, folded in supplier-key order (agg_chi_square idiom). Two
    // shuffles: lineitem→supplier revenue (map-side partial), then the
    // nation rollup over supplier-grain rows.
    "agg_hhi" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .select(col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0))
            .cast("long").as("cents"))
        .groupBy("l_suppkey").agg(sum("cents").as("r"))
      val byNation = rev
        .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("s_suppkey"), col("r"))
      val tot = byNation.groupBy("nation")
        .agg(sum("r").as("tot"), count(lit(1)).as("n_suppliers"))
      byNation.join(broadcast(tot), "nation")
        .withColumn("share", col("r").cast("double") / col("tot").cast("double"))
        .withColumn("contrib", col("share") * col("share"))
        .groupBy("nation", "n_suppliers", "tot")
        .agg(expr("aggregate(array_sort(collect_list(named_struct('k', s_suppkey, 'c', contrib))), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.c)").as("hhi_raw"))
        .select(col("nation"), col("n_suppliers"), col("tot").as("rev_cents"),
          (floor(col("hhi_raw") * 1e4) / 1e4).as("hhi"))
        .orderBy("nation")
    }),

    // D36 — winsorized + trimmed mean (added r9): the robust central-
    // tendency pair (clamp vs drop outside [p10, p90]) that survives the
    // heavy tails `agg_stats`' plain mean is wrecked by — the defensive
    // KPI every SLA dashboard should serve. EXACT, not approximate: runs
    // on the (type × distinct µ-value) HISTOGRAM with cumulative-count
    // rank cuts (⌈n/10⌉ / ⌈9n/10⌉ as integer arithmetic — the
    // hist_quantile discipline), so the order statistics are the true
    // percentile_disc values and every sum is exact-integer
    // (DECIMAL/HUGEINT). Post-histogram work is value-domain-sized,
    // never row-sized.
    "agg_winsorized_mean" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val hist = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"), floor(col("value") * 1e6).cast("long").as("vq"))
        .groupBy("event_type", "vq").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("vq")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy("event_type")
      val cum = hist
        .withColumn("cum", sum("c").over(w))
        .withColumn("n", sum("c").over(wAll))
      val bounds = cum
        .withColumn("lo_t", expr("(n + 9) div 10"))
        .withColumn("hi_t", expr("(9 * n + 9) div 10"))
        .groupBy("event_type", "n")
        .agg(min(when(col("cum") >= col("lo_t"), col("vq"))).as("v_lo"),
          min(when(col("cum") >= col("hi_t"), col("vq"))).as("v_hi"))
      hist.join(bounds, "event_type")
        .groupBy(col("event_type"), col("n"), col("v_lo"), col("v_hi"))
        .agg(
          sum((greatest(least(col("vq"), col("v_hi")), col("v_lo")) * col("c")).cast(dec))
            .as("wsum"),
          sum(when(col("vq") >= col("v_lo") && col("vq") <= col("v_hi"), col("c"))
            .otherwise(0L)).as("tn"),
          sum(when(col("vq") >= col("v_lo") && col("vq") <= col("v_hi"),
            col("vq") * col("c")).otherwise(0L).cast(dec)).as("tsum"))
        .select(col("event_type"), col("n"),
          (floor(col("v_lo").cast("double") / 1e6 * 1e4) / 1e4).as("p10"),
          (floor(col("v_hi").cast("double") / 1e6 * 1e4) / 1e4).as("p90"),
          (floor(col("wsum").cast("double") / col("n").cast("double") / 1e6 * 1e4) / 1e4)
            .as("winsor_mean"),
          col("tn").as("n_kept"),
          (floor(col("tsum").cast("double") / col("tn").cast("double") / 1e6 * 1e4) / 1e4)
            .as("trimmed_mean"))
        .orderBy("event_type")
    }),

    // D35 — Kaplan–Meier survival estimate (added r9): time-to-conversion
    // analysis with RIGHT CENSORING — the estimator marketing/reliability
    // teams run that naive "avg days to convert" gets wrong (dropping
    // censored users biases toward fast converters). Event = first
    // high-value purchase (value ≥ 200 — both states live at every
    // fixture scale: sf0.001 has 4 deaths / 11 censored); users who never
    // convert are censored at the observation horizon. Shape: ONE
    // user-keyed aggregation (linear, map-side partial), then everything
    // runs at DURATION grain — ≤ observation-window-days rows at any
    // corpus size — so the global window and the triangular self-join
    // under the survival product are summary-sized, never data-sized.
    // S(t) = Π(nᵢ−dᵢ)/nᵢ is folded sequentially in duration order on
    // both engines (Spark aggregate HOF vs DuckDB list_reduce with the
    // same 1.0 seed) — bit-identical IEEE op order, floor-quantized.
    "agg_survival_km" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"), col("value"))
      val mx = ev.agg(max("day").as("maxd"))
      val users = ev.groupBy("user_id")
        .agg(min("day").as("f"),
          min(when(col("event_type") === "purchase" && col("value") >= 200, col("day")))
            .as("p"))
        .crossJoin(broadcast(mx))
        .select(
          when(col("p").isNotNull, datediff(col("p"), col("f")))
            .otherwise(datediff(col("maxd"), col("f"))).cast("long").as("dur"),
          when(col("p").isNotNull, lit(1L)).otherwise(lit(0L)).as("death"))
      val durs = users.groupBy("dur")
        .agg(count(lit(1)).as("all_cnt"), sum("death").as("d"))
      val nTot = users.agg(count(lit(1)).as("n_total"))
      // duration-grain table: ≤ window-days rows — the global window is
      // summary-sized by construction (PlanShapeSpec allowlisted)
      val w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
      val risk = durs.crossJoin(broadcast(nTot))
        .withColumn("n_risk", col("n_total") - coalesce(sum(col("all_cnt")).over(w), lit(0L)))
        .where(col("d") > 0)
        .select(col("dur"), col("n_risk"), col("d"))
      val upto = risk.select(col("dur").as("u"), col("n_risk").as("nr"), col("d").as("dd"))
      risk.join(upto, col("u") <= col("dur"))
        .groupBy("dur", "n_risk", "d")
        .agg(expr("aggregate(array_sort(collect_list(named_struct('u', u, " +
          "'f', CAST(nr - dd AS DOUBLE) / CAST(nr AS DOUBLE)))), " +
          "CAST(1.0 AS DOUBLE), (acc, x) -> acc * x.f)").as("s_raw"))
        .select(col("dur").as("t"), col("n_risk"), col("d").as("d_events"),
          (floor(col("s_raw") * 1e4) / 1e4).as("survival"))
        .orderBy("t")
    }),

    // D38 — Spearman rank correlation (added r10): the monotone-invariant
    // dependence readout between customer account balance and realized
    // order spend, per region — the robust complement to agg_corr_matrix's
    // Pearson. Average ranks under ties come from the VALUE HISTOGRAM, not
    // a per-row rank window: for a distinct value with count c and
    // cumulative-before cb, every row's doubled average rank is the exact
    // integer 2·cb + c + 1 — so the only windows run at (region × distinct
    // value) grain (value-domain-sized for balances; ≤ one row per
    // customer for spend) and the per-row work is two histogram equi-joins.
    // All moment sums are exact integers (DECIMAL(38)/HUGEINT); ρ is the
    // textbook Pearson-on-ranks formula evaluated in DOUBLE from those
    // exact sums — identical IEEE op order both engines — floor-1e-4.
    "agg_spearman" -> ((s, d) => {
      val spend = Tables.orders(s, d)
        .select(col("o_custkey"),
          floor(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
        .groupBy("o_custkey").agg(sum("cents").as("sp"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          floor(col("c_acctbal") * lit(100.0)).cast("long").as("bal"))
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("region"), col("bal"),
          coalesce(col("sp"), lit(0L)).as("sp"))
      // doubled average rank per distinct value: 2·cumBefore + cnt + 1
      def rank2(df: DataFrame, v: String, out: String): DataFrame = {
        val wcum = Window.partitionBy("region").orderBy(v)
          .rowsBetween(Window.unboundedPreceding, -1)
        df.groupBy("region", v).agg(count(lit(1)).as("c"))
          .withColumn(out,
            lit(2L) * coalesce(sum(col("c")).over(wcum), lit(0L)) + col("c") + lit(1L))
          .drop("c")
      }
      val joined = cust
        .join(rank2(cust, "bal", "rb2"), Seq("region", "bal"))
        .join(rank2(cust, "sp", "rs2"), Seq("region", "sp"))
      joined.groupBy("region")
        .agg(
          count(lit(1)).as("n_customers"),
          sum(col("rb2").cast("decimal(38,0)")).as("sx"),
          sum(col("rs2").cast("decimal(38,0)")).as("sy"),
          sum(col("rb2").cast("decimal(19,0)") * col("rs2")).as("sxy"),
          sum(col("rb2").cast("decimal(19,0)") * col("rb2")).as("sxx"),
          sum(col("rs2").cast("decimal(19,0)") * col("rs2")).as("syy"))
        .select(col("region"), col("n_customers"),
          (floor(
            (col("n_customers").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
            / (sqrt(col("n_customers").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * sqrt(col("n_customers").cast("double") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double")))
            * 1e4) / 1e4).as("rho_spearman"))
        .orderBy("region")
    }),

    // D39 — mutual information + normalized MI between market segment and
    // region (added r10): the model-free dependence strength between two
    // categoricals — the information-theoretic reading of the same
    // contingency table agg_cramers_v scores, and the feature-selection
    // primitive (rank features by MI with the label). One groupBy at cell
    // grain, marginals and total derived FROM the cell table (no second
    // scan); MI/H contributions are count-ratio doubles folded in cell-key
    // order (ordered-fold idiom), NMI = MI/√(H_seg·H_region), floor-1e-4.
    "agg_mutual_info" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_mktsegment").as("seg"), col("r_name").as("region"))
      val joint = cust.groupBy("seg", "region").agg(count(lit(1)).as("nxy"))
        .transform(Checkpoints.stage) // cell grain: ≤ |segs|·|regions| rows
      val margx = joint.groupBy("seg").agg(sum("nxy").as("nx"))
      val margy = joint.groupBy("region").agg(sum("nxy").as("ny"))
      val tot = joint.agg(sum("nxy").as("n"))
      val mi = joint
        .join(broadcast(margx), "seg").join(broadcast(margy), "region")
        .crossJoin(broadcast(tot))
        .withColumn("c", col("nxy").cast("double") / col("n").cast("double")
          * log(col("nxy").cast("double") * col("n").cast("double")
            / (col("nx").cast("double") * col("ny").cast("double"))))
        .agg(expr("aggregate(array_sort(collect_list(named_struct('s', seg, 'r', region, 'c', c))), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.c)").as("mi_raw"))
      def entropy(marg: DataFrame, k: String, cnt: String): DataFrame = marg
        .crossJoin(broadcast(tot))
        .withColumn("c", -(col(cnt).cast("double") / col("n").cast("double"))
          * log(col(cnt).cast("double") / col("n").cast("double")))
        .agg(expr(s"aggregate(array_sort(collect_list(named_struct('k', $k, 'c', c))), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.c)").as(s"h_$k"))
      mi.crossJoin(entropy(margx, "seg", "nx"))
        .crossJoin(entropy(margy, "region", "ny"))
        .crossJoin(broadcast(tot))
        .select(col("n"),
          (floor(col("mi_raw") * 1e4) / 1e4).as("mi"),
          (floor(col("h_seg") * 1e4) / 1e4).as("h_seg"),
          (floor(col("h_region") * 1e4) / 1e4).as("h_region"),
          when(col("h_seg") > 0 && col("h_region") > 0,
            floor(col("mi_raw") / sqrt(col("h_seg") * col("h_region")) * 1e4) / 1e4)
            .as("nmi"))
    }),

    // D40 — log-log OLS price elasticity per brand (added r10): the
    // econometric readout (slope of ln quantity on ln unit price) a
    // pricing pipeline hangs on the warehouse — and the general pattern
    // for EXACT distributed OLS: both regressors are µ-quantized to longs
    // at the scan, every moment sum is an exact integer (DECIMAL(38) /
    // HUGEINT — order-free, map-side partial), and slope/intercept/R² are
    // closed-form doubles computed from those exact sums with identical
    // IEEE op order on both engines. One join to part (brand lookup), one
    // groupBy brand — two shuffles, no window. The 1e6 quantization scale
    // cancels in the slope (both axes scaled identically); the intercept
    // is de-scaled once. floor-1e-4; degenerate brands (zero variance)
    // surface as NULL via the denominator guard.
    "agg_price_elasticity" -> ((s, d) => {
      val pts = Tables.lineitem(s, d)
        .select(col("l_partkey"),
          floor(log(col("l_extendedprice") / col("l_quantity")) * lit(1e6)).cast("long").as("xq"),
          floor(log(col("l_quantity")) * lit(1e6)).cast("long").as("yq"))
        .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
      val agg = pts.groupBy(col("p_brand").as("brand"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("xq").cast("decimal(38,0)")).as("sx"),
          sum(col("yq").cast("decimal(38,0)")).as("sy"),
          sum((col("xq") * col("yq")).cast("decimal(38,0)")).as("sxy"),
          sum((col("xq") * col("xq")).cast("decimal(38,0)")).as("sxx"),
          sum((col("yq") * col("yq")).cast("decimal(38,0)")).as("syy"))
        .withColumn("dx", col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
        .withColumn("dy", col("n").cast("double") * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double"))
        .withColumn("num", col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
        .withColumn("slope", when(col("dx") > 0, col("num") / col("dx")))
      agg.select(col("brand"), col("n"),
          (floor(col("slope") * 1e4) / 1e4).as("elasticity"),
          (floor((col("sy").cast("double") / col("n").cast("double")
            - col("slope") * (col("sx").cast("double") / col("n").cast("double")))
            / lit(1e6) * 1e4) / 1e4).as("intercept"),
          when(col("dy") > 0,
            floor(col("slope") * col("num") / col("dy") * 1e4) / 1e4).as("r2"))
        .orderBy("brand")
    }),

    // D41 — Markov steady-state of the event-type transition chain (added
    // r10): 3 unrolled power iterations v ← vP from a uniform start over
    // the empirical transition matrix — the long-run state-occupancy
    // readout that turns agg_transition_matrix's raw P into "where does
    // the funnel settle". P lives at state² grain (≤ |types|² rows —
    // dimension-sized at any corpus scale, broadcast everywhere); each
    // iteration is one cell-grain join + an ordered fold over the ≤|types|
    // incoming terms (src-ordered — identical IEEE sequence both engines).
    // Raw power iteration, no dangling-state correction: every fixture
    // state has out-transitions, and the oracle applies the identical
    // semantics either way. floor-1e-4 on the final vector only.
    "agg_markov_steady" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("nxt", lead("event_type", 1).over(w))
        .where(col("nxt").isNotNull)
        .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
        .agg(count(lit(1)).as("c"))
        .transform(Checkpoints.stage) // state² grain
      val p = trans
        .join(broadcast(trans.groupBy("src").agg(sum("c").as("t"))), "src")
        .select(col("src"), col("dst"),
          (col("c").cast("double") / col("t").cast("double")).as("p"))
      val states = trans.select(col("src").as("state"))
        .unionByName(trans.select(col("dst").as("state"))).distinct()
      val ns = states.agg(count(lit(1)).as("k"))
      val v0 = states.crossJoin(broadcast(ns))
        .select(col("state"), (lit(1.0) / col("k").cast("double")).as("v"))
      def step(v: DataFrame): DataFrame = states
        .join(
          v.join(p, v("state") === p("src"))
            .groupBy(col("dst"))
            .agg(expr("aggregate(array_sort(collect_list(named_struct('s', src, 'x', v * p))), " +
              "CAST(0.0 AS DOUBLE), (acc, y) -> acc + y.x)").as("vn"))
            .select(col("dst").as("state"), col("vn")),
          Seq("state"), "left")
        .select(col("state"), coalesce(col("vn"), lit(0.0)).as("v"))
      val v3 = step(step(step(v0)))
      v3.select(col("state"), (floor(col("v") * 1e4) / 1e4).as("p_steady"))
        .orderBy("state")
    }),

    // D42 — Pareto coverage points per region (added r10): "how many top
    // customers carry 80 % of revenue, and what share does the top decile
    // hold" — the concentration SUMMARY beside agg_hhi's index and
    // win_ratio_total's per-row shares. Spend is exact cent longs; the
    // global running sum comes from ops.Rank.withGlobalCumSum (range
    // partition + broadcast prefix offsets — NO low-cardinality
    // region-partitioned window over the data), per-region positions and
    // cumulatives are recovered by subtracting the region's broadcast
    // offsets, and the 80 % threshold is the exact integer comparison
    // 5·cumBefore < 4·total — no float crosses a row boundary. Shares are
    // single IEEE divides of exact ints, floor-1e-4.
    "agg_pareto" -> ((s, d) => {
      val spend = Tables.orders(s, d)
        .select(col("o_custkey"),
          floor(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
        .groupBy("o_custkey").agg(sum("cents").as("sp"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("region"), col("c_custkey"),
          coalesce(col("sp"), lit(0L)).as("sp"))
      val ranked = graft.ops.Rank.withGlobalCumSum(cust,
        Seq(col("region"), col("sp").desc, col("c_custkey")),
        "sp", "cum", "g", "n_all")
      val regOff = ranked.groupBy("region")
        .agg(min("g").as("g0"), min(col("cum") - col("sp")).as("cum0"),
          count(lit(1)).as("n_customers"), sum("sp").as("tot"))
      ranked.join(broadcast(regOff), "region")
        .withColumn("rk", col("g") - col("g0") + lit(1L))
        .withColumn("cumBefore", col("cum") - col("sp") - col("cum0"))
        .groupBy(col("region"), col("n_customers"), col("tot"))
        .agg(
          sum(when(col("cumBefore") * 5 < col("tot") * 4, 1L).otherwise(0L)).as("k80"),
          sum(when(col("rk") <= expr("(n_customers + 9) div 10"), col("sp"))
            .otherwise(0L)).as("top10"))
        .select(col("region"), col("n_customers"), col("tot").as("rev_cents"),
          col("k80"),
          (floor(col("k80").cast("double") / col("n_customers").cast("double") * 1e4) / 1e4)
            .as("k80_frac"),
          (floor(col("top10").cast("double") / col("tot").cast("double") * 1e4) / 1e4)
            .as("top10_share"))
        .orderBy("region")
    }),

    // D42b — LORENZ CURVE decile points (added r12): the full inequality
    // curve under agg_gini's scalar and agg_pareto's two summary points —
    // customers ranked ASCENDING by total spend, cut into 10 exact
    // SQL-NTILE tiles (ops.Rank.ntileExpr over the distributed global
    // rank — the first n mod 10 tiles carry one extra row; no
    // single-partition window), each decile reporting its customer count,
    // exact cent sum, and the CUMULATIVE revenue share up to that decile
    // — the (x, L(x)) points a fairness/concentration dashboard plots.
    // Zero-spend customers kept (LEFT join, the pareto convention);
    // rank ties break on custkey. Exact integers end-to-end; the share
    // is one final IEEE divide of exact longs, floor-1e-6. Scale: one
    // groupBy + the withGlobalCumSum range-partition pass; output is 10
    // rows at any corpus size.
    "agg_lorenz" -> ((s, d) => {
      val spend = Tables.orders(s, d)
        .select(col("o_custkey"),
          floor(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
        .groupBy("o_custkey").agg(sum("cents").as("sp"))
      val cust = Tables.customer(s, d).select(col("c_custkey"))
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("sp"), lit(0L)).as("sp"))
      val ranked = graft.ops.Rank.withGlobalCumSum(cust,
        Seq(col("sp").asc, col("c_custkey").asc), "sp", "cum", "g", "n_all")
      ranked
        .withColumn("decile", graft.ops.Rank.ntileExpr(10, "g", "n_all"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum("sp").as("rev_cents"),
          max("cum").as("cumq"))
        .join(broadcast(cust.agg(sum("sp").as("tot"))))
        .select(col("decile"), col("n_customers"), col("rev_cents"),
          (floor(col("cumq").cast("double") / col("tot").cast("double") * 1e6) / 1e6)
            .as("cum_share"))
        .orderBy("decile")
    }),

    // D43 — day-of-week × hour-of-day activity matrix (added r10): the
    // calendar-heatmap rollup every ops dashboard opens with. Weekday is
    // computed ARITHMETICALLY ((epoch_days + 4) mod 7, 0 = Sunday — epoch
    // day 0 was a Thursday) because the engines' dayofweek() builtins
    // disagree on numbering; hour() truncates the same µs timestamp on
    // both. Exact cent sums; one cell-grain aggregation (≤ 7·24 rows at
    // any corpus size), map-side partial.
    "agg_dow_hour" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("dow",
          (datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")) + lit(4)) % 7)
        .withColumn("hr", hour(col("ts")))
        .withColumn("cents", floor(col("value") * 100).cast("long"))
        .groupBy("dow", "hr")
        .agg(count(lit(1)).as("n_events"),
          sum("cents").as("sum_cents"),
          count(col("cents")).as("n_vals"))
        .select(col("dow"), col("hr"), col("n_events"), col("sum_cents"),
          (floor(col("sum_cents").cast("double") / col("n_vals").cast("double")
            / lit(100.0) * 1e4) / 1e4).as("avg_value"))
        .orderBy("dow", "hr")
    }),

    // D44 — Kitagawa (Oaxaca-style) mix/rate decomposition (added r10):
    // the period-over-period change in the overall average split into
    // "the mix of segments shifted" vs "segments themselves moved" —
    // the first question a metrics review asks of any moved KPI, and an
    // operator warehouses rarely ship built-in. Periods = first/second
    // half of the observed day range (exact integer epoch-day midpoint);
    // per (event_type segment, period): weight w = events share and rate
    // r = mean value; contribution_mix = (w_B−w_A)·r_A,
    // contribution_rate = w_B·(r_B−r_A) — Σ over segments reproduces
    // R_B−R_A exactly (spec-pinned identity). All inputs exact ints;
    // every output is a row-local IEEE expression of exact ratios (no
    // cross-row float sums), floor-1e-4. One scan, one cell-grain agg.
    "agg_mix_decompose" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("ed", datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")))
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      val rng = ev.agg(min("ed").as("d0"), max("ed").as("d1"))
      val cells = ev.crossJoin(broadcast(rng))
        .withColumn("period",
          when(col("ed") * 2 <= col("d0") + col("d1"), lit("A")).otherwise(lit("B")))
        .groupBy("event_type", "period")
        .agg(count(lit(1)).as("c"), sum("cents").as("sc"))
        .transform(Checkpoints.stage) // segment × period grain
      val tots = cells.groupBy("period").agg(sum("c").as("n"))
      val wide = cells.join(broadcast(tots), "period")
        .select(col("event_type"), col("period"),
          (col("c").cast("double") / col("n").cast("double")).as("w"),
          (col("sc").cast("double") / col("c").cast("double") / lit(100.0)).as("r"))
      val a = wide.where(col("period") === "A")
        .select(col("event_type"), col("w").as("wa"), col("r").as("ra"))
      val b = wide.where(col("period") === "B")
        .select(col("event_type"), col("w").as("wb"), col("r").as("rb"))
      a.join(b, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (floor(coalesce(col("wa"), lit(0.0)) * 1e4) / 1e4).as("w_a"),
          (floor(coalesce(col("wb"), lit(0.0)) * 1e4) / 1e4).as("w_b"),
          (floor(col("ra") * 1e4) / 1e4).as("r_a"),
          (floor(col("rb") * 1e4) / 1e4).as("r_b"),
          (floor((coalesce(col("wb"), lit(0.0)) - coalesce(col("wa"), lit(0.0)))
            * coalesce(col("ra"), lit(0.0)) * 1e4) / 1e4).as("mix_contrib"),
          (floor(coalesce(col("wb"), lit(0.0))
            * (coalesce(col("rb"), lit(0.0)) - coalesce(col("ra"), lit(0.0)))
            * 1e4) / 1e4).as("rate_contrib"))
        .orderBy("event_type")
    }),

    // D45 — sample-ratio-mismatch guard (added r10): the experiment-
    // platform tripwire run before ANY A/B readout — users hash-assigned
    // 50/50 (md5 parity, the llm_sample_hash idiom), χ²(1df) =
    // (n₀−n₁)²/(n₀+n₁) against the 3.84 (p=0.05) critical value. An SRM
    // fires on broken assignment/logging, not on treatment effects — the
    // reason it gates the pipeline rather than living in a notebook.
    // USER-grain assignment (one row per user first), exact ints to one
    // IEEE expression.
    "agg_ab_srm" -> ((s, d) => {
      val users = Tables.events(s, d).select("user_id").distinct()
        .withColumn("arm",
          call_function("md5_bits",
            col("user_id").cast("string"), lit(1), lit(8)) % 2)
      users.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
        .select(col("n0"), col("n1"),
          (floor((col("n0") - col("n1")).cast("double")
            * (col("n0") - col("n1")).cast("double")
            / (col("n0") + col("n1")).cast("double") * 1e4) / 1e4).as("chi2"),
          when((col("n0") - col("n1")).cast("double")
            * (col("n0") - col("n1")).cast("double")
            / (col("n0") + col("n1")).cast("double") > 3.84, lit(1L))
            .otherwise(lit(0L)).as("srm_flag"))
    }),

    // D-DID — difference-in-differences (added r9): the quasi-experiment
    // readout completing the experiment family (ttest/srm/cuped measure a
    // randomized split; DiD measures a ROLLOUT — treatment arrives for
    // one cohort at a point in time, the control cohort's drift is the
    // counterfactual). Cohorts = md5-parity at user grain (the srm
    // discipline), periods = the exact epoch-day midpoint (the
    // mix_decompose discipline); the 2×2 cell table is exact µ-unit
    // sums/counts, every mean one fixed IEEE divide, and the estimate
    // did = (t₁−t₀) − (c₁−c₀) one fixed IEEE expression, floor-1e-4.
    // One event-grain aggregation to 4 cells — nothing after is
    // data-sized.
    "agg_did" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("ed", datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")))
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("arm",
          call_function("md5_bits",
            col("user_id").cast("string"), lit(1), lit(8)) % 2)
      val rng = ev.agg(min("ed").as("d0"), max("ed").as("d1"))
      val cells = ev.crossJoin(broadcast(rng))
        .withColumn("period",
          when(col("ed") * 2 <= col("d0") + col("d1"), lit(0L)).otherwise(lit(1L)))
        .groupBy("arm", "period")
        .agg(count(lit(1)).as("n"), sum("vq").as("sv"))
        .transform(Checkpoints.stage) // 4 cells
      def cell(a: Int, p: Int) = cells.where(col("arm") === a && col("period") === p)
        .select((col("sv").cast("double") / col("n").cast("double") / 1e6).as(s"m$a$p"),
          col("n").as(s"n$a$p"))
      cell(0, 0).crossJoin(cell(0, 1)).crossJoin(cell(1, 0)).crossJoin(cell(1, 1))
        .select(col("n00"), col("n01"), col("n10"), col("n11"),
          (floor(col("m00") * 1e4) / 1e4).as("ctrl_pre"),
          (floor(col("m01") * 1e4) / 1e4).as("ctrl_post"),
          (floor(col("m10") * 1e4) / 1e4).as("treat_pre"),
          (floor(col("m11") * 1e4) / 1e4).as("treat_post"),
          (floor(((col("m11") - col("m10")) - (col("m01") - col("m00")))
            * 1e4) / 1e4).as("did"))
    }),

    // D-SEQ — sequential A/B monitoring (added r9): the cumulative
    // day-by-day z statistic an experimenter actually watches — the
    // "peeking" readout (each row = the decision state had you stopped
    // that day), completing the family's time axis (ttest = one final
    // look; this = every look). Day × arm cells are exact µ-unit sums;
    // CUMULATIVE moments are window sums of exact longs over the
    // day-grain table (bounded by the observation window — the
    // agg_survival_km allowlist argument, never event-sized), and each
    // day's Welch z is one fixed IEEE expression of those exact
    // cumulative integers, floor-1e-4. The crossing flag |z| > 2.48
    // (~α=0.0066, a Bonferroni-ish 25-look guard) marks the first day a
    // naive peeker would have stopped.
    "agg_ab_sequential" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val cells = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("day", col("ts").cast("date"))
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .withColumn("arm",
          call_function("md5_bits",
            col("user_id").cast("string"), lit(1), lit(8)) % 2)
        .groupBy("day", "arm")
        .agg(count(lit(1)).as("n"), sum("vq").as("s1"),
          sum(col("vq").cast(dec) * col("vq")).as("s2"))
      val w = Window.partitionBy("arm").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = cells
        .withColumn("cn", sum("n").over(w))
        .withColumn("cs1", sum("s1").over(w))
        .withColumn("cs2", sum("s2").over(w))
        .select("day", "arm", "cn", "cs1", "cs2")
      val a0 = cum.where(col("arm") === 0)
        .select(col("day"), col("cn").as("n0"), col("cs1").as("sa0"), col("cs2").as("ss0"))
      val a1 = cum.where(col("arm") === 1)
        .select(col("day").as("day1"), col("cn").as("n1"), col("cs1").as("sa1"), col("cs2").as("ss1"))
      def m(s1c: org.apache.spark.sql.Column, nc: org.apache.spark.sql.Column) = s1c.cast("double") / nc.cast("double") / 1e6
      def v(s2c: org.apache.spark.sql.Column, s1c: org.apache.spark.sql.Column, nc: org.apache.spark.sql.Column) =
        ((s2c.cast("double") - s1c.cast("double") * s1c.cast("double") / nc.cast("double"))
          / (nc.cast("double") - 1.0)) / 1e12
      val z = (m(col("sa1"), col("n1")) - m(col("sa0"), col("n0"))) /
        sqrt(v(col("ss1"), col("sa1"), col("n1")) / col("n1").cast("double")
          + v(col("ss0"), col("sa0"), col("n0")) / col("n0").cast("double"))
      a0.join(a1, col("day") === col("day1"))
        .select(col("day"), col("n0"), col("n1"),
          (floor(z * 1e4) / 1e4).as("z"),
          when(abs(z) > 2.48, lit(1L)).otherwise(lit(0L)).as("crossed"))
        .orderBy("day")
    }),

    // D-MDE — experiment power analysis (added r9): the minimum
    // detectable effect at 80 % power / 5 % two-sided α for an equal-
    // split test on the value KPI — the readout that decides whether an
    // experiment is WORTH RUNNING before anyone flips a flag, completing
    // the design side of the family (ttest judges after, this sizes
    // before). mde = (z_{α/2} + z_β)·√(2σ²/n) with the conventional
    // z = 1.96 / 0.84 constants; σ² from exact DECIMAL(38,0) moments
    // (order-free), n = users per arm from the md5-parity assignment;
    // per-arm rows so the readout also exposes the arm imbalance.
    // One scan to user grain, one user-grain fold to 2 rows.
    "agg_power_mde" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val u = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id")
        .agg(sum("vq").as("sv"), count(lit(1)).as("n"))
        .select(col("user_id"),
          (col("sv").cast("double") / col("n").cast("double") / 1e6).as("yu"),
          (call_function("md5_bits",
            col("user_id").cast("string"), lit(1), lit(8)) % 2).as("arm"))
        .withColumn("yq", floor(col("yu") * 1e6).cast("long"))
      // per-user means re-quantized to exact µ-unit longs so the arm
      // moments are order-free integer sums (no ordered fold needed)
      val arms = u.groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          sum(col("yq")).as("s1"),
          sum(col("yq").cast(dec) * col("yq")).as("s2"))
      val nd = col("n_users").cast("double")
      val varY = ((col("s2").cast("double")
        - col("s1").cast("double") * col("s1").cast("double") / nd)
        / (nd - 1.0)) / 1e12
      arms.select(col("arm"), col("n_users"),
          (floor(col("s1").cast("double") / nd / 1e6 * 1e4) / 1e4).as("mean"),
          (floor(varY * 1e4) / 1e4).as("variance"),
          // 2.8 as ONE literal (1.96 + 0.84 summed in IEEE lands 1 ulp off
          // DuckDB's parsed 2.8 — a floor-edge risk for nothing)
          (floor(lit(2.8) * sqrt(lit(2.0) * varY / nd) * 1e4) / 1e4).as("mde"))
        .orderBy("arm")
    }),

    // D-CUPED — variance-reduced A/B readout (CUPED, Deng et al. WSDM'13;
    // added r9): the experiment-analysis layer above `agg_ab_ttest` /
    // `agg_ab_srm` — each user's PRE-period mean is the control covariate
    // that absorbs between-user variance from the POST-period metric:
    // adj_u = y_u − θ·(x_u − x̄), θ = cov(x,y)/var(x) pooled. Periods
    // split at the exact integer epoch-day midpoint (the mix_decompose
    // discipline), arms are md5-parity at user grain (the srm
    // discipline). Determinism: per-user means are fixed IEEE divides of
    // exact µ-unit sums; every cross-user moment is an ORDERED
    // user-id fold (array_sort + sequential aggregate ↔ DuckDB
    // list(… ORDER BY)+list_aggregate — the chi_square/bradley_terry
    // idiom), so both engines fold the identical double sequence; θ, x̄,
    // means and variances are then single fixed IEEE expressions,
    // floor-1e-4 at the edge. Scale shape: one user-grain shuffle, the
    // user frame checkpointed once and read by the pooled + per-arm
    // folds; everything after is arm-grain (2 rows). The degenerate
    // var(x)=0 corpus guards θ to NULL (and the adjusted columns with
    // it) on both engines.
    "agg_cuped" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .where(col("value").isNotNull)
        .withColumn("ed", datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")))
        .withColumn("vq", floor(col("value") * 1e6).cast("long"))
      val rng = ev.agg(min("ed").as("d0"), max("ed").as("d1"))
      val per = ev.crossJoin(broadcast(rng))
        .withColumn("period",
          when(col("ed") * 2 <= col("d0") + col("d1"), lit("pre")).otherwise(lit("post")))
        .groupBy("user_id", "period")
        .agg(sum("vq").as("s"), count(lit(1)).as("n"))
      val pre = per.where(col("period") === "pre").select(col("user_id"),
        (col("s").cast("double") / col("n").cast("double") / 1e6).as("xu"))
      val post = per.where(col("period") === "post").select(col("user_id"),
        (col("s").cast("double") / col("n").cast("double") / 1e6).as("yu"))
      val u = pre.join(post, "user_id")
        .withColumn("arm",
          call_function("md5_bits",
            col("user_id").cast("string"), lit(1), lit(8)) % 2)
        .transform(Checkpoints.stage) // user grain; read by pooled + per-arm folds
      def ofold(v: String) = expr(
        s"aggregate(array_sort(collect_list(named_struct('u', user_id, 'x', $v))), " +
          "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.x)")
      val pooled = u.agg(count(lit(1)).as("np"), ofold("xu").as("sx"),
          ofold("yu").as("sy"), ofold("xu * xu").as("sxx"), ofold("xu * yu").as("sxy"))
        .select(col("np"), (col("sx") / col("np").cast("double")).as("xbar"),
          when(col("np").cast("double") * col("sxx") - col("sx") * col("sx") > 0,
            (col("np").cast("double") * col("sxy") - col("sx") * col("sy"))
              / (col("np").cast("double") * col("sxx") - col("sx") * col("sx")))
            .as("theta"))
      val adj = u.crossJoin(broadcast(pooled))
        .withColumn("a", col("yu") - col("theta") * (col("xu") - col("xbar")))
      val arms = adj.groupBy("arm")
        .agg(count(lit(1)).as("n_users"), ofold("yu").as("sy"), ofold("a").as("sa"),
          ofold("yu * yu").as("syy"), ofold("a * a").as("saa"))
      val nd = col("n_users").cast("double")
      val varY = (col("syy") - col("sy") * col("sy") / nd) / (nd - 1.0)
      val varA = (col("saa") - col("sa") * col("sa") / nd) / (nd - 1.0)
      arms.select(col("arm"), col("n_users"),
          (floor(col("sy") / nd * 1e4) / 1e4).as("mean_y"),
          (floor(col("sa") / nd * 1e4) / 1e4).as("mean_adj"),
          (floor(varY * 1e4) / 1e4).as("var_y"),
          (floor(varA * 1e4) / 1e4).as("var_adj"),
          (floor((lit(1.0) - varA / varY) * 1e4) / 1e4).as("var_reduction"))
        .orderBy("arm")
    }),

    // D — Theil inequality indices per region (added r9): the decomposable
    // inequality family beside `agg_gini` (rank-formulation) and `agg_hhi`
    // (share-of-squares) — Theil T = Σ(x/X)·ln(x·n/X) weights by share
    // (top-sensitive), Theil L (mean log deviation) = (1/n)Σ ln(X/(x·n))
    // weights by head (bottom-sensitive); economists report both because
    // they bound different tails, and T decomposes additively across
    // subgroups (the reason it beats gini for drill-downs). Shares and
    // totals are EXACT (positive balances as cent longs; per-region n, X
    // from one groupBy); each per-row term is a single IEEE expression of
    // exact ints (cents·n ≤ 3·10⁹ — double-exact), and the cross-row sums
    // fold in customer-id order (array_sort+aggregate ↔ list(… ORDER
    // BY)+list_aggregate) so both engines add identical IEEE sequences.
    // Both indices ≥ 0 by Jensen; floor-1e-4. One scan + region-sized
    // broadcast of totals; region-grain output.
    "agg_theil_index" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .where(col("c_acctbal") > 0)
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_regionkey").as("region"), col("c_custkey"),
          floor(col("c_acctbal") * lit(100.0)).cast("long").as("cents"))
      val tot = cust.groupBy("region")
        .agg(count(lit(1)).as("n"), sum("cents").as("ctot"))
      val terms = cust.join(broadcast(tot), "region")
        .withColumn("tt",
          (col("cents").cast("double") / col("ctot").cast("double"))
            * log(col("cents").cast("double") * col("n").cast("double")
              / col("ctot").cast("double")))
        .withColumn("tl",
          log(col("ctot").cast("double")
            / (col("cents").cast("double") * col("n").cast("double"))))
      def ofold(v: String) = expr(
        s"aggregate(array_sort(collect_list(named_struct('u', c_custkey, 'x', $v))), " +
          "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.x)")
      terms.groupBy("region")
        .agg(count(lit(1)).as("n_cust"), max("ctot").as("total_cents"),
          ofold("tt").as("st"), ofold("tl").as("sl"))
        .select(col("region"), col("n_cust"), col("total_cents"),
          (floor(col("st") * 1e4) / 1e4).as("theil_t"),
          (floor(col("sl") / col("n_cust").cast("double") * 1e4) / 1e4).as("theil_l"))
        .orderBy("region")
    }),

    // D — Tukey-fence outlier profile per event type (added r9): the IQR
    // boxplot rule (outlier ⇔ x < Q1 − 1.5·IQR or x > Q3 + 1.5·IQR) —
    // the distribution-free profiling twin of `win_zscore_anomaly`'s
    // model-based flags, and what `agg_dq_checks`-style monitoring uses
    // when no threshold is configured. Quartiles are TRUE type-1 order
    // statistics from the value-histogram integer rank cuts (the
    // winsorized_mean discipline — post-histogram work value-domain-
    // sized, no per-row rank window), and the fence tests run in EXACT
    // integers: 2·vq < 2·Q1 − 3·IQR avoids the 0.5-µunit half entirely,
    // so NO float crosses a row. Readouts are fixed IEEE divides of
    // exact longs, floor-1e-4. One scan + histogram-grain windows.
    "agg_tukey_fence" -> ((s, d) => {
      val hist = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"), floor(col("value") * 1e6).cast("long").as("vq"))
        .groupBy("event_type", "vq").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("vq")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy("event_type")
      val bounds = hist
        .withColumn("cum", sum("c").over(w))
        .withColumn("n", sum("c").over(wAll))
        .groupBy("event_type", "n")
        .agg(min(when(col("cum") >= expr("(n + 3) div 4"), col("vq"))).as("q1"),
          min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("vq"))).as("q3"))
        .withColumn("iqr", col("q3") - col("q1"))
      hist.join(bounds, "event_type")
        .groupBy(col("event_type"), col("n"), col("q1"), col("q3"), col("iqr"))
        .agg(
          sum(when(col("vq") * 2 < col("q1") * 2 - col("iqr") * 3, col("c"))
            .otherwise(0L)).as("n_low"),
          sum(when(col("vq") * 2 > col("q3") * 2 + col("iqr") * 3, col("c"))
            .otherwise(0L)).as("n_high"))
        .select(col("event_type"), col("n"),
          (floor(col("q1").cast("double") / 1e6 * 1e4) / 1e4).as("q1"),
          (floor(col("q3").cast("double") / 1e6 * 1e4) / 1e4).as("q3"),
          (floor(col("iqr").cast("double") / 1e6 * 1e4) / 1e4).as("iqr"),
          col("n_low"), col("n_high"),
          (floor((col("n_low") + col("n_high")).cast("double")
            / col("n").cast("double") * 1e4) / 1e4).as("outlier_rate"))
        .orderBy("event_type")
    }),

    // D — capture–recapture population estimate (added r9): the
    // Lincoln–Petersen / Chapman estimator N̂ = (n₁+1)(n₂+1)/(m+1) − 1
    // from two deterministic md5-parity event samples — the ecology
    // estimator that answers "how many distinct users/URLs EXIST given
    // we only observe samples" (crawl-coverage estimation: two crawl
    // passes, overlap → universe size; same question `agg_kmv_distinct`
    // answers from hashes, here answered from OBSERVATION overlap).
    // Capture flags are exact per-user max-indicators over the event
    // parity (one user-grain shuffle, map-side partial); all counts
    // exact longs; the estimator is one IEEE divide of exact integer
    // products ((n+1)² ≤ 10¹⁰ — double-exact), floor-1e-4. The true
    // distinct count rides along so the readout carries its own error.
    "agg_capture_recapture" -> ((s, d) => {
      val u = Tables.events(s, d)
        .withColumn("parity",
          call_function("md5_bits",
            col("event_id").cast("string"), lit(1), lit(8)) % 2)
        .groupBy("user_id")
        .agg(max(when(col("parity") === 0, 1L).otherwise(0L)).as("in_a"),
          max(when(col("parity") === 1, 1L).otherwise(0L)).as("in_b"))
      u.agg(count(lit(1)).as("n_true"),
          sum("in_a").as("n1"), sum("in_b").as("n2"),
          sum(col("in_a") * col("in_b")).as("n_both"))
        .select(col("n_true"), col("n1"), col("n2"), col("n_both"),
          (floor((((col("n1") + 1) * (col("n2") + 1)).cast("double")
            / (col("n_both") + 1).cast("double") - lit(1.0)) * 1e4) / 1e4)
            .as("chapman_est"))
    }),

    // D — closed-form ridge regression (added r9): 2-feature + intercept
    // ridge fit of the KPI on (day index, hour of day) per event type —
    // the MULTIVARIATE rung above `agg_price_elasticity`'s 1-feature
    // log-log OLS, and the shape every distributed linear model shares:
    // ONE pass of map-side-partial EXACT moment sums (decimal-first
    // products — the r8 ADVICE overflow rule), then the k×k normal
    // equations (X'X + λI, slopes penalized, intercept free; λ=1) solved
    // in CLOSED FORM by Cramer's rule — nine 3×3 determinant terms,
    // each the identical textual IEEE expression on both engines, fed by
    // exact integers. No iteration, no per-row float: the whole model is
    // a k²-sized readout off one aggregation, which is why this plan
    // shape holds at any corpus (the moments shrink to one row per
    // group before any float exists). det=0 guards to NULL.
    "agg_ridge_ols" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val ev = Tables.events(s, d).where(col("value").isNotNull)
        .withColumn("ed", datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")))
        .withColumn("yq", floor(col("value") * 1e6).cast("long"))
      val d0 = ev.agg(min("ed").as("d0"))
      val base = ev.crossJoin(broadcast(d0))
        .withColumn("x1", (col("ed") - col("d0")).cast("long"))
        .withColumn("x2", hour(col("ts")).cast("long"))
      val m = base.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"),
        sum(col("yq").cast(dec)).as("sy"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1").cast(dec) * col("yq")).as("s1y"),
        sum(col("x2").cast(dec) * col("yq")).as("s2y"))
      m.selectExpr("event_type", "n",
          "CAST(n AS DOUBLE) AS a", "CAST(s1 AS DOUBLE) AS b", "CAST(s2 AS DOUBLE) AS c",
          "CAST(s11 AS DOUBLE) + 1.0D AS e", "CAST(s12 AS DOUBLE) AS f",
          "CAST(s22 AS DOUBLE) + 1.0D AS i",
          "CAST(sy AS DOUBLE) AS r0", "CAST(s1y AS DOUBLE) AS r1",
          "CAST(s2y AS DOUBLE) AS r2")
        .selectExpr("event_type", "n",
          "a * (e * i - f * f) - b * (b * i - f * c) + c * (b * f - e * c) AS det",
          "r0 * (e * i - f * f) - b * (r1 * i - f * r2) + c * (r1 * f - e * r2) AS d0",
          "a * (r1 * i - f * r2) - r0 * (b * i - f * c) + c * (b * r2 - r1 * c) AS d1",
          "a * (e * r2 - r1 * f) - b * (b * r2 - r1 * c) + r0 * (b * f - e * c) AS d2")
        .selectExpr("event_type", "n",
          "CASE WHEN det <> 0.0D THEN floor(d0 / det / 1e6 * 1e4) / 1e4 END AS intercept",
          "CASE WHEN det <> 0.0D THEN floor(d1 / det / 1e6 * 1e4) / 1e4 END AS slope_day",
          "CASE WHEN det <> 0.0D THEN floor(d2 / det / 1e6 * 1e4) / 1e4 END AS slope_hour")
        .orderBy("event_type")
    }),
  )

  /** Row counts at or under this keep the profile's distinct counts exact;
    * above it the multi-COUNT(DISTINCT) Expand exchange carries per-column
    * distinct sets that grow with cardinality (measured 0.55→1.45 s across
    * 100× input), so the profile switches to HLL sketches — same schema
    * (both emit BIGINT), bounded exchange, ±2% accuracy (SketchSpec). */
  private[graft] val DqExactRows = 50000000L

  private[graft] def dqProfile(events: DataFrame, exactGate: Long): DataFrame = {
    val exact = events.count() <= exactGate
    // HLL path sketches the string image of each column: cardinality is
    // representation-invariant and hll_sketch_agg has no double overload
    def dcount(c: String): org.apache.spark.sql.Column =
      if (exact) countDistinct(col(c))
      else expr(s"hll_sketch_estimate(hll_sketch_agg(CAST($c AS STRING)))")
    events
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id").isNull.cast("long")).as("id_nulls"),
          dcount("event_id").as("id_distinct"),
          round(min("event_id").cast("double"), 4).as("id_min"),
          round(max("event_id").cast("double"), 4).as("id_max"),
          sum(col("user_id").isNull.cast("long")).as("u_nulls"),
          dcount("user_id").as("u_distinct"),
          round(min("user_id").cast("double"), 4).as("u_min"),
          round(max("user_id").cast("double"), 4).as("u_max"),
          sum(col("value").isNull.cast("long")).as("v_nulls"),
          dcount("value").as("v_distinct"),
          round(min("value"), 4).as("v_min"),
          round(max("value"), 4).as("v_max"),
          sum(col("event_type").isNull.cast("long")).as("t_nulls"),
          dcount("event_type").as("t_distinct"),
          min("event_type").as("t_min_str"),
          max("event_type").as("t_max_str"))
        .selectExpr("n_rows",
          """stack(4,
            |  'event_id',   id_nulls, id_distinct, id_min, id_max, CAST(NULL AS STRING), CAST(NULL AS STRING),
            |  'event_type', t_nulls,  t_distinct,  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), t_min_str, t_max_str,
            |  'user_id',    u_nulls,  u_distinct,  u_min, u_max, CAST(NULL AS STRING), CAST(NULL AS STRING),
            |  'value',      v_nulls,  v_distinct,  v_min, v_max, CAST(NULL AS STRING), CAST(NULL AS STRING))
            |AS (col_name, n_nulls, n_distinct, min_num, max_num, min_str, max_str)""".stripMargin)
        .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
          col("min_num"), col("max_num"), col("min_str"), col("max_str"))
        .orderBy("col_name")
  }

  val oracles: Map[String, String] = Map(
    "agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(sum(l_extendedprice), 4) AS sum_base_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_histogram" ->
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(least(greatest(floor(value / 50), 0), 9) AS INTEGER) AS bucket
        |  FROM events
        |)
        |SELECT event_type, bucket,
        |       CAST(bucket * 50 AS DOUBLE) AS lo, CAST((bucket + 1) * 50 AS DOUBLE) AS hi,
        |       count(*) AS n
        |FROM b GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    "agg_minmax_by" ->
      """SELECT user_id,
        |       arg_min(event_type, event_id) AS first_type,
        |       arg_max(event_type, event_id) AS last_type,
        |       min(event_id) AS first_event_id, max(event_id) AS last_event_id,
        |       count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_rollup" ->
      """SELECT r_name, n_name,
        |       CAST(grouping(r_name) AS INTEGER) AS g_r, CAST(grouping(n_name) AS INTEGER) AS g_n,
        |       count(*) AS cnt, round(sum(c_acctbal), 4) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "agg_cube" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |       CAST(grouping(event_type) AS INTEGER) AS g_t,
        |       CAST(grouping(CAST(ts AS DATE)) AS INTEGER) AS g_d,
        |       count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY CUBE (event_type, CAST(ts AS DATE))
        |ORDER BY g_t, g_d, event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        |       CAST(grouping(o_orderpriority) AS INTEGER) AS g_p,
        |       CAST(grouping(o_orderstatus) AS INTEGER) AS g_s,
        |       count(*) AS cnt, round(sum(o_totalprice), 4) AS total
        |FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_p, g_s, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "agg_time_bucket" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS bucket, user_id,
        |       round(sum(value), 4) AS sum_value, count(*) AS samples
        |FROM events GROUP BY 1, 2 ORDER BY bucket, user_id""".stripMargin,
    "agg_entity_rollup" ->
      """SELECT r_name, n_name, round(sum(o_totalprice), 4) AS total,
        |       count(*) AS samples, count(DISTINCT o_custkey) AS entities
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    // The directory tag predicate (first-3-deciles of the DN-parsed
    // custkey) is semantically o_custkey % 10 < 3 — the oracle states it
    // directly; xxhash64 entity ids never reach the output.
    "agg_tag_rollup" ->
      """SELECT n_name, round(sum(o_totalprice), 4) AS total,
        |       count(*) AS n_orders, count(DISTINCT o_custkey) AS n_customers
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_custkey % 10 < 3
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "agg_pivot" ->
      """SELECT user_id,
        |       round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
        |       round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view,
        |       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
        |       round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
        |       round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_ohlc" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
        |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
        |  FROM events
        |),
        |r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY user_id, h
        |                            ORDER BY ts ASC, event_id ASC) AS rn_a,
        |         row_number() OVER (PARTITION BY user_id, h
        |                            ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM e
        |)
        |SELECT user_id, h, count(*) AS n_samples,
        |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rn_d = 1 THEN value END) AS close
        |FROM r GROUP BY user_id, h ORDER BY user_id, h""".stripMargin,
    "agg_gini" ->
      """WITH e AS (
        |  SELECT event_type, event_id,
        |         CAST(floor(value * 1000000) AS BIGINT) AS yq
        |  FROM events
        |),
        |r AS (
        |  SELECT event_type, yq,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY yq ASC, event_id ASC) AS rnk
        |  FROM e
        |),
        |s AS (
        |  SELECT event_type, count(*) AS n,
        |         sum(CAST(yq AS HUGEINT)) AS s,
        |         sum(CAST(rnk AS HUGEINT) * yq) AS a
        |  FROM r GROUP BY 1
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n_points,
        |       floor((2.0 * CAST(a AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
        |              - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) / 1000000 AS gini
        |FROM s ORDER BY event_type""".stripMargin,
    "agg_trend_slope" ->
      """WITH e AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 - 1704067200 AS x,
        |         CAST(floor(value * 1000000) AS BIGINT) AS yq
        |  FROM events
        |),
        |s AS (
        |  SELECT event_type, count(*) AS n,
        |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(yq AS HUGEINT)) AS sy,
        |         sum(CAST(x AS HUGEINT) * yq) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM e GROUP BY 1
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n_points,
        |       floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |             / CAST(n * sxx - sx * sx AS DOUBLE) / 1000000 * 1e9) / 1e9 AS slope
        |FROM s ORDER BY event_type""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag,
        |       round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |       round(var_samp(l_quantity), 4) AS var_qty,
        |       round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |       round(covar_samp(l_quantity, l_discount), 4) AS cov_qd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentile" ->
      """SELECT o_orderpriority,
        |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS median_price,
        |       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90_price,
        |       round(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS median_disc
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "sub_scalar_corr" ->
      """SELECT o_orderkey, round(o_totalprice, 4) AS total
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT avg(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,
    "agg_weighted_udaf" ->
      """SELECT l_returnflag,
        |       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_skew_salted" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
        |       round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_array_agg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |       count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "agg_distinct_multi" ->
      """SELECT CAST(ts AS DATE) AS day,
        |       count(DISTINCT user_id) AS n_users,
        |       count(DISTINCT event_type) AS n_types,
        |       count(*) AS n_events
        |FROM events GROUP BY day ORDER BY day""".stripMargin,
    "agg_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |v AS (SELECT user_id, min(ts) AS t_view FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM ev e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |      FROM ev e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |       CAST(p.t_purchase IS NOT NULL AS INTEGER) AS completed
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,
    "agg_cohort" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_d FROM ev GROUP BY user_id)
        |SELECT f.cohort_d,
        |       date_diff('day', f.cohort_d, CAST(ev.ts AS DATE)) AS day_offset,
        |       count(DISTINCT ev.user_id) AS active_users, count(*) AS n_events
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "agg_bool" ->
      """SELECT event_type,
        |       CAST(bool_and(value > 0) AS INTEGER) AS all_pos,
        |       CAST(bool_or(value > 900) AS INTEGER) AS any_high,
        |       CAST(count(*) FILTER (WHERE value > 900) AS BIGINT) AS n_high,
        |       count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_dq_profile" ->
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |         CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS id_nulls,
        |         count(DISTINCT event_id) AS id_distinct,
        |         round(CAST(min(event_id) AS DOUBLE), 4) AS id_min,
        |         round(CAST(max(event_id) AS DOUBLE), 4) AS id_max,
        |         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u_nulls,
        |         count(DISTINCT user_id) AS u_distinct,
        |         round(CAST(min(user_id) AS DOUBLE), 4) AS u_min,
        |         round(CAST(max(user_id) AS DOUBLE), 4) AS u_max,
        |         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nulls,
        |         count(DISTINCT value) AS v_distinct,
        |         round(min(value), 4) AS v_min,
        |         round(max(value), 4) AS v_max,
        |         CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS t_nulls,
        |         count(DISTINCT event_type) AS t_distinct,
        |         min(event_type) AS t_min_str,
        |         max(event_type) AS t_max_str
        |  FROM events
        |)
        |SELECT 'event_id' AS col_name, n_rows, id_nulls AS n_nulls, id_distinct AS n_distinct,
        |       id_min AS min_num, id_max AS max_num, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM a
        |UNION ALL
        |SELECT 'event_type', n_rows, t_nulls, t_distinct, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), t_min_str, t_max_str FROM a
        |UNION ALL
        |SELECT 'user_id', n_rows, u_nulls, u_distinct, u_min, u_max, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM a
        |UNION ALL
        |SELECT 'value', n_rows, v_nulls, v_distinct, v_min, v_max, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM a
        |ORDER BY col_name""".stripMargin,
    "agg_heavy_hitters" ->
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS item, count(*) AS cnt
        |           FROM events GROUP BY 1),
        |     t AS (SELECT count(*) AS n FROM events)
        |SELECT item, cnt FROM c, t WHERE cnt * 129 > n ORDER BY item""".stripMargin,
    "agg_count_min" ->
      """WITH items AS (SELECT CAST(user_id AS VARCHAR) AS item FROM events),
        |c AS (SELECT item, count(*) AS n_exact FROM items GROUP BY 1),
        |r AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(r)),
        |b AS (SELECT c.item, c.n_exact, r.r,
        |        CAST(concat('0x', substring(md5(CAST(r.r AS VARCHAR) || ':' || c.item), 1, 8)) AS BIGINT) % 64 AS bkt
        |      FROM c CROSS JOIN r),
        |rc AS (SELECT r, bkt, sum(n_exact) AS counter FROM b GROUP BY 1, 2)
        |SELECT b.item, b.n_exact, CAST(min(rc.counter) AS BIGINT) AS cm_est
        |FROM b JOIN rc ON b.r = rc.r AND b.bkt = rc.bkt
        |GROUP BY b.item, b.n_exact
        |ORDER BY b.item""".stripMargin,
    "agg_kmv_distinct" ->
      """WITH i AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS item FROM events),
        |h AS (SELECT DISTINCT event_type,
        |        CAST(concat('0x', substring(md5(item), 1, 15)) AS BIGINT) AS hv
        |      FROM i),
        |r AS (SELECT event_type, hv,
        |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |      FROM h),
        |kk AS (SELECT event_type, hv AS h_k FROM r WHERE rn = 64),
        |sm AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n_small
        |       FROM h GROUP BY 1 HAVING count(*) < 64),
        |x AS (SELECT event_type, count(*) AS n_exact FROM i GROUP BY 1)
        |SELECT x.event_type, x.n_exact,
        |       round(CASE WHEN kk.h_k IS NULL THEN sm.n_small
        |                  ELSE 63.0 / (CAST(kk.h_k AS DOUBLE) / 1152921504606846976.0)
        |             END, 4) AS kmv_est
        |FROM x LEFT JOIN kk ON x.event_type = kk.event_type
        |       LEFT JOIN sm ON x.event_type = sm.event_type
        |ORDER BY x.event_type""".stripMargin,
    "agg_kmv_intersect" ->
      """WITH i AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS item FROM events),
        |h AS (SELECT DISTINCT event_type,
        |        CAST(concat('0x', substring(md5(item), 1, 15)) AS BIGINT) AS hv
        |      FROM i),
        |ty AS (SELECT DISTINCT event_type FROM i),
        |pr AS (SELECT a.event_type AS ta, b.event_type AS tb
        |       FROM ty a JOIN ty b ON a.event_type < b.event_type),
        |uh AS (SELECT DISTINCT pr.ta, pr.tb, h.hv
        |       FROM pr JOIN h ON h.event_type = pr.ta OR h.event_type = pr.tb),
        |r AS (SELECT ta, tb, hv, row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
        |      FROM uh),
        |l AS (SELECT ta, tb, hv, rn FROM r WHERE rn <= 64),
        |sz AS (SELECT ta, tb, count(*) AS lsz,
        |         max(CASE WHEN rn = 64 THEN hv END) AS hk
        |       FROM l GROUP BY 1, 2),
        |cc AS (SELECT l.ta, l.tb, count(*) AS c
        |       FROM l
        |       JOIN h ha ON ha.event_type = l.ta AND ha.hv = l.hv
        |       JOIN h hb ON hb.event_type = l.tb AND hb.hv = l.hv
        |       GROUP BY 1, 2),
        |xa AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_inter_exact
        |       FROM i a JOIN i b ON a.item = b.item AND a.event_type < b.event_type
        |       GROUP BY 1, 2),
        |est AS (
        |  SELECT sz.ta, sz.tb, sz.lsz, coalesce(cc.c, 0) AS c,
        |         CASE WHEN sz.lsz < 64 THEN CAST(sz.lsz AS DOUBLE)
        |              ELSE 63.0 / (CAST(sz.hk AS DOUBLE) / 1152921504606846976.0) END AS u
        |  FROM sz LEFT JOIN cc ON sz.ta = cc.ta AND sz.tb = cc.tb
        |)
        |SELECT est.ta AS type_a, est.tb AS type_b,
        |       CAST(coalesce(xa.n_inter_exact, 0) AS BIGINT) AS n_inter_exact,
        |       CAST(est.c AS BIGINT) AS n_common_bottomk,
        |       round(est.u, 4) AS kmv_union,
        |       round(CASE WHEN est.lsz < 64 THEN CAST(est.c AS DOUBLE)
        |                  ELSE CAST(est.c AS DOUBLE) / 64.0 * est.u END, 4) AS kmv_inter
        |FROM est LEFT JOIN xa ON est.ta = xa.ta AND est.tb = xa.tb
        |ORDER BY type_a, type_b""".stripMargin,
    "agg_chi_square" ->
      """WITH cells AS (
        |  SELECT event_type,
        |         CAST(LEAST(GREATEST(floor(value / 125), 0), 3) AS BIGINT) AS bucket,
        |         count(*) AS o
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |),
        |rt AS (SELECT event_type, sum(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT bucket, sum(o) AS ct FROM cells GROUP BY 1),
        |nn AS (SELECT sum(o) AS n FROM cells),
        |k AS (
        |  SELECT c.event_type, c.bucket, c.o,
        |         CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS e
        |  FROM cells c JOIN rt r ON c.event_type = r.event_type
        |       JOIN ct t ON c.bucket = t.bucket CROSS JOIN nn
        |),
        |kk AS (
        |  SELECT event_type, bucket,
        |         o, (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS contrib
        |  FROM k
        |)
        |SELECT event_type, CAST(sum(o) AS BIGINT) AS n_rows,
        |       floor(list_aggregate(list(contrib ORDER BY bucket), 'sum') * 1e4) / 1e4 AS chi2
        |FROM kk GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_rollup_chain" ->
      """SELECT user_id,
        |       CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS value_microunits,
        |       count(*) AS n_samples
        |FROM events GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin,
    "agg_rollup_calendar" ->
      """WITH q AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
        |         CAST(floor(value * 1e6) AS BIGINT) AS vq
        |  FROM events
        |)
        |SELECT '1w' AS grain, user_id,
        |       CAST(date_trunc('week', t) AS TIMESTAMP) AS bucket,
        |       CAST(sum(vq) AS BIGINT) AS value_microunits, count(*) AS n_samples
        |FROM q GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT '1month' AS grain, user_id,
        |       CAST(date_trunc('month', t) AS TIMESTAMP) AS bucket,
        |       CAST(sum(vq) AS BIGINT) AS value_microunits, count(*) AS n_samples
        |FROM q GROUP BY 1, 2, 3
        |ORDER BY grain, user_id, bucket""".stripMargin,
    "agg_ab_ttest" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |         sum(CAST(floor(value * 1e6) AS HUGEINT)) AS sy,
        |         sum(CAST(floor(value * 1e6) AS HUGEINT) * CAST(floor(value * 1e6) AS HUGEINT)) AS syy
        |  FROM events GROUP BY 1
        |)
        |SELECT a.event_type AS type_a, b.event_type AS type_b, a.n AS n_a, b.n AS n_b,
        |       floor(CAST(a.sy AS DOUBLE) / CAST(a.n AS DOUBLE) / 1e6 * 1e4) / 1e4 AS mean_a,
        |       floor(CAST(b.sy AS DOUBLE) / CAST(b.n AS DOUBLE) / 1e6 * 1e4) / 1e4 AS mean_b,
        |       floor((CAST(a.sy AS DOUBLE) / CAST(a.n AS DOUBLE)
        |            - CAST(b.sy AS DOUBLE) / CAST(b.n AS DOUBLE))
        |         / sqrt(((CAST(a.syy AS DOUBLE) - CAST(a.sy AS DOUBLE) * CAST(a.sy AS DOUBLE) / CAST(a.n AS DOUBLE)) / (CAST(a.n AS DOUBLE) - 1.0)) / CAST(a.n AS DOUBLE)
        |              + ((CAST(b.syy AS DOUBLE) - CAST(b.sy AS DOUBLE) * CAST(b.sy AS DOUBLE) / CAST(b.n AS DOUBLE)) / (CAST(b.n AS DOUBLE) - 1.0)) / CAST(b.n AS DOUBLE))
        |         * 1e4) / 1e4 AS t_stat
        |FROM g a JOIN g b ON a.event_type < b.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "agg_anova_f" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |         sum(CAST(floor(value * 1e6) AS HUGEINT)) AS sy,
        |         sum(CAST(floor(value * 1e6) AS HUGEINT) * CAST(floor(value * 1e6) AS HUGEINT)) AS syy
        |  FROM events GROUP BY 1
        |),
        |tot AS (
        |  SELECT count(*) AS k, sum(n) AS nn, sum(sy) AS syt, sum(syy) AS syyt,
        |         list_aggregate(list(CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |           / CAST(n AS DOUBLE) ORDER BY event_type), 'sum') AS t
        |  FROM g
        |)
        |SELECT k, CAST(nn AS BIGINT) AS n,
        |       floor((t - CAST(syt AS DOUBLE) * CAST(syt AS DOUBLE) / CAST(nn AS DOUBLE))
        |         / 1e12 * 1e4) / 1e4 AS ss_between,
        |       floor((CAST(syyt AS DOUBLE) - t) / 1e12 * 1e4) / 1e4 AS ss_within,
        |       floor((t - CAST(syt AS DOUBLE) * CAST(syt AS DOUBLE) / CAST(nn AS DOUBLE))
        |           / (CAST(k AS DOUBLE) - 1.0)
        |         / ((CAST(syyt AS DOUBLE) - t) / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
        |         * 1e4) / 1e4 AS f_stat
        |FROM tot""".stripMargin,
    "agg_mann_whitney" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(floor(value * 1e6) AS BIGINT) AS yq FROM events
        |),
        |h AS (SELECT event_type, yq, count(*) AS c FROM ev GROUP BY 1, 2),
        |t AS (SELECT DISTINCT event_type FROM ev),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |      FROM t a JOIN t b ON a.event_type < b.event_type),
        |hv AS (
        |  SELECT p.type_a, p.type_b, h.yq, sum(h.c) AS ct,
        |         sum(CASE WHEN h.event_type = p.type_a THEN h.c ELSE 0 END) AS ca
        |  FROM h JOIN p ON h.event_type = p.type_a OR h.event_type = p.type_b
        |  GROUP BY 1, 2, 3
        |),
        |rk AS (
        |  SELECT *, coalesce(sum(ct) OVER (PARTITION BY type_a, type_b ORDER BY yq
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev
        |  FROM hv
        |),
        |ag AS (
        |  SELECT type_a, type_b, sum(ca) AS n_a, sum(ct - ca) AS n_b,
        |         sum(CAST(ca * (2 * cprev + ct + 1) AS HUGEINT)) AS r2a,
        |         sum(CAST(ct * ct * ct - ct AS HUGEINT)) AS tie3,
        |         sum(ct) AS nn
        |  FROM rk GROUP BY 1, 2
        |)
        |SELECT type_a, type_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       (CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0))
        |         / 2.0 AS u_a,
        |       CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |         - (CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0))
        |           / 2.0 AS u_b,
        |       floor(((CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0))
        |             / 2.0
        |           - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
        |         / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        |           * ((CAST(nn AS DOUBLE) + 1.0)
        |             - CAST(tie3 AS DOUBLE) / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))))
        |         * 1e4) / 1e4 AS z_stat
        |FROM ag ORDER BY type_a, type_b""".stripMargin,
    "agg_bootstrap_ci" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, CAST(floor(value * 1e6) AS BIGINT) AS yq
        |  FROM events
        |),
        |reps AS (SELECT unnest(range(0, 32)) AS b),
        |u AS (
        |  SELECT event_type, b, yq,
        |         CAST(concat('0x', substring(md5(
        |           CAST(event_id AS VARCHAR) || '|' || CAST(b // 4 AS VARCHAR)),
        |           (b % 4) * 8 + 1, 8))
        |         AS BIGINT) AS u
        |  FROM ev CROSS JOIN reps
        |),
        |wt AS (
        |  SELECT event_type, b, yq,
        |         CASE WHEN u < 1580030168 THEN 0
        |              WHEN u < 3160060337 THEN 1
        |              WHEN u < 3950075421 THEN 2
        |              WHEN u < 4213413783 THEN 3
        |              WHEN u < 4279248373 THEN 4
        |              WHEN u < 4292415291 THEN 5
        |              WHEN u < 4294609777 THEN 6
        |              WHEN u < 4294923276 THEN 7
        |              ELSE 8 END AS w
        |  FROM u
        |),
        |rep AS (
        |  SELECT event_type, b, sum(CAST(w AS HUGEINT)) AS nw,
        |         sum(CAST(w * yq AS HUGEINT)) AS sw
        |  FROM wt GROUP BY 1, 2
        |),
        |mb AS (
        |  SELECT event_type, b,
        |         CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE) / 1e6 AS mean_b
        |  FROM rep
        |),
        |ms AS (SELECT event_type, list(mean_b ORDER BY mean_b, b) AS ms FROM mb GROUP BY 1),
        |ex AS (
        |  SELECT event_type, count(*) AS n,
        |         sum(CAST(floor(value * 1e6) AS HUGEINT)) AS sy
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_type, e.n,
        |       floor(CAST(e.sy AS DOUBLE) / CAST(e.n AS DOUBLE) / 1e6 * 1e4) / 1e4 AS mean,
        |       floor(m.ms[2] * 1e4) / 1e4 AS boot_lo,
        |       floor(m.ms[31] * 1e4) / 1e4 AS boot_hi
        |FROM ex e JOIN ms m USING (event_type) ORDER BY event_type""".stripMargin,
    "agg_def_rollup" ->
      // sum/avg mirror MeasureDef's µ-unit quantization (exact integer
      // partial sums — order-free across partitions and engines); the
      // CAST to BIGINT matters: DuckDB floor() returns DOUBLE
      """WITH q AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |         CAST(floor(value * 1e6) AS BIGINT) AS vq
        |  FROM events
        |)
        |SELECT user_id AS entity_id, date_trunc('hour', ts) AS ts,
        |       round(sum(vq) / 1e6, 4) AS sum_value,
        |       round(sum(vq) / count(value) / 1e6, 4) AS avg_value,
        |       round(min(value), 4) AS min_value, round(max(value), 4) AS max_value,
        |       count(value) AS samples
        |FROM q GROUP BY 1, 2 ORDER BY entity_id, ts""".stripMargin,
    "agg_cm_merge" ->
      """WITH e AS (SELECT weekofyear(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS week,
        |                 CAST(user_id AS VARCHAR) AS item FROM events),
        |c AS (SELECT week, item, count(*) AS n_exact FROM e GROUP BY 1, 2),
        |r AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(r)),
        |b AS (SELECT c.week, c.item, c.n_exact, r.r,
        |        CAST(concat('0x', substring(md5(CAST(r.r AS VARCHAR) || ':' || c.item), 1, 8)) AS BIGINT) % 64 AS bkt
        |      FROM c CROSS JOIN r),
        |rc AS (SELECT week, r, bkt, sum(n_exact) AS counter FROM b GROUP BY 1, 2, 3)
        |SELECT b.week, b.item, b.n_exact, CAST(min(rc.counter) AS BIGINT) AS cm_est
        |FROM b JOIN rc ON b.week = rc.week AND b.r = rc.r AND b.bkt = rc.bkt
        |GROUP BY b.week, b.item, b.n_exact
        |ORDER BY b.week, b.item""".stripMargin,
    "agg_kmv_merge" ->
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                 CAST(user_id AS VARCHAR) AS item FROM events),
        |daily AS (SELECT day, count(*) AS n_events FROM e GROUP BY 1),
        |i AS (SELECT DISTINCT weekofyear(day) AS week, item FROM e),
        |h AS (SELECT DISTINCT week,
        |        CAST(concat('0x', substring(md5(item), 1, 15)) AS BIGINT) AS hv
        |      FROM i),
        |r AS (SELECT week, hv,
        |        row_number() OVER (PARTITION BY week ORDER BY hv) AS rn
        |      FROM h),
        |kk AS (SELECT week, hv AS h_k FROM r WHERE rn = 64),
        |sm AS (SELECT week, CAST(count(*) AS DOUBLE) AS n_small
        |       FROM h GROUP BY 1 HAVING count(*) < 64),
        |w AS (SELECT weekofyear(day) AS week, CAST(sum(n_events) AS BIGINT) AS n_events,
        |             count(*) AS n_days
        |      FROM daily GROUP BY 1)
        |SELECT w.week, round(CASE WHEN kk.h_k IS NULL THEN sm.n_small
        |             ELSE 63.0 / (CAST(kk.h_k AS DOUBLE) / 1152921504606846976.0)
        |       END, 4) AS est_users,
        |       w.n_events, w.n_days
        |FROM w LEFT JOIN kk ON w.week = kk.week
        |       LEFT JOIN sm ON w.week = sm.week
        |ORDER BY w.week""".stripMargin,
    "agg_hist_merge" ->
      """WITH h AS (
        |  SELECT weekofyear(CAST(ts AS TIMESTAMP)) AS week, event_type,
        |         CAST(LEAST(GREATEST(floor(value / 25), 0), 39) AS BIGINT) AS bucket,
        |         count(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3
        |),
        |c AS (
        |  SELECT week, event_type, bucket, cnt,
        |         sum(cnt) OVER (PARTITION BY week, event_type ORDER BY bucket) AS cum,
        |         sum(cnt) OVER (PARTITION BY week, event_type) AS n
        |  FROM h
        |),
        |t AS (SELECT DISTINCT week, event_type, n, (9 * n + 9) // 10 AS tgt FROM c),
        |pick AS (
        |  SELECT t.week, t.event_type, t.n, t.tgt, min(c.bucket) AS bucket
        |  FROM t JOIN c ON c.week = t.week AND c.event_type = t.event_type
        |              AND c.cum >= t.tgt
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT p.week, p.event_type, CAST(p.n AS BIGINT) AS n,
        |       round(CAST(p.bucket * 25 AS DOUBLE)
        |             + 25.0 * CAST(p.tgt - (c.cum - c.cnt) AS DOUBLE) / CAST(c.cnt AS DOUBLE),
        |             4) AS p90_est
        |FROM pick p JOIN c ON c.week = p.week AND c.event_type = p.event_type
        |                  AND c.bucket = p.bucket
        |ORDER BY p.week, p.event_type""".stripMargin,
    "agg_hist_quantile" ->
      """WITH h AS (
        |  SELECT event_type,
        |         CAST(LEAST(GREATEST(floor(value / 25), 0), 39) AS BIGINT) AS bucket,
        |         count(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |),
        |c AS (
        |  SELECT event_type, bucket, cnt,
        |         sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |         sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM h
        |),
        |t AS (SELECT DISTINCT event_type, n FROM c),
        |q AS (
        |  SELECT event_type, n, '50' AS q, (n + 1) // 2 AS tgt FROM t
        |  UNION ALL SELECT event_type, n, '90', (9 * n + 9) // 10 FROM t
        |  UNION ALL SELECT event_type, n, '99', (99 * n + 99) // 100 FROM t
        |),
        |pick AS (
        |  SELECT q.event_type, q.q, q.n, q.tgt, min(c.bucket) AS bucket
        |  FROM q JOIN c ON c.event_type = q.event_type AND c.cum >= q.tgt
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT p.event_type, p.q, CAST(p.n AS BIGINT) AS n,
        |       round(CAST(p.bucket * 25 AS DOUBLE)
        |             + 25.0 * CAST(p.tgt - (c.cum - c.cnt) AS DOUBLE) / CAST(c.cnt AS DOUBLE),
        |             4) AS q_est
        |FROM pick p JOIN c ON c.event_type = p.event_type AND c.bucket = p.bucket
        |ORDER BY p.event_type, p.q""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS cnt FROM events GROUP BY event_type, user_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id ASC) AS rn FROM c
        |)
        |SELECT event_type, user_id AS mode_user, cnt FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "agg_dq_checks" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |rr AS (
        |  SELECT CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS m_null,
        |         CAST(sum(CASE WHEN value < 0.0 OR value > 1000.0 THEN 1 ELSE 0 END) AS BIGINT) AS m_range
        |  FROM e
        |),
        |dup AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m FROM (
        |    SELECT event_id FROM e GROUP BY event_id HAVING count(*) > 1
        |  )
        |),
        |orph AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |),
        |gap AS (
        |  SELECT CAST(datediff('day', min(day), max(day)) + 1 - count(DISTINCT day) AS BIGINT) AS m
        |  FROM (SELECT CAST(ts AS DATE) AS day FROM e)
        |),
        |rows_ AS (
        |  SELECT 1 AS rule_id, 'events.value non-null' AS rule, m_null AS violations FROM rr
        |  UNION ALL SELECT 2, 'events.value in [0,1000]', m_range FROM rr
        |  UNION ALL SELECT 3, 'event_id unique', m FROM dup
        |  UNION ALL SELECT 4, 'orders.o_custkey in customer', m FROM orph
        |  UNION ALL SELECT 5, 'no empty calendar days', m FROM gap
        |)
        |SELECT rule_id, rule, violations,
        |       CAST(violations = 0 AS INTEGER) AS pass
        |FROM rows_ ORDER BY rule_id""".stripMargin,
    "agg_dq_rules" ->
      """WITH m AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS m1,
        |    CAST(coalesce(sum(CASE WHEN value < 0.0 OR value > 1000.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS m2,
        |    CAST(coalesce(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS m3,
        |    CAST(coalesce(sum(CASE WHEN value > 900.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS m4,
        |    CAST(coalesce(sum(CASE WHEN user_id <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS m5
        |  FROM events
        |),
        |rows_ AS (
        |  SELECT 1 AS rule_id, 'events.value non-null' AS rule, m1 AS violations FROM m
        |  UNION ALL SELECT 2, 'events.value in [0,1000]', m2 FROM m
        |  UNION ALL SELECT 3, 'events.user_id non-null', m3 FROM m
        |  UNION ALL SELECT 4, 'events.value under 900', m4 FROM m
        |  UNION ALL SELECT 5, 'events.user_id positive', m5 FROM m
        |)
        |SELECT rule_id, rule, violations,
        |       CAST(violations = 0 AS INTEGER) AS pass
        |FROM rows_ ORDER BY rule_id""".stripMargin,
    "agg_decay_score" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         sum(CAST(CAST(floor(value * 1000000) AS BIGINT) AS HUGEINT)) AS tq
        |  FROM events GROUP BY 1, 2
        |), mx AS (SELECT max(day) AS max_day FROM daily),
        |t AS (
        |  SELECT user_id, day,
        |         CAST(tq AS DOUBLE) * pow(0.5, datediff('day', day, max_day) // 7) AS term
        |  FROM daily CROSS JOIN mx
        |)
        |SELECT user_id, count(*) AS n_days,
        |       floor(list_aggregate(list(term ORDER BY day), 'sum') / 1000000 * 10000) / 10000
        |         AS decay_score
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_benford" ->
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(substring(CAST(CAST(floor(value * 1000000) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM events WHERE CAST(floor(value * 1000000) AS BIGINT) > 0
        |), c AS (
        |  SELECT event_type, digit, count(*) AS n FROM d GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1
        |)
        |SELECT c.event_type, c.digit, c.n,
        |       floor(CAST(c.n AS DOUBLE) / t.tot * 10000) / 10000 AS obs_freq,
        |       round(log10(1.0 + 1.0 / c.digit), 4) AS exp_freq
        |FROM c JOIN t ON c.event_type = t.event_type
        |ORDER BY c.event_type, c.digit""".stripMargin,
    "agg_transition_matrix" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events
        |), tr AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM e
        |), c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM tr
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2
        |), t AS (
        |  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1
        |)
        |SELECT c.from_type, c.to_type, c.n, CAST(c.n AS DOUBLE) / t.tot AS p
        |FROM c JOIN t ON c.from_type = t.from_type
        |ORDER BY c.from_type, c.to_type""".stripMargin,
    "agg_entropy" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT user_id, sum(c) AS n,
        |         sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clc
        |  FROM c GROUP BY 1
        |)
        |SELECT user_id, round(ln(CAST(n AS DOUBLE)) - clc / CAST(n AS DOUBLE), 4) + 0 AS entropy
        |FROM g ORDER BY user_id""".stripMargin,
    "agg_rfm" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(floor(value * 1000000) AS BIGINT) AS yq
        |  FROM events
        |), b AS (
        |  SELECT user_id, max(us) AS last_us, count(*) AS frequency,
        |         sum(CAST(yq AS HUGEINT)) AS mq
        |  FROM e GROUP BY 1
        |)
        |SELECT user_id, frequency, CAST(mq AS DOUBLE) / 1000000 AS monetary,
        |       CAST(ntile(5) OVER (ORDER BY last_us DESC, user_id ASC) AS INTEGER) AS r_score,
        |       CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC) AS INTEGER) AS f_score,
        |       CAST(ntile(5) OVER (ORDER BY mq DESC, user_id ASC) AS INTEGER) AS m_score
        |FROM b ORDER BY user_id""".stripMargin,
    "agg_corr_matrix" ->
      """WITH c AS (
        |  SELECT corr(l_quantity, l_extendedprice) AS c_qe,
        |         corr(l_quantity, l_discount)      AS c_qd,
        |         corr(l_quantity, l_tax)           AS c_qt,
        |         corr(l_extendedprice, l_discount) AS c_ed,
        |         corr(l_extendedprice, l_tax)      AS c_et,
        |         corr(l_discount, l_tax)           AS c_dt
        |  FROM lineitem
        |)
        |SELECT col_a, col_b, r FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, round(c_qe, 6) AS r FROM c
        |  UNION ALL SELECT 'l_quantity', 'l_discount', round(c_qd, 6) FROM c
        |  UNION ALL SELECT 'l_quantity', 'l_tax', round(c_qt, 6) FROM c
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', round(c_ed, 6) FROM c
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', round(c_et, 6) FROM c
        |  UNION ALL SELECT 'l_discount', 'l_tax', round(c_dt, 6) FROM c
        |) ORDER BY col_a, col_b""".stripMargin,
    "agg_dp_counts" ->
      """WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        |x AS (
        |  SELECT event_type, n,
        |         (CAST(concat('0x', substring(md5(event_type), 1, 8)) AS BIGINT) + 0.5)
        |           / 4294967296.0 - 0.5 AS v
        |  FROM g
        |)
        |SELECT event_type, n,
        |       round(n + (-sign(v) * ln(1.0 - 2.0 * abs(v))), 4) AS noisy_n
        |FROM x ORDER BY event_type""".stripMargin,
    "agg_apdex" ->
      """SELECT event_type,
        |       count(*) AS n,
        |       CAST(count(*) FILTER (WHERE value <= 1.0) AS BIGINT) AS satisfied,
        |       CAST(count(*) FILTER (WHERE value > 1.0 AND value <= 4.0) AS BIGINT) AS tolerating,
        |       CAST(2 * count(*) FILTER (WHERE value <= 1.0)
        |            + count(*) FILTER (WHERE value > 1.0 AND value <= 4.0) AS DOUBLE)
        |         / CAST(2 * count(*) AS DOUBLE) AS apdex
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_ks_drift" ->
      """WITH cells AS (
        |  SELECT event_type,
        |         CAST(LEAST(GREATEST(floor(value / 2), 0), 255) AS BIGINT) AS bin,
        |         count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |),
        |grid AS (SELECT bin, sum(c) AS c_all FROM cells GROUP BY 1),
        |types AS (SELECT event_type, sum(c) AS n_t FROM cells GROUP BY 1),
        |na AS (SELECT sum(c) AS n_all FROM cells),
        |dense AS (
        |  SELECT t.event_type, g.bin, t.n_t, g.c_all, coalesce(c.c, 0) AS c, na.n_all
        |  FROM types t CROSS JOIN grid g
        |       LEFT JOIN cells c ON c.event_type = t.event_type AND c.bin = g.bin
        |       CROSS JOIN na
        |),
        |cum AS (
        |  SELECT event_type, n_t, n_all,
        |         abs(CAST(sum(c) OVER w AS HUGEINT) * CAST(n_all AS HUGEINT)
        |           - CAST(sum(c_all) OVER w AS HUGEINT) * CAST(n_t AS HUGEINT)) AS num
        |  FROM dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY bin
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type, CAST(max(n_t) AS BIGINT) AS n_t,
        |       floor(CAST(max(num) AS DOUBLE)
        |             / CAST(max(n_t) * max(n_all) AS DOUBLE) * 1e6) / 1e6 AS ks
        |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_psi_drift" ->
      """WITH cells AS (
        |  SELECT event_type,
        |         CAST(LEAST(GREATEST(floor(value / 64), 0), 7) AS BIGINT) AS bin,
        |         count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |),
        |dense AS (
        |  SELECT t.event_type, b.bin, coalesce(c.c, 0) AS c
        |  FROM (SELECT DISTINCT event_type FROM cells) t
        |       CROSS JOIN (SELECT unnest(range(0, 8)) AS bin) b
        |       LEFT JOIN cells c ON c.event_type = t.event_type AND c.bin = b.bin
        |),
        |grid AS (SELECT bin, sum(c) AS c_all FROM dense GROUP BY 1),
        |tot AS (SELECT event_type, sum(c) AS n_t FROM dense GROUP BY 1),
        |na AS (SELECT sum(c) AS n_all FROM dense),
        |terms AS (
        |  SELECT d.event_type, d.bin, tot.n_t,
        |         (CAST(d.c + 1 AS DOUBLE) / CAST(tot.n_t + 8 AS DOUBLE)
        |          - CAST(g.c_all + 1 AS DOUBLE) / CAST(na.n_all + 8 AS DOUBLE))
        |         * ln((CAST(d.c + 1 AS DOUBLE) / CAST(tot.n_t + 8 AS DOUBLE))
        |              / (CAST(g.c_all + 1 AS DOUBLE) / CAST(na.n_all + 8 AS DOUBLE))) AS term
        |  FROM dense d JOIN grid g ON d.bin = g.bin
        |       JOIN tot ON d.event_type = tot.event_type CROSS JOIN na
        |)
        |SELECT event_type, CAST(max(n_t) AS BIGINT) AS n_t,
        |       floor(list_aggregate(list(term ORDER BY bin), 'sum') * 1e4) / 1e4 AS psi
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_assoc_rules" ->
      """WITH baskets AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |),
        |nn AS (SELECT count(DISTINCT ok) AS n_orders FROM baskets),
        |item AS (SELECT brand, count(*) AS n_item FROM baskets GROUP BY 1),
        |pr AS (
        |  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
        |  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.brand < b.brand
        |  GROUP BY 1, 2
        |),
        |rules AS (
        |  SELECT brand_a AS antecedent, brand_b AS consequent, n_ab FROM pr
        |  UNION ALL
        |  SELECT brand_b, brand_a, n_ab FROM pr
        |)
        |SELECT r.antecedent, r.consequent, r.n_ab,
        |       ia.n_item AS n_ant, ic.n_item AS n_con, nn.n_orders,
        |       floor(CAST(r.n_ab AS DOUBLE) / CAST(nn.n_orders AS DOUBLE) * 1e4) / 1e4 AS support,
        |       floor(CAST(r.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE) * 1e4) / 1e4 AS confidence,
        |       floor(CAST(r.n_ab AS DOUBLE) * CAST(nn.n_orders AS DOUBLE)
        |             / (CAST(ia.n_item AS DOUBLE) * CAST(ic.n_item AS DOUBLE)) * 1e4) / 1e4 AS lift
        |FROM rules r JOIN item ia ON r.antecedent = ia.brand
        |     JOIN item ic ON r.consequent = ic.brand CROSS JOIN nn
        |WHERE r.n_ab >= 2
        |ORDER BY r.antecedent, r.consequent""".stripMargin,
    "agg_cramers_v" ->
      """WITH cust AS (
        |  SELECT c.c_custkey, c.c_mktsegment AS seg, r.r_name AS region
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |       JOIN region r ON n.n_regionkey = r.r_regionkey
        |),
        |cells AS (
        |  SELECT cu.region, cu.seg, o.o_orderpriority AS prio, count(*) AS o
        |  FROM orders o JOIN cust cu ON o.o_custkey = cu.c_custkey
        |  GROUP BY 1, 2, 3
        |),
        |rt AS (SELECT region, seg, sum(o) AS rt FROM cells GROUP BY 1, 2),
        |ct AS (SELECT region, prio, sum(o) AS ct FROM cells GROUP BY 1, 2),
        |nn AS (SELECT region, sum(o) AS n, count(DISTINCT seg) AS r,
        |              count(DISTINCT prio) AS c FROM cells GROUP BY 1),
        |k AS (
        |  SELECT cl.region, cl.seg, cl.prio, nn.n, nn.r, nn.c, cl.o,
        |         CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS e
        |  FROM cells cl JOIN rt ON cl.region = rt.region AND cl.seg = rt.seg
        |       JOIN ct ON cl.region = ct.region AND cl.prio = ct.prio
        |       JOIN nn ON cl.region = nn.region
        |),
        |kk AS (
        |  SELECT region, seg, prio, n, r, c,
        |         (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS contrib
        |  FROM k
        |),
        |agg AS (
        |  SELECT region, CAST(n AS BIGINT) AS n, r, c,
        |         list_aggregate(list(contrib ORDER BY seg, prio), 'sum') AS chi2raw
        |  FROM kk GROUP BY 1, 2, 3, 4
        |)
        |SELECT region, n, floor(chi2raw * 1e4) / 1e4 AS chi2,
        |       floor(sqrt(chi2raw / (CAST(n AS DOUBLE)
        |             * CAST(LEAST(r, c) - 1 AS DOUBLE))) * 1e4) / 1e4 AS cramers_v
        |FROM agg ORDER BY region""".stripMargin,
    "agg_hhi" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1
        |),
        |bn AS (
        |  SELECT n.n_name AS nation, s.s_suppkey, rev.r
        |  FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        |       JOIN nation n ON s.s_nationkey = n.n_nationkey
        |),
        |tot AS (SELECT nation, CAST(sum(r) AS BIGINT) AS tot, count(*) AS n_suppliers
        |        FROM bn GROUP BY 1),
        |sh AS (
        |  SELECT bn.nation, tot.n_suppliers, tot.tot, bn.s_suppkey,
        |         (CAST(bn.r AS DOUBLE) / CAST(tot.tot AS DOUBLE))
        |         * (CAST(bn.r AS DOUBLE) / CAST(tot.tot AS DOUBLE)) AS contrib
        |  FROM bn JOIN tot ON bn.nation = tot.nation
        |)
        |SELECT nation, n_suppliers, tot AS rev_cents,
        |       floor(list_aggregate(list(contrib ORDER BY s_suppkey), 'sum') * 1e4) / 1e4 AS hhi
        |FROM sh GROUP BY nation, n_suppliers, tot ORDER BY nation""".stripMargin,
    "agg_winsorized_mean" ->
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value * 1e6) AS BIGINT) AS vq, count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |),
        |cum AS (
        |  SELECT event_type, vq, c,
        |         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY vq
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h
        |),
        |bounds AS (
        |  SELECT event_type, n,
        |         min(CASE WHEN cum >= (n + 9) // 10 THEN vq END) AS v_lo,
        |         min(CASE WHEN cum >= (9 * n + 9) // 10 THEN vq END) AS v_hi
        |  FROM cum GROUP BY 1, 2
        |),
        |agg AS (
        |  SELECT h.event_type, b.n, b.v_lo, b.v_hi,
        |         CAST(sum(GREATEST(LEAST(h.vq, b.v_hi), b.v_lo) * h.c) AS BIGINT) AS wsum,
        |         CAST(sum(CASE WHEN h.vq >= b.v_lo AND h.vq <= b.v_hi
        |                       THEN h.c ELSE 0 END) AS BIGINT) AS tn,
        |         CAST(sum(CASE WHEN h.vq >= b.v_lo AND h.vq <= b.v_hi
        |                       THEN h.vq * h.c ELSE 0 END) AS BIGINT) AS tsum
        |  FROM h JOIN bounds b ON h.event_type = b.event_type
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT event_type, n,
        |       floor(CAST(v_lo AS DOUBLE) / 1e6 * 1e4) / 1e4 AS p10,
        |       floor(CAST(v_hi AS DOUBLE) / 1e6 * 1e4) / 1e4 AS p90,
        |       floor(CAST(wsum AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 * 1e4) / 1e4 AS winsor_mean,
        |       tn AS n_kept,
        |       floor(CAST(tsum AS DOUBLE) / CAST(tn AS DOUBLE) / 1e6 * 1e4) / 1e4 AS trimmed_mean
        |FROM agg ORDER BY event_type""".stripMargin,
    "agg_survival_km" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type, value
        |  FROM events
        |),
        |mx AS (SELECT max(day) AS maxd FROM ev),
        |users AS (
        |  SELECT CASE WHEN p IS NOT NULL THEN date_diff('day', f, p)
        |              ELSE date_diff('day', f, (SELECT maxd FROM mx)) END AS dur,
        |         CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS death
        |  FROM (SELECT user_id, min(day) AS f,
        |               min(CASE WHEN event_type = 'purchase' AND value >= 200
        |                        THEN day END) AS p
        |        FROM ev GROUP BY 1)
        |),
        |durs AS (SELECT dur, count(*) AS all_cnt, CAST(sum(death) AS BIGINT) AS d
        |         FROM users GROUP BY 1),
        |nt AS (SELECT count(*) AS n_total FROM users),
        |risk AS (
        |  SELECT dur, d,
        |         (SELECT n_total FROM nt)
        |         - CAST(coalesce(sum(all_cnt) OVER (ORDER BY dur
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |  FROM durs
        |),
        |dd AS (SELECT dur, n_risk, d FROM risk WHERE d > 0)
        |SELECT a.dur AS t, a.n_risk, a.d AS d_events,
        |       floor(list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |             list(CAST(b.n_risk - b.d AS DOUBLE) / CAST(b.n_risk AS DOUBLE)
        |                  ORDER BY b.dur)),
        |             (acc, x) -> acc * x) * 1e4) / 1e4 AS survival
        |FROM dd a JOIN dd b ON b.dur <= a.dur
        |GROUP BY a.dur, a.n_risk, a.d
        |ORDER BY t""".stripMargin,
    "agg_spearman" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sp
        |  FROM orders GROUP BY 1
        |),
        |cust AS (
        |  SELECT r.r_name AS region,
        |         CAST(floor(c.c_acctbal * 100.0) AS BIGINT) AS bal,
        |         coalesce(s.sp, 0) AS sp
        |  FROM customer c
        |  LEFT JOIN spend s ON c.c_custkey = s.o_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |),
        |hb AS (
        |  SELECT region, bal,
        |         CAST(2 * coalesce(sum(c) OVER (PARTITION BY region ORDER BY bal
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS BIGINT) AS rb2
        |  FROM (SELECT region, bal, count(*) AS c FROM cust GROUP BY 1, 2)
        |),
        |hs AS (
        |  SELECT region, sp,
        |         CAST(2 * coalesce(sum(c) OVER (PARTITION BY region ORDER BY sp
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS BIGINT) AS rs2
        |  FROM (SELECT region, sp, count(*) AS c FROM cust GROUP BY 1, 2)
        |),
        |j AS (
        |  SELECT cust.region, hb.rb2, hs.rs2
        |  FROM cust JOIN hb ON cust.region = hb.region AND cust.bal = hb.bal
        |            JOIN hs ON cust.region = hs.region AND cust.sp = hs.sp
        |),
        |agg AS (
        |  SELECT region, count(*) AS n,
        |         sum(rb2) AS sx, sum(rs2) AS sy,
        |         sum(rb2 * rs2) AS sxy, sum(rb2 * rb2) AS sxx, sum(rs2 * rs2) AS syy
        |  FROM j GROUP BY 1
        |)
        |SELECT region, n AS n_customers,
        |       floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |             * 1e4) / 1e4 AS rho_spearman
        |FROM agg ORDER BY region""".stripMargin,
    "agg_mutual_info" ->
      """WITH cust AS (
        |  SELECT c.c_mktsegment AS seg, r.r_name AS region
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |       JOIN region r ON n.n_regionkey = r.r_regionkey
        |),
        |joint AS (SELECT seg, region, count(*) AS nxy FROM cust GROUP BY 1, 2),
        |margx AS (SELECT seg, CAST(sum(nxy) AS BIGINT) AS nx FROM joint GROUP BY 1),
        |margy AS (SELECT region, CAST(sum(nxy) AS BIGINT) AS ny FROM joint GROUP BY 1),
        |tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM joint),
        |mi AS (
        |  SELECT list_aggregate(list(
        |           CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE)
        |           * ln(CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE)
        |                / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))
        |           ORDER BY seg, region), 'sum') AS mi_raw
        |  FROM joint JOIN margx USING (seg) JOIN margy USING (region), tot
        |),
        |hx AS (
        |  SELECT list_aggregate(list(
        |           -(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
        |           * ln(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY seg), 'sum') AS hsr
        |  FROM margx, tot
        |),
        |hy AS (
        |  SELECT list_aggregate(list(
        |           -(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
        |           * ln(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY region), 'sum') AS hrr
        |  FROM margy, tot
        |)
        |SELECT n,
        |       floor(mi_raw * 1e4) / 1e4 AS mi,
        |       floor(hsr * 1e4) / 1e4 AS h_seg,
        |       floor(hrr * 1e4) / 1e4 AS h_region,
        |       CASE WHEN hsr > 0 AND hrr > 0
        |            THEN floor(mi_raw / sqrt(hsr * hrr) * 1e4) / 1e4 END AS nmi
        |FROM mi, hx, hy, tot""".stripMargin,
    "agg_price_elasticity" ->
      """WITH pts AS (
        |  SELECT p.p_brand AS brand,
        |         CAST(floor(ln(l.l_extendedprice / l.l_quantity) * 1e6) AS BIGINT) AS xq,
        |         CAST(floor(ln(l.l_quantity) * 1e6) AS BIGINT) AS yq
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |),
        |agg AS (
        |  SELECT brand, count(*) AS n,
        |         sum(xq) AS sx, sum(yq) AS sy,
        |         sum(xq * yq) AS sxy, sum(xq * xq) AS sxx, sum(yq * yq) AS syy
        |  FROM pts GROUP BY 1
        |),
        |cl AS (
        |  SELECT brand, n,
        |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
        |         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy,
        |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM agg
        |),
        |sl AS (SELECT *, CASE WHEN dx > 0 THEN num / dx END AS slope FROM cl)
        |SELECT brand, n,
        |       floor(slope * 1e4) / 1e4 AS elasticity,
        |       floor((syd / CAST(n AS DOUBLE) - slope * (sxd / CAST(n AS DOUBLE)))
        |             / 1e6 * 1e4) / 1e4 AS intercept,
        |       CASE WHEN dy > 0 THEN floor(slope * num / dy * 1e4) / 1e4 END AS r2
        |FROM sl ORDER BY brand""".stripMargin,
    "agg_markov_steady" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
        |  FROM events
        |),
        |trans AS (SELECT event_type AS src, nxt AS dst, count(*) AS c
        |          FROM ev WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |p AS (SELECT src, dst, CAST(c AS DOUBLE) / CAST(t AS DOUBLE) AS p
        |      FROM trans JOIN (SELECT src, CAST(sum(c) AS BIGINT) AS t
        |                       FROM trans GROUP BY 1) tt USING (src)),
        |states AS (SELECT DISTINCT src AS state FROM trans
        |           UNION SELECT DISTINCT dst FROM trans),
        |ns AS (SELECT count(*) AS k FROM states),
        |v0 AS (SELECT state, CAST(1.0 AS DOUBLE) / CAST(k AS DOUBLE) AS v FROM states, ns),
        |v1 AS (SELECT s.state, coalesce(t.vn, CAST(0.0 AS DOUBLE)) AS v FROM states s LEFT JOIN (
        |         SELECT p.dst AS state, list_aggregate(list(v0.v * p.p ORDER BY p.src), 'sum') AS vn
        |         FROM v0 JOIN p ON v0.state = p.src GROUP BY p.dst) t ON s.state = t.state),
        |v2 AS (SELECT s.state, coalesce(t.vn, CAST(0.0 AS DOUBLE)) AS v FROM states s LEFT JOIN (
        |         SELECT p.dst AS state, list_aggregate(list(v1.v * p.p ORDER BY p.src), 'sum') AS vn
        |         FROM v1 JOIN p ON v1.state = p.src GROUP BY p.dst) t ON s.state = t.state),
        |v3 AS (SELECT s.state, coalesce(t.vn, CAST(0.0 AS DOUBLE)) AS v FROM states s LEFT JOIN (
        |         SELECT p.dst AS state, list_aggregate(list(v2.v * p.p ORDER BY p.src), 'sum') AS vn
        |         FROM v2 JOIN p ON v2.state = p.src GROUP BY p.dst) t ON s.state = t.state)
        |SELECT state, floor(v * 1e4) / 1e4 AS p_steady FROM v3 ORDER BY state""".stripMargin,
    "agg_pareto" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sp
        |  FROM orders GROUP BY 1
        |),
        |cust AS (
        |  SELECT r.r_name AS region, c.c_custkey, coalesce(s.sp, 0) AS sp
        |  FROM customer c LEFT JOIN spend s ON c.c_custkey = s.o_custkey
        |       JOIN nation n ON c.c_nationkey = n.n_nationkey
        |       JOIN region r ON n.n_regionkey = r.r_regionkey
        |),
        |rk AS (
        |  SELECT region, sp,
        |         row_number() OVER w AS rk,
        |         CAST(coalesce(sum(sp) OVER (PARTITION BY region ORDER BY sp DESC, c_custkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb,
        |         count(*) OVER (PARTITION BY region) AS n,
        |         CAST(sum(sp) OVER (PARTITION BY region) AS BIGINT) AS tot
        |  FROM cust WINDOW w AS (PARTITION BY region ORDER BY sp DESC, c_custkey)
        |)
        |SELECT region, n AS n_customers, tot AS rev_cents,
        |       CAST(sum(CASE WHEN cb * 5 < tot * 4 THEN 1 ELSE 0 END) AS BIGINT) AS k80,
        |       floor(CAST(sum(CASE WHEN cb * 5 < tot * 4 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(n AS DOUBLE) * 1e4) / 1e4 AS k80_frac,
        |       floor(CAST(sum(CASE WHEN rk <= (n + 9) // 10 THEN sp ELSE 0 END) AS DOUBLE)
        |             / CAST(tot AS DOUBLE) * 1e4) / 1e4 AS top10_share
        |FROM rk GROUP BY region, n, tot ORDER BY region""".stripMargin,
    // SQL-standard NTILE (first n mod 10 tiles one row heavier) matches
    // ops.Rank.ntileExpr exactly; cum share is max-cum-in-tile / total.
    "agg_lorenz" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sp
        |  FROM orders GROUP BY 1
        |),
        |cust AS (
        |  SELECT c.c_custkey, coalesce(s.sp, 0) AS sp
        |  FROM customer c LEFT JOIN spend s ON c.c_custkey = s.o_custkey
        |),
        |rk AS (
        |  SELECT c_custkey, sp,
        |         CAST(ntile(10) OVER w AS INTEGER) AS decile,
        |         CAST(sum(sp) OVER (ORDER BY sp ASC, c_custkey ASC
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM cust WINDOW w AS (ORDER BY sp ASC, c_custkey ASC)
        |),
        |tot AS (SELECT CAST(sum(sp) AS BIGINT) AS tot FROM cust)
        |SELECT decile, count(*) AS n_customers,
        |       CAST(sum(sp) AS BIGINT) AS rev_cents,
        |       floor(CAST(max(cum) AS DOUBLE) / CAST(tot.tot AS DOUBLE) * 1e6) / 1e6
        |         AS cum_share
        |FROM rk, tot GROUP BY decile, tot.tot ORDER BY decile""".stripMargin,
    "agg_dow_hour" ->
      """WITH e AS (
        |  SELECT (datediff('day', DATE '1970-01-01',
        |            CAST(CAST(ts AS TIMESTAMP) AS DATE)) + 4) % 7 AS dow,
        |         hour(CAST(ts AS TIMESTAMP)) AS hr,
        |         CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events
        |)
        |SELECT dow, hr, count(*) AS n_events,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       floor(CAST(sum(cents) AS DOUBLE) / CAST(count(cents) AS DOUBLE)
        |             / 100.0 * 1e4) / 1e4 AS avg_value
        |FROM e GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin,
    "agg_mix_decompose" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         datediff('day', DATE '1970-01-01',
        |                  CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS ed,
        |         CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL
        |),
        |rng AS (SELECT min(ed) AS d0, max(ed) AS d1 FROM ev),
        |cells AS (
        |  SELECT event_type,
        |         CASE WHEN ed * 2 <= (SELECT d0 FROM rng) + (SELECT d1 FROM rng)
        |              THEN 'A' ELSE 'B' END AS period,
        |         count(*) AS c, CAST(sum(cents) AS BIGINT) AS sc
        |  FROM ev GROUP BY 1, 2
        |),
        |tots AS (SELECT period, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1),
        |wide AS (
        |  SELECT event_type, cells.period,
        |         CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS w,
        |         CAST(sc AS DOUBLE) / CAST(c AS DOUBLE) / 100.0 AS r
        |  FROM cells JOIN tots ON cells.period = tots.period
        |),
        |a AS (SELECT event_type, w AS wa, r AS ra FROM wide WHERE period = 'A'),
        |b AS (SELECT event_type, w AS wb, r AS rb FROM wide WHERE period = 'B')
        |SELECT coalesce(a.event_type, b.event_type) AS event_type,
        |       floor(coalesce(wa, 0.0) * 1e4) / 1e4 AS w_a,
        |       floor(coalesce(wb, 0.0) * 1e4) / 1e4 AS w_b,
        |       floor(ra * 1e4) / 1e4 AS r_a,
        |       floor(rb * 1e4) / 1e4 AS r_b,
        |       floor((coalesce(wb, 0.0) - coalesce(wa, 0.0))
        |             * coalesce(ra, 0.0) * 1e4) / 1e4 AS mix_contrib,
        |       floor(coalesce(wb, 0.0) * (coalesce(rb, 0.0) - coalesce(ra, 0.0))
        |             * 1e4) / 1e4 AS rate_contrib
        |FROM a FULL OUTER JOIN b ON a.event_type = b.event_type
        |ORDER BY event_type""".stripMargin,
    "agg_ab_srm" ->
      """WITH users AS (
        |  SELECT DISTINCT user_id,
        |         CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) % 2 AS arm
        |  FROM events
        |),
        |agg AS (
        |  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM users
        |)
        |SELECT n0, n1,
        |       floor(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n1 AS DOUBLE)
        |             / CAST(n0 + n1 AS DOUBLE) * 1e4) / 1e4 AS chi2,
        |       CASE WHEN CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n1 AS DOUBLE)
        |                 / CAST(n0 + n1 AS DOUBLE) > 3.84 THEN 1 ELSE 0 END AS srm_flag
        |FROM agg""".stripMargin,
    "agg_did" ->
      """WITH ev AS (
        |  SELECT user_id,
        |         datediff('day', DATE '1970-01-01',
        |                  CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS ed,
        |         CAST(floor(value * 1e6) AS BIGINT) AS vq,
        |         CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) % 2 AS arm
        |  FROM events WHERE value IS NOT NULL
        |),
        |rng AS (SELECT min(ed) AS d0, max(ed) AS d1 FROM ev),
        |cells AS (
        |  SELECT arm,
        |         CASE WHEN ed * 2 <= (SELECT d0 FROM rng) + (SELECT d1 FROM rng)
        |              THEN 0 ELSE 1 END AS period,
        |         count(*) AS n, CAST(sum(vq) AS BIGINT) AS sv
        |  FROM ev GROUP BY 1, 2
        |),
        |m AS (SELECT arm, period, n,
        |             CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS mu FROM cells)
        |SELECT c00.n AS n00, c01.n AS n01, c10.n AS n10, c11.n AS n11,
        |       floor(c00.mu * 1e4) / 1e4 AS ctrl_pre,
        |       floor(c01.mu * 1e4) / 1e4 AS ctrl_post,
        |       floor(c10.mu * 1e4) / 1e4 AS treat_pre,
        |       floor(c11.mu * 1e4) / 1e4 AS treat_post,
        |       floor(((c11.mu - c10.mu) - (c01.mu - c00.mu)) * 1e4) / 1e4 AS did
        |FROM (SELECT * FROM m WHERE arm = 0 AND period = 0) c00
        |CROSS JOIN (SELECT * FROM m WHERE arm = 0 AND period = 1) c01
        |CROSS JOIN (SELECT * FROM m WHERE arm = 1 AND period = 0) c10
        |CROSS JOIN (SELECT * FROM m WHERE arm = 1 AND period = 1) c11""".stripMargin,
    "agg_ab_sequential" ->
      """WITH cells AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) % 2 AS arm,
        |         count(*) AS n,
        |         CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS s1,
        |         sum(CAST(floor(value * 1e6) AS HUGEINT)
        |             * CAST(floor(value * 1e6) AS HUGEINT)) AS s2
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |),
        |cum AS (
        |  SELECT day, arm,
        |         CAST(sum(n) OVER wa AS BIGINT) AS cn,
        |         CAST(sum(s1) OVER wa AS BIGINT) AS cs1,
        |         sum(s2) OVER wa AS cs2
        |  FROM cells
        |  WINDOW wa AS (PARTITION BY arm ORDER BY day
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |),
        |j AS (
        |  SELECT a0.day, a0.cn AS n0, a0.cs1 AS sa0, a0.cs2 AS ss0,
        |         a1.cn AS n1, a1.cs1 AS sa1, a1.cs2 AS ss1
        |  FROM (SELECT * FROM cum WHERE arm = 0) a0
        |  JOIN (SELECT * FROM cum WHERE arm = 1) a1 ON a0.day = a1.day
        |),
        |zt AS (
        |  SELECT day, n0, n1,
        |         (CAST(sa1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1e6
        |          - CAST(sa0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 1e6)
        |         / sqrt(((CAST(ss1 AS DOUBLE)
        |                  - CAST(sa1 AS DOUBLE) * CAST(sa1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |                 / (CAST(n1 AS DOUBLE) - 1.0)) / 1e12 / CAST(n1 AS DOUBLE)
        |                + ((CAST(ss0 AS DOUBLE)
        |                  - CAST(sa0 AS DOUBLE) * CAST(sa0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |                 / (CAST(n0 AS DOUBLE) - 1.0)) / 1e12 / CAST(n0 AS DOUBLE)) AS z
        |  FROM j
        |)
        |SELECT day, n0, n1, floor(z * 1e4) / 1e4 AS z,
        |       CASE WHEN abs(z) > 2.48 THEN 1 ELSE 0 END AS crossed
        |FROM zt ORDER BY day""".stripMargin,
    "agg_power_mde" ->
      """WITH u AS (
        |  SELECT user_id,
        |         CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS sv,
        |         count(*) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |),
        |uq AS (
        |  SELECT CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) % 2 AS arm,
        |         CAST(floor(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 * 1e6)
        |              AS BIGINT) AS yq
        |  FROM u
        |),
        |arms AS (
        |  SELECT arm, count(*) AS n_users, CAST(sum(yq) AS BIGINT) AS s1,
        |         sum(CAST(yq AS HUGEINT) * CAST(yq AS HUGEINT)) AS s2
        |  FROM uq GROUP BY 1
        |)
        |SELECT arm, n_users,
        |       floor(CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE) / 1e6 * 1e4) / 1e4 AS mean,
        |       floor((CAST(s2 AS DOUBLE)
        |              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE))
        |             / (CAST(n_users AS DOUBLE) - 1.0) / 1e12 * 1e4) / 1e4 AS variance,
        |       floor(2.8 * sqrt(2.0 * ((CAST(s2 AS DOUBLE)
        |              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE))
        |             / (CAST(n_users AS DOUBLE) - 1.0) / 1e12)
        |             / CAST(n_users AS DOUBLE)) * 1e4) / 1e4 AS mde
        |FROM arms ORDER BY arm""".stripMargin,
    "agg_cuped" ->
      """WITH ev AS (
        |  SELECT user_id,
        |         datediff('day', DATE '1970-01-01',
        |                  CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS ed,
        |         CAST(floor(value * 1e6) AS BIGINT) AS vq
        |  FROM events WHERE value IS NOT NULL
        |),
        |rng AS (SELECT min(ed) AS d0, max(ed) AS d1 FROM ev),
        |per AS (
        |  SELECT user_id,
        |         CASE WHEN ed * 2 <= (SELECT d0 FROM rng) + (SELECT d1 FROM rng)
        |              THEN 'pre' ELSE 'post' END AS period,
        |         CAST(sum(vq) AS BIGINT) AS s, count(*) AS n
        |  FROM ev GROUP BY 1, 2
        |),
        |u AS (
        |  SELECT p.user_id,
        |         CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE) / 1e6 AS xu,
        |         CAST(q.s AS DOUBLE) / CAST(q.n AS DOUBLE) / 1e6 AS yu,
        |         CAST(concat('0x', substring(md5(CAST(p.user_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) % 2 AS arm
        |  FROM per p JOIN per q ON p.user_id = q.user_id
        |  WHERE p.period = 'pre' AND q.period = 'post'
        |),
        |pooled AS (
        |  SELECT count(*) AS np,
        |         list_aggregate(list(xu ORDER BY user_id), 'sum') AS sx,
        |         list_aggregate(list(yu ORDER BY user_id), 'sum') AS sy,
        |         list_aggregate(list(xu * xu ORDER BY user_id), 'sum') AS sxx,
        |         list_aggregate(list(xu * yu ORDER BY user_id), 'sum') AS sxy
        |  FROM u
        |),
        |th AS (
        |  SELECT sx / CAST(np AS DOUBLE) AS xbar,
        |         CASE WHEN CAST(np AS DOUBLE) * sxx - sx * sx > 0
        |              THEN (CAST(np AS DOUBLE) * sxy - sx * sy)
        |                   / (CAST(np AS DOUBLE) * sxx - sx * sx) END AS theta
        |  FROM pooled
        |),
        |adj AS (
        |  SELECT u.*, yu - theta * (xu - xbar) AS a FROM u CROSS JOIN th
        |),
        |arms AS (
        |  SELECT arm, count(*) AS n_users,
        |         list_aggregate(list(yu ORDER BY user_id), 'sum') AS sy,
        |         list_aggregate(list(a ORDER BY user_id), 'sum') AS sa,
        |         list_aggregate(list(yu * yu ORDER BY user_id), 'sum') AS syy,
        |         list_aggregate(list(a * a ORDER BY user_id), 'sum') AS saa
        |  FROM adj GROUP BY 1
        |)
        |SELECT arm, n_users,
        |       floor(sy / CAST(n_users AS DOUBLE) * 1e4) / 1e4 AS mean_y,
        |       floor(sa / CAST(n_users AS DOUBLE) * 1e4) / 1e4 AS mean_adj,
        |       floor((syy - sy * sy / CAST(n_users AS DOUBLE))
        |             / (CAST(n_users AS DOUBLE) - 1.0) * 1e4) / 1e4 AS var_y,
        |       floor((saa - sa * sa / CAST(n_users AS DOUBLE))
        |             / (CAST(n_users AS DOUBLE) - 1.0) * 1e4) / 1e4 AS var_adj,
        |       floor((1.0 - ((saa - sa * sa / CAST(n_users AS DOUBLE))
        |                     / (CAST(n_users AS DOUBLE) - 1.0))
        |                  / ((syy - sy * sy / CAST(n_users AS DOUBLE))
        |                     / (CAST(n_users AS DOUBLE) - 1.0))) * 1e4) / 1e4 AS var_reduction
        |FROM arms ORDER BY arm""".stripMargin,
    "agg_theil_index" ->
      """WITH c AS (
        |  SELECT n.n_regionkey AS region, c_custkey,
        |         CAST(floor(c_acctbal * 100.0) AS BIGINT) AS cents
        |  FROM customer JOIN nation n ON c_nationkey = n.n_nationkey
        |  WHERE c_acctbal > 0
        |),
        |tot AS (
        |  SELECT region, count(*) AS n, CAST(sum(cents) AS BIGINT) AS ctot
        |  FROM c GROUP BY 1
        |),
        |t AS (
        |  SELECT c.region, c.c_custkey, tot.ctot,
        |         (CAST(cents AS DOUBLE) / CAST(ctot AS DOUBLE))
        |           * ln(CAST(cents AS DOUBLE) * CAST(n AS DOUBLE)
        |                / CAST(ctot AS DOUBLE)) AS tt,
        |         ln(CAST(ctot AS DOUBLE)
        |            / (CAST(cents AS DOUBLE) * CAST(n AS DOUBLE))) AS tl
        |  FROM c JOIN tot ON c.region = tot.region
        |),
        |s AS (
        |  SELECT region, count(*) AS n_cust, max(ctot) AS total_cents,
        |         list_aggregate(list(tt ORDER BY c_custkey), 'sum') AS st,
        |         list_aggregate(list(tl ORDER BY c_custkey), 'sum') AS sl
        |  FROM t GROUP BY 1
        |)
        |SELECT region, CAST(n_cust AS BIGINT) AS n_cust, total_cents,
        |       floor(st * 1e4) / 1e4 AS theil_t,
        |       floor(sl / CAST(n_cust AS DOUBLE) * 1e4) / 1e4 AS theil_l
        |FROM s ORDER BY region""".stripMargin,
    "agg_tukey_fence" ->
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value * 1e6) AS BIGINT) AS vq, count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |),
        |cum AS (
        |  SELECT event_type, vq, c,
        |         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY vq
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h
        |),
        |bounds AS (
        |  SELECT event_type, n,
        |         min(CASE WHEN cum >= (n + 3) // 4 THEN vq END) AS q1,
        |         min(CASE WHEN cum >= (3 * n + 3) // 4 THEN vq END) AS q3,
        |         min(CASE WHEN cum >= (3 * n + 3) // 4 THEN vq END)
        |           - min(CASE WHEN cum >= (n + 3) // 4 THEN vq END) AS iqr
        |  FROM cum GROUP BY 1, 2
        |),
        |agg AS (
        |  SELECT h.event_type, b.n, b.q1, b.q3, b.iqr,
        |         CAST(sum(CASE WHEN h.vq * 2 < b.q1 * 2 - b.iqr * 3
        |                       THEN h.c ELSE 0 END) AS BIGINT) AS n_low,
        |         CAST(sum(CASE WHEN h.vq * 2 > b.q3 * 2 + b.iqr * 3
        |                       THEN h.c ELSE 0 END) AS BIGINT) AS n_high
        |  FROM h JOIN bounds b ON h.event_type = b.event_type
        |  GROUP BY 1, 2, 3, 4, 5
        |)
        |SELECT event_type, n,
        |       floor(CAST(q1 AS DOUBLE) / 1e6 * 1e4) / 1e4 AS q1,
        |       floor(CAST(q3 AS DOUBLE) / 1e6 * 1e4) / 1e4 AS q3,
        |       floor(CAST(iqr AS DOUBLE) / 1e6 * 1e4) / 1e4 AS iqr,
        |       n_low, n_high,
        |       floor(CAST(n_low + n_high AS DOUBLE) / CAST(n AS DOUBLE) * 1e4) / 1e4
        |         AS outlier_rate
        |FROM agg ORDER BY event_type""".stripMargin,
    "agg_capture_recapture" ->
      """WITH p AS (
        |  SELECT user_id,
        |         CAST(concat('0x', substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) % 2 AS parity
        |  FROM events
        |),
        |u AS (
        |  SELECT user_id,
        |         max(CASE WHEN parity = 0 THEN 1 ELSE 0 END) AS in_a,
        |         max(CASE WHEN parity = 1 THEN 1 ELSE 0 END) AS in_b
        |  FROM p GROUP BY 1
        |)
        |SELECT count(*) AS n_true,
        |       CAST(sum(in_a) AS BIGINT) AS n1,
        |       CAST(sum(in_b) AS BIGINT) AS n2,
        |       CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
        |       floor((CAST((sum(in_a) + 1) * (sum(in_b) + 1) AS DOUBLE)
        |              / CAST(sum(in_a * in_b) + 1 AS DOUBLE) - 1.0) * 1e4) / 1e4
        |         AS chapman_est
        |FROM u""".stripMargin,
    "agg_ridge_ols" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         datediff('day', DATE '1970-01-01',
        |                  CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS ed,
        |         hour(CAST(ts AS TIMESTAMP)) AS hr,
        |         CAST(floor(value * 1e6) AS BIGINT) AS yq
        |  FROM events WHERE value IS NOT NULL
        |),
        |dz AS (SELECT min(ed) AS d0 FROM ev),
        |b AS (
        |  SELECT event_type, CAST(ed - (SELECT d0 FROM dz) AS BIGINT) AS x1,
        |         CAST(hr AS BIGINT) AS x2, yq
        |  FROM ev
        |),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
        |         sum(CAST(yq AS HUGEINT)) AS sy,
        |         CAST(sum(x1 * x1) AS BIGINT) AS s11,
        |         CAST(sum(x1 * x2) AS BIGINT) AS s12,
        |         CAST(sum(x2 * x2) AS BIGINT) AS s22,
        |         sum(CAST(x1 AS HUGEINT) * yq) AS s1y,
        |         sum(CAST(x2 AS HUGEINT) * yq) AS s2y
        |  FROM b GROUP BY 1
        |),
        |dd AS (
        |  SELECT event_type, n,
        |         CAST(n AS DOUBLE) AS a, CAST(s1 AS DOUBLE) AS b, CAST(s2 AS DOUBLE) AS c,
        |         CAST(s11 AS DOUBLE) + 1.0 AS e, CAST(s12 AS DOUBLE) AS f,
        |         CAST(s22 AS DOUBLE) + 1.0 AS i,
        |         CAST(sy AS DOUBLE) AS r0, CAST(s1y AS DOUBLE) AS r1,
        |         CAST(s2y AS DOUBLE) AS r2
        |  FROM m
        |),
        |dt AS (
        |  SELECT event_type, n,
        |         a * (e * i - f * f) - b * (b * i - f * c) + c * (b * f - e * c) AS det,
        |         r0 * (e * i - f * f) - b * (r1 * i - f * r2) + c * (r1 * f - e * r2) AS d0,
        |         a * (r1 * i - f * r2) - r0 * (b * i - f * c) + c * (b * r2 - r1 * c) AS d1,
        |         a * (e * r2 - r1 * f) - b * (b * r2 - r1 * c) + r0 * (b * f - e * c) AS d2
        |  FROM dd
        |)
        |SELECT event_type, n,
        |       CASE WHEN det <> 0.0 THEN floor(d0 / det / 1e6 * 1e4) / 1e4 END AS intercept,
        |       CASE WHEN det <> 0.0 THEN floor(d1 / det / 1e6 * 1e4) / 1e4 END AS slope_day,
        |       CASE WHEN det <> 0.0 THEN floor(d2 / det / 1e6 * 1e4) / 1e4 END AS slope_hour
        |FROM dt ORDER BY event_type""".stripMargin,
  )
}
