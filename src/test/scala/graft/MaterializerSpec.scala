package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.materialize.Materializer

/** Fingerprint-gated incremental materialization (SURVEY.md §7 M4):
  * full first run, no-op second run, and late data recomputing exactly the
  * affected bucket with results equal to a from-scratch rebuild. */
class MaterializerSpec extends SparkSpec {

  private def bucketed(df: DataFrame): DataFrame =
    df.withColumn("bucket", date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH"))
      .select("bucket", "event_id", "user_id", "value")

  private val transform: DataFrame => DataFrame = src =>
    src.groupBy("bucket", "user_id")
      .agg(count(lit(1)).as("samples"), sum("value").as("sum_value"))

  test("initial run materializes all buckets; rerun recomputes none") {
    val src = bucketed(Tables.events(spark, sf0001))
    val state = tmpDir("mat_state")
    val target = tmpDir("mat_target")
    val m = new Materializer(spark, state)

    val r1 = m.materialize(src, transform, target)
    val nBuckets = src.select("bucket").distinct().count()
    assert(r1.nRecomputed.toLong == nBuckets)

    val r2 = m.materialize(src, transform, target)
    assert(r2.nRecomputed == 0, s"idempotent rerun recomputed ${r2.recomputedBuckets}")

    // target equals direct computation
    val direct = transform(src)
    val got = spark.read.parquet(target)
    assert(got.count() == direct.count())
    assert(got.unionByName(direct).distinct().count() == direct.count())
  }

  test("late rows trigger recomputation of exactly the affected buckets") {
    val src0 = bucketed(Tables.events(spark, sf0001))
    val state = tmpDir("mat_state2")
    val target = tmpDir("mat_target2")
    val m = new Materializer(spark, state)
    m.materialize(src0, transform, target)

    // late data lands in exactly one existing bucket
    val someBucket = src0.select("bucket").orderBy("bucket").limit(1)
      .collect().head.getString(0)
    val late = spark.range(1).select(
      lit(someBucket).as("bucket"),
      lit(999999L).as("event_id"),
      lit(42L).as("user_id"),
      lit(123.5).as("value"))
    val src1 = src0.unionByName(late)

    val r = m.materialize(src1, transform, target)
    assert(r.recomputedBuckets == Seq(someBucket), r.recomputedBuckets.mkString(","))

    // recomputed target equals a from-scratch rebuild
    val fresh = tmpDir("mat_fresh")
    transform(src1).write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(fresh)
    val a = spark.read.parquet(target)
    val b = spark.read.parquet(fresh)
    assert(a.count() == b.count())
    assert(a.unionByName(b.select(a.columns.map(col): _*)).distinct().count() == b.count())
  }

  test("pre-fp_sum state (older schema) degrades to recompute, not a crash") {
    val src = bucketed(Tables.events(spark, sf0001))
    val state = tmpDir("mat_state_mig")
    val target = tmpDir("mat_target_mig")
    val m = new Materializer(spark, state)
    m.materialize(src, transform, target)

    // simulate state written by the pre-fp_sum version of the fingerprint
    val old = spark.read.parquet(state).drop("fp_sum")
    val tmp = state + ".old"
    old.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    spark.read.parquet(tmp).coalesce(1).write.mode(SaveMode.Overwrite).parquet(state)

    // the missing column must surface as NULL -> every bucket compares
    // stale (null-safe) -> one-time full recompute; next run is a no-op
    val r = m.materialize(src, transform, target)
    assert(r.nRecomputed.toLong == src.select("bucket").distinct().count())
    val r2 = m.materialize(src, transform, target)
    assert(r2.nRecomputed == 0, s"state not re-upgraded: ${r2.recomputedBuckets}")
  }

  test("retention cut drops older buckets from the state in the pass's one commit") {
    val src = bucketed(Tables.events(spark, sf0001))
    val state = tmpDir("mat_state4")
    val target = tmpDir("mat_target4")
    val m = new Materializer(spark, state)
    val buckets = src.select("bucket").distinct().orderBy("bucket")
      .collect().map(_.getString(0)).toSeq
    assert(m.materialize(src, transform, target).recomputedBuckets == buckets)

    val cut = buckets(1)
    val r = m.materialize(src, transform, target, retainFrom = Some(cut))
    assert(r.nRecomputed == 0, s"the cut alone recomputed ${r.recomputedBuckets}")
    assert(spark.read.parquet(state).select("bucket").collect().map(_.getString(0))
      .sorted.toSeq == buckets.tail)
    assert(!new java.io.File(state + ".tmp").exists(), "the commit must consume state.tmp")
    // a bucket below the cut is never rematerialized, so the state stays cut
    assert(m.materialize(src, transform, target, retainFrom = Some(cut)).nRecomputed == 0)
    assert(spark.read.parquet(state).count() == buckets.size - 1)
  }

  test("stability delay keeps hot buckets unmaterialized") {
    val src = bucketed(Tables.events(spark, sf0001))
    val state = tmpDir("mat_state3")
    val target = tmpDir("mat_target3")
    val m = new Materializer(spark, state)
    val cutoff = src.select(max("bucket")).collect().head.getString(0)
    val r = m.materialize(src, transform, target, stableBefore = Some(cutoff))
    assert(!r.recomputedBuckets.contains(cutoff))
    assert(r.nRecomputed.toLong == src.select("bucket").distinct().count() - 1)
  }
}
