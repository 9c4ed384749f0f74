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

  /** Replaces the state of a finished pass with `legacy` written as the
    * parquet directory the state was before it became a control file:
    * the next pass must recompute every bucket, replace the directory,
    * and leave the pass after it a no-op. */
  private def legacyStateDegrades(tag: String)(legacy: DataFrame => DataFrame): Unit = {
    val src = bucketed(Tables.events(spark, sf0001))
    val state = tmpDir(s"mat_state_$tag") + "/state"
    val target = tmpDir(s"mat_target_$tag")
    val m = new Materializer(spark, state)
    m.materialize(src, transform, target)

    new java.io.File(state).delete()
    val h = xxhash64(src.columns.filter(_ != "bucket").sorted.map(col): _*)
    legacy(src.withColumn("h", h)).coalesce(1).write.mode(SaveMode.Overwrite).parquet(state)

    val r = m.materialize(src, transform, target)
    assert(r.nRecomputed.toLong == src.select("bucket").distinct().count())
    assert(new java.io.File(state).isFile, "the commit must replace the directory")
    val r2 = m.materialize(src, transform, target)
    assert(r2.nRecomputed == 0, s"state not rewritten: ${r2.recomputedBuckets}")
  }

  test("pre-fp_sum state (older schema) degrades to recompute, not a crash") {
    legacyStateDegrades("mig")(_.groupBy("bucket")
      .agg(count(lit(1)).as("fp_count"), bit_xor(col("h")).as("fp_hash")))
  }

  test("a legacy parquet state directory degrades to one full recompute, then a no-op") {
    legacyStateDegrades("parquet")(_.groupBy("bucket")
      .agg(count(lit(1)).as("fp_count"), bit_xor(col("h")).as("fp_hash"),
        sum(col("h").cast("decimal(38,0)")).as("fp_sum")))
  }

  test("file fingerprints key buckets by their unescaped value and follow the file set") {
    val dir = tmpDir("mat_files")
    val rows = spark.range(4).select(
      when(col("id") < 2, lit("h:10 %")).otherwise(lit("b/2")).as("bucket"),
      col("id"))
    rows.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(dir)
    val fp0 = Materializer.fileFingerprints(spark.read.parquet(dir))
    assert(fp0.keySet == Set("h:10 %", "b/2"))
    assert(spark.read.parquet(dir).select("bucket").distinct()
      .collect().map(_.getString(0)).toSet == fp0.keySet)

    rows.where(col("id") === 0).write.mode(SaveMode.Append).partitionBy("bucket").parquet(dir)
    val fp1 = Materializer.fileFingerprints(spark.read.parquet(dir))
    assert(fp1("h:10 %") != fp0("h:10 %"))
    assert(fp1("b/2") == fp0("b/2"))
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
    assert(m.readState().keys.toSeq.sorted == buckets.tail)
    assert(!new java.io.File(state + ".tmp").exists(), "the commit must consume state.tmp")
    // a bucket below the cut is never rematerialized, so the state stays cut
    assert(m.materialize(src, transform, target, retainFrom = Some(cut)).nRecomputed == 0)
    assert(m.readState().size == buckets.size - 1)
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
