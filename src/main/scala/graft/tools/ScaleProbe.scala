package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One-more-decade scaling probe: derives a 10× copy of sf0.1 (≈sf1) in
  * /tmp and times scale-sensitive keys on it, extending the NOTES
  * cross-SF table by another order of magnitude on real executions.
  *
  * Construction keeps per-key density honest:
  *  - relational tables shift their keys per copy, so join fan-outs and
  *    group cardinalities scale the way a bigger warehouse actually does
  *    (10× rows, 10× customers, same rows-per-customer);
  *  - events keep their timestamps (10× rows per time bucket — a busier
  *    network, the realistic axis) under shifted event/user ids;
  *  - documents come in two modes. `stress` (default dir suffix "")
  *    appends four copy-tag tokens per copy: cross-copy same-doc Jaccard
  *    lands at n/(n+8) ≈ 0.79 — below the 0.9 cluster threshold but far
  *    above 0.5, so the 0.5-threshold keys see a 40×+ PAIR-volume
  *    workload at 10× input (a dup-density stress test). `clean`
  *    replaces a deterministic 50% of each copy's tokens with
  *    copy-suffixed variants: within-copy Jaccard is preserved EXACTLY
  *    (shared tokens replace identically), cross-copy same-doc Jaccard
  *    drops to ≈0.14 and cross-copy minhash bands diverge — the
  *    density-preserving 10× scale-up.
  *
  * Keys are timed through [[graft.Harness.timeKey]] (its scaladoc gives
  * the method); a key that throws prints `[scale] <key> failed: <msg>` to
  * stderr and the exit status is 1.
  *
  * Run: `sbt "runMain graft.tools.ScaleProbe [keys] [reps] [stress|clean]"`.
  */
object ScaleProbe {
  private val Copies = 10

  private[tools] def build(spark: SparkSession, src: String, OutDir: String,
                    clean: Boolean): Unit = {
    if (graft.Fs.existsNonEmptyData(spark, s"$OutDir/documents.parquet")) return
    println(s"[scale] building ${Copies}x copy of $src at $OutDir (clean=$clean)")

    def copies(f: Int => DataFrame): DataFrame =
      (0 until Copies).map(f).reduce(_ unionByName _)

    // events: ts back to raw nanos so Tables.events' nanosAsLong read works
    val ev = graft.Tables.events(spark, src)
      .withColumn("ts", expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))
    copies(i => ev
        .withColumn("event_id", col("event_id") + lit(i.toLong * 10000000000L))
        .withColumn("user_id", col("user_id") + lit(i.toLong * 1000000L)))
      .write.mode(SaveMode.Overwrite).parquet(s"$OutDir/events.parquet")

    val cust = graft.Tables.customer(spark, src)
    copies(i => cust.withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L)))
      .write.mode(SaveMode.Overwrite).parquet(s"$OutDir/customer.parquet")

    val ord = graft.Tables.orders(spark, src)
    copies(i => ord
        .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L)))
      .write.mode(SaveMode.Overwrite).parquet(s"$OutDir/orders.parquet")

    val li = graft.Tables.lineitem(spark, src)
    copies(i => li
        .withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 10000000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(i * 10000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * 1000000L)))
      .write.mode(SaveMode.Overwrite).parquet(s"$OutDir/lineitem.parquet")

    val docs = graft.Tables.documents(spark, src)
    def perturb(i: Int) =
      if (!clean) concat(col("text"), lit(s" cp${i}a cp${i}b cp${i}c cp${i}d"))
      else concat_ws(" ", transform(
        filter(split(col("text"), " "), t => length(t) > 0),
        t => when(pmod(xxhash64(t, lit(i)), lit(2)) === 0, concat(t, lit(s"_$i"))).otherwise(t)))
    copies(i => docs
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000000L))
        .withColumn("text", perturb(i)))
      .write.mode(SaveMode.Overwrite).parquet(s"$OutDir/documents.parquet")

    // dims/suppliers/parts pass through unchanged (dimension-sized; the
    // probed keys either broadcast them or don't read them)
    Seq("region", "nation", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$OutDir/$t.parquet")
    }
  }

  /** 10× embeddings (guarded separately so probe dirs built before this
    * existed upgrade in place): shifted vec_ids plus a deterministic
    * ±0.005 per-dim jitter — enough to decorrelate copies (no exact
    * duplicate vectors) while preserving the corpus's near-orthogonal
    * geometry, so IVF cell occupancy grows 10× the way a real corpus
    * grows. Labels pass through (knn strata keep their balance). */
  private[tools] def buildEmb(spark: SparkSession, src: String, OutDir: String): Unit = {
    val out = s"$OutDir/embeddings.parquet"
    val base = spark.read.parquet(s"$src/embeddings.parquet")
    val want = base.count() * Copies
    if (graft.Fs.existsNonEmptyData(spark, out) &&
        spark.read.parquet(out).count() == want) return
    println(s"[scale] building ${Copies}x embeddings at $out")
    (0 until Copies).map { i =>
      base
        .withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L))
        .withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x + (pmod(xxhash64(col("vec_id"), j, lit(i)), lit(1000))
            .cast("double") - 499.5d) * lit(1e-5d)).cast("float")))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(out)
  }

  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.split(",").toSeq).getOrElse(Seq(
      "agg_groupby", "join_inner_hash", "agg_time_bucket", "win_lag_delta",
      "win_analytic", "agg_dq_profile", "llm_dedup_exact", "llm_token_count",
      "llm_dedup_lsh_verified", "llm_dedup_clusters"))
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val clean = args.lift(2).contains("clean")
    val OutDir = if (clean) "/tmp/graft_sfx10_clean" else "/tmp/graft_sfx10"
    val spark = graft.Harness.session(graft.Harness.cpus)
    build(spark, "/root/testdata/sf0.1", OutDir, clean)
    buildEmb(spark, "/root/testdata/sf0.1", OutDir)
    graft.Harness.warm(spark, OutDir)
    val failed = graft.Harness.timeKeys(spark, keys, OutDir, reps, "scale")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
