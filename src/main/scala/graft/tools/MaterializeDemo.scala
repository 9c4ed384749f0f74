package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.materialize.Materializer
import graft.multimodal.Media

/** Example driver for the incremental materializer and the multimodal
  * feature pipeline: run with
  * `sbt "runMain graft.tools.MaterializeDemo [sfDir]"`.
  * Shows the fingerprint gate in action: full first pass, no-op second
  * pass, late-data third pass recomputing only the touched bucket. */
object MaterializeDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Harness.session(4)

    val work = java.nio.file.Files.createTempDirectory("graft_demo").toString
    val src = Tables.events(spark, sfDir)
      .withColumn("bucket", date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH"))
      .select("bucket", "event_id", "user_id", "value")
    val transform: DataFrame => DataFrame = s =>
      s.groupBy("bucket", "user_id")
        .agg(count(lit(1)).as("samples"), sum("value").as("sum_value"))

    val m = new Materializer(spark, s"$work/state")
    val r1 = m.materialize(src, transform, s"$work/target")
    println(s"[demo] pass 1: recomputed ${r1.nRecomputed} buckets")
    val r2 = m.materialize(src, transform, s"$work/target")
    println(s"[demo] pass 2 (unchanged source): recomputed ${r2.nRecomputed} buckets")
    val firstBucket = src.select(min("bucket")).collect().head.getString(0)
    val late = spark.range(1).select(lit(firstBucket).as("bucket"),
      lit(999999L).as("event_id"), lit(1L).as("user_id"), lit(9.9).as("value"))
    val r3 = m.materialize(src.unionByName(late), transform, s"$work/target")
    println(s"[demo] pass 3 (late row in $firstBucket): recomputed ${r3.recomputedBuckets.mkString(",")}")
    println(s"[demo] target rows: ${spark.read.parquet(s"$work/target").count()}")

    val media = Media.extractFeatures(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")), "payload")
    media.select(col("doc_id"), col("media.format"), col("media.width"),
        col("media.n_bytes"), col("features")(0).as("f0"))
      .orderBy("doc_id").show(3, truncate = false)
    spark.stop()
  }
}
