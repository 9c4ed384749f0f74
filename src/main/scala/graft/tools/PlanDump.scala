package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Write `.explain("formatted")` output for named query keys to files —
  * the optimization-round evidence artifact (plans/r12/<key>_<tag>.txt).
  * Usage: `sbt "runMain graft.tools.PlanDump <outDir> <tag> <key>[,<key>...]"`.
  *
  * Keys whose registry route executes eagerly (graph family / staged
  * dedup tables) are dumped through [[PlanScan.auditOverrides]] — the
  * key's own route run lazily under `Checkpoints.auditLazily`, the same
  * plan PlanShapeSpec judges — because the registry route's returned
  * frame is a LogicalRDD scan whose formatted plan would be vacuous.
  * Streaming keys have no batch plan (IncrementalExecution) and are
  * skipped with a stub note. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val keys = args(2).split(",").toSeq
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val overrides = PlanScan.auditOverrides
    keys.foreach { k =>
      val body =
        if (graft.streaming.Streams.queries.contains(k))
          s"(streaming key $k: per-micro-batch IncrementalExecution plan; " +
            "batch-equivalence and state shape asserted in StreamingSpec)"
        else {
          val fn = overrides.getOrElse(k, SparkEntry.queries(k))
          val df = fn(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${k}_$tag.txt"),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${k}_$tag.txt")
    }
    spark.stop()
  }
}
