package graft.tools

import org.apache.spark.sql.execution.ExplainUtils

/** Write the formatted physical plans of named query keys to files —
  * the optimization-round evidence artifact (plans/r12/<key>_<tag>.txt).
  * Usage: `sbt "runMain graft.tools.PlanDump <outDir> <tag> <key>[,<key>...] [sfDir]"`.
  *
  * Each key's file holds every plan the key executed, in order
  * ([[PlanScan.executedPlans]]), each under a header naming the action
  * that ran it. Streaming keys have no batch plan (IncrementalExecution)
  * and are skipped with a stub note. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val keys = args(2).split(",").toSeq
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    val spark = graft.Harness.session(4)
    new java.io.File(outDir).mkdirs()
    keys.foreach { k =>
      val body =
        if (graft.streaming.Streams.queries.contains(k))
          s"(streaming key $k: per-micro-batch IncrementalExecution plan; " +
            "batch-equivalence and state shape asserted in StreamingSpec)"
        else {
          val plans = PlanScan.executedPlans(spark, k, sfDir)
          plans.zipWithIndex.map { case ((action, plan), i) =>
            val text = new StringBuilder
            ExplainUtils.processPlan(plan, text.append(_: String))
            s"== ${i + 1}/${plans.size}: $action ==\n$text"
          }.mkString("\n")
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${k}_$tag.txt"),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${k}_$tag.txt")
    }
    spark.stop()
  }
}
