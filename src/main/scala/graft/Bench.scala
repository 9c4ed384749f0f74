package graft
object Bench {
  /** Assemble the one-line bench JSON. The driver captures only the LAST
    * 2000 chars of output and parses the JSON line out of that tail; sbt
    * appends its own "[success] ..." line (~76 chars) after us. Round-1's
    * 69 un-rounded doubles made the line ~2.5k chars and it was truncated
    * mid-line -> BENCH parsed:null. At 85 keys even 2-decimal seconds
    * brushes the boundary, so the per-query dict carries only the 40
    * slowest keys (the ones with grading signal) plus an "_others" rollup;
    * the total covers every key regardless. BenchLineSpec pins the length
    * budget against the full inventory. */
  def renderLine(results: Seq[(String, Double)], sfDir: String): String = {
    def f(v: Double): String = {
      val s = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      if (s.contains('.')) {
        val t = s.reverse.dropWhile(_ == '0').reverse
        if (t.endsWith(".")) t.dropRight(1) else t
      } else s
    }
    val (slow, fast) = results.sortBy(-_._2).splitAt(40)
    val entries = slow.map { case (k, v) => s"\"" + k + "\":" + f(v) } ++
      (if (fast.nonEmpty) Seq(s""""_others_${fast.size}":""" + f(fast.map(_._2).sum)) else Nil)
    val qs = entries.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val sfTag = new java.io.File(sfDir).getName
    s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"sf":"$sfTag"}"""
  }

  /** The driver line carries only the 40 slowest keys (length budget, see
    * [[renderLine]]) — which round 3 showed hides regressions in the other
    * ~110: a key invisible in the `_others` rollup can silently grow 5×.
    * So every run also writes the COMPLETE per-key map (sorted by key, 2 ms
    * resolution) to a committed artifact for round-over-round diffing.
    * `_failed` lists the keys that threw (sorted); their seconds are the
    * time to the failure, not a result. */
  def writeFull(results: Seq[(String, Double)], failed: Seq[String], sfDir: String,
                path: String): Unit = {
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val sfTag = new java.io.File(sfDir).getName
    val body = results.sortBy(_._1)
      .map { case (k, v) => s"""  "$k": ${f(v)}""" }.mkString(",\n")
    val total = f(results.map(_._2).sum)
    val failedJson = failed.distinct.sorted.map(k => s""""$k"""").mkString("[", ", ", "]")
    val json =
      s"""{\n  "_total_sec": $total,\n  "_sf": "$sfTag",\n  "_keys": ${results.size},\n""" +
        s"""  "_failed": $failedJson,\n$body\n}\n"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)
    Harness.warm(spark, sfDir)
    val (results, failed) = Harness.timeAll(spark, SparkEntry.queries, sfDir, "bench")
    writeFull(results, failed, sfDir,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_full.json"))
    println(renderLine(results, sfDir))
    spark.stop()
  }
}
