package graft.tools

import graft.{Harness, SparkEntry}

/** Suite-wide scale rehearsal (r4 VERDICT #1): times EVERY registered key
  * at sf0.1 and at the density-preserving ("clean") 10× derived corpus in
  * the same session with the same method and rep policy as `graft.Bench`
  * ([[graft.Harness.timeAll]]), and writes `SCALE_full.json` with per-key
  * growth factors. Data grows 10×, so a key whose time grows ≲ 10× scales
  * at-or-better-than linearly; growth ≫ 10× flags a superlinear plan —
  * each such key must be fixed or documented volume-bound in NOTES.
  *
  * The CLEAN corpus mode is the right one for a suite-wide factor: it
  * preserves within-copy similarity density exactly and keeps cross-copy
  * near-dup pairs out (the STRESS mode deliberately multiplies pair
  * volume 40×+ — a different experiment, measured separately in r4).
  *
  * A throwing key prints `[scalefull] <key> failed: <msg>` to stderr.
  *
  * Run: `sbt "runMain graft.tools.ScaleFull [outPath]"` (30-60 min).
  */
object ScaleFull {
  /** `SCALE_full.json` from the per-key seconds at sf0.1 (`base`) and at
    * the 10× corpus (`big`). A key in `failed` threw: its seconds are the
    * time to the failure, so its row carries no growth factor. */
  def render(base: Map[String, Double], big: Map[String, Double],
             failed: Set[String]): String = {
    def f(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val keys = base.keys.toSeq.sorted
    val body = keys.map { k =>
      val growth = if (failed(k)) "" else
        s""", "growth": ${f(if (base(k) > 0.0) big(k) / base(k) else -1.0)}"""
      s"""  "$k": {"sf01_sec": ${f(base(k))}, "x10_sec": ${f(big(k))}$growth}"""
    }.mkString(",\n")
    val failedJson = failed.toSeq.sorted.map(k => s""""$k"""").mkString("[", ", ", "]")
    s"""{
       |  "_method": "clean 10x derived corpus vs sf0.1, same session; batch keys warm (min-of-2), streaming median-of-3",
       |  "_data_growth": 10.0,
       |  "_keys": ${keys.size},
       |  "_total_sf01_sec": ${f(base.values.sum)},
       |  "_total_x10_sec": ${f(big.values.sum)},
       |  "_failed": $failedJson,
       |$body
       |}
       |""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("SCALE_full.json")
    val src = "/root/testdata/sf0.1"
    val x10 = "/tmp/graft_sfx10_clean"
    val spark = Harness.session(Harness.cpus)
    ScaleProbe.build(spark, src, x10, clean = true)
    ScaleProbe.buildEmb(spark, src, x10)
    Harness.warm(spark, src)
    def pass(dir: String): (Map[String, Double], Seq[String]) = {
      val (results, failed) = Harness.timeAll(spark, SparkEntry.queries, dir, "scalefull")
      results.foreach { case (name, t) =>
        println(f"[scalefull] ${new java.io.File(dir).getName}%-18s $name%-28s $t%.2f s")
      }
      (results.toMap, failed)
    }
    val (base, baseFailed) = pass(src)
    val (big, bigFailed) = pass(x10)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      render(base, big, (baseFailed ++ bigFailed).toSet)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scalefull] wrote $outPath")
    spark.stop()
  }
}
