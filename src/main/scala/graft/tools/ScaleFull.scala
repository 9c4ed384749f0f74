package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Suite-wide scale rehearsal (r4 VERDICT #1): times EVERY registered key
  * at sf0.1 and at the density-preserving ("clean") 10× derived corpus in
  * the same session with the same method as `graft.Bench` (1 rep batch /
  * median-of-3 streaming), and writes `SCALE_full.json` with per-key
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ScaleProbe.build(spark, src, x10, clean = true)
    ScaleProbe.buildEmb(spark, src, x10)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$src/region.parquet").count()

    val failed = scala.collection.mutable.Set.empty[String]
    def timeAll(dir: String): Map[String, Double] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        // batch keys: 2 reps, keep the WARM one (min) — the r4 run's
        // single cold rep charged first-touch page-cache misses of the
        // just-written 10× parquet to sub-second keys and reported e.g.
        // set_intersect at 17.5× where the warm factor is ~7× (r5 probe);
        // streaming keys keep median-of-3 (micro-batch machinery noise
        // is symmetric, not monotone-warming)
        val reps = if (name.startsWith("stream_")) 3 else 2
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          // foreach, NOT count: count() lets Catalyst prune unused
          // operators — for the window/fold keys the ENTIRE Window+Sort
          // disappears from the count plan (measured: win_lag_delta's
          // count plan has no Window node), which would report flat
          // "growth" for work that was never executed. foreach forces
          // every operator and materializes every output column.
          try fn(spark, dir).foreach(_ => ())
          catch { case NonFatal(e) =>
            System.err.println(s"[scalefull] $name failed: ${e.getMessage}")
            failed += name }
          val t = (System.nanoTime() - t0) / 1e9
          // same untimed dead-block sweep as Bench (r12): leaked
          // checkpoint blocks from earlier keys otherwise land full-GC
          // stalls on random later keys, polluting the growth ratios
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          t
        }.sorted
        val t = if (name.startsWith("stream_")) times(times.size / 2) else times.head
        println(f"[scalefull] ${new java.io.File(dir).getName}%-18s $name%-28s $t%.2f s")
        name -> t
      }.toMap

    val base = timeAll(src)
    val big = timeAll(x10)

    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      render(base, big, failed.toSet).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scalefull] wrote $outPath")
    spark.stop()
  }
}
