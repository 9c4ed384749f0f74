package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dev timer for individual query keys: `sbt "runMain graft.tools.TimeOne
  * <key>[,<key>...] [sfDir] [reps]"`. Times a full `foreach`
  * materialization per rep — NOT `count()`, which lets Catalyst prune
  * every operator the count doesn't need (the r7 win_interpolate lesson:
  * a 27 s O(partition²) window billed as 0.34 s for six rounds) — after
  * one warm-up of the session (same method as Bench/ScaleFull). The row
  * count is tallied inside the timed pass via an accumulator, so it costs
  * nothing extra and the printed figure is the honest full-execution cost.
  * A key that throws (an unknown key included) prints `[timeone] <key>
  * failed: <msg>` to stderr and the run goes on to the next key; the exit
  * status is 1 if any key failed. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.split(",").toSeq)
      .getOrElse(sys.error("usage: TimeOne <key>[,<key>...] [sfDir] [reps]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions") // bench parity
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val failed = keys.filterNot { k =>
      try {
        val fn = SparkEntry.queries.getOrElse(k, sys.error(s"unknown key $k"))
        (1 to reps).foreach { r =>
          val rows = spark.sparkContext.longAccumulator
          val t0 = System.nanoTime()
          fn(spark, sfDir).foreach(_ => rows.add(1L))
          println(f"[timeone] $k rep$r: ${(System.nanoTime() - t0) / 1e9}%.2f s (${rows.value} rows)")
          // same untimed dead-block sweep as Bench (r12): without it a prior
          // rep's leaked checkpoint blocks tax the next rep with GC stalls
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
        }
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[timeone] $k failed: ${e.getMessage}"); false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
