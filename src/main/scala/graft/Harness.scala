package graft

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measured-run harness: the one place a `SparkSession` is built and
  * the one loop that times registry keys. `graft.Bench`, `graft.Verify`
  * and every `graft.tools` main start from [[session]]; Bench, TimeOne,
  * ScaleFull and ScaleProbe time through [[timeKey]]. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** `$SPARK_GRAFT_CPUS`, read once; unset, every core the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with the kernel extensions, `cpus` shuffle
    * partitions, UTC session time, no UI and WARN logging. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm the session (executor threads, codegen compiler, parquet footer
    * reader) so init cost isn't charged to whichever key runs first. */
  def warm(spark: SparkSession, dir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()
  }

  /** One timed rep: wall seconds and the rows the key returned. */
  final case class Rep(seconds: Double, rows: Long)

  /** A key that threw, an unknown key included: the message, and the
    * seconds the throwing rep ran (0 for an unknown key). */
  final case class Failure(message: String, seconds: Double)

  /** Time `reps` runs of registry key `key` over the tables in `dir`,
    * ending the key at its first throw.
    *
    * Each rep runs the returned frame with `foreach`, NOT `count()`:
    * count lets Catalyst prune every operator the count doesn't need
    * (win_interpolate's whole forward-neighbor window vanished from its
    * count plan, hiding an O(partition²) frame billed at 0.34 s instead of
    * 27 s), while foreach forces every operator and output column. The
    * rows are tallied inside that pass by an accumulator, at no extra cost.
    *
    * After each rep, outside the timed window, every persisted RDD is
    * unpersisted. A finished rep's result and staged `localCheckpoint`
    * blocks are dead but only reclaimed when a GC runs the ContextCleaner;
    * in a long sequential run they pile up and the eventual full GC lands
    * as a multi-second stall on some later key (same-code spikes of 8–26 s
    * on different keys each run, gone under the sweep). The sweep caches
    * nothing: every rep still computes from parquet. */
  def timeKey(spark: SparkSession, key: String, dir: String, reps: Int,
              queries: Map[String, Query] = SparkEntry.queries): Either[Failure, Seq[Rep]] =
    queries.get(key).toRight(Failure(s"unknown key $key", 0.0)).flatMap { fn =>
      def rep(): Either[Failure, Rep] = {
        val rows = spark.sparkContext.longAccumulator
        val t0 = System.nanoTime()
        val run = Try(fn(spark, dir).foreach(_ => rows.add(1L)))
        val seconds = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        run.toEither.left.map(e => Failure(e.getMessage, seconds)).map(_ => Rep(seconds, rows.value))
      }
      (1 to reps).foldLeft[Either[Failure, Seq[Rep]]](Right(Vector.empty)) { (done, _) =>
        done.flatMap(rs => rep().map(rs :+ _))
      }
    }

  /** The rep policy. Batch keys run twice and report the warm rep (the
    * min): cold reps charged first-touch page-cache misses to whichever
    * key read a file first, and warm steady state is what a long-running
    * deployment pays. `stream_` keys run three times and report the
    * median: their micro-batch checkpoint I/O is noisy both ways, not
    * monotonically warming. */
  def repsFor(key: String): Int = if (key.startsWith("stream_")) 3 else 2

  /** The reported seconds of `key` from its reps, under [[repsFor]]'s policy. */
  def pick(key: String, seconds: Seq[Double]): Double = {
    val sorted = seconds.sorted
    if (key.startsWith("stream_")) sorted(sorted.size / 2) else sorted.head
  }

  /** Every key of `queries` in key order under the rep policy: the
    * reported seconds per key, and the keys that threw (their seconds are
    * the time to the failure). A failure prints `[tag] <key> failed: <msg>`
    * to stderr. */
  def timeAll(spark: SparkSession, queries: Map[String, Query], dir: String,
              tag: String): (Seq[(String, Double)], Seq[String]) = {
    val timed = queries.keys.toSeq.sorted.map { k =>
      val t = timeKey(spark, k, dir, repsFor(k), queries)
      t.left.foreach(f => System.err.println(s"[$tag] $k failed: ${f.message}"))
      k -> t
    }
    (timed.map { case (k, t) => k -> t.fold(_.seconds, rs => pick(k, rs.map(_.seconds))) },
      timed.collect { case (k, Left(_)) => k })
  }

  /** Time each of `keys` `reps` times, printing `[tag] <key> rep<n>: <s> s
    * (<rows> rows)` per rep, or the failure line to stderr; returns the
    * keys that failed. */
  def timeKeys(spark: SparkSession, keys: Seq[String], dir: String, reps: Int,
               tag: String): Seq[String] =
    keys.filter { k =>
      timeKey(spark, k, dir, reps) match {
        case Right(rs) =>
          rs.zipWithIndex.foreach { case (r, i) =>
            println(f"[$tag] $k rep${i + 1}: ${r.seconds}%.2f s (${r.rows} rows)")
          }
          false
        case Left(f) =>
          System.err.println(s"[$tag] $k failed: ${f.message}")
          true
      }
    }
}
