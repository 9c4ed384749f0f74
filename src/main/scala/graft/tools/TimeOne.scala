package graft.tools

import graft.Harness

/** Dev timer for individual query keys: `sbt "runMain graft.tools.TimeOne
  * <key>[,<key>...] [sfDir] [reps]"`. Warms the session, then times each
  * key `reps` times (default 2) through [[graft.Harness.timeKey]], whose
  * scaladoc gives the method, and prints each rep's seconds and rows. A
  * key that throws (an unknown key included) prints `[timeone] <key>
  * failed: <msg>` to stderr and the run goes on to the next key; the exit
  * status is 1 if any key failed. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.split(",").toSeq)
      .getOrElse(sys.error("usage: TimeOne <key>[,<key>...] [sfDir] [reps]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Harness.session(Harness.cpus)
    Harness.warm(spark, sfDir)
    val failed = Harness.timeKeys(spark, keys, sfDir, reps, "timeone")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
