package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** The committed digest table (`digests.tsv`: key, tab, `rows:hashsum`) —
  * what every key workload's output check compares against.
  *
  * Regenerate after changing the table generator, from the repository root:
  * {{{
  * python3 perfbench/run.py --record-digests perfbench/digests.tsv
  * }}}
  * Each key is digested twice and kept only if both agree; keep only keys
  * whose results on the same tables also match DuckDB (`tools/compare.py`
  * over a `graft.Verify` dump) — see BENCHMARK.md.
  */
object Digests {
  def load(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, d) = l.split('\t'); k -> d }.toMap

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outPath) = args
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val spark = Main.session(Runtime.getRuntime.availableProcessors, System.getProperty("java.io.tmpdir"))
    spark.sparkContext.setLogLevel("ERROR")
    val lines = keys.flatMap { k =>
      try {
        val fn = SparkEntry.queries(k)
        val d = (1 to 2).map { _ =>
          val r = KeyWorkloads.digestString(KeyWorkloads.digest(fn(spark, dataDir)))
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          r
        }
        if (d.distinct.size == 1 && !d.head.startsWith("0:")) Some(s"$k\t${d.head}")
        else { System.err.println(s"[digests] $k unstable or empty: ${d.mkString(" vs ")}"); None }
      } catch {
        case e: Throwable => System.err.println(s"[digests] $k failed: $e"); None
      }
    }
    Files.write(Paths.get(outPath), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[digests] wrote ${lines.size} of ${keys.size} keys")
    spark.stop()
  }
}
