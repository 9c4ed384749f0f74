package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session per JVM (suites run
  * sequentially in the forked test JVM), UTC, small shuffle fan-out. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh child of the shared session with every
    * [[graft.functions.Kernels]] entry dropped from its registry: what a
    * session built without `spark.sql.extensions` resolves. */
  def strippedSession(): SparkSession = {
    val child = session.newSession()
    graft.functions.Kernels.all.foreach { case (id, _, _) =>
      child.sessionState.functionRegistry.dropFunction(id)
    }
    child
  }
}
