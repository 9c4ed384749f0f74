package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session per JVM (suites run
  * sequentially in the forked test JVM), built like the tools' sessions
  * by [[Harness.session]] at `local[4]`. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Ids of the checkpointed RDDs under `df`'s plan (its LogicalRDD leaves). */
  def checkpointIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
}

object SparkSpec {
  lazy val session: SparkSession = Harness.session(4)

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
