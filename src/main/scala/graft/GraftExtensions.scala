package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.Kernels

/** Session-extension entry point for the library's custom Catalyst
  * functions, activated with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`).
  *
  * It injects every entry of the [[graft.functions.Kernels]] catalogue, so
  * each session state built over the context resolves them, including
  * `spark.newSession()` children: set one config and every session sees
  * `vec_dot`. A session built without it gets the same table through
  * `Kernels.ensure`, which `SparkEntry.queries` runs before every key.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = Kernels.all.foreach(ext.injectFunction)
}
