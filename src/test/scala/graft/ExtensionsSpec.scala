package graft

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

import graft.functions.Kernels

/** The two ways the [[Kernels]] catalogue reaches a session. The shared
  * test session is built with `spark.sql.extensions=graft.GraftExtensions`
  * (SparkSpec), same as Verify/Bench, and the first tests prove the
  * injection is what makes `vec_dot` available there. The rest run on a
  * stripped child (every kernel dropped, as on a session built without the
  * extension) and prove `Kernels.ensure` restores the table without
  * replacing anything, and that `SparkEntry.queries` runs it for every key.
  */
class ExtensionsSpec extends SparkSpec {

  test("vec_dot resolves via SQL on the extensions-configured session") {
    val v = spark
      .sql("SELECT vec_dot(array(1.0F, 2.0F, 3.0F), array(4.0F, 5.0F, 6.0F)) AS d")
      .head().getDouble(0)
    assert(v == 32.0)
  }

  test("extension functions survive into newSession() children; temp functions do not") {
    // A fresh child session rebuilds its function registry from the
    // extensions captured at context creation. A temp function registered
    // on the parent is session-local, so its absence in the child shows
    // the child resolved vec_dot through the extension, not through
    // registry leakage.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_probe_temp_fn",
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.VecDot(children.head, children(1)),
      "built-in")

    val child = spark.newSession()
    val v = child
      .sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(v == 11.0)
    assert(child.sessionState.functionRegistry
      .lookupFunctionBuilder(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_probe_temp_fn"))
      .isEmpty)
  }

  test("bloom_agg / bloom_might_contain: no false negatives, fp rate bounded") {
    import spark.implicits._
    val members = (0L until 2000L).map(i => s"m$i")
    val bf = members.toDF("g")
      .selectExpr("bloom_agg(xxhash64(g), 2000L) AS bf")
      .head().getAs[Array[Byte]](0)
    val probe = (members.map(("in", _)) ++ (0L until 2000L).map(i => ("out", s"x$i")))
      .toDF("side", "g")
    val res = probe
      .withColumn("hit", org.apache.spark.sql.functions.call_function(
        "bloom_might_contain", org.apache.spark.sql.functions.lit(bf),
        org.apache.spark.sql.functions.xxhash64(org.apache.spark.sql.functions.col("g"))))
      .groupBy("side").agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("hit").cast("int")).as("hits"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res("in") == 2000L, "a bloom filter must never report a member absent")
    assert(res("out") < 200L, s"fp count ${res("out")} exceeds 10% at default fpp=3%")
  }

  test("wrong-arity vec_dot call fails with a clean arity message") {
    val e = intercept[Throwable] {
      spark.sql("SELECT vec_dot(array(1.0F))").collect()
    }
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("exactly 2 arguments"), messages)
  }

  test("DESCRIBE FUNCTION carries the injected usage text") {
    val desc = spark.sql("DESCRIBE FUNCTION vec_dot")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("vec_dot"))
  }

  private def names(entries: Seq[Kernels.Entry]): Set[String] = entries.map(_._1.funcName).toSet

  test("GraftExtensions injects exactly the Kernels catalogue") {
    assert(Kernels.all.size == 17 && names(Kernels.all).size == 17)
    // a fresh child's registry is the built-ins plus what the extension injected
    val injected = spark.newSession().sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet -- FunctionRegistry.builtin.listFunction().map(_.funcName)
    assert(injected == names(Kernels.all))
  }

  test("Kernels.ensure restores every kernel on a stripped session and never replaces one") {
    val child = SparkSpec.strippedSession()
    val registry = child.sessionState.functionRegistry
    assert(Kernels.all.forall { case (id, _, _) => !registry.functionExists(id) })
    Kernels.ensure(child)
    assert(Kernels.all.forall { case (id, _, _) => registry.functionExists(id) })
    val first = Kernels.all.map { case (id, _, _) => registry.lookupFunctionBuilder(id).get }
    Kernels.ensure(child)
    val second = Kernels.all.map { case (id, _, _) => registry.lookupFunctionBuilder(id).get }
    first.zip(second).zip(Kernels.all).foreach { case ((a, b), (id, _, _)) =>
      assert(a eq b, s"${id.funcName} was re-registered by a second ensure")
    }
    assert(child.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head().getDouble(0) == 11.0)
  }

  test("kernel-using keys give the same rows on a stripped session as on the extension session") {
    // the Geo and Aggs md5_bits keys resolved only through the extension;
    // the rest cover the mask and series-fold families
    val keys = Seq("geo_knn_haversine", "geo_path_length", "agg_ab_srm",
      "agg_capture_recapture", "agg_dp_counts", "llm_span_mask", "win_ewma", "win_theil_sen")
    def rows(s: org.apache.spark.sql.SparkSession, key: String): Seq[String] =
      SparkEntry.queries(key)(s, sf0001).collect().map(_.toString).toSeq.sorted
    keys.foreach { key =>
      val stripped = rows(SparkSpec.strippedSession(), key)
      assert(stripped.nonEmpty, s"$key returned no rows")
      assert(stripped == rows(spark, key), s"$key differs without the extension")
    }
  }
}
