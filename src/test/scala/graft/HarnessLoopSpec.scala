package graft

/** The measured-run harness's timing loop ([[Harness.timeKey]] and
  * [[Harness.timeAll]]): a key ends at its first throw, a failure is
  * declared rather than thrown, and the untimed sweep leaves no persisted
  * RDD behind. */
class HarnessLoopSpec extends SparkSpec {

  test("timeAll runs a throwing route once and lists it once in failed; the good route keeps its rows") {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val queries: Map[String, Harness.Query] = Map(
      "a_throws" -> { (s, _) =>
        calls.incrementAndGet()
        s.range(3).selectExpr("raise_error('boom') AS x")
      },
      "b_good" -> { (s, _) => s.range(5).toDF("x") })
    val (results, failed) = Harness.timeAll(spark, queries, sf0001, "harnessloop")
    assert(calls.get == 1, "the throwing route ran again after its first throw")
    assert(failed == Seq("a_throws"))
    assert(results.map(_._1) == Seq("a_throws", "b_good"))
    assert(results.forall(_._2 >= 0.0), results)
    val json = graft.tools.ScaleFull.render(results.toMap, results.toMap, failed.toSet)
    assert(json.contains(""""_failed": ["a_throws"],"""), json)
    assert("""(?m)^  "a_throws": \{"sf01_sec": [0-9.]+, "x10_sec": [0-9.]+\},$""".r
      .findFirstIn(json).nonEmpty, json)
    assert(json.contains(""""growth": 1.000}"""), json)
    assert(Harness.timeKey(spark, "b_good", sf0001, 2, queries).map(_.map(_.rows)) ==
      Right(Seq(5L, 5L)))
  }

  test("the loop sweeps a staging key's persisted RDDs and declares an unknown key") {
    val pagerank = SparkEntry.queries("graph_pagerank")
    pagerank(spark, sf0001).foreach(_ => ())
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "graph_pagerank no longer leaves a staged RDD behind, so this test shows no sweep")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val timed = Harness.timeKey(spark, "graph_pagerank", sf0001, 1)
    assert(timed.map(_.map(_.rows > 0)) == Right(Seq(true)), timed)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(Harness.timeKey(spark, "nosuchkey", sf0001, 2) ==
      Left(Harness.Failure("unknown key nosuchkey", 0.0)))
  }
}
