package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Knn

/** The broadcast blocked-scan k-NN must agree edge-for-edge with the
  * declarative pair-join + window formulation (same tie-break: sim desc,
  * then smaller candidate id). */
class KnnSpec extends SparkSpec {

  test("blocked-scan top-5 equals the declarative window top-5 on sf0.001") {
    val v = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"), col("label"),
        sqrt(call_function("vec_dot", col("embedding"), col("embedding"))).as("norm"))
    val a = v.select(col("vec_id").as("q_id"), col("embedding").as("a_e"),
      col("norm").as("a_n"), col("label").as("true_label"))
    val b = v.select(col("vec_id").as("c_id"), col("embedding").as("b_e"),
      col("norm").as("b_n"), col("label").as("c_label"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    val declarative = a.join(b, col("q_id") =!= col("c_id"))
      .withColumn("sim",
        call_function("vec_dot", col("a_e"), col("b_e")) / (col("a_n") * col("b_n")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select("q_id", "true_label", "c_id", "c_label", "sim")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
      .toSet

    val blocked = Knn.topKCosine(Tables.embeddings(spark, sf0001), 5)
      .collect().map(e => (e.q_id, e.true_label, e.c_id, e.c_label, e.sim)).toSet

    assert(blocked == declarative,
      s"edge sets differ: only-blocked=${(blocked -- declarative).take(3)} " +
        s"only-declarative=${(declarative -- blocked).take(3)}")
  }

  test("aggregator route equals the blocked scan edge-for-edge (size-gate fallback)") {
    val blocked = Knn.topKCosineBlocked(Tables.embeddings(spark, sf0001), Tables.embeddings(spark, sf0001), 5)
      .collect().map(e => (e.q_id, e.true_label, e.c_id, e.c_label, e.sim)).toSet
    val agg = Knn.topKCosineAgg(Tables.embeddings(spark, sf0001), Tables.embeddings(spark, sf0001), 5)
      .collect().map(e => (e.q_id, e.true_label, e.c_id, e.c_label, e.sim)).toSet
    assert(agg == blocked,
      s"only-agg=${(agg -- blocked).take(3)} only-blocked=${(blocked -- agg).take(3)}")
  }

  test("two-set form: sampled queries against the full corpus, both routes agree") {
    val all = Tables.embeddings(spark, sf0001)
    val queries = all.where(col("vec_id") % 4 === 0)
    val blocked = Knn.topKCosineBlocked(queries, all, 3)
      .collect().map(e => (e.q_id, e.c_id, e.sim)).toSet
    val agg = Knn.topKCosineAgg(queries, all, 3)
      .collect().map(e => (e.q_id, e.c_id, e.sim)).toSet
    assert(blocked == agg)
    assert(blocked.map(_._1) == queries.collect().map(_.getLong(0)).toSet,
      "every sampled query (and only those) must be scored")
    // two-set edges against the sampled slice of the self-join form
    val self = Knn.topKCosine(all, 3).collect()
      .filter(_.q_id % 4 == 0).map(e => (e.q_id, e.c_id, e.sim)).toSet
    assert(blocked == self, "sampling queries must not change their ground truth")
  }

  test("zero-norm vectors emit no edges and are never candidates, on both routes") {
    import spark.implicits._
    val vs = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(0f, 0f), 1), // zero norm: cosine undefined
      (3L, Array(0.5f, 0.5f), 1),
      (4L, Array(-1f, 0.2f), 0)
    ).toDF("vec_id", "embedding", "label")
    for (edges <- Seq(Knn.topKCosineBlocked(vs, vs, 2).collect(),
                      Knn.topKCosineAgg(vs, vs, 2).collect())) {
      assert(edges.forall(e => e.q_id != 2L && e.c_id != 2L), edges.mkString(","))
      assert(edges.map(_.q_id).distinct.sorted.toSeq == Seq(1L, 3L, 4L))
      assert(edges.forall(e => !e.sim.isNaN))
    }
  }

  test("IVF nprobe=2 dominates nprobe=1: no lost neighbors, sims and recall never drop") {
    // nprobe=1 via ivfSearch directly: the registry's llm_ivf_centroids
    // re-shaped to the build product in r11, but the dominance property
    // of the search stays pinned here
    def nnMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getDouble(3))))).toMap
    val np1 = nnMap(graft.queries.Llm.ivfSearch(spark, sf0001, nprobe = 1))
    val np2 = nnMap(SparkEntry.queries("llm_ivf_probe")(spark, sf0001))
    assert(np1.keySet == np2.keySet)
    // probing more cells only ADDS candidates: every query keeps a
    // neighbor at least as similar as before
    np1.foreach { case (q, o1) =>
      (o1, np2(q)) match {
        case (Some((_, s1)), Some((_, s2))) => assert(s2 >= s1 - 1e-12, s"$q: $s2 < $s1")
        case (Some(_), None) => fail(s"query $q lost its neighbor with more probes")
        case _ => ()
      }
    }
    val exact = Knn.topKCosineBlocked(Tables.embeddings(spark, sf0001), Tables.embeddings(spark, sf0001), 1)
      .collect().map(e => e.q_id -> e.c_id).toMap
    def recall(m: Map[Long, Option[(Long, Double)]]) =
      exact.count { case (q, nn) => m.get(q).flatten.exists(_._1 == nn) }.toDouble / exact.size
    assert(recall(np2) >= recall(np1),
      s"recall dropped: np2=${recall(np2)} np1=${recall(np1)}")
  }

  test("2-layer HNSW serve beats the flat graph on routability, recall and final sim (r11)") {
    // the r10 VERDICT #8 measurement: hierarchy vs flat, side by side on
    // the same 500-query budget. Everything is deterministic, so the
    // margins below pin the MEASURED relation (sf0.001 near-orthogonal
    // worst case: flat reached 2.8% / recall 2.6%; hnsw 4.8% / 4.8%;
    // hnsw's final sim >= flat's for 72.8% of queries, mean +0.057).
    def serveMap(key: String) = SparkEntry.queries(key)(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(4))).toMap
    val flat = serveMap("llm_graph_search")
    val hnsw = serveMap("llm_hnsw_search")
    assert(flat.keySet == hnsw.keySet)
    def reachedRate(m: Map[Long, (Long, Double, Boolean)]) =
      m.values.count(_._3).toDouble / m.size
    assert(reachedRate(hnsw) >= reachedRate(flat),
      s"hierarchy lost routability: ${reachedRate(hnsw)} < ${reachedRate(flat)}")
    val exact = SparkEntry.queries("llm_recall_hnsw")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recallOf(m: Map[Long, (Long, Double, Boolean)]) =
      exact.count { case (q, nn) => m.get(q).exists(_._1 == nn) }.toDouble / exact.size
    assert(recallOf(hnsw) >= recallOf(flat),
      s"hierarchy lost recall: ${recallOf(hnsw)} < ${recallOf(flat)}")
    // the upper walk's long strides must help most queries, not a fluke few
    val atLeastAsGood = flat.keys.count(q => hnsw(q)._2 >= flat(q)._2 - 1e-12)
    assert(atLeastAsGood.toDouble / flat.size >= 0.65,
      s"only $atLeastAsGood/${flat.size} queries ended at least as close")
    val meanDelta = flat.keys.map(q => hnsw(q)._2 - flat(q)._2).sum / flat.size
    assert(meanDelta > 0.0, s"mean final-sim delta $meanDelta not positive")
  }

  test("every query yields exactly k edges (self excluded) and no self-match") {
    val edges = Knn.topKCosine(Tables.embeddings(spark, sf0001), 3).collect()
    val n = Tables.embeddings(spark, sf0001).count()
    assert(edges.length == n * 3)
    assert(edges.forall(e => e.q_id != e.c_id))
    val perQuery = edges.groupBy(_.q_id)
    perQuery.values.foreach { es =>
      // returned in rank order: sim non-increasing, id ascending on ties
      val sorted = es.sortBy(e => (-e.sim, e.c_id))
      assert(es.map(e => (e.c_id, e.sim)).toSeq == sorted.map(e => (e.c_id, e.sim)).toSeq)
    }
  }
}
