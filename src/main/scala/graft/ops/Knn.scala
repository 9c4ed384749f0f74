package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Exact k-nearest-neighbor search over an embedding column.
  *
  * `topKCosine` picks between two exact formulations from the MEASURED
  * corpus size (one cheap count, the same gate discipline as
  * `Dedup.LargeVocab`):
  *
  *  - at or under [[BroadcastCorpusRows]] — the dense-corpus fast path: the
  *    corpus is broadcast as primitive arrays (ids, row-major float
  *    vectors, labels, precomputed L2 norms) and each partition of query
  *    vectors streams it with a bounded (sim desc, id asc) insertion
  *    buffer — the same small-side-broadcast / big-side-streamed shape as
  *    a BroadcastHashJoin, except the probe is a dense dot-product block
  *    scan that Catalyst's join operators cannot express without
  *    materializing every candidate pair row. Replacing the pair join +
  *    aggregator formulation with this cut `llm_knn_label` from ~6.7 s to
  *    well under 1 s at bench scale (4 M pairs).
  *  - above the gate — the `TopKNeighbors` aggregator path: a pair join
  *    whose per-query candidates are reduced to k rows map-side (partial
  *    aggregation) before the shuffle, so the exchange carries tiny top-k
  *    lists, never the full candidate set, and nothing is collected to the
  *    driver. Still O(n·m) dot products — exact all-pairs k-NN is — but it
  *    cannot OOM the driver the way an ungated collect would; past this
  *    size the ANN keys (`llm_ann_bucket`, `llm_ivf_centroids`) are the
  *    sub-linear answer.
  *
  * Degenerate vectors: a zero-norm vector has no defined cosine direction,
  * so it is skipped both as a query (emits no edges) and as a candidate —
  * on BOTH paths. Without the guard the blocked scan's NaN sims are
  * admitted only while the buffer fills while SQL orders NaN largest,
  * silently diverging the two formulations (KnnSpec pins them equal).
  *
  * Determinism: dot products accumulate in index order with per-element
  * widening to double — bit-identical to the codegen `VecDot` expression
  * and the DuckDB oracle's list fold, so downstream hash-compares hold.
  */
object Knn {

  /** One query→neighbor edge: query id/label, candidate id/label, cosine. */
  case class Edge(q_id: Long, true_label: Int, c_id: Long, c_label: Int, sim: Double)

  /** Corpora at or under this row count broadcast as the blocked-scan build
    * side (~150 MB at 64-dim floats — broadcast-build-side order); above
    * it the aggregator path runs without any driver-side materialization. */
  private[graft] val BroadcastCorpusRows = 500000L

  /** Exact top-k cosine neighbors of every vector against all others.
    * `vectors` must have columns (vec_id: long, embedding: array<float>,
    * label: int). Self-matches and zero-norm vectors are excluded. Ties
    * break by smaller c_id. Physical route chosen by measured corpus size
    * (see object doc); both routes return identical edges. */
  def topKCosine(vectors: DataFrame, k: Int): Dataset[Edge] =
    topKCosine(vectors, vectors, k)

  /** Two-set form: exact top-k neighbors of each QUERY vector against
    * `corpus` — the sampled-evaluation shape (recall eval at scale always
    * samples its query set; ground truth stays exact per query, and the
    * scan cost becomes |queries|·|corpus| instead of |corpus|²). The
    * physical route is chosen by the CORPUS size; a query row whose
    * vec_id also appears in the corpus never matches itself.
    *
    * Routing costs ONE corpus materialization, not two (the r4 double
    * count+collect): `limit(gate+1).collect()` either returns ≤ gate rows
    * — which are then, by construction, the ENTIRE corpus, handed straight
    * to the blocked path — or proves the corpus exceeds the gate after an
    * early-terminating partial scan and routes to the aggregator.
    * `corpusRowsHint` (e.g. from a store's row-count metadata) skips even
    * that probe when it already places the corpus above the gate. */
  def topKCosine(queries: DataFrame, corpus: DataFrame, k: Int,
                 corpusRowsHint: Option[Long] = None): Dataset[Edge] = {
    require(k > 0)
    if (corpusRowsHint.exists(_ > BroadcastCorpusRows)) topKCosineAgg(queries, corpus, k)
    else {
      val probe = corpus.select("vec_id", "embedding", "label")
        .limit(BroadcastCorpusRows.toInt + 1).collect()
      if (probe.length <= BroadcastCorpusRows) topKCosineBlocked(queries, probe, k)
      else topKCosineAgg(queries, corpus, k)
    }
  }

  /** DataFrame convenience for the blocked route (specs compare it against
    * the aggregator route directly). */
  private[graft] def topKCosineBlocked(queries: DataFrame, corpus: DataFrame,
                                       k: Int): Dataset[Edge] =
    topKCosineBlocked(queries, corpus.select("vec_id", "embedding", "label").collect(), k)

  /** Broadcast blocked-scan route over pre-collected (vec_id, embedding,
    * label) corpus rows — the single materialization from the router. */
  private[graft] def topKCosineBlocked(queries: DataFrame,
                                       rows: Array[org.apache.spark.sql.Row],
                                       k: Int): Dataset[Edge] = {
    val s = queries.sparkSession
    import s.implicits._
    val n = rows.length
    val ids = new Array[Long](n)
    val mats = new Array[Array[Float]](n)
    val labs = new Array[Int](n)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val r = rows(i)
      ids(i) = r.getLong(0)
      mats(i) = r.getSeq[Float](1).toArray
      labs(i) = r.getInt(2)
      var s2 = 0.0
      var j = 0
      val v = mats(i)
      while (j < v.length) { s2 += v(j).toDouble * v(j).toDouble; j += 1 }
      norms(i) = math.sqrt(s2)
      i += 1
    }
    val bc = s.sparkContext.broadcast((ids, mats, labs, norms))

    queries.select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)]
      .mapPartitions { iter =>
        val (cIds, cMats, cLabs, cNorms) = bc.value
        iter.flatMap { case (qid, qe, ql) =>
          var qn2 = 0.0
          var j = 0
          while (j < qe.length) { qn2 += qe(j).toDouble * qe(j).toDouble; j += 1 }
          val qn = math.sqrt(qn2)
          if (qn == 0.0) Seq.empty[Edge]
          else {
            val topSim = new Array[Double](k)
            val topId = new Array[Long](k)
            val topLab = new Array[Int](k)
            var filled = 0
            var c = 0
            while (c < cIds.length) {
              if (cIds(c) != qid && cNorms(c) != 0.0) {
                val ce = cMats(c)
                val m = math.min(qe.length, ce.length)
                var dp = 0.0
                var t = 0
                while (t < m) { dp += qe(t).toDouble * ce(t).toDouble; t += 1 }
                val sim = dp / (qn * cNorms(c))
                val cid = cIds(c)
                val admit = filled < k || sim > topSim(filled - 1) ||
                  (sim == topSim(filled - 1) && cid < topId(filled - 1))
                if (admit) {
                  var p = if (filled < k) filled else filled - 1
                  while (p > 0 && (topSim(p - 1) < sim ||
                    (topSim(p - 1) == sim && topId(p - 1) > cid))) {
                    topSim(p) = topSim(p - 1); topId(p) = topId(p - 1); topLab(p) = topLab(p - 1)
                    p -= 1
                  }
                  topSim(p) = sim; topId(p) = cid; topLab(p) = cLabs(c)
                  if (filled < k) filled += 1
                }
              }
              c += 1
            }
            (0 until filled).map(x => Edge(qid, ql, topId(x), topLab(x), topSim(x)))
          }
        }
      }
  }

  /** TopKNeighbors aggregator route — pair join with map-side top-k
    * reduction, no driver-side corpus materialization. */
  private[graft] def topKCosineAgg(queries: DataFrame, corpus: DataFrame,
                                   k: Int): Dataset[Edge] = {
    val s = queries.sparkSession
    import s.implicits._
    graft.functions.Kernels.ensure(s)
    def normed(df: DataFrame) = df.select(col("vec_id"), col("embedding"), col("label"),
      sqrt(call_function("vec_dot", col("embedding"), col("embedding"))).as("norm"))
    val a = normed(queries).select(col("vec_id").as("q_id"), col("embedding").as("a_e"),
      col("norm").as("a_n"), col("label").as("true_label"))
    val b = normed(corpus).select(col("vec_id").as("c_id"), col("embedding").as("b_e"),
      col("norm").as("b_n"), col("label").as("c_label"))
    a.join(b, col("q_id") =!= col("c_id") && col("a_n") > 0 && col("b_n") > 0)
      .select(col("q_id"), col("true_label"),
        (call_function("vec_dot", col("a_e"), col("b_e")) / (col("a_n") * col("b_n"))).as("sim"),
        col("c_id"), col("c_label"))
      .as[(Long, Int, Double, Long, Int)]
      .groupByKey { case (q, tl, _, _, _) => (q, tl) }
      .mapValues { case (_, _, sim, cid, clab) => graft.functions.Neighbor(sim, cid, clab) }
      .agg(new graft.functions.TopKNeighbors(k).toColumn)
      .flatMap { case ((q, tl), ns) => ns.map(nb => Edge(q, tl, nb.cId, nb.label, nb.sim)) }
  }
}
