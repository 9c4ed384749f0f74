package graft

import org.apache.spark.sql.functions._

import graft.queries.Dedup
import graft.ops.{Knn, Skew, Upsert}

/** Degenerate-input behavior of the library operators: empty frames,
  * single rows, and k > corpus must produce well-defined results, not
  * exceptions — at 100 TB a partition, day, or stratum being empty is the
  * common case, not the corner. */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private def emptyKV = Seq.empty[(Long, Double)].toDF("k", "v")

  test("upsert with an empty batch leaves the base untouched") {
    val base = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    val merged = Upsert.lastWriterWins(base, emptyKV, Seq("k"))
    assert(merged.orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == Seq((1L, 1.0), (2L, 2.0)))
  }

  test("upsert into an empty base is the batch") {
    val batch = Seq((1L, 1.0)).toDF("k", "v")
    val merged = Upsert.lastWriterWins(emptyKV, batch, Seq("k"))
    assert(merged.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 1.0)))
  }

  test("connected components over an empty pair set is empty") {
    val pairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.clustersPointerJump(pairs).isEmpty)
  }

  test("k-NN with k exceeding the corpus returns all other vectors with exact cosines") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.0f, 1.0f), 1), (2L, Array(1.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val edges = Knn.topKCosine(vecs, k = 10).collect()
    assert(edges.length == 6) // each of 3 vectors sees the other 2
    // brute-force expectation: cos(0,1)=0, cos(0,2)=cos(1,2)=1/sqrt(2)
    val got = edges.map(e => (e.q_id, e.c_id) -> math.rint(e.sim * 1e9) / 1e9).toMap
    val r = math.rint(1.0 / math.sqrt(2.0) * 1e9) / 1e9
    assert(got == Map(
      (0L, 1L) -> 0.0, (0L, 2L) -> r,
      (1L, 0L) -> 0.0, (1L, 2L) -> r,
      (2L, 0L) -> r, (2L, 1L) -> r))
  }

  test("salted aggregation of an empty frame is empty, not a crash") {
    val out = Skew.saltedAgg(
      Seq.empty[(String, Double)].toDF("g", "v"), Seq("g"), 4,
      Map("n" -> ("v", "count"), "s" -> ("v", "sum")))
    assert(out.isEmpty)
  }

  test("64-bit SimHash on empty and single-doc corpora is empty/pairless") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.SimHash.signatures(empty).isEmpty)
    assert(graft.ops.SimHash.bandedPairs(graft.ops.SimHash.signatures(empty)).isEmpty)
    val one = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(graft.ops.SimHash.signatures(one).count() == 1)
    assert(graft.ops.SimHash.bandedPairs(graft.ops.SimHash.signatures(one)).isEmpty)
  }

  test("global rank / cumsum / ntile on empty and single-row frames") {
    import graft.ops.Rank
    val empty = Seq.empty[(Long, Long)].toDF("id", "v")
    assert(Rank.withGlobalRank(empty, Seq(col("v"), col("id")), "g", "n").isEmpty)
    assert(Rank.withGlobalCumSum(empty, Seq(col("v"), col("id")), "v", "c", "g", "n").isEmpty)
    val one = Seq((7L, 42L)).toDF("id", "v")
    val r = Rank.withGlobalRank(one, Seq(col("v"), col("id")), "g", "n")
      .withColumn("nt", Rank.ntileExpr(5, "g", "n"))
      .select("g", "n", "nt").head()
    // n=1 < tiles exercises the WHEN-covers-all branch: rank 1 -> tile 1
    assert((r.getLong(0), r.getLong(1), r.getInt(2)) == ((1L, 1L, 1)))
    val c = Rank.withGlobalCumSum(one, Seq(col("v"), col("id")), "v", "c", "g", "n")
      .select("c").head().getLong(0)
    assert(c == 42L)
  }

  test("scd2 of a single-change entity is one open current version") {
    val hist = Seq((9L, "2024-03-01 00:00:00", "up"))
      .toDF("entity_id", "ts", "status")
      .withColumn("ts", col("ts").cast("timestamp"))
    val v = graft.store.AttributeStore.scd2(hist).collect()
    assert(v.length == 1)
    val r = v.head
    assert(r.getAs[Int]("version") == 1 && r.getAs[Boolean]("is_current")
      && r.isNullAt(r.fieldIndex("valid_to")))
  }

  test("two-set kNN with an empty query set is empty; disjoint ids never self-exclude") {
    val corpus = Seq((1L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val noQueries = Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(Knn.topKCosine(noQueries, corpus, 3).isEmpty)
    // a query whose id is NOT in the corpus must match every corpus row
    val q = Seq((99L, Array(1f, 1f), 0)).toDF("vec_id", "embedding", "label")
    assert(Knn.topKCosine(q, corpus, 3).collect().map(_.c_id).sorted.toSeq == Seq(1L, 2L))
  }

  test("harvest tick on an empty or missing landing dir is a clean no-op") {
    val loop = new graft.pipeline.HarvestLoop(
      spark, tmpDir("el_landing") + "/never_created", tmpDir("el_work"),
      paths => spark.read.csv(paths: _*), identity, Seq.empty)
    val r = loop.tick()
    assert(r.isNoOp, r.toString)
    // and again — still a no-op, no state dirs accidentally created wrong
    assert(loop.tick().isNoOp)
  }

  test("fingerprint-gated refresh works when the source is empty") {
    val root = tmpDir("relations_empty")
    val empty = Seq.empty[(Long, Long)].toDF("source_id", "target_id")
    val r1 = graft.directory.Relations.refreshIncremental(spark, root, "e")(empty)(identity)
    assert(r1.refreshed && r1.relation.isEmpty)
    val r2 = graft.directory.Relations.refreshIncremental(spark, root, "e")(empty)(identity)
    assert(!r2.refreshed, "empty fingerprint must be stable")
  }
}
