package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Ivf

/** The IVF sizing rule (VERDICT r3 #5): with `autoNlist` the per-query
  * work (centroid scan + probed-cell candidates) must stay ~√n, so a 10×
  * corpus costs ~3.2× per query — while the oracle keys' pinned nlist=16
  * shows the linear occupancy growth the rule exists to remove. */
class IvfSpec extends SparkSpec {

  test("autoNlist follows the sqrt rule and clamps at [16, 65536]") {
    assert(Ivf.autoNlist(0) == 16)
    assert(Ivf.autoNlist(100) == 16)
    assert(Ivf.autoNlist(10000) == 100)
    assert(Ivf.autoNlist(1000000) == 1000)
    assert(Ivf.autoNlist(250000, nprobe = 4) == 1000)
    assert(Ivf.autoNlist(1L << 40) == 65536)
  }

  /** n deterministic pseudo-random 8-dim vectors (md5-derived uniforms in
    * [-0.5, 0.5]) with precomputed norms — near-uniform cell occupancy. */
  private def corpus(n: Long): DataFrame = {
    spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(7)), j =>
          (conv(substring(md5(concat(col("id").cast("string"), lit(":"), j.cast("string"))),
            1, 4), 16, 10).cast("double") / 65535.0 - 0.5).cast("float")).as("embedding"))
      .withColumn("norm", sqrt(call_function("vec_dot", col("embedding"), col("embedding"))))
  }

  /** Mean per-query candidate count from the home-cell occupancies:
    * Σ occ·(occ−1) / n — what `Ivf.candidates` materializes at nprobe=1. */
  private def meanCandidates(ranked: DataFrame): Double = {
    val occs = ranked.where(col("r") === 1).groupBy("cell").count()
      .collect().map(_.getLong(1))
    occs.map(o => o.toDouble * (o - 1)).sum / occs.sum
  }

  test("candidates at nprobe=1 materializes exactly the occupancy formula") {
    val ranked = Ivf.coarseRanked(corpus(500), nlist = 16)
    val pairRows = Ivf.candidates(ranked, nprobe = 1).count()
    val expected = math.round(meanCandidates(ranked) * 500)
    assert(pairRows == expected, s"$pairRows pair rows vs occupancy-derived $expected")
    // every vector has exactly one home cell
    assert(ranked.where(col("r") === 1).count() == 500)
  }

  test("occupancyNlist pins per-query work FLAT across a 10x corpus (r8 serve policy)") {
    assert(Ivf.occupancyNlist(0) == 16)
    assert(Ivf.occupancyNlist(800) == 16)     // floor
    assert(Ivf.occupancyNlist(2000) == 40)
    assert(Ivf.occupancyNlist(20000) == 400)
    assert(Ivf.occupancyNlist(1L << 40) == 65536) // ceiling
    // the llm_ivf_serve claim, measured on the synthetic corpus: with
    // nlist = n/50 the per-query candidate volume is occupancy-bounded
    // (~nprobe·50) and does NOT grow with the corpus
    val small = meanCandidates(
      Ivf.coarseRanked(corpus(2000), Ivf.occupancyNlist(2000)))
    val big = meanCandidates(
      Ivf.coarseRanked(corpus(20000), Ivf.occupancyNlist(20000)))
    assert(big / small < 1.5,
      f"flat-policy growth ${big / small}%.2fx at 10x corpus - expected ~1.0x")
    assert(big < 120, f"per-query candidates $big%.0f - occupancy cap not holding")
  }

  test("two-level quantizer: scan width pruned, occupancy balanced, home cells mostly agree") {
    val n = 5000L
    val nlist = Ivf.occupancyNlist(n) // 100
    val sprobe = 4
    val nsuper = Ivf.superNlist(nlist, sprobe)
    assert(nsuper == 20, s"superNlist(100,4) = $nsuper")
    assert(Ivf.superNlist(1, 1) == 4 && Ivf.superNlist(65536, 4) == 256) // clamps
    val v = corpus(n).localCheckpoint(true)
    val flat = Ivf.coarseRanked(v, nlist)
    val two = Ivf.coarseRankedTwoLevel(v, nlist, sprobe)
    // every vector got a home cell (no empty-probe dropouts on this corpus)
    val homes2 = two.where(col("r") === 1).select("vec_id", "cell")
    assert(homes2.count() == n)
    // the level-2 scan is genuinely pruned: each vector ranked well under
    // nlist centroids (~sprobe·nlist/nsuper = 20 expected)
    val scanned = two.groupBy("vec_id").count().agg(max("count")).head().getLong(0)
    assert(scanned < nlist / 2, s"scan width $scanned of $nlist — prune not biting")
    // home-cell occupancy stays balanced (the serving-flatness precondition)
    val occ = homes2.groupBy("cell").count().agg(max("count")).head().getLong(0)
    assert(occ < 4 * (n / nlist), s"max occupancy $occ vs target ${n / nlist}")
    // pruned assignment is a good approximation of the flat argmax: the
    // probe measured 76% on the near-orthogonal worst case — pin a floor
    val agree = flat.where(col("r") === 1).select(col("vec_id"), col("cell").as("c1"))
      .join(homes2.withColumnRenamed("cell", "c2"), "vec_id")
      .where(col("c1") === col("c2")).count()
    assert(agree.toDouble / n > 0.5, s"two-level agreement ${agree.toDouble / n} < 0.5")
  }

  test("auto nlist keeps per-query work ~sqrt(n); fixed nlist grows linearly") {
    val n1 = 2000L
    val n2 = 20000L // 10× corpus
    val fixedSmall = meanCandidates(Ivf.coarseRanked(corpus(n1), 16))
    val fixedBig = meanCandidates(Ivf.coarseRanked(corpus(n2), 16))
    val autoSmall = meanCandidates(Ivf.coarseRankedAuto(corpus(n1)))
    val autoBig = meanCandidates(Ivf.coarseRankedAuto(corpus(n2)))

    val fixedGrowth = fixedBig / fixedSmall
    val autoGrowth = autoBig / autoSmall
    // fixed nlist: occupancy ∝ n, so candidates grow ~10× at a 10× corpus
    assert(fixedGrowth > 6.0, f"fixed-nlist growth $fixedGrowth%.1f× — expected ~10×")
    // auto nlist: occupancy ∝ √n, so ~√10 ≈ 3.2× — allow skew headroom
    assert(autoGrowth < 5.0, f"auto-nlist growth $autoGrowth%.1f× — expected ~3.2×")
    // and the absolute per-query work at 10× is far below the fixed route's
    assert(autoBig < fixedBig / 2,
      f"auto $autoBig%.0f candidates/query vs fixed $fixedBig%.0f — sizing rule not biting")
  }

  test("Ivf.lloyd matches a driver-side recompute and never worsens the k-means objective") {
    val v = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def md5mod(id: Long, k: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.substring(0, 4), 16) % k).toInt
    }
    val k = 8
    def centroids(asg: Map[Long, Int]): Map[Int, Array[Double]] =
      v.groupBy(x => asg(x._1)).map { case (c, vs) =>
        c -> Array.tabulate(vs.head._2.length) { i =>
          // the sorted-fold mean recipe: per-dim values summed in
          // ascending order, floor-1e-6 quantized
          val xs = vs.map(_._2(i).toDouble).sorted
          var acc = 0.0; xs.foreach(acc += _)
          math.floor(acc / xs.length * 1e6) / 1e6
        }
      }
    def dot(a: Array[Float], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }; acc
    }
    def norm(a: Array[Float]): Double =
      math.sqrt { var acc = 0.0; a.foreach(x => acc += x.toDouble * x.toDouble); acc }
    def assign(cent: Map[Int, Array[Double]]): Map[Long, Int] =
      v.map { case (id, e) =>
        val n = norm(e)
        id -> cent.toSeq.map { case (c, ct) =>
          val cn = math.sqrt { var a = 0.0; ct.foreach(x => a += x * x); a }
          (dot(e, ct) / (n * cn), c)
        }.minBy { case (s, c) => (-s, c) }._2
      }.toMap
    var asg = v.map(x => x._1 -> md5mod(x._1, k)).toMap
    val seedObj = {
      val c = centroids(asg)
      v.map { case (id, e) => dot(e, c(asg(id))) / (norm(e) * math.sqrt {
        var a = 0.0; c(asg(id)).foreach(x => a += x * x); a }) }.sum
    }
    (1 to 3).foreach(_ => asg = assign(centroids(asg)))
    val cent = centroids(asg)
    val occ = asg.values.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    val expect = cent.toSeq.flatMap { case (c, ct) =>
      ct.zipWithIndex.map { case (x, i) => (c.toLong, occ(c), i, x) }
    }.sortBy(t => (t._1, t._3))
    val got = SparkEntry.queries("llm_kmeans_lloyd")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(got == expect)
    assert(occ.values.sum == v.length.toLong)
    // refinement must not worsen the mean assigned-cosine objective
    val finalObj = v.map { case (id, e) =>
      dot(e, cent(asg(id))) / (norm(e) * math.sqrt {
        var a = 0.0; cent(asg(id)).foreach(x => a += x * x); a }) }.sum
    assert(finalObj >= seedObj - 1e-9,
      f"Lloyd worsened the objective: $seedObj%.4f -> $finalObj%.4f")
  }

  test("llm_ivf_centroids build product: 16 cells x dim rows, occupancy sums to n (r11 re-shape)") {
    val rows = SparkEntry.queries("llm_ivf_centroids")(spark, sf0001).collect()
    val dim = Tables.embeddings(spark, sf0001).select(size(col("embedding")))
      .head().getInt(0)
    val n = Tables.embeddings(spark, sf0001).count()
    assert(rows.length == 16 * dim, s"expected ${16 * dim} (cell,dim) rows, got ${rows.length}")
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == (0L until 16L))
    // occupancy is cell-grain (repeated per dim) and partitions the corpus
    val occ = rows.map(r => r.getLong(0) -> r.getLong(3)).distinct
    assert(occ.length == 16, "occupancy must be constant within a cell")
    assert(occ.map(_._2).sum == n, "home-cell occupancies must partition the corpus")
    // (exact 1e-6 floor quantization of the centroid values is proven by
    // the DuckDB hash match, not re-asserted here: floor(c*1e6)/1e6 is
    // not an IEEE fixed point for every representable c)
  }
}
