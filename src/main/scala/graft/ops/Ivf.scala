package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF coarse quantizer as a library routine, with the `nlist` sizing rule
  * the oracle keys cannot apply.
  *
  * The oracle IVF keys (`llm_ivf_centroids`, `llm_ivf_probe`, `llm_pq_*`)
  * pin `nlist = 16` so the DuckDB oracle reproduces the exact cell layout.
  * That is a demo constraint, and NOTES' 10× scale probe shows its cost:
  * with nlist fixed, per-cell occupancy grows linearly with the corpus and
  * within-cell pair work grows with occupancy² — the probe measured
  * exactly that super-linear growth on `llm_ivf_probe`/`llm_pq_adc`.
  *
  * Production IVF sizes the index to the corpus instead: per-query work is
  * one centroid scan (`nlist` comparisons) plus `nprobe` cell scans
  * (`nprobe · n / nlist` candidates), minimized at
  * `nlist ≈ √(nprobe · n)` — the standard √n rule. At that setting both
  * terms grow as √n, so a 10× corpus costs ~3.2× per query, not 10×
  * (IvfSpec pins this, and pins fixed-nlist occupancy growing 10× on the
  * same data).
  *
  * Determinism recipe shared with the oracle keys (seeded md5 cells, one
  * k-means update step, per-dim sums folded in sorted order, floor-1e-6
  * quantization) so a caller can hash-compare results across engines and
  * runs; `Llm.coarseRanked` delegates here with `nlist = 16`.
  */
object Ivf {

  /** Cells the √-rule picks for a corpus of `n` vectors probed at
    * `nprobe`: `⌈√(nprobe·n)⌉` clamped to [16, 65536] — below 16 the
    * index is pointless, above 64 k the centroid scan itself needs an
    * index (a second quantizer level, out of scope here). */
  def autoNlist(n: Long, nprobe: Int = 1): Int = {
    require(n >= 0 && nprobe >= 1)
    math.min(65536L, math.max(16L,
      math.ceil(math.sqrt(nprobe.toDouble * n.toDouble)).toLong)).toInt
  }

  /** Cells the LINEAR policy picks: `max(16, n / targetOccupancy)` — cell
    * occupancy pinned at ~`targetOccupancy` regardless of corpus size, so
    * per-query serving cost (`nprobe · occupancy` candidates) is a
    * CONSTANT the operator chooses, not a function of n. This is the
    * 100 TB serving stance NOTES.md (round 7) measured: candidate volume per
    * query grew 1.05× under this policy while the corpus grew 10×
    * (fixed nlist grew 10.4×, the √-rule 3.3×). The price is a larger
    * centroid scan (nlist ∝ n) — linear, embarrassingly parallel, and at
    * nlist > ~64 k the next step is a second quantizer level over the
    * centroids themselves. */
  def occupancyNlist(n: Long, targetOccupancy: Int = 50): Int = {
    require(n >= 0 && targetOccupancy >= 1)
    math.min(65536L, math.max(16L, n / targetOccupancy)).toInt
  }

  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    call_function("vec_dot", a, b)

  /** Deterministic centroid table from an explicit assignment: `rows`
    * must carry (`cell`, `vecCol`: array<float|double>); centroid =
    * per-dim mean of each cell folded in SORTED order (order-free across
    * partition counts and engines), floor-1e-6 quantized. Returns
    * (cell, centroid, cnorm). Shared by the seeded one-step tables and
    * [[lloyd]]'s per-round recompute. */
  def centroidsOf(rows: DataFrame, vecCol: String = "embedding"): DataFrame = {
    graft.functions.Kernels.ensure(rows.sparkSession)
    rows
      .select(col("cell"), posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg(sort_array(collect_list(col("x").cast("double"))).as("xs"))
      .select(col("cell"), col("i"),
        (aggregate(col("xs"), lit(0.0), (acc, e) => acc + e) / size(col("xs"))).as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("im"))
      .select(col("cell"),
        transform(col("im"), e => floor(e.getField("m") * 1e6) / 1e6).as("centroid"))
      .withColumn("cnorm", sqrt(dot(col("centroid"), col("centroid"))))
  }

  /** The deterministic one-step seeded centroid table over `nlist` cells:
    * seed = md5(id) mod nlist, centroid table via [[centroidsOf]]. `rows`
    * must carry (`idCol`, `vecCol`); returns (cell, centroid, cnorm). */
  private def centroidTable(rows: DataFrame, nlist: Int,
      idCol: String, vecCol: String): DataFrame =
    centroidsOf(
      rows.withColumn("cell",
        pmod(conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10).cast("long"),
          lit(nlist.toLong))),
      vecCol)

  /** Seeded one-step centroids over `nlist` cells + every vector ranked
    * against every centroid by cosine. `vectors` must carry
    * (vec_id, embedding: array<float>, norm); returns
    * (vec_id, embedding, norm, cell, csim, r) with r=1 the home cell.
    * The centroid table is `nlist` rows — broadcast, so assignment stays
    * linear in corpus size at any legal `nlist` — but note the TOTAL
    * assignment work is n·nlist dot products: under [[occupancyNlist]]
    * (nlist ∝ n) the BUILD is quadratic in n. Serving stays flat; past
    * ~100 k vectors build the index with [[coarseRankedTwoLevel]], whose
    * pruned assignment costs ~2·n·√(sprobe·nlist). */
  def coarseRanked(vectors: DataFrame, nlist: Int): DataFrame = {
    require(nlist >= 1)
    graft.functions.Kernels.ensure(vectors.sparkSession)
    val seeded = vectors.withColumn("seed",
      pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10).cast("long"),
        lit(nlist.toLong)))
    val cent = centroidTable(vectors, nlist, "vec_id", "embedding")
    val assigned = seeded.crossJoin(broadcast(cent))
      .withColumn("csim", dot(col("embedding"), col("centroid")) / (col("norm") * col("cnorm")))
    val wA = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))
    assigned.withColumn("r", row_number().over(wA))
  }

  /** Supercell count for a two-level quantizer: `⌈√(sprobe·nlist)⌉`
    * clamped to [4, 256] — the width that balances the level-1 scan
    * (nsuper comparisons) against the level-2 scan
    * (sprobe·nlist/nsuper comparisons). */
  def superNlist(nlist: Int, sprobe: Int = 4): Int = {
    require(nlist >= 1 && sprobe >= 1)
    math.min(256L, math.max(4L,
      math.ceil(math.sqrt(sprobe.toDouble * nlist)).toLong)).toInt
  }

  /** TWO-LEVEL coarse quantizer — the "second quantizer level" the
    * one-level Scaladoc defers: under the linear [[occupancyNlist]]
    * policy the flat argmax costs n·nlist ∝ n² dot products at build
    * time, which is the step that breaks first at 100 TB (serving was
    * already flat). Standard IVF-on-IVF practice (FAISS's quantizer
    * trees / IMI): cluster the centroids themselves into
    * [[superNlist]] supercells (same seeded one-step mean recipe, one
    * geometric argmax level), then assign each vector by scanning only
    * the centroids of its `sprobe` nearest supercells — total work
    * n·(nsuper + sprobe·occ₂) ≈ 2·n·√(sprobe·nlist), i.e. n^1.5 under
    * nlist ∝ n instead of n² (a third level makes it n^1.33, and so on
    * toward the log-depth tree; two levels carry to ~10⁸ vectors).
    * The pruned home cell is a declared ANN approximation of the flat
    * argmax (measured 76 % agreement at sprobe=4 on the NEAR-ORTHOGONAL
    * test corpus — the no-structure worst case; clustered real
    * embeddings prune far better). Deterministic end-to-end: both
    * centroid levels use the sorted-fold floor-quantized mean, both
    * argmaxes break ties (sim DESC, id ASC) — the whole chain is
    * oracle-expressible, and `llm_ivf_two_level` hash-checks it.
    * Returns the [[coarseRanked]] schema with `r` ranking the SCANNED
    * centroids per vector. */
  def coarseRankedTwoLevel(vectors: DataFrame, nlist: Int, sprobe: Int = 4): DataFrame = {
    require(nlist >= 1 && sprobe >= 1)
    graft.functions.Kernels.ensure(vectors.sparkSession)
    val nsuper = superNlist(nlist, sprobe)
    val cent = centroidTable(vectors, nlist, "vec_id", "embedding")
      .transform(Checkpoints.stage)
    val scent = centroidTable(cent, nsuper, "cell", "centroid")
      .select(col("cell").as("scell"), col("centroid").as("scentroid"),
        col("cnorm").as("snorm"))
    // centroid -> nearest supercentroid: nlist·nsuper work, index-sized
    val cw = Window.partitionBy("cell").orderBy(col("cs").desc, col("scell").asc)
    val cAsg = cent.crossJoin(broadcast(scent))
      .withColumn("cs", dot(col("centroid"), col("scentroid")) / (col("cnorm") * col("snorm")))
      .withColumn("r", row_number().over(cw)).where(col("r") === 1)
      .select(col("cell"), col("scell"))
    // level 1: each vector ranks the nsuper supercells, keeps sprobe —
    // the exchange under the window carries only (vec_id, scell, ss)
    val vw = Window.partitionBy("vec_id").orderBy(col("ss").desc, col("scell").asc)
    val l1 = vectors.crossJoin(broadcast(scent))
      .select(col("vec_id"), col("scell"),
        (dot(col("embedding"), col("scentroid")) / (col("norm") * col("snorm"))).as("ss"))
      .withColumn("r1", row_number().over(vw)).where(col("r1") <= sprobe)
      .select(col("vec_id"), col("scell"))
    // level 2: scan only the probed supercells' centroids; slim exchange
    // under the per-vector rank, embeddings joined back at the end
    val l2w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell").asc)
    val ranked = l1.join(broadcast(cAsg), "scell")
      .join(vectors.select("vec_id", "embedding", "norm"), "vec_id")
      .join(broadcast(cent), "cell")
      .select(col("vec_id"), col("cell"),
        (dot(col("embedding"), col("centroid")) / (col("norm") * col("cnorm"))).as("csim"))
      .withColumn("r", row_number().over(l2w))
    ranked.join(vectors.select("vec_id", "embedding", "norm"), "vec_id")
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("cell"), col("csim"), col("r"))
  }

  /** Lloyd's k-means over `k` cells for `rounds` FIXED assignment
    * iterations — the multi-round refinement above [[coarseRanked]]'s
    * one-step table, and the clustering primitive under semantic-dedup /
    * data-mixing pipelines (SemDeDup clusters before pruning; IVF quality
    * improves with trained cells). FIXED rounds, no convergence test: the
    * result is a pure function of the input (same rounds, same op order ⇒
    * same doubles on any engine), so the whole chain is oracle-expressible
    * as unrolled CTE rounds. Per round: centroids from the current
    * assignment via [[centroidsOf]] (sorted-fold floor-quantized means —
    * k·dim rows, broadcast), then every vector re-assigned to its
    * max-cosine centroid (ties to the lowest cell id). Cost per round is
    * n·k dot products + one per-vector rank window — linear in n at fixed
    * k. Each round's corpus-sized assignment is staged by [[Iterate]]
    * with the predecessor freed at once (the executed plan stays one
    * stage deep per round, live blocks stay at two corpus-sized tables).
    * A cell that loses all members simply drops out of the next centroid
    * table — the standard Lloyd behavior, identical on both engines. Seed
    * assignment: md5(id) mod k (the [[coarseRanked]] recipe). Returns the final
    * assignment (vec_id, embedding, norm, cell), EXECUTED (checkpointed),
    * like the graph keys. */
  def lloyd(vectors: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    graft.functions.Kernels.ensure(vectors.sparkSession)
    val seeded = vectors
      .withColumn("cell",
        pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10).cast("long"),
          lit(k.toLong)))
      .select(col("vec_id"), col("embedding"), col("norm"), col("cell"))
      .transform(Checkpoints.stage)
    val asg = Iterate.rounds(seeded, rounds) { (asg, _) =>
      val cent = centroidsOf(asg)
      val wA = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))
      asg.drop("cell").crossJoin(broadcast(cent))
        .withColumn("csim",
          dot(col("embedding"), col("centroid")) / (col("norm") * col("cnorm")))
        .withColumn("rn", row_number().over(wA)).where(col("rn") === 1)
        .select(col("vec_id"), col("embedding"), col("norm"), col("cell"))
    }
    Checkpoints.free(seeded)
    asg
  }

  /** Auto-sized variant: counts the corpus once (the same measured-gate
    * discipline as `Knn.topKCosine`) and applies [[autoNlist]]. */
  def coarseRankedAuto(vectors: DataFrame, nprobe: Int = 1): DataFrame =
    coarseRanked(vectors, autoNlist(vectors.count(), nprobe))

  /** Per-query IVF candidate generation at `nprobe` probes: each vector's
    * candidates are the r=1 members of its `nprobe` nearest cells. Returns
    * (a_id, b_id, cell) candidate pairs (a ≠ b) — the bounded pair stream
    * the caller scores (full-precision cosine, or ADC over PQ codes).
    * Candidate volume per query ≈ nprobe·n/nlist; with [[autoNlist]] that
    * is √(nprobe·n), so doubling the corpus does not double the work. */
  def candidates(ranked: DataFrame, nprobe: Int): DataFrame = {
    val cells = ranked.where(col("r") === 1)
      .select(col("vec_id").as("b_id"), col("cell"))
    val probes = ranked.where(col("r") <= nprobe)
      .select(col("vec_id").as("a_id"), col("cell"))
    probes.join(cells, Seq("cell"))
      .where(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("cell"))
  }
}
