package graft.queries

import graft.ops.{Checkpoints, Iterate}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact token-set Jaccard near-dup detection via dictionary-encoded
  * bitmasks, and the full LSH dedup pipeline (sub-quadratic candidate
  * generation + exact verification).
  *
  * Bitmask representation: global token dictionary (one tiny distinct +
  * window) → each doc's token ids OR-ed into bitmask words → pairwise
  * intersection by `bit_count` — pure codegen'd long arithmetic, no
  * token-level shuffle, no per-pair array-of-strings materialization.
  *
  * Two physical paths chosen by measured vocabulary size:
  *  - V ≤ 64: a single long mask; `bit_count(a & b)` directly.
  *  - V > 64: ceil(V/64) mask words as a fixed-length array; intersection
  *    is the sum of per-word bit_counts via a `zip_with` over the word
  *    arrays (word count is small, so the HOF overhead stays bounded).
  */
object Dedup {

  /** Distinct non-empty whitespace tokens: (doc_id, lang, token). Built
    * once per pipeline and shared by every stage. */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(array_remove(split(col("text"), " "), lit("")))).as("token"))

  /** MinHash (8 seeded-md5 hashes, lexicographic min) + LSH banding
    * (2 bands × 4 rows): one (doc_id, band_i, band_v) row per band.
    * Shared by `lshVerified` and the `llm_dedup_minhash` key so the
    * banding scheme cannot drift between them. */
  private[queries] def bandKeys(tok: DataFrame): DataFrame = {
    // r12: the 8 seeded hashes come from one codegen mh8_md5 call (one
    // thread-local digest, no per-seed concat/hex-string churn) instead of
    // 8 builtin md5(concat(...)) chains — identical hex strings (HashOps
    // doc + DigestSpec), ~8× fewer digest allocations on the dedup
    // family's dominant per-token stage.
    val mhCols = (0 until 8).map(i =>
      min(element_at(col("__mh8"), i + 1)).as(s"mh$i"))
    val mh = tok.withColumn("__mh8", call_function("mh8_md5", col("token")))
      .groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
    mh.select(col("doc_id"), posexplode(array(
      (0 until 2).map(j => md5(concat(
        col(s"mh${4 * j}"), col(s"mh${4 * j + 1}"),
        col(s"mh${4 * j + 2}"), col(s"mh${4 * j + 3}")))): _*)))
      .toDF("doc_id", "band_i", "band_v")
  }

  /** Oracle-side tok CTE: distinct non-empty whitespace tokens per doc —
    * the SQL twin of [[tokens]] (shared by the Llm oracle strings and the
    * streaming dedup key's oracle). */
  private[graft] val tokCte: String =
    """tok AS (
      |  SELECT doc_id, lang, unnest(list_distinct(list_filter(
      |    string_split(text, ' '), t -> len(t) > 0))) AS token
      |  FROM documents
      |)""".stripMargin

  /** The matching oracle-side CTEs for [[bandKeys]] (requires a `tok` CTE
    * with doc_id, token). */
  private[graft] val bandsCte: String =
    """mh AS (
      |  SELECT doc_id,
      |         min(md5('0:' || token)) AS mh0, min(md5('1:' || token)) AS mh1,
      |         min(md5('2:' || token)) AS mh2, min(md5('3:' || token)) AS mh3,
      |         min(md5('4:' || token)) AS mh4, min(md5('5:' || token)) AS mh5,
      |         min(md5('6:' || token)) AS mh6, min(md5('7:' || token)) AS mh7
      |  FROM tok GROUP BY doc_id
      |),
      |bands AS (
      |  SELECT doc_id, 0 AS band_i, md5(mh0 || mh1 || mh2 || mh3) AS band_v FROM mh
      |  UNION ALL SELECT doc_id, 1, md5(mh4 || mh5 || mh6 || mh7) FROM mh
      |)""".stripMargin

  /** One-Permutation Hashing (Li, Owen, Zhang 2012) with rotation
    * densification (Shrivastava & Li 2014): hash each token ONCE (60-bit
    * md5 prefix), split the hash space into 8 bins (h mod 8), keep the
    * per-bin min — a full 8-slot MinHash signature from ONE hash pass
    * instead of 8 (the production cost win: at 100 TB the k-hash scan is
    * the dominant dedup bill, and OPH divides it by k). Empty bins are
    * densified by circular right-borrow with a per-step offset
    * (slot j ← min over k of slot (j+k) mod 8 present, + k·C), so equal
    * token sets still produce equal signatures and distinct borrow
    * distances cannot alias (C = 2⁶⁰ > any 60-bit hash value, so hv + k·C
    * decomposes uniquely into (hv, k); max value 7·2⁶⁰ + 2⁶⁰−1 =
    * Long.MaxValue — overflow-safe). Returns (doc_id, t0..t7). */
  private[graft] val OphC = 1L << 60
  private[graft] def ophSlots(tok: DataFrame): DataFrame = {
    // r12: codegen md5_bits replaces the conv(substring(md5)) chain —
    // identical value (HashOps doc), no hex-string/parse churn per token.
    val hv = call_function("md5_bits", col("token"), lit(1), lit(15))
    val binned = tok.select(col("doc_id"), hv.as("hv"))
      .withColumn("bin", col("hv") % 8)
    val mins = (0 until 8).map(j => min(when(col("bin") === j, col("hv"))).as(s"s$j"))
    val s = binned.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    (0 until 8).foldLeft(s) { (acc, j) =>
      acc.withColumn(s"t$j", coalesce((0 until 8).map(k =>
        col(s"s${(j + k) % 8}") + lit(k.toLong * OphC)): _*))
    }.select(col("doc_id") +: (0 until 8).map(j => col(s"t$j")): _*)
  }

  /** Oracle-side CTEs for [[ophSlots]] + the same 2×4 banding (requires a
    * `tok` CTE with doc_id, token). */
  private[graft] val ophBandsCte: String = {
    val mins = (0 until 8).map(j =>
      s"min(CASE WHEN hv % 8 = $j THEN hv END) AS s$j").mkString(",\n      |         ")
    val slots = (0 until 8).map { j =>
      val alts = (0 until 8).map(k =>
        if (k == 0) s"s${j % 8}" else s"s${(j + k) % 8} + ${k.toLong * OphC}")
      s"COALESCE(${alts.mkString(", ")}) AS t$j"
    }.mkString(",\n      |         ")
    def band(js: Range) =
      js.map(j => s"CAST(t$j AS VARCHAR)").mkString(" || ':' || ")
    s"""h AS (
      |  SELECT doc_id, CAST(concat('0x', substring(md5(token), 1, 15)) AS BIGINT) AS hv
      |  FROM tok
      |),
      |sl0 AS (
      |  SELECT doc_id,
      |         $mins
      |  FROM h GROUP BY doc_id
      |),
      |sl AS (
      |  SELECT doc_id,
      |         $slots
      |  FROM sl0
      |),
      |obands AS (
      |  SELECT doc_id, 0 AS band_i, md5(${band(0 until 4)}) AS band_v FROM sl
      |  UNION ALL SELECT doc_id, 1, md5(${band(4 until 8)}) FROM sl
      |)""".stripMargin
  }

  /** Dense token-id assignment for the mask dictionary. Two routes with
    * identical output (a bijection token → 0..V-1 in lexicographic order,
    * pinned equal by DedupSpec):
    *  - window `row_number` over the distinct tokens — one single-partition
    *    sort, fine to ~10 M vocabulary;
    *  - RDD `sortBy(token).zipWithIndex` — distributed sort, per-partition
    *    offsets from partition sizes, no single-partition stage; the route
    *    for web-scale vocabularies (the one genuine RDD drop-down in the
    *    library, used exactly where a global dense rank can't be a window).
    */
  private[graft] def assignTokenIds(distinctTokens: DataFrame, viaRdd: Boolean): DataFrame = {
    // tid is LongType on both routes: the RDD route exists precisely for
    // dictionaries past the window's comfort zone, where an Int would
    // silently wrap
    if (!viaRdd)
      distinctTokens.withColumn("tid",
        (row_number().over(Window.orderBy("token")) - 1).cast("long"))
    else {
      val s = distinctTokens.sparkSession
      // Sort by UTF-8 bytes (unsigned), NOT String's natural order: Java
      // compares UTF-16 code units, so supplementary characters (emoji —
      // common in the web-scale corpora this route exists for) order
      // differently than Spark's UTF8String binary order the window route
      // uses. Bytewise-unsigned UTF-8 order equals code-point order, which
      // is what ORDER BY on a string column gives — keeping the two routes'
      // bijections identical beyond the BMP.
      implicit val utf8Ord: Ordering[Array[Byte]] = new Ordering[Array[Byte]] {
        def compare(a: Array[Byte], b: Array[Byte]): Int = {
          val n = math.min(a.length, b.length)
          var i = 0
          while (i < n) {
            val c = (a(i) & 0xff) - (b(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          a.length - b.length
        }
      }
      val rdd = distinctTokens.select("token").rdd.map(_.getString(0))
        .sortBy(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).zipWithIndex()
        .map { case (t, i) => org.apache.spark.sql.Row(t, i) }
      s.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tid", org.apache.spark.sql.types.LongType))))
    }
  }

  /** Dictionaries stay window-assigned and broadcast below this size;
    * above it id assignment goes distributed and the dictionary join
    * becomes a shuffle join. */
  private val LargeVocab = 10000000L

  /** Per-doc token bitmask(s) plus the matching intersection and
    * per-side cardinality SQL expressions (over columns named
    * `a_mask`/`b_mask`); physical representation chosen from the measured
    * dictionary size (see object doc). */
  private[queries] def tokenMasks(tok: DataFrame): (DataFrame, String, String => String) = {
    val distinctTok = tok.select("token").distinct()
    val v = distinctTok.count() // dictionary cardinality gate (tiny scan)
    val vocab = assignTokenIds(distinctTok, viaRdd = v > LargeVocab)
    // a >10M-token dictionary must not be broadcast either
    def dict(df: DataFrame): DataFrame = if (v > LargeVocab) df else broadcast(df)

    if (v <= 64) {
      val m = tok.join(dict(vocab), "token")
        .groupBy("doc_id", "lang")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(tid AS INT)))").as("mask"))
      (m, "bit_count(a_mask & b_mask)",
        (side: String) => s"bit_count(${side}_mask)")
    } else {
      val words = ((v - 1) / 64 + 1).toInt
      val m = tok.join(dict(vocab), "token")
        .withColumn("widx", (col("tid") / 64).cast("int"))
        .groupBy("doc_id", "lang", "widx")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(tid % 64 AS INT)))").as("w"))
        .groupBy("doc_id", "lang")
        .agg(map_from_arrays(collect_list("widx"), collect_list("w")).as("wm"))
        // fixed-length word array (missing words = 0) so zip_with lines up
        .withColumn("mask", expr(s"transform(sequence(0, ${words - 1}), i -> coalesce(wm[i], CAST(0 AS BIGINT)))"))
        .drop("wm")
      // codegen expressions, not the HOF formulation: the intersection
      // runs once per candidate PAIR, and zip_with/aggregate evaluate
      // interpreted per mask word — graft.functions.MaskOps generates a
      // tight Long.bitCount loop instead (same rationale as VecDot)
      (m, "mask_intersect(a_mask, b_mask)",
        (side: String) => s"mask_card(${side}_mask)")
    }
  }

  /** Attach exact Jaccard to candidate pairs (a_id, b_id) and filter.
    * Plain equi-joins on the pair ids — the planner (and AQE) picks
    * broadcast vs shuffle from actual sizes, so this stage scales with
    * the candidate count, not a forced driver-side broadcast. */
  private def verifyPairs(candidates: DataFrame, masks: DataFrame,
                          interExpr: String, cardExpr: String => String,
                          threshold: Double, sorted: Boolean,
                          dedupAfterVerify: Boolean): DataFrame = {
    val a = masks.select(col("doc_id").as("ma_id"), col("mask").as("a_mask"))
    val b = masks.select(col("doc_id").as("mb_id"), col("mask").as("b_mask"))
    val verified = candidates
      .join(a, col("a_id") === col("ma_id"))
      .join(b, col("b_id") === col("mb_id"))
      .withColumn("n_inter", expr(interExpr))
      .withColumn("jacc", col("n_inter").cast("double")
        / (expr(cardExpr("a")) + expr(cardExpr("b")) - col("n_inter")))
      .where(col("jacc") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jacc"), 4).as("jacc"))
    // when the caller fed RAW band collisions (no candidate distinct),
    // dedupe the survivors here — jacc is functionally determined by the
    // pair, so distinct-on-three-columns equals distinct-on-pair
    val out = if (dedupAfterVerify) verified.distinct() else verified
    if (sorted) out.orderBy("a_id", "b_id") else out
  }

  /** Doc-count ceiling for BROADCASTING doc-sized band/mask tables in the
    * LSH routes (a build side under this stays well inside broadcast
    * budget; above it the shuffle join is the correct plan). Also the
    * mask-scope gate of the incremental route. It is a PLAN knob only —
    * since r8 no function switches its ANSWER on it (the old
    * jaccardBitmask degrade-to-lshVerified was removed after the 100×
    * probe caught the silent semantics swap). */
  private[graft] val BroadcastDocs = 200000L

  /** EXACT same-language Jaccard ≥ `threshold` WITHOUT the all-pairs scan
    * (r8, r7 VERDICT #4 resolved by upgrade rather than demo-declaration):
    * prefix-filtered similarity join, the AllPairs/PPJoin family (Bayardo
    * et al., WWW 2007; Xiao et al., WWW 2008 Lemma 1).
    *
    * Order every token by global rarity (document frequency asc, token
    * asc — a TOTAL order, identical for every doc). A doc with n distinct
    * tokens indexes only its PREFIX: the first n − ⌈t·n⌉ + 1 tokens in
    * that order. Lemma: J ≥ t ⇒ |a∩b| ≥ t·|a∪b| ≥ ⌈t·n_x⌉ for BOTH
    * sides, and the RAREST shared token w has ≥ |a∩b| − 1 shared tokens
    * after it on each side, so w's position in x is ≤ n_x − ⌈t·n_x⌉ + 1:
    * w lies inside both prefixes. The prefix equi-join therefore yields
    * a candidate SUPERSET and the bitmask verify keeps exactly the true
    * pairs: same result as brute force AT EVERY SCALE, no recall trade.
    *
    * Why it scales: candidates come from collisions on each doc's RAREST
    * (1−t) fraction of tokens, so stop-word blocks never pair (they sit
    * at the frequent end, past every prefix) and block sizes track how
    * often genuinely rare tokens co-occur — which is pair-volume-shaped,
    * not corpus². The r7 plan (lang-blocked broadcast all-pairs) ground
    * through n²/|langs| mask intersections and grew 17.2× at the 10×
    * probe; this path re-verified hash-identical at both oracle gates.
    * Cost added: one DF aggregation and one doc-partitioned window —
    * both linear, both map-side-combinable. */
  def jaccardBitmask(s: org.apache.spark.sql.SparkSession, docs: DataFrame,
                     threshold: Double,
                     presentationSort: Boolean = true): DataFrame = {
    // NO size gate (r8): until this round the function degraded to
    // lshVerified past BroadcastDocs — a silent SEMANTICS swap (content-
    // driven banding, lang blocking lost, recall on the S-curve) that the
    // r8 100× probe caught red-handed: at 500 k docs the "near" key
    // returned lshVerified's pair set (453.7 M rows, cross-lang pairs
    // included) instead of the 229 M exact lang-blocked truth. The prefix
    // path needs no such escape hatch — its candidate volume is
    // collision-structured at any corpus size — and an engine must not
    // change an operator's ANSWER because the input grew. Callers who
    // want banded-recall dedup call lshVerified explicitly.
    //
    // r13 note: STAGING the token table here (localCheckpoint before the
    // four consumers — mask dictionary, mask build, dfreq, prefix) was
    // measured SLOWER at sf0.1 (llm_dedup_near 9.4 → 10.0 s warm,
    // llm_lsh_recall 10.7 → 12.9 s): the materialization plus
    // checkpoint-read serialization costs more than the repeated
    // explode-from-parquet passes, which pipeline with their consumers.
    // Left lazy deliberately.
    //
    // presentationSort = false lets internal consumers whose downstream is
    // an aggregation (llm_lsh_recall buckets the pairs) skip the final
    // order-by. (Catalyst's EliminateSorts already removes the interior
    // sort under an aggregation, so the switch is currently plan-neutral
    // there — it makes the intent explicit and protects consumers whose
    // shape stops qualifying for the rule.)
    val tok = tokens(docs)
    val (masks, interExpr, cardExpr) = tokenMasks(tok)
    val dfreq = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id")
    val prefix = tok.join(dfreq, "token")
      .withColumn("rn", row_number().over(wDoc.orderBy(col("df"), col("token"))))
      .withColumn("ntok", count(lit(1)).over(wDoc))
      // n − ⌈t·n⌉ + 1, with the ceil taken on t·n − 1e-9: the naive
      // ⌊(1−t)·n⌋ + 1 form under-counts by one whenever (1−t)·n is an
      // exact integer but 1−t is not exactly representable (t = 0.9,
      // n = 10: IEEE 1.0−0.9 = 0.09999…98 ⇒ ⌊0.99…98⌋+1 = 1, lemma
      // needs 2 — a SILENT candidate miss; r8 review catch). The 1e-9
      // shift can only cross an integer boundary when t·n sits within
      // 1e-9 of it — i.e. exactly when the intended value IS that
      // integer (double noise is ~1e-15·n) — so the bound is never
      // under the lemma's and at worst one token generous (still a
      // superset; verify keeps exactness). t = 0.5 (the shipped key)
      // produces bit-identical prefixes under both forms.
      .where(col("rn") <=
        col("ntok") - ceil(lit(threshold) * col("ntok") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("lang"), col("token"), col("rn"), col("ntok"))
      // the self-join references this subtree twice; stage it once
      // (explode → dfreq join → window is the expensive prefix build)
      .transform(Checkpoints.stage)
    val a = prefix.select(col("doc_id").as("a_id"), col("lang"), col("token"),
      col("rn").as("a_rn"), col("ntok").as("a_n"))
    val b = prefix.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
      col("token").as("b_token"), col("rn").as("b_rn"), col("ntok").as("b_n"))
    // Two more exactness-preserving PPJoin prunes evaluated INSIDE the
    // token hash join (they cut the matched-row stream ~2× on templated
    // corpora before the distinct's shuffle ever sees it):
    //  - length filter: J ≥ t ⇒ min(n_a,n_b) ≥ t·max(n_a,n_b);
    //  - positional filter: the pair's first common token w (position
    //    p_x per side) bounds the overlap by 1 + min(n_a−p_a, n_b−p_b),
    //    which must still reach α = t/(1+t)·(n_a+n_b); a true pair's
    //    w-row always survives, so the pair set stays a superset.
    val alpha = lit(threshold / (1.0 + threshold)) * (col("a_n") + col("b_n"))
    val cand = a.join(b, col("token") === col("b_token")
        && col("lang") === col("b_lang") && col("a_id") < col("b_id")
        && col("b_n") >= lit(threshold) * col("a_n")
        && col("a_n") >= lit(threshold) * col("b_n")
        && (lit(1) + least(col("a_n") - col("a_rn"), col("b_n") - col("b_rn"))) >= alpha)
      // candidate dedup on the id pair only (the fuzzy-join discipline:
      // 16-byte shuffle rows), masks join back in the verify
      .select("a_id", "b_id").distinct()
    verifyPairs(cand, masks, interExpr, cardExpr, threshold,
      sorted = presentationSort, dedupAfterVerify = false)
  }

  /** Connected components over near-dup pairs: collapse pairwise matches
    * into clusters and elect the minimum doc id as each cluster's
    * canonical representative — the step that turns "similar pairs" into
    * "keep one copy". Returns (id, cluster_id = component minimum).
    *
    * Min-label propagation with pointer jumping (path compression): each
    * round every node adopts the smallest label among itself and its
    * neighbors, then chases pointers — every label is replaced by its own
    * label's label — halving pointer-tree depth per round. Convergence is
    * O(log diameter) instead of plain propagation's O(diameter): a
    * 1 000-node chain needs ~15 rounds here versus 1 000 (which the
    * 50-round safety cap would cut off mid-run). The published family is
    * the MapReduce star-contraction / pointer-doubling line (Kiveris et
    * al., SOCC'14); this is the pointer-doubling variant over the label
    * forest. Rounds run through [[graft.ops.Iterate.untilFixpoint]]: each
    * round's label table is staged, the superseded one freed at once.
    */
  def clustersPointerJump(pairs: DataFrame): DataFrame = {
    // Mirror the pair list into edges inside ONE staged projection: each
    // pair row explodes into both directions, so the (typically expensive
    // — LSH + verification) pair plan runs once, and only the edge table
    // is staged (a union of the pairs with their mirror would run it twice)
    val edges = pairs
      .select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select("e.src", "e.dst")
      .transform(Checkpoints.stage)
    val nodes = edges.select(col("src").as("id")).distinct()
    val (labels0, nNodes) = Checkpoints.stageCounted(nodes.withColumn("cluster_id", col("id")))
    // Size gate, measured once: below ~5M nodes the label table is a few
    // tens of MB — broadcast it and the per-round edge join plus the label
    // update run map-side (one shuffle per round instead of three). Above
    // the gate (100 TB corpora have billions of nodes) broadcasting is
    // impossible, so fall back to plain shuffle joins. The planner's own
    // estimate for the staged label table comes through a distinct over
    // the edges and can be far off, so the gate uses the measured count.
    val maybeBc = Checkpoints.broadcastGate(nNodes)
    // each round's stage observes max(chg); convergence reads it from
    // the staging job that already ran instead of scanning the stage again
    var changed: Observation = null
    val labels = Iterate.untilFixpoint(labels0, 50) { (cur, _) =>
      val labels = cur.drop("chg")
      val neighborMin = edges
        .join(maybeBc(labels.withColumnRenamed("id", "dst2")), col("dst") === col("dst2"))
        .groupBy(col("src").as("id2")).agg(min("cluster_id").as("nmin"))
      val prop = labels.join(maybeBc(neighborMin), col("id") === col("id2"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"),
          (coalesce(col("nmin"), col("cluster_id")) < col("cluster_id")).as("chg"))
      // pointer jump: cluster_id := label(cluster_id). Labels are node ids,
      // so the parent lookup is a self-join on the label table; the left
      // join + coalesce covers a label whose node sits in another partition
      // of the forest mid-flight.
      val parents = prop.select(col("id").as("p_id"), col("cluster_id").as("p_cl"))
      changed = Observation()
      prop.join(maybeBc(parents), col("cluster_id") === col("p_id"), "left")
        .select(col("id"),
          coalesce(col("p_cl"), col("cluster_id")).as("cluster_id"),
          (col("chg") || coalesce(col("p_cl"), col("cluster_id")) < col("cluster_id")).as("chg"))
        .observe(changed, max(col("chg")).as("chg"))
    } { _ =>
      // max over an empty table is null: nothing left to change
      changed.get("chg") != true
    }
    Checkpoints.free(labels0)
    Checkpoints.free(edges)
    // The final labels checkpoint stays persisted — the caller's plan
    // reads it; its (single, node-sized) block set is reclaimed by the
    // context cleaner once the result is consumed.
    labels.drop("chg")
  }

  /** Incremental (batch-vs-corpus) LSH dedup — the daily-ingest shape: a
    * new batch of documents is checked against the existing corpus AND
    * against itself, without ever re-pairing the corpus with the corpus.
    *
    * At production scale the corpus band table is a STORED artifact (the
    * inverted band index the previous run wrote, partitioned by band_v);
    * the per-batch job computes bands only for the batch and equi-joins
    * them against the stored index, so per-ingest cost tracks
    * batch_bands × collision rate — never corpus size, and never
    * corpus × corpus. This routine recomputes the corpus bands only
    * because the fixture has no stored index; the join shape is the
    * stored-index shape (batch side is the small stream side).
    *
    * Verification masks use a dictionary over corpus ∪ batch: exact
    * Jaccard needs one id space. The production variant keeps the mask
    * table as a second stored per-doc artifact under a versioned
    * dictionary (or fixed-width feature-hashed masks, trading exactness
    * for a frozen dictionary); either way the batch only appends.
    *
    * Returns (a_id = new doc, b_id = prior doc or earlier peer, jacc).
    */
  def lshVerifiedIncremental(s: org.apache.spark.sql.SparkSession,
                             corpus: DataFrame, batch: DataFrame,
                             threshold: Double): DataFrame =
    lshVerifiedIncrementalWithBands(s, corpus, batch, threshold, BroadcastDocs)._1

  /** The stored band index (doc_id, band_i, band_v) for `docs` — the
    * artifact an ingest pipeline writes once per corpus version and every
    * incremental batch probes. Written as plain parquet: the batch side of
    * the probe is broadcast-sized, so the index is STREAMED through a
    * broadcast hash join and needs no particular layout; at warehouse
    * scale `bucketBy("band_v")` (the `join_bucketed` layout) additionally
    * makes index-index maintenance joins exchange-free. */
  def writeBandIndex(docs: DataFrame, dir: String): Unit =
    bandKeys(tokens(docs)).write.mode("overwrite").parquet(dir)

  /** Incremental index maintenance: append one ingest batch's band rows
    * to the stored index — the per-batch write half of the
    * [[lshVerifiedIncremental]] stored-index contract (the batch was just
    * probed against the index; its own bands join the index so the NEXT
    * batch sees it as corpus). Append-only: band rows are immutable facts
    * about a doc version, and the parquet append touches nothing already
    * written. */
  def appendBandIndex(docs: DataFrame, dir: String): Unit =
    bandKeys(tokens(docs)).write.mode("append").parquet(dir)

  /** Append PRE-COMPUTED band rows (e.g. the staged table
    * [[lshVerifiedIncrementalWithBands]] returns) — the streaming loop's
    * route, skipping the band recomputation the doc overload pays. */
  private[graft] def appendBands(bands: DataFrame, dir: String): Unit =
    bands.write.mode("append").parquet(dir)

  /** Incremental dedup against a PRE-BUILT corpus band index (see
    * [[writeBandIndex]]): identical output to the self-computing overload
    * (DedupSpec pins it), but the corpus text is touched only for mask
    * verification of candidate partners — band construction cost for the
    * corpus is paid once at index-write time, not per batch. */
  def lshVerifiedIncremental(s: org.apache.spark.sql.SparkSession,
                             corpus: DataFrame, corpusBands: DataFrame,
                             batch: DataFrame, threshold: Double): DataFrame =
    lshVerifiedIncrementalWithBands(s, corpus, batch, threshold, BroadcastDocs,
      Some(corpusBands))._1

  /** The incremental pairs plus the batch's own band table — for the
    * streaming ingest loop, which must append exactly those bands to the
    * stored index after probing: returning them saves a second
    * tokens→minhash→banding pass per micro-batch (r8, r7 VERDICT #5). The
    * batch tables are staged iff `storedBands` is given; the caller frees
    * them only after BOTH the pair write and the index append ran. */
  private[graft] def lshVerifiedIncrementalWithBands(
      s: org.apache.spark.sql.SparkSession, corpus: DataFrame,
      batch: DataFrame, threshold: Double, gate: Long,
      storedBands: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val nCorpus = corpus.count()
    // Same staging trade as [[lshVerified]]'s staged route: with a stored
    // index (the per-batch streaming probe) stage the batch bands (two join
    // branches) and masks (two verify sides), doc-sized blocks, and re-gate
    // the broadcast hints their stats-less LogicalRDDs lose; without one
    // (the batch registry key) the composition stays lazy.
    val staged = storedBands.isDefined
    val smallCorpus = staged && nCorpus < BroadcastDocs
    def maybeBc(df: DataFrame): DataFrame = if (smallCorpus) broadcast(df) else df
    val corpusBands = storedBands.getOrElse(bandKeys(tokens(corpus)))
    val batchBands0 = bandKeys(tokens(batch))
    val batchBands = if (staged) Checkpoints.stage(batchBands0) else batchBands0
    val l = batchBands.select(col("doc_id").as("a_id"), col("band_i"), col("band_v"))
    val rc = corpusBands.select(col("doc_id").as("b_id"),
      col("band_i").as("bi2"), col("band_v").as("bv2"))
    val rb = batchBands.select(col("doc_id").as("b_id"),
      col("band_i").as("bi2"), col("band_v").as("bv2"))
    val onBand = col("band_i") === col("bi2") && col("band_v") === col("bv2")
    // vs corpus: every collision; vs peers: a < b so each in-batch pair
    // surfaces once, exactly like the self-join path
    val rawCand = l.join(rc, onBand).select("a_id", "b_id")
      .unionByName(l.join(rb, onBand && col("a_id") < col("b_id")).select("a_id", "b_id"))
      .distinct()
    // Mask-scope gate (measured, same constant as the pair-join gate):
    // Jaccard between two docs depends on their two token sets alone, so
    // the verification dictionary may be scoped to docs that appear in a
    // candidate pair without changing a single jacc value (DedupSpec pins
    // both routes equal). Below the gate a corpus-wide dictionary is one
    // cheap scan and the candidate plan stays lazy (measured at sf0.1:
    // scoping cost 6.2 s vs 2.3 s — checkpoint + double explode buy
    // nothing when candidates touch most of a small corpus). Above the
    // gate the corpus-wide dictionary pass is exactly the corpus-sized
    // cost the stored band index exists to avoid: checkpoint the (small)
    // pair list once, then every downstream stage is ∝ batch + matches.
    val scoped = nCorpus > gate
    val candidates = if (scoped) Checkpoints.stage(rawCand) else rawCand
    val base = corpus.unionByName(batch)
    val docsForMasks = if (scoped) {
      val candDocs = candidates.select(col("a_id").as("doc_id"))
        .unionByName(candidates.select(col("b_id").as("doc_id"))).distinct()
      base.join(candDocs, Seq("doc_id"), "left_semi")
    } else base
    val (masks0, interExpr, cardExpr) = tokenMasks(tokens(docsForMasks))
    val masks = if (staged) maybeBc(Checkpoints.stage(masks0)) else masks0
    (verifyPairs(candidates, masks, interExpr, cardExpr, threshold,
      sorted = true, dedupAfterVerify = false), batchBands)
  }

  /** The production dedup pipeline: MinHash+LSH banding generates
    * candidate pairs sub-quadratically (equi-join on band keys, no
    * forced broadcasts — every join here lets the planner choose), then
    * each candidate is verified with EXACT Jaccard via the bitmasks.
    *
    * Semantics: deliberately NOT language-blocked, unlike
    * [[jaccardBitmask]] — LSH dedup is content-driven, so near-identical
    * documents in different declared languages ARE reported.
    *
    * Recall follows the banding S-curve P(candidate) = 1-(1-J^4)^2:
    * ≈50% at J≈0.74, ≈75% at J≈0.84, >99% at J≥0.95 — tuned for
    * near-identical dup detection. Precision is exact by construction.
    *
    * The band/mask tables feed self-joins (two reads each). When the
    * candidates are deduped before the verify (`threshold < 0.7`, the 0.5
    * route of `llm_dedup_lsh_verified`) both are staged through
    * `Checkpoints.stage` and the verify plan is returned LAZY over them:
    * lazily they re-execute per branch, which under honest FOREACH timing
    * cost 3× the whole query (18–23 s vs 5.6–6.9 s at sf0.1, NOTES.md
    * round 7; the earlier "recompute wins" call was a count()-timing
    * artifact). At `threshold >= 0.7` the pair plan is consumed once (the
    * clustering keys copy it into their own edge stage, as does the
    * stream's first batch) and the single lazy execution benched 5.7 s vs
    * 7.8 s staged, so nothing is staged. The pair-sized result is never
    * staged (5 M rows at sf0.1, read once; staging it gave the recompute
    * win back). The staged blocks are DOC-sized (bands 2 rows/doc, masks
    * 1): callers free them with `Checkpoints.freeAll(pairs)` or leave them
    * to the ContextCleaner — the bounded case, not the per-round leak.
    */
  def lshVerified(s: org.apache.spark.sql.SparkSession, docs: DataFrame,
                  threshold: Double, presentationSort: Boolean = true): DataFrame = {
    // Candidate-dedup placement is survivor-rate-dependent (measured at
    // sf0.1: 6.6 M raw collisions → 5.2 M distinct): at low thresholds
    // nearly every candidate passes verification (5.0 M of 5.2 M at 0.5),
    // so dedup BEFORE the verify joins — the exchange is smallest there.
    // At high thresholds survivors are sparse (0.9 M at 0.9), so let the
    // ≤2-per-pair duplicates ride the codegen'd bitmask verify and dedup
    // the survivors — the 5 M-row candidate exchange disappears. The same
    // split decides staging (see above): only the early-dedup route stages.
    val dedupLate = threshold >= 0.7
    val staged = !dedupLate
    val tok = tokens(docs)
    val bands0 = bandKeys(tok)
    val bands = if (staged) Checkpoints.stage(bands0) else bands0
    // A staged table keeps the estimated statistics of the plan it came
    // from, and estimates through the token explode and band hashing can
    // be far off, so the broadcast of the doc-sized band/mask blocks is
    // gated on a measured count — above the gate the shuffle join is the
    // correct plan anyway.
    val smallCorpus = staged && docs.count() < BroadcastDocs
    def maybeBc(df: DataFrame): DataFrame = if (smallCorpus) broadcast(df) else df
    val l = bands.select(col("doc_id").as("a_id"), col("band_i"), col("band_v"))
    val r = bands.select(col("doc_id").as("b_id"), col("band_i").as("bi2"), col("band_v").as("bv2"))
    val rawCand = l.join(maybeBc(r),
        col("band_i") === col("bi2") && col("band_v") === col("bv2")
          && col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val candidates = if (dedupLate) rawCand else rawCand.distinct()
    val (masks0, interExpr, cardExpr) = tokenMasks(tok)
    val masks = if (staged) maybeBc(Checkpoints.stage(masks0)) else masks0
    // presentationSort=false skips the final global sort — the right call
    // when the pairs feed clustering (which re-keys them immediately)
    verifyPairs(candidates, masks, interExpr, cardExpr, threshold,
      presentationSort, dedupAfterVerify = dedupLate)
  }
}
