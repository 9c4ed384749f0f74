package graft.queries

import graft.Tables
import graft.ops.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** North-star LLM-data-pipeline operators (SURVEY.md §2 section K plus the
  * extended dedup / text-analysis / ANN surface): exact and near dedup
  * (token-Jaccard, MinHash+LSH, SimHash), brute-force + bucketed similarity
  * search, k-NN labeling, language ID, quality scoring, token counting,
  * shingle fingerprinting, and multimodal column assembly.
  *
  * Portability rule that makes these oracle-checkable: `md5()` produces the
  * identical lowercase hex string in Spark and DuckDB, and lexicographic
  * MIN over hex strings agrees in both engines — so MinHash signatures,
  * LSH band keys and fingerprints hash-match exactly.
  *
  * Scale stance (100 TB): every pairwise op is either blocked (same-lang /
  * shared-token / LSH-band / sign-bucket) so candidate generation is an
  * equi-join, or explicitly a small-table cross product (embeddings dims).
  * Nothing here relies on a driver-side collect.
  */
object Llm {
  type Q = (SparkSession, String) => DataFrame

  /** Distinct, non-empty whitespace tokens per document: (doc_id, lang, token).
    *
    * r13 (guide §4): the non-empty filter is `array_remove(split(…), "")`,
    * not the HOF `filter(split(…), t -> length(t) > 0)` — Spark's
    * higher-order functions are CodegenFallback (interpreted lambda per
    * array ELEMENT), while ArrayRemove participates in whole-stage codegen.
    * Identical output: split emits no nulls, and both forms drop exactly
    * the empty strings, preserving order. Applied at every token-scan call
    * site in the llm/dedup family (this file, Dedup.tokens, ops.SimHash,
    * ops.Winnow) — the single hottest scan expression in the bench. */
  private def tokensDistinct(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(array_remove(split(col("text"), " "), lit("")))).as("token"))

  /** Content-defined chunk-frequency table over (doc_id, text) rows — the
    * body of `llm_cdc_chunks`, factored out so CdcFuzzySpec can drive it
    * with synthetic shift fixtures (see the registry entry for the full
    * design rationale). Boundary rule: cut before position i (1-based,
    * 2 ≤ i ≤ len−7) wherever the 60-bit md5 of the 8-char window at i is
    * ≡ 0 (mod 32); chunks are the segments between cuts. */
  /** Per-occurrence CDC chunks over (doc_id, text) rows: one row per
    * (doc_id, chunk) occurrence, in no particular order. Shared core of
    * `llm_cdc_chunks` and `llm_dedup_cdc`. */
  def cdcChunks(docsRaw: DataFrame): DataFrame = {
    // r12: the per-position boundary scan runs in the codegen cdc_cuts
    // expression (one thread-local digest, byte-slice windows on ASCII
    // text, boundary test on two digest bits) instead of the interpreted
    // HOF filter whose every position paid substring + builtin md5 +
    // hex-substring + conv — identical cut positions by construction
    // (HashOps doc: value%32 depends only on hex chars 14–15; DigestSpec
    // pins the chain equality).
    val docs = docsRaw.select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val cuts = docs.select(col("doc_id"),
      explode(call_function("cdc_cuts", col("text"))).as("s"))
    val starts = docs.select(col("doc_id"), lit(1).as("s")).unionByName(cuts)
    val w = Window.partitionBy("doc_id").orderBy("s")
    starts.withColumn("nxt", lead("s", 1).over(w))
      .join(docs, "doc_id")
      .select(col("doc_id"),
        expr("substring(text, s, coalesce(nxt, len + 1) - s)").as("chunk"))
  }

  /** CDC chunk-containment pairs over (doc_id, text) rows — the body of
    * `llm_dedup_cdc`, factored out so CdcFuzzySpec can drive it with
    * synthetic shift fixtures (see the registry entry for the full design
    * rationale: min-chunk-size 16, >64-doc stop-chunk cap on pairing,
    * exact-integer 30% containment gate). */
  def cdcContainmentPairs(docsRaw: DataFrame): DataFrame = {
    // r13 (guide §5): the distinct chunk-hash table feeds FOUR lazy
    // consumers (the stop-chunk df gate, both self-join sides through
    // `keep`, and the per-doc byte totals), each of which re-executed the
    // whole cdcChunks pipeline (cut scan + window + substring + md5).
    // Stage it once — the same trade shinglePairStats makes, and for the
    // same reason: the rows are expensive to BUILD.
    val dc = cdcChunks(docsRaw)
      .select(col("doc_id"), md5(col("chunk")).as("h"),
        length(col("chunk")).as("clen"))
      .where(col("clen") >= 16).distinct()
      .transform(Checkpoints.stage)
    val keep = dc.join(
      dc.groupBy("h").agg(count(lit(1)).as("nd")).where(col("nd") <= 64).select("h"), "h")
    val bytes = dc.groupBy("doc_id").agg(sum("clen").as("bytes"))
    keep.as("a")
      .join(keep.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(sum(col("a.clen")).as("shared_bytes"))
      .join(bytes.select(col("doc_id").as("a_id"), col("bytes").as("bytes_a")), "a_id")
      .join(bytes.select(col("doc_id").as("b_id"), col("bytes").as("bytes_b")), "b_id")
      .where(col("shared_bytes") * 10 >= least(col("bytes_a"), col("bytes_b")) * 3)
      .select(col("a_id"), col("b_id"), col("shared_bytes"),
        col("bytes_a"), col("bytes_b"),
        floor(lit(1e4) * col("shared_bytes") / least(col("bytes_a"), col("bytes_b")))
          .cast("long").as("containment_units"))
      .orderBy("a_id", "b_id")
  }

  def cdcChunkTable(docsRaw: DataFrame): DataFrame =
    cdcChunks(docsRaw).groupBy(md5(col("chunk")).as("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"),
        min(length(col("chunk"))).cast("long").as("chunk_len"))
      .orderBy("chunk_hash")

  /** All tokens in order (with duplicates): (doc_id, lang, source, token). */
  private def tokensAll(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_remove(split(col("text"), " "), lit(""))).as("token"))

  /** Encode a distinct-word table through the 4 trained BPE merges
    * ([[bpeMerges]]) via the codegen'd fold-rewrite: (token, wlen = char
    * count, wbpe = symbol count after the merges). Shared by
    * `llm_bpe_encode` (per-doc compression) and `llm_tokenizer_fertility`
    * (per-lang fertility) — one encoder, two readouts. Vocabulary-sized:
    * the corpus is never re-touched here. */
  private def bpeWordEnc(s: SparkSession, d: String, words: DataFrame): DataFrame = {
    val merges = bpeMerges(s, d)
    merges.foreach { case (_, a, b, _) =>
      require(!(a + b).exists(c => c == '\'' || c == '\\'),
        "BPE merge symbol needs SQL escaping — unsupported") }
    def rw(inner: String, r: Int, a: String, b: String): String =
      s"aggregate($inner, CAST(array() AS ARRAY<STRING>), (ac$r, x$r) -> " +
        s"CASE WHEN size(ac$r) > 0 AND element_at(ac$r, -1) = '$a' AND x$r = '$b' " +
        s"THEN concat(slice(ac$r, 1, size(ac$r) - 1), array('${a + b}')) " +
        s"ELSE concat(ac$r, array(x$r)) END)"
    val chars = "transform(sequence(1, length(token)), i -> substring(token, i, 1))"
    val rewritten = merges.foldLeft(chars) { case (inner, (r, a, b, _)) =>
      rw(inner, r.toInt, a, b) }
    words.select(col("token"), length(col("token")).cast("long").as("wlen"),
      expr(s"CAST(size($rewritten) AS BIGINT)").as("wbpe"))
  }

  /** Winnowing fingerprint selection at the keys' pinned k=3, w=4 — see
    * [[graft.ops.Winnow.fingerprints]] for the algorithm and the measured
    * row-based-vs-array-lambda note. */
  private def winnowFingerprints(s: SparkSession, d: String): DataFrame =
    graft.ops.Winnow.fingerprints(Tables.documents(s, d))

  /** Double-precision dot product of two float vectors, summed in index
    * order so Spark and DuckDB produce bit-identical doubles. Backed by the
    * codegen `graft.functions.VecDot` expression (the interpreted HOF
    * formulation dominated the pairwise benchmarks). */
  private def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  private def l2norm(a: Column): Column = sqrt(call_function("vec_dot", a, a))

  /** Per-doc 16-bit SimHash signature (doc_id, lang, simhash): bit j is
    * the sign of the per-token ±1 vote from bit j of the token's md5.
    * Shared by the signature key and the hamming-candidate key. */
  private def simhashes(s: SparkSession, d: String): DataFrame = {
    // r12 (guide §2.3/§4): the 16 per-bit ±1 votes fold in ONE map-side-
    // combined aggregation (16 sum columns) instead of explode(16) → two
    // stacked groupBys — the exchange carries 1 row/doc of partials
    // instead of 16 token-multiplied vote rows, and the plan drops from
    // 2 Exchanges to 1. tv comes from the codegen md5_bits (identical
    // value to the conv(substring(md5)) chain, DigestSpec). Each sgn_j
    // sum and the Σ 2^j readout are the same exact integers as before.
    val votes = (0 until 16).map(j =>
      sum(expr(s"CASE WHEN ((tv >> $j) & 1) = 1 THEN 1 ELSE -1 END")).as(s"sgn$j"))
    tokensDistinct(s, d)
      .withColumn("tv", call_function("md5_bits", col("token"), lit(1), lit(4)))
      .groupBy("doc_id", "lang")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), col("lang"),
        (0 until 16).map(j =>
          when(col(s"sgn$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _).as("simhash"))
  }

  /** BM25 (k1=1.2, b=0.75) over the fixed 3-term demo query — the
    * `llm_bm25_search` body, shared with `llm_rank_fusion`'s lexical leg
    * so the two can never desynchronize. Returns
    * (doc_id, bm25 round-4, n_terms), unsorted. */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val qTerms = Seq("hash", "join", "vector") // fixed, lexicographic
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_remove(split(col("text"), " "), lit(""))).as("token"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(sum("dl").as("sum_dl"), count(lit(1)).as("n_docs"))
    val tf = toks.where(col("token").isin(qTerms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5d) / (col("df") + 0.5d)))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("s", col("idf") * (col("tf") * 2.2d)
        / (col("tf") + lit(1.2d) * (lit(0.25d) + lit(0.75d) * col("dl") / col("avgdl"))))
    val perTerm = qTerms.map(t =>
      coalesce(sum(when(col("token") === t, col("s"))), lit(0d)))
    scored.groupBy("doc_id")
      .agg(perTerm.reduce(_ + _).as("bm25_raw"), count(lit(1)).as("n_terms"))
      .select(col("doc_id"), round(col("bm25_raw"), 4).as("bm25"), col("n_terms"))
  }

  /** NDCG discount weights quantized ONCE to integer nano-units —
    * wq(r) = ⌊1e9 / log2(r+1)⌋ for ranks 1..10, StrictMath on the driver
    * (the phashCosQ pattern): both engines consume the SAME literal
    * integers, so no query-time log() can drift cross-engine, and every
    * DCG sum is exact long arithmetic. */
  private val NdcgWq: Seq[Long] = (1 to 10).map(r =>
    math.floor(1e9 / (StrictMath.log(r + 1.0) / StrictMath.log(2.0))).toLong)

  /** Prefix sums W(0..10) of [[NdcgWq]] — the ideal-DCG lookup. */
  private val NdcgWp: Seq[Long] = NdcgWq.scanLeft(0L)(_ + _)

  /** Embeddings with a precomputed L2 norm (computed once, not per pair). */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"), l2norm(col("embedding")).as("norm"))
  }

  /** The flat-policy ANN serving tail shared by `llm_ivf_serve`,
    * `llm_ivf_two_level` (via [[twoLevelServe]]), `llm_ivf_probe` (via
    * [[ivfSearch]], r12) and the recall eval: a FIXED 500-query budget
    * (deterministic md5 order + LIMIT), probes from the top-`nprobe`
    * ranked cells restricted to the budget BEFORE the cell join,
    * per-query top-1 with (sim DESC, id ASC) ties, LEFT join keeping
    * empty-probe queries as null-neighbor rows. `queryIds` overrides the
    * default |sq budget with a caller-built (q_id) set — `llm_ivf_query`
    * passes its bounded 25% |q sample through the SAME tail. Any change
    * to the serving contract lives HERE — the one-level, two-level,
    * probe and sampled-query keys (and their oracle tails) may never
    * desynchronize. */
  private def serveTail(v: DataFrame, ranked: DataFrame, nprobe: Int = 2,
                        queryIds: Option[DataFrame] = None): DataFrame = {
    val qids = queryIds.getOrElse(v.where(col("norm") > 0.0d)
      .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|sq"))))
      .orderBy("h").limit(500).select(col("vec_id").as("q_id")))
    val probes = ranked.where(col("r") <= nprobe)
      .join(broadcast(qids), col("vec_id") === col("q_id"))
      .select(col("vec_id").as("a_id"), col("embedding").as("a_e"),
        col("norm").as("a_n"), col("cell").as("p_cell"))
    val cells = ranked.where(col("r") === 1)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_e"),
        col("norm").as("b_n"), col("cell").as("b_cell"))
    val sims = probes.join(cells,
        col("p_cell") === col("b_cell") && col("a_id") =!= col("b_id"))
      .withColumn("sim", dot(col("a_e"), col("b_e")) / (col("a_n") * col("b_n")))
    val w = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id"))
    val nn = sims.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("a_id"), col("b_id").as("nn_id"), round(col("sim"), 4).as("sim"))
    ranked.where(col("r") === 1)
      .join(broadcast(qids), col("vec_id") === col("q_id"))
      .select(col("vec_id"), col("cell"))
      .join(nn, col("vec_id") === col("a_id"), "left")
      .select(col("vec_id"), col("cell"), col("nn_id"), col("sim"))
      .orderBy("vec_id")
  }

  /** The `llm_ivf_two_level` serving body — [[serveTail]] over the
    * two-level index; shared with `llm_recall_two_level`. */
  private def twoLevelServe(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val nlist = graft.ops.Ivf.occupancyNlist(v.count(), targetOccupancy = 50)
    serveTail(v, graft.ops.Ivf.coarseRankedTwoLevel(v, nlist, sprobe = 4))
  }

  /** Distinct 3-gram shingle pair intersections (a_id, b_id, n_inter,
    * n_a, n_b) via the sparse shingle equi-join — candidate pairs come
    * from shared shingles, never from doc-pairs². Shared by
    * `llm_dedup_ngram` (Jaccard) and `llm_dedup_containment`
    * (asymmetric containment) so the two similarity readouts are over
    * the identical shingle universe. */
  private def shingleInter(s: SparkSession, d: String,
                           maxDf: Option[Long] = None,
                           percentileDf: Option[Double] = None): DataFrame = {
    val shAll = Tables.documents(s, d)
      .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("toks")) - 3),
          i => concat_ws(" ",
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3))))).as("sh"))
    shinglePairStats(shAll, maxDf, percentileDf)
  }

  /** Pair-intersection stats over any (doc_id, sh) stream, with the
    * stop-shingle cap applied first: fixed `maxDf` or corpus-adaptive
    * `percentileDf` (ops.StopShingles — drop at most the top (1−p)
    * fraction of shingles by df, whole df-groups only). Both capped
    * routes recompute per-doc totals over the SURVIVING shingle universe
    * so containment stays a true fraction of the compared sets. */
  private[graft] def shinglePairStats(shAll: DataFrame,
                                      maxDf: Option[Long] = None,
                                      percentileDf: Option[Double] = None): DataFrame = {
    require(maxDf.isEmpty || percentileDf.isEmpty,
      "fixed and percentile caps are mutually exclusive")
    // stop-shingle removal: a shingle in more than maxDf docs generates
    // ~df²/2 candidate pairs while discriminating nothing — dropping it
    // bounds per-shingle pair fan-out, the standard near-dup scale knob
    val sh0 = (maxDf, percentileDf) match {
      case (Some(t), _) =>
        graft.ops.StopShingles.applyCap(shAll, graft.ops.StopShingles.dfs(shAll), t)
      case (_, Some(p)) =>
        val d = graft.ops.StopShingles.dfs(shAll)
        graft.ops.StopShingles.applyCap(shAll, d, graft.ops.StopShingles.percentileCap(d, p))
      case _ => shAll
    }
    // r13 (guide §5): the shingle stream feeds THREE consumers (per-doc
    // totals + both self-join sides), and on the capped routes each lazy
    // consumer re-executed the shingle explode AND its df table (the
    // semi-join reads both) — up to ~8 full shingle builds per query.
    // Stage it once; the blocks are shingle-grain but each build pays the
    // 3-gram concat_ws + array_distinct per position, which is what made
    // recompute lose here (unlike the plain token table, where staging
    // was measured slower — see Dedup.jaccardBitmask).
    val sh = Checkpoints.stage(sh0)
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val a = sh.select(col("doc_id").as("a_id"), col("sh"))
    val b = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, col("sh") === col("b_sh") && col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
      .join(n.select(col("doc_id").as("a_id"), col("nsh").as("n_a")), "a_id")
      .join(n.select(col("doc_id").as("b_id"), col("nsh").as("n_b")), "b_id")
  }

  /** The decontamination shingle stream (doc_id, is_eval, 5-gram g) —
    * shared by `llm_decontaminate` and `llm_bloom_decontaminate` so the
    * split rule and shingling cannot drift between the exact and the
    * bloom-prefiltered formulations. */
  private def contamShingles(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), array_remove(split(col("text"), " "), lit("")).as("toks"))
      .where(size(col("toks")) >= 5)
      .withColumn("is_eval",
        (call_function("md5_bits",
          col("doc_id").cast("string"), lit(1), lit(4)) < 3277L).cast("int"))
      .select(col("doc_id"), col("is_eval"),
        explode(array_distinct(transform(sequence(lit(0), size(col("toks")) - 5),
          i => concat_ws(" ", (0 to 4).map(k => element_at(col("toks"), i + k + 1)): _*)))).as("g"))
  }

  /** The llm_lang_id doc-level scored table (n-gram-profile language
    * guess + correct flag per document), shared with `llm_lang_confusion`
    * so the classifier under eval cannot drift from the one deployed. */
  private def langIdScored(s: SparkSession, d: String): DataFrame = {
    val tok = tokensDistinct(s, d)
    val dfreq = tok.groupBy(col("lang").as("p_lang"), col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val wP = Window.partitionBy("p_lang").orderBy(col("df").desc, col("token"))
    val profile = dfreq.withColumn("r", row_number().over(wP)).where(col("r") <= 20)
      .select(col("p_lang"), col("token").as("p_token"))
    val overlap = tok.join(broadcast(profile), col("token") === col("p_token"))
      .groupBy("doc_id", "p_lang").agg(count(lit(1)).as("n_overlap"))
    val wB = Window.partitionBy("doc_id").orderBy(col("n_overlap").desc, col("p_lang"))
    val best = overlap.withColumn("br", row_number().over(wB)).where(col("br") === 1)
      .select(col("doc_id").as("b_doc"), col("p_lang").as("pred_lang"), col("n_overlap"))
    Tables.documents(s, d)
      .join(best, col("doc_id") === col("b_doc"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (col("lang") === coalesce(col("pred_lang"), lit("und"))).cast("int").as("correct"))
  }

  /** Sign bits of the first 8 dimensions — the coarse LSH cell shared by
    * `llm_ann_bucket` and the above-gate block of the pairwise keys. */
  private def signBucket(e: Column): Column =
    (0 until 8).map(i => when(element_at(e, i + 1) > 0f,
      lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)

  /** Vector/doc counts at or under this run the exact all-pairs baselines;
    * above it (measured, one cheap count) the pairwise keys block their
    * pair join on an LSH cell so candidate generation is an equi-join.
    * Sized so the all-pairs side stays ~10^9 candidate pairs max.
    *
    * Boundary audited r4 (NOTES.md round 4, sf0.1 = 5 000 docs / 2 000
    * vectors, 3-rep medians): the exact side is the RIGHT side at bench
    * scale — simhash all-pairs 1.43 s vs banded 2.42 s (identical 992 384
    * rows; 16-value bands collide heavily at small n, so banding only wins
    * once n is large enough that n²/16 ≫ band-bucket volume), and the
    * blocked embed/cosine sides (0.3 s vs ~1 s) are not comparable wins:
    * they change the answer (same-cell pairs only — dedup_embed 6 rows vs
    * 144 exact). Lowering the gate to chase the bench number would swap an
    * exact 1 s answer for an approximate one; the gate stays an
    * exactness-budget knob, not a bench knob. */
  private[graft] val PairJoinGate = 50000L

  /** `llm_hard_negatives`' exactness gate — earlier than [[PairJoinGate]]
    * because its exact branch pays a full-precision 64-dim dot per
    * candidate pair (n²·d float work, ~64× the bitmask keys' per-pair
    * cost). Above it the key mines negatives through the occupancy-pinned
    * IVF cell join (the `llm_ivf_serve` policy) with the label inequality
    * pushed into the join. */
  private[graft] val HardNegGate = 10000L

  /** Shared candidate-pair plan for the contrastive-mining trio
    * (`llm_hard_negatives` / `llm_positive_pairs` / `llm_triplet_margin`):
    * per anchor, label-predicated similarity candidates with the
    * [[HardNegGate]] exactness split. At or under the gate, the exact
    * all-pairs join with the label predicate (=== for positives, =!= for
    * negatives) — the gate binds earlier than [[PairJoinGate]] because
    * this branch pays a full-precision d-dim dot per candidate pair
    * (n²·d float mults, ~64× the bitmask keys' per-pair cost); 10 k
    * keeps both oracle scales (sf0.01/sf0.1) exact. Above it, the
    * occupancy-pinned IVF cell join (the `llm_ivf_serve` policy: nlist
    * scaled so cells hold ~50 vectors, 2-cell probe) with the label
    * predicate PUSHED INTO the join — candidate volume is bounded by
    * cell occupancy, flat per anchor as the corpus grows. A candidate
    * lives in exactly one home cell, so a (q,c) pair arises from at most
    * one probed cell — no post-join distinct. Returns q_id, q_label,
    * c_id, c_label, sim (unrounded). */
  private def labelPairSims(s: SparkSession, d: String,
      sameLabel: Option[Boolean]): DataFrame = {
    val v = vecs(s, d)
    val n = v.count()
    // None = no label predicate (both sides of the contrastive split in
    // one pair scan — `llm_triplet_margin`'s route: same total pair
    // volume as either twin's complement, but ONE join instead of two)
    def labelPred = sameLabel match {
      case Some(true)  => col("q_label") === col("c_label")
      case Some(false) => col("q_label") =!= col("c_label")
      case None        => lit(true)
    }
    if (n <= HardNegGate) {
      val a = v.select(col("vec_id").as("q_id"), col("embedding").as("q_e"),
        col("norm").as("q_n"), col("label").as("q_label"))
      val b = v.select(col("vec_id").as("c_id"), col("embedding").as("c_e"),
        col("norm").as("c_n"), col("label").as("c_label"))
      a.join(b, col("q_id") =!= col("c_id") && labelPred)
        .withColumn("sim", dot(col("q_e"), col("c_e")) / (col("q_n") * col("c_n")))
    } else {
      val ranked = graft.ops.Ivf.coarseRanked(
        v, graft.ops.Ivf.occupancyNlist(n, targetOccupancy = 50))
      val probes = ranked.where(col("r") <= 2)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_e"),
          col("norm").as("q_n"), col("label").as("q_label"),
          col("cell").as("p_cell"))
      val cands = ranked.where(col("r") === 1)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_e"),
          col("norm").as("c_n"), col("label").as("c_label"),
          col("cell").as("b_cell"))
      probes.join(cands, col("p_cell") === col("b_cell")
          && col("q_id") =!= col("c_id") && labelPred)
        .withColumn("sim", dot(col("q_e"), col("c_e")) / (col("q_n") * col("c_n")))
    }
  }

  /** 4×4-bit band keys over the 16-bit SimHash signature: one (doc_id,
    * lang, simhash, band_i, band_v) row per band. A pair at hamming
    * distance ≤ 3 differs in at most 3 bands, so it shares at least one
    * intact band — banded candidate generation has 100% recall at r=3. */
  private def simhashBands(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), col("lang"), col("simhash"),
      posexplode(array((0 until 4).map(j =>
        shiftright(col("simhash"), 4 * j).bitwiseAND(lit(15L))): _*)).as(Seq("band_i", "band_v")))

  /** `llm_dedup_embed` body: exact all-pairs at or under `gate`, sign-cell
    * blocked equi-join above it (reports only same-cell pairs — the ANN
    * trade, documented at the key). */
  private[graft] def dedupEmbed(s: SparkSession, d: String, gate: Long): DataFrame = {
    val v = vecs(s, d)
    val blocked = v.count() > gate
    val a = v.select(col("vec_id").as("a_id"), col("embedding").as("a_e"),
      col("norm").as("a_n"), signBucket(col("embedding")).as("a_bkt"))
    val b = v.select(col("vec_id").as("b_id"), col("embedding").as("b_e"),
      col("norm").as("b_n"), signBucket(col("embedding")).as("b_bkt"))
    val cond =
      if (blocked) col("a_id") < col("b_id") && col("a_bkt") === col("b_bkt")
      else col("a_id") < col("b_id")
    a.join(b, cond)
      .withColumn("sim", dot(col("a_e"), col("b_e")) / (col("a_n") * col("b_n")))
      .where(col("sim") >= 0.45)
      .select(col("a_id"), col("b_id"), round(col("sim"), 4).as("sim"))
      .orderBy("a_id", "b_id")
  }

  /** `llm_cosine_topk` body: same gate discipline as [[dedupEmbed]]. */
  private[graft] def cosineTopK(s: SparkSession, d: String, gate: Long): DataFrame = {
    val v = vecs(s, d)
    val blocked = v.count() > gate
    val a = v.select(col("vec_id").as("a_id"), col("embedding").as("a_e"),
      col("norm").as("a_n"), signBucket(col("embedding")).as("a_bkt"))
    val b = v.select(col("vec_id").as("b_id"), col("embedding").as("b_e"),
      col("norm").as("b_n"), signBucket(col("embedding")).as("b_bkt"))
    val cond =
      if (blocked) col("a_id") < col("b_id") && col("a_bkt") === col("b_bkt")
      else col("a_id") < col("b_id")
    a.join(b, cond)
      .withColumn("sim", dot(col("a_e"), col("b_e")) / (col("a_n") * col("b_n")))
      .orderBy(col("sim").desc, col("a_id"), col("b_id"))
      .limit(100)
      .select(col("a_id"), col("b_id"), round(col("sim"), 4).as("sim"))
  }

  /** IVF similarity search (the genuine scale path past sign-bit
    * bucketing): 16 data-dependent coarse centroids (per-dim means over
    * deterministic md5 seed cells — one k-means update step on a
    * reproducible init), every vector assigned to its nearest centroid by
    * cosine, NN searched within the probed cell(s) only. Assignment is a
    * 16-row broadcast — linear in corpus size; cell occupancy bounds the
    * pair work exactly like an IVF index. `nprobe` is the recall knob:
    * each query probes its `nprobe` nearest cells and re-ranks the union
    * (the index side keeps one cell per vector, so no duplicate pairs).
    *
    * Determinism of the centroids: per-dim values are summed in SORTED
    * order (both engines fold the identical sorted sequence of doubles —
    * a plain avg() is accumulation-order-sensitive in Spark), and the
    * mean is floor-quantized at 1e-6 — round() would HALF_UP on the
    * shortest decimal in Spark but round the binary value in DuckDB on
    * midpoints; floor of the product is pure IEEE, bit-identical. */
  /** PQ building blocks shared by `llm_pq_encode` and `llm_pq_adc`:
    * the per-(vector, subspace) slices with their md5 seed cell, the
    * 16-entry-per-subspace codebook (seeded k-means step, floor-quantized
    * — see the `llm_pq_encode` doc), and the argmin code assignment
    * (vec_id, sub, cid). One codebook construction, both keys. */
  private def pqParts(v: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val subs = v
      .select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("sub"), col("embedding"))
      .withColumn("subvec", slice(col("embedding"), col("sub") * 8 + 1, lit(8)))
      .withColumn("cellseed",
        pmod(call_function("md5_bits",
          concat(col("vec_id").cast("string"), lit(":"), col("sub")),
          lit(1), lit(4)), lit(16)))
      .drop("embedding")
    val cent = subs
      .select(col("sub"), col("cellseed"), posexplode(col("subvec")).as(Seq("i", "x")))
      .groupBy("sub", "cellseed", "i")
      .agg(sort_array(collect_list(col("x").cast("double"))).as("xs"))
      .select(col("sub"), col("cellseed"), col("i"),
        (aggregate(col("xs"), lit(0.0), (acc, e) => acc + e) / size(col("xs"))).as("m"))
      .groupBy("sub", "cellseed")
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("im"))
      .select(col("sub"), col("cellseed").as("cid"),
        transform(col("im"), e => floor(e.getField("m") * 1e6) / 1e6).as("centroid"))
    // dists doubles as the ADC distance table: for every vector (qua
    // query), its L2 distance to each of the 16 centroids per subspace
    val dists = subs.join(broadcast(cent), "sub")
      .withColumn("dist", aggregate(
        zip_with(col("subvec"), col("centroid"),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, e) => acc + e))
      .select("vec_id", "sub", "cid", "dist")
    val wC = Window.partitionBy("vec_id", "sub").orderBy(col("dist").asc, col("cid").asc)
    val codes = dists.withColumn("rn", row_number().over(wC)).where(col("rn") === 1)
      .select("vec_id", "sub", "cid")
    (dists, cent, codes)
  }

  /** Coarse IVF assignment shared by the IVF keys and IVF-PQ: 16 seeded
    * centroids (one k-means step, the determinism recipe in [[ivfSearch]]'s
    * doc), every vector ranked against every cell by cosine. Returns the
    * ranked assignment (vec_id, embedding, norm, cell, csim, r).
    *
    * nlist=16 is PINNED here for DuckDB-oracle cell-layout compatibility;
    * the production sizing rule (nlist ≈ √(nprobe·n), occupancy bounded)
    * lives in [[graft.ops.Ivf]], which this delegates to. */
  private def coarseRanked(v: DataFrame): DataFrame =
    graft.ops.Ivf.coarseRanked(v, nlist = 16)

  /** ADC pair scoring shared by `llm_pq_adc` and `llm_pq_rerank`: every
    * query's coarse-cell-mates scored through the query's own 8×16 ADC
    * table over their 4-byte PQ code words (never their floats). Returns
    * (cells, adc): the coarse assignment (vec_id, cell) and the scored
    * pairs (a_id, cell, b_id, adc). */
  /** Per-query nested ADC table from [[pqParts]]' dists: 8 subspaces ×
    * 16 cid-indexed L2 distances, as (vec_id, dtab). */
  private def dtabOf(dists: DataFrame): DataFrame = dists
    .groupBy("vec_id", "sub")
    .agg(array_sort(collect_list(struct(col("cid"), col("dist")))).as("cd"))
    .select(col("vec_id"), col("sub"),
      transform(col("cd"), e => e.getField("dist")).as("ds"))
    .groupBy("vec_id")
    .agg(array_sort(collect_list(struct(col("sub"), col("ds")))).as("sd"))
    .select(col("vec_id"),
      transform(col("sd"), e => e.getField("ds")).as("dtab"))

  /** Per-db-vector PQ code word from [[pqParts]]' codes: the 8 subspace
    * codes in subspace order, as (vec_id, codes). */
  private def wordsOf(codes: DataFrame): DataFrame = codes
    .groupBy("vec_id")
    .agg(array_sort(collect_list(struct(col("sub"), col("cid")))).as("sc"))
    .select(col("vec_id"),
      transform(col("sc"), e => e.getField("cid")).as("codes"))

  /** The fold of a query's ADC table over a candidate's code word. */
  private def adcFold: Column = aggregate(
    zip_with(col("dtab"), col("codes"),
      (arr, c) => element_at(arr, c.cast("int") + 1)),
    lit(0.0), (acc, e) => acc + e)

  private def adcPairs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ranked = coarseRanked(vecs(s, d))
    val cells = ranked.where(col("r") === 1).select(col("vec_id"), col("cell"))
    val (dists, _, codes) = pqParts(Tables.embeddings(s, d))
    val dtab = dtabOf(dists)
    val words = wordsOf(codes)
    val q = cells.join(dtab, "vec_id")
      .select(col("vec_id").as("a_id"), col("cell"), col("dtab"))
    val b = cells.join(words, "vec_id")
      .select(col("vec_id").as("b_id"), col("cell").as("b_cell"), col("codes"))
    val adc = q.join(b, col("cell") === col("b_cell") && col("a_id") =!= col("b_id"))
      .withColumn("adc", adcFold)
      .select("a_id", "cell", "b_id", "adc")
    (cells, adc)
  }

  /** `llm_pq_serve` body — the complete production ANN serving stack
    * (FAISS's IVFADC + refine, under the flat policy): occupancy-pinned
    * coarse index (`Ivf.occupancyNlist`, cells ≈ 50 vectors at any
    * corpus size), the `serveTail` query contract (fixed 500-query md5
    * budget, nprobe = 2), ADC over 4-byte PQ code words inside the
    * probed cells, exact-L2 re-rank of the ADC top-10. Per-query cost is
    * a CONSTANT: nprobe·occupancy code-word folds + ≤10 full-vector
    * reads; the only corpus-sized work is the linear index build (codes
    * for every db vector). Query ADC tables are built for the BUDGET
    * only — at 100 TB the dtable computation is query-sized, never
    * corpus-sized. */
  private def pqServe(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val nlist = graft.ops.Ivf.occupancyNlist(v.count(), targetOccupancy = 50)
    val ranked = graft.ops.Ivf.coarseRanked(v, nlist)
    val qids = v.where(col("norm") > 0.0d)
      .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|sq"))))
      .orderBy("h").limit(500).select(col("vec_id").as("q_id"))
    val (dists, _, codes) = pqParts(Tables.embeddings(s, d))
    val dtab = dtabOf(dists.join(broadcast(qids), col("vec_id") === col("q_id"))
      .drop("q_id"))
    val words = wordsOf(codes)
    val probes = ranked.where(col("r") <= 2)
      .join(broadcast(qids), col("vec_id") === col("q_id"))
      .select(col("vec_id"), col("cell").as("p_cell"))
      .join(dtab, "vec_id")
      .select(col("vec_id").as("a_id"), col("p_cell"), col("dtab"))
    val cands = ranked.where(col("r") === 1)
      .select(col("vec_id"), col("cell").as("b_cell"))
      .join(words, "vec_id")
      .select(col("vec_id").as("b_id"), col("b_cell"), col("codes"))
    val adc = probes.join(cands,
        col("p_cell") === col("b_cell") && col("a_id") =!= col("b_id"))
      .withColumn("adc", adcFold)
      .select("a_id", "b_id", "adc")
    val wS = Window.partitionBy("a_id").orderBy(col("adc").asc, col("b_id"))
    val shortlist = adc.withColumn("rn", row_number().over(wS))
      .where(col("rn") <= 10).select("a_id", "b_id")
    val emb = Tables.embeddings(s, d)
    val exact = shortlist
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("a_e")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("b_e")), "b_id")
      .withColumn("d2", aggregate(
        zip_with(col("a_e"), col("b_e"),
          (x, y) => (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, e) => acc + e))
    val wR = Window.partitionBy("a_id").orderBy(col("d2").asc, col("b_id"))
    val nn = exact.withColumn("rn", row_number().over(wR)).where(col("rn") === 1)
      .select(col("a_id"), col("b_id").as("nn_id"),
        (floor(col("d2") * 1e4) / 1e4).as("l2sq"))
    ranked.where(col("r") === 1)
      .join(broadcast(qids), col("vec_id") === col("q_id"))
      .select(col("vec_id"), col("cell"))
      .join(nn, col("vec_id") === col("a_id"), "left")
      .select(col("vec_id"), col("cell"), col("nn_id"), col("l2sq"))
      .orderBy("vec_id")
  }

  /** `llm_nn_descent` body — graph-based ANN construction (NN-descent,
    * Dong et al. WWW 2011; the build behind HNSW-family indexes), the
    * THIRD ANN family beside the exact scans and the IVF/PQ quantizers:
    * maintain a k=4 neighbor graph and iteratively improve it on the
    * principle that a neighbor's neighbor is likely a neighbor. Init
    * seeds each node with 2 lowest-id HOME-CELL mates (warm start from
    * the occupancy-pinned coarse quantizer — already-good candidates,
    * everything cell-partitioned) plus the 2 lowest-id members of the
    * NEXT cell (the cross-cell links descent needs to escape its cell;
    * a pure cell init could never reach across). Each of 2 rounds scores
    * cand = N ∪ N∘N exactly and keeps the top-4 — ≤ k + k² = 20
    * candidate sims per node per round, LINEAR total at any corpus size
    * (no global window, no pair blowup; per-round checkpoint-and-free).
    * Per node the best sim is monotonically non-decreasing (previous
    * top-4 ⊆ candidates) — the property the spec pins alongside a
    * driver recompute. */
  private def nnDescent(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).where(col("norm") > 0.0d)
      .select(col("vec_id"), col("embedding"), col("norm"))
    val nb = descentArtifact(s, d, "base", v)
    def scored(pairs: DataFrame): DataFrame = pairs
      .join(v.select(col("vec_id").as("node"), col("embedding").as("a_e"),
        col("norm").as("a_n")), "node")
      .join(v.select(col("vec_id").as("nb"), col("embedding").as("b_e"),
        col("norm").as("b_n")), "nb")
      .withColumn("sim", dot(col("a_e"), col("b_e")) / (col("a_n") * col("b_n")))
    val wTop = Window.partitionBy("node").orderBy(col("sim").desc, col("nb"))
    scored(nb)
      .withColumn("rank", row_number().over(wTop))
      .select(col("node").as("vec_id"), col("rank"), col("nb").as("nb_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("vec_id", "rank")
  }

  /** The NN-descent build shared by `llm_nn_descent` (graph readout) and
    * `llm_graph_search` (greedy serving): returns the CHECKPOINTED final
    * (node, nb) k=4 neighbor table plus the checkpointed cell table —
    * the caller owns freeing both. */
  private def nnDescentGraph(s: SparkSession,
      v: DataFrame): (DataFrame, DataFrame) = {
    val nlist = graft.ops.Ivf.occupancyNlist(v.count(), targetOccupancy = 50)
    val members = graft.ops.Ivf.coarseRanked(v, nlist)
      .where(col("r") === 1).select(col("vec_id"), col("cell"))
      .transform(Checkpoints.stage)
    val wCell = Window.partitionBy("cell").orderBy("vec_id")
    val small3 = members.withColumn("rk", row_number().over(wCell))
      .where(col("rk") <= 3)
    val wNode = Window.partitionBy("node").orderBy("nb")
    val own = members.select(col("vec_id").as("node"), col("cell"))
      .join(small3.select(col("cell"), col("vec_id").as("nb")), "cell")
      .where(col("nb") =!= col("node"))
      .withColumn("rk", row_number().over(wNode)).where(col("rk") <= 2)
      .select("node", "nb")
    val nxt = members.select(col("vec_id").as("node"), col("cell"))
      .join(small3.where(col("rk") <= 2)
        .select(pmod(col("cell") - 1 + lit(nlist.toLong), lit(nlist.toLong)).as("cell"),
          col("vec_id").as("nb")), "cell")
      .select("node", "nb")
    def scored(pairs: DataFrame): DataFrame = pairs
      .join(v.select(col("vec_id").as("node"), col("embedding").as("a_e"),
        col("norm").as("a_n")), "node")
      .join(v.select(col("vec_id").as("nb"), col("embedding").as("b_e"),
        col("norm").as("b_n")), "nb")
      .withColumn("sim", dot(col("a_e"), col("b_e")) / (col("a_n") * col("b_n")))
    val wTop = Window.partitionBy("node").orderBy(col("sim").desc, col("nb"))
    val nb0 = Checkpoints.stage(own.unionByName(nxt).distinct())
    val nb = graft.ops.Iterate.rounds(nb0, 2) { (nb, _) =>
      val hop2 = nb.join(nb.select(col("node").as("mid"), col("nb").as("nb2")),
          col("nb") === col("mid"))
        .select(col("node"), col("nb2").as("nb"))
      val cand = nb.unionByName(hop2).where(col("nb") =!= col("node")).distinct()
      scored(cand)
        .withColumn("rk", row_number().over(wTop)).where(col("rk") <= 4)
        .select("node", "nb")
    }
    Checkpoints.free(nb0)
    (nb, members)
  }

  /** Algorithm-version tag committed into the descent artifact's
    * fingerprint: bump whenever [[nnDescentGraph]]'s construction changes,
    * or a stale on-disk index would silently serve the OLD graph. */
  private val DescentAlgoVersion = "nn-descent-k4-r2-v1"

  private def indexScratch(d: String, name: String): String = {
    val ds = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val p = java.nio.file.Paths.get("/root/repo/target/scratch/index", ds, name)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  /** The PERSISTED NN-descent graph (r12, r11 VERDICT #1): the (node, nb)
    * k=4 neighbor table served from a fingerprint-committed parquet
    * artifact via [[graft.store.IndexStore]] — built at most once per
    * corpus version and read back through its manifest by EVERY caller
    * (`llm_nn_descent`, `llm_graph_search`, `llm_recall_graph`, both
    * layers of `llm_hnsw_search`/`llm_recall_hnsw`, and
    * `store_index_persist`). The build is [[nnDescentGraph]] verbatim and
    * md5-deterministic, so the artifact is bit-identical to an in-key
    * rebuild — the oracles' unrolled descent CTEs keep matching
    * unchanged, and `store_index_persist`'s hash proves the round trip.
    * Returns a disk-backed frame: callers hold no checkpoints to free. */
  private def descentArtifact(s: SparkSession, d: String, layer: String,
                              v: DataFrame): DataFrame =
    graft.store.IndexStore.orBuild(s, indexScratch(d, s"nn_descent_$layer"),
      DescentAlgoVersion, v) { () =>
      val (nb, members) = nnDescentGraph(s, v)
      (nb.coalesce(4), Seq(nb, members))
    }

  /** `llm_graph_search` body — greedy best-first serving over the
    * NN-descent graph (the single-layer HNSW query path): from one
    * md5-chosen global entry point, every query walks to its current
    * node's best-scoring neighbor while that strictly improves, up to 6
    * hops. Per-hop work per query is k=4 neighbor sims — CONSTANT at
    * any corpus size; the output's `reached` column (did the walk
    * terminate AT the query, which is in the index) is the greedy
    * ROUTABILITY rate — the navigability number graph-ANN papers
    * measure, and the operational readout that says whether the graph
    * needs more rounds/degree. Strict `>` movement means plateaus stop
    * the walk (no cycles, deterministic); per-hop checkpoint-and-free. */
  private def graphSearch(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).where(col("norm") > 0.0d)
      .select(col("vec_id"), col("embedding"), col("norm"))
    val nb = descentArtifact(s, d, "base", v)
    val qids = v
      .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|sq"))))
      .orderBy("h").limit(500)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_e"),
        col("norm").as("q_n"))
    val entry = v
      .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|entry"))))
      .orderBy(col("h"), col("vec_id")).limit(1)
      .select(col("vec_id").as("cur"))
    val st0 = qids.crossJoin(broadcast(entry))
      .join(v.select(col("vec_id").as("cur"), col("embedding").as("c_e"),
        col("norm").as("c_n")), "cur")
      .withColumn("cur_sim", dot(col("q_e"), col("c_e")) / (col("q_n") * col("c_n")))
      .select(col("q_id"), col("q_e"), col("q_n"), col("cur"), col("cur_sim"),
        lit(0).as("hops"))
    val st = greedyHops(v, nb, st0, 6)
    Checkpoints.finishFreeing(
      st.select(col("q_id").as("vec_id"), col("cur").as("nn_id"),
          round(col("cur_sim"), 4).as("sim"), col("hops"),
          (col("cur") === col("q_id")).as("reached"))
        .orderBy("vec_id"),
      st)
  }

  /** `hops` rounds of strict-improvement greedy walking over neighbor
    * table `nb`, shared by the flat serve ([[graphSearch]]) and both
    * layers of the hierarchical serve (`llm_hnsw_search`): per round,
    * each query scores its current node's neighbors and moves only on
    * strict `>` (plateaus stop the walk — no cycles, deterministic);
    * per-round checkpoint-and-free. State: (q_id, q_e, q_n, cur,
    * cur_sim, hops). Input state is checkpointed here; the FINAL state
    * is returned still checkpointed — the caller frees it. */
  private def greedyHops(v: DataFrame, nb: DataFrame,
                         st0: DataFrame, hops: Int): DataFrame = {
    val init = Checkpoints.stage(st0)
    val st = graft.ops.Iterate.rounds(init, hops) { (st, _) =>
      val best = st.select(col("q_id").as("b_q"), col("q_e").as("b_e"),
          col("q_n").as("b_n"), col("cur"))
        .join(nb.withColumnRenamed("node", "cur"), "cur")
        .join(v.select(col("vec_id").as("nb"), col("embedding").as("n_e"),
          col("norm").as("n_n")), "nb")
        .withColumn("nsim", dot(col("b_e"), col("n_e")) / (col("b_n") * col("n_n")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("b_q").orderBy(col("nsim").desc, col("nb"))))
        .where(col("rk") === 1)
        .select(col("b_q").as("q_id"), col("nb").as("best"), col("nsim").as("best_sim"))
      val moved = col("best_sim") > col("cur_sim")
      st.join(best, Seq("q_id"), "left")
        .select(col("q_id"), col("q_e"), col("q_n"),
          when(moved, col("best")).otherwise(col("cur")).as("cur"),
          when(moved, col("best_sim")).otherwise(col("cur_sim")).as("cur_sim"),
          (col("hops") + when(moved, 1).otherwise(0)).as("hops"))
    }
    Checkpoints.free(init)
    st
  }

  /** The md5-deterministic UPPER LAYER of the 2-layer hierarchical serve:
    * a vector is promoted when the first 16 bits of md5(vec_id|"lvl")
    * fall under 8192/65536 — an expected 1/8 of the corpus, the HNSW
    * level-assignment recipe (geometric decay, here truncated at 2
    * layers) made replayable: promotion is a pure function of the id, so
    * index and oracle agree at any partitioning. */
  private def upperLayer(v: DataFrame): DataFrame =
    v.where(conv(substring(
      md5(concat(col("vec_id").cast("string"), lit("|lvl"))), 1, 4),
      16, 10).cast("long") < 8192L)

  /** `llm_hnsw_search` body — 2-layer hierarchical greedy serving (the
    * HNSW query path proper, upgrading [[graphSearch]]'s single layer;
    * r10 VERDICT #8): the upper layer is the md5-promoted 1/8 subset
    * with its OWN NN-descent graph (same build machinery at 1/8 scale),
    * the base layer is the full NN-descent graph. Each query enters at
    * the upper layer's md5-chosen entry point, walks ≤3 greedy hops
    * THERE (long strides across the corpus — the hierarchy's point: the
    * upper walk replaces base-layer hops through unrelated regions),
    * then descends and continues ≤6 greedy hops on the base graph from
    * wherever the upper walk landed. Per-hop cost per query is k=4
    * neighbor sims on either layer — constant at any corpus size; the
    * upper build is the base build at 1/8 input. Output mirrors the flat
    * key (`reached` = routability) so the two serve policies are
    * directly comparable; KnnSpec measures routability + recall side by
    * side vs the flat graph and the exact truth. */
  private[graft] def hnswSearch(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).where(col("norm") > 0.0d)
      .select(col("vec_id"), col("embedding"), col("norm"))
    val upper = upperLayer(v)
    val nbU = descentArtifact(s, d, "upper", upper)
    val nb = descentArtifact(s, d, "base", v)
    val qids = v
      .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|sq"))))
      .orderBy("h").limit(500)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_e"),
        col("norm").as("q_n"))
    // entry lives in the UPPER layer (the hierarchy's global entry point)
    val entry = upper
      .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|entry"))))
      .orderBy(col("h"), col("vec_id")).limit(1)
      .select(col("vec_id").as("cur"))
    val st0 = qids.crossJoin(broadcast(entry))
      .join(v.select(col("vec_id").as("cur"), col("embedding").as("c_e"),
        col("norm").as("c_n")), "cur")
      .withColumn("cur_sim", dot(col("q_e"), col("c_e")) / (col("q_n") * col("c_n")))
      .select(col("q_id"), col("q_e"), col("q_n"), col("cur"), col("cur_sim"),
        lit(0).as("hops"))
    val afterUpper = greedyHops(v, nbU, st0, 3)
    val st = greedyHops(v, nb, afterUpper, 6)
    Checkpoints.finishFreeing(
      st.select(col("q_id").as("vec_id"), col("cur").as("nn_id"),
          round(col("cur_sim"), 4).as("sim"), col("hops"),
          (col("cur") === col("q_id")).as("reached"))
        .orderBy("vec_id"),
      afterUpper, st)
  }

  /** `llm_ivf_probe` body (re-budgeted r12, r11 weak-set closure): the
    * nprobe-knob demo now runs the SHARED [[serveTail]] contract — the
    * fixed 500-query md5 budget — instead of all-corpus-as-queries. The
    * old shape's pair volume was n·occupancy·nprobe = n²·nprobe/nlist at
    * the pinned demo nlist=16 (the 10× probe read 24.7× and worsened as
    * the fixture densified); the budgeted eval answers a bounded query
    * stream, |budget|·occupancy·nprobe — linear in occupancy, the same
    * re-shape `llm_recall_at_k` took in r11. nprobe dominance (the thing
    * this key demonstrates) is unchanged over the budget and stays
    * pinned in KnnSpec against ivfSearch(nprobe = 1) directly. */
  private[graft] def ivfSearch(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val v = vecs(s, d)
    serveTail(v, coarseRanked(v), nprobe)
  }

  /** The 16-bit SimHash DEMO keys' fixture cap (r12, r11 VERDICT #3): a
    * 16-bit signature has only 2¹⁶ values (and 64 (band,value) cells), so
    * once n ≫ 2¹⁶ the demo's candidate volume approaches n²/2¹⁶ BY
    * CONSTRUCTION — the declared width degeneracy, not a plan defect
    * (the production twin `llm_dedup_simhash64` runs 2¹⁸ cells and grows
    * ~2× at 10×). The `llm_minhash_weighted` doc_id-gate pattern keeps
    * the demonstration demonstration-sized: 1000 ids covers every doc at
    * the sf0.01 oracle scale (outputs there are UNCHANGED) and bounds the
    * dup-dense 10× fixture's pair volume at 4× instead of 100×. */
  private val SimhashDemoCap = 1000L

  /** `llm_dedup_simhash_pairs` body: under `gate` the same-lang broadcast
    * pair join; above it band-keyed candidates + same-lang filter. The two
    * routes return IDENTICAL rows at any size (pigeonhole recall is exact
    * at r=3), so the gate here trades plan shape only, not results.
    * Fixture capped at [[SimhashDemoCap]] (declared 16-bit demo). */
  private[graft] def simhashPairs(s: SparkSession, d: String, gate: Long): DataFrame = {
    val sh = simhashes(s, d).where(col("doc_id") < SimhashDemoCap)
    val candidates =
      if (sh.count() <= gate) {
        val a = sh.select(col("doc_id").as("a_id"), col("lang"), col("simhash").as("a_sim"))
        val b = sh.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
          col("simhash").as("b_sim"))
        a.join(broadcast(b), col("lang") === col("b_lang") && col("a_id") < col("b_id"))
          .select("a_id", "b_id", "a_sim", "b_sim")
      } else {
        val bands = simhashBands(sh)
        val a = bands.select(col("doc_id").as("a_id"), col("lang"),
          col("simhash").as("a_sim"), col("band_i"), col("band_v"))
        val b = bands.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
          col("simhash").as("b_sim"), col("band_i").as("bi2"), col("band_v").as("bv2"))
        // same filter-before-distinct discipline as llm_dedup_simhash_lsh
        a.join(b, col("band_i") === col("bi2") && col("band_v") === col("bv2")
            && col("lang") === col("b_lang") && col("a_id") < col("b_id"))
          .withColumn("hamming", expr("CAST(bit_count(a_sim ^ b_sim) AS INT)"))
          .where(col("hamming") <= 3)
          .select("a_id", "b_id", "a_sim", "b_sim").distinct()
      }
    candidates
      .withColumn("hamming", expr("CAST(bit_count(a_sim ^ b_sim) AS INT)"))
      .where(col("hamming") <= 3)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
  }

  val queries: Map[String, Q] = Map(
    // K1 — exact dedup on normalized text hash; keep min doc_id per cluster.
    // At scale: one hash-keyed shuffle, no pairwise work at all.
    "llm_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(md5(lower(trim(col("text")))).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy("h")
    }),

    // K1b — URL-canonicalization dedup (added r7): the FIRST dedup pass
    // every web-scale pipeline runs — before any content hashing, collapse
    // fetches of the same resource whose URLs differ only in
    // scheme/host case, default port, tracking parameters, trailing
    // slash, or fragment. The fixture has no URL column, so one is
    // SYNTHESIZED deterministically from (doc_id, source) with all five
    // variance modes injected (uppercase scheme+host on even ids, :443 on
    // %4, utm_* params on %3, trailing slash on %5, #fragment on %6);
    // the OPERATOR is the canonicalization chain, which works on any url
    // column: strip fragment → lowercase scheme+host (path case is
    // preserved — URLs are case-sensitive past the authority) → drop the
    // default port → drop utm_* params → drop a pre-query trailing
    // slash. Pure narrow string ops (regexp over each row, no UDF), one
    // groupBy on the canonical form: at 100 TB this is a map-side-combined
    // hash aggregate, the cheapest dedup that exists. Survivor = min
    // doc_id per canonical URL, the dedup-family convention.
    "llm_dedup_url" -> ((s, d) => {
      val raw = Tables.documents(s, d).withColumn("url", concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
        when(col("doc_id") % 2 === 0, upper(col("source"))).otherwise(col("source")),
        lit(".example.com"),
        when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/docs/"), (col("doc_id") % 23).cast("string"),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        lit("?page="), (col("doc_id") % 4).cast("string"),
        when(col("doc_id") % 3 === 0,
          concat(lit("&utm_source=feed&utm_campaign=c"),
            (col("doc_id") % 11).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit(""))))
      val canon = raw
        .withColumn("u1", regexp_replace(col("url"), "#.*$", ""))
        .withColumn("ahead", lower(regexp_extract(col("u1"), "^[^?#]*?://[^/?#]*", 0)))
        .withColumn("atail", expr("substring(u1, length(ahead) + 1)"))
        .withColumn("ahead", regexp_replace(col("ahead"), ":443$", ""))
        .withColumn("atail", regexp_replace(col("atail"), "[?&]utm_[^&#]*", ""))
        .withColumn("atail", regexp_replace(col("atail"), "/\\?", "?"))
        .withColumn("canon_url", concat(col("ahead"), col("atail")))
      canon.groupBy("canon_url")
        .agg(min("doc_id").as("survivor_id"), count(lit(1)).as("n_docs"))
        .orderBy("canon_url")
    }),

    // K2 — near-dup pairs: distinct-token Jaccard >= 0.5 with same-lang +
    // shared-token blocking (candidate pairs come from an equi-join on the
    // token, never a cross product). The MinHash key below is the same
    // pipeline's sub-quadratic variant for 100 TB.
    "llm_dedup_near" -> ((s, d) =>
      Dedup.jaccardBitmask(s, Tables.documents(s, d), threshold = 0.5)),

    // K2a — the production dedup pipeline: LSH candidates (sub-quadratic)
    // verified with exact Jaccard. Precision exact; recall set by the
    // banding S-curve (see Dedup.lshVerified). Unlike llm_dedup_near it is
    // content-driven, not language-blocked: cross-language near-identical
    // docs ARE reported.
    "llm_dedup_lsh_verified" -> ((s, d) =>
      Dedup.lshVerified(s, Tables.documents(s, d), threshold = 0.5)),

    // K2a-eval — MEASURED LSH recall curve (added r9): `llm_lsh_curve`
    // publishes the analytic banding S-curve P(capture) = 1−(1−J⁴)²;
    // this key MEASURES it on the real corpus — the eval that validates
    // the dedup pipeline's recall contract instead of assuming it.
    // Ground truth = the exact prefix-filtered AllPairs pairs at J ≥ 0.5
    // (`Dedup.jaccardBitmask`, same-language by its semantics — recall is
    // measured over same-lang true pairs, documented); candidates = the
    // SAME 2×4 MinHash banding `llm_dedup_minhash` joins on. Pairs bucket
    // by their (round-4) Jaccard decile; per bucket: true pairs, captured
    // pairs, measured recall, and the analytic curve at the bucket
    // midpoint for side-by-side reading. Cost = the near-dup exactness
    // bill + one banded join — both collision-structured, never corpus².
    "llm_lsh_recall" -> ((s, d) => {
      // r13: the truth side declares presentationSort=false — plan-neutral
      // here (Catalyst's EliminateSorts already drops an order-by under
      // the bucket aggregation) but makes the intent explicit and keeps
      // the interior sort out if the downstream shape ever stops
      // qualifying for the rule. (Sharing one STAGED token table between
      // truth and bands was measured slower — see jaccardBitmask.)
      val truth = Dedup.jaccardBitmask(s, Tables.documents(s, d),
          threshold = 0.5, presentationSort = false)
        .select("a_id", "b_id", "jacc")
      val bands = Checkpoints.stage(Dedup.bandKeys(tokensDistinct(s, d)))
      val l = bands.select(col("doc_id").as("a_id"), col("band_i"), col("band_v"))
      val r = bands.select(col("doc_id").as("b_id"),
        col("band_i").as("bi2"), col("band_v").as("bv2"))
      val cand = l.join(r, col("band_i") === col("bi2") && col("band_v") === col("bv2")
          && col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      val curve = floor((lit(1.0) - pow(lit(1.0)
        - pow((col("bucket").cast("double") + 0.5) / 10.0, 4.0), 2.0)) * 1e4) / 1e4
      truth.join(cand.withColumn("hit", lit(1L)), Seq("a_id", "b_id"), "left")
        .withColumn("bucket", least(floor(col("jacc") * 10).cast("long"), lit(9L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_captured"))
        .select(col("bucket"), col("n_true"), col("n_captured"),
          (floor(col("n_captured").cast("double") / col("n_true").cast("double")
            * 1e4) / 1e4).as("recall_measured"),
          curve.as("recall_analytic"))
        .orderBy("bucket")
    }),

    // K2a-inc — incremental dedup (the daily-ingest production shape):
    // the newest 100 docs are the "batch", everything before them the
    // "corpus"; the batch is LSH-checked against the corpus band index
    // AND against itself, the corpus is never re-paired with itself. See
    // Dedup.lshVerifiedIncremental for the stored-index scale contract.
    // J >= 0.9: an ingest gate wants near-identical copies, not the 0.5
    // analysis threshold.
    "llm_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val split = docs.agg((max("doc_id") - 99).as("split_id"))
      val withS = docs.crossJoin(broadcast(split))
      Dedup.lshVerifiedIncremental(s,
        corpus = withS.where(col("doc_id") < col("split_id")).drop("split_id"),
        batch = withS.where(col("doc_id") >= col("split_id")).drop("split_id"),
        threshold = 0.9)
        .select(col("a_id").as("new_id"), col("b_id").as("dup_of"), col("jacc"))
        .orderBy("new_id", "dup_of")
    }),

    // K2b — MinHash+LSH candidate generation (shared Dedup.bandKeys: 8
    // seeded-md5 hashes, 2 bands x 4 rows; capture follows the S-curve
    // 1-(1-J^4)^2 — ~50% at J≈0.74, ~75% at J≈0.84 — tuned so highly
    // similar corpora don't flood the candidate set). Candidate pairs =
    // docs sharing any band key via an equi-join; the band table is
    // dimension-sized so the planner broadcasts it on its own. (Packing
    // the pair into one long was measured and bought nothing — the
    // aggregation is not shuffle-width-bound at this scale.)
    // K4b — MinHash estimate vs ground truth: for a bounded doc sample,
    // the 8-hash signature agreement fraction next to the exact token
    // Jaccard — the empirical accuracy check on the sketch the whole LSH
    // family rides on. Deterministic (seeded md5), so fully oracle-checked
    // — sketch ESTIMATES here are cross-engine reproducible, unlike HLL's.
    "llm_minhash_est" -> ((s, d) => {
      val tok = tokensDistinct(s, d).where(col("doc_id") < 100).select("doc_id", "token")
      val mhCols = (0 until 8).map(i => min(md5(concat(lit(s"$i:"), col("token")))).as(s"mh$i"))
      val sig = tok.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
      val n = tok.groupBy("doc_id").agg(count(lit(1)).as("ntok"))
      val inter = tok.as("a")
        .join(tok.as("b"),
          col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("ni"))
      val sa = sig.select(col("doc_id").as("a_id") +: (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
      val sb = sig.select(col("doc_id").as("b_id") +: (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
      inter
        .join(n.select(col("doc_id").as("a_id"), col("ntok").as("na")), "a_id")
        .join(n.select(col("doc_id").as("b_id"), col("ntok").as("nb")), "b_id")
        .join(sa, "a_id").join(sb, "b_id")
        .withColumn("n_match",
          (0 until 8).map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _))
        .select(col("a_id"), col("b_id"),
          round(col("ni").cast("double") / (col("na") + col("nb") - col("ni")), 4).as("jacc"),
          col("n_match"),
          round(col("n_match") / lit(8.0), 4).as("est"))
        .orderBy("a_id", "b_id")
    }),

    // K4b'' — WEIGHTED minhash estimator (added r11; the replication
    // construction — an integer-weighted set element of weight w becomes
    // w replicas token:0..token:w−1, and plain minhash over the expanded
    // universe estimates the WEIGHTED Jaccard Σmin(w_a,w_b)/Σmax(w_a,w_b)
    // — the frequency-aware similarity tf-blind minhash cannot see:
    // "word word word spam" vs one "word" is near-identical to a set
    // sketch but not to a weighted one). Weights = term frequency capped
    // at 4 (the cap bounds the expansion factor — the production knob
    // that keeps sketch cost ≤ 4× the set sketch at any corpus). Same
    // doc_id < 100 evaluation slice and 8-hash layout as
    // `llm_minhash_est`, so set-Jaccard, weighted-Jaccard, and the
    // estimate sit side by side; Σmax via the identity Σmax = T_a + T_b
    // − Σmin (no full outer join needed — the shared-token inner join
    // plus two per-doc totals suffice).
    "llm_minhash_weighted" -> ((s, d) => {
      val tf = Tables.documents(s, d).where(col("doc_id") < 100)
        .select(col("doc_id"),
          explode(array_remove(split(col("text"), " "), lit(""))).as("token"))
        .groupBy("doc_id", "token")
        .agg(least(count(lit(1)), lit(4L)).as("w"))
      val reps = tf.select(col("doc_id"), col("token"),
        explode(sequence(lit(0L), col("w") - 1)).as("rep"))
      val mhCols = (0 until 8).map(i => min(md5(concat(lit(s"$i:"),
        col("token"), lit(":"), col("rep").cast("string")))).as(s"mh$i"))
      val sig = reps.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
      val tot = tf.groupBy("doc_id").agg(sum("w").as("tw"))
      val inter = tf.as("a")
        .join(tf.as("b"),
          col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(sum(least(col("a.w"), col("b.w"))).as("wmin"))
      val sa = sig.select(col("doc_id").as("a_id") +: (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
      val sb = sig.select(col("doc_id").as("b_id") +: (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
      inter
        .join(tot.select(col("doc_id").as("a_id"), col("tw").as("ta")), "a_id")
        .join(tot.select(col("doc_id").as("b_id"), col("tw").as("tb")), "b_id")
        .join(sa, "a_id").join(sb, "b_id")
        .withColumn("n_match",
          (0 until 8).map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _))
        .select(col("a_id"), col("b_id"), col("wmin"),
          round(col("wmin").cast("double") / (col("ta") + col("tb") - col("wmin")), 4)
            .as("wjacc"),
          col("n_match"),
          round(col("n_match") / lit(8.0), 4).as("est"))
        .orderBy("a_id", "b_id")
    }),

    // K4b' — b-BIT MINHASH estimator (added r10; Li & König 2010): the
    // memory-optimal end of the signature spectrum — store only the
    // LOWEST b bits of each minhash value (b=4 here: the final hex
    // nibble) and correct for accidental collisions: non-matching mins
    // still agree on b bits with probability C = 2⁻ᵇ, so
    // Ĵ = (match_frac − C)/(1 − C). 32× smaller signatures than the md5
    // strings at a quantified variance cost — at 100 TB the signature
    // TABLE is itself storage-priced, and this is the published knob.
    // Same doc_id < 100 evaluation slice as `llm_minhash_est` so the
    // full-width and b-bit estimators are side-by-side comparable
    // against true Jaccard; the nibble compare (last hex char —
    // string-equal ⟺ value-equal) and the debias are exact integer /
    // single-IEEE-divide work, floor-quantized.
    "llm_minhash_bbit" -> ((s, d) => {
      val tok = tokensDistinct(s, d).where(col("doc_id") < 100).select("doc_id", "token")
      val mhCols = (0 until 8).map(i => min(md5(concat(lit(s"$i:"), col("token")))).as(s"mh$i"))
      val sig = tok.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
      val nib = (0 until 8).foldLeft(sig) { (acc, i) =>
        acc.withColumn(s"v$i", expr(s"substring(mh$i, 32, 1)"))
      }
      val n = tok.groupBy("doc_id").agg(count(lit(1)).as("ntok"))
      val inter = tok.as("a")
        .join(tok.as("b"),
          col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("ni"))
      val sa = nib.select(col("doc_id").as("a_id") +:
        (0 until 8).flatMap(i => Seq(col(s"mh$i").as(s"am$i"), col(s"v$i").as(s"av$i"))): _*)
      val sb = nib.select(col("doc_id").as("b_id") +:
        (0 until 8).flatMap(i => Seq(col(s"mh$i").as(s"bm$i"), col(s"v$i").as(s"bv$i"))): _*)
      inter
        .join(n.select(col("doc_id").as("a_id"), col("ntok").as("na")), "a_id")
        .join(n.select(col("doc_id").as("b_id"), col("ntok").as("nb")), "b_id")
        .join(sa, "a_id").join(sb, "b_id")
        .withColumn("n_match_full",
          (0 until 8).map(i => when(col(s"am$i") === col(s"bm$i"), 1).otherwise(0)).reduce(_ + _))
        .withColumn("n_match_4bit",
          (0 until 8).map(i => when(col(s"av$i") === col(s"bv$i"), 1).otherwise(0)).reduce(_ + _))
        .select(col("a_id"), col("b_id"),
          round(col("ni").cast("double") / (col("na") + col("nb") - col("ni")), 4).as("jacc"),
          col("n_match_full"), col("n_match_4bit"),
          round(col("n_match_full") / lit(8.0), 4).as("est_full"),
          // debias: (m/8 − 1/16) / (15/16), clamped at 0 (a pair can
          // undershoot the collision floor by chance)
          (floor(greatest(
            (col("n_match_4bit").cast("double") / 8.0 - 1.0 / 16.0) / (15.0 / 16.0),
            lit(0.0)) * 1e4) / 1e4).as("est_4bit"))
        .orderBy("a_id", "b_id")
    }),

    // K4c — LSH tuning curve against observed pair mass (added r5): the
    // capacity-planning readout a banded index is re-tuned FROM — per
    // 0.05 similarity bucket, how many exact-Jaccard pairs the corpus
    // holds and what fraction a (b=2 bands × r=4 rows) banding captures:
    // p = 1−(1−s⁴)², expected misses = n·(1−p). At 100 TB re-banding is
    // a full corpus re-shuffle, so (b,r) is chosen from this table, not
    // by re-running dedup and diffing survivors. Pair mass comes from
    // the same sparse shingle equi-join as llm_dedup_ngram
    // (collision-bound, never doc-pairs²). Cross-engine determinism: the
    // S-curve is pure *,− arithmetic on bucket/20 — bit-identical IEEE
    // doubles in both engines — deliberately avoiding pow(), whose libm
    // rounding differs by 1 ulp across runtimes.
    "llm_lsh_curve" -> ((s, d) => {
      val j = col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter"))
      val bucketed = shingleInter(s, d)
        .select(least(floor(j * 20).cast("int"), lit(19)).as("bucket"))
      val sLo = col("bucket").cast("double") / lit(20.0)
      val s4 = sLo * sLo * sLo * sLo
      val miss1 = lit(1.0) - s4            // per-band miss probability
      val p = lit(1.0) - miss1 * miss1     // capture with b=2 bands
      bucketed.groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        .withColumn("sim_lo", sLo)
        .withColumn("p_capture", round(p, 6))
        .withColumn("exp_missed", round(col("n_pairs") * (lit(1.0) - p), 3))
        .select("bucket", "sim_lo", "n_pairs", "p_capture", "exp_missed")
        .orderBy("bucket")
    }),

    "llm_dedup_minhash" -> ((s, d) => {
      // band table checkpointed before the self-join (two reads) — the
      // foreach-measured trade lshVerified's staged route documents; the
      // pair-sized result stays lazy (checkpointing IT was measured to
      // give the recompute win back), the doc-sized band block is
      // GC-reclaimed once the consumer drops the frame
      val bands = Checkpoints.stage(Dedup.bandKeys(tokensDistinct(s, d)))
      val l = bands.select(col("doc_id").as("a_id"), col("band_i"), col("band_v"))
      val r = bands.select(col("doc_id").as("b_id"), col("band_i").as("bi2"), col("band_v").as("bv2"))
      l.join(r, col("band_i") === col("bi2") && col("band_v") === col("bv2")
          && col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_bands"))
        .orderBy("a_id", "b_id")
    }),

    // K2a' — ONE-PERMUTATION HASHING MinHash (added r10; Li, Owen, Zhang
    // 2012 + Shrivastava & Li 2014 rotation densification): the
    // production-cost variant of `llm_dedup_minhash` — each token hashed
    // ONCE (60-bit md5 prefix), binned by h mod 8, per-bin min = the
    // signature slot; empty bins borrow circularly rightward with a
    // k·1e17 per-step offset so equal token sets keep equal signatures
    // and borrow distances can't alias. At 100 TB the k-hash scan IS the
    // minhash bill; OPH divides that pass by k (here 8×) for the same
    // banding recall curve. Same 2×4 band equi-join and pair readout as
    // the classic key, so the two candidate generators are directly
    // comparable; DedupSpec pins the densification semantics
    // (single-token doc = fully borrowed signature) and the equal-set ⇒
    // equal-signature contract. Deterministic: md5 bit-identical on both
    // engines, mins and borrows exact longs.
    "llm_dedup_oph" -> ((s, d) => {
      val slots = Dedup.ophSlots(tokensDistinct(s, d))
      val bands = slots.select(col("doc_id"), posexplode(array(
        md5(concat_ws(":", (0 until 4).map(j => col(s"t$j").cast("string")): _*)),
        md5(concat_ws(":", (4 until 8).map(j => col(s"t$j").cast("string")): _*)))))
        .toDF("doc_id", "band_i", "band_v")
        .transform(Checkpoints.stage) // doc-grain ×2, read twice by the self-join
      val l = bands.select(col("doc_id").as("a_id"), col("band_i"), col("band_v"))
      val r = bands.select(col("doc_id").as("b_id"),
        col("band_i").as("bi2"), col("band_v").as("bv2"))
      l.join(r, col("band_i") === col("bi2") && col("band_v") === col("bv2")
          && col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_bands"))
        .orderBy("a_id", "b_id")
    }),

    // K2b' — n-gram Jaccard near-dup: 3-token shingle sets, Jaccard >= 0.5.
    // Shingles are near-unique, so the shared-shingle equi-join is sparse:
    // candidate generation cost follows true similarity, not n². This is
    // the scalable exact path when token-level blocking is too coarse.
    "llm_dedup_ngram" -> ((s, d) => {
      shingleInter(s, d)
        .withColumn("jacc", col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
        .where(col("jacc") >= 0.5)
        .select(col("a_id"), col("b_id"), round(col("jacc"), 4).as("jacc"))
        .orderBy("a_id", "b_id")
    }),

    // K2b'' — stop-shingle (DF-capped) containment (added r4): the same
    // containment readout computed over the DISCRIMINATIVE shingle space
    // — shingles present in more than 25 documents are dropped before
    // pairing. This is the standard near-dup scale defense: a ubiquitous
    // shingle (boilerplate, template headers) generates ~df²/2 candidate
    // pairs while discriminating nothing, and the stress probe measured
    // exactly that blow-up (206 s / 229 k pairs at the dup-dense 10×
    // corpus for the uncapped key). The cap bounds per-shingle fan-out to
    // maxDf²/2 — the pair volume becomes tunable instead of
    // corpus-shaped. Per-doc totals are recomputed over the capped
    // universe, so containment stays a true fraction of the compared
    // sets; fully deterministic (the cap is an exact df groupBy).
    "llm_dedup_stopgram" -> ((s, d) => {
      shingleInter(s, d, maxDf = Some(25L))
        .withColumn("cont_a", col("n_inter").cast("double") / col("n_a"))
        .withColumn("cont_b", col("n_inter").cast("double") / col("n_b"))
        .where(col("cont_a") >= 0.8 || col("cont_b") >= 0.8)
        .select(col("a_id"), col("b_id"), col("n_inter"), col("cont_a"), col("cont_b"))
        .orderBy("a_id", "b_id")
    }),

    // K2b''' — ADAPTIVE stop-shingle containment (added r5): the same
    // containment readout with the cap derived from the corpus itself
    // (ops.StopShingles.percentileCap): drop at most the top (1−p)
    // fraction of shingles by df, whole df-groups only — exact, tie-safe,
    // and computable from the df HISTOGRAM (distinct df values, tiny at
    // any corpus size). p=0.9 here so the walk actively drops groups at
    // fixture vocabulary (the production default is 0.999+ — the budget
    // scales with vocabulary); the oracle replays the identical
    // walk in SQL (desc cumulative over the histogram), so the threshold
    // arithmetic itself is cross-engine-proven, not just the readout.
    "llm_dedup_stopgram_auto" -> ((s, d) => {
      shingleInter(s, d, percentileDf = Some(0.9))
        .withColumn("cont_a", col("n_inter").cast("double") / col("n_a"))
        .withColumn("cont_b", col("n_inter").cast("double") / col("n_b"))
        .where(col("cont_a") >= 0.8 || col("cont_b") >= 0.8)
        .select(col("a_id"), col("b_id"), col("n_inter"), col("cont_a"), col("cont_b"))
        .orderBy("a_id", "b_id")
    }),

    // K2b' — containment dedup (added r4): |A∩B|/|A| and |A∩B|/|B| over
    // the same 3-gram shingle sets — the ASYMMETRIC signal Jaccard
    // structurally misses: a short doc fully quoted inside a much longer
    // one has tiny Jaccard (union is large) but containment ≈ 1 on the
    // short side, and it is exactly the "page embeds the whole article"
    // duplication a crawl produces. Same sparse shingle equi-join as the
    // ngram key (shared shingleInter — candidates come from shared
    // shingles, never doc-pairs²); containments are single IEEE divides
    // of exact counts; keep pairs where either side is ≥ 0.8-contained.
    "llm_dedup_containment" -> ((s, d) => {
      shingleInter(s, d)
        .withColumn("cont_a", col("n_inter").cast("double") / col("n_a"))
        .withColumn("cont_b", col("n_inter").cast("double") / col("n_b"))
        .where(col("cont_a") >= 0.8 || col("cont_b") >= 0.8)
        .withColumn("jacc", round(col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter")), 4))
        .select(col("a_id"), col("b_id"), col("n_inter"),
          col("cont_a"), col("cont_b"), col("jacc"))
        .orderBy("a_id", "b_id")
    }),

    // K2e' — repeated-SPAN detection (exact-substring dedup at shingle
    // granularity, added r4 — the Lee et al. "Deduplicating Training Data
    // Makes Language Models Better" signal): token-Jaccard keys miss a
    // verbatim 50-token quote inside two otherwise-different docs; this
    // key reports doc pairs sharing a CONTIGUOUS run of ≥ 4 overlapping
    // 5-gram shingles (≥ 8-token verbatim span) and the longest such span.
    // Shape: positional shingle equi-join (sparse, sub-quadratic — same
    // candidate discipline as the ngram key) → per-(pair, diagonal)
    // gaps-and-islands (run = consecutive positions at constant ai−bj,
    // the classic rowNumber-difference trick) → max island per pair.
    // Repeated shingles within a doc yield one row per alignment
    // (separate diagonals), exactly what substring matching wants. At
    // 100 TB: shuffle volume tracks shingle-collision volume (true
    // verbatim overlap), never doc-pairs².
    "llm_dedup_span" -> ((s, d) => {
      val k = 5
      val sh = Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .where(size(col("toks")) >= k)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), size(col("toks")) - k),
            i => concat_ws(" ", (0 until k).map(o => element_at(col("toks"), i + o + 1)): _*)))
            .as(Seq("pos", "sh")))
      val a = sh.select(col("doc_id").as("a_id"), col("pos").as("ai"), col("sh"))
      val b = sh.select(col("doc_id").as("b_id"), col("pos").as("bj"), col("sh").as("b_sh"))
      val w = Window.partitionBy("a_id", "b_id", "diag").orderBy("ai")
      a.join(b, col("sh") === col("b_sh") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("ai"), (col("ai") - col("bj")).as("diag"))
        .withColumn("island", col("ai") - row_number().over(w))
        .groupBy("a_id", "b_id", "diag", "island")
        .agg(count(lit(1)).as("run"))
        .groupBy("a_id", "b_id")
        .agg((max(col("run")) + lit(k - 1)).as("span_tokens"))
        .where(col("span_tokens") >= k + 3)
        .orderBy("a_id", "b_id")
    }),

    // K2d — embedding-cosine near-dup: vector pairs above a cosine
    // threshold (semantic duplicates; production corpora use ~0.99, this
    // corpus's random embeddings top out near 0.51 so the demo threshold
    // is 0.45). Exact all-pairs at or under PairJoinGate (measured);
    // above it the pair join blocks on the llm_ann_bucket sign cell —
    // an equi-join reporting same-cell pairs only, the ANN recall trade.
    "llm_dedup_embed" -> ((s, d) => dedupEmbed(s, d, PairJoinGate)),

    // K2a' — dedup clusters: connected components over near-identical
    // pairs (Jaccard >= 0.9 — merging transitively at lower thresholds
    // would chain half-similar docs into one blob), electing min doc_id
    // as each cluster's canonical copy — the "keep one" step real dedup
    // ends with. Pairs come from the LSH-verified path, so the flagship
    // clustering key is sub-quadratic END-TO-END: band equi-join
    // candidates → exact-Jaccard verify → pointer-jump components (O(log
    // diameter) rounds; same cost as plain propagation on dense
    // near-clique graphs, measured 3.8 vs 4.0 s at sf0.1). Both cluster
    // routines accept any pair source. DedupSpec verifies both against
    // union-find.
    "llm_dedup_clusters" -> ((s, d) => {
      // lazy at 0.9: the pointer jump copies the pairs into its own edge
      // checkpoint, so the pair plan executes exactly ONCE — at the 0.9
      // dedupLate shape that single lazy execution benched 5.7 s vs 7.8 s
      // for the staged route (the staging win is the multi-read 0.5 path)
      val pairs = Dedup.lshVerified(s, Tables.documents(s, d), threshold = 0.9,
        presentationSort = false)
      val comp = Dedup.clustersPointerJump(pairs)
      comp.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"), min("id").as("canonical_id"))
        .orderBy("cluster_id")
    }),

    // K2h — SOFT deduplication weights (added r11): downweight instead
    // of drop — the alternative to `llm_dedup_survivors`' keep-one
    // policy that several corpus pipelines prefer (duplicated mass gets
    // equalized, weight = 1/|dup cluster|, so the training distribution
    // stays unbiased while no document is discarded outright; the
    // survivors key's hard drop is the p→0 limit). Same verified-pair
    // graph + pointer-jump components as the clusters/survivors keys
    // (one cluster machinery, three policies); singletons weight 1.0
    // via the survivors key's LEFT-join coalesce. Weight is one IEEE
    // divide floor-1e-6; per-source effective sizes are then a trivial
    // rollup downstream (Σ weight — deliberately left to the consumer,
    // the key keeps doc grain).
    "llm_dedup_soft" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.lshVerified(s, docs, threshold = 0.9,
        presentationSort = false)
      val comp = Dedup.clustersPointerJump(pairs)
      val assigned = docs.select(col("doc_id"), col("source"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val sizes = assigned.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      assigned.join(sizes, "cluster_id")
        .select(col("doc_id"), col("source"), col("cluster_id"), col("n_members"),
          (floor(lit(1e6) / col("n_members").cast("double")) / 1e6).as("weight"))
        .orderBy("doc_id")
    }),

    // K5e2 — unigram-LM perplexity proxy (the CCNet/KenLM quality-filter
    // shape): corpus unigram distribution → per-doc mean negative
    // log-likelihood. Docs far from the corpus distribution (high avg_nll)
    // are the "surprising" ones a perplexity filter drops. The unigram
    // table is dictionary-sized so it broadcasts; the 1-row total joins as
    // a broadcast cross join (exact integer, no float-order drift) —
    // the corpus side streams through both, linear at 100 TB.
    "llm_perplexity" -> ((s, d) => {
      val tok = tokensAll(s, d).select("doc_id", "token")
      val counts = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = tok.agg(count(lit(1)).as("total"))
      // no broadcast hint on counts: the unigram table is vocabulary-sized,
      // which can exceed broadcast limits on a web corpus — AQE broadcasts
      // it at runtime whenever it actually fits (the same gate philosophy
      // as Dedup.LargeVocab); only the 1-row total is forced
      tok.join(counts, "token")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(-log(col("cnt").cast("double") / col("total"))), 4).as("avg_nll"))
        .orderBy("doc_id")
    }),

    // K5f — text redaction (PII-scrubbing shape): numbers masked, long
    // tokens truncated; emits the redacted-text hash + redaction count so
    // the compare stays compact and deterministic.
    "llm_redact" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("red", regexp_replace(
          regexp_replace(col("text"), "[0-9]+", "<num>"),
          "[a-z]{10,}", "<long>"))
        .select(col("doc_id"), md5(col("red")).as("redacted_hash"),
          (size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
            + size(regexp_extract_all(col("text"), lit("[a-z]{10,}"), lit(0)))).as("n_redactions"))
        .orderBy("doc_id")
    }),

    // K2c — 16-bit SimHash per document from token md5 bits: bit j of the
    // signature is the sign of sum over tokens of (+1/-1 by the token
    // hash's bit j). One shuffle on doc_id; signature is a compact near-dup
    // sketch (hamming distance ≤ r ⇒ candidate).
    "llm_dedup_simhash" -> ((s, d) => {
      simhashes(s, d).select("doc_id", "simhash").orderBy("doc_id")
    }),

    // K2c' — the matching candidate step: same-lang pairs whose signatures
    // differ in ≤ 3 of 16 bits, hamming via one codegen'd bit_count(xor).
    // Under PairJoinGate: broadcast pair join; above: band-keyed equi-join
    // + lang filter — identical rows either way (pigeonhole recall is
    // exact at r=3), so the gate swaps plan shape, never results.
    "llm_dedup_simhash_pairs" -> ((s, d) => simhashPairs(s, d, PairJoinGate)),

    // K2c'' — SimHash LSH banding: the sub-quadratic ending for the
    // SimHash route. The 16-bit signature splits into 4 bands of 4 bits;
    // a pair at hamming distance <= 3 differs in at most 3 bands, so at
    // least one band survives intact (pigeonhole) — the band equi-join
    // therefore finds EVERY such pair: 100% recall by construction, with
    // candidate generation an equi-join exactly like MinHash-LSH bands
    // (the scheme llm_dedup_simhash_pairs' brute-force demo stands in
    // for). Content-driven, not lang-blocked, like the LSH family; the
    // hamming verify on candidates is one codegen'd bit_count(xor).
    // Fixture capped at SimhashDemoCap (r12): the 16-bit width is the
    // declared demo constraint, and past n ≈ 2^16 its 64 band cells make
    // candidate volume quadratic by construction — the production-width
    // route is llm_dedup_simhash64.
    "llm_dedup_simhash_lsh" -> ((s, d) => {
      val bands = simhashBands(simhashes(s, d).where(col("doc_id") < SimhashDemoCap))
      val l = bands.select(col("doc_id").as("a_id"), col("simhash").as("a_sim"),
        col("band_i"), col("band_v"))
      val r = bands.select(col("doc_id").as("b_id"), col("simhash").as("b_sim"),
        col("band_i").as("bi2"), col("band_v").as("bv2"))
      // hamming filter BEFORE the distinct: the verify is codegen'd
      // arithmetic on the join output, so dropping far pairs early means
      // the dedup exchange carries only survivors (≈4 rows per near-dup
      // pair) instead of every band collision — measured ~7× fewer rows
      // through the distinct at sf0.1
      l.join(r, col("band_i") === col("bi2") && col("band_v") === col("bv2")
          && col("a_id") < col("b_id"))
        .withColumn("hamming", expr("CAST(bit_count(a_sim ^ b_sim) AS INT)"))
        .where(col("hamming") <= 3)
        .select("a_id", "b_id", "hamming").distinct()
        .orderBy("a_id", "b_id")
    }),

    // K2c'''' — PRODUCTION-width SimHash dedup (64-bit, `ops.SimHash`,
    // added r4): the same 4-band pigeonhole scheme as the 16-bit demo key
    // but with 2^16-value bands, so random band collisions thin by three
    // orders of magnitude and the equi-join stays sub-quadratic at corpus
    // sizes where 16 bits degenerate (n ≫ 2^16). Runs the actual library
    // route (signatures → bandedPairs). Oracle-checkable despite DuckDB's
    // lack of unsigned 64-bit bit ops: hamming decomposes exactly over the
    // signature's two 32-bit halves (bit_count(hi⊕hi')+bit_count(lo⊕lo')),
    // and the oracle may brute-force all pairs because 4×16-bit banding
    // has 100% recall at hamming ≤ 3 (pigeonhole) — identical row sets.
    "llm_dedup_simhash64" -> ((s, d) => {
      val sigs = graft.ops.SimHash.signatures(
        Tables.documents(s, d).select("doc_id", "text"))
      graft.ops.SimHash.bandedPairs(sigs).orderBy("a_id", "b_id")
    }),

    // K3 — brute-force cosine top-k pairs (the correctness baseline for
    // similarity search; llm_ann_bucket is the bucketed scale path).
    // Norms are precomputed per vector; pair ordering uses the exact double
    // sim (bit-identical across engines: sequential double sums) with id
    // tie-breaks, so the LIMIT boundary is deterministic. Above
    // PairJoinGate the pair join blocks on the sign cell (equi-join; the
    // top-k then ranks same-cell candidates — the ANN recall trade).
    "llm_cosine_topk" -> ((s, d) => cosineTopK(s, d, PairJoinGate)),

    // K5h — T5-style span corruption (added r7, Raffel et al. 2020): the
    // denoising-objective data prep — ~1/8 of token positions seed a
    // 3-token mask span (overlaps merge), every MAXIMAL masked run
    // collapses to one numbered sentinel in the input and reappears after
    // its sentinel in the target. Masking is DETERMINISTIC (seeded md5 of
    // (doc_id, position) — a retried task or re-run corrupts identically,
    // the agg_dp_counts reproducibility argument), and the span algebra
    // is windowed, not sequential: covered(p) = any seed in [p−2, p]
    // (3-wide max window), runstart = covered ∧ ¬covered(p−1), sentinel
    // id = running runstart count — so the whole op is three in-doc
    // windows + one ordered string assembly, no per-doc iteration
    // anywhere. One doc-keyed shuffle; output (input_text, target_text,
    // counts) is what a seq2seq pretraining pipeline feeds the trainer.
    "llm_span_mask" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(array_remove(split(col("text"), " "), lit(""))))
        .withColumnRenamed("col", "token")
        .withColumn("pos", col("pos") + 1)
        .withColumn("starter", (expr(
          "md5_bits(concat(doc_id, ':', pos), 1, 15) % 8"
        ) === 0).cast("int"))
      val wCov = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-2, 0)
      val wOrd = Window.partitionBy("doc_id").orderBy("pos")
      val pieces = toks
        .withColumn("covered", (max("starter").over(wCov) === 1).cast("int"))
        .withColumn("runstart",
          (col("covered") === 1 &&
            coalesce(lag("covered", 1).over(wOrd), lit(0)) === 0).cast("int"))
        .withColumn("sid", sum("runstart").over(wOrd))
        .withColumn("in_piece",
          when(col("covered") === 0, col("token"))
            .when(col("runstart") === 1,
              concat(lit("<extra_id_"), col("sid").cast("string"), lit(">")))
            .otherwise(lit(null)))
        .withColumn("tgt_piece",
          when(col("runstart") === 1,
            concat(lit("<extra_id_"), col("sid").cast("string"), lit("> "), col("token")))
            .when(col("covered") === 1, col("token"))
            .otherwise(lit(null)))
      pieces.groupBy("doc_id").agg(
          count(lit(1)).as("n_tokens"),
          sum("covered").as("n_masked"),
          sum("runstart").as("n_spans"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(pos, in_piece))), x -> x.in_piece)"))
            .as("input_text"),
          nullif(concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(pos, tgt_piece))), x -> x.tgt_piece)")),
            lit("")).as("target_text"))
        .orderBy("doc_id")
    }),

    // K4b — hard-negative mining (added r7): per query vector, the 3 most
    // cosine-similar vectors carrying a DIFFERENT label — the contrastive-
    // training data op (in-batch random negatives are easy; the negatives
    // that actually move a retrieval/embedding model are the near-misses,
    // cf. DPR / ANCE). Exact cross-label pair scan at fixture scale (the
    // oracle's closed form); past HardNegGate — 10 000, deliberately 5×
    // UNDER the bitmask keys' PairJoinGate because the exact branch pays
    // a full 64-dim dot per pair (r8, r7 VERDICT #2) — the
    // production route is WIRED, not just documented: candidates come
    // from the occupancy-pinned IVF cell join (`llm_ivf_serve`'s index
    // policy, nprobe=2) with the label inequality pushed INTO the join —
    // per-query candidate volume is nprobe·occupancy (a constant), never
    // corpus²/256 like the sign-cell block this replaced (whose 256
    // fixed cells meant pairs ∝ n² — 13.2× wall at the r7 10× probe).
    // The recall trade is the ANN family's: negatives outside the probed
    // cells are missed, governed by the same nprobe knob as serving.
    // Total-order tie-break (sim DESC, id ASC) keeps the top-3
    // deterministic; sims round-4 at the edge.
    "llm_hard_negatives" -> ((s, d) => {
      val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
      labelPairSims(s, d, sameLabel = Some(false))
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
        .select(col("q_id").as("vec_id"), col("q_label"),
          col("c_id").as("neg_id"), col("c_label").as("neg_label"),
          col("rank"), round(col("sim"), 4).as("sim"))
        .orderBy("vec_id", "rank")
    }),

    // K2g' — anchor–positive mining (added r8): the other half of the
    // contrastive-training data `llm_hard_negatives` mines — per anchor
    // the TOP-1 most similar SAME-label vector (the paper-standard
    // positive for triplet/InfoNCE training; the margin readout joins
    // this to the negatives key downstream). Identical architecture to
    // the negatives twin with the label predicate flipped: below the
    // shared HardNegGate an exact label-blocked pair join (both oracle
    // scales), above it the occupancy-pinned IVF cell join with
    // `q_label === c_label` pushed into the join — candidate volume
    // bounded by cell occupancy, the flat-serving policy. Total-order
    // tie-break (sim DESC, id ASC); sims round-4.
    "llm_positive_pairs" -> ((s, d) => {
      val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
      labelPairSims(s, d, sameLabel = Some(true))
        .withColumn("rank", row_number().over(w)).where(col("rank") === 1)
        .select(col("q_id").as("vec_id"), col("q_label"),
          col("c_id").as("pos_id"), round(col("sim"), 4).as("sim"))
        .orderBy("vec_id")
    }),

    // K2g'' — triplet margin readout (added r8): the readout the
    // positives key's doc promises — join each anchor's top-1 positive
    // (same label, `llm_positive_pairs`' rank-1) with its top-1 hard
    // negative (`llm_hard_negatives`' rank-1) and report the triplet
    // margin sim(a,p) − sim(a,n), plus the violation flag against the
    // standard margin m = 0.2 (violations are the triplets that
    // contribute loss — the fraction violating is the dataset-level
    // "hardness" a curriculum scheduler reads). Both sides come from the
    // one shared `labelPairSims` plan (same gate, same tie-break), so
    // the key is two window top-1s + an anchor-keyed equi-join — no new
    // pair volume beyond the twins'. Margin is the IEEE difference of
    // the unrounded sims (identical on both engines), round-4 at the
    // edge like the sims themselves.
    "llm_triplet_margin" -> ((s, d) => {
      // ONE pair scan for both sides of the contrastive split (sameLabel
      // = None), ranked within (anchor, same-label?) — vs calling the
      // twins' plans separately this halves the join count at identical
      // total pair volume (same + cross label pairs partition all pairs).
      // The 2-rows-per-anchor top frame then folds to one row per anchor
      // with max(when(...)) — inner-join semantics via the null filter
      // (an anchor missing either side drops, matching the oracle).
      val w = Window.partitionBy("q_id", "same")
        .orderBy(col("sim").desc, col("c_id"))
      labelPairSims(s, d, sameLabel = None)
        .withColumn("same", col("q_label") === col("c_label"))
        .withColumn("rank", row_number().over(w)).where(col("rank") === 1)
        .groupBy(col("q_id").as("vec_id"), col("q_label"))
        .agg(
          max(when(col("same"), col("c_id"))).as("pos_id"),
          max(when(col("same"), col("sim"))).as("pos_raw"),
          max(when(!col("same"), col("c_id"))).as("neg_id"),
          max(when(!col("same"), col("sim"))).as("neg_raw"))
        .where(col("pos_id").isNotNull && col("neg_id").isNotNull)
        .select(col("vec_id"), col("q_label"),
          col("pos_id"), round(col("pos_raw"), 4).as("pos_sim"),
          col("neg_id"), round(col("neg_raw"), 4).as("neg_sim"),
          round(col("pos_raw") - col("neg_raw"), 4).as("margin"),
          (col("pos_raw") - col("neg_raw") < 0.2).as("violation"))
        .orderBy("vec_id")
    }),

    // K4 — k-NN majority label (k=5, self excluded): per query vector take
    // the 5 most similar, vote, tie-break lower label. Output also carries
    // the true label so accuracy is computable downstream.
    "llm_knn_label" -> ((s, d) => {
      // Exact 5-NN via the broadcast blocked scan (graft.ops.Knn): corpus
      // broadcast as primitive arrays, query partitions stream it with a
      // bounded (sim desc, id asc) buffer — no candidate-pair rows ever
      // materialize. KnnSpec pins this against the declarative pair-join +
      // TopKNeighbors-aggregator formulation (the shuffle-reduced exact
      // path that remains the answer when candidates are pre-blocked and
      // the corpus outgrows a broadcast).
      val top = graft.ops.Knn.topKCosine(Tables.embeddings(s, d), 5).toDF()
      val votes = top.groupBy(col("q_id"), col("true_label"), col("c_label"))
        .agg(count(lit(1)).as("votes"))
      val wV = Window.partitionBy("q_id").orderBy(col("votes").desc, col("c_label"))
      votes.withColumn("vr", row_number().over(wV)).where(col("vr") === 1)
        .select(col("q_id").as("vec_id"), col("c_label").as("pred_label"),
          col("true_label"), col("votes"))
        .orderBy("vec_id")
    }),

    // K5c — RAKE keyword extraction (Rose et al. 2010; added r8): the
    // classic unsupervised keyphrase extractor — candidate phrases are
    // maximal stopword-free token runs, each scored by Σ deg(w)/freq(w)
    // over its words (deg = co-occurrence degree: Σ phrase length over
    // the word's occurrences) — the "what is this document about" field
    // a document index stores beside tf-idf terms. The stop list is
    // CORPUS-ADAPTIVE (top-10 tokens by frequency, ties alphabetical —
    // the StopShingles philosophy: no hand-carried language asset), so
    // the key is deterministic from the corpus alone. Phrase splitting
    // is gaps-and-islands (running stopword count per doc); word scores
    // are single IEEE divides of exact ints; each phrase score folds its
    // words' scores in POSITION order (sorted-struct fold ↔ list(…ORDER
    // BY pos) — the centroid recipe); top-3 per doc, floor-1e-4. Scale
    // shape: two token-grain aggregations + a doc-keyed window — linear;
    // the stop list is a broadcast 10-row frame.
    "llm_rake_keywords" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(array_remove(split(col("text"), " "), lit(""))).as(Seq("pos", "token")))
      val stops = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(10)
        .select(col("token").as("stop"))
      val wP = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ph = tok.join(broadcast(stops), col("token") === col("stop"), "left")
        .withColumn("is_stop", col("stop").isNotNull.cast("int"))
        .withColumn("phrase_id", sum(col("is_stop")).over(wP))
        .where(col("is_stop") === 0)
        .select(col("doc_id"), col("phrase_id"), col("pos"), col("token"))
      val plen = ph.groupBy("doc_id", "phrase_id").agg(count(lit(1)).as("plen"))
      val phl = ph.join(plen, Seq("doc_id", "phrase_id"))
      val wscore = phl.groupBy("token")
        .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        .select(col("token"),
          (col("deg").cast("double") / col("freq").cast("double")).as("wscore"))
      val scored = phl.join(wscore, "token")
        .groupBy("doc_id", "phrase_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("token"),
          col("wscore")))).as("ws"))
        .select(col("doc_id"), col("phrase_id"),
          concat_ws(" ", transform(col("ws"), e => e.getField("token"))).as("phrase"),
          size(col("ws")).as("n_words"),
          aggregate(col("ws"), lit(0.0),
            (acc, e) => acc + e.getField("wscore")).as("score_raw"))
      val wT = Window.partitionBy("doc_id")
        .orderBy(col("score_raw").desc, col("phrase").asc, col("phrase_id").asc)
      scored.withColumn("rank", row_number().over(wT)).where(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("phrase"), col("n_words"),
          (floor(col("score_raw") * 1e4) / 1e4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // K5 — per-(lang, source) text statistics via the explode path.
    "llm_text_stats" -> ((s, d) => {
      tokensAll(s, d)
        .groupBy("lang", "source")
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).as("n_distinct"),
          round(avg(length(col("token"))), 4).as("avg_tok_len"))
        .orderBy("lang", "source")
    }),

    // K5b — corpus-driven language ID: per-language profile = top-20 tokens
    // by document frequency (tie-break token asc); each doc is classified
    // to the profile with the largest distinct-token overlap (tie-break
    // lang asc), 'und' when no profile token matches. The profile is tiny
    // (langs x 20 rows) — broadcast at any scale.
    "llm_lang_id" -> ((s, d) => langIdScored(s, d).orderBy("doc_id")),

    // K4c' — language-ID confusion matrix (added r4): the per-(true,
    // predicted) counts + within-truth share over the llm_lang_id
    // pipeline — the eval view that turns a per-doc correct flag into
    // "WHICH languages the classifier confuses" (the actionable number
    // when deciding profile size per language). Share is a single IEEE
    // divide of exact counts; the rollup input is the doc-level scored
    // table, so nothing here exceeds |langs|² rows after the groupBy.
    "llm_lang_confusion" -> ((s, d) => {
      val scored = langIdScored(s, d)
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      val totals = scored.groupBy("lang").agg(sum(col("n")).as("tot"))
      scored.join(totals, "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          (col("n").cast("double") / col("tot")).as("share"))
        .orderBy("lang", "pred_lang")
    }),

    // K5c — per-document quality scoring: token count, mean token length,
    // stopword ratio against a fixed list, long-word ratio, composite score.
    "llm_quality_score" -> ((s, d) => {
      val stop = Seq("the", "of", "and", "a", "to", "in", "is", "it")
      tokensAll(s, d)
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tok"),
          round(avg(length(col("token"))), 4).as("avg_len"),
          round(sum(when(col("token").isin(stop: _*), 1).otherwise(0)).cast("double")
            / count(lit(1)), 4).as("stop_ratio"),
          round(sum(when(length(col("token")) > 7, 1).otherwise(0)).cast("double")
            / count(lit(1)), 4).as("long_ratio"))
        // Exact decimal arithmetic (multiplication only): the weighted sum
        // can land exactly on a .00005 boundary where Spark (half-up) and
        // DuckDB (half-even) disagree on double rounding; decimals round
        // identically in both engines.
        .withColumn("score", expr(
          """CAST(round(CAST(0.025 AS DECIMAL(6,3)) * least(n_tok, 20)
            |  + CAST(0.3 AS DECIMAL(2,1)) * (1 - CAST(stop_ratio AS DECIMAL(18,4)))
            |  + CAST(0.2 AS DECIMAL(2,1)) * CAST(long_ratio AS DECIMAL(18,4)), 4) AS DOUBLE)""".stripMargin))
        .orderBy("doc_id")
    }),

    // K5c' — hashed-linear quality classifier scoring (added r8): the
    // fastText/DCLM-shaped op — every modern curation pipeline's quality
    // gate is "score every document with a linear model over hashed
    // token features, keep above threshold" (CCNet's fasttext LID,
    // GPT-3/DCLM quality classifiers), and the SERVING side of that is a
    // pure map: bucket = md5(token) mod 256, score = mean of the bucket
    // weights. Weights here are derived deterministically from md5 of
    // the bucket id (a stand-in for trained parameters — the plumbing,
    // batching and arithmetic are the production shape; swap the weight
    // expression for a broadcast weight-table join when a trained model
    // ships). ZERO-shuffle: per-doc score folds inside one codegen'd
    // HOF over the split array — no explode, no groupBy, embarrassingly
    // parallel at any corpus size (the final orderBy is presentation
    // only). Determinism at hash-match strictness: weights are exact
    // integer MICRO-UNITS summed as longs in array order (order-free and
    // exact where a float sum is neither); score is ONE IEEE divide,
    // floored to whole micro-units, /1e6 at the edge; keep-flag compares
    // the exact integer sum, so the decision boundary cannot straddle.
    "llm_quality_linear" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .where(size(col("toks")) > 0)
        .withColumn("wsum", expr(
          """aggregate(toks, CAST(0 AS BIGINT), (acc, t) -> acc
            |  + CAST(conv(substring(md5(concat('qw', CAST(
            |      CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 256
            |    AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1000001 - 500000)""".stripMargin))
        .select(col("doc_id"), col("lang"),
          size(col("toks")).cast("long").as("n_tok"),
          col("wsum").as("wsum_micro"),
          (floor(col("wsum").cast("double") / size(col("toks")).cast("double"))
            / 1e6).as("score"),
          (col("wsum") >= 0).cast("int").as("keep"))
        .orderBy("doc_id")
    }),

    // K5c'' — feature-hashed document embedding (added r8): the hashing
    // trick (Weinberger et al. 2009) — every token hashes to one of 16
    // dims with a ±1 sign from a second hash bit, the doc vector is the
    // signed count sum. The classic no-training baseline representation
    // (and the exact shape a trained hashed-linear model consumes —
    // `llm_quality_linear` is this embedding dotted with a weight
    // vector). EXACT end-to-end: contributions are ±1 integers, sums are
    // longs — no float anywhere, no rounding edge. One explode +
    // (doc, dim)-keyed groupBy with map-side partials — the shuffle
    // carries ≤16 partial longs per doc, linear at any corpus size.
    // Sparse output (occupied dims only), the storage-honest form.
    "llm_hash_embed" -> ((s, d) => {
      // r12: codegen md5_bits (identical values, DigestSpec) for the two
      // per-token digest-window extractions
      tokensAll(s, d)
        .select(col("doc_id"),
          (call_function("md5_bits", col("token"), lit(1), lit(8)) % 16).as("dim"),
          when(call_function("md5_bits", col("token"), lit(9), lit(1)) % 2 === 0,
            lit(1L)).otherwise(lit(-1L)).as("sgn"))
        .groupBy("doc_id", "dim").agg(sum("sgn").as("v"))
        .orderBy("doc_id", "dim")
    }),

    // K12e — DSIR importance weights (added r8): Data Selection via
    // Importance Resampling (Xie et al. 2023) — the published
    // data-selection method behind domain-targeted pretraining mixes.
    // Each doc is scored by how much more likely its tokens are under a
    // TARGET domain's hashed-unigram LM than under the raw corpus's:
    // w(doc) = Σ_tokens ln(p_tgt(bucket(t)) / p_raw(bucket(t))), with
    // 16 hashed buckets (llm_hash_embed's md5 feature space) and add-1
    // smoothing; target here = the 'en' slice (the stand-in seam for a
    // curated seed corpus, like llm_quality_linear's weight seam).
    // Scale shape: ONE token-counting scan reduces to a 16-row
    // bucket table (map-side partials; buckets densified 0..15 so empty
    // buckets smooth identically in both engines), the 16 log-ratios
    // collapse to a single broadcast array row, and SCORING is
    // zero-shuffle — a codegen'd sequential fold over each doc's token
    // list against the broadcast array (document order, both engines),
    // so the per-doc pass is embarrassingly parallel at any corpus size.
    // Determinism: the smoothed ratio is ONE ln of one IEEE divide of
    // exact integer products ((ct+1)·(Nr+16)) / ((cr+1)·(Nt+16)) —
    // identical op order both engines, cross-engine libm ulp drift
    // absorbed by the floor-1e-4 edge (the adamic_adar ln() argument).
    "llm_dsir_weights" -> ((s, d) => {
      // r13 (guide §4): both the bucket-counting scan and the per-doc
      // scoring fold hash through codegen md5_bits instead of the
      // interpreted conv(substring(md5(t),1,8),16,10) chain — identical
      // values (DigestSpec pins the chain equality), identical fold order
      // (the token-order HOF aggregate stays, only its per-token hash term
      // is swapped), so every dsir_w is bit-unchanged.
      val bucketOf: Column => Column = t =>
        (call_function("md5_bits", t, lit(1), lit(8)) % 16)
      val bc = tokensAll(s, d)
        .groupBy(bucketOf(col("token")).as("bucket"))
        .agg(count(lit(1)).as("cr"),
          count(when(col("lang") === "en", 1)).as("ct"))
      val dense = s.range(16).select(col("id").as("bucket"))
        .join(bc, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("cr"), lit(0L)).as("cr"),
          coalesce(col("ct"), lit(0L)).as("ct"))
      val tot = dense.agg(sum("cr").as("nr"), sum("ct").as("nt"))
      val la = dense.crossJoin(broadcast(tot))
        .select(col("bucket"),
          log(((col("ct") + 1L) * (col("nr") + 16L)).cast("double") /
            ((col("cr") + 1L) * (col("nt") + 16L)).cast("double")).as("w"))
        .agg(array_sort(collect_list(struct(col("bucket"), col("w")))).as("bw"))
        .select(transform(col("bw"), e => e.getField("w")).as("la"))
      Tables.documents(s, d)
        .crossJoin(broadcast(la))
        .select(col("doc_id"), col("lang"),
          size(array_remove(split(col("text"), " "), lit(""))).as("n_tok"),
          expr("""floor(aggregate(
            |  array_remove(split(text, ' '), ''), CAST(0.0 AS DOUBLE),
            |  (acc, t) -> acc + element_at(la,
            |    CAST(md5_bits(t, 1, 8) % 16 + 1 AS INT))
            |) * 10000) / 10000""".stripMargin).as("dsir_w"))
        .orderBy("doc_id")
    }),

    // K12d — deterministic shuffle + training-shard assignment (added
    // r8): the dataloader-facing op every training run needs — a
    // REPRODUCIBLE global permutation of the corpus (md5 of the doc id,
    // salted; rand() re-draws per retry, a hash never does) cut into
    // fixed-size shards of 64 docs with within-shard positions. The
    // global rank comes from `ops.Rank.withGlobalRank` — ONE range
    // exchange, local ranks lifted by broadcast prefix offsets; the only
    // partition-less window runs over the partitions-sized count table,
    // never the data (the win_analytic machinery, here at corpus grain).
    // shard/pos are pure integer arithmetic on the exact rank.
    "llm_shard_plan" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit("|shard"))).as("h"))
      graft.ops.Rank.withGlobalRank(docs, Seq(col("h"), col("doc_id")), "rk", "n_total")
        .select(col("doc_id"),
          expr("(rk - 1) div 64").as("shard"),
          ((col("rk") - lit(1)) % 64).as("pos"))
        .orderBy("doc_id")
    }),

    // K2h — per-source duplication report (added r8): the curation
    // dashboard number every corpus owner watches — how much of each
    // source is duplicate mass, and how much of it appears in OTHER
    // sources too (cross-source copying: mirrors, scrapes-of-scrapes —
    // the signal that tells you which source to drop, not just which
    // docs). Per source: docs, docs in a global exact-dup group (≥ 2
    // docs share the text md5), docs whose text appears in ≥ 2 distinct
    // sources, and the dup ratio (ONE IEEE divide of exact counts,
    // floor-1e-4). Two hash-keyed aggregations + a broadcast-sized join
    // back to docs — the llm_dedup_exact shape with a reporting rollup,
    // linear at any corpus size.
    "llm_dedup_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      val groups = docs.groupBy("h")
        .agg(count(lit(1)).as("g_docs"), countDistinct("source").as("g_srcs"))
      docs.join(groups, "h")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("g_docs") >= 2).cast("long")).as("dup_docs"),
          sum((col("g_srcs") >= 2).cast("long")).as("cross_src_docs"))
        .withColumn("dup_ratio",
          floor(col("dup_docs").cast("double") / col("n_docs").cast("double") * 1e4) / 1e4)
        .orderBy("source")
    }),

    // K1g — per-source dataset card (added r9): the one-stop manifest a
    // training-data pipeline publishes per ingested source — volume
    // (docs / tokens / chars), composition (distinct langs, majority lang
    // + its share), and shape (mean tokens per doc, short-doc fraction
    // under 20 tokens). Individual metrics exist as their own keys
    // (dedup_stats, text_stats, domain_mix); the card is the composition
    // a data-governance surface actually serves. Two source-keyed
    // aggregations (doc grain → source×lang grain → source grain), all
    // map-side partial, all exact ints until the floored ratio readouts —
    // linear at any corpus size.
    "llm_source_card" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          size(array_remove(split(col("text"), " "), lit(""))).cast("long").as("toks"))
      val byLang = docs.groupBy("source", "lang")
        .agg(count(lit(1)).as("n"), sum("toks").as("tok"), sum("n_chars").as("ch"),
          sum((col("toks") < 20).cast("long")).as("short"))
      val wTop = Window.partitionBy("source").orderBy(col("n").desc, col("lang"))
      val top = byLang.withColumn("rn", row_number().over(wTop))
        .where(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("n").as("top_n"))
      val card = byLang.groupBy("source")
        .agg(sum("n").as("n_docs"), sum("tok").as("n_tokens"),
          sum("ch").as("n_chars"), count(lit(1)).as("n_langs"),
          sum("short").as("n_short"))
      card.join(top, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
          col("n_langs"), col("top_lang"),
          (floor(col("top_n").cast("double") / col("n_docs").cast("double") * 1e4) / 1e4)
            .as("top_lang_share"),
          (floor(col("n_tokens").cast("double") / col("n_docs").cast("double") * 1e4) / 1e4)
            .as("avg_tokens"),
          (floor(col("n_short").cast("double") / col("n_docs").cast("double") * 1e4) / 1e4)
            .as("short_frac"))
        .orderBy("source")
    }),

    // Bigram-LM scoring — the Markov step past `llm_perplexity`'s unigram
    // model (the KenLM-shaped fluency signal corpus filters actually use):
    // per-doc average conditional NLL −ln c(w1,w2)/c(w1·) under the
    // corpus's own MLE bigram model (self-scoring, so no OOV zeros).
    // Plan shape matches perplexity: the bigram/context tables are
    // vocabulary-sized and deliberately NOT force-broadcast (AQE picks
    // broadcast when they fit); two equi-joins on the exploded bigram
    // stream, partial aggs map-side.
    "llm_bigram_nll" -> ((s, d) => {
      val bg = Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .where(size(col("toks")) >= 2)
        .withColumn("z", arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1)))
        .select(col("doc_id"), explode(col("z")).as("b"))
        .select(col("doc_id"), col("b.0").as("w1"), col("b.1").as("w2"))
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
      bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(-log(col("c2").cast("double") / col("c1"))), 4).as("avg_nll"))
        .orderBy("doc_id")
    }),

    // K — Jelinek–Mercer interpolated bigram LM (added r9): the smoothing
    // rung above `llm_bigram_nll`'s raw MLE — p(w₂|w₁) = λ·p_ML(w₂|w₁) +
    // (1−λ)·p_uni(w₂) at λ=0.5, the KenLM-family construction a corpus
    // filter actually deploys (raw MLE assigns unseen bigrams zero; the
    // unigram back-off floor is what makes the score usable on new text —
    // self-scored here, so the smoothing's effect is the score shift the
    // spec pins). Same plan shape as bigram_nll plus one unigram join and
    // the one-row total broadcast; count tables vocabulary-sized, AQE
    // picks broadcast when they fit.
    "llm_ngram_lm_interp" -> ((s, d) => {
      val bg = Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .where(size(col("toks")) >= 2)
        .withColumn("z", arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1)))
        .select(col("doc_id"), explode(col("z")).as("b"))
        .select(col("doc_id"), col("b.0").as("w1"), col("b.1").as("w2"))
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
      val tok = tokensAll(s, d)
      val cu = tok.groupBy("token").agg(count(lit(1)).as("cu"))
        .withColumnRenamed("token", "w2")
      val total = tok.agg(count(lit(1)).as("total"))
      bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")).join(cu, Seq("w2"))
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(-log(lit(0.5) * (col("c2").cast("double") / col("c1"))
            + lit(0.5) * (col("cu").cast("double") / col("total")))), 4)
            .as("avg_nll_interp"))
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity bucketing (Wenzek et al.): per-language
    // head/middle/tail terciles of the unigram avg-NLL — the standard
    // corpus-curation split (keep head, sample middle, drop tail). The
    // rank is per-lang ntile(3) over the SAME rounded avg_nll the
    // llm_perplexity oracle already hash-matches, doc_id tie-break, so
    // the tile boundary is deterministic across engines. One extra
    // lang-keyed window over the perplexity aggregation — no new
    // shuffle shape beyond the unigram join.
    "llm_ppl_bucket" -> ((s, d) => {
      val tok = tokensAll(s, d).select("doc_id", "lang", "token")
      val counts = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = tok.agg(count(lit(1)).as("total"))
      // unigram table deliberately NOT force-broadcast (vocabulary-sized
      // at web scale) — same AQE stance as llm_perplexity
      val nll = tok.join(counts, "token")
        .crossJoin(broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(round(avg(-log(col("cnt").cast("double") / col("total"))), 4).as("avg_nll"))
      val w = Window.partitionBy("lang").orderBy(col("avg_nll").asc, col("doc_id"))
      nll.withColumn("tile", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("avg_nll"),
          when(col("tile") === 1, "head")
            .when(col("tile") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }),

    // The Gopher quality-rule set (Rae et al. 2021, App. A1.1) — the
    // canonical document filter battery, one flag per rule plus the
    // conjunction: word count in [50, 100k], mean word length in [3, 10],
    // symbol-to-word ratio (# and …) ≤ 0.1, ≤90% bullet-started lines,
    // ≤30% ellipsis-ended lines, ≥80% words with an alphabetic char,
    // ≥2 of the 8 canonical stopwords. Pure element-wise array math over
    // (text) — zero shuffles, whole-stage codegen, trivially 100 TB-safe.
    // Flag comparisons use raw int/int doubles (identical in both
    // engines); only the DISPLAYED ratios are floor-quantized (the
    // win_interpolate idiom — round() HALF_UP-diverges on midpoints,
    // and count/count rationals DO land on 1e-4 midpoints).
    "llm_gopher_rules" -> ((s, d) => {
      val stop8 = array(Seq("the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)
      Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .withColumn("lines", split(col("text"), "\n"))
        .withColumn("n_words", size(col("toks")))
        .withColumn("n_lines", size(col("lines")))
        .withColumn("sum_len", aggregate(col("toks"), lit(0), (a, t) => a + length(t)))
        .withColumn("mean_len", col("sum_len").cast("double") / col("n_words"))
        .withColumn("n_sym",
          (length(col("text")) - length(replace(col("text"), lit("#"), lit("")))) +
          (length(col("text")) - length(replace(col("text"), lit("…"), lit("")))))
        .withColumn("n_bullet", size(filter(col("lines"),
          l => l.startsWith("-") || l.startsWith("•"))))
        .withColumn("n_ellip", size(filter(col("lines"),
          l => l.endsWith("…") || l.endsWith("..."))))
        .withColumn("n_alpha", size(filter(col("toks"), t => t.rlike("[A-Za-z]"))))
        .withColumn("n_stop", size(array_intersect(
          transform(col("toks"), t => lower(t)), stop8)))
        .withColumn("f_words", col("n_words").between(50, 100000))
        .withColumn("f_meanlen", col("mean_len").between(3.0, 10.0))
        .withColumn("f_symbol",
          col("n_sym").cast("double") / col("n_words") <= 0.1)
        .withColumn("f_bullet",
          col("n_bullet").cast("double") / col("n_lines") <= 0.9)
        .withColumn("f_ellipsis",
          col("n_ellip").cast("double") / col("n_lines") <= 0.3)
        .withColumn("f_alpha",
          col("n_alpha").cast("double") / col("n_words") >= 0.8)
        .withColumn("f_stop", col("n_stop") >= 2)
        .select(col("doc_id"), col("n_words"),
          (floor(col("mean_len") * 1e4) / 1e4).as("mean_len"),
          (floor(col("n_alpha").cast("double") / col("n_words") * 1e4) / 1e4).as("alpha_ratio"),
          col("n_stop"), col("f_words"), col("f_meanlen"), col("f_symbol"),
          col("f_bullet"), col("f_ellipsis"), col("f_alpha"), col("f_stop"),
          (col("f_words") && col("f_meanlen") && col("f_symbol") && col("f_bullet")
            && col("f_ellipsis") && col("f_alpha") && col("f_stop")).as("pass"))
        .orderBy("doc_id")
    }),

    // K5d — token counting three ways: whitespace split, regex word
    // extraction (BPE-ish subword proxy), and chars/4 estimate.
    "llm_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(array_remove(split(col("text"), " "), lit(""))).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("re_tokens"),
          ceil(length(col("text")).cast("double") / 4.0).cast("long").as("est_bpe"))
        .orderBy("doc_id")
    }),

    // K9c — curriculum ordering (added r11): the easy→hard training
    // schedule + reproducible shard shuffle in one pass — curriculum
    // learning's data-side contract (Bengio et al. 2009: present short/
    // simple documents first, harden by stages). Difficulty = token
    // count; STAGE assignment is distribution-relative but computed at
    // VALUE grain, never via a global rank: cumulative doc counts per
    // distinct difficulty value (summary-sized — the degree_dist
    // bounded-window policy) give stage(v) = floor(cum_below·10/n), so
    // ties share a stage and no corpus-sized data ever crosses one
    // partition. Within (stage, shard) the order is the md5 shuffle —
    // deterministic across engines/retries/partitionings (the
    // llm_sample_hash stance: rand() re-draws, a keyed hash never does);
    // shard = md5 mod 8. Output is exactly what a curriculum loader
    // consumes: per shard, stages in order, docs md5-shuffled within.
    "llm_curriculum" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(array_remove(split(col("text"), " "), lit("")))
            .cast("long").as("difficulty"))
      val byVal = docs.groupBy("difficulty").agg(count(lit(1)).as("nv"))
      val wv = Window.orderBy("difficulty") // value-grain: bounded input
      val n = Window.partitionBy(lit(1))
      val cuts = byVal
        .withColumn("cum_below",
          coalesce(sum(col("nv")).over(wv.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n_total", sum(col("nv")).over(n))
        .select(col("difficulty"),
          floor(col("cum_below") * 10 / col("n_total")).cast("long").as("stage"))
      val staged = docs.join(broadcast(cuts), "difficulty")
        .withColumn("h", md5(concat(col("doc_id").cast("string"), lit("|cur"))))
        .withColumn("shard",
          pmod(conv(substring(col("h"), 1, 4), 16, 10).cast("long"), lit(8L)))
      val w = Window.partitionBy("stage", "shard").orderBy(col("h"), col("doc_id"))
      staged
        .withColumn("rank_in_shard", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("difficulty"), col("stage"), col("shard"),
          col("rank_in_shard"))
        .orderBy("doc_id")
    }),

    // K5d' — BPE first-merge statistics (added r5): frequency-weighted
    // adjacent character-pair counts over the word-frequency table — the
    // argmax of this table IS the first merge a BPE tokenizer trainer
    // performs, and the full ranked table is the merge frontier. The
    // scale shape matters: counting runs over the DISTINCT-WORD table
    // weighted by frequency (vocabulary-sized, sublinear in corpus),
    // never over raw text (corpus-sized) — the standard trick that makes
    // tokenizer training on a 100 TB corpus an aggregation problem
    // (corpus → word counts once; every merge iteration then touches
    // only the vocabulary). Top-50 by exact integer weight,
    // total-order tie-break on the pair string.
    "llm_bpe_pairs" -> ((s, d) => {
      val wf = tokensAll(s, d).groupBy("token").agg(count(lit(1)).as("freq"))
        .where(length(col("token")) >= 2)
      wf.select(col("freq"), explode(transform(
          sequence(lit(1), length(col("token")) - 1),
          i => col("token").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pair")).limit(50)
    }),

    // K5d'' — BPE merge TRAINING, 4 rounds (added r8): the actual
    // tokenizer-training loop above `llm_bpe_pairs`' single frontier —
    // each round picks the most frequent adjacent symbol pair over the
    // frequency-weighted vocabulary (ties: count DESC, pair ASC) and
    // rewrites every word's symbol sequence with the greedy left-to-right
    // merge (the textbook BPE trainer; Sennrich et al. 2016). The scale
    // shape is the whole point: the corpus is touched ONCE (word counts —
    // one shuffle with map-side partials); every merge round then runs
    // over the VOCABULARY table only (distinct words — sublinear in
    // corpus), as one pair-explode aggregation + one codegen'd
    // fold-rewrite, each round's vocab its own localCheckpoint with the
    // predecessor freed (the pagerank iteration discipline). The per-round
    // argmax is ONE metadata row collected to the driver (the pagerank-N
    // discipline) and folded back in as literals; the oracle computes the
    // same argmax in SQL per unrolled MATERIALIZED round. EXACT key: all
    // strings and integer counts, nothing floats.
    "llm_bpe_train" -> ((s, d) => {
      import s.implicits._
      bpeMerges(s, d).toDF("round", "sym_a", "sym_b", "pair_count").orderBy("round")
    }),

    // K5d''' — BPE ENCODING with the trained merges (added r8): the
    // consumer side of `llm_bpe_train` — every document re-tokenized
    // under the 4 learned merges (chars → merge 1 → … → merge 4, each a
    // greedy left-to-right rewrite, applied in RANK ORDER exactly as a
    // BPE encoder does), reporting per doc the raw symbol count, the
    // post-merge token count, and the compression ratio (ONE IEEE divide
    // of exact integers, floor-1e-4). The merges arrive as driver
    // literals (4 metadata rows from the training loop), and the fold
    // rewrite runs ONCE PER DISTINCT WORD — the same vocabulary trick as
    // training (a first cut folded per word occurrence: 12 s at sf0.1 vs
    // 1.9 s for this shape; at 100 TB encode cost must track vocabulary,
    // not corpus) — then per-doc totals come from one (doc, token)
    // aggregation joined against the encoded vocabulary (planner
    // broadcasts the vocab side), with a left join re-admitting wordless
    // docs at zero. The oracle re-derives the merges in its own unrolled
    // CTEs and applies the identical nested list_reduce rewrites.
    // K5e' — tokenizer fertility per language (added r9): BPE tokens per
    // word and chars per BPE token under the TRAINED tokenizer
    // (llm_bpe_train's 4 merges, encoded via the shared [[bpeWordEnc]]) —
    // the number multilingual tokenizer papers report per language, and
    // the capacity-planning input (a lang at 1.9 tokens/word costs ~2×
    // the context of one at 1.2). Scale shape inherits the BPE family's:
    // corpus touched once for (lang, word) counts; the encoder runs over
    // the VOCABULARY only; the rollup is lang-grain. All exact ints to
    // the two floored ratio readouts.
    "llm_tokenizer_fertility" -> ((s, d) => {
      val occ = tokensAll(s, d).groupBy("lang", "token")
        .agg(count(lit(1)).as("k"))
      val wordEnc = bpeWordEnc(s, d, occ.select("token").distinct())
      occ.join(wordEnc, "token")
        .groupBy("lang")
        .agg(sum("k").as("n_words"),
          sum(col("k") * col("wlen")).as("n_chars"),
          sum(col("k") * col("wbpe")).as("n_bpe"))
        .select(col("lang"), col("n_words"), col("n_chars"), col("n_bpe"),
          (floor(col("n_bpe").cast("double") / col("n_words").cast("double") * 1e4) / 1e4)
            .as("fertility"),
          (floor(col("n_chars").cast("double") / col("n_bpe").cast("double") * 1e4) / 1e4)
            .as("chars_per_token"))
        .orderBy("lang")
    }),

    "llm_bpe_encode" -> ((s, d) => {
      val occ = tokensAll(s, d).groupBy("doc_id", "token")
        .agg(count(lit(1)).as("k"))
      val wordEnc = bpeWordEnc(s, d, occ.select("token").distinct())
      val perDoc = occ.join(wordEnc, "token")
        .groupBy("doc_id")
        .agg(sum(col("k") * col("wlen")).as("n_syms"),
          sum(col("k") * col("wbpe")).as("n_bpe"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_syms"), lit(0L)).as("n_syms"),
          coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
        .select(col("doc_id"), col("n_syms"), col("n_bpe"),
          when(col("n_bpe") > 0,
            floor(col("n_syms").cast("double") / col("n_bpe").cast("double") * 1e4) / 1e4)
            .as("compression"))
        .orderBy("doc_id")
    }),

    // K5e — document fingerprint: rolling 3-token shingles, md5 each, keep
    // the lexicographic minimum (winnowing-style min-sampling; two docs
    // sharing content share fingerprints). Docs shorter than 3 tokens get a
    // whole-text fallback fingerprint.
    "llm_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .withColumn("fp",
          when(size(col("toks")) >= 3,
            array_min(transform(sequence(lit(0), size(col("toks")) - 3),
              i => md5(concat_ws(" ",
                element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2),
                element_at(col("toks"), i + 3))))))
            .otherwise(md5(col("text"))))
        .select(col("doc_id"), col("fp"),
          greatest(size(col("toks")) - 2, lit(1)).as("n_shingles"))
        .orderBy("doc_id")
    }),

    // K5f — content-defined chunking dedup readout (added r7): the
    // shift-robust substring-dedup primitive (the FastCDC / LBFS family —
    // Muthitacharoen et al. SOSP'01): a chunk boundary is cut before
    // position i wherever the 60-bit md5 of the 8-char window starting at
    // i lands ≡ 0 (mod 32) — a pure function of LOCAL content, so
    // inserting a byte early in a document shifts every boundary WITH the
    // content and shared trailing text still produces byte-identical
    // chunks (fixed-size blocks would misalign; whole-doc hashes see
    // nothing). Readout = the corpus chunk-frequency table md5(chunk) →
    // (n_docs, n_occ, chunk_len) — what a dedup storage layer or a
    // verbatim-overlap auditor consumes. Scale shape: the boundary scan
    // runs INSIDE a higher-order `filter` over sequence(2, len−7) — the
    // per-position work (O(len·k) per doc, linear in corpus bytes) stays
    // fully inside whole-stage codegen and only the ~len/32 cut positions
    // ever become rows; the chunk table shuffles once on its hash.
    // Per-position md5-of-window trades a constant factor against a Gear
    // rolling hash for an oracle-exact closed form (the DuckDB twin
    // replays the identical window hashes).
    "llm_cdc_chunks" -> ((s, d) =>
      cdcChunkTable(Tables.documents(s, d).select(col("doc_id"), col("text")))),

    // K5g — CDC chunk-containment dedup verdict (added r7): the decision
    // layer over `llm_cdc_chunks` — doc pairs whose shared content-defined
    // chunk bytes cover ≥ 30% of the smaller doc's chunk bytes, i.e. the
    // CDC analogue of `llm_dedup_containment` that catches SHIFTED
    // verbatim reuse shingle-Jaccard dilutes. Blocking = the chunk-hash
    // equi-join itself (a pair is only considered if it shares ≥ 1
    // chunk); two honesty/scale levers, both mirrored in the oracle:
    // chunks under 16 bytes carry no identity and are excluded (the
    // FastCDC min-chunk-size practice — short common phrases would
    // otherwise pair half the corpus), and chunk hashes in > 64 docs are
    // dropped from PAIRING (boilerplate guard, the stop-shingle policy;
    // denominators stay cap-independent). The ≥30% gate compares EXACT
    // integers (shared·10 ≥ 3·min_bytes — no float threshold anywhere);
    // containment_units = ⌊1e4·shared/min_bytes⌋ for the readout.
    "llm_dedup_cdc" -> ((s, d) =>
      cdcContainmentPairs(Tables.documents(s, d).select(col("doc_id"), col("text")))),

    // K3b — bucketed ANN (IVF-style): coarse cell = sign bits of the first
    // 8 dimensions, nearest neighbor searched within the cell only. The
    // scale path: candidate pairs come from an equi-join on the bucket, so
    // cost follows bucket occupancy, not n². Singleton buckets yield NULL.
    "llm_ann_bucket" -> ((s, d) => {
      val bucketed = vecs(s, d).withColumn("bucket", signBucket(col("embedding")))
      val a = bucketed.select(col("vec_id").as("a_id"), col("embedding").as("a_e"),
        col("norm").as("a_n"), col("bucket"))
      val b = bucketed.select(col("vec_id").as("b_id"), col("embedding").as("b_e"),
        col("norm").as("b_n"), col("bucket").as("b_bucket"))
      val sims = a.join(b, col("bucket") === col("b_bucket") && col("a_id") =!= col("b_id"))
        .withColumn("sim", dot(col("a_e"), col("b_e")) / (col("a_n") * col("b_n")))
      val w = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id"))
      val nn = sims.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("a_id"), col("b_id").as("nn_id"), round(col("sim"), 4).as("sim"))
      bucketed.join(nn, col("vec_id") === col("a_id"), "left")
        .select(col("vec_id"), col("bucket"), col("nn_id"), col("sim"))
        .orderBy("vec_id")
    }),

    // K12b — BM25 relevance scoring (Robertson–Spärck Jones; k1=1.2,
    // b=0.75), the retrieval twin of tf-idf: score every doc matching any
    // query term. The shape at scale: query terms prune the exploded
    // token stream BEFORE its shuffle (tf is computed only for matching
    // rows), df is a ≤|query|-row aggregate, and corpus stats (N, avgdl)
    // are one broadcast row — per-query cost tracks posting-list volume,
    // not corpus size, exactly like an inverted-index retrieval plan.
    // Determinism: per-term scores are summed in FIXED written order via
    // one conditional sum per term (each sees ≤1 row per doc, so no
    // float-order drift), and ln/round follow the llm_tfidf_terms
    // precedent. Output is every matching doc ordered by doc_id — no
    // top-k rank boundary to flip on a last-ulp score tie.
    "llm_bm25_search" -> ((s, d) => bm25Scores(s, d).orderBy("doc_id")),

    // K10c — NDCG@k ranking eval (added r12): the graded-relevance
    // quality curve the retrieval family lacked (recall@k says WHETHER
    // the answer surfaced; NDCG says how well the whole ranking orders
    // graded relevance — the metric search teams actually report).
    // System under eval = the shared BM25 ranking (bm25Scores verbatim —
    // eval and system cannot desynchronize); graded relevance = distinct
    // query terms matched (1..3), a label derivable on both engines.
    // Determinism is EXACT integers end to end: discount weights are the
    // driver-quantized ⌊1e9/log2(r+1)⌋ literal table (NdcgWq — no
    // query-time log), gains (2^rel − 1) are CASE constants, DCG@k is a
    // cumulative long sum, and the IDEAL DCG needs NO second global
    // sort: with only 3 relevance grades the ideal prefix at rank k is a
    // closed form over the grade counts (c3, c2, c1 — one broadcast
    // 1-row aggregate) via the W prefix-sum table. ndcg_at_k =
    // (dcg·1e4) div idcg — integer floor, zero float drift. Both
    // windows run over the TakeOrdered top-10 (bounded input, the
    // llm_rank_fusion allowlist rationale).
    "llm_rank_ndcg" -> ((s, d) => {
      val scored = bm25Scores(s, d)
      val counts = scored.agg(
        sum(when(col("n_terms") === 3, 1L).otherwise(0L)).as("c3"),
        sum(when(col("n_terms") === 2, 1L).otherwise(0L)).as("c2"),
        sum(when(col("n_terms") === 1, 1L).otherwise(0L)).as("c1"))
      val top = scored.orderBy(col("bm25").desc, col("doc_id")).limit(10)
      val wRank = Window.orderBy(col("bm25").desc, col("doc_id"))
      val wqArr = array(NdcgWq.map(lit): _*)
      val wpArr = array(NdcgWp.map(lit): _*)
      def wPrefix(k: Column) = element_at(wpArr, (k + 1).cast("int"))
      top
        .withColumn("rank", row_number().over(wRank))
        .withColumn("gain", when(col("n_terms") === 3, 7L)
          .when(col("n_terms") === 2, 3L).otherwise(1L))
        .withColumn("wq", element_at(wqArr, col("rank")))
        .withColumn("dcg_q", sum(col("gain") * col("wq")).over(
          wRank.rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(counts))
        .withColumn("idcg_q",
          lit(7L) * wPrefix(least(col("rank"), col("c3")))
            + lit(3L) * (wPrefix(least(col("rank"), col("c3") + col("c2")))
              - wPrefix(least(col("rank"), col("c3"))))
            + (wPrefix(least(col("rank"), col("c3") + col("c2") + col("c1")))
              - wPrefix(least(col("rank"), col("c3") + col("c2")))))
        .select(col("rank"), col("doc_id"), col("bm25"),
          col("n_terms").as("rel"), col("dcg_q"),
          (expr("(dcg_q * 10000) div idcg_q").cast("double") / 1e4).as("ndcg_at_k"))
        .orderBy("rank")
    }),

    // K14e — PASS@K (added r12; the Codex-paper unbiased estimator —
    // Chen et al. 2021 eq. 1): the coding/eval-harness headline number.
    // Naive "fraction of k-subsets that pass" computed by sampling is
    // biased and noisy; the closed form 1 − C(n−c, k)/C(n, k) over n
    // total samples with c passes is exact and is what every eval harness
    // reports. Tasks = every 10th doc (an eval set that scales with the
    // corpus); n = 10 deterministic md5 "samples" per task, each correct
    // iff its 16-bit hash clears the task's own md5-derived difficulty
    // threshold — c spans the full 0..10 range on the fixture. The
    // estimator is EXACT INTEGER arithmetic: C(n−c,k)/C(n,k) as falling-
    // factorial products (zero when n−c < k), one final IEEE divide of
    // small exact ints, floor-1e-6. One explode (10 rows/task) + one
    // task-grain aggregation — embarrassingly parallel at any scale.
    "llm_pass_at_k" -> ((s, d) => {
      def pak(k: Int): Column = {
        val num = (0 until k).map(i => s"greatest(10 - c - $i, 0)").mkString(" * ")
        val den = (0 until k).map(i => 10 - i).product
        expr(s"floor((1.0 - CAST($num AS DOUBLE) / $den.0) * 1e6) / 1e6")
      }
      val samples = Tables.documents(s, d)
        .where(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("task_id"))
        .withColumn("thr", lit(16384L)
          + pmod(conv(substring(md5(concat(col("task_id").cast("string"), lit("|diff"))),
            1, 4), 16, 10).cast("long"), lit(32768L)))
        .withColumn("j", explode(expr("sequence(1, 10)")))
        .withColumn("hv", conv(substring(
          md5(concat(col("task_id").cast("string"), lit("|s"), col("j").cast("string"))),
          1, 4), 16, 10).cast("long"))
      samples.groupBy("task_id")
        .agg(sum(when(col("hv") < col("thr"), 1L).otherwise(0L)).as("c"))
        .select(col("task_id"), col("c"),
          pak(1).as("pass_at_1"), pak(5).as("pass_at_5"), pak(10).as("pass_at_10"))
        .orderBy("task_id")
    }),

    // K14f — BEST-OF-N selection (added r12): the rejection-sampling /
    // BoN step RLHF-style data pipelines run — per task, n candidate
    // generations scored by a reward model, keep the argmax; the margin
    // over the runner-up and the mean reward are the selection-quality
    // diagnostics shipped beside the choice (margin ≈ 0 ⇒ the reward
    // model can't distinguish its top candidates — BoN is buying
    // nothing). Same md5 task fixture family as llm_pass_at_k; rewards
    // are the samples' raw 16-bit hashes (exact ints, full 0..65535
    // spread); ties break to the LOWest candidate index. mean_reward =
    // Σr/8 is EXACT in double (sum < 2^19, divisor a power of two).
    // One 8-way explode + one per-task window over 8 rows — bounded
    // frame, embarrassingly parallel at any scale.
    "llm_best_of_n" -> ((s, d) => {
      val cand = Tables.documents(s, d)
        .where(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("task_id"))
        .withColumn("j", explode(expr("sequence(1, 8)")))
        .withColumn("r", conv(substring(
          md5(concat(col("task_id").cast("string"), lit("|r"), col("j").cast("string"))),
          1, 4), 16, 10).cast("long"))
      val w = Window.partitionBy("task_id").orderBy(col("r").desc, col("j").asc)
      cand.withColumn("rn", row_number().over(w))
        .groupBy("task_id")
        .agg(
          max(when(col("rn") === 1, col("j"))).as("best_j"),
          max(when(col("rn") === 1, col("r"))).as("best_reward"),
          max(when(col("rn") === 2, col("r"))).as("second_reward"),
          sum(col("r")).as("rsum"))
        .select(col("task_id"), col("best_j").cast("long").as("best_j"),
          col("best_reward"), col("second_reward"),
          (col("best_reward") - col("second_reward")).as("margin"),
          (col("rsum").cast("double") / 8.0d).as("mean_reward"))
        .orderBy("task_id")
    }),

    // K15'' — FUZZY decontamination (added r12): exact shingle matching
    // (llm_decontaminate) misses paraphrased / partially-copied eval
    // material — the production screen (GPT-3 appendix C lineage) also
    // hunts NEAR-duplicates of eval documents. Train docs probe the eval
    // docs' MinHash band index (the SAME 2×4 banding the dedup family
    // joins on — Dedup.bandKeys verbatim) and band collisions are
    // exact-verified with full-token-set Jaccard ≥ 0.5 via the shared-
    // token equi-join + the Σmin/Σmax identity — candidates ∝ collisions,
    // never train×eval. Asymmetric by construction: eval bands are
    // eval-set-sized (broadcastable at any corpus scale); banding recall
    // at J=0.5 is the DECLARED ANN trade the llm_lsh_recall curve
    // measures. jacq = ⌊1e4·inter/union⌋ — integer quotient, exact on
    // both engines. Same md5 eval split as the exact key, so the three
    // decontamination keys screen the same contract at rising fuzziness.
    "llm_decontaminate_fuzzy" -> ((s, d) => {
      val tok = tokensDistinct(s, d)
      val isEval = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") < 3277L).cast("int")
      val ids = Tables.documents(s, d).select(col("doc_id"), isEval.as("is_eval"))
      val bands = Dedup.bandKeys(tok)
      val eb = bands.join(broadcast(ids.where(col("is_eval") === 1)).drop("is_eval"),
        "doc_id").select(col("doc_id").as("eval_id"), col("band_i"), col("band_v"))
      val tb = bands.join(broadcast(ids.where(col("is_eval") === 0)).drop("is_eval"),
        "doc_id").select(col("doc_id"), col("band_i").as("bi2"), col("band_v").as("bv2"))
      val cand = tb.join(eb, col("band_i") === col("bi2") && col("band_v") === col("bv2"))
        .select("doc_id", "eval_id").distinct()
      // r12 (guide §2.3/§4): exact intersection via the dictionary-encoded
      // token bitmasks (llm_dedup_near's verify machinery) instead of the
      // candidate×token equi-join — the old plan shuffled every candidate
      // pair re-exploded to token grain (~|cand|·|tokens/doc| rows through
      // a 3-way join + groupBy); the mask plan joins 1 mask row per side
      // and computes |a∩b| as a codegen popcount. inter = count of shared
      // DISTINCT tokens and n_a/n_b = per-doc distinct-token counts are
      // the identical integers (mask bits are the per-doc distinct token
      // dictionary ids), so jacq and every output row are unchanged —
      // oracle re-verified hash-green, oracle SQL untouched.
      val (masks, interExpr, cardExpr) = Dedup.tokenMasks(tok)
      val ma = masks.select(col("doc_id").as("ma_id"), col("mask").as("a_mask"))
      val mb = masks.select(col("doc_id").as("mb_id"), col("mask").as("b_mask"))
      cand
        .join(ma, col("doc_id") === col("ma_id"))
        .join(mb, col("eval_id") === col("mb_id"))
        .withColumn("inter", expr(interExpr).cast("long"))
        .withColumn("na", expr(cardExpr("a")).cast("long"))
        .withColumn("nb", expr(cardExpr("b")).cast("long"))
        .withColumn("jacq", expr("(inter * 10000) div (na + nb - inter)"))
        .where(col("jacq") >= 5000L)
        .select(col("doc_id"), col("eval_id"), col("inter"),
          (col("jacq").cast("double") / 1e4).as("jaccard"))
        .orderBy("doc_id", "eval_id")
    }),

    // K3b' — RECIPROCAL RANK FUSION (added r11; Cormack et al. 2009):
    // hybrid search's standard combiner — fuse the lexical (BM25) and
    // semantic (cosine) shortlists with rrf = Σ 1/(60 + rank), the
    // production retrieval stack in one key (BM25 finds exact terms,
    // embeddings find paraphrases; RRF needs no score calibration
    // between the two, which is why it won). Scale shape: each system
    // contributes only its TOP-100 shortlist (TakeOrdered — never a
    // corpus-sized global rank; the rank window's input is the 100-row
    // limit, bounded by construction), fusion is a 100∪100 outer join,
    // readout top-20. Ranks on round-4 BM25 / raw index-order-fold
    // cosine with doc_id ties — deterministic cross-engine; rrf is pure
    // IEEE on small ints, floor-1e-6.
    "llm_rank_fusion" -> ((s, d) => {
      val wLex = Window.orderBy(col("bm25").desc, col("doc_id"))
      val lex = bm25Scores(s, d)
        .orderBy(col("bm25").desc, col("doc_id")).limit(100)
        .withColumn("r_lex", row_number().over(wLex))
        .select(col("doc_id"), col("r_lex"))
      val v = vecs(s, d)
      val q = v.where(col("norm") > 0.0d)
        .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|rrf"))))
        .orderBy(col("h"), col("vec_id")).limit(1)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_e"),
          col("norm").as("q_n"))
      val wSem = Window.orderBy(col("sim").desc, col("vec_id"))
      val sem = v.where(col("norm") > 0.0d).crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("sim", dot(col("embedding"), col("q_e")) / (col("norm") * col("q_n")))
        .orderBy(col("sim").desc, col("vec_id")).limit(100)
        .withColumn("r_sem", row_number().over(wSem))
        .select(col("vec_id").as("doc_id"), col("r_sem"))
      val rrf = when(col("r_lex").isNotNull, lit(1.0) / (lit(60) + col("r_lex"))).otherwise(0.0) +
        when(col("r_sem").isNotNull, lit(1.0) / (lit(60) + col("r_sem"))).otherwise(0.0)
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf", floor(rrf * 1e6) / 1e6)
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("r_lex"), col("r_sem"), col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
    }),

    // K3c — int8 scalar quantization of the embedding column: per-vector
    // symmetric scale amax/127, q_i = floor(x_i*127/amax) — the standard
    // 4x memory/bandwidth lever for ANN indexes at 100 TB (the index scan
    // reads int8 rows; full-precision vectors are only fetched for the
    // final re-rank). Pure element-wise transform: no shuffle, stays in
    // whole-stage codegen. floor (not round) keeps the lattice assignment
    // bit-identical across engines (the win_interpolate midpoint rule);
    // float->double widening is exact on both. Zero vectors quantize to
    // all-zeros with scale 0 instead of NaN. QuantizeSpec pins the int8
    // range, exact dequantization error bound (|x - q*amax/127| <=
    // amax/127), and top-1-neighbor recall of the dequantized corpus.
    "llm_embed_quantize" -> ((s, d) => {
      Tables.embeddings(s, d)
        .withColumn("amax",
          array_max(transform(col("embedding"), e => abs(e.cast("double")))))
        .select(
          col("vec_id"),
          floor(col("amax") * 1e6) / 1e6 as "scale_q",
          concat_ws(",",
            transform(col("embedding"), e =>
              when(col("amax") === 0d, lit(0L))
                .otherwise(floor(e.cast("double") * 127.0d / col("amax")))
                .cast("int").cast("string"))).as("q_int8"))
        .orderBy("vec_id")
    }),

    // K3c' — embedding-corpus health profile (added r4): per-label L2-norm
    // distribution — the first thing to look at before trusting cosine
    // math on a new embedding dump (a label whose norms collapse toward 0
    // or spread wildly signals a broken encoder run; normalized corpora
    // should read ≈1.0 flat). Norms come from the codegen'd vec_dot
    // (sequential fold, bit-identical across engines); avg is the round-4
    // avg-of-doubles precedent, min/max are exact. One label-keyed
    // map-side-partial groupBy — no shuffle of the vectors themselves.
    "llm_embed_stats" -> ((s, d) => {
      vecs(s, d)
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(col("norm")), 4).as("avg_norm"),
          round(min(col("norm")), 4).as("min_norm"),
          round(max(col("norm")), 4).as("max_norm"))
        .orderBy("label")
    }),

    // K8h — top principal component of the embedding corpus via power
    // iteration (added r8): the embedding-health/whitening primitive — a
    // drifting or collapsing embedding space shows up first in its
    // dominant direction (anisotropy is the standard representation-
    // collapse diagnostic), and PC1 is the direction ANN whitening /
    // mean-centering pipelines remove. Two stages, both scale-flat:
    // (1) the 64×64 covariance numerator accumulated EXACTLY — per-dim
    // values quantized to 1e-6 longs, Σxᵢ and Σxᵢxⱼ as DECIMAL(38,0)
    // (order-free where float sums are not; n·4096 product rows fold
    // map-side into 4096 groups — linear in n, summary-sized after),
    // numerator n·Σxᵢxⱼ − Σxᵢ·Σxⱼ cast to double ONCE per cell;
    // (2) 8 FIXED power iterations over the 4096-cell matrix — w = A·v
    // with the fold in j order, norm in i order (ordered-list sums, the
    // chi_square idiom), one IEEE divide per component — metadata-sized
    // frames, the oracle runs the identical 8 unrolled CTE rounds.
    // Deterministic with NO convergence assumption (same rounds, same op
    // order ⇒ same doubles); floor-1e-6 only at the output edge. The
    // eigenvector sign is whatever the shared arithmetic converges to —
    // identical in both engines, so no canonicalization is needed.
    "llm_embed_pca_power" -> ((s, d) => {
      import s.implicits._
      pcaPc1(s, d).zipWithIndex.map { case (x, i) => (i, x) }
        .toSeq.toDF("i", "pc1").orderBy("i")
    }),

    // K8h' — whitening projection against PC1 (added r8): the CONSUMER of
    // `llm_embed_pca_power` — per vector, its coefficient along the
    // dominant direction (proj = x·v) and the norm of the whitened
    // residual |x − proj·v| (what an anisotropy-removal / all-but-the-top
    // pipeline keeps; Mu & Viswanath 2018's post-processing step). The
    // projection vector is the QUANTIZED pc1 (floor-1e-6 — the pca key's
    // own output contract), so both engines consume bit-identical
    // components; proj is the codegen'd sequential vec_dot, the residual
    // a zip_with square fold in index order — identical op sequence to
    // the oracle, floor-1e-4 at the edges. ZERO-SHUFFLE scoring: the
    // 64-component vector rides as one broadcast row; the only heavy
    // stage is pca's covariance scan, shared.
    "llm_embed_whiten" -> ((s, d) => {
      val v = pcaPc1(s, d)
      import s.implicits._
      val pcDf = broadcast(Seq(Tuple1(v.toSeq)).toDF("pc"))
      Tables.embeddings(s, d)
        .crossJoin(pcDf)
        .withColumn("proj", call_function("vec_dot", col("embedding"), col("pc")))
        .select(col("vec_id"), col("label"),
          (floor(col("proj") * 1e4) / 1e4).as("pc1_proj"),
          (floor(sqrt(expr(
            """aggregate(zip_with(embedding, pc,
              |  (x, vv) -> (CAST(x AS DOUBLE) - proj * vv) * (CAST(x AS DOUBLE) - proj * vv)),
              |  CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)""".stripMargin)) * 1e4) / 1e4)
            .as("resid_norm"))
        .orderBy("vec_id")
    }),

    // K8i — Lloyd's k-means over the embedding corpus (added r8): the
    // multi-round refinement the one-step seeded tables (`llm_ivf_centroids`
    // and friends) deliberately stop short of, and the clustering
    // primitive under semantic-dedup / data-mixing pipelines (SemDeDup
    // clusters before pruning; IVF recall improves with trained cells).
    // k=8 cells, 3 FIXED assignment rounds — no convergence test, so the
    // result is a pure function of the input and the oracle runs the
    // identical unrolled CTE rounds (the bfs_levels/kcore horizon policy).
    // Per round: centroids = sorted-fold floor-quantized per-dim means of
    // the current assignment (`Ivf.centroidsOf` — the proven determinism
    // recipe), assignment = max-cosine over the broadcast k-row centroid
    // table (ties to the lowest cell). Cost n·k dots + one per-vector rank
    // window per round — linear in n at fixed k; each round's assignment
    // is its own localCheckpoint with the predecessor freed (the pagerank
    // iteration discipline). Output = final assignment's centroids as
    // (cell, n_members, dim, component) rows — k·64 summary rows.
    "llm_kmeans_lloyd" -> ((s, d) => {
      val v = vecs(s, d).select("vec_id", "embedding", "norm")
      val asg = graft.ops.Ivf.lloyd(v, k = 8, rounds = 3)
      val cent = graft.ops.Ivf.centroidsOf(asg)
      val occ = asg.groupBy("cell").agg(count(lit(1)).as("n_members"))
      cent.join(occ, "cell")
        .select(col("cell"), col("n_members"), posexplode(col("centroid")).as(Seq("i", "c")))
        .orderBy("cell", "i")
    }),

    // K3d — product quantization codes (Jégou et al., PQ): the 64-dim
    // vector splits into 8 subspaces of 8 dims; each subspace gets 16
    // centroids (one k-means update step over deterministic md5 seed
    // cells — the llm_ivf_centroids recipe, per subspace) and every
    // subvector is assigned its nearest centroid by L2 (ties to the
    // lowest centroid id). 8 codes × 4 bits = 4 bytes per vector — 64×
    // smaller than float32, the codebook-compression rung below int8 on
    // the ANN ladder (scan PQ codes via distance tables, re-rank the few
    // survivors at full precision). Centroids follow the proven
    // determinism recipe: sorted-order sums, floor-1e-6 quantization,
    // array-order distance folds. PqSpec pins code shape and that argmin
    // assignment never loses to the seeding assignment it refines.
    // K3e — IVF-PQ search (the FAISS index architecture assembled from
    // the two structures above): coarse seeded cells restrict the pair
    // work (like llm_ivf_centroids), and WITHIN a cell the query never
    // touches database vectors — it scans their 4-byte PQ codes via its
    // per-subspace Asymmetric Distance Computation table (8×16 L2
    // distances from the query's true subvectors to the codebook). At
    // 100 TB this is the whole point of the codes: one broadcast-sized
    // dtable per query + an equi-join over int codes replaces touching
    // 256 B of floats per candidate. Determinism: the dtable lookup folds
    // in subspace order (zip_with over position-aligned arrays), all
    // inputs are the floor-quantized codebook distances. PqSpec pins ADC
    // against a driver-side reference and its recall vs exact 1-NN.
    "llm_pq_adc" -> ((s, d) => {
      val (cells, adc) = adcPairs(s, d)
      val w = Window.partitionBy("a_id").orderBy(col("adc").asc, col("b_id"))
      val nn = adc.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("a_id"), col("b_id").as("nn_id"), round(col("adc"), 4).as("adc_dist"))
      cells.join(nn, col("vec_id") === col("a_id"), "left")
        .select(col("vec_id"), col("cell"), col("nn_id"), col("adc_dist"))
        .orderBy("vec_id")
    }),

    // K3f — IVF-PQ with exact re-rank, the production pipeline's final
    // stage: the ADC scan only SHORTLISTS (top-10 cell-mates per query by
    // code-word distance); the shortlist alone is re-scored at full
    // precision against the true embeddings and the reported neighbor is
    // the exact-L2 argmin. At 100 TB this is the stage contract that
    // makes 4-byte codes viable: ≤10 uncompressed vector reads per query
    // regardless of cell occupancy (the re-rank join is shortlist-sized,
    // not candidate-sized). It also resolves the ADC near-ties the
    // near-orthogonal fixture exposes (NOTES r3): quantized distances
    // rank nearly-equidistant peers noisily; the exact pass settles them.
    // Determinism: d² is a zip_with fold in array order (both engines
    // fold identical doubles), floor-quantized at 1e-4 (the
    // win_interpolate idiom — round() would HALF_UP-diverge on midpoints).
    "llm_pq_rerank" -> ((s, d) => {
      val (cells, adc) = adcPairs(s, d)
      val wS = Window.partitionBy("a_id").orderBy(col("adc").asc, col("b_id"))
      val shortlist = adc.withColumn("rn", row_number().over(wS))
        .where(col("rn") <= 10).select("a_id", "b_id")
      val v = Tables.embeddings(s, d)
      val ae = v.select(col("vec_id").as("a_id"), col("embedding").as("a_e"))
      val be = v.select(col("vec_id").as("b_id"), col("embedding").as("b_e"))
      val exact = shortlist.join(ae, "a_id").join(be, "b_id")
        .withColumn("d2", aggregate(
          zip_with(col("a_e"), col("b_e"),
            (x, y) => (x.cast("double") - y.cast("double"))
              * (x.cast("double") - y.cast("double"))),
          lit(0.0), (acc, e) => acc + e))
      val wR = Window.partitionBy("a_id").orderBy(col("d2").asc, col("b_id"))
      val nn = exact.withColumn("rn", row_number().over(wR)).where(col("rn") === 1)
        .select(col("a_id"), col("b_id").as("nn_id"),
          (floor(col("d2") * 1e4) / 1e4).as("l2sq"))
      cells.join(nn, col("vec_id") === col("a_id"), "left")
        .select(col("vec_id"), col("cell"), col("nn_id"), col("l2sq"))
        .orderBy("vec_id")
    }),

    // K3f' — the PRODUCTION twin of the llm_pq_adc/llm_pq_rerank demo
    // pair (added r8): the same ADC-shortlist + exact-re-rank stage
    // contract, run under the flat serving policy instead of the pinned
    // demo index — occupancy-pinned nlist, the serveTail 500-query md5
    // budget, nprobe = 2, query dtables built for the budget only. This
    // is the complete FAISS-style IVFADC+refine serving path as one
    // oracle-checked key; see [[pqServe]] for the cost shape.
    "llm_pq_serve" -> ((s, d) => pqServe(s, d)),

    // K3j — NN-descent neighbor-graph construction (Dong et al. 2011;
    // added r8): the THIRD ANN family beside the exact scans and the
    // IVF/PQ quantizers — the graph build behind HNSW-family indexes.
    // See [[nnDescent]]: coarse-cell warm start + next-cell cross links,
    // 2 rounds of "score N ∪ N∘N exactly, keep top-4" — ≤ k+k² = 20
    // candidate sims per node per round, linear at any corpus size.
    "llm_nn_descent" -> ((s, d) => nnDescent(s, d)),

    // K3j' — greedy best-first serving over the NN-descent graph (added
    // r8): the single-layer HNSW query path — see [[graphSearch]]. The
    // `reached` column is the greedy ROUTABILITY rate, the navigability
    // number graph-ANN papers measure.
    "llm_graph_search" -> ((s, d) => graphSearch(s, d)),

    // K3j'' — NN-descent graph RECALL eval (added r9): per md5-budget
    // query, |graph neighbors ∩ exact top-4| / 4 — the graph-quality
    // number NN-descent papers track (how much of the true k-NN graph
    // did 2 descent rounds recover), completing the recall-eval trio
    // across all three ANN families (IVF: llm_recall_at_k, two-level:
    // llm_recall_two_level, graph: this). Ground truth stays exact but
    // BUDGET-SIZED: ops.Knn.topKCosine scans |budget|·|corpus|, never
    // corpus² — the sampled-recall shape that survives 100 TB. The graph
    // build is [[nnDescentGraph]] verbatim; the oracle shares
    // nnDescentCtes, so eval and build can never desynchronize.
    "llm_recall_graph" -> ((s, d) => {
      val v = vecs(s, d).where(col("norm") > 0.0d)
      val nb = descentArtifact(s, d, "base",
        v.select(col("vec_id"), col("embedding"), col("norm")))
      val qids = v
        .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|gq"))))
        .orderBy("h").limit(500)
        .select(col("vec_id"), col("embedding"), col("label"))
      val exact = graft.ops.Knn.topKCosine(qids,
          v.select(col("vec_id"), col("embedding"), col("label")), 4).toDF()
        .select(col("q_id"), col("c_id"))
      val hits = exact
        .join(nb.select(col("node").as("q_id"), col("nb").as("c_id")), Seq("q_id", "c_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
      val out = qids.select(col("vec_id"))
        .join(hits.withColumnRenamed("q_id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (floor(coalesce(col("n_hits"), lit(0L)).cast("double") / lit(4.0) * 1e4) / 1e4)
            .as("recall"))
        .orderBy("vec_id")
      out
    }),

    // K3j''' — 2-LAYER hierarchical greedy serving (added r11, r10
    // VERDICT #8): the HNSW query path proper — md5-deterministic level
    // promotion (1/8 of the corpus), an upper NN-descent graph at 1/8
    // scale for long strides, then the base-graph walk from wherever the
    // upper walk landed. See [[hnswSearch]]; same output shape as the
    // flat key so routability (`reached`) and recall compare directly
    // (KnnSpec measures both side by side).
    "llm_hnsw_search" -> ((s, d) => hnswSearch(s, d)),

    // A/K3j''''' — PERSISTED ANN INDEX ARTIFACT (added r12, r11 VERDICT
    // #1): the index LIFECYCLE as an operator — build the NN-descent
    // graphs (base + md5-promoted upper layer) at most ONCE per corpus
    // version, commit each as a manifest-listed parquet artifact with a
    // (algoVersion, count, xxhash64-xor) fingerprint written last
    // (graft.store.IndexStore), then read the COMMITTED files back
    // through the manifest and emit each layer's out-degree histogram.
    // The oracle recomputes both descent builds from source, so the hash
    // proves the round trip: artifact ≡ direct compute, edge for edge.
    // Every graph-ANN key (`llm_nn_descent`, `llm_graph_search`,
    // `llm_recall_graph`, `llm_hnsw_search`, `llm_recall_hnsw`) now
    // SERVES from these same artifacts instead of rebuilding in-key —
    // production's build-once/serve-many shape; StoreSpec pins that a
    // second call performs zero builds and leaves the artifact bytes
    // untouched, and that a data or algorithm change rebuilds. At 100 TB
    // the serve path is a manifest read + metadata-sized fingerprint
    // check; the build happens once per corpus version.
    "store_index_persist" -> ((s, d) => {
      val v = vecs(s, d).where(col("norm") > 0.0d)
        .select(col("vec_id"), col("embedding"), col("norm"))
      val base = descentArtifact(s, d, "base", v)
      val upper = descentArtifact(s, d, "upper", upperLayer(v))
      // edge_sum = Σ md5-48bit(node:nb) per degree bucket — an order-free
      // exact-integer EDGE-SET checksum (48-bit values, long-safe at any
      // realistic degree-bucket size), so the hash pins every edge, not
      // just the degree distribution
      def stats(layer: String, nb: DataFrame): DataFrame = nb
        .withColumn("eh", conv(substring(md5(concat(
          col("node").cast("string"), lit(":"), col("nb").cast("string"))),
          1, 12), 16, 10).cast("long"))
        .groupBy("node").agg(count(lit(1)).as("out_deg"), sum("eh").as("ns"))
        .groupBy("out_deg").agg(count(lit(1)).as("n_nodes"),
          sum("ns").as("edge_sum"))
        .select(lit(layer).as("layer"), col("out_deg"), col("n_nodes"),
          col("edge_sum"))
      stats("base", base).unionByName(stats("upper", upper))
        .orderBy("layer", "out_deg")
    }),

    // K3j'''' — recall eval for the 2-layer serve (added r11): recall@1
    // of `llm_hnsw_search`'s answer vs the exact top-1 over the SAME
    // 500-query budget — the price tag beside the hierarchy key, the
    // family convention (llm_recall_at_k / _two_level / _graph). Exact
    // side budget-sized (|budget|·n, never n²); null nn (empty upper
    // layer) = recall miss, not a dropped row.
    "llm_recall_hnsw" -> ((s, d) => {
      val v = vecs(s, d)
      val qids = v.where(col("norm") > 0.0d)
        .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|sq"))))
        .orderBy("h").limit(500).select(col("vec_id").as("q_id"))
      val queries = v.join(broadcast(qids), col("vec_id") === col("q_id"))
        .select("vec_id", "embedding", "label", "norm")
      val exact = graft.ops.Knn.topKCosine(queries, v, 1).toDF()
        .select(col("q_id").as("vec_id"), col("c_id").as("nn_exact"))
      val h = hnswSearch(s, d).select(col("vec_id"), col("nn_id").as("nn_hnsw"))
      exact.join(h, Seq("vec_id"), "left")
        .withColumn("hit", when(col("nn_hnsw") === col("nn_exact"), 1).otherwise(0))
        .orderBy("vec_id")
    }),

    // K3k — MATRYOSHKA prefix-dimension recall (added r12; Kusupati et
    // al. 2022): serving systems cut ANN cost by searching a PREFIX of
    // the embedding (MRL-trained models front-load information) — this
    // key measures what that trade costs on THIS corpus: recall@1 of
    // exact search over the first 16 of 64 dims vs exact search over the
    // full vector, on the family's md5 500-query budget. Both truth
    // sides are budget-sized (|budget|·n via ops.Knn.topKCosine — never
    // n²), so the eval itself survives any corpus size; a query or
    // candidate whose PREFIX is zero-norm has no cosine direction and
    // drops from the prefix side only (miss, not a dropped row — the
    // recall-family stance). The 4× dot-product saving is the point; the
    // measured hit rate is the price tag, beside llm_recall_at_k (IVF)
    // and llm_recall_hnsw (graph) — the third axis: DIMENSION, not
    // index, as the approximation knob.
    "llm_recall_matryoshka" -> ((s, d) => {
      val v = vecs(s, d)
      val qids = v.where(col("norm") > 0.0d)
        .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|sq"))))
        .orderBy("h").limit(500).select(col("vec_id").as("q_id"))
      val queries = v.join(broadcast(qids), col("vec_id") === col("q_id"))
        .select("vec_id", "embedding", "label")
      val corpus = v.select("vec_id", "embedding", "label")
      val full = graft.ops.Knn.topKCosine(queries, corpus, 1).toDF()
        .select(col("q_id").as("vec_id"), col("c_id").as("nn_full"))
      def prefix(df: DataFrame): DataFrame = df.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"), col("label"))
      val pref = graft.ops.Knn.topKCosine(prefix(queries), prefix(corpus), 1).toDF()
        .select(col("q_id").as("vec_id"), col("c_id").as("nn_16"))
      full.join(pref, Seq("vec_id"), "left")
        .withColumn("hit", when(col("nn_16") === col("nn_full"), 1).otherwise(0))
        .orderBy("vec_id")
    }),

    // K3h' — clustering quality eval (added r9): per-cluster label
    // purity of the `llm_kmeans_lloyd` partition — the readout that makes
    // unsupervised clustering actionable for data curation (a cluster
    // whose majority label carries 90% of members is a usable stratum; a
    // 30% one is noise). Shares ops.Ivf.lloyd verbatim with the kmeans
    // key (one chain, two keys), and the oracle shares the unrolled
    // Lloyd CTE chain. Post-assignment work is (cell × label) grain —
    // summary-sized at any corpus.
    "llm_cluster_eval" -> ((s, d) => {
      val v = vecs(s, d).select("vec_id", "embedding", "norm")
      val asg = graft.ops.Ivf.lloyd(v, k = 8, rounds = 3)
      val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val cl = asg.select("vec_id", "cell").join(lab, "vec_id")
        .groupBy("cell", "label").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("cell").orderBy(col("c").desc, col("label"))
      val tot = cl.groupBy("cell").agg(sum("c").as("n_members"))
      cl.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .join(tot, "cell")
        .select(col("cell"), col("n_members"), col("label").as("majority_label"),
          col("c").as("n_majority"),
          (floor(col("c").cast("double") / col("n_members").cast("double") * 1e4) / 1e4)
            .as("purity"))
        .orderBy("cell")
    }),

    // K3i — MMR diversified re-ranking (Carbonell & Goldstein 1998;
    // added r8): the retrieval post-processor every RAG serving stack
    // runs between ANN top-k and the prompt — greedy selection of k=5
    // from the top-20 relevance candidates maximizing
    // λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) at λ=0.5, so near-duplicate
    // passages don't crowd out coverage. 5 md5-sampled queries (the
    // serving-budget discipline); 4 greedy rounds after the rank-1 seed,
    // each one anti-join (drop selected) + selected-set join + max-sim
    // groupBy + per-query argmax window over the CHECKPOINTED 20-row/
    // query candidate table — per-round work is candidate-sized
    // (|Q|·20·k rows), never corpus-sized; the only corpus-sized step is
    // the one top-20 relevance scan. Per-round checkpoint-and-free (the
    // lloyd idiom). Determinism: unrounded IEEE rel/sim (identical
    // folds), fixed 0.5D coefficients, (score DESC, id ASC) ties,
    // floor-1e-4 only at the output edge; oracle = the same rounds as
    // unrolled MATERIALIZED CTEs.
    "llm_mmr_rerank" -> ((s, d) => {
      val v = vecs(s, d)
      val q = v.where(col("norm") > 0.0d)
        .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|mmr"))))
        .orderBy("h").limit(5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_e"),
          col("norm").as("q_n"))
      val wR = Window.partitionBy("q_id").orderBy(col("rel").desc, col("c_id"))
      val cands = q.join(v.select(col("vec_id").as("c_id"),
            col("embedding").as("c_e"), col("norm").as("c_n")),
          col("q_id") =!= col("c_id"))
        .withColumn("rel", dot(col("q_e"), col("c_e")) / (col("q_n") * col("c_n")))
        .withColumn("rn", row_number().over(wR)).where(col("rn") <= 20)
        .select(col("q_id"), col("c_id"), col("c_e"), col("c_n"), col("rel"))
        .transform(Checkpoints.stage)
      val wS = Window.partitionBy("q_id").orderBy(col("score").desc, col("c_id"))
      val seed = cands.withColumn("score", col("rel"))
        .withColumn("rn", row_number().over(wS)).where(col("rn") === 1)
        .select(col("q_id"), col("c_id"), col("c_e"), col("c_n"),
          lit(1).as("rank"), col("score"))
        .transform(Checkpoints.stage)
      // round r picks rank r + 1
      val selected = graft.ops.Iterate.rounds(seed, 4) { (selected, r) =>
        val rem = cands.join(selected.select("q_id", "c_id"),
          Seq("q_id", "c_id"), "left_anti")
        val ms = rem.join(selected.select(col("q_id"),
              col("c_e").as("s_e"), col("c_n").as("s_n")), "q_id")
          .withColumn("ss", dot(col("c_e"), col("s_e")) / (col("c_n") * col("s_n")))
          .groupBy("q_id", "c_id").agg(max(col("ss")).as("maxsim"))
        val pick = rem.join(ms, Seq("q_id", "c_id"))
          .withColumn("score", lit(0.5d) * col("rel") - lit(0.5d) * col("maxsim"))
          .withColumn("rn", row_number().over(wS)).where(col("rn") === 1)
          .select(col("q_id"), col("c_id"), col("c_e"), col("c_n"),
            lit(r + 1).as("rank"), col("score"))
        selected.unionByName(pick)
      }
      Checkpoints.finishFreeing(
        selected.select(col("q_id"), col("rank"), col("c_id"),
            (floor(col("score") * 1e4) / 1e4).as("score"))
          .orderBy("q_id", "rank"),
        cands, seed, selected)
    }),

    // K3h — SemDeDup (Abbas et al. 2023): semantic dedup over embedding
    // clusters — within its coarse IVF cell, a vector is DROPPED when a
    // lower-id cell-mate sits above the cosine threshold (the paper's
    // keep-one-per-duplicate-set, made order-deterministic via the min-id
    // witness, which the output names). Same pair-bounding as every cell
    // key: candidates are within-cell only, and nlist is the scale knob
    // (the 10× probe note). τ=0.45 is the fixture's demo threshold
    // (near-orthogonal corpus, max pairwise cosine ≈ 0.51; production
    // SemDeDup ≈ 0.95+). Threshold compares are on bit-identical doubles
    // (index-order dot folds in both engines).
    "llm_semdedup" -> ((s, d) => {
      val ranked = coarseRanked(vecs(s, d))
      val cells = ranked.where(col("r") === 1)
        .select(col("vec_id"), col("embedding"), col("norm"), col("cell"))
      val b = cells.select(col("vec_id").as("b_id"), col("embedding").as("b_e"),
        col("norm").as("b_n"), col("cell").as("b_cell"))
      val dup = cells.join(b, col("cell") === col("b_cell") && col("b_id") < col("vec_id"))
        .withColumn("sim", dot(col("embedding"), col("b_e")) / (col("norm") * col("b_n")))
        .where(col("sim") >= 0.45)
        .groupBy("vec_id").agg(min("b_id").as("dup_of"))
      cells.select(col("vec_id"), col("cell"))
        .join(dup, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"), col("dup_of"),
          col("dup_of").isNull.as("keep"))
        .orderBy("vec_id")
    }),

    // K3g — ANN index health report: per-cell occupancy of the coarse IVF
    // assignment plus each cell's share of the corpus. The operational
    // readout behind the 10× probe's nlist note (NOTES): occupancy² drives
    // within-cell candidate volume, so a skewed cell IS the query-latency
    // hot spot, and this is the table an operator watches to re-size nlist
    // or re-seed centroids. One 16-row aggregate over the linear
    // assignment — index-build cost, no pair work.
    "llm_index_stats" -> ((s, d) => {
      val ranked = coarseRanked(vecs(s, d))
      val cells = ranked.where(col("r") === 1).select(col("vec_id"), col("cell"))
      val tot = cells.agg(count(lit(1)).as("tot"))
      cells.groupBy("cell").agg(count(lit(1)).as("occupancy"))
        .crossJoin(broadcast(tot))
        .select(col("cell"), col("occupancy"),
          (floor(col("occupancy") * 1e4 / col("tot")) / 1e4).as("occ_share"))
        .orderBy("cell")
    }),

    "llm_pq_encode" -> ((s, d) => {
      val (_, _, codes) = pqParts(Tables.embeddings(s, d))
      codes
        .groupBy("vec_id")
        .agg(array_sort(collect_list(struct(col("sub"), col("cid")))).as("sc"))
        .select(col("vec_id"),
          concat_ws(",", transform(col("sc"),
            e => e.getField("cid").cast("string"))).as("pq_codes"))
        .orderBy("vec_id")
    }),

    // K6 — multimodal column assembly: text + opaque binary payload +
    // vector + typed metadata in one row. The binary column stands in for
    // image/audio bytes (no media libs offline — SURVEY.md §0); the
    // "decode" is a deterministic metadata extraction (byte length + md5),
    // which is exactly the Spark-side plumbing shape a real decoder plugs
    // into. Flattened deterministic columns for the oracle compare.
    "llm_multimodal" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val v = vecs(s, d)
      docs.join(v, col("doc_id") === col("vec_id"))
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(col("doc_id"), col("lang"), col("source"), col("label"),
          length(col("payload")).as("n_bytes"),
          md5(col("text")).as("content_hash"),
          size(col("embedding")).as("dim"),
          round(col("norm"), 4).as("norm"))
        .orderBy("doc_id")
    }),

    // K7b — multimodal signature dedup (added r9): near-dup detection on
    // an opaque BINARY media column via its content signature — the cheap
    // perceptual-bucketing pass every media pipeline runs before pixel-
    // level comparison. The features come through the REAL multimodal
    // plumbing ([[graft.multimodal.Media.extractFeatures]]: mapPartitions,
    // bounded batches, binary column in, 16-bin normalized byte histogram
    // out — the decode stub's surrounding pipeline, exercised end to end);
    // the signature is the 1e-3-floor-quantized histogram, and bucketing
    // on it bounds pair work the way LSH bands do for text (candidates ∝
    // collisions, never corpus²). Buckets with ≥2 items are reported with
    // their distinct-payload count (md5 over the raw bytes) and survivor.
    // On this corpus every collision bucket holds DISTINCT payloads —
    // true byte-distribution near-dups, which is the signal the signature
    // exists to find. Embarrassingly parallel to the one groupBy.
    "llm_media_dedup" -> ((s, d) => {
      val media = Tables.documents(s, d)
        .where(length(col("text")) > 0)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      graft.multimodal.Media.extractFeatures(media, "payload")
        .select(col("doc_id"), col("payload"),
          concat_ws(",", transform(col("features"),
            f => floor(f * 1000).cast("long").cast("string"))).as("sig"))
        .groupBy("sig")
        .agg(count(lit(1)).as("n_items"),
          countDistinct(md5(col("payload"))).as("n_payloads"),
          min("doc_id").as("keep_id"))
        .where(col("n_items") >= 2)
        .select(md5(col("sig")).as("sig_hash"), col("n_items"),
          col("n_payloads"), col("keep_id"))
        .orderBy("sig_hash")
    }),

    // K7c — REAL image decode end to end (added r9, VERDICT item 6): one
    // actual format — 24-bit BMP — flows bytes → pixels → features through
    // a genuine pure-JVM parser ([[graft.multimodal.Media.decodeBmp]]:
    // signature, pixel-offset field, 4-byte row padding, bottom-up row
    // order, BGR channels), closing the "decode kernels stubbed" gap as
    // far as an offline sandbox allows. Each doc's 3×5 grayscale pixels
    // are its md5 bytes (in-plan unhex(md5) — the established cross-engine
    // seed), encoded to a real BMP and decoded back inside the same
    // bounded-batch mapPartitions the stub pipeline uses. The oracle
    // recomputes the stats STRAIGHT from the md5 hex — so a hash match
    // proves the codec round-trips every pixel VALUE and, via the
    // position-weighted sum Σ(i+1)·pᵢ, every pixel POSITION (a decoder
    // that misreads padding or row order matches sum_lum but not
    // wsum_lum). Width 3 forces a nonzero pad (9 → 12 bytes/row).
    // Embarrassingly parallel: no shuffle until the presentation sort.
    "llm_media_decode" -> ((s, d) => {
      val seeded = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("substring(unhex(md5(CAST(doc_id AS STRING))), 1, 15)").as("gray"))
      graft.multimodal.Media.bmpRoundTripStats(seeded, "gray", width = 3, height = 5)
        .select("doc_id", "width", "height", "n_bytes",
          "sum_lum", "wsum_lum", "min_lum", "max_lum")
        .orderBy("doc_id")
    }),

    // K7d — REAL PNG decode end to end (added r10, r9 VERDICT #5): the
    // second genuine pure-JVM codec next to BMP — 8-bit grayscale PNG
    // through java.util.zip.Deflater/Inflater, with the full spec
    // machinery owned in-repo: signature, chunk framing with CRC-32
    // validation, IHDR contract, multi-IDAT concatenation, and scanline
    // filters 0-4 (None/Sub/Up/Average/Paeth) reversed against the
    // RECONSTRUCTED neighbors. The encode cycles the filter type per row
    // (row % 5), so at height 5 every unfilter path — including the
    // Paeth predictor — is on the hot path of every single image. Same
    // md5-seeded 3×5 pixels and same oracle trick as the BMP key: the
    // oracle computes the stats straight from the md5 hex, so the hash
    // proves value fidelity (sum) AND position fidelity (Σ(i+1)·pᵢ —
    // a filter-reconstruction bug preserves sums but not positions).
    // n_raw is the inflated payload length h·(1+w) (deterministic; the
    // deflated byte count depends on the zlib build, so it's excluded).
    // Embarrassingly parallel: no shuffle until the presentation sort.
    "llm_media_decode_png" -> ((s, d) => {
      val seeded = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("substring(unhex(md5(CAST(doc_id AS STRING))), 1, 15)").as("gray"))
      graft.multimodal.Media.pngRoundTripStats(seeded, "gray", width = 3, height = 5)
        .select("doc_id", "width", "height", "n_raw",
          "sum_lum", "wsum_lum", "min_lum", "max_lum")
        .orderBy("doc_id")
    }),

    // K7e — perceptual image dedup via AVERAGE-HASH (added r10): the
    // classic image near-dup primitive (aHash: bit i = pixel i brighter
    // than the image mean) computed over pixels that went THROUGH the
    // real BMP codec — encode, decode, hash the decoded values — so the
    // signature also witnesses codec fidelity end to end. Exact integers
    // only: the mean test is pixel·n > sum (no division, no float), so
    // the 15-bit vector is bit-identical on any engine; the dedup
    // readout is each doc's bucket size (docs sharing the hash = visual
    // near-dup candidates, the media twin of llm_dedup_exact's text
    // buckets). Embarrassingly parallel decode+hash, one hash-grain
    // window for bucket sizes. At 100 TB this is the image-dedup
    // pre-filter: 64-bit aHash buckets, verify inside buckets only.
    "llm_media_ahash" -> ((s, d) => {
      val seeded = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("substring(unhex(md5(CAST(doc_id AS STRING))), 1, 15)").as("gray"))
      val hashed = graft.multimodal.Media.bmpAHash(seeded, "gray", width = 3, height = 5)
      val w = Window.partitionBy("ahash")
      hashed
        .withColumn("bucket_size", count(lit(1)).over(w))
        .select(col("doc_id"), col("ahash"), col("n_bright"), col("bucket_size"))
        .orderBy("doc_id")
    }),

    // K13c — perceptual DCT hash (pHash; added r11, r10 VERDICT #6): the
    // published pHash algorithm next to the aHash key — separable DCT-II
    // over a 16×16 image that went THROUGH the real PNG codec (encode
    // cycling all 5 scanline filters, decode back), keep the top-left 8×8
    // low-frequency block, drop DC, threshold at the exact integer median
    // → 63-bit hash. The DCT basis is the 1e6-quantized StrictMath cosine
    // table (`Media.phashCosQ`), so the whole pipeline after decode is
    // EXACT LONGS — the oracle carries the same table as literal integers
    // and reproduces every bit without evaluating cos() anywhere.
    // 16 chained md5s per doc give the 256-byte payload (same md5-hex
    // ground-truth trick as the decode keys). Robustness difference vs
    // aHash is pinned in MediaSpec (single-pixel damage: aHash separates,
    // pHash collides). Embarrassingly parallel decode+DCT (per-doc O(w·h·k)
    // longs), one hash-grain window. 100 TB shape: pHash buckets as the
    // perceptual image-dedup pre-filter, hamming-verify inside buckets.
    "llm_media_phash" -> ((s, d) => {
      val seeded = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("unhex(concat_ws('', transform(sequence(0, 15), " +
            "j -> md5(concat(CAST(doc_id AS STRING), ':p', CAST(j AS STRING))))))")
            .as("gray"))
      val hashed = graft.multimodal.Media.pngPHash(seeded, "gray", width = 16, height = 16)
      val w = Window.partitionBy("phash")
      hashed
        .withColumn("bucket_size", count(lit(1)).over(w))
        .select(col("doc_id"), col("phash"), col("n_bits"), col("bucket_size"))
        .orderBy("doc_id")
    }),

    // K7f — REAL JPEG decode end to end (added r12, r11 VERDICT #2): the
    // THIRD genuine pure-JVM codec and the format media lakes are made
    // of — baseline JFIF through the hand-rolled decoder
    // (Media.decodeJpeg: marker parse, canonical Huffman DECODE, FF00
    // unstuffing, RSTn resync, dequantize, dezigzag, StrictMath IDCT),
    // over bytes the JDK's OWN ImageIO writer produced (the production
    // case: decoding a foreign encoder's stream). Fixture: 4 md5-derived
    // flat 8x8 blocks per doc at quality 1.0 — flat blocks have zero AC
    // energy and an integer DC untouched by the all-1 quant tables, so
    // the lossy format round-trips EXACTLY and the oracle recomputes
    // every statistic in closed form from the block values (block-grain
    // wsum constants 3872/4384/12064/12576 = Σ(i+1) per quadrant): a
    // Huffman, dequant, zigzag, IDCT, or block-placement bug breaks the
    // hash. MediaSpec carries the lossy side: ImageIO cross-conformance
    // within 1 gray level, restart-marker resync, loud rejects.
    // Embarrassingly parallel; no shuffle until the presentation sort.
    "llm_media_decode_jpeg" -> ((s, d) => {
      val seeded = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("transform(sequence(0, 3), j -> CAST(conv(substring(" +
            "md5(concat(CAST(doc_id AS STRING), ':jb', CAST(j AS STRING)))," +
            " 1, 2), 16, 10) AS INT))").as("blocks"))
      graft.multimodal.Media.jpegRoundTripStats(seeded, "blocks")
        .select("doc_id", "width", "height", "sum_lum", "wsum_lum",
          "min_lum", "max_lum")
        .orderBy("doc_id")
    }),

    // K13d — CROSS-FORMAT perceptual hash (added r12): the SAME image
    // pushed through BOTH real codecs — ImageIO-encoded JPEG through
    // Media.decodeJpeg, and the all-5-filter PNG through decodePng —
    // then pHashed by the SHARED DCT math (Media.phashOfPixels; one hash
    // definition, two formats). On the flat-block fixture both decodes
    // are exact, so the hashes MUST agree bit for bit (hamming 0, pinned
    // per row): the property that makes a pHash dedup index
    // format-agnostic — the same photo stored as PNG by one pipeline and
    // JPEG by another lands in the same bucket. The lossy case (quality
    // 0.9 re-encode, hamming ≤ 2) is MediaSpec's near-duplicate pin.
    // Oracle reproduces the hash from the block values through the same
    // literal-integer DCT table as llm_media_phash — no cos() at query
    // time. Embarrassingly parallel; one hash-grain window for buckets.
    "llm_media_phash_jpeg" -> ((s, d) => {
      val seeded = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("transform(sequence(0, 3), j -> CAST(conv(substring(" +
            "md5(concat(CAST(doc_id AS STRING), ':jb', CAST(j AS STRING)))," +
            " 1, 2), 16, 10) AS INT))").as("blocks"))
      val hashed = graft.multimodal.Media.jpegPngCrossPHash(seeded, "blocks")
      val w = Window.partitionBy("phash_jpeg")
      hashed
        .withColumn("bucket_size", count(lit(1)).over(w))
        .select(col("doc_id"), col("phash_jpeg"), col("phash_png"),
          col("hamming"), col("bucket_size"))
        .orderBy("doc_id")
    }),

    // K8 — token-window chunking (training-data prep): 40-token windows
    // with stride 30 (10-token overlap), each chunk fingerprinted. Chunk
    // boundaries are pure per-row arithmetic — embarrassingly parallel, no
    // shuffle at all until the final presentation sort.
    "llm_chunk_split" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_remove(split(col("text"), " "), lit("")).as("toks"))
        .withColumn("ntok", size(col("toks")))
        .where(col("ntok") > 0)
        .select(col("doc_id"), col("toks"),
          explode(expr("sequence(0, (ntok - 1) div 30)")).as("chunk_idx"))
        .withColumn("chunk", slice(col("toks"), col("chunk_idx") * 30 + 1, lit(40)))
        .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
          size(col("chunk")).as("n_tokens"),
          md5(array_join(col("chunk"), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // K10 — distinctive terms per source via TF-IDF: term frequency within
    // the source x ln(inverse document-frequency across sources), top 3
    // per source with a token tie-break (all-source tokens tie at score 0,
    // so the tie-break is load-bearing for determinism). The source count
    // is one dimension-cardinality action, not per-row driver work.
    "llm_tfidf_terms" -> ((s, d) => {
      val nSrc = Tables.documents(s, d).select("source").distinct().count().toDouble
      val tok = tokensAll(s, d)
      val tf = tok.groupBy("source", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tok.select("source", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("source").orderBy(col("score").desc, col("token"))
      tf.join(dfreq, "token")
        .withColumn("score", col("tf") * log(lit(nSrc) / col("df")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("source"), col("token"), round(col("score"), 4).as("score"), col("rn"))
        .orderBy("source", "rn")
    }),

    // K11 — per-doc repetition signals (Gopher-style quality filters):
    // duplicate-2-gram fraction (1 - distinct/total) and the share of all
    // 2-gram occurrences taken by the single most frequent one. The dup
    // fraction is pure per-row array arithmetic (no shuffle); the top-gram
    // share explodes 2-grams and aggregates twice on doc_id, so the whole
    // key is one doc-keyed shuffle — embarrassingly parallel at any scale.
    "llm_repetition" -> ((s, d) => {
      // One text scan, one explode, one (doc_id, gram)-keyed shuffle: every
      // output — token count, duplicate-2-gram fraction, top-gram share —
      // derives from the per-gram counts (n_tok = total grams + 1), so no
      // per-row distinct pass and no doc-keyed rejoin against the corpus.
      Tables.documents(s, d)
        .select(col("doc_id"), array_remove(split(col("text"), " "), lit("")).as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i + 1), element_at(col("toks"), i + 2)))).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("tot"), count(lit(1)).as("nd"), max(col("c")).as("top_c"))
        .select(col("doc_id"), (col("tot") + 1).cast("int").as("n_tok"),
          round(lit(1.0) - col("nd").cast("double") / col("tot"), 4).as("dup2_frac"),
          round(col("top_c").cast("double") / col("tot"), 4).as("top2_frac"))
        .orderBy("doc_id")
    }),

    // K12 — corpus-level boilerplate detection (CCNet-paragraph-dedup
    // shape): a 3-token shingle is boilerplate when it appears in >= 1% of
    // documents; per doc, count and fraction of shingle occurrences that
    // are boilerplate. The threshold is relative so the semantics survive
    // scale-up; the boilerplate set is the high-doc-frequency tail, so the
    // flagging join's build side stays small and broadcasts naturally.
    "llm_boilerplate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nDocs = docs.count()
      val sh = docs
        .select(col("doc_id"), array_remove(split(col("text"), " "), lit("")).as("toks"))
        .where(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(transform(sequence(lit(0), size(col("toks")) - 3),
          i => concat_ws(" ",
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3)))).as("g"))
      val boiler = sh.select("doc_id", "g").distinct()
        .groupBy("g").agg(count(lit(1)).as("df"))
        .where(col("df") * 100 >= nDocs)
        .select(col("g"), lit(1L).as("is_b"))
      sh.join(boiler, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"), sum(coalesce(col("is_b"), lit(0L))).as("n_boiler"))
        .withColumn("boiler_frac", round(col("n_boiler").cast("double") / col("n_shingles"), 4))
        .orderBy("doc_id")
    }),

    // K — repeated-LINE removal TRANSFORM (added r10): the C4/RefinedWeb
    // line-dedup stage as an actual REWRITE, not a flag —
    // `llm_boilerplate` only scores boilerplate density; production
    // pipelines REMOVE lines that recur across documents (nav bars,
    // cookie banners, license headers) and train on what's left. Lines
    // here are disjoint 5-token segments (the corpus has no newlines;
    // the segmentation is declared and identical on both engines); a
    // line is boilerplate when it appears in ≥ 3 DISTINCT documents.
    // Per doc: line counts before/after and the md5 of the KEPT text
    // reassembled IN ORDER — the hash pins that removal dropped exactly
    // the flagged lines and preserved the survivors' order, i.e. the
    // rewritten corpus itself, not just its size. Shapes: line-grain
    // groupBy (corpus line volume — linear), one broadcast-size df join
    // back, order-restoring fold via array_sort(collect_list(struct)).
    // At 100 TB this is the single most common text-cleaning pass.
    "llm_dedup_lines" -> ((s, d) => {
      val lines = Tables.documents(s, d)
        .select(col("doc_id"), array_remove(split(col("text"), " "), lit("")).as("toks"))
        .where(size(col("toks")) > 0)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), expr("CAST((size(toks) - 1) div 5 AS INT)")),
          i => struct(i.as("idx"),
            concat_ws(" ", slice(col("toks"), i * 5 + 1, lit(5))).as("line")))).as("l"))
        .select(col("doc_id"), col("l.idx").as("idx"), col("l.line").as("line"))
      val dfreq = lines.select("doc_id", "line").distinct()
        .groupBy("line").agg(count(lit(1)).as("df"))
      lines.join(dfreq, "line")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_removed"),
          md5(concat_ws(" ", expr(
            "transform(array_sort(collect_list(CASE WHEN df < 3 THEN " +
              "named_struct('idx', idx, 'line', line) END)), s -> s.line)")))
            .as("kept_hash"))
        .orderBy("doc_id")
    }),

    // K13 — C4-style quality-filter funnel: four rules applied in
    // sequence (min tokens, mean token length, 2-gram repetition, stopword
    // floor), reporting in/dropped/out per stage. One pass computes every
    // per-doc stat, one global aggregation produces the whole funnel —
    // the accounting a production corpus-curation run reports per shard.
    "llm_filter_funnel" -> ((s, d) => {
      val stop = Seq("the", "of", "and", "a", "to", "in", "is", "it")
      val st = Tables.documents(s, d)
        .select(array_remove(split(col("text"), " "), lit("")).as("toks"))
        .where(size(col("toks")) > 0)
        .select(
          size(col("toks")).as("n_tok"),
          (aggregate(transform(col("toks"), t => length(t)), lit(0),
            (acc, x) => acc + x).cast("double") / size(col("toks"))).as("avg_len"),
          when(size(col("toks")) >= 2,
            lit(1.0) - size(array_distinct(transform(sequence(lit(0), size(col("toks")) - 2),
              i => concat_ws(" ", element_at(col("toks"), i + 1), element_at(col("toks"), i + 2)))))
              .cast("double") / (size(col("toks")) - 1))
            .otherwise(lit(0.0)).as("dup2"),
          (size(filter(col("toks"), t => t.isin(stop: _*))).cast("double")
            / size(col("toks"))).as("stop_ratio"))
        .select(
          col("n_tok") >= 25,
          col("avg_len") <= 4.7,
          col("dup2") <= 0.05,
          col("stop_ratio") >= 0.02)
        .toDF("r1", "r2", "r3", "r4")
      val c = st.agg(
        count(lit(1)).as("c0"),
        sum(when(col("r1"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("r1") && col("r2"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("r1") && col("r2") && col("r3"), 1L).otherwise(0L)).as("c3"),
        sum(when(col("r1") && col("r2") && col("r3") && col("r4"), 1L).otherwise(0L)).as("c4"))
      def row(stage: Int, rule: String, in: Column, out: Column) =
        struct(lit(stage).as("stage"), lit(rule).as("rule"),
          in.as("n_in"), (in - out).as("n_dropped"), out.as("n_out"))
      c.select(explode(array(
          row(1, "min_tokens", col("c0"), col("c1")),
          row(2, "avg_token_len", col("c1"), col("c2")),
          row(3, "repetition", col("c2"), col("c3")),
          row(4, "stopword_floor", col("c3"), col("c4")))).as("f"))
        .select(col("f.*"))
        .orderBy("stage")
    }),

    // K3c — IVF centroid BUILD (re-shaped r11; r10 VERDICT #1): the key
    // now emits the index-construction product its name promises — the 16
    // data-dependent coarse centroids (per-dim means over deterministic
    // md5 seed cells, one k-means update step on a reproducible init,
    // floor-quantized 1e-6) at (cell, dim) grain plus each home cell's
    // occupancy — instead of duplicating an all-corpus within-cell search
    // at nprobe=1, whose pair volume is n·occupancy = n²/nlist (the 10×
    // probe read 10.9× — a scale killer; the probe key itself moved to
    // the budgeted serveTail contract in r12). The build is LINEAR and
    // stays linear: one posexplode mean pass over the corpus + one
    // broadcast-16 assignment for occupancy; output is 16×64 = 1024 rows
    // at ANY corpus size (index metadata, the thing a deployment actually
    // persists). nprobe=1 search coverage lives on in KnnSpec's dominance
    // test, which calls ivfSearch(nprobe=1) directly against the probe key.
    "llm_ivf_centroids" -> ((s, d) => {
      val v = vecs(s, d)
      val cent = graft.ops.Ivf.centroidsOf(
        v.withColumn("cell",
          pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10).cast("long"),
            lit(16L))))
      val occ = coarseRanked(v).where(col("r") === 1)
        .groupBy("cell").agg(count(lit(1)).as("occupancy"))
      cent.select(col("cell"), posexplode(col("centroid")).as(Seq("i", "c")))
        .join(occ, Seq("cell"), "left")
        .select(col("cell"), (col("i") + 1).cast("long").as("i"), col("c"),
          coalesce(col("occupancy"), lit(0L)).as("occupancy"))
        .orderBy("cell", "i")
    }),

    // K3c' — IVF with nprobe = 2, the recall knob the nprobe=1 key
    // documents: each QUERY probes its 2 nearest coarse cells and unions
    // the candidates (the index side still holds each vector in exactly
    // one cell, so no pair is generated twice); the re-rank picks the best
    // across both probes. Candidate volume doubles, recall strictly
    // dominates nprobe=1 (superset of candidates — KnnSpec pins it), and
    // the plan stays an equi-join on the cell key. Re-budgeted r12 to the
    // shared serveTail 500-query contract — see ivfSearch's Scaladoc.
    "llm_ivf_probe" -> ((s, d) => ivfSearch(s, d, nprobe = 2)),

    // K8g — production-asymmetry ANN serving (added r7): a SAMPLED query
    // stream against the full IVF index — the shape a deployed index
    // actually runs (bounded queries over a growing corpus). Query set =
    // the deterministic md5 25% sample (its own `|q` salt, distinct from
    // serveTail's `|sq` budget), norm > 0 asserted (zero-norm queries
    // have no cosine neighbor on either engine), bounded at 500 (r12).
    // The query side is restricted BEFORE the cell join, so the
    // pair volume is Q·occupancy·nprobe: per-query cost is a function of
    // cell occupancy (corpus/nlist), NOT corpus size — scale nlist with
    // the corpus and serving cost per query is flat (measured across
    // nlist policies, NOTES.md round 7). LEFT join keeps a
    // sampled query whose probed cells hold no other member as a
    // null-neighbor row, exactly like the probe key.
    "llm_ivf_query" -> ((s, d) => {
      val v = vecs(s, d)
      // the sampled query STREAM, bounded (r12, r11 weak-set closure): the
      // md5 25% membership keeps the key's sampled-stream identity, the
      // LIMIT caps the window served per run at a fixed 500 — a deployed
      // index answers a bounded stream; the old uncapped sample grew Q
      // with n, making the scale row superlinear by construction (the
      // in-code declaration since r8; 10× probe read 21.6×). Pair volume
      // is now |budget|·occupancy·nprobe at ANY corpus size. The serving
      // tail itself is serveTail verbatim (one contract, r12 review) —
      // only the query-id set differs from the |sq-budget keys.
      val h = md5(concat(col("vec_id").cast("string"), lit("|q")))
      val qids = v.where(col("norm") > 0.0d)
        .withColumn("h", h)
        .where(conv(substring(col("h"), 1, 4), 16, 10).cast("long") < 16384L)
        .orderBy("h").limit(500).select(col("vec_id").as("q_id"))
      serveTail(v, coarseRanked(v), nprobe = 2, queryIds = Some(qids))
    }),

    // K8g' — FLAT-POLICY ANN serving (added r8, r7 VERDICT #1): the
    // production index sizing the demo keys can't run (their oracles pin
    // nlist=16 for cell-layout compatibility), now oracle-checked
    // end-to-end. Two levers make per-query cost CONSTANT in corpus size:
    //   - bounded query stream: a FIXED 500-query budget (deterministic
    //     md5 order + LIMIT — a deployed index answers a query stream,
    //     its cost never scales with how much corpus sits behind it;
    //     `llm_ivf_query`'s 25% sample grows with n, which is why that
    //     key's scale row is superlinear by construction);
    //   - occupancy-pinned index: nlist = max(16, n/50) (Ivf.
    //     occupancyNlist) keeps ~50 vectors per cell at ANY corpus size,
    //     so a query's candidate volume is nprobe·50 forever — the
    //     policy NOTES.md (round 7) measured at 1.05× cand/query under
    //     10× corpus growth, vs 10.4× at fixed nlist.
    // The corpus count that sizes nlist is one cheap aggregate (the
    // measured-gate discipline); both engines derive the SAME nlist from
    // the same data, so the oracle follows the policy, not a pinned
    // constant. Query side is restricted BEFORE the cell join (broadcast
    // of 500 ids); LEFT join keeps empty-probe queries as null-neighbor
    // rows, the family convention.
    "llm_ivf_serve" -> ((s, d) => {
      val v = vecs(s, d)
      val nlist = graft.ops.Ivf.occupancyNlist(v.count(), targetOccupancy = 50)
      serveTail(v, graft.ops.Ivf.coarseRanked(v, nlist))
    }),

    // K8g'' — TWO-LEVEL index build under the serve policy (added r8):
    // `llm_ivf_serve` made SERVING flat (nlist ∝ n, fixed query budget)
    // but left the one-level flat argmax as the assignment step — n·nlist
    // dot products, i.e. a QUADRATIC build under the linear nlist policy,
    // the step that breaks first at real corpus sizes. This key runs the
    // same serving contract (500-query md5 budget, nprobe = 2) over an
    // index built by `Ivf.coarseRankedTwoLevel`: centroids clustered into
    // √(sprobe·nlist) supercells (same seeded one-step mean recipe), each
    // vector assigned by scanning only its 4 nearest supercells' members
    // — build work ≈ 2·n·√(sprobe·nlist) (n^1.5 under nlist ∝ n; each
    // further level multiplies the exponent by ~2/3 toward the log-depth
    // tree). The pruned home cell is a DECLARED ANN approximation of the
    // flat argmax (76 % agreement at sprobe=4 on this near-orthogonal
    // worst-case corpus — see Ivf Scaladoc); the whole chain (both
    // centroid levels, both argmaxes, the serve join) is deterministic
    // and the oracle reproduces it CTE for CTE.
    "llm_ivf_two_level" -> ((s, d) => twoLevelServe(s, d)),

    // K8d' — recall eval for the TWO-LEVEL index (added r8): the "how
    // approximate is the pruned build" readout that must ship beside
    // `llm_ivf_two_level` — the pruned assignment trades exactness for
    // the n^1.5 build, and this key prices that trade against the exact
    // top-1 over the SAME 500-query budget (the llm_recall_at_k
    // sampled-ground-truth pattern: each query's truth is exact, the
    // budget bounds the |Q|·n scan). nn_ivf null (empty probe / home
    // cell singleton) is a recall MISS, not a dropped row.
    "llm_recall_two_level" -> ((s, d) => {
      val v = vecs(s, d)
      val qids = v.where(col("norm") > 0.0d)
        .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|sq"))))
        .orderBy("h").limit(500).select(col("vec_id").as("q_id"))
      val queries = v.join(broadcast(qids), col("vec_id") === col("q_id"))
        .select("vec_id", "embedding", "label", "norm")
      val exact = graft.ops.Knn.topKCosine(queries, v, 1).toDF()
        .select(col("q_id").as("vec_id"), col("c_id").as("nn_exact"))
      val ivf = twoLevelServe(s, d).select(col("vec_id"), col("nn_id").as("nn_ivf"))
      exact.join(ivf, Seq("vec_id"), "left")
        .withColumn("hit", when(col("nn_ivf") === col("nn_exact"), 1).otherwise(0))
        .orderBy("vec_id")
    }),

    // K8d — ANN recall eval (added r4; re-budgeted r11, r10 VERDICT #1):
    // recall@1 of the demo IVF index (nlist=16, nprobe=2) against the
    // exact nearest neighbor — the index-health number every ANN
    // deployment watches before trusting approximate results (pairs with
    // llm_index_stats' occupancy view: stats say the index is balanced,
    // recall says it is CORRECT enough). The query set is the FIXED
    // 500-query md5 budget (`serveTail`'s contract, shared verbatim with
    // `llm_ivf_serve` / `llm_recall_two_level`): the r4 25% sample grew
    // WITH the corpus, so the eval's exact side paid 0.25·n² (the 10×
    // probe read 13.9×) — a deployed eval answers a bounded query stream,
    // its cost |budget|·n regardless of corpus size (recall_two_level's
    // identical shape reads 2.3× at 10×). Each budget query's verdict is
    // still EXACT (ops.Knn two-set broadcast blocked scan); the IVF side
    // is serveTail over the nlist=16 index — query side restricted BEFORE
    // the cell join, the llm_ivf_query plan discipline. hit=0 where the
    // probed cells missed the true neighbor or the home cell was a
    // singleton (nn_ivf null) — a recall MISS, not a row to drop.
    "llm_recall_at_k" -> ((s, d) => {
      val v = vecs(s, d)
      // norm > 0 asserted on the budget (mirrored in the oracle's qs/ex
      // CTEs): Knn.topKCosine silently drops zero-norm queries while a
      // brute-force SQL scan would score them with inf/NaN sims (r4 ADVICE).
      val qids = v.where(col("norm") > 0.0d)
        .withColumn("h", md5(concat(col("vec_id").cast("string"), lit("|sq"))))
        .orderBy("h").limit(500).select(col("vec_id").as("q_id"))
      val queries = v.join(broadcast(qids), col("vec_id") === col("q_id"))
        .select("vec_id", "embedding", "label", "norm")
      val exact = graft.ops.Knn.topKCosine(queries, v, 1).toDF()
        .select(col("q_id").as("vec_id"), col("c_id").as("nn_exact"))
      val ivf = serveTail(v, coarseRanked(v))
        .select(col("vec_id"), col("nn_id").as("nn_ivf"))
      exact.join(ivf, Seq("vec_id"), "left")
        .withColumn("hit", when(col("nn_ivf") === col("nn_exact"), 1).otherwise(0))
        .orderBy("vec_id")
    }),

    // K9 — deterministic hash-based sampling (reproducible corpus
    // sampling: at 100 TB, rand() re-draws per re-run and per retry, a
    // hash of a stable key never does). Stratified per language: keep a
    // doc when the first 16 bits of md5(doc_id:lang) fall under the
    // stratum's rate — en at 50%, everything else at 25%.
    "llm_sample_hash" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("hv", conv(substring(
          md5(concat(col("doc_id").cast("string"), lit(":"), col("lang"))), 1, 4),
          16, 10).cast("long"))
        .where(col("hv") < when(col("lang") === "en", 32768L).otherwise(16384L))
        .select(col("doc_id"), col("lang"), col("source"), col("hv"))
        .orderBy("doc_id")
    }),

    // K12d — SYSTEMATIC importance resampling (added r12; the
    // low-variance resampler particle filters standardize on, and the
    // WITH-REPLACEMENT draw llm_sample_hash/stratified/rejection can't
    // express — an importance-weighted epoch plan samples heavy docs
    // MULTIPLE times): weights = token counts (token-budget-proportional
    // draw), N = 1000 equally-spaced picks p_j = (2j−1)·W/(2N) walked
    // through the cumulative weight axis in doc_id order. A doc's
    // multiplicity is the EXACT integer-quotient difference
    // ⌊(2N·C_i + W) / 2W⌋ − ⌊(2N·C_{i−1} + W) / 2W⌋ — no float ever
    // crosses a pick boundary, both engines agree unconditionally.
    // Scale: the cumulative axis comes from ops.Rank.withGlobalCumSum
    // (range partition + broadcast prefix offsets — no single-partition
    // window); everything after is per-row arithmetic. Output = sampled
    // docs with n_picks ≥ 1 (≤ N rows).
    "llm_sample_systematic" -> ((s, d) => {
      val wdocs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(array_remove(split(col("text"), " "), lit("")))
            .cast("long").as("wq"))
        .where(col("wq") > 0)
      val ranked = graft.ops.Rank.withGlobalCumSum(wdocs,
        Seq(col("doc_id").asc), "wq", "cum", "g", "n_all")
      val tot = wdocs.agg(sum(col("wq")).as("tw"))
      ranked.join(broadcast(tot))
        .withColumn("jhi", expr("(2000 * cum + tw) div (2 * tw)"))
        .withColumn("jlo", expr("(2000 * (cum - wq) + tw) div (2 * tw)"))
        .withColumn("n_picks", col("jhi") - col("jlo"))
        .where(col("n_picks") >= 1L)
        .select(col("doc_id"), col("wq").as("n_tok"), col("n_picks"))
        .orderBy("doc_id")
    }),

    // K12b — stratified EXACT-COUNT sampling: exactly 20 docs per lang,
    // picked by md5 order (reproducible at any scale, insensitive to row
    // order — rand() is neither). Complements the rate-based
    // `llm_sample_hash`: rates for proportional draws, ranked hashes when
    // the downstream contract is "n per stratum". One shuffle on the
    // stratum key; the per-stratum sort is by the 32-hex key, and the
    // window emits nothing past rank n.
    "llm_sample_stratified" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("h", md5(concat(col("doc_id").cast("string"), lit("/"), col("lang"))))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 20)
        .select(col("lang"), col("rn"), col("doc_id"), col("h"))
        .orderBy("lang", "rn")
    }),

    // K13 — benchmark decontamination: flag training docs sharing any
    // 5-token shingle with a held-out eval set (here: the deterministic 5%
    // md5 bucket of doc_ids — in production, the benchmark suite). The
    // eval shingle set is eval-sized (small by construction), so the
    // membership join broadcasts; the corpus side streams through it —
    // linear in corpus size, the standard decontamination shape at 100 TB.
    "llm_decontaminate" -> ((s, d) => {
      val sh = contamShingles(s, d)
      val evalSh = sh.where(col("is_eval") === 1).select("g").distinct()
        .withColumn("hit", lit(1L))
      sh.where(col("is_eval") === 0)
        .join(evalSh, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("contam_frac", round(col("n_hits").cast("double") / col("n_shingles"), 4))
        .withColumn("flagged", (col("n_hits") > 0).cast("int"))
        .orderBy("doc_id")
    }),

    // K13c — CONTAMINATION REPORT by source (added r12): the governance
    // rollup the doc-grain screens feed — per training SOURCE, how many
    // docs are flagged and what shingle share overlaps the eval set. The
    // number that decides "drop the source vs scrub the docs" (a source
    // at 40 % flag rate is a leak in the PIPELINE; isolated hits are
    // scrubbed doc by doc), and the per-release evidence an eval card
    // cites. Same exact screen as llm_decontaminate (one oracle family,
    // shared contamShingles); the source attribute joins at DOC grain
    // after the shingle agg, so the added cost over the screen is one
    // doc-grain equi-join + a ≤|sources|-row rollup. Rates are single
    // IEEE divides of exact longs, floor-1e-4.
    "llm_contamination_report" -> ((s, d) => {
      val sh = contamShingles(s, d)
      val evalSh = sh.where(col("is_eval") === 1).select("g").distinct()
        .withColumn("hit", lit(1L))
      val docGrain = sh.where(col("is_eval") === 0)
        .join(evalSh, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      docGrain
        .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_train_docs"),
          sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum("n_sh").as("n_shingles"),
          sum("n_hits").as("n_hits"))
        .select(col("source"), col("n_train_docs"), col("n_flagged"),
          (floor(col("n_flagged").cast("double") / col("n_train_docs").cast("double") * 1e4)
            / 1e4).as("flag_rate"),
          col("n_shingles"), col("n_hits"),
          (floor(col("n_hits").cast("double") / col("n_shingles").cast("double") * 1e4)
            / 1e4).as("hit_rate"))
        .orderBy("source")
    }),

    // K15' — bloom-prefiltered decontamination (added r4): the SAME
    // result as llm_decontaminate through the plan a 100 TB run wants.
    // The eval shingle set aggregates into one broadcastable bloom filter
    // (Spark's own mergeable BloomFilterAggregate, surfaced as bloom_agg
    // via GraftExtensions — map-side partials, no UDF anywhere); the full
    // train shingle stream probes it map-side (bloom_might_contain
    // codegens to a sketch lookup), and ONLY the surviving sliver pays
    // the exact-verify equi-join — false positives die there, so the
    // bloom's fpp tunes shuffle volume, never correctness. Per-doc
    // shingle totals come from a pre-filter rollup, so the output is
    // row-identical to the exact key (one oracle serves both).
    "llm_bloom_decontaminate" -> ((s, d) => {
      val sh = contamShingles(s, d)
      val train = sh.where(col("is_eval") === 0)
      val evalSh = sh.where(col("is_eval") === 1).select("g").distinct()
      // might_contain requires a CONSTANT filter (or scalar subquery), so
      // the one-row aggregate result — the sketch itself, tens of KB — is
      // fetched and re-planted as a literal: exactly what a scalar
      // subquery would broadcast, and the only driver-side byte here
      val bf = evalSh.agg(
        call_function("bloom_agg", xxhash64(col("g")), lit(65536L)).as("bf"))
        .head().getAs[Array[Byte]](0)
      val totals = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val hits = train
        .where(call_function("bloom_might_contain", lit(bf), xxhash64(col("g"))))
        .join(evalSh.withColumn("hit", lit(1L)), Seq("g"))
        .groupBy("doc_id").agg(sum(col("hit")).as("n_hits"))
      totals.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_shingles"), 4)
            .as("contam_frac"),
          (coalesce(col("n_hits"), lit(0L)) > 0).cast("int").as("flagged"))
        .orderBy("doc_id")
    }),

    // K14 — training-sequence packing (concatenate-and-chunk): per source,
    // docs concatenate in doc_id order and every 2048-token window is one
    // batch; a doc belongs to the batch its first token lands in. One
    // source-keyed shuffle + running sum — the deterministic, restartable
    // packing shape (greedy bin-packing is sequential and irreproducible
    // under retries). Batch stats out: docs, tokens, doc_id span.
    "llm_pack_batches" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(array_remove(split(col("text"), " "), lit(""))).cast("long").as("n_tok"))
        .withColumn("start_tok", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("batch", expr("start_tok div 2048"))
        .groupBy("source", "batch")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source", "batch")
    }),

    // K14' — PADDED-batch packing efficiency (added r8): the other
    // packing regime beside `llm_pack_batches`' concatenate-and-chunk —
    // fine-tuning/inference batches pad every sequence to the batch max,
    // so batch composition decides how many pad tokens the accelerator
    // burns. This key prices the two standard policies side by side on
    // identical data: ARRIVAL order (doc_id) vs LENGTH-SORTED order
    // ((n_tok, doc_id) — the "sort by length before batching" trick),
    // fixed B=32 docs per batch per source; per batch the doc count,
    // real tokens, batch max, pad tokens n·max − Σlen, and the
    // efficiency fraction Σlen/(n·max) (floor-1e-4 of an exact-int
    // ratio). The sorted policy's padding is provably ≤ arrival's per
    // source (spec pins it) — THIS table is why every serving stack
    // buckets by length. All exact ints; two source-keyed windows. Batch
    // ids are per (source, policy) — deterministic, restart-stable.
    "llm_pack_padded" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(array_remove(split(col("text"), " "), lit(""))).cast("long").as("n_tok"))
      def policy(name: String, order: Seq[org.apache.spark.sql.Column]) = {
        val w = Window.partitionBy("source").orderBy(order: _*)
        docs.withColumn("policy", lit(name))
          .withColumn("rn", row_number().over(w))
          .withColumn("batch", expr("(rn - 1) div 32"))
      }
      val tagged = policy("arrival", Seq(col("doc_id")))
        .unionByName(policy("sorted", Seq(col("n_tok"), col("doc_id"))))
      tagged.groupBy("source", "policy", "batch")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          max("n_tok").as("max_len"))
        .select(col("source"), col("policy"), col("batch"), col("n_docs"),
          col("n_tokens"), col("max_len"),
          (col("n_docs") * col("max_len") - col("n_tokens")).as("pad_tokens"),
          (floor(col("n_tokens").cast("double")
            / (col("n_docs") * col("max_len")).cast("double") * 1e4) / 1e4)
            .as("efficiency"))
        .orderBy("source", "policy", "batch")
    }),

    // K15 — domain mixture accounting: per (source, lang) doc/token totals,
    // exact corpus token share, and a sqrt-damped sampling weight relative
    // to the dominant domain (the data-mixing knob for training runs).
    // Denominators come from exact integer totals via a 1-row broadcast —
    // never a float sum whose order could differ across engines/retries.
    "llm_domain_mix" -> ((s, d) => {
      val g = Tables.documents(s, d)
        .select(col("source"), col("lang"),
          size(array_remove(split(col("text"), " "), lit(""))).cast("long").as("n_tok"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      val tot = g.agg(sum("n_tokens").as("tot"), max("n_tokens").as("mx"))
      g.crossJoin(broadcast(tot))
        .withColumn("tok_share", round(col("n_tokens").cast("double") / col("tot"), 4))
        .withColumn("samp_weight",
          round(sqrt(col("n_tokens").cast("double")) / sqrt(col("mx").cast("double")), 4))
        .select("source", "lang", "n_docs", "n_tokens", "tok_share", "samp_weight")
        .orderBy("source", "lang")
    }),

    // K15b — temperature-scaled domain mixing (added r3): the n^alpha
    // sampling rule that up-weights small domains in a training mix,
    // normalized so weights sum to 1, plus the effective epoch count each
    // domain is replayed at under the mixture (weight / natural share).
    // The key pins alpha = 0.5 because sqrt is an exactly-rounded IEEE op
    // (bit-identical across engines, unlike pow's 1-ulp slack); exact
    // integer totals feed every double. Per-domain rows are
    // dictionary-sized, so the 1-row denominator broadcast is the only
    // data movement after the token count agg.
    "llm_mix_temperature" -> ((s, d) => {
      val g = Tables.documents(s, d)
        .select(col("source"),
          size(array_remove(split(col("text"), " "), lit(""))).cast("long").as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      val denom = g.agg(sum(sqrt(col("n_tokens").cast("double"))).as("den"),
        sum("n_tokens").as("tot"))
      g.crossJoin(broadcast(denom))
        .withColumn("raw_share", col("n_tokens").cast("double") / col("tot"))
        .withColumn("w", sqrt(col("n_tokens").cast("double")) / col("den"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("raw_share"), 4).as("raw_share"),
          round(col("w"), 4).as("temp_weight"),
          round(col("w") / col("raw_share"), 4).as("eff_epochs"))
        .orderBy("source")
    }),

    // K5e' — winnowing fingerprints (added r3): the MOSS-style robust
    // upgrade of llm_fingerprint's single global min. Hash every 3-token
    // shingle, slide a w=4 window over the hash sequence, keep each
    // window's minimum — guaranteeing any match of length >= w+k-1 tokens
    // shares a fingerprint, while storing only ~2/(w+1) of the hashes.
    // Emitted as (doc_id, fp) rows: the inverted-index shape a
    // fingerprint-match join consumes directly. Short docs degrade exactly
    // like llm_fingerprint (single min, then whole-text md5). See
    // winnowFingerprints for the measured row-based-vs-array-lambda note.
    "llm_winnow_fingerprint" -> ((s, d) => winnowFingerprints(s, d).orderBy("doc_id", "fp")),

    // K5e'' — winnow match (added r3): the consumer of the winnowing
    // inverted index. Self-equi-join on fingerprint, candidate pairs
    // sharing >= 2 selected hashes — the shape a plagiarism/overlap
    // detector runs over the fingerprint store. Same sparse-equi-join
    // scale stance as llm_dedup_ngram, over a ~2/(w+1)-compressed index.
    "llm_winnow_match" -> ((s, d) => {
      val fps = winnowFingerprints(s, d)
      val a = fps.select(col("doc_id").as("a_id"), col("fp"))
      val b = fps.select(col("doc_id").as("b_id"), col("fp").as("fp2"))
      a.join(b, col("fp") === col("fp2") && col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2)
        .orderBy("a_id", "b_id")
    }),

    // K2a'' — dedup survivors (added r3): the manifest a dedup pass
    // actually ships. LSH-verified pairs at J >= 0.9 → pointer-jump
    // components; every document joins its cluster (singletons are their
    // own), and each cluster keeps its longest member (ties to the lowest
    // doc_id) — "keep best", not llm_dedup_clusters' "keep first".
    // Sub-quadratic end-to-end: the only additions over the clusters key
    // are one left join against the (small) component table and one
    // cluster-keyed window.
    "llm_dedup_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // lazy at 0.9 for the same single-consumption reason as the clusters key
      val pairs = Dedup.lshVerified(s, docs, threshold = 0.9,
        presentationSort = false)
      val comp = Dedup.clustersPointerJump(pairs)
      val assigned = docs.join(comp, docs("doc_id") === comp("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          col("n_chars"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      assigned
        .withColumn("rn", row_number().over(w))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rn") === 1, col("doc_id"))).as("kept_id"),
          max(when(col("rn") === 1, col("n_chars"))).as("kept_chars"))
        .orderBy("cluster_id")
    }),

    // K13g — vocabulary coverage curve (added r4): tokens ranked by
    // corpus frequency with the running share of all token occurrences
    // the top-r cover — the table a tokenizer/vocab design reads off
    // ("which r covers 95%?" decides vocab size; a curve saturating in
    // tens of tokens = template corpus). Both the rank AND the running
    // sum are the distributed two-pass primitives (ops.Rank — a web-scale
    // vocabulary is too wide for any partition-less window); coverage is
    // a single IEEE divide of exact longs.
    "llm_vocab_coverage" -> ((s, d) => {
      val counts = tokensAll(s, d)
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      graft.ops.Rank.withGlobalCumSum(counts,
          Seq(col("cnt").desc, col("token").asc), "cnt", "cum_cnt", "rank", "__n")
        .crossJoin(broadcast(total))
        .select(col("rank"), col("token"), col("cnt"), col("cum_cnt"),
          (col("cum_cnt").cast("double") / col("total")).as("coverage"))
        .orderBy("rank")
    }),

    // K13e — n-gram novelty curve (added r4): per document, the share of
    // its distinct 3-gram shingles never seen in any EARLIER document
    // (doc_id order = ingest order) — the curriculum/diversity signal a
    // crawl pipeline tracks per batch: novelty collapsing toward 0 means
    // the frontier is re-crawling what it already has. first_seen is an
    // exact min over the shingle equi-class (one shingle-keyed groupBy —
    // the same sparse discipline as the ngram dedup key, never doc-pairs);
    // the ratio is a single IEEE divide of exact counts.
    "llm_ngram_novelty" -> ((s, d) => {
      val sh = Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .where(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ",
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2),
              element_at(col("toks"), i + 3))))).as("sh"))
      val firstSeen = sh.groupBy("sh").agg(min(col("doc_id")).as("first_seen"))
      sh.join(firstSeen, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_seen") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty", col("n_novel").cast("double") / col("n_shingles"))
        .orderBy("doc_id")
    }),

    // K13f — per-document token entropy (added r4): Shannon entropy of
    // each doc's own token distribution — the lexical-diversity signal
    // that separates natural prose (high entropy at its length) from
    // keyword-stuffed or looped spam (low). Same exact-count formulation
    // as agg_entropy: H = ln n − (Σ c·ln c)/n, ≤vocab ln terms per doc,
    // round-4 absorbs order drift. Complements llm_repetition (which
    // scores adjacency; this scores the global distribution).
    "llm_token_entropy" -> ((s, d) => {
      tokensAll(s, d)
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
        .select(col("doc_id"), col("n").as("n_tokens"),
          round(log(col("n").cast("double")) - col("clc") / col("n"), 4).as("token_entropy"))
        .orderBy("doc_id")
    }),

    // K12c — quality-weighted rejection sampling (added r4): keep each
    // document with probability proportional to a quality signal (here
    // token count, capped at 1.0 by 80 tokens) — the importance-weighted
    // downsampling between llm_sample_hash's flat rates and
    // llm_sample_stratified's exact counts. The acceptance draw is the
    // md5-uniform idiom (first 8 hex digits → u ∈ [0, 2^32)), so the
    // sample is reproducible at any scale and insensitive to row order;
    // the threshold compare is exact integer × double, one IEEE multiply.
    // Zero shuffles: tokenize, score, filter — all map-side.
    "llm_sample_rejection" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("wc", size(array_remove(split(col("text"), " "), lit(""))))
        .withColumn("p_accept", least(lit(1.0), col("wc").cast("double") / 80.0))
        .withColumn("u", conv(substring(
          md5(concat(col("doc_id").cast("string"), lit("|rej"))), 1, 8),
          16, 10).cast("long"))
        .where(col("u").cast("double") < col("p_accept") * 4294967296.0)
        .select(col("doc_id"), col("wc"), round(col("p_accept"), 4).as("p_accept"))
        .orderBy("doc_id")
    }),

    // K13c — Zipf slope of the corpus term-frequency distribution (added
    // r4): OLS fit of ln(freq) on ln(rank) — the standard sanity check
    // that a corpus is natural-language-shaped (slope ≈ −1) rather than
    // template spam (flat head) or near-random (steep tail). Rank is a
    // distributed two-pass global rank (ops.Rank — a web-scale vocabulary
    // is far too wide for a partition-less window; tie → term asc); the
    // regression sums run over that same table. Determinism: both engines
    // compute ln over exact integer counts/ranks (≤1 ulp apart), sums
    // over a ~vocabulary-count of terms drift ~1e-12 relative; round-4
    // absorbs both (the avg-log precedent). The only full-corpus work is
    // the token groupBy; everything after is vocabulary-sized.
    "llm_zipf_slope" -> ((s, d) => {
      val counts = tokensAll(s, d)
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      val ranked = graft.ops.Rank.withGlobalRank(counts,
          Seq(col("cnt").desc, col("token").asc), "r", "__n")
        .select(log(col("r").cast("double")).as("x"),
          log(col("cnt").cast("double")).as("y"))
      ranked
        .agg(count(lit(1)).as("n_terms"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("n_terms"),
          round((col("n_terms") * col("sxy") - col("sx") * col("sy")) /
            (col("n_terms") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"))
    }),

    // K13d — PMI collocations (added r4): pointwise mutual information
    // over adjacent token pairs, min count 5 — the classic collocation
    // extractor (Church & Hanks), and the corpus-health twin of
    // llm_bigram_nll (high-PMI pairs surviving dedup = real phrases;
    // a flat PMI table = shuffled spam). PMI = ln(c2·N / (c1a·c1b)) is a
    // single ln over exact integer products (HUGEINT-safe in the oracle,
    // DECIMAL here), so no float accumulation exists at all. Shapes:
    // bigram + unigram groupBys, two vocabulary-sized equi-joins.
    "llm_pmi_bigrams" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val toks = tokensAll(s, d)
      val bg = Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .where(size(col("toks")) >= 2)
        .withColumn("z", arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1)))
        .select(explode(col("z")).as("b"))
        .select(col("b.0").as("w1"), col("b.1").as("w2"))
      val nTotal = bg.agg(count(lit(1)).as("n_bigrams"))
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        .where(col("c2") >= 5)
      val c1 = toks.groupBy("token").agg(count(lit(1)).as("c1"))
      c2.join(c1.select(col("token").as("w1"), col("c1").as("c1a")), "w1")
        .join(c1.select(col("token").as("w2"), col("c1").as("c1b")), "w2")
        .crossJoin(broadcast(nTotal))
        .select(col("w1"), col("w2"), col("c2"),
          round(log((col("c2").cast(dec) * col("n_bigrams").cast(dec)).cast("double") /
            (col("c1a").cast(dec) * col("c1b").cast(dec)).cast("double")), 4).as("pmi"))
        .orderBy("w1", "w2")
    }),

    // K — pairwise self-BLEU (added r10): BLEU-2 of each document against
    // its successor within the source (deterministic doc_id pairing) —
    // the surface-overlap DIVERSITY eval generation pipelines track
    // (high self-BLEU = the corpus/generator is repeating itself), and
    // the reference-based eval harness primitive (swap the pairing for
    // (candidate, reference) and this IS corpus BLEU). Clipped n-gram
    // matches are exact ints from two per-doc count tables equi-joined on
    // the token within the pair (token-grain, never doc²); p₁/p₂ single
    // IEEE divides; the brevity penalty's exp() is the one transcendental
    // — floor-1e-4 on bp/bleu only. Pairs with no overlap keep their row
    // (p=0 ⇒ bleu 0) via left joins + coalesce.
    "llm_self_bleu" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .where(size(col("toks")) >= 2)
      val w = Window.partitionBy("source").orderBy("doc_id")
      val pairs = docs
        .withColumn("ref_id", lead(col("doc_id"), 1).over(w))
        .where(col("ref_id").isNotNull)
        .select(col("doc_id"), col("ref_id"))
        .transform(Checkpoints.stage) // pair list: one row per doc with a successor
      val uni = docs.select(col("doc_id"), explode(col("toks")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val big = docs
        .withColumn("z", arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1)))
        .select(col("doc_id"), explode(col("z")).as("b"))
        .select(col("doc_id"), concat(col("b.0"), lit(" "), col("b.1")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      def clipped(counts: DataFrame): DataFrame = pairs
        .join(counts.select(col("doc_id"), col("g"), col("c").as("cc")), "doc_id")
        .join(counts.select(col("doc_id").as("ref_id"), col("g"), col("c").as("rc")),
          Seq("ref_id", "g"))
        .groupBy("doc_id").agg(sum(least(col("cc"), col("rc"))).as("m"))
      val lens = docs.select(col("doc_id"), size(col("toks")).cast("long").as("len"))
      val cl = lens.withColumnRenamed("len", "clen")
      val rl = lens.select(col("doc_id").as("ref_id"), col("len").as("rlen"))
      pairs
        .join(clipped(uni).withColumnRenamed("m", "m1"), Seq("doc_id"), "left")
        .join(clipped(big).withColumnRenamed("m", "m2"), Seq("doc_id"), "left")
        .join(cl, "doc_id").join(rl, "ref_id")
        .select(col("doc_id"), col("ref_id"),
          coalesce(col("m1"), lit(0L)).as("n1_match"),
          coalesce(col("m2"), lit(0L)).as("n2_match"),
          col("clen"), col("rlen"))
        .withColumn("p1", col("n1_match").cast("double") / col("clen").cast("double"))
        .withColumn("p2", col("n2_match").cast("double")
          / (col("clen") - lit(1L)).cast("double"))
        .withColumn("bp", least(lit(1.0),
          exp(lit(1.0) - col("rlen").cast("double") / col("clen").cast("double"))))
        .select(col("doc_id"), col("ref_id"), col("n1_match"), col("n2_match"),
          col("p1"), col("p2"),
          (floor(col("bp") * 1e4) / 1e4).as("bp"),
          (floor(col("bp") * sqrt(col("p1") * col("p2")) * 1e4) / 1e4).as("bleu"))
        .orderBy("doc_id")
    }),

    // K — diagonal-Mahalanobis embedding outliers (added r10): distance
    // of each vector from the corpus's per-dimension mean in per-dim
    // σ units — the cheap embedding-space outlier score (encoder
    // regressions / corrupted rows surface as d² ≫ dims) that precedes
    // any clustering. Per-dim moments are EXACT (µ-quantized longs,
    // DECIMAL/HUGEINT sums — the pca_power covariance discipline, linear
    // one-pass, 64 groups); per-vector d² folds the 64 contributions in
    // dim order (ordered-fold idiom). E[d²] = dims·(n−1)/n exactly under
    // the population σ̂² — the identity the spec pins. Flag at 1.5·dims.
    "llm_embed_outliers" -> ((s, d) => {
      val xs = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("p", "x")))
        .select(col("vec_id"), col("label"), (col("p") + 1).as("dim"),
          floor(col("x").cast("double") * lit(1e6)).cast("long").as("xq"))
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val stats = xs.groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("xq").as("sx"),
          sum((col("xq") * col("xq")).cast(dec)).as("sxx"))
        .select(col("dim"),
          (col("sx").cast("double") / col("n").cast("double")).as("mu"),
          ((col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            / (col("n").cast("double") * col("n").cast("double"))).as("vr"))
      xs.join(broadcast(stats), "dim")
        .withColumn("contrib", when(col("vr") > 0,
          (col("xq").cast("double") - col("mu")) * (col("xq").cast("double") - col("mu"))
            / col("vr")).otherwise(lit(0.0)))
        .groupBy("vec_id", "label")
        .agg(expr("aggregate(array_sort(collect_list(named_struct('d', dim, 'c', contrib))), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.c)").as("d2raw"))
        .select(col("vec_id"), col("label"),
          (floor(col("d2raw") * 1e4) / 1e4).as("d2"),
          when(col("d2raw") > 96.0, lit(1L)).otherwise(lit(0L)).as("is_outlier"))
        .orderBy("vec_id")
    }),

    // K — Bradley–Terry source ranking (added r10): fit pairwise-duel
    // strengths with 3 unrolled minorization-maximization iterations —
    // the model behind LLM-eval win-rate leaderboards (pairwise
    // preferences → per-player strength), exercised here on deterministic
    // doc-length duels between sources. Duels pair md5-adjacent docs
    // INSIDE 256 hash buckets (windows stay bucket-sized — no corpus-wide
    // sort), then everything collapses to source-pair grain (≤ sources²
    // cells at any corpus size): each MM step s_i ← W_i / Σ_j n_ij/(s_i+s_j)
    // folds its ≤|sources| terms in j order, and the mean-1 normalization
    // folds the source vector in i order — identical IEEE sequences both
    // engines (the markov_steady discipline).
    "llm_bradley_terry" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("bkt", conv(substring(col("h"), 1, 4), 16, 10).cast("long") % 256)
      val w = Window.partitionBy("bkt").orderBy("h", "doc_id")
      val duels = docs
        .withColumn("src2", lead("source", 1).over(w))
        .withColumn("nc2", lead("n_chars", 1).over(w))
        .where(col("src2").isNotNull && col("src2") =!= col("source")
          && col("nc2") =!= col("n_chars"))
        .select(
          when(col("n_chars") > col("nc2"), col("source")).otherwise(col("src2")).as("winner"),
          when(col("n_chars") > col("nc2"), col("src2")).otherwise(col("source")).as("loser"))
      val cells = duels.groupBy("winner", "loser").agg(count(lit(1)).as("w"))
        .transform(Checkpoints.stage) // source² grain
      val games = cells.select(col("winner").as("i"), col("loser").as("j"), col("w"))
        .unionByName(cells.select(col("loser").as("i"), col("winner").as("j"), col("w")))
        .groupBy("i", "j").agg(sum("w").as("nij"))
      val wins = cells.groupBy(col("winner").as("i")).agg(sum("w").as("wi"))
      val gtot = games.groupBy("i").agg(sum("nij").as("games"))
      val srcs = games.select("i").distinct()
      val kcnt = srcs.agg(count(lit(1)).as("k"))
      def step(sv: DataFrame): DataFrame = {
        val denom = games
          .join(sv.select(col("i"), col("sv").as("si")), "i")
          .join(sv.select(col("i").as("j"), col("sv").as("sj")), "j")
          .withColumn("term", col("nij").cast("double") / (col("si") + col("sj")))
          .groupBy("i")
          .agg(expr("aggregate(array_sort(collect_list(named_struct('j', j, 'x', term))), " +
            "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.x)").as("den"))
        // checkpoint the ≤|sources|-row frames per iteration (the
        // agg_markov_steady discipline): raw is referenced twice (the tot
        // fold + the output projection) and the returned sv twice by the
        // NEXT step's si/sj joins, so without lineage cuts the lazy plan
        // doubles per MM level (2³ subtrees re-planning two collect_list
        // global aggs each — the r8 bench's 31 s outlier, 7 % of suite
        // wall). Values are materialized unchanged — hash-identical.
        val raw = denom.join(wins, Seq("i"), "left")
          .select(col("i"),
            (coalesce(col("wi"), lit(0L)).cast("double") / col("den")).as("sraw"))
          .transform(Checkpoints.stage) // source-grain (k rows)
        val tot = raw.agg(expr("aggregate(array_sort(collect_list(named_struct('i', i, 'x', sraw))), " +
          "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.x)").as("tots"))
        raw.crossJoin(broadcast(tot)).crossJoin(broadcast(kcnt))
          .select(col("i"),
            (col("sraw") * col("k").cast("double") / col("tots")).as("sv"))
          .transform(Checkpoints.stage) // k rows — frees the duel lineage per level
      }
      val v3 = step(step(step(srcs.withColumn("sv", lit(1.0)))))
      v3.join(gtot, "i").join(wins, Seq("i"), "left")
        .select(col("i").as("source"), col("games"),
          coalesce(col("wi"), lit(0L)).as("wins"),
          (floor(col("sv") * 1e4) / 1e4).as("strength"))
        .orderBy("source")
    }),

    // K — Cohen's kappa judge agreement (added r10): chance-corrected
    // agreement between two binary quality judges — the eval-harness
    // statistic that decides whether a cheap heuristic can stand in for
    // an expensive one (or an LLM judge for a human). Judges here are
    // two deterministic heuristics (length ≥ 300 chars; distinct-token
    // ratio ≥ 0.5 — tested as the exact integer 2·distinct ≥ total, no
    // float crosses a row). One scan to the 2×2 confusion (map-side
    // partial), po/pe/κ closed-form IEEE from exact counts, floor-1e-4;
    // pe = 1 (a constant judge pair) guards to NULL.
    // K — judge calibration curve (added r9): the reliability diagram for
    // a cheap graded signal against a binary label — beside
    // `llm_cohens_kappa` (agreement of two binary judges) this asks the
    // GRADED question: when the length-based confidence says 0.7, is the
    // lexical-diversity label true ~70 % of the time? Confidence =
    // min(n_chars, 1000)/1000 (an exact 1e-3 rational), label = the
    // kappa key's exact integer distinct-ratio test; buckets from the
    // exact integer ⌊cq·10/1000⌋ (cap 9). Per bucket: n, mean confidence,
    // observed rate, |gap| — all single IEEE expressions of exact sums,
    // floor-1e-4. One scan, decile-grain output.
    "llm_judge_calibration" -> ((s, d) => {
      val j = Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .select(least(col("n_chars"), lit(1000L)).as("cq"),
          when(size(array_distinct(col("toks"))) * 2 >= size(col("toks")), lit(1L))
            .otherwise(lit(0L)).as("y"))
        .withColumn("bucket",
          least(floor(col("cq").cast("double") * 10 / 1000.0).cast("long"), lit(9L)))
      val conf = col("sc").cast("double") / col("n").cast("double") / 1000.0
      val obs = col("sy").cast("double") / col("n").cast("double")
      j.groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("cq").as("sc"), sum("y").as("sy"))
        .select(col("bucket"), col("n").as("n_docs"),
          (floor(conf * 1e4) / 1e4).as("confidence"),
          (floor(obs * 1e4) / 1e4).as("observed"),
          (floor(abs(conf - obs) * 1e4) / 1e4).as("gap"))
        .orderBy("bucket")
    }),

    "llm_cohens_kappa" -> ((s, d) => {
      val j = Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .select(
          when(col("n_chars") >= 300, lit(1L)).otherwise(lit(0L)).as("j1"),
          when(size(array_distinct(col("toks"))) * 2 >= size(col("toks")), lit(1L))
            .otherwise(lit(0L)).as("j2"))
      val c = j.agg(
        count(lit(1)).as("n"),
        sum(when(col("j1") === 1 && col("j2") === 1, 1L).otherwise(0L)).as("n11"),
        sum(when(col("j1") === 1 && col("j2") === 0, 1L).otherwise(0L)).as("n10"),
        sum(when(col("j1") === 0 && col("j2") === 1, 1L).otherwise(0L)).as("n01"),
        sum(when(col("j1") === 0 && col("j2") === 0, 1L).otherwise(0L)).as("n00"))
      val nd = col("n").cast("double")
      val po = (col("n11") + col("n00")).cast("double") / nd
      val pe = ((col("n11") + col("n10")).cast("double")
        * (col("n11") + col("n01")).cast("double")
        + (col("n00") + col("n01")).cast("double")
          * (col("n00") + col("n10")).cast("double")) / (nd * nd)
      c.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        (floor(po * 1e4) / 1e4).as("po"),
        (floor(pe * 1e4) / 1e4).as("pe"),
        when(pe < 1.0, floor((po - pe) / (lit(1.0) - pe) * 1e4) / 1e4).as("kappa"))
    }),

    // K — per-source calibration scalars (added r9): ECE + Brier score of
    // the graded length-confidence against the lexical-diversity label —
    // the scalar companions to `llm_judge_calibration`'s per-decile curve,
    // and the readout an eval harness actually gates on ("is source X's
    // judge trustworthy enough to auto-label?"). Both statistics reduce
    // to EXACT integer arithmetic: confidence is the exact rational
    // cq/1000 (cq = min(n_chars,1000)), so ECE = Σ_b |1000·Σy_b − Σcq_b|
    // / (1000·n) has an exact-long numerator (per-bucket signed gaps
    // folded as absolute longs — order-free), and Brier = Σ(cq−1000y)²
    // / (n·10⁶) sums exact per-row squares ≤ 10⁶ (≤ 5·10¹⁰ at sf0.1 —
    // long-safe to ~9·10¹² docs). One scan → (source, decile) cells →
    // source grain; the single IEEE divide per readout, floor-1e-4.
    "llm_ece_brier" -> ((s, d) => {
      val j = Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .select(col("source"),
          least(col("n_chars"), lit(1000L)).as("cq"),
          when(size(array_distinct(col("toks"))) * 2 >= size(col("toks")), lit(1L))
            .otherwise(lit(0L)).as("y"))
        .withColumn("bucket",
          least(floor(col("cq").cast("double") * 10 / 1000.0).cast("long"), lit(9L)))
        .withColumn("sq",
          (col("cq") - lit(1000L) * col("y")) * (col("cq") - lit(1000L) * col("y")))
      j.groupBy("source", "bucket")
        .agg(count(lit(1)).as("n"), sum("cq").as("sc"),
          sum("y").as("sy"), sum("sq").as("ss"))
        .groupBy("source")
        .agg(sum("n").as("n_docs"),
          sum(abs(lit(1000L) * col("sy") - col("sc"))).as("eceNum"),
          sum("ss").as("brierNum"))
        .select(col("source"), col("n_docs"),
          (floor(col("eceNum").cast("double")
            / (col("n_docs").cast("double") * 1000.0) * 1e4) / 1e4).as("ece"),
          (floor(col("brierNum").cast("double")
            / (col("n_docs").cast("double") * 1e6) * 1e4) / 1e4).as("brier"))
        .orderBy("source")
    }),

    // K — Mixture-of-Experts routing audit (added r9): route every
    // embedding to its top-2 of 8 "experts" (the shared Lloyd centroids)
    // and report the per-expert LOAD BALANCE — top-1 load f_e, capacity
    // demand (top-2), mean gate probability, and an auxiliary-loss
    // readout k·f_e·ĝ_e in the Switch Transformer SHAPE (Fedus et al.
    // define the aux loss with P_e = mean router probability over ALL
    // tokens; here ĝ_e is the mean gate over only the tokens top-1
    // routed TO expert e — the top-1-conditional mean, biased above the
    // paper's P_e by construction. The conditional form is what a
    // routing AUDIT wants — "how confident were the tokens this expert
    // actually received" — and is what both engines compute; a balanced
    // router still reads aux ≈ 1 per expert, a collapsed router still
    // concentrates it). This is the data-side readout MoE training
    // pipelines gate on: routed token distribution BEFORE the GPUs see
    // the imbalance. Determinism: cosines via the exact sequential
    // vec_dot against floor-quantized centroids (the lloyd recipe);
    // softmax folds exp(csim) in cell order per vector and P_e folds in
    // vec_id order per expert — both engines add identical sequences;
    // ties (csim, cell asc). Work: |v|×8 affinity rows — linear; expert
    // grain output. At 100 TB experts stay k-sized (broadcast), the
    // affinity scan is the one pass.
    "llm_moe_route" -> ((s, d) => {
      val v = vecs(s, d).select("vec_id", "embedding", "norm")
      val asg = graft.ops.Ivf.lloyd(v, k = 8, rounds = 3)
      val cent = graft.ops.Ivf.centroidsOf(asg)
      val aff = v.crossJoin(broadcast(cent))
        .withColumn("csim", dot(col("embedding"), col("centroid"))
          / (col("norm") * col("cnorm")))
        .select(col("vec_id"), col("cell"), col("csim"))
        .transform(Checkpoints.stage) // 8·|v| affinity rows, read by gate + route
      val wA = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))
      val gated = aff
        .groupBy("vec_id")
        .agg(expr("aggregate(array_sort(collect_list(named_struct('c', cell, 'e', exp(csim)))), " +
          "CAST(0.0 AS DOUBLE), (acc, s) -> acc + s.e)").as("z"))
      val routed = aff.withColumn("rn", row_number().over(wA)).where(col("rn") <= 2)
        .join(gated, "vec_id")
        .withColumn("p", exp(col("csim")) / col("z"))
      val n = v.agg(count(lit(1)).as("n_vecs"))
      routed.groupBy("cell")
        .agg(
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_top1"),
          count(lit(1)).as("n_top2"),
          expr("aggregate(array_sort(collect_list(named_struct('v', vec_id, " +
            "'p', CASE WHEN rn = 1 THEN p ELSE CAST(0.0 AS DOUBLE) END))), " +
            "CAST(0.0 AS DOUBLE), (acc, s) -> acc + s.p)").as("sp"))
        .crossJoin(broadcast(n))
        .select(col("cell").as("expert"), col("n_top1"), col("n_top2"),
          (floor(col("n_top1").cast("double") / col("n_vecs").cast("double") * 1e4)
            / 1e4).as("load_frac"),
          when(col("n_top1") > 0,
            floor(col("sp") / col("n_top1").cast("double") * 1e4) / 1e4)
            .otherwise(lit(0.0)).as("mean_gate"),
          when(col("n_top1") > 0,
            floor(lit(8.0) * (col("n_top1").cast("double") / col("n_vecs").cast("double"))
              * (col("sp") / col("n_top1").cast("double")) * 1e4) / 1e4)
            .otherwise(lit(0.0)).as("aux_loss"))
        .orderBy("expert")
    }),

    // K — naive-Bayes discriminative tokens (added r9): train the
    // data-side half of a fastText-style quality classifier — per-token
    // Laplace-smoothed log-odds ln((n₁+1)/(N₁+2)) − ln((n₀+1)/(N₀+2))
    // between the lexical-diversity classes, report the 50 most
    // discriminative tokens (min df 5). This is how production quality
    // filters bootstrap (CCNet/fastText: label a seed corpus with a
    // cheap heuristic, train token weights, score everything); the
    // token table IS the model. Shapes: one scan → per-doc distinct
    // presence explode → vocabulary-grain class counts; the two ln's are
    // row-local on exact integer rationals (no accumulation); selection
    // orders by (|log_odds| desc, token) — the tfidf_terms tie policy.
    // Vocabulary-grain throughout; the class totals broadcast as one row.
    "llm_nb_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .withColumn("y",
          when(size(array_distinct(col("toks"))) * 2 >= size(col("toks")), lit(1L))
            .otherwise(lit(0L)))
      val cls = docs.agg(sum("y").as("n_pos_docs"),
        sum(lit(1L) - col("y")).as("n_neg_docs"))
      val tokCls = docs
        .select(col("y"), explode(array_distinct(col("toks"))).as("token"))
        .groupBy("token")
        .agg(sum(col("y")).as("n_pos"), sum(lit(1L) - col("y")).as("n_neg"))
        .where(col("n_pos") + col("n_neg") >= 5)
      tokCls.crossJoin(broadcast(cls))
        .withColumn("lo",
          log((col("n_pos") + 1).cast("double") / (col("n_pos_docs") + 2).cast("double"))
            - log((col("n_neg") + 1).cast("double") / (col("n_neg_docs") + 2).cast("double")))
        .orderBy(abs(col("lo")).desc, col("token"))
        .limit(50)
        .select(col("token"), col("n_pos"), col("n_neg"),
          (floor(col("lo") * 1e4) / 1e4).as("log_odds"))
        .orderBy("token")
    }),

    // K — online Elo ratings (added r9): the SEQUENTIAL companion to
    // `llm_bradley_terry`'s batch MM fit — Elo processes duels one at a
    // time (R_w += K·(1−E_w), the update arena leaderboards apply live),
    // so the result depends on arrival ORDER, which this key pins
    // deterministically: duels replay per md5 bucket in (h, doc_id)
    // order, each bucket folds its duel list sequentially over a k-sized
    // rating vector (state = k doubles per bucket, never the duels), and
    // per-source ratings average across buckets in bucket order. All
    // duel identities exact (the bradley_terry pairing verbatim); the
    // fold's one transcendental is 10^(Δ/400) per duel, identical IEEE
    // shape both engines (the expected-score term appears twice in the
    // CASE — same expression, same result). k comes from one distinct
    // count; the source→index bijection is the distributed `ops.Rank`
    // (no partition-less window over data). Bucket-parallel at any
    // corpus: 256 independent folds.
    "llm_elo_online" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("bkt", conv(substring(col("h"), 1, 4), 16, 10).cast("long") % 256)
      val w = Window.partitionBy("bkt").orderBy("h", "doc_id")
      val duels = docs
        .withColumn("src2", lead("source", 1).over(w))
        .withColumn("nc2", lead("n_chars", 1).over(w))
        .where(col("src2").isNotNull && col("src2") =!= col("source")
          && col("nc2") =!= col("n_chars"))
        .select(col("bkt"), col("h"), col("doc_id"),
          when(col("n_chars") > col("nc2"), col("source")).otherwise(col("src2")).as("winner"),
          when(col("n_chars") > col("nc2"), col("src2")).otherwise(col("source")).as("loser"))
        .transform(Checkpoints.stage) // duel grain; read by the fold + the counts
      val srcs = Tables.documents(s, d).select("source").distinct()
      val k = srcs.count().toInt
      val idx = graft.ops.Rank.withGlobalRank(srcs, Seq(col("source").asc), "idx", "__n")
        .select(col("source"), col("idx").cast("int").as("idx"))
        .transform(Checkpoints.stage) // k rows
      val dIdx = duels
        .join(broadcast(idx.select(col("source").as("winner"), col("idx").as("wi"))), "winner")
        .join(broadcast(idx.select(col("source").as("loser"), col("idx").as("li"))), "loser")
        .withColumn("arr", array(col("wi").cast("double"), col("li").cast("double")))
      val dTerm = "16.0D / (1.0D + pow(10.0D, (element_at(acc, CAST(element_at(e.a, 1) AS INT))" +
        " - element_at(acc, CAST(element_at(e.a, 2) AS INT))) / 400.0D))"
      val byBkt = dIdx.groupBy("bkt")
        .agg(expr(
          s"""aggregate(
             |  array_sort(collect_list(named_struct('h', h, 'd', doc_id, 'a', arr))),
             |  array_repeat(CAST(1000.0 AS DOUBLE), $k),
             |  (acc, e) -> transform(acc, (v, i) ->
             |    CASE WHEN i + 1 = CAST(element_at(e.a, 1) AS INT) THEN v + $dTerm
             |         WHEN i + 1 = CAST(element_at(e.a, 2) AS INT) THEN v - $dTerm
             |         ELSE v END))""".stripMargin).as("ratings"))
      val perSrc = byBkt
        .select(col("bkt"), posexplode(col("ratings")).as(Seq("p", "r")))
        .select(col("bkt"), (col("p") + 1).as("idx"), col("r"))
        .groupBy("idx")
        .agg(count(lit(1)).as("n_buckets"),
          expr("aggregate(array_sort(collect_list(named_struct('b', bkt, 'x', r))), " +
            "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.x)").as("sr"))
      val games = duels.select(col("winner").as("source"))
        .unionByName(duels.select(col("loser").as("source")))
        .groupBy("source").agg(count(lit(1)).as("n_duels"))
      idx.join(perSrc, "idx").join(games, Seq("source"), "left")
        .select(col("source"), coalesce(col("n_duels"), lit(0L)).as("n_duels"),
          (floor(col("sr") / col("n_buckets").cast("double") * 1e4) / 1e4).as("mean_elo"))
        .orderBy("source")
    }),

    // K — ROUGE-1/2 recall (added r9): clipped n-gram RECALL of each doc
    // against its source-successor — with `llm_self_bleu` (clipped
    // PRECISION + brevity penalty) and `llm_rouge_l` (subsequence order)
    // this completes the surface-overlap eval triad; ROUGE-N recall is
    // what summarization leaderboards report. Same token-grain shape as
    // self_bleu: per-doc n-gram count tables equi-joined on the gram
    // WITHIN the pair (never doc²), clipped matches exact ints, recall =
    // match/ref_len one IEEE divide each, floor-1e-4; zero-overlap pairs
    // kept via left joins. No length cap (counts are linear, unlike the
    // LCS key's 60-token DP envelope).
    "llm_rouge_n" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", array_remove(split(col("text"), " "), lit("")))
        .where(size(col("toks")) >= 2)
      val w = Window.partitionBy("source").orderBy("doc_id")
      val pairs = docs
        .withColumn("ref_id", lead(col("doc_id"), 1).over(w))
        .where(col("ref_id").isNotNull)
        .select(col("doc_id"), col("ref_id"))
        .transform(Checkpoints.stage) // pair list: one row per doc with a successor
      val uni = docs.select(col("doc_id"), explode(col("toks")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val big = docs
        .withColumn("z", arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1)))
        .select(col("doc_id"), explode(col("z")).as("b"))
        .select(col("doc_id"), concat(col("b.0"), lit(" "), col("b.1")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      def clipped(counts: DataFrame): DataFrame = pairs
        .join(counts.select(col("doc_id"), col("g"), col("c").as("cc")), "doc_id")
        .join(counts.select(col("doc_id").as("ref_id"), col("g"), col("c").as("rc")),
          Seq("ref_id", "g"))
        .groupBy("doc_id").agg(sum(least(col("cc"), col("rc"))).as("m"))
      val rl = docs.select(col("doc_id").as("ref_id"),
        size(col("toks")).cast("long").as("rlen"))
      pairs
        .join(clipped(uni).withColumnRenamed("m", "m1"), Seq("doc_id"), "left")
        .join(clipped(big).withColumnRenamed("m", "m2"), Seq("doc_id"), "left")
        .join(rl, "ref_id")
        .select(col("doc_id"), col("ref_id"),
          coalesce(col("m1"), lit(0L)).as("n1_match"),
          coalesce(col("m2"), lit(0L)).as("n2_match"),
          col("rlen"),
          (floor(coalesce(col("m1"), lit(0L)).cast("double")
            / col("rlen").cast("double") * 1e4) / 1e4).as("rouge1_r"),
          (floor(coalesce(col("m2"), lit(0L)).cast("double")
            / (col("rlen") - 1).cast("double") * 1e4) / 1e4).as("rouge2_r"))
        .orderBy("doc_id")
    }),

    // K — ROUGE-L via BIT-PARALLEL LCS (added r9): longest-common-
    // SUBSEQUENCE overlap of each doc against its source-successor — the
    // order-sensitive eval primitive beside `llm_self_bleu`'s clipped
    // n-gram counts (BLEU rewards local phrase overlap; ROUGE-L rewards
    // global ordering — swap the pairing for (candidate, reference) and
    // this IS the summarization eval). The textbook DP is O(|A|·|B|)
    // PER PAIR with a sequentially-dependent inner loop — poison for a
    // columnar engine — so this runs the Allison–Dix bit-vector LCS
    // instead: per reference token-position masks (exact longs, ≤ 60
    // bits), then ONE O(|A|)-step fold of pure 64-bit integer ops
    // V' = ((V + (V&M)) | (V & (full−M))) & full, LCS = rlen −
    // popcount(V). Every op is exact integer arithmetic — NO float
    // crosses the fold, both engines run the identical recurrence
    // (list_reduce seeded by prepending full), and the per-step & full
    // discards the carry bit so 60 steps can't overflow a long. Work is
    // token-grain (pairs × |A| join rows, masks vocabulary-per-doc) —
    // never |A|·|B| cells. Docs truncate to their first 60 tokens
    // (prefix ROUGE-L, the declared envelope — one long fits 60
    // positions with carry headroom). R/P/F single IEEE divides of the
    // exact integer LCS, floor-1e-4.
    "llm_rouge_l" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks",
          slice(array_remove(split(col("text"), " "), lit("")), 1, 60))
        .where(size(col("toks")) >= 1)
      val w = Window.partitionBy("source").orderBy("doc_id")
      val pairs = docs
        .withColumn("ref_id", lead(col("doc_id"), 1).over(w))
        .where(col("ref_id").isNotNull)
        .select(col("doc_id"), col("ref_id"))
        .transform(Checkpoints.stage) // pair list: one row per doc with a successor
      val atoks = docs
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "tok")))
        .select(col("doc_id"), (col("p") + 1).as("i"), col("tok"))
      val bmask = docs
        .select(col("doc_id").as("ref_id"), posexplode(col("toks")).as(Seq("p", "tok")))
        .groupBy("ref_id", "tok")
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), p)")).as("mask"))
      val rl = docs.select(col("doc_id").as("ref_id"),
        size(col("toks")).cast("long").as("rlen"))
      val cl = docs.select(col("doc_id"), size(col("toks")).cast("long").as("clen"))
      pairs
        .join(rl, "ref_id")
        .withColumn("full",
          expr("shiftleft(CAST(1 AS BIGINT), CAST(rlen AS INT)) - CAST(1 AS BIGINT)"))
        .join(atoks, "doc_id")
        .join(bmask, Seq("ref_id", "tok"), "left")
        .withColumn("mv", coalesce(col("mask"), lit(0L)))
        .groupBy("doc_id", "ref_id", "rlen", "full")
        .agg(expr("aggregate(array_sort(collect_list(named_struct('i', i, 'm', mv))), " +
          "CAST(full AS BIGINT), " +
          "(acc, e) -> ((acc + (acc & e.m)) | (acc & (full - e.m))) & full)").as("v"))
        .join(cl, "doc_id")
        .withColumn("lcs", col("rlen") - bit_count(col("v")).cast("long"))
        .select(col("doc_id"), col("ref_id"), col("clen"), col("rlen"), col("lcs"),
          (floor(col("lcs").cast("double") / col("rlen").cast("double") * 1e4) / 1e4)
            .as("rouge_r"),
          (floor(col("lcs").cast("double") / col("clen").cast("double") * 1e4) / 1e4)
            .as("rouge_p"),
          (floor(lit(2.0) * col("lcs").cast("double")
            / (col("clen") + col("rlen")).cast("double") * 1e4) / 1e4).as("rouge_f"))
        .orderBy("doc_id")
    }),
  )

  // the shared oracle tok CTE lives beside its Spark twin in Dedup so the
  // two can't drift; this alias keeps the interpolations below readable
  private val tokCte = Dedup.tokCte

  /** The [[contamShingles]]-based decontamination oracle, shared verbatim
    * by `llm_decontaminate` and `llm_bloom_decontaminate` (the bloom is a
    * prefilter only — exact verify makes the outputs row-identical). */
  /** The [[contamShingles]] oracle CTE chain (t/d/sh/ev — tokenize,
    * md5 eval split, distinct 5-gram shingles, eval shingle set),
    * shared VERBATIM by `llm_decontaminate` and
    * `llm_contamination_report` so the doc-grain screen and its
    * source-grain rollup can never verify against different eval sets
    * (r12 review). */
  private val decontamCtes =
    """t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
      |           FROM documents),
      |d AS (
      |  SELECT doc_id,
      |         CASE WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
      |              < 3277 THEN 1 ELSE 0 END AS is_eval,
      |         list_distinct(list_transform(range(1, len(toks) - 3),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] ||
      |                ' ' || toks[i+3] || ' ' || toks[i+4])) AS gs
      |  FROM t WHERE len(toks) >= 5
      |),
      |sh AS (SELECT doc_id, is_eval, unnest(gs) AS g FROM d),
      |ev AS (SELECT DISTINCT g FROM sh WHERE is_eval = 1)""".stripMargin
  // NOTE: decontamCtes is interpolated into stripMargin'd strings below —
  // no line above may START (post-strip) with '|', or the outer
  // stripMargin would eat it (it did: '||' became '|', r12 review fix)

  private val decontamSql =
    s"""WITH $decontamCtes
      |SELECT sh.doc_id, count(*) AS n_shingles,
      |       CAST(sum(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |       round(CAST(sum(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |         / count(*), 4) AS contam_frac,
      |       CAST(max(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS flagged
      |FROM sh LEFT JOIN ev ON sh.g = ev.g
      |WHERE sh.is_eval = 0
      |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin

  /** The [[langIdScored]] oracle CTE chain (through `best`), shared by
    * `llm_lang_id` and `llm_lang_confusion`. */
  private lazy val langIdCtes =
    s"""$tokCte,
      |dfreq AS (
      |  SELECT lang AS p_lang, token, count(DISTINCT doc_id) AS df
      |  FROM tok GROUP BY 1, 2
      |),
      |profile AS (
      |  SELECT p_lang, token AS p_token FROM (
      |    SELECT *, row_number() OVER (PARTITION BY p_lang ORDER BY df DESC, token) AS r
      |    FROM dfreq
      |  ) WHERE r <= 20
      |),
      |overlap AS (
      |  SELECT t.doc_id, p.p_lang, count(*) AS n_overlap
      |  FROM tok t JOIN profile p ON t.token = p.p_token
      |  GROUP BY 1, 2
      |),
      |best AS (
      |  SELECT doc_id AS b_doc, p_lang AS pred_lang, n_overlap FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY n_overlap DESC, p_lang) AS br
      |    FROM overlap
      |  ) WHERE br = 1
      |)""".stripMargin

  /** Shared CTE chain for the clustering oracles: LSH band candidates →
    * exact-Jaccard pairs at 0.9 → WITH RECURSIVE connected components
    * (`comp(id, cluster_id)`, cluster_id = min reachable node — the same
    * fixpoint the pointer-jump routine reaches). */
  private lazy val componentCtes =
    s"""WITH RECURSIVE $tokCte,
      |${Dedup.bandsCte},
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b
      |    ON a.band_i = b.band_i AND a.band_v = b.band_v AND a.doc_id < b.doc_id
      |),
      |n AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT c.a_id, c.b_id, count(*) AS n_inter
      |  FROM cand c
      |  JOIN tok ta ON ta.doc_id = c.a_id
      |  JOIN tok tb ON tb.doc_id = c.b_id AND tb.token = ta.token
      |  GROUP BY 1, 2
      |),
      |pairs AS (
      |  SELECT i.a_id, i.b_id
      |  FROM inter i JOIN n na ON na.doc_id = i.a_id JOIN n nb ON nb.doc_id = i.b_id
      |  WHERE CAST(n_inter AS DOUBLE) / (na.ntok + nb.ntok - n_inter) >= 0.9
      |),
      |edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
      |reach AS (
      |  SELECT u AS id, u AS r FROM edges
      |  UNION
      |  SELECT rc.id, e.v FROM reach rc JOIN edges e ON e.u = rc.r
      |),
      |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Shared CTE chain for the winnowing oracles: tokens → 3-gram md5
    * shingle hashes → per-window (w=4) min selection with the short-doc
    * fallbacks, ending in `s(doc_id, sel)`. */
  private val winnowCtes =
    """WITH t AS (
      |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
      |  FROM documents
      |),
      |h AS (
      |  SELECT doc_id, text,
      |         CASE WHEN len(toks) >= 3 THEN
      |           list_transform(range(1, len(toks) - 1),
      |             i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |         END AS hs
      |  FROM t
      |),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN hs IS NULL THEN [md5(text)]
      |              WHEN len(hs) <= 4 THEN [list_aggregate(hs, 'min')]
      |              ELSE list_distinct(list_transform(range(1, len(hs) - 2),
      |                j -> list_aggregate(list_slice(hs, j, j + 3), 'min')))
      |         END AS sel
      |  FROM h
      |)""".stripMargin

  private val tokAllCte =
    """tok AS (
      |  SELECT doc_id, lang, source, unnest(list_filter(
      |    string_split(text, ' '), t -> len(t) > 0)) AS token
      |  FROM documents
      |)""".stripMargin

  private val vecCte =
    """v AS (
      |  SELECT vec_id, embedding, label,
      |         sqrt(list_aggregate(list_transform(embedding,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm
      |  FROM embeddings
      |)""".stripMargin

  private val dotSql =
    """list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
      |  s -> CAST(struct_extract(s, 1) AS DOUBLE) * CAST(struct_extract(s, 2) AS DOUBLE)), 'sum')""".stripMargin

  /** The [[ivfSearch]] oracle CTE chain (through `cells` and `nn`),
    * parameterized by nprobe. Mirrors the Spark side exactly: sorted-order
    * per-dim sums (list(x ORDER BY x) folded sequentially), floor-quantized
    * centroids, one index cell per vector, `nprobe` probe cells per query.
    * Shared by `llm_ivf_probe` and `llm_recall_at_k` (which appends its
    * exact-NN CTEs). */
  private def ivfCtes(nprobe: Int): String = ivfCtesMod(nprobe, "16", "")

  /** [[ivfCtes]] with the cell-count MODULUS as a SQL expression and an
    * optional extra CTE between `v` and `seeded` — the hook
    * `llm_ivf_serve` uses to size nlist from the corpus (a scalar
    * subquery) instead of the demo literal 16. */
  private def ivfCtesMod(nprobe: Int, modSql: String, extraCte: String): String =
    s"""$vecCte,$extraCte
      |seeded AS (
      |  SELECT vec_id, embedding, norm,
      |         CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS BIGINT)
      |           % $modSql AS seed
      |  FROM v
      |),
      |px AS (
      |  SELECT seed, unnest(range(1, len(embedding) + 1)) AS i,
      |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
      |  FROM seeded
      |),
      |cm AS (
      |  SELECT seed, i, list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
      |  FROM px GROUP BY 1, 2
      |),
      |cent AS (
      |  SELECT seed AS cell, list(floor(m * 1000000) / 1000000 ORDER BY i) AS centroid
      |  FROM cm GROUP BY seed
      |),
      |centn AS (
      |  SELECT cell, centroid,
      |         sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum')) AS cnorm
      |  FROM cent
      |),
      |asg AS (
      |  SELECT s.vec_id, s.embedding, s.norm, c.cell,
      |         list_aggregate(list_transform(list_zip(s.embedding, c.centroid),
      |           p -> CAST(struct_extract(p, 1) AS DOUBLE) * struct_extract(p, 2)), 'sum')
      |           / (s.norm * c.cnorm) AS csim
      |  FROM seeded s CROSS JOIN centn c
      |),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS r
      |  FROM asg
      |),
      |cells AS (SELECT vec_id, embedding, norm, cell FROM ranked WHERE r = 1),
      |probes AS (SELECT vec_id, embedding, norm, cell FROM ranked WHERE r <= $nprobe),
      |sims AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |         $dotSql / (a.norm * b.norm) AS sim
      |  FROM probes a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |),
      |nn AS (
      |  SELECT a_id, b_id AS nn_id, round(sim, 4) AS sim FROM (
      |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
      |    FROM sims
      |  ) WHERE rn = 1
      |)""".stripMargin

  /** The position-aligned dot-product fold both engines agree on
    * bit-for-bit, as oracle SQL over two list expressions. */
  private def dtSql(x: String, y: String): String =
    s"""list_aggregate(list_transform(list_zip($x, $y),
       |  s -> CAST(struct_extract(s, 1) AS DOUBLE)
       |     * CAST(struct_extract(s, 2) AS DOUBLE)), 'sum')""".stripMargin

  /** The [[nnDescentGraph]] oracle CTE chain (through `vp`, the
    * occupancy coarse cells, the cell-seeded init and the two unrolled
    * descent rounds ending at `nb2`) — shared by `llm_nn_descent`
    * (neighbor-table readout) and `llm_graph_search` (greedy serving
    * over the same graph), so the two keys can never desynchronize on
    * the build. */
  /** The [[nnDescentGraph]] oracle CTE chain as a FUNCTION of the source
    * vector relation `src` (vec_id, embedding, norm) and a CTE-name
    * prefix `p` — so the SAME build can be instantiated once for the
    * full corpus (p = "", `llm_nn_descent` / `llm_graph_search` /
    * `llm_recall_graph`) and once for the md5-promoted upper layer
    * (p = "u", the 2-layer `llm_hnsw_search`). Ends at `${p}nb2`. */
  private def descentChain(src: String, p: String): String = {
    val rounds = (1 to 2).map { i =>
      s"""${p}cand$i AS (
         |  SELECT DISTINCT node, nb FROM (
         |    SELECT node, nb FROM ${p}nb${i - 1}
         |    UNION ALL
         |    SELECT a.node, b.nb FROM ${p}nb${i - 1} a JOIN ${p}nb${i - 1} b ON a.nb = b.node
         |  ) WHERE nb <> node
         |),
         |${p}sc$i AS (
         |  SELECT c.node, c.nb,
         |         ${dtSql("va.embedding", "vb.embedding")} / (va.norm * vb.norm) AS sim
         |  FROM ${p}cand$i c JOIN $src va ON va.vec_id = c.node
         |  JOIN $src vb ON vb.vec_id = c.nb
         |),
         |${p}nb$i AS MATERIALIZED (
         |  SELECT node, nb FROM (
         |    SELECT *, row_number() OVER (PARTITION BY node
         |                                 ORDER BY sim DESC, nb) AS rk
         |    FROM ${p}sc$i
         |  ) WHERE rk <= 4
         |)""".stripMargin
    }.mkString(",\n")
    s"""${p}nl AS (SELECT least(65536, greatest(16, count(*) // 50)) AS nlist FROM $src),
      |${p}seeded AS (
      |  SELECT vec_id, embedding, norm,
      |         CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS BIGINT)
      |           % (SELECT nlist FROM ${p}nl) AS seed
      |  FROM $src
      |),
      |${p}px AS (
      |  SELECT seed, unnest(range(1, len(embedding) + 1)) AS i,
      |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
      |  FROM ${p}seeded
      |),
      |${p}cm AS (
      |  SELECT seed, i, list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
      |  FROM ${p}px GROUP BY 1, 2
      |),
      |${p}cent AS (
      |  SELECT seed AS cell, list(floor(m * 1000000) / 1000000 ORDER BY i) AS centroid
      |  FROM ${p}cm GROUP BY seed
      |),
      |${p}centn AS (
      |  SELECT cell, centroid,
      |         sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum')) AS cnorm
      |  FROM ${p}cent
      |),
      |${p}asg AS (
      |  SELECT s.vec_id, c.cell,
      |         list_aggregate(list_transform(list_zip(s.embedding, c.centroid),
      |           p -> CAST(struct_extract(p, 1) AS DOUBLE) * struct_extract(p, 2)), 'sum')
      |           / (s.norm * c.cnorm) AS csim
      |  FROM ${p}seeded s CROSS JOIN ${p}centn c
      |),
      |${p}cells AS MATERIALIZED (
      |  SELECT vec_id, cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS r
      |    FROM ${p}asg
      |  ) WHERE r = 1
      |),
      |${p}s3 AS (
      |  SELECT cell, vec_id,
      |         row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rk
      |  FROM ${p}cells
      |),
      |${p}own AS (
      |  SELECT node, nb FROM (
      |    SELECT c.vec_id AS node, s.vec_id AS nb,
      |           row_number() OVER (PARTITION BY c.vec_id ORDER BY s.vec_id) AS rk
      |    FROM ${p}cells c JOIN ${p}s3 s
      |      ON s.cell = c.cell AND s.rk <= 3 AND s.vec_id <> c.vec_id
      |  ) WHERE rk <= 2
      |),
      |${p}nxt AS (
      |  SELECT c.vec_id AS node, s.vec_id AS nb
      |  FROM ${p}cells c JOIN ${p}s3 s
      |    ON s.rk <= 2
      |   AND (s.cell - 1 + (SELECT nlist FROM ${p}nl)) % (SELECT nlist FROM ${p}nl) = c.cell
      |),
      |${p}nb0 AS MATERIALIZED (
      |  SELECT DISTINCT node, nb FROM (
      |    SELECT node, nb FROM ${p}own UNION ALL SELECT node, nb FROM ${p}nxt
      |  )
      |),
      |$rounds""".stripMargin
  }

  private val nnDescentCtes: String =
    s"""$vecCte,
      |vp AS (SELECT vec_id, embedding, norm FROM v WHERE norm > 0),
      |${descentChain("vp", "")}""".stripMargin

  /** Unrolled greedy-walk rounds `from until from+n` over neighbor CTE
    * `graph`: each round's best strict improvement moves the cursor,
    * mirroring [[greedyHops]] hop for hop. h0 must exist; ends at
    * h(from+n-1). Shared by the flat and 2-layer serve oracles. */
  private def greedyHopCtes(from: Int, n: Int, graph: String): String =
    (from until from + n).map { i =>
      s"""b$i AS (
         |  SELECT q_id, nb AS best, nsim AS best_sim FROM (
         |    SELECT t.*, row_number() OVER (PARTITION BY q_id
         |                                   ORDER BY nsim DESC, nb) AS rk
         |    FROM (
         |      SELECT s.q_id, g.nb,
         |             ${dtSql("vq.embedding", "vb.embedding")} / (vq.norm * vb.norm) AS nsim
         |      FROM h${i - 1} s JOIN $graph g ON g.node = s.cur
         |      JOIN vp vq ON vq.vec_id = s.q_id
         |      JOIN vp vb ON vb.vec_id = g.nb
         |    ) t
         |  ) WHERE rk = 1
         |),
         |h$i AS MATERIALIZED (
         |  SELECT s.q_id,
         |         CASE WHEN b.best_sim > s.cur_sim THEN b.best ELSE s.cur END AS cur,
         |         CASE WHEN b.best_sim > s.cur_sim THEN b.best_sim
         |              ELSE s.cur_sim END AS cur_sim,
         |         s.hops + (CASE WHEN b.best_sim > s.cur_sim THEN 1 ELSE 0 END) AS hops
         |  FROM h${i - 1} s LEFT JOIN b$i b ON b.q_id = s.q_id
         |)""".stripMargin
    }.mkString(",\n")

  /** The `llm_hnsw_search` CTE chain through h9: base + upper descent
    * builds, upper-layer entry, 3 upper hops (unb2), 6 base hops (nb2).
    * Shared verbatim with `llm_recall_hnsw`. */
  /** Both descent layers as CTEs (base chain ending at `nb2`, md5-promoted
    * upper chain ending at `unb2`) — the BUILD half of [[hnswCtes]],
    * shared with `store_index_persist`'s artifact-stat oracle so the
    * persisted index and the serve can never desynchronize. */
  private val twoLayerCtes: String =
    s"""$nnDescentCtes,
      |up AS (
      |  SELECT vec_id, embedding, norm FROM vp
      |  WHERE CAST(concat('0x', substring(
      |          md5(CAST(vec_id AS VARCHAR) || '|lvl'), 1, 4)) AS BIGINT) < 8192
      |),
      |${descentChain("up", "u")}""".stripMargin

  private val hnswCtes: String =
    s"""$twoLayerCtes,
      |qsb AS (
      |  SELECT vec_id AS q_id FROM vp
      |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|sq') LIMIT 500
      |),
      |ent AS (
      |  SELECT vec_id AS cur FROM up
      |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|entry'), vec_id LIMIT 1
      |),
      |h0 AS (
      |  SELECT q.q_id, e.cur,
      |         ${dtSql("vq.embedding", "vc.embedding")} / (vq.norm * vc.norm) AS cur_sim,
      |         0 AS hops
      |  FROM qsb q CROSS JOIN ent e
      |  JOIN vp vq ON vq.vec_id = q.q_id
      |  JOIN vp vc ON vc.vec_id = e.cur
      |),
      |${greedyHopCtes(1, 3, "unb2")},
      |${greedyHopCtes(4, 6, "nb2")}""".stripMargin

  private val hnswTailSql: String =
    """SELECT q_id AS vec_id, cur AS nn_id, round(cur_sim, 4) + 0 AS sim,
      |       CAST(hops AS INTEGER) AS hops, cur = q_id AS reached
      |FROM h9 ORDER BY vec_id""".stripMargin

  /** `llm_ivf_two_level` oracle: mirrors `Ivf.coarseRankedTwoLevel` CTE
    * for CTE — nlist/nsuper derived from the corpus (scalar subqueries),
    * both centroid levels the sorted-fold floor-quantized seeded mean,
    * centroid→supercell and vector→cell argmaxes with (sim DESC, id ASC)
    * ties, then the `llm_ivf_serve` serving tail (500-query md5 budget,
    * nprobe = 2) over the pruned assignment. */
  private val ivf2Ctes: String =
    s"""$vecCte,
      |nl AS (SELECT least(65536, greatest(16, count(*) // 50)) AS nlist FROM v),
      |ns AS (SELECT least(256, greatest(4,
      |         CAST(ceil(sqrt(4.0 * nlist)) AS BIGINT))) AS nsuper FROM nl),
      |seeded AS (
      |  SELECT vec_id, embedding, norm,
      |         CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS BIGINT)
      |           % (SELECT nlist FROM nl) AS seed
      |  FROM v
      |),
      |px AS (
      |  SELECT seed, unnest(range(1, len(embedding) + 1)) AS i,
      |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
      |  FROM seeded
      |),
      |cm AS (
      |  SELECT seed, i, list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
      |  FROM px GROUP BY 1, 2
      |),
      |cent AS (
      |  SELECT seed AS cell, list(floor(m * 1000000) / 1000000 ORDER BY i) AS centroid
      |  FROM cm GROUP BY seed
      |),
      |centn AS (
      |  SELECT cell, centroid,
      |         sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum')) AS cnorm
      |  FROM cent
      |),
      |ssd AS (
      |  SELECT cell, centroid, cnorm,
      |         CAST(concat('0x', substring(md5(CAST(cell AS VARCHAR)), 1, 4)) AS BIGINT)
      |           % (SELECT nsuper FROM ns) AS sseed
      |  FROM centn
      |),
      |spx AS (
      |  SELECT sseed, unnest(range(1, len(centroid) + 1)) AS i,
      |         unnest(centroid) AS x
      |  FROM ssd
      |),
      |scm AS (
      |  SELECT sseed, i, list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
      |  FROM spx GROUP BY 1, 2
      |),
      |scent AS (
      |  SELECT sseed AS scell, list(floor(m * 1000000) / 1000000 ORDER BY i) AS scentroid
      |  FROM scm GROUP BY sseed
      |),
      |scentn AS (
      |  SELECT scell, scentroid,
      |         sqrt(list_aggregate(list_transform(scentroid, x -> x * x), 'sum')) AS snorm
      |  FROM scent
      |),
      |casg0 AS (
      |  SELECT c.cell, s.scell,
      |         list_aggregate(list_transform(list_zip(c.centroid, s.scentroid),
      |           p -> struct_extract(p, 1) * struct_extract(p, 2)), 'sum')
      |           / (c.cnorm * s.snorm) AS cs
      |  FROM centn c CROSS JOIN scentn s
      |),
      |casg AS (
      |  SELECT cell, scell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY cell ORDER BY cs DESC, scell) AS r
      |    FROM casg0
      |  ) WHERE r = 1
      |),
      |l1a AS (
      |  SELECT a.vec_id, s.scell,
      |         list_aggregate(list_transform(list_zip(a.embedding, s.scentroid),
      |           p -> CAST(struct_extract(p, 1) AS DOUBLE) * struct_extract(p, 2)), 'sum')
      |           / (a.norm * s.snorm) AS ss
      |  FROM seeded a CROSS JOIN scentn s
      |),
      |l1 AS (
      |  SELECT vec_id, scell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ss DESC, scell) AS r1
      |    FROM l1a
      |  ) WHERE r1 <= 4
      |),
      |asg2 AS (
      |  SELECT l1.vec_id, casg.cell,
      |         list_aggregate(list_transform(list_zip(a.embedding, c.centroid),
      |           p -> CAST(struct_extract(p, 1) AS DOUBLE) * struct_extract(p, 2)), 'sum')
      |           / (a.norm * c.cnorm) AS csim
      |  FROM l1 JOIN casg USING (scell)
      |       JOIN seeded a ON a.vec_id = l1.vec_id
      |       JOIN centn c ON c.cell = casg.cell
      |),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS r
      |  FROM asg2
      |),
      |cells AS (
      |  SELECT r2.vec_id, s.embedding, s.norm, r2.cell
      |  FROM ranked r2 JOIN seeded s USING (vec_id) WHERE r2.r = 1
      |),
      |probes AS (
      |  SELECT r2.vec_id, s.embedding, s.norm, r2.cell
      |  FROM ranked r2 JOIN seeded s USING (vec_id) WHERE r2.r <= 2
      |),
      |sims AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |         $dotSql / (a.norm * b.norm) AS sim
      |  FROM probes a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |),
      |nn AS (
      |  SELECT a_id, b_id AS nn_id, round(sim, 4) AS sim FROM (
      |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
      |    FROM sims
      |  ) WHERE rn = 1
      |),
      |qs AS (
      |  SELECT vec_id FROM v WHERE norm > 0
      |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|sq') LIMIT 500
      |)""".stripMargin

  private val ivf2Sql: String =
    s"""WITH $ivf2Ctes
      |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, nn.nn_id, nn.sim
      |FROM cells c JOIN qs USING (vec_id)
      |LEFT JOIN nn ON c.vec_id = nn.a_id
      |ORDER BY c.vec_id""".stripMargin

  /** `llm_recall_two_level` oracle: the two-level chain + exact top-1
    * ground truth over the same 500-query budget (the llm_recall_at_k
    * `ex` CTE shape — candidate side norm > 0, matching Knn.topKCosine). */
  private val recall2Sql: String =
    s"""WITH $ivf2Ctes,
      |q AS (SELECT v.* FROM v JOIN qs USING (vec_id)),
      |ex AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |         $dotSql / (a.norm * b.norm) AS sim
      |  FROM q a JOIN v b ON a.vec_id <> b.vec_id AND b.norm > 0
      |),
      |ex1 AS (
      |  SELECT a_id AS vec_id, b_id AS nn_exact FROM (
      |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
      |    FROM ex
      |  ) WHERE rn = 1
      |)
      |SELECT e.vec_id, e.nn_exact, nn.nn_id AS nn_ivf,
      |       CASE WHEN nn.nn_id = e.nn_exact THEN 1 ELSE 0 END AS hit
      |FROM ex1 e LEFT JOIN nn ON e.vec_id = nn.a_id
      |ORDER BY e.vec_id""".stripMargin

  /** `llm_embed_pca_power` oracle: exact-integer covariance numerator +
    * 8 statically-unrolled power-iteration rounds. Every CTE is
    * MATERIALIZED — each round references its predecessor ~3× and DuckDB
    * inlines CTEs by default, so the lazy unroll would recompute the
    * n·4096 product join 3⁸ times (the graph_kcore lesson). */
  private val pcaPowerCtes: String = {
    val rounds = (1 to 8).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT am.i, list_aggregate(list(am.a * v.v ORDER BY am.j), 'sum') AS w
         |  FROM am JOIN v${k - 1} v ON am.j = v.j GROUP BY am.i
         |),
         |n$k AS MATERIALIZED (
         |  SELECT sqrt(list_aggregate(list(w * w ORDER BY i), 'sum')) AS nm FROM w$k
         |),
         |v$k AS MATERIALIZED (
         |  SELECT i AS j, w / (SELECT nm FROM n$k) AS v FROM w$k
         |)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
      |  SELECT vec_id, unnest(range(0, len(embedding))) AS i,
      |         unnest(list_transform(embedding,
      |           y -> CAST(floor(CAST(y AS DOUBLE) * 1e6) AS BIGINT))) AS xq
      |  FROM embeddings
      |),
      |nv AS (SELECT count(*) AS n FROM embeddings),
      |spp AS MATERIALIZED (
      |  SELECT a.i, b.i AS j, sum(CAST(a.xq AS HUGEINT) * b.xq) AS spp
      |  FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2
      |),
      |si AS MATERIALIZED (SELECT i, sum(CAST(xq AS HUGEINT)) AS s FROM e GROUP BY i),
      |am AS MATERIALIZED (
      |  SELECT p.i, p.j,
      |         CAST(CAST(nv.n AS HUGEINT) * p.spp - sa.s * sb.s AS DOUBLE) AS a
      |  FROM spp p JOIN si sa ON p.i = sa.i JOIN si sb ON p.j = sb.i CROSS JOIN nv
      |),
      |v0 AS (SELECT unnest(range(0, 64)) AS j, CAST(0.125 AS DOUBLE) AS v),
      |$rounds""".stripMargin
  }

  private val pcaPowerSql: String =
    s"""WITH $pcaPowerCtes
      |SELECT j AS i, floor(v * 1e6) / 1e6 AS pc1 FROM v8 ORDER BY i""".stripMargin

  /** `llm_embed_whiten` oracle: the pca CTEs re-derive pc1, quantized to
    * the shared floor-1e-6 contract and assembled into one list; proj is
    * the sequential zip fold (vec_dot's twin), the residual the identical
    * squared zip fold at the already-computed proj. */
  private val embedWhitenSql: String =
    s"""WITH $pcaPowerCtes,
      |pcv AS MATERIALIZED (SELECT list(floor(v * 1e6) / 1e6 ORDER BY j) AS pc FROM v8),
      |pj AS (
      |  SELECT em.vec_id, em.label, em.embedding, p.pc,
      |         list_aggregate(list_transform(list_zip(em.embedding, p.pc),
      |           s -> CAST(struct_extract(s, 1) AS DOUBLE) * struct_extract(s, 2)), 'sum') AS proj
      |  FROM embeddings em CROSS JOIN pcv p
      |)
      |SELECT vec_id, label,
      |       floor(proj * 1e4) / 1e4 AS pc1_proj,
      |       floor(sqrt(list_aggregate(list_transform(list_zip(embedding, pc),
      |         s -> (CAST(struct_extract(s, 1) AS DOUBLE) - proj * struct_extract(s, 2))
      |            * (CAST(struct_extract(s, 1) AS DOUBLE) - proj * struct_extract(s, 2))), 'sum'))
      |         * 1e4) / 1e4 AS resid_norm
      |FROM pj ORDER BY vec_id""".stripMargin

  /** Budgeted (r12): nn over all queries restricted to the 500-query
    * `|sq` budget at the output is row-identical to restricting the
    * query side first (per-query top-1 independence); the Spark plan
    * takes the scalable restricted form via [[serveTail]]. */
  private def ivfSql(nprobe: Int): String =
    s"""WITH ${ivfCtes(nprobe)},
      |qs AS (
      |  SELECT vec_id FROM v WHERE norm > 0
      |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|sq') LIMIT 500
      |)
      |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, nn.nn_id, nn.sim
      |FROM cells c JOIN qs USING (vec_id)
      |LEFT JOIN nn ON c.vec_id = nn.a_id
      |ORDER BY c.vec_id""".stripMargin

  /** The `llm_embed_pca_power` computation through the power iteration,
    * shared with `llm_embed_whiten`: exact DECIMAL covariance numerator
    * (1e-6-quantized longs; the n·4096 product rows fold map-side to 4096
    * cells), then 8 FIXED power iterations on the driver — the matrix is
    * DIMENSION-sized (d² = 4096 cells, metadata independent of n; an
    * in-plan version paid ~16 tiny exchange stages of scheduling
    * overhead, ~18 s for 64 output rows). Fold orders are the oracle
    * contract: j ascending inside each A·v component, i ascending in the
    * norm. Returns the FLOOR-1e-6-QUANTIZED pc1 components (the output
    * contract both keys and both oracles share). */
  private def pcaPc1(s: SparkSession, d: String): Array[Double] = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        floor(col("x").cast("double") * 1e6).cast("long").as("xq"))
      .transform(Checkpoints.stage)
    // table-grain count, NOT distinct() over the exploded checkpoint —
    // matches the oracle's count(*) FROM embeddings exactly (a row with
    // an empty embedding array would vanish from the explode but still
    // count here, as it must) and skips an n·64-row distinct shuffle
    val nVec = Tables.embeddings(s, d).count()
    val spp = e.select(col("vec_id"), col("i"), col("xq"))
      .join(e.select(col("vec_id"), col("i").as("j"), col("xq").as("yq")), "vec_id")
      .groupBy("i", "j")
      // the product is exact in LONG (|xq| ≤ ~3.2e5 ⇒ |xq·yq| ≤ ~1e11,
      // far under 2^63) — only the ACCUMULATION needs DECIMAL headroom,
      // so the codegen'd long multiply replaces two per-row decimal casts
      .agg(sum((col("xq") * col("yq")).cast(dec)).as("spp"))
    val si = e.groupBy("i").agg(sum(col("xq").cast(dec)).as("s"))
    val cells = spp
      .join(broadcast(si.select(col("i"), col("s").as("s_i"))), "i")
      .join(broadcast(si.select(col("i").as("j"), col("s").as("s_j"))), "j")
      .select(col("i"), col("j"),
        (lit(nVec).cast(dec) * col("spp") - col("s_i") * col("s_j"))
          .cast("double").as("a"))
      .collect()
    Checkpoints.free(e)
    val d64 = cells.iterator.map(_.getInt(0)).max + 1
    val mat = Array.ofDim[Double](d64, d64)
    cells.foreach(r => mat(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    var v = Array.fill(d64)(0.125d)
    for (_ <- 1 to 8) {
      val w = Array.tabulate(d64) { i =>
        var acc = 0.0d
        var j = 0
        while (j < d64) { acc += mat(i)(j) * v(j); j += 1 }
        acc
      }
      var nsq = 0.0d
      var i = 0
      while (i < d64) { nsq += w(i) * w(i); i += 1 }
      val nm = math.sqrt(nsq)
      v = w.map(_ / nm)
    }
    v.map(x => math.floor(x * 1e6) / 1e6)
  }

  /** The 4-round BPE merge-training loop shared by `llm_bpe_train` and
    * `llm_bpe_encode`: corpus → word counts ONCE, then per round a
    * pair-explode aggregation over the vocabulary, a 1-row argmax to the
    * driver (count DESC, pair ASC ties — the pagerank-N discipline), and
    * a greedy left-to-right fold rewrite of every word's symbols with
    * per-round checkpoint-and-free. Returns (round, a, b, pair_count). */
  private def bpeMerges(s: SparkSession, d: String): Seq[(Long, String, String, Long)] = {
    val vocab0 = tokensAll(s, d).groupBy("token").agg(count(lit(1)).as("cnt"))
      .where(length(col("token")) >= 2)
      .select(col("cnt"), expr(
        "transform(sequence(1, length(token)), i -> substring(token, i, 1))").as("syms"))
      .transform(Checkpoints.stage)
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    val vocab = graft.ops.Iterate.rounds(vocab0, 4) { (vocab, r) =>
      val pairs = vocab
        .where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "j -> struct(element_at(syms, j) AS a, element_at(syms, j + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("pcnt"))
      val top = pairs.orderBy(col("pcnt").desc, col("a"), col("b")).limit(1).collect()
      require(top.nonEmpty, "BPE merge frontier empty before round 4 — corpus too small")
      val (a, b, pcnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((r.toLong, a, b, pcnt))
      vocab.select(col("cnt"),
        aggregate(col("syms"), typedLit(Seq.empty[String]), (acc, x) =>
          when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x)))).as("syms"))
    }
    Checkpoints.free(vocab0)
    Checkpoints.free(vocab)
    merges.toSeq
  }

  /** `llm_bpe_train` oracle: `rounds` unrolled BPE merge rounds — per
    * round the frequency-weighted adjacent-pair argmax (count DESC, pair
    * ASC ties) over the previous vocabulary, then the greedy
    * left-to-right merge rewrite via a `list_reduce` over singleton
    * lists (seeding with the first symbol ≡ Spark's empty-seed fold:
    * the first step of the empty fold just appends). b/v tables
    * MATERIALIZED — each is referenced twice. */
  /** The WITH-body of the unrolled BPE trainer (word counts, v0, rounds
    * 1..R yielding b1..bR argmax tables and v1..vR rewritten vocabs) —
    * shared by `llm_bpe_train`'s final UNION and `llm_bpe_encode`'s
    * per-doc re-tokenization. */
  private def bpeTrainCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"v${r - 1}"
      s"""p$r AS (
        |  SELECT (pr).a AS a, (pr).b AS b, sum(cnt) AS pcnt FROM (
        |    SELECT cnt, unnest(list_transform(range(1, len(syms)),
        |      j -> {'a': syms[j], 'b': syms[j + 1]})) AS pr
        |    FROM $prev WHERE len(syms) >= 2
        |  ) GROUP BY 1, 2
        |),
        |b$r AS MATERIALIZED (SELECT a, b, pcnt FROM p$r ORDER BY pcnt DESC, a, b LIMIT 1),
        |v$r AS MATERIALIZED (
        |  SELECT w.cnt,
        |         list_reduce(list_transform(w.syms, s -> [s]),
        |           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.a AND x[1] = b.b
        |                            THEN list_concat(list_slice(acc, 1, len(acc) - 1), [b.a || b.b])
        |                            ELSE list_concat(acc, [x[1]]) END) AS syms
        |  FROM $prev w CROSS JOIN b$r b
        |)""".stripMargin
    }.mkString(",\n")
    s"""w AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS token
      |  FROM documents
      |),
      |v0 AS MATERIALIZED (
      |  SELECT count(*) AS cnt,
      |         list_transform(range(1, len(token) + 1), i -> substring(token, i, 1)) AS syms
      |  FROM w GROUP BY token HAVING len(token) >= 2
      |),
      |$roundCtes""".stripMargin
  }

  private def bpeTrainSql(rounds: Int): String = {
    val finalSel = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, a AS sym_a, b AS sym_b, CAST(pcnt AS BIGINT) AS pair_count FROM b$r")
      .mkString("\n      |UNION ALL\n      |")
    s"""WITH ${bpeTrainCtes(rounds)}
      |$finalSel
      |ORDER BY round""".stripMargin
  }

  /** `llm_bpe_encode` oracle: the trainer's CTEs re-derive the 4 merges,
    * then every doc's words are re-tokenized with the identical nested
    * greedy `list_reduce` rewrites (merge rank order, innermost first). */
  /** The oracle-side BPE word-rewrite expression (4 merge rounds folded
    * over the char split of `w`, merges read from the crossjoined b1..b4
    * CTEs of [[bpeTrainCtes]]) — shared by `llm_bpe_encode` and
    * `llm_tokenizer_fertility`, mirroring the Spark-side [[bpeWordEnc]]
    * sharing. */
  private val bpeRewrittenSql: String = {
    def rw(inner: String, r: Int): String =
      s"list_reduce(list_transform($inner, s$r -> [s$r]), " +
        s"(ac$r, x$r) -> CASE WHEN len(ac$r) > 0 AND ac$r[-1] = m$r.a AND x$r[1] = m$r.b " +
        s"THEN list_concat(list_slice(ac$r, 1, len(ac$r) - 1), [m$r.a || m$r.b]) " +
        s"ELSE list_concat(ac$r, [x$r[1]]) END)"
    val chars = "list_transform(range(1, len(w) + 1), i -> substring(w, i, 1))"
    (1 to 4).foldLeft(chars)((inner, r) => rw(inner, r))
  }

  private val bpeEncodeSql: String = {
    val rewritten = bpeRewrittenSql
    s"""WITH ${bpeTrainCtes(4)},
      |docs AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS words
      |  FROM documents
      |),
      |enc AS (
      |  SELECT d.doc_id,
      |         list_aggregate(list_transform(d.words, w -> len(w)), 'sum') AS ns,
      |         list_aggregate(list_transform(d.words, w -> len($rewritten)), 'sum') AS nb
      |  FROM docs d
      |  CROSS JOIN b1 m1 CROSS JOIN b2 m2 CROSS JOIN b3 m3 CROSS JOIN b4 m4
      |)
      |SELECT doc_id, CAST(coalesce(ns, 0) AS BIGINT) AS n_syms,
      |       CAST(coalesce(nb, 0) AS BIGINT) AS n_bpe,
      |       CASE WHEN coalesce(nb, 0) > 0
      |            THEN floor(CAST(ns AS DOUBLE) / CAST(nb AS DOUBLE) * 1e4) / 1e4 END AS compression
      |FROM enc ORDER BY doc_id""".stripMargin
  }

  /** The unrolled Lloyd chain through the final assignment CTE
    * `a<rounds>` — shared by `llm_kmeans_lloyd` (centroid/occupancy
    * readout) and `llm_cluster_eval` (label-purity readout over the same
    * partition), so the two keys can never desynchronize on the
    * clustering itself (the nnDescentCtes discipline). */
  private def kmeansChainSql(k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"a${r - 1}"
      s"""px$r AS (
        |  SELECT cell, unnest(range(1, len(embedding) + 1)) AS i,
        |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
        |  FROM $prev
        |),
        |cm$r AS (
        |  SELECT cell, i, list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
        |  FROM px$r GROUP BY 1, 2
        |),
        |ct$r AS (
        |  SELECT cell, list(floor(m * 1000000) / 1000000 ORDER BY i) AS centroid
        |  FROM cm$r GROUP BY cell
        |),
        |cn$r AS (
        |  SELECT cell, centroid,
        |         sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum')) AS cnorm
        |  FROM ct$r
        |),
        |as$r AS (
        |  SELECT a.vec_id, a.embedding, a.norm, c.cell,
        |         list_aggregate(list_transform(list_zip(a.embedding, c.centroid),
        |           p -> CAST(struct_extract(p, 1) AS DOUBLE) * struct_extract(p, 2)), 'sum')
        |           / (a.norm * c.cnorm) AS csim
        |  FROM $prev a CROSS JOIN cn$r c
        |),
        |a$r AS MATERIALIZED (
        |  SELECT vec_id, embedding, norm, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
        |    FROM as$r
        |  ) WHERE rn = 1
        |)""".stripMargin
    }.mkString(",\n")
    s"""$vecCte,
      |a0 AS MATERIALIZED (
      |  SELECT vec_id, embedding, norm,
      |         CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS BIGINT)
      |           % $k AS cell
      |  FROM v
      |),
      |$roundCtes""".stripMargin
  }

  /** `llm_kmeans_lloyd` oracle: `rounds` unrolled Lloyd iterations over
    * `k` md5-seeded cells — each round mirrors `Ivf.centroidsOf` (sorted-
    * fold floor-quantized per-dim means) + the max-cosine re-assignment
    * (ties to the lowest cell) CTE for CTE. Assignment tables a0..aR are
    * MATERIALIZED (each is referenced twice by the next round — DuckDB's
    * default lazy inlining would blow up 2^R, the graph_kcore lesson);
    * the final select re-derives centroids + occupancy from aR. */
  private def kmeansLloydSql(k: Int, rounds: Int): String =
    s"""WITH ${kmeansChainSql(k, rounds)},
      |pxF AS (
      |  SELECT cell, unnest(range(1, len(embedding) + 1)) AS i,
      |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
      |  FROM a$rounds
      |),
      |cmF AS (
      |  SELECT cell, i, list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
      |  FROM pxF GROUP BY 1, 2
      |),
      |ctF AS (
      |  SELECT cell, list(floor(m * 1000000) / 1000000 ORDER BY i) AS centroid
      |  FROM cmF GROUP BY cell
      |),
      |occ AS (SELECT cell, count(*) AS n_members FROM a$rounds GROUP BY cell)
      |SELECT t.cell, o.n_members,
      |       unnest(range(0, len(t.centroid))) AS i,
      |       unnest(t.centroid) AS c
      |FROM ctF t JOIN occ o USING (cell)
      |ORDER BY t.cell, i""".stripMargin

  /** `llm_moe_route` oracle: the shared Lloyd chain's FINAL centroids
    * (the same ctF/cnF tail as [[kmeansLloydSql]]) as the 8 experts,
    * then all-expert cosine affinities, a cell-ordered softmax fold, and
    * top-2 routing with vec-ordered per-expert gate-probability folds —
    * CTE for CTE the Spark plan. `aff` is MATERIALIZED (referenced by
    * both the softmax total and the routing — the kcore lesson). */
  private def moeRouteSql(k: Int, rounds: Int): String =
    s"""WITH ${kmeansChainSql(k, rounds)},
      |pxF AS (
      |  SELECT cell, unnest(range(1, len(embedding) + 1)) AS i,
      |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
      |  FROM a$rounds
      |),
      |cmF AS (
      |  SELECT cell, i, list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
      |  FROM pxF GROUP BY 1, 2
      |),
      |ctF AS (
      |  SELECT cell, list(floor(m * 1000000) / 1000000 ORDER BY i) AS centroid
      |  FROM cmF GROUP BY cell
      |),
      |cnF AS (
      |  SELECT cell, centroid,
      |         sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum')) AS cnorm
      |  FROM ctF
      |),
      |aff AS MATERIALIZED (
      |  SELECT a.vec_id, c.cell,
      |         list_aggregate(list_transform(list_zip(a.embedding, c.centroid),
      |           p -> CAST(struct_extract(p, 1) AS DOUBLE) * struct_extract(p, 2)), 'sum')
      |           / (a.norm * c.cnorm) AS csim
      |  FROM v a CROSS JOIN cnF c
      |),
      |z AS (
      |  SELECT vec_id, list_aggregate(list(exp(csim) ORDER BY cell), 'sum') AS z
      |  FROM aff GROUP BY 1
      |),
      |routed AS (
      |  SELECT r.vec_id, r.cell, r.rn, exp(r.csim) / z.z AS p
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
      |                                     ORDER BY csim DESC, cell) AS rn
      |        FROM aff) r
      |  JOIN z ON r.vec_id = z.vec_id
      |  WHERE r.rn <= 2
      |),
      |nv AS (SELECT count(*) AS n_vecs FROM v),
      |g AS (
      |  SELECT cell, CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_top1,
      |         count(*) AS n_top2,
      |         list_aggregate(list(CASE WHEN rn = 1 THEN p ELSE 0.0 END
      |                             ORDER BY vec_id), 'sum') AS sp
      |  FROM routed GROUP BY 1
      |)
      |SELECT cell AS expert, n_top1, CAST(n_top2 AS BIGINT) AS n_top2,
      |       floor(CAST(n_top1 AS DOUBLE) / CAST(n_vecs AS DOUBLE) * 1e4) / 1e4
      |         AS load_frac,
      |       CASE WHEN n_top1 > 0
      |            THEN floor(sp / CAST(n_top1 AS DOUBLE) * 1e4) / 1e4
      |            ELSE 0.0 END AS mean_gate,
      |       CASE WHEN n_top1 > 0
      |            THEN floor($k.0 * (CAST(n_top1 AS DOUBLE) / CAST(n_vecs AS DOUBLE))
      |                       * (sp / CAST(n_top1 AS DOUBLE)) * 1e4) / 1e4
      |            ELSE 0.0 END AS aux_loss
      |FROM g CROSS JOIN nv ORDER BY expert""".stripMargin

  /** `llm_cluster_eval` oracle: the shared Lloyd chain + per-cluster
    * label-majority purity over the final assignment. */
  private def clusterEvalSql(k: Int, rounds: Int): String =
    s"""WITH ${kmeansChainSql(k, rounds)},
      |cl AS (
      |  SELECT a.cell, e.label, count(*) AS c
      |  FROM a$rounds a JOIN embeddings e ON a.vec_id = e.vec_id
      |  GROUP BY 1, 2
      |),
      |tot AS (SELECT cell, CAST(sum(c) AS BIGINT) AS n_members FROM cl GROUP BY 1),
      |p AS (
      |  SELECT *, row_number() OVER (PARTITION BY cell ORDER BY c DESC, label) AS rn
      |  FROM cl
      |)
      |SELECT t.cell, t.n_members, p.label AS majority_label, p.c AS n_majority,
      |       floor(CAST(p.c AS DOUBLE) / CAST(t.n_members AS DOUBLE) * 1e4) / 1e4 AS purity
      |FROM p JOIN tot t USING (cell) WHERE p.rn = 1 ORDER BY t.cell""".stripMargin

  /** The [[adcPairs]] oracle prefix shared by `llm_pq_adc` and
    * `llm_pq_rerank`: coarse cells (the ivfSql recipe), PQ codebook,
    * per-query ADC tables (`qdt`), per-vector code words (`words`), and
    * the within-cell ADC-scored pairs (`adcs`). Consumers append their
    * own final CTEs after this block. */
  private val pqAdcCtes = pqAdcCtesMod("16", "", "cells")

  /** [[pqAdcCtes]] parameterized the way [[ivfCtesMod]] is: the coarse
    * cell-count modulus as a SQL expression, an optional extra CTE after
    * `v`, and the `adcs` QUERY side as a relation expression (`cells`
    * for the demo pair's all-vectors nprobe=1 scan; `llm_pq_serve`
    * substitutes the budget-restricted nprobe=2 probe set over `crk`,
    * the exposed ranked coarse assignment). */
  private def pqAdcCtesMod(modSql: String, extraCte: String,
      qaSql: String): String =
    s"""$vecCte,$extraCte
      |seeded AS (
      |  SELECT vec_id, embedding, norm,
      |         CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS BIGINT)
      |           % $modSql AS seed
      |  FROM v
      |),
      |px AS (
      |  SELECT seed, unnest(range(1, len(embedding) + 1)) AS i,
      |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
      |  FROM seeded
      |),
      |cm AS (
      |  SELECT seed, i, list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
      |  FROM px GROUP BY 1, 2
      |),
      |cent AS (
      |  SELECT seed AS cell, list(floor(m * 1000000) / 1000000 ORDER BY i) AS centroid
      |  FROM cm GROUP BY seed
      |),
      |centn AS (
      |  SELECT cell, centroid,
      |         sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum')) AS cnorm
      |  FROM cent
      |),
      |casg AS (
      |  SELECT s.vec_id, c.cell,
      |         list_aggregate(list_transform(list_zip(s.embedding, c.centroid),
      |           p -> CAST(struct_extract(p, 1) AS DOUBLE) * struct_extract(p, 2)), 'sum')
      |           / (s.norm * c.cnorm) AS csim
      |  FROM seeded s CROSS JOIN centn c
      |),
      |crk AS (
      |  SELECT vec_id, cell,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS r
      |  FROM casg
      |),
      |cells AS (SELECT vec_id, cell FROM crk WHERE r = 1),
      |psub AS (
      |  SELECT vec_id, s.sub,
      |         list_slice(embedding, s.sub * 8 + 1, s.sub * 8 + 8) AS subvec
      |  FROM embeddings, (SELECT unnest(range(0, 8)) AS sub) s
      |),
      |pseeded AS (
      |  SELECT *, CAST(concat('0x', substring(md5(
      |           CAST(vec_id AS VARCHAR) || ':' || CAST(sub AS VARCHAR)), 1, 4))
      |         AS BIGINT) % 16 AS cellseed
      |  FROM psub
      |),
      |ppx AS (
      |  SELECT sub, cellseed, unnest(range(1, len(subvec) + 1)) AS i,
      |         unnest(list_transform(subvec, x -> CAST(x AS DOUBLE))) AS x
      |  FROM pseeded
      |),
      |pcm AS (
      |  SELECT sub, cellseed, i,
      |         list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
      |  FROM ppx GROUP BY 1, 2, 3
      |),
      |pcent AS (
      |  SELECT sub, cellseed AS cid,
      |         list(floor(m * 1000000) / 1000000 ORDER BY i) AS centroid
      |  FROM pcm GROUP BY 1, 2
      |),
      |pdist AS (
      |  SELECT se.vec_id, se.sub, c.cid,
      |         list_aggregate(list_transform(list_zip(se.subvec, c.centroid),
      |           p -> (CAST(struct_extract(p, 1) AS DOUBLE) - struct_extract(p, 2))
      |              * (CAST(struct_extract(p, 1) AS DOUBLE) - struct_extract(p, 2))),
      |           'sum') AS dist
      |  FROM pseeded se JOIN pcent c ON se.sub = c.sub
      |),
      |qdt1 AS (SELECT vec_id, sub, list(dist ORDER BY cid) AS ds FROM pdist GROUP BY 1, 2),
      |qdt AS (SELECT vec_id, list(ds ORDER BY sub) AS dtab FROM qdt1 GROUP BY 1),
      |best AS (
      |  SELECT vec_id, sub, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
      |                                 ORDER BY dist ASC, cid ASC) AS rn
      |    FROM pdist
      |  ) WHERE rn = 1
      |),
      |words AS (SELECT vec_id, list(cid ORDER BY sub) AS codes FROM best GROUP BY 1),
      |adcs AS (
      |  SELECT qa.vec_id AS a_id, qb.vec_id AS b_id,
      |         list_aggregate(list_transform(list_zip(q.dtab, wb.codes),
      |           p -> struct_extract(p, 1)[CAST(struct_extract(p, 2) AS INTEGER) + 1]),
      |           'sum') AS adc
      |  FROM $qaSql qa JOIN cells qb ON qa.cell = qb.cell AND qa.vec_id <> qb.vec_id
      |  JOIN qdt q ON q.vec_id = qa.vec_id
      |  JOIN words wb ON wb.vec_id = qb.vec_id
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Mirrors the Spark canonicalization chain step-for-step; DuckDB's
    // regexp_replace needs the explicit 'g' flag where Spark replaces
    // globally by default (the utm strip — two params in one string).
    "llm_dedup_url" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    concat(
        |      CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
        |      CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END,
        |      '.example.com',
        |      CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
        |      '/docs/', CAST(doc_id % 23 AS VARCHAR),
        |      CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
        |      '?page=', CAST(doc_id % 4 AS VARCHAR),
        |      CASE WHEN doc_id % 3 = 0
        |        THEN concat('&utm_source=feed&utm_campaign=c', CAST(doc_id % 11 AS VARCHAR))
        |        ELSE '' END,
        |      CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents
        |),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u1 FROM raw),
        |s2 AS (
        |  SELECT doc_id, u1,
        |         lower(regexp_extract(u1, '^[^?#]*?://[^/?#]*', 0)) AS ahead0
        |  FROM s1
        |),
        |s3 AS (
        |  SELECT doc_id,
        |         regexp_replace(ahead0, ':443$', '') AS ahead,
        |         regexp_replace(
        |           regexp_replace(substring(u1, length(ahead0) + 1), '[?&]utm_[^&#]*', '', 'g'),
        |           '/\?', '?') AS atail
        |  FROM s2
        |)
        |SELECT concat(ahead, atail) AS canon_url,
        |       min(doc_id) AS survivor_id, count(*) AS n_docs
        |FROM s3 GROUP BY 1 ORDER BY canon_url""".stripMargin,
    "llm_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    "llm_dedup_near" ->
      s"""WITH $tokCte,
        |n AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id,
        |       round(CAST(n_inter AS DOUBLE) / (na.ntok + nb.ntok - n_inter), 4) AS jacc
        |FROM inter JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
        |WHERE CAST(n_inter AS DOUBLE) / (na.ntok + nb.ntok - n_inter) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,
    // measured recall = the near-dup truth CTEs left-joined against the
    // minhash banding CTEs, bucketed by (round-4) Jaccard decile
    "llm_lsh_recall" ->
      s"""WITH $tokCte,
        |n AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |),
        |truth AS (
        |  SELECT a_id, b_id,
        |         round(CAST(n_inter AS DOUBLE) / (na.ntok + nb.ntok - n_inter), 4) AS jacc
        |  FROM inter JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
        |  WHERE CAST(n_inter AS DOUBLE) / (na.ntok + nb.ntok - n_inter) >= 0.5
        |),
        |${Dedup.bandsCte},
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b
        |    ON a.band_i = b.band_i AND a.band_v = b.band_v AND a.doc_id < b.doc_id
        |),
        |fl AS (
        |  SELECT LEAST(CAST(floor(t.jacc * 10) AS BIGINT), 9) AS bucket,
        |         CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM truth t LEFT JOIN cand c ON c.a_id = t.a_id AND c.b_id = t.b_id
        |),
        |bk AS (
        |  SELECT bucket, count(*) AS n_true, CAST(sum(hit) AS BIGINT) AS n_captured
        |  FROM fl GROUP BY 1
        |)
        |SELECT bucket, n_true, n_captured,
        |       floor(CAST(n_captured AS DOUBLE) / CAST(n_true AS DOUBLE) * 1e4) / 1e4 AS recall_measured,
        |       floor((1.0 - power(1.0 - power((CAST(bucket AS DOUBLE) + 0.5) / 10.0, 4.0), 2.0)) * 1e4) / 1e4 AS recall_analytic
        |FROM bk ORDER BY bucket""".stripMargin,
    // Connected components in SQL: WITH RECURSIVE computes each node's
    // reachable set; a component's id is the minimum reachable node —
    // exactly the fixpoint Dedup.clustersPointerJump reaches.
    // Pair generation repeats the lshVerified CTEs (band candidates +
    // exact Jaccard) at the 0.9 near-identical threshold, matching the
    // key's sub-quadratic pair source.
    "llm_dedup_clusters" ->
      s"""$componentCtes
        |SELECT cluster_id, count(*) AS n_members, min(id) AS canonical_id
        |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // Soft weights = components + cluster sizes + one floored divide.
    // Same CTE chain as the clusters/survivors oracles.
    "llm_dedup_soft" ->
      s"""$componentCtes,
        |assigned AS (
        |  SELECT d.doc_id, d.source, coalesce(c.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |),
        |sz AS (SELECT cluster_id, count(*) AS n_members FROM assigned GROUP BY 1)
        |SELECT a.doc_id, a.source, a.cluster_id, CAST(sz.n_members AS BIGINT) AS n_members,
        |       floor(1e6 / CAST(sz.n_members AS DOUBLE)) / 1e6 AS weight
        |FROM assigned a JOIN sz ON a.cluster_id = sz.cluster_id
        |ORDER BY a.doc_id""".stripMargin,
    // Survivors = components + per-cluster argmax. Same CTE chain as the
    // clusters oracle; singletons enter via the LEFT JOIN's coalesce.
    "llm_dedup_survivors" ->
      s"""$componentCtes,
        |assigned AS (
        |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |),
        |rk AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM assigned
        |)
        |SELECT cluster_id, count(*) AS n_members,
        |       max(CASE WHEN rn = 1 THEN doc_id END) AS kept_id,
        |       max(CASE WHEN rn = 1 THEN n_chars END) AS kept_chars
        |FROM rk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "llm_dedup_minhash" ->
      s"""WITH $tokCte,
        |${Dedup.bandsCte}
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
        |FROM bands a JOIN bands b
        |  ON a.band_i = b.band_i AND a.band_v = b.band_v AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY a_id, b_id""".stripMargin,
    "llm_dedup_oph" ->
      s"""WITH $tokCte,
        |${Dedup.ophBandsCte}
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
        |FROM obands a JOIN obands b
        |  ON a.band_i = b.band_i AND a.band_v = b.band_v AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY a_id, b_id""".stripMargin,
    // b-bit variant: last hex nibble of each min (CAST '0x'||char), the
    // 2⁻ᵇ collision debias, greatest(·,0) clamp mirrored exactly
    "llm_minhash_bbit" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(list_filter(
        |    string_split(text, ' '), t -> len(t) > 0))) AS token
        |  FROM documents WHERE doc_id < 100
        |),
        |mh AS (
        |  SELECT doc_id,
        |         min(md5('0:' || token)) AS mh0, min(md5('1:' || token)) AS mh1,
        |         min(md5('2:' || token)) AS mh2, min(md5('3:' || token)) AS mh3,
        |         min(md5('4:' || token)) AS mh4, min(md5('5:' || token)) AS mh5,
        |         min(md5('6:' || token)) AS mh6, min(md5('7:' || token)) AS mh7
        |  FROM tok GROUP BY doc_id
        |),
        |n AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
        |i AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ni
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |),
        |m AS (
        |  SELECT i.a_id, i.b_id,
        |         round(CAST(ni AS DOUBLE) / (na.ntok + nb.ntok - ni), 4) AS jacc,
        |         (CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END + CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END
        |          + CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END + CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END
        |          + CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END + CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END
        |          + CASE WHEN a.mh6 = b.mh6 THEN 1 ELSE 0 END + CASE WHEN a.mh7 = b.mh7 THEN 1 ELSE 0 END)
        |           AS n_match_full,
        |         (CASE WHEN substring(a.mh0, 32, 1) = substring(b.mh0, 32, 1) THEN 1 ELSE 0 END
        |          + CASE WHEN substring(a.mh1, 32, 1) = substring(b.mh1, 32, 1) THEN 1 ELSE 0 END
        |          + CASE WHEN substring(a.mh2, 32, 1) = substring(b.mh2, 32, 1) THEN 1 ELSE 0 END
        |          + CASE WHEN substring(a.mh3, 32, 1) = substring(b.mh3, 32, 1) THEN 1 ELSE 0 END
        |          + CASE WHEN substring(a.mh4, 32, 1) = substring(b.mh4, 32, 1) THEN 1 ELSE 0 END
        |          + CASE WHEN substring(a.mh5, 32, 1) = substring(b.mh5, 32, 1) THEN 1 ELSE 0 END
        |          + CASE WHEN substring(a.mh6, 32, 1) = substring(b.mh6, 32, 1) THEN 1 ELSE 0 END
        |          + CASE WHEN substring(a.mh7, 32, 1) = substring(b.mh7, 32, 1) THEN 1 ELSE 0 END)
        |           AS n_match_4bit
        |  FROM i JOIN n na ON na.doc_id = i.a_id JOIN n nb ON nb.doc_id = i.b_id
        |       JOIN mh a ON a.doc_id = i.a_id JOIN mh b ON b.doc_id = i.b_id
        |)
        |SELECT a_id, b_id, jacc, n_match_full, n_match_4bit,
        |       round(n_match_full / 8.0, 4) AS est_full,
        |       floor(GREATEST((CAST(n_match_4bit AS DOUBLE) / 8.0 - 1.0 / 16.0)
        |                        / (15.0 / 16.0), 0.0) * 1e4) / 1e4 AS est_4bit
        |FROM m ORDER BY a_id, b_id""".stripMargin,
    // Weighted minhash via replication: tf capped at 4, replicas
    // token:0..token:w-1, same 8-hash layout; weighted Jaccard from the
    // shared-token join + the sum-identity (no full outer join)
    "llm_minhash_weighted" -> {
      val cases = (0 until 8).map(i =>
        s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString("\n        |        + ")
      val mins = (0 until 8).map(i =>
        s"min(md5('$i:' || token || ':' || CAST(rep AS VARCHAR))) AS mh$i")
        .mkString(",\n        |         ")
      s"""WITH tf AS (
        |  SELECT doc_id, token, least(count(*), 4) AS w
        |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |                t -> len(t) > 0)) AS token
        |        FROM documents WHERE doc_id < 100)
        |  GROUP BY 1, 2
        |),
        |reps AS (SELECT doc_id, token, unnest(range(0, w)) AS rep FROM tf),
        |mh AS (
        |  SELECT doc_id,
        |         $mins
        |  FROM reps GROUP BY doc_id
        |),
        |tot AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS tw FROM tf GROUP BY 1),
        |i AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(sum(least(a.w, b.w)) AS BIGINT) AS wmin
        |  FROM tf a JOIN tf b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT i.a_id, i.b_id, wmin,
        |       round(CAST(wmin AS DOUBLE) / (ta.tw + tb.tw - wmin), 4) AS wjacc,
        |       ($cases) AS n_match,
        |       round(($cases) / 8.0, 4) AS est
        |FROM i JOIN tot ta ON ta.doc_id = i.a_id
        |JOIN tot tb ON tb.doc_id = i.b_id
        |JOIN mh a ON a.doc_id = i.a_id
        |JOIN mh b ON b.doc_id = i.b_id
        |ORDER BY a_id, b_id""".stripMargin
    },
    "llm_minhash_est" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(list_filter(
        |    string_split(text, ' '), t -> len(t) > 0))) AS token
        |  FROM documents WHERE doc_id < 100
        |),
        |mh AS (
        |  SELECT doc_id,
        |         min(md5('0:' || token)) AS mh0, min(md5('1:' || token)) AS mh1,
        |         min(md5('2:' || token)) AS mh2, min(md5('3:' || token)) AS mh3,
        |         min(md5('4:' || token)) AS mh4, min(md5('5:' || token)) AS mh5,
        |         min(md5('6:' || token)) AS mh6, min(md5('7:' || token)) AS mh7
        |  FROM tok GROUP BY doc_id
        |),
        |n AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
        |i AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ni
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT i.a_id, i.b_id,
        |       round(CAST(ni AS DOUBLE) / (na.ntok + nb.ntok - ni), 4) AS jacc,
        |       (CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END + CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END
        |        + CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END + CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END
        |        + CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END + CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END
        |        + CASE WHEN a.mh6 = b.mh6 THEN 1 ELSE 0 END + CASE WHEN a.mh7 = b.mh7 THEN 1 ELSE 0 END) AS n_match,
        |       round((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END + CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END
        |        + CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END + CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END
        |        + CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END + CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END
        |        + CASE WHEN a.mh6 = b.mh6 THEN 1 ELSE 0 END + CASE WHEN a.mh7 = b.mh7 THEN 1 ELSE 0 END) / 8.0, 4) AS est
        |FROM i JOIN n na ON na.doc_id = i.a_id JOIN n nb ON nb.doc_id = i.b_id
        |       JOIN mh a ON a.doc_id = i.a_id JOIN mh b ON b.doc_id = i.b_id
        |ORDER BY a_id, b_id""".stripMargin,
    "llm_dedup_lsh_verified" ->
      s"""WITH $tokCte,
        |${Dedup.bandsCte},
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b
        |    ON a.band_i = b.band_i AND a.band_v = b.band_v AND a.doc_id < b.doc_id
        |),
        |n AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a_id, c.b_id, count(*) AS n_inter
        |  FROM cand c
        |  JOIN tok ta ON ta.doc_id = c.a_id
        |  JOIN tok tb ON tb.doc_id = c.b_id AND tb.token = ta.token
        |  GROUP BY 1, 2
        |)
        |SELECT i.a_id, i.b_id,
        |       round(CAST(n_inter AS DOUBLE) / (na.ntok + nb.ntok - n_inter), 4) AS jacc
        |FROM inter i JOIN n na ON na.doc_id = i.a_id JOIN n nb ON nb.doc_id = i.b_id
        |WHERE CAST(n_inter AS DOUBLE) / (na.ntok + nb.ntok - n_inter) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,
    "llm_dedup_incremental" ->
      s"""WITH $tokCte,
        |${Dedup.bandsCte},
        |s AS (SELECT max(doc_id) - 99 AS split_id FROM documents),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b
        |    ON a.band_i = b.band_i AND a.band_v = b.band_v
        |  CROSS JOIN s
        |  WHERE a.doc_id >= s.split_id
        |    AND (b.doc_id < s.split_id OR a.doc_id < b.doc_id)
        |),
        |n AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a_id, c.b_id, count(*) AS n_inter
        |  FROM cand c
        |  JOIN tok ta ON ta.doc_id = c.a_id
        |  JOIN tok tb ON tb.doc_id = c.b_id AND tb.token = ta.token
        |  GROUP BY 1, 2
        |)
        |SELECT i.a_id AS new_id, i.b_id AS dup_of,
        |       round(CAST(n_inter AS DOUBLE) / (na.ntok + nb.ntok - n_inter), 4) AS jacc
        |FROM inter i JOIN n na ON na.doc_id = i.a_id JOIN n nb ON nb.doc_id = i.b_id
        |WHERE CAST(n_inter AS DOUBLE) / (na.ntok + nb.ntok - n_inter) >= 0.9
        |ORDER BY new_id, dup_of""".stripMargin,
    "llm_dedup_ngram" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(shingles)) AS sh FROM (
        |    SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
        |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |          FROM documents)
        |    WHERE len(toks) >= 3
        |  )
        |),
        |n AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id,
        |       round(CAST(n_inter AS DOUBLE) / (na.nsh + nb.nsh - n_inter), 4) AS jacc
        |FROM inter JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
        |WHERE CAST(n_inter AS DOUBLE) / (na.nsh + nb.nsh - n_inter) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,
    "llm_lsh_curve" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(shingles)) AS sh FROM (
        |    SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
        |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |          FROM documents)
        |    WHERE len(toks) >= 3
        |  )
        |),
        |n AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |),
        |j AS (
        |  SELECT least(CAST(floor((CAST(n_inter AS DOUBLE)
        |           / (na.nsh + nb.nsh - n_inter)) * 20) AS INTEGER), 19) AS bucket
        |  FROM inter JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
        |),
        |g AS (SELECT bucket, count(*) AS n_pairs FROM j GROUP BY bucket),
        |c AS (
        |  SELECT bucket, n_pairs, s, 1 - (1 - s*s*s*s) * (1 - s*s*s*s) AS p
        |  FROM (SELECT bucket, n_pairs, CAST(bucket AS DOUBLE) / 20 AS s FROM g)
        |)
        |SELECT bucket, s AS sim_lo, n_pairs, round(p, 6) AS p_capture,
        |       round(n_pairs * (1 - p), 3) AS exp_missed
        |FROM c ORDER BY bucket""".stripMargin,
    "llm_dedup_stopgram" ->
      """WITH sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(shingles)) AS sh FROM (
        |    SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
        |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |          FROM documents)
        |    WHERE len(toks) >= 3
        |  )
        |),
        |ok AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 25),
        |sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN ok USING (sh)),
        |n AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, n_inter,
        |       CAST(n_inter AS DOUBLE) / na.nsh AS cont_a,
        |       CAST(n_inter AS DOUBLE) / nb.nsh AS cont_b
        |FROM inter JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
        |WHERE CAST(n_inter AS DOUBLE) / na.nsh >= 0.8
        |   OR CAST(n_inter AS DOUBLE) / nb.nsh >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    // Adaptive cap: the oracle replays ops.StopShingles.percentileCap's
    // walk in SQL — desc cumulative over the df histogram; the dropped
    // groups are exactly the maximal desc-prefix whose cumulative shingle
    // count fits floor((1-p)*V) (cum is monotone, so the WHERE selects a
    // prefix); cap = min(dropped df) - 1, or BIGINT max if none fit.
    // floor() before the BIGINT cast because DuckDB's cast ROUNDS while
    // Scala's .toLong truncates.
    "llm_dedup_stopgram_auto" ->
      """WITH sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(shingles)) AS sh FROM (
        |    SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
        |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |          FROM documents)
        |    WHERE len(toks) >= 3
        |  )
        |),
        |dfs AS (SELECT sh, count(*) AS df FROM sh0 GROUP BY sh),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS v FROM dfs),
        |hist AS (SELECT df, count(*) AS n FROM dfs GROUP BY df),
        |walk AS (SELECT df, sum(n) OVER (ORDER BY df DESC ROWS UNBOUNDED PRECEDING) AS cum
        |         FROM hist),
        |cap AS (
        |  SELECT coalesce(
        |           min(CASE WHEN cum <= CAST(floor((1.0 - 0.9) * v) AS BIGINT)
        |                    THEN df END) - 1,
        |           9223372036854775807) AS cap
        |  FROM walk CROSS JOIN tot
        |),
        |sh AS (SELECT s.doc_id, s.sh
        |       FROM sh0 s JOIN dfs USING (sh) CROSS JOIN cap
        |       WHERE dfs.df <= cap.cap),
        |n AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, n_inter,
        |       CAST(n_inter AS DOUBLE) / na.nsh AS cont_a,
        |       CAST(n_inter AS DOUBLE) / nb.nsh AS cont_b
        |FROM inter JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
        |WHERE CAST(n_inter AS DOUBLE) / na.nsh >= 0.8
        |   OR CAST(n_inter AS DOUBLE) / nb.nsh >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    "llm_dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(shingles)) AS sh FROM (
        |    SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
        |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |          FROM documents)
        |    WHERE len(toks) >= 3
        |  )
        |),
        |n AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, n_inter,
        |       CAST(n_inter AS DOUBLE) / na.nsh AS cont_a,
        |       CAST(n_inter AS DOUBLE) / nb.nsh AS cont_b,
        |       round(CAST(n_inter AS DOUBLE) / (na.nsh + nb.nsh - n_inter), 4) AS jacc
        |FROM inter JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
        |WHERE CAST(n_inter AS DOUBLE) / na.nsh >= 0.8
        |   OR CAST(n_inter AS DOUBLE) / nb.nsh >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    // Positional 5-gram shingles (generate_subscripts zips with unnest),
    // same diagonal gaps-and-islands as the Spark plan.
    "llm_dedup_span" ->
      """WITH sh AS (
        |  SELECT doc_id, generate_subscripts(shingles, 1) - 1 AS pos,
        |         unnest(shingles) AS sh
        |  FROM (
        |    SELECT doc_id, list_transform(range(1, len(toks) - 3),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                  || ' ' || toks[i+3] || ' ' || toks[i+4]) AS shingles
        |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |          FROM documents)
        |    WHERE len(toks) >= 5
        |  )
        |),
        |hits AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS ai, a.pos - b.pos AS diag
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |),
        |isl AS (
        |  SELECT a_id, b_id, diag,
        |         ai - row_number() OVER (PARTITION BY a_id, b_id, diag ORDER BY ai) AS island
        |  FROM hits
        |),
        |runs AS (
        |  SELECT a_id, b_id, count(*) AS run
        |  FROM isl GROUP BY a_id, b_id, diag, island
        |)
        |SELECT a_id, b_id, max(run) + 4 AS span_tokens
        |FROM runs GROUP BY a_id, b_id
        |HAVING max(run) + 4 >= 8
        |ORDER BY a_id, b_id""".stripMargin,
    "llm_dedup_embed" ->
      s"""WITH $vecCte
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round($dotSql / (a.norm * b.norm), 4) AS sim
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE $dotSql / (a.norm * b.norm) >= 0.45
        |ORDER BY a_id, b_id""".stripMargin,
    "llm_perplexity" ->
      s"""WITH $tokAllCte,
        |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |t AS (SELECT count(*) AS total FROM tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(avg(-ln(CAST(c.cnt AS DOUBLE) / t.total)), 4) AS avg_nll
        |FROM tok JOIN c USING (token) CROSS JOIN t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_redact" ->
      """SELECT doc_id,
        |       md5(regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'),
        |           '[a-z]{10,}', '<long>', 'g')) AS redacted_hash,
        |       CAST(len(regexp_extract_all(text, '[0-9]+'))
        |         + len(regexp_extract_all(text, '[a-z]{10,}')) AS INTEGER) AS n_redactions
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_dedup_simhash" ->
      s"""WITH $tokCte,
        |tv AS (
        |  SELECT doc_id, CAST(concat('0x', substring(md5(token), 1, 4)) AS BIGINT) AS tv
        |  FROM tok
        |),
        |bits AS (
        |  SELECT doc_id, j, sum(CASE WHEN ((tv >> j) & 1) = 1 THEN 1 ELSE -1 END) AS sgn
        |  FROM tv, (SELECT unnest(range(0, 16)) AS j)
        |  GROUP BY doc_id, j
        |)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN sgn > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)
        |            AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_dedup_simhash_pairs" ->
      s"""WITH $tokCte,
        |tv AS (
        |  SELECT doc_id, lang, CAST(concat('0x', substring(md5(token), 1, 4)) AS BIGINT) AS tv
        |  FROM tok WHERE doc_id < 1000
        |),
        |bits AS (
        |  SELECT doc_id, lang, j, sum(CASE WHEN ((tv >> j) & 1) = 1 THEN 1 ELSE -1 END) AS sgn
        |  FROM tv, (SELECT unnest(range(0, 16)) AS j)
        |  GROUP BY doc_id, lang, j
        |),
        |sh AS (
        |  SELECT doc_id, lang,
        |         CAST(sum(CASE WHEN sgn > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)
        |              AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id, lang
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    // Brute-force all-pairs oracle: legitimate BECAUSE the 4x4-bit banding
    // captures every hamming<=3 pair (pigeonhole) — band join and brute
    // force produce identical row sets, so the hash compare is exact.
    "llm_dedup_simhash_lsh" ->
      s"""WITH $tokCte,
        |tv AS (
        |  SELECT doc_id, CAST(concat('0x', substring(md5(token), 1, 4)) AS BIGINT) AS tv
        |  FROM tok WHERE doc_id < 1000
        |),
        |bits AS (
        |  SELECT doc_id, j, sum(CASE WHEN ((tv >> j) & 1) = 1 THEN 1 ELSE -1 END) AS sgn
        |  FROM tv, (SELECT unnest(range(0, 16)) AS j)
        |  GROUP BY doc_id, j
        |),
        |sh AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN sgn > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)
        |              AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    // Brute-force all-pairs oracle over the signature's two 32-bit halves
    // (DuckDB lacks unsigned 64-bit bit ops; 2^63 would overflow BIGINT in
    // the power() sum, the halves never exceed 2^32). Legitimate for the
    // same pigeonhole reason as the 16-bit lsh key: 4×16-bit banding finds
    // EVERY hamming<=3 pair, so band join and brute force agree exactly.
    "llm_dedup_simhash64" ->
      s"""WITH $tokCte,
        |tv AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substring(md5(token), 1, 4)) AS BIGINT) AS tv0,
        |         CAST(concat('0x', substring(md5(token), 5, 4)) AS BIGINT) AS tv1,
        |         CAST(concat('0x', substring(md5(token), 9, 4)) AS BIGINT) AS tv2,
        |         CAST(concat('0x', substring(md5(token), 13, 4)) AS BIGINT) AS tv3
        |  FROM tok
        |),
        |bits AS (
        |  SELECT doc_id, j,
        |         sum(CASE WHEN (((CASE WHEN j < 16 THEN tv0 WHEN j < 32 THEN tv1
        |                               WHEN j < 48 THEN tv2 ELSE tv3 END)
        |                         >> (j % 16)) & 1) = 1 THEN 1 ELSE -1 END) AS sgn
        |  FROM tv, (SELECT unnest(range(0, 64)) AS j)
        |  GROUP BY doc_id, j
        |),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN sgn > 0 AND j >= 32 THEN CAST(power(2, j - 32) AS BIGINT)
        |                  ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN sgn > 0 AND j < 32 THEN CAST(power(2, j) AS BIGINT)
        |                  ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER)
        |         AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    "llm_cosine_topk" ->
      s"""WITH $vecCte
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round($dotSql / (a.norm * b.norm), 4) AS sim
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |ORDER BY $dotSql / (a.norm * b.norm) DESC, a_id, b_id
        |LIMIT 100""".stripMargin,
    "llm_knn_label" ->
      s"""WITH $vecCte,
        |sims AS (
        |  SELECT a.vec_id AS q_id, a.label AS true_label, b.label AS c_label, b.vec_id AS c_id,
        |         $dotSql / (a.norm * b.norm) AS sim
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
        |),
        |top AS (
        |  SELECT q_id, true_label, c_label,
        |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
        |  FROM sims
        |),
        |votes AS (
        |  SELECT q_id, true_label, c_label, count(*) AS votes
        |  FROM top WHERE rn <= 5 GROUP BY 1, 2, 3
        |)
        |SELECT q_id AS vec_id, c_label AS pred_label, true_label, votes FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, c_label) AS vr
        |  FROM votes
        |) WHERE vr = 1 ORDER BY vec_id""".stripMargin,
    "llm_text_stats" ->
      s"""WITH $tokAllCte
        |SELECT lang, source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens,
        |       count(DISTINCT token) AS n_distinct, round(avg(len(token)), 4) AS avg_tok_len
        |FROM tok GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "llm_lang_id" ->
      s"""WITH $langIdCtes
        |SELECT d.doc_id, d.lang, coalesce(b.pred_lang, 'und') AS pred_lang,
        |       coalesce(b.n_overlap, 0) AS n_overlap,
        |       CAST(d.lang = coalesce(b.pred_lang, 'und') AS INTEGER) AS correct
        |FROM documents d LEFT JOIN best b ON d.doc_id = b.b_doc
        |ORDER BY d.doc_id""".stripMargin,
    "llm_lang_confusion" ->
      s"""WITH $langIdCtes,
        |scored AS (
        |  SELECT d.lang, coalesce(b.pred_lang, 'und') AS pred_lang
        |  FROM documents d LEFT JOIN best b ON d.doc_id = b.b_doc
        |),
        |c AS (SELECT lang, pred_lang, count(*) AS n FROM scored GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.lang, c.pred_lang, c.n, CAST(c.n AS DOUBLE) / t.tot AS share
        |FROM c JOIN t ON c.lang = t.lang
        |ORDER BY c.lang, c.pred_lang""".stripMargin,
    "llm_quality_score" ->
      s"""WITH $tokAllCte,
        |q AS (
        |  SELECT doc_id, count(*) AS n_tok, round(avg(len(token)), 4) AS avg_len,
        |         round(CAST(sum(CASE WHEN token IN ('the','of','and','a','to','in','is','it')
        |           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS stop_ratio,
        |         round(CAST(sum(CASE WHEN len(token) > 7 THEN 1 ELSE 0 END) AS DOUBLE)
        |           / count(*), 4) AS long_ratio
        |  FROM tok GROUP BY doc_id
        |)
        |SELECT doc_id, n_tok, avg_len, stop_ratio, long_ratio,
        |       CAST(round(CAST(0.025 AS DECIMAL(6,3)) * least(n_tok, 20)
        |         + CAST(0.3 AS DECIMAL(2,1)) * (1 - CAST(stop_ratio AS DECIMAL(18,4)))
        |         + CAST(0.2 AS DECIMAL(2,1)) * CAST(long_ratio AS DECIMAL(18,4)), 4) AS DOUBLE) AS score
        |FROM q ORDER BY doc_id""".stripMargin,
    "llm_quality_linear" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS token
        |  FROM documents
        |),
        |w AS (
        |  SELECT doc_id, lang,
        |         CAST(concat('0x', substring(md5('qw' || CAST(
        |             CAST(concat('0x', substring(md5(token), 1, 8)) AS BIGINT) % 256
        |           AS VARCHAR)), 1, 8)) AS BIGINT) % 1000001 - 500000 AS wt
        |  FROM t
        |)
        |SELECT doc_id, lang, count(*) AS n_tok,
        |       CAST(sum(wt) AS BIGINT) AS wsum_micro,
        |       floor(CAST(sum(wt) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1e6 AS score,
        |       CAST(CASE WHEN sum(wt) >= 0 THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM w GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,
    "llm_hash_embed" ->
      s"""WITH $tokAllCte,
        |h AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substring(md5(token), 1, 8)) AS BIGINT) % 16 AS dim,
        |         CASE WHEN CAST(concat('0x', substring(md5(token), 9, 1)) AS BIGINT) % 2 = 0
        |              THEN 1 ELSE -1 END AS sgn
        |  FROM tok
        |)
        |SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS v
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin,
    "llm_dsir_weights" ->
      s"""WITH $tokAllCte,
        |bc0 AS (
        |  SELECT CAST(concat('0x', substring(md5(token), 1, 8)) AS BIGINT) % 16 AS bucket,
        |         count(*) AS cr,
        |         count(*) FILTER (WHERE lang = 'en') AS ct
        |  FROM tok GROUP BY 1
        |),
        |bd AS (
        |  SELECT r.b AS bucket,
        |         CAST(coalesce(bc0.cr, 0) AS BIGINT) AS cr,
        |         CAST(coalesce(bc0.ct, 0) AS BIGINT) AS ct
        |  FROM (SELECT unnest(range(16)) AS b) r LEFT JOIN bc0 ON bc0.bucket = r.b
        |),
        |tt AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM bd),
        |lrw AS (
        |  SELECT bucket,
        |         ln(CAST((ct + 1) * (nr + 16) AS DOUBLE)
        |            / CAST((cr + 1) * (nt + 16) AS DOUBLE)) AS w
        |  FROM bd CROSS JOIN tt
        |),
        |laa AS (SELECT list(w ORDER BY bucket) AS la FROM lrw)
        |SELECT d.doc_id, d.lang,
        |       len(list_filter(string_split(d.text, ' '), t -> len(t) > 0)) AS n_tok,
        |       floor(coalesce(list_aggregate(list_transform(
        |         list_filter(string_split(d.text, ' '), t -> len(t) > 0),
        |         t -> la[CAST(CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT) % 16 + 1 AS INT)]
        |       ), 'sum'), 0.0) * 10000) / 10000 AS dsir_w
        |FROM documents d CROSS JOIN laa ORDER BY d.doc_id""".stripMargin,
    "llm_shard_plan" ->
      """WITH r AS (
        |  SELECT doc_id, row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|shard'), doc_id) AS rk
        |  FROM documents
        |)
        |SELECT doc_id, (rk - 1) // 64 AS shard, (rk - 1) % 64 AS pos
        |FROM r ORDER BY doc_id""".stripMargin,
    "llm_dedup_stats" ->
      """WITH d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |g AS (SELECT h, count(*) AS g_docs, count(DISTINCT source) AS g_srcs
        |      FROM d GROUP BY h)
        |SELECT d.source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN g.g_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
        |       CAST(sum(CASE WHEN g.g_srcs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS cross_src_docs,
        |       floor(CAST(sum(CASE WHEN g.g_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE) * 1e4) / 1e4 AS dup_ratio
        |FROM d JOIN g USING (h) GROUP BY d.source ORDER BY d.source""".stripMargin,
    "llm_source_card" ->
      """WITH docs AS (
        |  SELECT doc_id, source, lang, n_chars,
        |         CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS toks
        |  FROM documents
        |),
        |bl AS (
        |  SELECT source, lang, count(*) AS n, CAST(sum(toks) AS BIGINT) AS tok,
        |         CAST(sum(n_chars) AS BIGINT) AS ch,
        |         CAST(sum(CASE WHEN toks < 20 THEN 1 ELSE 0 END) AS BIGINT) AS short
        |  FROM docs GROUP BY 1, 2
        |),
        |top AS (
        |  SELECT source, lang AS top_lang, n AS top_n FROM (
        |    SELECT *, row_number() OVER (PARTITION BY source
        |                                 ORDER BY n DESC, lang) AS rn
        |    FROM bl
        |  ) WHERE rn = 1
        |),
        |card AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |         CAST(sum(tok) AS BIGINT) AS n_tokens,
        |         CAST(sum(ch) AS BIGINT) AS n_chars,
        |         count(*) AS n_langs, CAST(sum(short) AS BIGINT) AS n_short
        |  FROM bl GROUP BY 1
        |)
        |SELECT c.source, c.n_docs, c.n_tokens, c.n_chars, c.n_langs, t.top_lang,
        |       floor(CAST(t.top_n AS DOUBLE) / CAST(c.n_docs AS DOUBLE) * 1e4) / 1e4
        |         AS top_lang_share,
        |       floor(CAST(c.n_tokens AS DOUBLE) / CAST(c.n_docs AS DOUBLE) * 1e4) / 1e4
        |         AS avg_tokens,
        |       floor(CAST(c.n_short AS DOUBLE) / CAST(c.n_docs AS DOUBLE) * 1e4) / 1e4
        |         AS short_frac
        |FROM card c JOIN top t USING (source) ORDER BY c.source""".stripMargin,
    "llm_bigram_nll" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
        |         unnest(list_slice(toks, 2, len(toks))) AS w2
        |  FROM t WHERE len(toks) >= 2
        |),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(avg(-ln(CAST(c2.c2 AS DOUBLE) / c1.c1)), 4) AS avg_nll
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_ngram_lm_interp" ->
      s"""WITH $tokAllCte,
        |t2 AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
        |         unnest(list_slice(toks, 2, len(toks))) AS w2
        |  FROM t2 WHERE len(toks) >= 2
        |),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |cu AS (SELECT token AS w2, count(*) AS cu FROM tok GROUP BY 1),
        |tt AS (SELECT count(*) AS total FROM tok)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(avg(-ln(0.5 * (CAST(c2.c2 AS DOUBLE) / c1.c1)
        |                     + 0.5 * (CAST(cu.cu AS DOUBLE) / tt.total))), 4)
        |         AS avg_nll_interp
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) JOIN cu USING (w2)
        |     CROSS JOIN tt
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_ppl_bucket" ->
      s"""WITH $tokAllCte,
        |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |t AS (SELECT count(*) AS total FROM tok),
        |nll AS (
        |  SELECT doc_id, lang,
        |         round(avg(-ln(CAST(c.cnt AS DOUBLE) / t.total)), 4) AS avg_nll
        |  FROM tok JOIN c USING (token) CROSS JOIN t
        |  GROUP BY doc_id, lang
        |),
        |b AS (
        |  SELECT *, ntile(3) OVER (PARTITION BY lang ORDER BY avg_nll ASC, doc_id) AS tile
        |  FROM nll
        |)
        |SELECT doc_id, lang, avg_nll,
        |       CASE WHEN tile = 1 THEN 'head'
        |            WHEN tile = 2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM b ORDER BY doc_id""".stripMargin,
    "llm_gopher_rules" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks,
        |         string_split(text, chr(10)) AS lines
        |  FROM documents
        |),
        |m AS (
        |  SELECT doc_id,
        |         len(toks) AS n_words, len(lines) AS n_lines,
        |         CAST(list_aggregate(list_transform(toks, t -> len(t)), 'sum') AS DOUBLE)
        |           / len(toks) AS mean_len,
        |         (len(text) - len(replace(text, '#', '')))
        |           + (len(text) - len(replace(text, '…', ''))) AS n_sym,
        |         len(list_filter(lines, l -> starts_with(l, '-')
        |           OR starts_with(l, '•'))) AS n_bullet,
        |         len(list_filter(lines, l -> ends_with(l, '…')
        |           OR ends_with(l, '...'))) AS n_ellip,
        |         len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
        |         len(list_intersect(list_transform(toks, t -> lower(t)),
        |           ['the','be','to','of','and','that','have','with'])) AS n_stop
        |  FROM g
        |)
        |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
        |       floor(mean_len * 10000) / 10000 AS mean_len,
        |       floor(CAST(n_alpha AS DOUBLE) / n_words * 10000) / 10000 AS alpha_ratio,
        |       CAST(n_stop AS INTEGER) AS n_stop,
        |       n_words BETWEEN 50 AND 100000 AS f_words,
        |       mean_len BETWEEN 3.0 AND 10.0 AS f_meanlen,
        |       CAST(n_sym AS DOUBLE) / n_words <= 0.1 AS f_symbol,
        |       CAST(n_bullet AS DOUBLE) / n_lines <= 0.9 AS f_bullet,
        |       CAST(n_ellip AS DOUBLE) / n_lines <= 0.3 AS f_ellipsis,
        |       CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS f_alpha,
        |       n_stop >= 2 AS f_stop,
        |       (n_words BETWEEN 50 AND 100000) AND (mean_len BETWEEN 3.0 AND 10.0)
        |         AND (CAST(n_sym AS DOUBLE) / n_words <= 0.1)
        |         AND (CAST(n_bullet AS DOUBLE) / n_lines <= 0.9)
        |         AND (CAST(n_ellip AS DOUBLE) / n_lines <= 0.3)
        |         AND (CAST(n_alpha AS DOUBLE) / n_words >= 0.8)
        |         AND (n_stop >= 2) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,
    "llm_token_count" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS INTEGER) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS re_tokens,
        |       CAST(ceil(CAST(len(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Curriculum: value-grain cumulative counts -> stage, md5 shuffle ->
    // (shard, rank) — same integers, same hex ordering on both engines
    "llm_curriculum" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT)
        |           AS difficulty
        |  FROM documents
        |),
        |byval AS (SELECT difficulty, count(*) AS nv FROM docs GROUP BY 1),
        |cuts AS (
        |  SELECT difficulty,
        |         CAST(floor(CAST(coalesce(sum(nv) OVER (ORDER BY difficulty
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
        |           * 10 / (SELECT count(*) FROM docs)) AS BIGINT) AS stage
        |  FROM byval
        |),
        |staged AS (
        |  SELECT d.doc_id, d.difficulty, c.stage,
        |         md5(CAST(d.doc_id AS VARCHAR) || '|cur') AS h
        |  FROM docs d JOIN cuts c ON d.difficulty = c.difficulty
        |),
        |sh AS (
        |  SELECT *, CAST(concat('0x', substring(h, 1, 4)) AS BIGINT) % 8 AS shard
        |  FROM staged
        |)
        |SELECT doc_id, difficulty, stage, shard,
        |       CAST(row_number() OVER (PARTITION BY stage, shard
        |            ORDER BY h, doc_id) AS BIGINT) AS rank_in_shard
        |FROM sh ORDER BY doc_id""".stripMargin,
    "llm_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS token
        |  FROM documents
        |),
        |wf AS (SELECT token, count(*) AS freq FROM w GROUP BY token HAVING len(token) >= 2),
        |p AS (
        |  SELECT freq, unnest(list_transform(range(1, len(token)),
        |    i -> substring(token, i, 2))) AS pair
        |  FROM wf
        |)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "llm_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CASE WHEN len(toks) >= 3 THEN
        |         list_aggregate(list_transform(range(1, len(toks) - 1),
        |           i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])), 'min')
        |       ELSE md5(text) END AS fp,
        |       greatest(len(toks) - 2, 1) AS n_shingles
        |FROM t ORDER BY doc_id""".stripMargin,
    "llm_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |cuts AS (
        |  SELECT doc_id, unnest(list_filter(range(2, len - 6),
        |    i -> CAST(concat('0x', substring(md5(substring(text, i, 8)), 1, 15)) AS BIGINT) % 32 = 0)) AS s
        |  FROM d
        |),
        |starts AS (
        |  SELECT doc_id, 1 AS s FROM d
        |  UNION ALL SELECT doc_id, s FROM cuts
        |),
        |seg AS (
        |  SELECT doc_id, s, lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
        |  FROM starts
        |),
        |chunks AS (
        |  SELECT g.doc_id, substring(d.text, g.s, COALESCE(g.nxt, d.len + 1) - g.s) AS chunk
        |  FROM seg g JOIN d ON g.doc_id = d.doc_id
        |)
        |SELECT md5(chunk) AS chunk_hash, count(DISTINCT doc_id) AS n_docs,
        |       count(*) AS n_occ, CAST(min(length(chunk)) AS BIGINT) AS chunk_len
        |FROM chunks GROUP BY 1 ORDER BY 1""".stripMargin,
    "llm_dedup_cdc" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |cuts AS (
        |  SELECT doc_id, unnest(list_filter(range(2, len - 6),
        |    i -> CAST(concat('0x', substring(md5(substring(text, i, 8)), 1, 15)) AS BIGINT) % 32 = 0)) AS s
        |  FROM d
        |),
        |starts AS (
        |  SELECT doc_id, 1 AS s FROM d
        |  UNION ALL SELECT doc_id, s FROM cuts
        |),
        |seg AS (
        |  SELECT doc_id, s, lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
        |  FROM starts
        |),
        |dc AS (
        |  SELECT DISTINCT g.doc_id,
        |         md5(substring(d.text, g.s, COALESCE(g.nxt, d.len + 1) - g.s)) AS h,
        |         length(substring(d.text, g.s, COALESCE(g.nxt, d.len + 1) - g.s)) AS clen
        |  FROM seg g JOIN d ON g.doc_id = d.doc_id
        |  WHERE length(substring(d.text, g.s, COALESCE(g.nxt, d.len + 1) - g.s)) >= 16
        |),
        |keep AS (
        |  SELECT dc.* FROM dc
        |  JOIN (SELECT h FROM dc GROUP BY h HAVING count(*) <= 64) f ON dc.h = f.h
        |),
        |bytes AS (SELECT doc_id, sum(clen) AS bytes FROM dc GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, sum(a.clen) AS shared_bytes
        |  FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT p.a_id, p.b_id, CAST(p.shared_bytes AS BIGINT) AS shared_bytes,
        |       CAST(ba.bytes AS BIGINT) AS bytes_a, CAST(bb.bytes AS BIGINT) AS bytes_b,
        |       CAST(floor(1e4 * p.shared_bytes / LEAST(ba.bytes, bb.bytes)) AS BIGINT) AS containment_units
        |FROM pairs p
        |JOIN bytes ba ON p.a_id = ba.doc_id
        |JOIN bytes bb ON p.b_id = bb.doc_id
        |WHERE p.shared_bytes * 10 >= LEAST(ba.bytes, bb.bytes) * 3
        |ORDER BY p.a_id, p.b_id""".stripMargin,
    "llm_span_mask" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |),
        |p AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos FROM d
        |),
        |t AS (
        |  SELECT doc_id, pos, toks[pos] AS token,
        |         CASE WHEN CAST(concat('0x', substring(md5(concat(doc_id, ':', pos)), 1, 15)) AS BIGINT) % 8 = 0
        |              THEN 1 ELSE 0 END AS starter
        |  FROM p
        |),
        |c AS (
        |  SELECT *, CASE WHEN max(starter) OVER (PARTITION BY doc_id ORDER BY pos
        |                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1
        |                 THEN 1 ELSE 0 END AS covered
        |  FROM t
        |),
        |r AS (
        |  SELECT *, CASE WHEN covered = 1 AND coalesce(lag(covered) OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0
        |                 THEN 1 ELSE 0 END AS runstart
        |  FROM c
        |),
        |sd AS (
        |  SELECT *, sum(runstart) OVER (PARTITION BY doc_id ORDER BY pos) AS sid FROM r
        |),
        |pieces AS (
        |  SELECT doc_id, pos, covered, runstart,
        |         CASE WHEN covered = 0 THEN token
        |              WHEN runstart = 1 THEN concat('<extra_id_', CAST(sid AS VARCHAR), '>')
        |              ELSE NULL END AS in_piece,
        |         CASE WHEN runstart = 1 THEN concat('<extra_id_', CAST(sid AS VARCHAR), '> ', token)
        |              WHEN covered = 1 THEN token
        |              ELSE NULL END AS tgt_piece
        |  FROM sd
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(covered) AS BIGINT) AS n_masked,
        |       CAST(sum(runstart) AS BIGINT) AS n_spans,
        |       string_agg(in_piece, ' ' ORDER BY pos) AS input_text,
        |       string_agg(tgt_piece, ' ' ORDER BY pos) AS target_text
        |FROM pieces GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_positive_pairs" ->
      s"""WITH $vecCte,
        |sims AS (
        |  SELECT a.vec_id AS vec_id, a.label AS q_label,
        |         b.vec_id AS pos_id,
        |         $dotSql / (a.norm * b.norm) AS sim
        |  FROM v a JOIN v b
        |    ON a.vec_id <> b.vec_id AND a.label = b.label
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |                               ORDER BY sim DESC, pos_id) AS rank
        |  FROM sims
        |)
        |SELECT vec_id, q_label, pos_id, round(sim, 4) AS sim
        |FROM r WHERE rank = 1 ORDER BY vec_id""".stripMargin,
    "llm_triplet_margin" ->
      s"""WITH $vecCte,
        |psims AS (
        |  SELECT a.vec_id AS vec_id, a.label AS q_label,
        |         b.vec_id AS pos_id,
        |         $dotSql / (a.norm * b.norm) AS sim
        |  FROM v a JOIN v b
        |    ON a.vec_id <> b.vec_id AND a.label = b.label
        |),
        |pos AS (
        |  SELECT vec_id, q_label, pos_id, sim FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                 ORDER BY sim DESC, pos_id) AS rank
        |    FROM psims
        |  ) WHERE rank = 1
        |),
        |nsims AS (
        |  SELECT a.vec_id AS vec_id,
        |         b.vec_id AS neg_id,
        |         $dotSql / (a.norm * b.norm) AS sim
        |  FROM v a JOIN v b
        |    ON a.vec_id <> b.vec_id AND a.label <> b.label
        |),
        |neg AS (
        |  SELECT vec_id, neg_id, sim FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                 ORDER BY sim DESC, neg_id) AS rank
        |    FROM nsims
        |  ) WHERE rank = 1
        |)
        |SELECT p.vec_id, p.q_label,
        |       p.pos_id, round(p.sim, 4) AS pos_sim,
        |       n.neg_id, round(n.sim, 4) AS neg_sim,
        |       round(p.sim - n.sim, 4) + 0 AS margin,
        |       p.sim - n.sim < 0.2 AS violation
        |FROM pos p JOIN neg n ON p.vec_id = n.vec_id
        |ORDER BY p.vec_id""".stripMargin,
    "llm_hard_negatives" ->
      s"""WITH $vecCte,
        |sims AS (
        |  SELECT a.vec_id AS vec_id, a.label AS q_label,
        |         b.vec_id AS neg_id, b.label AS neg_label,
        |         $dotSql / (a.norm * b.norm) AS sim
        |  FROM v a JOIN v b
        |    ON a.vec_id <> b.vec_id AND a.label <> b.label
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |                               ORDER BY sim DESC, neg_id) AS rank
        |  FROM sims
        |)
        |SELECT vec_id, q_label, neg_id, neg_label, rank, round(sim, 4) AS sim
        |FROM r WHERE rank <= 3
        |ORDER BY vec_id, rank""".stripMargin,
    "llm_ann_bucket" ->
      s"""WITH $vecCte,
        |bv AS (
        |  SELECT vec_id, embedding, norm,
        |         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        |       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
        |       + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
        |       + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
        |       + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
        |       + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
        |       + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
        |  FROM v
        |),
        |sims AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket,
        |         $dotSql / (a.norm * b.norm) AS sim
        |  FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        |),
        |nn AS (
        |  SELECT a_id, b_id AS nn_id, round(sim, 4) AS sim FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
        |    FROM sims
        |  ) WHERE rn = 1
        |)
        |SELECT bv.vec_id, CAST(bv.bucket AS BIGINT) AS bucket, nn.nn_id, nn.sim
        |FROM bv LEFT JOIN nn ON bv.vec_id = nn.a_id
        |ORDER BY bv.vec_id""".stripMargin,
    "llm_embed_quantize" ->
      """WITH a AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings
        |)
        |SELECT vec_id,
        |       floor(amax * 1000000) / 1000000 AS scale_q,
        |       array_to_string(list_transform(embedding, x ->
        |         CAST(CAST(CASE WHEN amax = 0 THEN 0
        |                        ELSE floor(CAST(x AS DOUBLE) * 127.0 / amax)
        |                   END AS INTEGER) AS VARCHAR)), ',') AS q_int8
        |FROM a ORDER BY vec_id""".stripMargin,
    "llm_embed_stats" ->
      s"""WITH $vecCte
        |SELECT label, count(*) AS n_vecs,
        |       round(avg(norm), 4) AS avg_norm,
        |       round(min(norm), 4) AS min_norm,
        |       round(max(norm), 4) AS max_norm
        |FROM v GROUP BY label ORDER BY label""".stripMargin,
    "llm_pq_adc" ->
      s"""WITH $pqAdcCtes,
        |nn AS (
        |  SELECT a_id, b_id AS nn_id, round(adc, 4) AS adc_dist FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY adc ASC, b_id) AS rn
        |    FROM adcs
        |  ) WHERE rn = 1
        |)
        |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, nn.nn_id, nn.adc_dist
        |FROM cells c LEFT JOIN nn ON c.vec_id = nn.a_id
        |ORDER BY c.vec_id""".stripMargin,
    "llm_pq_rerank" ->
      s"""WITH $pqAdcCtes,
        |shortlist AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY adc ASC, b_id) AS rn
        |    FROM adcs
        |  ) WHERE rn <= 10
        |),
        |ex AS (
        |  SELECT sl.a_id, sl.b_id,
        |         list_aggregate(list_transform(list_zip(ea.embedding, eb.embedding),
        |           p -> (CAST(struct_extract(p, 1) AS DOUBLE)
        |                   - CAST(struct_extract(p, 2) AS DOUBLE))
        |              * (CAST(struct_extract(p, 1) AS DOUBLE)
        |                   - CAST(struct_extract(p, 2) AS DOUBLE))),
        |           'sum') AS d2
        |  FROM shortlist sl
        |  JOIN embeddings ea ON ea.vec_id = sl.a_id
        |  JOIN embeddings eb ON eb.vec_id = sl.b_id
        |),
        |nn AS (
        |  SELECT a_id, b_id AS nn_id, floor(d2 * 10000) / 10000 AS l2sq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY d2 ASC, b_id) AS rn
        |    FROM ex
        |  ) WHERE rn = 1
        |)
        |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, nn.nn_id, nn.l2sq
        |FROM cells c LEFT JOIN nn ON c.vec_id = nn.a_id
        |ORDER BY c.vec_id""".stripMargin,
    "llm_pq_serve" ->
      s"""WITH ${pqAdcCtesMod("(SELECT nlist FROM nl)",
             """
               |nl AS (SELECT least(65536, greatest(16, count(*) // 50)) AS nlist FROM v),
               |qs AS (
               |  SELECT vec_id FROM v WHERE norm > 0
               |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|sq') LIMIT 500
               |),""".stripMargin,
             "(SELECT c.vec_id, c.cell FROM crk c JOIN qs USING (vec_id) WHERE c.r <= 2)")},
        |shortlist AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY adc ASC, b_id) AS rn
        |    FROM adcs
        |  ) WHERE rn <= 10
        |),
        |ex AS (
        |  SELECT sl.a_id, sl.b_id,
        |         list_aggregate(list_transform(list_zip(ea.embedding, eb.embedding),
        |           p -> (CAST(struct_extract(p, 1) AS DOUBLE)
        |                   - CAST(struct_extract(p, 2) AS DOUBLE))
        |              * (CAST(struct_extract(p, 1) AS DOUBLE)
        |                   - CAST(struct_extract(p, 2) AS DOUBLE))),
        |           'sum') AS d2
        |  FROM shortlist sl
        |  JOIN embeddings ea ON ea.vec_id = sl.a_id
        |  JOIN embeddings eb ON eb.vec_id = sl.b_id
        |),
        |nn AS (
        |  SELECT a_id, b_id AS nn_id, floor(d2 * 10000) / 10000 AS l2sq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY d2 ASC, b_id) AS rn
        |    FROM ex
        |  ) WHERE rn = 1
        |)
        |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, nn.nn_id, nn.l2sq
        |FROM cells c JOIN qs USING (vec_id)
        |LEFT JOIN nn ON c.vec_id = nn.a_id
        |ORDER BY c.vec_id""".stripMargin,
    "llm_nn_descent" ->
      s"""WITH $nnDescentCtes,
        |scf AS (
        |  SELECT n.node, n.nb,
        |         ${dtSql("va.embedding", "vb.embedding")} / (va.norm * vb.norm) AS sim
        |  FROM nb2 n JOIN vp va ON va.vec_id = n.node
        |  JOIN vp vb ON vb.vec_id = n.nb
        |)
        |SELECT node AS vec_id, CAST(rk AS INTEGER) AS rank, nb AS nb_id,
        |       round(sim, 4) + 0 AS sim
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY node ORDER BY sim DESC, nb) AS rk
        |  FROM scf
        |)
        |ORDER BY vec_id, rank""".stripMargin,
    "llm_graph_search" -> {
      s"""WITH $nnDescentCtes,
        |qsb AS (
        |  SELECT vec_id AS q_id FROM vp
        |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|sq') LIMIT 500
        |),
        |ent AS (
        |  SELECT vec_id AS cur FROM vp
        |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|entry'), vec_id LIMIT 1
        |),
        |h0 AS (
        |  SELECT q.q_id, e.cur,
        |         ${dtSql("vq.embedding", "vc.embedding")} / (vq.norm * vc.norm) AS cur_sim,
        |         0 AS hops
        |  FROM qsb q CROSS JOIN ent e
        |  JOIN vp vq ON vq.vec_id = q.q_id
        |  JOIN vp vc ON vc.vec_id = e.cur
        |),
        |${greedyHopCtes(1, 6, "nb2")}
        |SELECT q_id AS vec_id, cur AS nn_id, round(cur_sim, 4) + 0 AS sim,
        |       CAST(hops AS INTEGER) AS hops, cur = q_id AS reached
        |FROM h6 ORDER BY vec_id""".stripMargin
    },
    // 2-layer hierarchical serve: the base descent chain (unprefixed) +
    // the same chain instantiated over the md5-promoted upper subset
    // (prefix u), entry from the upper layer, 3 unrolled upper hops over
    // unb2 then 6 base hops over nb2 — CTE for CTE what hnswSearch runs.
    "llm_hnsw_search" -> s"WITH $hnswCtes\n$hnswTailSql",
    // artifact ≡ direct compute: both descent layers rebuilt from source,
    // degree-histogram readout — a hash match proves the persisted index
    // round-trips every edge of both graphs
    "store_index_persist" ->
      s"""WITH $twoLayerCtes,
        |bd AS (
        |  SELECT node, count(*) AS out_deg,
        |         sum(CAST(concat('0x', substring(md5(
        |           CAST(node AS VARCHAR) || ':' || CAST(nb AS VARCHAR)), 1, 12))
        |           AS BIGINT)) AS ns
        |  FROM nb2 GROUP BY node
        |),
        |ud AS (
        |  SELECT node, count(*) AS out_deg,
        |         sum(CAST(concat('0x', substring(md5(
        |           CAST(node AS VARCHAR) || ':' || CAST(nb AS VARCHAR)), 1, 12))
        |           AS BIGINT)) AS ns
        |  FROM unb2 GROUP BY node
        |)
        |SELECT layer, out_deg, n_nodes, edge_sum FROM (
        |  SELECT 'base' AS layer, out_deg, count(*) AS n_nodes,
        |         CAST(sum(ns) AS BIGINT) AS edge_sum
        |  FROM bd GROUP BY out_deg
        |  UNION ALL
        |  SELECT 'upper' AS layer, out_deg, count(*) AS n_nodes,
        |         CAST(sum(ns) AS BIGINT) AS edge_sum
        |  FROM ud GROUP BY out_deg
        |)
        |ORDER BY layer, out_deg""".stripMargin,
    // matryoshka: both exact sides over the same 500-query budget, the
    // prefix side sliced to dims 1..16 with its own norms + zero-prefix
    // guard
    "llm_recall_matryoshka" ->
      s"""WITH $vecCte,
        |q AS (
        |  SELECT * FROM v WHERE norm > 0
        |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|sq') LIMIT 500
        |),
        |exf AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         $dotSql / (a.norm * b.norm) AS sim
        |  FROM q a JOIN v b ON a.vec_id <> b.vec_id AND b.norm > 0
        |),
        |f1 AS (
        |  SELECT a_id AS vec_id, b_id AS nn_full FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
        |    FROM exf
        |  ) WHERE rn = 1
        |),
        |pv AS (
        |  SELECT vec_id, embedding[1:16] AS embedding,
        |         sqrt(list_aggregate(list_transform(embedding[1:16],
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm
        |  FROM v
        |),
        |pq AS (SELECT pv.* FROM pv JOIN q ON pv.vec_id = q.vec_id WHERE pv.norm > 0),
        |exp16 AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         $dotSql / (a.norm * b.norm) AS sim
        |  FROM pq a JOIN pv b ON a.vec_id <> b.vec_id AND b.norm > 0
        |),
        |p1 AS (
        |  SELECT a_id AS vec_id, b_id AS nn_16 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
        |    FROM exp16
        |  ) WHERE rn = 1
        |)
        |SELECT f.vec_id, f.nn_full, p.nn_16,
        |       CASE WHEN p.nn_16 = f.nn_full THEN 1 ELSE 0 END AS hit
        |FROM f1 f LEFT JOIN p1 p ON f.vec_id = p.vec_id
        |ORDER BY f.vec_id""".stripMargin,
    // recall@1 of the hierarchy vs the exact top-1 over the same budget
    "llm_recall_hnsw" ->
      s"""WITH $hnswCtes,
        |hn AS ($hnswTailSql),
        |q AS (SELECT v.* FROM vp v JOIN qsb ON v.vec_id = qsb.q_id),
        |ex AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         ${dtSql("a.embedding", "b.embedding")} / (a.norm * b.norm) AS sim
        |  FROM q a JOIN vp b ON a.vec_id <> b.vec_id
        |),
        |ex1 AS (
        |  SELECT a_id AS vec_id, b_id AS nn_exact FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
        |    FROM ex
        |  ) WHERE rn = 1
        |)
        |SELECT e.vec_id, e.nn_exact, hn.nn_id AS nn_hnsw,
        |       CASE WHEN hn.nn_id = e.nn_exact THEN 1 ELSE 0 END AS hit
        |FROM ex1 e LEFT JOIN hn ON e.vec_id = hn.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    "llm_mmr_rerank" -> {
      def dt(x: String, y: String) =
        s"""list_aggregate(list_transform(list_zip($x, $y),
           |  s -> CAST(struct_extract(s, 1) AS DOUBLE)
           |     * CAST(struct_extract(s, 2) AS DOUBLE)), 'sum')""".stripMargin
      val rounds = (2 to 5).map { i =>
        s"""m$i AS (
           |  SELECT c.q_id, c.c_id,
           |         max(${dt("c.c_e", "s.c_e")} / (c.c_n * s.c_n)) AS maxsim
           |  FROM cands c JOIN sel${i - 1} s ON c.q_id = s.q_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
           |                    WHERE x.q_id = c.q_id AND x.c_id = c.c_id)
           |  GROUP BY c.q_id, c.c_id
           |),
           |s$i AS MATERIALIZED (
           |  SELECT q_id, c_id, c_e, c_n, $i AS rank, score FROM (
           |    SELECT t.*, row_number() OVER (PARTITION BY q_id
           |                                   ORDER BY score DESC, c_id) AS rn
           |    FROM (
           |      SELECT c.q_id, c.c_id, c.c_e, c.c_n,
           |             0.5 * c.rel - 0.5 * m.maxsim AS score
           |      FROM cands c JOIN m$i m ON c.q_id = m.q_id AND c.c_id = m.c_id
           |    ) t
           |  ) WHERE rn = 1
           |),
           |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH $vecCte,
        |qs AS (
        |  SELECT vec_id, embedding, norm FROM v WHERE norm > 0
        |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|mmr') LIMIT 5
        |),
        |sims AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.embedding AS c_e,
        |         c.norm AS c_n,
        |         ${dt("q.embedding", "c.embedding")} / (q.norm * c.norm) AS rel
        |  FROM qs q JOIN v c ON q.vec_id <> c.vec_id
        |),
        |cands AS MATERIALIZED (
        |  SELECT q_id, c_id, c_e, c_n, rel FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY rel DESC, c_id) AS rn
        |    FROM sims
        |  ) WHERE rn <= 20
        |),
        |s1 AS MATERIALIZED (
        |  SELECT q_id, c_id, c_e, c_n, 1 AS rank, rel AS score FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY rel DESC, c_id) AS rn
        |    FROM cands
        |  ) WHERE rn = 1
        |),
        |sel1 AS (SELECT * FROM s1),
        |$rounds
        |SELECT q_id, rank, c_id, floor(score * 1e4) / 1e4 AS score
        |FROM sel5 ORDER BY q_id, rank""".stripMargin
    },
    "llm_embed_pca_power" -> pcaPowerSql,
    "llm_embed_whiten" -> embedWhitenSql,
    "llm_kmeans_lloyd" -> kmeansLloydSql(8, 3),
    "llm_moe_route" -> moeRouteSql(8, 3),
    "llm_cluster_eval" -> clusterEvalSql(8, 3),
    "llm_recall_graph" ->
      s"""WITH $nnDescentCtes,
        |qg AS (
        |  SELECT vec_id FROM vp
        |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|gq') LIMIT 500
        |),
        |ex AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |           row_number() OVER (PARTITION BY q.vec_id
        |             ORDER BY ${dtSql("qv.embedding", "c.embedding")}
        |                      / (qv.norm * c.norm) DESC, c.vec_id) AS rk
        |    FROM qg q JOIN vp qv ON qv.vec_id = q.vec_id
        |    JOIN vp c ON c.vec_id <> q.vec_id
        |  ) WHERE rk <= 4
        |),
        |hits AS (
        |  SELECT e.q_id, count(*) AS n_hits
        |  FROM ex e JOIN nb2 n ON n.node = e.q_id AND n.nb = e.c_id
        |  GROUP BY 1
        |)
        |SELECT q.vec_id, coalesce(h.n_hits, 0) AS n_hits,
        |       floor(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 4.0 * 1e4) / 1e4 AS recall
        |FROM qg q LEFT JOIN hits h ON q.vec_id = h.q_id
        |ORDER BY q.vec_id""".stripMargin,
    "llm_bpe_train" -> bpeTrainSql(4),
    "llm_bpe_encode" -> bpeEncodeSql,
    "llm_tokenizer_fertility" ->
      s"""WITH ${bpeTrainCtes(4)},
        |toks AS (
        |  SELECT lang, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS w
        |  FROM documents
        |),
        |occ AS (SELECT lang, w, count(*) AS k FROM toks GROUP BY 1, 2),
        |words AS (SELECT DISTINCT w FROM occ),
        |enc AS (
        |  SELECT w, CAST(len(w) AS BIGINT) AS wlen,
        |         CAST(len($bpeRewrittenSql) AS BIGINT) AS wbpe
        |  FROM words
        |  CROSS JOIN b1 m1 CROSS JOIN b2 m2 CROSS JOIN b3 m3 CROSS JOIN b4 m4
        |)
        |SELECT o.lang, CAST(sum(o.k) AS BIGINT) AS n_words,
        |       CAST(sum(o.k * e.wlen) AS BIGINT) AS n_chars,
        |       CAST(sum(o.k * e.wbpe) AS BIGINT) AS n_bpe,
        |       floor(CAST(sum(o.k * e.wbpe) AS DOUBLE)
        |             / CAST(sum(o.k) AS DOUBLE) * 1e4) / 1e4 AS fertility,
        |       floor(CAST(sum(o.k * e.wlen) AS DOUBLE)
        |             / CAST(sum(o.k * e.wbpe) AS DOUBLE) * 1e4) / 1e4 AS chars_per_token
        |FROM occ o JOIN enc e ON o.w = e.w
        |GROUP BY o.lang ORDER BY o.lang""".stripMargin,
    "llm_semdedup" ->
      s"""WITH $vecCte,
        |seeded AS (
        |  SELECT vec_id, embedding, norm,
        |         CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |           % 16 AS seed
        |  FROM v
        |),
        |px AS (
        |  SELECT seed, unnest(range(1, len(embedding) + 1)) AS i,
        |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
        |  FROM seeded
        |),
        |cm AS (
        |  SELECT seed, i, list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
        |  FROM px GROUP BY 1, 2
        |),
        |cent AS (
        |  SELECT seed AS cell, list(floor(m * 1000000) / 1000000 ORDER BY i) AS centroid
        |  FROM cm GROUP BY seed
        |),
        |centn AS (
        |  SELECT cell, centroid,
        |         sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum')) AS cnorm
        |  FROM cent
        |),
        |casg AS (
        |  SELECT s.vec_id, s.embedding, s.norm, c.cell,
        |         list_aggregate(list_transform(list_zip(s.embedding, c.centroid),
        |           p -> CAST(struct_extract(p, 1) AS DOUBLE) * struct_extract(p, 2)), 'sum')
        |           / (s.norm * c.cnorm) AS csim
        |  FROM seeded s CROSS JOIN centn c
        |),
        |cells AS (
        |  SELECT vec_id, embedding, norm, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS r
        |    FROM casg
        |  ) WHERE r = 1
        |),
        |dup AS (
        |  SELECT a.vec_id, min(b.vec_id) AS dup_of
        |  FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id < a.vec_id
        |  WHERE $dotSql / (a.norm * b.norm) >= 0.45
        |  GROUP BY a.vec_id
        |)
        |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, dup.dup_of,
        |       dup.dup_of IS NULL AS keep
        |FROM cells c LEFT JOIN dup ON c.vec_id = dup.vec_id
        |ORDER BY c.vec_id""".stripMargin,
    "llm_index_stats" ->
      s"""WITH $vecCte,
        |seeded AS (
        |  SELECT vec_id, embedding, norm,
        |         CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |           % 16 AS seed
        |  FROM v
        |),
        |px AS (
        |  SELECT seed, unnest(range(1, len(embedding) + 1)) AS i,
        |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
        |  FROM seeded
        |),
        |cm AS (
        |  SELECT seed, i, list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
        |  FROM px GROUP BY 1, 2
        |),
        |cent AS (
        |  SELECT seed AS cell, list(floor(m * 1000000) / 1000000 ORDER BY i) AS centroid
        |  FROM cm GROUP BY seed
        |),
        |centn AS (
        |  SELECT cell, centroid,
        |         sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum')) AS cnorm
        |  FROM cent
        |),
        |casg AS (
        |  SELECT s.vec_id, c.cell,
        |         list_aggregate(list_transform(list_zip(s.embedding, c.centroid),
        |           p -> CAST(struct_extract(p, 1) AS DOUBLE) * struct_extract(p, 2)), 'sum')
        |           / (s.norm * c.cnorm) AS csim
        |  FROM seeded s CROSS JOIN centn c
        |),
        |cells AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS r
        |    FROM casg
        |  ) WHERE r = 1
        |),
        |t AS (SELECT count(*) AS tot FROM cells)
        |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS occupancy,
        |       floor(count(*) * 10000.0 / t.tot) / 10000 AS occ_share
        |FROM cells CROSS JOIN t
        |GROUP BY cell, t.tot ORDER BY cell""".stripMargin,
    "llm_pq_encode" ->
      """WITH sub AS (
        |  SELECT vec_id, s.sub,
        |         list_slice(embedding, s.sub * 8 + 1, s.sub * 8 + 8) AS subvec
        |  FROM embeddings, (SELECT unnest(range(0, 8)) AS sub) s
        |),
        |seeded AS (
        |  SELECT *, CAST(concat('0x', substring(md5(
        |           CAST(vec_id AS VARCHAR) || ':' || CAST(sub AS VARCHAR)), 1, 4))
        |         AS BIGINT) % 16 AS cellseed
        |  FROM sub
        |),
        |px AS (
        |  SELECT sub, cellseed, unnest(range(1, len(subvec) + 1)) AS i,
        |         unnest(list_transform(subvec, x -> CAST(x AS DOUBLE))) AS x
        |  FROM seeded
        |),
        |cm AS (
        |  SELECT sub, cellseed, i,
        |         list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS m
        |  FROM px GROUP BY 1, 2, 3
        |),
        |cent AS (
        |  SELECT sub, cellseed AS cid,
        |         list(floor(m * 1000000) / 1000000 ORDER BY i) AS centroid
        |  FROM cm GROUP BY 1, 2
        |),
        |asg AS (
        |  SELECT se.vec_id, se.sub, c.cid,
        |         list_aggregate(list_transform(list_zip(se.subvec, c.centroid),
        |           p -> (CAST(struct_extract(p, 1) AS DOUBLE) - struct_extract(p, 2))
        |              * (CAST(struct_extract(p, 1) AS DOUBLE) - struct_extract(p, 2))),
        |           'sum') AS dist
        |  FROM seeded se JOIN cent c ON se.sub = c.sub
        |),
        |best AS (
        |  SELECT vec_id, sub, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |                                 ORDER BY dist ASC, cid ASC) AS rn
        |    FROM asg
        |  ) WHERE rn = 1
        |)
        |SELECT vec_id,
        |       string_agg(CAST(cid AS VARCHAR), ',' ORDER BY sub) AS pq_codes
        |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "llm_multimodal" ->
      s"""WITH $vecCte
        |SELECT d.doc_id, d.lang, d.source, v.label,
        |       CAST(len(text) AS INTEGER) AS n_bytes, md5(text) AS content_hash,
        |       CAST(len(embedding) AS INTEGER) AS dim, round(norm, 4) AS norm
        |FROM documents d JOIN v ON d.doc_id = v.vec_id
        |ORDER BY d.doc_id""".stripMargin,
    "llm_media_dedup" ->
      """WITH pos AS (
        |  SELECT doc_id, len(text) AS n, text, unnest(range(1, len(text) + 1)) AS i
        |  FROM documents WHERE len(text) > 0
        |),
        |ch AS (SELECT doc_id, n,
        |              ord(substring(text, CAST(i AS INTEGER), 1)) // 16 AS b FROM pos),
        |cnt AS (SELECT doc_id, n, b, count(*) AS c FROM ch GROUP BY 1, 2, 3),
        |dense AS (
        |  SELECT d.doc_id, d.n, g.b, coalesce(c.c, 0) AS c
        |  FROM (SELECT DISTINCT doc_id, n FROM cnt) d
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS b) g
        |  LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.b = g.b
        |),
        |sig AS (
        |  SELECT doc_id, array_to_string(list(
        |    CAST(CAST(floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) * 1000) AS BIGINT) AS VARCHAR)
        |    ORDER BY b), ',') AS sig
        |  FROM dense GROUP BY doc_id
        |),
        |bk AS (SELECT s.sig, s.doc_id, md5(d2.text) AS ph
        |       FROM sig s JOIN documents d2 USING (doc_id))
        |SELECT md5(sig) AS sig_hash, count(*) AS n_items,
        |       count(DISTINCT ph) AS n_payloads, min(doc_id) AS keep_id
        |FROM bk GROUP BY sig HAVING count(*) >= 2 ORDER BY sig_hash""".stripMargin,
    // the oracle computes the decode stats STRAIGHT from the md5 hex the
    // Spark side seeds its pixels from — so hash equality proves the BMP
    // codec round-trips every pixel value and position (wsum_lum).
    // n_bytes: 54-byte header + 5 rows × 12 (3·3 = 9 padded to 12) = 114.
    "llm_media_decode" ->
      """WITH px AS (
        |  SELECT doc_id, CAST(i.i AS BIGINT) AS i,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
        |                                     CAST(1 + 2 * i.i AS INTEGER), 2)) AS BIGINT) AS v
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 15)) AS i) i
        |)
        |SELECT doc_id, CAST(3 AS INTEGER) AS width, CAST(5 AS INTEGER) AS height,
        |       CAST(114 AS INTEGER) AS n_bytes,
        |       CAST(sum(v) AS BIGINT) AS sum_lum,
        |       CAST(sum((i + 1) * v) AS BIGINT) AS wsum_lum,
        |       CAST(min(v) AS INTEGER) AS min_lum, CAST(max(v) AS INTEGER) AS max_lum
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // aHash from the same md5-hex pixels: bit i = v_i·15 > sum (exact
    // integer mean test), hash = Σ 2^i·bit, bucket via a hash-grain count
    "llm_media_ahash" ->
      """WITH px AS (
        |  SELECT doc_id, CAST(i.i AS BIGINT) AS i,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
        |                                     CAST(1 + 2 * i.i AS INTEGER), 2)) AS BIGINT) AS v
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 15)) AS i) i
        |), s AS (
        |  SELECT doc_id, sum(v) AS total FROM px GROUP BY 1
        |), h AS (
        |  SELECT px.doc_id,
        |         CAST(sum(CASE WHEN px.v * 15 > s.total THEN CAST(pow(2, px.i) AS BIGINT)
        |                       ELSE 0 END) AS BIGINT) AS ahash,
        |         CAST(sum(CASE WHEN px.v * 15 > s.total THEN 1 ELSE 0 END) AS INTEGER)
        |           AS n_bright
        |  FROM px JOIN s ON px.doc_id = s.doc_id GROUP BY 1
        |)
        |SELECT doc_id, ahash, n_bright,
        |       count(*) OVER (PARTITION BY ahash) AS bucket_size
        |FROM h ORDER BY doc_id""".stripMargin,
    // pHash: px from the 16 chained md5s (chunk j = image row y), then the
    // SAME separable quantized-DCT in SQL — the cosine table arrives as
    // literal integers from Media.phashCosQ (single source of truth), so
    // every coefficient, the median, and each hash bit are exact-integer
    // reproductions of the Spark side
    "llm_media_phash" -> {
      val ctRows = graft.multimodal.Media.phashCosQ(16, 8).zipWithIndex.flatMap {
        case (rowArr, u) => rowArr.zipWithIndex.map {
          case (cq, x) => s"($u, $x, $cq)"
        }
      }.mkString(", ")
      s"""WITH ct(u, x, cq) AS (VALUES $ctRows),
        |px AS (
        |  SELECT doc_id, CAST(i.i AS BIGINT) AS i,
        |         CAST(concat('0x', substring(
        |           md5(CAST(doc_id AS VARCHAR) || ':p' || CAST(i.i // 16 AS VARCHAR)),
        |           CAST(1 + 2 * (i.i % 16) AS INTEGER), 2)) AS BIGINT) AS v
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 256)) AS i) i
        |),
        |rs AS (
        |  SELECT p.doc_id, ct.u, p.i // 16 AS y, sum(p.v * ct.cq) AS s
        |  FROM px p JOIN ct ON ct.x = p.i % 16
        |  GROUP BY 1, 2, 3
        |),
        |coef AS (
        |  SELECT rs.doc_id, rs.u, cy.u AS v, sum(rs.s * cy.cq) AS c
        |  FROM rs JOIN ct cy ON cy.x = rs.y
        |  GROUP BY 1, 2, 3
        |),
        |med AS (
        |  SELECT doc_id, list_sort(list(c))[32] AS m
        |  FROM coef WHERE NOT (u = 0 AND v = 0) GROUP BY 1
        |),
        |h AS (
        |  SELECT coef.doc_id,
        |         CAST(sum(CASE WHEN (coef.u != 0 OR coef.v != 0) AND coef.c > med.m
        |                       THEN CAST(pow(2, coef.u * 8 + coef.v - 1) AS BIGINT)
        |                       ELSE 0 END) AS BIGINT) AS phash,
        |         CAST(sum(CASE WHEN (coef.u != 0 OR coef.v != 0) AND coef.c > med.m
        |                       THEN 1 ELSE 0 END) AS INTEGER) AS n_bits
        |  FROM coef JOIN med ON coef.doc_id = med.doc_id GROUP BY 1
        |)
        |SELECT doc_id, phash, n_bits,
        |       count(*) OVER (PARTITION BY phash) AS bucket_size
        |FROM h ORDER BY doc_id""".stripMargin
    },
    // JPEG decode: closed form from the 4 md5-derived flat-block values —
    // the flat-block/quality-1.0 pair makes the lossy round trip exact,
    // so sum/min/max follow directly and the block-grain position sums
    // are the Σ(i+1)-per-quadrant constants (3872/4384/12064/12576,
    // totalling 256·257/2)
    "llm_media_decode_jpeg" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || ':jb0'), 1, 2)) AS BIGINT) AS b0,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || ':jb1'), 1, 2)) AS BIGINT) AS b1,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || ':jb2'), 1, 2)) AS BIGINT) AS b2,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || ':jb3'), 1, 2)) AS BIGINT) AS b3
        |  FROM documents
        |)
        |SELECT doc_id, CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |       CAST(64 * (b0 + b1 + b2 + b3) AS BIGINT) AS sum_lum,
        |       CAST(3872 * b0 + 4384 * b1 + 12064 * b2 + 12576 * b3 AS BIGINT) AS wsum_lum,
        |       CAST(least(b0, b1, b2, b3) AS INTEGER) AS min_lum,
        |       CAST(greatest(b0, b1, b2, b3) AS INTEGER) AS max_lum
        |FROM b ORDER BY doc_id""".stripMargin,
    // cross-format pHash: both codecs decode the flat-block fixture
    // exactly, so one clean DCT hash (same literal cos table as
    // llm_media_phash) serves both format columns and hamming is 0 by
    // construction — which is precisely the cross-format claim under test
    "llm_media_phash_jpeg" -> {
      val ctRows = graft.multimodal.Media.phashCosQ(16, 8).zipWithIndex.flatMap {
        case (rowArr, u) => rowArr.zipWithIndex.map {
          case (cq, x) => s"($u, $x, $cq)"
        }
      }.mkString(", ")
      s"""WITH ct(u, x, cq) AS (VALUES $ctRows),
        |px AS (
        |  SELECT doc_id, CAST(i.i AS BIGINT) AS i,
        |         CAST(concat('0x', substring(
        |           md5(CAST(doc_id AS VARCHAR) || ':jb' ||
        |               CAST(((i.i // 16) // 8) * 2 + (i.i % 16) // 8 AS VARCHAR)),
        |           1, 2)) AS BIGINT) AS v
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 256)) AS i) i
        |),
        |rs AS (
        |  SELECT p.doc_id, ct.u, p.i // 16 AS y, sum(p.v * ct.cq) AS s
        |  FROM px p JOIN ct ON ct.x = p.i % 16
        |  GROUP BY 1, 2, 3
        |),
        |coef AS (
        |  SELECT rs.doc_id, rs.u, cy.u AS v, sum(rs.s * cy.cq) AS c
        |  FROM rs JOIN ct cy ON cy.x = rs.y
        |  GROUP BY 1, 2, 3
        |),
        |med AS (
        |  SELECT doc_id, list_sort(list(c))[32] AS m
        |  FROM coef WHERE NOT (u = 0 AND v = 0) GROUP BY 1
        |),
        |h AS (
        |  SELECT coef.doc_id,
        |         CAST(sum(CASE WHEN (coef.u != 0 OR coef.v != 0) AND coef.c > med.m
        |                       THEN CAST(pow(2, coef.u * 8 + coef.v - 1) AS BIGINT)
        |                       ELSE 0 END) AS BIGINT) AS phash
        |  FROM coef JOIN med ON coef.doc_id = med.doc_id GROUP BY 1
        |)
        |SELECT doc_id, phash AS phash_jpeg, phash AS phash_png,
        |       CAST(0 AS INTEGER) AS hamming,
        |       count(*) OVER (PARTITION BY phash) AS bucket_size
        |FROM h ORDER BY doc_id""".stripMargin
    },
    // PNG twin: identical md5-hex recomputation; n_raw is the inflated
    // scanline payload h·(1+w) = 5·4 = 20 (filter byte per row + pixels)
    "llm_media_decode_png" ->
      """WITH px AS (
        |  SELECT doc_id, CAST(i.i AS BIGINT) AS i,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
        |                                     CAST(1 + 2 * i.i AS INTEGER), 2)) AS BIGINT) AS v
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 15)) AS i) i
        |)
        |SELECT doc_id, CAST(3 AS INTEGER) AS width, CAST(5 AS INTEGER) AS height,
        |       CAST(20 AS INTEGER) AS n_raw,
        |       CAST(sum(v) AS BIGINT) AS sum_lum,
        |       CAST(sum((i + 1) * v) AS BIGINT) AS wsum_lum,
        |       CAST(min(v) AS INTEGER) AS min_lum, CAST(max(v) AS INTEGER) AS max_lum
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_chunk_split" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, toks,
        |         unnest(range(0, (len(toks) - 1) // 30 + 1)) AS chunk_idx
        |  FROM t WHERE len(toks) > 0
        |)
        |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        |       CAST(len(toks[chunk_idx * 30 + 1 : chunk_idx * 30 + 40]) AS INTEGER) AS n_tokens,
        |       md5(array_to_string(toks[chunk_idx * 30 + 1 : chunk_idx * 30 + 40], ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "llm_sample_hash" ->
      """SELECT doc_id, lang, source,
        |       CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 4)) AS BIGINT) AS hv
        |FROM documents
        |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 4)) AS BIGINT)
        |      < CASE WHEN lang = 'en' THEN 32768 ELSE 16384 END
        |ORDER BY doc_id""".stripMargin,
    // Integer pick-count quotients over the doc_id-ordered cumulative
    // weight axis — no float crosses a pick boundary on either engine.
    "llm_sample_systematic" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT)
        |           AS wq
        |  FROM documents
        |),
        |cw AS (
        |  SELECT doc_id, wq,
        |         CAST(sum(wq) OVER (ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM w WHERE wq > 0
        |),
        |tw AS (SELECT CAST(sum(wq) AS BIGINT) AS tw FROM w WHERE wq > 0)
        |SELECT doc_id, wq AS n_tok,
        |       CAST((2000 * cum + tw.tw) // (2 * tw.tw)
        |            - (2000 * (cum - wq) + tw.tw) // (2 * tw.tw) AS BIGINT) AS n_picks
        |FROM cw, tw
        |WHERE (2000 * cum + tw.tw) // (2 * tw.tw)
        |      - (2000 * (cum - wq) + tw.tw) // (2 * tw.tw) >= 1
        |ORDER BY doc_id""".stripMargin,
    // Falling-factorial C(n−c,k)/C(n,k) as exact integer products; one
    // final IEEE divide per k, floor-1e-6 (the Chen et al. estimator).
    "llm_pass_at_k" -> {
      def pak(k: Int): String = {
        val num = (0 until k).map(i => s"greatest(10 - c - $i, 0)").mkString(" * ")
        val den = (0 until k).map(i => 10 - i).product
        s"floor((1.0 - CAST($num AS DOUBLE) / $den.0) * 1e6) / 1e6"
      }
      s"""WITH tasks AS (
        |  SELECT doc_id AS task_id,
        |         16384 + CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || '|diff'), 1, 4)) AS BIGINT) % 32768 AS thr
        |  FROM documents WHERE doc_id % 10 = 0
        |),
        |samples AS (
        |  SELECT task_id, thr, unnest(range(1, 11)) AS j
        |  FROM tasks
        |),
        |cc AS (
        |  SELECT task_id,
        |         CAST(sum(CASE WHEN CAST(concat('0x', substring(
        |           md5(CAST(task_id AS VARCHAR) || '|s' || CAST(j AS VARCHAR)), 1, 4)) AS BIGINT)
        |           < thr THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM samples GROUP BY task_id
        |)
        |SELECT task_id, c,
        |       ${pak(1)} AS pass_at_1,
        |       ${pak(5)} AS pass_at_5,
        |       ${pak(10)} AS pass_at_10
        |FROM cc ORDER BY task_id""".stripMargin
    },
    "llm_best_of_n" ->
      """WITH cand AS (
        |  SELECT doc_id AS task_id, unnest(range(1, 9)) AS j
        |  FROM documents WHERE doc_id % 10 = 0
        |),
        |scored AS (
        |  SELECT task_id, j,
        |         CAST(concat('0x', substring(
        |           md5(CAST(task_id AS VARCHAR) || '|r' || CAST(j AS VARCHAR)), 1, 4)) AS BIGINT) AS r,
        |         row_number() OVER (PARTITION BY task_id ORDER BY
        |           CAST(concat('0x', substring(
        |             md5(CAST(task_id AS VARCHAR) || '|r' || CAST(j AS VARCHAR)), 1, 4)) AS BIGINT) DESC,
        |           j ASC) AS rn
        |  FROM cand
        |)
        |SELECT task_id,
        |       CAST(max(CASE WHEN rn = 1 THEN j END) AS BIGINT) AS best_j,
        |       max(CASE WHEN rn = 1 THEN r END) AS best_reward,
        |       max(CASE WHEN rn = 2 THEN r END) AS second_reward,
        |       max(CASE WHEN rn = 1 THEN r END) - max(CASE WHEN rn = 2 THEN r END) AS margin,
        |       CAST(sum(r) AS DOUBLE) / 8.0 AS mean_reward
        |FROM scored GROUP BY task_id ORDER BY task_id""".stripMargin,
    "llm_sample_stratified" ->
      """WITH h AS (
        |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR) || '/' || lang) AS h FROM documents
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn FROM h
        |)
        |SELECT lang, rn, doc_id, h FROM r WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,
    "llm_decontaminate" -> decontamSql,
    // The same shingle screen rolled to source grain (the SHARED
    // decontamCtes prefix; source joins at doc grain after the agg).
    "llm_contamination_report" ->
      s"""WITH $decontamCtes,
        |dg AS (
        |  SELECT sh.doc_id, count(*) AS n_sh,
        |         CAST(sum(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        |  FROM sh LEFT JOIN ev ON sh.g = ev.g
        |  WHERE sh.is_eval = 0
        |  GROUP BY sh.doc_id
        |)
        |SELECT doc.source, count(*) AS n_train_docs,
        |       CAST(sum(CASE WHEN dg.n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |       floor(CAST(sum(CASE WHEN dg.n_hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*) * 1e4) / 1e4 AS flag_rate,
        |       CAST(sum(dg.n_sh) AS BIGINT) AS n_shingles,
        |       CAST(sum(dg.n_hits) AS BIGINT) AS n_hits,
        |       floor(CAST(sum(dg.n_hits) AS DOUBLE)
        |             / CAST(sum(dg.n_sh) AS DOUBLE) * 1e4) / 1e4 AS hit_rate
        |FROM dg JOIN documents doc USING (doc_id)
        |GROUP BY doc.source ORDER BY doc.source""".stripMargin,
    // bloom prefilter + exact verify returns row-identical results to the
    // exact formulation, so the same oracle serves both keys
    "llm_bloom_decontaminate" -> decontamSql,
    "llm_pack_batches" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents
        |),
        |c AS (
        |  SELECT source, doc_id, n_tok,
        |         CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM t
        |)
        |SELECT source, start_tok // 2048 AS batch, count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, batch""".stripMargin,
    "llm_domain_mix" ->
      """WITH t AS (
        |  SELECT source, lang,
        |         CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents
        |),
        |g AS (
        |  SELECT source, lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY 1, 2
        |),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot, max(n_tokens) AS mx FROM g)
        |SELECT source, lang, n_docs, n_tokens,
        |       round(CAST(n_tokens AS DOUBLE) / tot, 4) AS tok_share,
        |       round(sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(mx AS DOUBLE)), 4) AS samp_weight
        |FROM g CROSS JOIN tot ORDER BY source, lang""".stripMargin,
    "llm_mix_temperature" ->
      """WITH t AS (
        |  SELECT source,
        |         CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents
        |),
        |g AS (
        |  SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY 1
        |),
        |tot AS (
        |  SELECT CAST(sum(sqrt(CAST(n_tokens AS DOUBLE))) AS DOUBLE) AS den,
        |         CAST(sum(n_tokens) AS BIGINT) AS tot
        |  FROM g
        |)
        |SELECT source, n_docs, n_tokens,
        |       round(CAST(n_tokens AS DOUBLE) / tot, 4) AS raw_share,
        |       round(sqrt(CAST(n_tokens AS DOUBLE)) / den, 4) AS temp_weight,
        |       round(sqrt(CAST(n_tokens AS DOUBLE)) / den
        |             / (CAST(n_tokens AS DOUBLE) / tot), 4) AS eff_epochs
        |FROM g CROSS JOIN tot ORDER BY source""".stripMargin,
    "llm_winnow_fingerprint" ->
      s"""$winnowCtes
        |SELECT doc_id, unnest(sel) AS fp FROM s ORDER BY doc_id, fp""".stripMargin,
    "llm_winnow_match" ->
      s"""$winnowCtes,
        |fp AS (SELECT doc_id, unnest(sel) AS fp FROM s)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY a_id, b_id""".stripMargin,
    "llm_repetition" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |           FROM documents),
        |b AS (
        |  SELECT doc_id, len(toks) AS n_tok,
        |         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS g2
        |  FROM t WHERE len(toks) >= 2
        |),
        |r AS (
        |  SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok,
        |         round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 4) AS dup2_frac
        |  FROM b
        |),
        |x AS (SELECT doc_id, unnest(g2) AS g FROM b),
        |c AS (SELECT doc_id, g, count(*) AS c FROM x GROUP BY 1, 2),
        |tp AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT), 4) AS top2_frac
        |       FROM c GROUP BY 1)
        |SELECT r.doc_id, r.n_tok, r.dup2_frac, tp.top2_frac
        |FROM r JOIN tp USING (doc_id) ORDER BY doc_id""".stripMargin,
    // line segmentation mirrored exactly (disjoint 5-token slices); the
    // kept_hash reassembles survivors in idx order — DuckDB's list()
    // keeps NULLs, so the FILTER clause replaces Spark's collect_list
    // null-dropping (the win_hampel parity lesson, applied proactively)
    "llm_dedup_lines" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |),
        |l0 AS (
        |  SELECT doc_id, toks, unnest(range(0, (len(toks) - 1) // 5 + 1)) AS idx
        |  FROM t WHERE len(toks) > 0
        |),
        |l AS (
        |  SELECT doc_id, CAST(idx AS INTEGER) AS idx,
        |         array_to_string(toks[idx * 5 + 1 : idx * 5 + 5], ' ') AS line
        |  FROM l0
        |),
        |d AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1),
        |j AS (SELECT l.doc_id, l.idx, l.line, d.df FROM l JOIN d USING (line))
        |SELECT doc_id, count(*) AS n_lines,
        |       CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |       -- coalesce the STRING: with every line removed, the filtered
        |       -- list is NULL and array_to_string of even an empty list is
        |       -- NULL in DuckDB, while Spark's concat_ws over an empty
        |       -- collect_list is '' — md5('') is the shared fixpoint
        |       md5(coalesce(array_to_string(
        |         list(line ORDER BY idx) FILTER (WHERE df < 3), ' '), ''))
        |         AS kept_hash
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_boilerplate" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |           FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
        |  FROM t WHERE len(toks) >= 3
        |),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |boiler AS (
        |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM sh GROUP BY g), nd
        |  WHERE df * 100 >= n_docs
        |)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |       round(CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*), 4) AS boiler_frac
        |FROM sh LEFT JOIN boiler b ON sh.g = b.g
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "llm_filter_funnel" ->
      """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |           FROM documents),
        |s AS (
        |  SELECT len(toks) AS n_tok,
        |         CAST(list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS DOUBLE)
        |           / len(toks) AS avg_len,
        |         CASE WHEN len(toks) >= 2 THEN
        |           1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |             i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1)
        |         ELSE 0.0 END AS dup2,
        |         CAST(len(list_filter(toks, x -> x IN ('the','of','and','a','to','in','is','it')))
        |           AS DOUBLE) / len(toks) AS stop_ratio
        |  FROM t WHERE len(toks) > 0
        |),
        |r AS (
        |  SELECT n_tok >= 25 AS r1, avg_len <= 4.7 AS r2, dup2 <= 0.05 AS r3,
        |         stop_ratio >= 0.02 AS r4
        |  FROM s
        |),
        |c AS (
        |  SELECT count(*) AS c0,
        |         CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |         CAST(sum(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |         CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
        |  FROM r
        |)
        |SELECT 1 AS stage, 'min_tokens' AS rule, c0 AS n_in, c0 - c1 AS n_dropped, c1 AS n_out FROM c
        |UNION ALL
        |SELECT 2, 'avg_token_len', c1, c1 - c2, c2 FROM c
        |UNION ALL
        |SELECT 3, 'repetition', c2, c2 - c3, c3 FROM c
        |UNION ALL
        |SELECT 4, 'stopword_floor', c3, c3 - c4, c4 FROM c
        |ORDER BY stage""".stripMargin,
    // Centroid-build product: the shared CTE chain through `cent` (the
    // quantized centroid table) and `cells` (home-cell assignment for
    // occupancy); the search CTEs (sims/nn) are simply unreferenced.
    "llm_ivf_centroids" ->
      s"""WITH ${ivfCtes(1)},
        |cx AS (
        |  SELECT cell, unnest(range(1, len(centroid) + 1)) AS i,
        |         unnest(centroid) AS c
        |  FROM cent
        |),
        |occ AS (SELECT cell, count(*) AS occupancy FROM cells GROUP BY cell)
        |SELECT CAST(cx.cell AS BIGINT) AS cell, cx.i, cx.c,
        |       COALESCE(occ.occupancy, 0) AS occupancy
        |FROM cx LEFT JOIN occ ON cx.cell = occ.cell
        |ORDER BY cell, i""".stripMargin,
    "llm_ivf_probe" -> ivfSql(2),
    // Sampled-query serving, bounded (r12): the md5 25% membership filter
    // plus the fixed 500-query window in md5 order — nn over all queries
    // restricted to the budget at the output is row-identical to
    // restricting the query side first (per-query top-1 independence);
    // the oracle takes the simple form, the Spark plan the scalable one.
    "llm_ivf_query" ->
      s"""WITH ${ivfCtes(2)},
        |qs AS (
        |  SELECT vec_id FROM v
        |  WHERE norm > 0
        |    AND CAST(concat('0x', substring(
        |          md5(CAST(vec_id AS VARCHAR) || '|q'), 1, 4)) AS BIGINT) < 16384
        |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|q') LIMIT 500
        |)
        |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, nn.nn_id, nn.sim
        |FROM cells c JOIN qs USING (vec_id)
        |LEFT JOIN nn ON c.vec_id = nn.a_id
        |ORDER BY c.vec_id""".stripMargin,
    // Flat-policy serving: the SAME CTE chain with the modulus a scalar
    // subquery — nlist = least(65536, greatest(16, n/50)) derived from
    // the corpus on both engines — and the fixed 500-query budget
    // (deterministic md5 order + LIMIT) applied at the output, which is
    // row-identical to restricting the query side first (per-query
    // top-1 independence, the llm_ivf_query argument).
    "llm_ivf_serve" ->
      s"""WITH ${ivfCtesMod(2, "(SELECT nlist FROM nl)",
             "\nnl AS (SELECT least(65536, greatest(16, count(*) // 50)) AS nlist FROM v),")},
        |qs AS (
        |  SELECT vec_id FROM v WHERE norm > 0
        |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|sq') LIMIT 500
        |)
        |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, nn.nn_id, nn.sim
        |FROM cells c JOIN qs USING (vec_id)
        |LEFT JOIN nn ON c.vec_id = nn.a_id
        |ORDER BY c.vec_id""".stripMargin,
    "llm_ivf_two_level" -> ivf2Sql,
    "llm_recall_two_level" -> recall2Sql,
    // Budgeted recall eval (r11): nn over all queries restricted to the
    // 500-query budget at the output is row-identical to restricting the
    // query side first (per-query top-1 independence — the llm_ivf_query
    // argument); the Spark plan takes the scalable restricted form.
    "llm_recall_at_k" ->
      s"""WITH ${ivfCtes(2)},
        |qs AS (
        |  SELECT vec_id FROM v WHERE norm > 0
        |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|sq') LIMIT 500
        |),
        |q AS (SELECT v.* FROM v JOIN qs USING (vec_id)),
        |ex AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         $dotSql / (a.norm * b.norm) AS sim
        |  FROM q a JOIN v b ON a.vec_id <> b.vec_id AND b.norm > 0
        |),
        |ex1 AS (
        |  SELECT a_id AS vec_id, b_id AS nn_exact FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
        |    FROM ex
        |  ) WHERE rn = 1
        |)
        |SELECT e.vec_id, e.nn_exact, nn.nn_id AS nn_ivf,
        |       CASE WHEN nn.nn_id = e.nn_exact THEN 1 ELSE 0 END AS hit
        |FROM ex1 e LEFT JOIN nn ON e.vec_id = nn.a_id
        |ORDER BY e.vec_id""".stripMargin,
    "llm_pack_padded" ->
      """WITH docs AS (
        |  SELECT source, doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT)
        |           AS n_tok
        |  FROM documents
        |),
        |tagged AS (
        |  SELECT source, doc_id, n_tok, 'arrival' AS policy,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM docs
        |  UNION ALL
        |  SELECT source, doc_id, n_tok, 'sorted' AS policy,
        |         row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn
        |  FROM docs
        |),
        |b AS (
        |  SELECT source, policy, (rn - 1) // 32 AS batch,
        |         count(*) AS n_docs, sum(n_tok) AS n_tokens, max(n_tok) AS max_len
        |  FROM tagged GROUP BY 1, 2, 3
        |)
        |SELECT source, policy, batch, n_docs,
        |       CAST(n_tokens AS BIGINT) AS n_tokens, max_len,
        |       CAST(n_docs * max_len - n_tokens AS BIGINT) AS pad_tokens,
        |       floor(CAST(n_tokens AS DOUBLE)
        |             / CAST(n_docs * max_len AS DOUBLE) * 1e4) / 1e4 AS efficiency
        |FROM b ORDER BY source, policy, batch""".stripMargin,
    "llm_rake_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS token
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |        FROM documents)
        |),
        |stops AS (
        |  SELECT token AS stop FROM (SELECT token, count(*) AS cnt FROM tok GROUP BY 1)
        |  ORDER BY cnt DESC, token LIMIT 10
        |),
        |ph AS (
        |  SELECT doc_id, phrase_id, pos, token FROM (
        |    SELECT t.doc_id, t.pos, t.token,
        |           CASE WHEN s.stop IS NULL THEN 0 ELSE 1 END AS is_stop,
        |           sum(CASE WHEN s.stop IS NULL THEN 0 ELSE 1 END)
        |             OVER (PARTITION BY t.doc_id ORDER BY t.pos
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id
        |    FROM tok t LEFT JOIN stops s ON t.token = s.stop
        |  ) WHERE is_stop = 0
        |),
        |plen AS (SELECT doc_id, phrase_id, count(*) AS plen FROM ph GROUP BY 1, 2),
        |phl AS (SELECT p.*, l.plen FROM ph p JOIN plen l USING (doc_id, phrase_id)),
        |sc AS (
        |  SELECT token, CAST(sum(plen) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS wscore
        |  FROM phl GROUP BY 1
        |),
        |pscore AS (
        |  SELECT p.doc_id, p.phrase_id,
        |         string_agg(p.token, ' ' ORDER BY p.pos) AS phrase,
        |         count(*) AS n_words,
        |         list_aggregate(list(sc.wscore ORDER BY p.pos), 'sum') AS score_raw
        |  FROM phl p JOIN sc USING (token)
        |  GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |             ORDER BY score_raw DESC, phrase, phrase_id) AS rank
        |  FROM pscore
        |)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, phrase,
        |       CAST(n_words AS INTEGER) AS n_words,
        |       floor(score_raw * 1e4) / 1e4 AS score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "llm_tfidf_terms" ->
      s"""WITH $tokAllCte,
        |tf AS (SELECT source, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(DISTINCT source) AS df FROM tok GROUP BY 1),
        |ns AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n FROM documents),
        |sc AS (
        |  SELECT tf.source, tf.token, tf.tf * ln(ns.n / dfreq.df) AS score
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN ns
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, token) AS rn
        |  FROM sc
        |)
        |SELECT source, token, round(score, 4) AS score, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 3 ORDER BY source, rn""".stripMargin,
    "llm_bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS token
        |  FROM documents
        |),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT CAST(sum(dl) AS BIGINT) AS sum_dl, count(*) AS n_docs FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |       WHERE token IN ('hash', 'join', 'vector') GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |           * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl
        |               / (CAST(sum_dl AS DOUBLE) / n_docs))) AS s
        |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        |)
        |SELECT doc_id,
        |       round(coalesce(sum(CASE WHEN token = 'hash' THEN s END), 0.0)
        |           + coalesce(sum(CASE WHEN token = 'join' THEN s END), 0.0)
        |           + coalesce(sum(CASE WHEN token = 'vector' THEN s END), 0.0), 4) AS bm25,
        |       count(*) AS n_terms
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // NDCG@k: same BM25 CTEs, rank + cumulative DCG over the LIMIT-10
    // shortlist, ideal DCG in closed form from the grade counts via the
    // SAME driver-quantized literal weight tables as the Spark plan —
    // integer arithmetic end to end, no query-time log()
    "llm_rank_ndcg" -> {
      val wqRows = NdcgWq.zipWithIndex
        .map { case (w, i) => s"(${i + 1}, CAST($w AS BIGINT))" }.mkString(", ")
      val wpRows = NdcgWp.zipWithIndex
        .map { case (w, k) => s"($k, CAST($w AS BIGINT))" }.mkString(", ")
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS token
        |  FROM documents
        |),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT CAST(sum(dl) AS BIGINT) AS sum_dl, count(*) AS n_docs FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |       WHERE token IN ('hash', 'join', 'vector') GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |           * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl
        |               / (CAST(sum_dl AS DOUBLE) / n_docs))) AS s
        |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        |),
        |bm AS (
        |  SELECT doc_id,
        |         round(coalesce(sum(CASE WHEN token = 'hash' THEN s END), 0.0)
        |             + coalesce(sum(CASE WHEN token = 'join' THEN s END), 0.0)
        |             + coalesce(sum(CASE WHEN token = 'vector' THEN s END), 0.0), 4) AS bm25,
        |         count(*) AS n_terms
        |  FROM scored GROUP BY doc_id
        |),
        |wq(rank, w) AS (VALUES $wqRows),
        |wp(k, wsum) AS (VALUES $wpRows),
        |cnts AS (
        |  SELECT sum(CASE WHEN n_terms = 3 THEN 1 ELSE 0 END) AS c3,
        |         sum(CASE WHEN n_terms = 2 THEN 1 ELSE 0 END) AS c2,
        |         sum(CASE WHEN n_terms = 1 THEN 1 ELSE 0 END) AS c1
        |  FROM bm
        |),
        |top AS (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 10),
        |rk AS (SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM top),
        |cum AS (
        |  SELECT rk.rank, rk.doc_id, rk.bm25, rk.n_terms AS rel,
        |         sum((CASE WHEN n_terms = 3 THEN 7 WHEN n_terms = 2 THEN 3 ELSE 1 END)
        |             * wq.w) OVER (ORDER BY rk.rank) AS dcg_q
        |  FROM rk JOIN wq ON wq.rank = rk.rank
        |),
        |fin AS (
        |  SELECT cum.*,
        |         7 * w3.wsum + 3 * (w2.wsum - w3.wsum) + (w1.wsum - w2.wsum) AS idcg_q
        |  FROM cum CROSS JOIN cnts
        |  JOIN wp w3 ON w3.k = least(cum.rank, c3)
        |  JOIN wp w2 ON w2.k = least(cum.rank, c3 + c2)
        |  JOIN wp w1 ON w1.k = least(cum.rank, c3 + c2 + c1)
        |)
        |SELECT CAST(rank AS INTEGER) AS rank, doc_id, bm25,
        |       CAST(rel AS BIGINT) AS rel, CAST(dcg_q AS BIGINT) AS dcg_q,
        |       CAST((dcg_q * 10000) // idcg_q AS DOUBLE) / 1e4 AS ndcg_at_k
        |FROM fin ORDER BY rank""".stripMargin
    },
    // fuzzy decontamination: same tok/band CTEs as the dedup family, eval
    // split as the exact key, band-collision candidates exact-verified
    // with the integer-quotient Jaccard
    "llm_decontaminate_fuzzy" ->
      s"""WITH ${graft.queries.Dedup.tokCte},
        |${graft.queries.Dedup.bandsCte},
        |ev AS (
        |  SELECT doc_id FROM documents
        |  WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) < 3277
        |),
        |eb AS (SELECT b.doc_id AS eval_id, band_i, band_v
        |       FROM bands b JOIN ev ON b.doc_id = ev.doc_id),
        |tb AS (SELECT b.doc_id, band_i, band_v FROM bands b
        |       WHERE b.doc_id NOT IN (SELECT doc_id FROM ev)),
        |cand AS (SELECT DISTINCT tb.doc_id, eb.eval_id
        |         FROM tb JOIN eb USING (band_i, band_v)),
        |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |it AS (
        |  SELECT c.doc_id, c.eval_id, count(*) AS inter
        |  FROM cand c JOIN tok a ON a.doc_id = c.doc_id
        |  JOIN tok e ON e.doc_id = c.eval_id AND e.token = a.token
        |  GROUP BY 1, 2
        |),
        |fin AS (
        |  SELECT it.doc_id, it.eval_id, it.inter,
        |         (it.inter * 10000) // (sa.n + sb.n - it.inter) AS jacq
        |  FROM it JOIN sz sa ON sa.doc_id = it.doc_id
        |       JOIN sz sb ON sb.doc_id = it.eval_id
        |)
        |SELECT doc_id, eval_id, CAST(inter AS BIGINT) AS inter,
        |       CAST(jacq AS DOUBLE) / 1e4 AS jaccard
        |FROM fin WHERE jacq >= 5000
        |ORDER BY doc_id, eval_id""".stripMargin,
    // RRF: top-100 shortlists from the shared BM25 CTEs + the cosine leg,
    // fused with 1/(60+rank), floor-1e-6, top-20
    "llm_rank_fusion" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS token
        |  FROM documents
        |),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT CAST(sum(dl) AS BIGINT) AS sum_dl, count(*) AS n_docs FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |       WHERE token IN ('hash', 'join', 'vector') GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |           * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl
        |               / (CAST(sum_dl AS DOUBLE) / n_docs))) AS s
        |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        |),
        |bm AS (
        |  SELECT doc_id,
        |         round(coalesce(sum(CASE WHEN token = 'hash' THEN s END), 0.0)
        |             + coalesce(sum(CASE WHEN token = 'join' THEN s END), 0.0)
        |             + coalesce(sum(CASE WHEN token = 'vector' THEN s END), 0.0), 4) AS bm25
        |  FROM scored GROUP BY doc_id
        |),
        |lex AS (
        |  SELECT doc_id, r_lex FROM (
        |    SELECT doc_id,
        |           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS r_lex
        |    FROM bm
        |  ) WHERE r_lex <= 100
        |),
        |$vecCte,
        |q AS (
        |  SELECT vec_id AS q_id, embedding, norm FROM v WHERE norm > 0
        |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '|rrf'), vec_id LIMIT 1
        |),
        |sem AS (
        |  SELECT doc_id, r_sem FROM (
        |    SELECT a.vec_id AS doc_id,
        |           CAST(row_number() OVER (
        |             ORDER BY $dotSql / (a.norm * b.norm) DESC, a.vec_id) AS INTEGER) AS r_sem
        |    FROM v a CROSS JOIN q b WHERE a.norm > 0 AND a.vec_id <> b.q_id
        |  ) WHERE r_sem <= 100
        |),
        |f AS (
        |  SELECT coalesce(l.doc_id, s2.doc_id) AS doc_id, l.r_lex, s2.r_sem,
        |         floor((CASE WHEN l.r_lex IS NOT NULL THEN 1.0 / (60 + l.r_lex) ELSE 0.0 END
        |              + CASE WHEN s2.r_sem IS NOT NULL THEN 1.0 / (60 + s2.r_sem) ELSE 0.0 END)
        |               * 1e6) / 1e6 AS rrf
        |  FROM lex l FULL OUTER JOIN sem s2 ON l.doc_id = s2.doc_id
        |)
        |SELECT doc_id, r_lex, r_sem, rrf FROM f
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    "llm_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS token
        |  FROM documents
        |),
        |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
        |r AS (
        |  SELECT token, cnt,
        |         row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank,
        |         sum(cnt) OVER (ORDER BY cnt DESC, token ASC ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(cnt) OVER () AS total
        |  FROM c
        |)
        |SELECT rank, token, cnt, CAST(cum AS BIGINT) AS cum_cnt,
        |       CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
        |FROM r ORDER BY rank""".stripMargin,
    "llm_ngram_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(shingles)) AS sh FROM (
        |    SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
        |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |          FROM documents)
        |    WHERE len(toks) >= 3
        |  )
        |),
        |fs AS (SELECT sh, min(doc_id) AS first_seen FROM sh GROUP BY sh)
        |SELECT s.doc_id, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN fs.first_seen = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST(sum(CASE WHEN fs.first_seen = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS novelty
        |FROM sh s JOIN fs ON s.sh = fs.sh
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "llm_token_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS token
        |  FROM documents
        |),
        |c AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
        |g AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |         sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clc
        |  FROM c GROUP BY 1
        |)
        |SELECT doc_id, n AS n_tokens,
        |       round(ln(CAST(n AS DOUBLE)) - clc / CAST(n AS DOUBLE), 4) + 0 AS token_entropy
        |FROM g ORDER BY doc_id""".stripMargin,
    "llm_sample_rejection" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS wc
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, wc, least(1.0, CAST(wc AS DOUBLE) / 80.0) AS p_accept,
        |         CAST(concat('0x', substring(
        |           md5(CAST(doc_id AS VARCHAR) || '|rej'), 1, 8)) AS BIGINT) AS u
        |  FROM t
        |)
        |SELECT doc_id, wc, round(p_accept, 4) AS p_accept
        |FROM s WHERE CAST(u AS DOUBLE) < p_accept * 4294967296.0
        |ORDER BY doc_id""".stripMargin,
    "llm_zipf_slope" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS token
        |  FROM documents
        |),
        |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
        |r AS (
        |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token ASC) AS r FROM c
        |),
        |xy AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y FROM r)
        |SELECT count(*) AS n_terms,
        |       round((count(*) * sum(x*y) - sum(x) * sum(y))
        |           / (count(*) * sum(x*x) - sum(x) * sum(x)), 4) + 0 AS zipf_slope
        |FROM xy""".stripMargin,
    "llm_pmi_bigrams" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |),
        |bg AS (
        |  SELECT unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
        |         unnest(list_slice(toks, 2, len(toks))) AS w2
        |  FROM t WHERE len(toks) >= 2
        |),
        |n AS (SELECT count(*) AS nb FROM bg),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
        |tok AS (SELECT unnest(toks) AS token FROM t),
        |c1 AS (SELECT token, count(*) AS c1 FROM tok GROUP BY 1)
        |SELECT c2.w1, c2.w2, c2.c2,
        |       round(ln(CAST(CAST(c2.c2 AS HUGEINT) * nb AS DOUBLE)
        |              / CAST(CAST(a.c1 AS HUGEINT) * b.c1 AS DOUBLE)), 4) + 0 AS pmi
        |FROM c2
        |CROSS JOIN n
        |JOIN c1 a ON c2.w1 = a.token
        |JOIN c1 b ON c2.w2 = b.token
        |ORDER BY w1, w2""".stripMargin,
    "llm_rouge_n" ->
      """WITH t2 AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |  WHERE len(list_filter(string_split(text, ' '), x -> len(x) > 0)) >= 2
        |),
        |pairs AS (
        |  SELECT doc_id, ref_id FROM (
        |    SELECT doc_id, lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS ref_id
        |    FROM t2
        |  ) WHERE ref_id IS NOT NULL
        |),
        |uc AS (SELECT doc_id, g, count(*) AS c
        |       FROM (SELECT doc_id, unnest(toks) AS g FROM t2) GROUP BY 1, 2),
        |bgc AS (SELECT doc_id, g, count(*) AS c FROM (
        |  SELECT doc_id, concat(w1, ' ', w2) AS g FROM (
        |    SELECT doc_id, unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
        |           unnest(list_slice(toks, 2, len(toks))) AS w2
        |    FROM t2)) GROUP BY 1, 2),
        |m1 AS (SELECT p.doc_id, CAST(sum(least(c.c, r.c)) AS BIGINT) AS m
        |       FROM pairs p JOIN uc c ON p.doc_id = c.doc_id
        |                    JOIN uc r ON p.ref_id = r.doc_id AND c.g = r.g
        |       GROUP BY 1),
        |m2 AS (SELECT p.doc_id, CAST(sum(least(c.c, r.c)) AS BIGINT) AS m
        |       FROM pairs p JOIN bgc c ON p.doc_id = c.doc_id
        |                    JOIN bgc r ON p.ref_id = r.doc_id AND c.g = r.g
        |       GROUP BY 1),
        |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len FROM t2)
        |SELECT p.doc_id, p.ref_id,
        |       coalesce(m1.m, 0) AS n1_match, coalesce(m2.m, 0) AS n2_match,
        |       rl.len AS rlen,
        |       floor(CAST(coalesce(m1.m, 0) AS DOUBLE)
        |             / CAST(rl.len AS DOUBLE) * 1e4) / 1e4 AS rouge1_r,
        |       floor(CAST(coalesce(m2.m, 0) AS DOUBLE)
        |             / CAST(rl.len - 1 AS DOUBLE) * 1e4) / 1e4 AS rouge2_r
        |FROM pairs p
        |LEFT JOIN m1 ON p.doc_id = m1.doc_id
        |LEFT JOIN m2 ON p.doc_id = m2.doc_id
        |JOIN lens rl ON p.ref_id = rl.doc_id
        |ORDER BY p.doc_id""".stripMargin,
    "llm_self_bleu" ->
      """WITH t2 AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |  WHERE len(list_filter(string_split(text, ' '), x -> len(x) > 0)) >= 2
        |),
        |pairs AS (
        |  SELECT doc_id, ref_id FROM (
        |    SELECT doc_id, lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS ref_id
        |    FROM t2
        |  ) WHERE ref_id IS NOT NULL
        |),
        |uc AS (SELECT doc_id, g, count(*) AS c
        |       FROM (SELECT doc_id, unnest(toks) AS g FROM t2) GROUP BY 1, 2),
        |bgc AS (SELECT doc_id, g, count(*) AS c FROM (
        |  SELECT doc_id, concat(w1, ' ', w2) AS g FROM (
        |    SELECT doc_id, unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
        |           unnest(list_slice(toks, 2, len(toks))) AS w2
        |    FROM t2)) GROUP BY 1, 2),
        |m1 AS (SELECT p.doc_id, CAST(sum(least(c.c, r.c)) AS BIGINT) AS m
        |       FROM pairs p JOIN uc c ON p.doc_id = c.doc_id
        |                    JOIN uc r ON p.ref_id = r.doc_id AND c.g = r.g
        |       GROUP BY 1),
        |m2 AS (SELECT p.doc_id, CAST(sum(least(c.c, r.c)) AS BIGINT) AS m
        |       FROM pairs p JOIN bgc c ON p.doc_id = c.doc_id
        |                    JOIN bgc r ON p.ref_id = r.doc_id AND c.g = r.g
        |       GROUP BY 1),
        |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len FROM t2),
        |j AS (
        |  SELECT p.doc_id, p.ref_id,
        |         coalesce(m1.m, 0) AS n1_match, coalesce(m2.m, 0) AS n2_match,
        |         CAST(coalesce(m1.m, 0) AS DOUBLE) / CAST(cl.len AS DOUBLE) AS p1,
        |         CAST(coalesce(m2.m, 0) AS DOUBLE) / CAST(cl.len - 1 AS DOUBLE) AS p2,
        |         least(CAST(1.0 AS DOUBLE),
        |               exp(1.0 - CAST(rl.len AS DOUBLE) / CAST(cl.len AS DOUBLE))) AS bpraw
        |  FROM pairs p
        |  LEFT JOIN m1 ON p.doc_id = m1.doc_id
        |  LEFT JOIN m2 ON p.doc_id = m2.doc_id
        |  JOIN lens cl ON p.doc_id = cl.doc_id
        |  JOIN lens rl ON p.ref_id = rl.doc_id
        |)
        |SELECT doc_id, ref_id, n1_match, n2_match, p1, p2,
        |       floor(bpraw * 1e4) / 1e4 AS bp,
        |       floor(bpraw * sqrt(p1 * p2) * 1e4) / 1e4 AS bleu
        |FROM j ORDER BY doc_id""".stripMargin,
    "llm_embed_outliers" ->
      """WITH xs AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS xq
        |  FROM embeddings
        |),
        |st AS (SELECT dim, count(*) AS n, sum(xq) AS sx,
        |              sum(CAST(xq AS HUGEINT) * xq) AS sxx
        |       FROM xs GROUP BY 1),
        |sp AS (SELECT dim, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |              (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vr
        |       FROM st),
        |co AS (SELECT vec_id, label, xs.dim,
        |              CASE WHEN vr > 0
        |                   THEN (CAST(xq AS DOUBLE) - mu) * (CAST(xq AS DOUBLE) - mu) / vr
        |                   ELSE CAST(0.0 AS DOUBLE) END AS contrib
        |       FROM xs JOIN sp ON xs.dim = sp.dim),
        |ag AS (SELECT vec_id, label, list_aggregate(list(contrib ORDER BY dim), 'sum') AS d2raw
        |       FROM co GROUP BY 1, 2)
        |SELECT vec_id, label, floor(d2raw * 1e4) / 1e4 AS d2,
        |       CASE WHEN d2raw > 96.0 THEN 1 ELSE 0 END AS is_outlier
        |FROM ag ORDER BY vec_id""".stripMargin,
    "llm_bradley_terry" -> {
      val iters = (1 to 3).map { it =>
        val prev = if (it == 1) "v0" else s"v${it - 1}"
        s"""d$it AS (
           |  SELECT g.i, list_aggregate(list(CAST(g.nij AS DOUBLE) / (si.sv + sj.sv)
           |                                  ORDER BY g.j), 'sum') AS den
           |  FROM games g JOIN $prev si ON g.i = si.i JOIN $prev sj ON g.j = sj.i
           |  GROUP BY g.i
           |),
           |r$it AS (SELECT d$it.i, CAST(coalesce(w.wi, 0) AS DOUBLE) / d$it.den AS sraw
           |        FROM d$it LEFT JOIN wins w ON d$it.i = w.i),
           |t$it AS (SELECT list_aggregate(list(sraw ORDER BY i), 'sum') AS tot FROM r$it),
           |v$it AS (SELECT i, sraw * CAST((SELECT k FROM kk) AS DOUBLE)
           |                   / (SELECT tot FROM t$it) AS sv FROM r$it)""".stripMargin
      }.mkString(",\n")
      s"""WITH docs AS (
         |  SELECT doc_id, source, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h,
         |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
         |              AS BIGINT) % 256 AS bkt
         |  FROM documents
         |),
         |du AS (
         |  SELECT source, n_chars,
         |         lead(source) OVER w AS src2, lead(n_chars) OVER w AS nc2
         |  FROM docs WINDOW w AS (PARTITION BY bkt ORDER BY h, doc_id)
         |),
         |duel AS (
         |  SELECT CASE WHEN n_chars > nc2 THEN source ELSE src2 END AS winner,
         |         CASE WHEN n_chars > nc2 THEN src2 ELSE source END AS loser
         |  FROM du WHERE src2 IS NOT NULL AND src2 <> source AND nc2 <> n_chars
         |),
         |cells AS (SELECT winner, loser, count(*) AS w FROM duel GROUP BY 1, 2),
         |games AS (SELECT i, j, CAST(sum(w) AS BIGINT) AS nij FROM (
         |            SELECT winner AS i, loser AS j, w FROM cells
         |            UNION ALL SELECT loser, winner, w FROM cells
         |          ) GROUP BY 1, 2),
         |wins AS (SELECT winner AS i, CAST(sum(w) AS BIGINT) AS wi FROM cells GROUP BY 1),
         |gtot AS (SELECT i, CAST(sum(nij) AS BIGINT) AS games FROM games GROUP BY 1),
         |srcs AS (SELECT DISTINCT i FROM games),
         |kk AS (SELECT count(*) AS k FROM srcs),
         |v0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS sv FROM srcs),
         |$iters
         |SELECT v3.i AS source, gtot.games, coalesce(wins.wi, 0) AS wins,
         |       floor(v3.sv * 1e4) / 1e4 AS strength
         |FROM v3 JOIN gtot ON v3.i = gtot.i LEFT JOIN wins ON v3.i = wins.i
         |ORDER BY source""".stripMargin
    },
    "llm_judge_calibration" ->
      """WITH j AS (
        |  SELECT LEAST(n_chars, 1000) AS cq,
        |         CASE WHEN len(list_distinct(list_filter(string_split(text, ' '),
        |                                     t -> len(t) > 0))) * 2
        |                   >= len(list_filter(string_split(text, ' '), t -> len(t) > 0))
        |              THEN 1 ELSE 0 END AS y
        |  FROM documents
        |),
        |b AS (
        |  SELECT LEAST(CAST(floor(CAST(cq AS DOUBLE) * 10 / 1000.0) AS BIGINT), 9) AS bucket,
        |         count(*) AS n, CAST(sum(cq) AS BIGINT) AS sc, CAST(sum(y) AS BIGINT) AS sy
        |  FROM j GROUP BY 1
        |)
        |SELECT bucket, n AS n_docs,
        |       floor(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0 * 1e4) / 1e4 AS confidence,
        |       floor(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) * 1e4) / 1e4 AS observed,
        |       floor(abs(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0
        |                 - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * 1e4) / 1e4 AS gap
        |FROM b ORDER BY bucket""".stripMargin,
    "llm_cohens_kappa" ->
      """WITH j AS (
        |  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS j1,
        |         CASE WHEN len(list_distinct(list_filter(string_split(text, ' '),
        |                    x -> len(x) > 0))) * 2
        |              >= len(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |              THEN 1 ELSE 0 END AS j2
        |  FROM documents
        |),
        |c AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CASE WHEN j1 = 1 AND j2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |         CAST(sum(CASE WHEN j1 = 1 AND j2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |         CAST(sum(CASE WHEN j1 = 0 AND j2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |         CAST(sum(CASE WHEN j1 = 0 AND j2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM j
        |),
        |k AS (
        |  SELECT *, CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |         (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
        |          + CAST(n00 + n01 AS DOUBLE) * CAST(n00 + n10 AS DOUBLE))
        |         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
        |  FROM c
        |)
        |SELECT n, n11, n10, n01, n00,
        |       floor(po * 1e4) / 1e4 AS po,
        |       floor(pe * 1e4) / 1e4 AS pe,
        |       CASE WHEN pe < 1.0
        |            THEN floor((po - pe) / (1.0 - pe) * 1e4) / 1e4 END AS kappa
        |FROM k""".stripMargin,
    "llm_ece_brier" ->
      """WITH j AS (
        |  SELECT source, LEAST(n_chars, 1000) AS cq,
        |         CASE WHEN len(list_distinct(list_filter(string_split(text, ' '),
        |                                     t -> len(t) > 0))) * 2
        |                   >= len(list_filter(string_split(text, ' '), t -> len(t) > 0))
        |              THEN 1 ELSE 0 END AS y
        |  FROM documents
        |),
        |b AS (
        |  SELECT source,
        |         LEAST(CAST(floor(CAST(cq AS DOUBLE) * 10 / 1000.0) AS BIGINT), 9) AS bucket,
        |         count(*) AS n, CAST(sum(cq) AS BIGINT) AS sc, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum((cq - 1000 * y) * (cq - 1000 * y)) AS BIGINT) AS ss
        |  FROM j GROUP BY 1, 2
        |),
        |src AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |         CAST(sum(abs(1000 * sy - sc)) AS BIGINT) AS ece_num,
        |         CAST(sum(ss) AS BIGINT) AS brier_num
        |  FROM b GROUP BY 1
        |)
        |SELECT source, n_docs,
        |       floor(CAST(ece_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1000.0) * 1e4) / 1e4 AS ece,
        |       floor(CAST(brier_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6) * 1e4) / 1e4 AS brier
        |FROM src ORDER BY source""".stripMargin,
    "llm_elo_online" ->
      """WITH docs AS (
        |  SELECT doc_id, source, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |              AS BIGINT) % 256 AS bkt
        |  FROM documents
        |),
        |du AS (
        |  SELECT bkt, h, doc_id, source, n_chars,
        |         lead(source) OVER w AS src2, lead(n_chars) OVER w AS nc2
        |  FROM docs WINDOW w AS (PARTITION BY bkt ORDER BY h, doc_id)
        |),
        |duels AS MATERIALIZED (
        |  SELECT bkt, h, doc_id,
        |         CASE WHEN n_chars > nc2 THEN source ELSE src2 END AS winner,
        |         CASE WHEN n_chars > nc2 THEN src2 ELSE source END AS loser
        |  FROM du WHERE src2 IS NOT NULL AND src2 <> source AND nc2 <> n_chars
        |),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |idx AS MATERIALIZED (
        |  SELECT source, CAST(row_number() OVER (ORDER BY source) AS INT) AS idx
        |  FROM srcs
        |),
        |kk AS (SELECT count(*) AS k FROM idx),
        |di AS (
        |  SELECT d.bkt, d.h, d.doc_id,
        |         [CAST(wi.idx AS DOUBLE), CAST(li.idx AS DOUBLE)] AS a
        |  FROM duels d JOIN idx wi ON d.winner = wi.source
        |       JOIN idx li ON d.loser = li.source
        |),
        |byb AS (
        |  SELECT bkt, list_reduce(
        |    list_prepend(list_transform(range(1, (SELECT k FROM kk) + 1), x -> 1000.0),
        |                 list(a ORDER BY h, doc_id)),
        |    (acc, x) -> list_transform(acc, (v, i) ->
        |      CASE WHEN i = CAST(x[1] AS INT)
        |           THEN v + 16.0 / (1.0 + pow(10.0, (acc[CAST(x[1] AS INT)]
        |                                             - acc[CAST(x[2] AS INT)]) / 400.0))
        |           WHEN i = CAST(x[2] AS INT)
        |           THEN v - 16.0 / (1.0 + pow(10.0, (acc[CAST(x[1] AS INT)]
        |                                             - acc[CAST(x[2] AS INT)]) / 400.0))
        |           ELSE v END)) AS ratings
        |  FROM di GROUP BY bkt
        |),
        |per AS (
        |  SELECT bkt, CAST(generate_subscripts(ratings, 1) AS BIGINT) AS idx,
        |         unnest(ratings) AS r
        |  FROM byb
        |),
        |ps AS (
        |  SELECT idx, count(*) AS n_buckets,
        |         list_aggregate(list(r ORDER BY bkt), 'sum') AS sr
        |  FROM per GROUP BY 1
        |),
        |games AS (
        |  SELECT source, count(*) AS n_duels FROM (
        |    SELECT winner AS source FROM duels UNION ALL SELECT loser FROM duels
        |  ) GROUP BY 1
        |)
        |SELECT i.source, CAST(coalesce(g.n_duels, 0) AS BIGINT) AS n_duels,
        |       floor(ps.sr / CAST(ps.n_buckets AS DOUBLE) * 1e4) / 1e4 AS mean_elo
        |FROM idx i JOIN ps ON i.idx = ps.idx LEFT JOIN games g ON i.source = g.source
        |ORDER BY i.source""".stripMargin,
    "llm_nb_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |),
        |docs AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN len(list_distinct(toks)) * 2 >= len(toks)
        |              THEN 1 ELSE 0 END AS y
        |  FROM t
        |),
        |cls AS (
        |  SELECT CAST(sum(y) AS BIGINT) AS n_pos_docs,
        |         CAST(sum(1 - y) AS BIGINT) AS n_neg_docs
        |  FROM docs
        |),
        |pres AS (SELECT y, unnest(list_distinct(toks)) AS token FROM docs),
        |tc AS (
        |  SELECT token, CAST(sum(y) AS BIGINT) AS n_pos,
        |         CAST(sum(1 - y) AS BIGINT) AS n_neg
        |  FROM pres GROUP BY 1 HAVING sum(y) + sum(1 - y) >= 5
        |),
        |sc AS (
        |  SELECT token, n_pos, n_neg,
        |         ln(CAST(n_pos + 1 AS DOUBLE) / CAST(n_pos_docs + 2 AS DOUBLE))
        |         - ln(CAST(n_neg + 1 AS DOUBLE) / CAST(n_neg_docs + 2 AS DOUBLE)) AS lo
        |  FROM tc CROSS JOIN cls
        |)
        |SELECT token, n_pos, n_neg, floor(lo * 1e4) / 1e4 AS log_odds
        |FROM (SELECT * FROM sc ORDER BY abs(lo) DESC, token LIMIT 50)
        |ORDER BY token""".stripMargin,
    "llm_rouge_l" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         (list_filter(string_split(text, ' '), x -> len(x) > 0))[1:60] AS toks
        |  FROM documents
        |),
        |d AS (SELECT * FROM t WHERE len(toks) >= 1),
        |p AS (
        |  SELECT doc_id, ref_id FROM (
        |    SELECT doc_id,
        |           lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS ref_id
        |    FROM d
        |  ) WHERE ref_id IS NOT NULL
        |),
        |a AS (SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS tok FROM d),
        |bm AS (
        |  SELECT doc_id AS ref_id, tok, CAST(sum(1::BIGINT << (i - 1)) AS BIGINT) AS mask
        |  FROM (SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS tok FROM d)
        |  GROUP BY 1, 2
        |),
        |rl AS (SELECT doc_id AS ref_id, CAST(len(toks) AS BIGINT) AS rlen FROM d),
        |cl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS clen FROM d),
        |seq AS (
        |  SELECT p.doc_id, p.ref_id, rl.rlen, a.i, coalesce(bm.mask, 0) AS mv
        |  FROM p JOIN rl ON p.ref_id = rl.ref_id
        |       JOIN a ON p.doc_id = a.doc_id
        |       LEFT JOIN bm ON p.ref_id = bm.ref_id AND a.tok = bm.tok
        |),
        |f AS (
        |  SELECT doc_id, ref_id, rlen,
        |         list_reduce(list_prepend((1::BIGINT << CAST(rlen AS INT)) - 1,
        |                                  list(mv ORDER BY i)),
        |           (acc, m) -> ((acc + (acc & m))
        |                        | (acc & (((1::BIGINT << CAST(rlen AS INT)) - 1) - m)))
        |                       & ((1::BIGINT << CAST(rlen AS INT)) - 1)) AS v
        |  FROM seq GROUP BY 1, 2, 3
        |)
        |SELECT f.doc_id, f.ref_id, cl.clen, f.rlen,
        |       f.rlen - CAST(bit_count(f.v) AS BIGINT) AS lcs,
        |       floor(CAST(f.rlen - CAST(bit_count(f.v) AS BIGINT) AS DOUBLE)
        |             / CAST(f.rlen AS DOUBLE) * 1e4) / 1e4 AS rouge_r,
        |       floor(CAST(f.rlen - CAST(bit_count(f.v) AS BIGINT) AS DOUBLE)
        |             / CAST(cl.clen AS DOUBLE) * 1e4) / 1e4 AS rouge_p,
        |       floor(2.0 * CAST(f.rlen - CAST(bit_count(f.v) AS BIGINT) AS DOUBLE)
        |             / CAST(cl.clen + f.rlen AS DOUBLE) * 1e4) / 1e4 AS rouge_f
        |FROM f JOIN cl ON f.doc_id = cl.doc_id
        |ORDER BY f.doc_id""".stripMargin,
  )
}
