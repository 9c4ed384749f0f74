package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 64-bit SimHash — the production-width variant of the 16-bit
  * `llm_dedup_simhash*` keys (those stay 16-bit because the DuckDB oracle
  * compares bit ops at that width; this routine is the one a 100 TB corpus
  * actually needs and is scalatest-verified instead).
  *
  * Why width matters: banded candidate generation hashes each signature
  * band into a join cell, and the cell count bounds worst-case candidate
  * volume. A 16-bit signature yields 4 bands × 2⁴ values = 64 cells —
  * degenerate once n ≫ 2¹⁶. At 64 bits the same 4-band scheme gives
  * 4 × 2¹⁶ cells and random collisions thin out by three orders of
  * magnitude, while the pigeonhole guarantee is unchanged: a pair at
  * hamming distance ≤ 3 differs in at most 3 of the 4 bands, so at least
  * one 16-bit band survives intact — banded recall at r=3 is exactly 100%,
  * verified by SimHashSpec against driver-side brute force.
  *
  * Signature: bit j is the sign of the per-token ±1 vote from bit j of the
  * token's md5 (first 16 hex chars → four 16-bit chunks). Deterministic —
  * same text, same signature, any cluster, any partitioning.
  */
object SimHash {

  /** Per-doc 64-bit signature: (doc_id, simhash64). `docs` must carry
    * (doc_id, text); tokens are distinct whitespace tokens.
    *
    * Physical shape: ONE token-row groupBy carrying 64 conditional sums
    * (per-bit set-counts), not a 64× bit-position explode — the vote
    * sgn_j = ones_j − (n − ones_j) is positive iff 2·ones_j > n, so the
    * per-bit counts plus the token count reconstruct every sign without
    * amplifying the token stream. The r3 formulation exploded 64 rows per
    * token (sf0.1: ~5 M tokens → 320 M rows through a two-level agg); this
    * one shuffles exactly the per-doc partial aggregates, which is what
    * survives a 100 TB corpus. */
  def signatures(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(array_remove(split(col("text"), " "), lit("")))).as("token"))
    // four 16-bit chunks of the token md5 carry the 64 vote bits
    // (r12: codegen md5_bits — identical values to the conv(substring(md5))
    // chains, DigestSpec — at 4 digests/token instead of 4 full
    // md5-hex/substring/parse expression chains)
    graft.functions.Kernels.ensure(docs.sparkSession)
    val chunks = tok.select(col("doc_id") +: (0 until 4).map(k =>
      call_function("md5_bits", col("token"), lit(1 + 4 * k), lit(4)).as(s"tv$k")): _*)
    val aggs = (0 until 64).map { j =>
      sum(shiftright(col(s"tv${j / 16}"), j % 16).bitwiseAND(lit(1L))).as(s"c$j")
    } :+ count(lit(1)).as("n")
    chunks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      // distinct bit positions -> no carries, so SUM of shifted ones IS the
      // bitwise OR (incl. bit 63, whose two's-complement sum is exact)
      .select(col("doc_id"),
        (0 until 64).map(j => when(col(s"c$j") * 2 > col("n"),
          expr(s"shiftleft(CAST(1 AS BIGINT), $j)")).otherwise(0L))
          .reduce(_ + _).as("simhash64"))
  }

  /** Near-dup candidate pairs at hamming ≤ `maxHamming` (must be ≤ 3 for
    * the 4-band full-recall guarantee) via the banded equi-join:
    * (a_id, b_id, hamming). Verify-before-distinct keeps the dedup
    * exchange survivor-sized (same discipline as the 16-bit key). */
  def bandedPairs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16-bit banding guarantees recall only to hamming 3")
    val bands = sigs.select(col("doc_id"), col("simhash64"),
      posexplode(array((0 until 4).map(j =>
        shiftrightunsigned(col("simhash64"), 16 * j).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band_i", "band_v")))
    val l = bands.select(col("doc_id").as("a_id"), col("simhash64").as("a_sim"),
      col("band_i"), col("band_v"))
    val r = bands.select(col("doc_id").as("b_id"), col("simhash64").as("b_sim"),
      col("band_i").as("bi2"), col("band_v").as("bv2"))
    l.join(r, col("band_i") === col("bi2") && col("band_v") === col("bv2")
        && col("a_id") < col("b_id"))
      .withColumn("hamming", expr("CAST(bit_count(a_sim ^ b_sim) AS INT)"))
      .where(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming").distinct()
  }
}
