package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry

/** End-to-end training-data curation example composing the LLM operators
  * the way a real corpus pipeline would: exact dedup → language filter →
  * quality filter → token accounting → curated output. Run with
  * `sbt "runMain graft.tools.CorpusDemo [sfDir]"`. */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Harness.session(4)

    val docs = graft.Tables.documents(spark, sfDir)
    val n0 = docs.count()

    // 1. dedup: exact clusters (md5) PLUS near-identical clusters
    //    (connected components at J >= 0.9) — keep each cluster's
    //    canonical (min id) representative
    val keepExact = SparkEntry.queries("llm_dedup_exact")(spark, sfDir).select("keep_id")
    val exactKept = docs.join(keepExact, col("doc_id") === col("keep_id")).drop("keep_id")
    val nearPairs = graft.queries.Dedup.jaccardBitmask(spark, exactKept, threshold = 0.9)
    val dupMembers = graft.queries.Dedup.clustersPointerJump(nearPairs)
      .where(col("id") =!= col("cluster_id")) // non-canonical members drop
      .select(col("id").as("drop_id"))
    val deduped = exactKept.join(dupMembers, col("doc_id") === col("drop_id"), "left_anti")
    val n1 = deduped.count()

    // 2. language ID agreement filter: drop docs whose predicted language
    //    disagrees with the declared one
    val lang = SparkEntry.queries("llm_lang_id")(spark, sfDir)
      .where(col("correct") === 1).select(col("doc_id").as("l_id"))
    val langOk = deduped.join(lang, col("doc_id") === col("l_id")).drop("l_id")
    val n2 = langOk.count()

    // 3. quality filter: composite score threshold
    val qual = SparkEntry.queries("llm_quality_score")(spark, sfDir)
      .where(col("score") >= 0.7).select(col("doc_id").as("q_id"))
    val curated = langOk.join(qual, col("doc_id") === col("q_id")).drop("q_id")
    val n3 = curated.count()

    // 4. token accounting over the curated set
    val tokens = SparkEntry.queries("llm_token_count")(spark, sfDir)
      .join(curated.select("doc_id"), "doc_id")
      .agg(sum("ws_tokens").as("ws"), sum("est_bpe").as("bpe")).collect().head

    println(s"[corpus] raw=$n0 -> deduped=$n1 -> lang-consistent=$n2 -> quality>=0.7: $n3")
    println(s"[corpus] curated token budget: ws=${tokens.getLong(0)} bpe-est=${tokens.getLong(1)}")
    spark.stop()
  }
}
