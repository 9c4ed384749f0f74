package graft.materialize

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental, fingerprint-gated materialization — the Spark-native
  * re-expression of the reference's materialization machinery: a derived
  * (materialized) table is recomputed per time bucket, and a bucket is
  * recomputed only when the fingerprint of its source has changed since
  * the last run. A stability delay keeps "hot" buckets (which may still
  * receive late data) out of materialization until they settle.
  *
  * Mechanics:
  *  - fingerprint = a `fingerprint` function from the source to one
  *    opaque string per bucket, compared only for equality. Two exist, and
  *    both feed the one compare/commit below:
  *    - [[contentFingerprints]] (the default): row count, bit_xor of
  *      xxhash64 over all columns and the DECIMAL sum of the same hashes,
  *      one aggregation over every source row (map-side partial, one
  *      shuffle on the bucket key) collected to the driver. Right for any
  *      source, including ones rewritten in place or not backed by files.
  *    - [[fileFingerprints]]: the file count and a hash of the file names
  *      under each `bucket=` directory of the source's own listing, with
  *      no Spark job. Right only for a store whose files are immutable and
  *      uniquely named (append-only writes, partition-level deletes), such
  *      as the harvest loop's raw store.
  *  - state = a control file at `stateFile`, one `fingerprint<TAB>bucket`
  *    line per bucket, read on the driver. A source bucket is stale when
  *    the state has no entry for it or a different one. Buckets that
  *    vanished from the source are not recomputed; their state entries
  *    and derived rows stay until the retention cut passes them.
  *  - recompute = transform(source rows of stale buckets) written with
  *    dynamic partition overwrite into `targetDir/bucket=...` — untouched
  *    buckets keep their files; the write is idempotent per bucket.
  *  - commit = the previous state with the stale buckets' fresh
  *    fingerprints merged in and the buckets below the retention cut
  *    dropped, written once through [[graft.Fs.writeUtf8]] (`.tmp`, then
  *    delete and rename). A pass that changes nothing writes nothing.
  *  - no usable state (missing, or a crash between the commit's delete
  *    and rename, or a parquet state directory written before the state
  *    was a control file) reads as empty: one conservative full
  *    recompute, whose commit replaces whatever was there.
  *
  * The fingerprints, the state and the stale-bucket list live on the
  * driver: their cardinality is the number of *time buckets*, bounded by
  * the retention window (e.g. hours in a year ≈ 8.8k), not by data
  * volume — safe at 100 TB.
  */
final class Materializer(
    spark: SparkSession,
    stateFile: String,
    fingerprint: DataFrame => Map[String, String] = Materializer.contentFingerprints) {

  import Materializer.MaterializeResult

  /** bucket -> fingerprint from the state file; empty when there is none. */
  private[graft] def readState(): Map[String, String] =
    graft.Fs.readUtf8(spark, stateFile).toSeq.flatMap(_.split("\n")).filter(_.nonEmpty)
      .map { line =>
        val tab = line.indexOf('\t')
        line.substring(tab + 1) -> line.substring(0, tab)
      }.toMap

  private def commit(state: Map[String, String]): Unit = {
    require(state.keys.forall(!_.contains('\n')), "bucket values must not contain a newline")
    graft.Fs.writeUtf8(spark, stateFile,
      state.toSeq.sortBy(_._1).map { case (b, f) => s"$f\t$b\n" }.mkString)
  }

  /** Run one materialization pass; returns the buckets recomputed.
    *
    * @param source    input rows carrying a string `bucket` column
    * @param transform per-bucket derivation; must preserve the `bucket`
    *                  column in its output (it becomes the partition key)
    * @param targetDir parquet dataset directory, partitioned by bucket
    * @param stableBefore optional gate: only buckets strictly below this
    *                  value are (re)materialized — the stability delay
    *                  that keeps still-filling buckets out
    * @param retainFrom optional retention cut: buckets strictly below it
    *                  are neither materialized nor kept in the state
    */
  def materialize(
      source: DataFrame,
      transform: DataFrame => DataFrame,
      targetDir: String,
      stableBefore: Option[String] = None,
      retainFrom: Option[String] = None): MaterializeResult = {

    val fps = fingerprint(source).filter { case (b, _) =>
      stableBefore.forall(b < _) && retainFrom.forall(b >= _)
    }
    val state = readState()
    val stale = fps.collect { case (b, f) if !state.get(b).contains(f) => b }.toSeq.sorted

    if (stale.nonEmpty) {
      val out = transform(source.where(col("bucket").isin(stale: _*)))
      require(out.columns.contains("bucket"),
        "materialization transform must preserve the 'bucket' column")
      out.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(targetDir)
    }
    val next = retainFrom.foldLeft(state ++ fps)((s, cut) => s.filter(_._1 >= cut))
    if (next != state) commit(next)
    MaterializeResult(stale)
  }

  /** Retention for a source that has no rows left: drops the state
    * entries of buckets strictly below `retainFrom`, as [[materialize]]
    * does with its `retainFrom`, with the same single commit. */
  def expire(retainFrom: String): Unit = {
    val state = readState()
    val next = state.filter(_._1 >= retainFrom)
    if (next != state) commit(next)
  }
}

object Materializer {
  final case class MaterializeResult(recomputedBuckets: Seq[String]) {
    def nRecomputed: Int = recomputedBuckets.size
  }

  /** Content fingerprint of every non-null bucket of `source` (bucket
    * column must be named `bucket` and be string-typed; callers derive
    * it, e.g. `date_format(date_trunc("hour", ts), "yyyy-MM-dd HH")`). */
  def contentFingerprints(source: DataFrame): Map[String, String] = {
    val dataCols = source.columns.filter(_ != "bucket").sorted.map(col)
    val h = xxhash64(dataCols: _*)
    // xor alone cancels over pairs of identical rows (blind to changes of
    // even multiplicity); the DECIMAL(38,0) hash sum is multiset-sensitive
    // and overflow-free, and the row count guards both
    source.where(col("bucket").isNotNull).groupBy("bucket").agg(
        count(lit(1)), bit_xor(h), sum(h.cast(DecimalType(38, 0))))
      .collect().map(r => r.getString(0) -> s"${r.getLong(1)}:${r.getLong(2)}:${r.getDecimal(3)}")
      .toMap
  }

  /** Listing fingerprint of every bucket of a file-backed `source`: for
    * each `bucket=` directory among `source.inputFiles`, the file count
    * and a SHA-256 of the sorted file names. Driver-side and job-free: the
    * listing is the one the source's read already made, so the
    * fingerprint describes exactly the files a recompute reads. Sound only
    * while the store's files are immutable and uniquely named (see the
    * class doc). */
  def fileFingerprints(source: DataFrame): Map[String, String] =
    source.inputFiles.toSeq.map(f => new Path(new java.net.URI(f)))
      .groupBy(_.getParent.getName)
      .collect { case (dir, files) if dir.startsWith("bucket=") =>
        val names = files.map(_.getName).sorted.mkString("\n")
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(names.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ExternalCatalogUtils.unescapePathName(dir.stripPrefix("bucket=")) ->
          s"${files.size}:${sha.map("%02x".format(_)).mkString}"
      }
}
