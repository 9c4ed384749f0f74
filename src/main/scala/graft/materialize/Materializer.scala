package graft.materialize

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental, fingerprint-gated materialization — the Spark-native
  * re-expression of the reference's materialization machinery: a derived
  * (materialized) table is recomputed per time bucket, and a bucket is
  * recomputed only when the fingerprint of its source rows has changed
  * since the last run. A stability delay keeps "hot" buckets (which may
  * still receive late data) out of materialization until they settle.
  *
  * Mechanics:
  *  - fingerprint(bucket) = (row count, bit_xor of xxhash64 over all
  *    columns, DECIMAL sum of the same hashes) — order-independent and
  *    overflow-free, computed with one aggregation over the source
  *    (map-side partial, one shuffle on the bucket key) and collected to
  *    the driver.
  *  - state = parquet at `stateDir` holding (bucket, fingerprint), read
  *    with an explicit schema and compared with the fingerprints on the
  *    driver: a source bucket is stale when the state has no entry for it
  *    or a different one. Buckets that vanished from the source are not
  *    recomputed; their state entries and derived rows stay until the
  *    retention cut passes them.
  *  - recompute = transform(source rows of stale buckets) written with
  *    dynamic partition overwrite into `targetDir/bucket=...` — untouched
  *    buckets keep their files; the write is idempotent per bucket.
  *  - commit = the previous state with the stale buckets' fresh
  *    fingerprints merged in and the buckets below the retention cut
  *    dropped, written once to `stateDir.tmp`, which then replaces
  *    `stateDir` (delete, then rename). A crash between the two leaves no
  *    state, which reads as empty: a conservative full recompute. A pass
  *    that changes nothing writes nothing.
  *
  * The fingerprints, the state and the stale-bucket list live on the
  * driver: their cardinality is the number of *time buckets*, bounded by
  * the retention window (e.g. hours in a year ≈ 8.8k), not by data
  * volume — safe at 100 TB.
  */
final class Materializer(spark: SparkSession, stateDir: String) {

  import Materializer._

  /** bucket -> fingerprint. graft.Fs answers existence on the state dir's
    * OWN filesystem and ignores write markers: a crash that left only
    * _temporary/_SUCCESS behind degrades to the empty state (conservative
    * full recompute) instead of a permanent parquet read failure. State
    * written before fp_sum joined the fingerprint reads it as NULL, so
    * every such bucket compares stale once. */
  private def readState(): Map[String, Fingerprint] =
    if (graft.Fs.existsNonEmptyData(spark, stateDir))
      toFingerprints(spark.read.schema(StateSchema).parquet(stateDir).collect())
    else Map.empty

  /** Fingerprint every bucket of `source` (bucket column must be named
    * `bucket` and be string-typed; callers derive it, e.g.
    * `date_format(date_trunc("hour", ts), "yyyy-MM-dd HH")`). */
  private def fingerprints(source: DataFrame): DataFrame = {
    val dataCols = source.columns.filter(_ != "bucket").sorted.map(col)
    val h = xxhash64(dataCols: _*)
    // xor alone cancels over pairs of identical rows (blind to changes of
    // even multiplicity); the DECIMAL(38,0) hash sum is multiset-sensitive
    // and overflow-free, and the row count guards both
    source.groupBy("bucket").agg(
      count(lit(1)).as("fp_count"),
      bit_xor(h).as("fp_hash"),
      sum(h.cast(DecimalType(38, 0))).as("fp_sum"))
  }

  /** Write `state` to `stateDir.tmp`, then swap it in for `stateDir`. */
  private def commit(state: Map[String, Fingerprint]): Unit = {
    val rows = state.toSeq.sortBy(_._1).map { case (b, f) => Row(b, f.count, f.hash, f.sum) }
    val tmp = stateDir + ".tmp"
    spark.createDataFrame(rows.asJava, StateSchema).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    val (fs, dst) = graft.Fs.fileSystem(spark, stateDir)
    fs.delete(dst, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dst))
      throw new java.io.IOException(s"could not rename $tmp to $stateDir")
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

    val gates = stableBefore.map(col("bucket") < _) ++ retainFrom.map(col("bucket") >= _)
    val fps = toFingerprints(gates.foldLeft(fingerprints(source))(_ where _).collect())
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

  /** One bucket's fingerprint; `sum` is null in state written before it
    * existed, which never equals a computed fingerprint. */
  private final case class Fingerprint(count: Long, hash: Long, sum: java.math.BigDecimal)

  private val StateSchema = StructType(Seq(
    StructField("bucket", StringType),
    StructField("fp_count", LongType),
    StructField("fp_hash", LongType),
    StructField("fp_sum", DecimalType(38, 0))))

  private def toFingerprints(rows: Array[Row]): Map[String, Fingerprint] =
    rows.map(r => r.getString(0) -> Fingerprint(r.getLong(1), r.getLong(2), r.getDecimal(3))).toMap
}
