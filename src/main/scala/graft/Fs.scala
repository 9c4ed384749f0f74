package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-filesystem facade for store/state/fingerprint paths.
  *
  * Every persistent path in the library (trend stores, materializer state,
  * relation fingerprints, compaction targets) must be answered by the
  * path's OWN filesystem — HDFS/S3 in a real deployment, where a
  * driver-local `java.nio` check silently reports "missing" and corrupts
  * the calling logic. Four modules were hand-rolling the same idiom with
  * subtly different emptiness rules; this object is the one place that
  * decides them. Hidden entries (`_SUCCESS`, `_temporary`, dotfiles) are
  * never data: a directory holding only write markers counts as empty, so
  * a crash that leaves markers behind degrades to the conservative
  * empty-state branch instead of a permanent read failure.
  */
object Fs {

  def fileSystem(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def isHidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  def exists(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fileSystem(spark, dir)
    fs.exists(p)
  }

  /** Directory exists and contains at least one non-hidden entry. */
  def existsNonEmptyData(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fileSystem(spark, dir)
    fs.exists(p) && fs.listStatus(p).exists(st => !isHidden(st.getPath.getName))
  }

  /** Count committed data files ending in `suffix` under `dir`, skipping
    * anything inside a hidden subtree (a leftover `_temporary/` from a
    * failed write must not inflate the count). */
  def countDataFiles(spark: SparkSession, dir: String, suffix: String): Int = {
    val (fs, p) = fileSystem(spark, dir)
    val root = fs.makeQualified(p)
    def inHiddenSubtree(f: Path): Boolean = {
      var q = f.getParent
      while (q != null && q != root && !q.equals(root)) {
        if (isHidden(q.getName)) return true
        q = q.getParent
      }
      false
    }
    val it = fs.listFiles(root, true)
    var files = 0
    while (it.hasNext) {
      val f = it.next().getPath
      if (!isHidden(f.getName) && f.getName.endsWith(suffix) && !inHiddenSubtree(f))
        files += 1
    }
    files
  }

  /** Non-recursive listing of committed data files directly under `dir`
    * (hidden entries skipped), sorted for deterministic iteration order.
    * Empty when the directory is missing — a landing dir that does not
    * exist yet simply has nothing to harvest. */
  def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fileSystem(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && !isHidden(st.getPath.getName))
      .map(_.getPath.toString).sorted
  }

  /** Delete partition directories `<key>=<value>` directly under `dir`
    * whose value sorts lexicographically below `cutoff` — the shared
    * retention primitive (TrendStore day expiry, HarvestLoop bucket
    * expiry). Metadata-only: no scan, no data movement; cost is one
    * directory listing at partition cardinality. Callers use sortable
    * value formats (yyyy-MM-dd, yyyy-MM-dd HH) so lexicographic =
    * chronological; values Spark escaped on write (%xx) compare in
    * escaped form. Returns the dropped values sorted — the audit record.
    * Missing `dir` is a quiet no-op. */
  def dropPartitions(spark: SparkSession, dir: String, key: String, cutoff: String): Seq[String] = {
    if (!exists(spark, dir)) return Nil
    val (fs, root) = fileSystem(spark, dir)
    val prefix = key + "="
    val dropped = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(st => (st.getPath, st.getPath.getName.stripPrefix(prefix)))
      .filter { case (_, v) => v < cutoff }
      .sortBy { case (_, v) => v }
    dropped.foreach { case (p, _) => fs.delete(p, true) }
    dropped.map { case (_, v) => v }
  }

  /** Per-file (min, max) of a 64-bit integer column under `dir`, read from
    * the PARQUET FOOTER STATISTICS only — no data pages are touched, so the
    * cost is one footer round-trip per file (the same metadata a pruning
    * reader consults). This is the manifest primitive behind file skipping
    * (`store_minmax_prune`) and compaction-clustering audits
    * (`store_compact_files`): a second full scan of the data to learn its
    * per-file ranges would defeat the point of having written statistics.
    * Driver-side iteration, bounded by file count (file-grain metadata, the
    * house manifest rule); a 100 TB store distributes the same footer reads
    * over executors. Files whose footer lacks stats for the column (all-null
    * chunk, stats disabled) report the SENTINEL FULL RANGE
    * (Long.MinValue, Long.MaxValue) so that manifest-driven prune callers
    * always read them — dropping them from the manifest would be
    * anti-conservative (a stats-disabled writer's rows would silently
    * vanish from every pruned read). */
  def parquetColumnMinMax(spark: SparkSession, dir: String, column: String): Seq[(String, Long, Long)] = {
    val (fs, p) = fileSystem(spark, dir)
    val files = fs.listStatus(p).toSeq
      .filter(st => st.isFile && !isHidden(st.getPath.getName)
        && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
    parquetColumnMinMaxFiles(spark, files, column)
  }

  /** [[parquetColumnMinMax]] over an EXPLICIT file list — the incremental-
    * manifest primitive: after appending a batch, only the NEW files'
    * footers are read and merged into the standing manifest (the whole
    * point of keeping one; a 100 TB store's manifest update must cost
    * batch-grain, not store-grain). */
  def parquetColumnMinMaxFiles(spark: SparkSession, files: Seq[String],
                               column: String): Seq[(String, Long, Long)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    files.sorted.map(new Path(_)).flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        // Per row group: Some(range) when the footer carries usable stats,
        // None when it does not (all-null chunk, stats disabled, non-integer
        // physical type). ONE stat-less group poisons the whole file to the
        // full-range sentinel — a partial min/max over the stat-bearing
        // groups would understate the file's true range.
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val perGroup = blocks.map { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .flatMap { cc =>
              val st = cc.getStatistics
              if (st == null || !st.hasNonNullValue) None
              else (st.genericGetMin, st.genericGetMax) match {
                case (lo: java.lang.Long, hi: java.lang.Long) => Some((lo.longValue, hi.longValue))
                case (lo: java.lang.Integer, hi: java.lang.Integer) => Some((lo.longValue, hi.longValue))
                case _ => None
              }
            }
        }
        if (perGroup.nonEmpty && perGroup.forall(_.isDefined)) {
          val ranges = perGroup.flatten
          Some((f.toString, ranges.map(_._1).min, ranges.map(_._2).max))
        } else Some((f.toString, Long.MinValue, Long.MaxValue))
      } finally reader.close()
    }
  }

  /** Per-file bloom-filter probe for a point-lookup: does any row group's
    * written bloom filter for `column` possibly contain ANY of `values`?
    * Footer + bloom pages only — no data pages. This is the EQUALITY
    * complement of [[parquetColumnMinMax]]'s range skipping: a
    * hash-distributed store has every file spanning the full key range
    * (min/max skips nothing), but each key lives in ONE file — the bloom
    * names it. Conservative by construction: a missing column chunk,
    * absent bloom, or unhashable value reads as "might contain" (no
    * false negatives possible, the bloom contract). Driver-side, bounded
    * by file count — the manifest rule; a 100 TB store distributes the
    * same probe. */
  def parquetBloomMightContain(spark: SparkSession, dir: String, column: String,
                               values: Seq[Long]): Seq[(String, Boolean)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val (fs, p) = fileSystem(spark, dir)
    val conf = spark.sessionState.newHadoopConf()
    val files = fs.listStatus(p).toSeq
      .filter(st => st.isFile && !isHidden(st.getPath.getName)
        && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val might = reader.getFooter.getBlocks.asScala.exists { block =>
          block.getColumns.asScala.find(_.getPath.toDotString == column) match {
            case None => true // column missing from this file: stay conservative
            case Some(cc) =>
              // bf.hash(v: Long) is only meaningful when the writer hashed
              // 8-byte values; probing an INT32/other chunk with the Long
              // overload would produce SYSTEMATIC false negatives (breaking
              // the bloom contract). Non-INT64 chunks read conservative.
              import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
              if (cc.getPrimitiveType.getPrimitiveTypeName != PrimitiveTypeName.INT64) true
              else {
                val bf = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
                if (bf == null) true // no bloom written: cannot rule the group out
                else values.exists(v => bf.findHash(bf.hash(v)))
              }
          }
        }
        (f.toString, might)
      } finally reader.close()
    }
  }

  /** Orphan-file vacuum (r11, r10 VERDICT #7; hardened r12 per ADVICE):
    * the maintenance pass every long-lived store needs, because crashed
    * writers leave two kinds of debris that a plain directory read CANNOT
    * distinguish from data —
    *
    *   - `_temporary/` trees (the Hadoop committer's staging area, at the
    *     root or inside partition directories): never data;
    *   - stray part files NOT in the committed listing — at the root or
    *     inside partition subdirectories (exactly where a crashed writer
    *     of a day-partitioned store leaves them): these have valid
    *     schemas and WOULD be read as real rows by any
    *     `spark.read.parquet(dir)` (silent duplication / corruption —
    *     the worst failure mode a store has).
    *
    * The age gate (`minAgeMs`) protects in-flight writers and applies to
    * BOTH debris kinds (r12): a running Hadoop-committer job stages its
    * output under `_temporary` until commit, so a staging tree is deleted
    * only when its newest inner file mtime (the tree's own mtime if it
    * holds no files yet) is older than the gate — an actively writing job
    * always has a fresh newest file. Uncommitted files younger than the
    * gate are likewise spared (the Delta/Iceberg VACUUM retention
    * stance). Only data-shaped names (`part-*` or `*.parquet`) are ever
    * deleted — an aged stray README is not the vacuum's business — and
    * committed files and hidden markers (`_SUCCESS`, dotfiles) are never
    * touched. `nowMs` is an explicit parameter — callers pass the clock,
    * tests pass a constant. Returns (deletedDirs, deletedFiles), each
    * path-sorted, as the audit record. Driver-side at file grain (the
    * manifest rule); a 100 TB store distributes the same listing + mtime
    * checks over executors. */
  def vacuum(spark: SparkSession, dir: String, committed: Set[String],
             minAgeMs: Long, nowMs: Long): (Seq[String], Seq[String]) = {
    val (fs, root) = fileSystem(spark, dir)
    if (!fs.exists(root)) return (Nil, Nil)
    val cutoff = nowMs - minAgeMs
    // liveness signal for a staging tree: the newest FILE mtime inside it
    // (directory mtimes churn on listing/creation and would mask age); a
    // file-less skeleton falls back to the directory's own mtime
    def newestFileMtime(p: Path): Long = {
      val sts = fs.listStatus(p)
      val inner = sts.map(st =>
        if (st.isDirectory) newestFileMtime(st.getPath) else st.getModificationTime)
      if (inner.isEmpty) fs.getFileStatus(p).getModificationTime else inner.max
    }
    // committed paths may arrive qualified or not: compare both forms
    val keep = committed.flatMap(c =>
      Set(c, fs.makeQualified(new Path(c)).toString))
    def looksLikeData(name: String): Boolean =
      name.startsWith("part-") || name.endsWith(".parquet")
    val delDirs = scala.collection.mutable.ArrayBuffer.empty[Path]
    val delFiles = scala.collection.mutable.ArrayBuffer.empty[Path]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) {
        if (name == "_temporary") {
          if (newestFileMtime(st.getPath) <= cutoff) delDirs += st.getPath
        } else if (!isHidden(name)) walk(st.getPath) // partition subdirs
      } else if (!isHidden(name) && looksLikeData(name) &&
          !keep.contains(st.getPath.toString) &&
          !keep.contains(fs.makeQualified(st.getPath).toString) &&
          st.getModificationTime <= cutoff) {
        delFiles += st.getPath
      }
    }
    walk(root)
    val dirsOut = delDirs.map(_.toString).sorted.toSeq
    val filesOut = delFiles.map(_.toString).sorted.toSeq
    delDirs.foreach(p => fs.delete(p, true))
    delFiles.foreach(p => fs.delete(p, false))
    (dirsOut, filesOut)
  }

  /** Read a small control file (fingerprint, marker, state) as UTF-8;
    * `None` when nothing or a directory is at `file` (a directory there is
    * a store written before the control file existed). */
  def readUtf8(spark: SparkSession, file: String): Option[String] = {
    val (fs, p) = fileSystem(spark, file)
    if (!fs.exists(p) || fs.getFileStatus(p).isDirectory) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Replace a small control file with UTF-8 `content`: the bytes go to
    * `<file>.tmp`, whatever is at `file` is deleted (a directory too), and
    * the temp file is renamed into place, so a reader never sees a torn
    * file. A crash between the delete and the rename leaves no `file` and
    * a complete `<file>.tmp`; each reader decides what that means. */
  def writeUtf8(spark: SparkSession, file: String, content: String): Unit = {
    val (fs, p) = fileSystem(spark, file)
    val tmp = new Path(file + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(p, true)
    if (!fs.rename(tmp, p)) throw new java.io.IOException(s"could not rename $tmp to $file")
  }
}
