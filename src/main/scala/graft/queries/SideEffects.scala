package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Side-effecting source/sink rows (SURVEY.md §2 A2/A4). The side channel
  * (write a scratch file, read it back) doesn't prevent oracle checking:
  * each round-trip's OUTPUT is a deterministic function of the source
  * table, so the oracle SQL simply recomputes that function directly —
  * round-trip fidelity itself is what's being proven. Scalatest covers the
  * file-layout details the oracle can't see (headers, partition dirs, null
  * encoding). Scratch space lives under the repo's target dir.
  */
object SideEffects {
  type Q = (SparkSession, String) => DataFrame

  private def scratch(name: String): String = {
    val p = java.nio.file.Paths.get("/root/repo/target/scratch", name)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  val queries: Map[String, Q] = Map(
    // A2' — FIXED-WIDTH text ingest (added r8): the classic
    // telecom/mainframe PM-file interchange format — no delimiters, each
    // field a byte-position window, blank-padded, with empty-padded
    // optional fields reading as NULL. Minerva's harvest plugins face
    // exactly this shape from network-element exports; the Spark form is
    // spark.read.text + positional substring/trim/cast projections (all
    // codegen'd — a fixed-width reader needs no custom datasource, just
    // a declared layout). Fixture staged from region with the
    // delete-scratch-first discipline (r7 ADVICE on csv_malformed); the
    // oracle recomputes the round-trip as a function of region directly.
    "scan_fixed_width" -> ((s, d) => {
      val out = scratch("fixed_width")
      val outDir = new java.io.File(out)
      if (outDir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(outDir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      val lines = Tables.region(s, d)
        .select(col("r_regionkey"), col("r_name")).orderBy("r_regionkey")
        .collect().map { r =>
          val (key, name) = (r.get(0).toString.toLong, r.getString(1))
          // layout: key cols 1-4 right-aligned, name 5-20 left-padded,
          // code 21-26 zero-padded, note 27-32 (blank = NULL)
          f"$key%4d" + name.padTo(16, ' ').take(16) +
            f"${key * 100 + name.length}%06d" +
            (if (key % 2 == 0) " " * 6 else "URGENT")
        }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out, "part0.dat"), lines.mkString("\n"))
      s.read.text(out)
        .select(
          trim(substring(col("value"), 1, 4)).cast("int").as("r_regionkey"),
          rtrim(substring(col("value"), 5, 16)).as("r_name"),
          substring(col("value"), 21, 6).cast("int").as("code"),
          expr("nullif(trim(substring(value, 27, 6)), '')").as("note"))
        .orderBy("r_regionkey")
    }),

    // A2 — typed CSV ingest round-trip (Minerva "generic CSV" harvest
    // plugin shape): write a tiny CSV derived from region, re-read it with
    // an explicit schema + timestamp parse. No schema inference — declared
    // schemas only, as at 100 TB inference means an extra full pass.
    "scan_csv_typed" -> ((s, d) => {
      val out = scratch("csv_region")
      Tables.region(s, d)
        .select(col("r_regionkey"), col("r_name"),
          lit("2024-01-15 06:30:00").as("loaded_at"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType),
        StructField("loaded_at", TimestampType)))
      s.read.schema(schema)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(out)
        .orderBy("r_regionkey")
    }),

    // A2' — malformed-row CSV ingest (added r7): the DQ boundary of the
    // harvest path — real exports carry glitched lines, and a 100 TB load
    // must QUARANTINE them (PERMISSIVE + corrupt-record column), never
    // abort (FAILFAST) or silently drop (DROPMALFORMED). The fixture
    // plants two deterministic bad lines (a type glitch and an
    // extra-column line) among the region rows; the read keeps good rows
    // typed and lands each bad line's RAW TEXT in `_corrupt` for the
    // quarantine sink. The oracle recomputes good rows from region and
    // the two constant quarantine rows directly.
    "scan_csv_malformed" -> ((s, d) => {
      val out = scratch("csv_malformed")
      val good = Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey").collect()
        .map(r => s"${r.get(0)},${r.getString(1)}")
      val lines = Seq("r_regionkey,r_name") ++ good ++
        Seq("999x,GLITCH", "7,TOOMANY,EXTRA")
      // recreate the scratch dir from empty (r7 ADVICE): the read globs
      // the DIRECTORY, so a stray file left by an interrupted run would
      // silently join the fixture
      val outDir = new java.io.File(out)
      if (outDir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(outDir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out, "part0.csv"), lines.mkString("\n"))
      val schema = StructType(Seq(
        StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType),
        StructField("_corrupt", StringType)))
      s.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
        .select(col("r_regionkey"), col("r_name"), col("_corrupt"))
        .orderBy(col("_corrupt").asc_nulls_first, col("r_regionkey"))
    }),

    // A2b — 3GPP-style XML measurement ingest (the reference's primary
    // harvest format): render a small measurement file from events data,
    // re-read it with the hand-rolled distributed XML parser.
    // Determinism: the subset is selected by event_id (not limit(n), whose
    // row choice is plan-dependent), and kpi_load carries the raw double —
    // Double.toString/parse round-trips bit-exactly, so no round() is
    // needed and the Spark-vs-DuckDB rounding-mode corner never arises.
    "scan_xml_typed" -> ((s, d) => {
      val out = scratch("xml_meas")
      val counters = Seq("kpi_load", "kpi_err")
      val src = Tables.events(s, d).where(col("event_id") < 50)
        .select(
          concat(lit("Network=G1,Node="), lpad(col("user_id").cast("string"), 3, "0")).as("dn"),
          date_trunc("minute", col("ts")).as("ts"),
          col("value").as("kpi_load"),
          (col("event_id") % 5).cast("double").as("kpi_err"))
        .orderBy("dn", "ts").collect().toSeq
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out, "meas0.xml"),
        graft.sources.MeasurementXml.render(src, counters))
      graft.sources.MeasurementXml.read(s, out, counters)
        .orderBy("dn", "ts", "kpi_load", "kpi_err")
    }),

    // A2c — JSON-lines ingest round-trip (the third harvest format next
    // to CSV and XML): write an events subset as JSONL, re-read with a
    // declared schema — no inference pass. Timestamps round-trip via
    // Spark's ISO rendering; doubles via shortest-round-trip JSON numbers.
    "scan_jsonl" -> ((s, d) => {
      val out = scratch("jsonl_events")
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      // Default JSON timestamp rendering is millisecond-precision; the
      // source carries microseconds, so declare a µs format on both sides
      // or the round-trip silently truncates.
      val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
      Tables.events(s, d)
        .where(col("event_id") < 200)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1)
        .write.mode("overwrite").option("timestampFormat", tsFmt).json(out)
      s.read.schema(schema).option("timestampFormat", tsFmt).json(out)
        .orderBy("event_id")
    }),

    // A2d — ORC ingest round-trip (the second columnar format next to
    // parquet; Spark's native ORC source, no external package): write an
    // events subset as ORC, re-read with a declared schema. ORC stores
    // timestamps at nanosecond capability, so the µs-precision source
    // round-trips losslessly.
    "scan_orc" -> ((s, d) => {
      val out = scratch("orc_events")
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      Tables.events(s, d)
        .where(col("event_id") < 300)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1)
        .write.mode("overwrite").orc(out)
      s.read.schema(schema).orc(out)
        .orderBy("event_id")
    }),

    // A2e — binary-file ingest (the media-lake shape behind the multimodal
    // keys): one opaque blob per document on disk, read back with Spark's
    // native `binaryFile` source (path, length, content) — the scan is
    // file-parallel, content stays opaque bytes, identity/metadata derive
    // from the path and the byte stream. The fixture write is a bounded
    // driver loop (one file per doc, like a real object-store landing
    // zone); the OPERATOR under test is the distributed scan.
    "scan_binary" -> ((s, d) => {
      val out = scratch("bin_docs")
      val dir = java.nio.file.Paths.get(out)
      java.nio.file.Files.createDirectories(dir)
      Tables.documents(s, d).where(col("doc_id") < 100)
        .select("doc_id", "text").collect()
        .foreach { r =>
          java.nio.file.Files.write(dir.resolve(f"doc_${r.getLong(0)}%05d.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(out)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_hash"))
        .orderBy("doc_id")
    }),

    // A2f — Avro container-file ingest round-trip (the fourth harvest
    // format next to CSV/XML/JSONL; r2 missing-list #3). No spark-avro
    // DataSource exists offline, so the reader is hand-rolled on Avro
    // core over the file-parallel binaryFile scan (graft.sources.AvroFile)
    // — a distributed per-partition sink plus a per-file executor decode,
    // no shuffle either way. The nullable `maybe_type` column exercises
    // the union{null,T} decode; timestamps round-trip at µs precision via
    // the timestamp-micros logical type.
    "scan_avro_typed" -> ((s, d) => {
      val out = scratch("avro_events")
      val schema = StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("ts", TimestampType, nullable = false),
        StructField("user_id", LongType, nullable = false),
        StructField("maybe_type", StringType, nullable = true),
        StructField("value", DoubleType, nullable = false)))
      val src = Tables.events(s, d)
        .where(col("event_id") < 400)
        .select(col("event_id"), col("ts"), col("user_id"),
          nullif(col("event_type"), lit("click")).as("maybe_type"), col("value"))
        // Two range partitions -> two container files: the read-back path
        // proves multi-file parallel decode, not just a single blob.
        .repartitionByRange(2, col("event_id"))
        .sortWithinPartitions("event_id")
      graft.sources.AvroFile.write(src, out)
      graft.sources.AvroFile.read(s, out, schema)
        .orderBy("event_id")
    }),

    // A4b — statically partition-pruned scan: the read twin of
    // sink_partitioned. The predicate on the partition column becomes a
    // PartitionFilter on the scan — unselected day directories are never
    // listed or read (PlanShapeSpec asserts it). At 100 TB this is THE
    // mechanism that turns "first 3 days of a month of trend data" into a
    // 3-directory scan instead of a full-table pass.
    "scan_parquet_pruned" -> ((s, d) => {
      val out = scratch("events_pruned")
      Tables.events(s, d)
        .withColumn("d", to_date(col("ts")))
        .repartition(col("d"))
        .write.mode("overwrite").partitionBy("d").parquet(out)
      s.read.parquet(out)
        .where(col("d") < lit("2024-01-04").cast("date"))
        .groupBy("d")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_value"))
        .orderBy("d")
    }),

    // A2c — schema-evolution round-trip: two harvest batches written with
    // DIFFERENT schemas (the new harvester version added a column — the
    // classic lake drift), read back through mergeSchema and audited per
    // batch. The oracle recomputes the audit from the source, so what the
    // hash proves is that old rows surface the new column as NULL and new
    // rows keep it — the exact contract downstream jobs rely on when a
    // source evolves mid-retention-window. mergeSchema is the read-time
    // opt-in (at 100 TB schema unification is a footer-only pass, no data
    // read).
    "scan_schema_merge" -> ((s, d) => {
      val out = scratch("events_schema_merge")
      val e = Tables.events(s, d)
      e.where(col("event_id") % 2 === 0)
        .select(col("event_id"), col("value"))
        .write.mode("overwrite").parquet(s"$out/b=1")
      e.where(col("event_id") % 2 === 1)
        .select(col("event_id"), col("value"),
          round(col("value") * 2, 4).as("value_adj"))
        .write.mode("overwrite").parquet(s"$out/b=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy("b")
        .agg(count(lit(1)).as("n"),
          count(col("value_adj")).as("n_adj"),
          round(sum("value"), 4).as("sum_value"))
        .orderBy("b")
    }),

    // A4b — retention round-trip through the real TrendStore: write events
    // day-partitioned, expire the first three days (metadata-only
    // partition drops — graft.Fs.dropPartitions), read back what survived.
    // The oracle recomputes survivorship directly with the cutoff filter,
    // so the partition-drop path itself is what the hash proves. The
    // store dir is recreated per run (expiry is destructive; a stale
    // scratch dir would otherwise leak rows across runs).
    "store_retention" -> ((s, d) => {
      val out = scratch("events_retention")
      val dir = new java.io.File(out)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(dir)
      }
      val store = new graft.store.TrendStore(s, out, Seq("value"))
      store.write(Tables.events(s, d)
        .select(col("event_id").as("entity_id"), col("ts"), col("value")), "raw")
      store.expire("raw", "2024-01-04")
      store.read("raw")
        .groupBy("d")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_value"))
        .select(col("d").cast("string").as("d"), col("cnt"), col("sum_value"))
        .orderBy("d")
    }),

    // B3'' — trigger cooldown (the daemon's alarm-flood guard) under an
    // oracle: the first half of the month's exceedances are staged as the
    // PRIOR notification store (day-partitioned, Triggers.store), then
    // the second half evaluates through `Triggers.evaluateWithCooldown` —
    // a (entity, rule) pair re-raises only strictly more than 48 h after
    // its last stored notification. The prior side is reduced to per-pair
    // max(ts) BEFORE its shuffle (operational cardinality, not data
    // volume) and the store read is day-pruned by the cooldown horizon;
    // the suppression itself is one broadcast-friendly anti-join. The
    // oracle replays split, evaluation, and suppression in closed form
    // from the events table.
    "filter_trigger_cooldown" -> ((s, d) => {
      val out = scratch("notif_cooldown")
      val dir = new java.io.File(out)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(dir)
      }
      val rules = Seq(
        graft.store.Triggers.Rule("load_high", "kpi_load", "major")(_ > 200.0),
        graft.store.Triggers.Rule("burst", "kpi_burst", "warning")(_ >= 2.0))
      val kpis = Tables.events(s, d)
        .groupBy(col("user_id").as("entity_id"), date_trunc("hour", col("ts")).as("ts"))
        .agg(round(avg(col("value")), 4).as("kpi_load"),
          count(lit(1)).cast("double").as("kpi_burst"))
      val split = lit("2024-01-16").cast("timestamp")
      graft.store.Triggers.store(
        graft.store.Triggers.evaluate(kpis.where(col("ts") < split), rules), out)
      graft.store.Triggers
        .evaluateWithCooldown(kpis.where(col("ts") >= split), rules, s, out, "48 HOURS")
        .orderBy("rule", "entity_id", "ts")
    }),

    // A4 — partitioned trend-store sink: write events partitioned by day
    // (the reference's time-partitioned wide-table layout), read back and
    // count per partition. Partition pruning on `d` is then free.
    "sink_partitioned" -> ((s, d) => {
      val out = scratch("events_by_day")
      Tables.events(s, d)
        .withColumn("d", to_date(col("ts")))
        // Partition-aligned shuffle before the write: without it every
        // task writes into every day directory (tasks x days small files
        // — the classic trend-store fragmentation). At larger scale the
        // same line becomes repartition(n, $"d") or range partitioning.
        .repartition(col("d"))
        .write.mode("overwrite").partitionBy("d").parquet(out)
      s.read.parquet(out)
        .groupBy("d")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("d")
    }),

    // A — FILE-LEVEL min/max data skipping (added r9): the Iceberg/Delta
    // manifest mechanism as an explicit operator, and the third rung of
    // the layout ladder (partition pruning = sink_partitioned/zorder;
    // bucket co-location = join_bucketed; FILE skipping = this). The
    // store is range-clustered on the query column at write time, a
    // file-grain (min,max) manifest is read STRAIGHT FROM THE PARQUET
    // FOOTERS (r9 VERDICT #8 — `Fs.parquetColumnMinMax`; the former
    // second full scan re-derived statistics the write had already
    // persisted), and a range query reads ONLY the overlapping files
    // plus the exact residual predicate. The footer pass is file-grain
    // METADATA — no data pages, bounded by file count. The oracle
    // recomputes the range aggregate from the source, so the hash
    // proves the file cover is COMPLETE (a skipped-but-needed file =
    // missing rows); the spec pins that skipping is REAL (fewer files
    // read than written) and pruned == brute force. Query bounds are
    // integer fractions of max(user_id), scale-free across fixtures.
    "store_minmax_prune" -> ((s, d) => {
      val out = scratch("events_minmax")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .repartitionByRange(8, col("user_id"))
        .write.mode("overwrite").parquet(out)
      val manifest = graft.Fs.parquetColumnMinMax(s, out, "user_id")
      val maxU = manifest.map(_._3).max // footer stats, no data read
      val (loQ, hiQ) = (maxU / 10, (3 * maxU) / 10)
      val files = manifest
        .filter(m => m._2 <= hiQ && m._3 >= loQ)
        .map(_._1)
      s.read.parquet(files: _*)
        .where(col("user_id") >= loQ && col("user_id") <= hiQ)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1e6).cast("long")).as("sum_value_microunits"))
        .orderBy("event_type")
    }),

    // A14 — ANALYZE-style table statistics (added r12): the per-column
    // (count, nulls, exact NDV, min, max) profile a cost-based optimizer,
    // a data catalog, and every "is this load sane" check consume — the
    // STATISTICS sibling of agg_dq_profile's QUALITY rules. One pass over
    // lineitem computes all five columns' stats (Spark expands the
    // multi-distinct into one Expand + two aggregations — still a single
    // scan), then unpivots to the (column, stat) grain catalogs store.
    // Numeric min/max are exact µ-unit longs (floor-1e-6 — the profile is
    // for pruning decisions, not display); string columns carry NDV with
    // null min_q/max_q (their ordering is collation-dependent — a
    // catalog stores string bounds separately or not at all). Output = 5
    // rows at any corpus size; work is one map-side-partial scan.
    "store_stats_ndv" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("qq", floor(col("l_quantity") * 1e6).cast("long"))
        .withColumn("pq", floor(col("l_extendedprice") * 1e6).cast("long"))
        .withColumn("dq", floor(col("l_discount") * 1e6).cast("long"))
      val c = li.agg(
        count(lit(1)).as("n"),
        count(col("l_orderkey")).as("nn_ok"),
        countDistinct(col("l_orderkey")).as("ndv_ok"),
        min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
        count(col("qq")).as("nn_q"), countDistinct(col("qq")).as("ndv_q"),
        min(col("qq")).as("min_q"), max(col("qq")).as("max_q"),
        count(col("pq")).as("nn_p"), countDistinct(col("pq")).as("ndv_p"),
        min(col("pq")).as("min_p"), max(col("pq")).as("max_p"),
        count(col("dq")).as("nn_d"), countDistinct(col("dq")).as("ndv_d"),
        min(col("dq")).as("min_d"), max(col("dq")).as("max_d"),
        count(col("l_returnflag")).as("nn_rf"),
        countDistinct(col("l_returnflag")).as("ndv_rf"))
      def row(name: String, nn: String, ndv: String,
              mn: Option[String], mx: Option[String]) =
        struct(lit(name).as("column"), col("n").as("n_rows"),
          (col("n") - col(nn)).as("n_null"), col(ndv).as("ndv"),
          mn.map(col).getOrElse(lit(null).cast("long")).as("min_q"),
          mx.map(col).getOrElse(lit(null).cast("long")).as("max_q"))
      c.select(explode(array(
          row("l_discount", "nn_d", "ndv_d", Some("min_d"), Some("max_d")),
          row("l_extendedprice", "nn_p", "ndv_p", Some("min_p"), Some("max_p")),
          row("l_orderkey", "nn_ok", "ndv_ok", Some("min_ok"), Some("max_ok")),
          row("l_quantity", "nn_q", "ndv_q", Some("min_q"), Some("max_q")),
          row("l_returnflag", "nn_rf", "ndv_rf", None, None))).as("f"))
        .select(col("f.*"))
        .orderBy("column")
    }),

    // A — small-file COMPACTION under the oracle (added r10, r9 VERDICT
    // #1): the nightly maintenance op every 100 TB store actually runs —
    // an appended-every-15-minutes feed accumulates thousands of tiny
    // files whose footer/task overhead degrades scans long before
    // capacity does. The key fragments the event feed into 48 round-robin
    // files (the per-task-append pattern), rewrites it range-clustered on
    // user_id via the real `store.Compaction.compactTo` (repartitionByRange
    // → few large files, out-of-place so a crash can't eat the store),
    // and re-aggregates FROM THE COMPACTED COPY; the oracle recomputes
    // the same aggregate from the source table, so the hash proves the
    // rewrite is LOSSLESS — no dropped, duplicated, or mangled row.
    // StoreSpec pins the layout facts the hash can't see: files_after <
    // files_before AND clustering survives (per-file footer min/max
    // ranges are pairwise disjoint after the range rewrite). Sizing is
    // scale-free: rowsPerFile = ceil(n/4) targets 4 files at any sf
    // (production sets bytes, same arithmetic). The planning count() is
    // parquet metadata-only (row-group counts, no data pages).
    "store_compact_files" -> ((s, d) => {
      val src = scratch("events_fragmented")
      val dst = scratch("events_compacted")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .repartition(48)
        .write.mode("overwrite").parquet(src)
      val n = s.read.parquet(src).count()
      graft.store.Compaction.compactTo(s, src, dst,
        rowsPerFile = math.max(1L, (n + 3) / 4), sortCols = Seq("user_id"))
      s.read.parquet(dst)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1e6).cast("long")).as("sum_value_microunits"))
        .orderBy("event_type")
    }),

    // A — gzip-compressed CSV round-trip (added r9): the interchange
    // format most real feeds actually arrive in (.csv.gz drops). Writes
    // the event feed as gzip CSV (timestamps as explicit µs longs — CSV
    // has no timestamp type; doubles as shortest-repr text) and reads it
    // back through codec auto-detection; the re-read aggregates µ-unit
    // integer sums, so if the text→double parse mangled even one value
    // the quantization diverges and the hash fails — the oracle
    // recomputes the same sums straight from the source table. Scale
    // note (declared): gzip files are NOT splittable — one task per
    // file; the write pins a bounded file count, and a 100 TB feed
    // would land as many smaller .gz parts (or zstd/bzip2 splittables).
    "scan_csv_gzip" -> ((s, d) => {
      val out = scratch("events_csv_gz")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .coalesce(4)
        .write.mode("overwrite").option("header", "true")
        .option("compression", "gzip").csv(out)
      s.read.option("header", "true")
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
          "ts_us BIGINT, value DOUBLE")
        .csv(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          // modular checksum, not a raw sum: epoch-µs values overflow a
          // long after ~5k rows in ANSI mode; the mod keeps every term
          // < 1e9 (order-free exact to ~9e9 rows) and is equally
          // sensitive to any mangled timestamp
          sum(col("ts_us") % 1000000007L).as("ts_checksum"),
          sum(floor(col("value") * 1e6).cast("long")).as("sum_value_microunits"))
        .orderBy("event_type")
    }),

    // A — quoted MULTI-LINE CSV round-trip (added r9): text columns with
    // embedded newlines are the classic CSV interchange trap — the
    // default line-splitting reader shreds a quoted field at its first
    // newline and the corruption is silent. Every doc's text is rewritten
    // with real newlines (space → \n), written as quoted CSV, and read
    // back under multiLine=true; the oracle recomputes the per-source
    // char/line totals from the SOURCE table, so the hash proves every
    // embedded newline survived the quote/parse round-trip byte for
    // byte. Scale note (declared): multiLine CSV files are NOT
    // splittable — Spark parses each file serially — so the write
    // coalesces to a bounded file count and a 100 TB pipeline would use
    // a record-delimited format instead; this key pins the CORRECTNESS
    // of the escape hatch, not its throughput.
    "scan_csv_multiline" -> ((s, d) => {
      val out = scratch("docs_multiline_csv")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          translate(col("text"), " ", "\n").as("text2"))
        .coalesce(4)
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").option("multiLine", "true")
        .schema("doc_id BIGINT, source STRING, text2 STRING")
        .csv(out)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text2"))).as("n_chars"),
          sum(size(split(col("text2"), "\n")).cast("long")).as("n_lines"))
        .orderBy("source")
    }),

    // A — Z-ORDER layout (added r9): multi-dimensional clustering as a
    // STORE operator — interleave the bits of two query dimensions
    // (balance octile × nation mod 8) into a 6-bit Morton value and
    // partition the store by it, so a 2-D RECTANGLE predicate becomes a
    // 1-D partition prune (the Delta/Iceberg OPTIMIZE ZORDER idea, and
    // at 100 TB the difference between scanning 12/64 of the store and
    // all of it — data skipping no single-column sort can give both
    // dimensions at once). The rectangle x∈[2,5] × y∈[1,3] reads exactly
    // its 12 covering Morton cells (enumerated — at 3+3 bits the cover
    // IS the cell list, no litmax/bigmin walk needed) as a partition
    // filter plus the exact residual predicate; the oracle recomputes
    // the aggregate straight from the source, so the hash proves the
    // cell cover is COMPLETE (a missed cell = missing rows), while
    // StoreSpec pins that pruning actually happens (PartitionFilters,
    // 12 of 64 directories) and that the pruned read equals the
    // brute-force scan. Bucketing arithmetic is identical IEEE on both
    // engines; all sums exact cent longs.
    "store_zorder" -> ((s, d) => {
      val out = scratch("cust_zorder")
      def bit(c: String, i: Int) = s"(($c div ${1 << i}) % 2)"
      val zExpr = (0 until 3).map(i =>
        s"${bit("xb", i)} * ${1 << (2 * i + 1)} + ${bit("yb", i)} * ${1 << (2 * i)}")
        .mkString(" + ")
      Tables.customer(s, d)
        .withColumn("cents", floor(col("c_acctbal") * lit(100.0)).cast("long"))
        .withColumn("xb",
          least(floor((col("c_acctbal") + lit(1000.0)) / lit(1375.0)), lit(7.0))
            .cast("int"))
        .withColumn("yb", (col("c_nationkey") % 8).cast("int"))
        .withColumn("z", expr(zExpr).cast("int"))
        .repartition(col("z"))
        .write.mode("overwrite").partitionBy("z").parquet(out)
      // the cover is COMPUTED by the generalized litmax/bigmin machinery
      // (r10 — ZOrderSpec proves it equals the formerly hand-enumerated
      // 12-cell list at this width); at 3+3 bits the ranges flatten to
      // the same IN-list partition filter
      val cells = graft.store.ZOrder.rangeCover(2, 5, 1, 3, bits = 3)
        .flatMap { case (lo, hi) => (lo to hi).map(_.toInt) }
      s.read.parquet(out)
        .where(col("z").isin(cells: _*))
        .where(col("xb") >= 2 && col("xb") <= 5 && col("yb") >= 1 && col("yb") <= 3)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"), sum("cents").as("sum_cents"))
        .orderBy("c_nationkey")
    }),

    // A — INCREMENTAL manifest maintenance (added r10): the operational
    // half of `store_minmax_prune` — a live store is APPENDED daily, and
    // at 100 TB the manifest update must cost batch-grain, not
    // store-grain (re-reading a million standing footers nightly defeats
    // having a manifest). The key bootstraps the store from the first
    // 3/4 of the feed (exact integer event-id split, the scd2_merge
    // discipline), derives manifest M₀ from its footers, appends the
    // last-1/4 batch, and MERGES: M = M₀ ∪ footer-stats(new files ONLY —
    // `Fs.parquetColumnMinMaxFiles` over the listing delta; the standing
    // files' footers are never re-opened). The merged manifest is
    // persisted as a control file (`Fs.writeUtf8`) and drives the same
    // range-pruned read as the minmax key; the oracle recomputes the
    // range aggregate from the FULL source, so the hash proves the
    // incremental manifest is COMPLETE over both generations of files.
    // The spec additionally pins incremental == full-rescan manifest.
    "store_manifest_merge" -> ((s, d) => {
      val out = scratch("events_manifest")
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val bounds = ev.agg(min("event_id").as("lo"), max("event_id").as("hi"))
      val tagged = ev.crossJoin(broadcast(bounds))
        .withColumn("__late",
          col("event_id") >= col("lo") + (col("hi") - col("lo")) * 3 / 4)
      tagged.where(!col("__late")).drop("lo", "hi", "__late")
        .repartitionByRange(8, col("user_id"))
        .write.mode("overwrite").parquet(out)
      val m0 = graft.Fs.parquetColumnMinMax(s, out, "user_id")
      val standing = m0.map(_._1).toSet
      tagged.where(col("__late")).drop("lo", "hi", "__late")
        .repartitionByRange(2, col("user_id"))
        .write.mode("append").parquet(out)
      val newFiles = graft.Fs.listDataFiles(s, out)
        .filter(f => f.endsWith(".parquet") && !standing.contains(f))
      val merged = m0 ++ graft.Fs.parquetColumnMinMaxFiles(s, newFiles, "user_id")
      graft.Fs.writeUtf8(s, out + "_manifest.tsv",
        merged.sortBy(_._1).map { case (f, lo, hi) => s"$f\t$lo\t$hi" }.mkString("\n"))
      val maxU = merged.map(_._3).max
      val (loQ, hiQ) = (maxU / 10, (3 * maxU) / 10)
      val files = merged.filter(m => m._2 <= hiQ && m._3 >= loQ).map(_._1)
      s.read.parquet(files: _*)
        .where(col("user_id") >= loQ && col("user_id") <= hiQ)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1e6).cast("long")).as("sum_value_microunits"))
        .orderBy("event_type")
    }),

    // A — BLOOM-FILTER point-lookup file skipping (added r10): the fourth
    // and last rung of the data-skipping ladder — partition pruning
    // (sink_partitioned), range skipping (store_minmax_prune), Z-order
    // rectangles (store_zorder_range) all serve RANGE predicates; the
    // point lookup on a HASH-distributed store is the case they can't
    // touch (every file spans the full key range, min/max skips nothing —
    // but each key lives in exactly one file, and the parquet BLOOM
    // FILTER names it). The store is written hash-partitioned on user_id
    // with blooms enabled (`parquet.bloom.filter.enabled#user_id`), and
    // three probe ids — exact integer fractions of max(user_id), scale-
    // free — select files via `Fs.parquetBloomMightContain` (footer +
    // bloom pages only, no data read, no false negatives by the bloom
    // contract). The oracle recomputes the point aggregates from the
    // source, so the hash proves the file cover kept every probed row;
    // the spec pins that skipping is REAL (~1 file per id out of 8) and
    // that blooms were actually written. At 100 TB this is the needle
    // query: one file read instead of the whole store.
    "store_bloom_prune" -> ((s, d) => {
      val out = scratch("events_bloom")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .repartition(8, col("user_id"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .option("parquet.bloom.filter.expected.ndv#user_id", "100000")
        // parquet-mr OMITS the bloom when a chunk stays fully dictionary-
        // encoded (the dictionary already answers membership exactly);
        // the fixture's key cardinality is dictionary-sized, so disable
        // the dictionary on this one column to emulate the high-NDV
        // regime blooms exist for (at real NDV the encoder falls back to
        // PLAIN by itself and writes the bloom unprompted)
        .option("parquet.enable.dictionary#user_id", "false")
        .parquet(out)
      val manifest = graft.Fs.parquetColumnMinMax(s, out, "user_id")
      val maxU = manifest.map(_._3).max // footer stats, no data read
      val ids = Seq(2L, 5L, 8L).map(k => k * (maxU / 10))
      val files = graft.Fs.parquetBloomMightContain(s, out, "user_id", ids)
        .filter(_._2).map(_._1)
      s.read.parquet(files: _*)
        .where(col("user_id").isin(ids: _*))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1e6).cast("long")).as("sum_value_microunits"))
        .orderBy("user_id")
    }),

    // A — Z-order at PRODUCTION width (added r10, r9 VERDICT #7): the
    // 3-bit `store_zorder` enumerates its 12 cells by hand and partitions
    // by cell; at real widths (here 6+6 bits → 4096 cells, production
    // 16-20) neither works — the actual Delta/Iceberg mechanism is SORT
    // the store by the Morton value, then at query time COMPUTE the
    // rectangle's exact Morton-range cover (quadtree/litmax-bigmin walk,
    // O(ranges·bits), independent of box area — `store.ZOrder.rangeCover`)
    // and skip every file whose footer [min(z), max(z)] overlaps no cover
    // range. This key runs that exact pipeline: range-cluster 16 files on
    // z, footer-stats manifest (`Fs.parquetColumnMinMax` — no data read),
    // interval-overlap file selection against the computed cover, exact
    // residual predicate. The oracle recomputes the rectangle aggregate
    // from the source, so the hash proves cover+manifest completeness (a
    // skipped-but-needed file = missing rows); ZOrderSpec proves the
    // cover machinery exhaustively and StoreSpec pins that files are
    // really skipped. Exact cent sums; identical IEEE bucketing on both
    // engines (the store_zorder discipline).
    "store_zorder_range" -> ((s, d) => {
      val out = scratch("cust_zorder_range")
      def bit(c: String, i: Int) = s"(($c div ${1 << i}) % 2)"
      val zExpr = (0 until 6).map(i =>
        s"${bit("xb", i)} * ${1 << (2 * i + 1)} + ${bit("yb", i)} * ${1 << (2 * i)}")
        .mkString(" + ")
      Tables.customer(s, d)
        .withColumn("cents", floor(col("c_acctbal") * lit(100.0)).cast("long"))
        .withColumn("xb",
          least(floor((col("c_acctbal") + lit(1000.0)) / lit(172.0)), lit(63.0))
            .cast("int"))
        .withColumn("yb", (col("c_custkey") % 64).cast("int"))
        .withColumn("z", expr(zExpr).cast("long"))
        .repartitionByRange(16, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(out)
      val cover = graft.store.ZOrder.rangeCover(8, 23, 16, 47, bits = 6)
      val manifest = graft.Fs.parquetColumnMinMax(s, out, "z")
      val files = manifest.filter { case (_, lo, hi) =>
        cover.exists { case (cl, ch) => lo <= ch && hi >= cl }
      }.map(_._1)
      s.read.parquet(files: _*)
        .where(col("xb") >= 8 && col("xb") <= 23 && col("yb") >= 16 && col("yb") <= 47)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"), sum("cents").as("sum_cents"))
        .orderBy("c_nationkey")
    }),

    // A — 3-DIMENSIONAL Z-order clustering (added r11, r10 VERDICT #5):
    // the k-D generalization working end to end — events clustered on
    // (entity-bucket, day-bucket, value-hexadecile), each 4 bits, sorted
    // by the 12-bit interleaved Morton value into 16 range files; at
    // query time the 3-D box's EXACT range cover (`ZOrder.rangeCoverK` —
    // the 2^k-tree walk; exact is affordable at 4-bit axes, while 3-D
    // covers at production width are budget-capped per the rangeCoverK
    // doc) intersects the footer [min(z),max(z)] manifest and skips
    // non-overlapping files, exact residual predicate after. Oracle
    // recomputes the box aggregate from source — hash proves the cover,
    // the interleave expression, and the manifest are jointly complete
    // (one skipped-but-needed file = missing rows); ZOrderSpec proves
    // the k-D machinery exhaustively (2-bit × 3-dim), StoreSpec pins
    // that files are really skipped. Exact micro-unit sums; all three
    // bucket expressions are single IEEE ops identical cross-engine.
    "store_zorder_3d" -> ((s, d) => {
      val out = scratch("events_zorder_3d")
      // dim 0 (ub) at bit 3i+2, dim 1 (db) at 3i+1, dim 2 (vb) at 3i —
      // the ZOrder.encodeK layout, stated as an in-plan expression
      def bit(c: String, i: Int) = s"(($c div ${1 << i}) % 2)"
      val zExpr = (0 until 4).map(i =>
        s"${bit("ub", i)} * ${1L << (3 * i + 2)} + " +
          s"${bit("db", i)} * ${1L << (3 * i + 1)} + " +
          s"${bit("vb", i)} * ${1L << (3 * i)}").mkString(" + ")
      Tables.events(s, d)
        .withColumn("micro", floor(col("value") * lit(1e6)).cast("long"))
        .withColumn("ub", (col("user_id") % 16).cast("int"))
        .withColumn("db", ((dayofmonth(col("ts")) - 1) % 16).cast("int"))
        .withColumn("vb",
          least(floor(col("value") / lit(31.0)), lit(15.0)).cast("int"))
        .withColumn("z", expr(zExpr).cast("long"))
        .repartitionByRange(16, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(out)
      val cover = graft.store.ZOrder.rangeCoverK(
        Seq(4L, 3L, 5L), Seq(11L, 12L, 13L), bits = 4)
      val manifest = graft.Fs.parquetColumnMinMax(s, out, "z")
      val files = manifest.filter { case (_, lo, hi) =>
        cover.exists { case (cl, ch) => lo <= ch && hi >= cl }
      }.map(_._1)
      s.read.parquet(files: _*)
        .where(col("ub") >= 4 && col("ub") <= 11
          && col("db") >= 3 && col("db") <= 12
          && col("vb") >= 5 && col("vb") <= 13)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("micro").as("sum_micro"))
        .orderBy("event_type")
    }),

    // A — orphan-file VACUUM (added r11, r10 VERDICT #7): crash-leftover
    // cleanup proven DATA-INTACT under the oracle. The fixture plants the
    // two real debris kinds a crashed writer leaves: a `_temporary/`
    // staging tree AND an uncommitted duplicate part file directly in the
    // store (valid schema — a naive directory read ingests its rows as
    // data, the silent-duplication failure mode). `Fs.vacuum` deletes the
    // tree + the AGED orphan (age gate: in-flight writers' fresh files
    // are spared — FsSpec pins that) using the committed listing captured
    // at write time; the readout aggregates the store AFTER vacuum. The
    // oracle recomputes from source, so the hash proves BOTH directions:
    // orphan gone (else rows double-count) and committed files intact
    // (else rows missing). FsSpec adds the byte-level crash fixtures.
    "store_vacuum" -> ((s, d) => {
      val out = scratch("events_vacuum")
      Tables.events(s, d)
        .withColumn("micro", floor(col("value") * lit(1e6)).cast("long"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("micro"))
        .repartition(8)
        .write.mode("overwrite").parquet(out)
      val (fs, root) = graft.Fs.fileSystem(s, out)
      val committed = graft.Fs.listDataFiles(s, out)
      val conf = s.sessionState.newHadoopConf()
      // plant an aged uncommitted duplicate of a real part (schema-valid
      // rows that MUST NOT be readable after vacuum) ...
      val src = new org.apache.hadoop.fs.Path(committed.head)
      val orphan = new org.apache.hadoop.fs.Path(out, "part-orphan-crashed.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, orphan, false, true, conf)
      fs.setTimes(orphan, System.currentTimeMillis() - 3600L * 1000, -1)
      // ... and a committer staging tree from the same "crash" — aged past
      // the gate (r12: _temporary is age-gated too, so a live writer's
      // staging area survives; a crashed one's does not)
      val tmp = new org.apache.hadoop.fs.Path(out, "_temporary/0/task_000/part-00000.parquet")
      fs.mkdirs(tmp.getParent)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, tmp, false, true, conf)
      fs.setTimes(tmp, System.currentTimeMillis() - 3600L * 1000, -1)
      val (gone_dirs, gone_files) = graft.Fs.vacuum(s, out,
        committed.toSet, minAgeMs = 600L * 1000, nowMs = System.currentTimeMillis())
      require(gone_dirs.nonEmpty && gone_files.nonEmpty,
        s"vacuum must remove the planted debris, got $gone_dirs / $gone_files")
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum("micro").as("sum_micro"),
          countDistinct(col("event_id")).as("n_distinct"))
        .orderBy("event_type")
    }),

    // A — TIME TRAVEL via version manifests (added r11): the lakehouse
    // snapshot-isolation primitive — every commit records its file list
    // in a version manifest (`_manifests/vN.txt`, a hidden control file:
    // Fs.writeUtf8), and a reader AT version N opens exactly that list,
    // never the directory. The key commits v1, APPENDS a second batch
    // into the SAME directory as v2, then reads both versions through
    // their manifests: the v1 aggregate must exclude the later files
    // sitting right next to its own (a directory read could not), and
    // the v2 aggregate must see both. Oracle recomputes both snapshots
    // from source — the hash proves snapshot isolation AND manifest
    // completeness in one readout. At 100 TB this IS the Delta/Iceberg
    // read path: manifests are metadata-sized, version selection costs
    // one control-file read, zero data movement.
    "store_time_travel" -> ((s, d) => {
      val out = scratch("events_time_travel")
      val outDir = new java.io.File(out)
      if (outDir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(outDir)
      val ev = Tables.events(s, d)
        .withColumn("micro", floor(col("value") * lit(1e6)).cast("long"))
        .select(col("event_id"), col("event_type"), col("micro"))
      ev.where(col("event_id") % 3 === 0)
        .repartition(4).write.mode("overwrite").parquet(out)
      graft.Fs.writeUtf8(s, s"$out/_manifests/v1.txt",
        graft.Fs.listDataFiles(s, out).mkString("\n"))
      ev.where(col("event_id") % 3 === 1)
        .repartition(4).write.mode("append").parquet(out)
      graft.Fs.writeUtf8(s, s"$out/_manifests/v2.txt",
        graft.Fs.listDataFiles(s, out).mkString("\n"))
      def snapshot(v: Long): DataFrame = {
        val files = graft.Fs.readUtf8(s, s"$out/_manifests/v$v.txt")
          .getOrElse(sys.error(s"missing manifest v$v")).split("\n").toSeq
        s.read.parquet(files: _*)
          .agg(count(lit(1)).as("n_events"), sum("micro").as("sum_micro"))
          .select(lit(v).as("version"), col("n_events"), col("sum_micro"))
      }
      snapshot(1L).unionByName(snapshot(2L)).orderBy("version")
    }),

    // A — SHALLOW CLONE (added r12): the zero-copy snapshot primitive —
    // a clone is a MANIFEST COPY, not a data copy (Delta SHALLOW CLONE /
    // Iceberg snapshot ref): the clone directory holds ONE control file
    // pointing at the source's committed files and NO part files (the
    // key asserts that), so cloning a 100 TB store costs one metadata
    // write. The key commits v1, clones it, then APPENDS v2 to the
    // source: the clone must keep reading exactly the v1 snapshot while
    // the source sees both batches — clone isolation under source
    // evolution, the property that makes clones safe for dev/test/audit
    // against production stores. Oracle recomputes both aggregates from
    // source, so the hash proves isolation AND manifest completeness.
    "store_clone" -> ((s, d) => {
      val src = scratch("events_clone_src")
      val dst = scratch("events_clone_dst")
      Seq(src, dst).foreach { p =>
        val f = new java.io.File(p)
        if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
      }
      val ev = Tables.events(s, d)
        .withColumn("micro", floor(col("value") * lit(1e6)).cast("long"))
        .select(col("event_id"), col("micro"))
      ev.where(col("event_id") % 2 === 0)
        .repartition(4).write.mode("overwrite").parquet(src)
      graft.Fs.writeUtf8(s, s"$src/_manifests/v1.txt",
        graft.Fs.listDataFiles(s, src).mkString("\n"))
      // the clone IS this one control-file write — zero data movement
      graft.Fs.writeUtf8(s, s"$dst/_manifests/v1.txt",
        graft.Fs.readUtf8(s, s"$src/_manifests/v1.txt").get)
      // source evolves after the clone
      ev.where(col("event_id") % 2 === 1)
        .repartition(4).write.mode("append").parquet(src)
      graft.Fs.writeUtf8(s, s"$src/_manifests/v2.txt",
        graft.Fs.listDataFiles(s, src).mkString("\n"))
      require(graft.Fs.listDataFiles(s, dst).isEmpty,
        "a shallow clone must hold no data files of its own")
      def snap(tag: String, manifest: String): DataFrame = {
        val files = graft.Fs.readUtf8(s, manifest)
          .getOrElse(sys.error(s"missing manifest $manifest")).split("\n").toSeq
        s.read.parquet(files: _*)
          .agg(count(lit(1)).as("n_events"), sum("micro").as("sum_micro"))
          .select(lit(tag).as("snapshot"), col("n_events"), col("sum_micro"))
      }
      snap("clone", s"$dst/_manifests/v1.txt")
        .unionByName(snap("source", s"$src/_manifests/v2.txt"))
        .orderBy("snapshot")
    }),

    // A — CHANGE DATA FEED between store versions (added r12): the CDC
    // read path a versioned store serves (Delta CDF's table_changes) —
    // row-grain insert/delete/update rows derived by comparing two
    // MANIFEST-committed snapshots living in the SAME directory. v2 is a
    // copy-on-write rewrite (its manifest lists only the new files; v1's
    // files sit untouched beside them — the time-travel layout), with
    // the correction derivable from source so the oracle can recompute:
    // 'error' rows purged (deletes), click micros doubled (updates,
    // old+new values on one row), purchase rows re-keyed +10M (inserts —
    // store_diff's documented fixture-synthesis envelope, valid while
    // the corpus holds < 10M events). Unchanged rows are NOT emitted
    // (the CDF contract: downstream consumers apply the delta, never
    // rescan the table). One co-partitioned full-outer join on the key —
    // at 100 TB both snapshots hash-partition on event_id and the diff
    // is exchange-aligned; the feed is change-sized, not table-sized.
    "store_cdc_read" -> ((s, d) => {
      val out = scratch("events_cdc_store")
      val outDir = new java.io.File(out)
      if (outDir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(outDir)
      val base = Tables.events(s, d)
        .withColumn("micro", floor(col("value") * lit(1e6)).cast("long"))
        .select(col("event_id"), col("event_type"), col("micro"))
      base.repartition(4).write.mode("overwrite").parquet(out)
      val v1Files = graft.Fs.listDataFiles(s, out)
      graft.Fs.writeUtf8(s, s"$out/_manifests/v1.txt", v1Files.mkString("\n"))
      val corrected = base.where(col("event_type") =!= "error")
        .withColumn("micro",
          when(col("event_type") === "click", col("micro") * 2).otherwise(col("micro")))
        .unionByName(base.where(col("event_type") === "purchase")
          .withColumn("event_id", col("event_id") + lit(10000000L)))
      corrected.repartition(4).write.mode("append").parquet(out)
      val v2Files = graft.Fs.listDataFiles(s, out).filterNot(v1Files.toSet)
      graft.Fs.writeUtf8(s, s"$out/_manifests/v2.txt", v2Files.mkString("\n"))
      def snap(v: Int): DataFrame = s.read.parquet(
        graft.Fs.readUtf8(s, s"$out/_manifests/v$v.txt").get.split("\n").toSeq: _*)
      val o = snap(1).select(col("event_id"), col("micro").as("micro_old"),
        lit(1).as("in_old"))
      val n = snap(2).select(col("event_id"), col("micro").as("micro_new"),
        lit(1).as("in_new"))
      o.join(n, Seq("event_id"), "full_outer")
        .withColumn("change",
          when(col("in_old").isNull, lit("insert"))
            .when(col("in_new").isNull, lit("delete"))
            .when(col("micro_old") =!= col("micro_new"), lit("update"))
            .otherwise(lit("unchanged")))
        .where(col("change") =!= "unchanged")
        .select(col("event_id"), col("change"), col("micro_old"), col("micro_new"))
        .orderBy("event_id")
    }),

    // A — DYNAMIC PARTITION OVERWRITE (added r11): the partition-grain
    // correction path every day-partitioned store needs — re-emit ONE
    // day's corrected rows with partitionOverwriteMode=dynamic and only
    // the touched partition is replaced; static overwrite semantics
    // (Spark's default) would WIPE the whole table on the same code.
    // The correction drops the target day's sub-1.0 values (a "purge bad
    // rows" repair, derivable from source so the oracle can recompute
    // it). The per-day aggregate read-back proves BOTH directions: the
    // untouched days must still hold every original row (a static wipe
    // loses them — and would hash-mismatch loudly), the target day must
    // hold exactly the corrected subset. Day values carry a 'd' prefix
    // so partition-column type inference can't silently turn the key
    // into a DATE on re-read. StoreSpec additionally pins the physical
    // contract: untouched partition files byte-identical (same names +
    // mtimes) across the correcting write.
    "store_partition_overwrite" -> ((s, d) => {
      val out = scratch("events_dyn_overwrite")
      val outDir = new java.io.File(out)
      if (outDir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(outDir)
      val ev = Tables.events(s, d)
        .withColumn("day", concat(lit("d"), date_format(col("ts"), "yyyy-MM-dd")))
        .withColumn("micro", floor(col("value") * lit(1e6)).cast("long"))
        .select(col("event_id"), col("day"), col("event_type"), col("micro"))
      ev.write.partitionBy("day").mode("overwrite").parquet(out)
      val target = "d2024-01-05"
      val corrected = ev.where(col("day") === target && col("micro") >= 1000000L)
      // Dynamic overwrite with an EMPTY corrected set writes no partitions
      // and silently leaves the stale one in place — a purge-everything
      // correction cannot be expressed this way (it needs an explicit
      // partition drop, Fs.dropPartitions). Fail loudly instead of letting
      // the readback diverge quietly (r12, ADVICE).
      require(!corrected.isEmpty,
        s"empty corrected set for $target: dynamic overwrite would keep the stale partition")
      corrected.write.partitionBy("day").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(out)
      s.read.parquet(out)
        .groupBy("day")
        .agg(count(lit(1)).as("n_events"), sum("micro").as("sum_micro"))
        .orderBy("day")
    }),
  )

  // Each oracle recomputes the round-trip's output directly from the
  // source table (see object doc): if the write or the re-read mangled
  // anything — types, timestamp parsing, partition values — the hashes
  // diverge.
  val oracles: Map[String, String] = Map(
    "filter_trigger_cooldown" ->
      """WITH k AS (
        |  SELECT user_id AS entity_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
        |         round(avg(value), 4) AS kpi_load, CAST(count(*) AS DOUBLE) AS kpi_burst
        |  FROM events GROUP BY 1, 2
        |),
        |prior AS (
        |  SELECT entity_id, rule, max(ts) AS p_ts FROM (
        |    SELECT entity_id, ts, 'load_high' AS rule FROM k
        |    WHERE kpi_load > 200 AND ts < TIMESTAMP '2024-01-16'
        |    UNION ALL
        |    SELECT entity_id, ts, 'burst' FROM k
        |    WHERE kpi_burst >= 2 AND ts < TIMESTAMP '2024-01-16'
        |  ) GROUP BY 1, 2
        |),
        |fresh AS (
        |  SELECT entity_id, ts, 'load_high' AS rule, 'major' AS severity,
        |         'kpi_load' AS kpi, kpi_load AS value
        |  FROM k WHERE kpi_load > 200 AND ts >= TIMESTAMP '2024-01-16'
        |  UNION ALL
        |  SELECT entity_id, ts, 'burst', 'warning', 'kpi_burst', kpi_burst
        |  FROM k WHERE kpi_burst >= 2 AND ts >= TIMESTAMP '2024-01-16'
        |)
        |SELECT f.entity_id, f.ts, f.rule, f.severity, f.kpi, f.value
        |FROM fresh f LEFT JOIN prior p
        |  ON p.entity_id = f.entity_id AND p.rule = f.rule
        | AND f.ts <= p.p_ts + INTERVAL 48 HOUR
        |WHERE p.entity_id IS NULL
        |ORDER BY f.rule, f.entity_id, f.ts""".stripMargin,
    "scan_csv_typed" ->
      """SELECT CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name,
        |       TIMESTAMP '2024-01-15 06:30:00' AS loaded_at
        |FROM region ORDER BY r_regionkey""".stripMargin,
    "scan_fixed_width" ->
      """SELECT CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name,
        |       CAST(r_regionkey * 100 + length(r_name) AS INTEGER) AS code,
        |       CASE WHEN r_regionkey % 2 = 0 THEN NULL ELSE 'URGENT' END AS note
        |FROM region ORDER BY r_regionkey""".stripMargin,
    "scan_csv_malformed" ->
      """SELECT CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name,
        |       CAST(NULL AS VARCHAR) AS _corrupt
        |FROM region
        |UNION ALL SELECT 7, 'TOOMANY', '7,TOOMANY,EXTRA'
        |UNION ALL SELECT NULL, 'GLITCH', '999x,GLITCH'
        |ORDER BY _corrupt NULLS FIRST, r_regionkey""".stripMargin,
    "scan_xml_typed" ->
      """SELECT concat('Network=G1,Node=', lpad(CAST(user_id AS VARCHAR), 3, '0')) AS dn,
        |       CAST(date_trunc('minute', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS ts,
        |       value AS kpi_load,
        |       CAST(event_id % 5 AS DOUBLE) AS kpi_err
        |FROM events WHERE event_id < 50
        |ORDER BY dn, ts, kpi_load, kpi_err""".stripMargin,
    "scan_jsonl" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin,
    "scan_orc" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin,
    "scan_binary" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS content_hash
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "scan_avro_typed" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |       nullif(event_type, 'click') AS maybe_type, value
        |FROM events WHERE event_id < 400 ORDER BY event_id""".stripMargin,
    "scan_parquet_pruned" ->
      """SELECT CAST(ts AS DATE) AS d, count(*) AS cnt,
        |       round(sum(value), 4) AS sum_value
        |FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-04'
        |GROUP BY d ORDER BY d""".stripMargin,
    "sink_partitioned" ->
      """SELECT CAST(ts AS DATE) AS d, count(*) AS cnt
        |FROM events GROUP BY d ORDER BY d""".stripMargin,
    "store_minmax_prune" ->
      """WITH mu AS (SELECT max(user_id) AS m FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
        |         AS sum_value_microunits
        |FROM events CROSS JOIN mu
        |WHERE user_id >= m // 10 AND user_id <= (3 * m) // 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "store_stats_ndv" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |         CAST(floor(l_quantity * 1e6) AS BIGINT) AS qq,
        |         CAST(floor(l_extendedprice * 1e6) AS BIGINT) AS pq,
        |         CAST(floor(l_discount * 1e6) AS BIGINT) AS dq,
        |         l_returnflag
        |  FROM lineitem
        |)
        |SELECT 'l_discount' AS "column", count(*) AS n_rows,
        |       count(*) - count(dq) AS n_null,
        |       CAST(count(DISTINCT dq) AS BIGINT) AS ndv,
        |       min(dq) AS min_q, max(dq) AS max_q FROM li
        |UNION ALL
        |SELECT 'l_extendedprice', count(*), count(*) - count(pq),
        |       CAST(count(DISTINCT pq) AS BIGINT), min(pq), max(pq) FROM li
        |UNION ALL
        |SELECT 'l_orderkey', count(*), count(*) - count(l_orderkey),
        |       CAST(count(DISTINCT l_orderkey) AS BIGINT),
        |       min(l_orderkey), max(l_orderkey) FROM li
        |UNION ALL
        |SELECT 'l_quantity', count(*), count(*) - count(qq),
        |       CAST(count(DISTINCT qq) AS BIGINT), min(qq), max(qq) FROM li
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |       CAST(count(DISTINCT l_returnflag) AS BIGINT),
        |       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM li
        |ORDER BY "column"""".stripMargin,
    // incremental-manifest completeness: the pruned range aggregate over
    // BOTH file generations must equal the recompute from the full source
    "store_manifest_merge" ->
      """WITH mu AS (SELECT max(user_id) AS m FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
        |         AS sum_value_microunits
        |FROM events CROSS JOIN mu
        |WHERE user_id >= m // 10 AND user_id <= (3 * m) // 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // point-lookup completeness: the probed aggregates must equal the
    // same aggregates straight off the source (a bloom false negative =
    // a missing file = missing rows = hash divergence)
    "store_bloom_prune" ->
      """WITH mu AS (SELECT max(user_id) AS m FROM events)
        |SELECT user_id, count(*) AS n,
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
        |         AS sum_value_microunits
        |FROM events CROSS JOIN mu
        |WHERE user_id IN (2 * (m // 10), 5 * (m // 10), 8 * (m // 10))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // compaction losslessness: the aggregate over the compacted copy must
    // equal the same aggregate straight off the source table
    "store_compact_files" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
        |         AS sum_value_microunits
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "scan_csv_gzip" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(epoch_us(CAST(ts AS TIMESTAMP)) % 1000000007) AS BIGINT)
        |         AS ts_checksum,
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
        |         AS sum_value_microunits
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "scan_csv_multiline" ->
      """WITH t AS (
        |  SELECT source, replace(text, ' ', chr(10)) AS t2 FROM documents
        |)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(len(t2)) AS BIGINT) AS n_chars,
        |       CAST(sum(len(string_split(t2, chr(10)))) AS BIGINT) AS n_lines
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "store_zorder" ->
      """WITH c AS (
        |  SELECT c_nationkey, CAST(floor(c_acctbal * 100.0) AS BIGINT) AS cents,
        |         CAST(LEAST(floor((c_acctbal + 1000.0) / 1375.0), 7.0) AS INT) AS xb,
        |         CAST(c_nationkey % 8 AS INT) AS yb
        |  FROM customer
        |)
        |SELECT c_nationkey, count(*) AS n_cust, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM c
        |WHERE xb BETWEEN 2 AND 5 AND yb BETWEEN 1 AND 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "store_zorder_range" ->
      """WITH c AS (
        |  SELECT c_nationkey, CAST(floor(c_acctbal * 100.0) AS BIGINT) AS cents,
        |         CAST(LEAST(floor((c_acctbal + 1000.0) / 172.0), 63.0) AS INT) AS xb,
        |         CAST(c_custkey % 64 AS INT) AS yb
        |  FROM customer
        |)
        |SELECT c_nationkey, count(*) AS n_cust, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM c
        |WHERE xb BETWEEN 8 AND 23 AND yb BETWEEN 16 AND 47
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "store_zorder_3d" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(user_id % 16 AS INT) AS ub,
        |         CAST((day(CAST(ts AS TIMESTAMP)) - 1) % 16 AS INT) AS db,
        |         CAST(LEAST(floor(value / 31.0), 15.0) AS INT) AS vb,
        |         CAST(floor(value * 1e6) AS BIGINT) AS micro
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_events, CAST(sum(micro) AS BIGINT) AS sum_micro
        |FROM e
        |WHERE ub BETWEEN 4 AND 11 AND db BETWEEN 3 AND 12 AND vb BETWEEN 5 AND 13
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "store_time_travel" ->
      """SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_events,
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro
        |FROM events WHERE event_id % 3 = 0
        |UNION ALL
        |SELECT 2, count(*),
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
        |FROM events WHERE event_id % 3 IN (0, 1)
        |ORDER BY version""".stripMargin,
    "store_clone" ->
      """SELECT 'clone' AS snapshot, count(*) AS n_events,
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT 'source', count(*),
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
        |FROM events
        |ORDER BY snapshot""".stripMargin,
    "store_cdc_read" ->
      """WITH base AS (
        |  SELECT event_id, event_type, CAST(floor(value * 1e6) AS BIGINT) AS micro
        |  FROM events
        |),
        |nxt AS (
        |  SELECT event_id, event_type,
        |         CASE WHEN event_type = 'click' THEN micro * 2 ELSE micro END AS micro
        |  FROM base WHERE event_type <> 'error'
        |  UNION ALL
        |  SELECT event_id + 10000000, event_type, micro
        |  FROM base WHERE event_type = 'purchase'
        |),
        |j AS (
        |  SELECT coalesce(b.event_id, n.event_id) AS event_id,
        |         CASE WHEN b.event_id IS NULL THEN 'insert'
        |              WHEN n.event_id IS NULL THEN 'delete'
        |              WHEN b.micro <> n.micro THEN 'update'
        |              ELSE 'unchanged' END AS change,
        |         b.micro AS micro_old, n.micro AS micro_new
        |  FROM base b FULL JOIN nxt n ON b.event_id = n.event_id
        |)
        |SELECT event_id, change, micro_old, micro_new FROM j
        |WHERE change <> 'unchanged'
        |ORDER BY event_id""".stripMargin,
    "store_partition_overwrite" ->
      """WITH e AS (
        |  SELECT event_id,
        |         concat('d', strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')) AS day,
        |         CAST(floor(value * 1e6) AS BIGINT) AS micro
        |  FROM events
        |)
        |SELECT day, count(*) AS n_events, CAST(sum(micro) AS BIGINT) AS sum_micro
        |FROM e
        |WHERE day <> 'd2024-01-05' OR micro >= 1000000
        |GROUP BY day ORDER BY day""".stripMargin,
    "store_vacuum" ->
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro,
        |       count(DISTINCT event_id) AS n_distinct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "scan_schema_merge" ->
      """SELECT 1 AS b, count(*) AS n, CAST(0 AS BIGINT) AS n_adj,
        |       round(sum(value), 4) AS sum_value
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT 2, count(*), count(*), round(sum(value), 4)
        |FROM events WHERE event_id % 2 = 1
        |ORDER BY b""".stripMargin,
    "store_retention" ->
      """WITH e AS (
        |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d, value
        |  FROM events
        |)
        |SELECT d, count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM e WHERE d >= '2024-01-04' GROUP BY d ORDER BY d""".stripMargin,
  )
}
