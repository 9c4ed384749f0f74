package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2 section I): tumbling /
  * sliding / session windows, watermarked dedup, and explicit per-key state
  * — the Spark-native re-expression of the reference's near-real-time
  * harvesting + late-data-aware materialization.
  *
  * Each entry runs a REAL streaming query (file source → incremental
  * execution with state store → memory sink), drains it, and returns the
  * sink contents as a DataFrame. Because the bounded replay fits one
  * micro-batch and aggregations run in Complete mode, the drained result
  * equals the batch twin — which is what makes these keys oracle-checkable
  * (the scalatest suite additionally exercises true multi-batch behavior:
  * late-data drop, cross-batch dedup, state timeouts via MemoryStream).
  *
  * At scale the same plans run unchanged against a Kafka/file stream with
  * checkpointing: state is keyed by (window, entity) / user, so it shards
  * across executors; watermark = the reference's stability delay.
  */
object Streams {
  type Q = (SparkSession, String) => DataFrame

  /** Explicit schema for the events stream (file sources require one).
    * This is the nanos-generation baseline (ts as TIMESTAMP(NANOS) parquet,
    * read as long and truncated to µs exactly like Tables.events); when the
    * batch footer reports a native timestamp layout instead, eventsStream
    * swaps the ts field for the DETECTED batch dataType before reading. */
  private val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** List a directory's matching files sorted by name, CLOSING the
    * `Files.list` stream (each leaks a directory fd otherwise — r7
    * ADVICE; the staging helpers re-list per uncached source dir, so the
    * leak was unbounded across a long session). */
  private def listFiles(dir: java.nio.file.Path,
      keep: java.nio.file.Path => Boolean): Array[java.nio.file.Path] = {
    val st = java.nio.file.Files.list(dir)
    try st.filter(p => keep(p)).sorted()
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
    finally st.close()
  }

  /** Race-safe staging for the cached stream source dirs (r7 ADVICE):
    * `populate` fills a process-unique temp sibling (sentinel included),
    * which is then ATOMICALLY renamed into place — a concurrent session
    * either wins the rename or sees the winner's complete dir; nobody
    * ever lists a partially-linked one. A stale pre-fix dir (no
    * `_staged` sentinel — an interrupted run, or the r6 code's
    * dir-shaped symlink layout) is deleted before staging rather than
    * trusted. */
  private def stageAtomically(dir: java.nio.file.Path)(
      populate: java.nio.file.Path => Unit): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    if (Files.exists(dir) && !Files.exists(dir.resolve("_staged")))
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    // reclaim orphaned temp siblings from hard-killed sessions (SIGKILL
    // between createDirectories and the finally): each carries a full
    // staged copy under a fresh UUID, so without this sweep crashed runs
    // accumulate unbounded corpus copies in tmpdir (r8 review catch).
    // Only siblings idle > 15 min are swept — a LIVE concurrent stager's
    // tmp is at most minutes old (staging is symlink/copy work), so the
    // age gate keeps this from yanking a racer's dir mid-populate.
    if (Files.exists(dir.getParent)) {
      val staleBefore = System.currentTimeMillis() - 15L * 60 * 1000
      listFiles(dir.getParent, p =>
          p.getFileName.toString.startsWith(s"${dir.getFileName}.tmp-") &&
            Files.getLastModifiedTime(p).toMillis < staleBefore)
        .foreach(p => org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
    }
    val tmp = dir.resolveSibling(
      s"${dir.getFileName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.createDirectories(tmp)
    try {
      populate(tmp)
      Files.createFile(tmp.resolve("_staged"))
      try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      catch { // lost the race: the winner's dir is complete — use it
        case _: java.nio.file.FileAlreadyExistsException
           | _: java.nio.file.AccessDeniedException
           | _: java.nio.file.FileSystemException
          if Files.exists(dir.resolve("_staged")) =>
      }
    } finally
      if (Files.exists(tmp))
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  private[graft] def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The file stream source requires a directory of FILES; stage the
    // table behind symlinks (a real deployment points at the ingest dir).
    // The source table is either a single parquet file (the driver's
    // testdata layout) or a Spark-written DIRECTORY of part files (the
    // 10× derived corpora) — link the part files themselves in the second
    // case: the file source lists plain files and does NOT recurse into a
    // dir-shaped symlink, which made every derived-corpus stream drain
    // ZERO rows (caught by the r7 stream_kalman scale probe — the r7
    // SCALE_full streaming rows carried the same vacuous ~0.17 s).
    // A symlink target is resolved against the link's directory, not the
    // cwd: link the absolute path, and key the staging dir on it, or a
    // relative data dir leaves a dangling link and the stream drains 0 rows.
    import java.nio.file.{Files, Paths}
    val base = Paths.get(d).toAbsolutePath.normalize
    val src = base.resolve("events.parquet")
    val dir = Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_src",
      Integer.toHexString(base.toString.hashCode))
    if (!Files.exists(dir.resolve("_staged"))) stageAtomically(dir) { tmp =>
      if (Files.isDirectory(src)) {
        val parts = listFiles(src, _.getFileName.toString.endsWith(".parquet"))
        parts.zipWithIndex.foreach { case (p, i) =>
          Files.createSymbolicLink(tmp.resolve(f"events$i%05d.parquet"), p)
        }
      } else Files.createSymbolicLink(tmp.resolve("events.parquet"), src)
    }
    // Same two-generation ts handling as Tables.events: branch on the
    // footer schema (one cheap metadata read). The stream schema carries
    // the DETECTED batch dataType — not a hardcoded NTZ — so a third
    // layout (e.g. TIMESTAMP(MICROS, adjustedToUTC) reading as LTZ
    // TimestampType in batch) streams under the same declared type it
    // batches under instead of failing against an NTZ declaration; the
    // per-type normalization then mirrors Tables.events' match exactly.
    val tsType = s.read.parquet(s"$d/events.parquet").schema("ts").dataType
    val raw = s.readStream
      .schema(StructType(eventsRawSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = tsType) else f)))
      .parquet(dir.toString)
    tsType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }

  private val documentsRawSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Stage the documents table as 4 doc-id-range chunk files with strictly
    * increasing modification times — the file stream source's ingest
    * order — so `maxFilesPerTrigger=1` replays the corpus as 4 ordered
    * micro-batches (a real deployment points at the ingest directory and
    * skips this). Cached per source dir, same discipline as
    * [[eventsStream]]'s symlink staging. */
  private def documentChunks(s: SparkSession, d: String): String = {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_docs",
      Integer.toHexString(d.hashCode))
    if (!java.nio.file.Files.exists(dir.resolve("_staged")))
      stageAtomically(dir) { tmp =>
        val docs = graft.Tables.documents(s, d)
        // split on the ACTUAL [min,max] id range (r7 ADVICE: the old
        // `max+1` quarters assumed 0-based non-negative ids — a negative
        // id fell outside every chunk and was silently dropped from the
        // stream), and guard the empty corpus: zero docs stage one empty
        // chunk file so the stream still has a (rowless) file to replay.
        val mm = docs.agg(min("doc_id"), max("doc_id")).head()
        val ranges: Seq[(Long, Long)] =
          if (mm.isNullAt(0)) Seq((0L, 0L)) // empty: one vacuous chunk
          else {
            val (lo0, hi) = (mm.getLong(0), mm.getLong(1) + 1)
            val span = hi - lo0
            (0 until 4).map(i =>
              (lo0 + span * i / 4, lo0 + span * (i + 1) / 4))
          }
        ranges.zipWithIndex.foreach { case ((lo, up), i) =>
          val staging = tmp.resolve(s"_staging$i")
          docs.where(col("doc_id") >= lo && col("doc_id") < up)
            .coalesce(1).write.mode("overwrite").parquet(staging.toString)
          // hoist the single part file up as a plain chunk FILE (the file
          // source lists files, not parquet dirs), mtimes a second apart:
          // unambiguous ingest order
          val part = listFiles(staging,
            _.getFileName.toString.endsWith(".parquet")).head
          val chunk = tmp.resolve(f"chunk$i%02d.parquet")
          java.nio.file.Files.move(part, chunk,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          chunk.toFile.setLastModified(1700000000000L + i * 1000L)
          org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
        }
      }
    dir.toString
  }

  /** Stage events as 4 ARRIVAL-ORDER chunk files for the late-data replay
    * (added r9): on-time rows arrive in event-time quartile order (chunk i
    * = quartile i), while a deterministic late cohort — rows with
    * md5(event_id) % 8 == 0 inside the md5-chosen quarter of DAY buckets
    * — is withheld until the LAST chunk regardless of event time. Chunk
    * mtimes are strictly increasing so `maxFilesPerTrigger=1` replays them
    * as 4 ordered micro-batches. Cached per source dir, same atomic
    * staging discipline as [[documentChunks]]. */
  private def lateEventChunks(s: SparkSession, d: String): String = {
    // the cohort layout is baked into the staged chunks — version the
    // cache dir so a layout change re-stages instead of silently replaying
    // the previous cohort (v2 = day-grain md5 cohort)
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_late_v2",
      Integer.toHexString(d.hashCode))
    if (!java.nio.file.Files.exists(dir.resolve("_staged")))
      stageAtomically(dir) { tmp =>
        val ev = graft.Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
        val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
        // empty-corpus guard (the documentChunks discipline): degenerate
        // bounds make every quartile filter empty, staging 4 rowless chunks
        val (lo, hi) = if (mm.isNullAt(0)) (0L, 1L) else (mm.getLong(0), mm.getLong(1) + 1)
        val span = math.max(hi - lo, 1L)
        val tagged = ev
          .withColumn("q", least((unix_micros(col("ts")) - lit(lo)) * 4 / lit(span), lit(3L))
            .cast("long"))
          .withColumn("late",
            (conv(substring(md5(date_format(date_trunc("day", col("ts")),
              "yyyy-MM-dd")), 1, 4), 16, 10).cast("long") % 4 === 0)
              && (conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10)
                .cast("long") % 8 === 0))
        (0 to 3).foreach { i =>
          val part =
            if (i < 3) tagged.where(col("q") === i && !col("late"))
            else tagged.where((col("q") === 3 && !col("late")) || col("late"))
          val staging = tmp.resolve(s"_staging$i")
          part.select("event_id", "ts", "user_id", "event_type", "value")
            .coalesce(1).write.mode("overwrite").parquet(staging.toString)
          val pf = listFiles(staging,
            _.getFileName.toString.endsWith(".parquet")).head
          val chunk = tmp.resolve(f"chunk$i%02d.parquet")
          java.nio.file.Files.move(pf, chunk,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          chunk.toFile.setLastModified(1700000000000L + i * 1000L)
          org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
        }
      }
    dir.toString
  }

  /** Run a streaming DataFrame to completion into a memory sink, return the
    * sink table. The checkpoint lives under java.io.tmpdir per query name.
    *
    * Stateful-operator parallelism (= state-store instance count) is frozen
    * from spark.sql.shuffle.partitions at query start and every micro-batch
    * pays a fixed cost per instance — so it must track STATE VOLUME, not
    * host cores. On a 32-core bench host the session default of 32 made
    * each streaming key ~4x slower than an 8-partition run of the same
    * bounded replay. Cap it while the query starts, restore after (a real
    * deployment sizes this by keyspace and scales executors under it). */
  private def drain(s: SparkSession, df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft_ckpt_$name").toString
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      math.min(prev.toInt, 8).toString)
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  /** [[drain]]'s sibling for real sinks: runs the streaming DataFrame to
    * completion through a `foreachBatch` callback instead of a memory
    * sink — the shape for keys whose sink is a store write. Same
    * shuffle-partition cap discipline as drain (state-store instance
    * count tracks state volume, not host cores). */
  private def drainForeach(s: SparkSession, df: DataFrame, name: String,
      mode: OutputMode)(f: (DataFrame, Long) => Unit): Unit = {
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft_ckpt_$name").toString
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      math.min(prev.toInt, 8).toString)
    try {
      val q = df.writeStream
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: Dataset[Row], id: Long) => f(b.toDF(), id))
        .start()
      q.processAllAvailable()
      q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Runs `f` with the RocksDB state store provider (required by the
    * arbitrary-state-v2 `transformWithState` operator), restoring the
    * previous provider after — the same conf discipline as drain's
    * partition cap. */
  private def withRocksDb[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Near-real-time harvest into a trend store: each micro-batch upserts
    * last-writer-wins on (entity_id, ts) via `TrendStore.upsert` — the
    * reference's harvester loop (parse → resolve → COPY/upsert) as a
    * `foreachBatch` sink. Because the upsert is idempotent per key, a
    * micro-batch replayed after a failure converges to the same store
    * contents: effective exactly-once without a transactional sink.
    * The input must carry (entity_id, ts, store.counters...). */
  def harvestIntoTrendStore(events: DataFrame, store: graft.store.TrendStore,
                            granularity: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        store.upsert(batch.toDF(), granularity)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  val queries: Map[String, Q] = Map(
    // I1 — tumbling 1 h windows per event type with a 10 min watermark
    // (late rows older than the watermark are dropped once it advances;
    // the multi-batch behavior is asserted in StreamingSpec).
    "stream_tumbling" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_value"))
      drain(s, agg, "graft_stream_tumbling", OutputMode.Complete())
        .select(col("window.start").as("bucket"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("bucket", "event_type")
    }),

    // I2 — sliding windows: 1 h length, 15 min slide (each event lands in 4
    // overlapping windows).
    "stream_sliding" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_value"))
      drain(s, agg, "graft_stream_sliding", OutputMode.Complete())
        .select(col("window.start").as("w_start"), col("cnt"), col("sum_value"))
        .orderBy("w_start")
    }),

    // I3 — session windows per user, 30 min inactivity gap.
    "stream_session" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      drain(s, agg, "graft_stream_session", OutputMode.Complete())
        .select(col("session_window.start").as("s_start"), col("user_id"),
          col("n_events"), col("sum_value"))
        .orderBy("s_start", "user_id")
    }),

    // I4 — watermarked exactly-once ingest: duplicates of event_id within
    // the watermark horizon are dropped (true cross-batch dedup is
    // asserted in StreamingSpec; on this bounded replay the output equals
    // DISTINCT input, aggregated per type for a stable compare).
    "stream_dedup" -> ((s, d) => {
      val deduped = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
      val out = drain(s, deduped, "graft_stream_dedup", OutputMode.Append())
      out.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), countDistinct(col("event_id")).as("n_ids"))
        .orderBy("event_type")
    }),

    // I6 — stream-static enrichment join: the event stream joins a static
    // weight dimension (stateless — no watermark needed for the join
    // itself, and at scale the static side broadcasts to every task),
    // then aggregates weighted value per hour and type. The reference
    // shape: enriching a harvest stream against the entity/attribute
    // registry on the way in.
    "stream_static_join" -> ((s, d) => {
      import s.implicits._
      val weights = Seq(
        ("click", 1.0), ("view", 0.5), ("purchase", 2.0),
        ("signup", 1.5), ("error", 0.0)).toDF("event_type", "w")
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .join(weights, "event_type")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value") * col("w")), 4).as("wsum"))
      drain(s, agg, "graft_stream_static_join", OutputMode.Complete())
        .select(col("window.start").as("bucket"), col("event_type"),
          col("cnt"), col("wsum"))
        .orderBy("bucket", "event_type")
    }),

    // I7 — watermarked stream-stream join: click->purchase conversion
    // pairs within one hour, per user. Both sides carry watermarks and the
    // join condition bounds event time on both ends, so the state store
    // can evict rows once the watermark passes — the unbounded-state trap
    // of stream-stream joins is handled by construction. Inner-join
    // matches emit as they arrive; the drained result is aggregated to a
    // stable per-user count.
    "stream_stream_join" -> ((s, d) => {
      val clicks = eventsStream(s, d)
        .where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = eventsStream(s, d)
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        expr("user_id = p_user AND p_ts >= click_ts AND p_ts <= click_ts + interval 1 hour"))
      val out = drain(s, joined, "graft_stream_stream_join", OutputMode.Append())
      out.groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    }),

    // I5 — explicit per-user state (flatMapGroupsWithState): running event
    // count and maximum inter-event gap in seconds — the reference's
    // stability-delay / gap-detection analogue. Events are sorted by ts
    // inside each group invocation so the fold is deterministic.
    // I8 — streaming counter→delta (added r4): the counter-rate transform
    // as an ONLINE operator — each arriving sample emits its delta vs the
    // entity's previous sample, carried in keyed state across
    // micro-batches (the batch twin is win_lag_delta's lag window; the
    // bounded one-batch replay makes them equal, and StreamingSpec
    // exercises the cross-batch carry). Deltas are exact µ-unit longs in
    // state; the single divide happens at the sink edge.
    "stream_counter_rate" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("user_id"), floor(col("value") * 1e6).cast("long").as("yq"))
        .as[(Long, Long, Long, Long)]
      val deltas = typed
        .groupByKey(_._3)
        .transformWithState(new RateProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val out = withRocksDb(s) {
        drain(s, deltas.toDF("event_id", "user_id", "dq"),
          "graft_stream_counter_rate", OutputMode.Append())
      }
      out.select(col("event_id"), col("user_id"),
          (col("dq").cast("double") / 1e6).as("delta"))
        .orderBy("event_id")
    }),

    // I9 — online Holt smoothing (added r4): the (level, trend) recursion
    // as a STREAMING operator — per entity the state updates on every
    // arriving sample and emits the one-step forecast, which is how a
    // smoother actually deploys (the batch win_holt re-folds a trailing
    // frame per row; online state pays O(1) per sample and never
    // re-reads history). Same α=0.3/β=0.4 recursion, seeded (x₀, 0);
    // batch rows fold in (ts, event_id) order, so the one-batch replay
    // equals an UNBOUNDED sequential fold per entity — which is exactly
    // the oracle (win_holt's list_reduce without the frame bound). The
    // emitted doubles are bit-identical to the oracle's fold (identical
    // IEEE op order); the floor quantization happens at the sink edge.
    "stream_holt" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("user_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      val smoothed = typed
        .groupByKey(_._3)
        .transformWithState(new HoltProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val out = withRocksDb(s) {
        drain(s, smoothed.toDF("event_id", "user_id", "f"),
          "graft_stream_holt", OutputMode.Append())
      }
      out.select(col("event_id"), col("user_id"),
          expr("floor(f * 1e4) / 1e4").as("holt_forecast"))
        .orderBy("event_id")
    }),

    // I9b — online EWMA variance (added r12): the RiskMetrics recursion
    // var ← 0.94·var + 0.06·r² as a STREAMING operator — the volatility
    // monitor deployed shape (the batch win_ewm_var re-folds a trailing
    // 16-return frame per row; online state pays O(1) per sample: last
    // µ-unit sample + running var). Returns are exact µ-unit long
    // differences; first-ever sample emits nothing, the second seeds
    // var = r₁². Batch rows fold in (ts, event_id) order, so the
    // one-batch replay equals the UNBOUNDED sequential fold per entity —
    // exactly the oracle (win_ewm_var's list_reduce without the frame
    // bound). Emitted doubles are bit-identical to the oracle's fold;
    // floor quantization (var and the IEEE-exact sqrt vol) at the sink
    // edge.
    "stream_ewm_var" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("user_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      val scored = typed
        .groupByKey(_._3)
        .transformWithState(new EwmVarProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val out = withRocksDb(s) {
        drain(s, scored.toDF("event_id", "user_id", "v"),
          "graft_stream_ewm_var", OutputMode.Append())
      }
      out.select(col("event_id"), col("user_id"),
          expr("floor(v * 1e4) / 1e4").as("ewm_var"),
          expr("floor(sqrt(v) * 1e4) / 1e4").as("ewm_vol"))
        .orderBy("event_id")
    }),

    // I9b — online Kalman filtering (added r7): `win_kalman`'s adaptive-
    // gain smoother as keyed streaming state — (x̂, P) updates on every
    // arriving sample and emits the filtered estimate, O(1) per sample
    // with no history re-read (the batch key re-folds a trailing frame
    // per row). The gain story is WHY this deploys online: after a gap
    // or restart P has grown (or re-seeds), so K is large and the filter
    // locks on fast, then settles — an EWMA with fixed α can't do that.
    // Same Q=4/R=16 recursion and (z₀, R) seeding as the batch twin,
    // rows fold in (ts, event_id) order, so the one-batch replay equals
    // the oracle's UNBOUNDED sequential fold bit-for-bit; floor-1e-4 at
    // the sink edge.
    "stream_kalman" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("user_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      val filtered = typed
        .groupByKey(_._3)
        .transformWithState(new KalmanProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val out = withRocksDb(s) {
        drain(s, filtered.toDF("event_id", "user_id", "x"),
          "graft_stream_kalman", OutputMode.Append())
      }
      out.select(col("event_id"), col("user_id"),
          expr("floor(x * 1e4) / 1e4").as("kalman_est"))
        .orderBy("event_id")
    }),

    // I10 — online z-score anomaly scoring (added r4): Welford's
    // incremental (n, mean, M2) — THE numerically-stable streaming
    // variance algorithm — as keyed state; each arriving sample is scored
    // against the statistics of its entity's PRIOR samples only, then
    // folded in. The batch win_zscore_anomaly re-reads a trailing frame
    // per row; this pays O(1) state per sample with an expanding (all
    // history) baseline. The oracle replays the identical Welford update
    // order over each row's exclusive prefix, so the scores are
    // bit-identical before the sink-edge floor quantization.
    "stream_zscore" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("user_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      val scored = typed
        .groupByKey(_._3)
        .transformWithState(new WelfordProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val out = withRocksDb(s) {
        drain(s, scored.toDF("event_id", "user_id", "z"),
          "graft_stream_zscore", OutputMode.Append())
      }
      out.select(col("event_id"), col("user_id"),
          expr("floor(z * 1e4) / 1e4").as("z"))
        .orderBy("event_id")
    }),

    // I16 — streaming distribution-drift monitor (added r8): per tumbling
    // hour, the PSI of that window's value distribution against a STATIC
    // reference histogram (the training-time snapshot — the shape every
    // production model monitor runs: the reference is frozen at deploy,
    // the stream is binned live). The STREAMING stage is the watermarked
    // incremental (window × 8-bin) count — state is 8 counters per
    // window, exactly what the state store holds at any scale; the PSI
    // fold (Laplace add-1 smoothing, terms in bin order — the
    // agg_psi_drift arithmetic verbatim) runs on the drained
    // window-grain counts, because the fold needs the window's TOTAL and
    // re-folding per trigger would recompute every window on every
    // batch (the stream_topk aggregate-hot/rank-on-read separation).
    "stream_drift" -> ((s, d) => {
      def bin(c: org.apache.spark.sql.Column) =
        least(greatest(floor(c / 64), lit(0.0)), lit(7.0)).cast("long")
      // value IS NOT NULL on BOTH the stream and the reference — the agg
      // drift siblings' convention: Spark's least/greatest skip nulls, so
      // an unfiltered null would silently land in bin 0 (and DuckDB's
      // LEAST null semantics changed across versions — don't depend on
      // either engine's null-bin choice)
      val binned = eventsStream(s, d)
        .where(col("value").isNotNull)
        .withWatermark("ts", "10 minutes")
        .withColumn("bin", bin(col("value")))
        .groupBy(window(col("ts"), "1 hour"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val drained = drain(s, binned, "graft_stream_drift", OutputMode.Complete())
        .select(col("window.start").as("w_start"), col("bin"), col("c"))
      val bins = s.range(0, 8).select(col("id").as("bin"))
      val ref = bins
        .join(graft.Tables.events(s, d).where(col("value").isNotNull)
          .select(bin(col("value")).as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("c_ref")), Seq("bin"), "left")
        .na.fill(0L, Seq("c_ref"))
      val nRef = ref.agg(sum("c_ref").as("n_ref"))
      val dense = drained.select("w_start").distinct()
        .crossJoin(broadcast(bins))
        .join(drained, Seq("w_start", "bin"), "left")
        .na.fill(0L, Seq("c"))
      val tot = dense.groupBy("w_start").agg(sum("c").as("n_w"))
      dense.join(broadcast(ref), "bin")
        .join(broadcast(tot), "w_start")
        .crossJoin(broadcast(nRef))
        .withColumn("p_w", (col("c") + lit(1)).cast("double")
          / (col("n_w") + lit(8)).cast("double"))
        .withColumn("p_ref", (col("c_ref") + lit(1)).cast("double")
          / (col("n_ref") + lit(8)).cast("double"))
        .withColumn("term", (col("p_w") - col("p_ref")) * log(col("p_w") / col("p_ref")))
        .groupBy("w_start")
        .agg(max("n_w").cast("long").as("n_rows"),
          expr("floor(aggregate(array_sort(collect_list(named_struct('b', bin, 't', term))), " +
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.t) * 1e4) / 1e4").as("psi"))
        .orderBy("w_start")
    }),

    "stream_stateful" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select(col("user_id"), col("ts").cast("long").as("ts_sec"))
        .as[(Long, Long)]
      val agg: Dataset[(Long, Long, Long)] = typed
        .groupByKey(_._1)
        .transformWithState(new GapProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val out = withRocksDb(s) {
        drain(s, agg.toDF("user_id", "n_events", "max_gap_sec"),
          "graft_stream_stateful", OutputMode.Append())
      }
      out.orderBy("user_id")
    }),

    // I10' — streaming SCD2 APPLY (added r11): type-2 slowly-changing
    // dimension maintenance as a STREAM — the online form of
    // `store_scd2_merge`'s batch merge. Each user's event_type is treated
    // as an observed attribute; a change CLOSES the open version row
    // (emitted with valid_to = the new observation's time, Append mode)
    // and opens the next. State per key is ONE open row (segment,
    // valid_from, n_events) — constant per entity at any event volume,
    // the smallest state a versioned-dimension maintainer can carry.
    // Batch rows fold in (ts_sec, event_id) order inside the processor
    // (arrival order within a micro-batch is not meaningful); the batch
    // twin is the classic gaps-and-islands + lead() SCD2 derivation over
    // the same ordering, so the drained bounded replay is oracle-exact.
    // StreamingSpec proves the multi-batch form over MemoryStream (runs
    // spanning batch boundaries close correctly, state carries over).
    "stream_scd2_apply" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("ts_sec"), col("event_type"))
        .as[(Long, Long, Long, String)]
      val agg = typed.groupByKey(_._1)
        .transformWithState(new Scd2Processor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val out = withRocksDb(s) {
        drain(s, agg.toDF("user_id", "segment_value", "valid_from", "valid_to", "n_events"),
          "graft_stream_scd2_apply", OutputMode.Append())
      }
      out.orderBy("user_id", "valid_from", "valid_to", "segment_value")
    }),

    // I10'' — streaming POINT-IN-TIME enrichment (added r12, r11 VERDICT
    // #4): the composite a NOC actually runs — a live fact stream
    // enriched against the LIVE SCD-2 dimension with as-of semantics,
    // `join_scd2_pit`'s contract in streaming form. One stream carries
    // both row kinds (the CDC-topic shape): dimension observations
    // (event_id % 4 == 0; observed segment = event_type) maintain the
    // open version per entity, every other row is a FACT emitted with
    // the segment open AS OF its (ts, event_id) instant — a same-instant
    // dimension change applies first (the valid_from <= ts < valid_to
    // boundary), facts before any observation enrich as 'none' (the
    // left-join stance: a row, not a drop). Unlike stream_static_join's
    // frozen dimension, the dimension here CHANGES MID-STREAM and each
    // fact must see exactly the version its instant falls in. State per
    // entity is one (segment, last_ts) pair — constant at any volume;
    // monotone-replay asserted like Scd2State. Oracle = the batch PIT
    // derivation: carry-forward last dimension observation over the
    // (ts_sec, event_id) order (the asof union+last_value single-shuffle
    // shape). StreamingSpec proves cross-batch state carry and the
    // same-instant boundary over MemoryStream.
    "stream_scd2_enrich" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("ts_sec"), col("event_type"))
        .as[(Long, Long, Long, String)]
      val agg = typed.groupByKey(_._1)
        .transformWithState(new Scd2EnrichProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val out = withRocksDb(s) {
        drain(s, agg.toDF("user_id", "event_id", "ts_sec", "segment_asof"),
          "graft_stream_scd2_enrich", OutputMode.Append())
      }
      out.orderBy("user_id", "event_id")
    }),

    // I11 — streaming top-k (added r5): per tumbling hour, the 3 busiest
    // event types. The STREAMING stage is the watermarked incremental
    // count — state is one counter per (window, type), exactly what the
    // state store holds at any scale; the rank is applied to the drained
    // (already window-grain) aggregate, because a global rank inside a
    // micro-batch pipeline would re-rank every window on every trigger —
    // the separation every streaming leaderboard uses (aggregate hot,
    // rank on read). Ties break on event_type for determinism.
    "stream_topk" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val drained = drain(s, agg, "graft_stream_topk", OutputMode.Complete())
        .select(col("window.start").as("bucket"), col("event_type"), col("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy(col("cnt").desc, col("event_type"))
      drained.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .orderBy("bucket", "rk")
    }),

    // I11' — streaming trigger ESCALATION feed (added r8): the online form
    // of `filter_trigger_escalate`, split on the aggregate-hot /
    // fold-on-read line (the stream_topk separation): the STREAMING stage
    // is the watermarked per-(entity, hour) exact-integer KPI aggregation
    // — state is two longs per open window, bounded by the watermark at
    // any event volume — and the escalation ladder (gaps-and-islands
    // streaks → severity) runs on the drained window-grain rows via the
    // SHARED `Rel.escalateTail`, so the streaming feed and the batch twin
    // cannot desynchronize (one tail, one oracle). A NOC deployment runs
    // the same shape: alarms aggregate continuously, the escalation view
    // folds the alarm STREAM, not the raw events.
    "stream_escalate" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(col("event_type").as("entity_id"), window(col("ts"), "1 hour"))
        .agg(sum(floor(col("value") * 1e4).cast("long")).as("sq"),
          count(lit(1)).as("n"))
      val drained = drain(s, agg, "graft_stream_escalate", OutputMode.Complete())
        .select(col("entity_id"), col("window.start").as("ts"),
          (floor(col("sq").cast("double") / col("n")) / 1e4).as("kpi_load"))
      graft.queries.Rel.escalateTail(drained)
    }),

    // I11'' — streaming CUSUM drift feed (added r8): the online form of
    // the CUSUM control chart (`win_cusum` watches per-event drift in
    // batch; a NOC watches the HOURLY feed) on the aggregate-hot /
    // fold-on-read line: the STREAMING stage is the watermarked
    // per-(entity, hour) exact-integer deviation sum Σ(y − ref) at
    // ref = 50 (the fixture's KPI scale — state is ONE long per open
    // window, bounded by the watermark at any event volume), and the
    // running CUSUM + alarm (|cusum| > 500) fold over the drained
    // window-grain rows — a running sum over ~hours-sized output, never
    // events. Deviations accumulate in exact µ-unit longs under a total
    // (entity, hour) order, so the fold is order-free integer arithmetic
    // with single final IEEE divides — hash-exact against the batch SQL.
    "stream_cusum" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(col("event_type").as("entity_id"), window(col("ts"), "1 hour"))
        .agg(sum(floor(col("value") * 1e6).cast("long") - lit(50000000L)).as("devq"))
      val drained = drain(s, agg, "graft_stream_cusum", OutputMode.Complete())
        .select(col("entity_id"), col("window.start").as("ts"), col("devq"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("entity_id").orderBy("ts")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      drained
        .withColumn("cusq", sum(col("devq")).over(w))
        .select(col("entity_id"), col("ts"),
          (col("devq").cast("double") / 1e6).as("hourly_dev"),
          (col("cusq").cast("double") / 1e6).as("cusum"),
          (abs(col("cusq")) > lit(500000000L)).as("alarm"))
        .orderBy("entity_id", "ts")
    }),

    // I16 — streaming KMV distinct sketch (added r9): per-day distinct
    // users served from MERGEABLE SKETCH STATE — the streaming form of
    // `agg_kmv_distinct`, and the state-size story the exact streaming
    // distinct can't tell: `functions.Kmv` runs as the streaming
    // aggregation itself, so per open window the store holds ≤ k = 64
    // longs (the bottom-k md5 sketch) instead of the full distinct user
    // set — at 100 TB/day the difference between KBs and GBs of state
    // per window. Bottom-k of a set is a pure function of the set —
    // micro-batch arrival order and merge-tree shape cancel — so unlike
    // the HLL keys the drained sketch is DETERMINISTIC and the DuckDB
    // oracle reconstructs it in closed form (the agg_kmv_distinct
    // readout, per day). Both estimate branches live across fixtures
    // (sf0.001 days hold < 64 distinct users — sketch IS the set, exact;
    // sf0.1 days exceed k — the (k−1)/(h_k/2⁶⁰) estimate path).
    // I — streaming histogram quantiles (added r9): per-day p50/p90/p99
    // served from FIXED-BIN histogram state — the mergeable-summary
    // quantile the batch `agg_hist_quantile` key computes, maintained AS
    // the streaming aggregation. An open day's state is ≤ 40 (bucket,
    // count) longs regardless of traffic (exact quantiles would hold the
    // day's values; a histogram is the bounded-state trade a 100 TB/day
    // latency dashboard actually makes — same state story as
    // stream_kmv_distinct's bottom-k). Counts are exact integers and
    // arrival-order/merge-shape free, so the drained histogram is
    // deterministic and the readout (integer rank cuts + one linear
    // interpolation per quantile) matches the batch oracle bit for bit.
    "stream_hist_quantile" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .where(col("value").isNotNull)
        .withColumn("bucket",
          least(greatest(floor(col("value") / 25), lit(0.0)), lit(39.0)).cast("long"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 day"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val hist = drain(s, agg, "graft_stream_histq", OutputMode.Complete())
        .select(col("window.start").as("day"), col("bucket"), col("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("day").orderBy("bucket")
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("day")
      val cum = hist
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(wAll))
      val targets = cum.select("day", "n").distinct()
        .select(col("day"), col("n"), explode(expr(
          "array(named_struct('q', '50', 'tgt', (n + 1) div 2), " +
            "named_struct('q', '90', 'tgt', (9 * n + 9) div 10), " +
            "named_struct('q', '99', 'tgt', (99 * n + 99) div 100))")).as("t"))
        .select(col("day"), col("n"), col("t.q").as("q"), col("t.tgt").as("tgt"))
      targets.join(cum.select("day", "bucket", "cnt", "cum"), "day")
        .where(col("cum") >= col("tgt"))
        .groupBy("day", "q", "n", "tgt")
        .agg(min_by(struct(col("bucket"), col("cnt"), col("cum")), col("bucket")).as("b"))
        .select(col("day"), col("q"), col("n"),
          round((col("b.bucket") * 25).cast("double") +
            lit(25.0) * (col("tgt") - (col("b.cum") - col("b.cnt"))).cast("double")
              / col("b.cnt").cast("double"), 4).as("q_est"))
        .orderBy("day", "q")
    }),

    "stream_kmv_distinct" -> ((s, d) => {
      val kmvAgg = udaf(new graft.functions.Kmv(64))
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 day"))
        .agg(kmvAgg(col("user_id").cast("string")).as("sk"),
          count(lit(1)).as("n_events"))
      drain(s, agg, "graft_stream_kmv", OutputMode.Complete())
        .select(col("window.start").as("day"), col("n_events"),
          size(col("sk")).cast("long").as("n_sketch"),
          round(when(size(col("sk")) < 64, size(col("sk")).cast("double"))
            .otherwise(lit(63.0) /
              (element_at(col("sk"), 64).cast("double") / lit(1152921504606846976.0))),
            4).as("est_users"))
        .orderBy("day")
    }),

    // I17 — streaming funnel conversions (added r9): the ONLINE form of
    // `agg_funnel` — per user, keyed state is just THREE µs timestamps
    // (first view / first later click / first later purchase), advanced
    // by a strictly-ordered state machine at arrival time; one row is
    // emitted at the purchase that COMPLETES the funnel. The batch key
    // re-aggregates the fact three times per run; this answers the
    // conversion feed continuously with O(1) state per user — the funnel
    // shape an event pipeline actually serves at 100 TB/day. Greedy
    // first-qualifying-in-ts-order ≡ the batch min-after-min semantics
    // (processing order is event-time order), so the drained feed equals
    // agg_funnel's completed rows and the oracle is that SQL filtered to
    // completion. StreamingSpec additionally pins cross-batch state
    // carry (a funnel spanning micro-batches still converts exactly once).
    "stream_funnel" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select(unix_micros(col("ts")).as("us"), col("event_id"),
          col("user_id"), col("event_type"))
        .as[(Long, Long, Long, String)]
      val done = typed
        .groupByKey(_._3)
        .transformWithState(new FunnelProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val out = withRocksDb(s) {
        drain(s, done.toDF("user_id", "tv", "tc", "tp"),
          "graft_stream_funnel", OutputMode.Append())
      }
      out.select(col("user_id"),
          timestamp_micros(col("tv")).as("t_view"),
          timestamp_micros(col("tc")).as("t_click"),
          timestamp_micros(col("tp")).as("t_purchase"))
        .orderBy("user_id")
    }),

    // I12 — streaming last-touch attribution (added r5): the ONLINE form
    // of `win_attribution` — per user, keyed state holds only the latest
    // qualifying touch (click/view id, µs, type), and each purchase is
    // credited against it within the 24 h lookback AT ARRIVAL TIME. The
    // batch key re-sorts history per run; this one answers continuously
    // with O(1) state per user — exactly what an attribution service
    // holds at 100 TB/day event volume. Same fold arithmetic as the
    // batch twin (exact integer µs gap, one IEEE divide), so the drained
    // replay hash-matches the batch oracle.
    "stream_attribution" -> ((s, d) => {
      import s.implicits._
      val typed = eventsStream(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("user_id"), col("event_type"))
        .as[(Long, Long, Long, String)]
      val attributed = typed
        .groupByKey(_._3)
        .transformWithState(new AttributionProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val out = withRocksDb(s) {
        drain(s, attributed.toDF("event_id", "user_id", "touch_id", "touch_type", "gap_sec"),
          "graft_stream_attribution", OutputMode.Append())
      }
      out.orderBy("event_id")
    }),

    // I13 — streaming trigger→notification sink (added r6): the ONLINE
    // form of `filter_trigger_notify` and the first key whose sink is a
    // REAL store, not a memory-sink drain — watermarked hourly KPI
    // aggregation per entity, threshold rules evaluated per micro-batch
    // on the Update-mode KPI refinements, exceedances upserted
    // last-writer-wins on (entity_id, ts, rule) into the day-partitioned
    // notification store ([[graft.store.Triggers.upsert]], the
    // harvestIntoTrendStore discipline). Idempotence is the whole design:
    // a replayed micro-batch converges to the same store (no duplicate
    // alarms), and a still-open window's refined KPI REFRESHES its alarm
    // row's value under the same key instead of raising again. Alarms are
    // never retracted — an alarm is an operational fact raised at
    // evaluation time (flood control is `evaluateWithCooldown`'s job);
    // on the bounded one-batch replay every window is final, so the
    // drained store equals the batch twin and the oracle is
    // filter_trigger_notify's own SQL. StreamingSpec asserts batch-twin
    // equality AND upsert idempotence under a replayed batch.
    "stream_trigger_notify" -> ((s, d) => {
      val rules = Seq(
        graft.store.Triggers.Rule("load_high", "kpi_load", "major")(_ > 200.0),
        graft.store.Triggers.Rule("burst", "kpi_burst", "warning")(_ >= 2.0))
      val kpis = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(col("user_id").as("entity_id"), window(col("ts"), "1 hour"))
        .agg(round(avg(col("value")), 4).as("kpi_load"),
          count(lit(1)).cast("double").as("kpi_burst"))
        .select(col("entity_id"), col("window.start").as("ts"),
          col("kpi_load"), col("kpi_burst"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_notif_store").toString
      // harness hygiene: the demo store is per-run scratch — reclaim it at
      // JVM exit instead of accreting one directory per bench/test run
      graft.Fs.fileSystem(s, dir)._1
        .deleteOnExit(new org.apache.hadoop.fs.Path(dir))
      drainForeach(s, kpis, "stream_trigger_notify", OutputMode.Update()) {
        (batch, _) =>
          graft.store.Triggers.upsert(
            graft.store.Triggers.evaluate(batch, rules), s, dir)
      }
      // If no rule fired on the fixture, every upsert wrote an empty batch
      // (dir holds at most _SUCCESS markers) and a bare parquet read would
      // throw "Unable to infer schema" — a data-dependent crash. Guard it:
      // an alarm-free run is a legitimate empty result with the explicit
      // notification schema, not an error.
      if (graft.Fs.existsNonEmptyData(s, dir))
        s.read.parquet(dir)
          .select("entity_id", "ts", "rule", "severity", "kpi", "value")
          .orderBy("rule", "entity_id", "ts")
      else
        s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("entity_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("rule",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("severity",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("kpi",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType))))
    }),

    // I14 — streaming incremental LSH dedup (added r7): the daily-ingest
    // dedup loop (`Dedup.lshVerifiedIncremental`'s stored-index contract)
    // run as an actual ingest stream. Documents arrive in doc-id-ordered
    // chunk files (maxFilesPerTrigger=1 ⇒ one micro-batch per chunk);
    // each micro-batch probes the STORED band index (band equi-join —
    // per-batch cost tracks batch bands × collision rate, never
    // corpus × corpus), exact-verifies candidates with bitmask Jaccard,
    // appends the verified pairs to the result store, then appends the
    // batch's docs + bands to corpus/index so the NEXT batch sees them.
    // Pairs are emitted CANONICALLY (dup_id = greater id): every
    // colliding pair is discovered exactly once — when its second doc is
    // ingested — so the drained union is batch-boundary- and
    // batch-ORDER-independent and equals the one-shot LSH+verify over
    // the whole corpus: the oracle is llm_dedup_lsh_verified's own SQL
    // at the 0.9 ingest-gate threshold. (Jaccard values are also
    // chunk-independent: a doc's bitmask depends only on its own token
    // set, so the per-batch dictionary scope never moves a jacc —
    // the same invariant DedupSpec pins for the mask-scope gate.)
    "stream_dedup_lsh" -> ((s, d) => {
      import org.apache.spark.sql.SaveMode
      val chunks = documentChunks(s, d)
      val work = java.nio.file.Files
        .createTempDirectory("graft_stream_lsh").toString
      graft.Fs.fileSystem(s, work)._1
        .deleteOnExit(new org.apache.hadoop.fs.Path(work))
      val (corpusDir, idxDir, resDir) =
        (s"$work/corpus", s"$work/index", s"$work/pairs")
      val stream = s.readStream.schema(documentsRawSchema)
        .option("maxFilesPerTrigger", 1).parquet(chunks)
      drainForeach(s, stream, "stream_dedup_lsh", OutputMode.Append()) {
        (batch0, _) =>
          // foreachBatch hands a frame bound to the micro-batch's CLONED
          // session: plan against THAT session throughout, or functions
          // registered on the outer session (MaskOps' multi-word mask
          // route, needed once the 10× vocabulary passes 64 tokens)
          // resolve in one registry but not the other
          val bs = batch0.sparkSession
          // the batch feeds four consumers (probe bands, verify masks,
          // corpus append, index append); it is ALREADY materialized on
          // disk as the micro-batch's source file, so each consumer
          // re-plans a pushdown-pruned scan of that file — measured
          // cheaper per batch than copying it into the block store
          // (localCheckpoint = one extra job + storage churn per batch)
          val batch = batch0
          val stored = graft.Fs.existsNonEmptyData(bs, idxDir)
          val (pairs, batchBands) =
            if (stored)
              // a stored index stages batch bands + masks (freed below
              // once BOTH consumers — pair write and index append — have
              // run) — the foreach-measured branch-reuse trade
              // lshVerified documents. The returned band table is the
              // staged one, so the index append below recomputes nothing.
              graft.queries.Dedup.lshVerifiedIncrementalWithBands(bs,
                bs.read.parquet(corpusDir), batch, threshold = 0.9,
                gate = graft.queries.Dedup.BroadcastDocs,
                Some(bs.read.parquet(idxDir)))
            else // first batch: no corpus yet, in-batch peers only (lazy at
              // 0.9: quarter-sized, consumed once by the write below)
              (graft.queries.Dedup.lshVerified(bs, batch, threshold = 0.9,
                presentationSort = false), null)
          val out = pairs.select(
            greatest(col("a_id"), col("b_id")).as("dup_id"),
            least(col("a_id"), col("b_id")).as("orig_id"), col("jacc"))
          out.write.mode(SaveMode.Append).parquet(resDir)
          batch.write.mode(SaveMode.Append).parquet(corpusDir)
          // index append: the staged band table when available (one
          // banding pass per batch, r7 VERDICT #5), the doc recompute
          // only on the first batch whose lazy plan staged nothing
          if (stored) {
            graft.queries.Dedup.appendBands(batchBands, idxDir)
            // frees the staged band/mask blocks now that the pair write
            // AND the index append have consumed them. The lazy first-
            // batch plan reads the batch checkpoint DIRECTLY — freeing
            // through it would kill the block the corpus append needs.
            graft.ops.Checkpoints.freeAll(out)
            // when the candidate list was itself checkpointed (scoped
            // route), the band table hides behind it in out's plan —
            // free it directly (double-unpersist is a no-op)
            graft.ops.Checkpoints.free(batchBands)
          } else graft.queries.Dedup.appendBandIndex(batch, idxDir)
      }
      if (graft.Fs.existsNonEmptyData(s, resDir))
        s.read.parquet(resDir).orderBy("dup_id", "orig_id")
      else // a dup-free corpus is a legitimate empty result, not a crash
        s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(
            StructField("dup_id", LongType), StructField("orig_id", LongType),
            StructField("jacc", DoubleType))))
    }),

    // I17 — online OHLC candles (added r10): hourly open/high/low/close
    // per event type maintained AS streaming aggregation state — the
    // market-data/trend-store ingest readout, and the argmin-in-state
    // pattern: open/close are min/max over a (ts, event_id, value)
    // struct, so the state per open window is two structs + two longs +
    // a count, never the window's rows, and the (ts, event_id) total
    // order makes the picks deterministic under any batch arrival order
    // (StreamingSpec pins a candle assembled across micro-batches).
    // Values pass through exactly (the agg_ohlc convention — both
    // engines read identical parquet doubles).
    "stream_ohlc" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
          max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          count(lit(1)).as("n_samples"))
      drain(s, agg, "graft_stream_ohlc", OutputMode.Complete())
        .select(col("window.start").as("bucket"), col("event_type"),
          col("n_samples"), col("o.value").as("open"), col("high"),
          col("low"), col("c.value").as("close"))
        .orderBy("bucket", "event_type")
    }),

    // I22 — late-bucket RE-MATERIALIZATION (added r9, VERDICT item 1 of
    // "What's missing"): the reference's actual late-data semantic. Every
    // other streaming key watermark-DROPS late rows (the documented
    // divergence at §I's late-data note); this key closes it — late
    // arrivals land via foreachBatch into the raw store, CHANGE their old
    // bucket's fingerprint, and the batch `Materializer` recomputes
    // exactly the stale buckets (fingerprint-gated dynamic partition
    // overwrite; untouched buckets keep their files). The replay stages
    // events as 4 arrival chunks: on-time rows arrive in event-time
    // quartile order, while a deterministic late cohort (≈1/8 of rows in
    // the md5-chosen quarter of hour buckets) arrives LAST — so pass 4
    // re-materializes old buckets that earlier passes already emitted,
    // and ONLY those (StreamingSpec pins both directions plus a
    // value-level before/after change). The final store must equal the
    // batch recompute over the FULL feed — which is exactly the oracle —
    // so hash equality proves convergence under late data, the property
    // a NOC user relies on daily. Per-pass cost = one fingerprint agg
    // (map-side partial, bucket-grain output) + recompute of changed
    // buckets only — the 100 TB shape, since bucket count is bounded by
    // the retention window, not data volume. Exact µ-unit sums end to
    // end (order-free under any arrival interleaving).
    "stream_late_rematerialize" -> ((s, d) => lateRematerializeWithAudit(s, d)._2),

    // I — watermark-drop audit (added r9): QUANTIFIES the late-data
    // divergence `stream_late_rematerialize` repairs. The same 4-pass
    // late-cohort replay feeds a WATERMARKED day aggregation in Append
    // mode; the drained feed shows, per day bucket, how many events the
    // watermark policy actually served vs the batch truth — late rows
    // whose day was finalized before they arrived are DROPPED (counted
    // in n_late_dropped), and the trailing days the watermark never
    // passed are still OPEN (status 'open', no emission). The oracle
    // reproduces the watermark machine in closed form: with chunks
    // replayed in event-time quartiles, the watermark APPLIED to the
    // late batch (batch 4) is max(on-time ts of chunks 0-1) − 10 min —
    // one batch BEHIND the data already seen, because Spark commits a
    // batch's max event time to the watermark only at the NEXT batch's
    // start (chunk 2's maximum has been observed but not yet
    // propagated when batch 4 filters) — and the final watermark is
    // max(all ts) − 10 min, so dropped = late rows with day_end ≤ wm₄
    // and emitted = days with day_end ≤ wm_f. The hash match pins this
    // one-extra-batch propagation lag exactly (the chunks-0-2 model
    // would drop 304 rows, not the observed 177); a Spark upgrade that
    // changes watermark-commit timing will surface here first.
    // Together with the rematerialize key this pins BOTH late-data
    // policies: drop-and-account (this key) vs recompute (that one).
    "stream_watermark_audit" -> ((s, d) => {
      val chunkDir = lateEventChunks(s, d)
      val stream = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(chunkDir)
      val agg = stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n_stream"))
      val emitted = drain(s, agg, "graft_stream_wm_audit", OutputMode.Append())
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("bucket"),
          col("n_stream"))
      val full = graft.Tables.events(s, d)
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("bucket"))
        .agg(count(lit(1)).as("n_full"))
      full.join(emitted, Seq("bucket"), "left")
        .select(col("bucket"), col("n_full"), col("n_stream"),
          when(col("n_stream").isNotNull, lit("final")).otherwise(lit("open"))
            .as("status"),
          when(col("n_stream").isNotNull, col("n_full") - col("n_stream"))
            .as("n_late_dropped"))
        .orderBy("bucket")
    }),
  )

  /** The late-rematerialization replay, returning BOTH each pass's
    * recomputed-bucket list (the audit StreamingSpec pins: pass 4 must
    * re-touch already-emitted early buckets AND leave the non-late cohort
    * alone) and the drained store. One implementation serves the query
    * key and the spec so the two can't drift. */
  private[graft] def lateRematerializeWithAudit(s: SparkSession, d: String)
      : (Seq[Seq[String]], DataFrame) = {
    val chunkDir = lateEventChunks(s, d)
    val work = java.nio.file.Files.createTempDirectory("graft_late_remat")
    val rawDir = s"$work/raw"; val tgtDir = s"$work/agg"; val stDir = s"$work/state"
    val mat = new graft.materialize.Materializer(s, stDir)
    val stream = s.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(chunkDir)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    drainForeach(s, stream, "graft_stream_late_remat", OutputMode.Append()) {
      (batch, _) =>
        batch.write.mode("append").parquet(rawDir)
        // DAY materialization grain: the bucket becomes a PARTITION dir in
        // the target store, and each stale bucket pays a dynamic-overwrite
        // commit — at hour grain this corpus holds ~600 bucket dirs and
        // the per-dir commit protocol dominated the key (~10 s of pure
        // filesystem churn, measured); day grain carries the identical
        // late-data semantic at ~25 dirs. (Partition-type inference may
        // read 'yyyy-MM-dd' back as DATE; the final cast-to-string
        // restores the exact same text either way.)
        // INCREMENTAL scope (the 100 TB shape): only buckets the ARRIVING
        // batch touches can have changed on an append-only feed, so the
        // per-pass fingerprint scan is restricted to them — per-ingest
        // cost ∝ touched-bucket rows, not store size. The fingerprint
        // still gates the recompute (a replayed duplicate batch touches
        // buckets whose fingerprints are unchanged → zero recomputes).
        val dayBucket =
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        val touched = batch.select(dayBucket.as("bucket")).distinct()
        val src = s.read.parquet(rawDir)
          .withColumn("bucket", dayBucket)
          .join(broadcast(touched), Seq("bucket"), "left_semi")
        // the transform output is bucket-grain (buckets × types rows) —
        // coalesce(1) so the dynamic-overwrite writes ONE file per stale
        // bucket dir instead of one per shuffle partition per bucket
        // (8× fewer tiny files per pass; a real deployment sizes writer
        // tasks by per-bucket data volume instead)
        val res = mat.materialize(src, b => b.groupBy("bucket", "event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(floor(col("value") * 1e6).cast("long")).as("value_microunits"))
          .coalesce(1),
          tgtDir)
        passes.synchronized { passes += res.recomputedBuckets }
        ()
    }
    val out = s.read.parquet(tgtDir)
      .select(col("bucket").cast("string").as("bucket"), col("event_type"),
        col("n_events"), col("value_microunits"))
      .orderBy("bucket", "event_type")
    (passes.toSeq, out)
  }

  /** Oracle SQL for the streaming keys: the batch-equivalent queries over
    * the same events table (ts truncated to µs on the DuckDB side exactly
    * like the Spark read path). */
  val oracles: Map[String, String] = {
    val ev = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"
    Map(
      // identical to filter_trigger_notify's oracle: on the bounded
      // one-batch replay every window is final, so the streaming store
      // equals the batch evaluation.
      "stream_trigger_notify" ->
        s"""WITH k AS (
           |  SELECT user_id AS entity_id, date_trunc('hour', ts) AS ts,
           |         round(avg(value), 4) AS kpi_load, CAST(count(*) AS DOUBLE) AS kpi_burst
           |  FROM $ev events GROUP BY 1, 2
           |)
           |SELECT entity_id, ts, 'load_high' AS rule, 'major' AS severity,
           |       'kpi_load' AS kpi, kpi_load AS value
           |FROM k WHERE kpi_load > 200
           |UNION ALL
           |SELECT entity_id, ts, 'burst', 'warning', 'kpi_burst', kpi_burst
           |FROM k WHERE kpi_burst >= 2
           |ORDER BY rule, entity_id, ts""".stripMargin,
      "stream_tumbling" ->
        s"""SELECT date_trunc('hour', ts) AS bucket, event_type,
           |       count(*) AS cnt, round(sum(value), 4) AS sum_value
           |FROM $ev events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
      // the late-rematerialization convergence contract: after the 4-pass
      // replay (late cohort arriving last), the drained target store must
      // equal the batch recompute over the FULL feed — late rows included
      "stream_watermark_audit" ->
        s"""WITH b AS (
           |  SELECT event_id, ts, epoch_us(ts) AS us,
           |         epoch_us(date_trunc('day', ts) + INTERVAL 1 DAY) AS day_end_us,
           |         strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket
           |  FROM $ev events
           |),
           |mm AS (SELECT min(us) AS lo, max(us) + 1 AS hi FROM b),
           |t AS (
           |  SELECT b.*,
           |         LEAST((us - lo) * 4 // GREATEST(hi - lo, 1), 3) AS q,
           |         (CAST(concat('0x', substring(md5(bucket), 1, 4)) AS BIGINT) % 4 = 0
           |          AND CAST(concat('0x', substring(md5(CAST(event_id AS VARCHAR)), 1, 4))
           |                   AS BIGINT) % 8 = 0) AS late
           |  FROM b CROSS JOIN mm
           |),
           |wm AS (
           |  SELECT (SELECT max(us) FROM t WHERE NOT late AND q <= 1) - 600000000 AS wm_late,
           |         (SELECT max(us) FROM t) - 600000000 AS wmf
           |),
           |cnt AS (
           |  SELECT bucket, day_end_us, count(*) AS n_full,
           |         CAST(sum(CASE WHEN NOT (late AND day_end_us <= (SELECT wm_late FROM wm))
           |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_counted
           |  FROM t GROUP BY 1, 2
           |)
           |SELECT bucket, n_full,
           |       CASE WHEN day_end_us <= (SELECT wmf FROM wm)
           |            THEN n_counted END AS n_stream,
           |       CASE WHEN day_end_us <= (SELECT wmf FROM wm)
           |            THEN 'final' ELSE 'open' END AS status,
           |       CASE WHEN day_end_us <= (SELECT wmf FROM wm)
           |            THEN n_full - n_counted END AS n_late_dropped
           |FROM cnt ORDER BY bucket""".stripMargin,
      "stream_late_rematerialize" ->
        s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
           |       event_type, count(*) AS n_events,
           |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS value_microunits
           |FROM $ev events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
      // batch equivalent of the windowed-PSI monitor: hourly binned
      // counts vs the full-corpus reference histogram, the agg_psi_drift
      // smoothing/fold arithmetic verbatim
      "stream_drift" ->
        s"""WITH e AS (
           |  SELECT date_trunc('hour', ts) AS w_start,
           |         CAST(LEAST(GREATEST(floor(value / 64), 0), 7) AS BIGINT) AS bin
           |  FROM $ev events WHERE value IS NOT NULL
           |),
           |cells AS (SELECT w_start, bin, count(*) AS c FROM e GROUP BY 1, 2),
           |dense AS (
           |  SELECT w.w_start, b.bin, coalesce(c.c, 0) AS c
           |  FROM (SELECT DISTINCT w_start FROM cells) w
           |       CROSS JOIN (SELECT unnest(range(0, 8)) AS bin) b
           |       LEFT JOIN cells c ON c.w_start = w.w_start AND c.bin = b.bin
           |),
           |r0 AS (SELECT bin, count(*) AS c_ref FROM e GROUP BY 1),
           |ref AS (
           |  SELECT b.bin, coalesce(r.c_ref, 0) AS c_ref
           |  FROM (SELECT unnest(range(0, 8)) AS bin) b LEFT JOIN r0 r ON r.bin = b.bin
           |),
           |nr AS (SELECT sum(c_ref) AS n_ref FROM ref),
           |tot AS (SELECT w_start, sum(c) AS n_w FROM dense GROUP BY 1),
           |terms AS (
           |  SELECT d.w_start, d.bin, tot.n_w,
           |         (CAST(d.c + 1 AS DOUBLE) / CAST(tot.n_w + 8 AS DOUBLE)
           |          - CAST(r.c_ref + 1 AS DOUBLE) / CAST(nr.n_ref + 8 AS DOUBLE))
           |         * ln((CAST(d.c + 1 AS DOUBLE) / CAST(tot.n_w + 8 AS DOUBLE))
           |              / (CAST(r.c_ref + 1 AS DOUBLE) / CAST(nr.n_ref + 8 AS DOUBLE))) AS term
           |  FROM dense d JOIN ref r ON d.bin = r.bin
           |       JOIN tot ON d.w_start = tot.w_start CROSS JOIN nr
           |)
           |SELECT w_start, CAST(max(n_w) AS BIGINT) AS n_rows,
           |       floor(list_aggregate(list(term ORDER BY bin), 'sum') * 1e4) / 1e4 AS psi
           |FROM terms GROUP BY w_start ORDER BY w_start""".stripMargin,
      // the incremental stream discovers every colliding pair exactly once
      // (when its second doc is ingested) and emits it canonically, so the
      // drained union equals the ONE-SHOT LSH+verify over the whole corpus
      // — llm_dedup_lsh_verified's own SQL at the 0.9 ingest threshold,
      // reoriented to (dup_id = greater id, orig_id).
      "stream_dedup_lsh" ->
        s"""WITH ${graft.queries.Dedup.tokCte},
           |${graft.queries.Dedup.bandsCte},
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
           |SELECT i.b_id AS dup_id, i.a_id AS orig_id,
           |       round(CAST(n_inter AS DOUBLE) / (na.ntok + nb.ntok - n_inter), 4) AS jacc
           |FROM inter i JOIN n na ON na.doc_id = i.a_id JOIN n nb ON nb.doc_id = i.b_id
           |WHERE CAST(n_inter AS DOUBLE) / (na.ntok + nb.ntok - n_inter) >= 0.9
           |ORDER BY dup_id, orig_id""".stripMargin,
      "stream_topk" ->
        s"""WITH c AS (
           |  SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS cnt
           |  FROM $ev events GROUP BY 1, 2
           |),
           |r AS (
           |  SELECT bucket, event_type, cnt,
           |         CAST(row_number() OVER (PARTITION BY bucket
           |                ORDER BY cnt DESC, event_type) AS INTEGER) AS rk
           |  FROM c
           |)
           |SELECT bucket, event_type, cnt, rk FROM r WHERE rk <= 3
           |ORDER BY bucket, rk""".stripMargin,
      "stream_zscore" ->
        s"""WITH l AS (
           |  SELECT event_id, user_id, value,
           |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS l
           |  FROM $ev events
           |),
           |st AS (
           |  SELECT event_id, user_id, value, len(l) AS n,
           |         CASE WHEN len(l) >= 1 THEN
           |           list_reduce(list_transform(l, x -> [CAST(1.0 AS DOUBLE), x, 0.0]),
           |             (acc, x) -> [acc[1] + 1.0,
           |                          acc[2] + (x[2] - acc[2]) / (acc[1] + 1.0),
           |                          acc[3] + (x[2] - acc[2])
           |                            * (x[2] - (acc[2] + (x[2] - acc[2]) / (acc[1] + 1.0)))])
           |         END AS s
           |  FROM l
           |),
           |z AS (
           |  SELECT event_id, user_id,
           |         CASE WHEN n >= 5 AND sqrt(s[3] / (s[1] - 1.0)) > 0
           |              THEN (value - s[2]) / sqrt(s[3] / (s[1] - 1.0)) END AS z
           |  FROM st
           |)
           |SELECT event_id, user_id, floor(z * 10000) / 10000 AS z
           |FROM z ORDER BY event_id""".stripMargin,
      "stream_holt" ->
        s"""WITH l AS (
           |  SELECT event_id, user_id,
           |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                           ROWS UNBOUNDED PRECEDING) AS l
           |  FROM $ev events
           |),
           |st AS (
           |  SELECT event_id, user_id,
           |         list_reduce(list_transform(l, x -> [x, CAST(0.0 AS DOUBLE)]),
           |           (acc, x) -> [0.3 * x[1] + 0.7 * (acc[1] + acc[2]),
           |                        0.4 * ((0.3 * x[1] + 0.7 * (acc[1] + acc[2])) - acc[1])
           |                        + 0.6 * acc[2]]) AS s
           |  FROM l
           |)
           |SELECT event_id, user_id,
           |       floor((s[1] + s[2]) * 10000) / 10000 AS holt_forecast
           |FROM st ORDER BY event_id""".stripMargin,
      // The UNBOUNDED win_ewm_var fold (no 16-sample frame): the online
      // recursion and the full-history fold are the same recurrence.
      "stream_ewm_var" ->
        s"""WITH e AS (
           |  SELECT event_id, user_id, ts,
           |         CAST(floor(value * 1000000) AS BIGINT) AS yq
           |  FROM $ev events
           |),
           |r AS (
           |  SELECT event_id, user_id, ts,
           |         yq - lag(yq, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rq
           |  FROM e
           |),
           |l AS (
           |  SELECT event_id, user_id,
           |         list_transform(
           |           list(rq) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                          ROWS UNBOUNDED PRECEDING),
           |           x -> (CAST(x AS DOUBLE) / 1e6) * (CAST(x AS DOUBLE) / 1e6)) AS l2
           |  FROM r WHERE rq IS NOT NULL
           |),
           |v AS (
           |  SELECT event_id, user_id,
           |         list_reduce(l2, (acc, x) -> 0.94 * acc + 0.06 * x) AS v
           |  FROM l
           |)
           |SELECT event_id, user_id,
           |       floor(v * 10000) / 10000 AS ewm_var,
           |       floor(sqrt(v) * 10000) / 10000 AS ewm_vol
           |FROM v ORDER BY event_id""".stripMargin,
      "stream_kalman" ->
        s"""WITH l AS (
           |  SELECT event_id, user_id,
           |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                           ROWS UNBOUNDED PRECEDING) AS l
           |  FROM $ev events
           |),
           |st AS (
           |  SELECT event_id, user_id,
           |         list_reduce(list_transform(l, z -> [z, CAST(16.0 AS DOUBLE)]),
           |           (acc, z) -> [acc[1] + ((acc[2] + 4.0) / ((acc[2] + 4.0) + 16.0)) * (z[1] - acc[1]),
           |                        (1.0 - ((acc[2] + 4.0) / ((acc[2] + 4.0) + 16.0))) * (acc[2] + 4.0)]) AS s
           |  FROM l
           |)
           |SELECT event_id, user_id,
           |       floor(s[1] * 10000) / 10000 AS kalman_est
           |FROM st ORDER BY event_id""".stripMargin,
      "stream_counter_rate" ->
        s"""SELECT event_id, user_id,
           |       CAST(yq - lag(yq) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           |            AS DOUBLE) / 1000000 AS delta
           |FROM (SELECT event_id, user_id, ts,
           |             CAST(floor(value * 1000000) AS BIGINT) AS yq FROM $ev events)
           |ORDER BY event_id""".stripMargin,
      "stream_stream_join" ->
        s"""SELECT c.user_id, count(*) AS n_pairs
           |FROM (SELECT user_id, ts FROM $ev WHERE event_type = 'click') c
           |JOIN (SELECT user_id, ts FROM $ev WHERE event_type = 'purchase') p
           |  ON c.user_id = p.user_id
           | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
           |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,
      "stream_static_join" ->
        s"""SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS cnt,
           |       round(sum(value * CASE event_type
           |         WHEN 'click' THEN 1.0 WHEN 'view' THEN 0.5 WHEN 'purchase' THEN 2.0
           |         WHEN 'signup' THEN 1.5 ELSE 0.0 END), 4) AS wsum
           |FROM $ev events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
      "stream_sliding" ->
        s"""WITH e AS (SELECT ts, value FROM $ev events),
           |w AS (
           |  SELECT TIMESTAMP '1970-01-01'
           |           + (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - k.k * 900)
           |             * INTERVAL 1 SECOND AS w_start, ts, value
           |  FROM e, (SELECT unnest(range(0, 4)) AS k) k
           |)
           |SELECT w_start, count(*) AS cnt, round(sum(value), 4) AS sum_value
           |FROM w WHERE w_start > ts - INTERVAL 1 HOUR
           |GROUP BY w_start ORDER BY w_start""".stripMargin,
      "stream_session" ->
        s"""WITH e AS (
           |  SELECT user_id, ts, value,
           |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
           |                > INTERVAL 30 MINUTE OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |              THEN 1 ELSE 0 END AS new_session
           |  FROM $ev events
           |),
           |g AS (
           |  SELECT user_id, ts, value,
           |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           |  FROM e
           |)
           |SELECT min(ts) AS s_start, user_id, count(*) AS n_events,
           |       round(sum(value), 4) AS sum_value
           |FROM g GROUP BY user_id, sess ORDER BY s_start, user_id""".stripMargin,
      "stream_dedup" ->
        s"""SELECT event_type, count(*) AS n_events, count(DISTINCT event_id) AS n_ids
           |FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM events)
           |GROUP BY event_type ORDER BY event_type""".stripMargin,
      // Spark casts timestamp→long by truncating to whole seconds, so the
      // oracle must floor each endpoint before differencing (DuckDB's
      // double→bigint CAST rounds instead).
      "stream_stateful" ->
        s"""SELECT user_id, count(*) AS n_events,
           |       coalesce(max(CAST(floor(epoch(ts)) AS BIGINT)
           |         - CAST(floor(epoch(lag_ts)) AS BIGINT)), 0) AS max_gap_sec
           |FROM (
           |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS lag_ts
           |  FROM $ev events
           |)
           |GROUP BY user_id ORDER BY user_id""".stripMargin,
      // Closed SCD2 intervals via gaps-and-islands + lead() over the
      // SAME (second, event_id) ordering the processor folds in —
      // ordering by full-precision ts would disagree with the fold
      // whenever two events share a second.
      "stream_scd2_apply" ->
        s"""WITH e AS (
           |  SELECT user_id, event_id, event_type,
           |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
           |  FROM $ev events
           |),
           |o AS (
           |  SELECT *, CASE WHEN lag(event_type) OVER
           |           (PARTITION BY user_id ORDER BY ts_sec, event_id)
           |         IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
           |  FROM e
           |),
           |r AS (
           |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
           |                           ROWS UNBOUNDED PRECEDING) AS run
           |  FROM o
           |),
           |runs AS (
           |  SELECT user_id, run, min(event_type) AS segment_value,
           |         min(ts_sec) AS valid_from, count(*) AS n_events
           |  FROM r GROUP BY 1, 2
           |),
           |closed AS (
           |  SELECT user_id, segment_value, valid_from, n_events,
           |         lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to
           |  FROM runs
           |)
           |SELECT user_id, segment_value, valid_from, valid_to,
           |       CAST(n_events AS BIGINT) AS n_events
           |FROM closed WHERE valid_to IS NOT NULL
           |ORDER BY user_id, valid_from, valid_to, segment_value""".stripMargin,
      // PIT enrichment: carry-forward last dimension observation over the
      // identical (ts_sec, event_id) total order — the batch as-of shape
      "stream_scd2_enrich" ->
        s"""WITH e AS (
           |  SELECT user_id, event_id, event_type,
           |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
           |  FROM $ev events
           |),
           |f AS (
           |  SELECT user_id, event_id, ts_sec,
           |         last_value(CASE WHEN event_id % 4 = 0 THEN event_type END
           |                    IGNORE NULLS)
           |           OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
           |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
           |  FROM e
           |)
           |SELECT user_id, event_id, ts_sec, coalesce(seg, 'none') AS segment_asof
           |FROM f WHERE event_id % 4 <> 0
           |ORDER BY user_id, event_id""".stripMargin,
      // The streaming replay converges to the batch computation exactly
      // (same fold arithmetic, same ordering), so it shares the batch
      // twin's oracle verbatim.
      "stream_attribution" -> graft.queries.Wins.oracles("win_attribution"),
      // The drained window-grain KPI equals the batch hourly rollup
      // exactly (exact-integer sums; window(1h) start ≡ date_trunc hour),
      // and the escalation tail is the SHARED Rel.escalateTail — so the
      // streaming key runs the batch twin's oracle verbatim.
      "stream_escalate" -> graft.queries.Rel.oracles("filter_trigger_escalate"),
      "stream_cusum" ->
        """WITH h AS (
          |  SELECT event_type AS entity_id,
          |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
          |         sum(CAST(floor(value * 1e6) AS BIGINT) - 50000000) AS devq
          |  FROM events GROUP BY 1, 2
          |),
          |c AS (
          |  SELECT entity_id, ts, devq,
          |         sum(devq) OVER (PARTITION BY entity_id ORDER BY ts
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusq
          |  FROM h
          |)
          |SELECT entity_id, ts,
          |       CAST(devq AS DOUBLE) / 1e6 AS hourly_dev,
          |       CAST(cusq AS DOUBLE) / 1e6 AS cusum,
          |       abs(cusq) > 500000000 AS alarm
          |FROM c ORDER BY entity_id, ts""".stripMargin,
      "stream_funnel" ->
        """WITH ev AS (
          |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
          |),
          |v AS (SELECT user_id, min(ts) AS t_view FROM ev
          |      WHERE event_type = 'view' GROUP BY 1),
          |c AS (SELECT e.user_id, min(e.ts) AS t_click
          |      FROM ev e JOIN v ON e.user_id = v.user_id
          |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
          |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
          |      FROM ev e JOIN c ON e.user_id = c.user_id
          |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
          |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
          |FROM v JOIN c USING (user_id) JOIN p USING (user_id)
          |ORDER BY v.user_id""".stripMargin,
      "stream_hist_quantile" ->
        """WITH h AS (
          |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
          |         CAST(LEAST(GREATEST(floor(value / 25), 0), 39) AS BIGINT) AS bucket,
          |         count(*) AS cnt
          |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
          |),
          |c AS (
          |  SELECT day, bucket, cnt,
          |         sum(cnt) OVER (PARTITION BY day ORDER BY bucket) AS cum,
          |         sum(cnt) OVER (PARTITION BY day) AS n
          |  FROM h
          |),
          |t AS (SELECT DISTINCT day, n FROM c),
          |q AS (
          |  SELECT day, n, '50' AS q, (n + 1) // 2 AS tgt FROM t
          |  UNION ALL SELECT day, n, '90', (9 * n + 9) // 10 FROM t
          |  UNION ALL SELECT day, n, '99', (99 * n + 99) // 100 FROM t
          |),
          |pick AS (
          |  SELECT q.day, q.q, q.n, q.tgt, min(c.bucket) AS bucket
          |  FROM q JOIN c ON c.day = q.day AND c.cum >= q.tgt
          |  GROUP BY 1, 2, 3, 4
          |)
          |SELECT p.day, p.q, CAST(p.n AS BIGINT) AS n,
          |       round(CAST(p.bucket * 25 AS DOUBLE)
          |             + 25.0 * CAST(p.tgt - (c.cum - c.cnt) AS DOUBLE)
          |               / CAST(c.cnt AS DOUBLE), 4) AS q_est
          |FROM pick p JOIN c ON c.day = p.day AND c.bucket = p.bucket
          |ORDER BY p.day, p.q""".stripMargin,
      "stream_kmv_distinct" ->
        """WITH e AS (
          |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
          |         CAST(user_id AS VARCHAR) AS item
          |  FROM events
          |),
          |n AS (SELECT day, count(*) AS n_events FROM e GROUP BY 1),
          |h AS (SELECT DISTINCT day,
          |        CAST(concat('0x', substring(md5(item), 1, 15)) AS BIGINT) AS hv
          |      FROM e),
          |r AS (SELECT day, hv,
          |        row_number() OVER (PARTITION BY day ORDER BY hv) AS rn
          |      FROM h),
          |kk AS (SELECT day, hv AS h_k FROM r WHERE rn = 64),
          |sm AS (SELECT day, count(*) AS n_small FROM h GROUP BY 1)
          |SELECT n.day, n.n_events,
          |       CAST(LEAST(sm.n_small, 64) AS BIGINT) AS n_sketch,
          |       round(CASE WHEN kk.h_k IS NULL THEN CAST(sm.n_small AS DOUBLE)
          |                  ELSE 63.0 / (CAST(kk.h_k AS DOUBLE) / 1152921504606846976.0)
          |             END, 4) AS est_users
          |FROM n LEFT JOIN kk ON n.day = kk.day
          |       LEFT JOIN sm ON n.day = sm.day
          |ORDER BY n.day""".stripMargin,
      "stream_ohlc" ->
        s"""WITH r AS (
           |  SELECT date_trunc('hour', ts) AS bucket, event_type, event_id, value,
           |         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
           |                            ORDER BY ts ASC, event_id ASC) AS rn_a,
           |         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
           |                            ORDER BY ts DESC, event_id DESC) AS rn_d
           |  FROM $ev events
           |)
           |SELECT bucket, event_type, count(*) AS n_samples,
           |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
           |       max(value) AS high, min(value) AS low,
           |       max(CASE WHEN rn_d = 1 THEN value END) AS close
           |FROM r GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    )
  }
}

/** The same gap-detection logic on Spark 4's arbitrary-state v2 API
  * (`transformWithState` + `StatefulProcessor` + typed `ValueState`).
  * Requires the RocksDB state store provider; `StreamingSpec` asserts it
  * produces the same results as the `flatMapGroupsWithState` fold. The v2
  * API adds per-state TTL and timers — the natural home for the
  * reference's stability-delay timeouts in a long-running deployment. */
class GapProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    state = getHandle.getValueState[(Long, Long, Long)]("gap", enc, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    val sorted = rows.map(_._2).toSeq.sorted
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = GapState.fold(key,
        if (state.exists()) state.get() else (0L, Long.MinValue, 0L), sorted)
      state.update(st)
      Iterator.single(out)
    }
  }
}

/** Keyed state for `stream_scd2_apply`: the entity's OPEN version row
  * (segment value, valid_from_sec, n_events). Rows fold in (ts_sec,
  * event_id) order; a segment change CLOSES the open row — emitted as the
  * finished SCD2 interval with valid_to = the new observation's second —
  * and opens the next. The batch twin derives the same closed intervals
  * via gaps-and-islands + lead() over the identical ordering. Pure fold
  * shared with the spec's driver recompute. */
object Scd2State {
  /** rows: (event_id, ts_sec, segment) pre-sorted by (ts_sec, event_id);
    * returns (new open row, closed rows (user, segment, from, to, n)).
    *
    * MONOTONE-REPLAY CONTRACT (r12, ADVICE): rows are sorted only WITHIN
    * a micro-batch; correctness across batches rests on the source
    * delivering batches in event-time order (true for the bounded
    * doc-ordered file replay and for any log-ordered ingest). A later
    * batch carrying a ts older than the open row's valid_from would
    * otherwise be folded as if newer and emit an INVERTED interval
    * (valid_to < valid_from) — so the assumption is ASSERTED: an
    * out-of-order source fails loudly here instead of silently
    * corrupting the dimension. A deployment that must absorb late
    * dimension observations repairs through the batch rebuild
    * (`store_scd2_merge`), the same late-data split as
    * `stream_late_rematerialize`. */
  def fold(userId: Long, st0: Option[(String, Long, Long)],
           sorted: Seq[(Long, Long, String)])
      : (Option[(String, Long, Long)], Seq[(Long, String, Long, Long, Long)]) = {
    var open = st0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long, Long)]
    sorted.foreach { case (_, ts, seg) =>
      open.foreach { case (_, from, _) =>
        require(ts >= from, s"out-of-order SCD2 observation for entity $userId: " +
          s"ts=$ts < open valid_from=$from — batches must replay in event-time order")
      }
      open match {
        case Some((s0, from, n)) if s0 == seg => open = Some((s0, from, n + 1))
        case Some((s0, from, n)) =>
          out += ((userId, s0, from, ts, n))
          open = Some((seg, ts, 1L))
        case None => open = Some((seg, ts, 1L))
      }
    }
    (open, out.toSeq)
  }
}

class Scd2Processor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, String), (Long, String, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var state: org.apache.spark.sql.streaming.ValueState[(String, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(String, Long, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong)
    state = getHandle.getValueState[(String, Long, Long)]("scd2", enc, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, String)],
                               timerValues: TimerValues): Iterator[(Long, String, Long, Long, Long)] = {
    val sorted = rows.map(r => (r._2, r._3, r._4)).toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = Scd2State.fold(key,
        if (state.exists()) Some(state.get()) else None, sorted)
      st.foreach(state.update)
      out.iterator
    }
  }
}

/** Keyed state for `stream_scd2_enrich`: the entity's CURRENT dimension
  * version (segment value) plus the last folded instant. Rows fold in
  * (ts_sec, event_id) order: DIMENSION observations (event_id % 4 == 0 in
  * the fixture's split) update the open segment and emit nothing; FACT
  * rows emit themselves enriched with the segment open AS OF their
  * instant — `join_scd2_pit`'s valid_from <= ts < valid_to contract run
  * ONLINE against the live dimension (a same-instant dimension change
  * applies before the fact, the PIT boundary convention). Facts arriving
  * before any observation enrich as 'none' — a row, not a drop (the
  * left-join stance). State is one (segment, last_ts) pair per entity —
  * constant at any event volume. Same monotone-replay contract as
  * [[Scd2State]]: batches must arrive in event-time order or a late fact
  * would silently read a TOO-NEW version; asserted loudly. */
object Scd2EnrichState {
  /** rows: (event_id, ts_sec, event_type) pre-sorted by (ts_sec, event_id);
    * state: (segment or "" for none, last folded ts_sec);
    * returns (new state, enriched facts (user, event_id, ts_sec, segment)). */
  def fold(userId: Long, st0: (String, Long), sorted: Seq[(Long, Long, String)])
      : ((String, Long), Seq[(Long, Long, Long, String)]) = {
    var (seg, lastTs) = st0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    sorted.foreach { case (eid, ts, typ) =>
      require(ts >= lastTs, s"out-of-order row for entity $userId: ts=$ts < " +
        s"last folded ts=$lastTs — batches must replay in event-time order")
      lastTs = ts
      if (eid % 4 == 0) seg = typ
      else out += ((userId, eid, ts, if (seg.isEmpty) "none" else seg))
    }
    ((seg, lastTs), out.toSeq)
  }
}

class Scd2EnrichProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, String), (Long, Long, Long, String)] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var state: org.apache.spark.sql.streaming.ValueState[(String, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    state = getHandle.getValueState[(String, Long)]("scd2enrich", enc, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, String)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long, String)] = {
    val sorted = rows.map(r => (r._2, r._3, r._4)).toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = Scd2EnrichState.fold(key,
        if (state.exists()) state.get() else ("", Long.MinValue), sorted)
      state.update(st)
      out.iterator
    }
  }
}

/** Keyed state for `stream_zscore`: Welford's (n, mean, M2), n held as a
  * DOUBLE so every operation matches the oracle's list_reduce fold
  * bit-for-bit (d / (n + 1.0) exactly as written there). A sample is
  * scored against the PRIOR state (≥5 priors, sd > 0), then folded in.
  *
  * The PURE fold (`fold`) is shared by the legacy `flatMapGroupsWithState`
  * route (`update`) and the Spark 4.x arbitrary-state-v2 route
  * (`WelfordProcessor`) — one algorithm, two state APIs, equivalence by
  * construction (and re-proven over MemoryStream batches in
  * StreamingSpec). Same sharing pattern for Holt/Rate/Gap below. */
/** Keyed state for `stream_ewm_var`: (last µ-unit sample, var, seeded
  * flag) — the RiskMetrics recursion var ← 0.94·var + 0.06·r² needs only
  * the previous sample (for the exact integer return) and the running
  * variance: O(1) per key at any event volume. The first-ever sample
  * emits nothing (no return yet, the batch twin's convention); the
  * SECOND seeds var = r₁². Returns are exact µ-unit long differences
  * computed identically to the batch twin's lag (floor-1e-6 quantize,
  * long subtract), so the one-batch replay equals an UNBOUNDED
  * sequential fold per entity — the oracle (win_ewm_var's list_reduce
  * without the 16-sample frame bound). */
object EwmVarState {
  def fold(userId: Long, st0: (Double, Double, Double),
           sorted: Seq[(Long, Long, Long, Double)])
      : ((Double, Double, Double), Seq[(Long, Long, Double)]) = {
    var (lastYq, v, seeded) = st0
    var hasLast = seeded >= 1.0
    var hasVar = seeded >= 2.0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    sorted.foreach { case (eventId, _, _, x) =>
      val yq = math.floor(x * 1e6)
      if (!hasLast) { lastYq = yq; hasLast = true }
      else {
        val r = (yq - lastYq) / 1e6
        v = if (!hasVar) { hasVar = true; r * r } else 0.94 * v + 0.06 * (r * r)
        lastYq = yq
        out += ((eventId, userId, v))
      }
    }
    ((lastYq, v, if (hasVar) 2.0 else if (hasLast) 1.0 else 0.0), out.toSeq)
  }

  def update(userId: Long, rows: Iterator[(Long, Long, Long, Double)],
             state: GroupState[(Double, Double, Double)]): Iterator[(Long, Long, Double)] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = fold(userId, state.getOption.getOrElse((0.0, 0.0, 0.0)), sorted)
      state.update(st)
      out.iterator
    }
  }
}

object WelfordState {
  def fold(userId: Long, st0: (Double, Double, Double),
           sorted: Seq[(Long, Long, Long, Double)])
      : ((Double, Double, Double), Seq[(Long, Long, Option[Double])]) = {
    var (n, mean, m2) = st0
    val out = sorted.map { case (eventId, _, _, x) =>
      val z =
        if (n >= 5.0) {
          val sd = math.sqrt(m2 / (n - 1.0))
          if (sd > 0.0) Some((x - mean) / sd) else None
        } else None
      val d = x - mean
      val nmean = mean + d / (n + 1.0)
      m2 = m2 + d * (x - nmean)
      mean = nmean
      n = n + 1.0
      (eventId, userId, z)
    }
    ((n, mean, m2), out)
  }

  def update(userId: Long, rows: Iterator[(Long, Long, Long, Double)],
             state: GroupState[(Double, Double, Double)]): Iterator[(Long, Long, Option[Double])] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = fold(userId, state.getOption.getOrElse((0.0, 0.0, 0.0)), sorted)
      state.update(st)
      out.iterator
    }
  }
}

/** Keyed state for `stream_holt`: the entity's (level, trend). Batch rows
  * fold in (ts, event_id) order with EXACTLY the oracle's operation order
  * — lv' = 0.3·x + 0.7·(lv + tr); tr' = 0.4·(lv' − lv) + 0.6·tr — so the
  * emitted forecast doubles are bit-identical to the batch fold's. */
object HoltState {
  def fold(userId: Long, st0: Option[(Double, Double)],
           sorted: Seq[(Long, Long, Long, Double)])
      : (Option[(Double, Double)], Seq[(Long, Long, Double)]) = {
    var st = st0
    val out = sorted.map { case (eventId, _, _, x) =>
      val (lv, tr) = st match {
        case None => (x, 0.0)
        case Some((plv, ptr)) =>
          val nlv = 0.3 * x + 0.7 * (plv + ptr)
          val ntr = 0.4 * (nlv - plv) + 0.6 * ptr
          (nlv, ntr)
      }
      st = Some((lv, tr))
      (eventId, userId, lv + tr)
    }
    (st, out)
  }

  def update(userId: Long, rows: Iterator[(Long, Long, Long, Double)],
             state: GroupState[(Double, Double)]): Iterator[(Long, Long, Double)] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = fold(userId, state.getOption, sorted)
      state.update(st.get)
      out.iterator
    }
  }
}

/** Keyed state for `stream_kalman`: the entity's (x̂, P) posterior. Pure
  * fold shared by the v2 processor and the fMGWS equivalence twin; the
  * arithmetic is the VERBATIM op order of `win_kalman`'s aggregate
  * lambda (Q=4, R=16, seed (z₀, R)) so the one-batch replay is
  * bit-identical to the oracle's unbounded list_reduce fold. */
object KalmanState {
  def fold(userId: Long, st0: Option[(Double, Double)],
           sorted: Seq[(Long, Long, Long, Double)])
      : (Option[(Double, Double)], Seq[(Long, Long, Double)]) = {
    var st = st0
    val out = sorted.map { case (eventId, _, _, z) =>
      val (x, p) = st match {
        case None => (z, 16.0)
        case Some((px, pp)) =>
          val pPred = pp + 4.0
          val k = pPred / (pPred + 16.0)
          (px + k * (z - px), (1.0 - k) * pPred)
      }
      st = Some((x, p))
      (eventId, userId, x)
    }
    (st, out)
  }

  def update(userId: Long, rows: Iterator[(Long, Long, Long, Double)],
             state: GroupState[(Double, Double)]): Iterator[(Long, Long, Double)] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = fold(userId, state.getOption, sorted)
      state.update(st.get)
      out.iterator
    }
  }
}

/** Keyed state for `stream_counter_rate`: the entity's previous sample
  * (ts_us, value_q). Each batch's rows fold in (ts, event_id) order —
  * the same total order the batch twin's lag window uses — emitting
  * (event_id, user_id, delta_q?) with None for the entity's first-ever
  * sample. */
object RateState {
  def fold(userId: Long, prev0: Option[(Long, Long)],
           sorted: Seq[(Long, Long, Long, Long)])
      : (Option[(Long, Long)], Seq[(Long, Long, Option[Long])]) = {
    var prev = prev0
    val out = sorted.map { case (eventId, us, _, yq) =>
      val d = prev.map { case (_, py) => yq - py }
      prev = Some((us, yq))
      (eventId, userId, d)
    }
    (prev, out)
  }

  def update(userId: Long, rows: Iterator[(Long, Long, Long, Long)],
             state: GroupState[(Long, Long)]): Iterator[(Long, Long, Option[Long])] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (prev, out) = fold(userId, state.getOption, sorted)
      state.update(prev.get)
      out.iterator
    }
  }
}

object GapState {
  def fold(userId: Long, st0: (Long, Long, Long), sorted: Seq[Long])
      : ((Long, Long, Long), (Long, Long, Long)) = {
    val (n0, last0, gap0) = st0
    var n = n0; var last = last0; var gap = gap0
    sorted.foreach { t =>
      if (last != Long.MinValue && t - last > gap) gap = t - last
      last = t
      n += 1
    }
    ((n, last, gap), (userId, n, gap))
  }

  def update(userId: Long, rows: Iterator[(Long, Long)],
             state: GroupState[(Long, Long, Long)]): Iterator[(Long, Long, Long)] = {
    val sorted = rows.map(_._2).toSeq.sorted
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = fold(userId,
        state.getOption.getOrElse((0L, Long.MinValue, 0L)), sorted)
      state.update(st)
      Iterator.single(out)
    }
  }
}

/** Base for the v2 (`transformWithState`) processors: one typed ValueState
  * slot + the shared pure fold. Spark 4.x's arbitrary-state-v2 API is the
  * forward-compatible stateful surface (per-state TTL, timers, RocksDB);
  * these processors are the REGISTERED routes for the keyed-state keys
  * since r5, with the flatMapGroupsWithState forms kept as equivalence
  * twins. */
class RateProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, Long), (Long, Long, Option[Long])] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}
  @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    state = getHandle.getValueState[(Long, Long)]("rate", enc, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, Long, Option[Long])] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (prev, out) = RateState.fold(key,
        if (state.exists()) Some(state.get()) else None, sorted)
      state.update(prev.get)
      out.iterator
    }
  }
}

class HoltProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, Double), (Long, Long, Double)] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}
  @transient private var state: org.apache.spark.sql.streaming.ValueState[(Double, Double)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
    state = getHandle.getValueState[(Double, Double)]("holt", enc, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Double)],
                               timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = HoltState.fold(key,
        if (state.exists()) Some(state.get()) else None, sorted)
      state.update(st.get)
      out.iterator
    }
  }
}

class KalmanProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, Double), (Long, Long, Double)] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}
  @transient private var state: org.apache.spark.sql.streaming.ValueState[(Double, Double)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
    state = getHandle.getValueState[(Double, Double)]("kalman", enc, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Double)],
                               timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = KalmanState.fold(key,
        if (state.exists()) Some(state.get()) else None, sorted)
      state.update(st.get)
      out.iterator
    }
  }
}

class EwmVarProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, Double), (Long, Long, Double)] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}
  @transient private var state: org.apache.spark.sql.streaming.ValueState[(Double, Double, Double)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(Double, Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble, Encoders.scalaDouble)
    state = getHandle.getValueState[(Double, Double, Double)]("ewmvar", enc, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Double)],
                               timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = EwmVarState.fold(key,
        if (state.exists()) state.get() else (0.0, 0.0, 0.0), sorted)
      state.update(st)
      out.iterator
    }
  }
}

class WelfordProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, Double), (Long, Long, Option[Double])] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}
  @transient private var state: org.apache.spark.sql.streaming.ValueState[(Double, Double, Double)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(Double, Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble, Encoders.scalaDouble)
    state = getHandle.getValueState[(Double, Double, Double)]("welford", enc, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Double)],
                               timerValues: TimerValues): Iterator[(Long, Long, Option[Double])] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = WelfordState.fold(key,
        if (state.exists()) state.get() else (0.0, 0.0, 0.0), sorted)
      state.update(st)
      out.iterator
    }
  }
}

/** Keyed state for `stream_attribution`: the latest qualifying touch
  * (event_id, µs, type) per user — last-touch attribution needs nothing
  * else, which is why its online form is O(1) state per key. A purchase is
  * credited against the CURRENT state (within the 24 h lookback) before
  * any same-batch touch reordering could overtake it — rows are folded in
  * (ts, event_id) order, matching the batch window's frame exactly.
  *
  * The pure fold is the single source of truth for the arithmetic (exact
  * integer µs gap, one IEEE divide to seconds), shared by the processor
  * and the spec's driver-side replay. */
object AttributionState {
  private final val LookbackUs = 86400000000L

  /** rows: (event_id, ts_us, event_type) sorted by (ts_us, event_id).
    * Returns (new state, one output row per purchase). */
  def fold(st0: Option[(Long, Long, String)], sorted: Seq[(Long, Long, String)])
      : (Option[(Long, Long, String)],
         Seq[(Long, Option[Long], Option[String], Option[Double])]) = {
    var touch = st0
    val out = Seq.newBuilder[(Long, Option[Long], Option[String], Option[Double])]
    sorted.foreach { case (id, us, tpe) =>
      if (tpe == "purchase") {
        touch match {
          case Some((tId, tUs, tType)) if us - tUs <= LookbackUs =>
            out += ((id, Some(tId), Some(tType), Some((us - tUs).toDouble / 1e6)))
          case _ =>
            out += ((id, None, None, None))
        }
      }
      if (tpe == "click" || tpe == "view") touch = Some((id, us, tpe))
    }
    (touch, out.result())
  }
}

/** Online funnel state machine (view → click → purchase, strictly ordered
  * in event time): keyed state = three µs timestamps (0 = unset), rows
  * folded in (ts, event_id) order per batch with state carried across
  * micro-batches; emits (user, t_view, t_click, t_purchase) exactly once,
  * at the purchase that completes the funnel. Greedy first-qualifying in
  * event-time order equals the batch min-after-min (`agg_funnel`)
  * semantics; strict `>` comparisons match the batch key's. */
class FunnelProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, String), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}
  @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    state = getHandle.getValueState[(Long, Long, Long)]("funnel", enc, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, String)],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, Long, Long)] = {
    // rows: (ts_us, event_id, user_id, event_type) for one user
    var (tv, tc, tp) = if (state.exists()) state.get() else (0L, 0L, 0L)
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long)]
    rows.toSeq.sortBy(r => (r._1, r._2)).foreach { case (ts, _, _, tpe) =>
      if (tp == 0L) tpe match {
        case "view" if tv == 0L => tv = ts
        case "click" if tv != 0L && tc == 0L && ts > tv => tc = ts
        case "purchase" if tc != 0L && ts > tc =>
          tp = ts; out += ((key, tv, tc, tp))
        case _ =>
      }
    }
    state.update((tv, tc, tp))
    out.iterator
  }
}

class AttributionProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, String), (Long, Long, Option[Long], Option[String], Option[Double])] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}
  @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Long, String)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(Long, Long, String)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING)
    state = getHandle.getValueState[(Long, Long, String)]("touch", enc, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, String)],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, Option[Long], Option[String], Option[Double])] = {
    // rows: (event_id, ts_us, user_id, event_type) for one user
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1)).map(r => (r._1, r._2, r._4))
    if (sorted.isEmpty) Iterator.empty
    else {
      val (st, out) = AttributionState.fold(
        if (state.exists()) Some(state.get()) else None, sorted)
      st.foreach(state.update)
      out.iterator.map(o => (o._1, key, o._2, o._3, o._4))
    }
  }
}
