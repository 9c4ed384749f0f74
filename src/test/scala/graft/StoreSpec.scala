package graft

import org.apache.spark.sql.functions._

import graft.directory.EntityDirectory
import graft.store.{AttributeStore, TrendStore, Triggers}

/** The reference's domain pipeline end-to-end: DN registration → trend
  * store write/read with partition layout → time + entity rollup →
  * attribute history (current / at / asof / compact) → trigger rules into
  * the notification store. */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def kpiSource = Tables.events(spark, sf0001)
    .select(
      EntityDirectory.dnBuild(
        "Network" -> lit("G1"),
        "Node" -> lpad(col("user_id").cast("string"), 3, "0")).as("dn"),
      col("ts"), col("value").as("kpi_load"))

  test("entity registration is idempotent and DN parsing round-trips") {
    val src = kpiSource
    val dir1 = EntityDirectory.register(src, "dn", "Node")
    val dir2 = EntityDirectory.register(src, "dn", "Node")
    assert(dir1.collect().toSet == dir2.collect().toSet)
    assert(dir1.select("entity_id").distinct().count() == dir1.count(), "id collision")
    val parsed = dir1.select(EntityDirectory.dnPart(col("dn"), "Node").as("node")).as[String].collect()
    assert(parsed.forall(_.matches("[0-9]{3}")))
    // resolve maps every fact row to a registered id
    val resolved = EntityDirectory.resolve(src, dir1, "dn")
    assert(resolved.where(col("entity_id").isNull).count() == 0)
  }

  test("aliases and tags: alternative-name resolve and tag-filtered rollup") {
    val dir = EntityDirectory.register(kpiSource, "dn", "Node")
    // alias = the bare node number; resolves to the same ids as the DN path
    val aliasReg = EntityDirectory.aliases(dir, EntityDirectory.dnPart(col("dn"), "Node"))
    assert(aliasReg.count() == dir.count())
    val byAlias = EntityDirectory.resolveByAlias(
      kpiSource.withColumn("node", EntityDirectory.dnPart(col("dn"), "Node")),
      aliasReg, "node")
    val byDn = EntityDirectory.resolve(kpiSource, dir, "dn")
    assert(byAlias.select("entity_id").collect().toSeq.sorted(Ordering.by((r: org.apache.spark.sql.Row) => r.getLong(0)))
      == byDn.select("entity_id").collect().toSeq.sorted(Ordering.by((r: org.apache.spark.sql.Row) => r.getLong(0))))

    // tag low-numbered nodes; the tag filter keeps exactly their rows
    val lowTag = EntityDirectory.tag(dir,
      EntityDirectory.dnPart(col("dn"), "Node").cast("int") < 10, "low_node")
    val kept = EntityDirectory.filterByTag(byDn, lowTag, "low_node")
    val expected = byDn.where(EntityDirectory.dnPart(col("dn"), "Node").cast("int") < 10)
    assert(kept.count() == expected.count())
    assert(kept.count() > 0 && kept.count() < byDn.count())
    // the semi join broadcasts: fact side must not shuffle
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
  }

  test("trend store: write partitioned by day, read with pruning, rollups conserve") {
    val root = tmpDir("trend")
    val store = new TrendStore(spark, root, Seq("kpi_load"))
    val dir = EntityDirectory.register(kpiSource, "dn", "Node")
    val rows = EntityDirectory.resolve(kpiSource, dir, "dn")
      .select("entity_id", "ts", "kpi_load")
    store.write(rows, "raw")

    // partition layout on disk is d=yyyy-MM-dd
    val days = new java.io.File(store.dir("raw")).listFiles().map(_.getName).filter(_.startsWith("d="))
    assert(days.nonEmpty)

    val back = store.read("raw")
    assert(back.count() == rows.count())
    // a day filter prunes partitions at the scan
    val oneDay = days.head.stripPrefix("d=")
    val plan = back.where(col("d") === oneDay).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(d"), plan)

    // hour rollup conserves the counter sum
    val hourly = store.aggregateTime(back, "hour")
    val a = hourly.agg(sum("kpi_load")).as[Double].head()
    val b = rows.agg(sum("kpi_load")).as[Double].head()
    assert(math.abs(a - b) < 1e-6)

    // entity rollup along a relation conserves too
    val rel = dir.select(col("entity_id").as("source_id"),
      pmod(col("entity_id"), lit(7)).as("target_id"))
    val rolled = store.aggregateEntity(back, rel)
    val c = rolled.agg(sum("kpi_load")).as[Double].head()
    assert(math.abs(c - b) < 1e-6)
    assert(rolled.select("entity_id").distinct().count() <= 7)
  }

  test("trend store expire drops exactly the day partitions before the cutoff") {
    val root = tmpDir("trendexp")
    val store = new TrendStore(spark, root, Seq("kpi_load"))
    val rows = EntityDirectory.resolve(kpiSource,
        EntityDirectory.register(kpiSource, "dn", "Node"), "dn")
      .select("entity_id", "ts", "kpi_load")
    store.write(rows, "raw")
    val allDays = new java.io.File(store.dir("raw")).listFiles()
      .map(_.getName).filter(_.startsWith("d=")).map(_.stripPrefix("d=")).sorted.toSeq
    assert(allDays.size >= 2, s"fixture must span multiple days, got $allDays")

    val cutoff = allDays(1) // keep all but the first day
    val expectedKept = rows
      .where(date_format(col("ts"), "yyyy-MM-dd") >= cutoff).count()

    val dropped = store.expire("raw", cutoff)
    assert(dropped == Seq(allDays.head), s"dropped $dropped, expected first day only")
    val left = new java.io.File(store.dir("raw")).listFiles()
      .map(_.getName).filter(_.startsWith("d=")).map(_.stripPrefix("d=")).sorted.toSeq
    assert(left == allDays.tail, "surviving partitions are exactly the at/after-cutoff days")
    assert(store.read("raw").count() == expectedKept, "reads see only retained rows")

    // idempotent: a second pass with the same cutoff is a no-op
    assert(store.expire("raw", cutoff).isEmpty)
    // and a missing granularity is a quiet no-op, not an error
    assert(store.expire("nope", cutoff).isEmpty)
  }

  test("trend store upsert rewrites only the touched day partitions") {
    val root = tmpDir("trend_upsert")
    val store = new TrendStore(spark, root, Seq("kpi_load"))
    val base = Seq(
      (1L, "2024-01-01 10:00:00", 1.0), (1L, "2024-01-02 10:00:00", 2.0),
      (2L, "2024-01-01 11:00:00", 3.0), (2L, "2024-01-03 12:00:00", 4.0))
      .toDF("entity_id", "ts", "kpi_load")
      .withColumn("ts", col("ts").cast("timestamp"))
    store.write(base, "raw")
    val filesBefore = new java.io.File(store.dir("raw")).listFiles()
      .filter(_.getName.startsWith("d=")).map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap

    // batch: update one Jan-1 reading, insert a new Jan-1 entity — Jan 2/3 untouched
    val batch = Seq(
      (1L, "2024-01-01 10:00:00", 10.0), (9L, "2024-01-01 09:00:00", 9.0))
      .toDF("entity_id", "ts", "kpi_load")
      .withColumn("ts", col("ts").cast("timestamp"))
    store.upsert(batch, "raw")

    val back = store.read("raw").select("entity_id", "ts", "kpi_load")
    assert(back.count() == 5) // 4 base + 1 insert, 1 overwritten in place
    assert(back.where(col("entity_id") === 1 && col("kpi_load") === 10.0).count() == 1)
    assert(back.where(col("entity_id") === 1 && col("kpi_load") === 1.0).count() == 0)
    assert(back.where(col("entity_id") === 9).count() == 1)
    // untouched day partitions keep their original files (no store-wide rewrite)
    val filesAfter = new java.io.File(store.dir("raw")).listFiles()
      .filter(_.getName.startsWith("d=")).map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    assert(filesAfter("d=2024-01-02") == filesBefore("d=2024-01-02"))
    assert(filesAfter("d=2024-01-03") == filesBefore("d=2024-01-03"))
    assert(filesAfter("d=2024-01-01") != filesBefore("d=2024-01-01"))
  }

  test("trend store upsert overwrites the day partitions its merge reads") {
    // Upsert.overwriteDays never stages the merge, so the overwrite's plan
    // reads the very day partitions it replaces; the store must still end
    // up holding the merged rows
    val base = Seq(
      (1L, "2024-01-01 10:00:00", 1.0), (2L, "2024-01-02 11:00:00", 2.0))
      .toDF("entity_id", "ts", "kpi_load")
      .withColumn("ts", col("ts").cast("timestamp"))
    val batch = Seq(
      (1L, "2024-01-01 10:00:00", 10.0), (3L, "2024-01-01 12:00:00", 3.0))
      .toDF("entity_id", "ts", "kpi_load")
      .withColumn("ts", col("ts").cast("timestamp"))
    val store = new TrendStore(spark, tmpDir("trend_upsert_read"), Seq("kpi_load"))
    store.write(base, "raw")
    store.upsert(batch, "raw")
    val stored = store.read("raw")
      .select(col("entity_id"), col("ts").cast("string"), col("kpi_load"))
      .as[(Long, String, Double)].collect().toSet
    assert(stored == Set((1L, "2024-01-01 10:00:00", 10.0),
      (2L, "2024-01-02 11:00:00", 2.0), (3L, "2024-01-01 12:00:00", 3.0)), stored)
  }

  test("lastWriterWins merges updates, inserts, and leaves the rest; one exchange") {
    val base = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v")
    val batch = Seq((2L, 20.0), (4L, 40.0)).toDF("k", "v")
    val merged = graft.ops.Upsert.lastWriterWins(base, batch, Seq("k"))
    assert(merged.orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == Seq((1L, 1.0), (2L, 20.0), (3L, 3.0), (4L, 40.0)))
    // exactly one shuffle: the window's key exchange
    val exchanges = merged.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges")
  }

  test("attribute store: current / at / compact semantics") {
    val hist = Seq(
      (1L, "2024-01-01 00:00:00", "planned"),
      (1L, "2024-01-05 00:00:00", "active"),
      (1L, "2024-01-09 00:00:00", "active"),   // duplicate run -> compacted
      (1L, "2024-01-12 00:00:00", "inactive"),
      (2L, "2024-01-02 00:00:00", "active"))
      .toDF("entity_id", "ts", "status")
      .withColumn("ts", col("ts").cast("timestamp"))

    val cur = AttributeStore.current(hist)
      .select("entity_id", "status").as[(Long, String)].collect().toMap
    assert(cur == Map(1L -> "inactive", 2L -> "active"))

    val at = AttributeStore.at(hist, "2024-01-06 00:00:00")
      .select("entity_id", "status").as[(Long, String)].collect().toMap
    assert(at == Map(1L -> "active", 2L -> "active"))

    val compacted = AttributeStore.compact(hist)
    assert(compacted.count() == 4, "identical consecutive row must collapse")
    assert(compacted.where(col("ts") === lit("2024-01-09 00:00:00").cast("timestamp")).count() == 0)
  }

  test("scd2: intervals tile the timeline, one open current version per entity") {
    val hist = Seq(
      (1L, "2024-01-01 00:00:00", "planned"),
      (1L, "2024-01-05 00:00:00", "active"),
      (1L, "2024-01-09 00:00:00", "active"),   // duplicate run -> no new version
      (1L, "2024-01-12 00:00:00", "inactive"),
      (2L, "2024-01-02 00:00:00", "active"))
      .toDF("entity_id", "ts", "status")
      .withColumn("ts", col("ts").cast("timestamp"))

    val v = AttributeStore.scd2(hist)
      .select("entity_id", "status", "valid_from", "valid_to", "version", "is_current")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Int, Boolean)]
      .collect().sortBy(r => (r._1, r._5))

    assert(v.map(r => (r._1, r._2, r._5)).toSeq ==
      Seq((1L, "planned", 1), (1L, "active", 2), (1L, "inactive", 3), (2L, "active", 1)))
    // versions tile: each valid_to equals the next version's valid_from
    v.groupBy(_._1).foreach { case (_, rows) =>
      rows.sliding(2).foreach {
        case Array(a, b) => assert(a._4.contains(b._3), "valid_to must chain to next valid_from")
        case _ =>
      }
      assert(rows.last._4.isEmpty && rows.last._6, "last version open and current")
      assert(rows.count(_._6) == 1, "exactly one current version")
    }
    // point-in-time via BETWEEN agrees with at()
    val atTs = "2024-01-06 00:00:00"
    val viaScd2 = AttributeStore.scd2(hist)
      .where(col("valid_from") <= lit(atTs).cast("timestamp") &&
        (col("valid_to").isNull || col("valid_to") > lit(atTs).cast("timestamp")))
      .select("entity_id", "status").as[(Long, String)].collect().toMap
    val viaAt = AttributeStore.at(hist, atTs)
      .select("entity_id", "status").as[(Long, String)].collect().toMap
    assert(viaScd2 == viaAt)
  }

  test("scd2 merge: one batch folded into the dimension equals the full rebuild") {
    def df(rows: Seq[(Long, String, String)]) = rows
      .toDF("entity_id", "ts", "status")
      .withColumn("ts", col("ts").cast("timestamp"))
    val hist = df(Seq(
      (1L, "2024-01-01 00:00:00", "planned"),
      (1L, "2024-01-05 00:00:00", "active"),
      (2L, "2024-01-02 00:00:00", "active"),
      (3L, "2024-01-03 00:00:00", "active")))   // untouched by the batch
    val batch = df(Seq(
      (1L, "2024-02-01 00:00:00", "active"),    // equals current -> compacts away
      (1L, "2024-02-03 00:00:00", "inactive"),  // real change -> closes + version 3
      (1L, "2024-02-03 06:00:00", "inactive"),  // duplicate run -> no new version
      (2L, "2024-02-02 00:00:00", "retired"),   // single change
      (4L, "2024-02-04 00:00:00", "planned"),   // NEW entity -> version 1
      (4L, "2024-02-05 00:00:00", "active")))   // ...then version 2
    def snap(d: org.apache.spark.sql.DataFrame) = d
      .select("entity_id", "status", "valid_from", "valid_to", "version", "is_current")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Int, Boolean)]
      .collect().sortBy(r => (r._1, r._5)).toSeq
    val merged = snap(AttributeStore.mergeScd2(AttributeStore.scd2(hist), batch))
    val rebuilt = snap(AttributeStore.scd2(hist.unionByName(batch)))
    assert(merged == rebuilt, s"merge != rebuild:\n$merged\nvs\n$rebuilt")
    // the fixture exercised what it claims: entity 1 gained exactly one
    // version (the equal-head and duplicate compacted away), entity 3 is
    // byte-identical to its pre-merge row, entity 4 numbered from 1
    assert(merged.filter(_._1 == 1L).map(_._2) == Seq("planned", "active", "inactive"))
    assert(merged.filter(_._1 == 3L) == snap(AttributeStore.scd2(hist)).filter(_._1 == 3L))
    assert(merged.filter(_._1 == 4L).map(r => (r._2, r._5)) ==
      Seq(("planned", 1), ("active", 2)))
    // merging an EMPTY batch is the identity
    val empty = batch.where(lit(false))
    assert(snap(AttributeStore.mergeScd2(AttributeStore.scd2(hist), empty)) ==
      snap(AttributeStore.scd2(hist)))
  }

  test("attribute asof join equals per-row at() lookup") {
    val hist = Seq(
      (10L, "2024-01-01 00:00:00", "v1"),
      (10L, "2024-01-10 00:00:00", "v2"),
      (20L, "2024-01-05 00:00:00", "w1"))
      .toDF("entity_id", "ts", "version")
      .withColumn("ts", col("ts").cast("timestamp"))
    val facts = Seq(
      (10L, "2024-01-01 00:00:00"), // exactly on the change: <= semantics -> v1
      (10L, "2024-01-09 23:59:59"),
      (10L, "2024-01-10 00:00:00"),
      (20L, "2024-01-04 00:00:00"), // before any history -> null
      (30L, "2024-02-01 00:00:00")) // unknown entity -> null
      .toDF("ent", "fts")
      .withColumn("fts", col("fts").cast("timestamp"))
    val joined = AttributeStore.asofJoin(hist, facts, "ent", "fts")
      .select("ent", "fts", "version").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getString(2))).toSet
    assert(joined == Set(
      (10L, "2024-01-01 00:00:00.0", "v1"),
      (10L, "2024-01-09 23:59:59.0", "v1"),
      (10L, "2024-01-10 00:00:00.0", "v2"),
      (20L, "2024-01-04 00:00:00.0", null),
      (30L, "2024-02-01 00:00:00.0", null)), joined.toString)
  }

  test("trigger rules produce notifications; store is append-only by day") {
    val dir = EntityDirectory.register(kpiSource, "dn", "Node")
    val kpis = EntityDirectory.resolve(kpiSource, dir, "dn")
    val rules = Seq(
      Triggers.Rule("load_high", "kpi_load", "major")(_ > 90.0),
      Triggers.Rule("load_negative", "kpi_load", "warning")(_ < 0.0))
    val notes = Triggers.evaluate(kpis, rules)
    val brute = kpis.where(col("kpi_load") > 90.0 || col("kpi_load") < 0.0).count()
    assert(notes.count() == brute)
    assert(notes.select("rule").distinct().count() >= 1)

    val out = tmpDir("notif")
    Triggers.store(notes, out)
    Triggers.store(notes, out) // append-only: second write doubles
    assert(spark.read.parquet(out).count() == 2 * notes.count())
  }

  test("cooldown suppression: at most one alarm per (entity, rule) per window") {
    import spark.implicits._
    def kpi(rows: (Long, String, Double)*) = rows.toSeq
      .toDF("entity_id", "ts", "kpi_load")
      .withColumn("ts", col("ts").cast("timestamp"))
    val rules = Seq(Triggers.Rule("load_high", "kpi_load", "major")(_ > 90.0))
    val out = tmpDir("notif_cd")

    // empty store: nothing suppressed
    val first = kpi((1L, "2024-01-01 10:00:00", 100.0), (2L, "2024-01-01 10:00:00", 50.0))
    val n1 = Triggers.evaluateWithCooldown(first, rules, spark, out, "2 hours")
    assert(n1.count() == 1)
    Triggers.store(n1, out)

    val again = kpi(
      (1L, "2024-01-01 10:00:00", 100.0), // identical re-raise (late-data recompute)
      (1L, "2024-01-01 11:30:00", 99.0),  // within the 2h window
      (2L, "2024-01-01 11:00:00", 95.0))  // different entity: its first alarm
    val n2 = Triggers.evaluateWithCooldown(again, rules, spark, out, "2 hours")
    assert(n2.select("entity_id").as[Long].collect().toSeq == Seq(2L),
      "entity 1 is in cooldown, entity 2 raises")
    Triggers.store(n2, out)

    // past the window the same pair raises again
    val later = kpi((1L, "2024-01-01 12:00:01", 120.0))
    val n3 = Triggers.evaluateWithCooldown(later, rules, spark, out, "2 hours")
    assert(n3.count() == 1, "cooldown expired: the pair alarms again")

    // with no cooldown the identical inputs re-raise everything
    assert(Triggers.evaluate(again, rules).count() == 3)
  }

  test("store_zorder prunes to the rectangle's 12 Morton cells and loses no rows") {
    val got = SparkEntry.queries("store_zorder")(spark, sf0001)
    val rows = got.collect()
    // the write happened: all 64 Morton cells exist as directories
    val dirs = new java.io.File("/root/repo/target/scratch/cust_zorder")
      .listFiles().filter(_.getName.startsWith("z=")).map(_.getName.stripPrefix("z=").toInt).toSet
    // tiny fixture: a few of the 64 cells may be empty, but most exist
    assert(dirs.size >= 48 && dirs.forall(z => z >= 0 && z <= 63),
      s"unexpected z dirs: $dirs")
    // pruning is real: the pruned read lists exactly the covering cells
    // that exist on disk (12 at full occupancy)
    val cells = (for { x <- 2 to 5; y <- 1 to 3 } yield
      (0 until 3).map(i => (((x >> i) & 1) << (2 * i + 1))
        | (((y >> i) & 1) << (2 * i))).sum).toSet
    assert(cells.size == 12)
    val pruned = spark.read.parquet("/root/repo/target/scratch/cust_zorder")
      .where(col("z").isin(cells.toSeq: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [z"), plan.take(2000))
    assert(pruned.select("z").distinct().count() == (cells & dirs).size)
    // completeness: the pruned rectangle aggregate equals brute force
    // over the full store (the GeoSpec blocked-vs-brute argument)
    def numAt(r: org.apache.spark.sql.Row, i: Int): Long = r.get(i) match {
      case l: Long => l; case n: Int => n.toLong; case x => x.toString.toLong
    }
    val brute = spark.read.parquet("/root/repo/target/scratch/cust_zorder")
      .where(col("xb") >= 2 && col("xb") <= 5 && col("yb") >= 1 && col("yb") <= 3)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"), sum("cents").as("sum_cents"))
      .collect().map(r => (numAt(r, 0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.map(r => (numAt(r, 0), r.getLong(1), r.getLong(2))).toSet == brute)
    // the rectangle's y range keeps only nations with nation mod 8 in [1,3]
    assert(rows.nonEmpty && rows.forall(r => (numAt(r, 0) % 8) >= 1 && (numAt(r, 0) % 8) <= 3))
  }

  test("store_zorder_range skips z-sorted files via footer stats and loses no rows") {
    val got = SparkEntry.queries("store_zorder_range")(spark, sf0001).collect()
    assert(got.nonEmpty)
    val out = "/root/repo/target/scratch/cust_zorder_range"
    // the pruning decision repeated here: cover ∩ footer manifest
    val cover = graft.store.ZOrder.rangeCover(8, 23, 16, 47, bits = 6)
    val manifest = graft.Fs.parquetColumnMinMax(spark, out, "z")
    val needed = manifest.count { case (_, lo, hi) =>
      cover.exists { case (cl, ch) => lo <= ch && hi >= cl } }
    assert(manifest.size >= 12, s"expected ~16 z-clustered files, got ${manifest.size}")
    assert(needed < manifest.size,
      s"no file skipped: $needed of ${manifest.size} overlap the cover")
    // completeness: pruned rectangle aggregate equals brute force over
    // the full store
    def numAt(r: org.apache.spark.sql.Row, i: Int): Long = r.get(i) match {
      case l: Long => l; case n: Int => n.toLong; case x => x.toString.toLong
    }
    val brute = spark.read.parquet(out)
      .where(col("xb") >= 8 && col("xb") <= 23 && col("yb") >= 16 && col("yb") <= 47)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"), sum("cents").as("sum_cents"))
      .collect().map(r => (numAt(r, 0), r.getLong(1), r.getLong(2))).toSet
    assert(got.map(r => (numAt(r, 0), r.getLong(1), r.getLong(2))).toSet == brute)
  }

  test("store_zorder_3d skips 3-D z-sorted files via footer stats and loses no rows (r11)") {
    val got = SparkEntry.queries("store_zorder_3d")(spark, sf0001).collect()
    assert(got.nonEmpty)
    val out = "/root/repo/target/scratch/events_zorder_3d"
    val cover = graft.store.ZOrder.rangeCoverK(
      Seq(4L, 3L, 5L), Seq(11L, 12L, 13L), bits = 4)
    val manifest = graft.Fs.parquetColumnMinMax(spark, out, "z")
    val needed = manifest.count { case (_, lo, hi) =>
      cover.exists { case (cl, ch) => lo <= ch && hi >= cl } }
    assert(manifest.size >= 12, s"expected ~16 z-clustered files, got ${manifest.size}")
    assert(needed < manifest.size,
      s"no file skipped: $needed of ${manifest.size} overlap the cover")
    // the in-plan interleave expression agrees with ZOrder.encodeK
    val zcheck = spark.read.parquet(out)
      .select("ub", "db", "vb", "z").distinct().collect()
    zcheck.foreach { r =>
      val expect = graft.store.ZOrder.encodeK(
        Seq(r.getInt(0).toLong, r.getInt(1).toLong, r.getInt(2).toLong), bits = 4)
      assert(r.getLong(3) == expect, s"z mismatch at $r")
    }
    // completeness: pruned box aggregate equals brute force over the store
    val brute = spark.read.parquet(out)
      .where(col("ub").between(4, 11) && col("db").between(3, 12)
        && col("vb").between(5, 13))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("micro").as("sum_micro"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == brute)
  }

  test("dynamic partition overwrite replaces ONLY the touched partition (r11 physical pin)") {
    import spark.implicits._
    val out = tmpDir("dyn_overwrite_pin")
    Seq((1L, "da", 10L), (2L, "da", 20L), (3L, "db", 30L), (4L, "dc", 40L))
      .toDF("id", "day", "v")
      .write.partitionBy("day").mode("overwrite").parquet(out)
    def files(day: String) = {
      val dir = java.nio.file.Paths.get(out, s"day=$day")
      val st = java.nio.file.Files.list(dir)
      try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally st.close()
    }
    val beforeA = files("da"); val beforeC = files("dc")
    assert(beforeA.nonEmpty && beforeC.nonEmpty)
    Thread.sleep(5) // ensure a rewrite would move mtimes
    Seq((5L, "db", 99L)).toDF("id", "day", "v")
      .write.partitionBy("day").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(out)
    // untouched partitions: exact same files, same mtimes (no rewrite)
    assert(files("da") == beforeA, "partition da was touched")
    assert(files("dc") == beforeC, "partition dc was touched")
    // touched partition fully replaced
    val rows = spark.read.parquet(out).select("id", "day", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set((1L, "da", 10L), (2L, "da", 20L), (5L, "db", 99L), (4L, "dc", 40L)))
  }

  test("store_compact_files shrinks the file count and keeps range clustering") {
    val got = SparkEntry.queries("store_compact_files")(spark, sf0001).collect()
    assert(got.nonEmpty)
    // compaction is real: strictly fewer data files after the rewrite
    val before = graft.Fs.countDataFiles(spark,
      "/root/repo/target/scratch/events_fragmented", ".parquet")
    val after = graft.Fs.countDataFiles(spark,
      "/root/repo/target/scratch/events_compacted", ".parquet")
    assert(before >= 40, s"fragmentation fixture too small: $before files")
    assert(after < before, s"no compaction: $after >= $before")
    assert(after <= 5, s"rowsPerFile sizing missed: $after files for a 4-file target")
    // clustering survives: the compacted files' footer min/max user_id
    // ranges are pairwise DISJOINT (repartitionByRange assigns each key
    // to exactly one partition), where the fragmented round-robin input
    // had every file spanning nearly the full key range
    val ranges = graft.Fs.parquetColumnMinMax(spark,
      "/root/repo/target/scratch/events_compacted", "user_id")
      .map { case (_, lo, hi) => (lo, hi) }.sorted
    assert(ranges.nonEmpty && ranges.forall { case (lo, hi) => lo <= hi })
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(lo2 >= hi1, s"overlapping compacted ranges: $ranges")
      case _ => ()
    }
    val fragRanges = graft.Fs.parquetColumnMinMax(spark,
      "/root/repo/target/scratch/events_fragmented", "user_id")
    val (gLo, gHi) = (fragRanges.map(_._2).min, fragRanges.map(_._3).max)
    // round-robin fragments each cover most of the global range — the
    // layout compaction just repaired
    assert(fragRanges.count { case (_, lo, hi) =>
      (hi - lo) * 10 >= (gHi - gLo) * 5 } * 2 >= fragRanges.size,
      "fragmented fixture unexpectedly clustered already")
  }
}
