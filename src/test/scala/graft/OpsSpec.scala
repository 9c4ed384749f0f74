package graft

import org.apache.spark.sql.functions._

import graft.ops.{Checkpoints, Iterate, Skew}
import graft.sources.MeasurementXml
import graft.store.Compaction

/** XML harvest source round-trip, salted-aggregation equivalence, and
  * small-file compaction. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("XML measurement ingest round-trips values, nulls, and schema policy") {
    val counters = Seq("kpi_a", "kpi_b")
    val xml =
      """<measCollecFile>
        |  <measData dn="Network=G1,Node=001" granularity="900">
        |    <measTypes>kpi_a kpi_b kpi_ignored</measTypes>
        |    <measValue ts="2024-01-01T00:15:00"><r>1.5</r><r>2.5</r><r>9.9</r></measValue>
        |    <measValue ts="2024-01-01T00:30:00"><r>3.5</r><r></r><r>9.9</r></measValue>
        |  </measData>
        |  <measData dn="Network=G1,Node=002" granularity="900">
        |    <measTypes>kpi_b</measTypes>
        |    <measValue ts="2024-01-01T00:15:00"><r>7.0</r></measValue>
        |  </measData>
        |</measCollecFile>""".stripMargin
    val dir = tmpDir("xml_src")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "f.xml"), xml)

    val df = MeasurementXml.read(spark, dir, counters)
    val rows = df.orderBy("dn", "ts").collect()
    assert(rows.length == 3)
    // declared schema wins: kpi_ignored dropped, missing kpi_a is null
    assert(df.columns.toSeq == Seq("dn", "ts", "kpi_a", "kpi_b"))
    assert(rows(0).getDouble(2) == 1.5 && rows(0).getDouble(3) == 2.5)
    assert(rows(1).isNullAt(3), "empty <r/> must be null")
    assert(rows(2).isNullAt(2) && rows(2).getDouble(3) == 7.0)
    // no shuffle: file-parallel parse
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("XML render/read round-trip equals the source rows") {
    val counters = Seq("c1")
    val src = Seq(("Network=G1,Node=001", "2024-01-01 01:00:00", 5.25),
      ("Network=G1,Node=002", "2024-01-01 02:00:00", 6.5))
      .toDF("dn", "ts", "c1").withColumn("ts", col("ts").cast("timestamp"))
    val dir = tmpDir("xml_rt")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "m.xml"),
      MeasurementXml.render(src.collect().toSeq, counters))
    val back = MeasurementXml.read(spark, dir, counters)
    assert(back.collect().map(_.toSeq).toSet == src.collect().map(_.toSeq).toSet)
  }

  test("Checkpoints.free releases a localCheckpoint's blocks deterministically") {
    val df = spark.range(1000).toDF("id").localCheckpoint(true)
    val rddId = df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.get
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "localCheckpoint(true) must persist the materialized RDD")
    graft.ops.Checkpoints.free(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId),
      "free must drop the RDD from the persistence registry without waiting for GC")
  }

  test("stageCounted counts through the staging job; a small stage keeps a finite size estimate") {
    def third = spark.range(1000).toDF("id").where(col("id") % 3 === 0)
    val (staged, n) = Checkpoints.stageCounted(third)
    assert(n == 334L && staged.count() == 334L)
    assert(checkpointIds(staged).size == 1)
    // the staged leaf carries the origin plan's estimate, not the
    // planner's "unknown" default, so the planner may broadcast it
    val size = staged.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size < spark.sessionState.conf.autoBroadcastJoinThreshold, s"staged estimate $size")
    Checkpoints.free(staged)
  }

  test("Iterate.rounds leaves only the caller's init and the returned stage persisted") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val init = spark.range(100).toDF("id").localCheckpoint(true)
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val out = Iterate.rounds(init, 4) { (cur, i) =>
      seen += i
      cur.select((col("id") + i).as("id"))
    }
    assert(seen == Seq(1, 2, 3, 4), "rounds run once each, in order")
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before ==
      checkpointIds(init) ++ checkpointIds(out),
      "every intermediate stage must be freed; init and the result must not")
    assert(out.agg(sum("id")).head().getLong(0) == (0 until 100).sum + 100L * (1 + 2 + 3 + 4))
    Checkpoints.free(init)
    Checkpoints.free(out)
  }

  test("Iterate.untilFixpoint stops at the first round where done holds and never passes its cap") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val init = spark.range(10).toDF("id").localCheckpoint(true)
    def maxId(df: org.apache.spark.sql.DataFrame) = df.agg(max("id")).head().getLong(0)
    var stepped = 0
    val hit = Iterate.untilFixpoint(init, 10) { (cur, _) =>
      stepped += 1
      cur.select((col("id") + 1).as("id"))
    } (next => maxId(next) >= 12)
    assert(stepped == 3 && maxId(hit) == 12, s"stopped after $stepped rounds")
    var capped = 0
    val last = Iterate.untilFixpoint(init, 5) { (cur, _) =>
      capped += 1
      cur.select((col("id") + 1).as("id"))
    } (_ => false)
    assert(capped == 5 && maxId(last) == 14, s"ran $capped rounds under a cap of 5")
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before ==
      checkpointIds(init) ++ checkpointIds(hit) ++ checkpointIds(last))
    Seq(init, hit, last).foreach(Checkpoints.free)
  }

  test("Iterate.untilFixpoint records one stage per round, then the final action") {
    val init = spark.range(10).toDF("id").localCheckpoint(true)
    var out: org.apache.spark.sql.DataFrame = null
    val plans = graft.tools.PlanScan.executedPlans(spark) {
      out = Iterate.untilFixpoint(init, 10) { (cur, _) =>
        cur.select((col("id") + 1).as("id"))
      } (next => next.agg(max("id")).head().getLong(0) >= 12)
      out
    }
    // each round: its staging job, then the done check's driver read
    assert(plans.map(_._1) ==
      Seq.fill(3)(Seq("localCheckpoint", "head")).flatten :+ "foreach", plans.map(_._1))
    // a staged round reads its predecessor's blocks: one round deep
    plans.filter(_._1 == "localCheckpoint").foreach { case (_, p) =>
      assert("Scan ExistingRDD".r.findAllIn(p.toString).size == 1, p)
    }
    Seq(init, out).foreach(Checkpoints.free)
  }

  test("recorded plans of staged keys include a stage and the source scan") {
    // each of these keys returns a frame over staged blocks; only the
    // plans it executed on the way show the parquet scan of its source
    Seq("graph_pagerank" -> "lineitem", "graph_kcore" -> "lineitem",
        "llm_dedup_lsh_verified" -> "documents", "llm_dedup_minhash" -> "documents")
      .foreach { case (k, table) =>
        val plans = graft.tools.PlanScan.executedPlans(spark, k, sf0001)
        assert(plans.last._1 == "foreach", s"$k: ${plans.map(_._1)}")
        assert(plans.exists(_._1 == "localCheckpoint"), s"$k: no stage in ${plans.map(_._1)}")
        val scan = s"FileScan parquet .*$table\\.parquet".r
        assert(plans.exists(p => scan.findFirstIn(p._2.toString).isDefined),
          s"$k: no parquet scan of $table in ${plans.size} recorded plans")
      }
  }

  test("distributed global rank equals the single-partition window, incl. ntile") {
    import org.apache.spark.sql.expressions.Window
    // non-uniform values + a size that doesn't divide the tile count, so
    // the ceil/floor tile-boundary arithmetic is actually exercised
    val df = spark.range(10007)
      .select(col("id"), ((col("id") * 37) % 1009).as("v"))
    val expected = df
      .withColumn("g", row_number().over(Window.orderBy(col("v"), col("id"))))
      .withColumn("nt", ntile(5).over(Window.orderBy(col("v"), col("id"))))
      .select("id", "g", "nt")
      .collect().map(r => r.getLong(0) -> (r.getInt(1).toLong, r.getInt(2))).toMap
    val got = graft.ops.Rank.withGlobalRank(df, Seq(col("v"), col("id")), "g", "n", partitions = 7)
      .withColumn("nt", graft.ops.Rank.ntileExpr(5, "g", "n"))
      .select("id", "g", "nt")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(got == expected)
  }

  test("ntileExpr matches SQL-standard NTILE across sizes and tile counts") {
    import graft.ops.Rank
    // reference: first (n mod t) tiles take ceil(n/t) rows, rest floor(n/t)
    def refTile(g: Long, n: Long, t: Int): Int = {
      val big = n % t; val hi = n / t + 1
      if (g <= big * hi) ((g - 1) / hi + 1).toInt
      else (big + (g - big * hi - 1) / (n / t) + 1).toInt
    }
    for (n <- Seq(1L, 2L, 3L, 4L, 5L, 7L, 19L, 100L, 101L)) {
      val df = spark.range(n).select(col("id"))
      val ranked = Rank.withGlobalRank(df, Seq(col("id")), "g", "n", partitions = 3)
      val withTiles = Seq(1, 2, 3, 5, 7).foldLeft(ranked) { (acc, t) =>
        acc.withColumn(s"t$t", Rank.ntileExpr(t, "g", "n"))
      }
      withTiles.collect().foreach { r =>
        val g = r.getAs[Long]("g")
        Seq(1, 2, 3, 5, 7).foreach { t =>
          assert(r.getAs[Int](s"t$t") == refTile(g, n, t), s"n=$n g=$g t=$t")
        }
      }
    }
  }

  test("distributed global cumsum equals the single-partition running sum") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(10007)
      .select(col("id"), ((col("id") * 37) % 1009).as("v"), ((col("id") * 13) % 97).as("x"))
    val w = Window.orderBy(col("v"), col("id"))
    val expected = df
      .withColumn("g", row_number().over(w))
      .withColumn("cum", sum(col("x")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "g", "cum")
      .collect().map(r => r.getLong(0) -> (r.getInt(1).toLong, r.getLong(2))).toMap
    val got = graft.ops.Rank.withGlobalCumSum(df, Seq(col("v"), col("id")), "x",
        "cum", "g", "n", partitions = 7)
      .select("id", "g", "cum")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("salted aggregation equals direct aggregation") {
    // heavily skewed: 90% of rows share one key
    val df = spark.range(100000)
      .select(when(col("id") % 10 =!= 0, lit("hot")).otherwise(concat(lit("k"), col("id") % 7)).as("k"),
        (col("id") % 100).cast("double").as("v"))
    val direct = df.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("c"), min("v").as("mn"), max("v").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val salted = Skew.saltedAgg(df, Seq("k"), 16,
      Map("s" -> ("v", "sum"), "c" -> ("v", "count"), "mn" -> ("v", "min"), "mx" -> ("v", "max")))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (s, c, mn, mx)) =>
      val (ds, dc, dmn, dmx) = direct(k)
      assert(c == dc && mn == dmn && mx == dmx, k)
      assert(math.abs(s - ds) < 1e-6, s"$k: $s vs $ds")
    }
  }

  test("salted join equals direct join and exchanges on (key, salt)") {
    val fact = spark.range(50000)
      .select(when(col("id") % 10 =!= 0, lit("hot")).otherwise(concat(lit("k"), col("id") % 7)).as("k"),
        col("id").as("v"))
    val dim = fact.select("k").distinct().withColumn("w", length(col("k")).cast("long"))
    val direct = fact.join(dim, "k")
      .groupBy("k").agg(sum(col("v") + col("w")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val saltedJoined = Skew.saltedJoin(fact, dim, "k", 16)
    val salted = saltedJoined
      .groupBy("k").agg(sum(col("v") + col("w")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(salted == direct)
    // the join's exchange must carry the salt, not just the hot key
    val plan = saltedJoined.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), "salted join plan must partition on (key, __salt)")
  }

  test("AQE splits a skewed sort-merge join at runtime (the 100 TB fallback)") {
    // Salting (Skew.saltedJoin) is the explicit mitigation; AQE's runtime
    // skew split is the automatic one we claim works when the build side
    // can't be replicated. Force an SMJ over a 90%-one-key fact with
    // thresholds scaled to test data and assert the executed plan marks
    // the skew split.
    val conf = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.range(200000)
        .select(when(col("id") % 10 =!= 0, lit("hot")).otherwise(concat(lit("k"), col("id") % 7)).as("k"),
          col("id").as("v"))
      // dim must be a plain scan: OptimizeSkewedJoin only matches a join
      // whose children read DIRECTLY from shuffle stages — an aggregate
      // between the sort and the exchange disqualifies the side
      val dim = (Seq("hot") ++ (0 until 7).map("k" + _))
        .map(k => (k, k.length.toLong)).toDF("k", "w")
      val joined = fact.join(dim.hint("merge"), "k")
      // AQE finalizes the plan only on execution of THIS queryExecution —
      // collect (not count, which builds a separate plan), then inspect.
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in adaptive plan:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("compaction reduces file count and preserves data") {
    val src = tmpDir("compact_src")
    Tables.events(spark, sf0001).repartition(24)
      .write.mode("overwrite").parquet(src)
    val dst = tmpDir("compact_dst")
    val (before, after) = Compaction.compactTo(spark, src, dst, rowsPerFile = 1000,
      sortCols = Seq("ts"))
    assert(before == 24, s"expected 24 input files, got $before")
    assert(after == 1, s"1000 rows/file over 1000 rows -> 1 file, got $after")
    val a = spark.read.parquet(src)
    val b = spark.read.parquet(dst)
    assert(a.count() == b.count())
    assert(a.unionByName(b).distinct().count() == a.distinct().count())
  }
}
