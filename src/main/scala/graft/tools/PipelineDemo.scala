package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.directory.EntityDirectory
import graft.store.{AttributeStore, TrendStore, Triggers}

/** End-to-end example of the domain API: DN registration → trend store
  * ingest → time rollup → threshold triggers → notification store →
  * attribute as-of lookup. Run with
  * `sbt "runMain graft.tools.PipelineDemo [sfDir]"`. */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Harness.session(4)
    val work = java.nio.file.Files.createTempDirectory("graft_pipeline").toString

    // 1. ingest: DN-keyed measurements -> entity registry -> resolved facts
    val src = Tables.events(spark, sfDir).select(
      EntityDirectory.dnBuild(
        "Network" -> lit("G1"),
        "Node" -> lpad(col("user_id").cast("string"), 3, "0")).as("dn"),
      col("ts"), col("value").as("kpi_load"))
    val registry = EntityDirectory.register(src, "dn", "Node")
    println(s"[pipeline] registered ${registry.count()} entities")

    // 2. trend store: write raw, roll up to hourly
    val store = new TrendStore(spark, s"$work/trend", Seq("kpi_load"))
    store.write(EntityDirectory.resolve(src, registry, "dn")
      .select("entity_id", "ts", "kpi_load"), "raw")
    val raw = store.read("raw")
    store.write(store.aggregateTime(raw, "hour"), "1h")
    println(s"[pipeline] trend raw=${raw.count()} rows, hourly=${store.read("1h").count()} rows")

    // 3. triggers over the hourly KPIs -> notification store
    val raised = Triggers.raise(store.read("1h"),
      Seq(Triggers.Rule("load_high", "kpi_load", "major")(_ > 150.0)), s"$work/notifications")
    println(s"[pipeline] $raised notifications raised")

    // 3b. maintenance: compact the (many-small-files) notification store
    val (fBefore, fAfter) = graft.store.Compaction.compactTo(
      spark, s"$work/notifications", s"$work/notifications_c", rowsPerFile = 100000)
    println(s"[pipeline] compaction: $fBefore files -> $fAfter")

    // 3c. skew-safe rollup of the hourly KPIs (hot entities spread over salts)
    val salted = graft.ops.Skew.saltedAgg(store.read("1h"), Seq("entity_id"), 8,
      Map("total" -> ("kpi_load", "sum"), "n" -> ("kpi_load", "count")))
    println(s"[pipeline] salted rollup rows: ${salted.count()}")

    // 4. attribute history + as-of enrichment of the notifications
    val hist = registry.select(col("entity_id"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"),
        lit("active").as("status"))
    val enriched = AttributeStore.asofJoin(hist,
      spark.read.parquet(s"$work/notifications"), "entity_id", "ts")
    println(s"[pipeline] enriched sample:")
    enriched.select("entity_id", "ts", "rule", "value", "status")
      .orderBy(col("value").desc).show(3, truncate = false)
    spark.stop()
  }
}
