package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Example: per-user gap detection on Spark 4's arbitrary-state v2 API
  * (`transformWithState` + RocksDB state store) over a replayed event
  * stream. Run with `sbt "runMain graft.tools.StreamDemo [sfDir]"`. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Harness.session(4)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    // Route through Streams' two-generation ts detection (nanos-as-long or
    // native timestamp) instead of hardcoding one layout: eventsStream
    // returns a canonical µs `ts`, so epoch seconds is a plain long cast.
    val gaps = graft.streaming.Streams.eventsStream(spark, sfDir)
      .select(col("user_id"), col("ts").cast("long").as("ts_sec"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.GapProcessor(),
        TimeMode.None(), OutputMode.Append())

    val ckpt = java.nio.file.Files.createTempDirectory("stream_demo_ckpt").toString
    val q = gaps.toDF("user_id", "n_events", "max_gap_sec")
      .writeStream.format("memory").queryName("gap_demo")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    println("[stream] users with the largest inter-event gaps (RocksDB v2 state):")
    spark.table("gap_demo").orderBy(col("max_gap_sec").desc).show(5)
    spark.stop()
  }
}
