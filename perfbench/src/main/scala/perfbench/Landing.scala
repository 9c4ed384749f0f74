package perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.Row

import graft.sources.MeasurementXml

/** The seeded landing plan of the `harvest_cycle` workload: a month of
  * events cut into one landing batch per `BatchHours` interval, each batch
  * split across `FilesPerBatch` measurement-XML files by network element.
  *
  * A seeded `LateShare` of rows is held back from its own batch and lands
  * with the next late batch (every `LateEvery`-th batch), in a separate
  * `-late` file — so late ticks recompute buckets that were already
  * materialized. Rows whose late batch would fall past the month land on
  * time. Pure and deterministic: the same events and seed give
  * byte-identical files; every event lands in exactly one file.
  */
object Landing {
  val BatchHours = 6
  val FilesPerBatch = 4
  val LateEvery = 3
  val LateShare = 0.05
  val Counters = Seq("kpi_value", "kpi_k")

  final case class Event(eventId: Long, tsMicros: Long, userId: Long, value: Double, k: Int) {
    def dn: String = f"Network=G1,Node=$userId%05d"
  }

  final case class File(name: String, events: IndexedSeq[Event]) {
    def render: String = MeasurementXml.render(events.map(toRow), Counters)
  }

  def toRow(e: Event): Row = {
    val ts = new Timestamp(Math.floorDiv(e.tsMicros, 1000L))
    ts.setNanos((Math.floorMod(e.tsMicros, 1000000L) * 1000L).toInt)
    Row(e.dn, ts, e.value, e.k.toDouble)
  }

  def isLateBatch(b: Int): Boolean = b % LateEvery == LateEvery - 1

  /** Batches (index = batch number) of landing files for `events`, whose
    * timestamps are µs since the epoch at or after `startMicros`. */
  def plan(events: IndexedSeq[Event], startMicros: Long, seed: Long): IndexedSeq[Seq[File]] = {
    val batchMicros = BatchHours * 3600L * 1000000L
    val nBatches = ((events.map(_.tsMicros).max - startMicros) / batchMicros + 1).toInt
    val rnd = new Random(seed)
    // network element -> file slot, re-drawn per seed
    val slot = events.map(_.userId).distinct.sorted
      .map(u => u -> rnd.nextInt(FilesPerBatch)).toMap
    val onTime = Array.fill(nBatches)(IndexedSeq.newBuilder[Event])
    val late = Array.fill(nBatches)(IndexedSeq.newBuilder[Event])
    events.sortBy(_.eventId).foreach { e =>
      val b = ((e.tsMicros - startMicros) / batchMicros).toInt
      val target = if (rnd.nextDouble() < LateShare) {
        val next = (b + 1 until nBatches).find(isLateBatch)
        next.getOrElse(b)
      } else b
      (if (target == b) onTime else late)(target) += e
    }
    (0 until nBatches).map { b =>
      val rows = onTime(b).result()
      val split = rows.groupBy(e => slot(e.userId))
      val files = (0 until FilesPerBatch).flatMap { s =>
        split.get(s).map(es => File(f"b$b%04d-s$s.xml", es.sortBy(_.eventId)))
      }
      val lateRows = late(b).result()
      files ++ (if (lateRows.isEmpty) Nil
                else Seq(File(f"b$b%04d-late.xml", lateRows.sortBy(_.eventId))))
    }
  }
}
