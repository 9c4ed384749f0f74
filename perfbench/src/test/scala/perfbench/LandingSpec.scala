package perfbench

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.MeasurementXml

/** The seeded landing plan of `harvest_cycle`. Run with `sbt test` from
  * the benchmark directory. */
class LandingSpec extends AnyFunSuite {
  private val hour = 3600L * 1000000L
  private val start = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  private val events: IndexedSeq[Landing.Event] = {
    val rnd = new Random(3)
    (0 until 4000).map { i =>
      Landing.Event(i.toLong, start + (i * 7L * 24 * hour) / 4000 + rnd.nextInt(1000000),
        rnd.nextInt(60).toLong, math.round(rnd.nextDouble() * 50000) / 100.0, rnd.nextInt(100))
    }
  }

  private def rendered(seed: Long): Seq[(String, String)] =
    Landing.plan(events, start, seed).flatten.map(f => f.name -> f.render)

  test("the same seed gives byte-identical landing files") {
    assert(rendered(11) == rendered(11))
  }

  test("another seed gives a different split and late set") {
    val a = Landing.plan(events, start, 11).flatten
    val b = Landing.plan(events, start, 12).flatten
    def split(fs: Seq[Landing.File]) = fs.map(f => f.name -> f.events.map(_.eventId).toSet).toMap
    def late(fs: Seq[Landing.File]) = fs.filter(_.name.endsWith("-late.xml")).flatMap(_.events.map(_.eventId)).toSet
    assert(split(a) != split(b))
    assert(late(a).nonEmpty && late(b).nonEmpty && late(a) != late(b))
  }

  test("no event is dropped or duplicated, and late rows land in a later late batch") {
    val plan = Landing.plan(events, start, 11)
    val landed = plan.flatten.flatMap(_.events.map(_.eventId))
    assert(landed.sorted == events.map(_.eventId))
    val batchOf = (e: Landing.Event) => ((e.tsMicros - start) / (Landing.BatchHours * hour)).toInt
    plan.zipWithIndex.foreach { case (files, b) =>
      files.foreach { f =>
        if (f.name.endsWith("-late.xml")) {
          assert(Landing.isLateBatch(b))
          assert(f.events.forall(batchOf(_) < b))
        } else assert(f.events.forall(batchOf(_) == b))
      }
    }
  }

  test("rendered files parse back to exactly the planned rows") {
    Landing.plan(events, start, 11).flatten.take(10).foreach { f =>
      val parsed = MeasurementXml.parseFile(f.render, Landing.Counters).toSeq
      assert(parsed.map(_.toSeq).toSet == f.events.map(e => Landing.toRow(e).toSeq).toSet)
      assert(parsed.size == f.events.size)
    }
  }
}
