package graft

import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.{AbsAlert, FunnelEvent, absenceAlerts}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Edge semantics of the timer-based CEP-negation processor, pinned on a
  * hand-built fixture the differential's corpus can't guarantee to
  * contain: the exact-deadline boundary (a purchase AT view+horizon
  * converts; one microsecond later does not), the equal-timestamp
  * boundary (a purchase at the view's own instant does NOT convert —
  * "followed by" is strict), retraction across a batch cut (view in one
  * micro-batch, converting purchase in a later one), and multiple
  * pending views resolved independently.
  */
class AbsenceStreamSpec extends SparkSpec {
  import spark.implicits._
  private val H = 3600L * 1000000L // 1h in micros

  private def ts(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  private def run(batches: Seq[Seq[FunnelEvent]], closeUs: Long): Set[(Long, Long)] = {
    val ms = MemoryStream[FunnelEvent](spark)
    val steps = batches.map[() => Unit](b => () => ms.addData(b.toIndexedSeq)) ++
      StreamingIngest.sentinelSteps(closeUs / 1000, 2, 10 * H / 1000) {
        t => ms.addData(FunnelEvent(-1L, t, "sentinel")) }
    StreamingIngest.drainTable(absenceAlerts(ms.toDS(), horizonUs = H), "absence_edge_sink",
        flush = steps)
      .as[AbsAlert].collect()
      .filter(_.user_id != -1L).map(a => (a.user_id, a.view_us)).toSet
  }

  private val base = 1700000000L * 1000000L // stable epoch anchor, micros

  test("exact-deadline and equal-timestamp boundaries") {
    val evs = Seq(
      FunnelEvent(1L, ts(base), "view"),              // converted at EXACT deadline
      FunnelEvent(1L, ts(base + H), "purchase"),
      FunnelEvent(2L, ts(base), "view"),              // 1µs past deadline → alert
      FunnelEvent(2L, ts(base + H + 1), "purchase"),
      FunnelEvent(3L, ts(base), "view"),              // equal-ts purchase → alert
      FunnelEvent(3L, ts(base), "purchase"))
    assert(run(Seq(evs), base + 2 * H) ==
      Set((2L, base), (3L, base)))
  }

  test("retraction across a batch cut; independent pending views") {
    // the converting purchase arrives one micro-batch AFTER its view —
    // and must sit ABOVE batch 1's watermark (delay 0 ⇒ anything below
    // max seen event time is late and filtered before the processor)
    val b1 = Seq(
      FunnelEvent(4L, ts(base), "view"),          // horizon long gone → alert
      FunnelEvent(4L, ts(base + 3 * H), "view"),  // converted by batch 2
      FunnelEvent(5L, ts(base + 2 * H), "view"))  // no purchase ever → alert
    val b2 = Seq(
      FunnelEvent(4L, ts(base + 3 * H + 10), "purchase"))
    val alerts = run(Seq(b1, b2), base + 5 * H)
    assert(alerts == Set((4L, base), (5L, base + 2 * H)))
  }

  test("purchase converts every pending view in its window at once") {
    val b1 = Seq(
      FunnelEvent(6L, ts(base), "view"),
      FunnelEvent(6L, ts(base + 100), "view"),
      FunnelEvent(6L, ts(base + 200), "purchase"))
    assert(run(Seq(b1), base + 2 * H).isEmpty)
  }
}
