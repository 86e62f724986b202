package graft

import graft.streaming.StreamingIngest.{KeyedRecord, newerThan}
import org.scalatest.funsuite.AnyFunSuite

/** The one latest-wins update rule every streaming upsert applies
  * ([[graft.streaming.StreamingIngest.newerThan]]), pinned case by case.
  * Pure — no session: `(stored version, incoming rows) → emitted row`.
  */
class LatestWinsRuleSpec extends AnyFunSuite {
  private def r(v: Long, msg: String) = KeyedRecord(1L, msg, v)

  private val cases: Seq[(String, Option[Long], Seq[KeyedRecord], Option[KeyedRecord])] = Seq(
    ("no state: the only row emits", None, Seq(r(3, "a")), Some(r(3, "a"))),
    ("strictly newer than stored emits", Some(2L), Seq(r(3, "a")), Some(r(3, "a"))),
    ("equal version is suppressed", Some(3L), Seq(r(3, "z")), None),
    ("older version is suppressed", Some(5L), Seq(r(3, "a")), None),
    ("within-batch max is by version first", None,
      Seq(r(2, "z"), r(7, "a"), r(4, "m")), Some(r(7, "a"))),
    ("within-batch version tie breaks on msg", None,
      Seq(r(7, "a"), r(7, "c"), r(7, "b")), Some(r(7, "c"))),
    ("batch max not newer than stored: suppressed", Some(7L),
      Seq(r(7, "zz"), r(6, "a")), None),
    ("null msg loses a tied version to a payload", None,
      Seq(r(7, null), r(7, "")), Some(r(7, ""))),
    ("null msg loses whichever side it arrives on", None,
      Seq(r(7, ""), r(7, null)), Some(r(7, ""))),
    ("a newer tombstone still wins", Some(6L),
      Seq(r(7, null), r(6, "a")), Some(r(7, null))),
    ("empty input: no state", None, Seq.empty, None),
    ("empty input: with state", Some(4L), Seq.empty, None))

  cases.foreach { case (name, prev, rows, expect) =>
    test(s"newerThan: $name") {
      assert(newerThan(prev, rows.iterator) == expect)
    }
  }
}
