package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {

  private val t = "db.t"
  private def ev(id: Long, op: Op, v: Long, name: String = "x", table: String = "t") =
    Event("db", table, id, op, v, name, v * 10)

  test("hand-worked sequence: out-of-order, delete then re-insert, control, late older event") {
    val m = new Model(Set(t))
    // trigger 1, arrival order shuffled: key 1's newest version (3) comes first
    Seq(ev(1, Op.Update, 3, "k1v3"), ev(1, Op.Insert, 1, "k1v1"), ev(1, Op.Update, 2, "k1v2"),
      ev(2, Op.Insert, 4, "k2v4"), ev(3, Op.Insert, 5, "k3v5")).foreach(m(_))
    assert(m.expect(t, 1) === Some(Expect("k1v3", 30, 3)))
    // trigger 2: key 2 deleted, then re-inserted with a newer version;
    // key 3 deleted, and an older event for it in the same trigger after
    // the delete must not bring it back
    Seq(ev(2, Op.Delete, 6), ev(2, Op.Insert, 7, "k2v7"),
      ev(3, Op.Delete, 8), ev(3, Op.Update, 5, "stale")).foreach(m(_))
    assert(m.expect(t, 2) === Some(Expect("k2v7", 70, 7)))
    assert(m.expect(t, 3) === None)
    // a control record and another table's event change nothing
    m(ev(1, Op.Delete, 9).copy(control = true))
    m(ev(1, Op.Delete, 10, table = "other"))
    // a late event older than the live version of key 1 is ignored
    m(ev(1, Op.Update, 2, "late"))
    assert(m.expect(t, 1) === Some(Expect("k1v3", 30, 3)))
    assert(m.live(t).toMap.keySet === Set(1L, 2L))
    assert(m.liveCount(t) === 2)
    assert(m.amountSum(t) === 30 + 70)
    assert(m.touched(t) === 3)
  }

  test("seeded and snapshot rows are not operations until an event touches them") {
    val m = new Model(Set(t))
    m.seed(t, 1, "s", 5, 0)
    m(ev(2, Op.Snapshot, 1), touch = false)
    assert(m.touched(t) === 0)
    assert(m.liveCount(t) === 2)
    m(ev(1, Op.Delete, 2))
    assert(m.touched(t) === 1)
    assert(m.expect(t, 1) === None)
    assert(m.amountSum(t) === 10)
  }

  test("DMS timestamps are fixed-width, so lexical order is version order") {
    val versions = Seq(0L, 1L, 9L, 10L, 999999L, 1000000L, 86399999999L)
    val ts = versions.map(Envelope.Dms.mtime)
    assert(ts.map(_.length).distinct.size === 1)
    assert(ts.sorted === ts)
    assert(Envelope.Dms.mtime(1000001L) === "2024-01-01 00:00:01.000001")
  }
}
