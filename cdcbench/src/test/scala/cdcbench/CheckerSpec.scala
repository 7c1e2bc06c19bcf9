package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class CheckerSpec extends AnyFunSuite {

  private val expected = Seq(1L -> Expect("a", 10, 5), 2L -> Expect("b", 20, 6),
    3L -> Expect("c", 30, 7))
  private def row(id: Long, e: Expect, deleted: Boolean = false) =
    Seen(id, e.name, e.amount, Envelope.Flink.mtime(e.version), deleted)
  private val good = expected.map { case (id, e) => row(id, e) }

  private def check(seen: Seq[Seen]) =
    Checker.check(expected.iterator, seen.iterator, Envelope.Flink.mtime)

  test("a table equal to the model passes") {
    val v = check(good)
    assert(v.failed === 0)
    assert(v.rows === 3 && v.expectedRows === 3)
  }

  test("a dropped delete (a row the model does not have) fails its key") {
    val v = check(good :+ row(4, Expect("d", 40, 8)))
    assert(v.badKeys === Set(4L))
    assert(v.failed === 1)
  }

  test("a duplicate key fails") {
    assert(check(good :+ good.head).badKeys === Set(1L))
  }

  test("a stale version fails") {
    assert(check(good.updated(1, row(2, Expect("b-old", 20, 3)))).badKeys === Set(2L))
    assert(check(good.updated(1, row(2, Expect("b", 20, 3)))).badKeys === Set(2L))
  }

  test("a visible deleted row fails") {
    assert(check(good.updated(2, good(2).copy(deleted = true))).badKeys === Set(3L))
  }

  test("a missing key fails") {
    assert(check(good.take(2)).badKeys === Set(3L))
  }

  test("a row without a key fails on its own") {
    val v = check(good :+ Seen(null, "x", 1L, "1", false))
    assert(v.badKeys.isEmpty)
    assert(v.failed === 1)
  }
}
