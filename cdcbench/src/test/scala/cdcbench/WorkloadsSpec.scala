package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {

  test("the same seed gives the same events") {
    for (w <- Seq("many_tables", "hot_keys", "large_table")) {
      val (a, b) = (Workloads(w, 7), Workloads(w, 7))
      assert(a.load === b.load, w)
      assert(a.rounds.take(2).toList === b.rounds.take(2).toList, w)
    }
  }

  test("no event is older than an earlier trigger's event for its key") {
    for (w <- Seq("many_tables", "hot_keys", "large_table")) {
      val p = Workloads(w, 3)
      val newest = scala.collection.mutable.Map.empty[(String, Long), Long]
      (Seq(p.load) +: p.rounds.take(4).toSeq).flatten.foreach { trigger =>
        trigger.filterNot(_.control).foreach { e =>
          newest.get(e.tableId -> e.id).foreach(v => assert(e.version > v, s"$w: $e"))
        }
        trigger.filterNot(_.control).groupBy(e => e.tableId -> e.id).foreach { case (k, es) =>
          assert(es.map(_.version).distinct.size === es.size, s"$w: versions of $k")
          newest(k) = es.map(_.version).max
        }
      }
    }
  }

  test("many_tables: every round is the same operations, deletes included, whatever the seed") {
    def shape(seed: Long) = {
      val p = Workloads("many_tables", seed)
      p.rounds.take(3).toList.map(_.flatten).map { es =>
        val keys = es.map(e => e.tableId -> e.id).distinct
        val deleted = es.filter(_.op == Op.Delete).map(e => e.tableId -> e.id).toSet
        (keys.size, deleted)
      }
    }
    val (a, b) = (shape(1), shape(2))
    assert(a.map(_._1).distinct === List(1000))
    assert(a.map(_._2.size).distinct === List(200))
    assert(a.map(_._2) === b.map(_._2))
  }
}
