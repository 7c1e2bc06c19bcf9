package cdcbench

import scala.collection.mutable

/** One visible row of a catalog table as read back; key and amount are
  * boxed so a null read back is seen as such. */
final case class Seen(id: java.lang.Long, name: String, amount: java.lang.Long,
                      mtime: String, deleted: Boolean)

/** The outcome of checking rows against the model: every key whose rows
  * differ from the model, plus rows that carry no key at all. */
final case class Verdict(badKeys: Set[Long], nullKeyRows: Long, rows: Long, expectedRows: Long) {
  /** Failed operations: one per wrong key, one per keyless row. */
  def failed: Long = badKeys.size + nullKeyRows
}

object Checker {

  /** Check the rows read back for a set of keys against the model.
    *
    * `expected` holds the model's live rows for exactly the keys the read
    * covers (the whole table, or a lookup's key set). A key fails when it
    * has a row with `_hoodie_is_deleted = true`, more than one row, a row
    * the model does not have (a dropped delete), a row whose values
    * differ from the model's (a stale version), or no row although the
    * model has one. */
  def check(expected: Iterator[(Long, Expect)], seen: Iterator[Seen],
            mtime: Long => String): Verdict = {
    val want = mutable.LongMap.empty[Expect]
    expected.foreach { case (id, e) => want.update(id, e) }
    val count = mutable.LongMap.empty[Int]
    val bad = mutable.Set.empty[Long]
    var nullKeys = 0L
    var rows = 0L
    seen.foreach { s =>
      rows += 1
      if (s.id == null) nullKeys += 1
      else {
        val id = s.id.longValue
        val n = count.getOrElse(id, 0) + 1
        count.update(id, n)
        val matches = want.get(id).exists { e =>
          e.name == s.name && s.amount != null && e.amount == s.amount.longValue &&
            mtime(e.version) == s.mtime
        }
        if (s.deleted || n > 1 || !matches) bad += id
      }
    }
    want.keysIterator.foreach(id => if (!count.contains(id)) bad += id)
    Verdict(bad.toSet, nullKeys, rows, want.size.toLong)
  }
}
