package cdcbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** A change operation, with its name in each envelope dialect. */
sealed abstract class Op(val dms: String, val debezium: String)
object Op {
  case object Snapshot extends Op("load", "r")
  case object Insert extends Op("insert", "c")
  case object Update extends Op("update", "u")
  case object Delete extends Op("delete", "d")
}

/** One generated change event. A `control` event is a DMS control
  * record: it names a table but carries no row and must change nothing.
  * `version` is unique per key; a later trigger only ever carries newer
  * versions than an earlier one. */
final case class Event(db: String, table: String, id: Long, op: Op, version: Long,
                       name: String, amount: Long, control: Boolean = false) {
  def tableId: String = s"$db.$table"
}

/** How an event is written on the wire, and how its version reads back
  * from the sink's `mtime` column. */
sealed trait Envelope {
  def encode(e: Event): String
  def mtime(version: Long): String
}

object Envelope {

  private def payload(e: Event): String =
    s"""{"amount":${e.amount},"id":${e.id},"name":"${e.name}"}"""

  /** AWS DMS. `metadata.timestamp` is the version rendered as a
    * fixed-width microsecond timestamp, so its lexical order (the order
    * the program compares) is the version order. */
  object Dms extends Envelope {
    private val base = LocalDateTime.of(2024, 1, 1, 0, 0)
    private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

    def mtime(version: Long): String = {
      require(version >= 0 && version < 100000000000L, s"version out of range: $version")
      base.plusNanos(version * 1000L).format(fmt)
    }

    def encode(e: Event): String = {
      val ts = mtime(e.version)
      if (e.control)
        s"""{"control":{"table-def":"${e.table}"},"metadata":{"timestamp":"$ts","record-type":"control","operation":"create-table","partition-key-type":"task-id","schema-name":"${e.db}","table-name":"${e.table}"}}"""
      else
        s"""{"data":${payload(e)},"metadata":{"timestamp":"$ts","record-type":"data","operation":"${e.op.dms}","partition-key-type":"schema-table","schema-name":"${e.db}","table-name":"${e.table}","transaction-id":${e.version}}}"""
    }
  }

  /** Flink-CDC (Debezium shape). `ts_ms` is the version. Only deletes
    * carry a `before` image, as a connector without full row images on
    * updates sends them. */
  object Flink extends Envelope {
    def mtime(version: Long): String = version.toString

    def encode(e: Event): String = {
      val (before, after) =
        if (e.op == Op.Delete) (payload(e), "null") else ("null", payload(e))
      s"""{"before":$before,"after":$after,"source":{"db":"${e.db}","table":"${e.table}"},"op":"${e.op.debezium}","ts_ms":${e.version}}"""
    }
  }
}

/** The expected live row of one key. */
final case class Expect(name: String, amount: Long, version: Long)

/** The expected contents of every synced table, folded from the
  * generated events in plain Scala, apart from Spark: the newest version
  * of a key wins, a delete removes the key, and control records and
  * events of tables that are not synced change nothing.
  *
  * A deleted key keeps its version as a tombstone, so an older event
  * for it inside the same trigger (arrival order is shuffled) cannot
  * bring it back; the generator never sends such an event in a later
  * trigger, where copy-on-write and merge-on-read are documented to
  * disagree. */
final class Model(synced: Set[String]) {

  private final class Entry(var version: Long, var live: Boolean, var name: String,
                            var amount: Long, var touched: Boolean)

  private final class Table {
    val rows = mutable.LongMap.empty[Entry]
    var liveCount = 0L
    var amountSum = 0L
    var touched = 0L
  }

  private val tables: Map[String, Table] = synced.map(_ -> new Table).toMap

  /** A row that exists before the run (a seeded table); it is not one of
    * the run's operations until an event touches it. */
  def seed(tableId: String, id: Long, name: String, amount: Long, version: Long): Unit =
    put(tables(tableId), id, live = true, name, amount, version, touch = false)

  /** Fold one event. `touch` = false for a snapshot load, whose keys are
    * not counted as operations of the run. */
  def apply(e: Event, touch: Boolean = true): Unit =
    if (!e.control) tables.get(e.tableId).foreach { t =>
      put(t, e.id, live = e.op != Op.Delete, e.name, e.amount, e.version, touch)
    }

  private def put(t: Table, id: Long, live: Boolean, name: String, amount: Long,
                  version: Long, touch: Boolean): Unit = {
    val cur = t.rows.getOrNull(id)
    if (cur == null) {
      t.rows.update(id, new Entry(version, live, name, amount, touch))
      if (touch) t.touched += 1
      if (live) { t.liveCount += 1; t.amountSum += amount }
    } else {
      if (touch && !cur.touched) { cur.touched = true; t.touched += 1 }
      if (version > cur.version) {
        if (cur.live) { t.liveCount -= 1; t.amountSum -= cur.amount }
        cur.version = version; cur.live = live; cur.name = name; cur.amount = amount
        if (live) { t.liveCount += 1; t.amountSum += amount }
      }
    }
  }

  def expect(tableId: String, id: Long): Option[Expect] =
    Option(tables(tableId).rows.getOrNull(id)).filter(_.live)
      .map(e => Expect(e.name, e.amount, e.version))

  def live(tableId: String): Iterator[(Long, Expect)] =
    tables(tableId).rows.iterator.collect {
      case (id, e) if e.live => id -> Expect(e.name, e.amount, e.version)
    }

  def liveCount(tableId: String): Long = tables(tableId).liveCount
  def amountSum(tableId: String): Long = tables(tableId).amountSum
  /** Keys of the table that some event of the run touched. */
  def touched(tableId: String): Long = tables(tableId).touched
}
