package cdcbench

import graft.cdc.{CdcFormat, SyncTable}

import scala.util.Random

/** Everything a workload hands the program, generated from the seed.
  *
  * @param load      one untimed trigger before the rounds (a snapshot or
  *                  full load); its keys are not operations of the run
  * @param seedRows  rows written straight into the single sink table
  *                  before the stream starts ([[Workloads.seedRow]])
  * @param rounds    round → triggers → events, generated on demand in
  *                  order. A run attempts whole rounds; the first
  *                  `warmRounds` are set-up.
  * @param lookupKeys the fixed key set of each table's point lookup
  * @param revalidateEvery the pipeline's schema re-inference period
  */
final case class Plan(
    name: String,
    format: CdcFormat,
    envelope: Envelope,
    tables: IndexedSeq[SyncTable],
    load: Seq[Event],
    seedRows: Long,
    rounds: Iterator[Seq[Seq[Event]]],
    warmRounds: Int,
    lookupKeys: Map[String, Seq[Long]],
    revalidateEvery: Int = 10)

object Workloads {

  val names: IndexedSeq[String] = (0 until 1000).map(i => s"cust-$i")

  /** The seeded row of key `id`; the benchmark's Spark seeding writes
    * the same formula ([[Main]]). Version 0 is older than every event. */
  def seedRow(seed: Long, id: Long): Expect =
    Expect(names((id % 1000).toInt), (id * 7919L + seed) % 100000L, 0L)

  def apply(name: String, seed: Long): Plan = name match {
    case "many_tables" => manyTables(seed)
    case "hot_keys"    => hotKeys(seed)
    case "large_table" => largeTable(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private final class Gen(seed: Long) {
    val rnd = new Random(seed)
    private var version = 0L
    def event(db: String, table: String, id: Long, op: Op): Event = {
      version += 1
      Event(db, table, id, op, version, names(rnd.nextInt(names.size)), rnd.nextInt(100000).toLong)
    }
    def control(db: String, table: String): Event =
      event(db, table, -1L, Op.Update).copy(control = true)
  }

  /** Flink-CDC, 10 tables on copy-on-write sinks. Each table is first
    * snapshot-loaded (`op=r`, 1,200 keys), then every round changes a
    * fixed set of keys per table: 60 snapshot keys updated twice, 20
    * snapshot keys updated then deleted, 20 new keys inserted then
    * updated — 2,000 events in one trigger, shuffled. Which keys play
    * which role does not depend on the seed (the values and arrival
    * order do), and no key is touched by two rounds, so each round is
    * the same set of operations and the deletes the program drops (see
    * the README) are the same share of them in every run. */
  private def manyTables(seed: Long): Plan = {
    val g = new Gen(seed)
    val db = "shop"
    val tables = (0 until 10).map(i => SyncTable(db, f"t$i%02d", "id"))
    val snapshot = 1200
    val (updated, deleted, inserted) = (60, 20, 20)
    val perRound = updated + deleted
    val maxRounds = (snapshot - 1) / perRound
    val load = for (t <- tables; id <- 0 until snapshot)
      yield g.event(db, t.tableName, id.toLong, Op.Snapshot)
    val rounds = Iterator.range(0, maxRounds).map { r =>
      val events = tables.flatMap { t =>
        def ev(id: Long, op: Op) = g.event(db, t.tableName, id, op)
        val first = 1L + r * perRound
        val upd = (first until first + updated)
          .flatMap(id => Seq(ev(id, Op.Update), ev(id, Op.Update)))
        val del = (first + updated until first + perRound)
          .flatMap(id => Seq(ev(id, Op.Update), ev(id, Op.Delete)))
        val ins = (0 until inserted).map(j => snapshot.toLong + r * inserted + j)
          .flatMap(id => Seq(ev(id, Op.Insert), ev(id, Op.Update)))
        upd ++ del ++ ins
      }
      Seq(g.rnd.shuffle(events))
    }
    // untouched, updated, deleted and inserted by round 0
    val lookup = Seq(0L, 1L, 1L + updated, snapshot.toLong)
    // re-infer every table's schema every third trigger, so every run's
    // timed triggers (batches 2 to 4 and on) hold a revalidation tick
    Plan("many_tables", CdcFormat.FlinkCdc, Envelope.Flink, tables, load, 0L, rounds,
      warmRounds = 1, tables.map(_.id -> lookup).toMap, revalidateEvery = 3)
  }

  /** DMS, 3 synced tables of 5,000 keys each, full-loaded first. Each
    * round is one trigger of 12,000 events: 2% control records, 5% for a
    * table that is not synced, the rest spread over the synced tables
    * with a skewed key choice (key = 5,000·u^2.5, so the hottest keys
    * get dozens of versions per trigger), about 10% deletes, shuffled. */
  private def hotKeys(seed: Long): Plan = {
    val g = new Gen(seed)
    val db = "sales"
    val tables = IndexedSeq("orders", "payments", "shipments").map(SyncTable(db, _, "id"))
    val keys = 5000
    val perTrigger = 12000
    val load = for (t <- tables; id <- 0 until keys)
      yield g.event(db, t.tableName, id.toLong, Op.Snapshot)
    val rounds = Iterator.range(0, 40).map { _ =>
      val events = (0 until perTrigger).map { i =>
        if (i % 50 == 0) g.control(db, tables(i / 50 % tables.size).tableName)
        else if (i % 20 == 1) g.event(db, "audit_log", g.rnd.nextInt(keys).toLong, Op.Insert)
        else {
          val t = tables(g.rnd.nextInt(tables.size)).tableName
          val id = (keys * math.pow(g.rnd.nextDouble(), 2.5)).toLong
          g.event(db, t, id, if (g.rnd.nextDouble() < 0.1) Op.Delete else Op.Update)
        }
      }
      Seq(g.rnd.shuffle(events))
    }
    val lookup = Seq(0L, 1L, 2L, 3L, 100L, 1000L, 3000L, keys - 1L)
    Plan("hot_keys", CdcFormat.DmsCdc, Envelope.Dms, tables, load, 0L, rounds,
      warmRounds = 1, tables.map(_.id -> lookup).toMap)
  }

  /** DMS, one table seeded with 100,000 rows, then triggers of 1,000
    * events: 90% inserts of new keys, 8% updates and 2% deletes of
    * seeded keys chosen uniformly. A round is 4 triggers, one
    * merge-on-read compaction cycle of the sink's default
    * `compactAfter = 4`, so every round compacts once. Two set-up rounds
    * come first: a single trigger of 250 events, then one whole round,
    * so the timed rounds run with the write, merge and compaction paths
    * already compiled. */
  private def largeTable(seed: Long): Plan = {
    val g = new Gen(seed)
    val db = "fin"
    val table = SyncTable(db, "ledger", "id")
    val seeded = 100000L
    var nextId = seeded
    def trigger(size: Int): Seq[Event] = g.rnd.shuffle((0 until size).map { i =>
      if (i % 50 == 0) g.event(db, table.tableName, g.rnd.nextLong(seeded), Op.Delete)
      else if (i % 50 <= 4) g.event(db, table.tableName, g.rnd.nextLong(seeded), Op.Update)
      else { nextId += 1; g.event(db, table.tableName, nextId - 1, Op.Insert) }
    })
    val rounds = Iterator.range(0, 20).map { r =>
      if (r == 0) Seq(trigger(250)) else Seq.fill(4)(trigger(1000))
    }
    val lookup = (0 until 16).map(i => i * (seeded / 16) + 7)
    Plan("large_table", CdcFormat.DmsCdc, Envelope.Dms, IndexedSeq(table), Nil, seeded,
      rounds, warmRounds = 2, Map(table.id -> lookup))
  }
}
