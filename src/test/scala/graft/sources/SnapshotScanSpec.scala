package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import SnapshotScan._

class SnapshotScanSpec extends AnyFunSuite {

  test("range count: workers×4 floor, rows/250k growth, 1024 cap (copy.rs:54-58)") {
    // small table, 4 workers → 16 ranges (worker target dominates)
    assert(planRanges(1600, 100000, 4).size == 16)
    // huge row count → rows/250k dominates: 10M rows → 40 ranges
    assert(planRanges(100000, 10000000, 4).size == 40)
    // pathological width → capped at 1024
    assert(planRanges(10000000, 2000000000L, 64).size == 1024)
    // cannot have more ranges than heap blocks
    assert(planRanges(3, 100, 4).size == 3)
  }

  test("ranges cover [0,∞) without gaps/overlap; largest first") {
    val rs = planRanges(1000, 5000000, 4)
    val sorted = rs.sortBy(_.startBlock)
    assert(sorted.head.startBlock == 0)
    assert(sorted.last.endBlock == Long.MaxValue)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.endBlock == b.startBlock)
      case _ => ()
    }
    // LPT: emitted largest-block-count first
    assert(rs == rs.sortBy(-_.blocks))
  }

  test("empty/unknown stats degrade to a single full-table range") {
    assert(planRanges(0, 0, 4) == Seq(CtidRange(0, Long.MaxValue)))
  }

  test("partitioned table plans per leaf (copy.rs:457-466)") {
    val units = planTable(Seq(
      LeafStats("t_2025_01", 100, 500000),
      LeafStats("t_2025_02", 10, 50000)), workers = 2)
    assert(units.map(_.table).distinct.sorted ==
      Seq("t_2025_01", "t_2025_02"))
    // ranges never span leaves; global LPT order
    assert(units == units.sortBy(-_.range.blocks))
  }

  test("select SQL pushes column list + row filter (transaction.rs:28-61)") {
    val u = ScanUnit("public.users", CtidRange(10, 20))
    val sql = selectSql(u, Seq("id", "name"), Some("active = true"))
    assert(sql ==
      """SELECT "id", "name" FROM public.users WHERE ctid >= '(10,0)'::tid AND ctid < '(20,0)'::tid AND (active = true)""")
  }

  test("the open-ended last range renders no upper bound") {
    // a tid block number is 32-bit: '(9223372036854775807,0)'::tid is
    // rejected by the server, so the last range must not render one
    val last = planRanges(1000, 5000000, 4).find(_.endBlock == Long.MaxValue)
      .getOrElse(fail("no open-ended range"))
    assert(last.predicate == s"ctid >= '(${last.startBlock},0)'::tid")
    assert(planRanges(0, 0, 4).map(_.predicate) == Seq("ctid >= '(0,0)'::tid"))
    assert(!selectSql(ScanUnit("public.users", last), Seq("id"), None)
      .contains(Long.MaxValue.toString))
  }

  test("leaf stats: a plain table (empty pg_partition_tree) plans itself") {
    val asked = Seq.newBuilder[String]
    def pg(tree: Seq[Seq[Option[String]]],
        self: Seq[Seq[Option[String]]])(sql: String) = {
      asked += sql
      if (sql.contains("pg_partition_tree")) tree else self
    }
    val plain = leafStats("public.users",
      pg(Nil, Seq(Seq(Some("users"), Some("7"), Some("900")))))
    assert(plain == Seq(LeafStats("users", 7, 900)))
    // the fallback names the table itself and skips a partitioned root
    // that has no partitions yet
    val self = asked.result().last
    assert(self.contains("'public.users'::regclass") &&
      self.contains("relkind <> 'p'"), self)
    assert(planTable(plain, workers = 1).nonEmpty)
    // a partitioned table plans its leaves and never asks for itself
    val before = asked.result().size
    val parted = leafStats("public.t", pg(
      Seq(Seq(Some("t_1"), Some("3"), Some("10")),
        Seq(Some("t_2"), Some("4"), Some("20"))), Nil))
    assert(parted.map(_.qualifiedName) == Seq("t_1", "t_2"))
    assert(asked.result().size == before + 1)
  }

  test("jdbc predicates: one per range, filter conjoined") {
    val preds = jdbcPredicates(Seq(LeafStats("t", 100, 1000)), 2,
      Some("x > 0"))
    assert(preds.length == 8)
    assert(preds.forall(_.contains("AND (x > 0)")))
  }
}

class TableLifecycleSpec extends AnyFunSuite {
  import graft.pipeline._
  import graft.pipeline.TableState._

  test("legal transition chain (lifecycle.rs:22-95)") {
    val chain = Seq(Init, DataSync, FinishedCopy, SyncWait(5), Catchup(9),
      SyncDone(9), Ready)
    chain.sliding(2).foreach {
      case Seq(a, b) => assert(TableState.canTransition(a, b), s"$a -> $b")
      case _ => ()
    }
  }

  test("illegal jumps rejected; crash rollback + error paths allowed") {
    assert(!TableState.canTransition(Init, Ready))
    assert(!TableState.canTransition(SyncWait(1), Ready))
    assert(!TableState.canTransition(Ready, DataSync))
    assert(TableState.canTransition(DataSync, Init))       // crash re-copy
    assert(TableState.canTransition(FinishedCopy, Init))
    assert(TableState.canTransition(Ready,
      Errored("x", RetryPolicy.NoRetry)))                  // any → errored
    assert(TableState.canTransition(
      Errored("x", RetryPolicy.NoRetry), Init))            // retry restarts
  }

  test("state store: gates, monotonic flush LSN, retry budget") {
    val s = new TableStateStore(None)
    s.force(1, Ready)
    s.force(2, SyncDone(100))
    s.force(3, DataSync)
    val (allowed, gates) = s.applyGates
    assert(allowed == Set(1L, 2L) && gates == Map(2L -> 100L))

    assert(s.upsertFlushLsn(10) == 10)
    assert(s.upsertFlushLsn(5) == 10)  // never backward (base.rs:82-95)
    assert(s.upsertFlushLsn(20) == 20)

    val policy = RetryPolicy.TimedRetry(maxAttempts = 2)
    assert(s.recordError(4, "boom", policy))      // attempt 1 → retry
    assert(s.recordError(4, "boom", policy))      // attempt 2 → retry
    assert(!s.recordError(4, "boom", policy))     // budget exhausted
    assert(!s.recordError(5, "x", RetryPolicy.NoRetry))
    assert(!s.recordError(6, "x", RetryPolicy.ManualRetry))
  }
}
