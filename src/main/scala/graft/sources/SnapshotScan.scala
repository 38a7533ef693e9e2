package graft.sources

/** CTID-range snapshot scan planning — the partition planner for the
  * parallel initial copy (S1):
  *
  *   - reference planner: crates/etl/src/replication/table_sync/copy.rs:
  *     122-188 (range math), 457-547 (per-leaf planning for partitioned
  *     tables), constants copy.rs:54-58 (4 ranges/worker, 250k rows/range
  *     target, ≤1024 ranges/table)
  *   - estimates source: pg_class.relpages/reltuples
  *     (transaction.rs:132-183)
  *   - SQL shape: COPY (SELECT cols FROM t WHERE ctid >= '(a,0)' AND
  *     ctid < '(b,0)' AND (row_filter)) TO STDOUT (transaction.rs:28-61)
  *
  * In Spark this feeds either `spark.read.jdbc(..., predicates)` (each
  * predicate = one input partition) or a DSv2 `Batch` whose
  * `InputPartition`s carry the ranges. Workers must join the exporting
  * transaction's snapshot (`SET TRANSACTION SNAPSHOT '<id>'`) before
  * reading — the consistent-multi-connection-snapshot requirement
  * (copy.rs:344-370).
  *
  * Scale note: largest-range-first ordering gives LPT-ish scheduling under
  * Spark's task scheduler, same effect as the reference's work-stealing
  * deque (copy.rs:539-541) — no custom scheduling needed.
  */
object SnapshotScan {
  /** Reference constants (copy.rs:54-58). */
  val RangesPerWorker = 4
  val TargetRowsPerRange = 250000L
  val MaxRangesPerTable = 1024

  /** A half-open heap-block range [startBlock, endBlock). An `endBlock`
    * of `Long.MaxValue` marks the open-ended last range: it also covers
    * blocks the table grew after its stats were read. */
  final case class CtidRange(startBlock: Long, endBlock: Long) {
    def blocks: Long = endBlock - startBlock
    /** Postgres predicate over the physical row id. The open-ended range
      * has no upper bound: a block number is 32-bit on the server, which
      * rejects `'(9223372036854775807,0)'::tid`. */
    def predicate: String =
      if (endBlock == Long.MaxValue) s"ctid >= '($startBlock,0)'::tid"
      else s"ctid >= '($startBlock,0)'::tid AND ctid < '($endBlock,0)'::tid"
  }

  /** Plan ranges for one physical table. Mirrors the reference math:
    * range count targets `workers × RangesPerWorker` but at least
    * tuples/TargetRowsPerRange ranges, capped at MaxRangesPerTable;
    * blocks split as evenly as possible; ordered largest-first. */
  def planRanges(relpages: Long, reltuples: Long, workers: Int): Seq[CtidRange] = {
    if (relpages <= 0) return Seq(CtidRange(0, Long.MaxValue))
    val byRows = if (reltuples <= 0) 1L
      else (reltuples + TargetRowsPerRange - 1) / TargetRowsPerRange
    val wanted = math.max(workers.toLong * RangesPerWorker, byRows)
    val n = math.min(math.min(wanted, MaxRangesPerTable.toLong), relpages).toInt
    val base = relpages / n
    val extra = relpages % n
    val ranges = Seq.newBuilder[CtidRange]
    var start = 0L
    (0 until n).foreach { i =>
      val len = base + (if (i < extra) 1 else 0)
      val end = if (i == n - 1) Long.MaxValue else start + len
      ranges += CtidRange(start, end)
      start += len
    }
    ranges.result().sortBy(-_.blocks)
  }

  /** Physical-table stats (from pg_class / pg_partition_tree). */
  final case class LeafStats(qualifiedName: String, relpages: Long,
      reltuples: Long)

  /** The leaves of `qualified` with their pg_class stats, read through
    * `query` (SQL → rows of nullable text cells). `pg_partition_tree`
    * returns no rows for a plain, unpartitioned table, so an empty tree
    * falls back to the table itself — unless it is a partitioned table
    * (relkind 'p', no storage) that has no partitions yet. */
  def leafStats(qualified: String,
      query: String => Seq[Seq[Option[String]]]): Seq[LeafStats] = {
    val stats =
      """SELECT c.oid::regclass::text, c.relpages,
        |       GREATEST(c.reltuples, 0)::bigint
        |FROM pg_class c""".stripMargin
    val leaves = query(
      s"""$stats
         |JOIN pg_partition_tree('$qualified') p ON c.oid = p.relid
         |WHERE p.isleaf""".stripMargin)
    val rows =
      if (leaves.nonEmpty) leaves
      else query(
        s"$stats\nWHERE c.oid = '$qualified'::regclass AND c.relkind <> 'p'")
    rows.map(r => LeafStats(r(0).get, r(1).get.toLong, r(2).get.toLong))
  }

  /** A planned scan unit: one leaf × one CTID range. For partitioned
    * tables the reference plans each LEAF separately (copy.rs:457-466) —
    * CTIDs are per-physical-relation, so ranges never span leaves. */
  final case class ScanUnit(table: String, range: CtidRange) {
    def predicate: String = range.predicate
  }

  /** Plan a whole (possibly partitioned) table: leaves planned
    * independently, then globally ordered largest-first for LPT
    * scheduling across the executor pool. */
  def planTable(leaves: Seq[LeafStats], workers: Int): Seq[ScanUnit] =
    leaves.flatMap { l =>
      planRanges(l.relpages, l.reltuples, workers)
        .map(r => ScanUnit(l.qualifiedName, r))
    }.sortBy(-_.range.blocks)

  /** The COPY/SELECT for one unit, with publication column list (P1) and
    * row filter (P2) pushed down — the reference's copy query builder
    * (transaction.rs:28-61). */
  def selectSql(unit: ScanUnit, columns: Seq[String],
      rowFilter: Option[String]): String = {
    val cols = columns.map(c => s""""$c"""").mkString(", ")
    val filter = rowFilter.map(f => s" AND ($f)").getOrElse("")
    s"""SELECT $cols FROM ${unit.table} WHERE ${unit.predicate}$filter"""
  }

  /** Predicates array for `spark.read.jdbc(url, table, predicates, props)`
    * — one Spark input partition per CTID range. */
  def jdbcPredicates(leaves: Seq[LeafStats], workers: Int,
      rowFilter: Option[String] = None): Array[String] =
    planTable(leaves, workers).map { u =>
      rowFilter.map(f => s"${u.predicate} AND ($f)").getOrElse(u.predicate)
    }.toArray
}
