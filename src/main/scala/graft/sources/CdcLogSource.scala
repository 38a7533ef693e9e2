package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** LSN-offset micro-batch streaming source — the Spark shape of the
  * reference's CDC intake (S2/ST1/ST3):
  *
  *   - reference replication stream: crates/etl/src/postgres/stream/
  *     replication_message.rs:89-245 (decode loop), apply.rs:2026-2127
  *   - batch admission: EventBatch byte/row budget, apply.rs:633-696
  *   - progress: ReplicationProgress {last_received, last_flush},
  *     store/state/base.rs:76-99 — here Spark's checkpointed Offset
  *
  * The "WAL" is a change-log file of envelope lines (tab-separated:
  * lsn, tx_ordinal, op, table, schema_lsn, before, after — row images are
  * packed cells ([[graft.core.PackedRow]]; Relation records carry JSON),
  * decoded downstream against the schema version in force, as the
  * reference decodes tuple bytes against `ReplicatedTableSchema`). A
  * production Postgres reader would implement this same MicroBatchStream
  * against the replication socket; everything downstream (offsets,
  * admission, ordered apply, sinks) is identical — which is the point of
  * the DSv2 seam.
  *
  * Registered as format("graft-cdc") with option `path`. The stream is a
  * single totally-ordered log (Postgres WAL is single-stream), so each
  * micro-batch plans ONE input partition; parallelism comes after the
  * per-key shuffle in the apply stage, exactly like the reference's
  * single-reader/parallel-apply split.
  */
class CdcLogSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcLogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new CdcLogTable(properties.get("path"))
}

object CdcLogSource {
  val schema: StructType = StructType(Seq(
    StructField("_op", StringType, nullable = false),
    StructField("_table", LongType, nullable = false),
    StructField("_commit_lsn", LongType, nullable = false),
    StructField("_start_lsn", LongType, nullable = false),
    StructField("_tx_ordinal", LongType, nullable = false),
    StructField("_schema_lsn", LongType, nullable = false),
    StructField("before", StringType, nullable = true),
    StructField("after", StringType, nullable = true),
    // comma-separated names of columns ABSENT from `after` because the
    // source emitted UnchangedToast (PartialTableRow, table_row.rs:68);
    // null = full row
    StructField("_missing", StringType, nullable = true)))

  /** Memory-pressure watermarks for `memoryAwareAdmission` (reference
    * memory_monitor defaults: block > 85%, resume < 75%). */
  val MemoryHighWatermark = 0.85
  val MemoryLowWatermark = 0.75
  /** Base byte budget when memory-aware admission is on but no explicit
    * maxBytesPerTrigger is set (the reference BatchConfig.max_bytes
    * default, 8 MiB). */
  val DefaultMemoryAwareBytes: Long = 8L << 20
  /** The driver-JVM heap probe (executor == driver in local mode). */
  val defaultMemoryUsage: () => Double = () => {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()).toDouble / rt.maxMemory()
  }
  /** Heap-usage fraction probe; swappable for tests and for cluster
    * deployments that prefer an executor-memory signal
    * ([[ExecutorMemorySignal.install]]). */
  @volatile var memoryUsage: () => Double = defaultMemoryUsage

  /** One change-log line: tab-separated envelope; `\N` = null payload.
    * `missing` lists TOAST-unchanged column names absent from `after`. */
  def renderLine(op: String, table: Long, commitLsn: Long, startLsn: Long,
      txOrdinal: Long, schemaLsn: Long, before: Option[String],
      after: Option[String], missing: Seq[String] = Nil): String =
    Seq(commitLsn.toString, txOrdinal.toString, op, table.toString,
      startLsn.toString, schemaLsn.toString,
      before.getOrElse("\\N").replace("\t", " ").replace("\n", " "),
      after.getOrElse("\\N").replace("\t", " ").replace("\n", " "),
      if (missing.isEmpty) "\\N" else missing.mkString(","))
      .mkString("\t")
}

final class CdcLogTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-cdc:$path"
  override def schema(): StructType = CdcLogSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new CdcLogScan(path,
      Option(options.get("maxrowspertrigger")).map(_.toLong),
      Option(options.get("onmissingoffset")).getOrElse("error"),
      Option(options.get("maxbytespertrigger")).map(_.toLong),
      Option(options.get("memoryawareadmission")).exists(_.toBoolean),
      Option(options.get("memoryblockingadmission")).exists(_.toBoolean))
}

final class CdcLogScan(path: String, maxRowsPerTrigger: Option[Long],
    onMissingOffset: String = "error",
    maxBytesPerTrigger: Option[Long] = None,
    memoryAwareAdmission: Boolean = false,
    memoryBlockingAdmission: Boolean = false) extends Scan {
  override def readSchema(): StructType = CdcLogSource.schema
  // NOTE `memoryblockingadmission` IMPLIES the modulating memory-aware
  // budget below the high watermark (matching the reference, where the
  // blocking monitor sits on top of byte-budgeted batches, not instead
  // of them): between the low and high watermarks batch budgets halve;
  // at ≥ high the source blocks outright until usage drops below low.
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcLogMicroBatchStream(path, maxRowsPerTrigger, onMissingOffset,
      maxBytesPerTrigger, memoryAwareAdmission || memoryBlockingAdmission,
      memoryBlockingAdmission)
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Array(CdcLogPartition(path, Long.MinValue, Long.MaxValue,
        Long.MaxValue, Long.MaxValue))
    override def createReaderFactory(): PartitionReaderFactory =
      new CdcLogReaderFactory
  }
}

/** Offset = (commit_lsn, tx_ordinal) of the last delivered event — the
  * stream's watermark-as-progress (ST3): monotonic, checkpointed by Spark,
  * replay-from-checkpoint gives at-least-once.
  *
  * `boundary` records whether the offset was known to sit on a COMMIT
  * boundary when planned (admission control may cap a batch mid-commit).
  * The retention check needs it: log truncation that removed exactly
  * `commitLsn`'s remaining ordinals is only provably loss-free if no such
  * ordinals existed — i.e. the offset was a boundary.
  *
  * `pos` is the byte position in the log just AFTER this offset's line
  * (-1 = unknown, e.g. a pre-upgrade checkpoint). It makes micro-batch
  * reads O(batch) instead of O(log): the partition reader seeks to the
  * start offset's `pos` and reads only the batch's byte window — the
  * file-transport analog of a replication socket delivering only new
  * bytes. Purely an optimization: the (lsn, ordinal) window remains the
  * source of truth and readers fall back to a full scan whenever the
  * byte hint is stale (log rewritten by retention) or absent. */
final case class LsnOffset(commitLsn: Long, txOrdinal: Long,
    boundary: Boolean = false, pos: Long = -1L) extends Offset {
  override def json(): String =
    s"""{"commitLsn":$commitLsn,"txOrdinal":$txOrdinal,"boundary":$boundary,"pos":$pos}"""
}
object LsnOffset {
  val zero: LsnOffset = LsnOffset(0L, -1L, boundary = false, pos = 0L)
  def fromJson(s: String): LsnOffset = {
    val lsn = "\"commitLsn\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(s).get.group(1).toLong
    val ord = "\"txOrdinal\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(s).get.group(1).toLong
    val bnd = "\"boundary\"\\s*:\\s*(true|false)".r.findFirstMatchIn(s)
      .exists(_.group(1) == "true") // absent (pre-upgrade checkpoint) → strict
    val pos = "\"pos\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(s)
      .map(_.group(1).toLong).getOrElse(-1L) // absent → full-scan fallback
    LsnOffset(lsn, ord, bnd, pos)
  }
  def lt(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
}

final class CdcLogMicroBatchStream(path: String, maxRows: Option[Long],
    onMissingOffset: String = "error",
    /** Byte budget per micro-batch — the reference's `BatchConfig
      * .max_bytes` (8 MiB default there; unset = unlimited here). The
      * key index carries exact per-entry byte extents, so the cap costs
      * nothing extra. At least one entry is always admitted (an
      * oversized single event still flushes, like the reference's
      * budgeted EventBatch). */
    maxBytes: Option[Long] = None,
    /** ST7 analog (reference memory_monitor.rs + concurrency/stream.rs:
      * 45-131): the reference samples system memory every 100 ms and
      * BLOCKS source polls above 85%, resuming below 75%. Spark's
      * trigger cadence is engine-driven, so the analog MODULATES the
      * admission budget instead: above the high watermark each trigger
      * admits the minimum (one entry — progress never fully stalls,
      * memory stays flat); between the watermarks the byte budget
      * halves; below, the configured budget applies. The probe is
      * JVM-heap based (executor = driver in local mode; on a cluster
      * the driver plans admission from its own pressure, the
      * conservative side since the driver also brokers every manifest
      * commit). */
    memoryAware: Boolean = false,
    /** STRICT blocking variant of ST7 — the reference's exact policy
      * (memory_monitor.rs): above the high watermark admission STOPS
      * (each trigger returns the start offset → an empty micro-batch,
      * Spark's native idiom for "poll nothing"), and the blocked state
      * is STICKY — it persists until usage falls below the LOW
      * watermark (75%), the reference's resume hysteresis, so an
      * 84↔86% oscillation cannot flap admission. The modulating mode
      * above remains the default trade (progress never fully stalls);
      * this mode is for deployments that want the reference's
      * flat-memory guarantee over liveness under sustained pressure.
      *
      * NOTE: blocking IMPLIES the modulating budget BELOW the high
      * watermark — between the watermarks batch byte budgets still
      * halve (the reference's blocking monitor likewise sits on top of
      * byte-budgeted batches, not instead of them); an operator tuning
      * `maxBytesPerTrigger` should expect both effects with this flag. */
    memoryBlocking: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl {

  /** Hysteresis state for [[memoryBlocking]]: entered at ≥ high
    * watermark, left only at < low watermark. */
  @volatile private[sources] var memBlocked = false

  /** True while blocking admission says "admit nothing this trigger". */
  private def blockedNow(): Boolean =
    memoryBlocking && {
      val usage = CdcLogSource.memoryUsage()
      val was = memBlocked
      if (memBlocked) {
        if (usage < CdcLogSource.MemoryLowWatermark) memBlocked = false
      } else if (usage >= CdcLogSource.MemoryHighWatermark) memBlocked = true
      if (was != memBlocked) {
        // observability.rs parity: backpressure gauge + transition count
        graft.pipeline.Telemetry
          .gauge(graft.pipeline.Telemetry.MemoryBackpressureActive,
            "1 while blocking admission is active")
          .set(if (memBlocked) 1.0 else 0.0)
        graft.pipeline.Telemetry
          .counter("etl_memory_backpressure_transitions_total",
            "Blocking-admission activations and resumes")
          .increment(1.0, Seq("direction" ->
            (if (memBlocked) "activate" else "resume")))
      }
      memBlocked
    }

  private def effectiveMaxBytes(): Option[Long] =
    if (!memoryAware) maxBytes
    else {
      val usage = CdcLogSource.memoryUsage()
      val base = maxBytes.getOrElse(CdcLogSource.DefaultMemoryAwareBytes)
      if (usage >= CdcLogSource.MemoryHighWatermark) Some(1L) // min admit
      else if (usage >= CdcLogSource.MemoryLowWatermark)
        Some(math.max(1L, base / 2))
      else Some(base)
    }

  /** Slot-invalidation analog (ST10, reference slots.rs:51-72 +
    * invalidated-slot policy etl-config pipeline.rs:123-149): if the
    * checkpointed start offset predates the earliest retained WAL entry,
    * changes were lost. Policy "error" (default) fails the query like the
    * reference's Error behavior; "earliest" mirrors Restart — resume from
    * the oldest retained entry (the caller is responsible for re-running
    * backfill, as the reference drops state and re-syncs). */
  private def checkRetention(start: LsnOffset): LsnOffset = {
    if (start == LsnOffset.zero) return start
    val keys = readKeys()
    if (keys.isEmpty) return start
    val earliest = keys.min
    // covered if some retained entry is <= start (the offset boundary
    // itself may have been the last retained line), or if retention
    // trimmed exactly through start's commit AND start was a known commit
    // boundary — without the boundary bit, remaining ordinals of
    // start.commitLsn may have been truncated away (an admission-capped
    // offset can sit mid-commit) and reporting "covered" would mask loss
    if (!LsnOffset.lt((start.commitLsn, start.txOrdinal), earliest)) start
    else if (start.boundary && earliest == (start.commitLsn + 1, 0L)) start
    else onMissingOffset match {
      case "earliest" =>
        // everything retained is after this offset → read from byte 0
        LsnOffset(earliest._1 - 1, Long.MaxValue, boundary = false, pos = 0L)
      case _ => throw new IllegalStateException(
        s"checkpointed offset ${start.json()} predates earliest retained " +
          s"WAL entry (${earliest._1},${earliest._2}): change log was " +
          "truncated (slot invalidated). Set onMissingOffset=earliest to " +
          "resume with data loss after re-running backfill.")
    }
  }

  /** Byte-incremental key index (ST1/ST3 at scale): `keys` are
    * (commit_lsn, tx_ordinal, endPos) per parsed line, `parsedUpTo` the
    * byte position parsing stopped at (always a line boundary — a
    * partially-flushed trailing line waits for the next trigger).
    * `ordered` = the FILE order matches key order, the precondition for
    * handing byte windows to partition readers.
    *
    * Each trigger parses only the appended suffix — O(delta), not
    * O(log). The round-2 memo re-parsed the whole file whenever it grew,
    * which made every trigger's driver cost proportional to total WAL
    * retained; a socket-backed source keeps a rolling buffer here
    * instead, and this index is its file-transport equivalent. */
  private final case class LogIndex(parsedUpTo: Long, stamp: (Long, Long),
      keys: Vector[(Long, Long, Long)], ordered: Boolean)
  @volatile private var idxMemo: LogIndex =
    LogIndex(0L, (-1L, -1L), Vector.empty, ordered = true)

  /** Suffix-parse chunk size. A trigger that finds a multi-GiB appended
    * delta (e.g. first poll after a long pause) must not materialize it in
    * one array — `(delta).toInt` overflows past 2 GiB and a single huge
    * allocation thrashes the driver heap either way. Bounded chunks keep
    * driver memory O(chunk) and advance `parsedUpTo` incrementally, so
    * even an aborted pass resumes where it stopped. Var (not val) only so
    * tests can exercise the chunk-boundary paths with small sizes. */
  private[sources] var indexChunkBytes: Long = 64L << 20

  private def readAt(chan: java.nio.channels.FileChannel, pos: Long,
      len: Int): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(len)
    chan.position(pos)
    var n = 0
    while (n < len) {
      val r = chan.read(buf); if (r < 0) n = len else n += r
    }
    buf.array()
  }

  private def readIndex(): LogIndex = {
    val p = Paths.get(path)
    if (!Files.exists(p))
      return LogIndex(0L, (-1L, -1L), Vector.empty, ordered = true)
    val stamp = (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    val cur0 = idxMemo
    if (cur0.stamp == stamp) return cur0
    // shrunk file = retention trim / rewrite → rebuild from byte 0.
    // (A same-size rewrite with identical mtime is indistinguishable from
    // no change; the transport only appends or trims, so not reachable.)
    var parsedUpTo =
      if (stamp._1 < cur0.parsedUpTo) 0L else cur0.parsedUpTo
    val keys = Vector.newBuilder[(Long, Long, Long)]
    var lastKey: Option[(Long, Long)] =
      if (parsedUpTo == 0L) None
      else cur0.keys.lastOption.map(k => (k._1, k._2))
    if (parsedUpTo > 0L) keys ++= cur0.keys
    var ordered = parsedUpTo == 0L || cur0.ordered
    val chan = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.READ)
    try {
      var chunkLen = math.max(1L, indexChunkBytes)
      var done = false
      while (!done) {
        val remaining = stamp._1 - parsedUpTo
        if (remaining <= 0) done = true
        else {
          val len = math.min(remaining, chunkLen).toInt
          val bytes = readAt(chan, parsedUpTo, len)
          // parse whole lines only: stop at the last newline in the chunk
          val lastNl = bytes.lastIndexOf('\n'.toByte)
          if (lastNl < 0) {
            if (len < remaining) chunkLen *= 2 // one line spans the chunk
            else done = true // trailing partial line: next trigger's work
          } else {
            var from = 0
            while (from <= lastNl) {
              var to = from
              while (bytes(to) != '\n'.toByte) to += 1
              if (to > from) {
                val line =
                  new String(bytes, from, to - from, StandardCharsets.UTF_8)
                val tab1 = line.indexOf('\t')
                val tab2 = line.indexOf('\t', tab1 + 1)
                val k = (line.substring(0, tab1).toLong,
                  line.substring(tab1 + 1, tab2).toLong)
                keys += ((k._1, k._2, parsedUpTo + to + 1))
                if (lastKey.exists(prev => LsnOffset.lt(k, prev)))
                  ordered = false
                lastKey = Some(k)
              }
              from = to + 1
            }
            parsedUpTo += lastNl + 1
            if (parsedUpTo >= stamp._1) done = true
          }
        }
      }
    } finally chan.close()
    idxMemo = LogIndex(parsedUpTo, stamp, keys.result(), ordered)
    idxMemo
  }

  private def readKeys(): Seq[(Long, Long)] = {
    val idx = readIndex()
    val ks = idx.keys.map(k => (k._1, k._2))
    if (idx.ordered) ks else ks.sorted
  }

  override def initialOffset(): Offset = LsnOffset.zero
  override def deserializeOffset(json: String): Offset = LsnOffset.fromJson(json)

  override def latestOffset(): Offset = {
    val idx = readIndex()
    val last = // log end = boundary (whole-commit appends)
      if (idx.ordered) idx.keys.lastOption
      else idx.keys.sortBy(k => (k._1, k._2)).lastOption
    last.map { case (l, o, end) =>
      LsnOffset(l, o, boundary = true, pos = if (idx.ordered) end else -1L)
    }.getOrElse(LsnOffset.zero)
  }

  /** Admission control (ST1): cap rows per micro-batch — the analog of the
    * reference's byte/row batch budget (`BatchConfig.max_bytes`,
    * batch_budget.rs). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = checkRetention(start.asInstanceOf[LsnOffset])
    if (blockedNow()) return s // blocking backpressure: empty micro-batch
    val idx = readIndex()
    val all = if (idx.ordered) idx.keys else idx.keys.sortBy(k => (k._1, k._2))
    val pending = all
      .filter(k => LsnOffset.lt((s.commitLsn, s.txOrdinal), (k._1, k._2)))
    val rowCapped = limit match {
      case r: ReadMaxRows => pending.take(r.maxRows().toInt)
      case _ => maxRows.map(m => pending.take(m.toInt)).getOrElse(pending)
    }
    // byte budget (reference max_bytes): entries carry absolute end
    // positions, so the batch's byte extent is endPos − startPos. Only
    // meaningful while file order == key order; always admit ≥ 1 entry.
    val capped = effectiveMaxBytes() match {
      case Some(budget) if idx.ordered && rowCapped.nonEmpty =>
        val dropped = all.length - pending.length
        val startPos = if (dropped == 0) 0L else all(dropped - 1)._3
        val kept = rowCapped.takeWhile(e => e._3 - startPos <= budget)
        if (kept.isEmpty) rowCapped.take(1) else kept
      case _ => rowCapped
    }
    capped.lastOption.map { case (l, o, end) =>
      // commit-boundary bit for the retention check: a later commit
      // visible behind the cap proves this commit is complete; a fully
      // drained log is a boundary too (the file transport appends whole
      // commits per flush). Only a cap landing mid-commit — next pending
      // entry shares the lsn — is a non-boundary.
      val rest = pending.drop(capped.length)
      LsnOffset(l, o, boundary = rest.headOption.forall(_._1 > l),
        pos = if (idx.ordered) end else -1L)
    }.getOrElse(s)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxRows.map(m => ReadLimit.maxRows(m)).getOrElse(ReadLimit.allAvailable())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LsnOffset]
    val e = end.asInstanceOf[LsnOffset]
    // Byte window for the reader, derived from the CURRENT index rather
    // than the offsets' pos hints (which may predate a retention trim
    // that shifted every line): fromPos = end of the last line with
    // key ≤ start, toPos = end of the last line with key ≤ end. Valid
    // only while file order == key order; otherwise the reader falls
    // back to scanning the whole log with the key filter.
    val idx = readIndex()
    val (fromPos, toPos) =
      if (!idx.ordered) (-1L, -1L)
      else {
        def endOfLastLe(lsn: Long, ord: Long): Long = {
          var lo = 0; var hi = idx.keys.length - 1; var res = 0L
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            val k = idx.keys(mid)
            if (!LsnOffset.lt((lsn, ord), (k._1, k._2))) {
              res = k._3; lo = mid + 1
            } else hi = mid - 1
          }
          res
        }
        (endOfLastLe(s.commitLsn, s.txOrdinal),
          endOfLastLe(e.commitLsn, e.txOrdinal))
      }
    // single ordered WAL window — one partition (see class doc); the
    // planner's layout stamp rides along so the executor can tell whether
    // the bytes it reads are the bytes the window was planned against
    Array(CdcLogPartition(path, s.commitLsn, s.txOrdinal,
      e.commitLsn, e.txOrdinal, fromPos, toPos,
      idx.stamp._1, idx.stamp._2))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcLogReaderFactory

  /** Checkpoint commit — the reference's status update to Postgres
    * (confirmed_flush_lsn advance, replication_message.rs:111): progress is
    * monotonic; a real Postgres source would send Standby Status Update
    * here. We persist a progress file beside the log for observability. */
  override def commit(end: Offset): Unit = {
    val o = end.asInstanceOf[LsnOffset]
    val p = Paths.get(path + ".progress")
    val prev = if (Files.exists(p))
      LsnOffset.fromJson(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    else LsnOffset.zero
    if (LsnOffset.lt((prev.commitLsn, prev.txOrdinal), (o.commitLsn, o.txOrdinal))) {
      // atomic replace: the replication client's flushLsn() reads this
      // file concurrently from its heartbeat/reader threads — an
      // in-place truncate-then-write would expose a torn read
      val tmp = Paths.get(path + ".progress.tmp")
      Files.write(tmp, o.json().getBytes(StandardCharsets.UTF_8))
      try Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  override def stop(): Unit = {}
}

/** The (from, to] window over the ordered log, as (lsn, ordinal) pairs.
  * `fromPos`/`toPos` is an optional byte window (−1 = unknown): when the
  * planner verified file order == key order, the reader seeks to
  * `fromPos` and reads `toPos − fromPos` bytes — O(batch) I/O — instead
  * of scanning the whole log. `stampSize`/`stampMtime` is the layout the
  * planner observed; the reader treats the byte window as a HINT to be
  * verified, never as truth: a retention rewrite landing between plan
  * and read shifts every byte, and a key filter over a shifted window
  * would silently drop in-window rows. The key filter still applies
  * either way. */
final case class CdcLogPartition(path: String, fromLsn: Long, fromOrd: Long,
    toLsn: Long, toOrd: Long, fromPos: Long = -1L, toPos: Long = -1L,
    stampSize: Long = -1L, stampMtime: Long = -1L)
    extends InputPartition

final class CdcLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcLogPartition]
    new PartitionReader[InternalRow] {
      /** Windowed fast path with verification. Preconditions for even
        * attempting the seek-read: a byte window exists, the file still
        * covers it, and the layout is append-consistent with the
        * planner's stamp (same size+mtime, or grown — append-only
        * transports only add bytes; a shrink means rewrite). The decoded
        * window must then prove it IS the planned window: it starts and
        * ends on line boundaries and every line's key lies in
        * (from, to] — a shifted window fails at least one (the log is
        * key-ordered, so foreign bytes carry out-of-range keys or tear a
        * line). Any doubt → None → full scan with key filter (correct,
        * just O(log)). */
      private def windowedLines(f: java.nio.file.Path)
          : Option[Vector[Array[String]]] = {
        if (p.fromPos < 0 || p.toPos < p.fromPos) return None
        val size = Files.size(f)
        if (size < p.toPos || size < p.stampSize) return None
        if (size == p.stampSize && p.stampMtime >= 0 &&
            Files.getLastModifiedTime(f).toMillis != p.stampMtime) return None
        if (p.fromPos == p.toPos) return Some(Vector.empty)
        // Stream the window in bounded chunks: an allAvailable catch-up
        // after a long pause can plan a multi-GiB window, and a single
        // (toPos − fromPos).toInt allocation would overflow Int (or pin
        // the whole window in one executor buffer). Memory here is
        // O(chunk + one line), same shape as the planner's chunked
        // indexer. (System property so tests can force the
        // line-spans-chunk carry path without 64 MiB fixtures.)
        val chunkBytes =
          Integer.getInteger("graft.cdc.windowChunkBytes", 64 << 20).intValue()
        val out = Vector.newBuilder[Array[String]]
        def addLine(line: String): Boolean = { // false = not our window
          if (line.isEmpty) return true
          val t = line.split("\t", -1)
          if (t.length < 8) return false
          val k = try { (t(0).toLong, t(1).toLong) }
            catch { case _: NumberFormatException => return false }
          if (!(LsnOffset.lt((p.fromLsn, p.fromOrd), k) &&
              !LsnOffset.lt((p.toLsn, p.toOrd), k))) return false
          out += t; true
        }
        val chan = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.READ)
        try {
          def readAt(off: Long, len: Int): Array[Byte] = {
            val buf = java.nio.ByteBuffer.allocate(len)
            chan.position(off)
            var n = 0
            while (n < len) {
              val r = chan.read(buf); if (r < 0) n = len else n += r
            }
            buf.array()
          }
          if (p.fromPos > 0 && // torn start?
              readAt(p.fromPos - 1, 1)(0) != '\n'.toByte) return None
          var pos = p.fromPos
          // bytes of a line spanning a chunk boundary (carried forward)
          val carry = new java.io.ByteArrayOutputStream()
          while (pos < p.toPos) {
            val len = math.min(chunkBytes.toLong, p.toPos - pos).toInt
            val bytes = readAt(pos, len)
            var from = 0
            var nl = bytes.indexOf('\n'.toByte)
            while (nl >= 0) {
              val line =
                if (carry.size() == 0)
                  new String(bytes, from, nl - from, StandardCharsets.UTF_8)
                else {
                  carry.write(bytes, from, nl - from)
                  val s = carry.toString(StandardCharsets.UTF_8)
                  carry.reset(); s
                }
              if (!addLine(line)) return None
              from = nl + 1
              nl = {
                var i = from
                while (i < bytes.length && bytes(i) != '\n'.toByte) i += 1
                if (i < bytes.length) i else -1
              }
            }
            if (from < bytes.length) carry.write(bytes, from, bytes.length - from)
            pos += len
          }
          if (carry.size() > 0) return None // torn end (no final newline)
          Some(out.result())
        } finally chan.close()
      }

      private val lines: Iterator[Array[String]] = {
        val f = Paths.get(p.path)
        if (!Files.exists(f)) Iterator.empty
        else windowedLines(f).map(_.iterator).getOrElse {
          Files.readAllLines(f, StandardCharsets.UTF_8).asScala.iterator
            .filter(_.nonEmpty)
            .map(_.split("\t", -1))
            .filter { t =>
              val k = (t(0).toLong, t(1).toLong)
              LsnOffset.lt((p.fromLsn, p.fromOrd), k) &&
                !LsnOffset.lt((p.toLsn, p.toOrd), k)
            }
        }
      }
      private var cur: Array[String] = _
      override def next(): Boolean = {
        if (lines.hasNext) { cur = lines.next(); true } else false
      }
      override def get(): InternalRow = {
        def str(s: String): UTF8String =
          if (s == "\\N") null else UTF8String.fromString(s)
        InternalRow(
          UTF8String.fromString(cur(2)), // _op
          cur(3).toLong,                 // _table
          cur(0).toLong,                 // _commit_lsn
          cur(4).toLong,                 // _start_lsn
          cur(1).toLong,                 // _tx_ordinal
          cur(5).toLong,                 // _schema_lsn
          str(cur(6)),                   // before
          str(cur(7)),                   // after
          // 9th column optional: logs written before the TOAST-mask
          // extension parse as full rows
          if (cur.length > 8) str(cur(8)) else null) // _missing
      }
      override def close(): Unit = {}
    }
  }
}
