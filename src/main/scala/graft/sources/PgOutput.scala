package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** Binary codec for the `pgoutput` logical-replication plugin's message
  * format, per the public PostgreSQL "Logical Replication Message Formats"
  * protocol documentation. This is the wire layer a live Postgres source
  * speaks (the reference consumes the same messages via its protocol
  * stack, crates/etl/src/postgres/stream/replication_message.rs:89-245);
  * everything downstream of [[toEnvelopeLine]] — offsets, admission,
  * ordered apply, sinks — is shared with the file transport, which is the
  * point of the DSv2 seam.
  *
  * All integers are big-endian; strings are NUL-terminated; timestamps
  * are microseconds since 2000-01-01 (Postgres epoch). Both directions
  * (decode for the source, encode for tests/replay tooling) are
  * implemented and property-tested for round-trip identity.
  */
object PgOutput {
  /** Prefix selecting graft's DDL messages on the logical-message
    * channel — the analog of the reference's `supabase_etl_ddl`
    * (codec/event.rs:28); payload = the R-record JSON plus a
    * `tableId` field. Unknown prefixes are discarded. */
  val DdlMessagePrefix = "graft_ddl"

  /** The reference's own event-trigger prefix (its DDL-capture
    * migration emits `pg_logical_emit_message(true, 'supabase_etl_ddl',
    * <pg_catalog-shaped json>)`) — accepted verbatim so a source
    * already carrying that trigger is a drop-in; the payload's
    * `columns[].attnum` / `default_expression` / `identity` map into
    * [[graft.core.ColumnSpec]] in
    * `CdcPipeline.parseRelation`. */
  val ReferenceDdlPrefix = "supabase_etl_ddl"


  // ------------------------------------------------------------- data model
  sealed trait TupleValue
  case object TNull extends TupleValue
  /** TOAST value not sent (maps to the envelope's `_missing` mask —
    * PartialTableRow, reference table_row.rs:68). */
  case object TUnchangedToast extends TupleValue
  final case class TText(value: String) extends TupleValue
  final case class TBinary(bytes: Vector[Byte]) extends TupleValue

  type TupleData = IndexedSeq[TupleValue]

  /** Relation column: flags bit 0 = part of the replica identity key. */
  final case class RelCol(flags: Int, name: String, typeOid: Int, typeMod: Int) {
    def inKey: Boolean = (flags & 1) == 1
  }

  sealed trait Message
  final case class Begin(finalLsn: Long, commitTsMicros: Long, xid: Int)
      extends Message
  final case class Commit(flags: Int, commitLsn: Long, endLsn: Long,
      commitTsMicros: Long) extends Message
  final case class Origin(lsn: Long, name: String) extends Message
  final case class Relation(relId: Int, namespace: String, relName: String,
      replicaIdentity: Char, columns: IndexedSeq[RelCol]) extends Message
  final case class TypeMsg(oid: Int, namespace: String, name: String)
      extends Message
  final case class Insert(relId: Int, newTuple: TupleData) extends Message
  /** `oldKind` is 'K' (replica-identity key image) or 'O' (full old row,
    * REPLICA IDENTITY FULL) when present. */
  final case class Update(relId: Int, oldKind: Option[Char],
      oldTuple: Option[TupleData], newTuple: TupleData) extends Message
  final case class Delete(relId: Int, kind: Char, oldTuple: TupleData)
      extends Message
  /** Logical decoding message (`pg_logical_emit_message`) — the
    * reference's DDL capture channel ('M' frames arrive when the slot is
    * created with `messages 'true'`; reference client/raw.rs:634,
    * apply.rs:2160-2276). `transactional` messages ride inside the
    * emitting transaction; non-transactional ones arrive immediately. */
  final case class LogicalMsg(transactional: Boolean, lsn: Long,
      prefix: String, content: Vector[Byte]) extends Message
  final case class Truncate(options: Int, relIds: IndexedSeq[Int])
      extends Message

  // -------- protocol v2: streamed in-progress transactions (PG 14+).
  // A transaction exceeding the server's logical_decoding_work_mem
  // streams BEFORE commit as interleavable blocks bracketed by
  // StreamStart/StreamStop; data frames inside a block carry a leading
  // subtransaction xid. The reference runs proto_version '1' only
  // (client/raw.rs:634) — v1 makes the SERVER buffer the whole
  // transaction and the client see nothing until commit, which at
  // 100 TB (bulk UPDATEs, backfills inside one tx) means unbounded
  // publisher-side spill and a commit-sized latency cliff. v2 moves
  // that buffering HERE, disk-spooled and abort-truncatable.
  final case class StreamStart(xid: Int, firstSegment: Boolean)
      extends Message
  case object StreamStop extends Message
  final case class StreamCommit(xid: Int, flags: Int, commitLsn: Long,
      endLsn: Long, commitTsMicros: Long) extends Message
  /** `subXid` == `xid` aborts the whole transaction; otherwise exactly
    * the subtransaction's (and its children's) spooled changes drop.
    * Protocol v4 (PG 16, `streaming 'parallel'`) extends the frame
    * with the abort LSN and abort timestamp — informational for our
    * replay (the spool truncation is identical), decoded and carried
    * so the envelope layer and re-encode stay byte-faithful. */
  final case class StreamAbort(xid: Int, subXid: Int,
      abortLsn: Option[Long] = None,
      abortTsMicros: Option[Long] = None) extends Message

  // -------- protocol v3: two-phase commit (PG 15+, `two_phase 'true'`).
  // A PREPARE TRANSACTION decodes immediately (BeginPrepare … data …
  // Prepare), but its effects must not apply until the matching
  // CommitPrepared — or vanish on RollbackPrepared. Also beyond the
  // reference (proto_version '1').
  final case class BeginPrepare(prepareLsn: Long, endLsn: Long,
      prepareTsMicros: Long, xid: Int, gid: String) extends Message
  final case class Prepare(flags: Int, prepareLsn: Long, endLsn: Long,
      prepareTsMicros: Long, xid: Int, gid: String) extends Message
  final case class CommitPrepared(flags: Int, commitLsn: Long,
      endLsn: Long, commitTsMicros: Long, xid: Int, gid: String)
      extends Message
  final case class RollbackPrepared(flags: Int, prepareEndLsn: Long,
      rollbackEndLsn: Long, prepareTsMicros: Long,
      rollbackTsMicros: Long, xid: Int, gid: String) extends Message
  /** A STREAMED transaction ending in PREPARE instead of commit (v3 +
    * streaming): transitions the xid's spool to the prepared set. */
  final case class StreamPrepare(flags: Int, prepareLsn: Long,
      endLsn: Long, prepareTsMicros: Long, xid: Int, gid: String)
      extends Message

  // ---------------------------------------------------------------- decode
  def decode(bytes: Array[Byte]): Message = {
    val b = ByteBuffer.wrap(bytes)
    (b.get().toChar: @annotation.switch) match {
      case 'B' => Begin(b.getLong, b.getLong, b.getInt)
      case 'C' => Commit(b.get().toInt & 0xff, b.getLong, b.getLong, b.getLong)
      case 'O' => Origin(b.getLong, cstr(b))
      case 'R' =>
        val relId = b.getInt
        val ns = cstr(b)
        val name = cstr(b)
        val ident = b.get().toChar
        val n = b.getShort.toInt
        Relation(relId, ns, name, ident, (0 until n).map { _ =>
          RelCol(b.get().toInt & 0xff, cstr(b), b.getInt, b.getInt)
        })
      case 'Y' => TypeMsg(b.getInt, cstr(b), cstr(b))
      case 'I' =>
        val relId = b.getInt
        require(b.get().toChar == 'N', "insert must carry a new tuple")
        Insert(relId, tuple(b))
      case 'U' =>
        val relId = b.getInt
        val marker = b.get().toChar
        if (marker == 'N') Update(relId, None, None, tuple(b))
        else {
          require(marker == 'K' || marker == 'O',
            s"bad old-tuple marker '$marker'")
          val old = tuple(b)
          require(b.get().toChar == 'N', "update must carry a new tuple")
          Update(relId, Some(marker), Some(old), tuple(b))
        }
      case 'D' =>
        val relId = b.getInt
        val kind = b.get().toChar
        require(kind == 'K' || kind == 'O', s"bad old-tuple marker '$kind'")
        Delete(relId, kind, tuple(b))
      case 'T' =>
        val n = b.getInt
        val opts = b.get().toInt & 0xff
        Truncate(opts, (0 until n).map(_ => b.getInt))
      case 'M' =>
        val transactional = b.get() != 0
        val lsn = b.getLong
        val prefix = cstr(b)
        val arr = new Array[Byte](checkedLen(b, "logical message"))
        b.get(arr)
        LogicalMsg(transactional, lsn, prefix, arr.toVector)
      case 'S' => StreamStart(b.getInt, b.get() != 0)
      case 'E' => StreamStop
      case 'c' => StreamCommit(b.getInt, b.get().toInt & 0xff, b.getLong,
        b.getLong, b.getLong)
      case 'A' =>
        // v4 appends Int64 abort LSN + Int64 abort timestamp; the
        // frame length discriminates (v≤3 frames end after the subxid)
        val xid = b.getInt; val sub = b.getInt
        if (b.remaining() >= 16)
          StreamAbort(xid, sub, Some(b.getLong), Some(b.getLong))
        else StreamAbort(xid, sub)
      case 'b' => BeginPrepare(b.getLong, b.getLong, b.getLong, b.getInt,
        cstr(b))
      case 'P' => Prepare(b.get().toInt & 0xff, b.getLong, b.getLong,
        b.getLong, b.getInt, cstr(b))
      case 'K' => CommitPrepared(b.get().toInt & 0xff, b.getLong,
        b.getLong, b.getLong, b.getInt, cstr(b))
      case 'r' => RollbackPrepared(b.get().toInt & 0xff, b.getLong,
        b.getLong, b.getLong, b.getLong, b.getInt, cstr(b))
      case 'p' => StreamPrepare(b.get().toInt & 0xff, b.getLong,
        b.getLong, b.getLong, b.getInt, cstr(b))
      case c => throw new IllegalArgumentException(
        s"unknown pgoutput message type '$c'")
    }
  }

  /** The pgoutput message types that carry a leading Int32 subxid when
    * they arrive INSIDE a StreamStart/StreamStop block (protocol v2). */
  private val StreamableTypes = Set('R', 'Y', 'I', 'U', 'D', 'T', 'M')

  /** Split an in-stream data frame into (subxid, v1-equivalent frame):
    * the xid sits between the type byte and the regular body, so
    * removing it yields a frame the v1 decoder — and the spool replay —
    * consumes unchanged. */
  def stripStreamedXid(frame: Array[Byte]): (Int, Array[Byte]) = {
    require(frame.length >= 5 && StreamableTypes(frame(0).toChar),
      s"frame type '${frame.headOption.map(_.toChar).orNull}' does not " +
        "carry a streamed xid")
    val xid = ByteBuffer.wrap(frame, 1, 4).getInt
    val out = new Array[Byte](frame.length - 4)
    out(0) = frame(0)
    System.arraycopy(frame, 5, out, 1, frame.length - 5)
    (xid, out)
  }

  /** Encode a data message as an IN-STREAM (protocol v2) frame: type
    * byte, Int32 subxid, then the regular body. */
  def encodeStreamed(xid: Int, m: Message): Array[Byte] = {
    val v1 = encode(m)
    require(StreamableTypes(v1(0).toChar),
      s"message type '${v1(0).toChar}' cannot appear inside a stream")
    val out = new Array[Byte](v1.length + 4)
    out(0) = v1(0)
    ByteBuffer.wrap(out, 1, 4).putInt(xid)
    System.arraycopy(v1, 1, out, 5, v1.length - 1)
    out
  }

  private def cstr(b: ByteBuffer): String = {
    val sb = new java.io.ByteArrayOutputStream()
    var c = b.get()
    while (c != 0) { sb.write(c.toInt); c = b.get() }
    new String(sb.toByteArray, StandardCharsets.UTF_8)
  }

  /** Length prefixes are untrusted input: validate against the bytes
    * actually remaining BEFORE allocating, so a corrupt/hostile frame
    * fails cleanly instead of attempting a multi-GB allocation. */
  private def checkedLen(b: ByteBuffer, what: String): Int = {
    val len = b.getInt
    require(len >= 0 && len <= b.remaining(),
      s"$what length $len exceeds frame remainder ${b.remaining()}")
    len
  }

  private def tuple(b: ByteBuffer): TupleData = {
    val n = b.getShort.toInt
    require(n >= 0, s"negative tuple column count $n")
    (0 until n).map { _ =>
      (b.get().toChar: @annotation.switch) match {
        case 'n' => TNull
        case 'u' => TUnchangedToast
        case 't' =>
          val arr = new Array[Byte](checkedLen(b, "text value"))
          b.get(arr)
          TText(new String(arr, StandardCharsets.UTF_8))
        case 'b' =>
          val arr = new Array[Byte](checkedLen(b, "binary value"))
          b.get(arr)
          TBinary(arr.toVector)
        case c => throw new IllegalArgumentException(
          s"unknown tuple-value kind '$c'")
      }
    }
  }

  // ---------------------------------------------------------------- encode
  def encode(m: Message): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    def s(v: String): Unit = {
      d.write(v.getBytes(StandardCharsets.UTF_8)); d.writeByte(0)
    }
    def tup(t: TupleData): Unit = {
      d.writeShort(t.length)
      t.foreach {
        case TNull => d.writeByte('n')
        case TUnchangedToast => d.writeByte('u')
        case TText(v) =>
          val bs = v.getBytes(StandardCharsets.UTF_8)
          d.writeByte('t'); d.writeInt(bs.length); d.write(bs)
        case TBinary(bs) =>
          d.writeByte('b'); d.writeInt(bs.length); d.write(bs.toArray)
      }
    }
    m match {
      case Begin(lsn, ts, xid) =>
        d.writeByte('B'); d.writeLong(lsn); d.writeLong(ts); d.writeInt(xid)
      case Commit(fl, clsn, elsn, ts) =>
        d.writeByte('C'); d.writeByte(fl); d.writeLong(clsn); d.writeLong(elsn)
        d.writeLong(ts)
      case Origin(lsn, name) => d.writeByte('O'); d.writeLong(lsn); s(name)
      case Relation(id, ns, name, ident, cols) =>
        d.writeByte('R'); d.writeInt(id); s(ns); s(name); d.writeByte(ident)
        d.writeShort(cols.length)
        cols.foreach { c =>
          d.writeByte(c.flags); s(c.name); d.writeInt(c.typeOid)
          d.writeInt(c.typeMod)
        }
      case TypeMsg(oid, ns, name) =>
        d.writeByte('Y'); d.writeInt(oid); s(ns); s(name)
      case Insert(id, t) => d.writeByte('I'); d.writeInt(id); d.writeByte('N')
        tup(t)
      case Update(id, kind, old, t) =>
        d.writeByte('U'); d.writeInt(id)
        kind.foreach { k => d.writeByte(k); tup(old.get) }
        d.writeByte('N'); tup(t)
      case Delete(id, kind, t) =>
        d.writeByte('D'); d.writeInt(id); d.writeByte(kind); tup(t)
      case LogicalMsg(tx, lsn, prefix, content) =>
        d.writeByte('M'); d.writeByte(if (tx) 1 else 0); d.writeLong(lsn)
        s(prefix); d.writeInt(content.length); d.write(content.toArray)
      case Truncate(opts, ids) =>
        d.writeByte('T'); d.writeInt(ids.length); d.writeByte(opts)
        ids.foreach(d.writeInt)
      case StreamStart(xid, first) =>
        d.writeByte('S'); d.writeInt(xid); d.writeByte(if (first) 1 else 0)
      case StreamStop => d.writeByte('E')
      case StreamCommit(xid, fl, clsn, elsn, ts) =>
        d.writeByte('c'); d.writeInt(xid); d.writeByte(fl)
        d.writeLong(clsn); d.writeLong(elsn); d.writeLong(ts)
      case StreamAbort(xid, sub, albn, ats) =>
        d.writeByte('A'); d.writeInt(xid); d.writeInt(sub)
        (albn, ats) match { // v4 tail — both or neither
          case (Some(l), Some(t)) => d.writeLong(l); d.writeLong(t)
          case _ => ()
        }
      case BeginPrepare(plsn, elsn, ts, xid, gid) =>
        d.writeByte('b'); d.writeLong(plsn); d.writeLong(elsn)
        d.writeLong(ts); d.writeInt(xid); s(gid)
      case Prepare(fl, plsn, elsn, ts, xid, gid) =>
        d.writeByte('P'); d.writeByte(fl); d.writeLong(plsn)
        d.writeLong(elsn); d.writeLong(ts); d.writeInt(xid); s(gid)
      case CommitPrepared(fl, clsn, elsn, ts, xid, gid) =>
        d.writeByte('K'); d.writeByte(fl); d.writeLong(clsn)
        d.writeLong(elsn); d.writeLong(ts); d.writeInt(xid); s(gid)
      case RollbackPrepared(fl, pelsn, relsn, pts, rts, xid, gid) =>
        d.writeByte('r'); d.writeByte(fl); d.writeLong(pelsn)
        d.writeLong(relsn); d.writeLong(pts); d.writeLong(rts)
        d.writeInt(xid); s(gid)
      case StreamPrepare(fl, plsn, elsn, ts, xid, gid) =>
        d.writeByte('p'); d.writeByte(fl); d.writeLong(plsn)
        d.writeLong(elsn); d.writeLong(ts); d.writeInt(xid); s(gid)
    }
    d.flush()
    out.toByteArray
  }

  // ------------------------------------------------ OID → engine type names
  /** Common built-in type OIDs → the engine's pg type names (the subset
    * the codec layer types natively; everything else falls back to the
    * preserve-as-text escape hatch, like text.rs:146-157). */
  val oidToName: Map[Int, String] = Map(
    16 -> "bool", 17 -> "bytea", 20 -> "int8", 21 -> "int2", 23 -> "int4",
    25 -> "text", 26 -> "oid", 114 -> "json", 700 -> "float4",
    701 -> "float8", 1042 -> "bpchar", 1043 -> "varchar", 1082 -> "date",
    1083 -> "time", 1114 -> "timestamp", 1184 -> "timestamptz",
    1266 -> "timetz", 1700 -> "numeric", 2950 -> "uuid", 3802 -> "jsonb",
    // 1-D array OIDs
    1000 -> "_bool", 1001 -> "_bytea", 1005 -> "_int2", 1007 -> "_int4",
    1016 -> "_int8", 1009 -> "_text", 1021 -> "_float4", 1022 -> "_float8",
    199 -> "_json", 1014 -> "_bpchar", 1015 -> "_varchar", 1182 -> "_date",
    1183 -> "_time", 1115 -> "_timestamp", 1185 -> "_timestamptz",
    1231 -> "_numeric", 2951 -> "_uuid", 3807 -> "_jsonb")

  def typeName(oid: Int): String = oidToName.getOrElse(oid, s"oid_$oid")

  // --------------------------------------------- bridge to the envelope log
  /** Relation message → the engine's versioned schema (feeds the same
    * SchemaRegistry the file transport's Relation records do). The
    * per-column key flag becomes the IdentityMask bit; pk ordinals follow
    * key-column order, matching replica-identity semantics. */
  def toTableSchema(r: Relation, schemaLsn: Long): graft.core.TableSchemaV = {
    var pk = 0
    val cols = r.columns.map { c =>
      val ord = if (c.inKey) { pk += 1; pk } else 0
      graft.core.ColumnSpec(c.name, typeName(c.typeOid),
        nullable = !c.inKey, pkOrdinal = ord, modifier = c.typeMod,
        identity = c.inKey)
    }
    graft.core.TableSchemaV(r.relId.toLong, r.relName, schemaLsn, cols)
  }

  /** Postgres TEXT form of one tuple value (None = NULL); binary-mode
    * values convert through [[graft.core.PgBinary]] — fixed-width
    * numerics, text-ish types, temporals, uuid and numeric all render
    * as their text forms; unsupported types fall back to bytea hex. */
  private def valueText(typeOid: Int, v: TupleValue): Option[String] =
    v match {
      case TNull | TUnchangedToast => None
      case TText(s) => Some(s)
      case TBinary(bs) => Some(graft.core.PgBinary.text(typeOid, bs.toArray))
    }

  /** PACKED payload for a tuple ([[graft.core.PackedRow]]), the only
    * data-image format: raw text values straight from pgoutput into
    * position-ordered cells — no JSON rendering on the intake side and
    * no JSON parsing on the apply side. TOAST-unchanged columns pack as
    * NULL and report through the `_missing` mask. */
  private def tuplePacked(r: Relation, t: TupleData): (String, Seq[String]) = {
    requireArity(r, t)
    val missing = Seq.newBuilder[String]
    val cells = r.columns.zip(t).map { case (c, v) =>
      if (v == TUnchangedToast) missing += c.name
      valueText(c.typeOid, v)
    }
    (graft.core.PackedRow.render(cells), missing.result())
  }

  /** A tuple whose column count disagrees with its Relation is a
    * protocol violation: zipping would silently DROP cells (or columns)
    * and publish a corrupt row — reject instead (the reference's fuzz
    * targets pin the same reject-not-corrupt contract,
    * fuzz/fuzz_targets/). */
  private def requireArity(r: Relation, t: TupleData): Unit =
    require(t.length == r.columns.length,
      s"tuple arity ${t.length} != relation ${r.relName} arity " +
        s"${r.columns.length}: corrupt or stale frame")

  /** JVM-wide registry of session spool DIRECTORIES with ONE shutdown
    * hook total. The previous design registered every spool file via
    * `File.deleteOnExit()`, whose static `DeleteOnExitHook` set is
    * never pruned — a long-lived replication session decoding millions
    * of streamed transactions accrued driver heap forever. Here each
    * [[DecodeSession]] owns one directory (released at session close);
    * crash cleanup is the single hook deleting whatever directories
    * are still live. */
  /** Public spool-volume gauge feed (the telemetry exporter polls it —
    * see [[SpoolDirs.usage]]). */
  def spoolUsage(): (Long, Long) = SpoolDirs.usage()

  private[sources] object SpoolDirs {
    private val live =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
    // one hook for the whole JVM, installed on first use
    private lazy val hookInstalled: Unit = Runtime.getRuntime.addShutdownHook(
      new Thread(() => { live.forEach(deleteTree(_)) }, "graft-spool-cleanup"))
    /** Create a fresh session spool directory under `base` (created if
      * missing) or, by default, the JVM temp dir. Spooling large
      * streamed transactions to a size-limited tmpfs /tmp defeats the
      * bounded-memory goal — production sessions should pass a real
      * disk next to their log/checkpoint path. */
    def create(base: Option[java.nio.file.Path]): java.nio.file.Path = {
      hookInstalled
      val dir = base match {
        case Some(b) =>
          java.nio.file.Files.createDirectories(b)
          java.nio.file.Files.createTempDirectory(b, "graft-spools-")
        case None =>
          java.nio.file.Files.createTempDirectory("graft-spools-")
      }
      live.add(dir)
      dir
    }
    def release(dir: java.nio.file.Path): Unit = {
      live.remove(dir)
      deleteTree(dir)
    }
    /** Live session-spool directories (tests/metrics). */
    private[sources] def liveCount: Int = live.size
    /** (bytes, files) across live session spool dirs — the disk analog
      * of ST7's memory signal: a wedged StreamCommit grows the spool
      * volume, and without a gauge it grows invisibly. */
    private[sources] def usage(): (Long, Long) = {
      var bytes = 0L; var files = 0L
      live.forEach { d =>
        try {
          if (java.nio.file.Files.isDirectory(d)) {
            val s = java.nio.file.Files.list(d)
            try s.forEach { p =>
              files += 1
              bytes += (try java.nio.file.Files.size(p)
                catch { case _: java.io.IOException => 0L })
            } finally s.close()
          }
        } catch { case _: java.io.IOException => () } // racing a release
      }
      (bytes, files)
    }
    private def deleteTree(dir: java.nio.file.Path): Unit =
      try {
        if (java.nio.file.Files.isDirectory(dir)) {
          val s = java.nio.file.Files.list(dir)
          try s.forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally s.close()
        }
        java.nio.file.Files.deleteIfExists(dir)
      } catch { case _: java.io.IOException => () } // best-effort cleanup

  }

  /** Disk-backed spool of ONE streamed transaction's v1-equivalent
    * frames: length-prefixed records in a temp file, per-frame file
    * offsets in memory (8 bytes per frame), and subxid → first-frame
    * index for abort truncation. Appends are sequential writes; a
    * subtransaction abort truncates the FILE back to the subxid's
    * first offset. A 100 GB in-progress transaction costs the decode
    * session one open file and an offsets array. Files live inside the
    * session's [[SpoolDirs]] directory — no per-file `deleteOnExit`. */
  private final class StreamSpool(dir: java.nio.file.Path) {
    private val path =
      java.nio.file.Files.createTempFile(dir, "graft-stream-", ".spool")
    private val file = new java.io.RandomAccessFile(path.toFile, "rw")
    private val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val subStart =
      scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    def append(subXid: Int, frame: Array[Byte]): Unit =
      try {
        if (!subStart.contains(subXid)) subStart(subXid) = offsets.length
        offsets += file.length()
        file.seek(file.length())
        file.writeInt(frame.length)
        file.write(frame)
      } catch {
        case e: java.io.IOException =>
          // a full spool volume (tmpfs /tmp is the classic case) must
          // not surface as an opaque IO error mid-stream
          throw new java.io.IOException(
            s"stream spool write failed at $path — spool volume full? " +
              "Point the decode session's spoolDir at a real disk " +
              "(default: next to the change log)", e)
      }
    /** Drop the subxid's first change THROUGH the tail (its children's
      * and its own later changes all sit after it; post-rollback parent
      * changes arrive after the abort message — PostgreSQL's apply
      * worker uses the same offset-stack truncation). */
    def truncateFromSub(subXid: Int): Unit =
      subStart.get(subXid).foreach { idx =>
        file.setLength(offsets(idx))
        offsets.remove(idx, offsets.length - idx)
        subStart.filterInPlace((_, i) => i < idx)
      }
    /** Replay order = append order. Single-threaded with appends (the
      * session replays only at StreamCommit, after the last block). */
    def frames: Iterator[Array[Byte]] = {
      val end = file.length()
      file.seek(0L)
      new Iterator[Array[Byte]] {
        def hasNext: Boolean = file.getFilePointer < end
        def next(): Array[Byte] = {
          val len = file.readInt()
          val a = new Array[Byte](len)
          file.readFully(a)
          a
        }
      }
    }
    def delete(): Unit = {
      file.close()
      java.nio.file.Files.deleteIfExists(path)
    }
  }

  /** Stateful decode loop over a pgoutput frame stream — the session
    * layer a live source runs (the reference's handle_message loop shape,
    * apply.rs:2026-2127): Begin opens a transaction (its final LSN is the
    * commit_lsn every change in the tx carries), data messages take
    * consecutive tx_ordinals, Relation messages refresh the schema cache
    * mid-stream AND emit an 'R' envelope record (so downstream registries
    * version on the same log), Commit closes the bracket. Messages
    * outside a Begin/Commit bracket are a protocol error. Emits envelope
    * lines in arrival order — already totally ordered by
    * (commit_lsn, tx_ordinal) because Postgres streams commits in commit
    * order. */
  final class DecodeSession(
      /** Skip DATA messages of transactions that carry a replication
        * Origin message — the bidirectional-replication loop breaker
        * (Postgres `CREATE SUBSCRIPTION … (origin = none)` semantics,
        * client-side). The reference discards Origin messages but
        * applies the transaction anyway (replication_message.rs: Origin
        * unhandled); default false matches that. Relation/DDL records
        * still register: schema knowledge is origin-independent. */
      dropForeignOrigins: Boolean = false,
      /** Base directory for streamed/prepared-transaction spools. A
        * session directory is created beneath it on first use and
        * removed at [[close]] (crash cleanup via one JVM-wide shutdown
        * hook — see [[SpoolDirs]]). None = the JVM temp dir; live
        * sources should point this at real disk next to the change
        * log, since /tmp is often a size-limited tmpfs. */
      spoolDir: Option[java.nio.file.Path] = None) {
    private val relations = scala.collection.mutable.Map.empty[Int, Relation]
    /** LSN each relation's schema was last (re)announced at — the
      * `_schema_lsn` data rows decode against (SnapshotId floor-lookup
      * semantics downstream). */
    private val relLsn = scala.collection.mutable.Map.empty[Int, Long]
    private var txLsn: Option[Long] = None
    private var ordinal: Long = 0L
    /** Highest commit LSN closed so far — the monotone floor out-of-tx
      * Relations are stamped with, so their sequence keys never sort
      * below an already-delivered checkpoint. */
    private var lastCommitLsn: Long = 0L
    /** Current tx was stamped with a foreign replication origin. */
    private var txForeign: Boolean = false

    // -------------------------------------- source-payload accounting
    /** Tuple-value bytes of the OPEN transaction (source_payload_
      * metadata.rs semantics — see [[graft.pipeline.SourcePayload]]).
      * Received/row-size metrics fire per event at decode; the merged
      * per-commit metadata parks here until [[ackProcessed]] confirms
      * the flushed LSN covers it (the reference records processed only
      * after destination acknowledgement). */
    private var txPayload = graft.pipeline.SourcePayload.StreamingMeta.empty
    private val pendingAck = scala.collection.mutable.TreeMap
      .empty[Long, graft.pipeline.SourcePayload.StreamingMeta]

    /** Record processed (acknowledged) bytes for every commit at or
      * below `flushedLsn` — called when a status update reports that
      * flush position upstream. */
    def ackProcessed(flushedLsn: Long,
        destinationType: String = "graft-log"): Unit =
      pendingAck.synchronized {
        val done = pendingAck.rangeTo(flushedLsn).toSeq
        if (done.nonEmpty) {
          done.map(_._2).reduce(_ merge _).recordProcessed(destinationType)
          done.foreach { case (lsn, _) => pendingAck.remove(lsn) }
        }
      }

    def relation(id: Int): Relation = relations(id)

    // ------------------------------------------------ spool directory
    /** Session spool directory, created on first spool, removed at
      * [[close]]. */
    private var sessionSpoolDir: java.nio.file.Path = null
    private def spoolHome: java.nio.file.Path = {
      if (sessionSpoolDir == null) sessionSpoolDir = SpoolDirs.create(spoolDir)
      sessionSpoolDir
    }

    /** Release every open spool and the session spool directory,
      * RETAINING the undecided-prepare flush floor (returned, and kept
      * on this object): the prepared spools are volatile by design, so
      * a status update issued after close — or by a successor session
      * before the publisher's redelivery arrives — must still not
      * confirm past an undecided prepare, or the prepared transaction
      * is lost. Safe to call more than once; the session remains
      * usable (a new spool directory is created on demand). */
    def close(): Option[Long] = {
      val floor = prepLock.synchronized {
        val f = prepareFloor // includes any parked replay floor
        preparedSpools.valuesIterator.foreach(_.spool.delete())
        preparedSpools.clear()
        preparedForeign.clear()
        replayFloor = None
        inheritedFloor = f
        f
      }
      streamSpools.valuesIterator.foreach(_.delete())
      streamSpools.clear()
      streamForeign.clear()
      if (sessionSpoolDir != null) {
        SpoolDirs.release(sessionSpoolDir)
        sessionSpoolDir = null
      }
      floor
    }

    // ------------------- protocol v2: streamed in-progress transactions
    /** Top-level xid of the OPEN stream block (None = outside blocks). */
    private var inStreamOf: Option[Int] = None
    /** Per top-xid spool of v1-equivalent frames awaiting
      * StreamCommit/StreamAbort. */
    private val streamSpools =
      scala.collection.mutable.Map.empty[Int, StreamSpool]
    /** Top-level xids whose stream carried a foreign-origin stamp
      * (pgoutput sends the Origin message inside the FIRST stream
      * segment) — consulted when the spool replays at StreamCommit. */
    private val streamForeign = scala.collection.mutable.Set.empty[Int]

    /** Spooled streamed transactions currently held (tests/metrics). */
    def openStreamCount: Int = streamSpools.size

    // --------------------- protocol v3: two-phase (prepared) transactions
    /** Open BeginPrepare..Prepare bracket: (gid, prepare LSN). */
    private var preparing: Option[(String, Long)] = None
    /** An undecided PREPAREd transaction: its prepare LSN, spooled
      * frames, and the wall-clock instant it was prepared (undecided
      * prepares hold WAL retention via [[flushCap]], so their AGE is an
      * operational signal — see [[oldestPrepareAgeMs]]). */
    private final case class PreparedTx(prepareLsn: Long,
        spool: StreamSpool, sinceMs: Long)
    /** PREPAREd-but-undecided transactions by gid.
      * VOLATILE by design — instead of making the spool durable (the
      * subscriber-side PREPARE a real Postgres subscriber performs),
      * the session exposes [[flushCap]]: the reported flush LSN never
      * passes an undecided prepare, so a crashed consumer resumes
      * BELOW it and the publisher re-sends the whole prepared
      * transaction (redelivered BeginPrepare resets the gid's spool —
      * idempotent). */
    private val preparedSpools =
      scala.collection.mutable.Map.empty[String, PreparedTx]
    /** Guards the prepared-transaction bookkeeping (preparedSpools,
      * preparing, inheritedFloor): the DECODE thread mutates it while
      * the status-update/heartbeat threads read it through
      * [[flushCap]]/[[preparedCount]]/[[oldestPrepareAgeMs]] — an
      * unsynchronized read racing a redelivery's remove+reinsert could
      * miss the entry and confirm the flush PAST an undecided prepare
      * (losing the transaction after a crash). Held only for the map
      * operations, never across a spool replay, so a multi-GB
      * CommitPrepared cannot stall keepalives. */
    private val prepLock = new Object
    /** Gids of prepared transactions stamped with a foreign origin —
      * consulted when the spool replays at CommitPrepared. */
    private val preparedForeign =
      scala.collection.mutable.Set.empty[String]

    /** Prepared transactions currently held (tests/metrics). */
    def preparedCount: Int = prepLock.synchronized { preparedSpools.size }

    /** Age of the OLDEST undecided prepare, or None when there is
      * none. While a prepare is undecided the flush cap holds WAL
      * retention on the publisher — export this so a transaction
      * manager stuck for hours is visible, not a silent stall. */
    def oldestPrepareAgeMs(
        nowMs: Long = System.currentTimeMillis()): Option[Long] =
      prepLock.synchronized {
        preparedSpools.valuesIterator.map(_.sinceMs).minOption
          .map(s => math.max(0L, nowMs - s))
      }

    /** Prepare-LSN floor inherited from a predecessor session (after a
      * reconnect) or retained by [[close]]. Cleared when the
      * publisher's LSN-ordered redelivery re-establishes a LIVE cap at
      * or below it — delivery order guarantees the redelivered
      * BeginPrepare/StreamPrepare arrives before any frame beyond the
      * floor, so the window where only the inherited floor protects
      * the prepared transaction is exactly bridged. */
    @volatile private var inheritedFloor: Option[Long] = None
    /** Carry a predecessor session's undecided-prepare floor (see
      * [[close]]) into this session. */
    def inheritPrepareFloor(floor: Option[Long]): Unit =
      prepLock.synchronized { inheritedFloor = floor }

    /** Floor of a CommitPrepared whose spool is REPLAYING (or has
      * replayed but whose lines are not yet durably appended by the
      * caller). CommitPrepared removes the gid's [[preparedSpools]]
      * entry before replaying (the replay must not run under
      * [[prepLock]] — keepalives), but the entry's cap must survive
      * until the replayed lines are appended: a heartbeat confirming
      * flush past the prepare during the replay window, followed by a
      * crash before the append, would make the server (which starts at
      * max(requested, confirmed_flush)) skip the redelivery — the
      * prepared transaction would be silently lost even though the
      * durable floor FILE still capped the request. Cleared by the
      * caller via [[clearReplayFloor]] once the lines are durable, and
      * defensively at the next [[onFrame]] (by which point a same-
      * thread caller has consumed the previous frame's lines). */
    private var replayFloor: Option[Long] = None
    /** The caller appended the replayed CommitPrepared lines durably —
      * the flush may now pass the decided prepare. */
    def clearReplayFloor(): Unit =
      prepLock.synchronized { replayFloor = None }

    /** Callers hold [[prepLock]] (the monitor is reentrant). */
    private def prepareFloor: Option[Long] =
      (preparedSpools.valuesIterator.map(_.prepareLsn) ++
        preparing.iterator.map(_._2) ++ inheritedFloor.iterator ++
        replayFloor.iterator).minOption

    /** The earliest undecided-prepare LSN (None = no cap) — the client
      * persists this as a durable resume floor: a restarted process
      * must not REQUEST a start position past it, or a server that
      * starts at max(requested, confirmed_flush) skips the prepared
      * transaction entirely (the flush cap alone only protects the
      * server-side confirmed position). */
    def prepareFloorLsn: Option[Long] =
      prepLock.synchronized { prepareFloor }

    /** Cap a flush position so it never passes an undecided PREPARE —
      * the status-update caller routes its flush LSN through this. */
    def flushCap(flush: Long): Long = prepLock.synchronized {
      prepareFloor.fold(flush)(f => math.min(flush, f - 1))
    }

    /** Decode one frame; returns the envelope lines it produces (0..n).
      * Streamed-transaction blocks (protocol v2) spool to DISK until
      * their StreamCommit — an in-progress 100 GB transaction costs
      * this session O(1) memory — and replay through the regular
      * decode path at commit, so ordering, schema re-versioning, TOAST
      * masks and byte accounting are identical to the v1 path. A
      * StreamAbort TRUNCATES the spool: whole-tx aborts drop the file;
      * subtransaction aborts cut from the subxid's first change to the
      * tail (changes after a rollback-to-savepoint arrive after the
      * abort message, so the tail cut is exact — the same offset-stack
      * algorithm PostgreSQL's own apply worker uses). */
    def onFrame(frame: Array[Byte]): Seq[String] = {
      // the previous frame's lines have been consumed by the caller
      // (the client appends them before reading the next message), so
      // a replay floor a prior CommitPrepared parked is now safe to
      // drop even if the caller never calls clearReplayFloor
      if (replayFloor.isDefined) clearReplayFloor()
      // inside a stream block, data frames carry a leading subxid and
      // spool; only StreamStop (and protocol errors) end the block
      if (inStreamOf.isDefined && StreamableTypes(frame(0).toChar)) {
        val (subXid, v1) = stripStreamedXid(frame)
        streamSpools(inStreamOf.get).append(subXid, v1)
        return Seq.empty
      }
      // an Origin frame arrives INSIDE the first stream segment when
      // the streamed transaction carries one (pgoutput writes it right
      // after Stream Start; it is a protocol message, no leading
      // subxid) — record the top-level xid's foreign stamp for the
      // replay at StreamCommit/StreamPrepare
      if (inStreamOf.isDefined && frame(0).toChar == 'O') {
        if (dropForeignOrigins) streamForeign += inStreamOf.get
        return Seq.empty
      }
      // inside a block, ONLY streamable data frames, Origin, and
      // StreamStop are legal — decoding anything else as a top-level
      // message would corrupt session state (the protocol ends every
      // block with Stream Stop before any other control message)
      require(inStreamOf.isEmpty || frame(0).toChar == 'E',
        s"message type '${frame(0).toChar}' is illegal inside a " +
          s"stream block of xid ${inStreamOf.get}")
      // inside a BeginPrepare..Prepare bracket, data frames are plain
      // v1 frames that spool until CommitPrepared/RollbackPrepared
      if (preparing.isDefined && StreamableTypes(frame(0).toChar)) {
        val (gid, lsn) = preparing.get
        // map lookup under the lock; the append itself is decode-thread
        // private (status threads never read spool contents)
        val sp = prepLock.synchronized { preparedSpools(gid).spool }
        sp.append(0, frame)
        val _ = lsn
        return Seq.empty
      }
      onMessage(decode(frame))
    }

    private def onMessage(msg: Message): Seq[String] = msg match {
      case StreamStart(xid, _) =>
        require(inStreamOf.isEmpty, "nested StreamStart")
        require(txLsn.isEmpty, "StreamStart inside a Begin/Commit bracket")
        inStreamOf = Some(xid)
        streamSpools.getOrElseUpdate(xid, new StreamSpool(spoolHome))
        Seq.empty
      case StreamStop =>
        require(inStreamOf.nonEmpty, "StreamStop outside a stream block")
        inStreamOf = None
        Seq.empty
      case StreamAbort(xid, subXid, _, _) =>
        require(inStreamOf.isEmpty, "StreamAbort inside a stream block")
        if (subXid == xid) {
          streamSpools.remove(xid).foreach(_.delete())
          streamForeign -= xid
        } else streamSpools.get(xid).foreach(_.truncateFromSub(subXid))
        Seq.empty
      case StreamCommit(xid, _, commitLsn, _, _) =>
        require(inStreamOf.isEmpty, "StreamCommit inside a stream block")
        val spool = streamSpools.remove(xid).getOrElse(
          throw new IllegalStateException(
            s"StreamCommit for unknown streamed xid $xid"))
        try {
          // replay the spooled frames through the regular decode path
          // under the now-known commit LSN — one whole-commit line set,
          // exactly what a v1 Commit would have produced. The foreign-
          // origin stamp recorded at the stream's Origin frame applies
          // HERE (the loop breaker must filter streamed transactions
          // too, or a bidirectional setup re-emits foreign data).
          txLsn = Some(commitLsn); ordinal = 0L
          txForeign = streamForeign.remove(xid)
          val out = Seq.newBuilder[String]
          spool.frames.foreach(f => out ++= onMessage(decode(f)))
          lastCommitLsn = math.max(lastCommitLsn, commitLsn)
          if (txPayload != graft.pipeline.SourcePayload.StreamingMeta.empty) {
            pendingAck.synchronized {
              pendingAck.updateWith(lastCommitLsn) {
                case Some(m) => Some(m merge txPayload)
                case None => Some(txPayload)
              }
            }
            txPayload = graft.pipeline.SourcePayload.StreamingMeta.empty
          }
          txLsn = None
          txForeign = false
          out.result()
        } finally spool.delete()
      case BeginPrepare(prepareLsn, _, _, _, gid) =>
        require(txLsn.isEmpty && inStreamOf.isEmpty && preparing.isEmpty,
          "BeginPrepare inside another bracket")
        // a REDELIVERED prepare (post-restart, flushCap held the flush
        // below it) resets the gid's spool — idempotent. The spool
        // creation stays OUTSIDE the lock (filesystem work); the map
        // swap inside it, so a concurrent flushCap sees either the old
        // entry or the new one, never a gap.
        val fresh = new StreamSpool(spoolHome)
        prepLock.synchronized {
          preparedSpools.remove(gid).foreach(_.spool.delete())
          preparedForeign -= gid
          preparedSpools(gid) =
            PreparedTx(prepareLsn, fresh, System.currentTimeMillis())
          preparing = Some(gid -> prepareLsn)
          // a live cap at or below the inherited floor retires it
          if (inheritedFloor.exists(prepareLsn <= _)) inheritedFloor = None
        }
        Seq.empty
      case Prepare(_, _, _, _, _, gid) =>
        require(preparing.exists(_._1 == gid),
          s"Prepare for gid '$gid' without its BeginPrepare")
        prepLock.synchronized { preparing = None }
        Seq.empty
      case StreamPrepare(_, prepareLsn, _, _, xid, gid) =>
        require(inStreamOf.isEmpty, "StreamPrepare inside a stream block")
        val spool = streamSpools.remove(xid).getOrElse(
          throw new IllegalStateException(
            s"StreamPrepare for unknown streamed xid $xid"))
        prepLock.synchronized {
          preparedSpools.remove(gid).foreach(_.spool.delete())
          preparedForeign -= gid
          // the streamed xid's foreign stamp transfers to the gid
          if (streamForeign.remove(xid)) preparedForeign += gid
          preparedSpools(gid) =
            PreparedTx(prepareLsn, spool, System.currentTimeMillis())
          if (inheritedFloor.exists(prepareLsn <= _)) inheritedFloor = None
        }
        Seq.empty
      case RollbackPrepared(_, _, _, _, _, _, gid) =>
        prepLock.synchronized {
          preparedSpools.remove(gid).foreach(_.spool.delete())
          preparedForeign -= gid
        }
        Seq.empty
      case CommitPrepared(_, commitLsn, _, _, _, gid) =>
        // map removal under the lock; the replay below runs WITHOUT it
        // (a multi-GB prepared transaction must not stall keepalives).
        // The entry's flush cap transfers to [[replayFloor]] in the
        // same critical section — a heartbeat racing the replay must
        // still see the floor, or a crash before the replayed lines
        // are appended loses the transaction (the durable floor file
        // only caps the restart REQUEST; the server starts at
        // max(requested, confirmed_flush), so a confirm past the
        // prepare is unrecoverable).
        val (spool, wasForeign) = prepLock.synchronized {
          preparedSpools.remove(gid)
            .map { p =>
              replayFloor = Some(p.prepareLsn)
              (p.spool, preparedForeign.remove(gid))
            }
        }.getOrElse(
          throw new IllegalStateException(
            s"CommitPrepared for unknown gid '$gid' — the prepared " +
              "spool was lost; resume below the prepare LSN (flushCap " +
              "guarantees a restarted session never confirms past it)"))
        try {
          // apply the foreign stamp recorded during the prepare bracket
          // (resetting it here silently disabled the loop breaker for
          // every prepared transaction)
          txLsn = Some(commitLsn); ordinal = 0L
          txForeign = wasForeign
          val out = Seq.newBuilder[String]
          spool.frames.foreach(f => out ++= onMessage(decode(f)))
          lastCommitLsn = math.max(lastCommitLsn, commitLsn)
          if (txPayload != graft.pipeline.SourcePayload.StreamingMeta.empty) {
            pendingAck.synchronized {
              pendingAck.updateWith(lastCommitLsn) {
                case Some(m) => Some(m merge txPayload)
                case None => Some(txPayload)
              }
            }
            txPayload = graft.pipeline.SourcePayload.StreamingMeta.empty
          }
          txLsn = None
          txForeign = false
          out.result()
        } finally spool.delete()
      case m => onDecoded(m)
    }

    private def onDecoded(msg: Message): Seq[String] = msg match {
      case Begin(finalLsn, _, _) =>
        require(txLsn.isEmpty, "nested Begin")
        txLsn = Some(finalLsn); ordinal = 0L; txForeign = false
        Seq.empty
      case Commit(_, commitLsn, _, _) =>
        require(txLsn.nonEmpty, "Commit outside transaction")
        lastCommitLsn = math.max(lastCommitLsn, math.max(commitLsn, txLsn.get))
        // park the closed tx's payload meta for the flushed-LSN ack
        if (txPayload != graft.pipeline.SourcePayload.StreamingMeta.empty) {
          pendingAck.synchronized {
            pendingAck.updateWith(lastCommitLsn) {
              case Some(m) => Some(m merge txPayload)
              case None => Some(txPayload)
            }
          }
          txPayload = graft.pipeline.SourcePayload.StreamingMeta.empty
        }
        txLsn = None
        Seq.empty
      case r: Relation =>
        relations(r.relId) = r
        // Relation records version schemas at the position they arrive.
        // Outside a tx they stamp the LAST CLOSED commit LSN (monotone):
        // before any transaction that is 0 (the base schema version);
        // mid-stream it keeps the record's sequence key at-or-after every
        // delivered offset, so a resume never skips the schema record,
        // and the unconditional ordinal bump keeps keys of consecutive
        // out-of-tx Relations distinct.
        val lsn = txLsn.getOrElse(lastCommitLsn)
        relLsn(r.relId) = lsn
        val schema = toTableSchema(r, lsn)
        val cols = schema.columns.map { c =>
          s"""{"name":"${c.name}","type":"${c.pgType}","nullable":${c.nullable},""" +
            s""""pk":${c.pkOrdinal},"mod":${c.modifier},"ident":${c.identity}}"""
        }.mkString("[", ",", "]")
        val payload = s"""{"table":"${r.relName}","cols":$cols}"""
        val o = ordinal; ordinal += 1
        Seq(CdcLogSource.renderLine("R", r.relId.toLong, lsn, lsn, o, lsn,
          None, Some(payload)))
      case LogicalMsg(_, msgLsn, prefix, content) =>
        // the reference's DDL channel (apply.rs:2160-2276): the engine
        // prefix AND the reference's own event-trigger prefix are
        // processed; unknown prefixes are discarded. Accepting
        // `supabase_etl_ddl` verbatim makes this a DROP-IN for sources
        // that already run the reference's migration (its
        // pg_catalog-shaped payload carries attnums + defaults — the
        // attnum-accurate SchemaDiff source; see
        // migrations/source/20260415100000_schema_change_messages.up.sql)
        if (prefix != PgOutput.DdlMessagePrefix &&
            prefix != PgOutput.ReferenceDdlPrefix) Seq.empty
        else {
          val payload = new String(content.toArray, StandardCharsets.UTF_8)
          // graft payloads key the table as `tableId`; the reference's
          // event trigger emits the pg_class `oid`
          val tableId = """"(?:tableId|oid)"\s*:\s*(\d+)""".r
            .findFirstMatchIn(payload).map(_.group(1).toLong)
            .getOrElse(throw new IllegalArgumentException(
              s"$prefix message payload missing tableId/oid"))
          // schema version keyed by the message's own LSN (the
          // reference keys versions by the DDL's start_lsn); sequence
          // position follows the stream bracket like Relation records
          val seqLsn = txLsn.getOrElse(lastCommitLsn)
          val verLsn = if (msgLsn != 0L) msgLsn else seqLsn
          relLsn(tableId.toInt) = verLsn
          val o = ordinal; ordinal += 1
          Seq(CdcLogSource.renderLine("R", tableId, seqLsn, seqLsn, o,
            verLsn, None, Some(payload)))
        }
      case _: Origin =>
        // Origin arrives inside the Begin bracket (or the BeginPrepare
        // bracket, for a two-phase transaction), before any data; a
        // prepared transaction's stamp must survive until the
        // CommitPrepared replay, so it records against the gid
        if (dropForeignOrigins) preparing match {
          case Some((gid, _)) => preparedForeign += gid
          case None => txForeign = true
        }
        Seq.empty
      case _: TypeMsg => Seq.empty
      case _ if txForeign =>
        // foreign-origin tx: drop data (incl. truncates) — the commit
        // still closes normally above, advancing lastCommitLsn
        Seq.empty
      case data =>
        val lsn = txLsn.getOrElse(throw new IllegalStateException(
          "data message outside Begin/Commit bracket"))
        // tuple-value byte accounting at the decode boundary: received
        // + per-row size fire NOW; processed waits for the flushed ack
        graft.pipeline.SourcePayload.of(data).foreach { m =>
          m.recordReceived(); m.recordRowSize()
          txPayload = txPayload merge m
        }
        val schemaLsn = data match {
          case Insert(id, _) => relLsn.getOrElse(id, 0L)
          case Update(id, _, _, _) => relLsn.getOrElse(id, 0L)
          case Delete(id, _, _) => relLsn.getOrElse(id, 0L)
          case Truncate(_, ids) =>
            ids.headOption.flatMap(relLsn.get).getOrElse(0L)
          case _ => 0L
        }
        val o = ordinal; ordinal += 1
        toEnvelopeLine(data, relations, lsn, o, schemaLsn)
          .toSeq.flatMap(_.split("\n"))
    }
  }

  /** One decoded data message → a change-log envelope line (the
    * CdcLogSource format), threading commit metadata from the enclosing
    * Begin. Row images are packed payloads ([[tuplePacked]]). Returns
    * None for control messages the envelope does not carry
    * (Begin/Commit/Origin/Type — their content lives in the sequence key).
    */
  def toEnvelopeLine(msg: Message, rel: Int => Relation, commitLsn: Long,
      txOrdinal: Long, schemaLsn: Long): Option[String] = {
    msg match {
    case Insert(id, t) =>
      val (after, missing) = tuplePacked(rel(id), t)
      Some(CdcLogSource.renderLine("I", id.toLong, commitLsn, commitLsn,
        txOrdinal, schemaLsn, None, Some(after), missing))
    case Update(id, _, old, t) =>
      val r = rel(id)
      val (after, missing) = tuplePacked(r, t)
      val before = old.map(o => tuplePacked(r, o)._1)
      Some(CdcLogSource.renderLine("U", id.toLong, commitLsn, commitLsn,
        txOrdinal, schemaLsn, before, Some(after), missing))
    case Delete(id, _, t) =>
      val (before, _) = tuplePacked(rel(id), t)
      Some(CdcLogSource.renderLine("D", id.toLong, commitLsn, commitLsn,
        txOrdinal, schemaLsn, Some(before), None))
    case Truncate(_, ids) =>
      // one envelope line per truncated relation, at the same position
      Some(ids.map(id => CdcLogSource.renderLine("T", id.toLong, commitLsn,
        commitLsn, txOrdinal, schemaLsn, None, None)).mkString("\n"))
    case _ => None
    }
  }
}
