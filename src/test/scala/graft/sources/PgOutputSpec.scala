package graft.sources

import graft.PropSpec
import graft.core.PackedRow
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import PgOutput._

/** pgoutput binary codec: round-trip identity for every message type
  * (spec: public PostgreSQL "Logical Replication Message Formats"
  * protocol documentation; the reference consumes the same wire format,
  * replication_message.rs:89-245). */
class PgOutputSpec extends AnyFunSuite with PropSpec {

  private val genTupleValue: Gen[TupleValue] = Gen.oneOf(
    Gen.const(TNull),
    Gen.const(TUnchangedToast),
    Gen.asciiPrintableStr.map(TText(_)),
    Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(bs => TBinary(bs.toVector)))
  private val genTuple: Gen[TupleData] =
    Gen.listOf(genTupleValue).map(_.toIndexedSeq)
  private val genName: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)

  private val genMessage: Gen[Message] = Gen.oneOf(
    for { l <- Gen.long; t <- Gen.long; x <- Gen.posNum[Int] }
      yield Begin(l, t, x),
    for { c <- Gen.long; e <- Gen.long; t <- Gen.long }
      yield Commit(0, c, e, t),
    for { l <- Gen.long; n <- genName } yield Origin(l, n),
    for {
      id <- Gen.posNum[Int]; ns <- genName; n <- genName
      ident <- Gen.oneOf('d', 'n', 'f', 'i')
      cols <- Gen.listOf(for {
        f <- Gen.oneOf(0, 1); cn <- genName
        oid <- Gen.posNum[Int]; mod <- Gen.choose(-1, 1 << 20)
      } yield RelCol(f, cn, oid, mod))
    } yield Relation(id, ns, n, ident, cols.toIndexedSeq),
    for { oid <- Gen.posNum[Int]; ns <- genName; n <- genName }
      yield TypeMsg(oid, ns, n),
    for { id <- Gen.posNum[Int]; t <- genTuple } yield Insert(id, t),
    for {
      id <- Gen.posNum[Int]; t <- genTuple
      old <- Gen.option(Gen.zip(Gen.oneOf('K', 'O'), genTuple))
    } yield Update(id, old.map(_._1), old.map(_._2), t),
    for { id <- Gen.posNum[Int]; k <- Gen.oneOf('K', 'O'); t <- genTuple }
      yield Delete(id, k, t),
    for {
      opts <- Gen.choose(0, 3)
      ids <- Gen.listOf(Gen.posNum[Int])
    } yield Truncate(opts, ids.toIndexedSeq),
    for {
      tx <- Gen.oneOf(true, false); l <- Gen.long; pre <- genName
      content <- Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield LogicalMsg(tx, l, pre, content.toVector))

  test("every message type round-trips decode(encode(m)) == m (property)") {
    checkProp(Prop.forAll(genMessage) { m =>
      PgOutput.decode(PgOutput.encode(m)) == m
    })
  }

  test("utf-8 and escapes survive text tuples and names") {
    val m = Insert(7, Vector(TText("héllo\t\"wörld\"\nλ"), TNull,
      TUnchangedToast, TBinary(Vector(0, 1, -1))))
    assert(decode(encode(m)) == m)
    val r = Relation(9, "public", "tåble", 'd',
      Vector(RelCol(1, "höme", 25, -1)))
    assert(decode(encode(r)) == r)
  }

  test("unknown message / tuple kinds rejected, never misparsed") {
    intercept[IllegalArgumentException](decode(Array('Z'.toByte)))
    val bad = encode(Insert(1, Vector(TNull)))
    bad(bad.length - 1) = 'q'.toByte // corrupt the tuple kind
    intercept[IllegalArgumentException](decode(bad))
  }

  test("hostile length prefixes fail cleanly, never allocate (fuzz analog)") {
    // a 't' value claiming Int.MaxValue bytes must be rejected by bounds
    // check, not by an OOM after a 2 GB allocation attempt
    val b = java.nio.ByteBuffer.allocate(16)
    b.put('I'.toByte).putInt(1).put('N'.toByte)
      .putShort(1.toShort).put('t'.toByte).putInt(Int.MaxValue)
    intercept[IllegalArgumentException](decode(b.array()))
    // random byte soup: decode either parses or throws a parse error —
    // never a crash class (OOM / negative-size allocation)
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val arr = new Array[Byte](rnd.nextInt(64) + 1)
      rnd.nextBytes(arr)
      arr(0) = "BCORYIUDT".charAt(rnd.nextInt(9)).toByte
      try { decode(arr); () } catch {
        case _: IllegalArgumentException | _: IllegalStateException => ()
        case _: java.nio.BufferUnderflowException => ()
      }
    }
  }

  test("Relation bridges to the engine schema with identity mask + typmod") {
    import graft.core.PgTypeMap
    val mod = PgTypeMap.packNumericModifier(12, 3)
    val r = Relation(42, "public", "acct", 'i', Vector(
      RelCol(1, "id", 20, -1),        // int8, key
      RelCol(0, "bal", 1700, mod),    // numeric(12,3)
      RelCol(0, "tags", 1009, -1),    // _text
      RelCol(0, "weird", 99999, -1))) // unknown oid → text fallback
    val s = toTableSchema(r, schemaLsn = 5L)
    assert(s.tableId == 42L && s.tableName == "acct" && s.snapshotLsn == 5L)
    assert(s.identityColumns == Seq("id"))
    assert(s.columns.map(_.pgType) ==
      Seq("int8", "numeric", "_text", "oid_99999"))
    import org.apache.spark.sql.types._
    assert(s.sparkSchema == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("bal", DecimalType(12, 3)),
      StructField("tags", ArrayType(StringType, containsNull = true)),
      StructField("weird", StringType))))
  }

  test("decoded messages render envelope lines the CDC source parses") {
    val r = Relation(1, "public", "users", 'd', Vector(
      RelCol(1, "id", 20, -1), RelCol(0, "name", 25, -1),
      RelCol(0, "doc", 25, -1)))
    val rel = (_: Int) => r
    val ins = toEnvelopeLine(Insert(1, Vector(TText("7"), TText("ann"),
      TText("big"))), rel, 10L, 0L, 0L).get
    val upd = toEnvelopeLine(Update(1, Some('K'),
      Some(Vector(TText("7"), TNull, TNull)),
      Vector(TText("7"), TText("ann2"), TUnchangedToast)), rel, 11L, 0L, 0L).get
    val del = toEnvelopeLine(Delete(1, 'K',
      Vector(TText("7"), TNull, TNull)), rel, 12L, 0L, 0L).get
    assert(toEnvelopeLine(Begin(1, 2, 3), rel, 0, 0, 0).isEmpty)

    // the file source parses the rendered lines back: field positions,
    // missing-mask, and packed payload cells (schema order) all line up
    val fields = ins.split("\t", -1)
    assert(fields(2) == "I" && fields(0) == "10")
    assert(PackedRow.parse(fields(7)) ==
      Vector(Some("7"), Some("ann"), Some("big")))
    val uf = upd.split("\t", -1)
    assert(uf(2) == "U" && uf(8) == "doc") // TOAST-unchanged → _missing
    assert(PackedRow.parse(uf(7)) == Vector(Some("7"), Some("ann2"), None))
    assert(PackedRow.parse(uf(6)) == Vector(Some("7"), None, None))
    val df = del.split("\t", -1)
    assert(df(2) == "D" &&
      PackedRow.parse(df(6)) == Vector(Some("7"), None, None))
    // truncate expands to one line per relation
    val tr = toEnvelopeLine(Truncate(0, Vector(1, 1)), rel, 13L, 0L, 0L).get
    assert(tr.split("\n").length == 2)
  }

  test("a direct toEnvelopeLine call renders packed images, never JSON") {
    val r = Relation(1, "public", "t", 'd', Vector(
      RelCol(1, "id", 20, -1), RelCol(0, "doc", 114, -1)))
    val line = toEnvelopeLine(Update(1, Some('O'),
      Some(Vector(TText("1"), TText("{\"a\":1}"))),
      Vector(TText("2"), TNull)), _ => r, 5L, 0L, 0L).get
    val f = line.split("\t", -1)
    assert(f(6).head == PackedRow.Marker && f(7).head == PackedRow.Marker,
      line)
    // a json column's text is one opaque cell
    assert(PackedRow.parse(f(6)) == Vector(Some("1"), Some("{\"a\":1}")))
    assert(PackedRow.parse(f(7)) == Vector(Some("2"), None))
  }

  test("binary-format tuple values decode typed for fixed-width OIDs") {
    def be(n: Int, f: java.nio.ByteBuffer => Unit): TBinary = {
      val b = java.nio.ByteBuffer.allocate(n); f(b)
      TBinary(b.array().toVector)
    }
    val r = Relation(1, "public", "t", 'd', Vector(
      RelCol(1, "id", 20, -1), RelCol(0, "n", 23, -1),
      RelCol(0, "x", 701, -1), RelCol(0, "ok", 16, -1),
      RelCol(0, "raw", 17, -1)))
    val line = toEnvelopeLine(Insert(1, Vector(
      be(8, _.putLong(42L)), be(4, _.putInt(-7)),
      be(8, _.putDouble(2.5)), TBinary(Vector(1)),
      TBinary(Vector(0xde.toByte, 0xad.toByte)))), _ => r, 1L, 0L, 0L).get
    val after = line.split("\t", -1)(7)
    assert(PackedRow.parse(after) == Vector(Some("42"), Some("-7"),
      Some("2.5"), Some("t"), Some("\\xdead")))
  }

  test("binary-format text/temporal/uuid/numeric values render as their " +
      "PG text forms (graft.core.PgBinary) in packed cells") {
    val r = Relation(1, "public", "t", 'd', Vector(
      RelCol(1, "id", 23, -1), RelCol(0, "s", 25, -1),
      RelCol(0, "d", 1082, -1), RelCol(0, "ts", 1184, -1),
      RelCol(0, "u", 2950, -1), RelCol(0, "p", 1700, -1)))
    def bin(bytes: Array[Byte]) = TBinary(bytes.toVector)
    def be32v(v: Int) =
      bin(java.nio.ByteBuffer.allocate(4).putInt(v).array())
    def be64v(v: Long) =
      bin(java.nio.ByteBuffer.allocate(8).putLong(v).array())
    val uuid = bin(("a0eebc999c0b4ef8bb6d6bb9bd380a11").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray)
    val num = bin(java.nio.ByteBuffer.allocate(12).putShort(2).putShort(0)
      .putShort(0).putShort(4).putShort(1234).putShort(5678).array())
    val line = toEnvelopeLine(Insert(1, Vector(
      be32v(7),
      bin("héllo".getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      be32v(8324), be64v(0L), uuid, num)), _ => r, 1L, 0L, 0L).get
    val after = line.split("\t", -1)(7)
    assert(PackedRow.parse(after) == Vector(Some("7"), Some("héllo"),
      Some("2022-10-16"), Some("2000-01-01 00:00:00+00"),
      Some("a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"), Some("1234.5678")))
  }

  test("DecodeSession: binary frame stream → ordered envelope → live pipeline") {
    val spark = graft.SparkSpec.session
    import spark.implicits._
    val rel = Relation(1, "public", "users", 'd', Vector(
      RelCol(1, "id", 20, -1), RelCol(0, "name", 25, -1)))
    val relV2 = Relation(1, "public", "users", 'd', Vector(
      RelCol(1, "id", 20, -1), RelCol(0, "name", 25, -1),
      RelCol(0, "age", 23, -1)))
    // two committed transactions with a schema change between them —
    // exactly what a replication socket would deliver
    val frames: Seq[Message] = Seq(
      rel, // initial announcement (outside tx → base schema @ lsn 0)
      Begin(10L, 0L, 100), Insert(1, Vector(TText("1"), TText("ann"))),
      Insert(1, Vector(TText("2"), TText("bob"))), Commit(0, 10L, 11L, 0L),
      Begin(20L, 0L, 101), relV2, // DDL inside tx 20
      Insert(1, Vector(TText("3"), TText("cat"), TText("9"))),
      Update(1, Some('K'), Some(Vector(TText("1"), TNull, TNull)),
        Vector(TText("1"), TText("ann2"), TText("30"))),
      Commit(0, 20L, 21L, 0L))
    val session = new DecodeSession
    val lines = frames.flatMap(m => session.onFrame(encode(m)))
    assert(lines.count(_.split("\t")(2) == "R") == 2)

    val dir = java.nio.file.Files.createTempDirectory("pgout-e2e").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/wal.log"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val registry = new graft.core.SchemaRegistry
    // registry starts EMPTY: both schema versions arrive from the wire
    val sink = new graft.sinks.CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = new graft.pipeline.CdcPipeline(spark,
      graft.pipeline.PipelineConfig(maxRowsPerTrigger = 3, maxFillMs = 50,
        checkpointDir = s"$dir/ckpt", stateDir = s"$dir/state"),
      registry, sink, graft.pipeline.CdcPipeline.jsonDecode)
    pipeline.stateStore.force(1L, graft.pipeline.TableState.Ready)
    val q = pipeline.startStream(s"$dir/wal.log")
    q.processAllAvailable(); q.stop()
    val out = sink.read(spark, "users").select("id", "name", "age")
      .as[(Long, String, Option[Int])].collect().toSet
    assert(out == Set((1L, "ann2", Some(30)), (2L, "bob", None),
      (3L, "cat", Some(9))))
  }

  test("DecodeSession: out-of-tx Relations mid-stream keep monotone, distinct keys") {
    val rel = Relation(1, "public", "t", 'd', Vector(RelCol(1, "id", 20, -1)))
    val relB = Relation(2, "public", "u", 'd', Vector(RelCol(1, "id", 20, -1)))
    val session = new DecodeSession
    val lines = Seq[Message](
      rel,                                         // base announcement → lsn 0
      Begin(10L, 0L, 1), Insert(1, Vector(TText("1"))), Commit(0, 10L, 11L, 0L),
      rel, relB,                                   // TWO out-of-tx Relations
      Begin(20L, 0L, 2), Insert(1, Vector(TText("2"))), Commit(0, 20L, 21L, 0L)
    ).flatMap(m => session.onFrame(encode(m)))
    val keys = lines.map(_.split("\t", -1))
      .map(f => (f(0).toLong, f(1).toLong, f(2)))
    // before any tx → base version lsn 0; after a commit → that commit's
    // LSN (monotone), never 0, and consecutive records take distinct keys
    assert(keys.head == ((0L, 0L, "R")))
    val mid = keys.filter(_._3 == "R").drop(1)
    assert(mid.map(_._1).forall(_ >= 10L), s"out-of-tx R stamped stale: $mid")
    assert(mid.distinct.size == mid.size, s"duplicate keys: $mid")
    // the whole stream stays totally ordered by (commit_lsn, tx_ordinal)
    // with op-arrival as tiebreak — byte-windowed reads depend on this
    val seq = keys.map(k => (k._1, k._2))
    assert(seq.zip(seq.sorted).forall { case (a, b) => a == b },
      s"stream not in sequence order: $seq")
  }

  test("DecodeSession: graft_ddl logical messages version schemas mid-stream") {
    val spark = graft.SparkSpec.session
    import spark.implicits._
    val rel = Relation(1, "public", "users", 'd', Vector(
      RelCol(1, "id", 20, -1), RelCol(0, "name", 25, -1)))
    def ddl(cols: String, atLsn: Long) = LogicalMsg(true, atLsn,
      PgOutput.DdlMessagePrefix,
      s"""{"tableId":1,"table":"users","cols":$cols}"""
        .getBytes("UTF-8").toVector)
    val v2cols = """[{"name":"id","type":"int8","nullable":false,"pk":1},
      {"name":"name","type":"text","nullable":true,"pk":0},
      {"name":"age","type":"int4","nullable":true,"pk":0}]"""
      .replaceAll("\\s+", "")
    // after real DDL, Postgres emits BOTH the trigger's logical message
    // (rich metadata: nullability, pk ordinals — the reference's channel)
    // AND a fresh Relation frame before the next data row
    val relV2 = Relation(1, "public", "users", 'd', Vector(
      RelCol(1, "id", 20, -1), RelCol(0, "name", 25, -1),
      RelCol(0, "age", 23, -1)))
    val frames: Seq[Message] = Seq(
      rel,
      Begin(10L, 0L, 1), Insert(1, Vector(TText("1"), TText("ann"))),
      Commit(0, 10L, 11L, 0L),
      Begin(20L, 0L, 2),
      ddl(v2cols, 15L), // DDL message IN the tx: version keyed at its LSN
      relV2,
      Insert(1, Vector(TText("2"), TText("bob"), TText("33"))),
      Commit(0, 20L, 21L, 0L),
      // unknown prefixes are discarded, never break the stream
      LogicalMsg(false, 0L, "other_tool", Vector(1, 2, 3)))
    val session = new DecodeSession
    val lines = frames.flatMap(m => session.onFrame(encode(m)))
    assert(lines.count(_.split("\t")(2) == "R") == 3) // base + DDL + rel v2

    val dir = java.nio.file.Files.createTempDirectory("pgout-ddl").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/wal.log"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val registry = new graft.core.SchemaRegistry
    val sink = new graft.sinks.CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = new graft.pipeline.CdcPipeline(spark,
      graft.pipeline.PipelineConfig(maxRowsPerTrigger = 100, maxFillMs = 50,
        checkpointDir = s"$dir/ckpt", stateDir = s"$dir/state"),
      registry, sink, graft.pipeline.CdcPipeline.jsonDecode)
    pipeline.stateStore.force(1L, graft.pipeline.TableState.Ready)
    val q = pipeline.startStream(s"$dir/wal.log")
    q.processAllAvailable(); q.stop()
    val out = sink.read(spark, "users").select("id", "name", "age")
      .as[(Long, String, Option[Int])].collect().toSet
    assert(out == Set((1L, "ann", None), (2L, "bob", Some(33))))
    // the registry holds the DDL-message version (keyed at ITS lsn, with
    // the trigger's rich metadata) alongside the base + relation versions
    assert(registry.lookup(1L, 0L).exists(_.columns.size == 2))
    val v15 = registry.lookup(1L, 15L).get
    assert(v15.columns.size == 3 && v15.snapshotLsn == 15L)
    assert(v15.columns.find(_.name == "id").exists(c =>
      !c.nullable && c.pkOrdinal == 1)) // metadata only the DDL msg carries
  }

  test("wire → envelope → jsonDecode: typed end-to-end against the bridged schema") {
    val spark = graft.SparkSpec.session
    import spark.implicits._
    val r = Relation(1, "public", "users", 'd', Vector(
      RelCol(1, "id", 20, -1), RelCol(0, "name", 25, -1),
      RelCol(0, "bal", 701, -1), RelCol(0, "ok", 16, -1)))
    val schema = toTableSchema(r, 0L)
    val lines = Seq(
      toEnvelopeLine(Insert(1, Vector(TText("7"), TText("ann"),
        TText("1.5"), TText("t"))), _ => r, 10L, 0L, 0L).get,
      toEnvelopeLine(Insert(1, Vector(TText("8"), TNull,
        TText("NaN"), TText("f"))), _ => r, 11L, 0L, 0L).get)
    val env = lines.map(_.split("\t", -1))
      .map(t => (t(2), t(0).toLong, t(1).toLong, t(6), t(7)))
      .toDF("_op", "_commit_lsn", "_tx_ordinal", "before", "after")
      .withColumn("before", org.apache.spark.sql.functions.expr(
        "CASE WHEN before = '\\\\N' THEN NULL ELSE before END"))
    val out = graft.pipeline.CdcPipeline.jsonDecode(env, schema)
      .select("id", "name", "bal", "ok")
      .as[(Long, Option[String], Double, Boolean)].collect().toSet
    assert(out.map(t => (t._1, t._2, t._3.isNaN, t._4)) ==
      Set((7L, Some("ann"), false, true), (8L, None, true, false)))
    assert(out.find(_._1 == 7L).get._3 == 1.5)
  }

  test("origin filter: foreign-origin transactions drop, local ones apply") {
    val rel = Relation(1, "public", "t", 'd', Vector(RelCol(1, "id", 20, -1)))
    def stream(session: DecodeSession): Seq[String] = Seq[Message](
      rel,
      // tx stamped by another replication origin (a loop-back)
      Begin(10L, 0L, 1), Origin(9L, "other_node"),
      Insert(1, Vector(TText("1"))), Truncate(0, Vector(1)),
      Commit(0, 10L, 11L, 0L),
      // locally-originated tx: no Origin message
      Begin(20L, 0L, 2), Insert(1, Vector(TText("2"))),
      Commit(0, 20L, 21L, 0L),
      // foreign again — the flag must reset per transaction
      Begin(30L, 0L, 3), Origin(9L, "other_node"),
      Insert(1, Vector(TText("3"))), Commit(0, 30L, 31L, 0L)
    ).flatMap(m => session.onFrame(encode(m)))

    val dropped = stream(new DecodeSession(dropForeignOrigins = true))
    val dData = dropped.map(_.split("\t", -1)).filter(_(2) != "R")
    assert(dData.map(_(0).toLong) == Seq(20L),
      s"only the local tx should survive: $dropped")
    // commit LSNs still advance past foreign txs: a following out-of-tx
    // Relation is stamped with the FOREIGN tx's commit (monotone resume)
    val after = new DecodeSession(dropForeignOrigins = true)
    val lines2 = stream(after) ++ after.onFrame(encode(rel))
    assert(lines2.last.split("\t")(0).toLong >= 30L, lines2.last)

    // default (reference behavior): Origin ignored, everything applies
    val kept = stream(new DecodeSession())
    val kData = kept.map(_.split("\t", -1)).filter(_(2) != "R")
    assert(kData.map(_(0).toLong) == Seq(10L, 10L, 20L, 30L), s"$kept")
  }
}
