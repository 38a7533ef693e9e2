package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import graft.PropSpec

class SequenceKeySpec extends AnyFunSuite with PropSpec {
  test("ordering: commit_lsn then tx_ordinal (event.rs:321)") {
    assert(SequenceKey(1, 5) < SequenceKey(2, 0))
    assert(SequenceKey(2, 0) < SequenceKey(2, 1))
    assert(SequenceKey(2, 1).compare(SequenceKey(2, 1)) == 0)
  }

  test("packedHex lexicographic order == numeric order") {
    checkProp(Prop.forAll(
      Gen.chooseNum(0L, Long.MaxValue), Gen.chooseNum(0L, Long.MaxValue),
      Gen.chooseNum(0L, Long.MaxValue), Gen.chooseNum(0L, Long.MaxValue)) {
      (c1, o1, c2, o2) =>
        val (a, b) = (SequenceKey(c1, o1), SequenceKey(c2, o2))
        math.signum(a.packedHex.compareTo(b.packedHex)) ==
          math.signum(a.compare(b))
    })
  }

  test("packedHex roundtrip") {
    checkProp(Prop.forAll(Gen.chooseNum(0L, Long.MaxValue),
      Gen.chooseNum(0L, Long.MaxValue)) { (c, o) =>
      SequenceKey.fromPackedHex(SequenceKey(c, o).packedHex) == SequenceKey(c, o)
    })
  }

  test("pg_lsn text roundtrip") {
    assert(SequenceKey.lsnToString(0x16B374D848L) == "16/B374D848")
    assert(SequenceKey.lsnFromString("16/B374D848") == 0x16B374D848L)
    checkProp(Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { lsn =>
      SequenceKey.lsnFromString(SequenceKey.lsnToString(lsn)) == lsn
    })
  }
}

class SequenceKeyColumnSpec extends graft.SparkSpec {
  import spark.implicits._

  test("packedHexCol renders exactly packedHex, negative longs included") {
    val vals = Seq(0L, Long.MaxValue, -1L, Long.MinValue, -0x1234L, 42L)
    val pairs = for (c <- vals; o <- vals) yield (c, o)
    val got = pairs.toDF("c", "o")
      .select($"c", $"o", SequenceKey.packedHexCol($"c", $"o"))
      .as[(Long, Long, String)].collect()
    assert(got.length == pairs.size)
    got.foreach { case (c, o, s) =>
      assert(s == SequenceKey(c, o).packedHex, s"($c, $o)")
    }
  }
}

class SchemaSpec extends AnyFunSuite with PropSpec {
  import org.apache.spark.sql.types._

  private def col(n: String, t: String, pk: Int = 0) =
    ColumnSpec(n, t, nullable = pk == 0, pkOrdinal = pk)
  private def schema(lsn: Long, cols: ColumnSpec*) =
    TableSchemaV(1L, "t", lsn, cols.toIndexedSeq)

  test("pg type → spark type mapping (SURVEY §1.2)") {
    assert(PgTypeMap.toSpark("int8") == LongType)
    assert(PgTypeMap.toSpark("bool") == BooleanType)
    assert(PgTypeMap.toSpark("float4") == FloatType)
    assert(PgTypeMap.toSpark("timestamptz") == TimestampType)
    assert(PgTypeMap.toSpark("timestamp") == TimestampNTZType)
    assert(PgTypeMap.toSpark("uuid") == StringType)
    assert(PgTypeMap.toSpark("bytea") == BinaryType)
    assert(PgTypeMap.toSpark("_int4") == ArrayType(IntegerType, containsNull = true))
    // numeric with modifier → decimal; without / too wide → string fallback
    val mod = PgTypeMap.packNumericModifier(12, 3)
    assert(PgTypeMap.toSpark("numeric", mod) == DecimalType(12, 3))
    assert(PgTypeMap.toSpark("numeric") == StringType)
    assert(PgTypeMap.toSpark("numeric", PgTypeMap.packNumericModifier(50, 2)) == StringType)
    // unknown types preserve as text (text.rs:146-157)
    assert(PgTypeMap.toSpark("money") == StringType)
    assert(PgTypeMap.toSpark("int4range") == StringType)
  }

  test("replicated columns + pk + spark schema") {
    val s = schema(10,
      col("id", "int8", pk = 1),
      col("name", "text"),
      ColumnSpec("secret", "text", replicated = false))
    assert(s.replicatedColumns.map(_.name) == Seq("id", "name"))
    assert(s.primaryKey == Seq("id"))
    assert(s.sparkSchema == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true))))
  }

  test("registry floor lookup by snapshot LSN (store/schema/base.rs:19-35)") {
    val reg = new SchemaRegistry
    reg.put(schema(10, col("id", "int8", pk = 1)))
    reg.put(schema(20, col("id", "int8", pk = 1), col("name", "text")))
    assert(reg.lookup(1, 5).isEmpty)
    assert(reg.lookup(1, 10).get.snapshotLsn == 10)
    assert(reg.lookup(1, 15).get.snapshotLsn == 10)
    assert(reg.lookup(1, 20).get.columns.size == 2)
    assert(reg.lookup(1, 999).get.snapshotLsn == 20)
    assert(reg.latest(1).get.snapshotLsn == 20)
  }

  test("registry prune keeps floor version") {
    val reg = new SchemaRegistry
    reg.put(schema(10, col("id", "int8")))
    reg.put(schema(20, col("id", "int8")))
    reg.put(schema(30, col("id", "int8")))
    reg.prune(1, 25)
    assert(reg.versions(1).map(_.snapshotLsn) == Seq(20, 30))
    assert(reg.lookup(1, 25).get.snapshotLsn == 20)
  }

  test("schema diff is ORDINAL-keyed (schema.rs:587-651): same attnum " +
      "+ new name = RENAME, not the add+drop a name-keyed diff " +
      "mis-reports; a dropped attnum never renumbers its successors") {
    def ocol(n: String, t: String, ord: Int, pk: Int = 0,
        nullable: Boolean = true, default: Option[String] = None) =
      ColumnSpec(n, t, nullable = nullable, pkOrdinal = pk,
        ordinal = ord, default = default)
    // attnum-carrying transport: drop age (attnum 3), add email
    // (attnum 4), retype name — exactly add+drop+change, NO rename
    val a = schema(10, ocol("id", "int8", 1, pk = 1),
      ocol("name", "text", 2), ocol("age", "int4", 3))
    val b = schema(20, ocol("id", "int8", 1, pk = 1),
      ocol("name", "varchar", 2), ocol("email", "text", 4))
    val d = SchemaDiff.between(a, b)
    assert(d.added.map(_.name) == Seq("email"))
    assert(d.dropped.map(_.name) == Seq("age"))
    assert(d.changed.map(_.to.name) == Seq("name"))
    assert(d.changed.forall(c => c.typeChanged && !c.renamed))
    assert(d.renames.isEmpty)
    assert(SchemaDiff.between(a, a).isEmpty)
    // RENAME: same attnum, new name (reference ColumnModification::
    // Rename, schema.rs:764) — plus nullability relax + default set
    val c1 = schema(30, ocol("id", "int8", 1, pk = 1),
      ocol("name", "text", 2, nullable = false))
    val c2 = schema(40, ocol("id", "int8", 1, pk = 1),
      ocol("full_name", "text", 2, default = Some("''::text")))
    val rd = SchemaDiff.between(c1, c2)
    assert(rd.added.isEmpty && rd.dropped.isEmpty)
    assert(rd.renames == Seq(("name", "full_name")))
    assert(rd.changed.head.nullabilityRelaxed)
    assert(rd.changed.head.defaultChanged)
    // POSITIONAL fallback (no attnums, e.g. the wire Relation message):
    // position is the ordinal, so a rename-in-place is still a rename
    val p1 = schema(50, col("id", "int8", pk = 1), col("v", "text"))
    val p2 = schema(60, col("id", "int8", pk = 1), col("w", "text"))
    assert(SchemaDiff.between(p1, p2).renames == Seq(("v", "w")))
    // unreplicated columns keep occupying their ordinal slot but never
    // appear in the diff (the destination never materialized them)
    val u1 = schema(70, col("id", "int8", pk = 1),
      ColumnSpec("secret", "text", replicated = false), col("v", "text"))
    val u2 = schema(80, col("id", "int8", pk = 1),
      ColumnSpec("secret", "text", replicated = false), col("w", "text"))
    assert(SchemaDiff.between(u1, u2).renames == Seq(("v", "w")))
  }

  test("positional→attnum transition: a positionally-seeded version " +
      "mis-keys the first attnum-carrying diff after a historical " +
      "mid-table drop; catalog-stamped ordinals align it " +
      "(transaction.rs:563 bootstrap — the r15 documented window)") {
    // live table: a(1), c(3), d(4) — attnum 2 was dropped BEFORE the
    // pipeline ever saw the table, so position ≠ attnum from day one
    def ocol(n: String, ord: Int) = ColumnSpec(n, "text", ordinal = ord)
    // config-file seed: no attnums → positional keys 1,2,3
    val seeded = schema(10, col("a", "text"), col("c", "text"),
      col("d", "text"))
    // first wire DDL message (supabase_etl_ddl): real attnums, and the
    // actual change is a plain rename c→c2
    val ddl = schema(20, ocol("a", 1), ocol("c2", 3), ocol("d", 4))
    // WITHOUT stamping: seed keys {1,2,3} meet ddl keys {1,3,4} — the
    // diff reads "d renamed to c2, c dropped, d added", all wrong
    val misKeyed = SchemaDiff.between(seeded, ddl)
    assert(misKeyed.renames == Seq(("d", "c2")))
    assert(misKeyed.dropped.map(_.name) == Seq("c"))
    assert(misKeyed.added.map(_.name) == Seq("d"))
    // WITH the catalog stamp (what SchemaDiscovery.stampOrdinals writes
    // into the registry at bootstrap): the same diff is the plain
    // rename it always was
    val stamped = seeded.copy(columns = IndexedSeq(
      ocol("a", 1), ocol("c", 3), ocol("d", 4)))
    val aligned = SchemaDiff.between(stamped, ddl)
    assert(aligned.added.isEmpty && aligned.dropped.isEmpty)
    assert(aligned.renames == Seq(("c", "c2")))
  }

  test("schema diff soundness (property): for random evolutions — " +
      "renames, drops, adds, retypes, nullability/default changes over " +
      "attnum-carrying columns — applying the diff to the old " +
      "replicated view reconstructs the new one exactly") {
    import org.scalacheck.{Gen, Prop}
    val types = Seq("int8", "int4", "text", "float8", "bool")
    val colGen = for {
      t <- Gen.oneOf(types)
      nullable <- Gen.oneOf(true, false)
      repl <- Gen.frequency(4 -> true, 1 -> false)
      dflt <- Gen.option(Gen.oneOf("0", "'x'", "now()"))
    } yield (t, nullable, repl, dflt)
    val evolveGen = for {
      n <- Gen.chooseNum(1, 8)
      cols <- Gen.listOfN(n, colGen)
      // mutate each ordinal independently: keep / rename / retype /
      // flip nullability / change default / drop; then add 0-2 fresh
      fates <- Gen.listOfN(n, Gen.chooseNum(0, 5))
      adds <- Gen.chooseNum(0, 2)
      addCols <- Gen.listOfN(adds, colGen)
    } yield (cols, fates, addCols)
    val prop = Prop.forAll(evolveGen) { case (cols, fates, addCols) =>
      def spec(i: Int, c: (String, Boolean, Boolean, Option[String]),
          name: String) =
        ColumnSpec(name, c._1, nullable = c._2, replicated = c._3,
          ordinal = i + 1, default = c._4)
      val from = cols.zipWithIndex.map { case (c, i) =>
        spec(i, c, s"c$i") }
      val to = cols.zip(fates).zipWithIndex.flatMap {
        case ((c, fate), i) => fate match {
          case 0 => Some(spec(i, c, s"c$i"))                  // keep
          case 1 => Some(spec(i, c, s"c${i}_renamed"))        // rename
          case 2 => Some(spec(i, c, s"c$i")                   // retype
            .copy(pgType = if (c._1 == "text") "int8" else "text"))
          case 3 => Some(spec(i, c, s"c$i")                   // nullable
            .copy(nullable = !c._2))
          case 4 => Some(spec(i, c, s"c$i")                   // default
            .copy(default = Some("42")))
          case _ => None                                      // drop
        }
      } ++ addCols.zipWithIndex.map { case (c, j) =>
        spec(cols.size + j, c, s"a$j") }
      val a = TableSchemaV(1L, "t", 10L, from.toIndexedSeq)
      val b = TableSchemaV(1L, "t", 20L, to.toIndexedSeq)
      val d = SchemaDiff.between(a, b)
      // reconstruct: start from old replicated view keyed by ordinal,
      // apply changes, remove drops, add adds
      val base = a.replicatedColumns.map(c => c.ordinal -> c).toMap
      val changed = d.changed.foldLeft(base) { (m, ch) =>
        m + (ch.ordinal -> ch.to) }
      val afterDrop = changed -- d.dropped.map(_.ordinal)
      val rebuilt = (afterDrop.values ++ d.added).toSeq.sortBy(_.ordinal)
      rebuilt == b.replicatedColumns.sortBy(_.ordinal) &&
        // and a no-op evolution diffs empty
        SchemaDiff.between(a, a).isEmpty
    }
    checkProp(prop)
  }

  test("Relation records carry modifier + replication/identity masks") {
    import org.apache.spark.sql.types._
    val mod = PgTypeMap.packNumericModifier(12, 3)
    val s = graft.pipeline.CdcPipeline.parseRelation(7L, 42L,
      s"""{"table":"acct","cols":[
        {"name":"id","type":"int8","nullable":false,"pk":1},
        {"name":"alt","type":"text","ident":true},
        {"name":"bal","type":"numeric","mod":$mod},
        {"name":"secret","type":"text","repl":false}]}""")
    assert(s.tableId == 7L && s.snapshotLsn == 42L)
    // identity mask overrides the PK for replica-identity purposes
    // (REPLICA IDENTITY USING INDEX shape, reference schema.rs:207)
    assert(s.identityColumns == Seq("alt"))
    assert(s.primaryKey == Seq("id"))
    // modifier flows into the decimal mapping
    assert(s.columns.find(_.name == "bal").get.sparkType == DecimalType(12, 3))
    // unreplicated columns are invisible to the pipeline's positional view
    assert(s.sparkSchema.fieldNames.toSeq == Seq("id", "alt", "bal"))
    // absent mask fields default like the reference (replicated, not identity)
    val plain = graft.pipeline.CdcPipeline.parseRelation(1L, 1L,
      """{"table":"t","cols":[{"name":"id","type":"int8","pk":1}]}""")
    assert(plain.identityColumns == Seq("id"))
    assert(plain.columns.head.replicated)
  }

  test("the REFERENCE event trigger's pg_catalog-shaped DDL payload " +
      "(supabase_etl_ddl) maps verbatim: attnums become the diff " +
      "ordinals, defaults/nullability/pk/replica-identity carry over — " +
      "a drop-in for sources already running the reference migration") {
    // shape per migrations/source/20260415100000_schema_change_messages
    // .up.sql — one full-column snapshot per ALTER TABLE; a mid-table
    // DROP leaves a gap in attnums (PostgreSQL never renumbers)
    def payload(cols: String) =
      s"""{"trigger_event":"ddl_command_end","command_tag":"ALTER TABLE",
        "current_query":"ALTER TABLE ...","current_database":"db",
        "server_version_num":160004,"nspname":"public","relname":"users",
        "oid":16384,"relkind":"r","commands":[],
        "identity":{"primary_key_attnums":[1],"relreplident":"d",
          "replica_identity_index_relname":null,
          "replica_identity_index_attnums":[]},
        "columns":[$cols]}"""
    def col(attname: String, attnum: Int, typ: String,
        notnull: Boolean = false, hasdef: Boolean = false,
        dflt: String = "null", typmod: Int = -1) =
      s"""{"attname":"$attname","attnum":$attnum,"atttypid":0,
        "typname":"$typ","formatted_type":"$typ","atttypmod":$typmod,
        "attnotnull":$notnull,"atthasdef":$hasdef,
        "default_expression":$dflt,"attidentity":null,
        "atthasmissing":false}"""
    val v1 = graft.pipeline.CdcPipeline.parseRelation(16384L, 10L,
      payload(Seq(
        col("id", 1, "int8", notnull = true),
        col("name", 2, "text"),
        col("age", 3, "int4", hasdef = true, dflt = "\"21\"")).mkString(",")))
    assert(v1.tableName == "users")
    assert(v1.primaryKey == Seq("id"))
    assert(v1.identityColumns == Seq("id"))
    assert(v1.columns.map(_.ordinal) == Seq(1, 2, 3))
    assert(v1.columns.find(_.name == "age").get.default.contains("21"))
    assert(!v1.columns.find(_.name == "id").get.nullable)
    // ALTER: rename name→full_name; DROP age (attnum 3 simply absent);
    // ADD email at attnum 4 — the attnum gap must NOT shift anything
    val v2 = graft.pipeline.CdcPipeline.parseRelation(16384L, 20L,
      payload(Seq(
        col("id", 1, "int8", notnull = true),
        col("full_name", 2, "text"),
        col("email", 4, "text")).mkString(",")))
    val d = SchemaDiff.between(v1, v2)
    assert(d.renames == Seq(("name", "full_name")))
    assert(d.dropped.map(_.name) == Seq("age"))
    assert(d.added.map(_.name) == Seq("email"))
    // pgoutput synthesizes a redundant Relation message after every DDL
    // — positional (no attnums). Registered as-is it would mis-diff
    // against the attnum-keyed v2 (positions 1,2,3 vs attnums 1,2,4):
    // alignOrdinals inherits ordinals BY NAME from the stored version,
    // so the redundant Relation is an EMPTY diff (the reference's
    // note_waiting_for_relation semantics, apply.rs:2252-2257)
    val relAfterDdl = graft.pipeline.CdcPipeline.parseRelation(16384L, 25L,
      """{"table":"users","cols":[
        {"name":"id","type":"int8","nullable":false,"pk":1},
        {"name":"full_name","type":"text"},
        {"name":"email","type":"text"}]}""")
    val aligned = graft.pipeline.CdcPipeline.alignOrdinals(
      Some(v2), relAfterDdl)
    assert(aligned.columns.map(_.ordinal) == Seq(1, 2, 4))
    assert(SchemaDiff.between(v2, aligned).isEmpty,
      SchemaDiff.between(v2, aligned).toString)
    // a genuinely NEW column in a later positional Relation gets a
    // fresh ordinal above the stored max — never a recycled attnum
    val relWider = graft.pipeline.CdcPipeline.parseRelation(16384L, 30L,
      """{"table":"users","cols":[
        {"name":"id","type":"int8","nullable":false,"pk":1},
        {"name":"full_name","type":"text"},
        {"name":"email","type":"text"},
        {"name":"score","type":"float8"}]}""")
    val aligned2 = graft.pipeline.CdcPipeline.alignOrdinals(
      Some(aligned), relWider)
    assert(aligned2.columns.map(_.ordinal) == Seq(1, 2, 4, 5))
    val d2 = SchemaDiff.between(aligned, aligned2)
    assert(d2.added.map(_.name) == Seq("score") && d2.dropped.isEmpty &&
      d2.changed.isEmpty)
    // consistently positional chains pass through untouched (rename
    // detection via position stays intact)
    val pos1 = graft.pipeline.CdcPipeline.parseRelation(1L, 1L,
      """{"table":"t","cols":[{"name":"a","type":"text"}]}""")
    val pos2 = graft.pipeline.CdcPipeline.parseRelation(1L, 2L,
      """{"table":"t","cols":[{"name":"b","type":"text"}]}""")
    assert(graft.pipeline.CdcPipeline.alignOrdinals(Some(pos1), pos2)
      eq pos2)
    assert(SchemaDiff.between(pos1, pos2).renames == Seq(("a", "b")))
    // and the decode session forwards the reference prefix: an 'M'
    // logical message with supabase_etl_ddl emits an R envelope line
    // keyed by the payload's oid
    val session = new graft.sources.PgOutput.DecodeSession()
    try {
      val body = payload(col("id", 1, "int8", notnull = true)).getBytes("UTF-8")
      val lines = session.onFrame(
        graft.sources.PgOutput.encode(graft.sources.PgOutput.LogicalMsg(
          transactional = false, 0x4242L, "supabase_etl_ddl",
          body.toVector)))
      assert(lines.size == 1)
      val f = lines.head.split("\t", -1)
      assert(f(2) == "R" && f(3) == "16384", lines)
      val parsed = graft.pipeline.CdcPipeline.parseRelation(
        f(3).toLong, f(5).toLong, f(7))
      assert(parsed.columns.map(c => (c.name, c.ordinal)) == Seq(("id", 1)))
    } finally session.close()
  }
}
