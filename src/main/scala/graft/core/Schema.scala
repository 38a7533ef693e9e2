package graft.core

import org.apache.spark.sql.types._

/** Versioned table schema model — the Spark analog of the reference's
  * schema layer:
  *   - `TableSchema`/`ColumnSchema` (reference crates/etl-postgres/src/schema.rs:213-229,455)
  *   - `SnapshotId(PgLsn)` versioning + floor lookup
  *     (reference crates/etl/src/store/schema/base.rs:19-35)
  *   - `ReplicationMask`/`IdentityMask` (reference crates/etl/src/schema.rs:69,207)
  *   - `SchemaDiff`/`ColumnChange` (reference crates/etl/src/schema.rs:592-770)
  */
final case class ColumnSpec(
    name: String,
    /** Source (Postgres) type name, e.g. "int8", "numeric", "text". */
    pgType: String,
    nullable: Boolean = true,
    /** 1-based position in the PK, 0 = not part of the PK. */
    pkOrdinal: Int = 0,
    /** Type modifier (e.g. numeric precision/scale packed), -1 = none. */
    modifier: Int = -1,
    /** Replicated by the publication (ReplicationMask member). */
    replicated: Boolean = true,
    /** Part of the replica identity (IdentityMask member). */
    identity: Boolean = false,
    /** Physical column number (`pg_attribute.attnum` — the reference's
      * `ordinal_position`, schema.rs:221): STABLE across renames and
      * later-column drops, which makes it the key [[SchemaDiff]] tracks
      * logical columns by. 0 = unknown (transports that don't carry
      * attnums, e.g. the wire Relation message) — diffs then fall back
      * to the 1-based position in `columns`, correct for every DDL
      * except a mid-table drop. */
    ordinal: Int = 0,
    /** Column default expression (`pg_attrdef`; reference
      * ColumnSchema.default_expression, schema.rs:226). Carried for
      * destination-DDL parity — replicated rows always arrive with
      * defaults already materialized by the source. */
    default: Option[String] = None) {
  def sparkType: DataType = PgTypeMap.toSpark(pgType, modifier)
  def sparkField: StructField = StructField(name, sparkType, nullable)
}

final case class TableSchemaV(
    tableId: Long,
    tableName: String,
    /** LSN of the DDL that created this version (SnapshotId analog). */
    snapshotLsn: Long,
    columns: IndexedSeq[ColumnSpec]) {

  /** Columns visible to the pipeline = replicated columns, in ordinal order
    * (the ReplicatedTableSchema positional view, reference schema.rs:344). */
  def replicatedColumns: IndexedSeq[ColumnSpec] = columns.filter(_.replicated)

  def primaryKey: Seq[String] =
    columns.filter(_.pkOrdinal > 0).sortBy(_.pkOrdinal).map(_.name)

  def identityColumns: Seq[String] = {
    val explicit = columns.filter(_.identity).map(_.name)
    if (explicit.nonEmpty) explicit else primaryKey
  }

  def sparkSchema: StructType = StructType(replicatedColumns.map(_.sparkField))
}

/** A change to one LOGICAL column, identified by its ordinal — the
  * reference's ColumnChange/ColumnModification (schema.rs:753-790).
  * "Same ordinal, different name" IS a rename: a name-keyed diff would
  * mis-describe it as add+drop, and a current-state destination would
  * then fork the column (pre-rename rows stranded under the old name,
  * post-rename rows under the new) instead of staying aligned. */
final case class ColumnChange(ordinal: Int, from: ColumnSpec,
    to: ColumnSpec) {
  def renamed: Boolean = from.name != to.name
  /** NOT NULL → NULL: the only nullability change destinations apply
    * (tightening an existing destination column can't be guaranteed —
    * the reference warns and keeps it nullable, bigquery/core.rs:884). */
  def nullabilityRelaxed: Boolean = !from.nullable && to.nullable
  def defaultChanged: Boolean = from.default != to.default
  def typeChanged: Boolean =
    from.pgType != to.pgType || from.modifier != to.modifier
}

/** Structural diff between two schema versions, consumed by sinks to
  * evolve destination tables (reference SchemaDiff,
  * crates/etl/src/schema.rs:592-651). Keyed by ORDINAL (attnum),
  * replicated columns only — the view a destination materializes. */
final case class SchemaDiff(
    added: Seq[ColumnSpec],
    dropped: Seq[ColumnSpec],
    changed: Seq[ColumnChange]) {
  def isEmpty: Boolean = added.isEmpty && dropped.isEmpty && changed.isEmpty
  /** (oldName → newName) for every rename, in ordinal order. */
  def renames: Seq[(String, String)] =
    changed.collect { case c if c.renamed => (c.from.name, c.to.name) }
}

object SchemaDiff {
  /** Effective ordinal per column: the carried attnum when the
    * transport provided one, else the 1-based position in the FULL
    * column list (computed before the replicated filter, so an
    * unreplicated column still occupies its slot like an attnum
    * would). */
  private def byOrdinal(s: TableSchemaV): Map[Int, ColumnSpec] =
    s.columns.zipWithIndex.collect {
      case (c, i) if c.replicated =>
        (if (c.ordinal > 0) c.ordinal else i + 1) -> c
    }.toMap

  def between(from: TableSchemaV, to: TableSchemaV): SchemaDiff = {
    val fromM = byOrdinal(from)
    val toM = byOrdinal(to)
    SchemaDiff(
      added = toM.view.filterKeys(!fromM.contains(_)).toSeq
        .sortBy(_._1).map(_._2),
      dropped = fromM.view.filterKeys(!toM.contains(_)).toSeq
        .sortBy(_._1).map(_._2),
      changed = fromM.keySet.intersect(toM.keySet).toSeq.sorted.flatMap {
        ord =>
          val (f, t) = (fromM(ord), toM(ord))
          if (f.name != t.name || f.nullable != t.nullable ||
              f.default != t.default || f.pgType != t.pgType ||
              f.modifier != t.modifier)
            Some(ColumnChange(ord, f, t))
          else None
      })
  }
}

/** Postgres type name → Spark SQL type, per SURVEY §1.2's mapping table.
  * Unknown types fall back to StringType (the reference's preserve-as-text
  * escape hatch, text.rs:146-157). */
object PgTypeMap {
  def toSpark(pgType: String, modifier: Int = -1): DataType = {
    val t = pgType.toLowerCase.stripPrefix("pg_catalog.")
    if (t.startsWith("_")) ArrayType(scalarToSpark(t.substring(1), modifier), containsNull = true)
    else scalarToSpark(t, modifier)
  }

  private def scalarToSpark(t: String, modifier: Int): DataType = t match {
    case "bool" | "boolean"           => BooleanType
    case "int2" | "smallint"          => ShortType
    case "int4" | "int" | "integer"   => IntegerType
    case "int8" | "bigint"            => LongType
    case "oid"                        => LongType // no unsigned in Spark
    case "float4" | "real"            => FloatType
    case "float8" | "double precision"=> DoubleType
    case "numeric" | "decimal" =>
      numericPrecisionScale(modifier) match {
        case Some((p, s)) if p <= 38 => DecimalType(p, s)
        case _                       => StringType // loss boundary: keep text
      }
    case "date"                       => DateType
    case "time"                       => LongType // micros-of-day
    case "timetz"                     => StringType // offset-preserving
    case "timestamp"                  => TimestampNTZType
    case "timestamptz"                => TimestampType
    case "uuid"                       => StringType
    case "json" | "jsonb"             => StringType
    case "bytea"                      => BinaryType
    case "text" | "varchar" | "char" | "bpchar" | "name" => StringType
    case _                            => StringType // preserve-as-text fallback
  }

  /** Postgres packs numeric typmod as ((precision << 16) | scale) + 4. */
  def numericPrecisionScale(modifier: Int): Option[(Int, Int)] =
    if (modifier < 4) None
    else {
      val m = modifier - 4
      Some(((m >> 16) & 0xffff, m & 0xffff))
    }
  def packNumericModifier(precision: Int, scale: Int): Int =
    ((precision << 16) | scale) + 4
}

/** Versioned schema registry: the SchemaStore analog
  * (reference crates/etl/src/store/schema/base.rs:19-70). Keyed by
  * (tableId, snapshotLsn); lookups resolve "largest snapshotLsn <= requested".
  * Thread-safe; driver-side (schemas are metadata, not data — per-table
  * counts are tiny even at 100 TB, so a driver map + broadcast is the right
  * scale shape).
  */
final class SchemaRegistry extends Serializable {
  import scala.collection.concurrent.TrieMap
  private val byTable = TrieMap.empty[Long, scala.collection.immutable.TreeMap[Long, TableSchemaV]]

  def put(schema: TableSchemaV): Unit = byTable.synchronized {
    val cur = byTable.getOrElse(schema.tableId,
      scala.collection.immutable.TreeMap.empty[Long, TableSchemaV])
    byTable.update(schema.tableId, cur + (schema.snapshotLsn -> schema))
  }

  /** Schema version in force at `lsn`: largest snapshotLsn <= lsn. */
  def lookup(tableId: Long, lsn: Long): Option[TableSchemaV] =
    byTable.get(tableId).flatMap(_.rangeTo(lsn).lastOption.map(_._2))

  def latest(tableId: Long): Option[TableSchemaV] =
    byTable.get(tableId).flatMap(_.lastOption.map(_._2))

  /** The version immediately PRECEDING `lsn` (largest snapshotLsn
    * strictly below it) — the "old" side of the destination diff when a
    * Relation record registers a new version at `lsn`. */
  def previous(tableId: Long, lsn: Long): Option[TableSchemaV] =
    byTable.get(tableId)
      .flatMap(_.rangeUntil(lsn).lastOption.map(_._2))

  def versions(tableId: Long): Seq[TableSchemaV] =
    byTable.get(tableId).map(_.values.toSeq).getOrElse(Seq.empty)

  /** Retention pruning: drop versions strictly below `keepFromLsn`, always
    * retaining the floor version still in force at that LSN
    * (reference store/schema/base.rs pruning semantics). */
  def prune(tableId: Long, keepFromLsn: Long): Unit = byTable.synchronized {
    byTable.get(tableId).foreach { m =>
      val floor = m.rangeTo(keepFromLsn).lastOption.map(_._1)
      val pruned = m.filter { case (lsn, _) =>
        lsn >= keepFromLsn || floor.contains(lsn)
      }
      byTable.update(tableId, pruned)
    }
  }

  def tables: Seq[Long] = byTable.keys.toSeq

  /** Persist all versions to a JSON file — the durable SchemaStore shape
    * (K2/K4: reference etl.table_schemas/etl.table_columns catalog,
    * crates/etl-postgres/src/store/catalog.rs:36-53). */
  def save(path: String): Unit = synchronized {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val body = byTable.toSeq.sortBy(_._1).flatMap(_._2.values).map { s =>
      val cols = s.columns.map { c =>
        val dflt = c.default.fold("")(d =>
          s""","default":${org.json4s.jackson.JsonMethods.compact(
            org.json4s.JString(d))}""")
        s"""{"name":"${c.name}","type":"${c.pgType}","nullable":${c.nullable},"pk":${c.pkOrdinal},"mod":${c.modifier},"repl":${c.replicated},"ident":${c.identity},"ord":${c.ordinal}$dflt}"""
      }.mkString("[", ",", "]")
      s"""{"tableId":${s.tableId},"tableName":"${s.tableName}","snapshotLsn":${s.snapshotLsn},"cols":$cols}"""
    }.mkString("[", ",\n", "]")
    val tmp = Paths.get(path + ".tmp")
    if (tmp.getParent != null) Files.createDirectories(tmp.getParent)
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(path), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

object SchemaRegistry {
  /** Load a registry persisted by [[SchemaRegistry.save]]. */
  def load(path: String): SchemaRegistry = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val reg = new SchemaRegistry
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return reg
    val j = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(p), "UTF-8"))
    j.extract[List[JValue]].foreach { t =>
      val cols = (t \ "cols").extract[List[JValue]].map { c =>
        ColumnSpec(
          name = (c \ "name").extract[String],
          pgType = (c \ "type").extract[String],
          nullable = (c \ "nullable").extract[Boolean],
          pkOrdinal = (c \ "pk").extract[Int],
          modifier = (c \ "mod").extract[Int],
          replicated = (c \ "repl").extract[Boolean],
          identity = (c \ "ident").extract[Boolean],
          ordinal = (c \ "ord").extractOrElse[Int](0),
          default = (c \ "default").extractOpt[String])
      }
      reg.put(TableSchemaV(
        (t \ "tableId").extract[Long],
        (t \ "tableName").extract[String],
        (t \ "snapshotLsn").extract[Long],
        cols.toIndexedSeq))
    }
    reg
  }
}
