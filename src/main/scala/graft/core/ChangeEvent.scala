package graft.core

import org.apache.spark.sql.types._

/** The change-event envelope — the Spark shape of the reference's `Event`
  * enum (reference crates/etl/src/event.rs:249-267). We use a DataFrame with
  * metadata columns (the Debezium-ish envelope from SURVEY §1.2) rather than
  * a closed ADT, because table payload schemas are dynamic and versioned.
  *
  * Envelope columns:
  *   _op          : I | U | D | T (truncate) | R (relation/DDL control)
  *   _table       : source table id
  *   _commit_lsn  : commit LSN of the transaction (u64 as Long)
  *   _start_lsn   : LSN of the change itself
  *   _tx_ordinal  : ordinal of the change within its transaction
  *   _schema_lsn  : snapshot LSN of the schema version the payload decodes
  *                  against (every event carries its schema version —
  *                  event.rs:82-85)
  *   before       : old image (REPLICA IDENTITY FULL → full row; DEFAULT →
  *                  key columns only), null for inserts
  *   after        : new image, null for deletes
  *   _missing     : names of columns absent from `after` because Postgres
  *                  emitted UnchangedToast (reference PartialTableRow,
  *                  crates/etl/src/data/table_row.rs:68)
  */
object ChangeEvent {
  val OpInsert = "I"
  val OpUpdate = "U"
  val OpDelete = "D"
  val OpTruncate = "T"
  val OpRelation = "R"

  val metaFields: Seq[StructField] = Seq(
    StructField("_op", StringType, nullable = false),
    StructField("_table", LongType, nullable = false),
    StructField("_commit_lsn", LongType, nullable = false),
    StructField("_start_lsn", LongType, nullable = false),
    StructField("_tx_ordinal", LongType, nullable = false),
    StructField("_schema_lsn", LongType, nullable = false))

  val metaColumns: Seq[String] = metaFields.map(_.name)
}
