package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{concat, hex, lit, lower, lpad}

/** Total-order key for change events.
  *
  * Mirrors the reference's `EventSequenceKey {commit_lsn, tx_ordinal}`
  * (reference: crates/etl/src/event.rs:321-375): events are totally ordered by
  * the commit LSN of their transaction, then by the ordinal of the change
  * within that transaction. Destinations use this key for last-writer-wins
  * dedup; it is re-established after any reorder (Spark shuffles freely, so
  * order is never *preserved*, only *recomputed* from this key).
  */
final case class SequenceKey(commitLsn: Long, txOrdinal: Long)
    extends Ordered[SequenceKey] {

  override def compare(that: SequenceKey): Int = {
    val c = java.lang.Long.compareUnsigned(commitLsn, that.commitLsn)
    if (c != 0) c else java.lang.Long.compareUnsigned(txOrdinal, that.txOrdinal)
  }

  /** Pack to a single sortable 128-bit value rendered as 32 hex chars.
    * Analog of the reference's `u128` packing (event.rs:341) and the
    * BigQuery `_CHANGE_SEQUENCE_NUMBER` hex string
    * (`generate_sequence_number`, event.rs:370-375). Lexicographic order of
    * the rendered string == numeric order of (commitLsn, txOrdinal).
    */
  def packedHex: String = f"$commitLsn%016x/$txOrdinal%016x"
}

object SequenceKey {
  /** [[SequenceKey.packedHex]] as a Spark column over the two long
    * columns: bit-identical to it for every value (negative longs render
    * as their unsigned 64-bit hex, like `%016x`), since manifests and
    * high-water marks persist the string. Lowercase: mixed-case hex
    * would corrupt the lexicographic order ('a' > 'B'). */
  def packedHexCol(commitLsn: Column, txOrdinal: Column): Column =
    concat(lpad(lower(hex(commitLsn)), 16, "0"), lit("/"),
      lpad(lower(hex(txOrdinal)), 16, "0"))

  /** Parse the `"{commit:016x}/{ordinal:016x}"` form. */
  def fromPackedHex(s: String): SequenceKey = {
    val i = s.indexOf('/')
    require(i > 0, s"malformed sequence key: $s")
    SequenceKey(
      java.lang.Long.parseUnsignedLong(s.substring(0, i), 16),
      java.lang.Long.parseUnsignedLong(s.substring(i + 1), 16))
  }

  /** Render a Postgres LSN (u64) in the `XXXXXXXX/XXXXXXXX` pg_lsn text form. */
  def lsnToString(lsn: Long): String =
    f"${(lsn >>> 32).toInt}%X/${lsn.toInt}%08X"

  /** Parse `pg_lsn` text (`hi/lo` hex). */
  def lsnFromString(s: String): Long = {
    val i = s.indexOf('/')
    require(i > 0, s"malformed pg_lsn: $s")
    (java.lang.Long.parseLong(s.substring(0, i), 16) << 32) |
      java.lang.Long.parseLong(s.substring(i + 1), 16)
  }
}
