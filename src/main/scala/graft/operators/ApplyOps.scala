package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-apply planner: the declarative re-expression of the reference's
  * apply semantics. The reference guarantees per-table event order by
  * processing a single WAL stream sequentially
  * (reference crates/etl/src/replication/apply.rs:1263-1350); Spark shuffles
  * freely, so order is never preserved — it is RE-ESTABLISHED from the
  * sequence key. Every operator here is a pure DataFrame → DataFrame
  * transform: shuffle-partitioned by key, no driver-side row buffering,
  * which is exactly the 100 TB shape (SURVEY §7.5.6).
  */
object ApplyOps {

  /** Last-writer-wins dedup (A1): keep, per primary key, the row with the
    * highest sequence key — the Spark form of BigQuery
    * `_CHANGE_SEQUENCE_NUMBER` / ClickHouse `_etl_version` dedup
    * (reference bigquery/core.rs:1405-1407, clickhouse/core.rs:93-110).
    *
    * One shuffle on the PK; map-side partial aggregation via max_by keeps
    * the shuffle payload to one row per key per input partition, which is
    * the scale-correct plan (vs. a window over a full sort).
    */
  def lastWriterWins(df: DataFrame, pkCols: Seq[String], seqCols: Seq[String])
      : DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    val seq = struct(seqCols.map(col): _*)
    val winner = df
      .groupBy(pkCols.map(col): _*)
      .agg(max_by(payload, seq).as("_w"))
    winner.select(df.columns.map(c => winner("_w")(c).as(c)).toIndexedSeq: _*)
  }

  /** Skew-resistant LWW: two-phase max_by with a salt — phase 1 reduces
    * each (key, salt) shard, phase 2 reduces the ≤`saltBuckets` shard
    * winners per key. For heavy-hitter keys (one key = millions of
    * updates, e.g. a hot row at 100 TB) this bounds any single reducer's
    * input to ~1/saltBuckets of the hot key; cold keys pay one extra tiny
    * shuffle. Result is identical to [[lastWriterWins]] (max is
    * associative). The salt is derived from the sequence key, so it is
    * deterministic, not random. */
  def lastWriterWinsSalted(df: DataFrame, pkCols: Seq[String],
      seqCols: Seq[String], saltBuckets: Int = 16): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    val seq = struct(seqCols.map(col): _*)
    val salted = df.withColumn("_salt",
      pmod(hash(seqCols.map(col): _*), lit(saltBuckets)))
    val phase1 = salted
      .groupBy((pkCols.map(col) :+ col("_salt")): _*)
      .agg(max_by(payload, seq).as("_w"))
    val phase2 = phase1
      .groupBy(pkCols.map(col): _*)
      .agg(max_by(col("_w"), struct(seqCols.map(c => col(s"_w.$c")): _*))
        .as("_w"))
    phase2.select(df.columns.map(c => phase2("_w")(c).as(c)).toIndexedSeq: _*)
  }

  /** Window-based variant (row_number over desc seq). Same result as
    * [[lastWriterWins]]; kept for sinks that also need the losing rows
    * (changelog compaction) — requires a full sort within each hash
    * partition, so prefer max_by on the hot path. */
  def lastWriterWinsWindow(df: DataFrame, pkCols: Seq[String],
      seqCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(pkCols.map(col): _*)
      .orderBy(seqCols.map(c => col(c).desc): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Primary-key-change expansion (J1): an update whose replica-identity
    * columns changed must become DELETE(old key) + UPSERT(new row), ordered
    * by tx ordinal (reference bigquery/core.rs:1425-1475,
    * `bigquery_update_rows` / `bigquery_primary_key_changed`).
    *
    * Input: envelope rows with `before`/`after` structs. Output: same
    * envelope, updates with changed keys expanded into two rows; the emitted
    * DELETE keeps the update's sequence key with `_tx_ordinal` halved-in
    * by subtracting on a sub-ordinal column so the delete sorts before the
    * upsert (the reference orders them by internal append ordinal).
    */
  def expandPkChanges(events: DataFrame, pkCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val keyChanged = pkCols
      .map(k => not(col(s"before.$k") <=> col(s"after.$k")))
      .reduce(_ || _)
    val isPkChangeUpdate =
      col("_op") === "U" && col("before").isNotNull && keyChanged

    val withSub = events.withColumn("_sub", lit(0L).cast(LongType))
    val untouched = withSub.filter(not(isPkChangeUpdate))
    val changed = withSub.filter(isPkChangeUpdate)
    val deletes = changed
      .withColumn("_op", lit("D"))
      .withColumn("after", lit(null).cast(events.schema("after").dataType))
      .withColumn("_sub", lit(0L))
    val upserts = changed
      .withColumn("_op", lit("U"))
      .withColumn("before", lit(null).cast(events.schema("before").dataType))
      .withColumn("_sub", lit(1L))
    untouched.unionByName(deletes).unionByName(upserts)
  }

  /** Masked last-writer-wins (ST6 + A1 combined): resolve a batch that
    * mixes full rows and TOAST-partial rows (per-row `maskCol` lists the
    * columns ABSENT from that row) into one winner row per key with
    * sequential-apply semantics:
    *
    *   - a masked column takes its value from the latest EARLIER in-batch
    *     event that carried it (so a full update followed by a partial one
    *     keeps the full update's value — plain LWW-then-coalesce would
    *     wrongly resurrect the pre-batch stored value);
    *   - a REAL null written by an unmasked row is preserved (distinct
    *     from "absent": values are carried in 1-field struct wrappers, so
    *     Some(null) ≠ None);
    *   - the returned `_missing` column lists the columns STILL unresolved
    *     for that key (no in-batch event carried them) — the caller
    *     coalesces exactly those from storage.
    *
    * One shuffle + per-key sort (window), masked batches only. */
  def maskedLastWriterWins(df: DataFrame, pkCols: Seq[String],
      seqCols: Seq[String], payloadCols: Seq[String],
      maskCol: String = "_missing"): DataFrame = {
    val w = Window.partitionBy(pkCols.map(col): _*)
      .orderBy(seqCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val maskArr = split(coalesce(col(maskCol), lit("")), ",")
    val wrapped = payloadCols.foldLeft(df) { (acc, c) =>
      acc.withColumn(s"_w_$c",
        when(array_contains(maskArr, c), lit(null))
          .otherwise(struct(col(c).as("v"))))
    }
    val filled = payloadCols.foldLeft(wrapped) { (acc, c) =>
      acc.withColumn(s"_w_$c", last(col(s"_w_$c"), ignoreNulls = true).over(w))
    }
    val winner = lastWriterWins(filled, pkCols, seqCols)
    val unresolved = array_compact(array(payloadCols.map(c =>
      when(col(s"_w_$c").isNull && col("_op") =!= "D", lit(c))): _*))
    payloadCols.foldLeft(
        winner.withColumn(maskCol,
          when(size(unresolved) > 0, concat_ws(",", unresolved))))
      { (acc, c) => acc.withColumn(c, col(s"_w_$c.v")) }
      .drop(payloadCols.map(c => s"_w_$c"): _*)
  }

  /** TOAST partial-row coalesce (ST6): updates may arrive with columns
    * missing (`UnchangedToast`); the applied value for a missing column is
    * the most recent present value, per key, in sequence order — the
    * `coalesce(new.col, old.col)` rule from SURVEY §2.6 ST6 generalized
    * across a batch (reference table_row.rs:68-143, event.rs:103-135).
    *
    * `valueCols` are the payload columns subject to TOAST; a null in such a
    * column is treated as "unchanged" and forward-filled from the previous
    * event for the same key. (True NULL writes are distinguishable in the
    * envelope via `_missing`; this column-level helper is for flat frames.)
    */
  def coalescePartials(df: DataFrame, pkCols: Seq[String],
      seqCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(pkCols.map(col): _*)
      .orderBy(seqCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Split a batch at schema-version boundaries (reference requirement:
    * a batch may span DDL; BigQuery splits at Relation boundaries,
    * bigquery/core.rs:967-974). Returns the distinct `_schema_lsn` values in
    * ascending order; callers filter per version and apply sequentially.
    * The distinct is over a metadata column — tiny result, safe to collect.
    */
  def schemaVersionsInBatch(events: DataFrame): Seq[Long] =
    events.select("_schema_lsn").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq

  /** Micro-batch planning by byte budget (ST1): assign each event, in
    * sequence order, to a batch such that each batch's cumulative payload
    * stays under `maxBytes` (reference EventBatch fill,
    * apply.rs:633-696 + batch_budget.rs:22-90). Deterministic: batch id =
    * floor(exclusive-prefix-sum(bytes) / maxBytes).
    *
    * The prefix sum is RANGE-PARTITIONED two-pass, not one global
    * `Window.orderBy` (which would drag any input — including a
    * backfill-sized frame — through a single task): range-exchange on
    * the sequence, per-partition window cumsum (parallel), then one
    * metadata-scale collect of per-partition totals whose exclusive
    * offsets broadcast-join back. The intermediate is localCheckpoint-ed
    * because the range partitioner SAMPLES its bounds per job — the
    * totals job and the output job must see the same partition ids. */
  def planBatches(df: DataFrame, seqCols: Seq[String], sizeCol: String,
      maxBytes: Long): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    val local = df.repartitionByRange(seqCols.map(col): _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lsum", sum(col(sizeCol)).over(
        Window.partitionBy(col("_pid")).orderBy(seqCols.map(col): _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint()
    // cast: a non-integral sizeCol (accepted by the old pure-window
    // implementation) makes _lsum a double — don't ClassCast at collect
    val totals = local.groupBy(col("_pid"))
      .agg(max(col("_lsum")).cast("long").as("_ptot"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = totals.map { case (pid, tot) =>
      val o = (pid, acc); acc += tot; o }.toSeq
    local.join(broadcast(offs.toDF("_pid", "_off")), "_pid")
      .withColumn("_batch_id",
        floor((col("_off") + col("_lsum") - col(sizeCol)) / lit(maxBytes)))
      .drop("_pid", "_lsum", "_off")
  }

  /** Backfill↔stream gate (ST4): a table in `SyncDone(snapshotLsn)` only
    * receives streamed events with `commit_lsn >= snapshotLsn`
    * (reference apply.rs:2847 applies events while `lsn <=
    * remote_final_lsn`; SURVEY §7.5.5 calls this the correctness heart).
    * The boundary is INCLUSIVE: a Postgres consistent snapshot contains
    * commits strictly before its LSN, so a transaction committing exactly
    * at the snapshot point is NOT in the copied data and must stream.
    * Duplicate delivery at the boundary (if the snapshot did include it)
    * is neutralized by the idempotent LWW/high-water sinks; a drop would
    * be unrecoverable. `gates` maps table id → snapshot LSN; tables
    * absent from the map pass everything (Ready tables).
    */
  def snapshotGate(events: DataFrame, gates: Map[Long, Long]): DataFrame =
    if (gates.isEmpty) events
    else {
      val spark = events.sparkSession
      import spark.implicits._
      val gateDf = gates.toSeq.toDF("_gate_table", "_gate_lsn")
      events.join(broadcast(gateDf),
          events("_table") === col("_gate_table"), "left")
        .filter(col("_gate_lsn").isNull ||
          events("_commit_lsn") >= col("_gate_lsn"))
        .drop("_gate_table", "_gate_lsn")
    }
}
