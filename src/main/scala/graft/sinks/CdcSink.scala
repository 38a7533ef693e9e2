package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.SequenceKey
import graft.operators.ApplyOps
import org.apache.spark.sql.functions._

/** Sink SPI — the Spark form of the reference's `Destination` trait
  * (reference crates/etl/src/destination/base.rs:27-213). Contracts carried
  * over: at-least-once (sinks must tolerate duplicate delivery — all
  * implementations here are idempotent by sequence key), concurrent-call
  * safety, truncate/drop-for-copy support.
  *
  * The reference's `Accepted` vs `Durable` write statuses collapse, per
  * SURVEY §7.5.2, to: a write returns only when durable; the pipeline
  * checkpoints only after the sink returns (checkpoint-after-durable), and
  * replays are neutralized by the sequence high-water mark.
  */
trait CdcSink {
  def startup(spark: SparkSession): Unit = {}
  /** Backfill path: full load of a table snapshot (reference
    * `write_table_rows` + `drop_table_for_copy`). */
  def writeTableRows(table: String, rows: DataFrame): Unit
  /** Streaming path: one micro-batch of envelope events for `table`,
    * already deduped/expanded by the apply planner. */
  def writeEvents(table: String, events: DataFrame): Unit
  /** Variant with a TOAST-mask hint from the caller's batch metadata
    * (Some(false) = no row carries `_missing`, Some(true) = at least one
    * does, None = unknown): saves the sink its own probe job per batch.
    * Default ignores the hint. */
  def writeEvents(table: String, events: DataFrame,
      maskHint: Option[Boolean]): Unit = writeEvents(table, events)
  def truncateTable(table: String): Unit
  /** Destination schema evolution BEYOND the additive widen the merge
    * path performs on its own (the reference's apply_schema_diff,
    * bigquery/core.rs:803-946): renames keep a logical column aligned
    * instead of forking into add+drop, drops retire retired columns,
    * nullability relaxes, defaults propagate. Called by the pipeline
    * when a Relation record registers a new schema version — BEFORE any
    * data at that version is written — with the ordinal-keyed diff
    * against the predecessor version. MUST be idempotent: batch replay
    * re-delivers the Relation record, and a crash between DDL and data
    * replays both. Default no-op: memory/null sinks have no schema to
    * move, and appends are self-describing per event — though
    * [[ChangelogSink]] still overrides to keep renamed/dropped columns
    * ALIGNED across file generations in its `latest` view. */
  def applySchemaDiff(table: String, diff: graft.core.SchemaDiff): Unit =
    ()
  /** Batch replay identity (txnAppId/txnVersion shape): the pipeline
    * brackets each micro-batch with beginBatch/commitBatch, passing
    * Spark's monotonically-replayed batchId. Return false from
    * beginBatch to declare the batch ALREADY COMMITTED — the pipeline
    * then skips it wholesale (see [[ExactlyOnceSink]]). Defaults are
    * no-ops: sinks with a natural sequence high-water mark (GraftTable
    * manifests, changelog offset tokens) don't need the ledger. */
  def beginBatch(batchId: Long): Boolean = true
  def commitBatch(batchId: Long): Unit = {}
  def shutdown(): Unit = {}
}

/** Auto-maintenance policy for [[CurrentStateSink]] — the in-process
  * analog of the reference's external maintenance jobs on a timer, with
  * the DuckLake runner's policy knobs (etl-maintenance
  * src/materialization.rs:14-43 DuckLakeMaintenancePolicy,
  * src/ducklake/runner.rs:1544-1672 per-operation configs).
  * `everyBatches` = 0 disables (explicit compact/vacuum only); N > 0
  * runs the policy on a table after every Nth applied batch. Runs
  * BETWEEN merges on the sink's own call thread, so it never races the
  * single writer — and takes the table's MAINTENANCE LEASE first, so an
  * EXTERNAL maintenance run (GraftTable.runMaintenanceUnderLease — the
  * etl-maintenance coordination analog) serializes against it: while a
  * foreign lease is held, the in-process timer skips its turn and the
  * apply path pauses at its quiesce point until the lease releases or
  * expires.
  *
  * Per-table run, in order:
  *  1. COLLAPSE merge-on-read layers when triggered: layer bytes ≥
  *     `minLayerBytes` (the min_inlined_bytes flush analog — layers ARE
  *     our inlined deltas awaiting flush) OR layer deleted-row fraction
  *     ≥ `deleteThreshold` (the rewrite_data_files trigger). Defaults
  *     (0, 0.5) preserve the pre-policy behavior: any layers collapse
  *     on maintenance. An untriggered layer chain stays — merge-time
  *     MorMaxLayers admission bounds its depth regardless.
  *  2. [[GraftTable.compact]](maxFilesPerBucket) — crowded-bucket
  *     rewrite; skipped while layers remain (it would force a
  *     collapse the triggers just declined).
  *  3. [[GraftTable.mergeAdjacentFiles]](targetFileSizeBytes,
  *     maxCompactedFiles, minActiveDataFiles) when
  *     `targetFileSizeBytes` > 0 — the layer-SAFE fragmentation pass
  *     (merge_adjacent_files): bounded per run, never rewrites
  *     at-target files.
  *  4. Auto bucket-count evolution: when avg occupied-bucket bytes
  *     exceeds `rebucketAboveBytes`, [[GraftTable.rebucket]] to 2×
  *     the current count (ours — the reference's DuckLake layout has
  *     no bucket axis; growth there is absorbed by file splits).
  *  5. [[GraftTable.vacuum]](keepVersions).
  *
  * `minIntervalMs` spaces runs per table (min_interval_seconds);
  * `maxPauseMs` is the lease TTL = the longest the apply path can stay
  * paused by one run (max_pause_seconds). */
final case class MaintenancePolicy(everyBatches: Int = 0,
    maxFilesPerBucket: Int = 4, keepVersions: Int = 2,
    minIntervalMs: Long = 0L,
    maxPauseMs: Long = 60000L,
    minLayerBytes: Long = 0L,
    deleteThreshold: Double = 0.5,
    targetFileSizeBytes: Long = 0L,
    maxCompactedFiles: Int = 40,
    minActiveDataFiles: Int = 0,
    maxTablesPerRun: Int = 8,
    rebucketAboveBytes: Long = Long.MaxValue)

/** Current-state sink: maintains one merged table per source table — the
  * BigQuery-CDC / DuckLake apply shape (reference bigquery/core.rs:956-1101,
  * ducklake/batches.rs:168-213). MERGE keyed on the PK, last-writer-wins by
  * sequence key, idempotent replay via GraftTable's high-water mark.
  */
final class CurrentStateSink(rootDir: String, keysOf: String => Seq[String],
    nBuckets: Int = 32,
    maintenance: MaintenancePolicy = MaintenancePolicy(),
    /** MERGE-ON-READ destination tables (see [[GraftTable.mergeOnRead]]):
      * small CDC batches commit as delta layers instead of bucket
      * rewrites; the maintenance policy's collapse triggers
      * (minLayerBytes / deleteThreshold) govern the flush cadence.
      * Default false — serving tables stay copy-on-write. */
    mergeOnRead: Boolean = false,
    morMinAffectedBytes: Long = GraftTable.MorMinAffectedBytesDefault)
    extends CdcSink {
  private val tables = scala.collection.concurrent.TrieMap.empty[String, GraftTable]
  private val applied = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Count an applied batch; every Nth runs the maintenance policy for
    * that table (no-op when the policy is disabled, the per-table
    * `minIntervalMs` spacing hasn't elapsed, or nothing is triggered). */
  private def noteApplied(table: String, spark: SparkSession): Unit = {
    if (maintenance.everyBatches <= 0) return
    val n = applied.updateWith(table) {
      c => Some(c.getOrElse(0L) + 1L) }.get
    if (n % maintenance.everyBatches == 0) {
      val now = System.currentTimeMillis()
      if (now - lastMaintained.getOrElse(table, 0L) <
          maintenance.minIntervalMs) return
      val t = tableFor(table)
      // lease-gated: skip this turn if an external maintenance run
      // holds the table (the next Nth batch retries)
      if (t.runMaintenanceUnderLease(leaseOwner,
          ttlMs = maintenance.maxPauseMs) { runPolicyOn(t, spark) })
        lastMaintained(table) = now
    }
  }

  private val lastMaintained =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** One policy run against one table (see [[MaintenancePolicy]] for
    * the operation order and the reference mapping). Caller holds the
    * table's maintenance lease. */
  private def runPolicyOn(t: GraftTable, spark: SparkSession): Unit = {
    val p = maintenance
    val lp = t.layerPressure
    val collapse = lp.layers > 0 && (lp.bytes >= p.minLayerBytes ||
      lp.deleteFraction >= p.deleteThreshold)
    if (collapse) t.collapseLayers(spark)
    if (lp.layers == 0 || collapse) t.compact(spark, p.maxFilesPerBucket)
    if (p.targetFileSizeBytes > 0)
      t.mergeAdjacentFiles(spark, p.targetFileSizeBytes,
        p.maxCompactedFiles, p.minActiveDataFiles)
    if (p.rebucketAboveBytes < Long.MaxValue) {
      val bp = t.basePressure
      if (bp.occupiedBuckets > 0 &&
          bp.bytes / bp.occupiedBuckets > p.rebucketAboveBytes)
        t.rebucket(spark, t.currentNBuckets * 2)
    }
    t.vacuum(p.keepVersions)
  }

  /** EXTERNAL-runner maintenance sweep — one run of the reference's
    * per-run table loop (ducklake/runner.rs:1616 maintenance stats per
    * run; max_tables_per_run materialization.rs:28-29): round-robin
    * over this sink's tables, running the policy under each table's
    * maintenance lease, at most `maintenance.maxTablesPerRun` tables
    * per call. A table whose lease another process holds is skipped
    * without consuming the budget (it keeps its turn — the cursor only
    * advances past tables actually run). Returns the tables maintained
    * this sweep. Safe beside the live apply path: the lease pauses
    * merges at their quiesce point, and `maxPauseMs` bounds the pause. */
  def maintenanceSweep(spark: SparkSession): Seq[String] = {
    val names = tables.keys.toSeq.sorted
    if (names.isEmpty) return Seq.empty
    val start = sweepCursor % names.size
    val order = names.drop(start) ++ names.take(start)
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- order if ran.size < maintenance.maxTablesPerRun) {
      val t = tableFor(name)
      if (t.runMaintenanceUnderLease(leaseOwner,
          ttlMs = maintenance.maxPauseMs) { runPolicyOn(t, spark) }) {
        ran += name
        lastMaintained(name) = System.currentTimeMillis()
        sweepCursor = (names.indexOf(name) + 1) % names.size
      }
    }
    ran.toSeq
  }
  private var sweepCursor = 0

  /** This sink instance's lease identity. */
  private val leaseOwner =
    s"current-state-sink@${java.util.UUID.randomUUID()}"

  /** Retry-once on a lost commit race: external maintenance that ran
    * entirely inside a merge's window commits first and the merge's CAS
    * loses. Nothing was committed by the loser and merges are
    * replay-idempotent, so re-running the call against the fresh
    * snapshot is always safe. */
  private def retryOnConflict[A](body: => A): A =
    try body
    catch { case _: GraftTable.ConcurrentCommitException => body }

  def tableFor(name: String): GraftTable =
    tables.getOrElseUpdate(name,
      new GraftTable(s"$rootDir/$name", keysOf(name), nBuckets,
        mergeOnRead = mergeOnRead,
        morMinAffectedBytes = morMinAffectedBytes))

  override def writeTableRows(table: String, rows: DataFrame): Unit = {
    val t = tableFor(table)
    t.awaitMaintenanceQuiesce(leaseOwner)
    t.overwrite(rows)
  }

  /** Events arrive as flat payload + (_op, _commit_lsn, _tx_ordinal)
    * and optionally `_missing` (comma-separated TOAST-unchanged column
    * names). Rows are merged in per-missing-mask groups so each group's
    * MERGE coalesces exactly its absent columns — the reference's
    * column-pruned UPDATE SET per missing-mask group (SURVEY §7.5.4,
    * bigquery/core.rs partial handling). */
  override def writeEvents(table: String, events: DataFrame): Unit =
    writeEvents(table, events, None)

  override def writeEvents(table: String, events: DataFrame,
      maskHint: Option[Boolean]): Unit =
    applyEvents(table, events, maskHint)

  /** Whether a batch for `table` takes the interpreted lane: its live
    * files are below [[InterpretedLane.BelowBytes]]. */
  private[graft] def interpretedLane(table: String): Boolean = {
    val t = tableFor(table)
    InterpretedLane.choose(s"cdc apply ${t.root}", Seq(t), Nil)
  }

  /** [[writeEvents]] with the merges' copy-on-write lane bounds `lanes`
    * (specs force those lanes through it).
    *
    * Lanes: a small destination ([[interpretedLane]]) applies the whole
    * batch — decode, LWW, PK-change expansion, the merge's stats job,
    * the bucket rewrite and maintenance — in an interpreted clone of the
    * batch's session
    * ([[org.apache.spark.sql.GraftSessionBridge]]). A micro-batch over
    * several small tables otherwise needs more generated classes than
    * Spark's codegen cache holds (100), so every batch evicted and
    * recompiled the previous one's (~17 ms per class); interpreted,
    * those tables compile nothing. Large destinations keep the compiled
    * plans: interpreting a table-scale rewrite costs more than the
    * compile saves. The caller's session is never changed. */
  private[graft] def applyEvents(table: String, events0: DataFrame,
      maskHint: Option[Boolean],
      lanes: GraftTable.CowLanes = GraftTable.CowLanes()): Unit = {
    val t = tableFor(table)
    // pause point: wait out a foreign maintenance lease before merging
    // (the reference's pause/resume around external maintenance)
    t.awaitMaintenanceQuiesce(leaseOwner)
    val events =
      if (interpretedLane(table))
        org.apache.spark.sql.GraftSessionBridge.interpreted(events0)
      else events0
    val metaCols = Set("_op", "_commit_lsn", "_tx_ordinal", "_missing")
    // fast path when the batch carries no actual masks (the stream schema
    // always HAS the column; it is almost always all-null) — the masked
    // path costs per-key window sorts the hot path must not pay. The
    // caller's hint (from its batch-metadata aggregation) saves the probe.
    val hasMasks = events.columns.contains("_missing") &&
      maskHint.getOrElse(!events.filter(col("_missing").isNotNull).isEmpty)
    if (!hasMasks) {
      val deduped = ApplyOps.lastWriterWins(
        events.drop("_missing"), t.keyCols,
        Seq("_commit_lsn", "_tx_ordinal"))
      retryOnConflict(t.merge(seqed(deduped), Nil,
        skipReplayFilter = false, advanceHw = true, lanes))
      noteApplied(table, events.sparkSession)
      return
    }

    // Masked path: resolve in-batch sequential semantics FIRST (a full
    // update followed by a partial one must keep the full update's
    // values — plain LWW would drop the earlier row and wrongly coalesce
    // from pre-batch storage), then merge per residual-mask group.
    val payloadCols = events.columns
      .filterNot(c => metaCols.contains(c) || t.keyCols.contains(c)).toSeq
    val resolved = ApplyOps.maskedLastWriterWins(events, t.keyCols,
      Seq("_commit_lsn", "_tx_ordinal"), payloadCols)
    // replay-filter ONCE: group sequence ranges interleave
    val hw = t.readMeta().highWater
    val withSeq = seqed(resolved)
    val fresh = (if (hw.isEmpty) withSeq
                 else withSeq.filter(col("_seq") > lit(hw))).cache()
    try {
      val stats = fresh.agg(max(col("_seq")),
        collect_set(coalesce(col("_missing"), lit("")))).collect()(0)
      if (stats.isNullAt(0)) return // full replay
      val batchMax = stats.getString(0)
      val masks = stats.getSeq[String](1)
      masks.sorted.foreach { mask =>
        val group = fresh
          .filter(coalesce(col("_missing"), lit("")) === mask)
          .drop("_missing")
        val cols = if (mask.isEmpty) Seq.empty[String]
                   else mask.split(",").toSeq.filter(_.nonEmpty)
        // hw advances only after ALL groups are durable (crash between
        // groups + replay must redeliver the whole batch)
        retryOnConflict(
          t.merge(group, cols, skipReplayFilter = true, advanceHw = false,
            lanes))
      }
      retryOnConflict(t.advanceHighWater(batchMax))
      noteApplied(table, events.sparkSession)
    } finally fresh.unpersist()
  }

  private def seqed(df: DataFrame): DataFrame =
    df.withColumn("_seq",
      SequenceKey.packedHexCol(col("_commit_lsn"), col("_tx_ordinal")))
      .drop("_commit_lsn", "_tx_ordinal")

  override def truncateTable(table: String): Unit = tableFor(table).truncate()

  /** Full SchemaDiff application (reference apply_schema_diff order:
    * adds → renames → changes → drops, bigquery/core.rs:803-946), built
    * on [[GraftTable.applyDdlPlan]] — the idempotent planner: every
    * step checks live state first, so a replayed Relation record (or a
    * crash between the DDL and its data) converges as a no-op.
    *  - RENAME: zero-data-movement mapping commit (columnMapping) —
    *    pre-rename rows stay aligned under the new logical name instead
    *    of forking into a stranded old column + null new column;
    *  - DROP: leaves the logical read schema (files untouched — the
    *    lakehouse drop; a bucket-key drop fails loudly into the
    *    pipeline's per-table quarantine, as it must);
    *  - type change: widening evolve (up-cast reads), non-widening
    *    fails loudly;
    *  - nullability relax: target field goes nullable (tightening is
    *    kept nullable, like the reference warns-and-keeps);
    *  - defaults: no destination action — replicated rows arrive with
    *    source defaults already materialized, and a parquet table has
    *    no fill-in-on-read default surface to set. */
  override def applySchemaDiff(table: String,
      diff: graft.core.SchemaDiff): Unit = {
    import org.apache.spark.sql.types.StructType
    if (diff.isEmpty) return
    val t = tableFor(table)
    // destination not materialized yet (backfill pending / first merge
    // not landed): nothing to move — the first write creates the
    // post-DDL shape directly
    if (t.currentManifest().forall(_.schemaDdl.isEmpty)) return
    t.awaitMaintenanceQuiesce(leaseOwner)
    retryOnConflict {
      val cur = StructType.fromDDL(t.currentManifest().get.schemaDdl)
      val names = cur.fieldNames.toSet
      // replay tolerance: a rename that already landed (old gone, new
      // present) drops out; one whose column never materialized at the
      // destination has nothing to move
      val renames = diff.renames
        .filter { case (f, n) => names(f) && !names(n) }.toMap
      var target = StructType(cur.fields.map { f =>
        renames.get(f.name).fold(f)(n => f.copy(name = n))
      })
      diff.changed.foreach { ch =>
        target = StructType(target.fields.map { f =>
          if (f.name == ch.to.name)
            f.copy(
              dataType =
                if (ch.typeChanged) ch.to.sparkType else f.dataType,
              nullable = f.nullable || ch.nullabilityRelaxed)
          else f
        })
      }
      val dropNames = diff.dropped.map(_.name).toSet
      target = StructType(target.fields.filterNot(f => dropNames(f.name)))
      val have = target.fieldNames.toSet
      target = StructType(target.fields ++ diff.added
        .filterNot(c => have(c.name))
        // pre-DDL rows carry no value for an added column → nullable at
        // the destination regardless of the source constraint
        .map(c => c.sparkField.copy(nullable = true)))
      if (target != cur || renames.nonEmpty) t.applyDdlPlan(target, renames)
    }
    // a rename can touch a KEY column (the reference renames ANY column,
    // PK included) — this handle's keyCols are fixed at construction, so
    // drop it and let the next tableFor re-derive keys from the
    // registry-backed keysOf, which already speaks the new name. Only on
    // SUCCESS: a refused DDL (key drop/retype) must keep the old-keyed
    // handle so the refusal stays deterministic on retry.
    if (diff.renames.nonEmpty) tables.remove(table)
  }

  def read(spark: SparkSession, table: String): DataFrame =
    tableFor(table).read(spark)
}

/** Append-only changelog sink — the Iceberg/Snowflake/ClickHouse-MergeTree
  * shape (reference iceberg/core.rs:27-60, snowflake/core.rs:195-310):
  * every change appended with `cdc_operation` + `sequence_number` columns;
  * dedup is the READER's job (a `latest` view). Idempotent replay via a
  * per-table sequence high-water mark kept in a meta file, like Snowflake's
  * offset token (snowflake/streaming/offset_token.rs).
  */
final class ChangelogSink(rootDir: String) extends CdcSink {
  import java.nio.file.{Files, Paths, StandardCopyOption}

  private def dir(table: String) = s"$rootDir/$table"
  private def hwPath(table: String) = Paths.get(rootDir, s"$table._hw")

  private def readHw(table: String): String =
    if (Files.exists(hwPath(table)))
      new String(Files.readAllBytes(hwPath(table))) else ""

  private def writeHw(table: String, hw: String): Unit = {
    Files.createDirectories(Paths.get(rootDir))
    val tmp = Paths.get(rootDir, s"$table._hw.tmp")
    Files.write(tmp, hw.getBytes)
    Files.move(tmp, hwPath(table), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  override def writeTableRows(table: String, rows: DataFrame): Unit =
    rows.withColumn("cdc_operation", lit("I"))
      .withColumn("sequence_number", lit(""))
      .write.mode("overwrite").parquet(dir(table))

  /** `events`: flat payload + (_op, _commit_lsn, _tx_ordinal). */
  override def writeEvents(table: String, events: DataFrame): Unit = {
    val hw = readHw(table)
    val withSeq = events.withColumn("sequence_number",
        SequenceKey.packedHexCol(col("_commit_lsn"), col("_tx_ordinal")))
      .withColumnRenamed("_op", "cdc_operation")
      .drop("_commit_lsn", "_tx_ordinal")
    val fresh = (if (hw.isEmpty) withSeq
                 else withSeq.filter(col("sequence_number") > lit(hw))).cache()
    try {
      // one job decides emptiness + new high-water (GraftTable pattern)
      val newHw = fresh.agg(max("sequence_number")).collect()(0).getString(0)
      if (newHw == null) return // full replay
      fresh.write.mode("append").parquet(dir(table))
      writeHw(table, newHw)
    } finally fresh.unpersist()
  }

  override def truncateTable(table: String): Unit = {
    // changelog truncate = append nothing, record a T marker is the reader's
    // concern; physical truncate clears the directory. The replay
    // high-water is deleted WITH the data: a replayed truncate batch
    // re-wipes the dir, and a surviving mark would filter the replayed
    // post-truncate appends out forever (same rationale as
    // GraftTable.truncate). The DDL-op map SURVIVES: it is schema
    // metadata, and replayed pre-DDL appends after the wipe must still
    // align under the live names.
    Files.deleteIfExists(hwPath(table))
    graft.core.Fs.deleteRecursively(Paths.get(dir(table)))
  }

  /** `rootDir/table._ddl`: ordered reader-side DDL ops — `R\told\tnew`
    * renames, `D\tname` drops. An append-only changelog cannot rewrite
    * history on DDL at 100 TB; the reference's append-shaped
    * destinations that are real tables rename/drop via engine metadata
    * (snowflake/client.rs:331-391) and its file-shaped one (iceberg)
    * doesn't evolve at all — this map is the file-shaped equivalent of
    * the metadata op: zero data movement, applied at READ, and
    * MATERIALIZED whenever compact() rewrites files (after which the
    * entries become guarded no-ops). */
  private def ddlPath(table: String) = Paths.get(rootDir, s"$table._ddl")

  private def readDdlOps(table: String): Seq[(String, String, String)] =
    if (!Files.exists(ddlPath(table))) Seq.empty
    else new String(Files.readAllBytes(ddlPath(table)),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).toSeq.map { l =>
        val p = l.split("\t", -1)
        (p(0), p(1), if (p.length > 2) p(2) else "")
      }

  /** Renames + drops land as reader-side mapping ops (idempotent:
    * an exact already-recorded op — a replayed Relation record — is
    * skipped). Adds/nullability/defaults need no action here: each
    * append is self-describing and mergeSchema unions the shapes. */
  override def applySchemaDiff(table: String,
      diff: graft.core.SchemaDiff): Unit = {
    if (diff.isEmpty) return
    val existing = readDdlOps(table)
    val fresh =
      (diff.renames.map { case (f, t) => ("R", f, t) } ++
        diff.dropped.map(c => ("D", c.name, "")))
        .filterNot(existing.contains)
    if (fresh.isEmpty) return
    Files.createDirectories(Paths.get(rootDir))
    val tmp = Paths.get(rootDir, s"$table._ddl.tmp")
    Files.write(tmp, (existing ++ fresh)
      .map { case (k, a, b) => s"$k\t$a\t$b" }.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, ddlPath(table), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def read(spark: SparkSession, table: String): DataFrame = {
    recoverSwap(table)
    // mergeSchema: backfill files lack the optional _missing column that
    // streamed files carry; footer-picking would otherwise drop it
    val raw = spark.read.option("mergeSchema", "true").parquet(dir(table))
    readDdlOps(table).foldLeft(raw) { (df, op) =>
      op match {
        case ("R", old, neu) =>
          val mapped =
            (df.columns.contains(old), df.columns.contains(neu)) match {
              // both generations on disk: pre-rename rows fill the new
              // name (a changelog row carries exactly one generation's
              // cell, so coalesce is a pure relabel, never a mask).
              // A diff that renamed AND retyped leaves the generations
              // differently typed — cast the OLD one to the new
              // column's declared type explicitly, or coalesce's
              // implicit coercion picks the common-type widening (e.g.
              // int4→decimal lands at a different precision than the
              // declared cast; r15 verdict wrong-#3)
              case (true, true) =>
                val tgt = df.schema(neu).dataType
                df.withColumn(neu,
                  coalesce(col(neu), col(old).cast(tgt))).drop(old)
              case (true, false) => df.withColumnRenamed(old, neu)
              case _ => df // already materialized by compact / no data
            }
          // TOAST masks name columns AS OF their row's version: a
          // pre-rename mask saying "old" must follow the rename or the
          // latest() resolver stops recognizing it
          if (mapped.columns.contains("_missing"))
            mapped.withColumn("_missing",
              when(col("_missing").isNull, lit(null))
                .otherwise(array_join(
                  transform(split(col("_missing"), ","),
                    x => when(x === old, lit(neu)).otherwise(x)), ",")))
          else mapped
        case ("D", name, _) =>
          if (df.columns.contains(name)) df.drop(name) else df
        case _ => df
      }
    }
  }

  /** Leading `_` keeps the marker invisible to Spark's parquet listing. */
  private def swapMarker(table: String) =
    Paths.get(dir(table), "_compact_swap")

  /** Finish an interrupted compact swap. The marker (written atomically
    * BEFORE any destructive step) records the temp dir holding the full
    * compacted file set and the old live files it replaces, so every step
    * below is idempotent: delete-old is a deleteIfExists, move-in skips
    * names already present. Until the marker lands, a crash leaves the
    * live dir untouched; once it lands, any reader/compactor completes
    * the swap before serving — the changelog is never observed empty or
    * doubled. */
  private def recoverSwap(table: String): Unit = {
    val marker = swapMarker(table)
    if (!Files.exists(marker)) return
    import scala.jdk.CollectionConverters._
    val lines = new String(Files.readAllBytes(marker),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").toVector
    val tmpDir = Paths.get(lines.head)
    val p = Paths.get(dir(table))
    lines.tail.filter(_.nonEmpty)
      .foreach(n => Files.deleteIfExists(p.resolve(n)))
    if (Files.exists(tmpDir)) {
      val st = Files.list(tmpDir)
      val pend = try st.iterator().asScala.toVector finally st.close()
      pend.filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
        val dst = p.resolve(f.getFileName)
        if (!Files.exists(dst)) Files.move(f, dst, StandardCopyOption.ATOMIC_MOVE)
        else Files.deleteIfExists(f)
      }
    }
    Files.deleteIfExists(marker)
    graft.core.Fs.deleteRecursively(tmpDir)
  }

  /** Maintenance: rewrite the changelog into ~`targetFiles` files sorted
    * by sequence_number — the external-maintenance analog of the
    * reference's DuckLake compact (external_maintenance.rs). A streaming
    * sink appends one file set per micro-batch, so an always-on pipeline
    * accretes thousands of small files; compaction restores scan
    * efficiency AND sequence-ordered row groups (min/max stats let
    * incremental consumers skip already-seen ranges). Single-writer
    * maintenance operation: run while the stream is quiesced, like the
    * reference's external maintenance jobs. The replay high-water file is
    * untouched — content is identical, so replay semantics don't change.
    *
    * Crash-safe: the swap is bracketed by a `_compact_swap` marker
    * committed via write-tmp + atomic rename before the first delete;
    * [[recoverSwap]] (run by every read and compact) finishes a swap the
    * process died inside of. */
  def compact(spark: SparkSession, table: String, targetFiles: Int = 1): Unit = {
    val p = Paths.get(dir(table))
    if (!Files.exists(p)) return
    val tmpDir = s"${dir(table)}.compacting"
    read(spark, table) // also completes any interrupted prior swap
      .repartitionByRange(math.max(1, targetFiles),
        org.apache.spark.sql.functions.col("sequence_number"))
      .sortWithinPartitions("sequence_number")
      .write.mode("overwrite").parquet(tmpDir)
    import scala.jdk.CollectionConverters._
    val old = { val st = Files.list(p)
      try st.iterator().asScala.toVector finally st.close() }
      .filter(_.getFileName.toString.endsWith(".parquet"))
    // commit point: marker names the temp dir + every old file to drop
    val body = (tmpDir +: old.map(_.getFileName.toString)).mkString("\n")
    val mtmp = Paths.get(dir(table), "_compact_swap.tmp")
    Files.write(mtmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(mtmp, swapMarker(table), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    recoverSwap(table) // the swap itself IS the recovery path
  }

  /** The `latest` current-state view over the changelog (reference: the
    * ClickHouse ReplacingMergeTree FINAL / view pattern,
    * clickhouse/core.rs:702-760). */
  def latest(spark: SparkSession, table: String, keyCols: Seq[String])
      : DataFrame = {
    val log = read(spark, table)
    if (log.columns.contains("_missing")) {
      // TOAST-masked rows: resolve masked columns from earlier changes of
      // the same key (sequential semantics over the whole log)
      val payloadCols = log.columns.filterNot(c =>
        keyCols.contains(c) || c == "cdc_operation" ||
          c == "sequence_number" || c == "_missing").toSeq
      val resolved = ApplyOps.maskedLastWriterWins(
        log.withColumnRenamed("cdc_operation", "_op"),
        keyCols, Seq("sequence_number"), payloadCols)
      resolved.filter(col("_op") =!= "D")
        .drop("_op", "sequence_number", "_missing")
    } else {
      val deduped = ApplyOps.lastWriterWins(log, keyCols,
        Seq("sequence_number"))
      deduped.filter(col("cdc_operation") =!= "D")
        .drop("cdc_operation", "sequence_number")
    }
  }
}

/** Durable (appId → last committed version) ledger — the file analog of
  * Delta's txnAppId/txnVersion table and Snowflake's channel offset
  * token (reference snowflake/streaming/offset_token.rs): one JSON map,
  * committed by write-tmp + atomic rename, monotonic per app. */
final class TxnLedger(path: String) {
  import java.nio.file.{Files, Paths, StandardCopyOption}
  import java.nio.charset.StandardCharsets

  private def read(): Map[String, Long] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return Map.empty
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    JsonMethods.parse(new String(Files.readAllBytes(p),
      StandardCharsets.UTF_8)).extract[Map[String, Long]]
  }

  def lastCommitted(appId: String): Long = read().getOrElse(appId, -1L)

  def commit(appId: String, version: Long): Unit = synchronized {
    val cur = read()
    if (cur.getOrElse(appId, -1L) >= version) return // monotonic
    val next = cur + (appId -> version)
    val body = next.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${k.replace("\\", "\\\\").replace("\"", "\\\"")}":$v"""
    }.mkString("{", ",", "}")
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Exactly-once decorator for sinks WITHOUT a natural replay high-water
  * mark (the GraftTable/Changelog sinks carry their own): a replayed
  * micro-batch whose batchId is already in the ledger is skipped before
  * any write reaches the inner sink. The ledger commit happens AFTER
  * the inner sink's writes are durable, so a crash inside a batch
  * replays it (at-least-once within the crash window — the reference's
  * delivery contract, destination/base.rs:27-44); a replay after the
  * ledger commit is suppressed entirely. Backfill writes
  * (writeTableRows/truncate outside a batch bracket) pass through:
  * they're made idempotent by the copy protocol itself
  * (drop_table_for_copy + overwrite). */
final class ExactlyOnceSink(inner: CdcSink, ledgerPath: String,
    appId: String) extends CdcSink {
  private val ledger = new TxnLedger(ledgerPath)
  @volatile private var skipping = false

  override def startup(spark: SparkSession): Unit = inner.startup(spark)
  override def beginBatch(batchId: Long): Boolean = {
    skipping = batchId <= ledger.lastCommitted(appId)
    if (!skipping) inner.beginBatch(batchId) else false
  }
  override def commitBatch(batchId: Long): Unit = {
    if (!skipping) {
      inner.commitBatch(batchId)
      ledger.commit(appId, batchId)
    }
    skipping = false
  }
  override def writeTableRows(table: String, rows: DataFrame): Unit =
    inner.writeTableRows(table, rows)
  override def writeEvents(table: String, events: DataFrame): Unit =
    if (!skipping) inner.writeEvents(table, events)
  override def writeEvents(table: String, events: DataFrame,
      maskHint: Option[Boolean]): Unit =
    if (!skipping) inner.writeEvents(table, events, maskHint)
  // like writeTableRows: truncates reaching a sink OUTSIDE a batch
  // bracket are backfill drop_table_for_copy calls, idempotent via the
  // copy protocol — and the in-bracket caller never runs while a replay
  // is being skipped (applyBatch returns before it). Gating this on
  // `skipping` dropped a concurrent backfill's truncate whenever the
  // flag lingered after a skipped replay (no commitBatch resets it).
  override def truncateTable(table: String): Unit =
    inner.truncateTable(table)
  // skipped replays skip the DDL too — it was applied when the batch
  // originally committed, and the inner sink's planner is idempotent
  // anyway
  override def applySchemaDiff(table: String,
      diff: graft.core.SchemaDiff): Unit =
    if (!skipping) inner.applySchemaDiff(table, diff)
  override def shutdown(): Unit = inner.shutdown()
}

/** In-memory sink for tests and as correctness oracle (reference
  * test_utils/memory_destination.rs). */
final class MemorySink extends CdcSink {
  val tableRows = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  val eventBatches =
    scala.collection.concurrent.TrieMap.empty[String, Vector[DataFrame]]
  val truncated = scala.collection.concurrent.TrieMap.empty[String, Int]

  override def writeTableRows(table: String, rows: DataFrame): Unit =
    tableRows.update(table, rows.cache())
  override def writeEvents(table: String, events: DataFrame): Unit =
    eventBatches.updateWith(table) {
      case Some(v) => Some(v :+ events.cache())
      case None    => Some(Vector(events.cache()))
    }
  override def truncateTable(table: String): Unit =
    truncated.updateWith(table) { c => Some(c.getOrElse(0) + 1) }
}

/** Null sink — the zero-cost bench destination (reference
  * etl-benchmarks `--destination null`): forces materialization, discards. */
final class NullSink extends CdcSink {
  override def writeTableRows(table: String, rows: DataFrame): Unit = {
    rows.write.format("noop").mode("overwrite").save()
  }
  override def writeEvents(table: String, events: DataFrame): Unit = {
    events.write.format("noop").mode("overwrite").save()
  }
  override def truncateTable(table: String): Unit = {}
}
