package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.{SchemaRegistry, TableSchemaV}
import graft.operators.ApplyOps
import graft.sinks.CdcSink

/** Pipeline configuration — mirrors the reference's `PipelineConfig` /
  * `BatchConfig` (reference crates/etl-config/src/shared/pipeline.rs:11-111;
  * defaults: 10 s max fill, 8 MiB byte cap, 4 table-sync workers). */
final case class PipelineConfig(
    maxRowsPerTrigger: Long = 100000L,
    maxFillMs: Long = 10000L,
    maxTableSyncWorkers: Int = 4,
    checkpointDir: String,
    stateDir: String,
    /** Byte budget per micro-batch (reference `BatchConfig.max_bytes`,
      * default 8 MiB there); None = row cap only. */
    maxBytesPerTrigger: Option[Long] = None,
    /** Invalidated-slot policy (reference InvalidatedSlotBehavior,
      * etl-config pipeline.rs:123-149): "error" (default) fails startup
      * when the checkpointed offset predates the retained log;
      * "restart" mirrors Recreate — [[CdcPipeline.startStreamRecovering]]
      * drops the checkpoint, resets table states to Init, re-runs
      * backfill, and streams from scratch. */
    onInvalidatedSlot: String = "error",
    /** ST7 memory-pressure admission for the stream source (reference
      * memory_monitor.rs): "off" = row/byte caps only; "modulate" =
      * byte budget halves between the watermarks, minimum admit above
      * the high one (progress never fully stalls); "block" = the
      * reference's exact sticky policy — admission stops at ≥85% until
      * usage falls below 75%. The pressure SIGNAL comes from
      * [[graft.sources.CdcLogSource.memoryUsage]]: driver JVM by
      * default, worst-executor via
      * [[graft.sources.ExecutorMemorySignal.install]] on a cluster. */
    memoryAdmission: String = "off") {
  require(Set("off", "modulate", "block")(memoryAdmission),
    s"memoryAdmission must be off|modulate|block, got '$memoryAdmission'")
}

/** The pipeline orchestrator — Spark shape of the reference's
  * `Pipeline::new → start → wait` (reference crates/etl/src/pipeline.rs:96-309)
  * and the backfill→stream handoff (table_sync/mod.rs:97-434):
  *
  *  1. backfill: per-table snapshot load via a bounded parallel job
  *     submitter (the sync-worker-pool semaphore, pipeline.rs:195-202);
  *     each records its snapshot LSN and walks
  *     Init → DataSync → FinishedCopy → SyncWait → Catchup → SyncDone.
  *  2. stream: ONE StreamingQuery over the CDC source; `foreachBatch`
  *     routes per table, applies the snapshot gate (SyncDone tables only
  *     receive commit_lsn > snapshot), expands PK changes, dedups by
  *     sequence key, and writes through the sink. Tables flip to Ready on
  *     the first gated batch past their LSN (apply.rs:2844-2867).
  *
  * Per-table errors quarantine the table (Errored + retry policy), not the
  * pipeline (ST8). Drain = processAllAvailable + stop (ST9).
  */
final class CdcPipeline(
    spark: SparkSession,
    config: PipelineConfig,
    registry: SchemaRegistry,
    sink: CdcSink,
    /** payload JSON decode: envelope df (before/after JSON strings) →
      * flat typed payload + meta, per schema version. */
    decode: (DataFrame, TableSchemaV) => DataFrame) {

  val stateStore = new TableStateStore(Some(s"${config.stateDir}/tables.json"))

  /** Catchup-spool location for a table: envelope events that arrived
    * while the table's copy was in flight, awaiting replay at handoff. */
  private def spoolPath(tableId: Long): String =
    s"${config.stateDir}/spool/$tableId"

  /** Rows copied during backfill, per table — the copy-progress
    * accumulation (A2, reference copy.rs:62-83) surfaced as Spark
    * accumulators (visible in the UI / status APIs). */
  val copyProgress =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.util.LongAccumulator]

  /** Cumulative per-table apply wall time + batch count — the per-table
    * half of the reference's per-run report (etl-benchmarks JSON shape);
    * PipelineMetrics carries the per-query half. */
  val applyTimings =
    scala.collection.concurrent.TrieMap.empty[Long, (Long, Long)] // id → (ms, batches)

  /** Publication membership reconciliation (S6, reference
    * pipeline.rs:354-421 `initialize_table_states`): tables newly in the
    * publication start at Init; tables no longer published have their
    * state purged (the reference also drops their slots — our analog is
    * clearing checkpointed per-table state; destination data is kept,
    * as in the reference). Returns (added, removed) table ids. */
  def initTableStates(published: Seq[TableSchemaV]): (Seq[Long], Seq[Long]) = {
    val pubIds = published.map(_.tableId).toSet
    val known = stateStore.all.keySet
    val added = published.filterNot(t => known.contains(t.tableId))
    added.foreach(t => stateStore.force(t.tableId, TableState.Init))
    val removed = (known -- pubIds).toSeq
    removed.foreach(stateStore.purge)
    (added.map(_.tableId), removed)
  }

  // ------------------------------------------------------------- backfill
  /** Run snapshot backfill for `tables`; `snapshot` loads the table's
    * consistent snapshot and reports the LSN it was taken at (the slot's
    * consistent_point, table_sync/mod.rs:255-257). */
  def backfill(tables: Seq[TableSchemaV],
      snapshot: TableSchemaV => (DataFrame, Long)): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      config.maxTableSyncWorkers)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = tables.map { t =>
      scala.concurrent.Future {
        // already-synced tables SKIP the copy (the reference only
        // table-syncs states ∈ {Init, DataSync, FinishedCopy},
        // mod.rs:168-180) — a routine restart re-running static
        // backfill config must not re-truncate a Ready table
        val alreadySynced = stateStore.get(t.tableId) match {
          case TableState.SyncWait(_) | TableState.Catchup(_) |
              TableState.SyncDone(_) | TableState.Ready => true
          case _ => false
        }
        if (!alreadySynced) try {
          // Errored tables re-enter via the legal Errored→Init edge;
          // interrupted copies roll back (crash re-copy)
          stateStore.get(t.tableId) match {
            case TableState.Errored(_, _) | TableState.DataSync |
                TableState.FinishedCopy =>
              stateStore.transition(t.tableId, TableState.Init)
            case _ => ()
          }
          // refuse (without destructive side effects) if the table is not
          // in a copy-eligible state — transitions are validated, never
          // silently ignored
          if (!stateStore.transition(t.tableId, TableState.DataSync))
            throw new IllegalStateException(
              s"table ${t.tableId} not copy-eligible " +
                s"(state ${stateStore.get(t.tableId).name})")
          sink.truncateTable(t.tableName) // drop_table_for_copy
          val (df, lsn) = snapshot(t)
          val acc = copyProgress.getOrElseUpdate(t.tableName,
            spark.sparkContext.longAccumulator(s"copied_rows.${t.tableName}"))
          val counted = df.map { r => acc.add(1L); r }(
            org.apache.spark.sql.Encoders.row(df.schema))
          sink.writeTableRows(t.tableName, counted)
          stateStore.transition(t.tableId, TableState.FinishedCopy)
          stateStore.transition(t.tableId, TableState.SyncWait(lsn))
          stateStore.transition(t.tableId, TableState.Catchup(lsn))
          stateStore.transition(t.tableId, TableState.SyncDone(lsn))
          stateStore.clearAttempts(t.tableId)
        } catch {
          case e: Exception =>
            stateStore.recordError(t.tableId, e.getMessage,
              RetryPolicy.TimedRetry())
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
  }

  /** Recovery for quarantined tables (ST8): re-run snapshot backfill for
    * every Errored table — the reference's retry semantics (a table retry
    * RESTARTS its copy, it does not replay dropped events; recovery is
    * re-sync, state/retry_policy.rs + table_sync restart). Returns the
    * table ids retried. Call on a timer for TimedRetry semantics.
    *
    * Safe to call WHILE the stream runs: micro-batches that arrive during
    * the re-copy spool the table's events to disk instead of dropping them
    * (the catchup handoff, see applyBatch) — events committing after the
    * new snapshot LSN are replayed from the spool once the table reaches
    * SyncDone, so the advancing Spark checkpoint cannot strand them. */
  def retryErrored(schemas: Seq[TableSchemaV],
      snapshot: TableSchemaV => (DataFrame, Long)): Seq[Long] = {
    // respect the stored policy + budget: auto-retry only TimedRetry
    // tables with attempts remaining (ManualRetry/NoRetry need an
    // operator; budget exhaustion must not re-truncate forever)
    val toRetry = schemas.filter(t => stateStore.canAutoRetry(t.tableId))
    if (toRetry.nonEmpty) backfill(toRetry, snapshot)
    toRetry.map(_.tableId)
  }

  // ------------------------------------------------------------- streaming
  /** Start the CDC stream from a change-log path. Returns the query;
    * callers drain with `processAllAvailable()` + `stop()` (ST9). */
  def startStream(logPath: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val events = {
      val r = spark.readStream
        .format("graft-cdc")
        .option("path", logPath)
        .option("maxRowsPerTrigger", config.maxRowsPerTrigger.toString)
      val withBytes = config.maxBytesPerTrigger
        .fold(r)(b => r.option("maxBytesPerTrigger", b.toString))
      val withMem = config.memoryAdmission match {
        case "modulate" => withBytes.option("memoryAwareAdmission", "true")
        case "block" => withBytes.option("memoryBlockingAdmission", "true")
        case _ => withBytes
      }
      withMem.load()
    }

    events.writeStream
      .queryName("graft-cdc-apply")
      .option("checkpointLocation", config.checkpointDir)
      .trigger(Trigger.ProcessingTime(config.maxFillMs))
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId))
      .start()
  }

  /** [[startStream]] with the reference's `Recreate` invalidated-slot
    * recovery (InvalidatedSlotBehavior::Recreate, etl-config
    * pipeline.rs:131-145; slot teardown slots.rs:51-72): the stream is
    * started and drained once so the source's retention check runs
    * synchronously; if it fails with slot invalidation and the
    * configured policy is "restart", recovery runs the reference's
    * recreate sequence —
    *   1. drop the Spark checkpoint (the slot recreate: post-restart
    *      offsets restart from the log head),
    *   2. reset every published table to Init and clear its catchup
    *      spool (reference step "reset all table states to Init"),
    *   3. re-run snapshot backfill for all tables (table sync from
    *      scratch — destinations truncate-for-copy, so pre-loss state
    *      cannot linger),
    *   4. start a fresh stream, gated by the new snapshot LSNs.
    * Any other failure — or the "error" policy — rethrows (the
    * reference's Error behavior: operator intervention). Detection is
    * at STARTUP, like the reference's slot check; a mid-run truncation
    * surfaces on the next restart. */
  def startStreamRecovering(logPath: String, schemas: Seq[TableSchemaV],
      snapshot: TableSchemaV => (DataFrame, Long))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    def invalidated(t: Throwable): Boolean =
      t != null && (String.valueOf(t.getMessage).contains("slot invalidated")
        || invalidated(t.getCause))
    try {
      val q = startStream(logPath)
      q.processAllAvailable()
      q
    } catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException
          if invalidated(e) && config.onInvalidatedSlot == "restart" =>
        CdcPipeline.deleteRecursively(
          java.nio.file.Paths.get(config.checkpointDir))
        schemas.foreach { t =>
          stateStore.force(t.tableId, TableState.Init)
          stateStore.clearAttempts(t.tableId)
          CdcPipeline.deleteRecursively(
            java.nio.file.Paths.get(spoolPath(t.tableId)))
        }
        backfill(schemas, snapshot)
        startStream(logPath)
    }
  }

  /** One micro-batch: route → gate → per-version decode → expand → write.
    * Batch is tiny-to-bounded (admission control); the per-table loop is
    * driver-side control flow over METADATA (table list), while all row
    * work stays distributed. */
  private[pipeline] def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    // exactly-once bracket: a sink-side ledger (ExactlyOnceSink) can
    // declare this batchId already committed → skip the whole replay
    if (!sink.beginBatch(batchId)) return
    // cache BEFORE any probe: every later job reuses the one source scan
    val cached = batch.cache()
    try {
      // ONE metadata job for the whole batch: emptiness, Relation control
      // records, per-(table,version) truncate positions, flush LSN, data
      // presence, and TOAST-mask presence all come out of a single
      // aggregation over the cached envelope. The round-3 shape issued
      // four separate driver jobs for these (isEmpty probe, R collect,
      // gated groupBy, max-LSN agg) plus a sink-side mask probe — at
      // sub-second micro-batch cadence the per-job scheduling overhead
      // dominated apply time.
      val hasMissingCol = cached.columns.contains("_missing")
      val metaRows = cached.groupBy(col("_table"), col("_schema_lsn"))
        .agg(
          max(when(col("_op") === "T",
            struct(col("_commit_lsn"), col("_tx_ordinal")))).as("trunc"),
          max(col("_commit_lsn")).as("maxLsn"),
          // collect_list drops nulls → exactly the R payloads (metadata-
          // scale: DDL records, never data volume). The ordinal rides
          // along because collect_list has NO cross-partition ordering
          // guarantee: two Relation records for one (table, schema_lsn)
          // in one tx must replay in tx order or the wrong schema
          // version wins registry.put.
          collect_list(when(col("_op") === "R",
            struct(col("_tx_ordinal").as("o"), col("after").as("p"))))
            .as("rps"),
          max((if (hasMissingCol) col("_missing").isNotNull
               else lit(false)).cast("int")).as("hasMask"),
          sum(when(col("_op") =!= "R" && col("_op") =!= "T", 1L)
            .otherwise(0L)).as("nData"))
        .collect()
      if (metaRows.isEmpty) { sink.commitBatch(batchId); return }
      final case class GroupMeta(tableId: Long, vLsn: Long,
          trunc: Option[(Long, Long)], maxLsn: Long, rPayloads: Seq[String],
          hasMask: Boolean, nData: Long)
      val meta = metaRows.map { r =>
        GroupMeta(r.getLong(0), r.getLong(1),
          Option(r.getStruct(2)).map(t => (t.getLong(0), t.getLong(1))),
          r.getLong(3),
          r.getSeq[org.apache.spark.sql.Row](4)
            .sortBy(_.getLong(0)).map(_.getString(1)),
          r.getInt(5) > 0, r.getLong(6))
      }.toSeq

      // DDL capture (S5): Relation control records carry the new schema
      // version; register them FIRST so same-batch data at the new
      // _schema_lsn decodes against it (the reference's
      // handle_message/handle_relation path, apply.rs:2160-2276,2363).
      meta.filter(_.rPayloads.nonEmpty)
        .sortBy(g => (g.vLsn, g.tableId))
        .foreach { g => g.rPayloads.foreach { p =>
          val parsed = CdcPipeline.parseRelation(g.tableId, g.vLsn, p)
          registry.put(CdcPipeline.alignOrdinals(
            registry.lookup(g.tableId, g.vLsn), parsed)) } }
      // Destination schema evolution (reference handle_relation →
      // apply_schema_diff, bigquery/core.rs:803-946): every version this
      // batch REGISTERS diffs against its registry predecessor and lands
      // at the destination BEFORE any data at that version merges —
      // driven by the Relation record itself, not by data presence, so
      // a pure-DDL commit (a rename with no rows) still moves the
      // destination. The ordinal-keyed diff sees "same ordinal, new
      // name" as a RENAME — the old name-keyed widen forked such a
      // column (pre-rename rows stranded under the old name, new rows
      // under the new). Sink planners are idempotent, so a replayed
      // batch re-applies as a no-op. A failed DDL quarantines the table
      // BEFORE the gates are computed below, withholding its data this
      // batch — merging post-rename rows after a failed rename would
      // cause the exact fork this path exists to prevent.
      meta.filter(_.rPayloads.nonEmpty).sortBy(g => (g.vLsn, g.tableId))
        .foreach { g =>
          val quarantined = stateStore.get(g.tableId) match {
            case _: TableState.Errored => true
            case _ => false
          }
          if (!quarantined) try {
            for {
              prev <- registry.previous(g.tableId, g.vLsn)
              cur <- registry.lookup(g.tableId, g.vLsn)
            } {
              val diff = graft.core.SchemaDiff.between(prev, cur)
              if (!diff.isEmpty) sink.applySchemaDiff(cur.tableName, diff)
            }
          } catch {
            case e: Exception =>
              stateStore.recordError(g.tableId,
                s"schema change at lsn ${g.vLsn} failed: ${e.getMessage}",
                RetryPolicy.TimedRetry())
              Telemetry.counter(Telemetry.WorkerErrorsTotal,
                "Apply failures (quarantined per ST8)").increment()
          }
        }
      val stateSnap = stateStore.all
      val (allowed, gates) = stateStore.applyGates

      // Catchup handoff (reference SyncWait/Catchup, apply.rs:2907-2970):
      // a table whose copy is IN FLIGHT must not have its events silently
      // dropped while the Spark checkpoint advances — events committing
      // after the new snapshot LSN would be stranded forever. The
      // reference pauses its apply worker; a foreachBatch cannot hold one
      // table's rows back, so it SPOOLS them to disk and replays the
      // spool through the snapshot gate once the table reaches SyncDone.
      // (Init/Errored tables still drop: their future snapshot is taken
      // after this batch, so the copy itself covers these events.)
      val copying = stateSnap.collect {
        case (id, s) if CdcPipeline.copyInFlight(s) => id }.toSet
      if (copying.nonEmpty) {
        val toSpool = cached.filter(col("_op") =!= "R" &&
          col("_table").isin(copying.toSeq.map(java.lang.Long.valueOf): _*))
        // nData OR a truncate: a truncate-only batch for a copy-in-flight
        // table must spool too, or a post-snapshot-LSN TRUNCATE is
        // dropped while the checkpoint advances (same condition as the
        // steady-state plan below)
        val present = meta.filter(g => copying(g.tableId) &&
            (g.nData > 0 || g.trunc.nonEmpty))
          .map(_.tableId).distinct
        present.foreach { id =>
          toSpool.filter(col("_table") === id)
            .write.mode("append").parquet(spoolPath(id))
        }
      }
      // tables past their copy with a pending spool → drain this batch
      // (replayed spool entries and replayed batch rows can overlap, so
      // the union dedups on the globally-unique event sequence key)
      val drainable = allowed.filter(id =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(spoolPath(id))))
      val base = cached.filter(col("_op") =!= "R" &&
        col("_table").isin(allowed.toSeq.map(java.lang.Long.valueOf): _*))
      val combined = if (drainable.isEmpty) base else {
        val spooled = drainable.toSeq.sorted.map { id =>
          spark.read.schema(graft.sources.CdcLogSource.schema)
            .parquet(spoolPath(id)) }.reduce(_ unionByName _)
        base.unionByName(spooled, allowMissingColumns = true)
          .dropDuplicates("_commit_lsn", "_tx_ordinal")
      }
      val gated = ApplyOps.snapshotGate(combined, gates)

      // Steady state (no gate, no spool): gated == base, so the combined
      // metadata IS the per-(table,version) plan — zero extra jobs. With
      // an active handoff the gate/drain can change which events (and
      // truncates) survive, so re-derive the plan over `gated` — one
      // extra job only while a copy is handing off.
      val batchMeta: Map[(Long, Long), Option[(Long, Long)]] =
        if (gates.isEmpty && drainable.isEmpty)
          meta.filter(g => allowed(g.tableId) &&
              (g.nData > 0 || g.trunc.nonEmpty))
            .map(g => (g.tableId, g.vLsn) -> g.trunc).toMap
        else gated
          .groupBy("_table", "_schema_lsn")
          .agg(max(when(col("_op") === "T",
            struct(col("_commit_lsn"), col("_tx_ordinal")))).as("trunc"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) ->
            Option(r.getStruct(2)).map(t => (t.getLong(0), t.getLong(1))))
          .toMap
      // TOAST-mask hint per (table, version): lets the sink skip its own
      // mask-probe job. Only trustworthy when gating removed nothing.
      val maskHint: ((Long, Long)) => Option[Boolean] =
        if (gates.isEmpty && drainable.isEmpty) {
          val m = meta.map(g => (g.tableId, g.vLsn) -> g.hasMask).toMap
          k => m.get(k)
        } else _ => None
      // drainable tables join the loop even when every spooled event gets
      // gated away (spool ≤ snapshot ⇒ covered by the copy): their spool
      // still needs deleting
      val tablesInBatch =
        (batchMeta.keys.map(_._1).toSet ++ drainable).toSeq.sorted

      // Per-table apply runs CONCURRENTLY (bounded by the sync-worker
      // budget): tables are independent streams in the reference too —
      // sequencing matters only WITHIN a table, which each task preserves.
      // Spark's scheduler interleaves the submitted jobs across the
      // executor pool, so small tables no longer serialize behind big ones.
      val applyPool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(config.maxTableSyncWorkers, tablesInBatch.size)))
      implicit val applyEc: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(applyPool)
      val applyFutures = tablesInBatch.map { tableId =>
        scala.concurrent.Future {
        val applyT0 = System.nanoTime()
        try {
          val tEvents = gated.filter(col("_table") === tableId)
          val versions = batchMeta.keys.filter(_._1 == tableId)
            .map(_._2).toSeq.sorted
          versions.foreach { vLsn =>
            val schema = registry.lookup(tableId, vLsn).getOrElse(
              throw new IllegalStateException(
                s"no schema for table $tableId at lsn $vLsn"))
            val slice = tEvents.filter(col("_schema_lsn") === vLsn)
            // Truncate ordering (D1, bigquery/core.rs:1110-1160): a batch
            // may interleave data around a TRUNCATE. Sequentially that is
            // merge(pre) → wipe → merge(post); the final state equals
            // wipe → merge(events after the LAST truncate), which is one
            // truncate + one merge instead of three jobs.
            val dataSlice = batchMeta((tableId, vLsn)) match {
              case None => slice
              case Some((tLsn, tOrd)) =>
                sink.truncateTable(schema.tableName)
                slice.filter(struct(col("_commit_lsn"), col("_tx_ordinal")) >
                  struct(lit(tLsn), lit(tOrd)))
            }
            // PK-change expansion (J1, reference bigquery/core.rs:1425-1475):
            // an update whose replica-identity columns changed becomes
            // DELETE(old key) + UPSERT(new row). Old and new key rows land
            // on different merge keys, so both survive LWW dedup.
            val idCols = schema.identityColumns
            val expanded = if (idCols.isEmpty) dataSlice else {
              // keys compare as the packed images' canonical TEXT cells
              // (one producer renders both sides of a row, so within-row
              // equality is exact); a JSON image fails the parse
              val specs = schema.replicatedColumns
              val keyIdx = specs.zipWithIndex.collect {
                case (s, i) if idCols.contains(s.name) => i }
              val strKs = org.apache.spark.sql.types.StructType(
                keyIdx.indices.map(o =>
                  org.apache.spark.sql.types.StructField(s"_k$o",
                    org.apache.spark.sql.types.StringType)))
              def keyRep(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
                import org.apache.spark.sql.GraftColumnBridge
                import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
                import org.apache.spark.sql.types.{ArrayType, StringType}
                val cells = GraftColumnBridge.column(StaticInvoke(
                  graft.functions.PgPackedRowCodec.getClass,
                  ArrayType(StringType, containsNull = true), "parse",
                  Seq(GraftColumnBridge.expression(payload)),
                  inputTypes = Seq(StringType)))
                // struct(...) is never null, so the null payload guard
                // must come first or U-rows without a before image would
                // wrongly read as key changes
                when(payload.isNull, lit(null).cast(strKs))
                  .otherwise(struct(keyIdx.zipWithIndex.map { case (ci, o) =>
                    try_element_at(cells, lit(ci + 1)).as(s"_k$o") }: _*))
              }
              val withK = dataSlice
                .withColumn("_bk", keyRep(col("before")))
                .withColumn("_ak", keyRep(col("after")))
              val changed = col("_op") === "U" && col("_bk").isNotNull &&
                !(col("_bk") <=> col("_ak"))
              val unex = withK.filter(!changed)
              val dels = withK.filter(changed)
                .withColumn("_op", lit("D"))
                .withColumn("after", lit(null).cast("string"))
              val upss = withK.filter(changed)
                .withColumn("before", lit(null).cast("string"))
              unex.unionByName(dels).unionByName(upss).drop("_bk", "_ak")
            }
            val data0 = decode(expanded.filter(col("_op") =!= "T"), schema)
            // Align this slice to the LATEST registered schema before
            // the sink sees it: the destination evolved to the newest
            // shape when the batch's Relation diffs applied (above), so
            // an EARLIER version's events must arrive under the newest
            // column names — unaligned, a renamed column forks at the
            // destination (old-name rows under a resurrected old
            // column) and a renamed KEY column misses the merge key
            // entirely. The ordinal-keyed diff between slice version
            // and latest gives the rename chain; columns the latest
            // dropped are withheld (no destination column holds them);
            // TOAST masks name columns too, so `_missing` entries
            // follow the renames. Steady state (one live version) takes
            // the first branch: zero per-row work, zero extra plan.
            val latest = registry.latest(tableId).getOrElse(schema)
            val data =
              if (latest.snapshotLsn == schema.snapshotLsn) data0
              else {
                val chain = graft.core.SchemaDiff.between(schema, latest)
                // two-phase (via temp names): a chain where one column
                // takes another's OLD name (a→b while b→c) would
                // otherwise collide mid-fold into duplicate columns
                val rn = chain.renames.zipWithIndex.map {
                  case ((f, t), i) => (f, s"__graft_rn_$i", t) }
                val renamed = rn.foldLeft(rn.foldLeft(data0) {
                  case (df, (f, tmp, _)) => df.withColumnRenamed(f, tmp)
                }) { case (df, (_, tmp, t)) => df.withColumnRenamed(tmp, t) }
                val masked =
                  if (chain.renames.isEmpty ||
                      !renamed.columns.contains("_missing")) renamed
                  else {
                    val rm = map(chain.renames.flatMap { case (f, t) =>
                      Seq(lit(f), lit(t)) }: _*)
                    renamed.withColumn("_missing",
                      when(col("_missing").isNull, col("_missing"))
                        .otherwise(array_join(
                          transform(split(col("_missing"), ","),
                            x => coalesce(element_at(rm, x), x)), ",")))
                  }
                masked.drop(chain.dropped.map(_.name)
                  .filter(masked.columns.contains): _*)
              }
            sink.writeEvents(latest.tableName, data,
              maskHint((tableId, vLsn)))
          }
          // handoff completion: SyncDone table that has now seen a batch
          // with events PAST its gate becomes Ready (apply.rs:2844-2867).
          // A drain whose events were all gated away stays SyncDone — the
          // gate must keep filtering until a post-snapshot event arrives
          // (Ready tables are ungated).
          stateStore.get(tableId) match {
            case TableState.SyncDone(_) if versions.nonEmpty =>
              stateStore.transition(tableId, TableState.Ready)
              stateStore.clearAttempts(tableId)
            case _ => ()
          }
          // spool fully applied (or fully covered by the copy) → drop it;
          // a crash before this delete just re-drains idempotently (the
          // sinks' high-water marks absorb the duplicate delivery)
          if (drainable.contains(tableId))
            CdcPipeline.deleteRecursively(
              java.nio.file.Paths.get(spoolPath(tableId)))
        } catch {
          case e: Exception =>
            // per-table quarantine, pipeline survives (ST8)
            stateStore.recordError(tableId, e.getMessage,
              RetryPolicy.TimedRetry())
            Telemetry.counter(Telemetry.WorkerErrorsTotal,
              "Apply failures (quarantined per ST8)").increment()
        } finally {
          val ms = (System.nanoTime() - applyT0) / 1000000L
          applyTimings.updateWith(tableId) {
            case Some((t, n)) => Some((t + ms, n + 1))
            case None         => Some((ms, 1L))
          }
          // observability.rs parity: per-table apply duration +
          // transaction count under the reference's metric names
          Telemetry.histogram(Telemetry.TransactionDurationSeconds,
            "Per-table apply duration per micro-batch")
            .observe(ms / 1000.0, Seq("table" -> tableId.toString))
          Telemetry.counter(Telemetry.TransactionsTotal,
            "Applied table-batches").increment(1.0,
            Seq("table" -> tableId.toString))
        }
        }
      }
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(applyFutures),
        scala.concurrent.duration.Duration.Inf)
      finally applyPool.shutdown()
      stateStore.upsertFlushLsn(meta.map(_.maxLsn).max)
      // ledger commit only after every table's writes are durable (a
      // quarantined table's events are recovered by its re-sync, not by
      // batch replay — reference retry semantics, ST8)
      sink.commitBatch(batchId)
    } finally cached.unpersist()
  }
}

object CdcPipeline {
  import graft.core.ColumnSpec

  /** Embedded-entry preflight façade (the validator suite the
    * `Replicator` binary runs at startup, exposed to library users who
    * drive [[CdcPipeline]] directly — the reference performs its
    * validation in etl-api before a replicator deploys,
    * validators/{pipeline,replica_identity,primary_key}.rs; an embedded
    * engine must be able to run the same checks without the binary's
    * property file). Opens ONE short-lived non-replication connection
    * from `source`, runs config + source + (for merge-shaped
    * destinations) primary-key validation, and returns the aggregated
    * findings — pass them to [[graft.sources.Preflight.enforce]] to
    * abort on criticals, or inspect/log them directly.
    *
    * @param destinationShape Some(label) adds the primary-key audit and
    *   attributes findings to that destination (e.g. "current-state
    *   merge", "JDBC merge"); None = append-changelog shape, no PK
    *   requirement.
    * @param config optional pipeline-property lookup for the static
    *   config checks (slot/publication name syntax, trigger bounds);
    *   the default checks nothing. */
  def preflight(source: graft.sources.PgSourceConfig,
      maxTableSyncWorkers: Int = 4,
      destinationShape: Option[String] = None,
      config: String => Option[String] = _ => None)
      : Seq[graft.sources.PreflightFailure] = {
    val cfg = graft.sources.Preflight.validateConfig(config)
    val conn = new graft.sources.PgWireConnection(source.host,
      source.port, source.user, source.database, source.password,
      replication = false, sslMode = source.sslMode,
      sslRootCert = source.sslRootCert)
    conn.connect()
    val wire =
      try {
        val src = graft.sources.Preflight.validateSource(conn,
          source.publication, maxTableSyncWorkers,
          protoVersion = source.protoVersion,
          binaryMode = source.binaryMode, slotName = source.slot)
        val pk = destinationShape.map(shape =>
          graft.sources.Preflight.validatePrimaryKeys(conn,
            source.publication, shape)).getOrElse(Nil)
        src ++ pk
      } finally conn.close()
    cfg ++ wire
  }

  /** A copy is IN FLIGHT from the moment its snapshot LSN may have been
    * captured (DataSync) until the handoff (SyncDone): in that window
    * streamed events must be spooled, not dropped. Init/Errored are NOT in
    * flight — their next snapshot is taken later and covers today's
    * events. */
  private[pipeline] def copyInFlight(s: TableState): Boolean = s match {
    case TableState.DataSync | TableState.FinishedCopy => true
    case TableState.SyncWait(_) | TableState.Catchup(_) => true
    case _ => false
  }

  private[pipeline] def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.core.Fs.deleteRecursively(p)

  /** Standard envelope decode: before/after images → flat typed payload
    * + (_op, _commit_lsn, _tx_ordinal), against the schema version in
    * force. The single shared implementation for the replicator binary,
    * queries, and tests. Images are `=`-prefixed PACKED payloads
    * ([[graft.core.PackedRow]]), the only data-image format: one
    * codegen'd `StaticInvoke` cell split + positional Postgres-text
    * casts, no JSON library in the apply path. Any other payload (a
    * `{`-prefixed JSON image included) fails the query that evaluates
    * it, and the pipeline quarantines that table.
    *
    * Positional contract: packed cells follow `schema.replicatedColumns`
    * order, which descends from the same Relation message that ordered
    * the producer's tuple. */
  def jsonDecode(df: DataFrame, schema: TableSchemaV): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val specs = schema.replicatedColumns
    val payload = coalesce(col("after"), col("before"))
    val cells = GraftColumnBridge.column(StaticInvoke(
      graft.functions.PgPackedRowCodec.getClass,
      ArrayType(StringType, containsNull = true),
      "parse",
      Seq(GraftColumnBridge.expression(payload)),
      inputTypes = Seq(StringType)))
    val fields = specs.zipWithIndex.map { case (spec, i) =>
      // try_element_at: a key-only image (REPLICA IDENTITY DEFAULT
      // deletes) packs fewer cells than the schema — absent → null
      graft.sources.PgCopy.decodeColumn(
        try_element_at(cells, lit(i + 1)), spec).as(spec.name)
    }
    val meta = Seq(col("_op"), col("_commit_lsn"), col("_tx_ordinal")) ++
      (if (df.columns.contains("_missing")) Seq(col("_missing")) else Nil)
    df.select((fields ++ meta).toIndexedSeq: _*)
  }

  /** Parse a Relation control record's schema payload — the analog of the
    * reference's DDL event-trigger message (serialized table schema,
    * migrations/source/20260415100000_schema_change_messages.up.sql) and
    * of pgoutput's Relation message column flags. Format:
    * `{"table":"name","cols":[{"name":..,"type":..,"nullable":..,
    * "pk":..,"mod":..,"repl":..,"ident":..}, ...]}` — `mod` is the type
    * modifier (numeric precision/scale pack), `repl`/`ident` the
    * per-column ReplicationMask / IdentityMask bits (reference
    * crates/etl/src/schema.rs:69,207; pgoutput Relation column flag 1 =
    * part of the replica identity). Optional `ord` carries the
    * pg_attribute.attnum (keys the destination SchemaDiff; 0/absent =
    * positional) and `default` the pg_attrdef expression. Optional
    * fields default like the reference's (replicated, not identity,
    * no modifier). */
  def parseRelation(tableId: Long, schemaLsn: Long, json: String): TableSchemaV = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(json)
    // the REFERENCE's event-trigger payload (pg_catalog-shaped:
    // `columns[].attname/attnum/typname/…` + `identity` — see its
    // migrations/source/20260415100000_schema_change_messages.up.sql)
    // is detected by its `columns` key and mapped verbatim, so a source
    // already running the reference's DDL-capture migration is a
    // drop-in — with REAL attnums and default expressions feeding the
    // ordinal-keyed SchemaDiff
    if ((j \ "columns") != JNothing && (j \ "relname") != JNothing)
      return parseReferenceDdl(tableId, schemaLsn, j)
    val name = (j \ "table").extract[String]
    val cols = (j \ "cols").extract[List[JValue]].zipWithIndex.map {
      case (c, _) =>
        ColumnSpec(
          name = (c \ "name").extract[String],
          pgType = (c \ "type").extract[String],
          nullable = (c \ "nullable").extractOrElse[Boolean](true),
          pkOrdinal = (c \ "pk").extractOrElse[Int](0),
          modifier = (c \ "mod").extractOrElse[Int](-1),
          replicated = (c \ "repl").extractOrElse[Boolean](true),
          identity = (c \ "ident").extractOrElse[Boolean](false),
          // attnum (stable across renames/drops — keys SchemaDiff;
          // reference ColumnSchemaMessage.attnum, codec/event.rs:190);
          // absent → 0 = positional fallback
          ordinal = (c \ "ord").extractOrElse[Int](0),
          default = (c \ "default").extractOpt[String])
    }
    TableSchemaV(tableId, name, schemaLsn, cols.toIndexedSeq)
  }

  /** Ordinal continuity across transport generations (the reference's
    * note_waiting_for_relation, apply.rs:2252-2257: after a DDL message
    * stores an attnum-keyed version, the NEXT pgoutput Relation must
    * rebuild from the stored version, not from its own positional
    * view): when a new POSITIONAL version (no attnums — the wire
    * Relation message carries none) follows an attnum-carrying
    * predecessor, inherit each column's ordinal BY NAME; unseen names
    * get fresh ordinals above the predecessor's max. Without this, the
    * redundant Relation message pgoutput synthesizes after every DDL
    * would mis-diff against the DDL-sourced version (positions vs
    * attnums — a historical mid-table drop shifts every later
    * position) and fork columns at the destination. Chains that are
    * consistently positional pass through untouched, so Relation-only
    * rename detection stays intact. */
  def alignOrdinals(prev: Option[TableSchemaV],
      next: TableSchemaV): TableSchemaV =
    prev match {
      case Some(p) if next.columns.forall(_.ordinal == 0) &&
          p.columns.exists(_.ordinal > 0) =>
        val byName = p.columns.zipWithIndex.map { case (c, i) =>
          c.name -> (if (c.ordinal > 0) c.ordinal else i + 1) }.toMap
        var fresh = byName.values.max
        next.copy(columns = next.columns.map { c =>
          byName.get(c.name) match {
            case Some(o) => c.copy(ordinal = o)
            case None => fresh += 1; c.copy(ordinal = fresh)
          }
        })
      case _ => next
    }

  /** Map the reference event trigger's pg_catalog-shaped DDL payload
    * (one full-column snapshot per ALTER TABLE) into the engine's
    * versioned schema:
    *   attname→name, typname→pgType, atttypmod→modifier,
    *   !attnotnull→nullable, attnum→ordinal (the SchemaDiff key),
    *   default_expression (when atthasdef)→default;
    *   pkOrdinal from `identity.primary_key_attnums` order; the
    *   identity mask from `replica_identity_index_attnums` (falls back
    *   to the primary key, PostgreSQL's `relreplident = 'd'`
    *   semantics). Columns are replicated=true: the trigger only fires
    *   for published tables, and per-column publication masks travel
    *   on Relation messages, not here (same split as the reference's
    *   reader). */
  private def parseReferenceDdl(tableId: Long, schemaLsn: Long,
      j: org.json4s.JValue): TableSchemaV = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val name = (j \ "relname").extract[String]
    val pkAttnums = (j \ "identity" \ "primary_key_attnums")
      .extractOrElse[List[Int]](Nil)
    val replIdx = (j \ "identity" \ "replica_identity_index_attnums")
      .extractOrElse[List[Int]](Nil)
    val identAttnums = if (replIdx.nonEmpty) replIdx else pkAttnums
    val cols = (j \ "columns").extract[List[JValue]].map { c =>
      val attnum = (c \ "attnum").extract[Int]
      ColumnSpec(
        name = (c \ "attname").extract[String],
        pgType = (c \ "typname").extract[String],
        nullable = !(c \ "attnotnull").extractOrElse[Boolean](false),
        pkOrdinal = pkAttnums.indexOf(attnum) + 1, // 0 when absent
        modifier = (c \ "atttypmod").extractOrElse[Int](-1),
        replicated = true,
        identity = identAttnums.contains(attnum),
        ordinal = attnum,
        default =
          if ((c \ "atthasdef").extractOrElse[Boolean](false))
            (c \ "default_expression").extractOpt[String]
          else None)
    }
    TableSchemaV(tableId, name, schemaLsn, cols.toIndexedSeq)
  }
}
