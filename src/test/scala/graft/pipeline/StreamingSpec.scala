package graft.pipeline

import graft.PackedImage.img
import graft.SparkSpec
import graft.core.{ColumnSpec, SchemaRegistry, TableSchemaV}
import graft.sinks.{CurrentStateSink, ExactlyOnceSink, MemorySink, TxnLedger}
import graft.sources.CdcLogSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

/** End-to-end streaming tests over the DSv2 CDC source — the Spark analog
  * of the reference's pipeline integration suite
  * (crates/etl/tests/pipeline.rs: copy + stream against a live source with
  * the memory destination as golden sink; restart tests mirror
  * pipeline_with_failpoints.rs kill/restart-between-batches scenarios). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private val usersSchema = TableSchemaV(1L, "users", 0L, IndexedSeq(
    ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
    ColumnSpec("name", "text"),
    ColumnSpec("age", "int4")))

  private def decode(df: DataFrame, schema: TableSchemaV): DataFrame =
    CdcPipeline.jsonDecode(df, schema)

  private def appendLog(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private def ins(lsn: Long, ord: Long, id: Long, name: String, age: Int) =
    CdcLogSource.renderLine("I", 1L, lsn, lsn, ord, 0L, None,
      Some(img(id, name, age)))
  private def upd(lsn: Long, ord: Long, id: Long, name: String, age: Int) =
    CdcLogSource.renderLine("U", 1L, lsn, lsn, ord, 0L,
      Some(img(id)),
      Some(img(id, name, age)))
  private def del(lsn: Long, ord: Long, id: Long) =
    CdcLogSource.renderLine("D", 1L, lsn, lsn, ord, 0L,
      Some(img(id)), None)

  private def mkPipeline(dir: String, sink: CurrentStateSink) = {
    val registry = new SchemaRegistry
    registry.put(usersSchema)
    new CdcPipeline(spark,
      PipelineConfig(maxRowsPerTrigger = 4, maxFillMs = 50,
        checkpointDir = s"$dir/ckpt", stateDir = s"$dir/state"),
      registry, sink, decode)
  }

  test("steady-state micro-batch cost: one metadata job + sink apply only") {
    // Perf-shape tripwire for the round-4 apply consolidation: a
    // steady-state batch (Ready table, no gates/spool/masks) issues ONE
    // driver metadata aggregation plus the sink's merge jobs; AQE adds
    // per-query-stage jobs on top. The copy-on-write merge collects the
    // batch once and rewrites the small table in one task: 7 jobs in
    // all. Round 3 ran four extra per-concern driver collects
    // (isEmpty/R/plan/maxLsn) plus a sink mask probe — ~15 jobs.
    val dir = tmp("cdc-jobs")
    val log = s"$dir/wal.log"
    appendLog(log, (1L to 3L).map(i => ins(i, 0, i, s"u$i", 20)))
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.stateStore.force(1L, TableState.Ready)
    val q = pipeline.startStream(log)
    q.processAllAvailable() // batch 1: table bootstrap (not measured)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      appendLog(log, Seq(upd(10L, 0L, 1L, "u1b", 21)))
      q.processAllAvailable() // batch 2: steady state
      Thread.sleep(500) // let queued listener events drain
    } finally spark.sparkContext.removeSparkListener(listener)
    q.stop()
    assert(jobs.get() <= 7,
      s"steady-state micro-batch ran ${jobs.get()} jobs (apply-path " +
        "consolidation regressed?)")
    assert(sink.read(spark, "users").filter($"id" === 1L)
      .select("name").as[String].head() == "u1b")
  }

  test("packed envelopes: PK-changing update expands to DELETE(old)+UPSERT(new)") {
    // the J1 expansion compares the packed key cells of the before and
    // after images (a JSON-only key parse once read packed keys as null
    // and never expanded — the old key's row survived forever)
    val dir = tmp("cdc-pk-packed")
    val log = s"$dir/wal.log"
    def packed(id: Long, name: String, age: Int) =
      graft.core.PackedRow.render(
        Seq(Some(id.toString), Some(name), Some(age.toString)))
    appendLog(log, Seq(
      CdcLogSource.renderLine("I", 1L, 1L, 1L, 0L, 0L, None,
        Some(packed(1L, "a", 10))),
      CdcLogSource.renderLine("I", 1L, 1L, 1L, 1L, 0L, None,
        Some(packed(5L, "e", 50)))))
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.stateStore.force(1L, TableState.Ready)
    val q = pipeline.startStream(log)
    q.processAllAvailable()
    // key 1 → 2 (packed before/after), while key 5 gets a plain update
    appendLog(log, Seq(
      CdcLogSource.renderLine("U", 1L, 2L, 2L, 0L, 0L,
        Some(packed(1L, "a", 10)), Some(packed(2L, "a", 11))),
      CdcLogSource.renderLine("U", 1L, 2L, 2L, 1L, 0L,
        Some(packed(5L, "e", 50)), Some(packed(5L, "e2", 51)))))
    q.processAllAvailable()
    q.stop()
    val rows = sink.read(spark, "users").select("id", "name", "age")
      .as[(Long, String, Int)].collect().toSet
    // old key 1 must be GONE, new key 2 present; key 5 updated in place
    assert(rows == Set((2L, "a", 11), (5L, "e2", 51)), rows)
  }

  test("raw source: admission control splits batches; offsets progress") {
    val dir = tmp("cdc-src")
    val log = s"$dir/wal.log"
    appendLog(log, (1L to 10L).map(i => ins(i, 0, i, s"u$i", 20)))
    val q = spark.readStream.format("graft-cdc")
      .option("path", log).option("maxRowsPerTrigger", "3").load()
      .writeStream.format("memory").queryName("src_out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    assert(spark.table("src_out").count() == 10)
    // 10 events / 3 per trigger → at least 4 non-empty micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
    q.stop()
    // commit() persisted monotonic progress beside the log. Spark commits
    // offset N when planning batch N+1, so the file trails the final batch
    // by one — the reference has the same shape (flush LSN confirms the
    // PREVIOUS durable write, apply.rs:1768).
    val progress = new String(Files.readAllBytes(Paths.get(log + ".progress")))
    val committed = "\"commitLsn\":(\\d+)".r
      .findFirstMatchIn(progress).get.group(1).toLong
    assert(committed >= 7L && committed <= 10L)
  }

  test("live appends between triggers: incremental index delivers only the delta") {
    val dir = tmp("cdc-live")
    val log = s"$dir/wal.log"
    appendLog(log, (1L to 4L).map(i => ins(i, 0, i, s"u$i", 20)))
    val q = spark.readStream.format("graft-cdc")
      .option("path", log).load()
      .writeStream.format("memory").queryName("live_out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    assert(spark.table("live_out").count() == 4)
    // grow the log while the query runs — the driver index parses only
    // the appended suffix and the next batch reads only its byte window
    appendLog(log, (5L to 9L).map(i => ins(i, 0, i, s"u$i", 20)))
    q.processAllAvailable()
    assert(spark.table("live_out").count() == 9)
    appendLog(log, Seq(ins(10L, 0, 10L, "u10", 20)))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("live_out").select("_commit_lsn")
      .as[Long].collect().sorted.toSeq
    assert(ids == (1L to 10L)) // no duplicates, no gaps across deltas
  }

  test("truncated log + checkpointed offset = slot invalidation: error / earliest (ST10)") {
    val dir = tmp("cdc-slot")
    val log = s"$dir/wal.log"
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    def run(extra: Map[String, String]): Unit = {
      var reader = spark.readStream.format("graft-cdc").option("path", log)
      extra.foreach { case (k, v) => reader = reader.option(k, v) }
      val q = reader.load().writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(b.count()): Unit)
        .start()
      try { q.processAllAvailable() } finally q.stop()
    }
    appendLog(log, (1L to 6L).map(i => ins(i, 0, i, s"u$i", 20)))
    run(Map.empty)
    assert(seen.get() == 6)

    // "slot invalidated": retention dropped entries 1..8, incl. unseen 7-8
    Files.write(Paths.get(log),
      (Seq(ins(9L, 0, 9L, "u9", 20), ins(10L, 0, 10L, "u10", 20))
        .mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(Map.empty)
    }
    assert(err.getMessage.contains("slot invalidated") ||
      String.valueOf(err.getCause.getMessage).contains("slot invalidated"))

    // Restart-style policy resumes from the earliest retained entry
    run(Map("onMissingOffset" -> "earliest"))
    assert(seen.get() == 8) // 6 + the 2 retained entries
  }

  test("slot invalidation with restart policy: drop checkpoint, states " +
      "to Init, re-backfill, fresh stream (ST10 Restart)") {
    val dir = tmp("cdc-restartpol")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val registry = new SchemaRegistry
    registry.put(usersSchema)
    def pipe(policy: String) = new CdcPipeline(spark,
      PipelineConfig(maxRowsPerTrigger = 4, maxFillMs = 50,
        checkpointDir = s"$dir/ckpt", stateDir = s"$dir/state",
        onInvalidatedSlot = policy),
      registry, sink, decode)
    val pipeline = pipe("restart")

    // epoch 1: copy at LSN 0, stream lsns 1-2
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30), (2L, "b", 31)).toDF("id", "name", "age"), 0L))
    appendLog(log, Seq(upd(1L, 0, 1L, "a2", 30), ins(2L, 0, 3L, "c", 32)))
    val q1 = pipeline.startStream(log)
    q1.processAllAvailable(); q1.stop()
    assert(sink.read(spark, "users").select("id").as[Long].collect().toSet
      == Set(1L, 2L, 3L))

    // "slot invalidated": retention rewrote the log keeping only lsns
    // 9-10; lsns 3-8 (del id2, ins id4 "d") were lost UNSEEN. The
    // source of truth meanwhile reflects everything through lsn 8.
    Files.write(Paths.get(log),
      (Seq(upd(9L, 0, 4L, "d2", 34), ins(10L, 0, 5L, "e", 35))
        .mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))

    // error policy (default) refuses, reference Error behavior
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = pipe("error").startStream(log)
      try q.processAllAvailable() finally q.stop()
    }
    assert(String.valueOf(err.getMessage).contains("slot invalidated") ||
      String.valueOf(err.getCause.getMessage).contains("slot invalidated"))

    // restart policy: recreate sequence, then the fresh stream applies
    // the retained tail over the re-copied snapshot
    val q2 = pipeline.startStreamRecovering(log, Seq(usersSchema), _ => (
      Seq((1L, "a2", 30), (3L, "c", 32), (4L, "d", 33))
        .toDF("id", "name", "age"), 8L))
    q2.processAllAvailable(); q2.stop()
    val state = sink.read(spark, "users")
      .select("id", "name").as[(Long, String)].collect().toSet
    // id2's delete was lost but the re-copy omits it (truncate-for-copy
    // dropped stale destination state); retained lsns 9-10 applied on top
    assert(state == Set((1L, "a2"), (3L, "c"), (4L, "d2"), (5L, "e")))
    assert(pipeline.stateStore.get(1L) == TableState.Ready)
  }

  test("pipeline e2e: backfill → stream handoff with snapshot gate") {
    val dir = tmp("cdc-e2e")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)

    // backfill at snapshot LSN 5: ids 1..3 present
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30), (2L, "b", 31), (3L, "c", 32)).toDF("id", "name", "age"),
      5L))
    assert(pipeline.stateStore.get(1L) == TableState.SyncDone(5L))

    // WAL contains pre-snapshot changes (must be gated out) + post-snapshot
    appendLog(log, Seq(
      ins(4L, 0, 99L, "pre-snapshot-ghost", 0), // ≤ 5 → already in copy
      upd(6L, 0, 1L, "a2", 30),
      del(7L, 0, 2L),
      ins(8L, 0, 4L, "d", 33)))
    val q = pipeline.startStream(log)
    q.processAllAvailable()

    val state = sink.read(spark, "users")
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(state == Set((1L, "a2"), (3L, "c"), (4L, "d")))
    assert(pipeline.stateStore.get(1L) == TableState.Ready)
    // per-table apply timings accumulated (observability parity)
    val (ms, nBatches) = pipeline.applyTimings(1L)
    assert(nBatches >= 1 && ms >= 0)
    assert(pipeline.stateStore.lastFlushLsn == 8L)

    // live appends while the stream runs
    appendLog(log, Seq(upd(9L, 0, 4L, "d2", 34)))
    q.processAllAvailable()
    q.stop()
    assert(sink.read(spark, "users").filter($"id" === 4L)
      .select("name").as[String].head() == "d2")
  }

  test("table state survives process restart: new store loads persisted states (K1)") {
    val dir = tmp("cdc-persist")
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30)).toDF("id", "name", "age"), 7L))
    pipeline.stateStore.upsertFlushLsn(42L)
    assert(pipeline.stateStore.get(1L) == TableState.SyncDone(7L))

    // "restart": a fresh pipeline over the same stateDir must see the
    // persisted state (without this, gates drop all events silently)
    val pipeline2 = mkPipeline(dir, sink)
    assert(pipeline2.stateStore.get(1L) == TableState.SyncDone(7L))
    assert(pipeline2.stateStore.lastFlushLsn == 42L)
    val (allowed, gates) = pipeline2.stateStore.applyGates
    assert(allowed == Set(1L) && gates == Map(1L -> 7L))
  }

  test("restart re-running static backfill config skips already-synced tables") {
    val dir = tmp("cdc-rebf")
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30)).toDF("id", "name", "age"), 5L))
    // post-backfill change applied through the sink
    sink.writeEvents("users",
      Seq((2L, "b", 31, "I", 9L, 0L))
        .toDF("id", "name", "age", "_op", "_commit_lsn", "_tx_ordinal"))

    // "restart": fresh pipeline reloads SyncDone state; re-running the
    // same backfill config must NOT re-truncate or error the table
    val pipeline2 = mkPipeline(dir, sink)
    pipeline2.backfill(Seq(usersSchema),
      _ => fail("snapshot must not be re-read for a synced table"))
    assert(pipeline2.stateStore.get(1L) == TableState.SyncDone(5L))
    // the post-backfill row survived (no truncate happened)
    assert(sink.read(spark, "users").count() == 2)
  }

  test("errored table recovers via retryErrored re-backfill (ST8 retry)") {
    val dir = tmp("cdc-retry")
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    // first attempt fails mid-copy
    pipeline.backfill(Seq(usersSchema),
      _ => throw new RuntimeException("copy blew up"))
    pipeline.stateStore.get(1L) match {
      case TableState.Errored(reason, _) => assert(reason.contains("blew up"))
      case other => fail(s"expected Errored, got $other")
    }
    // retry restarts the copy (reference: retry = re-sync, not replay)
    val retried = pipeline.retryErrored(Seq(usersSchema), _ => (
      Seq((1L, "a", 30)).toDF("id", "name", "age"), 3L))
    assert(retried == Seq(1L))
    assert(pipeline.stateStore.get(1L) == TableState.SyncDone(3L))
    assert(sink.read(spark, "users").count() == 1)
    // healthy tables are not re-copied by retryErrored
    assert(pipeline.retryErrored(Seq(usersSchema), _ => fail("should not run"))
      .isEmpty)
  }

  test("kill/restart between micro-batches converges idempotently") {
    val dir = tmp("cdc-restart")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30)).toDF("id", "name", "age"), 0L))

    appendLog(log, (1L to 6L).map(i => upd(i, 0, 1L, s"v$i", 30)))
    val q1 = pipeline.startStream(log)
    q1.processAllAvailable()
    q1.stop() // "crash" after checkpointed batches

    // more WAL while down; restart from the SAME checkpoint
    appendLog(log, (7L to 9L).map(i => upd(i, 0, 1L, s"v$i", 30)))
    val q2 = pipeline.startStream(log)
    q2.processAllAvailable()
    q2.stop()

    val rows = sink.read(spark, "users").as[(Long, String, Int)].collect()
    assert(rows.toSeq == Seq((1L, "v9", 30)))
    assert(pipeline.stateStore.lastFlushLsn == 9L)
  }

  /** Streams `lines` into a backfilled users table and returns the
    * table's state and rows afterwards. */
  private def streamOnce(prefix: String, lines: Seq[String]) = {
    val dir = tmp(prefix)
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30)).toDF("id", "name", "age"), 0L))
    appendLog(log, lines)
    val q = pipeline.startStream(log)
    q.processAllAvailable()
    q.stop()
    (pipeline.stateStore.get(1L),
      sink.read(spark, "users").select("id", "name", "age")
        .as[(Long, String, Int)].collect().toSet)
  }

  private def assertRejectsJson(state: TableState): Unit = state match {
    case TableState.Errored(reason, _) =>
      assert(reason.contains("not a packed payload") &&
        reason.contains("JSON change images are no longer decoded") &&
        reason.contains("{\"id\":"), reason)
    case other => fail(s"a JSON image must fail the apply, table is $other")
  }

  test("a JSON after image fails the apply, naming the payload") {
    val (state, rows) = streamOnce("cdc-json-after", Seq(
      CdcLogSource.renderLine("I", 1L, 1L, 1L, 0L, 0L, None,
        Some("""{"id":2,"name":"b","age":40}"""))))
    assertRejectsJson(state)
    assert(rows == Set((1L, "a", 30)), rows)
  }

  test("a JSON before image of a key-changing update fails the apply, " +
      "naming the payload") {
    val (state, rows) = streamOnce("cdc-json-before", Seq(
      CdcLogSource.renderLine("U", 1L, 1L, 1L, 0L, 0L,
        Some("""{"id":1}"""), Some(img(2, "a", 31)))))
    assertRejectsJson(state)
    assert(rows == Set((1L, "a", 30)), rows)
  }

  test("TOAST partial update in-stream: _missing mask preserves stored columns (ST6)") {
    val dir = tmp("cdc-toast")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "big-toast-name", 30), (2L, "b", 31)).toDF("id", "name", "age"),
      0L))

    appendLog(log, Seq(
      // name column TOAST-unchanged: absent from after, listed in _missing
      CdcLogSource.renderLine("U", 1L, 1L, 1L, 0L, 0L,
        Some(img(1)), Some(img(1, None, 99)),
        missing = Seq("name")),
      // ordinary full update on id=2 sets name to a REAL null
      CdcLogSource.renderLine("U", 1L, 2L, 2L, 0L, 0L,
        Some(img(2)), Some(img(2, None, 32)))))
    val q = pipeline.startStream(log)
    q.processAllAvailable()
    q.stop()

    val rows = sink.read(spark, "users")
      .as[(Long, Option[String], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L) == ((Some("big-toast-name"), 99))) // preserved via mask
    assert(rows(2L) == ((None, 32)))                   // real null written
  }

  test("a PRE-rename TOAST-masked update in the SAME batch as the " +
      "rename: the slice alignment rewrites the `_missing` entry to " +
      "the new column name, so the mask keeps coalescing the stored " +
      "value instead of silently missing its column") {
    val dir = tmp("cdc-toast-rename")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "toasty", 30)).toDF("id", "name", "age"), 0L))
    // one batch: pre-rename masked update (mask names OLD "name"),
    // then the attnum-keyed rename name→full_name, then a post-rename
    // masked update (mask names NEW "full_name")
    val renameJson = """{"table":"users","cols":[""" +
      """{"name":"id","type":"int8","nullable":false,"pk":1,"ord":1},""" +
      """{"name":"full_name","type":"text","ord":2},""" +
      """{"name":"age","type":"int4","ord":3}]}"""
    appendLog(log, Seq(
      CdcLogSource.renderLine("U", 1L, 2L, 2L, 0L, 0L,
        Some(img(1)), Some(img(1, None, 55)),
        missing = Seq("name")),
      CdcLogSource.renderLine("R", 1L, 3L, 3L, 0L, 3L, None,
        Some(renameJson)),
      CdcLogSource.renderLine("U", 1L, 4L, 4L, 0L, 3L,
        Some(img(1)), Some(img(1, None, 77)),
        missing = Seq("full_name"))))
    val q = pipeline.startStream(log)
    q.processAllAvailable()
    q.stop()
    assert(pipeline.stateStore.get(1L) == TableState.Ready,
      pipeline.stateStore.get(1L).toString)
    val out = sink.read(spark, "users")
    assert(out.columns.toSet == Set("id", "full_name", "age"),
      out.columns.toSeq.toString)
    val rows = out.select("id", "full_name", "age")
      .as[(Long, Option[String], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // both masked updates kept the stored value through the rename
    assert(rows == Map(1L -> ((Some("toasty"), 77))), rows.toString)
  }

  test("schema evolution mid-stream: Relation record adds a column (S5/D1)") {
    val dir = tmp("cdc-ddl")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30)).toDF("id", "name", "age"), 0L))

    val relationJson =
      """{"table":"users","cols":[{"name":"id","type":"int8","nullable":false,"pk":1},{"name":"name","type":"text"},{"name":"age","type":"int4"},{"name":"email","type":"text"}]}"""
    appendLog(log, Seq(
      ins(1L, 0, 2L, "b", 40),                                  // v0 schema
      CdcLogSource.renderLine("R", 1L, 2L, 2L, 0L, 2L, None,    // DDL at lsn 2
        Some(relationJson)),
      // post-DDL rows decode against the v2 schema (carry email)
      CdcLogSource.renderLine("I", 1L, 3L, 3L, 0L, 2L, None,
        Some(img(3, "c", 50, "c@x")))))
    val q = pipeline.startStream(log)
    q.processAllAvailable()
    q.stop()

    // new version registered by the in-stream Relation record
    assert(pipeline.stateStore != null)
    val out = sink.read(spark, "users")
    assert(out.columns.contains("email"))
    val rows = out.select("id", "name", "email")
      .as[(Long, String, Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows(1L) == (("a", None)))        // pre-DDL row: email null
    assert(rows(2L) == (("b", None)))
    assert(rows(3L) == (("c", Some("c@x")))) // post-DDL row carries email
  }

  test("schema evolution mid-stream: Relation RENAME (same ordinal, " +
      "new name) keeps the destination column ALIGNED — pre-rename rows " +
      "read under the new name, post-DDL updates land in the SAME " +
      "logical column — and DROP retires its column; a pure-DDL batch " +
      "(no data rows) still moves the destination (S5/D1, reference " +
      "apply_schema_diff bigquery/core.rs:803-946)") {
    val dir = tmp("cdc-rename")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30), (2L, "b", 40)).toDF("id", "name", "age"), 0L))

    // phase 1: a PURE-DDL commit — RENAME name→full_name (same ordinal
    // 2) + DROP age (ordinal 3 vanishes), no data rows in the batch
    val renameJson =
      """{"table":"users","cols":[{"name":"id","type":"int8","nullable":false,"pk":1,"ord":1},{"name":"full_name","type":"text","ord":2}]}"""
    appendLog(log, Seq(
      CdcLogSource.renderLine("R", 1L, 2L, 2L, 0L, 2L, None,
        Some(renameJson))))
    val q = pipeline.startStream(log)
    q.processAllAvailable()

    val afterDdl = sink.read(spark, "users")
    assert(afterDdl.columns.toSet == Set("id", "full_name"),
      s"rename+drop must land without data rows: ${afterDdl.columns.toSeq}")
    val pre = afterDdl.select("id", "full_name")
      .as[(Long, String)].collect().toMap
    // THE RED PIN: the name-keyed add+drop widen left pre-rename values
    // stranded under a dead `name` column and full_name all-null
    assert(pre == Map(1L -> "a", 2L -> "b"),
      s"pre-rename rows must read under the NEW name, got $pre")

    // phase 2: post-DDL traffic under the new name merges into the
    // SAME logical column (no fork), including a fresh insert
    appendLog(log, Seq(
      CdcLogSource.renderLine("U", 1L, 3L, 3L, 0L, 2L,
        Some(img(1)),
        Some(img(1, "ada"))),
      CdcLogSource.renderLine("I", 1L, 4L, 4L, 0L, 2L, None,
        Some(img(3, "c")))))
    q.processAllAvailable()
    q.stop()

    val out = sink.read(spark, "users").select("id", "full_name")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "ada", 2L -> "b", 3L -> "c"), out.toString)
    assert(!sink.read(spark, "users").columns.contains("name"))
    assert(!sink.read(spark, "users").columns.contains("age"))
  }

  test("schema evolution via the REFERENCE's supabase_etl_ddl payload " +
      "shape: attnum-keyed rename + drop land at the destination; the " +
      "redundant positional Relation that follows aligns to the stored " +
      "attnums and no-ops instead of forking columns") {
    val dir = tmp("cdc-refddl")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30), (2L, "b", 40)).toDF("id", "name", "age"), 0L))

    // the reference event trigger's pg_catalog-shaped snapshot (rename
    // name→full_name at attnum 2, age's attnum 3 gone), exactly as the
    // 'M'-message decode forwards it into the schema channel
    def refCol(attname: String, attnum: Int, typ: String,
        notnull: Boolean = false) =
      s"""{"attname":"$attname","attnum":$attnum,"atttypid":0,""" +
        s""""typname":"$typ","atttypmod":-1,"attnotnull":$notnull,""" +
        """"atthasdef":false,"default_expression":null}"""
    val refPayload =
      s"""{"command_tag":"ALTER TABLE","nspname":"public","relname":"users","oid":1,"identity":{"primary_key_attnums":[1],"relreplident":"d","replica_identity_index_attnums":[]},"columns":[${
        Seq(refCol("id", 1, "int8", notnull = true),
          refCol("full_name", 2, "text")).mkString(",")}]}"""
    // the redundant POSITIONAL Relation pgoutput synthesizes right
    // after the DDL — same columns, no attnums
    val redundantRelation =
      """{"table":"users","cols":[{"name":"id","type":"int8","nullable":false,"pk":1},{"name":"full_name","type":"text"}]}"""
    appendLog(log, Seq(
      CdcLogSource.renderLine("R", 1L, 2L, 2L, 0L, 2L, None,
        Some(refPayload)),
      CdcLogSource.renderLine("R", 1L, 3L, 3L, 0L, 3L, None,
        Some(redundantRelation)),
      CdcLogSource.renderLine("U", 1L, 4L, 4L, 0L, 3L,
        Some(img(1)),
        Some(img(1, "ada")))))
    val q = pipeline.startStream(log)
    q.processAllAvailable()
    q.stop()

    val out = sink.read(spark, "users")
    assert(out.columns.toSet == Set("id", "full_name"),
      s"reference-shaped DDL must rename+drop: ${out.columns.toSeq}")
    val got = out.select("id", "full_name")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "ada", 2L -> "b"), got.toString)
  }

  test("mid-stream PRIMARY-KEY column rename lands at the current-state " +
      "destination (zero data movement) and post-rename events — " +
      "including same-batch PRE-rename events — merge on the new key") {
    val dir = tmp("cdc-pkrename")
    val log = s"$dir/wal.log"
    val registry = new SchemaRegistry
    registry.put(usersSchema)
    // registry-backed keysOf (the Replicator wiring): after the DDL
    // registers, the sink derives the NEW key name for fresh handles
    val sink = new CurrentStateSink(s"$dir/tables",
      name => registry.tables.flatMap(registry.latest)
        .find(_.tableName == name).map(_.primaryKey).getOrElse(Seq("id")), 4)
    val pipeline = new CdcPipeline(spark,
      PipelineConfig(maxRowsPerTrigger = 100, maxFillMs = 50,
        checkpointDir = s"$dir/ckpt", stateDir = s"$dir/state"),
      registry, sink, decode)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30), (2L, "b", 31)).toDF("id", "name", "age"), 0L))
    // ONE batch interleaving: a pre-rename update (old names), the
    // attnum-keyed rename id→user_id, then post-rename events — the
    // pre-rename slice must align to the new key name before merging
    // (the destination evolves before any of the batch's data applies)
    val renamedJson = """{"table":"users","cols":[""" +
      """{"name":"user_id","type":"int8","nullable":false,"pk":1,"ord":1},""" +
      """{"name":"name","type":"text","ord":2},""" +
      """{"name":"age","type":"int4","ord":3}]}"""
    appendLog(log, Seq(
      upd(2L, 0L, 2L, "bee", 31), // old schema, old key name
      CdcLogSource.renderLine("R", 1L, 3L, 3L, 0L, 3L, None,
        Some(renamedJson)),
      CdcLogSource.renderLine("U", 1L, 4L, 4L, 0L, 3L,
        Some(img(1)),
        Some(img(1, "ada", 99))),
      CdcLogSource.renderLine("I", 1L, 5L, 5L, 0L, 3L, None,
        Some(img(3, "c", 5)))))
    val q = pipeline.startStream(log)
    q.processAllAvailable()
    q.stop()
    assert(pipeline.stateStore.get(1L) == TableState.Ready,
      s"no quarantine expected: ${pipeline.stateStore.get(1L)}")
    val out = sink.read(spark, "users")
    assert(out.columns.toSet == Set("user_id", "name", "age"),
      out.columns.toSeq.toString)
    val got = out.select("user_id", "name", "age")
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got == Map(1L -> (("ada", 99)), 2L -> (("bee", 31)),
      3L -> (("c", 5))), got.toString)
    // the rename itself was a mapping commit (zero-movement proof lives
    // in GraftTableSpec's key-rename case): a fresh handle speaks the
    // new key, and a bucket-pruned lookup by it reaches pre-rename rows
    val t = graft.sinks.GraftTable.open(s"$dir/tables/users")
    assert(t.keyCols == Seq("user_id"))
    assert(t.lookup(spark, Seq(2L)).select("name").as[String]
      .collect().toSeq == Seq("bee"))
  }

  test("an IMPOSSIBLE destination DDL (dropping the merge key) " +
      "quarantines the table BEFORE its data applies — no silent " +
      "column fork — and the pipeline survives (ST8)") {
    val dir = tmp("cdc-badddl")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30)).toDF("id", "name", "age"), 0L))
    // DDL drops `id` — the bucket/merge key (attnum-keyed so the diff
    // reads as a DROP of ordinal 1, not a positional rename chain);
    // the destination must refuse, and the post-DDL row must NOT merge
    val badJson =
      """{"table":"users","cols":[{"name":"name","type":"text","ord":2},{"name":"age","type":"int4","ord":3}]}"""
    appendLog(log, Seq(
      CdcLogSource.renderLine("R", 1L, 2L, 2L, 0L, 2L, None,
        Some(badJson)),
      CdcLogSource.renderLine("I", 1L, 3L, 3L, 0L, 2L, None,
        Some(img("zed", 9)))))
    val q = pipeline.startStream(log)
    q.processAllAvailable()
    q.stop()
    pipeline.stateStore.get(1L) match {
      case TableState.Errored(reason, _) =>
        assert(reason.contains("schema change") &&
          reason.contains("bucket key"), reason)
      case other => fail(s"table must be quarantined, was $other")
    }
    // destination untouched: old shape, old rows, no zed
    val out = sink.read(spark, "users")
    assert(out.columns.toSet == Set("id", "name", "age"))
    assert(out.count() == 1)
  }

  test("truncate event mid-stream clears table, later inserts apply (D1)") {
    val dir = tmp("cdc-trunc")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30), (2L, "b", 31)).toDF("id", "name", "age"), 0L))

    appendLog(log, Seq(
      ins(1L, 0, 3L, "c", 32),
      CdcLogSource.renderLine("T", 1L, 2L, 2L, 0L, 0L, None, None),
      ins(3L, 0, 4L, "d", 33)))
    val q = pipeline.startStream(log)
    q.processAllAvailable()
    q.stop()

    // truncate wiped backfill + same-batch-pre-truncate rows; the
    // post-truncate insert survives... but note: within one micro-batch the
    // truncate applies before the batch's data merge (D1 orders truncate
    // first), so id=3 (lsn 1 < truncate lsn 2) is also gone while id=4
    // (lsn 3 > 2) remains via LWW-merge of the post-truncate slice.
    val ids = sink.read(spark, "users").select("id").as[Long].collect().toSet
    assert(ids == Set(4L))
  }

  test("PK-change update in-stream → delete old key + upsert new key (J1)") {
    val dir = tmp("cdc-pkchange")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30), (2L, "b", 31)).toDF("id", "name", "age"), 0L))

    appendLog(log, Seq(
      // replica-identity (id) changes: 1 → 5
      CdcLogSource.renderLine("U", 1L, 1L, 1L, 0L, 0L,
        Some(img(1)),
        Some(img(5, "a-moved", 30))),
      // ordinary update, key unchanged
      upd(2L, 0, 2L, "b2", 31)))
    val q = pipeline.startStream(log)
    q.processAllAvailable()
    q.stop()

    val rows = sink.read(spark, "users").select("id", "name")
      .as[(Long, String)].collect().toMap
    assert(!rows.contains(1L), "old key must be deleted")
    assert(rows(5L) == "a-moved")
    assert(rows(2L) == "b2")
  }

  test("publication membership init/purge + copy-progress accumulator (S6/A2)") {
    val dir = tmp("cdc-pub")
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    val orders = TableSchemaV(2L, "orders", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1)))

    val (added1, removed1) = pipeline.initTableStates(Seq(usersSchema, orders))
    assert(added1.toSet == Set(1L, 2L) && removed1.isEmpty)
    assert(pipeline.stateStore.get(1L) == TableState.Init)

    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30), (2L, "b", 31), (3L, "c", 32)).toDF("id", "name", "age"),
      5L))
    assert(pipeline.copyProgress("users").value == 3L) // A2 accumulator

    // orders leaves the publication → its state is purged, users kept
    val (added2, removed2) = pipeline.initTableStates(Seq(usersSchema))
    assert(added2.isEmpty && removed2 == Seq(2L))
    assert(pipeline.stateStore.all.keySet == Set(1L))
  }

  /** Envelope frame matching the graft-cdc source schema, for driving
    * applyBatch directly (foreachBatch replay simulation). */
  private def envelope(
      rows: (String, Long, Long, Option[String], Option[String])*) =
    rows.map { case (op, lsn, ord, before, after) =>
      (op, 1L, lsn, lsn, ord, 0L, before.orNull, after.orNull,
        null: String) }
      .toDF("_op", "_table", "_commit_lsn", "_start_lsn", "_tx_ordinal",
        "_schema_lsn", "before", "after", "_missing")

  test("replayed truncate batch re-applies post-truncate rows (ADVICE r1)") {
    val dir = tmp("cdc-trunc-replay")
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30)).toDF("id", "name", "age"), 0L))

    val truncBatch = envelope(
      ("I", 1L, 0L, None, Some(img(3, "c", 32))),
      ("T", 2L, 0L, None, None),
      ("I", 3L, 0L, None, Some(img(4, "d", 33))))
    pipeline.applyBatch(truncBatch, 0L)
    def ids = sink.read(spark, "users").select("id").as[Long].collect().toSet
    assert(ids == Set(4L))
    // crash before the checkpoint commit → foreachBatch re-runs the same
    // batch: truncate wipes again, and the post-truncate slice must
    // RE-apply (a high-water mark surviving the truncate would filter it
    // out and leave the table permanently empty)
    pipeline.applyBatch(truncBatch, 0L)
    assert(ids == Set(4L))
  }

  test("ExactlyOnceSink: committed batches replay as no-ops; ledger survives restart") {
    val dir = tmp("cdc-txn")
    val ledger = s"$dir/ledger.json"
    val mem = new MemorySink
    def mkP(sink: graft.sinks.CdcSink) = {
      val registry = new SchemaRegistry
      registry.put(usersSchema)
      new CdcPipeline(spark,
        PipelineConfig(maxRowsPerTrigger = 4, maxFillMs = 50,
          checkpointDir = s"$dir/ckpt", stateDir = s"$dir/state"),
        registry, sink, decode)
    }
    val pipeline = mkP(new ExactlyOnceSink(mem, ledger, "app1"))
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "a", 30)).toDF("id", "name", "age"), 0L))
    def applied = mem.eventBatches.get("users").map(_.size).getOrElse(0)

    val b0 = envelope(("I", 1L, 0L, None,
      Some(img(2, "b", 31))))
    pipeline.applyBatch(b0, 0L)
    assert(applied == 1)
    // foreachBatch replay of a COMMITTED batch (restart after checkpoint
    // lag) → suppressed before any write reaches the inner sink
    pipeline.applyBatch(b0, 0L)
    assert(applied == 1)
    // the next batch passes through
    pipeline.applyBatch(envelope(("I", 2L, 0L, None,
      Some(img(3, "c", 32)))), 1L)
    assert(applied == 2)

    // process restart: a FRESH decorator over the same ledger file still
    // suppresses batches 0 and 1, applies batch 2
    val pipeline2 = mkP(new ExactlyOnceSink(mem, ledger, "app1"))
    pipeline2.applyBatch(b0, 0L)
    pipeline2.applyBatch(b0, 1L)
    assert(applied == 2)
    pipeline2.applyBatch(envelope(("I", 3L, 0L, None,
      Some(img(4, "d", 33)))), 2L)
    assert(applied == 3)
    // a different appId has its own version sequence
    assert(new TxnLedger(ledger).lastCommitted("app1") == 2L)
    assert(new TxnLedger(ledger).lastCommitted("other") == -1L)
  }

  test("events during re-copy are spooled and replayed at handoff (catchup)") {
    val dir = tmp("cdc-spool")
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = mkPipeline(dir, sink)
    pipeline.backfill(Seq(usersSchema), _ => (
      Seq((1L, "orig", 30)).toDF("id", "name", "age"), 5L))
    pipeline.applyBatch(envelope(
      ("U", 6L, 0L, Some(img(1)),
        Some(img(1, "v6", 30)))), 0L)
    assert(pipeline.stateStore.get(1L) == TableState.Ready)

    // operator kicks a re-copy while the stream keeps running: the table
    // walks back through DataSync (retryErrored path). A micro-batch
    // arriving MID-COPY must not be dropped — the Spark checkpoint will
    // advance past it and it would never be redelivered.
    pipeline.stateStore.force(1L, TableState.DataSync)
    pipeline.applyBatch(envelope(
      ("U", 10L, 0L, Some(img(1)),
        Some(img(1, "v10-during-copy", 31)))), 1L)
    // not applied (copy owns the table)... but spooled, not lost
    assert(sink.read(spark, "users").filter($"name" === "v10-during-copy")
      .isEmpty)
    assert(Files.exists(Paths.get(s"$dir/state/spool/1")))

    // copy completes at snapshot LSN 8: the copied image does NOT contain
    // the lsn-10 update; the handoff must replay it from the spool
    sink.truncateTable("users")
    sink.writeTableRows("users",
      Seq((1L, "copied", 30)).toDF("id", "name", "age"))
    pipeline.stateStore.force(1L, TableState.SyncDone(8L))
    pipeline.applyBatch(envelope(
      ("I", 12L, 0L, None, Some(img(2, "next", 40)))), 2L)

    val rows = sink.read(spark, "users").select("id", "name")
      .as[(Long, String)].collect().toMap
    assert(rows(1L) == "v10-during-copy", "spooled event must replay")
    assert(rows(2L) == "next")
    assert(!Files.exists(Paths.get(s"$dir/state/spool/1")), "spool drained")
    assert(pipeline.stateStore.get(1L) == TableState.Ready)
  }

  test("retention check honors the commit-boundary bit (mid-commit cap ≠ covered)") {
    import graft.sources.{CdcLogMicroBatchStream, LsnOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmp("cdc-bound")
    val log = s"$dir/wal.log"
    // commit 1 = three ops; commit 2 = one op
    appendLog(log, Seq(ins(1L, 0, 1L, "a", 1), ins(1L, 1, 2L, "b", 2),
      ins(1L, 2, 3L, "c", 3), ins(2L, 0, 4L, "d", 4)))
    val s1 = new CdcLogMicroBatchStream(log, None)
    // admission caps MID-commit → not a boundary
    val mid = s1.latestOffset(LsnOffset.zero, ReadLimit.maxRows(2))
      .asInstanceOf[LsnOffset]
    assert(mid.commitLsn == 1L && mid.txOrdinal == 1L && !mid.boundary)
    // cap lands on commit 1's last ordinal; commit 2 visible behind it
    val end = s1.latestOffset(LsnOffset.zero, ReadLimit.maxRows(3))
      .asInstanceOf[LsnOffset]
    assert(end.commitLsn == 1L && end.txOrdinal == 2L && end.boundary)

    // retention trims exactly through commit 1
    Files.write(Paths.get(log),
      (ins(2L, 0, 4L, "d", 4) + "\n").getBytes(StandardCharsets.UTF_8))
    // boundary offset: provably covered → resumes
    val s2 = new CdcLogMicroBatchStream(log, None)
    val resumed = s2.latestOffset(LsnOffset(1L, 2L, boundary = true),
      ReadLimit.allAvailable()).asInstanceOf[LsnOffset]
    assert(resumed.commitLsn == 2L)
    // mid-commit offset: ordinal (1,2) may have been truncated away →
    // must raise slot-invalidation instead of silently masking the loss
    val s3 = new CdcLogMicroBatchStream(log, None)
    val err = intercept[IllegalStateException] {
      s3.latestOffset(LsnOffset(1L, 1L), ReadLimit.allAvailable())
    }
    assert(err.getMessage.contains("slot invalidated"))
  }

  test("per-table error quarantines table, pipeline survives (ST8)") {
    val dir = tmp("cdc-err")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val registry = new SchemaRegistry
    registry.put(usersSchema)
    // table 2 exists in WAL but has NO schema → decode throws → quarantine
    val orders = TableSchemaV(2L, "orders", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1)))
    val pipeline = new CdcPipeline(spark,
      PipelineConfig(maxRowsPerTrigger = 100, maxFillMs = 50,
        checkpointDir = s"$dir/ckpt", stateDir = s"$dir/state"),
      registry, sink, decode)
    pipeline.backfill(Seq(usersSchema, orders), _ => (
      Seq((1L, "a", 30)).toDF("id", "name", "age"), 0L))

    appendLog(log, Seq(
      ins(1L, 0, 10L, "ok", 20),
      CdcLogSource.renderLine("I", 2L, 2L, 2L, 0L, 0L, None, Some(img(5)))))
    val q = pipeline.startStream(log)
    q.processAllAvailable()
    q.stop()

    // healthy table applied
    assert(sink.read(spark, "users").filter($"id" === 10L).count() == 1)
    // broken table quarantined as Errored, not crashing the query
    pipeline.stateStore.get(2L) match {
      case TableState.Errored(reason, _) => assert(reason.contains("no schema"))
      case other => fail(s"expected Errored, got $other")
    }
  }
}
