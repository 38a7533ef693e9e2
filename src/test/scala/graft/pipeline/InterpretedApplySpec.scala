package graft.pipeline

import graft.PackedImage.img
import graft.SparkSpec
import graft.core.{ColumnSpec, SchemaRegistry, TableSchemaV}
import graft.sinks.{CdcSink, CurrentStateSink, GraftTable, InterpretedLane}
import graft.sources.CdcLogSource
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

/** The current-state sink's small-destination lanes. Batches for a
  * destination below [[InterpretedLane.BelowBytes]] of live
  * files apply in an interpreted clone of their session, so a steady
  * stream compiles nothing; larger destinations keep compiled plans. A
  * copy-on-write merge collects a batch of at most
  * [[GraftTable.LocalBatchMaxRows]] rows once instead of caching it, and
  * rewrites small destinations in one task. Every lane writes the same
  * tables. */
class InterpretedApplySpec extends SparkSpec {
  import spark.implicits._

  private val users = TableSchemaV(1L, "users", 0L, IndexedSeq(
    ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
    ColumnSpec("name", "text"),
    ColumnSpec("age", "int4")))
  private val branches = TableSchemaV(2L, "branches", 0L, IndexedSeq(
    ColumnSpec("bid", "int8", nullable = false, pkOrdinal = 1),
    ColumnSpec("balance", "int8"),
    ColumnSpec("note", "text")))

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def appendLog(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private def user(op: String, lsn: Long, ord: Long, id: Long, name: String,
      age: Int) = CdcLogSource.renderLine(op, 1L, lsn, lsn, ord, 0L,
    if (op == "I") None else Some(img(id)),
    Some(img(id, name, age)))
  private def branch(op: String, lsn: Long, ord: Long, bid: Long,
      balance: Long) = CdcLogSource.renderLine(op, 2L, lsn, lsn, ord, 0L,
    if (op == "I") None else Some(img(bid)),
    Some(img(bid, balance, s"b$bid")))
  private def delUser(lsn: Long, ord: Long, id: Long) =
    CdcLogSource.renderLine("D", 1L, lsn, lsn, ord, 0L,
      Some(img(id)), None)

  private def keysOf(t: String) = if (t == "branches") Seq("bid") else Seq("id")

  private def pipeline(dir: String, sink: CdcSink) = {
    val registry = new SchemaRegistry
    registry.put(users)
    registry.put(branches)
    val p = new CdcPipeline(spark,
      PipelineConfig(maxRowsPerTrigger = 10000L, maxFillMs = 50,
        checkpointDir = s"$dir/ckpt", stateDir = s"$dir/state"),
      registry, sink, CdcPipeline.jsonDecode)
    Seq(1L, 2L).foreach(p.stateStore.force(_, TableState.Ready))
    p
  }

  /** A [[CurrentStateSink]] with every batch's lane forced. */
  private final class ForcedLane(val inner: CurrentStateSink,
      interpreted: Boolean,
      lanes: GraftTable.CowLanes = GraftTable.CowLanes()) extends CdcSink {
    override def writeTableRows(table: String, rows: DataFrame): Unit =
      inner.writeTableRows(table, rows)
    override def writeEvents(table: String, events: DataFrame): Unit =
      writeEvents(table, events, None)
    override def writeEvents(table: String, events: DataFrame,
        maskHint: Option[Boolean]): Unit =
      InterpretedLane.forcing(interpreted) {
        inner.applyEvents(table, events, maskHint, lanes)
      }
    override def truncateTable(table: String): Unit =
      inner.truncateTable(table)
  }

  /** Batch `i` of a steady two-table stream: 20 inserts, 5 updates of
    * the previous batch's rows and a delete on users, balance updates
    * on every branch. */
  private def steadyBatch(i: Int): Seq[String] = {
    val lsn = 100L * (i + 1)
    val prev = math.max(0, i - 1) * 20L
    (0 until 20).map(k => user("I", lsn, k, i * 20L + k, s"u$i-$k", 20 + k)) ++
      (1 to 5).map(k => user("U", lsn + 1, k, prev + k, s"v$i", i)) ++
      Seq(delUser(lsn + 2, 0, i * 20L)) ++
      (0 until 4).map(k => branch(if (i == 0) "I" else "U", lsn + 3, k,
        k.toLong, i * 10L + k))
  }

  test("a steady two-table copy-on-write stream compiles nothing after " +
      "warm-up, and the caller's session keeps its codegen settings") {
    val dir = tmp("interp-steady")
    val log = s"$dir/wal.log"
    val sink = new CurrentStateSink(s"$dir/tables", keysOf, 4)
    val p = pipeline(dir, sink)
    val codegenKeys = spark.conf.getAll.keySet.filter(_.startsWith("spark.sql.codegen"))
    appendLog(log, steadyBatch(0))
    val q = p.startStream(log)
    try {
      q.processAllAvailable()
      appendLog(log, steadyBatch(1))
      q.processAllAvailable()
      assert(sink.interpretedLane("users") && sink.interpretedLane("branches"))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (2 until 8).foreach { i =>
        appendLog(log, steadyBatch(i))
        q.processAllAvailable()
      }
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
        "the interpreted lane generated code in steady state")
    } finally q.stop()
    assert(sink.read(spark, "users").count() == 8 * 20 - 8)
    assert(sink.read(spark, "branches")
      .select("balance").as[Long].collect().sorted.toSeq ==
      Seq(70L, 71L, 72L, 73L))
    // the lane lives in a clone: the caller's session has no codegen key
    // set (and so still compiles)
    assert(spark.conf.getAll.keySet
      .filter(_.startsWith("spark.sql.codegen")) == codegenKeys)
    assert(codegenKeys.isEmpty, codegenKeys)
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
  }

  /** A stream over upserts, deletes, a key-changing update, a
    * TOAST-masked update and a truncate, in three batches. */
  private val laneLines = Seq(
      steadyBatch(0),
      Seq(
        // key-changing update: id 3 → 500
        CdcLogSource.renderLine("U", 1L, 200L, 200L, 0L, 0L,
          Some(img(3)),
          Some(img(500, "moved", 3))),
        // TOAST-masked update: name unchanged (absent, listed missing)
        CdcLogSource.renderLine("U", 1L, 201L, 201L, 0L, 0L,
          Some(img(4)), Some(img(4, None, 99)),
          missing = Seq("name")),
        delUser(202L, 0, 5L),
        user("U", 203L, 0, 6L, "six", 66),
        branch("U", 204L, 0, 1L, 1000L)),
      Seq(
        // truncate branches mid-batch: only later rows survive
        branch("U", 300L, 0, 2L, 2000L),
        CdcLogSource.renderLine("T", 2L, 301L, 301L, 0L, 0L, None, None),
        branch("I", 302L, 0, 9L, 9000L),
        user("I", 303L, 0, 42L, "late", 42)))

  /** Streams [[laneLines]] with the lanes forced: every merge runs with
    * the copy-on-write lane bounds `lanes`. Returns each table's rows and
    * high-water mark, and whether every bucket holds exactly one file. */
  private def runLanes(interpreted: Boolean,
      lanes: GraftTable.CowLanes = GraftTable.CowLanes()) = {
    val dir = tmp(s"lanes-$interpreted")
    val log = s"$dir/wal.log"
    val sink = new ForcedLane(
      new CurrentStateSink(s"$dir/tables", keysOf, 4), interpreted, lanes)
    val p = pipeline(dir, sink)
    appendLog(log, laneLines.head)
    val q = p.startStream(log)
    try laneLines.tail.foreach { batch =>
      q.processAllAvailable()
      appendLog(log, batch)
    } finally {
      q.processAllAvailable()
      q.stop()
    }
    Seq("users", "branches").map { t =>
      val table = sink.inner.tableFor(t)
      (sink.inner.read(spark, t).collect().map(_.toSeq).toSet,
        table.readMeta().highWater,
        table.currentFilesByBucket.values.forall(_.size == 1))
    }
  }

  test("interpreted and compiled lanes write identical tables and " +
      "high-water marks") {
    val interp = runLanes(interpreted = true)
    val compiled = runLanes(interpreted = false)
    assert(interp == compiled)
    val usersRows = interp.head._1
    assert(usersRows.exists(_ == Seq(500L, "moved", 3)))
    assert(!usersRows.exists(_.head == 3L) && !usersRows.exists(_.head == 5L))
    // the masked update kept the stored name
    assert(usersRows.exists(_ == Seq(4L, "v0", 99)), usersRows)
    assert(interp(1)._1 == Set(Seq(9L, 9000L, "b9")))
    assert(interp.forall(_._2.nonEmpty))
  }

  test("local and cached batches, one-task and parallel rewrites write " +
      "identical tables, high-water marks and one file per bucket") {
    // a cached batch's size is unknown, so it never rewrites in one task
    def lanes(local: Boolean, oneTask: Boolean) = GraftTable.CowLanes(
      localMaxRows = if (local) GraftTable.LocalBatchMaxRows else 0,
      oneTaskBelowBytes = if (oneTask) Long.MaxValue else 0L)
    val base = runLanes(interpreted = false, lanes(local = true, oneTask = true))
    assert(base.forall(_._3), "a bucket holds more than one file")
    assert(base.head._1.exists(_ == Seq(500L, "moved", 3)))
    assert(base.head._1.exists(_ == Seq(4L, "v0", 99)), base.head._1)
    assert(base(1)._1 == Set(Seq(9L, 9000L, "b9")))
    for ((local, oneTask) <- Seq((true, false), (false, false)))
      assert(runLanes(interpreted = false, lanes(local, oneTask)) == base,
        s"local=$local oneTask=$oneTask")
  }

  test("the size rule keeps a destination above the crossover compiled") {
    val dir = tmp("interp-size")
    val sink = new CurrentStateSink(s"$dir/tables", keysOf, 4)
    assert(sink.interpretedLane("users"), "an empty table is small")
    sink.writeTableRows("users", spark.range(0, 500).toDF("id")
      .withColumn("name", lit("x")).withColumn("age", lit(1)))
    assert(sink.interpretedLane("users"))
    // incompressible text, well over the crossover
    val rows = (InterpretedLane.BelowBytes * 2 / 1024).toInt
    sink.writeTableRows("big", spark.range(0, rows).toDF("id")
      .withColumn("name", concat((0 until 16).map(i =>
        sha2(concat(col("id").cast("string"), lit(s"-$i")), 256)): _*))
      .withColumn("age", lit(1)))
    assert(sink.tableFor("big").liveBytesUpTo(InterpretedLane.BelowBytes) >=
      InterpretedLane.BelowBytes)
    assert(!sink.interpretedLane("big"))
  }
}
