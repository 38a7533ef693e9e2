package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{ColumnSpec, PackedRow, SchemaRegistry, TableSchemaV}
import graft.pipeline.{CdcPipeline, PipelineConfig, TableState}
import graft.sinks.{CdcSink, CurrentStateSink}
import graft.sources.{PgWireConnection, ReplicationSocketClient}
import scala.collection.mutable

/** pg_stream: a live Postgres 15 streamed through the product path —
  * `ReplicationSocketClient` spools pgoutput into the change log,
  * `CdcPipeline` applies it into a copy-on-write `CurrentStateSink`.
  *
  * The caller (run.py) owns the cluster and the load generator. It
  * starts the cluster while this process starts its Spark session, and
  * sends `PG_READY <cluster set-up s>` on stdin once it is up. This
  * side then sets the pipeline up (three times; the median counts), applies a
  * warm-up batch, drains a closed-loop backlog, reports
  * `GRAFTBENCH READY` on stdout, and waits for `LOAD_DONE <nonce>
  * <lead-in ns> <loadgen file>` on stdin. The nonce was written to `fence` by one
  * transaction committed after every generated one, so once the fence
  * row reaches the destination every generated transaction has too.
  * With `backlog-only` it stops after the backlog drain.
  *
  * Freshness of a transaction = the first sample of the pipeline's
  * durable flush position at or past its own commit (found in the
  * change log by the transaction id it wrote) minus its scheduled send
  * time. Both clocks are CLOCK_MONOTONIC. */
object PgStream {
  val Tables = Seq("accounts", "branches", "fence")
  private val Columns = Map(
    "accounts" -> Seq("aid" -> "int8", "bid" -> "int4", "abalance" -> "int8",
      "txn" -> "int8"),
    "branches" -> Seq("bid" -> "int4", "bbalance" -> "int8", "txn" -> "int8"),
    "fence" -> Seq("id" -> "int4", "v" -> "int8"))
  private val TxnCell = 3 // accounts.txn, in column order
  /** The closed-loop backlog: transactions of new accounts, then one
    * transaction updating a quarter of them and every branch. */
  val BacklogTxns = 6
  val BacklogRows = 2500
  private val TxnJson = "\"txn\"\\s*:\\s*\"?(-?\\d+)".r

  /** The generator's transaction id from an accounts after-image, in
    * either payload format the change log carries. */
  def txnOf(payload: String): Long =
    if (payload.startsWith(PackedRow.Marker.toString))
      PackedRow.parse(payload)(TxnCell).get.toLong
    else TxnJson.findFirstMatchIn(payload).get.group(1).toLong

  final class Live(val dir: String, val slot: String, val sink: CurrentStateSink,
      val traced: Option[TracingSink], val client: ReplicationSocketClient,
      val pipeline: CdcPipeline,
      var query: org.apache.spark.sql.streaming.StreamingQuery,
      val poller: FlushPoller) {
    val log = s"$dir/wal.log"
    def stop(): Unit = {
      try query.stop() catch { case _: Throwable => () }
      try client.stop() catch { case _: Throwable => () }
      poller.stop()
    }
  }

  def run(spark: SparkSession, cfg: Cfg, r: Report, sparkStartS: Double): Unit = {
    val ready = scala.io.StdIn.readLine()
    require(ready != null && ready.startsWith("PG_READY "), s"unexpected control line: $ready")
    val pgSetupS = ready.stripPrefix("PG_READY ").toDouble
    val admin = new PgWireConnection("127.0.0.1", cfg.pgPort, "postgres", "postgres", "")
    admin.connect()
    val oids = Tables.map(t =>
      t -> admin.queryRows(s"select '$t'::regclass::oid").head.head.get.toLong).toMap
    // a stopped client's walsender can hold its slot for a moment, and a
    // failed statement would leave the admin connection out of step, so
    // only an inactive slot is dropped, retried until it is gone
    def dropSlot(slot: String): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      def exists = admin.queryRows(
        s"select 1 from pg_replication_slots where slot_name = '$slot'").nonEmpty
      while ({
        admin.queryRows("select pg_drop_replication_slot(slot_name) from " +
          s"pg_replication_slots where slot_name = '$slot' and not active")
        exists
      }) {
        require(System.nanoTime() < deadline, s"replication slot $slot stayed active")
        Thread.sleep(100)
      }
    }
    val tracer = if (cfg.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    def checking[T](f: => T): T = tracer.fold(f)(_.span(Tracer.CheckSpan)(f))

    def start(rep: Int): Live = {
      val dir = s"${cfg.work}/pg_stream/rep$rep"
      Files.createDirectories(Paths.get(dir))
      val slot = s"graftbench_$rep"
      val registry = new SchemaRegistry
      Tables.foreach { t =>
        registry.put(TableSchemaV(oids(t), t, 0L,
          Columns(t).zipWithIndex.map { case ((c, ty), i) =>
            ColumnSpec(c, ty, nullable = i != 0, pkOrdinal = if (i == 0) 1 else 0,
              identity = i == 0)
          }.toIndexedSeq))
      }
      graft.sources.SchemaDiscovery.stampOrdinalsVia("127.0.0.1", cfg.pgPort,
        "postgres", "postgres", "", registry)
      val base = new CurrentStateSink(s"$dir/tables",
        n => registry.tables.flatMap(registry.latest).find(_.tableName == n)
          .map(_.primaryKey).getOrElse(Seq("id")), 8)
      val traced = tracer.map(tr => new TracingSink(base, tr))
      val sink: CdcSink = traced.getOrElse(base)
      val pipeline = new CdcPipeline(spark,
        PipelineConfig(maxRowsPerTrigger = 100000L, maxFillMs = 250L,
          checkpointDir = s"$dir/ckpt", stateDir = s"$dir/state"),
        registry, sink, CdcPipeline.jsonDecode)
      traced.foreach(_.pipeline = Some(pipeline))
      sink.startup(spark)
      Tables.foreach(t => pipeline.stateStore.force(oids(t), TableState.Ready))
      val log = s"$dir/wal.log"
      Files.write(Paths.get(log), Array.emptyByteArray)
      val progress = Paths.get(log + ".progress")
      val lastFlush = new java.util.concurrent.atomic.AtomicLong(0L)
      val client = new ReplicationSocketClient("127.0.0.1", cfg.pgPort, slot,
        "graftbench_pub", log, user = "postgres", database = "postgres",
        createSlotIfMissing = true,
        flushLsn = () =>
          try {
            if (!Files.exists(progress)) lastFlush.get()
            else {
              val v = graft.sources.LsnOffset.fromJson(
                new String(Files.readAllBytes(progress), UTF_8)).commitLsn
              lastFlush.updateAndGet(p => math.max(p, v))
            }
          } catch { case _: Throwable => lastFlush.get() })
      client.start()
      val poller = new FlushPoller(log)
      val q = pipeline.startStream(log)
      q.processAllAvailable()
      new Live(dir, slot, base, traced, client, pipeline, q, poller)
    }

    // every set-up but the last is torn down with its slot
    val setupTimes = (0 until cfg.setupReps).map { rep =>
      val t0 = System.nanoTime()
      val live = start(rep)
      val dt = Proc.seconds(t0, System.nanoTime())
      Log(s"setup $rep ${dt}s")
      if (rep < cfg.setupReps - 1) {
        live.stop()
        dropSlot(live.slot)
        (dt, None)
      } else (dt, Some(live))
    }
    val live = setupTimes.last._2.get
    r.put("setup_s", pgSetupS + sparkStartS +
      Stats.median(setupTimes.map(_._1)), "s")

    /** Fence row `id`'s value in the destination, if it is there. */
    def fenceValue(id: Int): Option[String] = checking {
      val df = live.sink.read(spark, "fence")
      if (df.columns.isEmpty) None // no batch has reached the table yet
      else df.filter(col("id") === id).select(col("v").cast("string"))
        .collect().headOption.map(_.getString(0))
    }
    // wait until fence row `id` carries `v` in the destination
    def awaitFence(id: Int, v: String, within: Long): Boolean = {
      val deadline = System.nanoTime() + within * 1000000000L
      var ok = false
      while (!ok && System.nanoTime() < deadline) {
        live.query.processAllAvailable()
        ok = fenceValue(id).contains(v)
        if (!ok) Thread.sleep(100)
      }
      ok
    }

    // one discarded warm-up batch through every table, so first-use JIT
    // and codegen land here and not in the measured batches; its rows
    // stay in the source and the destination
    admin.queryRows("insert into accounts select 2000000 + g, 1000 + g % 4, 0, -1 " +
      "from generate_series(1, 200) g; insert into branches select 1000 + g, 0, -1 " +
      "from generate_series(0, 3) g; insert into fence values (0, 0)")
    r.check(awaitFence(0, "0", 60), "warm-up batch never reached the destination")
    Log("warm-up batch applied")

    // closed loop: a backlog is committed while the stream is stopped and
    // spooled by the client into the change log; a restarted stream then
    // drains it to quiescence, so the pipeline and the sink, not the
    // offered rate, set drain_events_per_s
    live.query.stop()
    val logPath = Paths.get(live.log)
    val logFrom = Files.size(logPath)
    val marker = 7000000000L + cfg.seed % 1000000000L
    admin.queryRows((0 until BacklogTxns).map { k =>
      val lo = 3000000 + k * BacklogRows
      s"begin; insert into accounts select g, 1 + g % 16, 0, -2 from " +
        s"generate_series($lo, ${lo + BacklogRows - 1}) g; commit;"
    }.mkString + s"begin; update accounts set abalance = abalance + 1, txn = -3 " +
      s"where aid >= 3000000 and aid % 4 = 0; update branches set txn = -3; commit; " +
      s"insert into fence values (3, $marker)")
    // the change-log lines the client appends from here on, until the
    // backlog's own fence row arrives
    val fenceOid = oids("fence").toString
    var scanned = logFrom
    var backlogEvents = 0L
    var spooled = false
    val spoolDeadline = System.nanoTime() + 60L * 1000000000L
    while (!spooled && System.nanoTime() < spoolDeadline) {
      val ch = Files.newByteChannel(logPath)
      val bytes = try {
        ch.position(scanned)
        val buf = java.nio.ByteBuffer.allocate((ch.size - scanned).toInt)
        while (buf.hasRemaining && ch.read(buf) >= 0) ()
        buf.array
      } finally ch.close()
      val whole = bytes.lastIndexOf('\n'.toByte) + 1
      new String(bytes, 0, whole, UTF_8).split("\n").foreach { l =>
        val f = l.split("\t", -1)
        if (f.length >= 8 && f(2) != "R") {
          backlogEvents += 1
          if (f(3) == fenceOid && f(7).contains(marker.toString)) spooled = true
        }
      }
      scanned += whole
      if (!spooled) Thread.sleep(50)
    }
    r.check(spooled, "the backlog never reached the change log")
    val b0 = System.nanoTime()
    live.query = live.pipeline.startStream(live.log)
    live.query.processAllAvailable()
    val backlogS = Proc.seconds(b0, System.nanoTime())
    if (r.check(spooled && fenceValue(3).contains(marker.toString),
        "the backlog was not applied when the stream went quiet"))
      r.put("drain_events_per_s", backlogEvents / backlogS, "events/s")
    Log(s"backlog of $backlogEvents events drained in ${backlogS}s")

    /** Destination == Postgres, row for row; returns the source rows. */
    def checkTables(): Map[String, Set[String]] = {
      def pgRows(t: String): Set[String] = admin.queryRows(
        s"select ${Columns(t).map(_._1).mkString(", ")} from $t")
        .map(_.map(_.getOrElse("NULL")).mkString("|")).toSet
      def destRows(t: String): Set[String] =
        live.sink.read(spark, t).select(Columns(t).map(c =>
          coalesce(col(c._1).cast("string"), lit("NULL"))): _*)
          .collect().map(_.toSeq.mkString("|")).toSet
      val expected = Tables.map(t => t -> pgRows(t)).toMap
      Tables.foreach { t =>
        val got = checking(destRows(t))
        r.check(got == expected(t),
          s"$t: destination ${got.size} rows vs source ${expected(t).size}, " +
            s"${(got -- expected(t)).size} unexpected")
      }
      expected
    }

    if (cfg.backlogOnly) {
      // the single-slot baseline stops after the closed-loop drain
      live.stop()
      checkTables()
      dropSlot(live.slot)
      admin.close()
      return
    }

    // measured phase
    tracer.foreach(_.reset())
    live.traced.foreach(_.reset())
    val gc0 = Proc.gcMs()
    val destRoot = Paths.get(live.dir, "tables")
    val bytes0 = Proc.dirBytes(destRoot)
    val lagSampler = tracer.map(_ => new LagSampler(cfg.pgPort))
    println("GRAFTBENCH READY")
    System.out.flush()
    val cmd = scala.io.StdIn.readLine()
    require(cmd != null && cmd.startsWith("LOAD_DONE "), s"unexpected control line: $cmd")
    val Array(_, nonce, leadIn, loadFile) = cmd.split(" ", 4)
    val leadNs = leadIn.toLong

    // drain until the fence row is in the destination; the source reports
    // a batch durable only when the NEXT batch starts, so one more
    // committed change then moves the flush position past the fence
    val fenced = awaitFence(1, nonce, 90)
    r.check(fenced, "fence transaction never reached the destination")
    if (fenced) {
      admin.queryRows(s"insert into fence values (2, $nonce)")
      r.check(awaitFence(2, nonce, 60), "flush position never moved past the fence")
    }
    Log(s"drained to the fence: $fenced")
    live.stop()
    lagSampler.foreach(_.stop())

    // the change log: commit of each generated transaction
    val commitOf = mutable.HashMap.empty[Long, Long] // txn → commit lsn
    val lastOrd = mutable.HashMap.empty[Long, Long] // commit lsn → max ordinal
    var events = 0L
    val accountsOid = oids("accounts").toString
    val logLines = Files.readAllLines(Paths.get(live.log), UTF_8)
    logLines.forEach { line =>
      val f = line.split("\t", -1)
      if (f.length >= 8 && f(2) != "R") {
        val lsn = f(0).toLong
        val ord = f(1).toLong
        events += 1
        lastOrd(lsn) = math.max(lastOrd.getOrElse(lsn, -1L), ord)
        if (f(3) == accountsOid && f(7) != "\\N") commitOf(txnOf(f(7))) = lsn
      }
    }

    // generated transactions: txn, due, sent, done (ns), ok. Every one
    // is checked; those due in the lead-in (while the batch cadence
    // settles after the idle set-up) carry no timing.
    val gen = Files.readAllLines(Paths.get(loadFile), UTF_8).toArray(Array.empty[String])
      .filter(_.nonEmpty).map(_.split(" ").map(_.toLong))
    val from = gen.map(_(1)).min + leadNs
    val fresh = mutable.ArrayBuffer.empty[(Int, Double)] // (flush sample, ms)
    gen.foreach { g =>
      val (txn, due, ok) = (g(0), g(1), g(4) == 1L)
      val commit = if (ok) commitOf.get(txn) else None
      val covered = commit.flatMap(l => live.poller.coveringSample(l, lastOrd(l)))
      if (r.check(covered.nonEmpty,
          s"txn $txn ${if (ok) "not applied" else "failed at the source"}") && due >= from) {
        val t = live.poller.sampleTime(covered.get)
        fresh += ((covered.get, (t - due) / 1e6))
      }
    }
    val ms = fresh.map(_._2)
    r.put("freshness_p50_ms", Stats.median(ms), "ms")
    r.put("freshness_p99_ms", Stats.pct(ms, 99), "ms")
    // a sync = the transactions one durable flush covered; it takes from
    // the oldest one's due time to that flush
    r.put("sync_p50_s", Stats.median(fresh.groupBy(_._1).values
      .map(_.map(_._2).max / 1000.0)), "s")

    val expected = checkTables()

    // rounds of a full read of every table and keyed lookups of a fixed
    // key batch, from a collected heap so garbage left by the stream
    // does not land in them
    val keys = admin.queryRows(
      s"select aid from accounts order by md5(aid::text || '${cfg.seed}') limit 32")
      .map(_.head.get.toLong)
    val want = expected("accounts").filter(s => keys.contains(s.takeWhile(_ != '|').toLong))
    System.gc()
    val readMs = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    val lookups = mutable.ArrayBuffer.empty[Double]
    (0 until 6).foreach { _ =>
      val t0 = System.nanoTime()
      val counts = Tables.map { t =>
        val s0 = System.nanoTime()
        val n = live.sink.read(spark, t).count()
        readMs += (System.nanoTime() - s0) / 1e6
        n
      }
      val dt = Proc.seconds(t0, System.nanoTime())
      if (r.check(counts == Tables.map(expected(_).size.toLong), s"full read counts $counts"))
        reads += dt
      (0 until 2).foreach { _ =>
        val l0 = System.nanoTime()
        val got = live.sink.read(spark, "accounts").filter(col("aid").isin(keys: _*))
          .select(Columns("accounts").map(c => col(c._1).cast("string")): _*)
          .collect().map(_.toSeq.mkString("|")).toSet
        val ldt = Proc.seconds(l0, System.nanoTime())
        if (r.check(got == want, s"lookup returned ${got.size} of ${want.size} rows"))
          lookups += ldt
      }
    }
    r.put("read_s", Stats.median(reads), "s")
    r.put("search_p50_s", Stats.median(lookups), "s")

    tracer.foreach { tr =>
      Layers.stream(r, tr, live.traced.get)
      tr.engine(r, gc0)
      val lat = gen.map(g => (g(2) - g(1)) / 1e6)
      r.put("loadgen.txns", gen.length.toDouble, "count")
      r.put("loadgen.failed", gen.count(_(4) != 1L).toDouble, "count")
      r.put("loadgen.late_p99_ms", Stats.pct(lat, 99), "ms")
      lagSampler.foreach { s =>
        r.put("sources.pg_write_lag_p50_ms", Stats.median(s.write), "ms")
        r.put("sources.pg_flush_lag_p50_ms", Stats.median(s.flush), "ms")
      }
      r.put("sources.log_bytes", Files.size(Paths.get(live.log)).toDouble, "bytes")
      r.put("sources.log_events", events.toDouble, "count")
      r.put("sinks.bytes_written_per_event",
        (Proc.dirBytes(destRoot) - bytes0).toDouble / math.max(1L, events), "bytes")
      Layers.footprint(r, Tables.map(live.sink.tableFor))
      r.put("sinks.read_ms_per_table", Stats.median(readMs), "ms")
    }
    dropSlot(live.slot)
    admin.close()
  }

  /** Samples `pg_stat_replication` write/flush lag while the load runs. */
  final class LagSampler(port: Int) {
    val write = mutable.ArrayBuffer.empty[Double]
    val flush = mutable.ArrayBuffer.empty[Double]
    @volatile private var running = true
    private val thread = new Thread(() => {
      val c = new PgWireConnection("127.0.0.1", port, "postgres", "postgres", "")
      c.connect()
      try while (running) {
        c.queryRows("select extract(epoch from write_lag) * 1000, " +
          "extract(epoch from flush_lag) * 1000 from pg_stat_replication")
          .foreach { row =>
            row.headOption.flatten.foreach(v => write.synchronized(write += v.toDouble))
            row.lift(1).flatten.foreach(v => flush.synchronized(flush += v.toDouble))
          }
        Thread.sleep(200)
      } catch { case _: Throwable => () }
      finally c.close()
    }, "graftbench-lag-sampler")
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = { running = false; thread.join(2000) }
  }
}
