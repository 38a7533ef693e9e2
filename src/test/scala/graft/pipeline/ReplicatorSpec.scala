package graft.pipeline

import graft.PackedImage.img
import graft.SparkSpec
import graft.core.{ColumnSpec, SchemaRegistry, TableSchemaV}
import graft.sources.CdcLogSource
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Drives the replicator binary end-to-end (reference etl-replicator:
  * config file → pipeline → destination), plus registry persistence. */
class ReplicatorSpec extends SparkSpec {
  import spark.implicits._

  test("SchemaRegistry save/load roundtrip (K2 durable schema store)") {
    val reg = new SchemaRegistry
    reg.put(TableSchemaV(1L, "users", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
      ColumnSpec("name", "text"),
      ColumnSpec("balance", "numeric",
        modifier = graft.core.PgTypeMap.packNumericModifier(12, 2)))))
    reg.put(TableSchemaV(1L, "users", 20L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
      ColumnSpec("name", "text"),
      ColumnSpec("email", "text", replicated = false))))
    val path = Files.createTempDirectory("graft-reg").toString + "/schemas.json"
    reg.save(path)
    val loaded = SchemaRegistry.load(path)
    assert(loaded.versions(1L).map(_.snapshotLsn) == Seq(0L, 20L))
    assert(loaded.lookup(1L, 10L).get.columns(2).pgType == "numeric")
    assert(loaded.lookup(1L, 10L).get.columns(2).modifier ==
      graft.core.PgTypeMap.packNumericModifier(12, 2))
    assert(loaded.latest(1L).get.replicatedColumns.map(_.name) ==
      Seq("id", "name"))
    assert(loaded.latest(1L).get.primaryKey == Seq("id"))
  }

  test("replicator main: config → backfill → stream → drain (etl-replicator analog)") {
    val work = Files.createTempDirectory("graft-repl").toString
    // schema registry file
    val reg = new SchemaRegistry
    reg.put(TableSchemaV(1L, "users", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
      ColumnSpec("name", "text"))))
    reg.save(s"$work/schemas.json")
    // backfill parquet
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$work/snapshot")
    // change log: update 1, delete 2, insert 3
    Files.write(Paths.get(s"$work/wal.log"), Seq(
      CdcLogSource.renderLine("U", 1L, 1L, 1L, 0L, 0L,
        Some(img(1)), Some(img(1, "a2"))),
      CdcLogSource.renderLine("D", 1L, 2L, 2L, 0L, 0L,
        Some(img(2)), None),
      CdcLogSource.renderLine("I", 1L, 3L, 3L, 0L, 0L, None,
        Some(img(3, "c"))))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    // config file
    val cfg = s"""
      |pipeline.id = spec
      |pipeline.workdir = $work
      |destination = current_state
      |exactlyOnce = true
      |backfill.users = $work/snapshot
      |drain = true
      |""".stripMargin
    Files.write(Paths.get(s"$work/pipeline.properties"),
      cfg.getBytes(StandardCharsets.UTF_8))

    graft.Replicator.main(Array(s"$work/pipeline.properties"))

    // read through the table API: with manifest commits, the data dir is
    // append-only and only the current manifest defines live files
    val out = new graft.sinks.GraftTable(s"$work/tables/users", Seq("id"))
      .read(spark)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a2"), (3L, "c")))

    // metrics report written on drain (the bench-report analog)
    val metrics = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$work/metrics.json")))
    assert(metrics.contains("\"rows\":3"), metrics)
    assert(metrics.contains("\"eventsPerSecond\""), metrics)
    // per-table apply timings + copy-progress folded into the report
    assert(metrics.contains("\"applyByTable\""), metrics)
    assert(metrics.contains("\"applyMs\""), metrics)
    assert(metrics.contains("\"copiedRows\""), metrics)
    // exactlyOnce=true persisted the batch ledger under the pipeline id
    assert(new graft.sinks.TxnLedger(s"$work/txn_ledger.json")
      .lastCommitted("spec") >= 0L)
  }

  test("merge-on-read destination via config: CDC batches land as delta " +
      "layers; maintenance knobs flow through") {
    val work = Files.createTempDirectory("graft-repl-mor").toString
    val reg = new SchemaRegistry
    reg.put(TableSchemaV(1L, "users", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
      ColumnSpec("name", "text"))))
    reg.save(s"$work/schemas.json")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$work/snapshot")
    Files.write(Paths.get(s"$work/wal.log"), Seq(
      CdcLogSource.renderLine("U", 1L, 1L, 1L, 0L, 0L,
        Some(img(1)), Some(img(1, "a2"))),
      CdcLogSource.renderLine("I", 1L, 2L, 3L, 0L, 0L, None,
        Some(img(3, "c"))))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    // MoR destination, admission floor 0 (always layer), maintenance
    // timer ON but collapse triggers OFF — the layers must survive
    val cfg = s"""
      |pipeline.id = morspec
      |pipeline.workdir = $work
      |destination = current_state
      |destination.mergeOnRead = true
      |destination.morMinAffectedBytes = 0
      |maintenance.everyBatches = 1
      |maintenance.minLayerBytes = 1073741824
      |maintenance.deleteThreshold = 0.99
      |backfill.users = $work/snapshot
      |drain = true
      |""".stripMargin
    Files.write(Paths.get(s"$work/pipeline.properties"),
      cfg.getBytes(StandardCharsets.UTF_8))

    graft.Replicator.main(Array(s"$work/pipeline.properties"))

    val t = graft.sinks.GraftTable.open(s"$work/tables/users")
    assert(t.read(spark).select("id", "name")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b"), (3L, "c")))
    assert(t.layerPressure.layers >= 1,
      "the CDC merge must have landed as a delta layer")
  }

  test("jdbc destination: config → backfill → stream → external engine") {
    val work = Files.createTempDirectory("graft-repl-jdbc").toString
    val reg = new SchemaRegistry
    reg.put(TableSchemaV(1L, "users", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
      ColumnSpec("name", "text"))))
    reg.save(s"$work/schemas.json")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$work/snapshot")
    Files.write(Paths.get(s"$work/wal.log"), Seq(
      CdcLogSource.renderLine("U", 1L, 1L, 1L, 0L, 0L,
        Some(img(1)), Some(img(1, "a2"))),
      CdcLogSource.renderLine("D", 1L, 2L, 2L, 0L, 0L,
        Some(img(2)), None),
      CdcLogSource.renderLine("I", 1L, 3L, 3L, 0L, 0L, None,
        Some(img(3, "c"))))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val url = s"jdbc:derby:$work/engine;create=true"
    val cfg = s"""
      |pipeline.id = spec-jdbc
      |pipeline.workdir = $work
      |destination = jdbc
      |destination.url = $url
      |backfill.users = $work/snapshot
      |drain = true
      |""".stripMargin
    Files.write(Paths.get(s"$work/pipeline.properties"),
      cfg.getBytes(StandardCharsets.UTF_8))

    graft.Replicator.main(Array(s"$work/pipeline.properties"))

    // read back THROUGH the engine: the applied state lives in Derby
    val out = new graft.sinks.JdbcSink(url, _ => Seq("id"))
      .read(spark, "users")
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a2"), (3L, "c")))
  }

  test("socket mode: live replication intake wired through config (etl-replicator parity)") {
    import graft.sources.{FakePgServer, PgOutput}
    import PgOutput._
    spark.sparkContext // shared session up BEFORE main's getOrCreate
    val work = Files.createTempDirectory("graft-sock").toString
    val reg = new SchemaRegistry
    reg.put(TableSchemaV(1L, "users", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
      ColumnSpec("name", "text"))))
    reg.save(s"$work/schemas.json")

    val server = new FakePgServer(walSenderTimeout = "1s",
      password = "pw")
    // wire-native SNAPSHOT: exported snapshot id, pg_class stats, and
    // per-range COPY rows all served over the protocol
    server.queryHandler = sql =>
      if (sql.contains("pg_export_snapshot"))
        Some(Seq(Seq("00000003-00000002-1")))
      else if (sql.contains("pg_partition_tree"))
        Some(Seq(Seq("public.users", "1", "2")))
      else if (sql.contains("pg_attribute"))
        // live catalog for the bootstrap attnum stamping
        // (source.stampOrdinals, default on): the table's history had a
        // mid-table drop, so name sits at attnum 3, not position 2
        Some(Seq(Seq("id", "1", null), Seq("name", "3", null)))
      else None
    server.copyHandler = sql => {
      assert(sql.contains("public.users") && sql.contains("ctid"), sql)
      Seq("10\tpre-a", "11\tpre-b")
    }
    val port = server.start()
    val rel = Relation(1, "public", "users", 'd', IndexedSeq(
      RelCol(1, "id", 20, -1), RelCol(0, "name", 25, -1)))
    def row(vs: String*): TupleData = vs.map(TText(_): TupleValue).toIndexedSeq
    server.enqueue(
      server.Frame(encode(rel), 90, 90),
      server.Frame(encode(Begin(100, 0, 1)), 91, 91),
      server.Frame(encode(Insert(1, row("1", "ann"))), 92, 92),
      server.Frame(encode(Insert(1, row("2", "bob"))), 93, 93),
      server.Frame(encode(Commit(0, 100, 101, 0)), 100, 100))

    val cfg = s"""
      |pipeline.id = sock
      |pipeline.workdir = $work
      |source.mode = socket
      |source.host = 127.0.0.1
      |source.port = $port
      |source.password = pw
      |source.log = $work/wal.log
      |destination = current_state
      |backfill.users = copy:public.users
      |drain = true
      |drain.settleMs = 500
      |""".stripMargin
    Files.write(Paths.get(s"$work/sock.properties"),
      cfg.getBytes(StandardCharsets.UTF_8))
    try {
      graft.Replicator.main(Array(s"$work/sock.properties"))
    } finally server.stop()

    val out = new graft.sinks.GraftTable(s"$work/tables/users", Seq("id"))
      .read(spark).select("id", "name").as[(Long, String)].collect().toSet
    // wire snapshot rows + streamed CDC rows, one consistent table
    assert(out == Set((10L, "pre-a"), (11L, "pre-b"),
      (1L, "ann"), (2L, "bob")))
    // the intake authenticated (SCRAM) and started the slot; the copy
    // workers joined the exported snapshot
    val qs = server.queries.toArray.map(_.toString)
    assert(qs.exists(_.startsWith("START_REPLICATION")))
    assert(qs.exists(_.contains("pg_export_snapshot")))
    assert(qs.exists(_.contains("SET TRANSACTION SNAPSHOT '00000003-00000002-1'")))
    // bootstrap attnum stamping ran over the wire and PERSISTED: the
    // re-saved registry carries the live catalog's ordinals (gap at the
    // historical drop), so the first attnum-keyed diff cannot mis-key
    assert(qs.exists(_.contains("pg_attribute")))
    val stamped = SchemaRegistry.load(s"$work/schemas.json")
    assert(stamped.latest(1L).get.columns.map(c => (c.name, c.ordinal)) ==
      IndexedSeq(("id", 1), ("name", 3)),
      stamped.latest(1L).get.columns.toString)
  }

  test("socket mode + source.createSlot: the slot is created BEFORE " +
      "any snapshot work and the backfill joins the SLOT's exported " +
      "snapshot — no pg_export_snapshot, no (export, create) loss " +
      "window") {
    import graft.sources.{FakePgServer, PgOutput}
    import PgOutput._
    spark.sparkContext
    val work = Files.createTempDirectory("graft-slotboot").toString
    val reg = new SchemaRegistry
    reg.put(TableSchemaV(1L, "users", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
      ColumnSpec("name", "text"))))
    reg.save(s"$work/schemas.json")

    val server = new FakePgServer(walSenderTimeout = "1s",
      password = "pw")
    @volatile var slotExists = false
    server.queryHandler = sql =>
      if (sql.contains("pg_replication_slots"))
        Some(if (slotExists) Seq(Seq("boot_slot")) else Seq.empty)
      else if (sql.startsWith("CREATE_REPLICATION_SLOT")) {
        slotExists = true
        Some(Seq(Seq("boot_slot", "0/80", "00000007-00000022-1",
          "pgoutput")))
      } else if (sql.contains("pg_partition_tree"))
        Some(Seq(Seq("public.users", "1", "2")))
      else None
    server.copyHandler = sql => Seq("10\tpre-a")
    val port = server.start()
    val rel = Relation(1, "public", "users", 'd', IndexedSeq(
      RelCol(1, "id", 20, -1), RelCol(0, "name", 25, -1)))
    def row(vs: String*): TupleData = vs.map(TText(_): TupleValue).toIndexedSeq
    server.enqueue(
      server.Frame(encode(rel), 90, 90),
      server.Frame(encode(Begin(100, 0, 1)), 91, 91),
      server.Frame(encode(Insert(1, row("1", "ann"))), 92, 92),
      server.Frame(encode(Commit(0, 100, 101, 0)), 100, 100))

    val cfg = s"""
      |pipeline.id = slotboot
      |pipeline.workdir = $work
      |source.mode = socket
      |source.host = 127.0.0.1
      |source.port = $port
      |source.password = pw
      |source.slot = boot_slot
      |source.createSlot = true
      |source.log = $work/wal.log
      |destination = current_state
      |backfill.users = copy:public.users
      |drain = true
      |drain.settleMs = 500
      |""".stripMargin
    Files.write(Paths.get(s"$work/slotboot.properties"),
      cfg.getBytes(StandardCharsets.UTF_8))
    try {
      graft.Replicator.main(Array(s"$work/slotboot.properties"))
    } finally server.stop()

    val out = new graft.sinks.GraftTable(s"$work/tables/users", Seq("id"))
      .read(spark).select("id", "name").as[(Long, String)].collect().toSet
    assert(out == Set((10L, "pre-a"), (1L, "ann")))

    val qs = server.queries.toArray.map(_.toString)
    // the slot's snapshot serves the backfill — nothing else exports one
    assert(!qs.exists(_.contains("pg_export_snapshot")),
      "the slot's exported snapshot must replace pg_export_snapshot")
    assert(qs.exists(
      _.contains("SET TRANSACTION SNAPSHOT '00000007-00000022-1'")))
    // creation strictly precedes every COPY and START_REPLICATION
    val createIdx = qs.indexWhere(_.startsWith("CREATE_REPLICATION_SLOT"))
    val firstCopy = qs.indexWhere(_.toUpperCase.startsWith("COPY"))
    val startIdx = qs.indexWhere(_.startsWith("START_REPLICATION"))
    assert(createIdx >= 0 && firstCopy > createIdx && startIdx > createIdx,
      qs.mkString("\n"))
    // the intake probed again at stream start and did NOT recreate
    assert(qs.count(_.startsWith("CREATE_REPLICATION_SLOT")) == 1)
  }

  test("live /metrics endpoint (telemetry.port): a Prometheus scrape " +
      "during the pipeline sees etl_prepared_transactions move across " +
      "a prepare → commit, and the spool gauges track the held spool") {
    import graft.sources.{FakePgServer, PgOutput}
    import PgOutput._
    spark.sparkContext
    val work = Files.createTempDirectory("graft-prom").toString
    val reg = new SchemaRegistry
    reg.put(TableSchemaV(1L, "users", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
      ColumnSpec("name", "text"))))
    reg.save(s"$work/schemas.json")
    val server = new FakePgServer(walSenderTimeout = "1s", password = "pw")
    server.queryHandler = sql =>
      if (sql.contains("pg_export_snapshot"))
        Some(Seq(Seq("00000003-00000002-1")))
      else if (sql.contains("pg_partition_tree"))
        Some(Seq(Seq("public.users", "1", "2")))
      else None
    server.copyHandler = _ => Seq("10\tpre-a")
    val port = server.start()
    val rel = Relation(1, "public", "users", 'd', IndexedSeq(
      RelCol(1, "id", 20, -1), RelCol(0, "name", 25, -1)))
    def row(vs: String*): TupleData = vs.map(TText(_): TupleValue).toIndexedSeq
    // a two-phase transaction PREPAREs and stays undecided
    server.enqueue(
      server.Frame(encode(rel), 90, 90),
      server.Frame(encode(BeginPrepare(200, 210, 0, 21, "g1")), 91, 91),
      server.Frame(encode(Insert(1, row("7", "prep"))), 92, 92),
      server.Frame(encode(Prepare(0, 200, 210, 0, 21, "g1")), 93, 93))
    val cfg = s"""
      |pipeline.id = prom
      |pipeline.workdir = $work
      |source.mode = socket
      |source.host = 127.0.0.1
      |source.port = $port
      |source.password = pw
      |source.protoVersion = 3
      |source.log = $work/wal.log
      |destination = current_state
      |backfill.users = copy:public.users
      |telemetry.port = 0
      |telemetry.exportIntervalMs = 200
      |drain = true
      |drain.settleMs = 400
      |""".stripMargin
    Files.write(Paths.get(s"$work/prom.properties"),
      cfg.getBytes(StandardCharsets.UTF_8))
    val main = new Thread(() =>
      graft.Replicator.main(Array(s"$work/prom.properties")), "prom-main")
    main.setDaemon(true)
    def scrape(p: Int): String = {
      val c = new java.net.URL(s"http://127.0.0.1:$p/metrics")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setConnectTimeout(2000); c.setReadTimeout(2000)
      try new String(c.getInputStream.readAllBytes(),
        StandardCharsets.UTF_8)
      finally c.disconnect()
    }
    def gaugeOf(body: String, name: String): Option[Double] =
      body.linesIterator.find(l => l.startsWith(name + " "))
        .map(_.split(' ').last.toDouble)
    try {
      main.start()
      // per-phase deadline: under a fully-parallel suite run the shared
      // local session is heavily contended
      def deadline = System.currentTimeMillis() + 60000
      // the endpoint publishes its bound port (telemetry.port = 0)
      val d0 = deadline
      val portPath = Paths.get(s"$work/metrics.port")
      while (!Files.exists(portPath) &&
        System.currentTimeMillis() < d0) Thread.sleep(50)
      assert(Files.exists(portPath), "metrics.port never appeared")
      val promPort = new String(Files.readAllBytes(portPath),
        StandardCharsets.UTF_8).trim.toInt
      // keep the log growing (so drain cannot exit) while scraping for
      // the undecided prepare; each committed tx forces a status update
      // which refreshes the prepared gauges
      var lsn = 300L
      def pumpTx(): Unit = {
        server.enqueue(
          server.Frame(encode(Begin(lsn, 0, 50)), lsn, lsn),
          server.Frame(encode(Insert(1, row(lsn.toString, "x"))),
            lsn + 1, lsn + 1),
          server.Frame(encode(Commit(0, lsn, lsn + 2, 0)), lsn + 2, lsn + 2))
        lsn += 10
      }
      var seenPrepared = false
      var seenSpool = false
      val d1 = deadline
      while (!seenPrepared && System.currentTimeMillis() < d1) {
        pumpTx()
        val body = try scrape(promPort) catch { case _: Throwable => "" }
        if (gaugeOf(body, "etl_prepared_transactions").contains(1.0)) {
          seenPrepared = true
          // the held prepared spool is visible on disk
          seenSpool = gaugeOf(body, "etl_spool_files").exists(_ >= 1.0)
        } else Thread.sleep(100)
      }
      assert(seenPrepared,
        "scrape never observed the undecided prepared transaction")
      assert(seenSpool, "etl_spool_files did not track the held spool")
      // the decision lands; the gauge must return to rest
      server.enqueue(
        server.Frame(encode(CommitPrepared(0, 900, 901, 0, 21, "g1")),
          900, 901))
      var atRest = false
      val d2 = deadline
      while (!atRest && System.currentTimeMillis() < d2) {
        pumpTx()
        val body = try scrape(promPort) catch { case _: Throwable => "" }
        if (gaugeOf(body, "etl_prepared_transactions").contains(0.0))
          atRest = true
        else Thread.sleep(100)
      }
      assert(atRest, "etl_prepared_transactions never returned to 0 " +
        "after COMMIT PREPARED")
      // stop pumping: drain settles and main exits
      main.join(60000)
      assert(!main.isAlive, "replicator main did not drain/exit")
    } finally {
      // never leak the pipeline query into other suites: a still-alive
      // main holds the 'graft-cdc-apply' query name and every later
      // startStream in the shared session would refuse to start
      spark.streams.active.filter(q => q.name == "graft-cdc-apply")
        .foreach(q => try q.stop() catch { case _: Throwable => () })
      server.stop()
      main.join(15000)
    }
    // the prepared row and the pumped rows landed exactly once
    val out = new graft.sinks.GraftTable(s"$work/tables/users", Seq("id"))
      .read(spark).select("id", "name").as[(Long, String)].collect().toMap
    assert(out(7L) == "prep", s"prepared tx row missing: $out")
    assert(out(10L) == "pre-a")
  }

  test("preflight=true aborts startup on a critical source failure " +
      "BEFORE anything deploys — no slot, no stream, no backfill") {
    import graft.sources.FakePgServer
    spark.sparkContext
    val work = Files.createTempDirectory("graft-preflight").toString
    val reg = new SchemaRegistry
    reg.put(TableSchemaV(1L, "users", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
      ColumnSpec("name", "text"))))
    reg.save(s"$work/schemas.json")
    val server = new FakePgServer()
    // the publication is MISSING; everything else answers healthy
    server.queryHandler = sql =>
      if (sql.contains("select exists(select 1 from pg_publication"))
        Some(Seq(Seq("f")))
      else if (sql.contains("wal_level")) Some(Seq(Seq("logical")))
      else if (sql.contains("max_replication_slots"))
        Some(Seq(Seq("10", "0")))
      else if (sql.contains("max_wal_senders")) Some(Seq(Seq("10", "0")))
      else None
    val port = server.start()
    val cfg = s"""
      |pipeline.id = preflight
      |pipeline.workdir = $work
      |preflight = true
      |source.mode = socket
      |source.host = 127.0.0.1
      |source.port = $port
      |source.log = $work/wal.log
      |destination = null
      |drain = true
      |""".stripMargin
    Files.write(Paths.get(s"$work/preflight.properties"),
      cfg.getBytes(StandardCharsets.UTF_8))
    try {
      val e = intercept[IllegalStateException] {
        graft.Replicator.main(Array(s"$work/preflight.properties"))
      }
      assert(e.getMessage.contains("Publication Not Found"), e.getMessage)
      // the abort happened before deployment: the replication stream
      // never started against the source
      val qs = server.queries.toArray.map(_.toString)
      assert(!qs.exists(_.startsWith("START_REPLICATION")),
        s"preflight must abort before the slot starts: $qs")
    } finally server.stop()
  }

  test("read-replica mode: store connection independent of the source (store.dir)") {
    // mirrors pipeline_read_replica.rs:377 semantics: the source (the
    // standby's spool) and the progress/state STORE live on separate
    // roots; source-side progress (the replica-slot analog) stays with
    // the source, durable bookkeeping goes to the store
    val replica = Files.createTempDirectory("graft-replica").toString // standby
    val primary = Files.createTempDirectory("graft-primary").toString // store
    val work = Files.createTempDirectory("graft-rr-work").toString    // dest
    val reg = new SchemaRegistry
    reg.put(TableSchemaV(1L, "users", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
      ColumnSpec("name", "text"))))
    reg.save(s"$work/schemas.json")
    // empty snapshot: the copy phase ran on the replica before the stream
    spark.emptyDataset[(Long, String)].toDF("id", "name")
      .write.parquet(s"$work/snapshot0")
    Files.write(Paths.get(s"$replica/wal.log"), Seq(
      CdcLogSource.renderLine("I", 1L, 1L, 1L, 0L, 0L, None,
        Some(img(1, "a"))),
      CdcLogSource.renderLine("I", 1L, 2L, 2L, 0L, 0L, None,
        Some(img(2, "b"))))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    def cfg(): String = {
      val c = s"""
        |pipeline.id = rr
        |pipeline.workdir = $work
        |store.dir = $primary
        |source.log = $replica/wal.log
        |source.schemas = $work/schemas.json
        |destination = current_state
        |exactlyOnce = true
        |backfill.users = $work/snapshot0
        |drain = true
        |""".stripMargin
      Files.write(Paths.get(s"$work/rr.properties"),
        c.getBytes(StandardCharsets.UTF_8))
      s"$work/rr.properties"
    }
    graft.Replicator.main(Array(cfg()))

    // durable bookkeeping landed on the STORE root, none of it beside
    // the source
    assert(Files.isDirectory(Paths.get(s"$primary/checkpoint")))
    assert(Files.isDirectory(Paths.get(s"$primary/state")))
    assert(Files.exists(Paths.get(s"$primary/txn_ledger.json")))
    assert(!Files.exists(Paths.get(s"$work/checkpoint")))

    // restart resumes from the STORE's checkpoint: only the new event
    // applies (no duplicate inserts of ids 1/2)
    Files.write(Paths.get(s"$replica/wal.log"), Seq(
      CdcLogSource.renderLine("U", 1L, 3L, 3L, 0L, 0L,
        Some(img(1)), Some(img(1, "a2"))))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    graft.Replicator.main(Array(cfg()))
    val out = new graft.sinks.GraftTable(s"$work/tables/users", Seq("id"))
      .read(spark).select("id", "name").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a2"), (2L, "b")))
    // source-side progress (the replica-slot status-update analog) stays
    // with the SOURCE, not the store — written once run 2's planning
    // committed run 1's batch (offset N commits while planning N+1, the
    // reference's confirm-previous-flush shape)
    assert(Files.exists(Paths.get(s"$replica/wal.log.progress")))
    assert(!Files.exists(Paths.get(s"$primary/wal.log.progress")))
  }
}

/** ST5 as a real Structured Streaming query: tumbling window + watermark
  * over the events table driven through a file stream. */
class WindowedStreamSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("tumbling-window aggregation under readStream matches batch result") {
    val dir = Files.createTempDirectory("graft-win").toString
    val batchDf = graft.Tables.load(spark, sf(), "events")
      .select("ts", "event_type", "value")
    batchDf.write.parquet(s"$dir/in")

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .parquet(s"$dir/in")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("start"), col("event_type"), col("n"))

    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    q.stop()

    // append mode only emits CLOSED windows (watermark passed); every
    // emitted row must match the batch computation for that window
    val got = spark.table("win_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val expect = batchDf
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got.nonEmpty)
    got.foreach { case (k, n) => assert(expect(k) == n, s"window $k") }
  }
}
