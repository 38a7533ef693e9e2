package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SchemaRegistry, TableSchemaV}
import graft.pipeline.{CdcPipeline, PipelineConfig}
import graft.sinks.{CdcSink, ChangelogSink, CurrentStateSink, ExactlyOnceSink, NullSink}

/** Standalone replicator binary — the analog of the reference's
  * etl-replicator (crates/etl-replicator/src/main.rs:75): load a config
  * file, build store + destination, run the pipeline, handle shutdown.
  * `spark-submit --class graft.Replicator app.jar pipeline.properties`.
  *
  * Java-properties config (mirrors ReplicatorConfig/PipelineConfig,
  * crates/etl-config/src/shared/replicator.rs:21):
  *
  *   pipeline.id = demo
  *   pipeline.workdir = /tmp/graft-demo       # checkpoints, state, tables
  *   store.dir = /primary/graft-demo          # OPTIONAL separate store root
  *   pipeline.maxRowsPerTrigger = 100000
  *   pipeline.maxFillMs = 10000
  *   pipeline.maxTableSyncWorkers = 4
  *   pipeline.maxBytesPerTrigger = 8388608    # byte budget per batch
  *   pipeline.memoryAdmission = off | modulate | block   # ST7 policy
  *   pipeline.memorySignal = driver | executor  # pressure source:
  *                                            # local JVM vs worst live
  *                                            # executor (cluster)
  *   source.log = /tmp/graft-demo/wal.log     # CDC change log path
  *   source.schemas = /tmp/graft-demo/schemas.json  # SchemaRegistry file
  *   source.mode = file | socket              # socket = live replication
  *   source.host = replica.db   source.port = 5432   # socket mode
  *   source.slot = graft_slot   source.publication = graft_pub
  *   source.user = graft  source.password = …  source.database = postgres
  *   source.sslmode = disable|require|verify-ca|verify-full  # TLS
  *   source.sslrootcert = /path/ca.pem        # trust anchors (verify-ca)
  *   source.binary = true                     # PG 14+ binary tuple mode
  *   source.createSlot = true                 # create slot if missing
  *                                            # (TWO_PHASE under proto 3)
  *   source.copyBinary = true                 # FORMAT binary snapshots
  *   source.protoVersion = 1 | 2 | 3          # 2: streamed large txs,
  *                                            # 3: + two-phase commit
  *   source.origin = any | none               # foreign-origin tx filter
  *   source.spoolDir = /data/spools           # streamed-tx spool volume
  *                                            # (default: next to the log)
  *   destination = current_state | changelog | jdbc | null
  *   destination.url = jdbc:…                  # jdbc mode: engine URL
  *   destination.mergeOnRead = true           # delta-layer writes
  *   destination.morMinAffectedBytes = 67108864  # CoW↔MoR crossover
  *   maintenance.everyBatches = 16            # in-process policy timer
  *   maintenance.{maxFilesPerBucket, keepVersions, minIntervalMs,
  *     maxPauseMs, minLayerBytes, deleteThreshold, targetFileSizeBytes,
  *     maxCompactedFiles, minActiveDataFiles, maxTablesPerRun,
  *     rebucketAboveBytes}                    # MaintenancePolicy knobs
  *   exactlyOnce = true                       # batchId txn ledger wrapper
  *   telemetry.exportIntervalMs = 10000       # live metrics.prom refresh
  *                                            # (0 = final write only)
  *   telemetry.port = 9000                    # live /metrics HTTP endpoint
  *                                            # (unset = off; 0 = ephemeral,
  *                                            # bound port → metrics.port)
  *   backfill.<tableName> = <parquet path>    # optional initial snapshots
  *   preflight = true                         # validate config + source
  *                                            # before starting (warnings
  *                                            # log, criticals abort)
  *   drain = true                             # process available + exit
  *
  * `store.dir` is the READ-REPLICA seam (reference
  * pipeline_read_replica.rs:377 + etl-config's separate
  * `StoreConfig`/source connections): the pipeline's durable bookkeeping
  * — offsets checkpoint, table state store, txn ledger — lives on a
  * connection/path INDEPENDENT of the source. A replica-sourced pipeline
  * tails the standby's spool (`source.log` on the replica) while its
  * progress store sits on the primary or a third system; progress
  * reported back to the SOURCE (the `.progress` status-update file, the
  * replica-side slot analog) stays source-side, exactly like the
  * reference keeps the logical slot on the replica while the state
  * store connects elsewhere.
  */
object Replicator {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: Replicator <config.properties>")
    val props = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(args(0)))
    try props.load(in) finally in.close()
    def get(k: String, dflt: String = null): String = {
      val v = props.getProperty(k, dflt)
      require(v != null, s"missing config key: $k"); v
    }

    val work = get("pipeline.workdir")
    val spark = SparkSession.builder()
      .appName(s"graft-replicator-${get("pipeline.id", "pipeline")}")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // TLS toward the source, both wire paths — replication stream and
    // snapshot COPY (the reference's TlsConfig {trusted_root_certs,
    // enabled} on pipeline connections, connection.rs:194-221)
    val sslMode = get("source.sslmode", "disable")
    val sslRootCert = Option(get("source.sslrootcert", "")).filter(_.nonEmpty)

    val registry = SchemaRegistry.load(get("source.schemas", s"$work/schemas.json"))
    val sink0: CdcSink = get("destination", "current_state") match {
      case "current_state" => new CurrentStateSink(s"$work/tables",
        name => registry.tables.flatMap(registry.latest)
          .find(_.tableName == name).map(_.primaryKey)
          .getOrElse(Seq("id")),
        // destination.mergeOnRead = true: destination tables absorb
        // small CDC batches as delta layers (no bucket rewrites); the
        // maintenance policy's triggers govern the collapse cadence.
        // Policy knobs are config-exposed with MaintenancePolicy's own
        // defaults (0 batches = in-process maintenance off).
        maintenance = graft.sinks.MaintenancePolicy(
          everyBatches = get("maintenance.everyBatches", "0").toInt,
          maxFilesPerBucket = get("maintenance.maxFilesPerBucket", "4").toInt,
          keepVersions = get("maintenance.keepVersions", "2").toInt,
          minIntervalMs = get("maintenance.minIntervalMs", "0").toLong,
          maxPauseMs = get("maintenance.maxPauseMs", "60000").toLong,
          minLayerBytes = get("maintenance.minLayerBytes", "0").toLong,
          deleteThreshold = get("maintenance.deleteThreshold", "0.5").toDouble,
          targetFileSizeBytes =
            get("maintenance.targetFileSizeBytes", "0").toLong,
          maxCompactedFiles = get("maintenance.maxCompactedFiles", "40").toInt,
          minActiveDataFiles =
            get("maintenance.minActiveDataFiles", "0").toInt,
          maxTablesPerRun = get("maintenance.maxTablesPerRun", "8").toInt,
          rebucketAboveBytes = get("maintenance.rebucketAboveBytes",
            Long.MaxValue.toString).toLong),
        mergeOnRead = get("destination.mergeOnRead", "false").toBoolean,
        morMinAffectedBytes = get("destination.morMinAffectedBytes",
          graft.sinks.GraftTable.MorMinAffectedBytesDefault.toString)
          .toLong)
      case "changelog" => new ChangelogSink(s"$work/changelog")
      // external SQL engine over JDBC (the reference's warehouse
      // destinations): genuine INSERT/MERGE with the replay cursor
      // held IN the engine, next to the data it gates
      case "jdbc" => new graft.sinks.JdbcSink(get("destination.url"),
        name => registry.tables.flatMap(registry.latest)
          .find(_.tableName == name).map(_.primaryKey)
          .getOrElse(Seq("id")))
      case "null" => new NullSink
      case other => throw new IllegalArgumentException(s"unknown destination $other")
    }
    // read-replica seam: durable bookkeeping under its own root
    val store = get("store.dir", work)
    // optional txn ledger: replays of committed batches become no-ops
    // even for destinations without a natural sequence high-water mark
    val sink: CdcSink =
      if (get("exactlyOnce", "false").toBoolean)
        new ExactlyOnceSink(sink0, s"$store/txn_ledger.json",
          get("pipeline.id", "pipeline"))
      else sink0

    val config = PipelineConfig(
      maxRowsPerTrigger = get("pipeline.maxRowsPerTrigger", "100000").toLong,
      maxFillMs = get("pipeline.maxFillMs", "10000").toLong,
      maxTableSyncWorkers = get("pipeline.maxTableSyncWorkers", "4").toInt,
      checkpointDir = s"$store/checkpoint",
      stateDir = s"$store/state",
      maxBytesPerTrigger =
        Option(props.getProperty("pipeline.maxBytesPerTrigger"))
          .map(_.trim).filter(_.nonEmpty).map(_.toLong),
      memoryAdmission = get("pipeline.memoryAdmission", "off"))

    // pressure-signal source for memory admission: "driver" (default,
    // the local-mode shape) or "executor" — worst live executor via
    // scheduler metrics events (the cluster shape; the driver's own
    // heap stays a floor either way)
    if (get("pipeline.memorySignal", "driver") == "executor")
      graft.sources.ExecutorMemorySignal.install(spark)

    // opt-in preflight validation (the reference control plane's
    // validator suite, run engine-side — see graft.sources.Preflight):
    // aggregated report; warnings log, criticals abort startup
    if (get("preflight", "false") == "true") {
      val prop = (k: String) => Option(props.getProperty(k))
      val failures =
        if (get("source.mode", "file") == "socket") {
          // merge-shaped destinations additionally require a primary
          // key per published table (the reference's per-destination
          // PrimaryKeyValidator); append changelog shapes do not
          val shape = get("destination", "current_state") match {
            case "current_state" => Some("current-state merge")
            case "jdbc" => Some("JDBC merge")
            case _ => None
          }
          graft.pipeline.CdcPipeline.preflight(
            graft.sources.PgSourceConfig(
              host = get("source.host", "127.0.0.1"),
              port = get("source.port").toInt,
              user = get("source.user", "graft"),
              database = get("source.database", "postgres"),
              password = get("source.password", ""),
              publication = get("source.publication", "graft_pub"),
              slot = Some(get("source.slot", "graft_slot")),
              protoVersion = get("source.protoVersion", "1").toInt,
              binaryMode = get("source.binary", "false") == "true",
              sslMode = sslMode, sslRootCert = sslRootCert),
            maxTableSyncWorkers =
              get("pipeline.maxTableSyncWorkers", "4").toInt,
            destinationShape = shape, config = prop)
        } else graft.sources.Preflight.validateConfig(prop)
      graft.sources.Preflight.enforce(failures)
    }

    // Catalog attnum stamping (socket mode): seeded schema versions are
    // positional (ord = 0); the live catalog's attnums re-key them so
    // the FIRST wire SchemaDiff aligns even when the table's history
    // includes a mid-table DROP COLUMN — the reference seeds ordinals
    // the same way at its bootstrap schema fetch (transaction.rs:563).
    // Non-fatal on any failure; registry saves below persist the stamp.
    if (get("source.mode", "file") == "socket" &&
        get("source.stampOrdinals", "true") == "true") {
      val stamped = graft.sources.SchemaDiscovery.stampOrdinalsVia(
        get("source.host", "127.0.0.1"), get("source.port").toInt,
        get("source.user", "graft"), get("source.database", "postgres"),
        get("source.password", ""), registry,
        sslMode = sslMode, sslRootCert = sslRootCert)
      if (stamped.nonEmpty)
        registry.save(get("source.schemas", s"$work/schemas.json"))
    }

    val pipeline = new CdcPipeline(spark, config, registry, sink,
      CdcPipeline.jsonDecode)
    sink.startup(spark)

    // optional backfill phase (table_sync): backfill.<name> is either a
    // parquet path or `copy:<qualified table>` — the latter snapshots
    // the table OVER THE WIRE: one exporting connection pins a
    // REPEATABLE READ snapshot (pg_export_snapshot) and reads pg_class
    // stats; the CTID planner splits each leaf into ranges; every Spark
    // task joins the snapshot on its own connection and COPYs its range
    // (the reference's table_sync copy, copy.rs:344-547)
    import scala.jdk.CollectionConverters._
    val backfills = props.stringPropertyNames().asScala.toSeq
      .filter(_.startsWith("backfill."))
      .map(k => k.stripPrefix("backfill.") -> props.getProperty(k))
    if (backfills.nonEmpty) {
      val known = registry.tables.flatMap(registry.latest)
      val tables = backfills.map { case (name, _) =>
        known.find(_.tableName == name).getOrElse(throw
          new IllegalArgumentException(
            s"backfill.$name: table not in schema registry " +
              s"(known: ${known.map(_.tableName).mkString(", ")})"))
      }
      val paths = backfills.toMap
      // slot-aligned bootstrap: when this replicator OWNS slot creation
      // (source.createSlot) and wire backfills exist, the slot must be
      // created BEFORE any snapshot export — a slot only retains WAL
      // from its own consistent point, so the naive order (export,
      // backfill, create-at-stream-start) silently loses every change
      // inside the (export, create) window. Better: create it WITH an
      // exported snapshot and give the backfill THAT snapshot — reads
      // land exactly on the slot's consistent point, and the stream
      // resumes from confirmed_flush with zero gap and zero overlap
      // (the reference's create_slot_with_transaction pattern,
      // raw.rs:419).
      val slotSession =
        if (get("source.mode", "file") == "socket" &&
            get("source.createSlot", "false") == "true" &&
            paths.valuesIterator.exists(_.startsWith("copy:")))
          Some(graft.sources.ReplicationSocketClient.SlotBootstrap
            .ensureWithSnapshot(get("source.host", "127.0.0.1"),
              get("source.port").toInt, get("source.user", "graft"),
              get("source.database", "postgres"),
              get("source.password", ""),
              get("source.slot", "graft_slot"),
              get("source.protoVersion", "1").toInt,
              sslMode, sslRootCert))
        else None
      def copySnapshot(t: TableSchemaV, qualified: String): DataFrame = {
        import graft.sources.{PgCopy, PgWireConnection, SnapshotScan}
        val host = get("source.host", "127.0.0.1")
        val port = get("source.port").toInt
        val user = get("source.user", "graft")
        val db = get("source.database", "postgres")
        val pw = get("source.password", "")
        val exporter = new PgWireConnection(host, port, user, db, pw,
          sslMode = sslMode, sslRootCert = sslRootCert)
        exporter.connect()
        var began = false
        try {
          // a freshly-created slot supplies ITS snapshot; otherwise
          // export one here (a pre-existing slot's retention already
          // covers the overlap, which LWW apply absorbs)
          val snapshotId = slotSession.flatMap(_.snapshotName)
            .orElse {
              exporter.simpleQuery("BEGIN ISOLATION LEVEL REPEATABLE READ")
              exporter.drainUntilReady()
              began = true
              exporter.queryRows("SELECT pg_export_snapshot()")
                .headOption.flatMap(_.headOption.flatten)
            }
          val leaves = SnapshotScan.leafStats(qualified, exporter.queryRows)
          val workers = get("pipeline.maxTableSyncWorkers", "4").toInt
          val units = SnapshotScan.planTable(leaves, workers)
          val cols = t.replicatedColumns.map(_.name)
          // source.copyBinary=true: FORMAT binary COPY (skips the
          // server's per-value output function) when every replicated
          // column has a binary conversion; tables with arrays/exotic
          // types fall back to the text wire per table
          val useBinary = get("source.copyBinary", "false") == "true" &&
            t.replicatedColumns.forall(s =>
              graft.core.PgBinary.copySupported(s.pgType))
          val raw =
            if (useBinary) PgCopy.copyTableBinary(spark, host, port,
              user, db, pw, units, t, snapshotId = snapshotId,
              sslMode = sslMode, sslRootCert = sslRootCert)
            else PgCopy.copyTable(spark, host, port, user, db, pw,
              units, cols, snapshotId = snapshotId,
              sslMode = sslMode, sslRootCert = sslRootCert)
          // materialize within the exporter's snapshot lifetime
          val typed = PgCopy.decodeTyped(raw, t).cache()
          typed.count()
          typed
        } finally {
          try {
            if (began) {
              exporter.simpleQuery("COMMIT"); exporter.drainUntilReady()
            }
          } catch { case _: Throwable => () }
          exporter.close()
        }
      }
      try
        pipeline.backfill(tables, t => paths(t.tableName) match {
          case p if p.startsWith("copy:") =>
            (copySnapshot(t, p.stripPrefix("copy:")), 0L)
          case p => (spark.read.parquet(p), 0L)
        })
      // the slot's exported snapshot must outlive every COPY worker
      finally slotSession.foreach(_.close())
    }

    val logPath = get("source.log", s"$work/wal.log")
    // socket mode: the live replication intake daemon spools the slot's
    // pgoutput stream into the change log the DSv2 source tails; its
    // standby status updates report the checkpoint's durable flush LSN
    // (the `.progress` file the source commit writes)
    val socketClient =
      if (get("source.mode", "file") == "socket") {
        val progressPath = java.nio.file.Paths.get(logPath + ".progress")
        val lastFlush = new java.util.concurrent.atomic.AtomicLong(0L)
        val c = new graft.sources.ReplicationSocketClient(
          get("source.host", "127.0.0.1"), get("source.port").toInt,
          get("source.slot", "graft_slot"),
          get("source.publication", "graft_pub"), logPath,
          user = get("source.user", "graft"),
          database = get("source.database", "postgres"),
          password = get("source.password", ""),
          sslMode = sslMode, sslRootCert = sslRootCert,
          // bidirectional-loop breaker: `source.origin=none` skips
          // transactions another replication origin stamped (the
          // subscription `origin = none` option, client-side)
          dropForeignOrigins = get("source.origin", "any") == "none",
          // pgoutput protocol: 2 = PG 14+ streamed in-progress
          // transactions (large txs arrive before commit, disk-spooled
          // client-side); 3 = PG 15+ adds two-phase (prepared txs decode
          // at PREPARE, apply at COMMIT PREPARED — see
          // PgOutput.DecodeSession); 1 = the reference's
          // whole-tx-at-commit default
          protoVersion = get("source.protoVersion", "1").toInt,
          // PG 14+ binary tuple mode: cells arrive in binary send format
          // and decode through graft.core.PgBinary to the same text
          // forms — skips the server's per-value output function
          binaryMode = get("source.binary", "false") == "true",
          // create the slot on first start (the reference's apply
          // worker does; opt-in here — operators managing slots
          // out-of-band keep fail-loud behavior)
          createSlotIfMissing = get("source.createSlot", "false") == "true",
          // consecutive 55006 slot-busy refusals tolerated before the
          // retry loop escalates to a terminal error naming the rival
          // holder (0 = retry forever — pure failover deployments)
          slotBusyMaxConsecutive =
            get("source.slotBusyMaxRetries", "120").toInt,
          // streamed/prepared-tx spools default NEXT TO THE LOG (real
          // disk); override when the log volume is small or slow
          spoolDir = Option(props.getProperty("source.spoolDir")),
          flushLsn = () =>
            // tolerant read: commit() replaces the file atomically, but a
            // missing/garbled read must never tear the replication
            // session — report the last known flush instead
            try {
              if (!java.nio.file.Files.exists(progressPath)) lastFlush.get()
              else {
                val v = graft.sources.LsnOffset.fromJson(new String(
                  java.nio.file.Files.readAllBytes(progressPath))).commitLsn
                lastFlush.updateAndGet(prev => math.max(prev, v))
              }
            } catch { case _: Throwable => lastFlush.get() })
        c.start()
        Some(c)
      } else None

    val metrics = new graft.pipeline.PipelineMetrics(spark)
    // periodic Prometheus export for a LIVE pipeline (the reference
    // serves /metrics continuously; here a textfile-collector path
    // refreshed on an interval — the undecided-prepare stall gauges are
    // only useful if an operator can see them BEFORE shutdown). The
    // final write below still lands on exit; 0 disables the ticker.
    val promPath = s"$work/metrics.prom"
    val promIntervalMs = get("telemetry.exportIntervalMs", "10000").toLong
    // poll-style gauges refreshed at each export/scrape: spool volume
    // (the disk analog of ST7's memory signal — a wedged StreamCommit
    // otherwise grows the spool volume invisibly)
    def refreshRuntimeGauges(): Unit = {
      val (sBytes, sFiles) = graft.sources.PgOutput.spoolUsage()
      graft.pipeline.Telemetry.gauge(graft.pipeline.Telemetry.SpoolBytes,
        "bytes in live streamed/prepared-transaction spool directories")
        .set(sBytes.toDouble)
      graft.pipeline.Telemetry.gauge(graft.pipeline.Telemetry.SpoolFiles,
        "files in live streamed/prepared-transaction spool directories")
        .set(sFiles.toDouble)
    }
    val promTickerRunning = new java.util.concurrent.atomic.AtomicBoolean(true)
    val promTicker: Option[Thread] = if (promIntervalMs > 0) {
      val t = new Thread(() => {
        var run = true
        while (run && promTickerRunning.get()) {
          // sleep INSIDE the guarded region: an interrupt must exit the
          // loop LOUDLY, not kill the export silently (the operator
          // would lose the live prepared-transaction gauges)
          try {
            Thread.sleep(promIntervalMs)
            refreshRuntimeGauges()
            graft.pipeline.Telemetry.writePrometheus(promPath)
          } catch {
            case _: InterruptedException =>
              if (promTickerRunning.get())
                java.util.logging.Logger.getLogger("graft.replicator")
                  .warning("telemetry export ticker interrupted — " +
                    "live metrics.prom refresh stops now")
              run = false
            case _: Throwable => () // next tick retries
          }
        }
      }, "graft-telemetry-export")
      t.setDaemon(true)
      t.start()
      Some(t)
    } else None
    // live /metrics endpoint (reference etl-telemetry/src/metrics.rs:
    // 82-103 serves Prometheus over HTTP); off unless a port is set.
    // telemetry.port = 0 binds an ephemeral port (tests).
    val promServer = get("telemetry.port", "").trim match {
      case "" => None
      case p => Some(graft.pipeline.Telemetry.serveHttp(p.toInt,
        () => refreshRuntimeGauges()))
    }
    // the bound port, durable for operators/tests using port 0
    promServer.foreach { s =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$work/metrics.port"),
        s.getAddress.getPort.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
    }
    val query = pipeline.startStream(logPath)
    sys.addShutdownHook { // graceful drain (ST9)
      try {
        query.stop(); socketClient.foreach(_.stop()); sink.shutdown()
      } catch { case _: Throwable => () }
    }
    if (get("drain", "false").toBoolean) {
      // socket mode keeps spooling while we drain: settle until the
      // spool stops growing, then take the final pass
      val settleMs = get("drain.settleMs", "1000").toLong
      var lastSize = -1L
      var size = if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(logPath)))
        java.nio.file.Files.size(java.nio.file.Paths.get(logPath)) else 0L
      do {
        lastSize = size
        query.processAllAvailable()
        if (socketClient.nonEmpty) Thread.sleep(settleMs)
        size = if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(logPath)))
          java.nio.file.Files.size(java.nio.file.Paths.get(logPath)) else 0L
      } while (socketClient.nonEmpty && size != lastSize)
      query.processAllAvailable()
      query.stop()
      socketClient.foreach(_.stop())
      sink.shutdown()
    } else query.awaitTermination()
    metrics.report(s"$work/metrics.json", Some(pipeline))
    // stop the ticker (and endpoint) BEFORE the final export — the
    // unique temp names make a racing tick harmless, but the quiesce
    // keeps the final file provably last
    promTickerRunning.set(false)
    promTicker.foreach { t => t.interrupt(); t.join(2000) }
    promServer.foreach(_.stop(0))
    // the endpoint is gone — a stale port file would only mislead
    if (promServer.nonEmpty)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$work/metrics.port"))
    // telemetry export beside the JSON report: Prometheus exposition
    // (the etl-telemetry metrics surface — scrape the file or serve it)
    refreshRuntimeGauges()
    graft.pipeline.Telemetry.writePrometheus(promPath)
    metrics.detach()
    // no spark.stop(): under spark-submit the JVM exit stops the context;
    // under tests the session is shared with the harness
  }
}
