package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement, Types}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SequenceKey
import graft.operators.ApplyOps

/** External-engine CDC sink: applies the pipeline's change stream to a
  * REAL external SQL engine over JDBC, with genuine `INSERT` / `MERGE` /
  * `DELETE` statements executed by that engine — the Spark analog of the
  * reference's cloud-destination clients (the DuckLake destination's
  * staged-batch apply, reference crates/etl-destinations/src/ducklake/
  * batches.rs:168-213, and its replay bookkeeping, replay_epoch.rs:67-92).
  * Tested against embedded Apache Derby (in-sandbox stand-in for a
  * warehouse) AND the PostgreSQL-emulating shim at reported majors 16
  * and 14. Engine differences route through [[JdbcSink.Dialect]]: DDL
  * type spellings, the column-DDL verb forms (RENAME / DROP NOT NULL /
  * DEFAULT), and the upsert arm — standard three-arm MERGE where the
  * engine has it, the `INSERT … ON CONFLICT` + `DELETE … USING` pair on
  * pre-15 PostgreSQL. Everything else is engine-portable SQL (quoted
  * identifiers, no vendor extensions).
  *
  * Apply protocol per micro-batch (per table):
  *   1. read the table's sequence high-water from the engine's
  *      `graft_offsets` row (the Snowflake offset-token / DuckLake
  *      replay-marker shape — the replay cursor lives IN the destination,
  *      next to the data it gates);
  *   2. Spark-side last-writer-wins dedup keyed on the PK, then drop
  *      everything at-or-below the high-water (a replayed batch
  *      short-circuits to a no-op before any wire traffic);
  *   3. stage: executors batch-`INSERT` the surviving rows into a
  *      per-table staging table, one connection per partition — the
  *      scale fan-in (on a cluster every executor streams its partition
  *      concurrently, exactly how the reference's clients parallelize
  *      append streams); the stage is cleared first, so a crashed
  *      previous attempt can never double-stage;
  *   4. one driver-side transaction: set-based `MERGE` from stage into
  *      the target (seq-guarded UPDATE / DELETE / INSERT arms), advance
  *      the offsets row, clear the stage, COMMIT. Apply + cursor move
  *      are atomic IN THE ENGINE — a crash anywhere before the commit
  *      rolls back wholesale and the replay re-runs from step 1.
  *
  * Durability contract: `writeEvents` returns only after the engine
  * transaction commits (the reference's Durable status collapse, SURVEY
  * §7.5.2); the pipeline checkpoints after that return, and a replay of
  * an already-committed batch is filtered to nothing by the offsets row.
  *
  * Truncate deletes the offsets row in the same transaction that empties
  * the table — the reference's replay-epoch rotation on truncate
  * (ducklake/core.rs:1304-1351): post-truncate events must re-apply from
  * scratch, and a stale cursor would silently swallow them.
  *
  * TOAST-partial updates (`_missing` masks) apply per residual-mask
  * group: each group's MERGE UPDATE arm sets exactly the columns the
  * mask does NOT name, so unchanged-TOAST columns keep the engine-stored
  * value — the reference's column-pruned UPDATE SET per missing-mask
  * group, here as N mask-gated MERGE statements inside the one batch
  * transaction.
  */
final class JdbcSink(url: String, keysOf: String => Seq[String],
    stageBatch: Int = 1000,
    /** Bounded exponential backoff for TRANSIENT engine errors
      * (deadlock, lock timeout, connection hiccup) around the
      * driver-side engine transactions — reference retry.rs:12-25.
      * Replay-safe: the transaction rolled back and the offsets-row
      * cursor still gates, so a retry re-applies the identical slice. */
    backoff: JdbcSink.Backoff = JdbcSink.Backoff()) extends CdcSink {
  import JdbcSink._

  private val metaCols = Set("_op", "_commit_lsn", "_tx_ordinal", "_missing")

  override def startup(spark: SparkSession): Unit = withConn { conn =>
    val st = conn.createStatement()
    try {
      if (!tableExists(conn, OffsetsTable))
        st.executeUpdate(s"""CREATE TABLE ${q(OffsetsTable)} (
          ${q("table_name")} VARCHAR(128) PRIMARY KEY,
          ${q("high_water")} VARCHAR(64) NOT NULL)""")
    } finally st.close()
  }

  /** Backfill: drop-for-copy + full reload. Dropping the table and its
    * offsets row in one transaction is the replay-epoch rotation
    * (reference ducklake/core.rs:1357-1416): a pre-drop stream cursor
    * must not gate post-reload events. */
  override def writeTableRows(table: String, rows: DataFrame): Unit = {
    val payload = rows.schema
    withConn { conn =>
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        if (tableExists(conn, table)) st.executeUpdate(s"DROP TABLE ${q(table)}")
        if (tableExists(conn, stageName(table)))
          st.executeUpdate(s"DROP TABLE ${q(stageName(table))}")
        st.executeUpdate(
          createTargetSql(dialectOf(conn), table, payload, keysOf(table)))
        st.executeUpdate(
          s"DELETE FROM ${q(OffsetsTable)} WHERE ${q("table_name")} = " +
            sqlStr(table))
        conn.commit()
      } catch { case t: Throwable => conn.rollback(); throw t }
      finally st.close()
    }
    // executor fan-in: one connection per partition, batched INSERTs.
    // Backfill lands with an empty seq: every stream sequence sorts above.
    val cols = payload.fields.map(_.name).toSeq :+ SeqCol
    val insert = s"INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val types = payload.fields.map(_.dataType) :+ StringType
    val u = url; val b = stageBatch
    rows.withColumn(SeqCol, lit("")).foreachPartition { it: Iterator[Row] =>
      insertPartition(u, insert, types, it, b)
    }
  }

  override def writeEvents(table: String, events: DataFrame): Unit =
    writeEvents(table, events, None)

  override def writeEvents(table: String, events: DataFrame,
      maskHint: Option[Boolean]): Unit = {
    val spark = events.sparkSession
    val keys = keysOf(table)
    val hasMasks = events.columns.contains("_missing") &&
      maskHint.getOrElse(!events.filter(col("_missing").isNotNull).isEmpty)
    val payloadCols = events.columns
      .filterNot(c => metaCols.contains(c) || keys.contains(c)).toSeq

    // in-batch sequential resolution, then one surviving row per key
    val resolved =
      if (hasMasks)
        ApplyOps.maskedLastWriterWins(events, keys,
          Seq("_commit_lsn", "_tx_ordinal"), payloadCols)
      else ApplyOps.lastWriterWins(
        events.drop("_missing"), keys, Seq("_commit_lsn", "_tx_ordinal"))

    val hw = withConn(readHighWater(_, table))
    val seqed = resolved.withColumn(SeqCol,
        SequenceKey.packedHexCol(col("_commit_lsn"), col("_tx_ordinal")))
      .drop("_commit_lsn", "_tx_ordinal")
    val fresh0 = if (hw.isEmpty) seqed
                 else seqed.filter(col(SeqCol) > lit(hw))
    val fresh = (if (hasMasks)
                   fresh0.withColumn(MaskCol, coalesce(col("_missing"), lit("")))
                     .drop("_missing")
                 else fresh0.withColumn(MaskCol, lit(""))).cache()
    try {
      val stats = fresh.agg(max(col(SeqCol)), collect_set(col(MaskCol)))
        .collect()(0)
      if (stats.isNullAt(0)) return // full replay: engine already ahead
      val batchMax = stats.getString(0)
      val masks = stats.getSeq[String](1).sorted

      val dataCols = keys ++ payloadCols
      val dataTypes = dataCols.map(c => fresh.schema(c).dataType)
      // Widen-only schema evolution (the reference's BigQuery destination
      // consumes SchemaDiff and emits ALTER TABLE on Relation changes,
      // bigquery/core.rs:1110-1160; diff model etl/src/schema.rs:592-762):
      // the pipeline splits batches at schema-version boundaries, so a
      // post-DDL slice arrives here with the NEW column set. Columns the
      // engine table lacks are added — to the STAGE now (staging needs
      // them), to the TARGET inside the same engine transaction as the
      // batch MERGE below (DDL + apply + cursor move commit atomically).
      // Columns the target has but the slice lacks are left alone (never
      // dropped): the MERGE simply doesn't set them.
      val targetAdds: Seq[(String, DataType)] = withConn { conn =>
        val adds =
          if (tableExists(conn, table)) {
            val existing = columnsOf(conn, table)
            dataCols.zip(dataTypes).filterNot(c => existing.contains(c._1))
          } else {
            val st = conn.createStatement()
            try st.executeUpdate(createTargetSql(dialectOf(conn), table,
              StructType(dataCols.map(c => StructField(c, fresh.schema(c).dataType))),
              keys))
            finally st.close()
            Seq.empty
          }
        ensureStage(conn, table, dataCols, dataTypes)
        // clear any partial stage from a crashed attempt (its batch never
        // merged — the offsets row still gates the replay that brought us
        // here, so re-staging from scratch is the idempotent move)
        val st = conn.createStatement()
        try st.executeUpdate(s"DELETE FROM ${q(stageName(table))}")
        finally st.close()
        adds
      }

      val stageCols = dataCols ++ Seq(OpCol, SeqCol, MaskCol)
      val stageTypes = dataTypes ++ Seq(StringType, StringType, StringType)
      val insert =
        s"INSERT INTO ${q(stageName(table))} (${stageCols.map(q).mkString(", ")}) " +
          s"VALUES (${stageCols.map(_ => "?").mkString(", ")})"
      val u = url; val b = stageBatch
      fresh.withColumnRenamed("_op", OpCol)
        .select(stageCols.map(col): _*)
        .foreachPartition { it: Iterator[Row] =>
          insertPartition(u, insert, stageTypes, it, b)
        }

      // one transaction: schema ALTERs + N mask-group MERGEs + cursor
      // advance + stage clear — a crash anywhere rolls back wholesale
      // (including the DDL; Derby and Postgres DDL is transactional) and
      // the replay re-runs the whole slice. Transient engine errors
      // (deadlock/lock-timeout/connection) retry HERE with backoff —
      // the stage is intact and the cursor gates, so a retry applies
      // the identical slice; non-transient errors fail fast to the
      // table quarantine.
      withBackoffRetry(backoff) { withConn { conn =>
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        try {
          val d = dialectOf(conn)
          targetAdds.foreach { case (c, t) =>
            st.executeUpdate(
              s"ALTER TABLE ${q(table)} ADD COLUMN ${q(c)} ${d.typeSql(t)}")
          }
          masks.foreach { mask =>
            val masked = if (mask.isEmpty) Set.empty[String]
                         else mask.split(",").filter(_.nonEmpty).toSet
            applyGroupSql(d, table, keys,
              payloadCols.filterNot(masked), mask)
              .foreach(st.executeUpdate)
          }
          advanceHighWater(conn, table, batchMax)
          st.executeUpdate(s"DELETE FROM ${q(stageName(table))}")
          conn.commit()
        } catch { case t: Throwable => conn.rollback(); throw t }
        finally st.close()
      } }
    } finally fresh.unpersist()
  }

  override def truncateTable(table: String): Unit =
    withBackoffRetry(backoff) { withConn { conn =>
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        if (tableExists(conn, table))
          st.executeUpdate(s"DELETE FROM ${q(table)}")
        st.executeUpdate(
          s"DELETE FROM ${q(OffsetsTable)} WHERE ${q("table_name")} = " +
            sqlStr(table))
        conn.commit()
      } catch { case t: Throwable => conn.rollback(); throw t }
      finally st.close()
    } }

  /** Full SchemaDiff at the engine, IN ONE TRANSACTION (the reference
    * applies the same modification set at its destinations,
    * bigquery/core.rs:803-946, same order: adds → renames → nullability
    * /default changes → drops). Idempotent: every step probes engine
    * metadata first, so a replayed Relation record converges as a
    * no-op. The per-table STAGE follows renames/drops so future slices
    * stage under the live names. Defaults apply only when PORTABLE
    * (literals — see [[JdbcSink.portableDefault]]); a non-portable
    * source default clears the destination default instead, like the
    * reference. Dropping a merge key fails loudly (the pipeline
    * quarantines the table). A not-yet-created target is a no-op — its
    * first write materializes the post-DDL shape directly. */
  override def applySchemaDiff(table: String,
      diff: graft.core.SchemaDiff): Unit = {
    if (diff.isEmpty) return
    withBackoffRetry(backoff) { withConn { conn =>
      if (!tableExists(conn, table)) return
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        val d = dialectOf(conn)
        val stage = stageName(table)
        val hasStage = tableExists(conn, stage)
        def applyDefault(col: String, default: Option[String]): Unit =
          default.flatMap(portableDefault) match {
            case Some(lit) => st.executeUpdate(d.setDefaultSql(table, col, lit))
            case None => st.executeUpdate(d.dropDefaultSql(table, col))
          }
        diff.added.foreach { c =>
          if (!columnsOf(conn, table).contains(c.name)) {
            st.executeUpdate(s"ALTER TABLE ${q(table)} ADD COLUMN " +
              s"${q(c.name)} ${d.typeSql(c.sparkType)}")
            if (c.default.nonEmpty) applyDefault(c.name, c.default)
          }
        }
        diff.renames.foreach { case (from, to) =>
          val cols = columnsOf(conn, table)
          if (cols.contains(from) && !cols.contains(to))
            st.executeUpdate(d.renameColumnSql(table, from, to))
          if (hasStage) {
            val sc = columnsOf(conn, stage)
            if (sc.contains(from) && !sc.contains(to))
              st.executeUpdate(d.renameColumnSql(stage, from, to))
          }
        }
        diff.changed.foreach { ch =>
          if (columnsOf(conn, table).contains(ch.to.name)) {
            if (ch.nullabilityRelaxed)
              st.executeUpdate(d.dropNotNullSql(table, ch.to.name))
            // tightening is kept nullable (existing rows may hold
            // nulls; the reference warns-and-keeps)
            if (ch.defaultChanged) applyDefault(ch.to.name, ch.to.default)
          }
        }
        val mergeKeys = keysOf(table).toSet
        diff.dropped.foreach { c =>
          require(!mergeKeys.contains(c.name),
            s"cannot drop merge key ${c.name} of $table")
          if (columnsOf(conn, table).contains(c.name))
            st.executeUpdate(d.dropColumnSql(table, c.name))
          if (hasStage && columnsOf(conn, stage).contains(c.name))
            st.executeUpdate(d.dropColumnSql(stage, c.name))
        }
        conn.commit()
      } catch { case t: Throwable => conn.rollback(); throw t }
      finally st.close()
    } }
  }

  /** Read the applied table back THROUGH the engine (spark.read.jdbc —
    * the same wire the writes took). `partitions` > 1 splits the scan on
    * a numeric key range, the standard parallel-JDBC-read shape. */
  def read(spark: SparkSession, table: String,
      partitionKey: Option[String] = None, partitions: Int = 1): DataFrame = {
    val props = new java.util.Properties()
    val base = partitionKey match {
      case Some(k) if partitions > 1 =>
        val (lo, hi) = withConn { conn =>
          val st = conn.createStatement()
          try {
            val rs = st.executeQuery(
              s"SELECT MIN(${q(k)}), MAX(${q(k)}) FROM ${q(table)}")
            rs.next()
            (rs.getLong(1), math.max(rs.getLong(2), rs.getLong(1) + 1))
          } finally st.close()
        }
        spark.read.jdbc(url, q(table), q(k), lo, hi, partitions, props)
      case _ => spark.read.jdbc(url, q(table), props)
    }
    base.drop(SeqCol)
  }

  /** The engine-held replay cursor (empty = none) — exposed for specs. */
  def highWater(table: String): String = withConn(readHighWater(_, table))

  // ---- engine-side SQL ----

  private def readHighWater(conn: Connection, table: String): String = {
    val ps = conn.prepareStatement(
      s"SELECT ${q("high_water")} FROM ${q(OffsetsTable)} " +
        s"WHERE ${q("table_name")} = ?")
    try {
      ps.setString(1, table)
      val rs = ps.executeQuery()
      if (rs.next()) rs.getString(1) else ""
    } finally ps.close()
  }

  private def advanceHighWater(conn: Connection, table: String,
      hw: String): Unit = {
    val up = conn.prepareStatement(
      s"UPDATE ${q(OffsetsTable)} SET ${q("high_water")} = ? " +
        s"WHERE ${q("table_name")} = ? AND ${q("high_water")} < ?")
    try {
      up.setString(1, hw); up.setString(2, table); up.setString(3, hw)
      if (up.executeUpdate() == 0 && readHighWater(conn, table).isEmpty) {
        val ins = conn.prepareStatement(
          s"INSERT INTO ${q(OffsetsTable)} VALUES (?, ?)")
        try { ins.setString(1, table); ins.setString(2, hw); ins.executeUpdate() }
        finally ins.close()
      }
    } finally up.close()
  }

  /** The apply statements for one residual-mask group, dialect-routed:
    * one standard three-arm MERGE where the engine has it, else the
    * PRE-MERGE PostgreSQL pair — `DELETE … USING` for the delete arm,
    * then `INSERT … ON CONFLICT DO UPDATE` (seq-guarded) covering the
    * update+insert arms. Equivalent because the stage holds at most ONE
    * surviving row per key per batch (Spark-side LWW), so arm
    * interleaving across the two statements cannot reorder a key. */
  private[sinks] def applyGroupSql(d: Dialect, table: String, keys: Seq[String],
      setCols: Seq[String], mask: String): Seq[String] =
    if (d.supportsMerge) Seq(mergeSql(table, keys, setCols, mask))
    else {
      val t = q(table); val s = q(stageName(table))
      val on = keys.map(k => s"$t.${q(k)} = $s.${q(k)}").mkString(" AND ")
      val maskEq = s"$s.${q(MaskCol)} = ${sqlStr(mask)}"
      val newer = s"$s.${q(SeqCol)} > $t.${q(SeqCol)}"
      val insCols = keys ++ setCols :+ SeqCol
      val sets = (setCols :+ SeqCol)
        .map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
      Seq(
        s"""DELETE FROM $t USING $s
           WHERE $on AND $maskEq AND $s.${q(OpCol)} = 'D' AND $newer""",
        s"""INSERT INTO $t (${insCols.map(q).mkString(", ")})
           SELECT ${insCols.map(c => s"$s.${q(c)}").mkString(", ")} FROM $s
           WHERE $maskEq AND $s.${q(OpCol)} <> 'D'
           ON CONFLICT (${keys.map(q).mkString(", ")}) DO UPDATE SET $sets
           WHERE EXCLUDED.${q(SeqCol)} > $t.${q(SeqCol)}""")
    }

  /** Seq-guarded three-arm MERGE for one residual-mask group. The guard
    * (`stage.seq > target.seq`) makes the statement idempotent per row
    * even outside the offsets gate — a belt the reference's clients also
    * wear (LWW by sequence at the destination). */
  private def mergeSql(table: String, keys: Seq[String],
      setCols: Seq[String], mask: String): String = {
    val t = q(table); val s = q(stageName(table))
    val on = keys.map(k => s"$t.${q(k)} = $s.${q(k)}").mkString(" AND ")
    val maskEq = s"$s.${q(MaskCol)} = ${sqlStr(mask)}"
    val newer = s"$s.${q(SeqCol)} > $t.${q(SeqCol)}"
    val sets = (setCols.map(c => s"${q(c)} = $s.${q(c)}") :+
      s"${q(SeqCol)} = $s.${q(SeqCol)}").mkString(", ")
    val insCols = (keys ++ setCols :+ SeqCol).map(q).mkString(", ")
    val insVals = (keys ++ setCols :+ SeqCol).map(c => s"$s.${q(c)}")
      .mkString(", ")
    s"""MERGE INTO $t USING $s ON $on
       WHEN MATCHED AND $maskEq AND $s.${q(OpCol)} = 'D' AND $newer THEN DELETE
       WHEN MATCHED AND $maskEq AND $s.${q(OpCol)} <> 'D' AND $newer
         THEN UPDATE SET $sets
       WHEN NOT MATCHED AND $maskEq AND $s.${q(OpCol)} <> 'D'
         THEN INSERT ($insCols) VALUES ($insVals)"""
  }

  private def createTargetSql(d: Dialect, table: String,
      payload: StructType, keys: Seq[String]): String = {
    val cols = payload.fields.map { f =>
      val notNull = if (keys.contains(f.name)) " NOT NULL" else ""
      s"${q(f.name)} ${d.typeSql(f.dataType)}$notNull"
    } :+ s"${q(SeqCol)} VARCHAR(64) NOT NULL"
    val pk = if (keys.nonEmpty)
      s", PRIMARY KEY (${keys.map(q).mkString(", ")})" else ""
    s"CREATE TABLE ${q(table)} (${cols.mkString(", ")}$pk)"
  }

  private def ensureStage(conn: Connection, table: String,
      dataCols: Seq[String], dataTypes: Seq[DataType]): Unit = {
    val d = dialectOf(conn)
    if (tableExists(conn, stageName(table))) {
      // stage evolves with the slice schema (widen-only, like the target)
      val existing = columnsOf(conn, stageName(table))
      val missing = dataCols.zip(dataTypes)
        .filterNot(c => existing.contains(c._1))
      if (missing.nonEmpty) {
        val st = conn.createStatement()
        try missing.foreach { case (c, t) =>
          st.executeUpdate(s"ALTER TABLE ${q(stageName(table))} " +
            s"ADD COLUMN ${q(c)} ${d.typeSql(t)}")
        } finally st.close()
      }
      return
    }
    val cols = dataCols.zip(dataTypes).map { case (c, t) =>
      s"${q(c)} ${d.typeSql(t)}"
    } ++ Seq(s"${q(OpCol)} CHAR(1) NOT NULL",
      s"${q(SeqCol)} VARCHAR(64) NOT NULL",
      s"${q(MaskCol)} VARCHAR(512) NOT NULL")
    val st = conn.createStatement()
    try st.executeUpdate(
      s"CREATE TABLE ${q(stageName(table))} (${cols.mkString(", ")})")
    finally st.close()
  }

  /** The engine table's current column names (exact stored case — all
    * DDL here uses quoted identifiers, so metadata returns what [[q]]
    * wrote). */
  private def columnsOf(conn: Connection, table: String): Set[String] = {
    val rs = conn.getMetaData.getColumns(null, null, table, null)
    val out = Set.newBuilder[String]
    try { while (rs.next()) out += rs.getString("COLUMN_NAME") }
    finally rs.close()
    out.result()
  }

  private def tableExists(conn: Connection, name: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, name, null)
    try rs.next() finally rs.close()
  }

  private def withConn[T](f: Connection => T): T = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }
}

object JdbcSink {
  // Derby writes derby.log into user.dir unless told otherwise; keep the
  // repo clean (no-op when the embedding app already configured it)
  if (System.getProperty("derby.stream.error.file") == null)
    System.setProperty("derby.stream.error.file",
      s"${System.getProperty("java.io.tmpdir")}/graft-derby.log")

  val OffsetsTable = "graft_offsets"
  val SeqCol = "_gseq"
  val OpCol = "_gop"
  val MaskCol = "_gmask"

  /** Destination-owned retry policy for TRANSIENT engine errors —
    * the reference centralizes the same knobs per destination
    * (crates/etl-destinations/src/retry.rs:12-25: max_retries,
    * initial_delay, max_delay with per-attempt decisions). Non-transient
    * errors still fail fast to the table-level quarantine
    * ([[graft.pipeline.TableLifecycle]]'s RetryPolicy). */
  final case class Backoff(maxRetries: Int = 4, initialDelayMs: Long = 100L,
      maxDelayMs: Long = 5000L)

  /** A deadlock / lock-timeout / serialization-failure / connection
    * hiccup is the engine saying "try again", not "this batch is bad":
    * SQLState class 40 (serialization failures; Derby lock timeouts are
    * 40XL1/2, deadlocks 40001, Postgres deadlocks 40P01), class 08
    * (connection exceptions), or any SQLTransientException. Walks the
    * cause chain: drivers often wrap the stateful exception. */
  private[sinks] def isTransient(t: Throwable): Boolean = {
    var e: Throwable = t
    while (e != null) {
      e match {
        case _: java.sql.SQLTransientException => return true
        case s: java.sql.SQLException =>
          val st = Option(s.getSQLState).getOrElse("")
          if (st.startsWith("40") || st.startsWith("08")) return true
        case _ => ()
      }
      e = if (e.getCause eq e) null else e.getCause
    }
    false
  }

  /** Run `body` with bounded exponential backoff on transient engine
    * errors. The caller's body must be replay-safe — every use here is
    * (the engine transaction rolls back wholesale and the offsets-row
    * cursor gates re-application). `sleep` injectable for tests. */
  private[sinks] def withBackoffRetry[T](policy: Backoff,
      sleep: Long => Unit = Thread.sleep)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case t: Throwable if isTransient(t) && attempt < policy.maxRetries =>
          // clamp the shift: a large maxRetries must saturate at
          // maxDelayMs, not overflow the Long into a negative sleep
          val delay = math.min(policy.maxDelayMs,
            policy.initialDelayMs << math.min(attempt, 20))
          attempt += 1
          sleep(delay)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def stageName(table: String) = s"${table}__stage"

  /** Quoted SQL identifier (preserves case, survives reserved words). */
  private def q(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  private def sqlStr(v: String): String = "'" + v.replace("'", "''") + "'"

  /** Engine dialect seam — the reference ships one client per
    * destination engine (five dialects); this sink keeps ONE apply
    * protocol and isolates what genuinely differs per engine: DDL type
    * names, the column-DDL verb forms (RENAME/DROP NOT NULL/DEFAULT),
    * and whether standard MERGE exists (PostgreSQL grew MERGE in 15 —
    * older servers take the INSERT … ON CONFLICT + DELETE … USING
    * pair). Detected from `DatabaseMetaData` at connection time. */
  sealed trait Dialect {
    def name: String
    def typeSql(dt: DataType): String
    def renameColumnSql(table: String, from: String, to: String): String
    def dropColumnSql(table: String, col: String): String
    /** NOT NULL → NULL relax (the only nullability change destinations
      * apply — tightening can't be guaranteed over existing rows). */
    def dropNotNullSql(table: String, col: String): String
    def setDefaultSql(table: String, col: String, expr: String): String
    def dropDefaultSql(table: String, col: String): String
    /** Standard three-arm MERGE available? false selects the
      * ON-CONFLICT upsert pair in [[JdbcSink.applyGroupSql]]. */
    def supportsMerge: Boolean
  }

  /** Derby + every engine with SQL-standard MERGE and Derby-shaped
    * column DDL (DuckDB accepts this surface too). */
  case object DerbyDialect extends Dialect {
    val name = "derby"
    def typeSql(dt: DataType): String = standardTypeSql(dt,
      binary = "BLOB", double = "DOUBLE", text = "VARCHAR(32672)")
    def renameColumnSql(table: String, from: String, to: String) =
      s"RENAME COLUMN ${q(table)}.${q(from)} TO ${q(to)}"
    def dropColumnSql(table: String, col: String) =
      s"ALTER TABLE ${q(table)} DROP COLUMN ${q(col)} RESTRICT"
    def dropNotNullSql(table: String, col: String) =
      s"ALTER TABLE ${q(table)} ALTER COLUMN ${q(col)} NULL"
    def setDefaultSql(table: String, col: String, expr: String) =
      s"ALTER TABLE ${q(table)} ALTER COLUMN ${q(col)} DEFAULT $expr"
    def dropDefaultSql(table: String, col: String) =
      s"ALTER TABLE ${q(table)} ALTER COLUMN ${q(col)} DEFAULT NULL"
    val supportsMerge = true
  }

  /** PostgreSQL: its own type spellings (BYTEA, DOUBLE PRECISION,
    * TEXT), ALTER-form column DDL, MERGE only on 15+. */
  final case class PostgresDialect(majorVersion: Int) extends Dialect {
    val name = "postgresql"
    def typeSql(dt: DataType): String = standardTypeSql(dt,
      binary = "BYTEA", double = "DOUBLE PRECISION", text = "TEXT")
    def renameColumnSql(table: String, from: String, to: String) =
      s"ALTER TABLE ${q(table)} RENAME COLUMN ${q(from)} TO ${q(to)}"
    def dropColumnSql(table: String, col: String) =
      s"ALTER TABLE ${q(table)} DROP COLUMN ${q(col)} RESTRICT"
    def dropNotNullSql(table: String, col: String) =
      s"ALTER TABLE ${q(table)} ALTER COLUMN ${q(col)} DROP NOT NULL"
    def setDefaultSql(table: String, col: String, expr: String) =
      s"ALTER TABLE ${q(table)} ALTER COLUMN ${q(col)} SET DEFAULT $expr"
    def dropDefaultSql(table: String, col: String) =
      s"ALTER TABLE ${q(table)} ALTER COLUMN ${q(col)} DROP DEFAULT"
    def supportsMerge: Boolean = majorVersion >= 15
  }

  private[sinks] def dialectOf(conn: Connection): Dialect = {
    val md = conn.getMetaData
    if (Option(md.getDatabaseProductName).exists(
        _.toLowerCase.contains("postgresql")))
      PostgresDialect(md.getDatabaseMajorVersion)
    else DerbyDialect
  }

  private def standardTypeSql(dt: DataType, binary: String,
      double: String, text: String): String = dt match {
    case LongType            => "BIGINT"
    case IntegerType         => "INTEGER"
    case ShortType | ByteType => "SMALLINT"
    case DoubleType          => double
    case FloatType           => "REAL"
    case BooleanType         => "BOOLEAN"
    case DateType            => "DATE"
    case _: TimestampType    => "TIMESTAMP"
    case TimestampNTZType    => "TIMESTAMP" // wall-clock, both engines
    case d: DecimalType      => s"DECIMAL(${d.precision}, ${d.scale})"
    case BinaryType          => binary
    case StringType          => text
    case other => throw new IllegalArgumentException(
      s"JdbcSink: no SQL mapping for ${other.simpleString}")
  }

  /** Destination-applicable default expressions: literals (numbers,
    * quoted strings, TRUE/FALSE/NULL, optionally with a `::type` cast
    * suffix, which is stripped) plus the SQL-standard niladic datetime
    * functions `CURRENT_TIMESTAMP`/`CURRENT_DATE`/`CURRENT_TIME` and
    * their `now()` spelling — portable across Derby and PostgreSQL,
    * and semantically a DESTINATION-clock default is what a user
    * declaring one means (it only ever fires for rows the engine
    * itself inserts, never for replicated rows, which arrive with
    * every column materialized).
    *
    * DROPPED-EXPRESSION POLICY (deliberate, mirrors the reference's
    * supports_column_default cut): anything else — `nextval(...)`,
    * arbitrary expressions, user functions — is source-evaluated;
    * replicated rows arrive with those already materialized, and
    * re-evaluating them at the destination would produce DIFFERENT
    * values (a destination nextval would fork the sequence). For those
    * the destination default is CLEARED, not guessed at. */
  private[sinks] def portableDefault(expr: String): Option[String] = {
    val e = expr.trim.replaceAll("::[A-Za-z_][A-Za-z0-9_ ]*$", "").trim
    val lower = e.toLowerCase
    val ok = e.matches("[-+]?[0-9]+(\\.[0-9]+)?") ||
      e.matches("'([^']|'')*'") ||
      Set("true", "false", "null").contains(lower)
    // niladic datetime keywords normalize to their standard spelling
    // (Derby accepts only the keyword form; PG accepts both)
    val niladic = lower match {
      case "current_timestamp" | "current_timestamp()" | "now()" =>
        Some("CURRENT_TIMESTAMP")
      case "current_date" | "current_date()" => Some("CURRENT_DATE")
      case "current_time" | "current_time()" => Some("CURRENT_TIME")
      case _ => None
    }
    if (ok) Some(e) else niladic
  }

  /** Executor-side batched INSERT: one connection per partition, one
    * round trip per `batch` rows — the parallel fan-in every partition
    * performs independently. Static (object) method: the closure ships
    * only the URL, SQL text and type tags. */
  private def insertPartition(url: String, sql: String,
      types: Seq[DataType], rows: Iterator[Row], batch: Int): Unit = {
    if (rows.isEmpty) return
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(sql)
      try {
        var pending = 0
        rows.foreach { row =>
          var i = 0
          while (i < types.length) {
            bind(ps, i + 1, types(i), row, i)
            i += 1
          }
          ps.addBatch()
          pending += 1
          if (pending >= batch) { ps.executeBatch(); pending = 0 }
        }
        if (pending > 0) ps.executeBatch()
        conn.commit()
      } finally ps.close()
    } finally conn.close()
  }

  private def bind(ps: PreparedStatement, idx: Int, dt: DataType,
      row: Row, col: Int): Unit = {
    if (row.isNullAt(col)) { ps.setNull(idx, jdbcType(dt)); return }
    dt match {
      case LongType       => ps.setLong(idx, row.getLong(col))
      case IntegerType    => ps.setInt(idx, row.getInt(col))
      case ShortType      => ps.setShort(idx, row.getShort(col))
      case ByteType       => ps.setShort(idx, row.getByte(col).toShort)
      case DoubleType     => ps.setDouble(idx, row.getDouble(col))
      case FloatType      => ps.setFloat(idx, row.getFloat(col))
      case BooleanType    => ps.setBoolean(idx, row.getBoolean(col))
      case StringType     => ps.setString(idx, row.getString(col))
      case DateType       => ps.setDate(idx, row.getDate(col))
      case _: TimestampType => ps.setTimestamp(idx, row.getTimestamp(col))
      case _: DecimalType => ps.setBigDecimal(idx, row.getDecimal(col))
      case BinaryType     => ps.setBytes(idx, row.getAs[Array[Byte]](col))
      case other => throw new IllegalArgumentException(
        s"JdbcSink: no JDBC binding for ${other.simpleString}")
    }
  }

  private def jdbcType(dt: DataType): Int = dt match {
    case LongType            => Types.BIGINT
    case IntegerType         => Types.INTEGER
    case ShortType | ByteType => Types.SMALLINT
    case DoubleType          => Types.DOUBLE
    case FloatType           => Types.REAL
    case BooleanType         => Types.BOOLEAN
    case DateType            => Types.DATE
    case _: TimestampType    => Types.TIMESTAMP
    case _: DecimalType      => Types.DECIMAL
    case BinaryType          => Types.BLOB
    case _                   => Types.VARCHAR
  }
}
