package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import graft.pipeline.CdcPipeline
import graft.sinks.CdcSink
import scala.collection.mutable

/** One finished Spark job with the attribution carried by the local
  * properties of the thread that submitted it. */
final case class JobRec(start: Long, end: Long, batch: Option[Long],
    span: Option[String], stages: Seq[Int])

/** One timed call into the program (wall clock, ms since epoch, the
  * same clock Spark stamps job start/end with). */
final case class SpanRec(id: String, kind: String, start: Long, end: Long) {
  def covers(t: Long): Boolean = t >= start && t <= end
}

/** Layer attribution for a traced run. Spans and jobs are kept in
  * memory and reduced at the end.
  *
  * A span sets the `graftbench.span` local property on the calling
  * thread; Spark local properties are inheritable, so jobs submitted by
  * threads created inside the span (the pipeline's per-batch apply
  * pool, the backfill pool) carry it too. Micro-batch jobs are
  * attributed through `streaming.sql.batchId`, which the streaming
  * engine sets on its own thread the same way. A long-lived pool thread
  * keeps the property it inherited when it was created, so a label only
  * counts while its span is open; jobs without a valid label belong to
  * the sequential span (operator call, change-feed read, check) open
  * when they started. Off-job time of a span is its wall time minus
  * the UNION of its jobs' intervals. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._
  private val lock = new Object
  private val open = mutable.HashMap.empty[Int, (Long, Option[Long], Option[String], Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  /** stage id → (tasks, shuffle bytes written) */
  private val stageStats = mutable.HashMap.empty[Int, (Long, Long)]
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
    lock.synchronized {
      open(e.jobId) = (e.time, prop(BatchKey).map(_.toLong), prop(SpanKey), e.stageIds)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    open.remove(e.jobId).foreach { case (s, b, sp, st) =>
      jobs += JobRec(s, e.time, b, sp, st) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val bytes = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten
    lock.synchronized {
      val (n, b) = stageStats.getOrElse(e.stageId, (0L, 0L))
      stageStats(e.stageId) = (n + 1, b + bytes)
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(queryListener)
  }

  /** Wait for the listener bus, then forget everything seen so far:
    * the measured phase starts clean. */
  def reset(): Unit = {
    settle()
    lock.synchronized {
      jobs.clear(); spans.clear(); progress.clear(); stageStats.clear()
    }
  }

  /** Wait until every event posted so far has reached the listener. */
  def settle(): Unit =
    org.apache.spark.GraftBenchBridge.drainListeners(spark.sparkContext)

  def span[T](kind: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    val id = s"$kind#${ids.incrementAndGet()}"
    sc.setLocalProperty(SpanKey, id)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, prev)
      lock.synchronized { spans += SpanRec(id, kind, t0, t1) }
    }
  }

  /** Every job of the measured phase with the span it belongs to. */
  private def attributed: Seq[(JobRec, Option[SpanRec])] = lock.synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val sequential = spans.filter(s => Sequential.exists(s.kind.startsWith)).toSeq
    jobs.toSeq.map { j =>
      val labelled = j.span.flatMap(byId.get).filter(_.covers(j.start))
      j -> labelled.orElse(
        if (j.batch.nonEmpty) None else sequential.find(_.covers(j.start)))
    }
  }

  def spansOf(kind: String): Seq[SpanRec] =
    lock.synchronized { spans.filter(_.kind == kind).toSeq }

  /** (jobs per span, off-job ms per span) averaged over `kind`. */
  def spanJobStats(kind: String): (Double, Double) = {
    val ss = spansOf(kind)
    if (ss.isEmpty) (0.0, 0.0)
    else {
      val byspan = attributed.collect { case (j, Some(s)) if s.kind == kind => s.id -> j }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val per = ss.map { s =>
        val js = byspan.getOrElse(s.id, Nil)
        val busy = Stats.unionLength(js.map(j =>
          (math.max(j.start, s.start), math.min(j.end, s.end))))
        (js.size.toDouble, (s.end - s.start - busy).toDouble)
      }
      (per.map(_._1).sum / per.size, per.map(_._2).sum / per.size)
    }
  }

  def spanMs(kind: String): Seq[Double] =
    spansOf(kind).map(s => (s.end - s.start).toDouble)

  /** Micro-batches that carried data, in order. */
  def dataBatches: Seq[StreamingQueryProgress] =
    lock.synchronized { progress.filter(_.numInputRows > 0).toSeq }

  def jobsOfBatch(b: Long): Seq[JobRec] =
    lock.synchronized { jobs.filter(_.batch.contains(b)).toSeq }

  def durationMs(p: StreamingQueryProgress, key: String): Option[Double] =
    Option(p.durationMs.get(key)).map(_.toDouble)

  /** Engine-level totals over the measured phase, checks excluded. */
  def engine(r: Report, gcMs0: Long): Unit = {
    val work = attributed.collect {
      case (j, s) if !s.exists(_.kind == CheckSpan) => j }
    val stages = work.flatMap(_.stages).distinct
    val stats = lock.synchronized { stages.flatMap(stageStats.get) }
    r.put("spark.jobs", work.size.toDouble, "count")
    r.put("spark.stages", stats.size.toDouble, "count")
    r.put("spark.tasks", stats.map(_._1).sum.toDouble, "count")
    r.put("spark.job_busy_s",
      Stats.unionLength(work.map(j => (j.start, j.end))) / 1000.0, "s")
    r.put("spark.shuffle_write_bytes", stats.map(_._2).sum.toDouble, "bytes")
    r.put("spark.gc_s", (Proc.gcMs() - gcMs0) / 1000.0, "s")
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  /** The streaming engine's micro-batch id property. */
  val BatchKey = "streaming.sql.batchId"
  /** Span kind of the benchmark's correctness checks. */
  val CheckSpan = "check"
  /** Span kinds that never overlap another call of the same thread of
    * control, so a job started inside one belongs to it. */
  val Sequential = Seq("op.", "sink.cdf", CheckSpan)
}

/** `CdcSink` decorator for traced runs. It forwards EVERY sink method,
  * the three-argument `writeEvents` included: forwarding only the
  * two-argument form would drop the pipeline's TOAST-mask hint and make
  * the sink run its own probe job per write, i.e. a different program.
  * Each write is a span; after every committed batch the pipeline's
  * cumulative per-table apply timings are differenced into per-batch
  * samples. */
final class TracingSink(inner: CdcSink, tracer: Tracer) extends CdcSink {
  @volatile var pipeline: Option[CdcPipeline] = None
  val tableApplyMs = mutable.ArrayBuffer.empty[Double]
  private var seen = Map.empty[Long, (Long, Long)]

  override def startup(spark: SparkSession): Unit = inner.startup(spark)
  override def writeTableRows(table: String, rows: DataFrame): Unit =
    tracer.span("sink.backfill_write")(inner.writeTableRows(table, rows))
  override def writeEvents(table: String, events: DataFrame): Unit =
    tracer.span("sink.write")(inner.writeEvents(table, events))
  override def writeEvents(table: String, events: DataFrame,
      maskHint: Option[Boolean]): Unit =
    tracer.span("sink.write")(inner.writeEvents(table, events, maskHint))
  override def truncateTable(table: String): Unit = inner.truncateTable(table)
  override def applySchemaDiff(table: String, diff: graft.core.SchemaDiff): Unit =
    inner.applySchemaDiff(table, diff)
  override def beginBatch(batchId: Long): Boolean = inner.beginBatch(batchId)
  override def commitBatch(batchId: Long): Unit = {
    inner.commitBatch(batchId)
    pipeline.foreach { p =>
      val now = p.applyTimings.toMap
      synchronized {
        now.foreach { case (t, (ms, n)) =>
          val (ms0, n0) = seen.getOrElse(t, (0L, 0L))
          if (n > n0) tableApplyMs += (ms - ms0).toDouble / (n - n0)
        }
        seen = now
      }
    }
  }
  override def shutdown(): Unit = inner.shutdown()

  /** Forget samples of the set-up phase. */
  def reset(): Unit = synchronized { tableApplyMs.clear() }
}

/** Per-layer metrics shared by the workloads. */
object Layers {
  /** Stream-side layers (sources + pipeline + sinks) from the tracer. */
  def stream(r: Report, tr: Tracer, sink: TracingSink): Unit = {
    tr.settle()
    val bs = tr.dataBatches
    r.put("sources.get_batch_ms_p50",
      Stats.median(bs.flatMap(tr.durationMs(_, "getBatch"))), "ms")
    r.put("sources.latest_offset_ms_p50",
      Stats.median(bs.flatMap(tr.durationMs(_, "latestOffset"))), "ms")
    r.put("pipeline.batches", bs.size.toDouble, "count")
    r.put("pipeline.events_per_batch_p50",
      Stats.median(bs.map(_.numInputRows.toDouble)), "count")
    val add = bs.flatMap(tr.durationMs(_, "addBatch"))
    r.put("pipeline.add_batch_ms_p50", Stats.median(add), "ms")
    r.put("pipeline.add_batch_ms_p99", Stats.pct(add, 99), "ms")
    r.put("pipeline.table_apply_ms_p50",
      Stats.median(sink.synchronized { sink.tableApplyMs.toSeq }), "ms")
    val perBatch = bs.map { p =>
      val js = tr.jobsOfBatch(p.batchId)
      val wall = tr.durationMs(p, "triggerExecution").getOrElse(0.0)
      (js.size.toDouble,
        math.max(0.0, wall - Stats.unionLength(js.map(j => (j.start, j.end)))))
    }
    if (perBatch.nonEmpty) {
      r.put("pipeline.jobs_per_batch", perBatch.map(_._1).sum / perBatch.size, "count")
      r.put("pipeline.offjob_ms_per_batch", perBatch.map(_._2).sum / perBatch.size, "ms")
    }
    val writes = tr.spanMs("sink.write")
    r.put("sinks.write_events_calls", writes.size.toDouble, "count")
    r.put("sinks.write_events_ms_p50", Stats.median(writes), "ms")
    r.put("sinks.write_events_ms_p99", Stats.pct(writes, 99), "ms")
    val (jpw, opw) = tr.spanJobStats("sink.write")
    r.put("sinks.jobs_per_write", jpw, "count")
    r.put("sinks.offjob_ms_per_write", opw, "ms")
  }

  /** Destination footprint: live files and merge-on-read delta layers
    * across `tables`. */
  def footprint(r: Report, tables: Seq[graft.sinks.GraftTable]): Unit = {
    r.put("sinks.files_live", tables.map(_.currentFiles.size).sum.toDouble, "count")
    r.put("sinks.mor_layers", tables.map(_.layerPressure.layers).sum.toDouble, "count")
  }
}
