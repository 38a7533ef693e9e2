package graft.pipeline

import graft.PackedImage.img
import graft.SparkSpec
import graft.core.{ColumnSpec, SchemaRegistry, TableSchemaV}
import graft.sinks.CurrentStateSink
import graft.sources.CdcLogSource
import org.apache.spark.sql.DataFrame
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Telemetry export (reference missing-item #3, etl-telemetry):
  * Prometheus text-exposition rendering of the reference-named metric
  * catalog (observability.rs) and structured JSON tracing with
  * project/pipeline_id enrichment (tracing.rs shape). */
class TelemetrySpec extends SparkSpec {
  import spark.implicits._

  test("counter/gauge/histogram render Prometheus exposition format") {
    Telemetry.resetForTest()
    val c = Telemetry.counter("t_requests_total", "Requests served")
    c.increment()
    c.increment(2.0, Seq("table" -> "users"))
    val g = Telemetry.gauge("t_depth", "Queue depth")
    g.set(3.5)
    val h = Telemetry.histogram("t_latency_seconds", "Latency",
      buckets = Seq(0.1, 1.0))
    h.observe(0.05); h.observe(0.5); h.observe(5.0)
    val out = Telemetry.renderPrometheus()
    assert(out.contains("# HELP t_requests_total Requests served"))
    assert(out.contains("# TYPE t_requests_total counter"))
    assert(out.contains("t_requests_total 1\n"))
    assert(out.contains("""t_requests_total{table="users"} 2"""))
    assert(out.contains("# TYPE t_depth gauge") &&
      out.contains("t_depth 3.5"))
    // histogram: CUMULATIVE buckets, +Inf, sum, count
    assert(out.contains("""t_latency_seconds_bucket{le="0.1"} 1"""))
    assert(out.contains("""t_latency_seconds_bucket{le="1"} 2"""))
    assert(out.contains("""t_latency_seconds_bucket{le="+Inf"} 3"""))
    assert(out.contains("t_latency_seconds_sum 5.55"))
    assert(out.contains("t_latency_seconds_count 3"))
    // re-registration returns the same family (global recorder shape)
    Telemetry.counter("t_requests_total").increment()
    assert(Telemetry.counter("t_requests_total").value() == 2.0)
    // label values escape quotes/backslashes
    val e = Telemetry.counter("t_escaped_total")
    e.increment(1.0, Seq("q" -> """say "hi" \now"""))
    assert(Telemetry.renderPrometheus()
      .contains("""q="say \"hi\" \\now""""))
  }

  test("writePrometheus lands atomically and parses back") {
    Telemetry.resetForTest()
    Telemetry.counter("t_file_total", "x").increment(7.0)
    val p = Files.createTempDirectory("telemetry").resolve("metrics.prom")
    Telemetry.writePrometheus(p.toString)
    val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    assert(s.contains("t_file_total 7"))
    assert(!Files.exists(Paths.get(p.toString + ".tmp")))
  }

  test("TraceLog: JSON lines with project/pipeline_id enrichment; spans " +
      "record elapsed + outcome and errors rethrow") {
    val dir = Files.createTempDirectory("tracelog").toString
    val log = new Telemetry.TraceLog(s"$dir/trace.jsonl", "proj-a", 42L)
    log.info("apply", "batch done", Map("rows" -> "10"))
    val r = log.span("apply", "merge_users")(1 + 1)
    assert(r == 2)
    val boom = intercept[RuntimeException](
      log.span("apply", "merge_bad")(
        throw new RuntimeException("nope")): Unit)
    assert(boom.getMessage == "nope")
    val lines = new String(
      Files.readAllBytes(Paths.get(s"$dir/trace.jsonl")),
      StandardCharsets.UTF_8).split("\n").toSeq
    assert(lines.size == 3)
    // every line is valid JSON with the enrichment keys (tracing.rs:
    // PROJECT_KEY_IN_LOG / PIPELINE_KEY_IN_LOG)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val js = lines.map(JsonMethods.parse(_))
    js.foreach { j =>
      assert((j \ "project").extract[String] == "proj-a")
      assert((j \ "pipeline_id").extract[Long] == 42L)
      assert((j \ "timestamp").extract[Long] > 0L)
    }
    assert((js(0) \ "rows").extract[String] == "10")
    assert((js(1) \ "span").extract[String] == "merge_users" &&
      (js(1) \ "outcome").extract[String] == "ok")
    assert((js(2) \ "outcome").extract[String] == "error" &&
      (js(2) \ "level").extract[String] == "ERROR")
  }

  test("a live pipeline populates the reference-named metric catalog") {
    Telemetry.resetForTest()
    val dir = Files.createTempDirectory("telemetry-e2e").toString
    val log = s"$dir/wal.log"
    val lines = (1L to 30L).map(i =>
      CdcLogSource.renderLine("I", 1L, i, i, 0L, 0L, None,
        Some(img(i, s"u$i", 20))))
    Files.write(Paths.get(log),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    val registry = new SchemaRegistry
    registry.put(TableSchemaV(1L, "users", 0L, IndexedSeq(
      ColumnSpec("id", "int8", nullable = false, pkOrdinal = 1),
      ColumnSpec("name", "text"), ColumnSpec("age", "int4"))))
    val sink = new CurrentStateSink(s"$dir/tables", _ => Seq("id"), 4)
    val pipeline = new CdcPipeline(spark,
      PipelineConfig(maxRowsPerTrigger = 10, maxFillMs = 50,
        checkpointDir = s"$dir/ckpt", stateDir = s"$dir/state"),
      registry, sink, (df: DataFrame, s: TableSchemaV) =>
        CdcPipeline.jsonDecode(df, s))
    pipeline.stateStore.force(1L, TableState.Ready)
    val metrics = new PipelineMetrics(spark)
    val q = pipeline.startStream(log)
    try q.processAllAvailable() finally { q.stop(); metrics.detach() }
    assert(sink.read(spark, "users").count() == 30)
    assert(Telemetry.counter(Telemetry.TransactionsTotal)
      .value(Seq("table" -> "1")) >= 1.0)
    assert(Telemetry.histogram(Telemetry.TransactionDurationSeconds)
      .count(Seq("table" -> "1")) >= 1L)
    val out = Telemetry.renderPrometheus()
    assert(out.contains("etl_transaction_duration_seconds_bucket"))
    assert(out.contains("etl_transactions_total"))
    assert(Telemetry.counter(Telemetry.EventsProcessedTotal).value() >= 30.0)
  }
}
