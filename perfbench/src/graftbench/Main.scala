package graftbench

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession

/** One benchmark process: a Spark session in local mode, one workload,
  * its report written to `<work>/jvm_result.json`. Started by
  * `perfbench/run.py`, which owns the Postgres fixture and the load
  * generator and prints the final result line.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * work (scratch directory), cpus, setup-reps (how many times set-up
  * runs; the median counts); pg_stream adds pg-port and backlog-only
  * (1: stop after the closed-loop backlog drain, with no open-loop
  * load). */
final case class Cfg(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, cpus: Int, pgPort: Int,
    setupReps: Int, backlogOnly: Boolean)

object Main {
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    Log("jvm up")
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val cfg = Cfg(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o.getOrElse("trace", "0") == "1", o("work"), o("cpus").toInt,
      o.getOrElse("pg-port", "0").toInt,
      o.getOrElse("setup-reps", "3").toInt, o.getOrElse("backlog-only", "0") == "1")
    val spark = session(cfg.cpus, cfg.work)
    val sparkStartS = Proc.seconds(t0, System.nanoTime())
    Log(s"spark session up in ${sparkStartS}s")
    val r = new Report
    val code =
      try {
        cfg.workload match {
          case "pg_stream" => PgStream.run(spark, cfg, r, sparkStartS)
          case "corpus_curation" => Curation.run(spark, cfg, r, sparkStartS)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          r.errors += s"workload aborted: $e"
          1
      }
    r.put("peak_rss_mb", Proc.peakRssMb(), "MB")
    r.write(Paths.get(cfg.work, "jvm_result.json"))
    Log("report written")
    System.out.flush()
    // the report is written and every stream is stopped: halt, so that
    // non-daemon threads of the program cannot keep the process alive
    Runtime.getRuntime.halt(code)
  }
}
