package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Order statistics over measured samples (linear interpolation between
  * closest ranks, the numpy default). Empty input reads as 0. */
object Stats {
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** What one benchmark process reports: named metrics with units, the
  * operations it attempted and how many failed their check. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Record the outcome of one checked operation; a failed check keeps
    * its timing out of every metric (the caller only records timings
    * when this returns true). */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; errors += what }
    ok
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"errors":[${
      errors.take(20).map(str).mkString(",")}],"metrics":{$ms}}"""
  }

  def write(path: Path): Unit = Files.write(path, toJson.getBytes(UTF_8))
}

/** Samples the pipeline's durable flush position (the source
  * checkpoint's `<log>.progress`, written by the change-log source at
  * every batch commit) on a short timer, stamping each new position
  * with `System.nanoTime`. A change (lsn, ordinal) is durable from the
  * first sample whose position is at or past it. */
final class FlushPoller(logPath: String) {
  private val progress = Paths.get(logPath + ".progress")
  private val samples = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  @volatile private var running = true
  private var lastRaw = ""

  private val thread = new Thread(() => {
    while (running) {
      try {
        if (Files.exists(progress)) {
          val raw = new String(Files.readAllBytes(progress), UTF_8)
          if (raw != lastRaw && raw.nonEmpty) {
            val o = graft.sources.LsnOffset.fromJson(raw)
            val t = System.nanoTime()
            lastRaw = raw
            samples.synchronized { samples += ((t, o.commitLsn, o.txOrdinal)) }
          }
        }
      } catch { case _: Exception => () } // torn read: next tick retries
      java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
    }
  }, "graftbench-flush-poller")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join(2000) }

  /** Index of the first sample covering (lsn, ord), if any. */
  def coveringSample(lsn: Long, ord: Long): Option[Int] = {
    val s = samples.synchronized { samples.toIndexedSeq }
    var lo = 0
    var hi = s.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val (_, l, o) = s(mid)
      if (l > lsn || (l == lsn && o >= ord)) hi = mid else lo = mid + 1
    }
    if (lo < s.size) Some(lo) else None
  }
  def sampleTime(i: Int): Long = samples.synchronized { samples(i)._1 }
  def coveredAt(lsn: Long, ord: Long): Option[Long] =
    coveringSample(lsn, ord).map(sampleTime)
}

/** Phase breadcrumbs on stderr (run.py echoes them): where a run's wall
  * time went. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"graftbench: ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")
}

/** Process-level facts read from the OS and the JVM. */
object Proc {
  /** Peak resident set of this process (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      UTF_8).split("\n").find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
  /** Cumulative GC time of this JVM, ms. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try {
        var n = 0L
        st.forEach { p =>
          try if (Files.isRegularFile(p)) n += Files.size(p)
          catch { case _: java.io.IOException => () } // deleted mid-walk
        }
        n
      } finally st.close()
    }
  def seconds(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e9

  /** Start `f` on a new thread, which inherits the caller's Spark local
    * properties; the returned function waits for its result. */
  def forked[T](f: => T): () => T = {
    @volatile var out: Either[Throwable, T] = Left(new IllegalStateException("not run"))
    val t = new Thread(() => out = try Right(f) catch { case e: Throwable => Left(e) },
      "graftbench-forked")
    t.start()
    () => { t.join(); out.fold(e => throw e, identity) }
  }
}
