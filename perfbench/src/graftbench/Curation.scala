package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ColumnSpec, PackedRow, SchemaRegistry, TableSchemaV}
import graft.functions.TextFunctions
import graft.operators.{Dedup, IncrementalDedup, IncrementalIndex, Retrieval}
import graft.pipeline.{CdcPipeline, PipelineConfig, TableState}
import graft.sinks.{CdcSink, CurrentStateSink, GraftTable}
import graft.sources.CdcLogSource
import scala.collection.mutable

/** corpus_curation: the CDC → training-data composition. A seeded
  * document corpus shaped like the sf0.1 `documents` table is
  * replicated through `CdcPipeline` into a `docs` GraftTable from a
  * change log. Every sync appends a delta (inserts, updates and deletes
  * of a fixed fraction of the corpus, near-duplicate edits among them),
  * drains the pipeline, reads the row changes since the last sync, and
  * brings the near-duplicate pair table (`IncrementalDedup`) and the
  * BM25 index (`IncrementalIndex`) up to date. A fixed query batch then
  * runs through `IncrementalIndex.bm25TopK`. After every sync the pair
  * table must equal `Dedup.minhashLshPairs` over the corpus and the
  * search must equal `Retrieval.bm25TopK` computed from scratch. */
object Curation {
  // the shape of the sf0.1 `documents` table: 5000 rows of 10 to 100
  // whitespace tokens (uniform), drawn uniformly from 30 words; 5% of
  // the rows are near-duplicates, another row's text with " dup" appended
  val CorpusDocs = 5000
  val MinTokens = 10
  val MaxTokens = 100
  val NearDupShare = 0.05
  val Words = IndexedSeq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")
  /** Changes per sync: 1% of the corpus. */
  val DeltaDocs = 50
  /** One sync with its check takes about 16 s on a 4-core host; the
    * time a full evaluation may take allows one per run. */
  val MinSyncs = 1
  val SearchesPerSync = 3
  val ReadsPerSearch = 2
  val TopK = 10

  val Docs = TableSchemaV(1L, "docs", 0L, IndexedSeq(
    ColumnSpec("doc_id", "int8", nullable = false, pkOrdinal = 1, identity = true),
    ColumnSpec("text", "text")))
  val dedupCfg = IncrementalDedup.Config()

  /** The generated corpus and its change stream, deterministic in the seed. */
  final class Corpus(seed: Long) {
    val rng = new java.util.SplittableRandom(seed)
    val docs = mutable.LongMap.empty[String]
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.LongMap.empty[Int]
    var nextId = 1L
    var lsn = 1000L

    def randomText(): String =
      Seq.fill(MinTokens + rng.nextInt(MaxTokens - MinTokens + 1))(
        Words(rng.nextInt(Words.size))).mkString(" ")
    def nearDup(text: String): String = text + " dup"
    def pick(): Long = ids(rng.nextInt(ids.size))
    private def fresh(): String =
      if (ids.nonEmpty && rng.nextDouble() < NearDupShare) nearDup(docs(pick()))
      else randomText()

    private def put(id: Long, text: String): Unit = {
      if (!docs.contains(id)) { pos(id) = ids.size; ids += id }
      docs(id) = text
    }
    private def remove(id: Long): Unit = {
      val i = pos(id); val last = ids.last
      ids(i) = last; pos(last) = i; ids.remove(ids.size - 1); pos.remove(id)
      docs.remove(id)
    }
    private def packed(id: Long, text: String) =
      PackedRow.render(Seq(Some(id.toString), Some(text)))

    /** `n` changes in commits of up to 10 events, rendered as change-log
      * lines. `insertOnly` builds the initial corpus. */
    def changes(n: Int, insertOnly: Boolean = false): Array[Byte] = {
      val sb = new java.lang.StringBuilder
      val touched = mutable.HashSet.empty[Long]
      var ord = 0L
      (0 until n).foreach { i =>
        if (i % 10 == 0) { lsn += 16; ord = 0L }
        val p = if (insertOnly) 0.0 else rng.nextDouble()
        val line =
          if (p < 0.35) {
            val id = nextId; nextId += 1; val text = fresh(); put(id, text)
            touched += id
            CdcLogSource.renderLine("I", 1L, lsn, lsn, ord, 0L, None, Some(packed(id, text)))
          } else {
            // an id changes at most once per delta: the row CDF nets to
            // one transition per id, and so does the expected state
            var id = pick()
            while (touched.contains(id)) id = pick()
            touched += id
            if (p < 0.70) {
              val text = if (rng.nextBoolean()) nearDup(docs(pick())) else randomText()
              put(id, text)
              CdcLogSource.renderLine("U", 1L, lsn, lsn, ord, 0L, None, Some(packed(id, text)))
            } else {
              val old = docs(id); remove(id)
              CdcLogSource.renderLine("D", 1L, lsn, lsn, ord, 0L, Some(packed(id, old)), None)
            }
          }
        sb.append(line).append('\n')
        ord += 1
      }
      sb.toString.getBytes(UTF_8)
    }
  }

  def toks(df: DataFrame, extra: String*): DataFrame =
    df.select((col("doc_id") +: TextFunctions.tokens(col("text")).as("toks") +:
      extra.map(col)): _*)

  def run(spark: SparkSession, cfg: Cfg, r: Report, sparkStartS: Double): Unit = {
    import spark.implicits._
    val tracer = if (cfg.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    def span[T](kind: String)(f: => T): T = tracer.fold(f)(_.span(kind)(f))
    def checking[T](f: => T): T = span(Tracer.CheckSpan)(f)

    final class Live(val dir: String, val corpus: Corpus, val sink: CurrentStateSink,
        val traced: Option[TracingSink],
        val query: org.apache.spark.sql.streaming.StreamingQuery, val bands: GraftTable, val pairs: GraftTable,
        val postings: GraftTable, val dlens: GraftTable, val stats: GraftTable) {
      val log = s"$dir/wal.log"
      var cursor = -1L
      var syncs = 0L
      def docs: GraftTable = sink.tableFor("docs")
      def stop(): Unit = query.stop()

      /** Bring the pair table and the index up to date with the docs
        * table; returns this delta's verified pairs. */
      def sync(): DataFrame = {
        syncs += 1
        val seq = f"$syncs%016x/0"
        val ch = span("sink.cdf")(docs.rowChangesSince(spark, cursor))
        // a cursor older than the retained snapshots gets the whole table
        // as inserts: the derived state is rebuilt from it
        if (ch.fullRefresh && cursor >= 0) {
          Log(s"sync $syncs: change feed fell back to a full refresh")
          Seq(bands, pairs, postings, dlens, stats).foreach(_.truncate())
        }
        val corpusDf = docs.read(spark).select("doc_id", "text")
        val pairsOut = span("op.dedup")(IncrementalDedup.applyDelta(spark, bands, pairs,
          corpusDf, ch.rows.select("doc_id", "text", "_change_type"),
          "doc_id", "text", seq, dedupCfg))
        span("op.index")(IncrementalIndex.applyDelta(spark, postings, dlens, stats,
          toks(ch.rows, "_change_type"), "doc_id", "toks", seq))
        cursor = ch.version
        pairsOut
      }
    }

    def start(rep: Int): Live = {
      val dir = s"${cfg.work}/corpus_curation/rep$rep"
      Files.createDirectories(Paths.get(dir))
      val corpus = new Corpus(cfg.seed)
      val registry = new SchemaRegistry
      registry.put(Docs)
      val base = new CurrentStateSink(s"$dir/tables", _ => Seq("doc_id"), 4)
      val traced = tracer.map(tr => new TracingSink(base, tr))
      val sink: CdcSink = traced.getOrElse(base)
      val pipeline = new CdcPipeline(spark,
        PipelineConfig(maxRowsPerTrigger = 100000L, maxFillMs = 50L,
          checkpointDir = s"$dir/ckpt", stateDir = s"$dir/state"),
        registry, sink, CdcPipeline.jsonDecode)
      traced.foreach(_.pipeline = Some(pipeline))
      sink.startup(spark)
      pipeline.stateStore.force(1L, TableState.Ready)
      val log = s"$dir/wal.log"
      Files.write(Paths.get(log), corpus.changes(CorpusDocs, insertOnly = true))
      val q = pipeline.startStream(log)
      q.processAllAvailable()
      val live = new Live(dir, corpus, base, traced, q,
        IncrementalDedup.bandTable(s"$dir/bands", nBuckets = 4),
        IncrementalDedup.pairTable(s"$dir/pairs", nBuckets = 2),
        IncrementalIndex.postingsTable(s"$dir/postings", 4),
        IncrementalIndex.docTable(s"$dir/doclens", 2),
        IncrementalIndex.statsTable(s"$dir/istats"))
      live.sync() // bootstrap: the full-refresh feed
      live
    }

    val setups = (0 until cfg.setupReps).map { rep =>
      val t0 = System.nanoTime()
      val live = start(rep)
      val dt = Proc.seconds(t0, System.nanoTime())
      Log(s"setup $rep ${dt}s")
      if (rep < cfg.setupReps - 1) { live.stop(); (dt, None) } else (dt, Some(live))
    }
    val live = setups.last._2.get
    r.put("setup_s", sparkStartS + Stats.median(setups.map(_._1)), "s")

    // fixed query batch: three vocabulary words each
    val qrng = new java.util.SplittableRandom(cfg.seed ^ 0x5eedL)
    val queries = (1 to 8).map { q =>
      (q.toLong, Seq.fill(3)(Words(qrng.nextInt(Words.size))).mkString(" "))
    }.toDF("q_id", "qtext")
      .select(col("q_id"), TextFunctions.tokens(col("qtext")).as("q_toks")).cache()
    queries.count()
    def search(): Seq[(Long, Int, Long, Double)] =
      IncrementalIndex.bm25TopK(spark, live.postings, live.dlens, live.stats,
        queries, "q_id", "q_toks", k = TopK)
        .orderBy("q_id", "rank").as[(Long, Int, Long, Double)].collect().toSeq

    tracer.foreach(_.reset())
    live.traced.foreach(_.reset())
    val gc0 = Proc.gcMs()
    val destRoot = Paths.get(live.dir, "tables")
    val bytes0 = Proc.dirBytes(destRoot)
    val drainS = mutable.ArrayBuffer.empty[Double]
    val syncS = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    val searches = mutable.ArrayBuffer.empty[Double]
    val pairCounts = mutable.ArrayBuffer.empty[Double]
    var events = 0L
    var logBytes = 0L
    // the window counts timed operations only (syncs, searches, reads);
    // the from-scratch checks run outside it
    var timedNs = 0L
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val out = f
      val dt = System.nanoTime() - t0
      timedNs += dt
      (out, dt / 1e9)
    }
    var n = 0
    while (n < MinSyncs || timedNs / 1e9 < cfg.seconds) {
      n += 1
      val bytes = live.corpus.changes(DeltaDocs)
      Files.write(Paths.get(live.log), bytes, StandardOpenOption.APPEND)
      val avail = System.nanoTime()
      live.query.processAllAvailable()
      val quiet = System.nanoTime()
      val pairsOut = live.sync()
      val done = System.nanoTime()
      timedNs += done - avail
      events += DeltaDocs
      logBytes += bytes.length
      if (tracer.nonEmpty) pairCounts += checking(pairsOut.count()).toDouble

      // searches and full reads of docs, interleaved; the first round runs
      // before the check and the others after it, so the short reads
      // sample more than one moment of the run
      val tops = mutable.ArrayBuffer.empty[(Seq[(Long, Int, Long, Double)], Double)]
      def searchRound(): Unit = {
        tops += timed(span("op.search")(search()))
        (0 until ReadsPerSearch).foreach { _ =>
          val (cnt, rdt) = timed(live.docs.read(spark).count())
          if (r.check(cnt == live.corpus.docs.size, s"sync $n: read count $cnt")) reads += rdt
        }
      }
      searchRound()

      // checks against the from-scratch operators; they run outside the
      // timed window, so the two operators run side by side
      val c0 = System.nanoTime()
      val corpusDf = live.docs.read(spark).select("doc_id", "text")
      val (gotPairs, wantPairs, wantTop, nDocs) = checking {
        val wantPairs = Proc.forked(Dedup.minhashLshPairs(corpusDf, "text", "doc_id",
          dedupCfg.n, dedupCfg.numHashes, dedupCfg.bands, dedupCfg.threshold)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
        val wantTop = Proc.forked(Retrieval.bm25TopK(toks(corpusDf), "doc_id", "toks",
          queries, "q_id", "q_toks", k = TopK)
          .orderBy("q_id", "rank").as[(Long, Int, Long, Double)].collect().toSeq)
        (IncrementalDedup.readPairs(spark, live.pairs)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet,
          wantPairs(), wantTop(), corpusDf.count())
      }
      val checkS = Proc.seconds(c0, System.nanoTime())
      if (r.check(gotPairs == wantPairs &&
          nDocs == live.corpus.docs.size,
          s"sync $n: pairs ${gotPairs.size} vs ${wantPairs.size}, docs $nDocs " +
            s"vs ${live.corpus.docs.size}")) {
        drainS += Proc.seconds(avail, quiet)
        syncS += Proc.seconds(avail, done)
      }
      (1 until SearchesPerSync).foreach(_ => searchRound())
      tops.foreach { case (top, sdt) =>
        if (r.check(top == wantTop, s"sync $n: bm25TopK differs from the from-scratch " +
            s"ranking: ${top.diff(wantTop).take(3)} vs ${wantTop.diff(top).take(3)}"))
          searches += sdt
      }
      Log(s"sync $n ${syncS.lastOption.getOrElse(0.0)}s check ${checkS}s search ${
        searches.lastOption.getOrElse(0.0)}s read ${reads.lastOption.getOrElse(0.0)}s")
    }
    Log("measured phase done")
    live.stop()
    // a delta is one micro-batch, so its freshness is its drain time:
    // append → the pipeline quiet with the delta applied
    val freshMs = drainS.map(_ * 1000)
    r.put("freshness_p50_ms", Stats.median(freshMs), "ms")
    r.put("freshness_p99_ms", Stats.pct(freshMs, 99), "ms")
    r.put("drain_events_per_s", DeltaDocs * drainS.size / drainS.sum, "events/s")
    r.put("sync_p50_s", Stats.median(syncS), "s")
    r.put("read_s", Stats.median(reads), "s")
    r.put("search_p50_s", Stats.median(searches), "s")

    tracer.foreach { tr =>
      Layers.stream(r, tr, live.traced.get)
      tr.engine(r, gc0)
      r.put("sources.log_bytes", logBytes.toDouble, "bytes")
      r.put("sources.log_events", events.toDouble, "count")
      r.put("sinks.bytes_written_per_event",
        (Proc.dirBytes(destRoot) - bytes0).toDouble / math.max(1L, events), "bytes")
      r.put("sinks.cdf_read_ms_p50", Stats.median(tr.spanMs("sink.cdf")), "ms")
      r.put("sinks.read_ms_per_table", Stats.median(reads.map(_ * 1000)), "ms")
      Layers.footprint(r, Seq(live.docs, live.bands, live.pairs, live.postings,
        live.dlens, live.stats))
      val dedup = tr.spanMs("op.dedup")
      val (djobs, doff) = tr.spanJobStats("op.dedup")
      r.put("operators.dedup_sync_s_p50", Stats.median(dedup) / 1000, "s")
      r.put("operators.dedup_jobs_per_sync", djobs, "count")
      r.put("operators.dedup_offjob_s_per_sync", doff / 1000, "s")
      r.put("operators.pairs_per_sync", Stats.median(pairCounts), "count")
      r.put("operators.index_sync_s_p50", Stats.median(tr.spanMs("op.index")) / 1000, "s")
      r.put("operators.index_jobs_per_sync", tr.spanJobStats("op.index")._1, "count")
      r.put("operators.search_s_p50", Stats.median(tr.spanMs("op.search")) / 1000, "s")
      r.put("operators.search_jobs", tr.spanJobStats("op.search")._1, "count")
    }
  }
}
