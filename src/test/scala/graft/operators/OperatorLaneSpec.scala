package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import graft.sinks.{GraftTable, InterpretedLane}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The operator syncs' interpreted lane: a dedup or index sync whose
  * state tables and input leaves are below [[InterpretedLane.BelowBytes]]
  * plans in an interpreted clone of its session, so steady syncs compile
  * nothing; larger syncs, and syncs over an input leaf of unknown size,
  * keep compiled plans. Both lanes write the same state tables, and the
  * caller's session and the returned frame are untouched. */
class OperatorLaneSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString
  private val cfg = IncrementalDedup.Config()
  private val words = IndexedSeq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector")

  /** The text state: two dedup tables and three index tables. */
  private final class TextState(dir: String) {
    val bands = IncrementalDedup.bandTable(s"$dir/bands", nBuckets = 4)
    val pairs = IncrementalDedup.pairTable(s"$dir/pairs", nBuckets = 2)
    val postings = IncrementalIndex.postingsTable(s"$dir/postings", 4)
    val dlens = IncrementalIndex.docTable(s"$dir/doclens", 2)
    val stats = IncrementalIndex.statsTable(s"$dir/stats")
    def all: Seq[GraftTable] = Seq(bands, pairs, postings, dlens, stats)
    def snapshot: Seq[Set[Seq[Any]]] = all.map(_.read(spark).collect()
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).toSet)
  }

  /** Inputs of one text sync from `prev` to `next`: the corpus and the
    * row changes (a full refresh when `prev` is empty). */
  private def textInputs(prev: Map[Long, String], next: Map[Long, String])
      : (DataFrame, DataFrame) =
    (next.toSeq.toDF("doc_id", "text"),
      changeRows(prev, next).toDF("doc_id", "text", "_change_type"))

  /** The row changes (id, payload, _change_type) from `prev` to `next`. */
  private def changeRows[T](prev: Map[Long, T], next: Map[Long, T])
      : Seq[(Long, T, String)] = {
    val ins = (next.keySet -- prev.keySet).toSeq
      .map(id => (id, next(id), "insert"))
    val del = (prev.keySet -- next.keySet).toSeq
      .map(id => (id, prev(id), "delete"))
    val upd = (next.keySet & prev.keySet).toSeq
      .filter(id => prev(id) != next(id))
      .flatMap(id => Seq((id, prev(id), "update_preimage"),
        (id, next(id), "update_postimage")))
    ins ++ del ++ upd
  }

  /** One dedup + index sync, as an application runs them. Returns this
    * delta's verified pairs. */
  private def textSync(st: TextState, corpus: DataFrame, changes: DataFrame,
      seq: Long): DataFrame = {
    val s = f"$seq%016x/0"
    val out = IncrementalDedup.applyDelta(spark, st.bands, st.pairs, corpus,
      changes, "doc_id", "text", s, cfg)
    IncrementalIndex.applyDelta(spark, st.postings, st.dlens, st.stats,
      changes.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"), col("_change_type")),
      "doc_id", "toks", s)
    out
  }

  private def randomText(rng: java.util.SplittableRandom): String =
    Seq.fill(8 + rng.nextInt(20))(words(rng.nextInt(words.size)))
      .mkString(" ")

  /** `n` steps of a corpus of 60 documents: step 0 builds it; each later
    * step inserts 4 documents (one a near-duplicate), updates 4 (two
    * near-duplicate edits) and deletes 2. */
  private def textSteps(seed: Long, n: Int): Seq[Map[Long, String]] = {
    val rng = new java.util.SplittableRandom(seed)
    val first = (1L to 60L).map { i =>
      i -> (if (i % 10 == 0) s"${randomText(rng)} dup" else randomText(rng))
    }.toMap
    Iterator.iterate((first, 61L)) { case (s, next) =>
      val ids = s.keys.toSeq.sorted
      def pick() = ids(rng.nextInt(ids.size))
      val ins = (0 until 4).map(k => (next + k) ->
        (if (k == 0) s"${s(pick())} dup" else randomText(rng)))
      val upd = ids.filter(_ % 7 == next % 7).take(4).zipWithIndex.map {
        case (id, k) => id -> (if (k < 2) s"${s(pick())} dup"
                               else randomText(rng))
      }
      val gone = ids.filter(_ % 11 == next % 11).take(2)
      ((s ++ ins ++ upd) -- gone, next + 4)
    }.map(_._1).take(n).toSeq
  }

  test("steady dedup and index syncs compile nothing after warm-up") {
    val st = new TextState(tmp("lane-steady"))
    val steps = textSteps(31L, 6)
    val inputs = steps.indices.map(i =>
      textInputs(if (i == 0) Map.empty else steps(i - 1), steps(i)))
    var compiles = 0L
    inputs.zipWithIndex.foreach { case ((corpus, changes), i) =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      textSync(st, corpus, changes, i + 1L)
      // the bootstrap and the first delta warm up
      if (i >= 2)
        compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiles == 0L, "steady syncs generated code")
    assert(IncrementalDedup.readPairs(spark, st.pairs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      Dedup.minhashLshPairs(steps.last.toSeq.toDF("doc_id", "text"), "text",
          "doc_id", cfg.n, cfg.numHashes, cfg.bands, cfg.threshold)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
  }

  test("interpreted and compiled lanes write identical pair, band, " +
      "postings, doc-length and stats tables on the text front") {
    val steps = textSteps(37L, 4)
    def run(interpreted: Boolean): Seq[Seq[Set[Seq[Any]]]] = {
      val st = new TextState(tmp(s"lane-text-$interpreted"))
      InterpretedLane.forcing(interpreted) {
        val deltas = steps.indices.map { i =>
          val (corpus, changes) =
            textInputs(if (i == 0) Map.empty else steps(i - 1), steps(i))
          textSync(st, corpus, changes, i + 1L)
          st.snapshot
        }
        // full refresh: the state is rebuilt from the whole corpus
        st.all.foreach(_.truncate())
        val (corpus, changes) = textInputs(Map.empty, steps.last)
        textSync(st, corpus, changes, steps.size + 1L)
        deltas :+ st.snapshot
      }
    }
    val interp = run(interpreted = true)
    assert(interp == run(interpreted = false))
    assert(interp.last.head.nonEmpty && interp.last(1).nonEmpty,
      "the scenario made no bands or no pairs")
    assert(interp.last == interp(interp.size - 2),
      "the full refresh rebuilt different state")
  }

  test("interpreted and compiled lanes write identical pair and band " +
      "tables on the embedding front") {
    val ecfg = IncrementalDedup.EmbedConfig(threshold = 0.9, nPlanes = 4,
      nTables = 8)
    def vec(dir: Int, eps: Float): Seq[Float] = {
      val v = Array.fill(8)(0.01f * dir)
      v(dir % 8) = 1.0f
      v((dir + 3) % 8) = eps
      v.toSeq
    }
    val steps = Seq(
      (1L to 12L).map(i => i -> vec((i % 5).toInt, 0.01f * i)).toMap)
    val next1 = steps.last ++ Map(13L -> vec(1, 0.02f), 2L -> vec(6, 0.01f),
      4L -> vec(0, 0.05f)) - 3L
    val all = steps :+ next1 :+ (next1 - 5L + (14L -> vec(2, 0.03f)))
    def inputs(prev: Map[Long, Seq[Float]], next: Map[Long, Seq[Float]]) =
      (next.toSeq.toDF("vec_id", "embedding"),
        changeRows(prev, next).toDF("vec_id", "embedding", "_change_type"))
    def run(interpreted: Boolean) = {
      val dir = tmp(s"lane-embed-$interpreted")
      val bands = IncrementalDedup.bandTable(s"$dir/bands", nBuckets = 4)
      val pairs = IncrementalDedup.pairTable(s"$dir/pairs", nBuckets = 2)
      def snap = Seq(bands, pairs).map(_.read(spark).collect()
        .map(_.toSeq).toSet)
      def sync(prev: Map[Long, Seq[Float]], next: Map[Long, Seq[Float]],
          seq: Long) = {
        val (corpus, changes) = inputs(prev, next)
        IncrementalDedup.applyEmbedDelta(spark, bands, pairs, corpus,
          changes, "vec_id", "embedding", f"$seq%016x/0", ecfg)
        snap
      }
      InterpretedLane.forcing(interpreted) {
        val deltas = all.indices.map(i =>
          sync(if (i == 0) Map.empty else all(i - 1), all(i), i + 1L))
        Seq(bands, pairs).foreach(_.truncate())
        deltas :+ sync(Map.empty, all.last, all.size + 1L)
      }
    }
    val interp = run(interpreted = true)
    assert(interp == run(interpreted = false))
    assert(interp.last(1).nonEmpty, "the scenario made no pairs")
  }

  /** Runs `body` with the lane log's lines collected; `body` reads the
    * lines logged so far for a caller prefix ("dedup sync", ...). */
  private def withLaneLog(body: (String => Seq[String]) => Unit): Unit = {
    val records = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val handler = new java.util.logging.Handler {
      def publish(r: java.util.logging.LogRecord): Unit =
        records.add(r.getMessage)
      def flush(): Unit = ()
      def close(): Unit = ()
    }
    val logger = java.util.logging.Logger.getLogger("graft.lanes")
    logger.addHandler(handler)
    try body(prefix => records.toArray.map(_.toString).toSeq
      .filter(_.startsWith(s"$prefix ")))
    finally logger.removeHandler(handler)
  }

  test("a state table over the limit or an input leaf of unknown size " +
      "keeps the sync compiled; the lane is logged when it changes") {
    withLaneLog { logged =>
      val st = new TextState(tmp("lane-rule"))
      val steps = textSteps(41L, 3)
      val (corpus0, changes0) = textInputs(Map.empty, steps.head)
      textSync(st, corpus0, changes0, 1L)
      def linesOf(sync: String) = logged(s"$sync sync")
      def records = logged("")
      assert(linesOf("dedup").length == 1 &&
        linesOf("dedup").head.contains("interpreted lane"), records)
      assert(linesOf("index").length == 1 &&
        linesOf("index").head.contains("interpreted lane"), records)

      // the same changes behind an RDD leaf: their size is unknown
      val (corpus1, changes1) = textInputs(steps.head, steps(1))
      val rddChanges = spark.createDataFrame(changes1.rdd, changes1.schema)
      textSync(st, corpus1, rddChanges, 2L)
      assert(linesOf("dedup").length == 2 &&
        linesOf("dedup").last.contains("compiled lane (an input leaf of " +
          "unknown size: LogicalRDD"), records)
      assert(linesOf("index").length == 2 &&
        linesOf("index").last.contains("compiled lane"), records)
      // a second sync on the same lane logs nothing
      val (corpus2, changes2) = textInputs(steps(1), steps(2))
      textSync(st, corpus2,
        spark.createDataFrame(changes2.rdd, changes2.schema), 3L)
      assert(linesOf("dedup").length == 2 && linesOf("index").length == 2,
        records)
      assert(IncrementalDedup.readPairs(spark, st.pairs)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
        Dedup.minhashLshPairs(steps(2).toSeq.toDF("doc_id", "text"), "text",
            "doc_id", cfg.n, cfg.numHashes, cfg.bands, cfg.threshold)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    }

    // a state table over the limit: incompressible text
    val big = new GraftTable(tmp("lane-big"), Seq("id"), 4)
    val rows = (InterpretedLane.BelowBytes * 2 / 1024).toInt
    big.overwrite(spark.range(0, rows).toDF("id")
      .withColumn("text", concat((0 until 16).map(i =>
        sha2(concat(col("id").cast("string"), lit(s"-$i")), 256)): _*)))
    val small = new GraftTable(tmp("lane-small"), Seq("id"), 4)
    small.overwrite(spark.range(0, 100).toDF("id")
      .withColumn("text", col("id").cast("string")))
    assert(InterpretedLane.choose("spec small", Seq(small), Nil))
    assert(!InterpretedLane.choose("spec big", Seq(small, big), Nil))
    // input files over the limit, read as a plain parquet leaf
    val bigFiles = big.read(spark).inputFiles.toSeq
    assert(!InterpretedLane.choose("spec big input", Seq(small),
      Seq(spark.read.parquet(bigFiles: _*))))
    // a small file leaf counts once however often the plan reads it,
    // whatever Catalyst estimates for the self-join
    val smallDf = small.read(spark)
    val joined = smallDf.join(smallDf.withColumnRenamed("text", "t2"), "id")
      .unionByName(smallDf.join(smallDf.withColumnRenamed("text", "t2"),
        "id"))
    val once = InterpretedLane.countBytes(Nil, Seq(smallDf), Long.MaxValue)
    assert(once.isRight && once.toOption.get > 0)
    assert(InterpretedLane.countBytes(Nil, Seq(joined), Long.MaxValue) ==
      once)
    assert(InterpretedLane.countBytes(Seq(small), Nil, Long.MaxValue) ==
      once)
    assert(InterpretedLane.countBytes(Nil,
      Seq(spark.createDataFrame(smallDf.rdd, smallDf.schema)),
      Long.MaxValue) == Left("LogicalRDD"))
  }

  test("feed syncs over the graft-row-follow stream take the interpreted " +
      "lane") {
    val dir = tmp("lane-feed")
    val root = s"$dir/leader"
    val leader = new GraftTable(root, Seq("doc_id"), nBuckets = 4,
      retainVersions = 10)
    val st = new TextState(dir)
    val steps = textSteps(47L, 2)
    def pass(): Unit = {
      val q = spark.readStream.format("graft-row-follow")
        .option("path", root).load()
        .writeStream.option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (df: DataFrame, _: Long) =>
          IncrementalDedup.applyFeedBatch(df, root, st.bands, st.pairs,
            "doc_id", "text", cfg)
          IncrementalIndex.applyFeedBatch(df, root, st.postings, st.dlens,
            st.stats, "doc_id", "text")
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    withLaneLog { logged =>
      leader.overwrite(steps.head.toSeq.toDF("doc_id", "text"))
      pass()
      // a CDC-shaped commit: the feed reads it as a row-level delta
      val prev = steps.head
      val next = steps(1)
      leader.merge(((next.keySet -- prev.keySet).toSeq.map(id =>
          (id, next(id), "I")) ++
        (next.keySet & prev.keySet).toSeq.filter(id => prev(id) != next(id))
          .map(id => (id, next(id), "U")) ++
        (prev.keySet -- next.keySet).toSeq.map(id => (id, "", "D")))
        .toDF("doc_id", "text", "_op")
        .withColumn("_seq", lit("0000000000000010/0000000000000000")))
      pass()
      Seq("dedup sync", "index sync").foreach { c =>
        assert(logged(c).nonEmpty &&
          logged(c).forall(_.contains("interpreted lane")), logged(""))
      }
    }
    assert(IncrementalDedup.readPairs(spark, st.pairs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      Dedup.minhashLshPairs(steps(1).toSeq.toDF("doc_id", "text"), "text",
          "doc_id", cfg.n, cfg.numHashes, cfg.bands, cfg.threshold)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
  }

  test("the returned frame and the caller's session carry no codegen " +
      "change") {
    val codegenKeys =
      spark.conf.getAll.keySet.filter(_.startsWith("spark.sql.codegen"))
    val st = new TextState(tmp("lane-session"))
    val steps = textSteps(43L, 2)
    val (corpus0, changes0) = textInputs(Map.empty, steps.head)
    textSync(st, corpus0, changes0, 1L)
    val (corpus1, changes1) = textInputs(steps.head, steps(1))
    assert(InterpretedLane.choose("spec session", st.all,
      Seq(corpus1, changes1)))
    val out = textSync(st, corpus1, changes1, 2L)
    assert(out.sparkSession eq spark)
    assert(spark.conf.getAll.keySet
      .filter(_.startsWith("spark.sql.codegen")) == codegenKeys)
    assert(codegenKeys.isEmpty, codegenKeys)
    assert(out.sparkSession.conf.get("spark.sql.codegen.wholeStage") ==
      "true")
    assert(out.sparkSession.conf.getOption("spark.sql.codegen.factoryMode")
      .forall(_ != "NO_CODEGEN"))
    // the frame still runs, in the caller's session
    assert(out.count() >= 0L)
    assert(corpus1.sparkSession eq spark)
  }
}
