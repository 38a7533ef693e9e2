package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def toks(s: String): Seq[String] =
    s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  test("bm25TopK matches a driver-side reference computation") {
    val corpus = Seq(
      (1L, "spark shuffles data across partitions"),
      (2L, "spark spark spark broadcast join"),
      (3L, "catalyst optimizes the logical plan"),
      (4L, "data partitions and data skew"))
    val docs = corpus.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val queries = Seq((10L, "spark data")).toDF("q_id", "qtext")
      .select(col("q_id"), split(col("qtext"), " ").as("q_toks"))
    val got = Retrieval.bm25TopK(docs, "doc_id", "toks",
        queries, "q_id", "q_toks", k = 10)
      .orderBy("rank")
      .select("rank", "doc_id", "score")
      .as[(Int, Long, Double)].collect().toSeq

    // reference: same formula, driver-side
    val docToks = corpus.map { case (id, t) => id -> toks(t) }.toMap
    val n = docToks.size
    val avgdl = docToks.values.map(_.size).sum.toDouble / n
    val dfm = docToks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size }
    def score(id: Long, q: Seq[String]): Double = {
      val dl = docToks(id).size
      val s = q.distinct.map { t =>
        val tf = docToks(id).count(_ == t)
        if (tf == 0) 0.0
        else {
          val df = dfm(t)
          math.log(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
            (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        }
      }.sum
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = Seq(1L, 2L, 3L, 4L)
      .map(id => id -> score(id, Seq("spark", "data")))
      .filter(_._2 > 0.0)
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex
      .map { case ((id, s), i) => (i + 1, id, s) }
    assert(got == expected, s"got $got expected $expected")
    // sanity: doc 3 shares no term with the query and must be absent
    assert(!got.exists(_._2 == 3L))
  }

  test("bm25TopK probe-scale and compact lanes agree row-for-row") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("w0", "w1", "w2", "w3", "w4", "w5", "w6", "w7")
    val corpus = (1L to 40L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size)))
    }
    val docs = corpus.toDF("doc_id", "toks")
    val queries = Seq((100L, Seq("w1", "w4", "w4")),
      (101L, Seq("w7", "w0"))).toDF("q_id", "q_toks")
    def run(): Seq[(Long, Int, Long, Double)] =
      Retrieval.bm25TopK(docs, "doc_id", "toks",
          queries, "q_id", "q_toks", k = 7)
        .orderBy("q_id", "rank")
        .as[(Long, Int, Long, Double)].collect().toSeq
    val compact = run()
    spark.conf.set("spark.graft.bm25.probeScaleThresholdBytes", "0")
    try {
      val probeScale = run()
      assert(compact == probeScale)
    } finally spark.conf
      .unset("spark.graft.bm25.probeScaleThresholdBytes")
  }

  test("a malformed probe-scale threshold fails naming its key") {
    val key = "spark.graft.bm25.probeScaleThresholdBytes"
    val docs = Seq((1L, Seq("a"))).toDF("doc_id", "toks")
    withSqlConf(key -> "4g") {
      val e = intercept[IllegalArgumentException](
        Retrieval.probeScaleLane(docs))
      assert(e.getMessage.contains(key) && e.getMessage.contains("4g"),
        e.getMessage)
    }
    withSqlConf(key -> "0")(assert(Retrieval.probeScaleLane(docs)))
  }

  test("bm25TopK matches the driver reference on random corpora") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta", "iota", "kappa")
    (0 until 3).foreach { _ =>
      val corpus = (1L to 12L).map { id =>
        val len = 3 + rnd.nextInt(10)
        id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val qs = (0 until 2).map { qi =>
        (100L + qi) -> Seq.fill(1 + rnd.nextInt(3))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val docs = corpus.toDF("doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val queries = qs.toDF("q_id", "qtext")
        .select(col("q_id"), split(col("qtext"), " ").as("q_toks"))
      val got = Retrieval.bm25TopK(docs, "doc_id", "toks",
          queries, "q_id", "q_toks", k = 12)
        .orderBy("q_id", "rank")
        .as[(Long, Int, Long, Double)].collect().toSeq

      // driver reference (same formula, 6-dp HALF_UP round, same ties)
      val docToks = corpus.map { case (id, t) => id -> toks(t) }.toMap
      val n = docToks.size
      val avgdl = docToks.values.map(_.size).sum.toDouble / n
      val dfm = docToks.values.flatMap(_.distinct).groupBy(identity)
        .map { case (t, xs) => t -> xs.size }
      def score(id: Long, q: Seq[String]): Double = {
        val dl = docToks(id).size
        val s = q.distinct.map { t =>
          val tf = docToks(id).count(_ == t)
          if (tf == 0) 0.0
          else math.log(1 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5)) *
            tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        }.sum
        BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val expected = qs.flatMap { case (qid, qtext) =>
        docToks.keys.toSeq
          .map(id => (qid, id, score(id, toks(qtext))))
          .filter(_._3 > 0.0)
          .sortBy { case (_, id, s) => (-s, id) }
          .zipWithIndex
          .map { case ((q, id, s), i) => (q, i + 1, id, s) }
      }.sortBy(r => (r._1, r._2))
      assert(got == expected, s"got $got\nexpected $expected")
    }
  }

  test("phraseSearch: contiguous runs only, overlapping occurrences, " +
      "duplicate phrase terms") {
    val docs = Seq(
      (1L, "x a b y a b"), // two separate "a b" runs
      (2L, "a y b"),       // terms present but not contiguous
      (3L, "a a a"),       // overlapping matches of "a a"
      (4L, "b a")          // reversed — no match
    ).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val ab = Seq((0, "a"), (1, "b")).toDF("slot", "term")
    val gotAb = Retrieval.phraseSearch(docs, "doc_id", "toks", ab)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(gotAb == Seq((1L, 2L)))
    val aa = Seq((0, "a"), (1, "a")).toDF("slot", "term")
    val gotAa = Retrieval.phraseSearch(docs, "doc_id", "toks", aa)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(gotAa == Seq((3L, 2L))) // "a a a" → starts at 0 and 1
  }

  test("bm25TopK ranking is deterministic on exact ties (doc id asc)") {
    val docs = Seq((7L, "alpha beta"), (3L, "alpha beta"),
        (5L, "alpha beta")).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val queries = Seq((1L, "alpha")).toDF("q_id", "qtext")
      .select(col("q_id"), split(col("qtext"), " ").as("q_toks"))
    val got = Retrieval.bm25TopK(docs, "doc_id", "toks",
        queries, "q_id", "q_toks", k = 3)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(3L, 5L, 7L))
  }
}
