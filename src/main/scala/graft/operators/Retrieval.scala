package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical (sparse) retrieval: Okapi BM25 over an inverted doc-term
  * index — the keyword-search counterpart of the dense ANN family in
  * [[Similarity]]. In a training-data pipeline this is the other half
  * of hybrid retrieval and the workhorse of targeted corpus mining
  * ("find documents about X"), quality auditing, and lexical
  * decontamination sweeps.
  *
  * Spark-first shape: everything is declarative aggregation + equijoin.
  * The doc-term statistics (tf, per-doc length, per-term document
  * frequency, corpus avgdl) are what a search engine would call the
  * inverted index; scoring probes it with an equijoin on `term` — the
  * postings-list lookup — so only documents sharing a term with a query
  * are ever touched, never the full corpus cross queries. The query
  * side is expected to be small (AQE broadcasts it); per-query top-k is
  * a windowed rank over candidates only.
  *
  * At 100 TB: tf/dl/df are one map-side-combinable aggregation pass
  * each and would be precomputed once and persisted (they are pure
  * DataFrames — write them to a [[graft.sinks.GraftTable]] bucketed by
  * `term` and the probe join becomes bucket-pruned); the per-batch cost
  * of a query wave is then proportional to the probed postings only. */
object Retrieval {

  /** Estimated-size threshold (bytes) above which [[bm25TopK]] takes
    * the probe-scale lane. Below it (the compact-corpus regime, where
    * per-stage fixed latency dominates and a vocabulary-scale exchange
    * is trivial) the fewest-stages shape wins — measured on the sf0.1
    * gates, every extra materialization barrier or probe-side exchange
    * costs more wall time than the corpus-scale work it saves. Above
    * it, shuffle/broadcast BYTES dominate: the probe-scale lane trades
    * two cheap extra passes over the materialized index for removing
    * the vocabulary-scale `df` exchange + broadcast and the full-corpus
    * doc-length broadcast. Override per session with
    * `spark.conf.set("spark.graft.bm25.probeScaleThresholdBytes", n)`
    * (set 0 to force the probe-scale lane — the lane-equality spec
    * does). */
  val ProbeScaleThresholdBytes: Long = 4L << 30

  private[operators] def probeScaleLane(docs: DataFrame): Boolean = {
    val key = "spark.graft.bm25.probeScaleThresholdBytes"
    val thr = docs.sparkSession.conf.getOption(key).map { v =>
      v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be a whole number of bytes, got '$v'"))
    }.getOrElse(ProbeScaleThresholdBytes)
    docs.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(thr)
  }

  /** BM25 top-k: for each query row the `k` best-scoring documents as
    * `(qIdCol, rank, idCol, score)`.
    *
    * Both sides carry PRE-TOKENIZED array columns so one tokenizer
    * (e.g. [[graft.functions.TextFunctions.tokens]]) is fixed across
    * docs and queries by construction.
    *
    * Determinism: the score rounds to 6 dp BEFORE ranking, and rank
    * ties break on ascending doc id — so the ranking is reproducible
    * across engines and execution orders (FP sum-order noise lives many
    * decades below 1e-6). idf uses the BM25+ floor form
    * `ln(1 + (N − df + ½)/(df + ½))`, never negative for common
    * terms.
    *
    * Scale-adaptive physical shape (identical results either lane —
    * pinned by RetrievalSpec's lane-equality test and the oracle
    * gates): the per-(doc,term) tf index always materializes ONCE
    * (lazy local checkpoint — it feeds doc lengths, document
    * frequencies AND the probe join; without it each consumer re-runs
    * the tokenize + explode + corpus shuffle), and doc length derives
    * from it (`Σ tf` per doc — the identical integer), so every call
    * is ONE tokenize pass and ONE corpus-scale exchange. Under
    * [[ProbeScaleThresholdBytes]] the compact lane joins the
    * corpus-wide df/dl frames directly (fewest stages). Above it the
    * probe-scale lane materializes the PROBED postings once and
    * derives df, the candidate ids and the score join from them —
    * df per probed term is identical (filtering by term never changes
    * a term's row count) but the vocabulary-scale df exchange +
    * broadcast disappears, and the doc-length attach carries candidate
    * docs only instead of broadcasting every document's length. */
  def bm25TopK(docs: DataFrame, idCol: String, tokensCol: String,
      queries: DataFrame, qIdCol: String, qTokensCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol).as("_d"),
      explode(col(tokensCol)).as("term"))
    val tf = toks.groupBy("_d", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val qterms = queries.select(col(qIdCol).as("_q"),
      explode(array_distinct(col(qTokensCol))).as("term"))
    val hits =
      if (!probeScaleLane(docs)) {
        val dl = tf.groupBy("_d").agg(sum(col("tf")).as("dl"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val stats = dl.agg(avg(col("dl")).as("avgdl"),
          count(lit(1)).as("n"))
        tf.join(qterms, "term")
          .join(dfreq, "term")
          .join(dl, "_d")
          .crossJoin(broadcast(stats))
      } else {
        val dl = tf.groupBy("_d").agg(sum(col("tf")).as("dl"))
          .localCheckpoint(eager = false)
        val stats = dl.agg(avg(col("dl")).as("avgdl"),
          count(lit(1)).as("n"))
        val termSet = qterms.select("term").distinct()
        val posts = tf.join(termSet, "term")
          .localCheckpoint(eager = false)
        val dfreq = posts.groupBy("term").agg(count(lit(1)).as("df"))
        val candIds = posts.select("_d").distinct()
        val dls = dl.join(candIds, "_d")
        posts.join(qterms, "term")
          .join(dfreq, "term")
          .join(dls, "_d")
          .crossJoin(broadcast(stats))
      }
    val scored = hits
      .withColumn("_contrib",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * (k1 + 1) /
          (col("tf") + (col("dl") / col("avgdl") * b + (1 - b)) * k1))
      .groupBy("_q", "_d")
      .agg(round(sum(col("_contrib")), 6).as("score"))
    val w = Window.partitionBy("_q")
      .orderBy(col("score").desc, col("_d"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("_q").as(qIdCol), col("rank"), col("_d").as(idCol),
        col("score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
    * industry-standard way to combine retrieval legs (lexical BM25 +
    * vector ANN) without score calibration: each leg contributes
    * `1/(kRrf + rank)` per (query, doc), missing docs contribute
    * nothing, fused ranking orders by the sum.
    *
    * Every leg is a `(qIdCol, idCol, rankCol)` frame (its own top-k).
    * Scale shape: legs are already k-bounded per query, so the union +
    * aggregation touches O(|queries|·k·|legs|) rows — never a corpus.
    * Determinism note: with ≤2 legs the double sum is order-free
    * (two-term addition commutes); for >2 legs at oracle-grade
    * exactness, scale contributions to integers first (the micro-unit
    * trick). */
  def rrfFuse(legs: Seq[DataFrame], qIdCol: String, idCol: String,
      rankCol: String, kRrf: Int = 60, topK: Int = 10): DataFrame = {
    require(legs.nonEmpty)
    val contribs = legs
      .map(_.select(col(qIdCol), col(idCol),
        (lit(1.0) / (lit(kRrf.toDouble) + col(rankCol))).as("_c")))
      .reduce(_.unionByName(_))
    val fused = contribs.groupBy(qIdCol, idCol)
      .agg(round(sum(col("_c")), 6).as("rrf"))
    val w = Window.partitionBy(qIdCol)
      .orderBy(col("rrf").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topK)
  }

  /** Exact PHRASE search via positional postings: the documents whose
    * token sequence contains `phrase` (a tiny `(slot, term)` frame,
    * slot 0-based in phrase order) as a contiguous run — the
    * token-boundary-exact operation `LIKE '%...%'` only approximates.
    *
    * Shape: positional postings (doc, term, pos) from one posexplode;
    * the phrase frame broadcasts into an equijoin on `term`; aligning
    * on `base = pos − slot` turns "contiguous run" into a plain
    * count-distinct-slots == phrase-length aggregate per (doc, base) —
    * one shuffle, overlapping occurrences handled naturally, duplicate
    * phrase terms handled by slot identity. Returns distinct matching
    * ids as `(idCol, n_hits)` where n_hits counts (overlapping)
    * occurrence start positions.
    *
    * At 100 TB the posexplode stream pre-filters to phrase terms BEFORE
    * the shuffle (the semi-join below is map-side against a broadcast
    * phrase), so the exchange carries only candidate positions, not the
    * corpus. */
  def phraseSearch(docs: DataFrame, idCol: String, tokensCol: String,
      phrase: DataFrame): DataFrame = {
    val n = phrase.count() // metadata-scale: the phrase length
    require(n > 0, "empty phrase")
    val pt = docs.select(col(idCol), posexplode(col(tokensCol)))
      .withColumnRenamed("pos", "_pos").withColumnRenamed("col", "_term")
      .join(broadcast(phrase.select(col("slot").as("_slot"),
        col("term").as("_term"))), "_term")
      .select(col(idCol), (col("_pos") - col("_slot")).as("_base"),
        col("_slot"))
    pt.distinct()
      .groupBy(idCol, "_base").agg(count(lit(1)).as("_n"))
      .filter(col("_n") === n)
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
  }
}
