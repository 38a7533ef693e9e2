package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSessionBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{GraftTable, InterpretedLane}

/** Incremental inverted-index maintenance: keep the BM25 index of
  * [[Retrieval]] (postings, document lengths, corpus statistics) in
  * sync with a mutating corpus by applying ONLY a change delta —
  * O(delta) per sync, never an O(corpus) re-index. This is the search
  * half of the same story [[IncrementalDedup]] tells for near-dup
  * state: the CDC pipeline streams row changes, and every derived
  * corpus structure — dedup pairs, the search index — follows along
  * delta-by-delta instead of being rebuilt.
  *
  * State lives in three [[graft.sinks.GraftTable]]s, so every sync
  * commits snapshot-atomically with replay idempotence (`_seq`
  * high-water):
  *
  *  - '''postings''' — one row per (term, id) with its term frequency
  *    and sorted position list (BM25 scoring and exact phrase search
  *    from one structure), keyed (term, id) but BUCKETED by `term`
  *    alone: a query's postings-list lookup reads only the buckets its
  *    terms hash into ([[GraftTable.readForProbe]]), the
  *    secondary-index pattern.
  *  - '''docs''' — one row per document: its length in tokens, keyed
  *    and bucketed by `id`; score-time lookups prune to candidate ids'
  *    buckets.
  *  - '''stats''' — the single corpus row (N, total token count). Each
  *    sync adjusts it by the delta's scalar aggregates (a
  *    metadata-scale driver computation, like progress accounting);
  *    replays are filtered by `_seq` before the adjusted row lands, so
  *    a repeated delta cannot double-count.
  *
  * Per delta: OLD posting rows derive from the CDF preimages (no index
  * read at all); netting them against the NEW rows yields one
  * postings merge whose writes touch only the changed terms' buckets.
  * An update that leaves a (term, id) frequency unchanged produces no
  * row — only terms that actually moved are written.
  *
  * The invariant (pinned in IncrementalIndexSpec and the
  * `bm25_incremental` oracle): after every sync,
  * `bm25TopK(index) == Retrieval.bm25TopK(<current corpus>)`. */
object IncrementalIndex {

  /** Create (or reopen) the postings table. Merge-on-read: per-sync
    * posting deltas commit as layers instead of rewriting every touched
    * term bucket — O(delta) writes against a corpus-scale index. */
  def postingsTable(root: String, nBuckets: Int = 32,
      morMinAffectedBytes: Long =
        GraftTable.MorMinAffectedBytesDefault): GraftTable =
    new GraftTable(root, Seq("term", "id"), nBuckets,
      bucketCols0 = Seq("term"), mergeOnRead = true,
      morMinAffectedBytes = morMinAffectedBytes)

  /** Create (or reopen) the per-document length table (adaptive
    * merge-on-read: layers only past the affected-bytes floor). */
  def docTable(root: String, nBuckets: Int = 8): GraftTable =
    new GraftTable(root, Seq("id"), nBuckets, mergeOnRead = true)

  /** Create (or reopen) the one-row corpus-stats table. */
  def statsTable(root: String): GraftTable =
    new GraftTable(root, Seq("k"), 1)

  /** One incremental sync. `changes` carries the row CDF:
    * (idCol, tokensCol, _change_type ∈ insert | delete |
    * update_preimage | update_postimage); `tokensCol` is the SAME
    * pre-tokenized array the batch operator scores with, so indexing
    * and querying share one tokenizer by construction. `seq` must be
    * strictly increasing across syncs (replay-idempotence key).
    *
    * CDF contract (all three sync operators): `changes` carries AT MOST
    * one pre-image and one post-image per id — the
    * [[graft.sinks.GraftTable.rowChangesBetween]] net-transition shape.
    * The single-pass netting below relies on that per-side uniqueness;
    * a feed with duplicate images per id must be deduplicated (e.g.
    * last-writer-wins) before the sync.
    *
    * Lane: like [[IncrementalDedup.applyDelta]], a sync whose state
    * tables and `changes` leaves are small
    * ([[graft.sinks.InterpretedLane]]) plans and runs in the interpreted
    * clone of `spark` and compiles almost nothing; compiled, one sync
    * needed ~96 generated classes and recompiled them every sync. */
  def applyDelta(spark: SparkSession, postings: GraftTable,
      docs: GraftTable, stats: GraftTable, changes: DataFrame,
      idCol: String, tokensCol: String, seq: String): Unit = {
    val session = InterpretedLane.session(s"index sync ${postings.root}",
      spark, Seq(postings, docs, stats), Seq(changes))
    val ch = GraftSessionBridge.rebind(changes, session)
      .select(col(idCol).as("id"), col(tokensCol).as("toks"),
        col("_change_type")).cache()
    try {
      val after = ch.filter(col("_change_type")
        .isin("insert", "update_postimage")).select("id", "toks")
      val before = ch.filter(col("_change_type")
        .isin("delete", "update_preimage")).select("id", "toks")
      // positional postings: tf plus the sorted position list, so the
      // same index serves BM25 scoring AND exact phrase search. OLD and
      // NEW rows net in ONE pass: both sides explode tagged into one
      // (term, id) aggregation that collects each side's position list
      // (collect_list skips the other side's nulls), and the net delta
      // falls out of comparing the two lists — where the round-15 shape
      // aggregated each side separately and reconciled with a join + an
      // anti-join, i.e. two extra exchanges of the delta per sync. An
      // update that leaves a (term, id) unchanged still writes nothing:
      // equal position lists drop out exactly as before.
      val posted = after.withColumn("_side", lit(1))
        .unionByName(before.withColumn("_side", lit(2)))
        .select(col("id"), col("_side"), posexplode(col("toks")))
        .withColumnRenamed("pos", "_pos").withColumnRenamed("col", "term")
        .groupBy("term", "id").agg(
          sort_array(collect_list(when(col("_side") === 1, col("_pos"))))
            .as("_pNew"),
          sort_array(collect_list(when(col("_side") === 2, col("_pos"))))
            .as("_pOld"))
      // new side present and changed → upsert; vanished → delete
      val ins = posted
        .filter(size(col("_pNew")) > 0 && col("_pOld") =!= col("_pNew"))
        .select(col("term"), col("id"),
          size(col("_pNew")).cast("long").as("tf"),
          col("_pNew").as("positions"))
        .withColumn("_op", lit("I"))
      val del = posted
        .filter(size(col("_pNew")) === 0 && size(col("_pOld")) > 0)
        .select(col("term"), col("id"), lit(null).cast("long").as("tf"),
          lit(null).cast("array<int>").as("positions"))
        .withColumn("_op", lit("D"))

      // per-document lengths: upserts for the post-state, deletes for
      // removed documents
      val dlUp = after.select(col("id"),
          size(col("toks")).cast("long").as("dl"))
        .withColumn("_op", lit("I"))
      val dlDel = ch.filter(col("_change_type") === "delete")
        .select(col("id"), lit(null).cast("long").as("dl"))
        .withColumn("_op", lit("D"))

      // the three tables are independent (each replay-idempotent on its
      // own `_seq` high-water; a crash between commits is repaired by
      // replaying the delta), so their merges commit CONCURRENTLY —
      // a sync's wall time is the slowest commit, not the sum. Small
      // merges are scheduling-latency-bound, so this matters exactly at
      // the frequent-small-delta cadence this operator exists for.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fPostings = Future {
        postings.merge(ins.unionByName(del).withColumn("_seq", lit(seq)))
      }
      val fDocs = Future {
        docs.merge(dlUp.unionByName(dlDel).withColumn("_seq", lit(seq)))
      }
      val fStats = Future {
        // corpus stats: one scalar-aggregate job over the delta (the
        // update pre/post images cancel in ΔN and net in Δtokens)
        val r = ch.agg(
          sum(when(col("_change_type") === "insert", 1L).otherwise(0L)),
          sum(when(col("_change_type") === "delete", 1L).otherwise(0L)),
          sum(when(col("_change_type")
              .isin("insert", "update_postimage"), size(col("toks")))
            .otherwise(0)).cast("long"),
          sum(when(col("_change_type")
              .isin("delete", "update_preimage"), size(col("toks")))
            .otherwise(0)).cast("long")).head()
        def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
        val (curN, curTotal) = currentStats(session, stats)
        stats.merge(session.range(1).select(lit(0).as("k"),
          lit(curN + l(0) - l(1)).as("n"),
          lit(curTotal + l(2) - l(3)).as("total"),
          lit("I").as("_op"), lit(seq).as("_seq")))
      }
      Await.result(Future.sequence(Seq(fPostings, fDocs, fStats)),
        Duration.Inf)
    } finally ch.unpersist()
  }

  /** CONTINUOUS index maintenance: consume one micro-batch of the
    * `graft-row-follow` stream of a replicated corpus table and keep
    * the search index in sync — the streaming composition of the whole
    * engine: CDC lands documents in a GraftTable, the row-level CDF
    * streams its transitions, and this keeps BM25 serving the live
    * corpus. Each commit applies as its own [[applyDelta]] with
    * `_seq` = the leader commit version, so restarts are exactly-once
    * (replayed batches filter to no-ops on every index table, the
    * [[graft.sources.GraftRowFeed.applyBatch]] contract). An expired
    * checkpoint (full-refresh transition) resets all three tables and
    * re-bootstraps from the refresh feed. Typical use:
    *
    * {{{
    * spark.readStream.format("graft-row-follow").option("path", root)
    *   .load().writeStream.option("checkpointLocation", ckpt)
    *   .foreachBatch { (df, _) => IncrementalIndex.applyFeedBatch(
    *     df, root, postings, docs, stats, "doc_id", "text") }
    *   .start()
    * }}}
    */
  def applyFeedBatch(batch: DataFrame, root: String,
      postings: GraftTable, docs: GraftTable, stats: GraftTable,
      idCol: String, textCol: String,
      tokenize: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.functions.TextFunctions.tokens): Unit = {
    val feeds = graft.sources.GraftRowFeed
      .transitionFeeds(batch, GraftTable.open(root))
    feeds.foreach { case (v, fullRefresh, rows) =>
      val seq = f"$v%016x/${0L}%016x"
      if (fullRefresh) {
        // expired checkpoint: the feed is a fresh snapshot, not a
        // delta — clear and re-bootstrap (resets the replay marks; the
        // following commits' versions exceed them again)
        Seq(postings, docs, stats).foreach(_.truncate())
      }
      val delta = rows
        .filter(if (fullRefresh) col("_change_type") === "insert"
                else lit(true))
        .select(col(idCol), tokenize(col(textCol)).as("_toks"),
          col("_change_type"))
      applyDelta(rows.sparkSession, postings, docs, stats, delta,
        idCol, "_toks", seq)
    }
  }

  /** Periodic index maintenance — the long-run half of O(delta) syncs.
    * Merges copy-on-write whole buckets, so LIVE file counts stay flat;
    * what accumulates with sync count is retired snapshots and their
    * dead data files on disk (every sync supersedes each touched
    * bucket's previous file). Callers run this every N syncs (the same
    * cadence contract [[graft.sinks.MaintenancePolicy]] gives the CDC
    * sinks): multi-file buckets (from group commits / appends) compact,
    * then snapshots older than `keepVersions` expire and their files
    * reclaim. Data-identical — IncrementalIndexSpec pins that reads are
    * unchanged while on-disk files shrink. */
  def maintain(spark: SparkSession, postings: GraftTable,
      docs: GraftTable, stats: GraftTable, maxFilesPerBucket: Int = 4,
      keepVersions: Int = 2): Unit =
    Seq(postings, docs, stats).foreach { t =>
      t.compact(spark, maxFilesPerBucket)
      t.vacuum(keepVersions)
    }

  private def currentStats(spark: SparkSession,
      stats: GraftTable): (Long, Long) =
    if (!stats.hasData) (0L, 0L)
    else {
      val row = stats.read(spark).select("n", "total").head()
      (row.getLong(0), row.getLong(1))
    }

  /** BM25 top-k against the maintained index — same contract and
    * formula as [[Retrieval.bm25TopK]], but instead of aggregating the
    * corpus it probes the index: postings of the query terms read
    * bucket-pruned (per-term df falls out of those same rows — a
    * term's postings live entirely in its bucket), candidate document
    * lengths read bucket-pruned by id, and the corpus row broadcasts.
    * Per query wave the work is O(probed postings), independent of
    * corpus size. */
  def bm25TopK(spark: SparkSession, postings: GraftTable,
      docs: GraftTable, stats: GraftTable, queries: DataFrame,
      qIdCol: String, qTokensCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qterms = queries.select(col(qIdCol).as("_q"),
      explode(array_distinct(col(qTokensCol))).as("term"))
    val termSet = qterms.select("term").distinct()
    // probed postings materialize ONCE (lazy local checkpoint): they
    // feed df, the candidate-id set AND the score join, and each
    // consumer would otherwise re-run the bucket read + term join.
    // Probe-scale by construction — O(query terms' postings).
    val posts = postings.readForProbe(spark, termSet)
      .join(termSet, "term") // bucket read → exact term postings
      .localCheckpoint(eager = false)
    val dfreq = posts.groupBy("term").agg(count(lit(1)).as("df"))
    val candIds = posts.select("id").distinct()
    val dls = docs.readForProbe(spark, candIds).join(candIds, "id")
    val st = stats.read(spark).select(col("n"),
      (col("total").cast("double") / col("n")).as("avgdl"))
    val hits = posts.join(qterms, "term")
      .join(dfreq, "term")
      .join(dls, "id")
      .crossJoin(broadcast(st))
      .withColumn("_contrib",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * (k1 + 1) /
          (col("tf") + (col("dl") / col("avgdl") * b + (1 - b)) * k1))
    val scored = hits.groupBy("_q", "id")
      .agg(round(sum(col("_contrib")), 6).as("score"))
    val w = Window.partitionBy("_q")
      .orderBy(col("score").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("_q").as(qIdCol), col("rank"), col("id"), col("score"))
  }

  /** Exact phrase search against the maintained index — the
    * [[Retrieval.phraseSearch]] semantics (contiguous runs, overlapping
    * occurrences, duplicate phrase terms) served from the positional
    * postings instead of a corpus scan: the phrase's terms probe their
    * buckets ([[GraftTable.readForProbe]]), positions explode only for
    * those postings, and the same base-alignment aggregate counts
    * occurrence starts. Work per query is O(probed postings'
    * positions), independent of corpus size. */
  def phraseSearch(spark: SparkSession, postings: GraftTable,
      phrase: DataFrame): DataFrame = {
    val n = phrase.count()
    require(n > 0, "empty phrase")
    val termSet = phrase.select("term").distinct()
    val posts = postings.readForProbe(spark, termSet).join(termSet, "term")
    val pt = posts
      .select(col("id"), col("term").as("_term"),
        explode(col("positions")).as("_pos"))
      .join(broadcast(phrase.select(col("slot").as("_slot"),
        col("term").as("_term"))), "_term")
      .select(col("id"), (col("_pos") - col("_slot")).as("_base"),
        col("_slot"))
    pt.distinct()
      .groupBy("id", "_base").agg(count(lit(1)).as("_n"))
      .filter(col("_n") === n)
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }
}
