package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSessionBridge,
  SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{GraftTable, InterpretedLane}

/** Incremental LSH near-duplicate maintenance: keep a near-dup pair set
  * in sync with a mutating corpus by recomputing ONLY what a change
  * delta touches — O(delta), never O(corpus) per sync. Two fronts share
  * one sync engine: [[applyDelta]] (text MinHash-LSH, exact n-gram
  * Jaccard verify) and [[applyEmbedDelta]] (embedding hyperplane LSH,
  * exact cosine verify). This is the fuzzy counterpart of the
  * exact-dedup derived table the incremental-curation pipeline maintains
  * from the row CDF, and the at-scale answer to "re-run dedup after
  * every CDC sync": at 100 TB a from-scratch [[Dedup.minhashLshPairs]] /
  * [[Similarity.cosineNearDupPairs]] pass per sync re-processes the
  * whole corpus, while this touches the changed rows, the LSH buckets
  * they land in, and nothing else.
  *
  * State lives in two [[graft.sinks.GraftTable]]s, so every sync commits
  * snapshot-atomically with replay idempotence (`_seq` high-water):
  *
  *  - '''bands''' — the persistent LSH index: one row per (band, bh,
  *    id) (for embeddings: band = hash-table index, bh = hyperplane
  *    signature), keyed by all three but BUCKETED by (band, bh)
  *    (secondary-index bucketing), so a delta's candidate probe reads
  *    only the buckets its band hashes land in, not the whole index.
  *  - '''pairs''' — the verified near-dup pairs, MIRRORED under both
  *    orientations ((a,b) stored as (a,b) AND (b,a)), keyed (id_a,
  *    id_b) but BUCKETED by id_a alone — so "every pair involving id
  *    X" is answerable from X's bucket only, whichever side X is on.
  *    The canonical (id_a < id_b) operator result is [[readPairs]].
  *
  * Per delta: changed rows' OLD band rows (derivable from the CDF
  * preimages — no index lookup needed) are netted against their NEW
  * band rows into one band-table merge; the new bands then probe the
  * index bucket-pruned for candidates; candidates verify with the exact
  * metric against the current corpus (candidate ids only); and the pair
  * table gets deletes for every pair involving a changed row plus
  * inserts for the re-verified survivors — which is exactly the
  * from-scratch result restricted to touched rows, so the invariant
  * `pairs == <batch operator>(corpus)` holds after every sync (pinned
  * in IncrementalDedupSpec and the `dedup_incremental` /
  * `dedup_incremental_embed` oracles).
  *
  * Scale notes: every per-sync read is bucket-pruned — the band merge
  * and candidate probe by (band, bh), and the obsolete-pair scan by the
  * changed ids' id_a buckets (the orientation mirror exists exactly so
  * that one-sided probe sees both sides of every pair). No step reads
  * O(index) or O(pairs); each sync is O(delta + touched buckets). */
object IncrementalDedup {

  /** Text LSH/verify parameters — must stay fixed for the life of the
    * index (they define the band hashes stored in it). Defaults match
    * the `dedup_minhash_lsh` gate. */
  final case class Config(n: Int = 3, numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.5)

  /** Embedding LSH/verify parameters. Defaults match the
    * `dedup_embed_cosine` gate. */
  final case class EmbedConfig(threshold: Double = 0.45, nPlanes: Int = 4,
      nTables: Int = 8)

  /** Create (or reopen) the band-index table: keyed (band, bh, id) so a
    * band row is its own identity, bucketed (band, bh) so probes prune.
    * MERGE-ON-READ: the workload is exactly "frequent small syncs
    * against a large base" — a delta commits as a layer (O(delta)
    * write) instead of rewriting every touched band bucket; probes stay
    * bucket-pruned because layer files are bucket-partitioned too. */
  def bandTable(root: String, nBuckets: Int = 32,
      morMinAffectedBytes: Long =
        GraftTable.MorMinAffectedBytesDefault): GraftTable =
    new GraftTable(root, Seq("band", "bh", "id"), nBuckets,
      bucketCols0 = Seq("band", "bh"), mergeOnRead = true,
      morMinAffectedBytes = morMinAffectedBytes)

  /** Create (or reopen) the verified-pair table: a row per pair PER
    * ORIENTATION, keyed (id_a, id_b), bucketed by id_a so the stale
    * probe ("pairs touching these changed ids") prunes to the changed
    * ids' buckets instead of scanning the pair set. Merge-on-read for
    * the same reason as [[bandTable]]. */
  def pairTable(root: String, nBuckets: Int = 8,
      morMinAffectedBytes: Long =
        GraftTable.MorMinAffectedBytesDefault): GraftTable =
    new GraftTable(root, Seq("id_a", "id_b"), nBuckets,
      bucketCols0 = Seq("id_a"), mergeOnRead = true,
      morMinAffectedBytes = morMinAffectedBytes)

  /** Periodic index maintenance (same contract as
    * [[IncrementalIndex.maintain]]): every sync supersedes its touched
    * buckets' files, so retired snapshots and dead data files pile up
    * on disk with sync count until vacuumed. Run every N syncs;
    * data-identical. */
  def maintain(spark: SparkSession, bands: GraftTable,
      pairs: GraftTable, maxFilesPerBucket: Int = 4,
      keepVersions: Int = 2): Unit =
    Seq(bands, pairs).foreach { t =>
      t.compact(spark, maxFilesPerBucket)
      t.vacuum(keepVersions)
    }

  /** The operator result: the canonical (id_a < id_b) half of the
    * mirrored pair index. */
  def readPairs(spark: SparkSession, pairs: GraftTable): DataFrame = {
    val df = pairs.read(spark)
    if (df.columns.isEmpty) df else df.filter(col("id_a") < col("id_b"))
  }

  /** One incremental TEXT sync. `corpus` is the CURRENT (post-delta)
    * corpus; `changes` is the row CDF of the delta with `_change_type` ∈
    * insert | delete | update_preimage | update_postimage (the
    * vocabulary of [[graft.sinks.GraftTable.rowChangesBetween]]) carrying
    * `idCol` and `textCol` images. `seq` must increase per sync
    * (replay-idempotent: a replayed delta no-ops on both state tables).
    * Returns the canonical verified pairs of this delta — exactly the
    * post-sync pairs touching a changed id (every stale pair not in the
    * returned set was deleted, every returned pair inserted), so a
    * chained consumer (the cluster sync) can seed its affected
    * subgraph from it without re-probing the pair table. */
  def applyDelta(spark: SparkSession, bands: GraftTable, pairs: GraftTable,
      corpus: DataFrame, changes: DataFrame, idCol: String, textCol: String,
      seq: String, cfg: Config = Config()): DataFrame =
    sync(spark, bands, pairs, corpus, changes, idCol, textCol, seq,
      df => Dedup.bandRows(df, "payload", "id",
        cfg.n, cfg.numHashes, cfg.bands),
      (corpus, hits) => {
        val candIds = hits.select(col("id_a").as("id"))
          .union(hits.select(col("id_b"))).distinct()
        // shingle AFTER the candidate semi-join so the expensive
        // expression never evaluates over non-candidates
        val docs = corpus.select(col(idCol).as("id"),
            col(textCol).as("_t"))
          .join(candIds, "id")
          .select(col("id"), Dedup.shingleHashes(col("_t"), cfg.n).as("sh"))
          .localCheckpoint(eager = false)
        hits
          .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")),
            "id_a")
          .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")),
            "id_b")
          .withColumn("jaccard",
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
              size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .filter(col("jaccard") >= cfg.threshold)
          .select("id_a", "id_b", "jaccard")
      }, scoreCol = "jaccard")

  /** One incremental EMBEDDING sync — same contract as [[applyDelta]]
    * with `vecCol` (Array[Float]/Array[Double]) instead of text. The
    * invariant is `pairs == cosineNearDupPairs(corpus)` (same signature
    * functions, same round-6 exact-cosine verify). */
  def applyEmbedDelta(spark: SparkSession, bands: GraftTable,
      pairs: GraftTable, corpus: DataFrame, changes: DataFrame,
      idCol: String, vecCol: String, seq: String,
      cfg: EmbedConfig = EmbedConfig()): DataFrame =
    sync(spark, bands, pairs, corpus, changes, idCol, vecCol, seq,
      df => {
        val sigs = (0 until cfg.nTables).map(t =>
          Similarity.hyperplaneSig(col("payload"), cfg.nPlanes,
            t * cfg.nPlanes))
        df.select(col("id"), posexplode(array(sigs: _*)))
          .withColumnRenamed("pos", "band")
          .withColumnRenamed("col", "bh")
      },
      (corpus, hits) => {
        val candIds = hits.select(col("id_a").as("id"))
          .union(hits.select(col("id_b"))).distinct()
        // norms once per candidate row, not once per candidate PAIR
        // (Similarity.cosinePre — bit-identical scores)
        val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("_v"),
            Similarity.norm(col(vecCol)).as("_n"))
          .join(candIds, "id")
          .localCheckpoint(eager = false)
        hits
          .join(vecs.select(col("id").as("id_a"), col("_v").as("v_a"),
            col("_n").as("n_a")), "id_a")
          .join(vecs.select(col("id").as("id_b"), col("_v").as("v_b"),
            col("_n").as("n_b")), "id_b")
          .withColumn("sim",
            round(Similarity.cosinePre(col("v_a"), col("v_b"),
              col("n_a"), col("n_b")), 6))
          .filter(col("sim") >= cfg.threshold)
          .select("id_a", "id_b", "sim")
      }, scoreCol = "sim", heavyVerify = false)

  /** CONTINUOUS near-dup maintenance — the dedup counterpart of
    * [[IncrementalIndex.applyFeedBatch]]: consume a `graft-row-follow`
    * stream of the replicated corpus table inside `foreachBatch` and
    * keep the band/pair index synced per leader commit. Each commit
    * applies as its own [[applyDelta]] with `_seq` = the leader commit
    * version, so restarts are exactly-once (replayed commits no-op on
    * both state tables); an expired checkpoint (full-refresh feed)
    * truncates and re-bootstraps. The verify step reads the leader AT
    * each commit's version (time travel), names aligned across renames
    * to the batch's final logical schema like the feed rows themselves.
    *
    * {{{
    * spark.readStream.format("graft-row-follow").option("path", root)
    *   .load().writeStream.option("checkpointLocation", ckpt)
    *   .foreachBatch { (df, _) => IncrementalDedup.applyFeedBatch(
    *     df, root, bands, pairs, "doc_id", "text") }
    *   .start()
    * }}}
    */
  def applyFeedBatch(batch: DataFrame, root: String, bands: GraftTable,
      pairs: GraftTable, idCol: String, textCol: String,
      cfg: Config = Config()): Unit =
    feedSync(batch, root, Seq(bands, pairs), Seq(idCol, textCol)) {
      (spark, corpus, changes, seq) =>
        applyDelta(spark, bands, pairs, corpus, changes, idCol, textCol,
          seq, cfg)
    }

  /** [[applyFeedBatch]] for the embedding front (corpus table carries a
    * vector column; index synced via [[applyEmbedDelta]]). */
  def applyEmbedFeedBatch(batch: DataFrame, root: String,
      bands: GraftTable, pairs: GraftTable, idCol: String, vecCol: String,
      cfg: EmbedConfig = EmbedConfig()): Unit =
    feedSync(batch, root, Seq(bands, pairs), Seq(idCol, vecCol)) {
      (spark, corpus, changes, seq) =>
        applyEmbedDelta(spark, bands, pairs, corpus, changes, idCol,
          vecCol, seq, cfg)
    }

  /** Shared graft-row-follow consumer loop: per leader commit, rebuild
    * the commit's corpus view (time-traveled, rename-aligned) and hand
    * (corpus, changes, seq) to `apply`. `state` is every derived table
    * the sync chain maintains — ALL truncate together on a full-refresh
    * feed so downstream stages (e.g. [[IncrementalClusters]]) reset with
    * their upstream. */
  private[operators] def feedSync(batch: DataFrame, root: String,
      state: Seq[GraftTable], cols: Seq[String])(
      apply: (org.apache.spark.sql.SparkSession, DataFrame, DataFrame,
        String) => Unit): Unit = {
    val spark = batch.sparkSession
    val leader = GraftTable.open(root)
    val feeds = graft.sources.GraftRowFeed.transitionFeeds(batch, leader)
    if (feeds.isEmpty) return
    // align each commit's corpus read to the batch-final logical names,
    // the same translation transitionFeeds applied to the feed rows
    val finalPhysToLogical = leader.mappingOf(feeds.last._1).map(_.swap)
    feeds.foreach { case (v, fullRefresh, rows) =>
      val seq = f"$v%016x/${0L}%016x"
      if (fullRefresh) state.foreach(_.truncate())
      val changes = rows
        .filter(if (fullRefresh) col("_change_type") === "insert"
                else lit(true))
        .select((cols :+ "_change_type").map(col): _*)
      val atV = leader.readVersion(spark, v)
      val mapping = leader.mappingOf(v)
      val renames = atV.columns.flatMap { n =>
        val p = mapping.getOrElse(n, n)
        val fin = finalPhysToLogical.getOrElse(p, p)
        if (fin != n) Some(n -> fin) else None
      }.toMap
      val corpus = (if (renames.isEmpty) atV
                    else atV.withColumnsRenamed(renames))
        .select(cols.map(col): _*)
      apply(spark, corpus, changes, seq)
    }
  }

  /** The shared sync engine: `bandRowsOf` turns (id, payload) rows into
    * (id, band, bh) index rows; `verify` turns candidate (id_a, id_b)
    * pairs into verified pairs carrying `scoreCol`, reading the corpus
    * it is given.
    *
    * Lane: a sync whose state tables and input leaves are small
    * ([[graft.sinks.InterpretedLane]]) rebinds `corpus` and `changes`
    * once to the interpreted clone of `spark`, so every read, probe,
    * checkpoint and merge below plans there and compiles almost
    * nothing; one sync needs more generated classes than Spark's
    * codegen cache holds, so compiled it recompiled ~140 classes every
    * sync. The returned frame is bound to `spark` again.
    *
    * Netting is exact under duplicate inputs: both aggregations classify
    * rows by the bit-or of their side flags (1 = new, 2 = old, 3 =
    * both), so a duplicate post-image (or a pair verified twice through
    * a duplicate corpus id) stays on its side instead of summing into
    * another class.
    *
    * `heavyVerify` gates the hits/verified/stale localCheckpoints:
    * those subtrees feed multiple consuming jobs, so when a single
    * evaluation is EXPENSIVE (the text front: shingle hashing + array
    * intersections + bucket reads) materializing once wins ~30%. The
    * embedding front skips them on the grounds that its verify is a
    * handful of dot products whose re-evaluation is cheaper than the
    * checkpoints' fixed job latency. Re-measured for steady syncs, in
    * either lane, that does not hold: 50 changes over the 2,000 sf0.1
    * embeddings (4-core host, median of 7) took 2.09 s without the
    * checkpoints and 1.71 s with them in the interpreted lane, 3.27 s
    * and 2.79 s compiled; the embedding front's setting is kept until
    * the bootstrap-heavy `dedup_incremental_embed` gate is re-measured
    * with it flipped. */
  private def sync(spark: SparkSession, bands: GraftTable,
      pairs: GraftTable, corpus0: DataFrame, changes0: DataFrame,
      idCol: String, payloadCol: String, seq: String,
      bandRowsOf: DataFrame => DataFrame,
      verify: (DataFrame, DataFrame) => DataFrame, scoreCol: String,
      heavyVerify: Boolean = true): DataFrame = {
    val session = InterpretedLane.session(s"dedup sync ${bands.root}",
      spark, Seq(bands, pairs), Seq(corpus0, changes0))
    val corpus = GraftSessionBridge.rebind(corpus0, session)
    val changes = GraftSessionBridge.rebind(changes0, session)
    def cp(df: DataFrame): DataFrame =
      if (heavyVerify) df.localCheckpoint(eager = false) else df
    val ch = changes.select(col(idCol).as("id"),
      col(payloadCol).as("payload"), col("_change_type"))
    val after = ch.filter(col("_change_type")
      .isin("insert", "update_postimage")).select("id", "payload")
    val before = ch.filter(col("_change_type")
      .isin("delete", "update_preimage")).select("id", "payload")

    // band delta: OLD rows come from the CDF preimages (no index read);
    // net out rows the new payload keeps so an update only touches bands
    // that actually moved. newBands feeds THREE consumers (band merge,
    // candidate probe's bucket set, probe rows), so it caches; oldBands
    // feeds exactly ONE action (the staged band merge is a single write
    // job since round 13), so caching it only added a materialization
    // job per sync.
    val newBands = bandRowsOf(after).cache()
    val oldBands = bandRowsOf(before)
    try {
      val hadData = bands.hasData
      // net the two sides in ONE aggregation over the tagged union: the
      // bit-or of the side flags classifies rows — 1 = new-only
      // (insert), 2 = old-only (delete), 3 = unmoved (write nothing) —
      // and stays exact when a side repeats a row (duplicate images).
      // The round-15 shape reconciled with two anti-joins, i.e. two
      // extra exchanges of the cached delta inside the merge job.
      val bandDelta = newBands.withColumn("_side", lit(1L))
        .unionByName(oldBands.withColumn("_side", lit(2L)))
        .groupBy("band", "bh", "id").agg(bit_or(col("_side")).as("_s"))
        .filter(col("_s") =!= 3L)
        .select(col("band"), col("bh"), col("id"),
          when(col("_s") === 1L, "I").otherwise("D").as("_op"))
      // the band-table commit OVERLAPS the candidate probe + verify:
      // the probe reads the PRE-merge index unioned with the in-memory
      // delta bands — a superset of the post-merge index ((old −
      // deleted) ∪ new ⊆ old ∪ new), so candidate completeness holds;
      // extra candidates from just-deleted band rows are killed by the
      // exact verify against the CURRENT corpus. Replayed syncs probe
      // the already-merged index unioned with the same delta —
      // idempotent under the distinct.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fBands = Future {
        bands.merge(bandDelta.withColumn("_seq", lit(seq)))
      }

      // candidates: the delta's bands probe the index — bucket-pruned
      // to the probed (band, bh) buckets; delta×delta pairs fall out
      // because the delta's own rows ride along in-memory.
      val probe = newBands.select(col("band"), col("bh"),
        col("id").as("_pid"))
      val index =
        (if (hadData) bands.readForProbe(session, probe)
             .select("band", "bh", "id")
         else newBands.select("band", "bh", "id").limit(0))
          .unionByName(newBands.select("band", "bh", "id"))
      // verified / stale each feed MULTIPLE downstream consumers (pair-
      // insert side + delete anti-join, and the pair merge runs two
      // actions over the result) — lazy localCheckpoints make each
      // expensive subtree (candidate probe + exact verify; stale-pair
      // probe) evaluate ONCE instead of once per consuming job (the
      // single biggest per-sync wall-time cost before round 9).
      val hits = cp(index
        .join(probe, Seq("band", "bh"))
        .filter(col("id") =!= col("_pid"))
        .select(least(col("id"), col("_pid")).as("id_a"),
          greatest(col("id"), col("_pid")).as("id_b"))
        .distinct())

      val verified = cp(verify(corpus, hits))

      // pair delta: every pair involving a changed row is stale — delete
      // unless re-verified. The mirror makes this a one-sided probe:
      // every pair touching a changed id X has an orientation with
      // id_a = X, so reading the changed ids' id_a buckets (bucket-
      // pruned, like the band probe) sees ALL stale pairs — O(delta
      // buckets), never O(pairs).
      val changed = ch.select(col("id")).distinct()
      val stale =
        if (!pairs.hasData) verified.limit(0).select("id_a", "id_b")
        else pairs.readForProbe(session,
            changed.select(col("id").as("id_a")))
          .join(changed, col("id_a") === col("id"), "left_semi")
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
          .distinct()
      // verified (side 1, carries the score) and stale (side 2, null
      // score) net in ONE aggregation — side bit-or 1 = newly verified,
      // 3 = re-verified (both insert, score = the verified row's via
      // first ignoreNulls), 2 = stale-only (delete, null score). Exact
      // even when verify emits a pair twice (a duplicate corpus id).
      // Replaces the former anti-join (stale − verified) + checkpointed
      // stale — one less delta exchange and one less materialization
      // per sync.
      val net = verified.select(col("id_a"), col("id_b"),
          col(scoreCol).cast("double").as(scoreCol))
        .withColumn("_side", lit(1L))
        .unionByName(stale
          .withColumn(scoreCol, lit(null).cast("double"))
          .withColumn("_side", lit(2L)))
        .groupBy("id_a", "id_b")
        .agg(first(col(scoreCol), ignoreNulls = true).as(scoreCol),
          bit_or(col("_side")).as("_s"))
        .select(col("id_a"), col("id_b"), col(scoreCol),
          when(col("_s") === 2L, "D").otherwise("I").as("_op"))
      // both orientations of every insert AND delete ride one merge
      val pairBatch = net
        .union(net.select(col("id_b").as("id_a"), col("id_a").as("id_b"),
          col(scoreCol), col("_op")))
        .withColumn("_seq", lit(seq))
      pairs.merge(pairBatch)
      // band commit must be durable before the sync reports done (the
      // feed consumer's exactly-once contract covers BOTH tables)
      Await.result(fBands, Duration.Inf)
      GraftSessionBridge.rebind(verified, spark)
    } finally newBands.unpersist()
  }
}
