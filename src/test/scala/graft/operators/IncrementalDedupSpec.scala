package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Pins the IncrementalDedup invariant: after EVERY sync, the maintained
  * pair table equals the from-scratch [[Dedup.minhashLshPairs]] over the
  * current corpus — inserts that create pairs, updates that create AND
  * destroy them, deletes of pair members, and replayed deltas all
  * included. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString
  private val cfg = IncrementalDedup.Config()

  // word-soup texts: near-dups share all but one trailing token
  private val base = "the quick brown fox jumps over the lazy dog " +
    "while rain falls on the quiet village roof tonight"
  private val other = "completely different words about spark shuffles " +
    "partitions codegen catalyst tungsten execution plans and buckets"

  private def corpusDf(state: Map[Long, String]): DataFrame =
    state.toSeq.toDF("doc_id", "text")

  /** Build the CDF rows for a mutation of `prev` into `next`. */
  private def changesDf(prev: Map[Long, String],
      next: Map[Long, String]): DataFrame = {
    val ins = (next.keySet -- prev.keySet).toSeq
      .map(id => (id, next(id), "insert"))
    val del = (prev.keySet -- next.keySet).toSeq
      .map(id => (id, prev(id), "delete"))
    val upd = (next.keySet & prev.keySet).toSeq
      .filter(id => prev(id) != next(id))
      .flatMap(id => Seq((id, prev(id), "update_preimage"),
        (id, next(id), "update_postimage")))
    (ins ++ del ++ upd).toDF("doc_id", "text", "_change_type")
  }

  private def rebuild(state: Map[Long, String]): Set[(Long, Long)] =
    Dedup.minhashLshPairs(corpusDf(state), "text", "doc_id",
      cfg.n, cfg.numHashes, cfg.bands, cfg.threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("pair table tracks the corpus through inserts, updates, deletes, replay") {
    val bands = IncrementalDedup.bandTable(tmp("inc-bands"), nBuckets = 16)
    val pairs = IncrementalDedup.pairTable(tmp("inc-pairs"), nBuckets = 4)
    var state = Map.empty[Long, String]
    var v = 0L

    def sync(next: Map[Long, String], seqOverride: Option[String] = None)
        : Unit = {
      val seq = seqOverride.getOrElse { v += 1; f"$v%016x/0" }
      IncrementalDedup.applyDelta(spark, bands, pairs,
        corpusDf(next), changesDf(state, next), "doc_id", "text", seq, cfg)
      state = next
      val got = IncrementalDedup.readPairs(spark, pairs)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == rebuild(state), s"after seq=$seq state=$state")
    }

    // bootstrap: 4 docs, one planted near-dup pair (1,2)
    sync(Map(
      1L -> s"$base alpha", 2L -> s"$base beta",
      3L -> other, 4L -> s"$other extra tokens here"))
    assert(pairs.read(spark).count() >= 1)

    // insert a near-dup of doc 3 → new pair (3,5); unrelated doc 6
    sync(state ++ Map(5L -> s"$other zz", 6L -> (base.split(" ").reverse
      .mkString(" ") + " unrelated vocabulary entirely")))

    // update doc 2 away from doc 1 (destroys (1,2)); update doc 6
    // toward doc 1 (creates (1,6))
    sync(state ++ Map(2L -> s"$other qq ww ee", 6L -> s"$base gamma"))

    // delete a pair member
    sync(state - 1L)

    // replay the last delta under the SAME seq: state tables unchanged
    val bandCount = bands.read(spark).count()
    val pairSet = IncrementalDedup.readPairs(spark, pairs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    IncrementalDedup.applyDelta(spark, bands, pairs,
      corpusDf(state), changesDf(state - 2L, state), "doc_id", "text",
      f"$v%016x/0", cfg)
    assert(bands.read(spark).count() == bandCount)
    assert(IncrementalDedup.readPairs(spark, pairs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet == pairSet)
  }

  private def pairSet(pairs: graft.sinks.GraftTable) =
    IncrementalDedup.readPairs(spark, pairs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("pair netting is exact under a duplicate corpus id") {
    val bands = IncrementalDedup.bandTable(tmp("inc-dupid-bands"), 16)
    val pairs = IncrementalDedup.pairTable(tmp("inc-dupid-pairs"), 4)
    val state = Map(1L -> s"$base alpha", 2L -> s"$base beta", 3L -> other)
    // doc 1 is listed twice in the corpus, so verify emits (1,2) twice;
    // a side-sum would read that as a stale-only pair and delete it
    IncrementalDedup.applyDelta(spark, bands, pairs,
      corpusDf(state).unionByName(corpusDf(Map(1L -> state(1L)))),
      changesDf(Map.empty, state), "doc_id", "text", "0000000000000001/0",
      cfg)
    assert(pairSet(pairs) == rebuild(state) &&
      pairSet(pairs).contains((1L, 2L)), pairSet(pairs))
  }

  test("band netting is exact under duplicate images") {
    // the embedding front bands each image row (the text front groups
    // signatures by id first), so a repeated post-image repeats its band
    // rows; a side-sum would read them as old-only and delete them
    val ecfg = IncrementalDedup.EmbedConfig(threshold = 0.9)
    val bands = IncrementalDedup.bandTable(tmp("inc-dupimg-bands"), 8)
    val pairs = IncrementalDedup.pairTable(tmp("inc-dupimg-pairs"), 4)
    val vecs = Map(1L -> Seq(1f, 0f, 0f, 0.01f), 2L -> Seq(0f, 1f, 0f, 0f),
      3L -> Seq(0f, 0f, 1f, 0.02f), 4L -> Seq(0f, 0f, 1f, 0.03f))
    def embed(ids: Long*) = ids.map(i => (i, vecs(i)))
    def inserts(ids: Long*) = ids.map(i => (i, vecs(i), "insert"))
      .toDF("vec_id", "embedding", "_change_type")
    def sync(corpus: Seq[(Long, Seq[Float])], changes: DataFrame, v: Long) =
      IncrementalDedup.applyEmbedDelta(spark, bands, pairs,
        corpus.toDF("vec_id", "embedding"), changes, "vec_id", "embedding",
        f"$v%016x/0", ecfg)
    sync(embed(1L, 2L), inserts(1L, 2L), 1L)
    sync(embed(1L, 2L, 3L), inserts(3L).unionByName(inserts(3L)), 2L)
    assert(bands.read(spark).filter(col("id") === 3L).count() ==
      ecfg.nTables)
    // doc 4 is a near-duplicate of doc 3: the probe must find 3's bands
    sync(embed(1L, 2L, 3L, 4L), inserts(4L), 3L)
    assert(pairSet(pairs) == Set((3L, 4L)), pairSet(pairs))
  }

  test("embedding pairs track the corpus through inserts, updates, deletes") {
    val ecfg = IncrementalDedup.EmbedConfig(threshold = 0.9, nPlanes = 4,
      nTables = 8)
    val bands = IncrementalDedup.bandTable(tmp("inc-ebands"), nBuckets = 8)
    val pairs = IncrementalDedup.pairTable(tmp("inc-epairs"), nBuckets = 4)
    // base directions: near-orthogonal unit-ish vectors; near-dups are
    // tiny perturbations of the same direction
    def vec(dir: Int, eps: Float): Array[Float] = {
      val v = Array.fill(8)(0.01f * dir)
      v(dir % 8) = 1.0f
      v((dir + 3) % 8) = eps
      v
    }
    var state = Map.empty[Long, Array[Float]]
    var v = 0L

    def rebuild(s: Map[Long, Array[Float]]): Set[(Long, Long)] =
      Similarity.cosineNearDupPairs(s.toSeq.toDF("vec_id", "embedding"),
          "vec_id", "embedding", ecfg.threshold, ecfg.nPlanes, ecfg.nTables)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    def sync(next: Map[Long, Array[Float]]): Unit = {
      v += 1
      val prev = state
      val ins = (next.keySet -- prev.keySet).toSeq
        .map(id => (id, next(id), "insert"))
      val del = (prev.keySet -- next.keySet).toSeq
        .map(id => (id, prev(id), "delete"))
      val upd = (next.keySet & prev.keySet).toSeq
        .filter(id => !prev(id).sameElements(next(id)))
        .flatMap(id => Seq((id, prev(id), "update_preimage"),
          (id, next(id), "update_postimage")))
      IncrementalDedup.applyEmbedDelta(spark, bands, pairs,
        next.toSeq.toDF("vec_id", "embedding"),
        (ins ++ del ++ upd).toDF("vec_id", "embedding", "_change_type"),
        "vec_id", "embedding", f"$v%016x/0", ecfg)
      state = next
      val got = IncrementalDedup.readPairs(spark, pairs)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == rebuild(state), s"after sync $v")
    }

    // bootstrap: pair (1,2) same direction, 3/4 distinct directions
    sync(Map(1L -> vec(0, 0.01f), 2L -> vec(0, 0.02f),
      3L -> vec(1, 0.01f), 4L -> vec(2, 0.01f)))
    assert(pairs.read(spark).count() >= 1)
    // insert a near-dup of direction 1 → pair (3,5)
    sync(state + (5L -> vec(1, 0.02f)))
    // update 2 away from 1 (destroys), 4 toward direction 1 (creates)
    sync(state ++ Map(2L -> vec(5, 0.01f), 4L -> vec(1, 0.03f)))
    // delete a pair member
    sync(state - 3L)
  }

  test("band index is a real secondary index: probes scan a strict subset of buckets") {
    val bands = IncrementalDedup.bandTable(tmp("inc-bands2"), nBuckets = 16)
    val pairs = IncrementalDedup.pairTable(tmp("inc-pairs2"), nBuckets = 4)
    val docs = (1L to 40L).map(i =>
      i -> (s"document number $i with some shared filler words " +
        s"plus unique token u$i v${i * 7} w${i * 13}")).toMap
    IncrementalDedup.applyDelta(spark, bands, pairs, corpusDf(docs),
      changesDf(Map.empty, docs), "doc_id", "text", "0000000000000001/0", cfg)
    val allFiles = bands.read(spark).inputFiles.length
    assert(allFiles > 4, s"want many bucket files: $allFiles")
    // a one-doc probe touches only the buckets its bands hash into
    val probe = Dedup.bandRows(Seq((7L, docs(7L))).toDF("doc_id", "text"),
      "text", "doc_id", cfg.n, cfg.numHashes, cfg.bands)
    val read = bands.readForProbe(spark, probe)
    val scanned = read.inputFiles.length
    assert(scanned > 0 && scanned < allFiles,
      s"probe must scan a strict subset: $scanned of $allFiles")
  }

  test("stale-pair probe is bucket-pruned: scans a strict subset of pair files") {
    val bands = IncrementalDedup.bandTable(tmp("inc-bands3"), nBuckets = 16)
    val pairs = IncrementalDedup.pairTable(tmp("inc-pairs3"), nBuckets = 8)
    // pair-heavy corpus: 15 clone families of 4 → 90 canonical pairs
    // spread across many id_a buckets
    val docs = (0L until 60L).map(i =>
      i -> s"$base family${i % 15} shared duplicate body text").toMap
    var state = docs
    IncrementalDedup.applyDelta(spark, bands, pairs, corpusDf(state),
      changesDf(Map.empty, state), "doc_id", "text",
      "0000000000000001/0", cfg)
    assert(IncrementalDedup.readPairs(spark, pairs).count() >= 80)
    val allFiles = pairs.read(spark).inputFiles.length
    assert(allFiles > 4, s"want many pair bucket files: $allFiles")
    // the stale probe for a one-doc delta reads only that id's bucket
    val probed = pairs.readForProbe(spark,
      Seq(7L).toDF("id_a")).inputFiles.length
    assert(probed > 0 && probed < allFiles,
      s"stale probe must scan a strict subset: $probed of $allFiles")
    // and the sync stays correct when that one doc leaves its family
    val next = state + (7L -> s"$other moved away entirely u7")
    IncrementalDedup.applyDelta(spark, bands, pairs, corpusDf(next),
      changesDf(state, next), "doc_id", "text", "0000000000000002/0", cfg)
    state = next
    assert(IncrementalDedup.readPairs(spark, pairs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      rebuild(state))
  }

  test("applyFeedBatch keeps the pair index live over the " +
      "graft-row-follow stream (checkpointed, replay-guarded)") {
    import graft.sinks.GraftTable
    val dir = tmp("inc-feed")
    val root = s"$dir/leader"
    val leader = new GraftTable(root, Seq("doc_id"), nBuckets = 4,
      retainVersions = 10)
    val bands = IncrementalDedup.bandTable(s"$dir/bands", 16)
    val pairs = IncrementalDedup.pairTable(s"$dir/pairs", 4)
    val ckpt = s"$dir/ckpt"
    def pass(): Unit = {
      val q = spark.readStream.format("graft-row-follow")
        .option("path", root).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          IncrementalDedup.applyFeedBatch(df, root, bands, pairs,
            "doc_id", "text", cfg)
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    def pairSet() = IncrementalDedup.readPairs(spark, pairs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def check(label: String): Unit = {
      val want = Dedup.minhashLshPairs(
          leader.read(spark).select("doc_id", "text"), "text", "doc_id",
          cfg.n, cfg.numHashes, cfg.bands, cfg.threshold)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairSet() == want, s"$label: index vs from-scratch rebuild")
    }

    leader.overwrite(Seq(
      1L -> s"$base alpha", 2L -> s"$base beta",
      3L -> other).toDF("doc_id", "text"))
    pass(); check("bootstrap")
    assert(pairSet().contains((1L, 2L)), "planted near-dup indexed")

    // CDC-shaped commits: 2 migrates from the `base` cluster to the
    // `other` cluster (destroys (1,2), joins {3}), 5 arrives in the
    // `other` cluster, 1 deletes
    leader.merge(Seq(
        (2L, s"$other qq ww", "U", "0000000000000010/0"),
        (5L, s"$other zz", "I", "0000000000000011/0"),
        (1L, "", "D", "0000000000000012/0"))
      .toDF("doc_id", "text", "_op", "_seq"))
    pass(); check("cdc delta")
    assert(pairSet() == Set((2L, 3L), (2L, 5L), (3L, 5L)),
      "pair churn tracked")

    // no new commits → replayed pass must no-op
    pass(); check("replay no-op")
  }

  test("applyFeedBatch: expired checkpoint truncates and re-bootstraps " +
      "both state tables from the full-refresh feed") {
    import graft.sinks.GraftTable
    val dir = tmp("inc-feed-exp")
    val root = s"$dir/leader"
    val leader = new GraftTable(root, Seq("doc_id"), nBuckets = 4,
      retainVersions = 2)
    val bands = IncrementalDedup.bandTable(s"$dir/bands", 16)
    val pairs = IncrementalDedup.pairTable(s"$dir/pairs", 4)
    val ckpt = s"$dir/ckpt"
    def pass(): Unit = {
      val q = spark.readStream.format("graft-row-follow")
        .option("path", root).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          IncrementalDedup.applyFeedBatch(df, root, bands, pairs,
            "doc_id", "text", cfg)
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    leader.overwrite(Seq(1L -> s"$base alpha", 2L -> s"$base beta")
      .toDF("doc_id", "text"))
    pass()
    // churn far past retention (keep 2): the checkpointed version
    // expires; next pass gets a full-refresh feed and must reset the
    // index instead of double-counting band rows
    leader.merge(Seq((3L, s"$base gamma", "I", "03"))
      .toDF("doc_id", "text", "_op", "_seq"))
    leader.merge(Seq((2L, s"$other qq", "U", "04"))
      .toDF("doc_id", "text", "_op", "_seq"))
    leader.merge(Seq((4L, s"$other zz", "I", "05"))
      .toDF("doc_id", "text", "_op", "_seq"))
    pass()
    val got = IncrementalDedup.readPairs(spark, pairs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = Dedup.minhashLshPairs(
        leader.read(spark).select("doc_id", "text"), "text", "doc_id",
        cfg.n, cfg.numHashes, cfg.bands, cfg.threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == want, "post-expiry rebuild diverged")
    assert(got == Set((1L, 3L), (2L, 4L)), got)
  }

  test("applyEmbedFeedBatch maintains the embedding pair index from " +
      "the row-follow stream") {
    import graft.sinks.GraftTable
    val ecfg = IncrementalDedup.EmbedConfig(threshold = 0.9, nPlanes = 4,
      nTables = 8)
    val dir = tmp("inc-efeed")
    val root = s"$dir/leader"
    val leader = new GraftTable(root, Seq("vec_id"), nBuckets = 4,
      retainVersions = 10)
    val bands = IncrementalDedup.bandTable(s"$dir/bands", 8)
    val pairs = IncrementalDedup.pairTable(s"$dir/pairs", 4)
    val ckpt = s"$dir/ckpt"
    def vec(dir0: Int, eps: Float): Array[Float] = {
      val v = Array.fill(8)(0.01f * dir0)
      v(dir0 % 8) = 1.0f
      v((dir0 + 3) % 8) = eps
      v
    }
    def pass(): Unit = {
      val q = spark.readStream.format("graft-row-follow")
        .option("path", root).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          IncrementalDedup.applyEmbedFeedBatch(df, root, bands, pairs,
            "vec_id", "embedding", ecfg)
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    def check(label: String): Unit = {
      val got = IncrementalDedup.readPairs(spark, pairs)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val want = Similarity.cosineNearDupPairs(
          leader.read(spark).select("vec_id", "embedding"),
          "vec_id", "embedding", ecfg.threshold, ecfg.nPlanes,
          ecfg.nTables)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == want, s"$label: index vs from-scratch rebuild")
    }
    leader.overwrite(Seq(
      1L -> vec(0, 0.01f), 2L -> vec(0, 0.02f), 3L -> vec(1, 0.01f))
      .toDF("vec_id", "embedding"))
    pass(); check("bootstrap")
    leader.merge(Seq(
        (5L, vec(1, 0.02f), "I", "0000000000000010/0"),
        (2L, vec(4, 0.01f), "U", "0000000000000011/0"))
      .toDF("vec_id", "embedding", "_op", "_seq"))
    pass(); check("cdc delta")
    assert(IncrementalDedup.readPairs(spark, pairs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      Set((3L, 5L)))
  }
}
