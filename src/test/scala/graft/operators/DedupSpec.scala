package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The  quick brown fox jumps over the lazy dog"),   // exact dup mod norm
    (3L, "the quick brown fox jumps over the lazy cat"),    // near dup
    (4L, "completely different content about spark engines"),
    (5L, "ab")                                              // shorter than shingle
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized content") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .select("rep_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("shingles: distinct word n-grams; short docs → empty") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).contains("the quick brown"))
    assert(sh(1L).size == 7)
    assert(sh(5L).isEmpty)
  }

  test("ngramJaccardPairs finds near-dups above threshold only") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // 1↔2 identical after lowering (j=1.0); 1↔3 and 2↔3 share 6/8 shingles
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("PPJoin prefix filter is lossless vs brute-force cross join") {
    // low threshold + real corpus slice → boundary-size prefixes exercised
    val real = graft.Tables.load(spark, sf(), "documents")
      .filter(col("doc_id") < 80)
    val t = 0.3
    val pp = Dedup.ngramJaccardPairs(real, "text", "doc_id", 3, t)
      .as[(Long, Long, Double)].collect().toSet
    val ppRarity = Dedup.ngramJaccardPairs(real, "text", "doc_id", 3, t,
      rarityOrder = true).as[(Long, Long, Double)].collect().toSet
    val sh = real.select(col("doc_id").as("id"),
        Dedup.shingleHashes(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val brute = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= t)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty)
    assert(pp == brute)
    assert(ppRarity == brute)
  }

  test("minhash LSH pairs agree with exact jaccard on testdata (recall)") {
    val real = graft.Tables.load(spark, sf(), "documents")
    val exact = Dedup.ngramJaccardPairs(real, "text", "doc_id", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(real, "text", "doc_id", 3, 32, 16, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact) // verify step kills FPs; band curve recall ≈ 1 here
  }

  test("simhash signature is deterministic and near for near-dups") {
    val sigs = Dedup.simhash(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    val sigs2 = Dedup.simhash(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(sigs == sigs2)
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(2L)) == 0) // identical token multiset
    assert(hamming(sigs(1L), sigs(3L)) <= 12) // one token differs
    assert(hamming(sigs(1L), sigs(4L)) > 12)  // unrelated
  }

  test("simhashPairs candidates via chunk bands + hamming verify") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).contains((1L, 2L)))
    assert(pairs.forall(_._3 <= 3))
  }

  test("segmentDedup drops cross-doc segments, reassembles in order") {
    val in = Seq(
      (1L, Seq("x y", "boiler", "z")),
      (2L, Seq("boiler", "q")),
      (3L, Seq("unique")),
      (4L, Seq("boiler")), // becomes fully empty — must still be a row
      (5L, Seq("w", "w", "w")) // within-doc repeats alone don't count
    ).toDF("doc_id", "segs")
    val out = Dedup.segmentDedup(in, "doc_id", "segs", minDocs = 2)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, "x y z"), // "boiler" removed, order kept across the gap
      (2L, "q"),
      (3L, "unique"),
      (4L, ""),
      (5L, "w w w"))) // 3 repeats but ONE distinct doc → kept
  }

  test("streamingExact: cross-batch dupes drop inside the watermark; " +
      "state evicts after it passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val out = Dedup.streamingExact(
      input.toDS().toDF("doc_id", "text", "tsec")
        .withColumn("et", timestamp_seconds(col("tsec"))),
      "text", "et", "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out").start()
    try {
      // t=100 up: an event at the stream's initial watermark (0) would
      // itself be dropped as late
      input.addData((1L, "The quick  fox", 100L), (2L, "other text", 105L))
      q.processAllAvailable()
      // same normalized content, later batch, inside the window → drop
      input.addData((3L, "the QUICK fox", 108L))
      q.processAllAvailable()
      // watermark marches far past both keys' eviction points
      input.addData((9L, "filler far future", 300L))
      q.processAllAvailable()
      // content of doc 1 re-arrives AFTER eviction → admitted again
      // (the documented bounded-state trade)
      input.addData((4L, "the quick fox", 420L))
      q.processAllAvailable()
      val ids = spark.table("sdedup_out").select("doc_id")
        .as[Long].collect().toSet
      assert(ids == Set(1L, 2L, 9L, 4L), s"got $ids")
    } finally q.stop()
  }

  test("segmentDedup matches a driver reference on random corpora") {
    val rnd = new scala.util.Random(11)
    val pool = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    (0 until 3).foreach { _ =>
      val corpus = (1L to 10L).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(6))(pool(rnd.nextInt(pool.size)))
      }
      val minDocs = 2L
      val out = Dedup.segmentDedup(
          corpus.toDF("doc_id", "segs"), "doc_id", "segs", minDocs)
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      // driver truth: distinct-doc count per segment, drop, reassemble
      val docsPerSeg = corpus.flatMap { case (id, segs) =>
        segs.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.size }
      val expected = corpus.map { case (id, segs) =>
        id -> segs.filter(s => docsPerSeg(s) < minDocs).mkString(" ")
      }
      assert(out == expected, s"got $out\nexpected $expected")
    }
  }

  test("connectedComponents matches driver BFS on random graphs") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { _ =>
      val n = 60
      val edges = (0 until 80).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver truth: union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> find(id.toInt).toLong).toMap
      val got = Dedup.connectedComponents(
        edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      // union-find roots compress to the component MIN (merges always
      // point larger at smaller), matching the operator's contract
      assert(got == expected)
    }
  }

  test("connectedComponents converges on a long chain (pointer jumping)") {
    // a 64-node path: min-label alone needs 63 rounds, halving far fewer.
    // Stats = the DISTRIBUTED loop always (the adaptive front door would
    // take the driver-local path at this size).
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsStats(chain, "id_a", "id_b",
      maxRounds = 12)._1.as[(Long, Long)].collect()
    assert(got.length == 64 && got.forall(_._2 == 0L))
  }

  test("connectedComponents local and distributed paths agree") {
    // the adaptive front door takes the driver union-find at or below
    // LocalEdgeCap and the shuffle loop above it — both must emit the
    // identical (id, rep = component min) rows
    val rnd = new scala.util.Random(11)
    val edges = (0 until 300).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(df, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(df, "id_a", "id_b",
        localEdgeCap = 0) // force the distributed loop
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
  }

  test("connectedComponents emits no node seen only in self-loop pairs, " +
      "on either path") {
    // 7 appears only as (7, 7); 1-2 is a real edge and 2-2 a self-loop
    // beside it
    val df = Seq((1L, 2L), (7L, 7L), (2L, 2L)).toDF("id_a", "id_b")
    Seq(Dedup.LocalEdgeCap, 0).foreach { cap =>
      val got = Dedup.connectedComponents(df, "id_a", "id_b",
        localEdgeCap = cap).as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 1L), (2L, 1L)), s"cap $cap: $got")
    }
  }

  test("substringDedup removes covered dup spans, keeps global first") {
    val d = Seq(
      (1L, "a b c d e f g"),   // holds the first occurrences
      (2L, "x y a b c d q"),   // one dup 4-gram covering pos 2..5
      (3L, "a b c d e z z"),   // two overlapping dup grams → pos 0..4 gone
      (4L, ""),                // no tokens at all
      (5L, "a b")              // shorter than k: untouched
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedup(d, "doc_id", "text", k = 4)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "a b c d e f g", 7L, 0L),
      (2L, "x y q", 7L, 4L),
      (3L, "z z", 7L, 5L),
      (4L, "", 0L, 0L),
      (5L, "a b", 2L, 0L)))
  }

  test("substringDedup catches WITHIN-document repetition") {
    val d = Seq((7L, "p q r s t p q r s t")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(d, "doc_id", "text", k = 5)
      .as[(Long, String, Long, Long)].head()
    assert(got == ((7L, "p q r s t", 10L, 5L)))
  }

  test("substringDedup invariants on a real corpus slice") {
    val docs = graft.Tables.load(spark, sf(), "documents").limit(200)
    val out = Dedup.substringDedup(docs, "doc_id", "text", k = 6).cache()
    assert(out.count() == 200)                       // every doc present
    // n_removed accounting matches the reassembled text exactly
    val bad = out.filter(
      size(graft.functions.TextFunctions.tokens(col("text_dedup"))) =!=
        col("n_tokens") - col("n_removed")).count()
    assert(bad == 0L)
    // something real was removed (the synthetic corpus repeats spans)
    assert(out.agg(sum("n_removed")).as[Long].head() > 0L)
    out.unpersist()
  }
}

class TextFunctionsSpec extends SparkSpec {
  import graft.functions.TextFunctions
  import spark.implicits._

  test("tokens/counts") {
    val df = Seq("The quick  brown\tfox", "", "  ").toDF("t")
    val out = df.select(TextFunctions.tokenCount(col("t"))).as[Int].collect()
    assert(out.toSeq == Seq(4, 0, 0))
    assert(Seq("abcdefgh").toDF("t")
      .select(TextFunctions.bpeTokenEstimate(col("t"))).as[Long].head() == 2L)
  }

  test("langId picks marker-dominant language, tie-breaks deterministically") {
    val df = Seq(
      "the cat is on the mat and it is fine",    // en
      "le chat est sur la table et les chats",   // fr
      "der hund und die katze ist nicht da",     // de
      "xyzzy plugh no markers at all qqqq"       // 'at' no; ties → first lang
    ).toDF("t")
    val out = df.select(TextFunctions.langId(col("t"))).as[String].collect()
    assert(out(0) == "en" && out(1) == "fr" && out(2) == "de")
    // last row: 'at' is not a marker; all scores 0 → tie → 'de' (first)
    assert(out(3) == "de")
  }

  test("qualityScore bounded and monotone in stopword ratio") {
    val df = Seq(
      "the of and to is in it a",                 // all stopwords
      "zzz qqq www eee rrr ttt yyy uuu").toDF("t")
    val s = df.select(TextFunctions.qualityScore(col("t"))).as[Double].collect()
    assert(s.forall(x => x >= 0.0 && x <= 1.0))
    assert(s(0) > s(1))
  }

  test("redactPii scrubs emails/IPs/phones and nothing else") {
    val df = Seq(
      "mail bob.smith+x@sub.example.co.uk now",
      "host at 192.168.0.1 port 8080",
      "call +1-555-0142 or +44(20)7946-0958 today",
      "version 1.2 costs 3.50 at example.com rate 10.0.0", // non-PII stays
      "mixed a@b.io 10.0.0.7 +1(555)222-3333").toDF("t")
    val out = df.select(TextFunctions.redactPii(col("t"))).as[String]
      .collect().toSeq
    assert(out == Seq(
      "mail [EMAIL] now",
      "host at [IP] port 8080",
      "call [PHONE] or [PHONE] today",
      // bare domains / decimals / short dotted versions are untouched
      "version 1.2 costs 3.50 at example.com rate 10.0.0",
      "mixed [EMAIL] [IP] [PHONE]"), out)
  }
}

class RollingHashSpec extends SparkSpec {
  import graft.functions.RollingHash
  import spark.implicits._

  test("expression matches reference implementation; codegen path") {
    val strs = Seq("", "a", "hello world", "ünïcødé ₤ text", "x" * 10000)
    val df = strs.toDF("s")
    val viaExpr = df.select(RollingHash(col("s"))).as[Long].collect().toSeq
    assert(viaExpr == strs.map(RollingHash.compute))
  }

  test("SQL registration works") {
    RollingHash.register(spark)
    val got = spark.sql("SELECT rolling_hash('abc')").as[Long].head()
    assert(got == RollingHash.compute("abc"))
  }

  test("null propagates") {
    val df = Seq(Some("a"), None).toDF("s")
    val out = df.select(RollingHash(col("s"))).as[Option[Long]].collect()
    assert(out(1).isEmpty)
  }
}
