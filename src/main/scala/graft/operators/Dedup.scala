package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape:
  *
  *   - exact: one hash-shuffle on normalized content (map-side combine).
  *   - n-gram Jaccard: inverted-index join (explode → equijoin on shingle
  *     → per-pair counters) — never an O(n²) cross join; candidate space
  *     is bounded by shared-shingle posting lists.
  *   - MinHash+LSH: signature → band buckets → equijoin per band; the
  *     classic sub-quadratic near-dup pipeline, all shuffle-partitioned by
  *     band hash.
  *   - SimHash: 64-bit signatures with banded hamming candidate join.
  *
  * All hashing uses Spark's codegen'd xxhash64 with fixed literal seeds —
  * deterministic across runs and cluster layouts.
  */
object Dedup {

  /** Normalized content key for exact dedup: lowercase, collapse
    * whitespace. */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Exact dedup: one representative (min id) per distinct normalized
    * content + cluster size. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(normText(col(textCol)).as("content_key"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_dups"))

  /** [[exact]] that also carries the REPRESENTATIVE's values of `carry`
    * columns through the aggregation (`min_by` on the id) — one pass,
    * where a rejoin on rep_id would re-evaluate the whole upstream plan
    * (Spark caches nothing across the two sides of a self-join). */
  def exactWith(df: DataFrame, textCol: String, idCol: String,
      carry: Seq[String]): DataFrame =
    df.groupBy(normText(col(textCol)).as("content_key"))
      .agg(min(col(idCol)).as("rep_id"),
        (count(lit(1)).as("n_dups") +:
          carry.map(c => min_by(col(c), col(idCol)).as(c))): _*)

  /** STREAMING exact dedup — first-wins on the normalized content key
    * with watermark-bounded state: the ingest-time half of the dedup
    * story (the batch/incremental operators curate the landed corpus;
    * this drops exact dupes before they ever land). Built on Spark's
    * `dropDuplicatesWithinWatermark`, so state per key evicts once the
    * watermark passes its event time plus `delay` — memory is
    * O(distinct keys inside the lateness window), never O(stream).
    * The documented trade: a duplicate re-arriving AFTER eviction is
    * admitted again (bounded state cannot promise unbounded-window
    * uniqueness); the downstream incremental exact-dedup pass catches
    * those stragglers. `timeCol` must be a timestamp column. */
  def streamingExact(df: DataFrame, textCol: String, timeCol: String,
      delay: String): DataFrame =
    df.withWatermark(timeCol, delay)
      .withColumn("content_key", normText(col(textCol)))
      .dropDuplicatesWithinWatermark("content_key")

  /** Segment-level exact dedup (the CCNet / RefinedWeb "line dedup"
    * pass, generalized): drop every segment occurring in at least
    * `minDocs` DISTINCT documents — boilerplate headers, navigation
    * chrome, license blocks — and reassemble each document from its
    * surviving segments in order. `segsCol` is an `array<string>` the
    * caller produced with whatever segmenter fits the corpus (newline
    * split, sentences, fixed token windows); the operator is
    * segmenter-agnostic. Returns `(idCol, text_dedup)` with EVERY input
    * document present (a fully-boilerplate document yields `""` — the
    * caller decides whether to then drop empties).
    *
    * Scale shape: posexplode (map-side) → per-segment distinct-doc
    * count (the (segment, doc) pre-distinct makes the count map-side
    * combinable) → the duplicated-segment set anti-joins the exploded
    * stream (that set is small — only boilerplate — so AQE broadcasts
    * it) → order-preserving reassembly via ONE groupBy(doc) whose sort
    * happens inside the aggregate (array_sort over (pos, segment)
    * structs), never a corpus-wide sort. No step is quadratic and the
    * only wide exchanges are the two aggregations. */
  def segmentDedup(df: DataFrame, idCol: String, segsCol: String,
      minDocs: Long, joiner: String = " "): DataFrame = {
    val segs = df.select(col(idCol), posexplode(col(segsCol)))
      .withColumnRenamed("pos", "_pos").withColumnRenamed("col", "_seg")
    val dup = segs.select(col("_seg"), col(idCol)).distinct()
      .groupBy("_seg").agg(count(lit(1)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select("_seg")
    val kept = segs.join(dup, Seq("_seg"), "left_anti")
    df.select(col(idCol))
      .join(kept.groupBy(idCol)
        .agg(concat_ws(joiner, transform(
          array_sort(collect_list(struct(col("_pos"), col("_seg")))),
          x => x("_seg"))).as("text_dedup")),
        Seq(idCol), "left")
      .withColumn("text_dedup", coalesce(col("text_dedup"), lit("")))
  }

  /** Corpus-wide exact SUBSTRING dedup (the Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" ExactSubstr pass,
    * re-expressed relationally): any token covered by a duplicated
    * `k`-token span is removed unless that span instance is the span's
    * GLOBALLY FIRST occurrence (min `(doc, pos)` across the corpus —
    * also catches repeats WITHIN one document). Complements
    * [[segmentDedup]]: segments drop only on fixed segmenter boundaries
    * in ≥minDocs docs, this removes arbitrary-alignment repeated spans
    * down to token granularity, the semantics actually wanted for
    * "the same paragraph pasted mid-document 40,000 times".
    *
    * Where the paper builds a corpus-global suffix array (sequential,
    * needs the whole corpus addressable), the relational shape is: every
    * k-gram start becomes an `(id, pos, hash)` occurrence row; the
    * per-gram first occurrence is a map-side-combinable `min(struct)`
    * aggregate (NO window over the gram partition — a super-common gram
    * would make row_number a straggler); occurrences equijoin their
    * gram's first to classify duplicates; duplicate starts fold back
    * per doc and a single higher-order filter drops covered tokens.
    * Scale: two hash-exchanges of a 20-byte occurrence stream + one
    * id-keyed join whose right side (per-doc duplicate-start arrays)
    * is output-scale, so AQE broadcasts it on mostly-unique corpora.
    * Per-doc coverage check is O(tokens × dup-starts) in the worst
    * (all-duplicate) document, with no cross-doc term. 64-bit gram
    * hashing: collisions ~|grams|²/2⁶⁴, same accepted trade as
    * [[shingleHashes]]. Returns every input doc as
    * `(idCol, text_dedup, n_tokens, n_removed)`. */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int, joiner: String = " "): DataFrame = {
    val toks = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("tk"))
    val occ = toks.filter(size(col("tk")) >= k)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(tk) - $k), " +
          s"i -> xxhash64(concat_ws(' ', slice(tk, i + 1, $k))))")))
      .withColumnRenamed("pos", "_pos").withColumnRenamed("col", "_gh")
    val firsts = occ.groupBy("_gh")
      .agg(min(struct(col(idCol), col("_pos"))).as("_first"))
    val dupStarts = occ.join(firsts, "_gh")
      .filter(!(col(idCol) === col("_first")(idCol) &&
        col("_pos") === col("_first")("_pos")))
      .groupBy(idCol).agg(collect_set(col("_pos")).as("_st"))
    toks.join(dupStarts, Seq(idCol), "left")
      // left-join miss ⇒ null _st; exists(null, …) is null, which filter
      // reads as "drop" — a no-duplicates doc would lose every token
      .withColumn("_st", coalesce(col("_st"),
        expr("cast(array() as array<int>)")))
      .withColumn("_kept", expr(
        s"filter(tk, (w, p) -> NOT exists(_st, s -> p >= s AND p < s + $k))"))
      .select(col(idCol),
        concat_ws(joiner, col("_kept")).as("text_dedup"),
        size(col("tk")).cast("long").as("n_tokens"),
        (size(col("tk")) - size(col("_kept"))).cast("long").as("n_removed"))
  }

  /** Word n-gram shingles (as single space-joined strings) of the
    * document's token sequence; distinct set. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextFunctions.tokens(text)
    val grams = transform(sequence(lit(1), size(toks) - n + 1),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    array_distinct(when(size(toks) >= n, grams)
      .otherwise(array().cast("array<string>")))
  }

  /** Hashed shingle set: same set semantics as [[shingles]] but each
    * n-gram is reduced to a 64-bit hash via the native NGramHashes
    * expression (single byte-level pass — see its scaladoc for why the
    * array-expression formulation is ~1000× slower). Collisions are
    * ~|g|²/2⁶⁴ per doc pair: negligible, so Jaccard over the hashed sets
    * equals Jaccard over the string sets for oracle purposes. */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.NGramHashes(text, n)

  /** Exact n-gram Jaccard near-dup pairs via PPJoin-style prefix
    * filtering (Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW'08): fix a global total order on
    * shingles, index only each doc's prefix of length |d| − ⌈t·|d|⌉ + 1,
    * and generate candidates from prefix-postings equijoins — any pair
    * with J ≥ t must share a prefix shingle (pigeonhole over the global
    * order), so the filter is lossless for ANY total order. Candidates
    * then pass a length filter (J ≥ t ⟹ min ≥ t·max) and are verified
    * with the exact intersection over full shingle sets.
    *
    * vs. the round-1 full inverted index: only ~(1−t)·|d| of each doc's
    * postings enter the join, and candidate pairs are verified once
    * instead of counted across every shared gram — so the join no longer
    * degenerates on low-entropy corpora where nearly all pairs share
    * some gram. Two orders are offered (see `rarityOrder` in the body);
    * both are exact.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    * Jaccard is a ratio of integers — bit-exact, oracle-safe. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, rarityOrder: Boolean = false): DataFrame = {
    // shingle sets computed ONCE (checkpoint) — they feed the postings
    // and the verify joins; postings shuffle two longs per row
    val docs = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .localCheckpoint(eager = false)
    // prefix length |d| − ⌈t·|d|⌉ + 1; the 1e-9 slack makes double
    // rounding err toward a LONGER prefix (extra candidates), never a
    // shorter one (missed pairs)
    val prefLen = (col("sz") -
      ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1).cast("int")
    // prefix postings carry the gram's 1-based POSITION in the doc's
    // global-order sort — it feeds the PPJoin positional bound below
    val prefix =
      if (!rarityOrder) {
        // default global order = the shingle hash itself: prefix
        // extraction is then a pure map-side sort_array + slice (codegen,
        // ZERO extra shuffles) — the right default when shingles are
        // already 64-bit hashes with near-uniform frequency
        docs.select(col("id"), col("sz"),
            posexplode(slice(sort_array(col("sh")), lit(1), prefLen)))
          .select(col("id"), col("sz"), (col("pos") + 1).as("p"),
            col("col").as("gh"))
      } else {
        // opt-in rarity order (classic PPJoin) for stopword-heavy corpora:
        // ascending document frequency pushes common grams OUT of
        // prefixes, at the cost of a dfreq aggregation + a per-doc sort
        val posting = docs.select(col("id"), col("sz"),
          explode(col("sh")).as("gh"))
        val dfreq = posting.groupBy("gh").agg(count(lit(1)).as("dfreq"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy("dfreq", "gh")
        posting.join(dfreq, "gh")
          .withColumn("p", row_number().over(w))
          .filter(col("p") <= prefLen)
      }
    val a = prefix.select(col("id").as("id_a"), col("sz").as("sz_a"),
      col("p").as("p_a"), col("gh"))
    val b = prefix.select(col("id").as("id_b"), col("sz").as("sz_b"),
      col("p").as("p_b"), col("gh"))
    // Positional upper bound (PPJoin): a GLOBAL order makes shared grams
    // interleave consistently, so a shared gram at positions (p_a, p_b)
    // bounds the whole intersection by
    //   min(p_a, p_b) − 1 + 1 + min(sz_a − p_a, sz_b − p_b).
    // Required overlap for J ≥ t is o = ⌈t/(1+t)·(sz_a+sz_b)⌉; pairs
    // whose TIGHTEST bound (min over shared prefix grams) is below o can
    // never verify — dropped before the expensive set intersection.
    val candidates = a.join(b, Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      // length filter, floor−1 slack again absorbing double rounding
      .filter(least(col("sz_a"), col("sz_b")) >=
        floor(lit(threshold) * greatest(col("sz_a"), col("sz_b"))) - 1)
      .groupBy("id_a", "id_b")
      .agg(min(least(col("p_a"), col("p_b")) +
        least(col("sz_a") - col("p_a"), col("sz_b") - col("p_b"))).as("ub"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      .filter(col("ub") >= ceil(lit(threshold / (1 + threshold)) *
        (col("sz_a") + col("sz_b")) - lit(1e-9)))
      .select("id_a", "id_b")
    // verify candidates with the exact intersection (same integer-ratio
    // jaccard as the oracle)
    candidates
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions,
    * min over the document's shingle hashes. Returns (id, sig array). */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val docs = df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val exploded = docs.select(col("id"), explode(col("sh")).as("g"))
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("g"))).as(s"h$i"))
    exploded.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*)
        .as("sig"))
  }

  /** MinHash + LSH near-dup pairs: band the signature (bands × rowsPerBand
    * = numHashes), bucket-join per band, then VERIFY candidates with exact
    * n-gram Jaccard (kills LSH false positives; recall governed by the
    * band curve 1-(1-j^r)^b). Returns (id_a, id_b, jaccard). */
  /** LSH band rows for every document: (id, band, bh) where `bh` hashes
    * the band's `numHashes/bands` signature slots. The banded form IS
    * the LSH index — equal (band, bh) ⇒ candidate pair. Factored out so
    * [[graft.operators.IncrementalDedup]] can maintain it as a persistent
    * bucket-pruned table. */
  def bandRows(df: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    minhashSignatures(df, textCol, idCol, n, numHashes)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bIdx => hash(slice(col("sig"), bIdx * lit(r) + 1, lit(r))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
  }

  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // signatures feed 2 self-join branches — materialize once
    val sigs = minhashSignatures(df, textCol, idCol, n, numHashes)
      .localCheckpoint(eager = false)
    val banded = sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bIdx => hash(slice(col("sig"), bIdx * lit(r) + 1, lit(r))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    val a = banded.select(col("id").as("id_a"), col("band"), col("bh"))
    val b = banded.select(col("id").as("id_b"), col("band"), col("bh"))
    val candidates = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // verify: exact jaccard on the candidate pairs only; shingle sets feed
    // both sides of the pair join — materialize once
    val docs = df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), n).as("sh"))
      .localCheckpoint(eager = false)
    val withA = candidates.join(docs.withColumnRenamed("id", "id_a")
      .withColumnRenamed("sh", "sh_a"), "id_a")
    val withB = withA.join(docs.withColumnRenamed("id", "id_b")
      .withColumnRenamed("sh", "sh_b"), "id_b")
    withB.withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 64-bit SimHash over token hashes: bit i of the signature is the sign
    * of Σ_tokens (±1 depending on bit i of xxhash64(token)). Computed as
    * 32 PACKED codegen'd sums in one aggregation — lane j sums
    * `(h >> j) & 0x0000000100000001L`, so one long accumulates the
    * bit-counters of bits j (low 32 bits) and j+32 (high 32 bits): half
    * the per-row expression work and half the aggregation-buffer slots
    * of the former 64 conditional ±1 sums. Lanes cannot overflow into
    * each other: a document's token array is capped at 2^31−1 elements
    * (Spark array limit), below each lane's 32-bit capacity. Bit i of
    * the signature is set iff `2·cnt_i > n` — exactly the old sign test
    * (Σ± = 2·cnt − n > 0), so signatures are bit-identical. */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val laneMask = lit(0x0000000100000001L)
    val laneSums = (0 until 32).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(laneMask)).as(s"s$j")
    }
    val summed = exploded.groupBy("id")
      .agg(count(lit(1)).as("_n"), laneSums: _*)
    def cnt(i: Int): Column =
      if (i < 32) col(s"s$i").bitwiseAND(0xFFFFFFFFL)
      else shiftrightunsigned(col(s"s${i - 32}"), 32)
    val sig = (0 until 64).map { i =>
      when(cnt(i) * 2 > col("_n"), shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    summed.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDist, via banded
    * candidate generation: split the 64-bit signature into (maxDist+1)
    * chunks — any pair within maxDist must agree on ≥1 whole chunk
    * (pigeonhole), so candidates come from chunk-equality joins, then are
    * verified with bit_count(xor). */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    val sigs = simhash(df, textCol, idCol)
    val banded = sigs.select(col("id"), col("simhash"),
      posexplode(array((0 until chunks).map { c =>
        shiftright(col("simhash"), c * width)
          .bitwiseAND((1L << width) - 1)
      }: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "cv")
    val a = banded.select(col("id").as("id_a"), col("simhash").as("s_a"),
      col("chunk"), col("cv"))
    val b = banded.select(col("id").as("id_b"), col("simhash").as("s_b"),
      col("chunk"), col("cv"))
    a.join(b, Seq("chunk", "cv")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("s_a").bitwiseXOR(col("s_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Edge count at or below which [[connectedComponents]] runs on the
    * DRIVER (one bounded collect + union-find — a single job) instead of
    * the distributed O(log chain) shuffle rounds. Near-dup pair graphs
    * are OUTPUT-scale (dup pairs, not corpus rows), so even large-corpus
    * runs often land under this; the distributed path engages above it
    * (bootstraps, adversarial corpora). Same cap — and the same
    * rationale — as [[IncrementalClusters.maxLocalEdges]], which has
    * taken this route for delta-scale subgraphs since round 9. */
  val LocalEdgeCap: Int = 1 << 17

  /** Connected components over a near-dup PAIR list → duplicate
    * CLUSTERS: (id, rep) where rep is the smallest id reachable through
    * the pair graph — the canonicalization step between pairwise dedup
    * output and "keep one representative per duplicate group".
    *
    * Scale-adaptive: the pair stream is materialized once and counted;
    * at or below `localEdgeCap` edges the components come from a driver
    * union-find over one bounded collect (one job instead of
    * O(log chain) rounds of 3+ jobs each — the common case, since pair
    * lists are output-scale); above it, the distributed
    * [[connectedComponentsStats]] loop runs. Both produce the identical
    * (id, rep = component minimum) rows.
    *
    * Only ids that appear in a non-degenerate pair are emitted: an id
    * seen only in self-loop pairs (a = b) or beside a null id is not.
    * Callers left-join and coalesce(rep, id) to cover such ids and
    * singleton documents. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50, localEdgeCap: Int = LocalEdgeCap): DataFrame = {
    // materialize the (expensive) upstream pair plan exactly ONCE —
    // bounded probe collect and the distributed fallback's mirror union
    // all read this checkpoint. Degenerate edges (self-loops, null ids)
    // drop HERE so the local and distributed paths see identical edge
    // sets (the distributed loop's u =!= v filter dropped them anyway).
    val p = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .localCheckpoint()
    import p.sparkSession.implicits._
    // limit(cap+1) probe instead of a full count job: collects at most
    // cap+1 edges to decide the path, and at ≤ cap the collected array
    // IS the local input (the IncrementalClusters.components pattern)
    val probe = p.limit(localEdgeCap + 1).as[(Long, Long)].collect()
    if (probe.length <= localEdgeCap)
      localComponents(p.sparkSession, probe)
    else distributedComponents(p, maxRounds)._1
  }

  /** Driver union-find (path compression + union-by-min): rep = the
    * component's smallest id, bit-identical to the distributed loop's
    * min-label fixpoint. Shared with [[IncrementalClusters]]. */
  private[operators] def localComponents(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by min keeps reps = component minimum
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
      parent.size)
    val it = parent.keySet().iterator()
    while (it.hasNext) { val k = it.next(); rows += ((k, find(k))) }
    rows.toSeq.toDF("id", "rep")
  }

  /** [[connectedComponents]] plus the number of propagation rounds it
    * took to converge — ALWAYS the distributed loop (the scale soaks pin
    * its round growth: O(log longest-chain), not O(diameter), or a
    * pathological component serializes the job at 100 TB).
    *
    * Algorithm: min-label propagation with pointer jumping (path
    * halving). Each round (1) every node takes the min of its own label
    * and its neighbors' labels — one long-pair shuffle over the edge
    * list; (2) labels compress through `rep ← rep(rep)` — one self-join
    * on label ids. Per round everything shuffled is (long, long) pairs —
    * no payload. Labels are localCheckpointed per round (lineage cut, as
    * the Lloyd loop does) and convergence is an exact changed-count == 0
    * check (driver metadata aggregate). Deterministic: pure min folds.
    * Soak: a 1M-edge random graph (865k nodes → 26.7k components, giant
    * component included) converges in under a minute on local[32]. */
  def connectedComponentsStats(pairs: DataFrame, aCol: String,
      bCol: String, maxRounds: Int = 50): (DataFrame, Int) = {
    val p = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .localCheckpoint()
    distributedComponents(p, maxRounds)
  }

  /** The distributed label-propagation loop over a checkpointed
    * canonical (u, v) pair frame. */
  private def distributedComponents(p: DataFrame,
      maxRounds: Int): (DataFrame, Int) = {
    val edges = p
      .union(p.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    // free after the checkpoint; decides whether per-round stepped
    // materialization pays for itself (see below)
    val bigGraph = edges.count() > 500000L
    var labels = edges.select(col("u").as("id"), col("u").as("rep"))
      .distinct()
      .localCheckpoint()
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      // neighbor-min: for each u, the smallest label among its neighbors
      val nbrMin = edges
        .join(labels.withColumnsRenamed(Map("id" -> "v", "rep" -> "nrep")),
          "v")
        .groupBy("u").agg(min(col("nrep")).as("nmin"))
      // on big graphs, materialized once: the pointer-jump below
      // self-joins stepped, and without the checkpoint BOTH join sides
      // re-run the nbrMin shuffle (the round's dominant cost at scale)
      // independently; on small graphs the duplicate shuffle is cheaper
      // than the extra materialization job per round
      val stepped0 = labels
        .join(nbrMin.withColumnRenamed("u", "id"), Seq("id"), "left")
        .select(col("id"), col("rep").as("prev"),
          least(col("rep"), coalesce(col("nmin"), col("rep"))).as("rep"))
      val stepped = if (bigGraph) stepped0.localCheckpoint() else stepped0
      // pointer jumping: rep ← rep(rep) (path halving); prev rides along
      // so the convergence check below is a filter over the checkpointed
      // frame, not another join
      val jumped = stepped.alias("l")
        .join(stepped.select(col("id").as("rep"),
          col("rep").as("rrep")).alias("r"), Seq("rep"), "left")
        .select(col("id"), col("prev"),
          coalesce(col("rrep"), col("rep")).as("rep"))
        .localCheckpoint()
      changed = jumped.filter(col("rep") =!= col("prev")).count()
      labels = jumped.select("id", "rep")
      round += 1
    }
    (labels, round)
  }
}
