package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, GraftLocalBridge, SaveMode,
  SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** A keyed copy-on-write table with MERGE semantics and snapshot-atomic,
  * manifest-based commits — the storage half of the reference's "current
  * state" destinations (BigQuery CDC upsert/delete, DuckLake SQL mutations;
  * reference crates/etl-destinations/src/bigquery/core.rs:956-1101 and
  * ducklake/core.rs). No Delta/Iceberg is available in this environment, so
  * the table format itself is part of the engine:
  *
  *   root/
  *     _meta.json                       — identity: key columns, bucket count
  *     _manifests/v00000000000N.json    — per-version live-file list + replay
  *                                        high-water (Iceberg-snapshot shape)
  *     data/_bucket=&lt;i&gt;/&lt;uuid&gt;.parquet  — immutable, hash-bucketed by key
  *
  * Commit protocol: data files are append-only and never rewritten; a
  * commit writes the new files, then publishes ONE manifest json via
  * write-tmp + atomic rename. Readers resolve the highest manifest version
  * — they see the previous snapshot or the new one, never a torn mix (the
  * round-1 design swapped bucket directories sequentially, which could
  * expose half-committed merges to concurrent readers). Old versions stay
  * readable (time travel, `readVersion`) until `vacuum`.
  *
  * Scale design: a merge touches ONLY the buckets that contain batch keys —
  * at 100 TB with (say) 8192 buckets, a CDC batch touching 0.1% of keys
  * rewrites ~a handful of buckets; the scan-side pruning reads only the
  * manifest entries for wanted buckets. Bucket files are sorted by key, so
  * point lookups skip parquet row groups via min/max stats. The join per
  * bucket is current ⨝ batch on the key, with the (small) deduped batch
  * broadcast.
  *
  * Idempotent replay (reference DuckLake `retain_mutations_after_sequence_key`,
  * crates/etl-destinations/src/ducklake/replay_epoch.rs): the manifest
  * carries the sequence high-water mark; merges filter their batch to
  * seq > highWater, and the mark commits ATOMICALLY with the data (one
  * rename), closing the round-1 window where data and mark were two files.
  */
final class GraftTable(val root: String, val keyCols: Seq[String],
    val nBuckets: Int = 32,
    /** Snapshots retained after each commit (auto-expiry). ≥2 gives
      * in-flight readers of the previous snapshot a grace window (the
      * Iceberg snapshot-expiry tradeoff) and keeps short-range time
      * travel; older versions' unreferenced files are deleted eagerly so a
      * long-running CDC stream's disk footprint stays O(table), not
      * O(history). */
    val retainVersions: Int = 2,
    /** Columns the bucket hash runs over — a PREFIX-or-subset of
      * `keyCols` (empty = all of them, the default). A proper subset
      * turns the table into a secondary index: rows sharing the subset
      * values co-locate in one bucket, so probes by those columns prune
      * to single buckets even though row identity (merge semantics) is
      * still the full key — e.g. an LSH band table keyed
      * (band, bucket_hash, doc_id) but bucketed by (band, bucket_hash).
      * Same-key rows always share a bucket because bucketCols ⊆ keyCols. */
    bucketCols0: Seq[String] = Nil,
    /** EXTRA columns to harvest per-file [min, max] skipping stats for,
      * beyond the always-harvested leading key — e.g. an event-time
      * column on a CDC table, so time-range catalog queries skip whole
      * files. Only integral-physical types (int/bigint/smallint, date,
      * micros timestamps) ever produce stats; others are ignored. */
    statsCols0: Seq[String] = Nil,
    /** MERGE-ON-READ write mode for high-churn index tables: a small
      * merge commits as a DELTA LAYER (append upsert files + a key-only
      * delete file) instead of rewriting every touched bucket — write
      * cost O(delta), not O(touched buckets). Readers fold layers over
      * the base (see [[Manifest.layers]]); [[compact]] (and any
      * copy-on-write path) collapses them back to a clean base, so
      * layer depth — and the read-side fold cost — is bounded by
      * [[GraftTable.MorMaxLayers]] plus the maintenance cadence.
      * Default false: CDC serving tables stay copy-on-write (reads
      * dominate); enable for tables whose workload is frequent small
      * syncs against a large base (LSH band/pair indexes, postings). */
    val mergeOnRead: Boolean = false,
    /** ADAPTIVE merge-on-read admission (Hudi/Delta-style CoW↔MoR
      * heuristic): the delta-layer path engages only when the affected
      * buckets' base bytes reach this floor — below it, rewriting the
      * buckets costs less than the layered-read fold every subsequent
      * probe would pay, so the merge stays copy-on-write. Measured on
      * the incremental-index workload at sf0.1 (small buckets): forcing
      * layers was 15–35% SLOWER end-to-end than CoW, while the CoW/MoR
      * bench pair on an inflated base shows the layered write winning
      * ~1.6× — the crossover is the rewrite cost, which this floor
      * encodes. 0 = always take the layered path (tests). */
    val morMinAffectedBytes: Long = GraftTable.MorMinAffectedBytesDefault) {

  /** Effective bucket columns (defaults to the full key). */
  val bucketCols: Seq[String] =
    if (bucketCols0.isEmpty) keyCols else bucketCols0
  require(bucketCols.forall(keyCols.contains),
    s"bucketCols must be a subset of keyCols: $bucketCols vs $keyCols")

  /** Stats columns (logical names): leading key first, then extras. */
  val statsCols: Seq[String] =
    (keyCols.headOption.toSeq ++ statsCols0).distinct

  private def dataDir = s"$root/data"
  private def manifestDir = Paths.get(root, "_manifests")
  private def metaPath = Paths.get(root, "_meta.json")

  def exists: Boolean = Files.exists(metaPath)

  /** Whether the current snapshot references any data files (false for
    * absent, empty, or truncated tables) — a manifest-only check. */
  def hasData: Boolean = currentManifest().exists(_.allFiles.nonEmpty)

  /** Whether the current snapshot carries merge-on-read delta layers —
    * surfaces that plan raw file scans (the SQL catalog) must refuse or
    * collapse first; folding readers ([[read]], [[lookup]],
    * [[readForProbe]]) handle layers transparently. */
  def hasLayers: Boolean = currentManifest().exists(_.layers.nonEmpty)

  // ------------------------------------------------------------------ meta
  /** Snapshot manifest: the live files per bucket + the replay high-water
    * in force at this version + the snapshot's unified Spark schema (DDL
    * string). Carrying the schema means readers NEVER do a mergeSchema
    * footer sweep — at scale a table is thousands of files and reading
    * every footer per query is an O(files) driver cost; with the schema
    * pinned per snapshot, a read is manifest json + the pruned file list.
    * Empty schema (pre-upgrade manifests) falls back to mergeSchema. */
  final case class Manifest(version: Long, highWater: String,
      files: Map[Int, Seq[String]], schemaDdl: String = "",
      /** Commit wall-clock (ms), stamped by commitManifest — the
        * TIMESTAMP AS OF resolution source that survives object-store
        * copies (file mtimes don't). -1 = pre-upgrade manifest. */
      committedAtMs: Long = -1L,
      /** Delta-style column name mapping, logical → physical: data files
        * always carry a column's ORIGINAL (creation-time) name; a RENAME
        * COLUMN updates only the logical schema and records the physical
        * name here, so existing files keep reading correctly with zero
        * data movement. Empty = identity (no renames ever). Carried
        * forward automatically on every commit ([[commitManifest]]);
        * versioned per snapshot, so time travel sees the mapping in
        * force at that version. */
      columnMapping: Map[String, String] = Map.empty,
      /** Delta-style data skipping: per-file, per-column [min, max] of
        * the stats columns (leading key + [[statsCols]]; integral
        * physical types only), harvested from the parquet footers of
        * each commit's NEW files by [[commitManifest]] — write paths
        * stay untouched and the cost is one local footer read per new
        * file, once. Keyed by PHYSICAL column name (stable across
        * renames). Point lookups prune a bucket's file list against the
        * leading-key ranges; catalog scans prune on every stats column.
        * A file/column without an entry is always read (absence = no
        * skip, never wrong). Entries of removed files drop automatically
        * on the next commit. */
      fileStats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      /** MERGE-ON-READ delta layers (LSM/Iceberg-equality-delete shape),
        * oldest first: each layer is one small merge committed WITHOUT
        * rewriting its buckets — upsert data files per bucket plus an
        * optional key-only delete file. The read path folds layers over
        * the base in version order: `acc = (acc ANTI (layer keys)) ∪
        * layer upserts`. Keys live in exactly one bucket (bucketCols ⊆
        * keyCols), so bucket-pruned reads stay correct: another bucket's
        * layer keys cannot match the pruned base. Only tables built with
        * `mergeOnRead = true` ever WRITE layers; every reader applies
        * them unconditionally from the manifest, and copy-on-write
        * paths collapse them first. Empty for CoW tables. */
      layers: Seq[DeltaLayer] = Nil,
      /** True when this commit changed NO row and NO schema — layout
        * maintenance only (collapse, compact, z-order) or a bare
        * high-water advance. The row CDF uses it to emit an EMPTY feed
        * for maintenance transitions instead of diffing rewritten
        * buckets (a collapse rewrites every bucket; diffing it would
        * read the whole table to produce zero change rows). */
      sameData: Boolean = false,
      /** Bucket count in force AT THIS SNAPSHOT (None = the creation-time
        * [[nBuckets]] from `_meta.json`). Set by [[rebucket]] and carried
        * forward automatically on every commit ([[commitManifest]]), so
        * the bucket layout is versioned like the column mapping: probes
        * against a time-traveled snapshot hash with the count that
        * snapshot's writer used — a probe hashed with the wrong count
        * reads the wrong bucket and silently misses. */
      nBucketsOverride: Option[Int] = None,
      /** STRING-column data skipping (Iceberg truncate(16)-style): per
        * file, per physical column, [lower, upper] bounds derived from
        * the parquet footer — lower = min truncated to 16 chars (always
        * a valid lower bound), upper = max truncated with the LAST CHAR
        * INCREMENTED (a valid upper bound for every string sharing the
        * prefix). Harvested ONLY when both footer bounds are pure ASCII:
        * parquet orders string stats by unsigned UTF-8 bytes while Java
        * compares UTF-16 code units — the orders agree on ASCII and can
        * disagree past it, and a wrong bound is a wrong query. Absence =
        * no skip, never wrong (non-ASCII corpora simply don't prune).
        * Covers the dominant string-key shapes: doc ids, ULIDs, hex
        * digests, URLs. */
      fileStrStats: Map[String, Map[String, (String, String)]] =
        Map.empty) {
    def allFiles: Seq[String] =
      (files.valuesIterator.flatten ++
        layers.iterator.flatMap(l =>
          l.ups.valuesIterator.flatten ++ l.del.valuesIterator.flatten))
        .toVector
  }

  /** One merge-on-read layer: `ups` = upsert data files per bucket
    * (rows REPLACE same-key rows below them), `del` = key-only parquet
    * files per bucket (keys deleted from that bucket — a key hashes to
    * exactly one bucket, so bucket-pruned reads skip foreign delete
    * files entirely, keeping the layered-read cost O(probed buckets)). */
  final case class DeltaLayer(version: Long, ups: Map[Int, Seq[String]],
      del: Map[Int, Seq[String]])
  /** Back-compat alias for callers that only need the replay mark. */
  final case class Meta(highWater: String)

  def readMeta(): Meta = Meta(currentManifest().map(_.highWater).getOrElse(""))

  /** Current snapshot's pinned schema (None = empty/pre-schema table) and
    * live file list — the read surface the SQL catalog plugin scans
    * through without opening a DataFrame first. */
  def currentSchema: Option[org.apache.spark.sql.types.StructType] =
    currentManifest().filter(_.schemaDdl.nonEmpty)
      .map(m => org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
  def currentFiles: Seq[String] =
    currentManifest().map(_.allFiles.map(resolved)).getOrElse(Nil)
  /** Live files grouped by bucket (resolved paths) — the group-pruned
    * read surface for row-level operations and bucket-incremental
    * consumers. */
  def currentFilesByBucket: Map[Int, Seq[String]] =
    currentManifest()
      .map(_.files.map { case (b, fs) => b -> fs.map(resolved) })
      .getOrElse(Map.empty)
  /** Same surfaces for a PINNED snapshot (catalog `VERSION AS OF`). */
  def schemaOf(version: Long): Option[org.apache.spark.sql.types.StructType] = {
    val m = readManifest(version)
    if (m.schemaDdl.isEmpty) None
    else Some(org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
  }
  def filesOf(version: Long): Seq[String] =
    readManifest(version).allFiles.map(resolved)
  /** Largest retained version whose manifest was committed at or before
    * `tsMillis` (catalog `TIMESTAMP AS OF`): manifest files are written
    * once and never touched, so their mtime IS the commit time. */
  def versionAsOfTimestamp(tsMillis: Long): Option[Long] =
    withManifestRetry {
      versions.filter { v =>
        val m = readManifest(v)
        val at = if (m.committedAtMs >= 0) m.committedAtMs
                 else Files.getLastModifiedTime(manifestPath(v)).toMillis
        at <= tsMillis
      }.lastOption
    }

  /** Manifest file entries are root-relative (rename/move-safe);
    * pre-upgrade manifests hold absolute paths — both resolve here. */
  private[graft] def resolved(f: String): String =
    if (Paths.get(f).isAbsolute) f else s"$root/$f"


  private def writeIdentity(): Unit = {
    Files.createDirectories(Paths.get(root))
    if (!exists) {
      val tmp = Paths.get(root, "_meta.json.tmp")
      val bucketColsJson =
        if (bucketCols == keyCols) ""
        else s""","bucketCols":${bucketCols.mkString("[\"", "\",\"", "\"]")}"""
      val statsColsJson =
        if (statsCols0.isEmpty) ""
        else s""","statsCols":${statsCols0.mkString("[\"", "\",\"", "\"]")}"""
      val morJson = if (mergeOnRead) s""","mergeOnRead":true""" else ""
      Files.write(tmp,
        s"""{"keyCols":${keyCols.mkString("[\"", "\",\"", "\"]")},"nBuckets":$nBuckets$bucketColsJson$statsColsJson$morJson}"""
          .getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, metaPath, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Files.list/walk return streams holding an open fd — close them. */
  private def listDir(p: Path): Seq[Path] = {
    if (!Files.exists(p)) return Vector.empty
    val st = Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.toVector
    } finally st.close()
  }
  private def walkDir(p: Path): Seq[Path] = {
    val st = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.toVector
    } finally st.close()
  }

  // ------------------------------------------------------------ manifests
  private def manifestPath(v: Long): Path =
    manifestDir.resolve(f"v$v%012d.json")

  /** Highest committed version, or None for an empty/new table. Manifest
    * writes are tmp+rename, so every listed file is complete. */
  def versions: Seq[Long] =
    listDir(manifestDir).map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong).sorted

  def currentVersion: Option[Long] = versions.lastOption

  private[sinks] def currentManifest(): Option[Manifest] =
    // list-then-open tolerant of a concurrent vacuum: manifests are
    // immutable, so a NoSuchFileException can only mean the listed
    // version was expired between the listing and the open — the
    // CURRENT version is never expired, so re-listing always converges
    withManifestRetry { currentVersion.map(readManifest) }

  /** Re-run `body` when a manifest it listed vanished underneath it (a
    * concurrent vacuum expired the version between list and open).
    * Manifests are write-once, so the exception has exactly one cause
    * and a recompute from a fresh listing is always correct; bounded so
    * a genuinely corrupt table still surfaces the error. `body` must be
    * read-only or idempotent (every maintenance op is: deletes are
    * deleteIfExists, commits CAS on the version number). */
  private[sinks] def withManifestRetry[T](body: => T): T = {
    var attempts = 0
    while (true) {
      try return body
      catch {
        case e: java.nio.file.NoSuchFileException =>
          attempts += 1
          if (attempts >= 8) throw e
          Thread.sleep(5L * attempts)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[graft] def readManifest(v: Long): Manifest = {
    val s = new String(Files.readAllBytes(manifestPath(v)),
      StandardCharsets.UTF_8)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(s)
    val files = (j \ "files").extract[Map[String, List[String]]]
      .map { case (b, fs) => b.toInt -> (fs: Seq[String]) }
    val mapping =
      (j \ "columnMapping").extractOrElse[Map[String, String]](Map.empty)
    // current format: path → col → [lo, hi]; legacy "fileStats" carried
    // leading-key-only ranges — lift them under the physical head name
    val colStats =
      (j \ "fileColStats")
        .extractOrElse[Map[String, Map[String, List[Long]]]](Map.empty)
        .map { case (p, cs) => p -> cs.collect {
          case (c, List(lo, hi)) => c -> (lo, hi) } }
    val legacy =
      (j \ "fileStats").extractOrElse[Map[String, List[Long]]](Map.empty)
    val stats =
      if (colStats.nonEmpty || legacy.isEmpty || keyCols.isEmpty) colStats
      else {
        val head = mapping.getOrElse(keyCols.head, keyCols.head)
        legacy.collect { case (p, List(lo, hi)) => p -> Map(head -> (lo, hi)) }
      }
    val layers = (j \ "layers") match {
      case JNothing => Nil
      case ls => ls.extract[List[JValue]].map { l =>
        def bucketMap(v: JValue): Map[Int, Seq[String]] = v match {
          case JNothing => Map.empty
          case m => m.extract[Map[String, List[String]]]
            .map { case (b, fs) => b.toInt -> (fs: Seq[String]) }
        }
        DeltaLayer((l \ "v").extract[Long], bucketMap(l \ "ups"),
          bucketMap(l \ "del"))
      }
    }
    val strStats =
      (j \ "fileStrStats")
        .extractOrElse[Map[String, Map[String, List[String]]]](Map.empty)
        .map { case (p, cs) => p -> cs.collect {
          case (c, List(lo, hi)) => c -> (lo, hi) } }
    Manifest(v, (j \ "highWater").extract[String], files,
      (j \ "schema").extractOrElse[String](""),
      (j \ "committedAtMs").extractOrElse[Long](-1L),
      mapping, stats, layers,
      (j \ "sameData").extractOrElse[Boolean](false),
      (j \ "nBuckets").extractOpt[Int],
      strStats)
  }

  /** Current logical → physical column mapping (empty = no renames). */
  def columnMapping: Map[String, String] =
    currentManifest().map(_.columnMapping).getOrElse(Map.empty)

  /** Current per-file, per-column [min,max] ranges keyed by RESOLVED
    * path and LOGICAL column name — the data-skipping surface the SQL
    * catalog scan prunes with (empty = no stats, nothing skips). Stats
    * persist under physical names; this translates through the current
    * name mapping so the scan's logical predicates line up. */
  def currentFileStats: Map[String, Map[String, (Long, Long)]] =
    currentManifest().map { m =>
      val toLogical = m.columnMapping.map(_.swap)
      m.fileStats.map { case (p, cs) =>
        resolved(p) -> cs.map { case (c, r) =>
          toLogical.getOrElse(c, c) -> r } }
    }.getOrElse(Map.empty)

  /** STRING-column twin of [[currentFileStats]]: per-file truncated
    * [lower, upper] bounds keyed by RESOLVED path + LOGICAL name. */
  def currentFileStrStats: Map[String, Map[String, (String, String)]] =
    currentManifest().map { m =>
      val toLogical = m.columnMapping.map(_.swap)
      m.fileStrStats.map { case (p, cs) =>
        resolved(p) -> cs.map { case (c, r) =>
          toLogical.getOrElse(c, c) -> r } }
    }.getOrElse(Map.empty)
  /** Mapping in force at a PINNED snapshot (catalog VERSION AS OF). */
  def mappingOf(version: Long): Map[String, String] =
    readManifest(version).columnMapping

  /** Publish a new snapshot: the fully-written manifest becomes visible
    * via ONE atomic hard-link creation, so readers see the file list and
    * replay high-water together — and a CONCURRENT writer that raced to
    * the same version number fails with [[ConcurrentCommitException]]
    * instead of silently clobbering the other commit (rename(2) replaces
    * without error; link(2) is exclusive — the Iceberg optimistic-
    * concurrency shape). Single-writer pipelines never hit it; a loser
    * must re-plan from the new current version because its survivors were
    * computed against a stale snapshot. (package-visible for tests) */
  private[sinks] def commitManifest(m0: Manifest): Unit = {
    writeIdentity()
    Files.createDirectories(manifestDir)
    // the name mapping is table-lineage state: every commit carries the
    // previous snapshot's mapping forward unless the committer (only
    // renameColumn) set one explicitly
    val prev = currentManifest()
    val m1a = if (m0.columnMapping.nonEmpty) m0
              else m0.copy(columnMapping =
                prev.map(_.columnMapping).getOrElse(Map.empty))
    // the bucket count is table-lineage state too: only rebucket sets it
    // explicitly; every other commit inherits the previous snapshot's —
    // losing it would silently revert write/probe hashing to the
    // creation-time count and misfile every subsequent row
    val m1 = if (m1a.nBucketsOverride.nonEmpty) m1a
             else m1a.copy(nBucketsOverride =
               prev.flatMap(_.nBucketsOverride))
    // data skipping: harvest per-column [min,max] of the stats columns
    // from the footers of this commit's NEW files, carry live entries
    // forward, drop removed ones. Capped so a giant backfill commit
    // stays O(cap): uncovered files simply never skip.
    val m = {
      val live = m1.allFiles.toSet
      val prevStats = prev.map(_.fileStats).getOrElse(Map.empty)
      val prevStrStats = prev.map(_.fileStrStats).getOrElse(Map.empty)
      // freshness is PER HARVEST KIND: a file covered by long stats but
      // not string stats (a table upgraded across the string-skipping
      // release) must still harvest its string bounds — subtracting the
      // union would freeze such files out until a rewrite. The two
      // kinds share ONE per-commit footer-read budget (a giant backfill
      // commit opens at most MaxStatsFilesPerCommit footers total), and
      // the kind that drains FIRST alternates by commit parity: a fixed
      // priority would starve the other kind forever under sustained
      // ingest of budget-sized batches of fresh files. Uncovered files
      // simply never skip until their harvest turn comes.
      val longBacklog = live -- prevStats.keySet -- m1.fileStats.keySet
      val strBacklog = live -- prevStrStats.keySet -- m1.fileStrStats.keySet
      val cap = GraftTable.MaxStatsFilesPerCommit
      val (freshLong, freshStr) =
        if (m1.version % 2 == 0) {
          val l = longBacklog.take(cap)
          (l, strBacklog.take(math.max(0, cap - l.size)))
        } else {
          val s = strBacklog.take(cap)
          (longBacklog.take(math.max(0, cap - s.size)), s)
        }
      // stats-eligible columns only (DDL type pre-check): the schema DDL
      // travels with the manifest, so an ineligible-typed key skips the
      // footer reads entirely instead of opening every file to learn
      // "no stats". Harvest keys are PHYSICAL names; integral and
      // string columns harvest into separate maps (long ranges vs
      // truncated ASCII bounds).
      val eligible = statsCols
        .filter(c => GraftTable.statsEligible(m1.schemaDdl, c))
        .map(c => m1.columnMapping.getOrElse(c, c))
      val eligibleStr = statsCols
        .filter(c => GraftTable.statsEligibleStr(m1.schemaDdl, c))
        .map(c => m1.columnMapping.getOrElse(c, c))
      val harvested =
        if (freshLong.isEmpty || eligible.isEmpty)
          Map.empty[String, Map[String, (Long, Long)]]
        else freshLong.iterator.map(p =>
            p -> GraftTable.footerRanges(resolved(p), eligible))
          .filter(_._2.nonEmpty).toMap
      val harvestedStr =
        if (freshStr.isEmpty || eligibleStr.isEmpty)
          Map.empty[String, Map[String, (String, String)]]
        else freshStr.iterator.map(p =>
            p -> GraftTable.footerStrRanges(resolved(p), eligibleStr))
          .filter(_._2.nonEmpty).toMap
      m1.copy(
        fileStats = (prevStats ++ m1.fileStats ++ harvested)
          .filter { case (p, _) => live(p) },
        fileStrStats = (prevStrStats ++ m1.fileStrStats ++ harvestedStr)
          .filter { case (p, _) => live(p) })
    }
    val filesJson = m.files.toSeq.sortBy(_._1).map { case (b, fs) =>
      s""""$b":${fs.map(f => "\"" + f + "\"").mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")
    val layersJson =
      if (m.layers.isEmpty) ""
      else m.layers.map { l =>
        def bm(m0: Map[Int, Seq[String]]) = m0.toSeq.sortBy(_._1)
          .map { case (b, fs) =>
            s""""$b":${fs.map(f => "\"" + f + "\"").mkString("[", ",", "]")}"""
          }.mkString("{", ",", "}")
        val del = if (l.del.isEmpty) "" else s""","del":${bm(l.del)}"""
        s"""{"v":${l.version},"ups":${bm(l.ups)}$del}"""
      }.mkString(""","layers":[""", ",", "]")
    val schemaJson = m.schemaDdl.replace("\\", "\\\\").replace("\"", "\\\"")
    val mappingJson =
      if (m.columnMapping.isEmpty) ""
      else m.columnMapping.toSeq.sorted.map { case (l, p) =>
        s""""$l":"$p"""" }.mkString(""","columnMapping":{""", ",", "}")
    val statsJson =
      if (m.fileStats.isEmpty) ""
      else m.fileStats.toSeq.sortBy(_._1).map { case (p, cs) =>
        s""""$p":${cs.toSeq.sorted.map { case (c, (lo, hi)) =>
          s""""$c":[$lo,$hi]""" }.mkString("{", ",", "}")}"""
      }.mkString(""","fileColStats":{""", ",", "}")
    def jstr(s: String) =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val strStatsJson =
      if (m.fileStrStats.isEmpty) ""
      else m.fileStrStats.toSeq.sortBy(_._1).map { case (p, cs) =>
        s""""$p":${cs.toSeq.sorted.map { case (c, (lo, hi)) =>
          s""""$c":[${jstr(lo)},${jstr(hi)}]""" }.mkString("{", ",", "}")}"""
      }.mkString(""","fileStrStats":{""", ",", "}")
    val sameJson = if (m.sameData) s""","sameData":true""" else ""
    val bucketsJson =
      m.nBucketsOverride.map(n => s""","nBuckets":$n""").getOrElse("")
    val body =
      s"""{"version":${m.version},"highWater":"${m.highWater}",""" +
        s""""committedAtMs":${System.currentTimeMillis()}$mappingJson$statsJson$strStatsJson$layersJson$sameJson$bucketsJson,""" +
        s""""schema":"$schemaJson","files":$filesJson}"""
    val tmp = manifestDir.resolve(s".v${m.version}-${java.util.UUID.randomUUID()}.json.tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    def alreadyCommitted(): Nothing = {
      Files.deleteIfExists(tmp)
      throw new GraftTable.ConcurrentCommitException(
        s"version ${m.version} of $root was committed by another writer; " +
          "re-read the current snapshot and retry the merge")
    }
    try Files.createLink(manifestPath(m.version), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException => alreadyCommitted()
      case _: UnsupportedOperationException |
           _: java.nio.file.FileSystemException =>
        // Filesystems without hard links (some NFS configs, object-store
        // FUSE mounts): fall back to the rename publish guarded by an
        // exists pre-check. Weaker guarantee — two writers can still race
        // between check and rename — but commits keep working everywhere.
        // A genuine I/O problem (perms, disk full) fails the move too and
        // surfaces through it.
        if (Files.exists(manifestPath(m.version))) alreadyCommitted()
        Files.move(tmp, manifestPath(m.version),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    expireOldVersions()
  }

  /** Targeted snapshot expiry (no directory scans — O(expired manifests),
    * not O(buckets)): drop manifests beyond `retainVersions` and delete
    * exactly the files they referenced that no retained manifest still
    * lists. */
  private def expireOldVersions(): Unit = withManifestRetry {
    // retry-wrapped: an external vacuum can expire a listed version
    // between this listing and the reads; all deletes are idempotent
    val vs = versions
    if (vs.size <= retainVersions) return
    val live = vs.takeRight(retainVersions)
      .flatMap(v => readManifest(v).allFiles.map(resolved)).toSet
    vs.dropRight(retainVersions).foreach { v =>
      readManifest(v).allFiles.map(resolved).filterNot(live)
        .foreach(f => Files.deleteIfExists(Paths.get(f)))
      Files.deleteIfExists(manifestPath(v))
    }
  }

  private def nextVersion: Long = currentVersion.getOrElse(-1L) + 1L

  // ------------------------------------------------------------------ read
  /** Read data files under the snapshot's pinned schema: no footer sweep,
    * and files written before a column was added surface it as null (the
    * same evolution contract the merge's unionByName provides). Pre-schema
    * manifests (`schemaDdl` empty) fall back to a mergeSchema sweep. */
  private def readFiles(spark: SparkSession, files: Seq[String],
      schemaDdl: String,
      mapping: Map[String, String] = Map.empty): DataFrame = {
    val paths = files.map(resolved)
    if (paths.isEmpty && schemaDdl.nonEmpty)
      // zero rows under the PINNED schema (post-truncate / fresh CREATE):
      // downstream projections must still resolve columns
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
    else if (paths.isEmpty) spark.emptyDataFrame
    else if (schemaDdl.nonEmpty)
      GraftTable.readUnderMapping(spark, paths, schemaDdl, mapping,
        basePath = Some(dataDir))
    else spark.read.option("mergeSchema", "true")
      .option("basePath", dataDir).parquet(paths: _*)
  }

  /** Apply a manifest's merge-on-read layers over `base`. NOT a
    * sequential per-layer fold (whose plan cost would grow with layer
    * count): layered LWW resolves in three delta-scale steps whose cost
    * is independent of chain depth —
    *   1. every key any layer touched (upsert or delete) leaves the
    *      base via ONE broadcast anti-join;
    *   2. each touched key's winner is the row from the HIGHEST layer
    *      that touched it (a row_number over the tagged layer union —
    *      delta-scale by [[GraftTable.MorDeltaMaxRows]]);
    *   3. winners that are upserts come back; winners that are delete
    *      markers stay gone.
    * `buckets` restricts BOTH the layer upsert and delete files like the
    * base read — delete keys are bucket-partitioned on write (a key
    * hashes to exactly one bucket), so a pruned read touches only the
    * probed buckets' delete files: the layered-read cost stays
    * O(probed buckets), never O(layers × table). */
  private def applyLayers(spark: SparkSession, m: Manifest, base: DataFrame,
      buckets: Option[Seq[Int]]): DataFrame = {
    if (m.layers.isEmpty) return base
    // key-only logical schema for delete files (written with physical
    // names by writeDataFiles, translated back like every data read)
    val keyDdl =
      if (m.schemaDdl.isEmpty) ""
      else org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
          .fields.filter(f => keyCols.contains(f.name))).toDDL
    val tagged = m.layers.sortBy(_.version).flatMap { l =>
      def select(bm: Map[Int, Seq[String]]): Seq[String] = buckets match {
        case Some(bs) => bs.flatMap(b => bm.getOrElse(b, Nil))
        case None     => bm.valuesIterator.flatten.toSeq
      }
      val upFiles = select(l.ups)
      val delFiles = select(l.del)
      val ups =
        if (upFiles.isEmpty) None
        else Some(readFiles(spark, upFiles, m.schemaDdl, m.columnMapping)
          .withColumn("_lv", lit(l.version))
          .withColumn("_alive", lit(true)))
      val dels =
        if (delFiles.isEmpty) None
        else Some(readFiles(spark, delFiles, keyDdl, m.columnMapping)
          .withColumn("_lv", lit(l.version))
          .withColumn("_alive", lit(false)))
      ups.toSeq ++ dels.toSeq
    }
    if (tagged.isEmpty) return base
    val all = tagged.reduce(_.unionByName(_, allowMissingColumns = true))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("_lv").desc)
    val winners = all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("_alive"))
      .drop("_lv", "_alive", "_rn")
    val touched = all.select(keyCols.map(col): _*).distinct()
    base.join(broadcast(touched), keyCols, "left_anti")
      .unionByName(winners, allowMissingColumns = true)
  }

  /** The one snapshot read everything flows through: base files of the
    * requested buckets (all when None) + the layer fold. */
  private def readSnapshot(spark: SparkSession, m: Manifest,
      buckets: Option[Seq[Int]]): DataFrame = {
    val baseFiles = buckets match {
      case Some(bs) => bs.flatMap(b => m.files.getOrElse(b, Nil))
      case None     => m.files.valuesIterator.flatten.toSeq
    }
    applyLayers(spark, m,
      readFiles(spark, baseFiles, m.schemaDdl, m.columnMapping), buckets)
  }

  def read(spark: SparkSession): DataFrame =
    currentManifest() match {
      case None    => spark.emptyDataFrame
      case Some(m) => readSnapshot(spark, m, None).drop("_bucket")
    }

  /** Time travel: the table as of snapshot `version` (Iceberg
    * `VERSION AS OF`). Readable until `vacuum` expires the version. */
  def readVersion(spark: SparkSession, version: Long): DataFrame = {
    val m = readManifest(version)
    readSnapshot(spark, m, None).drop("_bucket")
  }

  private def readBuckets(spark: SparkSession, m: Manifest,
      buckets: Seq[Int]): DataFrame =
    readSnapshot(spark, m, Some(buckets))

  /** Point lookup: rows for one key, scanning ONLY the key's bucket
    * (1/nBuckets of the table via manifest pruning; within the bucket,
    * key-sorted files let parquet skip row groups on min/max stats).
    * `keyValues` aligns with `keyCols`. */
  def lookup(spark: SparkSession, keyValues: Seq[Any]): DataFrame = {
    require(keyValues.length == keyCols.length,
      s"expected ${keyCols.length} key values, got ${keyValues.length}")
    val m = currentManifest().getOrElse(return spark.emptyDataFrame)
    if (m.allFiles.isEmpty) return spark.emptyDataFrame
    // same hash the writer used → same bucket id; lit() must be CAST to
    // the STORED column type (hash(42L: long) != hash(42: int)). Schema
    // probe over BASE files only: layer upserts share the schema; layer
    // delete-key files sit in the same _bucket=N dirs but are KEY-ONLY —
    // including them would poison the type probe with a partial schema.
    val schemaFiles = {
      val bf = m.files.valuesIterator.flatten.toSeq
      if (bf.nonEmpty) bf
      else m.layers.flatMap(_.ups.valuesIterator.flatten).toSeq
    }
    if (schemaFiles.isEmpty) return spark.emptyDataFrame
    val base = readFiles(spark, schemaFiles, m.schemaDdl, m.columnMapping)
    val types = base.schema.fields.map(f => f.name -> f.dataType).toMap
    val typedLits = keyCols.zip(keyValues).map { case (c, v) =>
      lit(v).cast(types(c)) }
    val byCol = keyCols.zip(typedLits).toMap
    val bucket = spark.range(1)
      .select(pmod(hash(bucketCols.map(byCol): _*), lit(bucketsOf(Some(m))))
        .cast("int"))
      .head().getInt(0)
    // data skipping: inside the bucket, drop files whose leading-key
    // range excludes the probe (append-heavy buckets hold many files;
    // monotone keys make their ranges disjoint). Stat-less files are
    // always kept — skipping is an optimization, never a filter.
    val pruned = keyValues.head match {
      case n: Number if m.fileStats.nonEmpty =>
        val k = n.longValue
        val head = m.columnMapping.getOrElse(keyCols.head, keyCols.head)
        m.copy(files = m.files.updatedWith(bucket)(_.map(_.filter(p =>
          m.fileStats.get(p).flatMap(_.get(head))
            .forall { case (lo, hi) => k >= lo && k <= hi }))))
      case s: String if m.fileStrStats.nonEmpty =>
        // string keys prune on the truncated [lower, upper] bounds
        val head = m.columnMapping.getOrElse(keyCols.head, keyCols.head)
        m.copy(files = m.files.updatedWith(bucket)(_.map(_.filter(p =>
          m.fileStrStats.get(p).flatMap(_.get(head))
            .forall { case (lo, hi) => s >= lo && s <= hi }))))
      case _ => m
    }
    keyCols.zip(typedLits).foldLeft(readBuckets(spark, pruned, Seq(bucket))) {
        case (df, (c, v)) => df.filter(col(c) === v)
      }
      .drop("_bucket")
  }

  /** Bucket-pruned read for a probe set: scans only the buckets some
    * probe row hashes into — the secondary-index read path (O(probed
    * buckets), never O(table)). `probe` must carry the [[bucketCols]]
    * with the STORED column types (the writer hashed typed values); it
    * should be delta-scale — its bucket ids collapse to ≤ [[nBuckets]]
    * distinct ints (a metadata-scale collect), and the caller still
    * joins the result against the probe to drop same-bucket strangers. */
  def readForProbe(spark: SparkSession, probe: DataFrame): DataFrame = {
    val m = currentManifest().getOrElse(return spark.emptyDataFrame)
    if (m.allFiles.isEmpty) return spark.emptyDataFrame
    val buckets = probe
      .select(bucketExpr(bucketsOf(Some(m))).cast("int").as("_b"))
      .distinct().collect().map(_.getInt(0)).toIndexedSeq
    readBuckets(spark, m, buckets).drop("_bucket")
  }

  // ----------------------------------------------------------------- write
  /** Bucket count in force at snapshot `m` (creation-time [[nBuckets]]
    * unless a [[rebucket]] override is recorded). */
  private def bucketsOf(m: Option[Manifest]): Int =
    m.flatMap(_.nBucketsOverride).getOrElse(nBuckets)

  /** Bucket count of the CURRENT snapshot (staged group overlay
    * included) — the value external writers (catalog INSERT, follow
    * planner) must hash with; `nBuckets` itself is only the
    * creation-time default. */
  def currentNBuckets: Int = bucketsOf(effectiveManifest())

  /** Bucket count in force at a PINNED snapshot — the count a
    * `VERSION AS OF` scan's files were laid out with. A time-travel
    * scan must report THIS to storage-partitioned-join planning, not
    * [[currentNBuckets]]: after a rebucket the two differ, and claiming
    * the new count over the old layout would let an SPJ join silently
    * drop matching rows instead of shuffling. */
  def nBucketsOf(version: Long): Int = bucketsOf(Some(readManifest(version)))

  private def bucketExpr(n: Int) =
    pmod(hash(bucketCols.map(col): _*), lit(n))

  /** Write `df` (already carrying _bucket) as immutable data files and
    * return bucket → new file paths. Files are staged by Spark, then moved
    * into the bucket dirs under fresh UUID names — never visible to any
    * manifest until the commit that references them. */
  private def writeDataFiles(df0: DataFrame, parts: Int,
      rangeCols: Seq[String] = Nil,
      oneTask: Boolean = false): Map[Int, Seq[String]] = {
    // data files ALWAYS carry physical column names: a renamed column
    // keeps its creation-time name on disk (columnMapping translates on
    // read), so every file of the table agrees regardless of rename
    // history — no footer rewrites, no per-file mapping
    val toPhysical = effectiveManifest().map(_.columnMapping)
      .getOrElse(Map.empty)
      .filter { case (l, p) => l != p && df0.columns.contains(l) }
    val df = if (toPhysical.isEmpty) df0 else df0.withColumnsRenamed(toPhysical)
    // from here down the frame carries PHYSICAL names — key references
    // must translate too (a renamed KEY column has logical ≠ physical)
    val physKeys = keyCols.map(k => toPhysical.getOrElse(k, k))
    val stage = s"$root/.stage-${java.util.UUID.randomUUID()}"
    // default: hash on _bucket (one file per bucket). oneTask: one
    // task writes every bucket, in _bucket order (still one file per
    // bucket, no shuffle). rangeCols: range partition instead —
    // contiguous (e.g. z-order) spans become the files; helper columns
    // beyond _bucket are dropped before writing
    val shaped = rangeCols match {
      case Nil if oneTask => df.coalesce(1)
      case Nil => df.repartition(parts, col("_bucket"))
      case rs  => df.repartitionByRange(parts, rs.map(col): _*)
        .drop(rs.filterNot(_ == "_bucket").filterNot(physKeys.contains): _*)
    }
    shaped
      .sortWithinPartitions(("_bucket" +: physKeys).map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(stage)
    val out = scala.collection.mutable.Map.empty[Int, Seq[String]]
    listDir(Paths.get(stage))
      .filter(_.getFileName.toString.startsWith("_bucket="))
      .foreach { bdir =>
        val b = bdir.getFileName.toString.stripPrefix("_bucket=").toInt
        val dst = Paths.get(dataDir, s"_bucket=$b")
        Files.createDirectories(dst)
        val moved = listDir(bdir)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map { f =>
            val name = s"${java.util.UUID.randomUUID()}.parquet"
            Files.move(f, dst.resolve(name), StandardCopyOption.ATOMIC_MOVE)
            // manifests record paths RELATIVE to the table root: the
            // table stays valid across directory renames / warehouse
            // moves (catalog RENAME TABLE is a plain dir move). Absolute
            // entries from older manifests still resolve via [[resolved]].
            s"data/_bucket=$b/$name"
          }
        if (moved.nonEmpty) out(b) = moved
      }
    deleteRecursively(Paths.get(stage))
    out.toMap
  }

  /** Union of the written payload schema with the previous snapshot's
    * pinned schema: carried (untouched) buckets may hold columns absent
    * from this batch, and those must stay visible. Written fields take
    * precedence on name collision for the TYPE (type evolution follows
    * the writer), but nullability only WIDENS implicitly: a batch that
    * happens to contain no nulls must not narrow a nullable column to
    * required — carried files may hold nulls or lack the column
    * entirely, and a required-but-missing column fails the vectorized
    * parquet reader outright. Narrowing is an explicit ALTER
    * ([[evolveSchema]]) decision. Returns "" — i.e. stay in
    * mergeSchema-fallback mode — when the previous manifest predates
    * schema pinning AND files carry over (their union is unknowable
    * without a footer sweep). */
  private def nextSchemaDdl(current: Option[Manifest],
      carried: Map[Int, Seq[String]],
      written: org.apache.spark.sql.types.StructType): String = {
    import org.apache.spark.sql.types.StructType
    val w = StructType(written.fields.filterNot(_.name == "_bucket"))
    current match {
      case None => w.toDDL
      case Some(m) if m.schemaDdl.nonEmpty =>
        val old = StructType.fromDDL(m.schemaDdl)
        val oldByName = old.fields.map(f => f.name -> f).toMap
        val names = w.fieldNames.toSet
        val evolved = w.fields.map { f =>
          oldByName.get(f.name) match {
            case Some(o) => f.copy(nullable = f.nullable || o.nullable)
            case None    => f
          }
        }
        // old columns absent from this write: the new files don't carry
        // them at all, so they are nullable in practice from now on
        StructType(evolved ++ old.fields.filterNot(f => names(f.name))
          .map(_.copy(nullable = true))).toDDL
      case Some(_) =>
        if (carried.valuesIterator.forall(_.isEmpty)) w.toDDL else ""
    }
  }

  /** Full (re)load — snapshot backfill path (drop_table_for_copy + copy,
    * reference table_sync). One snapshot commit; the replay mark resets. */
  def overwrite(df: DataFrame): Unit = {
    val n = currentNBuckets
    val files = writeDataFiles(df.withColumn("_bucket", bucketExpr(n)), n)
    publish(Manifest(nextVersion, "", files,
      nextSchemaDdl(None, Map.empty, df.schema)))
  }

  /** Plain APPEND (INSERT INTO path, Iceberg-append shape): new files
    * join their buckets' live lists; no key merge, no replay-mark change.
    * Keys may now appear in several files of a bucket — reads concatenate,
    * [[merge]] rewrites whole buckets so CDC semantics are unaffected, and
    * [[compact]] restores one-file-per-bucket. */
  def append(df: DataFrame): Unit = {
    // appended base files must not be shadowed by older layers' delete
    // keys (the fold applies layers over ALL base files) — clean base first
    if (effectiveManifest().exists(_.layers.nonEmpty)) {
      require(groupState.isEmpty,
        s"$root has merge-on-read layers inside an open group: " +
          "collapseLayers before beginGroup to append")
      collapseLayers(df.sparkSession)
    }
    val cur = effectiveManifest()
    val n = bucketsOf(cur)
    val files = writeDataFiles(df.withColumn("_bucket", bucketExpr(n)), n)
    val curFiles = cur.map(_.files).getOrElse(Map.empty)
    val merged = (curFiles.keySet ++ files.keySet).map(b =>
      b -> (curFiles.getOrElse(b, Nil) ++ files.getOrElse(b, Nil))).toMap
    publish(Manifest(nextVersion, cur.map(_.highWater).getOrElse(""),
      merged, nextSchemaDdl(cur, curFiles, df.schema)))
  }

  /** Commit ALREADY-WRITTEN data files (root-relative paths, laid out in
    * the bucket dirs by a native DSv2 writer) as an append snapshot —
    * the zero-move INSERT INTO path: executors streamed the files to
    * their final locations, invisible until this one manifest publish
    * references them. `writtenSchema` evolves the pinned schema like a
    * normal append. */
  def appendFiles(files: Map[Int, Seq[String]],
      writtenSchema: org.apache.spark.sql.types.StructType): Unit = {
    require(effectiveManifest().forall(_.layers.isEmpty),
      s"$root has merge-on-read layers: collapseLayers before appendFiles")
    val cur = effectiveManifest()
    val curFiles = cur.map(_.files).getOrElse(Map.empty)
    val merged = (curFiles.keySet ++ files.keySet).map(b =>
      b -> (curFiles.getOrElse(b, Nil) ++ files.getOrElse(b, Nil))).toMap
    publish(Manifest(nextVersion, cur.map(_.highWater).getOrElse(""),
      merged, nextSchemaDdl(cur, curFiles, writtenSchema)))
  }

  /** Commit already-written files as a FULL RELOAD snapshot (INSERT
    * OVERWRITE): previous contents drop, the replay mark resets. */
  def overwriteFiles(files: Map[Int, Seq[String]],
      writtenSchema: org.apache.spark.sql.types.StructType): Unit =
    publish(Manifest(nextVersion, "", files,
      nextSchemaDdl(None, Map.empty, writtenSchema)))

  /** Schema evolution without data movement (ALTER TABLE path): publish a
    * data-identical snapshot whose pinned schema is `f(current)`. Files
    * written before an added column surface it as null; a dropped column
    * simply leaves the read schema. */
  def evolveSchema(f: org.apache.spark.sql.types.StructType
      => org.apache.spark.sql.types.StructType): Unit = {
    require(groupState.isEmpty, "close the open group before evolveSchema")
    val cur = currentManifest().getOrElse(Manifest(-1L, "", Map.empty))
    require(cur.schemaDdl.nonEmpty,
      s"$root has no pinned schema to evolve (pre-schema manifest)")
    val next = f(org.apache.spark.sql.types.StructType.fromDDL(cur.schemaDdl))
    commitManifest(Manifest(nextVersion, cur.highWater, cur.files, next.toDDL,
      layers = cur.layers))
  }

  /** RENAME COLUMN with data in place (reference capability: rename
    * propagation through SchemaDiff → destination ALTER,
    * crates/etl/src/schema.rs:729-762): publishes a data-identical
    * snapshot whose logical schema carries the new name while
    * [[Manifest.columnMapping]] records the on-disk (physical) name —
    * existing files read correctly with zero data movement, and future
    * writes keep producing the physical name. BUCKET KEYS rename too
    * (the reference renames ANY column, PK included — its destinations
    * key merges off the schema version, bigquery/core.rs:803-946):
    * bucket routing hashes key VALUES and files store the PHYSICAL
    * name, so a key rename is the same zero-movement mapping commit —
    * `_meta.json` keeps the creation-time (physical) key names and
    * [[GraftTable.open]] translates them through the mapping, while a
    * live handle constructed with the OLD logical key must be reopened
    * (CurrentStateSink drops its cached handle after a key rename).
    * Renaming TO a name another column uses on disk is refused —
    * physical names must stay unique or time travel turns ambiguous.
    * graft-follow followers mirror renames automatically via the
    * follow stream's control row (GraftFollower.mirrorRenames). */
  def renameColumn(from: String, to: String): Unit = {
    require(groupState.isEmpty, "close the open group before renameColumn")
    val cur = currentManifest().getOrElse(throw new IllegalStateException(
      s"$root has no committed schema to rename in"))
    require(cur.schemaDdl.nonEmpty,
      s"$root has no pinned schema (pre-schema manifest)")
    val logical = org.apache.spark.sql.types.StructType.fromDDL(cur.schemaDdl)
    require(logical.fieldNames.contains(from), s"no such column: $from")
    require(!logical.fieldNames.contains(to),
      s"column already exists: $to")
    val physInUse = logical.fieldNames.iterator.filter(_ != from)
      .map(n => cur.columnMapping.getOrElse(n, n)).toSet
    require(!physInUse.contains(to),
      s"cannot rename $from to $to: another column is stored as '$to' on disk")
    val next = org.apache.spark.sql.types.StructType(logical.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val mapping = (cur.columnMapping - from) +
      (to -> cur.columnMapping.getOrElse(from, from))
    commitManifest(Manifest(nextVersion, cur.highWater, cur.files,
      next.toDDL, columnMapping = mapping, layers = cur.layers))
  }

  /** IDEMPOTENT destination-DDL planner — the analog of the reference's
    * interrupted-schema-change recovery (crates/etl-destinations/src/
    * recovery.rs:12-33: reconstruct enough previous-schema state that an
    * idempotent DDL planner can re-apply a crashed change): given the
    * TARGET logical schema and the rename intents that produce it, diff
    * against the CURRENT pinned schema and apply ONLY what is missing.
    * A schema change is two commits here (name-mapping rename, then the
    * evolve) — not atomic, but RECOVERABLE: a crash between them (or
    * before either, or after both) converges by re-running the same
    * plan, because every step checks live state first and replays as a
    * no-op. Validation matches the SQL ALTER path: bucket keys cannot
    * be renamed, dropped, or retyped; with data, type changes must
    * widen (up-cast) and adds must not collide with a physical name
    * still occupied on disk. */
  def applyDdlPlan(target: org.apache.spark.sql.types.StructType,
      renames: Map[String, String] = Map.empty): Unit = {
    require(groupState.isEmpty, "close the open group before applyDdlPlan")
    val cur0 = currentManifest().getOrElse(throw new IllegalStateException(
      s"$root has no committed schema to evolve"))
    require(cur0.schemaDdl.nonEmpty,
      s"$root has no pinned schema (pre-schema manifest)")
    renames.foreach { case (from, to) =>
      require(target.fieldNames.contains(to),
        s"rename target $to is absent from the target schema")
    }
    val hasData = cur0.allFiles.nonEmpty
    // phase 1: renames still pending (each one a mapping commit); a
    // rename a previous run already landed skips. Empty tables skip the
    // mapping entirely — no files carry the old name, so the evolve
    // below writes the target names directly.
    renames.foreach { case (from, to) =>
      val logical = org.apache.spark.sql.types.StructType
        .fromDDL(currentManifest().get.schemaDdl).fieldNames.toSet
      (logical(from), logical(to)) match {
        case (true, false) => if (hasData) renameColumn(from, to)
        case (false, true) => () // already applied before the crash
        case (true, true) => throw new IllegalStateException(
          s"rename $from -> $to is ambiguous: both columns exist")
        case (false, false) => throw new IllegalStateException(
          s"rename $from -> $to is unresolvable: neither column exists")
      }
    }
    // phase 2: ONE data-identical evolve to the target — a no-op when
    // the previous run completed
    val cur = org.apache.spark.sql.types.StructType
      .fromDDL(currentManifest().get.schemaDdl)
    if (cur != target) {
      val curBy = cur.fields.map(f => f.name -> f).toMap
      val tgtBy = target.fields.map(f => f.name -> f).toMap
      // key names as of the TARGET: this handle's keyCols may predate a
      // key rename phase 1 just landed (or may already carry the new
      // name when the caller re-derived keys before the DDL) — follow
      // the rename in whichever direction resolves
      keyCols.map(k => renames.getOrElse(k, k)).foreach { k =>
        require(tgtBy.contains(k), s"cannot drop bucket key $k")
        require(curBy.get(k).forall(_.dataType == tgtBy(k).dataType),
          s"cannot change the type of bucket key $k " +
            "(bucket routing is type-sensitive)")
      }
      val mapping = cur0.columnMapping
      val physInUse = cur.fieldNames.iterator
        .map(n => mapping.getOrElse(n, n)).toSet ++ mapping.values
      target.fields.foreach { f =>
        curBy.get(f.name) match {
          case Some(c) if c.dataType != f.dataType =>
            require(!hasData ||
              org.apache.spark.sql.catalyst.expressions.Cast
                .canUpCast(c.dataType, f.dataType),
              s"cannot change ${f.name} from ${c.dataType.simpleString} " +
                s"to ${f.dataType.simpleString} on a table with data: " +
                "only widening (up-cast) reads are safe")
          case None =>
            require(!hasData || !physInUse.contains(f.name),
              s"cannot add column ${f.name}: a renamed column is (or " +
                s"was) stored as '${f.name}' on disk")
          case _ => ()
        }
      }
      evolveSchema(_ => target)
    }
  }

  // ----------------------------------------------------------- group commit
  /** Open snapshot group (None = every write publishes immediately).
    * Holds the PENDING manifest the next write builds on. */
  private var groupState: Option[Manifest] = None

  /** Begin a GROUP COMMIT (the Iceberg grouped-commit shape the roadmap
    * called out): subsequent overwrite/append/merge/truncate calls stage
    * their data files and manifest deltas without publishing — readers
    * keep seeing the pre-group snapshot — until [[commitGroup]] publishes
    * everything as ONE snapshot version. For bulk multi-batch loads
    * (chunked backfills, replaying a spool) this turns N manifest
    * publishes + N retention sweeps into one.
    *
    * Durability contract: staged writes are NOT durable until
    * commitGroup returns — callers that checkpoint progress (a streaming
    * sink) must checkpoint AFTER commitGroup, never between group
    * members. A crash mid-group loses only the uncommitted group; its
    * orphaned data files are reclaimed by [[vacuum]]. */
  def beginGroup(): Unit = {
    require(groupState.isEmpty, s"group already open on $root")
    groupState = Some(currentManifest().getOrElse(Manifest(-1L, "", Map.empty)))
  }

  /** Publish the open group as one snapshot. No-op group (no writes since
    * beginGroup) publishes nothing. */
  def commitGroup(): Unit = {
    val g = groupState.getOrElse(
      throw new IllegalStateException(s"no open group on $root"))
    groupState = None
    if (g.version == -2L) // marker: at least one write staged
      commitManifest(Manifest(nextVersion, g.highWater, g.files, g.schemaDdl,
        columnMapping = g.columnMapping, layers = g.layers))
  }

  /** Drop the open group; staged files become orphans for [[vacuum]]. */
  def abortGroup(): Unit = groupState = None

  /** The manifest writes build on: the staged group overlay when a group
    * is open (version -1 = group opened on an empty table, nothing staged
    * yet → behaves as no manifest), else the published current. */
  private def effectiveManifest(): Option[Manifest] = groupState match {
    case Some(g) => if (g.version == -1L) None else Some(g)
    case None    => currentManifest()
  }

  /** Route a finished write: stage into the group (version -2 marks the
    * group dirty) or publish immediately. The staged overlay carries the
    * column name mapping forward explicitly (commitManifest does this
    * for direct publishes): without it, a post-rename group's SECOND
    * write would see an empty mapping through effectiveManifest and
    * write logical-named files that the final committed mapping then
    * mistranslates. */
  private def publish(m: Manifest): Unit = groupState match {
    case Some(_) =>
      val mapping =
        if (m.columnMapping.nonEmpty) m.columnMapping
        else effectiveManifest().map(_.columnMapping).getOrElse(Map.empty)
      // the bucket-count override must stay visible through the staged
      // overlay too, or the group's SECOND write would hash with the
      // stale creation-time count
      val nOv = m.nBucketsOverride
        .orElse(effectiveManifest().flatMap(_.nBucketsOverride))
      groupState = Some(m.copy(version = -2L, columnMapping = mapping,
        nBucketsOverride = nOv))
    case None    => commitManifest(m)
  }

  /** MERGE a deduped CDC batch. `batch` must contain the table's payload
    * columns plus `_op` (I/U/D) and `_seq` (packed sortable sequence string,
    * SequenceKey.packedHex) and at most one row per key (run
    * ApplyOps.lastWriterWins first). Manifest-pruned copy-on-write:
    * only buckets containing batch keys get new files; the commit is one
    * atomic manifest publish.
    */
  def merge(batch: DataFrame): Unit = merge(batch, Seq.empty)

  /** Like [[merge]], with TOAST-partial handling (ST6, reference
    * table_row.rs:68-143 + SURVEY §7.5.4): a NULL in a `coalesceCols`
    * column of an UPDATE means "unchanged" — the merged row keeps the
    * current stored value (`coalesce(new, old)`), the column-pruned
    * `UPDATE SET` the DuckLake destination performs. Costs one extra
    * left join of the batch against the affected buckets. */
  def merge(batch: DataFrame, coalesceCols: Seq[String]): Unit =
    merge(batch, coalesceCols, skipReplayFilter = false)

  /** `skipReplayFilter = true` is for callers that already applied the
    * high-water filter themselves (e.g. a sink splitting one deduped
    * batch into per-missing-mask groups: the groups' sequence ranges
    * interleave, so filtering group N against group N-1's advanced mark
    * would wrongly drop disjoint keys). */
  def merge(batch: DataFrame, coalesceCols: Seq[String],
      skipReplayFilter: Boolean): Unit =
    merge(batch, coalesceCols, skipReplayFilter, advanceHw = true)

  /** One-time (per handle) sweep of stale `.stage-*` dirs — crash
    * debris from hard-killed writers otherwise accumulates until a
    * `vacuum` runs, and a crash-looping deployment (restart → stage →
    * die before commit) can fill the volume before maintenance ever
    * gets a lease. Age-gated exactly like vacuum's catch-all sweep: a
    * rival writer's IN-FLIGHT stage dir is younger than
    * [[GraftTable.OrphanSweepMinAgeMs]] and is left alone. */
  private lazy val staleStageSweep: Unit = {
    val cutoff = System.currentTimeMillis() - GraftTable.OrphanSweepMinAgeMs
    try listDir(Paths.get(root))
      .filter { p =>
        p.getFileName.toString.startsWith(".stage-") &&
          (try Files.getLastModifiedTime(p).toMillis < cutoff
           catch { case _: java.io.IOException => false })
      }
      .foreach(deleteRecursively)
    catch { case _: java.io.IOException => () } // sweep is best-effort
  }

  /** `advanceHw = false` defers the high-water advance to the caller
    * (see [[advanceHighWater]]): a sink applying one batch as several
    * merge groups must move the mark only after ALL groups are durable,
    * or a crash between groups + checkpoint replay would filter the
    * unapplied groups out forever. */
  def merge(batch: DataFrame, coalesceCols: Seq[String],
      skipReplayFilter: Boolean, advanceHw: Boolean): Unit =
    merge(batch, coalesceCols, skipReplayFilter, advanceHw,
      GraftTable.CowLanes())

  /** [[merge]] with the copy-on-write lane bounds given: a
    * package-private seam, so specs can force either side of each lane. */
  private[graft] def merge(batch: DataFrame, coalesceCols: Seq[String],
      skipReplayFilter: Boolean, advanceHw: Boolean,
      lanes: GraftTable.CowLanes): Unit = {
    staleStageSweep
    val spark = batch.sparkSession
    val current = effectiveManifest()
    // group merges cannot take the MoR path (group commits splice bucket
    // maps) and the CoW fallback would die inside collapseLayers with a
    // message about the open group — fail up front with the real rule
    require(groupState.isEmpty || current.forall(_.layers.isEmpty),
      "merge inside an open group is unsupported on a layered table: " +
        "collapseLayers before beginGroup")
    val hw = current.map(_.highWater).getOrElse("")
    // Idempotent-replay guard: drop events at or below the high-water mark.
    val fresh0 = if (skipReplayFilter || hw.isEmpty) batch
                 else batch.filter(col("_seq") > lit(hw))
    val nB = bucketsOf(current)
    val fresh = fresh0.withColumn("_bucket", bucketExpr(nB))
    // Two lanes. MERGE-ON-READ-eligible merges (the 100 TB steady-state
    // destination shape) stage the batch ONCE, partitioned by
    // (_bucket, _op), stats observed DURING the write — the staged
    // files ARE the delta-layer (or bootstrap base) files, so the whole
    // merge is ONE Spark job and the commit is file moves (the apply
    // loop used to pay a stats job + 1-2 write jobs per merge; the
    // reference pipelines its flush for the same reason,
    // apply.rs:1280-1350). COPY-ON-WRITE merges collect the batch
    // instead (or cache it, past the local cap): their rewrite never
    // adopts staged files, so a parquet stage would be pure
    // encode/decode overhead on every micro-batch (measured 1.5-2.5× on
    // the d1/st2 gates).
    if (mergeOnRead && coalesceCols.isEmpty && groupState.isEmpty)
      mergeStaged(spark, current, hw, nB, fresh0, fresh, advanceHw,
        lanes.oneTaskBelowBytes)
    else
      mergeCopyOnWrite(spark, current, hw, nB, fresh, coalesceCols,
        advanceHw, lanes)
  }

  /** The copy-on-write merge lane. A batch of at most
    * [[GraftTable.LocalBatchMaxRows]] rows and
    * [[GraftTable.LocalBatchMaxBytes]] is collected ONCE
    * ([[GraftLocalBridge.collectBounded]], which gives up past either
    * bound): the driver reads the high-water mark and the affected
    * buckets off those rows, and the rewrite plans its keys and upserts
    * over them with their exact size ([[GraftLocalBridge.localFrame]]),
    * so the keys are broadcast. No cache, no stats job, and the merge is
    * two SQL executions: the collect and the write. A larger batch is
    * cached and one stats job reads the same facts; it is the only lane
    * for a batch the driver cannot hold. */
  private def mergeCopyOnWrite(spark: SparkSession,
      current: Option[Manifest], hw: String, nB: Int, fresh: DataFrame,
      coalesceCols: Seq[String], advanceHw: Boolean,
      lanes: GraftTable.CowLanes): Unit = {
    val local =
      if (lanes.localMaxRows <= 0) None
      else GraftLocalBridge.collectBounded(fresh, lanes.localMaxRows,
        lanes.localMaxBytes)
    local match {
      case Some(rows) =>
        val seqIx = fresh.schema.fieldIndex("_seq")
        val bucketIx = fresh.schema.fieldIndex("_bucket")
        var high: UTF8String = null // max(_seq): binary order, as Spark's max
        val buckets = scala.collection.mutable.SortedSet.empty[Int]
        rows.foreach { r =>
          if (!r.isNullAt(seqIx)) {
            val s = r.getUTF8String(seqIx)
            if (high == null || s.compareTo(high) > 0) high = s
          }
          buckets += r.getInt(bucketIx)
        }
        if (high == null) return // empty batch (full replay)
        mergeRows(spark, current, hw, nB,
          GraftLocalBridge.localFrame(spark, fresh.schema, rows),
          high.toString, buckets.toSeq, coalesceCols, advanceHw,
          Some(rows.iterator.map(_.getSizeInBytes.toLong).sum),
          lanes.oneTaskBelowBytes)
      case None =>
        val cached = fresh.cache()
        try {
          // one job computes emptiness + high-water + affected buckets
          val stats = cached.agg(max(col("_seq")).as("hw"),
            collect_set(col("_bucket")).as("buckets"))
            .collect()(0)
          if (stats.isNullAt(0)) return // empty batch (full replay)
          // the batch's size is unknown here: never a one-task rewrite
          mergeRows(spark, current, hw, nB, cached, stats.getString(0),
            stats.getSeq[Int](1).sorted, coalesceCols, advanceHw, None,
            lanes.oneTaskBelowBytes)
        } finally cached.unpersist()
    }
  }

  /** The copy-on-write merge of one deduped batch `fresh` (with `_op`,
    * `_seq` and `_bucket`) whose high-water mark and affected buckets
    * are known: the bootstrap write or the survivors ∪ upserts bucket
    * rewrite. A layered snapshot collapses first and the SAME batch
    * merges again, so the batch is never read twice. */
  private def mergeRows(spark: SparkSession, current0: Option[Manifest],
      hw: String, nB: Int, fresh: DataFrame, newHigh0: String,
      buckets: Seq[Int], coalesceCols: Seq[String], advanceHw: Boolean,
      batchBytes: Option[Long], oneTaskBelowBytes: Long): Unit = {
    // bootstrap when the affected buckets hold no prior state: no
    // survivors to join against — write the upserts directly
    @annotation.tailrec
    def attempt(current: Option[Manifest]): Unit = {
      if (!holdsState(current, buckets)) {
        val upserts = fresh.filter(col("_op") =!= "D").drop("_op", "_seq")
        val files = writeDataFiles(upserts,
          math.min(nB, math.max(1, buckets.size)))
        val carried = current.map(_.files -- buckets).getOrElse(Map.empty)
        publish(Manifest(nextVersion, advancedHw(hw, newHigh0, advanceHw),
          carried ++ files,
          nextSchemaDdl(current, carried, upserts.schema),
          layers = current.map(_.layers).getOrElse(Nil)))
      } else if (current.exists(_.layers.nonEmpty)) {
        // copy-on-write path on a layered snapshot: partial bucket
        // rewrites cannot coexist with global layers (remaining layers
        // would re-apply stale deletes to the rewritten buckets), so
        // collapse to a clean base first, then merge normally
        collapseLayers(spark)
        attempt(effectiveManifest())
      } else {
        val m = current.get
        rewriteBuckets(spark, m, fresh.drop("_seq"), buckets, nB,
          coalesceCols, advancedHw(m.highWater, newHigh0, advanceHw),
          batchBytes, oneTaskBelowBytes)
      }
    }
    attempt(current0)
  }

  /** The copy-on-write bucket rewrite both merge lanes share: the
    * affected buckets' survivors (stored rows whose key is not in
    * `batch`) ∪ the batch's upserts, one file per bucket sorted on
    * (_bucket, keys), published with mark `highWater`. `batch` carries
    * the payload, `_op` and `_bucket`. When both the buckets' live
    * bytes and the batch (`batchBytes`; None = unknown) are under
    * `oneTaskBelowBytes` the rewrite runs as ONE task: no shuffle, so
    * the batch scan, the anti join and the write are one stage. Any
    * other rewrite hash-partitions on _bucket over min(nB, buckets)
    * tasks. The files are the same either way. */
  private def rewriteBuckets(spark: SparkSession, m: Manifest,
      batch: DataFrame, buckets: Seq[Int], nB: Int,
      coalesceCols: Seq[String], highWater: String,
      batchBytes: Option[Long], oneTaskBelowBytes: Long): Unit = {
    val currentDf = readBuckets(spark, m, buckets)
    // survivors: current rows whose key is NOT in the batch. No
    // broadcast hint: an admission-capped CDC batch is small and AQE
    // broadcasts it anyway, but a backfill-sized merge must be able
    // to fall back to a shuffled anti join instead of OOMing the
    // driver on a forced broadcast.
    val keys = batch.select(keyCols.map(col): _*)
    val survivors = currentDf.join(keys, keyCols, "left_anti")
    val upserts0 = batch.filter(col("_op") =!= "D")
    val upserts =
      if (coalesceCols.isEmpty) upserts0.drop("_op")
      else {
        // TOAST coalesce: null update columns inherit the stored value
        val cur = currentDf.select(
          (keyCols.map(col) ++ coalesceCols.map(c => col(c).as(s"_cur_$c")))
            .toIndexedSeq: _*)
        val joined = upserts0.join(cur, keyCols, "left")
        coalesceCols.foldLeft(joined) { (acc, c) =>
          acc.withColumn(c, when(col("_op") === "U",
            coalesce(col(c), col(s"_cur_$c"))).otherwise(col(c)))
        }.drop(coalesceCols.map(c => s"_cur_$c"): _*).drop("_op")
      }
    // allowMissingColumns = online schema evolution (the ALTER TABLE
    // analog, reference SchemaDiff → destination ALTER): an added
    // column is null for pre-DDL rows, a dropped column stays null
    val merged = survivors.unionByName(upserts, allowMissingColumns = true)
    val newFiles = writeDataFiles(merged,
      math.min(nB, math.max(1, buckets.size)),
      oneTask = batchBytes.exists(_ < oneTaskBelowBytes) &&
        affectedBaseBytes(m, buckets) < oneTaskBelowBytes)
    // untouched buckets carry over; affected buckets point at the new
    // files (a bucket whose rows were all deleted disappears)
    val carried = m.files -- buckets
    publish(Manifest(nextVersion, highWater, carried ++ newFiles,
      nextSchemaDdl(Some(m), carried, merged.schema)))
  }

  /** Decide [[mergeStaged]]'s no-shuffle staging from the ANALYZED
    * logical plan — never from a physical-planning pass (`df.rdd`
    * plans the same tree the write then plans AGAIN, doubling the
    * per-merge Catalyst cost on the steady-state apply path; under AQE
    * it even materializes shuffle stages early — round-13 verdict #2).
    *
    * No-shuffle is chosen only when the batch's input partition count
    * is PROVABLY ≤ nB:
    *  - exact: narrow Project/Filter/alias chains over a LogicalRDD
    *    (partition count readable for free) or a LocalRelation
    *    (driver-local rows);
    *  - bounded: the topmost wide node is shuffle-producing
    *    (Aggregate/Window/global Sort/Deduplicate — the CDC apply
    *    path's last-writer-wins shape), whose output partitioning
    *    cannot exceed `spark.sql.shuffle.partitions` (AQE only
    *    coalesces it further down). A NON-global Sort
    *    (sortWithinPartitions) preserves its child's partitioning and
    *    recurses instead.
    * Anything unprovable — file scans, unions, generators — stages
    * through a repartition to nB: the staged files BECOME table/layer
    * files, so an unbounded input partition count multiplies the
    * per-bucket file count that every subsequent read folds (measured
    * 2× on the incremental-dedup sync workload when a join-shaped
    * delta was staged unshuffled). */
  private[sinks] def stagingNoShuffle(df: DataFrame, nB: Int): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @annotation.tailrec
    def walk(p: LogicalPlan): Boolean = p match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getNumPartitions <= nB
      case _: LocalRelation => true
      case n @ (_: Project | _: Filter | _: SubqueryAlias) =>
        walk(n.children.head)
      case _: Aggregate | _: Window | _: Deduplicate =>
        df.sparkSession.sessionState.conf.numShufflePartitions <= nB
      // only a GLOBAL sort shuffles (range exchange); Sort(global=
      // false) is sortWithinPartitions, which PRESERVES the child's
      // partitioning — recurse, so a local sort over a wide scan lands
      // in the repartition lane instead of being misclassified bounded
      case s: Sort if s.global =>
        df.sparkSession.sessionState.conf.numShufflePartitions <= nB
      case s: Sort => walk(s.child)
      case r: Repartition => r.numPartitions <= nB
      case r: RepartitionByExpression =>
        r.optNumPartitions.getOrElse(
          df.sparkSession.sessionState.conf.numShufflePartitions) <= nB
      // NOT Join: a broadcast-hash join keeps the STREAMED side's
      // partitioning, which can be an unbounded file scan — only a
      // shuffle-producing top node bounds the count
      case _ => false
    }
    walk(df.queryExecution.analyzed)
  }

  /** The merge-on-read merge lane: ONE staged write job, then a
    * file-move commit (see [[merge]]). */
  private def mergeStaged(spark: SparkSession, current: Option[Manifest],
      hw: String, nB: Int, fresh0: DataFrame, fresh: DataFrame,
      advanceHw: Boolean, oneTaskBelowBytes: Long): Unit = {
    // logical payload schema of this batch (control columns excluded) —
    // computed from the plan, no job
    val logicalSchema = fresh.drop("_op", "_seq").schema
    val toPhysical = current.map(_.columnMapping).getOrElse(Map.empty)
      .filter { case (l, p) => l != p && fresh.columns.contains(l) }
    val obs = org.apache.spark.sql.Observation()
    val observed = fresh.observe(obs,
      max(col("_seq")).as("hw"),
      count(lit(1)).as("n"),
      sum(when(col("_op") === "D", 1L).otherwise(0L)).as("nDel"))
    val stage = s"$root/.stage-${java.util.UUID.randomUUID()}"
    try {
      val staged = (if (toPhysical.isEmpty) observed
                    else observed.withColumnsRenamed(toPhysical))
        .drop("_seq")
      // a micro-batch (small input — the CDC apply hot path) stages
      // WITHOUT a shuffle: each task writes its buckets' files directly
      // (file count ≤ parts × touched buckets, absorbed by the MoR
      // layer ladder / the CoW rewrite), and the merge is ONE scheduler
      // round-trip even under AQE (a repartition would materialize as
      // its own query-stage job). A wide backfill repartitions to nB so
      // the file count stays O(buckets). The small/wide decision must
      // not cost a physical-planning pass of its own (`.rdd` plans the
      // same tree the write then plans AGAIN — round-13 verdict #2):
      // [[stagingNoShuffle]] proves the bound from the ANALYZED plan,
      // and anything unprovable repartitions (staged files become
      // table/layer files — an unbounded input partition count
      // multiplies the per-bucket file count every read then folds).
      val shaped = if (stagingNoShuffle(fresh0, nB)) staged
                   else staged.repartition(nB, col("_bucket"))
      shaped // staged carries PHYSICAL names — sort keys must translate
        .sortWithinPartitions(("_bucket" +:
          keyCols.map(k => toPhysical.getOrElse(k, k))).map(col): _*)
        .write.mode(SaveMode.Overwrite).partitionBy("_bucket", "_op")
        .parquet(stage)
      // staged files by bucket, upserts (any non-D op) vs deletes
      val stagedUps = scala.collection.mutable.Map.empty[Int, Seq[Path]]
      val stagedDels = scala.collection.mutable.Map.empty[Int, Seq[Path]]
      listDir(Paths.get(stage))
        .filter(_.getFileName.toString.startsWith("_bucket="))
        .foreach { bdir =>
          val b = bdir.getFileName.toString.stripPrefix("_bucket=").toInt
          listDir(bdir)
            .filter(_.getFileName.toString.startsWith("_op="))
            .foreach { odir =>
              val fs = listDir(odir)
                .filter(_.getFileName.toString.endsWith(".parquet"))
              if (fs.nonEmpty) {
                val into = if (odir.getFileName.toString == "_op=D")
                  stagedDels else stagedUps
                into(b) = into.getOrElse(b, Nil) ++ fs
              }
            }
        }
      val buckets = (stagedUps.keySet ++ stagedDels.keySet).toSeq.sorted
      // emptiness from the LISTING (ground truth of what the job wrote):
      // a batch filtered to nothing produces no files AND no observed
      // metrics (zero tasks update the accumulator)
      if (buckets.isEmpty) return // empty batch (full replay)
      val metrics = obs.get
      require(metrics.contains("n"),
        s"staged merge wrote files but reported no observed metrics " +
          s"($stage) — refusing to guess the high-water mark")
      val newHigh0 = metrics("hw").asInstanceOf[String]
      require(newHigh0 != null,
        "merge batch has rows but no _seq values — every CDC row must " +
          "carry its replay sequence key")
      val batchRows = metrics("n").asInstanceOf[Long]
      val delRows = metrics("nDel").asInstanceOf[Long]
      // adopt staged files as table files: an atomic move per file —
      // no rewrite, no job (the staged content IS the final content:
      // physical names, key-sorted, _bucket/_op live in the dir names)
      def adopt(m0: scala.collection.Map[Int, Seq[Path]])
          : Map[Int, Seq[String]] =
        m0.iterator.map { case (b, fs) =>
          val dst = Paths.get(dataDir, s"_bucket=$b")
          Files.createDirectories(dst)
          b -> fs.map { f =>
            val name = s"${java.util.UUID.randomUUID()}.parquet"
            Files.move(f, dst.resolve(name), StandardCopyOption.ATOMIC_MOVE)
            s"data/_bucket=$b/$name"
          }
        }.toMap

      // bootstrap when the affected buckets hold no prior state: no
      // survivors to join against — adopt the staged upserts as base
      // files. Re-evaluated after a layer collapse (`attempt` below
      // mirrors the old recursive re-merge without re-staging).
      def attempt(current: Option[Manifest]): Unit = {
        if (!holdsState(current, buckets)) {
          val files = adopt(stagedUps)
          val carried = current.map(_.files -- buckets).getOrElse(Map.empty)
          publish(Manifest(nextVersion, advancedHw(hw, newHigh0, advanceHw),
            carried ++ files,
            nextSchemaDdl(current, carried, logicalSchema),
            layers = current.map(_.layers).getOrElse(Nil)))
        } else if (batchRows <= GraftTable.MorDeltaMaxRows &&
            current.exists(_.layers.size < GraftTable.MorMaxLayers) &&
            affectedBaseBytes(current.get, buckets) >= morMinAffectedBytes) {
          // MERGE-ON-READ delta commit: adopt the staged upsert +
          // delete files, both bucket-partitioned; NO bucket rewrite —
          // write cost O(delta), commit cost ZERO jobs. Readers fold
          // the layer ([[applyLayers]]; delete files read key-pruned).
          val m = current.get
          publish(Manifest(nextVersion,
            advancedHw(m.highWater, newHigh0, advanceHw), m.files,
            nextSchemaDdl(current, m.files, logicalSchema),
            layers = m.layers :+
              DeltaLayer(nextVersion, adopt(stagedUps), adopt(stagedDels))))
        } else if (current.exists(_.layers.nonEmpty)) {
          // copy-on-write path on a layered snapshot: partial bucket
          // rewrites cannot coexist with global layers (remaining layers
          // would re-apply stale deletes to the rewritten buckets), so
          // collapse to a clean base first, then merge normally
          collapseLayers(spark)
          attempt(effectiveManifest())
        } else {
          val m = current.get
          // the staged batch reads back with _bucket/_op as partition
          // columns and PHYSICAL data names — translate to logical
          val fromPhysical = toPhysical.map(_.swap)
          val stageDf = spark.read.parquet(stage)
          // TOAST coalesce never reaches this lane (it routes through
          // [[mergeCopyOnWrite]])
          val stagedBytes = (stagedUps.valuesIterator ++
            stagedDels.valuesIterator).flatten.map(Files.size).sum
          rewriteBuckets(spark, m,
            if (fromPhysical.isEmpty) stageDf
            else stageDf.withColumnsRenamed(fromPhysical),
            buckets, nB, Nil, advancedHw(m.highWater, newHigh0, advanceHw),
            Some(stagedBytes),
            oneTaskBelowBytes)
        }
      }
      attempt(current)
    } finally deleteRecursively(Paths.get(stage))
  }

  /** Whether `buckets` hold prior STATE in `current` (false for a new
    * table, after a truncate, or for keys landing in never-written
    * buckets). Layer upsert files count (they'd be shadowed otherwise)
    * and so do layer DELETE files: a bucket holding only a delete-key
    * layer file has state too — bootstrapping past it would publish a
    * base file the stale delete layer then anti-joins back out (a
    * delete of key K followed by a re-insert of K would silently
    * vanish). */
  private def holdsState(current: Option[Manifest],
      buckets: Seq[Int]): Boolean =
    current.exists(m => buckets.exists(b =>
      m.files.getOrElse(b, Nil).nonEmpty || m.layers.exists(l =>
        l.ups.getOrElse(b, Nil).nonEmpty || l.del.getOrElse(b, Nil).nonEmpty)))

  /** The high-water mark after a batch whose largest `_seq` is `newHigh`:
    * the larger of `old` and `newHigh` when `advance`, else `old`. */
  private def advancedHw(old: String, newHigh: String,
      advance: Boolean): String =
    if (advance && (old.isEmpty || newHigh > old)) newHigh else old

  /** Bytes a copy-on-write rewrite of `buckets` would have to re-write:
    * their base files plus any layer upserts (a CoW merge on a layered
    * table collapses first). Driver-side stat of O(affected files) —
    * trivia next to the reads the CoW path would do over the same
    * files; a vanished file (racing vacuum) counts 0. */
  private def affectedBaseBytes(m: Manifest, buckets: Seq[Int]): Long =
    buckets.iterator.flatMap(b => m.files.getOrElse(b, Nil) ++
        m.layers.iterator.flatMap(_.ups.getOrElse(b, Nil)))
      .map(fileBytes).sum

  /** Size of a manifest-relative data file; a vanished file (racing
    * vacuum) counts 0. */
  private def fileBytes(f: String): Long =
    try Files.size(Paths.get(resolved(f)))
    catch { case _: java.io.IOException => 0L }

  /** Whether the live data files of the CURRENT snapshot (base files
    * and merge-on-read layer files) add up to fewer than `limit` bytes.
    * Stats files only until the running sum reaches `limit`, so the
    * answer costs O(files below the limit) at any table size. No
    * snapshot yet = 0 bytes. */
  def liveBytesBelow(limit: Long): Boolean = {
    val m = currentManifest().getOrElse(return true)
    val files = m.files.valuesIterator.flatten ++
      m.layers.iterator.flatMap(l =>
        l.ups.valuesIterator.flatten ++ l.del.valuesIterator.flatten)
    var sum = 0L
    files.forall { f => sum += fileBytes(f); sum < limit }
  }

  /** Monotonically advance the replay high-water mark (used with
    * `merge(..., advanceHw = false)` once every group of a batch is
    * durable). Publishes a data-identical snapshot with the new mark. */
  def advanceHighWater(seq: String): Unit = {
    val m = effectiveManifest().getOrElse(Manifest(-1L, "", Map.empty))
    if (m.highWater.isEmpty || seq > m.highWater)
      publish(Manifest(nextVersion, seq, m.files, m.schemaDdl,
        layers = m.layers, sameData = true))
  }

  /** Collapse every merge-on-read layer into a clean copy-on-write base
    * — BUCKET-PRUNED: only buckets some layer touches are read (layer
    * fold) and rewritten; untouched buckets' base files carry over
    * verbatim (their folded state IS their base — no layer has a key
    * there). Collapse cost is therefore O(buckets touched since the
    * last collapse), not O(table): at 100 TB a table absorbing
    * delta-scale syncs collapses the few touched buckets, the same
    * footprint a copy-on-write merge would have paid PER sync.
    * Data-identical; no-op on layer-free tables. */
  def collapseLayers(spark: SparkSession): Unit = {
    require(groupState.isEmpty, "close the open group before collapseLayers")
    val m = currentManifest().getOrElse(return)
    if (m.layers.isEmpty) return
    val touched = m.layers
      .flatMap(l => l.ups.keySet ++ l.del.keySet).distinct.sorted
    val df = readSnapshot(spark, m, Some(touched)).drop("_bucket")
      .withColumn("_bucket", bucketExpr(bucketsOf(Some(m))))
    val newFiles = writeDataFiles(df, math.max(1, touched.size))
    // a touched bucket folding to zero rows yields no file and drops out.
    // version PINNED to the snapshot this rewrite was computed from —
    // committing at nextVersion-at-commit-time would let a data commit
    // that landed mid-rewrite be silently REVERTED by this stale
    // snapshot (no CAS conflict: the version number is fresh, the
    // contents are not). Pinned, an interleaved commit makes this one
    // fail with ConcurrentCommitException instead; maintenance is
    // data-identical, so callers simply retry on the fresh snapshot.
    commitManifest(Manifest(m.version + 1, m.highWater,
      (m.files -- touched) ++ newFiles, m.schemaDdl, sameData = true))
  }

  /** Maintenance: compact buckets whose live-file count exceeds `maxFiles`
    * into a single file each — the analog of the reference's DuckLake
    * snapshot maintenance (expire/compact, crates/etl-destinations/src/
    * ducklake/external_maintenance.rs). Data-identical snapshot; old files
    * are reclaimed by [[vacuum]]. Returns the bucket ids compacted. */
  def compact(spark: SparkSession, maxFiles: Int = 4): Seq[Int] = {
    require(groupState.isEmpty, "close the open group before compact")
    // merge-on-read maintenance: fold outstanding delta layers back into
    // the base first — partial bucket rewrites cannot coexist with
    // global layers, and collapse IS this table mode's compaction
    collapseLayers(spark)
    val m = currentManifest().getOrElse(return Seq.empty)
    val crowded = m.files.filter(_._2.size > maxFiles).keys.toSeq.sorted
    if (crowded.isEmpty) return Seq.empty
    val df = readBuckets(spark, m, crowded)
    val newFiles = writeDataFiles(df, math.max(1, crowded.size))
    // version pinned to the snapshot read (see collapseLayers): a
    // mid-rewrite data commit must conflict, not be reverted
    commitManifest(Manifest(m.version + 1, m.highWater,
      (m.files -- crowded) ++ newFiles, m.schemaDdl, sameData = true))
    crowded
  }

  /** Adjacent small-file merge — the reference's merge_adjacent_files
    * maintenance operation (etl-maintenance ducklake/runner.rs:1544,
    * 1616-1663; policy knobs materialization.rs:24-27): per bucket, pick
    * ONE greedy group of ≥2 sub-`targetBytes` files whose combined size
    * stays ≤ `targetBytes` (smallest first) and rewrite the group as a
    * single file. Files already at/above target are never rewritten —
    * and, unlike [[compact]], outstanding merge-on-read layers are LEFT
    * IN PLACE: replacing N base files of a bucket with one file holding
    * the same rows is data-identical under any layer fold (layer deletes
    * anti-join by key, layer upserts shadow by key — neither cares how
    * the base rows are distributed across files). That makes this the
    * fragmentation pass a layered table can run WITHOUT paying a
    * collapse. One Spark job for the whole run regardless of bucket
    * count; `maxCompactedFiles` caps source files per run (runner.rs:
    * 1658, bounded maintenance next to a live pipeline) and
    * `minActiveDataFiles` skips tables too small for the churn to pay
    * (materialization.rs:33-34). Returns the buckets rewritten. */
  def mergeAdjacentFiles(spark: SparkSession, targetBytes: Long,
      maxCompactedFiles: Int = 40, minActiveDataFiles: Int = 0): Seq[Int] = {
    require(groupState.isEmpty,
      "close the open group before mergeAdjacentFiles")
    require(targetBytes > 0, "targetBytes must be positive")
    val m = currentManifest().getOrElse(return Seq.empty)
    if (m.files.valuesIterator.map(_.size).sum < minActiveDataFiles)
      return Seq.empty
    // vanished file (racing vacuum of an expired version) → MaxValue:
    // never selected, the commit CAS below resolves any real race
    def sz(f: String) = try Files.size(Paths.get(resolved(f)))
      catch { case _: java.io.IOException => Long.MaxValue }
    var budget = maxCompactedFiles
    val groups = m.files.toSeq.sortBy(_._1).flatMap { case (b, fs) =>
      if (budget < 2) None
      else {
        val small = fs.map(f => f -> sz(f))
          .filter(_._2 < targetBytes).sortBy(_._2)
          .take(budget)
        var tot = 0L
        val grp = small.takeWhile { case (_, s) =>
          val ok = tot + s <= targetBytes; if (ok) tot += s; ok
        }.map(_._1)
        if (grp.size < 2) None
        else { budget -= grp.size; Some(b -> grp) }
      }
    }
    if (groups.isEmpty) return Seq.empty
    val df = readFiles(spark, groups.flatMap(_._2), m.schemaDdl,
      m.columnMapping)
    val newFiles = writeDataFiles(df, math.max(1, groups.size))
    val files2 = groups.foldLeft(m.files) { case (acc, (b, grp)) =>
      val dead = grp.toSet
      acc.updated(b,
        acc.getOrElse(b, Nil).filterNot(dead) ++ newFiles.getOrElse(b, Nil))
    }
    commitManifest(Manifest(m.version + 1, m.highWater, files2,
      m.schemaDdl, layers = m.layers, sameData = true))
    groups.map(_._1)
  }

  /** Merge-on-read layer pressure of the CURRENT snapshot — the inputs
    * of [[graft.sinks.MaintenancePolicy]]'s collapse triggers. Driver-
    * side parquet-footer reads, O(layer files + touched base files), no
    * Spark job. Delete fraction counts only buckets some layer DELETE
    * touches (an all-upsert chain reads 0.0 — upserts don't strand dead
    * base rows the way deletes do); a delete chain over buckets whose
    * base is empty reads 1.0 (everything there is a tombstone). */
  def layerPressure: GraftTable.LayerPressure = {
    val m = currentManifest()
      .getOrElse(return GraftTable.LayerPressure(0, 0L, 0.0))
    if (m.layers.isEmpty) return GraftTable.LayerPressure(0, 0L, 0.0)
    val bytes = m.layers.iterator.flatMap(l =>
      l.ups.valuesIterator.flatten ++ l.del.valuesIterator.flatten)
      .map(fileBytes).sum
    val delRows = m.layers.iterator.flatMap(_.del.valuesIterator.flatten)
      .map(f => GraftTable.footerRowCount(resolved(f))).sum
    val frac =
      if (delRows == 0L) 0.0
      else {
        val touched = m.layers.flatMap(_.del.keys).distinct
        val baseRows = touched.iterator
          .flatMap(b => m.files.getOrElse(b, Nil))
          .map(f => GraftTable.footerRowCount(resolved(f))).sum
        if (baseRows == 0L) 1.0 else delRows.toDouble / baseRows
      }
    GraftTable.LayerPressure(m.layers.size, bytes, frac)
  }

  /** Live base-file footprint of the CURRENT snapshot (count, bytes,
    * occupied buckets) — drives the size-aware maintenance gates and
    * the auto-rebucket trigger. Driver-side file stats only. */
  def basePressure: GraftTable.BasePressure = {
    val m = currentManifest()
      .getOrElse(return GraftTable.BasePressure(0, 0L, 0))
    val occupied = m.files.filter(_._2.nonEmpty)
    GraftTable.BasePressure(occupied.valuesIterator.map(_.size).sum,
      occupied.valuesIterator.flatten.map(fileBytes).sum, occupied.size)
  }

  /** Z-ORDER clustering maintenance (the `OPTIMIZE ZORDER BY` shape):
    * rewrite every bucket's data ordered by the Morton interleave of
    * two rank-scaled columns, split into ~`filesPerBucket` files per
    * bucket along the curve. Each rewritten file then covers a compact
    * region of the (colA, colB) plane, so the per-file [min, max] stats
    * the commit harvests become selective in BOTH dimensions — a 2-D
    * box predicate (catalog scan, deleteWhere discovery) opens only the
    * files whose rectangle intersects the box, where an append-ordered
    * layout is selective in at most the arrival dimension.
    *
    * Both columns should be in [[statsCols]] (integral types) or the
    * rewrite reorders without anything to prune on. Data-identical by
    * construction: one shuffle (range partition on (_bucket, z)), keys
    * stay sorted within files for row-group skipping, bucket membership
    * never changes (z orders WITHIN buckets). At 100 TB this is the
    * standard background maintenance pass: per-bucket rewrites can run
    * incrementally (bucket subsets per run) under the same
    * copy-on-write commit as [[compact]]. */
  def clusterBy(spark: SparkSession, colA: String, colB: String,
      filesPerBucket: Int = 4): Unit = {
    require(groupState.isEmpty, "close the open group before clusterBy")
    require(filesPerBucket >= 1, "filesPerBucket >= 1")
    collapseLayers(spark) // z-order rewrites buckets — needs a clean base
    val m = currentManifest().getOrElse(return)
    val buckets = m.files.filter(_._2.nonEmpty).keys.toSeq.sorted
    if (buckets.isEmpty) return
    val df = readBuckets(spark, m, buckets)
    // table-level [lo, hi] per dimension: one metadata-scale agg
    val r = df.agg(min(col(colA)), max(col(colA)),
      min(col(colB)), max(col(colB))).collect()(0)
    def lohi(i: Int): (Long, Long) =
      if (r.isNullAt(i) || r.isNullAt(i + 1)) (0L, 0L)
      else (r.getAs[Number](i).longValue(), r.getAs[Number](i + 1).longValue())
    val (aLo, aHi) = lohi(0)
    val (bLo, bHi) = lohi(2)
    def rank(c: String, lo: Long, hi: Long) =
      if (hi <= lo) lit(0L)
      else least(lit(Int.MaxValue.toLong), floor(
        (col(c).cast("double") - lit(lo.toDouble)) *
          (Int.MaxValue.toDouble / (hi.toDouble - lo.toDouble)))
        .cast("long"))
    val z = graft.functions.Interleave2(
      rank(colA, aLo, aHi), rank(colB, bLo, bHi))
    val parts = math.max(1, buckets.size * filesPerBucket)
    val newFiles = writeDataFiles(df.withColumn("_zorder", z), parts,
      rangeCols = Seq("_bucket", "_zorder"))
    // version pinned to the snapshot read (see collapseLayers)
    commitManifest(Manifest(m.version + 1, m.highWater,
      (m.files -- buckets) ++ newFiles, m.schemaDdl, sameData = true))
  }

  /** BUCKET-COUNT evolution (the Iceberg partition-spec-evolution /
    * Hudi-clustering analog for hash buckets): rewrite the table under a
    * new bucket count and record it in the manifest, where it is
    * versioned like the column mapping — every later write, probe, and
    * point lookup hashes with the NEW count, while probes against
    * retained pre-rebucket snapshots keep hashing with the count those
    * snapshots were written under.
    *
    * Why this exists at 100 TB: the bucket count fixes the unit of
    * copy-on-write rewrites AND of probe pruning. A table created small
    * (32 buckets) that grows to tens of TB ends up with multi-hundred-GB
    * buckets — every CDC merge rewrites GBs per touched key, and a point
    * lookup scans 1/32 of the table. Rebucketing to (say) 8192 restores
    * delta-scale rewrites and 1/8192-scale lookups. The rewrite itself
    * is one full-table shuffle — the same cost as a compaction pass over
    * everything — run rarely, ideally under the maintenance lease
    * ([[runMaintenanceUnderLease]]) beside a live pipeline.
    *
    * Data-identical (`sameData`): the row CDF and follow feeds treat it
    * as layout maintenance — a rebucket-only window feeds nothing.
    * Merge-on-read layers are collapsed first (layer files are bucket-
    * partitioned under the OLD count; carrying them across would fold
    * deletes into the wrong buckets). Version-pinned like the other
    * maintenance commits: a data commit landing mid-rewrite conflicts
    * instead of being reverted. No-op when the count is unchanged. */
  def rebucket(spark: SparkSession, newN: Int): Unit = {
    require(groupState.isEmpty, "close the open group before rebucket")
    require(newN >= 1, s"bucket count must be >= 1, got $newN")
    collapseLayers(spark)
    val m = currentManifest().getOrElse {
      // empty table: nothing to rewrite — record the count for the
      // first write via an empty snapshot
      if (newN != nBuckets)
        commitManifest(Manifest(nextVersion, "", Map.empty,
          sameData = true, nBucketsOverride = Some(newN)))
      return
    }
    if (bucketsOf(Some(m)) == newN) return
    val occupied = m.files.filter(_._2.nonEmpty).keys.toSeq.sorted
    val newFiles =
      if (occupied.isEmpty) Map.empty[Int, Seq[String]]
      else writeDataFiles(
        readBuckets(spark, m, occupied).drop("_bucket")
          .withColumn("_bucket", bucketExpr(newN)), newN)
    commitManifest(Manifest(m.version + 1, m.highWater, newFiles,
      m.schemaDdl, sameData = true, nBucketsOverride = Some(newN)))
  }

  // ----------------------------------------------------- maintenance lease
  /** Cross-process maintenance coordination — the data-plane core of the
    * reference's etl-maintenance coordination (crates/etl-maintenance/
    * src/coordination.rs: cross-instance maintenance runs serialized
    * through a shared store, with the live replicator paused around
    * them) without the k8s parts: at most one maintenance runner per
    * table holds an EXPIRING lease file in the table root, published
    * with the same atomic create-exclusive the manifest commit uses.
    *
    * Contract: anything running compact/vacuum/clusterBy takes the
    * lease first ([[runMaintenanceUnderLease]]); the live apply path
    * calls [[awaitMaintenanceQuiesce]] before each merge and waits out
    * a FOREIGN holder (the pause analog — data applies resume the
    * moment the lease releases or its TTL lapses), and in-process
    * maintenance timers skip their turn while a foreign lease is held.
    * A crashed holder never wedges the table: the TTL expires and the
    * lease is broken by the next acquirer.
    *
    * The store is PLUGGABLE ([[MaintenanceLeaseStore]], the reference's
    * coordination/{postgres,kubernetes}.rs seam): the default leases
    * through an atomic file in the table root (shared POSIX-ish
    * storage); deployments on object stores swap in [[JdbcLeaseStore]]
    * to coordinate through a SQL database instead. */
  @volatile var maintenanceLeaseStore: MaintenanceLeaseStore =
    new FsLeaseStore(root)

  /** (owner, expiresAtMs) of a LIVE lease; None = free or expired. */
  def maintenanceLeaseHolder: Option[(String, Long)] =
    maintenanceLeaseStore.holder

  /** Try to take (or renew) the lease for `owner` — see
    * [[MaintenanceLeaseStore.tryAcquire]] for the atomicity contract. */
  def tryAcquireMaintenanceLease(owner: String,
      ttlMs: Long = 60000L): Boolean =
    maintenanceLeaseStore.tryAcquire(owner, ttlMs)

  /** Release `owner`'s lease (no-op if not held by `owner`). */
  def releaseMaintenanceLease(owner: String): Unit =
    maintenanceLeaseStore.release(owner)

  /** Block while a FOREIGN live lease exists — the apply path's pause
    * point. Returns once the lease is released/expired (or immediately
    * when free / held by `owner`); gives up after `maxWaitMs` so a
    * misconfigured TTL cannot wedge the pipeline (commits stay safe
    * either way via the version CAS — the wait exists to avoid the
    * re-plan, not to guarantee exclusion). */
  def awaitMaintenanceQuiesce(owner: String = "",
      maxWaitMs: Long = 120000L): Unit = {
    val t0 = System.currentTimeMillis()
    // a store error (a JDBC lease store's transient SQLException) must
    // not crash the APPLY path through its pause point — treat the
    // lease as unknown-and-possibly-held and keep waiting; maxWaitMs
    // bounds the pause either way (commits stay safe via the CAS)
    def foreignHeld: Boolean =
      try maintenanceLeaseHolder.exists(_._1 != owner)
      catch { case scala.util.control.NonFatal(_) => true }
    while (foreignHeld && System.currentTimeMillis() - t0 < maxWaitMs)
      Thread.sleep(25)
  }

  /** Acquire the lease, wait a short grace (a merge that passed its
    * quiesce check just before the acquire finishes first), run `body`,
    * release. Returns false without running when the lease is taken.
    * A lost commit race inside `body` (possible only when a writer
    * ignores the quiesce contract or the grace was too short) is
    * retried once against the fresh snapshot — maintenance is
    * data-identical, so a retry is always safe.
    *
    * The lease is HEARTBEAT-RENEWED (every ttl/3, from a daemon
    * thread) for as long as `body` runs: a maintenance body is a Spark
    * job whose duration no fixed TTL can bound under load, and a lapsed
    * TTL lets a rival break the lease and vacuum manifests this body is
    * still reading (the round-10 421/422 flake). With renewal, the TTL
    * only lapses when this PROCESS dies — which is exactly the crash
    * case the TTL exists for. `ttlMs` therefore bounds crash recovery
    * latency, not run length; the apply path's pause stays bounded by
    * [[awaitMaintenanceQuiesce]]'s own `maxWaitMs`. */
  def runMaintenanceUnderLease(owner: String, ttlMs: Long = 60000L,
      graceMs: Long = 0L)(body: => Unit): Boolean = {
    // a store error at acquire is a LOST TURN, not a failure to
    // propagate into the caller (the sink's in-process timer runs this
    // on the apply thread; the next Nth batch retries)
    val acquired =
      try tryAcquireMaintenanceLease(owner, ttlMs)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!acquired) return false
    @volatile var done = false
    // heartbeat renewal and the final release MUTUALLY EXCLUDE through
    // this lock: without it, a heartbeat stuck inside a slow renewal
    // (an NFS write) could re-create the lease AFTER the release and
    // wedge rivals for one TTL. Release waits for any in-flight
    // renewal; the done re-check under the lock stops the next one.
    val renewLock = new Object
    val beat = new Thread(() => {
      while (!done) {
        try Thread.sleep(math.max(1L, ttlMs / 3))
        catch { case _: InterruptedException => () }
        // same-owner acquire = renew; a false return means the lease
        // was lost despite renewal (possible only through the
        // documented microsecond restore window) — nothing to do but
        // keep trying, reads stay safe via withManifestRetry
        renewLock.synchronized {
          if (!done)
            // swallow ANY store error, not just IO: a pluggable store
            // (JDBC) throws SQLException on a transient blip, and a
            // dead heartbeat thread means silent loss of exclusion
            // for the rest of the body — keep beating instead
            try tryAcquireMaintenanceLease(owner, ttlMs)
            catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }, s"graft-lease-heartbeat-$owner")
    beat.setDaemon(true)
    beat.start()
    try {
      if (graceMs > 0) Thread.sleep(graceMs)
      try body
      catch { case _: GraftTable.ConcurrentCommitException => body }
      true
    } finally {
      done = true
      beat.interrupt()
      renewLock.synchronized {
        // a release blip must not mask the body's outcome; the TTL
        // reclaims an unreleased lease
        try releaseMaintenanceLease(owner)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      beat.join(5000) // tidy the thread; correctness rests on the lock
    }
  }

  /** Expire old snapshots: keep the latest `keep` manifests, delete older
    * ones, and remove data files no retained manifest references (also
    * reclaims crashed stage dirs). Time travel reaches only retained
    * versions afterwards. */
  def vacuum(keep: Int = 1): Unit = {
    require(groupState.isEmpty, "close the open group before vacuum")
    // the whole list-then-read phase recomputes from a fresh listing if
    // a concurrent vacuum (a broken-lease rival, or an operator running
    // one by hand) expires a listed version mid-read — the round-10
    // external-maintenance flake
    val (live, expired, expiredFiles) = withManifestRetry {
      val vs = versions
      if (vs.isEmpty) return
      val retained = vs.takeRight(math.max(1, keep))
      // normalize through Path: the membership test below compares
      // against Files.list Paths (which collapse doubled separators), so
      // a root with a trailing slash must not make every live file look
      // orphaned
      val live = retained.flatMap(v => readManifest(v).allFiles
        .map(f => Paths.get(resolved(f)).normalize().toString)).toSet
      val expired = vs.dropRight(math.max(1, keep))
      // targeted reclamation FIRST: files the expired manifests
      // referenced are committed debris — no retained snapshot needs
      // them, and they can never belong to an in-flight write (in-flight
      // files are referenced by no manifest yet)
      val expiredFiles = expired.flatMap(v => readManifest(v).allFiles
        .map(f => Paths.get(resolved(f)).normalize().toString)).toSet
      (live, expired, expiredFiles)
    }
    expired.foreach(v => Files.deleteIfExists(manifestPath(v)))
    (expiredFiles -- live).foreach(f => Files.deleteIfExists(Paths.get(f)))
    // the catch-all debris sweep is AGE-GATED: a cross-process vacuum
    // (maintenance lease holder) can run while another writer's merge is
    // IN FLIGHT — its stage dir, and data files already moved into
    // bucket dirs but not yet referenced by a commit, look exactly like
    // crash debris. Writes finish in seconds; genuine debris is
    // permanent, so only sweep what is older than
    // [[GraftTable.OrphanSweepMinAgeMs]].
    val cutoff = System.currentTimeMillis() - GraftTable.OrphanSweepMinAgeMs
    def oldEnough(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis < cutoff
      catch { case _: java.io.IOException => false }
    // orphaned stage dirs from crashed writers
    listDir(Paths.get(root))
      .filter(p => p.getFileName.toString.startsWith(".stage-") &&
        oldEnough(p))
      .foreach(deleteRecursively)
    listDir(Paths.get(dataDir))
      .filter(_.getFileName.toString.startsWith("_bucket="))
      .foreach { bdir =>
        listDir(bdir)
          .filter(f => f.getFileName.toString.endsWith(".parquet") &&
            !live.contains(f.toString) && oldEnough(f))
          .foreach(Files.deleteIfExists(_))
      }
  }

  /** Truncate: drop all data, keep identity — the reference's cheap
    * truncate is a versioned-table swap (bigquery/core.rs:1110-1160);
    * here it is an empty snapshot commit.
    *
    * The replay high-water REWINDS with the data: a truncate-containing
    * micro-batch that replays (crash before checkpoint commit) re-runs
    * truncate and then re-merges the post-truncate slice — if the mark
    * survived the wipe, that replayed slice would be filtered out as
    * already-seen and the table left permanently empty. Rewinding is safe:
    * the apply planner only merges events AFTER the last truncate position
    * (CdcPipeline dataSlice filter), and batches before this one never
    * replay once their checkpoint committed. */
  def truncate(): Unit =
    publish(Manifest(nextVersion, "", Map.empty,
      // the pinned schema survives: an emptied table stays readable
      // under its declared columns (CREATE-empty contract)
      effectiveManifest().map(_.schemaDdl).getOrElse("")))

  /** One incremental pull's result: apply by REPLACING every bucket that
    * appears in `rows` (its complete new contents are included) and
    * dropping `goneBuckets`; when `fullRefresh` is set the consumer must
    * instead discard its whole materialization and take `rows` as the
    * complete state — the from-version was expired/unknown, so deletions
    * since then are unobservable (the slot-invalidation analog). */
  final case class TableChanges(version: Long, rows: DataFrame,
      goneBuckets: Seq[Int], fullRefresh: Boolean)

  /** Incremental read between snapshots (CDF-lite, the Delta
    * change-data-feed shape at this format's natural granularity):
    * buckets are the replacement unit, so the manifest diff identifies
    * exactly which buckets changed between `fromVersion` and the current
    * snapshot. Rows keep the `_bucket` column — it is the consumer's
    * replacement key. Poll again from the returned version. Downstream
    * uses: incremental index/materialization rebuilds without tailing
    * the changelog. */
  def changesSince(spark: SparkSession, fromVersion: Long): TableChanges = {
    val cur = currentManifest().getOrElse(
      return TableChanges(-1L, spark.emptyDataFrame, Seq.empty,
        fullRefresh = true))
    val known = fromVersion >= 0 && versions.contains(fromVersion)
    val fromM: Option[Manifest] =
      if (known) Some(readManifest(fromVersion)) else None
    val from: Map[Int, Seq[String]] = fromM.map(_.files).getOrElse(Map.empty)
    // layer-aware like [[rowChangesBetween]]: a merge-on-read commit
    // changes a bucket's ROWS without touching its base files, so
    // buckets touched by non-common layers count as changed too
    val commonLayers = fromM.map(_.layers.map(_.version).toSet)
      .getOrElse(Set.empty).intersect(cur.layers.map(_.version).toSet)
    val layerBuckets = (fromM.map(_.layers).getOrElse(Nil) ++ cur.layers)
      .filterNot(l => commonLayers.contains(l.version))
      .flatMap(l => l.ups.keySet ++ l.del.keySet).toSet
    val changed = (cur.files.collect {
      case (b, fs) if from.get(b) != Some(fs) => b
    }.toSet ++ layerBuckets.filter(b =>
      cur.files.contains(b) || cur.layers.exists(l =>
        l.ups.contains(b) || l.del.contains(b)))).toSeq.sorted
    val gone = (from.keySet -- cur.files.keySet).toSeq.sorted
    val withBucket = currentSchema.map(_.add("_bucket",
      org.apache.spark.sql.types.IntegerType))
    val df =
      if (changed.isEmpty)
        withBucket.map(s => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
          .getOrElse(spark.emptyDataFrame)
      else readBuckets(spark, cur, changed)
    TableChanges(cur.version, df, gone, fullRefresh = !known)
  }

  /** Row-level change feed between a retained snapshot and the current
    * one — the Delta-CDF shape on top of [[changesSince]]'s bucket
    * granularity: rows tagged `_change_type` ∈ insert | delete |
    * update_preimage | update_postimage. Only the CHANGED buckets are
    * read on either side (manifest diff), the old/new images meet in a
    * per-bucket key join, and unchanged rows inside rewritten buckets
    * are filtered out — at 100 TB a merge that touched 3 buckets diffs
    * 3 buckets, not the table. Preimages are projected onto the CURRENT
    * logical schema (columns added since `fromVersion` read as null;
    * dropped columns leave the feed). An expired/unknown `fromVersion`
    * degrades to a full-refresh feed (every current row as `insert`,
    * `fullRefresh = true`) — deletions since then are unobservable, the
    * same contract as [[changesSince]]. */
  def rowChangesSince(spark: SparkSession, fromVersion: Long): TableChanges =
    currentVersion match {
      case None => TableChanges(-1L, spark.emptyDataFrame, Seq.empty,
        fullRefresh = true)
      case Some(v) => rowChangesBetween(spark, fromVersion, v)
    }

  /** [[rowChangesSince]] against an explicit (retained) target snapshot
    * instead of the current one — the per-commit unit the streaming
    * row-feed source ([[graft.sources.GraftRowFollowSource]]) consumes:
    * a batch spanning several commits expands into one
    * `rowChangesBetween` per retained transition, so every change row
    * is attributable to the commit that produced it. */
  def rowChangesBetween(spark: SparkSession, fromVersion: Long,
      toVersion: Long): TableChanges = {
    import org.apache.spark.sql.types.StringType
    require(versions.contains(toVersion),
      s"toVersion $toVersion is not a retained snapshot of $root " +
        s"(retained: ${versions.mkString(", ")})")
    val known = fromVersion >= 0 && versions.contains(fromVersion)
    // an UNKNOWN fromVersion (expired, or from a dropped/recreated
    // table's future) degrades to full refresh below — only a window
    // between two RETAINED versions can be genuinely inverted
    require(!known || fromVersion <= toVersion,
      s"inverted change window: fromVersion $fromVersion > toVersion " +
        s"$toVersion (the feed would read backwards, swapping " +
        "inserts/deletes)")
    val cur = readManifest(toVersion)
    if (!known) {
      // full-refresh insert feed; a pre-schema empty table has no
      // columns to tag, so its feed is the empty frame itself
      val cur0 = readVersion(spark, toVersion)
      val feed =
        if (cur0.columns.isEmpty) cur0
        else cur0.withColumn("_change_type", lit("insert"))
      return TableChanges(cur.version, feed, Seq.empty, fullRefresh = true)
    }
    val from = readManifest(fromVersion)
    val target = org.apache.spark.sql.types.StructType.fromDDL(
      if (cur.schemaDdl.nonEmpty) cur.schemaDdl else from.schemaDdl)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      target.add("_change_type", StringType))
    // maintenance transitions change layout, not rows: a window whose
    // every commit is sameData (collapse/compact/z-order/high-water
    // advance) is an EMPTY feed — without this, a layer collapse
    // (rewrites every bucket) would diff the whole table to find nothing
    if ((fromVersion + 1) to toVersion forall(v => readManifest(v).sameData))
      return TableChanges(cur.version, empty, Seq.empty, fullRefresh = false)
    // bucket-level diff, LAYER-AWARE: a bucket changed if its base files
    // differ OR a delta layer present in exactly one endpoint touches it
    // (layer-only transitions — the merge-on-read hot path — never
    // rewrite base files, so the layer sets carry the whole delta)
    val commonLayers = from.layers.map(_.version).toSet
      .intersect(cur.layers.map(_.version).toSet)
    val layerBuckets = (from.layers ++ cur.layers)
      .filterNot(l => commonLayers.contains(l.version))
      .flatMap(l => l.ups.keySet ++ l.del.keySet).toSet
    val changed = ((from.files.keySet ++ cur.files.keySet).filter(b =>
      from.files.get(b) != cur.files.get(b)) ++ layerBuckets).toSeq.sorted
    if (changed.isEmpty)
      return TableChanges(cur.version, empty, Seq.empty, fullRefresh = false)
    // each side is the LAYER-RESOLVED row state of the changed buckets
    // (base + layer fold, both bucket-pruned) — for a layer-only
    // transition this reads the touched buckets, never the table
    def side(m: Manifest): DataFrame = {
      val df0 = readSnapshot(spark, m, Some(changed)).drop("_bucket")
      // a column renamed between the two snapshots keeps its PHYSICAL
      // name: map this side's logical names onto the current logical
      // names through the physical identity, so preimages carry values
      // across RENAME COLUMN instead of nulling out
      val curPhysToLogical = cur.columnMapping.map(_.swap)
      val renames = df0.columns.flatMap { c =>
        val p = m.columnMapping.getOrElse(c, c)
        val curName = curPhysToLogical.getOrElse(p, p)
        if (curName != c) Some(c -> curName) else None
      }.toMap
      val df = if (renames.isEmpty) df0 else df0.withColumnsRenamed(renames)
      // align onto the CURRENT logical schema
      df.select(target.fields.map(f =>
        (if (df.columns.contains(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(f.name)).toIndexedSeq: _*)
    }
    val payloadCols = target.fieldNames.filterNot(keyCols.contains).toSeq
    val o = side(from)
      .select((keyCols.map(col) ++
        payloadCols.map(c => col(c).as(s"_pre_$c")) :+
        lit(1).as("_o")).toIndexedSeq: _*)
    val n = side(cur).withColumn("_n", lit(1))
    val j = o.join(n, keyCols.toSeq, "full_outer")
    // change rows keep the table's column order + _change_type
    def image(prefix: String, tag: String) = struct(
      (target.fieldNames.toSeq.map(f =>
        if (keyCols.contains(f)) col(f)
        else col(s"$prefix$f").as(f)) :+
        lit(tag).as("_change_type")): _*)
    val rowType = org.apache.spark.sql.types.StructType(
      target.fields.map(_.copy(nullable = true)).toSeq :+
        org.apache.spark.sql.types.StructField("_change_type", StringType,
          nullable = false))
    // all-key tables have no payload to diff: rewrites of the same key
    // set produce no update rows
    val pre =
      if (payloadCols.isEmpty) lit(0)
      else struct(payloadCols.map(c => col(s"_pre_$c")).toIndexedSeq: _*)
    val post =
      if (payloadCols.isEmpty) lit(0)
      else struct(payloadCols.map(col).toIndexedSeq: _*)
    // one pass: each joined row explodes into 0..2 change rows
    val rows = j.select(explode(
      when(col("_o").isNull, array(image("", "insert")))
        .when(col("_n").isNull, array(image("_pre_", "delete")))
        .when(!(pre <=> post),
          array(image("_pre_", "update_preimage"),
            image("", "update_postimage")))
        .otherwise(array().cast(
          org.apache.spark.sql.types.ArrayType(rowType, containsNull = false))))
      .as("_c"))
      .select("_c.*")
    TableChanges(cur.version, rows, Seq.empty, fullRefresh = false)
  }

  /** Full-contents replacement that PRESERVES the replay high-water mark
    * and evolves the pinned schema (vs [[overwrite]], which is the
    * backfill re-copy and resets the mark): the SQL row-level UPDATE /
    * MERGE INTO write path — the new contents are the old contents with
    * row edits applied, so CDC replay semantics must survive. One
    * snapshot commit. */
  def replaceAll(df: DataFrame): Unit = {
    val current = effectiveManifest()
    val n = bucketsOf(current)
    val files = writeDataFiles(df.withColumn("_bucket", bucketExpr(n)), n)
    publish(Manifest(nextVersion,
      current.map(_.highWater).getOrElse(""), files,
      nextSchemaDdl(current, Map.empty, df.schema)))
  }

  /** Group-replacement commit for SQL row-level operations (UPDATE /
    * MERGE INTO via Spark's group-based rewrite): `df` is the COMPLETE
    * new contents of `buckets` — survivors plus edits — and those buckets'
    * old files are dropped; every other bucket carries over untouched.
    * Rows of `df` that hash OUTSIDE `buckets` (MERGE `NOT MATCHED` inserts,
    * UPDATEs that change a key column) are APPENDED to their home buckets
    * — key-safe because a not-matched insert's key exists nowhere and a
    * moved key's old row was just rewritten out of its matched bucket.
    * The replay high-water survives (row edits are not CDC events) and
    * the pinned schema evolves like [[replaceAll]]. One snapshot commit.
    * (The DuckLake row-level mutation shape, reference
    * crates/etl-destinations/src/ducklake/batches.rs:168-213 — at 100 TB
    * a single-row UPDATE rewrites one bucket, not the table.) */
  def replaceBuckets(buckets: Seq[Int], df: DataFrame): Unit = {
    require(effectiveManifest().forall(_.layers.isEmpty),
      s"$root has merge-on-read layers: collapseLayers before replaceBuckets")
    val current = effectiveManifest()
    val n = bucketsOf(current)
    val bset = buckets.toSet
    val files = writeDataFiles(df.withColumn("_bucket", bucketExpr(n)),
      math.min(n, math.max(1, buckets.size)))
    val curFiles = current.map(_.files).getOrElse(Map.empty)
    val carried = curFiles -- bset
    val next = (carried.keySet ++ files.keySet).map { b =>
      b -> (carried.getOrElse(b, Nil) ++ files.getOrElse(b, Nil))
    }.filter(_._2.nonEmpty).toMap
    publish(Manifest(nextVersion, current.map(_.highWater).getOrElse(""),
      next, nextSchemaDdl(current, carried, df.schema)))
  }

  /** SQL DELETE FROM … WHERE cond: rewrite ONLY the buckets holding
    * matching rows (manifest-pruned, like merge); high-water and schema
    * are untouched — a delete is not a CDC event. Rows where `cond`
    * evaluates to NULL are kept (SQL deletes only WHERE-true rows).
    * Returns the number of rows deleted.
    *
    * The discovery pass (which buckets match, how many rows) first
    * prunes the file list through the manifest's per-file [min,max]
    * stats — the same interval check the catalog read path uses
    * ([[org.apache.spark.sql.GraftFileSkipping]]) — so a key-range
    * DELETE on a huge table opens only candidate files, not the whole
    * table. Skipping is conservative (a pruned file cannot hold a
    * cond-true row), so the discovered bucket set and the deleted-row
    * count stay exact; the survivor rewrite below still reads the full
    * affected buckets. */
  def deleteWhere(spark: SparkSession, cond: Column): Long = {
    if (effectiveManifest().exists(_.layers.nonEmpty)) {
      require(groupState.isEmpty,
        s"$root has merge-on-read layers inside an open group")
      collapseLayers(spark) // bucket rewrites need a clean base
    }
    val current = effectiveManifest()
    val m = current.getOrElse(return 0L)
    if (m.allFiles.isEmpty) return 0L
    // The unanalyzed Column is a ColumnNode tree; analyze+optimize a
    // filter over the full table ONCE (schema-only, no job) to get the
    // catalyst condition with literal casts folded, then derive the
    // per-column bounds. Bounds arrive under LOGICAL names; stats are
    // keyed by the on-disk physical names — translate before the check.
    val conjuncts =
      if (m.fileStats.isEmpty && m.fileStrStats.isEmpty) Nil
      else readFiles(spark, m.allFiles, m.schemaDdl, m.columnMapping)
        .filter(cond).queryExecution.optimizedPlan.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }
    val bounds = org.apache.spark.sql.GraftFileSkipping.bounds(conjuncts)
      .map { case (c, r) => m.columnMapping.getOrElse(c, c) -> r }
    val sBounds = org.apache.spark.sql.GraftFileSkipping
      .strBounds(conjuncts)
      .map { case (c, r) => m.columnMapping.getOrElse(c, c) -> r }
    val candidates =
      if (bounds.isEmpty && sBounds.isEmpty) m.allFiles
      else m.allFiles.filter(p =>
        org.apache.spark.sql.GraftFileSkipping
          .survives(m.fileStats.get(p), bounds) &&
        org.apache.spark.sql.GraftFileSkipping
          .survivesStr(m.fileStrStats.get(p), sBounds))
    if (candidates.isEmpty) return 0L
    val base = readFiles(spark, candidates, m.schemaDdl, m.columnMapping)
    val stats = base.filter(coalesce(cond, lit(false)))
      .agg(collect_set(col("_bucket")).as("b"), count(lit(1)).as("n"))
      .collect()(0)
    val nDeleted = stats.getLong(1)
    if (nDeleted == 0L) return 0L
    val buckets = stats.getSeq[Int](0)
    val survivors = readBuckets(spark, m, buckets)
      .filter(!coalesce(cond, lit(false)))
    val newFiles = writeDataFiles(survivors,
      math.min(bucketsOf(Some(m)), math.max(1, buckets.size)))
    publish(Manifest(nextVersion, m.highWater,
      (m.files -- buckets) ++ newFiles, m.schemaDdl))
    nDeleted
  }

  private def deleteRecursively(p: Path): Unit =
    graft.core.Fs.deleteRecursively(p)
}

object GraftTable {
  /** Another writer published this version first (optimistic concurrency
    * conflict). The losing commit's data files are unreferenced and will
    * be reclaimed by [[GraftTable.vacuum]]. */
  final class ConcurrentCommitException(msg: String)
      extends RuntimeException(msg)

  /** Merge-on-read layer pressure of one snapshot — the trigger inputs
    * of policy-driven maintenance ([[graft.sinks.MaintenancePolicy]]):
    * outstanding layer count, total layer bytes (upsert + delete files;
    * the "inlined data" awaiting flush in the reference's DuckLake
    * model, materialization.rs:22-23 min_inlined_bytes), and the
    * deleted-row fraction (layer delete-key rows over base rows of the
    * buckets those deletes touch — the reference's rewrite trigger,
    * materialization.rs:31-32 delete_threshold). */
  final case class LayerPressure(layers: Int, bytes: Long,
      deleteFraction: Double)

  /** Live base-file footprint of one snapshot: file count, total bytes,
    * occupied buckets. Drives the size-aware maintenance gates
    * (min_active_data_files, materialization.rs:33-34) and the
    * auto-rebucket trigger (avg bucket bytes). */
  final case class BasePressure(files: Int, bytes: Long,
      occupiedBuckets: Int)

  /** Stats-harvest cap per commit: a commit referencing more new files
    * than this gets skipping stats for the first `cap` only (a giant
    * backfill shouldn't serialize thousands of footer reads through the
    * commit; its buckets are typically rewritten wholesale anyway). */
  val MaxStatsFilesPerCommit = 1024

  /** Merge-on-read bounds. `MorMaxLayers` caps read-side fold depth —
    * the (layers.size)-th small merge on a MoR table collapses first,
    * so one O(table) rewrite amortizes over that many O(delta) commits
    * (and [[GraftTable.compact]]-based maintenance usually collapses
    * sooner). `MorDeltaMaxRows` is the admission bound: a batch past it
    * is no longer "small" and takes the copy-on-write path (its bucket
    * rewrite is amortized by the batch itself). */
  val MorMaxLayers = 8
  val MorDeltaMaxRows = 262144L
  /** Default floor for [[GraftTable.morMinAffectedBytes]]: ~one parquet
    * target file. Rewriting less than this per merge is cheap at any
    * scale; above it, write amplification starts to dominate and the
    * delta-layer path wins. */
  val MorMinAffectedBytesDefault: Long = 64L << 20
  /** Row cap of a copy-on-write merge's driver-local batch: at or under
    * it (and [[LocalBatchMaxBytes]]) the deduped batch is collected once
    * and merged from the driver (see [[GraftTable.mergeCopyOnWrite]]),
    * above it the batch is cached on the executors. Fits the default
    * admission of 100k rows per micro-batch. One merge of updates into a
    * four-column, 8-bucket table (4-core host, local[4], median of 9),
    * local / cached: 0.66 / 0.97 s for 1,300 rows into 20k; 1.51 / 1.48 s
    * and 1.26 / 1.28 s in two runs of 131,072 rows into 300k. */
  val LocalBatchMaxRows: Int = 1 << 17
  /** Byte cap of a copy-on-write merge's driver-local batch (its rows in
    * Spark's internal format). The driver holds such a batch once, and
    * it ships to the tasks in partitions of
    * [[org.apache.spark.sql.GraftLocalBridge.PartitionBytes]]; wider
    * batches (TOASTed text, bytea, embeddings) are cached on the
    * executors instead. 131,072 rows of a four-column table take ~13 MB. */
  val LocalBatchMaxBytes: Long = 64L << 20
  /** Bound under which a copy-on-write rewrite runs as one task: the
    * affected buckets' live bytes and the batch's bytes must both be
    * under it (see `rewriteBuckets`).
    * One merge of 1,000 updates + 300 inserts into an 8-bucket,
    * four-column table (4-core host, local[4], idle, median of 9),
    * one task / parallel, interpreted lane: 0.64 / 0.64 s at 0.4 MB of
    * live parquet, 0.53 / 0.53 s at 1.0 MB, 0.56 / 0.49 s at 1.9 MB and
    * 0.59 / 0.50 s at 3.0 MB; compiled: 0.81 / 0.82 s at 1.5 MB and
    * 0.85 / 0.80 s at 7.5 MB. On an idle host one task breaks even up to
    * ~1 MB and loses from ~2 MB; below that it frees the other cores
    * (seven fewer tasks, no shuffle) for a loaded pipeline: on the
    * `pg_stream` benchmark (4-core host, 10 alternating runs each) the
    * median freshness was 1846 ms with this bound and 2033 ms with it
    * set to 0, lower in all 10 runs. Smaller than
    * [[CurrentStateSink.InterpretedBelowBytes]], so it needs its own
    * constant. */
  val OneTaskRewriteBelowBytes: Long = 1L << 20
  /** The copy-on-write lane bounds one merge runs with (defaults: the
    * constants above). Specs pass other values to force either side of
    * a lane: `localMaxRows = 0` caches every batch; `oneTaskBelowBytes`
    * 0 forces the parallel rewrite, and `Long.MaxValue` the one-task
    * rewrite wherever the batch's size is known. */
  private[graft] final case class CowLanes(
      localMaxRows: Int = LocalBatchMaxRows,
      localMaxBytes: Long = LocalBatchMaxBytes,
      oneTaskBelowBytes: Long = OneTaskRewriteBelowBytes)
  /** Minimum age before [[vacuum]]'s catch-all sweep treats a
    * never-referenced stage dir / data file as crash debris. Files
    * younger than this may belong to an IN-FLIGHT write racing a
    * cross-process maintenance vacuum. */
  val OrphanSweepMinAgeMs: Long = 10 * 60 * 1000L

  /** One shared Configuration for footer reads: constructing one parses
    * the Hadoop XML defaults (~10 ms) — per-call construction dominated
    * the whole harvest and taxed every merge commit. It must reach the
    * reader through explicit read options: `ParquetFileReader.open(in)`
    * alone builds plain `ParquetReadOptions`, which create (and parse)
    * a fresh Configuration per footer. */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()
  private lazy val footerReadOptions =
    org.apache.parquet.HadoopReadOptions.builder(footerConf).build()

  /** Open one parquet file for a footer read with the shared conf. */
  private def openFooter(path: String) =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), footerConf),
      footerReadOptions)

  /** Fast pre-check from the manifest's schema DDL: harvest only
    * columns whose parquet stats we can use as long ranges (integral
    * physical types; dates are INT32 days, micros timestamps INT64).
    * Unparseable/absent DDL → harvest and let [[footerRanges]] decide
    * per file. */
  private[sinks] def statsEligible(schemaDdl: String,
      col: String): Boolean = {
    if (schemaDdl == null || schemaDdl.isEmpty) return true
    try {
      import org.apache.spark.sql.types._
      StructType.fromDDL(schemaDdl).find(_.name == col)
        .forall(_.dataType match {
          case IntegerType | LongType | ShortType | DateType |
               TimestampType | TimestampNTZType => true
          case _ => false
        })
    } catch { case scala.util.control.NonFatal(_) => true }
  }

  /** String-column twin of [[statsEligible]]: harvest truncated-bound
    * stats only for STRING columns (the DDL is the authority; absent /
    * unparseable DDL → try and let the footer decide). */
  private[sinks] def statsEligibleStr(schemaDdl: String,
      col: String): Boolean = {
    if (schemaDdl == null || schemaDdl.isEmpty) return true
    try {
      import org.apache.spark.sql.types._
      StructType.fromDDL(schemaDdl).find(_.name == col)
        .forall(_.dataType == StringType)
    } catch { case scala.util.control.NonFatal(_) => true }
  }

  /** Truncation length for string bounds — Iceberg's write.metadata
    * truncate(16) default: long keys (URLs, paths) keep manifests
    * compact while prefixes stay selective. */
  val StrStatsTruncateChars = 16

  /** A valid UPPER bound for every string with prefix `max take n`:
    * truncate, then increment the last char (Iceberg
    * truncateStringMax). None when no char in the prefix can increment
    * within ASCII (all 0x7F) — the caller drops the column for that
    * file. `max` itself must be ASCII (checked by the caller). */
  private[sinks] def truncateUpper(max: String,
      n: Int = StrStatsTruncateChars): Option[String] = {
    if (max.length <= n) return Some(max)
    val p = max.substring(0, n).toCharArray
    var i = p.length - 1
    while (i >= 0 && p(i) >= 0x7f.toChar) i -= 1
    if (i < 0) None
    else Some(new String(p, 0, i) + (p(i) + 1).toChar)
  }

  /** Printable ASCII only: parquet's unsigned-UTF-8-byte order and
    * Java's UTF-16 order agree on ASCII, and the manifest JSON writer
    * escapes quotes/backslashes but not raw control characters. */
  private def isAscii(s: String): Boolean =
    s.forall(c => c >= 0x20.toChar && c < 0x80.toChar)

  /** Per-column [lower, upper] STRING bounds from a parquet footer —
    * one footer read for all `cols`. A column appears only when every
    * row group carries non-null binary statistics whose min AND max are
    * pure ASCII (where parquet's unsigned-UTF-8-byte order and Java's
    * UTF-16 order agree — a bound under the WRONG order would skip
    * files that match). Lower = min truncated (always valid), upper =
    * max truncated + last-char increment ([[truncateUpper]]). */
  private[sinks] def footerStrRanges(path: String,
      cols: Seq[String]): Map[String, (String, String)] = {
    import org.apache.parquet.io.api.Binary
    import scala.jdk.CollectionConverters._
    try {
      val r = openFooter(path)
      try {
        val blocks = r.getFooter.getBlocks.asScala
        cols.flatMap { col =>
          val ranges = blocks.map { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == col)
              .flatMap { c =>
                val s = c.getStatistics
                if (s == null || s.isEmpty || !s.hasNonNullValue) None
                else (s.genericGetMin, s.genericGetMax) match {
                  case (mn: Binary, mx: Binary) =>
                    val lo = mn.toStringUsingUTF8
                    val hi = mx.toStringUsingUTF8
                    if (isAscii(lo) && isAscii(hi)) Some((lo, hi))
                    else None
                  case _ => None
                }
              }
          }
          if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
          else {
            val lo = ranges.flatten.map(_._1).min
              .take(StrStatsTruncateChars)
            truncateUpper(ranges.flatten.map(_._2).max)
              .map(hi => col -> (lo, hi))
          }
        }.toMap
      } finally r.close()
    } catch {
      case scala.util.control.NonFatal(_) =>
        Map.empty[String, (String, String)]
    }
  }

  /** Total row count of a parquet file from its footer only — one local
    * metadata read, no Spark job. Unreadable file → 0 (callers use the
    * count for maintenance TRIGGERS, where under-counting is safe). */
  private[sinks] def footerRowCount(path: String): Long = {
    import scala.jdk.CollectionConverters._
    try {
      val r = openFooter(path)
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    } catch { case scala.util.control.NonFatal(_) => 0L }
  }

  /** Per-column [min, max] across a parquet file's row groups, from the
    * footer only (ONE footer read for all `cols`). A column appears in
    * the result only if every row group carries non-null INT64/INT32
    * statistics for it (absence = caller must not skip on it). */
  private[sinks] def footerRanges(path: String,
      cols: Seq[String]): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    try {
      val r = openFooter(path)
      try {
        val blocks = r.getFooter.getBlocks.asScala
        cols.flatMap { col =>
          val ranges = blocks.map { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == col)
              .flatMap { c =>
                val s = c.getStatistics
                if (s == null || s.isEmpty || !s.hasNonNullValue) None
                else s.genericGetMin match {
                  case min: java.lang.Long =>
                    Some((min.longValue,
                      s.genericGetMax.asInstanceOf[java.lang.Long].longValue))
                  case min: java.lang.Integer =>
                    Some((min.longValue,
                      s.genericGetMax.asInstanceOf[java.lang.Integer].longValue))
                  case _ => None
                }
              }
          }
          if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
          else Some(col -> (ranges.flatten.map(_._1).min,
            ranges.flatten.map(_._2).max))
        }.toMap
      } finally r.close()
    } catch {
      case scala.util.control.NonFatal(_) => Map.empty[String, (Long, Long)]
    }
  }

  /** Read parquet `paths` under a pinned LOGICAL schema when files carry
    * PHYSICAL column names (rename history): read under the physical
    * schema, then surface logical names (positions identical). The one
    * translation rule for table reads and graft-follow leader reads —
    * keep them from drifting. */
  private[graft] def readUnderMapping(spark: SparkSession,
      paths: Seq[String], logicalDdl: String, mapping: Map[String, String],
      basePath: Option[String]): DataFrame = {
    val logical = org.apache.spark.sql.types.StructType.fromDDL(logicalDdl)
    val renames = mapping.filter { case (l, p) =>
      l != p && logical.fieldNames.contains(l) }
    val reader0 = spark.read
    val reader = basePath.fold(reader0)(b => reader0.option("basePath", b))
    if (renames.isEmpty) reader.schema(logical).parquet(paths: _*)
    else {
      val physical = org.apache.spark.sql.types.StructType(
        logical.fields.map(f =>
          f.copy(name = renames.getOrElse(f.name, f.name))))
      reader.schema(physical).parquet(paths: _*)
        .withColumnsRenamed(renames.map(_.swap))
    }
  }

  /** Create an EMPTY table: identity + a v0 manifest pinning `schema`
    * (the CREATE TABLE path — the table is immediately readable as zero
    * rows under the declared schema). */
  def create(root: String, schema: org.apache.spark.sql.types.StructType,
      keyCols: Seq[String], nBuckets: Int = 32,
      statsCols: Seq[String] = Nil): GraftTable = {
    val t = new GraftTable(root, keyCols, nBuckets, statsCols0 = statsCols)
    require(!t.exists, s"graft table already exists: $root")
    t.commitManifest(t.Manifest(0L, "", Map.empty,
      org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == "_bucket")).toDDL))
    t
  }

  /** Open an existing table by reading its identity (`_meta.json`) —
    * key columns and bucket count travel with the table, so readers
    * (e.g. the `graft_table(...)` SQL TVF) need only the root path. */
  def open(root: String): GraftTable = {
    val metaPath = Paths.get(root, "_meta.json")
    require(Files.exists(metaPath), s"not a graft table (no _meta.json): $root")
    val s = new String(Files.readAllBytes(metaPath), StandardCharsets.UTF_8)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(s)
    // `_meta.json` holds the CREATION-TIME names — which are exactly
    // the physical (on-disk) names, since a rename never rewrites
    // files. Translate them through the current snapshot's name mapping
    // so the handle speaks today's logical names even after a KEY
    // column rename (the mapping commit is the only thing a rename
    // writes; `_meta.json` is immutable by design).
    val probe = new GraftTable(root, List("_probe"))
    val toLogical = probe.currentManifest()
      .map(_.columnMapping.map(_.swap)).getOrElse(Map.empty)
    def logical(ns: List[String]) = ns.map(n => toLogical.getOrElse(n, n))
    new GraftTable(root, logical((j \ "keyCols").extract[List[String]]),
      (j \ "nBuckets").extract[Int],
      bucketCols0 =
        logical((j \ "bucketCols").extractOrElse[List[String]](Nil)),
      statsCols0 =
        logical((j \ "statsCols").extractOrElse[List[String]](Nil)),
      mergeOnRead =
        (j \ "mergeOnRead").extractOrElse[Boolean](false))
  }
}
