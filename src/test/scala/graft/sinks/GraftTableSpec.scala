package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class GraftTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-tbl").toString

  private def seq(lsn: Long) = f"$lsn%016x/${0L}%016x"

  private def batch(rows: (Long, String, String, Long)*) =
    rows.toDF("id", "v", "_op", "lsn")
      .withColumn("_seq", format_string("%016x/%016x", col("lsn"), lit(0L)))
      .drop("lsn")

  /** (Spark jobs, SQL executions) submitted while `body` runs
    * (listener-drained). Executions count planned-and-run queries —
    * a merge that plans its batch twice (e.g. an `.rdd` partition
    * probe that materializes under AQE) or sneaks in a driver collect
    * shows up here even when the job count stays flat. */
  private def countBudget(body: => Unit): (Int, Int) = {
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui
            .SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.GraftTestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    (jobs.get, execs.get)
  }

  private def countJobs(body: => Unit): Int = countBudget(body)._1

  /** A merge with the copy-on-write lane bounds forced. */
  private def mergeWith(t: GraftTable, b: org.apache.spark.sql.DataFrame,
      lanes: GraftTable.CowLanes): Unit =
    t.merge(b, Nil, skipReplayFilter = false, advanceHw = true, lanes)

  /** Tasks of the last stage `body` submits: a merge's rewrite write. */
  private def lastStageTasks(body: => Unit): Int = {
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    val last = new java.util.concurrent.atomic.AtomicInteger(-1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        last.set(s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.GraftTestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    last.get
  }

  test("merge job budget: bootstrap and merge-on-read commits cost ONE " +
      "Spark job (stats observed during the staged write, commit is " +
      "file moves — round-12 verdict item 1); empty replay costs one; " +
      "copy-on-write adds only its unavoidable rewrite job") {
    val mor = new GraftTable(tmp(), Seq("id"), nBuckets = 4,
      mergeOnRead = true, morMinAffectedBytes = 0L)
    val (boot, bootEx) = countBudget {
      mor.merge(batch((1L, "a", "I", 1L), (2L, "b", "I", 1L)))
    }
    assert(boot == 1, s"bootstrap merge took $boot jobs, expected 1")
    assert(bootEx == 1, s"bootstrap merge planned/ran $bootEx SQL " +
      "executions, expected exactly the staged write")
    val (delta, deltaEx) = countBudget {
      mor.merge(batch((1L, "a2", "U", 2L)))
    }
    assert(delta == 1, s"merge-on-read delta took $delta jobs, expected 1")
    assert(deltaEx == 1, s"merge-on-read delta planned/ran $deltaEx SQL " +
      "executions, expected exactly the staged write (round-13 " +
      "verdict #2: no second planning/probe pass per merge)")
    val (replay, replayEx) = countBudget {
      mor.merge(batch((1L, "a2", "U", 2L)))
    }
    assert(replay == 1, s"empty replay took $replay jobs, expected 1")
    assert(replayEx == 1, s"empty replay ran $replayEx SQL executions")
    assert(mor.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b")))
    val cow = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    cow.merge(batch((1L, "a", "I", 1L), (2L, "b", "I", 1L)))
    val (cowJobs, cowEx) = countBudget {
      cow.merge(batch((1L, "a2", "U", 2L)))
    }
    // copy-on-write collects the batch once and rewrites from the
    // driver's rows (a parquet stage would be pure encode/decode
    // overhead — its files are never adopted): the collect and the
    // write are the only SQL executions, and the jobs are the collect,
    // the broadcast of the batch keys and one write job.
    assert(cowEx == 2, s"copy-on-write merge ran $cowEx SQL executions, " +
      "expected exactly the batch collect and the rewrite")
    assert(cowJobs <= 3, s"copy-on-write merge took $cowJobs jobs — " +
      "an extra pass crept into the merge path")
    assert(cow.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b")))
  }

  test("copy-on-write merge into a layered table collapses, then merges " +
      "the batch it already collected: the batch is read once") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4,
      mergeOnRead = true, morMinAffectedBytes = 0L)
    t.merge(batch((1L, "a", "I", 1L), (2L, "b", "I", 1L), (3L, "c", "I", 1L)))
    t.merge(batch((1L, "a2", "U", 2L)))
    assert(t.hasLayers)
    val reads = spark.sparkContext.longAccumulator("batch row reads")
    val seen = udf { (id: Long) => reads.add(1); id }.asNondeterministic()
    // a TOAST-masked merge takes the copy-on-write lane
    val masked = batch((2L, null, "U", 3L), (4L, "d", "I", 3L))
      .withColumn("id", seen(col("id")))
    t.merge(masked, coalesceCols = Seq("v"))
    assert(reads.value == 2L, s"the batch's rows were read ${reads.value} " +
      "times over, expected once")
    assert(!t.hasLayers)
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(t.readMeta().highWater == seq(3L))
  }

  test("copy-on-write rewrites write the same files in one task as in " +
      "parallel, from both merge lanes") {
    def md5(f: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(Files.readAllBytes(java.nio.file.Paths.get(f))).toSeq
    // (rows, high-water mark, bucket → content digests of its files)
    def run(mergeOnRead: Boolean, oneTask: Boolean) = {
      // merge-on-read at the default admission floor: these small
      // merges take mergeStaged's copy-on-write branch
      val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4,
        mergeOnRead = mergeOnRead)
      val lanes = GraftTable.CowLanes(
        oneTaskBelowBytes = if (oneTask) Long.MaxValue else 0L)
      t.merge(batch((1L to 12L).map(i => (i, s"v$i", "I", 1L)): _*))
      val before = t.currentFilesByBucket
      mergeWith(t, batch((2L, "", "D", 2L), (5L, "v5b", "U", 2L),
        (20L, "new", "I", 2L), (7L, "v7b", "U", 2L)), lanes)
      assert(!t.hasLayers)
      val byBucket = t.currentFilesByBucket
      val rewritten = byBucket.filter { case (b, fs) => !before.get(b).contains(fs) }
      assert(rewritten.nonEmpty && rewritten.values.forall(_.size == 1),
        rewritten)
      (t.read(spark).as[(Long, String)].collect().toSet,
        t.readMeta().highWater,
        byBucket.map { case (b, fs) =>
          b -> fs.map(f => md5(t.resolved(f))).sortBy(_.toString) })
    }
    for (mor <- Seq(false, true)) {
      val one = run(mor, oneTask = true)
      assert(one == run(mor, oneTask = false), s"mergeOnRead=$mor")
      assert(one._1.size == 12 && one._1((5L, "v5b")) &&
        !one._1.exists(_._1 == 2L))
    }
  }

  test("copy-on-write rewrites run in one task only when both the " +
      "destination and the batch are small; a cached batch never does") {
    val lanes = GraftTable.CowLanes(oneTaskBelowBytes = 64L << 10)
    // 4,000 rows of 64 hex chars: ~0.5 MB as rows, ~0.2 MB staged
    def big(lsn: Long) = spark.range(1, 4001).select(col("id"),
      sha2(col("id").cast("string"), 256).as("v"), lit("U").as("_op"),
      lit(seq(lsn)).as("_seq"))
    val small = (1L to 8L).map(i => (i, s"v$i", "I", 1L))
    for (mor <- Seq(false, true)) {
      // merge-on-read at the default admission floor: these merges
      // into a small table take mergeStaged's copy-on-write branch
      val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4,
        mergeOnRead = mor)
      t.merge(batch(small: _*))
      assert(lastStageTasks(mergeWith(t,
        batch(small.map(r => r.copy(_2 = r._2 + "b", _4 = 2L)): _*),
        lanes)) == 1, s"mergeOnRead=$mor: small batch, small table")
      assert(lastStageTasks(mergeWith(t, big(3L), lanes)) > 1,
        s"mergeOnRead=$mor: a large batch into a small table ran in one task")
      assert(t.read(spark).count() == 4000L)
    }
    val cached = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    cached.merge(batch(small: _*))
    assert(lastStageTasks(mergeWith(cached,
      batch(small.map(r => r.copy(_2 = r._2 + "b", _4 = 2L)): _*),
      GraftTable.CowLanes(localMaxRows = 0,
        oneTaskBelowBytes = Long.MaxValue))) > 1,
      "a cached batch was rewritten in one task")
    assert(cached.read(spark).as[(Long, String)].collect().toSet ==
      small.map(r => (r._1, r._2 + "b")).toSet)
  }

  test("copy-on-write merge of wide rows: the driver-local batch is " +
      "bounded by bytes and ships in partitions of about 8 MiB; every " +
      "lane writes the same table") {
    // 24 rows of 512 KiB each: 12 MiB of batch
    def wide(lsn: Long, tag: String) = spark.range(0, 24).select(
      col("id"), concat(col("id").cast("string"), repeat(lit(tag), 1 << 19))
        .as("v"), lit(if (lsn == 1L) "I" else "U").as("_op"),
      lit(seq(lsn)).as("_seq"))
    val bridge = org.apache.spark.sql.GraftLocalBridge
    val rows = bridge.collectBounded(wide(1L, "a"),
      GraftTable.LocalBatchMaxRows, GraftTable.LocalBatchMaxBytes)
    assert(rows.map(_.length).contains(24))
    val frame = bridge.localFrame(spark, wide(1L, "a").schema, rows.get)
    val parts = frame.rdd.getNumPartitions
    assert(parts >= 2 && 24 / parts * (512L << 10) <=
      bridge.PartitionBytes, s"$parts partitions")
    assert(frame.count() == 24L)
    assert(bridge.collectBounded(wide(1L, "a"), 100, 1L << 20).isEmpty,
      "the byte bound let 12 MiB through")
    assert(bridge.collectBounded(wide(1L, "a"), 23, 64L << 20).isEmpty,
      "the row bound let 24 rows through")

    def run(lanes: GraftTable.CowLanes) = {
      val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
      mergeWith(t, wide(1L, "a"), lanes)
      mergeWith(t, wide(2L, "b").filter(col("id") % 2 === 0), lanes)
      (t.read(spark).select(col("id"), md5(col("v")))
        .as[(Long, String)].collect().toSet, t.readMeta().highWater)
    }
    val local = run(GraftTable.CowLanes())
    assert(local._1.size == 24 && local._2 == seq(2L))
    assert(run(GraftTable.CowLanes(localMaxBytes = 1L << 20)) == local)
    assert(run(GraftTable.CowLanes(localMaxRows = 0)) == local)
  }

  test("staging small/wide decision: no-shuffle only when the input " +
      "partition count is PROVABLY ≤ buckets (exact RDD/local leaves, " +
      "or shuffle-bounded tops) — never a second planning pass " +
      "(round-13 verdict #2); unprovable shapes repartition and stay " +
      "correct with O(buckets) staged files") {
    val mor = new GraftTable(tmp(), Seq("id"), nBuckets = 4,
      mergeOnRead = true, morMinAffectedBytes = 0L)
    mor.merge(batch((1L, "a", "I", 1L), (2L, "b", "I", 1L)))
    // aggregate-shaped batches (the CDC apply hot path goes through
    // last-writer-wins) are shuffle-bounded: with shuffle.partitions
    // (4) ≤ nBuckets (4) they prove no-shuffle and stay one job
    def aggBatch(rows: (Long, String, String, Long)*) =
      graft.operators.ApplyOps.lastWriterWins(batch(rows: _*),
        Seq("id"), Seq("_seq"))
    val (aggJobs, aggExecs) = countBudget {
      mor.merge(aggBatch((1L, "a2", "U", 2L)))
    }
    assert(aggExecs == 1, s"agg-shaped delta ran $aggExecs executions")
    assert(aggJobs <= 3, // the LWW shuffle stages + the write, no more
      s"agg-shaped delta took $aggJobs jobs")
    // join/union-shaped batches are NOT provable (a broadcast join
    // keeps the streamed side's unbounded partitioning): they take the
    // repartition lane — correct results, and the staged layer stays
    // O(buckets) files rather than O(input partitions × buckets)
    val extra = batch((2L, "b2", "U", 3L), (3L, "c", "I", 3L))
    val joined = extra.join(
      batch((2L, "x", "I", 1L), (3L, "x", "I", 1L)).select("id"),
      Seq("id"), "left_semi")
    mor.merge(joined)
    assert(mor.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b2"), (3L, "c")))
    val layers = mor.currentManifest().map(_.layers).getOrElse(Nil)
    assert(layers.nonEmpty &&
      layers.last.ups.values.forall(_.size <= 1),
      "repartitioned staging must leave ≤1 upsert file per bucket")
  }

  test("stale .stage-* crash debris is swept on the first merge " +
      "(age-gated); fresh concurrent stage dirs are left alone") {
    val root = tmp()
    val t = new GraftTable(root, Seq("id"), nBuckets = 4)
    // crash debris: a stage dir older than the orphan-sweep window
    val stale = java.nio.file.Paths.get(root, ".stage-crash-debris")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.write(stale.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - GraftTable.OrphanSweepMinAgeMs - 60000)
    java.nio.file.Files.setLastModifiedTime(stale, old)
    // a rival writer's in-flight stage dir: fresh mtime
    val fresh = java.nio.file.Paths.get(root, ".stage-in-flight")
    java.nio.file.Files.createDirectories(fresh)
    t.merge(batch((1L, "a", "I", 1L)))
    assert(!java.nio.file.Files.exists(stale),
      "stale stage debris must be swept by the first merge")
    assert(java.nio.file.Files.exists(fresh),
      "a fresh (possibly in-flight) stage dir must survive")
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a")))
  }

  test("overwrite + read roundtrip") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("merge: upsert + delete + last-writer-wins across batches") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.merge(batch((1L, "a2", "U", 10L), (4L, "d", "I", 10L)))
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d")))
    t.merge(batch((2L, "", "D", 20L), (4L, "d2", "U", 20L)))
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (3L, "c"), (4L, "d2")))
    assert(t.readMeta().highWater == seq(20L))
  }

  test("KEY column rename: one zero-movement mapping commit — bucket " +
      "membership and data files untouched, open() speaks the new key, " +
      "post-rename merges and pruned lookups work on the new name") {
    val root = tmp()
    val t = new GraftTable(root, Seq("id"), nBuckets = 4)
    t.overwrite((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    val m0 = t.currentManifest().get
    t.renameColumn("id", "uid") // the reference renames ANY column, PK incl.
    val m1 = t.currentManifest().get
    // zero data movement: the commit carries the SAME files per bucket
    assert(m1.files == m0.files, "key rename must not move data")
    assert(m1.columnMapping == Map("uid" -> "id"))
    // a fresh handle derives the new logical key from meta + mapping
    val t2 = GraftTable.open(root)
    assert(t2.keyCols == Seq("uid") && t2.bucketCols == Seq("uid"))
    assert(t2.read(spark).columns.toSet == Set("uid", "v"))
    // routing unchanged: a bucket-pruned point lookup by the NEW key
    // name finds rows written pre-rename (hash is over values)
    assert(t2.lookup(spark, Seq(7L)).select("v").as[String].collect()
      .toSeq == Seq("v7"))
    // post-rename merge on the new key merges in place — no fork
    t2.merge(Seq((7L, "v7b", "U", "0000000000000010/0000000000000000"),
        (21L, "v21", "I", "0000000000000010/0000000000000000"))
      .toDF("uid", "v", "_op", "_seq"))
    val out = t2.read(spark).as[(Long, String)].collect().toMap
    assert(out(7L) == "v7b" && out(21L) == "v21" && out.size == 21, out)
    // retype of the (renamed) key stays refused
    val bad = intercept[IllegalArgumentException] {
      t2.applyDdlPlan(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("uid",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
    }
    assert(bad.getMessage.contains("bucket key"), bad.getMessage)
  }

  test("idempotent replay: re-merging an old batch is a no-op (ducklake replay_epoch)") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    val b = batch((1L, "new", "U", 10L), (2L, "x", "I", 10L))
    t.merge(b)
    val after = t.read(spark).as[(Long, String)].collect().toSet
    t.merge(b) // replay — filtered by high-water mark
    assert(t.read(spark).as[(Long, String)].collect().toSet == after)
    // stale subset replay also no-op
    t.merge(batch((1L, "stale", "U", 5L)))
    assert(t.read(spark).as[(Long, String)].collect().toSet == after)
  }

  test("merge-on-read: small merges append delta layers, no bucket rewrite;" +
      " reads fold, collapse is data-identical") {
    val cow = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    val mor = new GraftTable(tmp(), Seq("id"), nBuckets = 4,
      mergeOnRead = true, morMinAffectedBytes = 0L)
    def state(t: GraftTable) =
      t.read(spark).as[(Long, String)].collect().toSet
    Seq(cow, mor).foreach { t =>
      t.overwrite((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"))
    }
    val baseFiles = mor.currentFiles.toSet
    // a mixed upsert/delete delta over keys in every bucket
    val deltas = Seq(
      batch((1L, "a2", "U", 10L), (2L, "", "D", 10L), (60L, "new", "I", 10L)),
      batch((3L, "b2", "U", 20L), (60L, "", "D", 20L), (61L, "x", "I", 20L)),
      batch((1L, "a3", "U", 30L), (61L, "x2", "U", 30L), (4L, "", "D", 30L)))
    deltas.foreach { d => cow.merge(d); mor.merge(d) }
    // identical visible state through the layer fold...
    assert(state(mor) == state(cow))
    assert(mor.readMeta().highWater == cow.readMeta().highWater)
    // ...but the MoR base files were never rewritten
    assert(baseFiles.subsetOf(mor.currentFiles.toSet),
      "delta merges must not rewrite base bucket files")
    // replay idempotence holds through layers
    val before = state(mor)
    mor.merge(deltas(1))
    assert(state(mor) == before)
    // time travel reads layered snapshots (version after delta 1)
    val versions = mor.versions
    assert(mor.readVersion(spark, versions(versions.length - 2))
      .as[(Long, String)].collect().toSet.contains((3L, "b2")))
    // collapse restores a clean base with identical contents
    mor.collapseLayers(spark)
    assert(state(mor) == before)
    assert(!baseFiles.subsetOf(mor.currentFiles.toSet))
    mor.vacuum(1)
    assert(state(mor) == before)
    // a post-collapse delta starts a fresh layer chain
    mor.merge(batch((5L, "c2", "U", 40L)))
    assert(state(mor) == before - ((5L, "v5")) + ((5L, "c2")))
  }

  test("merge-on-read: layer cap triggers collapse, chain stays bounded") {
    val mor = new GraftTable(tmp(), Seq("id"), nBuckets = 2,
      mergeOnRead = true, morMinAffectedBytes = 0L)
    mor.overwrite((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    // MorMaxLayers small deltas then one more: chain must stay bounded
    (1 to GraftTable.MorMaxLayers + 2).foreach { i =>
      mor.merge(batch((i.toLong, s"u$i", "U", 100L + i)))
    }
    val m = mor.readManifest(mor.currentVersion.get)
    assert(m.layers.size <= GraftTable.MorMaxLayers,
      s"layer chain must stay bounded: ${m.layers.size}")
    val got = mor.read(spark).as[(Long, String)].collect().toSet
    val want = (1L to 20L).map(i =>
      (i, if (i <= GraftTable.MorMaxLayers + 2) s"u$i" else s"v$i")).toSet
    assert(got == want)
  }

  test("manifests pin the snapshot schema: no footer sweep, evolution stays visible") {
    val root = tmp()
    val t = new GraftTable(root, Seq("id"), nBuckets = 4)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // pinned schema lands in the manifest json
    import scala.jdk.CollectionConverters._
    val mPath = java.nio.file.Paths.get(root, "_manifests")
    def latestManifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Files.list(mPath).iterator().asScala.toSeq.max))
    assert(latestManifest.contains("\"schema\":\"id BIGINT"))
    // merge a batch carrying an ADDED column: old files lack it, but the
    // pinned union schema surfaces it as null for pre-DDL rows
    val b = Seq((1L, "a2", 9L, "U"), (3L, "c", 9L, "I"))
      .toDF("id", "v", "extra", "_op")
      .withColumn("_seq", format_string("%016x/%016x", lit(1L), lit(0L)))
    t.merge(b)
    val out = t.read(spark).select("id", "v", "extra")
      .as[(Long, String, Option[Long])].collect().toSet
    assert(out == Set((1L, "a2", Some(9L)), (2L, "b", None), (3L, "c", Some(9L))))
    assert(latestManifest.contains("extra BIGINT"))
    // pre-upgrade manifest (no schema field) still reads via mergeSchema
    val m = t.currentManifest().get
    t.commitManifest(m.copy(version = m.version + 1, schemaDdl = ""))
    assert(t.read(spark).select("id", "v", "extra")
      .as[(Long, String, Option[Long])].collect().toSet == out)
  }

  test("concurrent same-version commits: second writer fails, first commit intact") {
    val root = tmp()
    val t = new GraftTable(root, Seq("id"), nBuckets = 4)
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    // a second handle races: both computed nextVersion against the same
    // current snapshot → same version number; the link publish is
    // exclusive so the loser gets a conflict instead of clobbering
    val t2 = new GraftTable(root, Seq("id"), nBuckets = 4)
    val m = t.currentManifest().get
    val m2 = t2.currentManifest().get // stale view read BEFORE t commits
    t.commitManifest(m.copy(version = m.version + 1, highWater = "aaaa"))
    intercept[GraftTable.ConcurrentCommitException] {
      t2.commitManifest(m2.copy(version = m2.version + 1, highWater = "bbbb"))
    }
    // winner's commit survives untouched
    assert(t.readMeta().highWater == "aaaa")
    assert(t.read(spark).as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("merge on empty table bootstraps, deletes dropped") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    t.merge(batch((1L, "a", "I", 1L), (2L, "b", "D", 1L)))
    assert(t.read(spark).as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("truncate clears data AND rewinds replay high-water") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    t.merge(batch((1L, "a", "I", 7L)))
    t.truncate()
    assert(t.read(spark).isEmpty)
    // the mark rewinds with the data: a replayed truncate-containing
    // micro-batch re-truncates and RE-MERGES its post-truncate slice — a
    // surviving mark would filter that slice out and lose it forever
    assert(t.readMeta().highWater == "")
    t.merge(batch((1L, "a", "I", 7L))) // replayed slice re-applies
    assert(t.read(spark).as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("merge touches only affected buckets (copy-on-write pruning)") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 8)
    t.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    val before = (0 until 8).map { b =>
      b -> Files.getLastModifiedTime(
        java.nio.file.Paths.get(t.root, "data", s"_bucket=$b")).toMillis
    }.toMap
    Thread.sleep(50)
    t.merge(batch((1L, "v1x", "U", 10L)))
    val bucketOf1 = spark.range(1).select(
      pmod(hash(lit(1L)), lit(8)).cast("int")).as[Int].head()
    (0 until 8).foreach { b =>
      val now = Files.getLastModifiedTime(
        java.nio.file.Paths.get(t.root, "data", s"_bucket=$b")).toMillis
      if (b == bucketOf1) assert(now > before(b), s"bucket $b should be rewritten")
      else assert(now == before(b), s"bucket $b should be untouched")
    }
    assert(t.read(spark).filter($"id" === 1L).select("v").as[String].head() == "v1x")
  }

  test("merge with coalesceCols: null update columns keep stored values (ST6 cross-batch TOAST)") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    t.overwrite(Seq((1L, Some("big-toast-value"), 10),
      (2L, Some("x"), 20)).toDF("id", "blob", "n"))
    // update row 1: blob arrives NULL (UnchangedToast) but n changes;
    // insert row 3 with NULL blob (a REAL null — inserts never coalesce)
    val b = Seq(
      (1L, None: Option[String], 11, "U", 5L),
      (3L, None: Option[String], 30, "I", 5L)
    ).toDF("id", "blob", "n", "_op", "lsn")
      .withColumn("_seq", format_string("%016x/%016x", col("lsn"), lit(0L)))
      .drop("lsn")
    t.merge(b, coalesceCols = Seq("blob"))
    val rows = t.read(spark).as[(Long, Option[String], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L) == ((Some("big-toast-value"), 11))) // kept via coalesce
    assert(rows(2L) == ((Some("x"), 20)))
    assert(rows(3L) == ((None, 30)))                    // insert keeps null
  }

  test("lookup scans only the key's bucket (point-read pruning)") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 8)
    t.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    val hit = t.lookup(spark, Seq(42L))
    assert(hit.select("v").as[String].collect().toSeq == Seq("v42"))
    // the executed scan reads exactly one of the 8 bucket files
    val scan = hit.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    hit.collect()
    assert(scan.metrics("numFiles").value == 1)
    // miss returns empty, still pruned
    assert(t.lookup(spark, Seq(9999L)).isEmpty)
  }

  test("compact merges crowded buckets to one file; vacuum reclaims (D4 maintenance)") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 2)
    t.overwrite((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    // fabricate fragmentation (merge rewrites whole buckets, so fragments
    // come from external appenders): clone each bucket's file and publish
    // a manifest that references both copies
    val m0 = t.currentManifest().get
    val fragged = m0.files.map { case (b, fs) =>
      // manifest entries are root-relative — resolve for the FS copy,
      // record the clone relative again (the format the writer produces)
      val orig = java.nio.file.Paths.get(t.root).resolve(fs.head)
      val clone = orig.getParent.resolve("clone-" + orig.getFileName)
      java.nio.file.Files.copy(orig, clone)
      b -> (fs :+ java.nio.file.Paths.get(t.root).relativize(clone).toString)
    }
    t.commitManifest(t.Manifest(m0.version + 1, m0.highWater, fragged))
    // crashed-stage leftover for vacuum to reclaim — BACKDATED past the
    // orphan-sweep age gate (a fresh stage dir may belong to an
    // in-flight writer racing a cross-process vacuum and must survive)
    val stale = java.nio.file.Paths.get(t.root, ".stage-dead")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - GraftTable.OrphanSweepMinAgeMs - 1000))
    val before = t.read(spark).as[(Long, String)].collect().toSet
    val nRowsBefore = t.read(spark).count() // incl. duplicated clone rows
    val compacted = t.compact(spark, maxFiles = 1)
    assert(compacted.nonEmpty)
    // contents unchanged (incl. duplicate rows) — compaction is data-identical
    assert(t.read(spark).as[(Long, String)].collect().toSet == before)
    assert(t.read(spark).count() == nRowsBefore)
    // vacuum expires old snapshots + their files and crashed stage dirs
    t.vacuum(keep = 1)
    assert(!java.nio.file.Files.exists(stale))
    compacted.foreach { b =>
      val dir = java.nio.file.Paths.get(t.root, "data", s"_bucket=$b")
      import scala.jdk.CollectionConverters._
      val n = java.nio.file.Files.list(dir).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(n == 1, s"bucket $b has $n files")
    }
    // merges still work after compaction
    t.merge(batch((1L, "after-compact", "U", 99L)))
    assert(t.read(spark).filter($"id" === 1L).select("v").as[String].head()
      == "after-compact")
  }

  test("group commit: N writes publish as ONE snapshot, invisible until commitGroup") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v0 = t.currentVersion.get

    t.beginGroup()
    t.merge(batch((1L, "a2", "U", 1L)))
    t.merge(batch((3L, "c", "I", 2L)))
    t.merge(batch((2L, "", "D", 3L)))
    // readers still see the pre-group snapshot (staged writes invisible)
    assert(t.currentVersion.contains(v0))
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // maintenance is fenced while a group is open
    intercept[IllegalArgumentException] { t.vacuum() }

    t.commitGroup()
    // exactly ONE new version; all three merges visible atomically
    assert(t.currentVersion.contains(v0 + 1))
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (3L, "c")))
    // the group's high-water survives: replaying a group member is a no-op
    t.merge(batch((1L, "stale", "U", 2L)))
    assert(t.read(spark).filter($"id" === 1L).select("v").as[String].head()
      == "a2")

    // aborted group: staged writes vanish, vacuum reclaims the orphans
    t.beginGroup()
    t.merge(batch((9L, "x", "I", 9L)))
    t.abortGroup()
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (3L, "c")))
    t.vacuum(keep = 1)
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (3L, "c")))
  }

  test("auto-maintenance policy: every Nth batch compacts fragmented buckets") {
    import scala.jdk.CollectionConverters._
    val dir = tmp()
    val sink = new CurrentStateSink(dir, _ => Seq("id"), nBuckets = 2,
      maintenance = MaintenancePolicy(everyBatches = 2, maxFilesPerBucket = 1,
        keepVersions = 1)) // keep only the compacted snapshot's files
    def ev(lsn: Long, id: Long, v: String) =
      Seq((id, v, "U", lsn, 0L))
        .toDF("id", "v", "_op", "_commit_lsn", "_tx_ordinal")
    sink.writeTableRows("t", (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v"))
    // fragment via plain appends (the catalog INSERT INTO path)
    val t = sink.tableFor("t")
    t.append(Seq((100L, "x"), (101L, "y")).toDF("id", "v"))
    t.append(Seq((102L, "z")).toDF("id", "v"))
    def maxFilesPerBucket(): Int = {
      val data = java.nio.file.Paths.get(dir, "t", "data")
      java.nio.file.Files.list(data).iterator().asScala.toVector.map { b =>
        java.nio.file.Files.list(b).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
      }.max
    }
    assert(maxFilesPerBucket() > 1) // fragmented
    sink.writeEvents("t", ev(1L, 1L, "u1"))  // batch 1: no maintenance yet
    sink.writeEvents("t", ev(2L, 2L, "u2"))  // batch 2: compact + vacuum fire
    assert(maxFilesPerBucket() == 1, "policy did not compact")
    // content survived maintenance
    assert(sink.read(spark, "t").count() == 11)
    assert(sink.read(spark, "t").filter($"id" === 1L)
      .select("v").as[String].head() == "u1")
  }

  test("changesSince: manifest diff yields exactly the changed buckets") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4,
      retainVersions = 3)
    t.overwrite((1L to 12L).map(i => (i, s"v$i")).toDF("id", "v"))
    val v0 = t.currentVersion.get
    // change ONE key → its bucket only
    t.merge(batch((1L, "v1b", "U", 10L)))
    val c1 = t.changesSince(spark, v0)
    assert(c1.version == v0 + 1 && c1.goneBuckets.isEmpty && !c1.fullRefresh)
    val touched = c1.rows.select("_bucket").distinct().as[Int].collect().toSet
    assert(touched.size < 4, s"diff returned $touched — not bucket-pruned")
    // the diff contains the changed key's new value (plus its bucket peers)
    assert(c1.rows.filter($"id" === 1L).select("v").as[String].head() == "v1b")
    // catching up from the current version is an empty diff, schema intact
    val c2 = t.changesSince(spark, c1.version)
    assert(c2.version == c1.version && c2.rows.isEmpty &&
      c2.goneBuckets.isEmpty && !c2.fullRefresh)
    assert(c2.rows.columns.contains("_bucket"))
    // an expired from-version is flagged as a full refresh
    val full = t.changesSince(spark, -5L)
    assert(full.fullRefresh && full.rows.count() == 12)
    val v1 = c1.version
    // a bucket whose rows all die is reported as gone
    val allIds = (1L to 12L)
    val bucketOf = t.read(spark).withColumn("_b",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash($"id"),
          org.apache.spark.sql.functions.lit(4)))
      .select("id", "_b").as[(Long, Int)].collect().toMap
    val victim = bucketOf(1L)
    val dels = allIds.filter(id => bucketOf(id) == victim)
      .zipWithIndex.map { case (id, i) => (id, "", "D", 20L + i) }
    t.merge(dels.toDF("id", "v", "_op", "lsn")
      .withColumn("_seq", format_string("%016x/%016x", col("lsn"), lit(0L)))
      .drop("lsn"))
    assert(t.changesSince(spark, v1).goneBuckets == Seq(victim))
  }

  test("rowChangesSince: row-level CDF with exact insert/delete/update images") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4,
      retainVersions = 5)
    t.overwrite((1L to 12L).map(i => (i, s"v$i")).toDF("id", "v"))
    val v0 = t.currentVersion.get
    // one merge: update key 1, insert key 20, delete key 2
    t.merge(batch((1L, "v1b", "U", 10L), (20L, "new", "I", 10L),
      (2L, "", "D", 10L)))
    val c = t.rowChangesSince(spark, v0)
    assert(c.version == v0 + 1 && !c.fullRefresh)
    val got = c.rows.select("id", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet
    // unchanged bucket-peers of the touched keys do NOT appear
    assert(got == Set(
      (1L, "v1", "update_preimage"), (1L, "v1b", "update_postimage"),
      (20L, "new", "insert"), (2L, "v2", "delete")), got)
    // catching up from current → empty feed with a stable schema
    val none = t.rowChangesSince(spark, c.version)
    assert(none.rows.isEmpty &&
      none.rows.columns.toSeq == Seq("id", "v", "_change_type"))
    // expired from-version degrades to a full-refresh insert feed
    val full = t.rowChangesSince(spark, -9L)
    assert(full.fullRefresh && full.rows.count() == 12 &&
      full.rows.select("_change_type").distinct()
        .as[String].collect().toSeq == Seq("insert"))
    // SQL surface: the TVF serves the same feed
    graft.GraftExtensions.install(spark)
    val sql = spark.sql(
      s"SELECT id, v, _change_type FROM graft_table_changes('${t.root}', $v0)")
      .as[(Long, String, String)].collect().toSet
    assert(sql == got)
    // 3-arg form pins the feed to an intermediate snapshot: a LATER
    // commit must not leak into the (v0, v1] window
    val v1 = c.version
    t.merge(batch((7L, "v7b", "U", 11L)))
    val between = spark.sql(
      s"SELECT id, v, _change_type FROM graft_table_changes('${t.root}', $v0, $v1)")
      .as[(Long, String, String)].collect().toSet
    assert(between == got, between)
    // an UNKNOWN future fromVersion (dropped/recreated table) degrades
    // to full refresh — never throws on the ordering
    val future = t.rowChangesSince(spark, 9999L)
    assert(future.fullRefresh && future.rows.count() > 0)
    // explicit windows validate their bounds with actionable messages
    val badTo = intercept[IllegalArgumentException](
      t.rowChangesBetween(spark, v0, 9999L))
    assert(badTo.getMessage.contains("not a retained snapshot"))
    val inverted = intercept[IllegalArgumentException](
      t.rowChangesBetween(spark, v1, v0))
    assert(inverted.getMessage.contains("inverted change window"))
  }

  test("rowChangesSince: schema evolution projects preimages onto the new schema") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 2,
      retainVersions = 5)
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    val v0 = t.currentVersion.get
    // merge with an ADDED column: the preimage lacks it → null
    t.merge(Seq((1L, "a2", 7L, "U", "0000000000000010/0000000000000000"))
      .toDF("id", "v", "extra", "_op", "_seq"))
    val rows = t.rowChangesSince(spark, v0).rows
      .select("id", "v", "extra", "_change_type")
      .as[(Long, String, Option[Long], String)].collect().toSet
    assert(rows == Set(
      (1L, "a", None, "update_preimage"),
      (1L, "a2", Some(7L), "update_postimage")), rows)
  }

  test("rowChangesSince: preimages carry values across RENAME COLUMN") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 2,
      retainVersions = 5)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v0 = t.currentVersion.get
    // rename between the two snapshots: the from-side logical name is
    // 'v', the current one 'val' — same PHYSICAL column, so preimages
    // must carry their values, not null out
    t.renameColumn("v", "val")
    t.merge(Seq((1L, "a2", "U", "0000000000000010/0000000000000000"))
      .toDF("id", "val", "_op", "_seq"))
    val rows = t.rowChangesSince(spark, v0).rows
      .select("id", "val", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(rows == Set(
      (1L, "a", "update_preimage"),
      (1L, "a2", "update_postimage")), rows)
  }

  test("rowChangesSince: layer-aware CDF over merge-on-read transitions") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4,
      retainVersions = 20, mergeOnRead = true, morMinAffectedBytes = 0L)
    t.overwrite((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"))
    val v0 = t.currentVersion.get
    // layered merge (base files untouched): the CDF must produce the
    // EXACT delta rows, incrementally (no fullRefresh)
    t.merge(batch((1L, "v1b", "U", 10L), (100L, "new", "I", 10L),
      (2L, "", "D", 10L)))
    val v1 = t.currentVersion.get
    assert(t.readManifest(v1).layers.nonEmpty, "precondition: layered")
    assert(t.readManifest(v1).files == t.readManifest(v0).files,
      "precondition: base files untouched by the MoR merge")
    val c = t.rowChangesBetween(spark, v0, v1)
    assert(!c.fullRefresh, "layer-only transition must stay incremental")
    val got = c.rows.select("id", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set(
      (1L, "v1", "update_preimage"), (1L, "v1b", "update_postimage"),
      (100L, "new", "insert"), (2L, "v2", "delete")), got)
    // the diff reads only the touched buckets, never the table
    val allFiles = t.readManifest(v1).allFiles.size +
      t.readManifest(v0).files.valuesIterator.flatten.size
    assert(c.rows.inputFiles.length < allFiles,
      s"layer diff must be bucket-pruned: read ${c.rows.inputFiles.length}" +
        s" of $allFiles")
    // a second layered merge stacks another layer; the (v1, v2] window
    // sees only ITS delta
    t.merge(batch((3L, "v3b", "U", 11L)))
    val v2 = t.currentVersion.get
    val c2 = t.rowChangesBetween(spark, v1, v2)
    assert(c2.rows.select("id", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet == Set(
      (3L, "v3", "update_preimage"), (3L, "v3b", "update_postimage")))
    // the composite window (v0, v2] composes both deltas
    val cAll = t.rowChangesBetween(spark, v0, v2).rows
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(cAll == Set((1L, "update_preimage"), (1L, "update_postimage"),
      (100L, "insert"), (2L, "delete"),
      (3L, "update_preimage"), (3L, "update_postimage")), cAll)
    // maintenance transitions (collapse rewrites EVERY bucket) emit an
    // EMPTY incremental feed, not a full-table diff or refresh
    t.collapseLayers(spark)
    val v3 = t.currentVersion.get
    assert(t.readManifest(v3).sameData)
    val cm = t.rowChangesBetween(spark, v2, v3)
    assert(!cm.fullRefresh && cm.rows.isEmpty)
    assert(cm.rows.inputFiles.isEmpty, "maintenance feed must read nothing")
    // and a window SPANNING the collapse still yields the exact deltas
    val span = t.rowChangesBetween(spark, v1, v3).rows
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(span == Set((3L, "update_preimage"), (3L, "update_postimage")),
      span)
  }

  test("manifest commits are snapshot-atomic: time travel + vacuum expiry") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v0 = t.currentVersion.get
    t.merge(batch((1L, "a2", "U", 10L), (3L, "c", "I", 10L)))
    val v1 = t.currentVersion.get
    assert(v1 > v0)
    // current sees the merge; VERSION AS OF v0 still sees the snapshot
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b"), (3L, "c")))
    assert(t.readVersion(spark, v0).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // vacuum keeps only the latest snapshot; v0 files are reclaimed
    t.vacuum(keep = 1)
    assert(t.versions == Seq(v1))
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b"), (3L, "c")))
  }

  test("ChangelogSink latest view resolves TOAST masks over the log") {
    val sink = new ChangelogSink(tmp())
    def ev(rows: (Long, Option[String], Int, String, Long, Option[String])*) =
      rows.toDF("id", "name", "age", "_op", "_commit_lsn", "_missing")
        .withColumn("_tx_ordinal", lit(0L))
    sink.writeEvents("t", ev(
      (1L, Some("full-name"), 30, "I", 1L, None),
      (2L, Some("x"), 40, "I", 1L, None)))
    sink.writeEvents("t", ev(
      // name TOAST-unchanged in a later update → latest keeps full-name
      (1L, None, 31, "U", 2L, Some("name")),
      // real null write for key 2 (unmasked)
      (2L, None, 41, "U", 2L, None)))
    val out = sink.latest(spark, "t", Seq("id"))
      .select("id", "name", "age")
      .as[(Long, Option[String], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((Some("full-name"), 31)))
    assert(out(2L) == ((None, 41)))
  }

  test("ChangelogSink appends with op+seq; latest view dedups; replay no-op") {
    val dir = tmp()
    val sink = new ChangelogSink(dir)
    def ev(rows: (Long, String, String, Long)*) =
      rows.toDF("id", "v", "_op", "_commit_lsn").withColumn("_tx_ordinal", lit(0L))
    sink.writeEvents("t", ev((1L, "a", "I", 1L), (2L, "b", "I", 1L)))
    sink.writeEvents("t", ev((1L, "a2", "U", 2L), (2L, "", "D", 2L)))
    assert(sink.read(spark, "t").count() == 4) // append-only: all changes kept
    val latest = sink.latest(spark, "t", Seq("id"))
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(latest == Set((1L, "a2")))
    // replay of older events is dropped by the high-water mark
    sink.writeEvents("t", ev((1L, "aX", "U", 1L)))
    assert(sink.read(spark, "t").count() == 4)
  }

  test("ChangelogSink applySchemaDiff: a RENAME aligns both file " +
      "generations (and their TOAST masks) under the new name at read, " +
      "a DROP retires its column, compact MATERIALIZES the mapping, " +
      "replayed diffs no-op — zero data movement before compaction") {
    import graft.core.{ColumnSpec, SchemaDiff, TableSchemaV}
    val dir = tmp()
    val sink = new ChangelogSink(dir)
    def evOld(rows: (Long, Option[String], Int, String, Long,
        Option[String])*) =
      rows.toDF("id", "name", "age", "_op", "_commit_lsn", "_missing")
        .withColumn("_tx_ordinal", lit(0L))
    def evNew(rows: (Long, Option[String], String, Long,
        Option[String])*) =
      rows.toDF("id", "full_name", "_op", "_commit_lsn", "_missing")
        .withColumn("_tx_ordinal", lit(0L))
    sink.writeEvents("t", evOld(
      (1L, Some("ada"), 30, "I", 1L, None),
      (2L, Some("bob"), 40, "I", 1L, None)))
    // DDL: rename name→full_name (ordinal 2), drop age (ordinal 3)
    def cs(n: String, t: String, ord: Int, pk: Int = 0) =
      ColumnSpec(n, t, nullable = pk == 0, pkOrdinal = pk, ordinal = ord)
    val v1 = TableSchemaV(9L, "t", 1L, IndexedSeq(
      cs("id", "int8", 1, pk = 1), cs("name", "text", 2),
      cs("age", "int4", 3)))
    val v2 = TableSchemaV(9L, "t", 2L, IndexedSeq(
      cs("id", "int8", 1, pk = 1), cs("full_name", "text", 2)))
    val diff = SchemaDiff.between(v1, v2)
    sink.applySchemaDiff("t", diff)
    // post-DDL traffic: an update whose mask refers to the NEW name,
    // and a masked update for a PRE-rename row (its stored value must
    // survive the mask through the rename mapping)
    sink.writeEvents("t", evNew(
      (1L, None, "U", 2L, Some("full_name")),
      (3L, Some("cyd"), "I", 2L, None)))
    val cols = sink.latest(spark, "t", Seq("id")).columns.toSet
    assert(cols == Set("id", "full_name"),
      s"rename must align and drop must retire: $cols")
    def state() = sink.latest(spark, "t", Seq("id"))
      .select("id", "full_name")
      .as[(Long, Option[String])].collect().toMap
    // key 1: pre-rename value "ada" readable under full_name AND kept
    // through the post-rename TOAST mask; key 2 untouched; key 3 new
    assert(state() == Map(1L -> Some("ada"), 2L -> Some("bob"),
      3L -> Some("cyd")), state().toString)
    // replayed Relation record → same diff → idempotent no-op
    sink.applySchemaDiff("t", diff)
    assert(state() == Map(1L -> Some("ada"), 2L -> Some("bob"),
      3L -> Some("cyd")))
    // compact materializes the mapping into the rewritten files …
    sink.compact(spark, "t")
    val physical = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/t").columns.toSet
    assert(physical.contains("full_name") && !physical.contains("name") &&
      !physical.contains("age"),
      s"compact must materialize the DDL map: $physical")
    // … and the mapped read is unchanged after it
    assert(state() == Map(1L -> Some("ada"), 2L -> Some("bob"),
      3L -> Some("cyd")))
  }

  test("ChangelogSink read: a single diff that RENAMES AND RETYPES a " +
      "column casts the old generation with the DECLARED cast, not " +
      "coalesce's implicit common-type coercion") {
    import graft.core.{ColumnSpec, SchemaDiff, TableSchemaV}
    val dir = tmp()
    val sink = new ChangelogSink(dir)
    // old generation: v int4; new generation: val int8 (rename + widen
    // in ONE Relation diff — same ordinal, new name, new type)
    sink.writeEvents("t",
      Seq((1L, 7, "I", 1L), (2L, 9, "I", 1L))
        .toDF("id", "v", "_op", "_commit_lsn")
        .withColumn("_tx_ordinal", lit(0L)))
    def cs(n: String, t: String, ord: Int, pk: Int = 0) =
      ColumnSpec(n, t, nullable = pk == 0, pkOrdinal = pk, ordinal = ord)
    val v1 = TableSchemaV(9L, "t", 1L, IndexedSeq(
      cs("id", "int8", 1, pk = 1), cs("v", "int4", 2)))
    val v2 = TableSchemaV(9L, "t", 2L, IndexedSeq(
      cs("id", "int8", 1, pk = 1), cs("val", "int8", 2)))
    val diff = SchemaDiff.between(v1, v2)
    assert(diff.renames == Seq(("v", "val")) &&
      diff.changed.head.typeChanged) // the edge: both in one change
    sink.applySchemaDiff("t", diff)
    sink.writeEvents("t",
      Seq((3L, 5000000000L, "I", 2L))
        .toDF("id", "val", "_op", "_commit_lsn")
        .withColumn("_tx_ordinal", lit(0L)))
    val out = sink.latest(spark, "t", Seq("id"))
    // the fold must land on the NEW generation's declared type …
    assert(out.schema("val").dataType ==
      org.apache.spark.sql.types.LongType, out.schema.toString)
    // … with old-generation values cast through it, not nulled/forked
    val got = out.select("id", "val").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 7L, 2L -> 9L, 3L -> 5000000000L), got.toString)
  }

  test("ChangelogSink compact collapses per-batch files, content + replay mark identical") {
    import scala.jdk.CollectionConverters._
    val dir = tmp()
    val sink = new ChangelogSink(dir)
    def ev(lsn: Long, id: Long, v: String, op: String) =
      Seq((id, v, op, lsn, 0L))
        .toDF("id", "v", "_op", "_commit_lsn", "_tx_ordinal")
    (1L to 6L).foreach(i => sink.writeEvents("t", ev(i, i % 3, s"v$i", "U")))
    val before = sink.read(spark, "t").collect().toSet
    val hwBefore = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "t._hw")).toSeq
    val filesBefore = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "t"))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    assert(filesBefore >= 6) // one file set per micro-batch

    sink.compact(spark, "t", targetFiles = 1)
    val filesAfter = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "t"))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    assert(filesAfter == 1)
    assert(sink.read(spark, "t").collect().toSet == before)
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "t._hw")).toSeq == hwBefore)
    // replay of an already-committed batch is still a no-op post-compact
    sink.writeEvents("t", ev(3L, 0L, "stale", "U"))
    assert(sink.read(spark, "t").collect().toSet == before)
    // the latest view still resolves over the compacted log
    assert(sink.latest(spark, "t", Seq("id")).count() == 3)
  }

  test("ChangelogSink compact swap is crash-recoverable: interrupted swap never loses data") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = tmp()
    val sink = new ChangelogSink(dir)
    def ev(lsn: Long, id: Long, v: String) =
      Seq((id, v, "U", lsn, 0L))
        .toDF("id", "v", "_op", "_commit_lsn", "_tx_ordinal")
    (1L to 4L).foreach(i => sink.writeEvents("t", ev(i, i % 2, s"v$i")))
    val before = sink.read(spark, "t").collect().toSet

    // Simulate a crash at the WORST moment: compacted file set staged in
    // the temp dir, swap marker committed, old live files already deleted,
    // process died before moving the compacted files in — the exact window
    // the pre-fix code left the changelog empty.
    val live = Paths.get(dir, "t")
    val tmpDir = Paths.get(dir, "t.compacting")
    spark.read.option("mergeSchema", "true").parquet(live.toString)
      .coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    val old = Files.list(live).iterator().asScala.toVector
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val body = (tmpDir.toString +: old.map(_.getFileName.toString)).mkString("\n")
    Files.write(live.resolve("_compact_swap"), body.getBytes)
    old.foreach(Files.deleteIfExists(_)) // crash: deletes done, moves not

    // next read completes the swap and serves the full contents
    assert(sink.read(spark, "t").collect().toSet == before)
    assert(!Files.exists(live.resolve("_compact_swap")))
    assert(!Files.exists(tmpDir))
    // and replay semantics survived (hw untouched by the swap)
    sink.writeEvents("t", ev(2L, 0L, "stale"))
    assert(sink.read(spark, "t").collect().toSet == before)
  }

  test("ChangelogSink output is a streaming source: downstream consumers tail it") {
    // change-data-feed composition: CDC in → changelog parquet out →
    // ANOTHER Structured Streaming query consumes the change stream
    // (the Iceberg/ClickHouse downstream-consumer shape)
    val dir = tmp()
    val sink = new ChangelogSink(dir)
    def ev(lsn: Long, id: Long, op: String) =
      Seq((id, s"v$lsn", op, lsn, 0L))
        .toDF("id", "v", "_op", "_commit_lsn", "_tx_ordinal")
    sink.writeEvents("t", ev(1L, 1L, "I"))
    sink.writeEvents("t", ev(2L, 2L, "I"))

    val schema = sink.read(spark, "t").schema
    val q = spark.readStream.schema(schema).parquet(s"$dir/t")
      .groupBy("cdc_operation").count()
      .writeStream.format("memory").queryName("cdf_out")
      .outputMode("complete")
      .option("checkpointLocation", tmp())
      .start()
    q.processAllAvailable()
    import org.apache.spark.sql.functions.col
    def counts = spark.table("cdf_out")
      .as[(String, Long)].collect().toMap
    assert(counts == Map("I" -> 2L))
    // new upstream batches flow through to the downstream consumer
    sink.writeEvents("t", ev(3L, 1L, "U"))
    sink.writeEvents("t", ev(4L, 2L, "D"))
    q.processAllAvailable()
    q.stop()
    assert(counts == Map("I" -> 2L, "U" -> 1L, "D" -> 1L))
  }

  test("ChangelogSink replayed truncate batch re-applies post-truncate events") {
    val sink = new ChangelogSink(tmp())
    def ev(rows: (Long, String, String, Long)*) =
      rows.toDF("id", "v", "_op", "_commit_lsn").withColumn("_tx_ordinal", lit(0L))
    sink.writeEvents("t", ev((1L, "a", "I", 1L)))
    // truncate-containing batch: wipe, then post-truncate appends
    def applyTruncBatch(): Unit = {
      sink.truncateTable("t")
      sink.writeEvents("t", ev((2L, "b", "I", 3L)))
    }
    applyTruncBatch()
    // crash before checkpoint commit → foreachBatch re-runs the batch;
    // a surviving _hw would filter the replayed append out → empty table
    applyTruncBatch()
    val latest = sink.latest(spark, "t", Seq("id"))
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(latest == Set((2L, "b")))
  }

  test("data skipping: point lookups prune a bucket's files by key range") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 1)
    // three append commits with disjoint key ranges — the time-series /
    // monotone-id shape where files of one bucket never overlap
    t.append(spark.range(0L, 100L).select(col("id"), lit("a").as("v")))
    t.append(spark.range(100L, 200L).select(col("id"), lit("b").as("v")))
    t.append(spark.range(200L, 300L).select(col("id"), lit("c").as("v")))
    val m = t.currentManifest().get
    assert(m.files(0).size == 3, m.files)
    assert(m.fileStats.size == 3, m.fileStats)
    assert(m.fileStats.values.map(_("id")).toSet ==
      Set((0L, 99L), (100L, 199L), (200L, 299L)), m.fileStats)

    val hit = t.lookup(spark, Seq(150L))
    assert(hit.as[(Long, String)].collect().toSeq == Seq((150L, "b")))
    // the scan touched ONLY the one file whose range covers the key
    assert(hit.inputFiles.length == 1, hit.inputFiles.toSeq)
    // out-of-range key: every file skipped, no scan at all
    val miss = t.lookup(spark, Seq(999L))
    assert(miss.count() == 0 && miss.inputFiles.isEmpty)

    // a merge rewrites the bucket; stats follow the new file set
    t.merge(batch((150L, "b2", "U", 10L)))
    val m2 = t.currentManifest().get
    assert(m2.fileStats.keySet == m2.allFiles.toSet,
      "stats must track the live file set")
    assert(m2.fileStats.values.map(_("id")).toSeq == Seq((0L, 299L)),
      m2.fileStats)
    assert(t.lookup(spark, Seq(150L)).as[(Long, String)].collect().toSeq ==
      Seq((150L, "b2")))
  }

  test("deleteWhere discovery prunes files through manifest stats") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 1)
    t.append(spark.range(0L, 100L).select(col("id"), lit("a").as("v")))
    t.append(spark.range(100L, 200L).select(col("id"), lit("b").as("v")))
    t.append(spark.range(200L, 300L).select(col("id"), lit("c").as("v")))
    assert(t.currentManifest().get.fileStats.size == 3)

    // count parquet rows actually read during the delete: with the
    // discovery pruned to the one candidate file it's 100 (discovery)
    // + 300 (full-bucket survivor rewrite); unpruned would be 600
    var read = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        synchronized { read += e.taskMetrics.inputMetrics.recordsRead }
    }
    spark.sparkContext.addSparkListener(listener)
    val n = try {
      val n0 = t.deleteWhere(spark, col("id") >= 250L)
      // listener bus is async; wait for the counters to stabilize
      var last = -1L
      var spins = 0
      while (read != last && spins < 50) {
        last = read; Thread.sleep(100); spins += 1
      }
      n0
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(n == 50L)
    assert(t.read(spark).count() == 250L)
    assert(read <= 450L, s"discovery read $read records — not pruned")

    // out-of-range predicate: every file skipped, delete is a no-op
    assert(t.deleteWhere(spark, col("id") >= 1000L) == 0L)
    assert(t.read(spark).count() == 250L)
  }

  test("multi-column stats: secondary stats columns harvest per file") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 1,
      statsCols0 = Seq("ts"))
    t.append(spark.range(0L, 100L).select(col("id"),
      (col("id") + 1000L).as("ts"), lit("a").as("v")))
    t.append(spark.range(100L, 200L).select(col("id"),
      (col("id") + 1000L).as("ts"), lit("b").as("v")))
    val m = t.currentManifest().get
    assert(m.fileStats.size == 2, m.fileStats)
    assert(m.fileStats.values.forall(cs =>
      cs.contains("id") && cs.contains("ts")), m.fileStats)
    assert(m.fileStats.values.map(_("ts")).toSet ==
      Set((1000L, 1099L), (1100L, 1199L)), m.fileStats)
    // identity persists statsCols through reopen
    assert(GraftTable.open(t.root).statsCols == Seq("id", "ts"))
  }

  test("data skipping survives manifest reload, compact, and rename") {
    val dir = tmp()
    val t = new GraftTable(dir, Seq("id"), nBuckets = 2)
    t.append(Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "v", "n"))
    t.append(Seq((10L, "c", 3), (11L, "d", 4)).toDF("id", "v", "n"))
    // reopen: stats parse back from JSON
    val t2 = GraftTable.open(dir)
    val m = t2.currentManifest().get
    assert(m.fileStats.nonEmpty &&
      m.fileStats.keySet.subsetOf(m.allFiles.toSet))
    // rename a NON-key column: data-identical commit keeps the stats
    t2.renameColumn("v", "w")
    assert(t2.currentManifest().get.fileStats == m.fileStats)
    // compact to one file per bucket: stats re-harvested for new files
    t2.compact(spark, maxFiles = 1)
    val mc = t2.currentManifest().get
    assert(mc.fileStats.keySet == mc.allFiles.toSet, mc.fileStats)
    assert(t2.lookup(spark, Seq(10L)).select("id", "w")
      .as[(Long, String)].collect().toSeq == Seq((10L, "c")))
  }

  test("stagingNoShuffle: a NON-global Sort (sortWithinPartitions) " +
      "preserves its child's partitioning — a wide input stays in the " +
      "repartition lane, a provably-narrow one stays shuffle-free; a " +
      "GLOBAL sort is shuffle-bounded (round-14 advice)") {
    val t = new GraftTable(tmp(), Seq("id"), nBuckets = 4)
    val nB = 4
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def rddDf(parts: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1L to 64L).map(org.apache.spark.sql.Row(_)), parts), schema)
    // LogicalRDD with 16 partitions: a local sort DOES NOT bound it —
    // staging it unshuffled would write 16 × touched-bucket files
    assert(!t.stagingNoShuffle(rddDf(16).sortWithinPartitions("id"), nB),
      "local sort over a wide input must not claim a bounded count")
    // the same local sort over a provably-narrow input recurses and
    // keeps the no-shuffle lane (this is the micro-batch hot path)
    assert(t.stagingNoShuffle(rddDf(2).sortWithinPartitions("id"), nB))
    // a GLOBAL sort is a range exchange: bounded by shuffle partitions
    val shuffleBounded =
      spark.sessionState.conf.numShufflePartitions <= nB
    assert(t.stagingNoShuffle(rddDf(16).orderBy("id"), nB)
      == shuffleBounded)
    // unprovable wide input without any sort: repartition lane
    assert(!t.stagingNoShuffle(rddDf(16), nB))
  }
}
