package graft.sinks

import org.apache.spark.sql.{DataFrame, GraftSessionBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation,
  OneRowRelation, Range}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}

/** The one size rule for the interpreted session lane, shared by the
  * CDC apply ([[CurrentStateSink.applyEvents]]) and the delta-scale
  * operator syncs ([[graft.operators.IncrementalDedup]],
  * [[graft.operators.IncrementalIndex]]).
  *
  * Small work plans in an interpreted clone of its session
  * ([[org.apache.spark.sql.GraftSessionBridge]]): one micro-batch or one
  * sync over small tables otherwise needs more generated classes than
  * Spark's codegen cache holds (100, a static conf the embedding
  * application owns), so every batch or sync evicted and recompiled the
  * previous one's (~10–17 ms per class). Large work keeps compiled
  * plans: interpreting a table-scale scan costs more than the compile
  * saves.
  *
  * The rule counts bytes exactly, never from Catalyst's
  * `stats.sizeInBytes` (which multiplies through joins and unions): the
  * live data files of the state tables (their manifests), plus every
  * distinct file under the file leaves of the input frames (the file
  * index's own listing), the encoded rows of local relations and 8
  * bytes per row of a range. An input leaf whose size cannot be known
  * without running it (an RDD, a stream, a non-file relation) keeps the
  * work compiled. Counting stops at the limit, so the answer costs
  * O(files below the limit) at any table size. */
object InterpretedLane {

  /** Bytes below which work takes the interpreted lane.
    *
    * CDC apply, one 1,300-row copy-on-write merge into an 8-bucket,
    * four-column table (4-core host, local[4], median of 9),
    * interpreted / compiled with a warm codegen cache / compiled with a
    * cold one: 0.71 / 0.73 / 1.19 s at 1.9 MB of live parquet, 0.93 /
    * 0.86 / 1.40 s at 3.9 MB, 1.12 / 0.91 / 1.41 s at 8.4 MB, 1.43 /
    * 1.08 / 1.59 s at 12.9 MB and 1.84 / 1.32 / 1.83 s at 19.3 MB.
    * Interpreted loses to a warm cache from ~3 MB and beats a cold one
    * up to ~19 MB; at 8 MiB it costs the mean of the two.
    *
    * Operator syncs, one steady dedup + index sync of 50 changes (same
    * host, median of 5), interpreted / compiled / compiled with an
    * emptied cache: 3.54 / 4.71 / 4.94 s at 2.4 MB counted, 4.36 / 4.94
    * / 4.86 s at 21.1 MB, 5.98 / 5.94 / 6.13 s at 42.6 MB and 11.03 /
    * 9.26 / 9.09 s at 85.7 MB. One sync needs more classes than the
    * cache holds, so the operator crossover (~40 MB) lies above the
    * CDC one; one constant keeps the rule simple and conservative for
    * syncs. */
  val BelowBytes: Long = 8L << 20

  private val log = java.util.logging.Logger.getLogger("graft.lanes")

  // the last lane logged per caller, so a decision is logged when it
  // changes, not once per batch; bounded like the session clones
  private val lastLane =
    new java.util.LinkedHashMap[String, java.lang.Boolean](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
        size > 1024
    }

  private val forced = new ThreadLocal[Option[Boolean]] {
    override def initialValue(): Option[Boolean] = None
  }

  /** Runs `body` with every lane decision on this thread forced to
    * `interpreted` (specs compare the two lanes through it). */
  private[graft] def forcing[T](interpreted: Boolean)(body: => T): T = {
    val prev = forced.get
    forced.set(Some(interpreted))
    try body finally forced.set(prev)
  }

  /** Whether work over the state `tables` and the `inputs` frames takes
    * the interpreted lane. `caller` names the table or sync in the lane
    * log. */
  private[graft] def choose(caller: String, tables: Seq[GraftTable],
      inputs: Seq[DataFrame]): Boolean = forced.get.getOrElse {
    val counted = countBytes(tables, inputs, BelowBytes)
    val interpreted = counted.exists(_ < BelowBytes)
    val changed = lastLane.synchronized {
      val prev = lastLane.put(caller, interpreted)
      prev == null || prev.booleanValue != interpreted
    }
    if (changed) log.info(s"$caller: ${
      if (interpreted) "interpreted" else "compiled"} lane (${
      counted.fold(leaf => s"an input leaf of unknown size: $leaf",
        b => s"${if (b >= BelowBytes) "at least " else ""}$b bytes counted")
      }, limit $BelowBytes bytes)")
    interpreted
  }

  /** The session work runs in: the interpreted clone of `spark` when
    * [[choose]] takes the lane, else `spark` itself. Bind inputs to it
    * with [[GraftSessionBridge.rebind]]. */
  private[graft] def session(caller: String, spark: SparkSession,
      tables: Seq[GraftTable], inputs: Seq[DataFrame]): SparkSession =
    if (choose(caller, tables, inputs))
      GraftSessionBridge.interpretedSession(spark)
    else spark

  /** Bytes of the tables' live files and the inputs' leaves, counted
    * until `limit`; Left names a leaf of unknown size. */
  private[graft] def countBytes(tables: Seq[GraftTable],
      inputs: Seq[DataFrame], limit: Long): Either[String, Long] = {
    var sum = 0L
    tables.foreach(t => if (sum < limit) sum += t.liveBytesUpTo(limit - sum))
    val files = scala.collection.mutable.HashSet.empty[String]
    val leaves = inputs.iterator.flatMap(_.queryExecution.analyzed
      .collectWithSubqueries { case l: LeafNode => l })
    while (sum < limit && leaves.hasNext) leaves.next() match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: PartitioningAwareFileIndex =>
            idx.allFiles().foreach { f =>
              if (files.add(f.getPath.toString)) sum += f.getLen }
          case idx => return Left(idx.getClass.getSimpleName)
        }
        case r => return Left(r.getClass.getSimpleName)
      }
      case l: LocalRelation =>
        lazy val encode = InterpretedUnsafeProjection.createProjection(
          l.output.zipWithIndex.map { case (a, i) =>
            BoundReference(i, a.dataType, a.nullable) })
        val rows = l.data.iterator
        while (sum < limit && rows.hasNext) sum += (rows.next() match {
          case u: UnsafeRow => u.getSizeInBytes
          case r => encode(r).getSizeInBytes
        })
      case r: Range => sum += (r.numElements * 8).min(BigInt(limit)).toLong
      case _: OneRowRelation => ()
      case r: LogicalRDD if r.rdd.partitions.isEmpty => ()
      case l => return Left(l.nodeName)
    }
    Right(sum)
  }
}
