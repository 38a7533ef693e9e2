package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset,
  SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType

/** Bridge for driver-held batches: [[collectBounded]] runs a query as
  * one SQL execution and keeps its rows in Spark's internal format (no
  * external `Row` conversion), and [[localFrame]] turns such rows back
  * into a DataFrame. `Dataset.ofRows`, `LogicalRDD`'s statistics and the
  * physical plan's row RDD are `private[sql]`. */
object GraftLocalBridge {

  /** Bytes of driver rows shipped in one partition of a [[localFrame]]:
    * a task carries its partition's rows, so this bounds the task
    * payload far below `spark.rpc.message.maxSize`. */
  val PartitionBytes: Long = 8L << 20

  /** All rows of `df`, collected by one SQL execution, or None when it
    * holds more than `maxRows` rows or more than about `maxBytes` of
    * them. Each of the query's N output partitions stops reading past
    * `maxRows` rows or `maxBytes / N` bytes and then ships nothing, so
    * the driver never receives much more than `maxBytes`, whatever the
    * width of the rows. */
  def collectBounded(df: DataFrame, maxRows: Int,
      maxBytes: Long): Option[Array[UnsafeRow]] = df match {
    case ds: ClassicDataset[Row @unchecked] =>
      val qe = ds.queryExecution
      val schema = ds.schema
      SQLExecution.withNewExecutionId(qe, Some("collect")) {
        val rdd = qe.executedPlan.execute()
        val partBytes = maxBytes / math.max(1, rdd.getNumPartitions)
        val parts = ds.sparkSession.sparkContext.runJob(rdd,
          (it: Iterator[InternalRow]) => {
            lazy val toUnsafe = UnsafeProjection.create(schema)
            val out = Array.newBuilder[UnsafeRow]
            var n, bytes = 0L
            while (it.hasNext && n <= maxRows && bytes <= partBytes) {
              val r = it.next() match {
                case u: UnsafeRow => u.copy()
                case r => toUnsafe(r).copy()
              }
              n += 1
              bytes += r.getSizeInBytes
              out += r
            }
            if (n > maxRows || bytes > partBytes) None else Some(out.result())
          })
        if (parts.contains(None)) None
        else Some(parts.flatMap(_.get)).filter(_.length <= maxRows)
      }
  }

  /** A DataFrame of `schema` over `rows`, planned with their exact size,
    * so a small batch is broadcast. The rows sit in an RDD rather than a
    * `LocalRelation`: Catalyst copies a local relation's row list on
    * every expression transform, which made planning over 131k local
    * rows cost about a second; an RDD leaf costs nothing. Partitions
    * hold about [[PartitionBytes]] at most, and 16k rows each up to the
    * default parallelism: a micro-batch stays one task, a batch near the
    * row cap spreads over the cores. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Array[UnsafeRow]): DataFrame = spark match {
    case s: ClassicSession =>
      val bytes = rows.iterator.map(_.getSizeInBytes.toLong).sum
      val parts = math.max(
        math.min(s.sparkContext.defaultParallelism, 1 + rows.length / 16384),
        (1 + bytes / PartitionBytes).toInt)
      val rdd = s.sparkContext.parallelize[InternalRow](
        rows.toIndexedSeq, parts)
      ClassicDataset.ofRows(s,
        LogicalRDD(DataTypeUtils.toAttributes(schema), rdd)(s,
          Some(Statistics(BigInt(math.max(bytes, 1L)),
            Some(BigInt(rows.length)))), None))
  }
}
