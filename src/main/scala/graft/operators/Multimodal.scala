package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque BINARY columns
  * with typed metadata, plus decode / feature-extract / frame-sample
  * stages.
  *
  * The Spark-side plumbing (schema, batching, partition-local processing)
  * is real and tested; the actual media DECODE is stubbed behind
  * [[MediaCodec]] with a deterministic fake (this container has no image/
  * audio libraries — the stub boundary is explicit and swappable).
  *
  * Scale shape: decode/feature-extract run as `mapPartitions` over the
  * binary column — per-partition batch processing with zero driver
  * involvement, the Scala analog of `mapInPandas`. Metadata-only
  * operations (size, mime sniff, dimensions) are pure column expressions
  * and never touch the payload bytes beyond the scanned column.
  */
object Multimodal {

  /** The stub decode boundary: STUBBED — a real build links an image/audio
    * codec here; the fake is deterministic in the payload bytes so tests
    * and oracles are stable. */
  object MediaCodec {
    /** "Feature-extract": d-dim float vector from byte statistics —
      * deterministic stand-in for an embedding model forward pass. */
    def features(bytes: Array[Byte], d: Int): Array[Float] = {
      val out = new Array[Float](d)
      var i = 0
      while (i < bytes.length) {
        out(i % d) += (bytes(i) & 0xff) / 255.0f
        i += 1
      }
      out
    }

    /** "Frame-sample": every strideth byte — stand-in for video frame
      * extraction. */
    def frameSample(bytes: Array[Byte], stride: Int): Array[Byte] =
      bytes.indices.collect { case i if i % stride == 0 => bytes(i) }.toArray

    /** "Resize": deterministic down/up-sample of the payload to exactly
      * w·h bytes (nearest-neighbor over the byte stream) — stand-in for
      * an image resampler. Real codecs amortize setup across a BATCH of
      * images; the batch entry point below models that contract. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val target = w * h
      val out = new Array[Byte](target)
      if (bytes.isEmpty) return out
      var i = 0
      while (i < target) {
        out(i) = bytes((i.toLong * bytes.length / target).toInt)
        i += 1
      }
      out
    }

    /** Batch form: one call per batch of payloads, the shape a vectorized
      * codec binding (or a Pandas-UDF batch) presents. */
    def resizeBatch(batch: Seq[Array[Byte]], w: Int, h: Int):
        Seq[Array[Byte]] = batch.map(resize(_, w, h))
  }

  /** Attach a media payload column (here: the UTF-8 bytes of a text col
    * act as the opaque payload) + pure-expression metadata. */
  def withMediaColumns(df: DataFrame, payloadFrom: String): DataFrame =
    df.withColumn("media", encode(col(payloadFrom), "UTF-8"))
      .withColumn("media_meta", struct(
        length(col("media")).cast(LongType).as("n_bytes"),
        (lit(320) + pmod(length(col("media")), lit(320))).as("width"),
        (lit(240) + pmod(length(col("media")), lit(240))).as("height"),
        lit("application/octet-stream").as("mime")))

  private val featSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false)),
    StructField("n_frames", IntegerType, nullable = false)))

  private val resizeSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** Resize via partition-local BATCHED processing: payloads are grouped
    * into `batchSize` chunks and handed to the codec one batch at a time
    * — the mapInPandas batch contract (a real codec binding amortizes
    * model/library setup across the batch). Output carries the resized
    * payload + its new dimensions. */
  def resizeMedia(df: DataFrame, idCol: String, w: Int, h: Int,
      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val rows = df.select(col(idCol).cast(LongType), col("media"))
      .queryExecution.toRdd.mapPartitions { iter =>
        // materialize fields BEFORE grouping: the scan reuses its
        // InternalRow, so buffering row references would corrupt batches
        iter.map(r => (r.getLong(0), r.getBinary(1)))
          .grouped(batchSize).flatMap { chunk =>
            val resized = MediaCodec.resizeBatch(chunk.map(_._2), w, h)
            chunk.lazyZip(resized).map { case ((id, _), bs) =>
              Row(id, bs, w, h) }
          }
      }
    spark.createDataFrame(rows, resizeSchema)
  }

  /** Decode + feature-extract + frame-sample via partition-local batch
    * processing (the mapInPandas analog). Input needs (idCol, "media"). */
  def extractFeatures(df: DataFrame, idCol: String, d: Int = 8,
      frameStride: Int = 16): DataFrame = {
    val spark = df.sparkSession
    val rows = df.select(col(idCol).cast(LongType), col("media"))
      .queryExecution.toRdd.mapPartitions { iter =>
        iter.map { internal =>
          val id = internal.getLong(0)
          val bytes = internal.getBinary(1)
          val feats = MediaCodec.features(bytes, d)
          val frames = MediaCodec.frameSample(bytes, frameStride)
          Row(id, feats.toSeq, frames.length)
        }
      }
    spark.createDataFrame(rows, featSchema)
  }

  /** Exact binary-content dedup over an opaque media column — the
    * multimodal counterpart of text [[Dedup.exact]]: identical payloads
    * (re-crawled images, mirrored videos) collapse to one content group
    * keyed by SHA-256, keeping the smallest id. One map-side-combinable
    * aggregation; the 256-bit key makes collisions ~|corpus|²/2²⁵⁶ —
    * content-hash dedup at 100 TB shuffles 32-byte digests, never
    * payloads. */
  def dedupByContent(df: DataFrame, idCol: String,
      mediaCol: String): DataFrame =
    df.groupBy(sha2(col(mediaCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"),
        count(lit(1)).as("n_copies"),
        min(length(col(mediaCol))).cast(LongType).as("n_bytes"))
}
