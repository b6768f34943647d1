package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Multimodal column support (driver north-star): image/audio/video as opaque
 * `binary` payloads with typed metadata, plus decode / feature-extract /
 * resize / frame-sample operators.
 *
 * The Spark-side plumbing is real — schema, partitioning, per-partition batch
 * iteration, column pruning — while the codec layer is STUBBED with a
 * deterministic fake (this container has no image/audio libraries): "decode"
 * derives per-media features from payload bytes. Swapping in a real codec
 * means replacing [[FakeCodec]] only; every signature, batch shape, and plan
 * stays.
 *
 * 100 TB notes: payloads stay off the driver; all operators are
 * mapPartitions-style batch transforms (one codec init per partition, the
 * same shape as Python's mapInPandas batches) or pure column expressions.
 * Metadata-only queries never touch payload bytes — parquet column pruning
 * drops the binary column from the scan (check ReadSchema).
 */
object Multimodal {

  /** Media row: opaque payload + typed metadata. */
  final case class Media(
      media_id: Long,
      kind: String, // image | audio | video
      mime: String,
      width: Int, // pixels (image/video) or 0
      height: Int,
      duration_ms: Long, // audio/video or 0
      payload: Array[Byte])

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      byte_mean: Double,
      histogram16: Array[Long]) // 16-bucket byte histogram

  final case class Frame(
      media_id: Long,
      frame_idx: Int,
      offset_bytes: Long,
      frame_bytes: Array[Byte])

  /**
   * Derive a deterministic media table from `documents` (the container ships
   * no real media fixtures): payload = UTF-8 bytes of `text`, kind/mime
   * assigned round-robin, dimensions derived from doc stats. Purely
   * column-level — no UDF, no driver data.
   */
  def mediaFromDocuments(docs: DataFrame): Dataset[Media] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      element_at(array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (col("doc_id") % 3 + 1).cast("int")).as("mime"),
      when(col("doc_id") % 3 === 0, (col("n_chars") % 1920).cast("int")).otherwise(0).as("width"),
      when(col("doc_id") % 3 === 0, (col("n_chars") % 1080).cast("int")).otherwise(0).as("height"),
      when(col("doc_id") % 3 =!= 0, col("n_chars") * 10).otherwise(0L).as("duration_ms"),
      encode(col("text"), "UTF-8").as("payload")
    ).as[Media]
  }

  /** The stubbed codec: deterministic feature extraction from raw bytes.
    * A real deployment replaces this object with JNI/FFI codec calls —
    * signatures and batch shape are already production-form. */
  object FakeCodec {
    def features(m: Media): MediaFeatures = {
      val bytes = m.payload
      val hist = new Array[Long](16)
      var sum = 0L
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xff
        hist(b / 16) += 1
        sum += b
        i += 1
      }
      MediaFeatures(m.media_id, m.kind, bytes.length.toLong,
        if (bytes.length == 0) 0.0 else sum.toDouble / bytes.length, hist)
    }

    /** "Frame-sample": every `stride` bytes emit a `frameLen`-byte window —
      * stands in for video frame extraction; deterministic by construction. */
    def sampleFrames(m: Media, stride: Int, frameLen: Int): Iterator[Frame] =
      Iterator.range(0, math.max(0, m.payload.length - frameLen + 1), stride).zipWithIndex.map {
        case (off, idx) =>
          Frame(m.media_id, idx, off.toLong, java.util.Arrays.copyOfRange(m.payload, off, off + frameLen))
      }

    /** "Resize": deterministic down-sample of payload bytes to `target`
      * evenly-spaced samples — stands in for image resizing. */
    def resize(m: Media, target: Int): Media = {
      val n = m.payload.length
      if (n <= target) m
      else {
        val out = new Array[Byte](target)
        var i = 0
        while (i < target) { out(i) = m.payload((i.toLong * n / target).toInt); i += 1 }
        m.copy(payload = out, width = math.min(m.width, target), height = math.min(m.height, target))
      }
    }
  }

  /** Batch feature extraction: one codec pass per partition (codec init cost
    * amortized across the partition, the mapInPandas batch shape). */
  def extractFeatures(media: Dataset[Media]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it => it.map(FakeCodec.features) }
  }

  /** Frame sampling: flatMap batches — output cardinality is data-dependent
    * (frames per media), the UDTF/generator shape. */
  def sampleFrames(media: Dataset[Media], stride: Int = 32, frameLen: Int = 16): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it => it.flatMap(FakeCodec.sampleFrames(_, stride, frameLen)) }
  }

  /** Resize all payloads to at most `target` samples. */
  def resizeAll(media: Dataset[Media], target: Int = 64): Dataset[Media] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it => it.map(FakeCodec.resize(_, target)) }
  }
}
