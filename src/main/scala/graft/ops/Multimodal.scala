package graft.ops

import graft.kernel.Hashing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata structs. The Spark side — schema, partitioning,
  * per-partition batch shape — is real and tested. IMAGE payloads carrying
  * a real container (baseline JPEG / PNG magic) decode through the repo's
  * own full decoders ([[graft.kernel.MediaCodec.decodeImage]] — Huffman +
  * IDCT / inflate + defilter), yielding genuine dimensions and a real
  * 8-bin luminance-histogram feature. Only audio/video rows (and image
  * rows whose bytes are not a supported container) fall back to the
  * clearly-marked deterministic STUB — those codecs don't ship in this
  * container — so swapping in a real codec only changes `decodeStub`. */
object Multimodal {

  final case class MediaRow(id: Long, kind: String, media: Array[Byte])
  final case class DecodedMeta(
      id: Long, kind: String, byte_len: Long, width: Int, height: Int,
      frames: Int, feature: Array[Float])

  /** Real image decode: baseline-JPEG/PNG payloads run the full kernel
    * decoder; width/height come from the decoded raster and the feature
    * is the 8-bin luminance histogram (fractions in [0,1]) of the actual
    * pixels. None when the bytes are not a supported image container. */
  def decodeImageReal(id: Long, kind: String,
      media: Array[Byte]): Option[DecodedMeta] =
    graft.kernel.MediaCodec.decodeImage(media).map { d =>
      val hist = new Array[Long](8)
      d.pixels.foreach { p => hist((p & 0xFF) >> 5) += 1 }
      val n = math.max(d.pixels.length, 1).toFloat
      DecodedMeta(id, kind, media.length.toLong, d.width, d.height, 1,
        hist.map(_ / n))
    }

  /** STUB decoder — deterministic fake of an audio/video decode (and the
    * fallback for image rows whose bytes are not a supported container).
    * A real implementation would parse the container format here;
    * everything around it (batching, schema, null handling) is
    * production shape. */
  def decodeStub(id: Long, kind: String, media: Array[Byte]): DecodedMeta = {
    if (media == null || media.isEmpty)
      return DecodedMeta(id, kind, 0L, 0, 0, 0, Array.empty)
    val h = Hashing.fnv1a(kind) ^ Hashing.mix(media.length.toLong * 31 + media(0))
    val width = 64 + (math.abs(h) % 1024).toInt
    val height = 64 + (math.abs(h >>> 16) % 1024).toInt
    val frames = if (kind == "video") 1 + (math.abs(h >>> 32) % 300).toInt else 1
    // fake 8-dim feature vector derived from byte content
    val feature = Array.tabulate(8) { i =>
      val hv = Hashing.mix(h + i)
      ((hv & 0xFFFF).toFloat / 65535.0f) * 2.0f - 1.0f
    }
    DecodedMeta(id, kind, media.length.toLong, width, height, frames, feature)
  }

  /** Decode a media table: one decoder pass per partition over the binary
    * column (the Scala analog of `mapInPandas` batches — rows stream through
    * the partition iterator without materializing the partition). Image
    * rows with a real container go through the REAL decoder
    * ([[decodeImageReal]]); everything else through the stub. */
  def decode(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("id").cast("long"), col("kind"), col("media"))
      .as[MediaRow]
      .mapPartitions(_.map { r =>
        val real =
          if (r.kind == "image") decodeImageReal(r.id, r.kind, r.media)
          else None
        real.getOrElse(decodeStub(r.id, r.kind, r.media))
      })
      .toDF()
  }

  /** Append a `sample_count` column: frames sampled at every `stride`-th
    * index (0 when the row has no frames). */
  def withFrameSampleCount(decoded: DataFrame, stride: Int): DataFrame =
    decoded.withColumn("sample_count",
      when(col("frames") > 0,
        size(sequence(lit(0), col("frames") - 1, lit(stride)))).otherwise(0))

  /** Aspect-preserving resize target columns (column math only — the pixel
    * resize happens in the decode stage). */
  def withResizeTargets(decoded: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(
      lit(maxSide.toDouble) / greatest(col("width"), lit(1)).cast("double"),
      lit(maxSide.toDouble) / greatest(col("height"), lit(1)).cast("double"),
      lit(1.0))
    decoded
      .withColumn("target_width", ceil(col("width") * scale).cast("int"))
      .withColumn("target_height", ceil(col("height") * scale).cast("int"))
  }
}
