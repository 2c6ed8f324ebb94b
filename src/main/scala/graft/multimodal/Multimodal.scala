package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, and distributed decode /
  * feature-extract / frame-sample operators.
  *
  * The decode step is a pluggable [[MediaCodec]]. [[PixelCodec]] decodes
  * every image format this repo ships a real decoder for (24-bit BMP,
  * binary PPM, 8-bit PNG via the JDK Inflater, GIF via the spec-complete
  * LZW decoder, and baseline JPEG via [[JpegDecode]]'s integer-islow
  * huffman+IDCT pipeline) for REAL channel statistics ([[PixelDecode]] —
  * pure bytes, same discipline as the header parsers), [[VideoCodec]]
  * decodes MJPEG-in-AVI video (RIFF walk + per-frame JPEG), and the WAV
  * path covers audio — the deterministic [[StubCodec]] stand-in remains
  * only for codecs outside this container's reach (H.264/VP9 video,
  * compressed audio) and arbitrary undecodable byte streams; swap it for
  * a JNI/FFM codec in production.
  *
  * Scale posture: decode runs via `mapPartitions` so codec state is
  * initialized once per partition (not per row), records stream through in
  * bounded batches, and the blob column is projected away as early as
  * possible afterward (binary payloads dominate I/O; never shuffle them
  * after feature extraction).
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRecord(
      mediaId: Long,
      kind: String, // "image" | "audio" | "video"
      blob: Array[Byte],
      width: Int,
      height: Int,
      sampleRate: Int)

  case class MediaFeatures(
      mediaId: Long,
      kind: String,
      nBytes: Long,
      features: Array[Float])

  /** Partition-initialized decoder contract. */
  trait MediaCodec extends Serializable {
    /** Decode a payload into a fixed-width feature vector. */
    def decodeFeatures(record: MediaRecord): Array[Float]
    /** Sample up to n "frames" from a video payload. */
    def sampleFrames(blob: Array[Byte], n: Int): Seq[Array[Byte]]
  }

  /** Real pixel features for every decodable image format
    * ([[PixelDecode]]: 24-bit BI_RGB BMP, binary PPM, 8-bit PNG, GIF,
    * baseline JPEG) — channel means + stddevs computed from the actual
    * pixel array, no codec library needed — with [[StubCodec]] as the
    * declared fallback for undecodable or non-image byte streams.
    *
    * ONE declared output width either way (a fixed-dimension consumer —
    * a vector assembler, a feature-store column — must never see ragged
    * lengths): slot 0 is the decoded flag, slots 1-6 the R/G/B means and
    * stddevs normalized to [0, 1] (zero when not decoded), slots 7-22
    * StubCodec's 16-bin byte histogram (zero when decoded).
    */
  object PixelCodec extends MediaCodec {
    val StatsDim = 7
    val FeatureDim: Int = StatsDim + StubCodec.FeatureDim // 23

    def decodeFeatures(record: MediaRecord): Array[Float] = {
      val out = new Array[Float](FeatureDim)
      PixelDecode.decode(record.blob) match {
        case Some(img) =>
          val s = PixelDecode.channelStats(img)
          out(0) = 1f
          out(1) = (s.meanR / 255.0).toFloat
          out(2) = (s.meanG / 255.0).toFloat
          out(3) = (s.meanB / 255.0).toFloat
          out(4) = (s.stdR / 255.0).toFloat
          out(5) = (s.stdG / 255.0).toFloat
          out(6) = (s.stdB / 255.0).toFloat
        case None =>
          System.arraycopy(
            StubCodec.decodeFeatures(record), 0, out, StatsDim, StubCodec.FeatureDim)
      }
      out
    }

    def sampleFrames(blob: Array[Byte], n: Int): Seq[Array[Byte]] =
      VideoCodec.sampleFrames(blob, n)
  }

  /** Real video decode — MJPEG-in-AVI, the container+codec pair this
    * repo can decode end-to-end from pure bytes ([[AviDecode]] walks the
    * RIFF chunk tree to the `movi` frame payloads; each frame is a
    * baseline JPEG through [[JpegDecode]]'s existing pipeline). This
    * retires the StubCodec stand-in for the video modality: frame
    * sampling is real temporal sampling over container frames, and
    * features are real channel statistics averaged over up to
    * [[VideoCodec.MaxStatFrames]] evenly sampled frames, in
    * [[PixelCodec]]'s 23-slot layout (flag, 6 channel stats, stub
    * histogram only for undecodable streams). Non-AVI codecs (H.264 in
    * MP4, VP9, ...) still need a JNI/FFM codec in production — the
    * declared fallback below.
    */
  object VideoCodec extends MediaCodec {
    val MaxStatFrames = 4

    def decodeFeatures(record: MediaRecord): Array[Float] = {
      val out = new Array[Float](PixelCodec.FeatureDim)
      val imgs = AviDecode
        .sampleEvenly(AviDecode.frames(record.blob), MaxStatFrames)
        .flatMap(PixelDecode.decode(_))
      if (imgs.nonEmpty) {
        val stats = imgs.map(PixelDecode.channelStats)
        val n = stats.size
        out(0) = 1f
        out(1) = (stats.map(_.meanR).sum / n / 255.0).toFloat
        out(2) = (stats.map(_.meanG).sum / n / 255.0).toFloat
        out(3) = (stats.map(_.meanB).sum / n / 255.0).toFloat
        out(4) = (stats.map(_.stdR).sum / n / 255.0).toFloat
        out(5) = (stats.map(_.stdG).sum / n / 255.0).toFloat
        out(6) = (stats.map(_.stdB).sum / n / 255.0).toFloat
      } else
        System.arraycopy(
          StubCodec.decodeFeatures(record), 0, out, PixelCodec.StatsDim, StubCodec.FeatureDim)
      out
    }

    /** Real temporal sampling when the blob parses as AVI; byte-slice
      * fallback otherwise.
      */
    def sampleFrames(blob: Array[Byte], n: Int): Seq[Array[Byte]] = {
      val fr = AviDecode.frames(blob)
      if (fr.nonEmpty) AviDecode.sampleEvenly(fr, n) else StubCodec.sampleFrames(blob, n)
    }
  }

  /** STUB: deterministic stand-in for the absent media libraries —
    * since the MJPEG-AVI decoder above, only the declared fallback for
    * codecs this container cannot decode (non-AVI video, compressed
    * audio) and for arbitrary undecodable byte streams. Features are a
    * byte-histogram sketch (stable across runs/partitions); frames are
    * even byte-range slices. Replace with a real codec (e.g.
    * javacpp-ffmpeg) outside this container.
    */
  object StubCodec extends MediaCodec {
    val FeatureDim = 16

    def decodeFeatures(record: MediaRecord): Array[Float] = {
      val hist = new Array[Float](FeatureDim)
      record.blob.foreach(b => hist((b & 0xff) % FeatureDim) += 1f)
      val n = math.max(1, record.blob.length)
      hist.map(_ / n)
    }

    def sampleFrames(blob: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (blob.isEmpty || n <= 0) Seq.empty
      else {
        val frameLen = math.max(1, blob.length / n)
        (0 until math.min(n, blob.length)).map { i =>
          blob.slice(i * frameLen, math.min((i + 1) * frameLen, blob.length))
        }
      }
    }
  }

  /** Distributed decode: codec is resolved once per partition; records
    * stream through in `batchSize` groups (the batch shape a columnar
    * UDF transport would use).
    */
  def extractFeatures(
      media: Dataset[MediaRecord],
      codec: MediaCodec = StubCodec,
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    implicit val enc: Encoder[MediaFeatures] = Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          MediaFeatures(r.mediaId, r.kind, r.blob.length.toLong, codec.decodeFeatures(r))
        }
      }
    }
  }

  /** Real header-derived dimensions ([[ImageHeaders]]): parses PNG/BMP
    * container bytes per record — validates or replaces sidecar metadata
    * without any codec library. Runs in the same mapPartitions shape as
    * feature extraction; only the leading header bytes are touched.
    */
  def probeDims(media: Dataset[MediaRecord]): DataFrame = {
    implicit val enc: Encoder[(Long, String, Int, Int)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaInt, Encoders.scalaInt)
    media
      .mapPartitions { it =>
        it.map { r =>
          val p = ImageHeaders.probe(r.blob)
          (r.mediaId, p.format, p.width, p.height)
        }
      }
      .toDF("mediaId", "format", "probe_width", "probe_height")
  }

  /** Metadata-only resize plan step: no payload decode, pure projection. */
  def resizePlan(media: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(
      lit(1.0),
      lit(maxDim) / greatest(col("width"), col("height")).cast("double"))
    media
      .withColumn("target_width", (col("width") * scale).cast("int"))
      .withColumn("target_height", (col("height") * scale).cast("int"))
  }

  /** Deterministic synthetic media fixture (no external libs). */
  def syntheticMedia(spark: SparkSession, n: Int, partitions: Int = 4): Dataset[MediaRecord] = {
    implicit val enc: Encoder[MediaRecord] = Encoders.product[MediaRecord]
    import spark.implicits._
    spark
      .range(0, n, 1, partitions)
      .map { i =>
        val kind = Seq("image", "audio", "video")((i % 3).toInt)
        val blob = Array.tabulate[Byte](64 + (i % 64).toInt)(j => ((i * 31 + j * 7) % 251).toByte)
        MediaRecord(i, kind, blob, 64 + (i % 512).toInt, 48 + (i % 256).toInt, 16000)
      }
  }
}
