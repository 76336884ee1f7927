package graft.llm

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (B35): opaque binary payloads + typed metadata
  * co-resident with relational columns, decoded partition-batched.
  *
  * Every REAL decoder below is a [[Codec]] behind the one wrapper
  * [[perBlob]]: `None` from the codec (malformed, truncated, or over
  * [[Codec.MaxDecodedBytes]]) becomes the wrapper's quarantine — a
  * `valid = false` row for the per-blob feature wrappers, no rows for the
  * 0..n fan-out wrappers ([[audioFrames]], [[resizeImage]],
  * [[videoFrames]]).
  *
  * Decode comes in tiers. REAL decoders with EXACT oracles: [[decodeWav]]
  * (RIFF/WAVE PCM-16 — self-describing byte arithmetic, [[Wav]]),
  * [[decodeBmp]] (24-bit BI_RGB, [[Bmp]]), [[decodePng]]
  * (deflate-compressed PNG via the JDK's ImageIO, [[Png]]) and
  * [[decodeGif]] (palette+LZW GIF, [[Gif]]) — all lossless, so pixels/
  * samples round-trip exactly and each is hash-checked against a
  * parser-free arithmetic oracle (q123/q124/q127/q128). REAL but LOSSY:
  * [[decodeJpeg]] ([[Jpeg]], also JDK ImageIO) — DCT quantization means
  * no exact cross-engine derivation of the decoded pixels exists, so it
  * is property-bounded (JpegSpec) and registered rows-only (q129).
  * Audio/video compression (MP3/H.264) stays a clearly-marked
  * deterministic STUB ([[decode]]/[[frameSample]]/[[resize]] — those
  * decoders genuinely need native codec libraries, absent in this
  * environment); everything around them — the typed schema, the
  * `Dataset[Blob]` encoder, partition-wise batch iteration, and the
  * output feature schema — is the real shape a production decode (JNI
  * codec, ONNX feature extractor) drops into.
  */
object Multimodal {

  /** The one Dataset wrapper over a [[Codec]]: one `mapPartitions` that
    * decodes each payload and hands (doc_id, result) to the caller's row
    * function, which turns `None` into its quarantine convention (an
    * invalid row, or no rows). `mapPartitions` is deliberate: a real
    * decoder amortizes codec/model init once per partition, not per row. */
  def perBlob[T, R <: Product : TypeTag](blobs: Dataset[Blob], decode: Array[Byte] => Option[T])(
      rows: (Long, Option[T]) => IterableOnce[R]): Dataset[R] =
    blobs.mapPartitions(_.flatMap(b => rows(b.doc_id, decode(b.payload))))(Encoders.product[R])

  /** A document rendered as an opaque binary payload. */
  final case class Blob(doc_id: Long, payload: Array[Byte])

  /** Stub "decoded" features — deterministic functions of the raw bytes. */
  final case class DecodedFeatures(
      doc_id: Long,
      n_bytes: Long,
      first_byte: Long,
      last_byte: Long,
      byte_sum: Long)

  /** documents.text reinterpreted as a binary payload column. */
  def asBlobs(docs: DataFrame): Dataset[Blob] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("payload")).as[Blob]
  }

  /** One sampled frame of a (stub) video payload. */
  final case class Frame(
      doc_id: Long, frame_idx: Int, n_bytes: Long, byte_sum: Long)

  /** Fixed-size pooled representation of a (stub) image payload. */
  final case class Resized(doc_id: Long, bins: Array[Double])

  /** STUB frame-sample: the payload read as consecutive `frameBytes`-byte
    * frames (ragged tail dropped), keeping every `stride`-th — a video
    * keyframe sampler's exact shape: 0..n typed rows per blob, fan-out
    * decided per element. A real sampler swaps the byte-slice for a codec
    * seek; the flatMap topology, typed output schema, and per-partition
    * init point are already the production ones. */
  def frameSample(
      blobs: Dataset[Blob], frameBytes: Int, stride: Int): Dataset[Frame] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    require(frameBytes > 0 && stride > 0)
    blobs.mapPartitions { it =>
      // real sampler: open the container/codec once per partition here
      it.flatMap { b =>
        val p = b.payload
        val nFrames = p.length / frameBytes
        Iterator.range(0, nFrames).filter(_ % stride == 0).map { i =>
          var sum = 0L
          var j = i * frameBytes
          val end = j + frameBytes
          while (j < end) { sum += p(j) & 0xffL; j += 1 }
          Frame(b.doc_id, i, frameBytes.toLong, sum)
        }
      }
    }
  }

  /** STUB resize: average-pool the byte stream into `bins` equal buckets —
    * image thumbnailing's shape: fixed-size output regardless of input
    * size. Bucket i covers bytes [i·n/bins, (i+1)·n/bins); empty buckets
    * (payload shorter than bins) yield 0.0. */
  def resize(blobs: Dataset[Blob], bins: Int): Dataset[Resized] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    require(bins > 0)
    blobs.mapPartitions { it =>
      it.map { b =>
        val p = b.payload
        val out = new Array[Double](bins)
        var i = 0
        while (i < bins) {
          val from = (i.toLong * p.length / bins).toInt
          val until = ((i + 1).toLong * p.length / bins).toInt
          if (until > from) {
            var s = 0L
            var j = from
            while (j < until) { s += p(j) & 0xffL; j += 1 }
            out(i) = s.toDouble / (until - from)
          }
          i += 1
        }
        Resized(b.doc_id, out)
      }
    }
  }

  /** REAL audio decode: per-blob WAV features via the spec-complete
    * [[Wav]] PCM-16 parser. Malformed payloads (wrong magic, truncated
    * chunk, compressed format) come back `valid = false` with zeroed
    * features instead of failing the scan — quarantine-routing is the
    * pipeline contract for dirty binary columns. `duration_us` and `peak`
    * are exact integers; `rms` is one sqrt of an exact integer ratio, so
    * the whole row is value-comparable across engines (q123's oracle
    * derives the same features arithmetically, WITHOUT a WAV parser —
    * the byte-level encoder/parser round-trip is what the check pins). */
  final case class WavFeatures(
      doc_id: Long,
      valid: Boolean,
      sample_rate: Int,
      channels: Int,
      n_samples: Long,
      duration_us: Long,
      peak: Int,
      rms: Double)

  def decodeWav(blobs: Dataset[Blob]): Dataset[WavFeatures] =
    perBlob(blobs, Wav.decode) { (id, r) =>
      Iterator.single(r.fold(WavFeatures(id, valid = false, 0, 0, 0L, 0L, 0, 0.0)) { pcm =>
        val n = pcm.samples.length.toLong
        var sumSq = 0L
        var peak = 0
        pcm.samples.foreach { s =>
          sumSq += s.toLong * s.toLong
          val a = math.abs(s.toInt)
          if (a > peak) peak = a
        }
        // frames = interleaved sample groups; duration counts frames
        val frames = n / pcm.channels
        WavFeatures(id, valid = true, pcm.sampleRate, pcm.channels,
          n, frames * 1000000L / pcm.sampleRate, peak,
          if (n == 0) 0.0 else math.sqrt(sumSq.toDouble / n.toDouble))
      })
    }

  /** REAL image decode features, shared by the [[Bmp]] (q124) and [[Png]]
    * (q127) decoders — same convention as [[decodeWav]]: quarantined
    * payloads come back `valid = false`, channel sums are exact integers and
    * each mean is one exact-int division, so the row is value-comparable
    * across engines (the q124/q127 oracles re-derive the features
    * arithmetically, without any image parser on their side). */
  final case class ImageFeatures(
      doc_id: Long,
      valid: Boolean,
      width: Int,
      height: Int,
      n_pixels: Long,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      mean_luma: Double)

  /** Feature math over decoded top-down 0xRRGGBB pixels (both codecs
    * normalize to this layout). Integer Rec.601-style luma weights
    * (29.9/58.7/11.4% scaled ×1000) keep the numerator exact; ONE double
    * division at the end is bit-identical across engines. */
  private def rgbFeatures(docId: Long, width: Int, height: Int,
      pixels: Array[Int]): ImageFeatures = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    pixels.foreach { p =>
      sr += (p >> 16) & 0xff
      sg += (p >> 8) & 0xff
      sb += p & 0xff
    }
    val n = pixels.length.toLong
    val luma = if (n == 0) 0.0
      else (299L * sr + 587L * sg + 114L * sb).toDouble / (1000.0 * n)
    ImageFeatures(docId, valid = true, width, height, n, sr, sg, sb, luma)
  }

  /** One feature row per image blob; undecodable ones quarantine as
    * `valid = false`. */
  private def imageRow(docId: Long, img: Option[RgbImage]): Iterator[ImageFeatures] =
    Iterator.single(img.fold(ImageFeatures(docId, valid = false, 0, 0, 0L, 0L, 0L, 0L, 0.0))(
      i => rgbFeatures(docId, i.width, i.height, i.pixels)))

  def decodeBmp(blobs: Dataset[Blob]): Dataset[ImageFeatures] =
    perBlob(blobs, Bmp.decode(_).map(i => RgbImage(i.width, i.height, i.pixels)))(imageRow)

  /** REAL compressed-image decode: per-blob PNG features via the JDK
    * ImageIO-backed [[Png]] codec — PNG is lossless, so the decoded 8-bit
    * RGB pixels equal the encoded ones exactly and the q127 oracle's
    * arithmetic derivation certifies the whole deflate round-trip. Same
    * quarantine contract as [[decodeBmp]]. */
  def decodePng(blobs: Dataset[Blob]): Dataset[ImageFeatures] =
    perBlob(blobs, Png.decode)(imageRow)

  /** One analysis window of decoded audio — REAL audio framing over
    * [[Wav]]-decoded PCM (the production shape of every spectral/VAD
    * front-end: fixed-length windows at a fixed hop, 0..n rows per blob).
    * `rms` is one sqrt of an exact integer ratio; `zero_crossings` counts
    * strict sign changes — both engine-exact. */
  final case class AudioFrame(
      doc_id: Long,
      frame_idx: Int,
      n_samples: Int,
      peak: Int,
      zero_crossings: Int,
      rms: Double)

  /** Frame mono PCM into `frameSamples`-long windows every `hopSamples`
    * (ragged tail dropped — the standard STFT convention); undecodable or
    * multi-channel payloads contribute zero rows (quarantine-by-omission;
    * use [[decodeWav]]'s valid flag to audit them). */
  def audioFrames(
      blobs: Dataset[Blob], frameSamples: Int, hopSamples: Int): Dataset[AudioFrame] = {
    require(frameSamples > 0 && hopSamples > 0)
    perBlob(blobs, Wav.decode) { (id, r) =>
      r.filter(_.channels == 1).iterator.flatMap { pcm =>
        val s = pcm.samples
        val nFrames =
          if (s.length < frameSamples) 0
          else (s.length - frameSamples) / hopSamples + 1
        Iterator.range(0, nFrames).map { f =>
          val from = f * hopSamples
          var sumSq = 0L
          var peak = 0
          var zc = 0
          var j = from
          while (j < from + frameSamples) {
            val v = s(j).toInt
            sumSq += v.toLong * v
            val a = math.abs(v)
            if (a > peak) peak = a
            if (j > from && (s(j - 1) < 0) != (v < 0) && v != 0 && s(j - 1) != 0) zc += 1
            j += 1
          }
          AudioFrame(id, f, frameSamples, peak, zc,
            math.sqrt(sumSq.toDouble / frameSamples))
        }
      }
    }
  }

  /** One pooled cell of a REAL image downscale over [[Bmp]]-decoded
    * pixels: source pixel (x, y) lands in cell (x·outW/w, y·outH/h)
    * (exact integer floor — the area-mapping thumbnail construction),
    * channel sums exact, each mean one exact-int division. */
  final case class PooledCell(
      doc_id: Long, cell_x: Int, cell_y: Int, n_px: Long,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Downscale to an `outW`×`outH` mean-pooled grid; undecodable payloads
    * contribute zero rows. Requires source dims ≥ target dims (pooling,
    * not interpolation — upscaling needs a resampling kernel). */
  def resizeImage(blobs: Dataset[Blob], outW: Int, outH: Int): Dataset[PooledCell] = {
    require(outW > 0 && outH > 0)
    perBlob(blobs, Bmp.decode) { (id, r) =>
      r.filter(img => img.width >= outW && img.height >= outH)
        .iterator.flatMap { img =>
          val sums = Array.ofDim[Long](outW * outH, 4) // r, g, b, count
          var i = 0
          while (i < img.pixels.length) {
            val x = i % img.width
            val y = i / img.width
            val cell = (y.toLong * outH / img.height).toInt * outW +
              (x.toLong * outW / img.width).toInt
            val p = img.pixels(i)
            val s = sums(cell)
            s(0) += (p >> 16) & 0xff; s(1) += (p >> 8) & 0xff
            s(2) += p & 0xff; s(3) += 1
            i += 1
          }
          Iterator.range(0, outW * outH).map { c =>
            val s = sums(c)
            val n = s(3)
            PooledCell(id, c % outW, c / outW, n,
              s(0).toDouble / n, s(1).toDouble / n, s(2).toDouble / n)
          }
        }
    }
  }

  /** REAL palette-image decode: per-blob GIF features via the ImageIO-
    * backed [[Gif]] codec — palette + LZW are both lossless, so the q128
    * oracle's arithmetic derivation certifies the full round-trip. Same
    * quarantine contract as the other image decoders. */
  def decodeGif(blobs: Dataset[Blob]): Dataset[ImageFeatures] =
    perBlob(blobs, Gif.decode)(imageRow)

  /** REAL lossy-image decode: per-blob JPEG features via [[Jpeg]]. The
    * features are exact functions of the DECODED pixels, but those pixels
    * are a codec-defined approximation of whatever was encoded, so q129
    * registers rows-only; JpegSpec bounds the round-trip error. */
  def decodeJpeg(blobs: Dataset[Blob]): Dataset[ImageFeatures] =
    perBlob(blobs, Jpeg.decode)(imageRow)

  /** REAL MP3 container metadata: frame-header walk ([[Mp3]] — public
    * bit arithmetic, no codec) yielding the duration/rate/size fields a
    * pipeline actually filters on; SAMPLE decode stays in the stub tier
    * below (genuinely needs a native codec). Oracle-checked (q131): the
    * fixture synthesizes spec-valid VBR frame chains and the oracle
    * re-derives every field arithmetically. */
  final case class Mp3Meta(
      doc_id: Long,
      valid: Boolean,
      n_frames: Int,
      sample_rate: Int,
      audio_bytes: Long,
      duration_us: Long)

  def decodeMp3Meta(blobs: Dataset[Blob]): Dataset[Mp3Meta] =
    perBlob(blobs, Mp3.decode) { (id, r) =>
      Iterator.single(r.fold(Mp3Meta(id, valid = false, 0, 0, 0L, 0L))(m =>
        Mp3Meta(id, valid = true, m.nFrames, m.sampleRate, m.audioBytes, m.durationUs)))
    }

  /** REAL MP4 container metadata ([[Mp4]] box walk — the video twin of
    * [[decodeMp3Meta]]): timescale/duration/track count from the
    * `moov`/`mvhd`/`trak` headers, no codec involved; SAMPLE decode
    * (H.264/H.265) stays stubbed. Oracle-checked (q134). */
  final case class Mp4Meta(
      doc_id: Long,
      valid: Boolean,
      timescale: Long,
      duration_units: Long,
      duration_us: Long,
      n_tracks: Int)

  def decodeMp4Meta(blobs: Dataset[Blob]): Dataset[Mp4Meta] =
    perBlob(blobs, Mp4.decode) { (id, r) =>
      Iterator.single(r.fold(Mp4Meta(id, valid = false, 0L, 0L, 0L, 0))(m =>
        Mp4Meta(id, valid = true, m.timescale, m.duration, m.durationUs, m.nTracks)))
    }

  /** REAL video-container metadata ([[Avi]] header walk): dims, frame
    * timing, frame/stream counts from avih + the validated 'vids' strl —
    * WITHOUT touching the movi frame payload, which is what a 100 TB
    * metadata scan must never do. Exact integers throughout (duration is
    * one integer product), oracle-checked (q137). */
  final case class AviMeta(
      doc_id: Long,
      valid: Boolean,
      width: Int,
      height: Int,
      us_per_frame: Long,
      n_frames: Int,
      n_streams: Int,
      duration_us: Long)

  def decodeAviMeta(blobs: Dataset[Blob]): Dataset[AviMeta] =
    perBlob(blobs, Avi.decode) { (id, r) =>
      Iterator.single(r.fold(AviMeta(id, valid = false, 0, 0, 0L, 0, 0, 0L))(m =>
        AviMeta(id, valid = true, m.width, m.height, m.usPerFrame,
          m.nFrames, m.nStreams, m.usPerFrame * m.nFrames)))
    }

  /** One REAL sampled video frame: [[Avi.sampleFrames]] walks the movi
    * chunk list, SEEKS over non-sampled frames (position arithmetic, no
    * pixel decode — the keyframe-sampler access pattern q54's byte-slice
    * stub only mimicked) and decodes every `stride`-th DIB frame to exact
    * channel sums + one-division luma, the same engine-exact feature
    * contract as [[ImageFeatures]]. `ts_us` is the frame's presentation
    * time (exact integer product — what a training pipeline joins against
    * transcripts/subtitles). Undecodable payloads contribute zero rows
    * (quarantine-by-omission; [[decodeAviMeta]]'s valid flag audits them). */
  final case class VideoFrame(
      doc_id: Long,
      frame_idx: Int,
      ts_us: Long,
      width: Int,
      height: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      mean_luma: Double)

  def videoFrames(blobs: Dataset[Blob], stride: Int): Dataset[VideoFrame] = {
    require(stride > 0)
    perBlob(blobs, Avi.sampleFrames(_, stride)) { (id, r) =>
      r.iterator.flatMap { case (meta, frames) =>
        frames.iterator.map { case (idx, img) =>
          val f = rgbFeatures(id, img.width, img.height, img.pixels)
          VideoFrame(id, idx, idx.toLong * meta.usPerFrame,
            f.width, f.height, f.sum_r, f.sum_g, f.sum_b, f.mean_luma)
        }
      }
    }
  }

  /** STUB decode: where a real pipeline would run an image/audio codec and
    * feature extractor per batch, we emit deterministic byte statistics so
    * the full plumbing stays testable end-to-end (oracle-checkable too,
    * since the fixture text is ASCII). */
  def decode(blobs: Dataset[Blob]): Dataset[DecodedFeatures] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      // real decoder: init codec/model once per partition here
      it.map { b =>
        val p = b.payload
        DecodedFeatures(
          doc_id = b.doc_id,
          n_bytes = p.length.toLong,
          first_byte = if (p.nonEmpty) p.head & 0xffL else -1L,
          last_byte = if (p.nonEmpty) p.last & 0xffL else -1L,
          byte_sum = p.foldLeft(0L)((acc, x) => acc + (x & 0xffL)))
      }
    }
  }
}
