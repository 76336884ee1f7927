package graft.llm

import java.io.ByteArrayOutputStream
import java.util.zip.{DataFormatException, Inflater}

/** The one byte-decoder contract. Every decoder of a raw binary blob —
  * images ([[Bmp]], [[Png]], [[Gif]], [[Jpeg]], [[Qoi]], [[Tga]],
  * [[Pnm]], [[Ico]], [[Webp]], [[Exif]]), audio
  * ([[Wav]], [[Mp3]], [[Id3]], [[Flac]], [[Ogg]], [[Adpcm]], [[G711]]),
  * video ([[Mp4]], [[Avi]]), archives and compressed text ([[Gzip]],
  * [[Warc]], [[Zip]], [[Tar]], [[AvroIngest]]) and documents ([[Epub]],
  * [[Xlsx]], [[Pptx]], [[Pdf]]) — implements it:
  *
  *   - one entry point, [[decode]]; `None` means quarantined: malformed,
  *     truncated, or over [[Codec.MaxDecodedBytes]]. A decoder never
  *     throws on its input bytes.
  *   - one per-blob output bound, [[Codec.MaxDecodedBytes]]: whatever a
  *     decoder allocates beyond a re-layout of its input (inflated
  *     members and streams, pixels from declared dimensions, expanded
  *     samples) counts against it for the WHOLE blob, so a blob that
  *     would outgrow it comes back `None` instead of killing the
  *     executor.
  *
  * Input sanity guards (`MaxDim`, `MaxMembers`, `MaxIfdEntries`,
  * `MaxBlocks`, `MaxComments`, the Tar member guard) are checks on the
  * outside input, not output bounds, and stay with their decoders.
  * [[Multimodal.perBlob]] is the one Dataset wrapper over a codec.
  *
  * The decoded type is the member [[Out]] rather than a type parameter:
  * a decoder object declares its output types inside itself (`Wav.Pcm`,
  * `Zip.Member`), and an object cannot name its own members in its
  * parents.
  *
  * By design outside the contract: [[Rle8]] (needs the dimensions from
  * the BMP/AVI header, so it is not a whole-blob decoder),
  * [[CharsetSniff.sniff]] (needs the Content-Type header next to the
  * bytes) and [[MagicSniff]] (a classifier, not a decoder).
  */
trait Codec extends Serializable {

  /** What one blob decodes to. */
  type Out

  /** Decode one blob; `None` quarantines it. Never throws. */
  def decode(bytes: Array[Byte]): Option[Out]
}

object Codec {

  /** Decoded-output bound per blob: 64 MiB. */
  val MaxDecodedBytes: Int = 64 << 20

  /** Pixel bound for decoders that emit one 4-byte int per pixel. */
  val MaxPixels: Long = MaxDecodedBytes / 4

  /** Inflate `raw` (zlib-wrapped, or raw deflate when `nowrap`), stopping
    * once the output passes `limit`. None for corrupt, truncated or
    * dictionary-dependent data; a result LONGER than `limit` means the
    * stream ran past the caller's budget (the caller quarantines). */
  private[llm] def inflate(raw: Array[Byte], nowrap: Boolean, limit: Long): Option[Array[Byte]] = {
    val inf = new Inflater(nowrap)
    try {
      inf.setInput(raw)
      val out = new ByteArrayOutputStream(math.min(raw.length.toLong * 4, 1 << 16).toInt)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput() && out.size() <= limit) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished() && inf.needsDictionary()) return None
        out.write(buf, 0, n)
      }
      if (out.size() > limit || inf.finished()) Some(out.toByteArray) else None
    } catch {
      case _: DataFormatException => None
    } finally inf.end()
  }
}
