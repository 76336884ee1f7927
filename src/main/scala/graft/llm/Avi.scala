package graft.llm

import java.nio.{ByteBuffer, ByteOrder}

/** Real AVI (RIFF 'AVI ') codec for UNCOMPRESSED 24-bit DIB video — the
  * video-modality completion of B35's real-decode tier: like [[Wav]] and
  * [[Bmp]], an uncompressed AVI is self-describing byte layout (RIFF
  * container + raw bottom-up padded BGR frames), so a spec-complete
  * encoder/parser needs no native codec library. This is what upgrades
  * the byte-slice frame sampler ([[Multimodal.frameSample]], q54's stub
  * tier) to a REAL container walk + frame seek + pixel decode
  * ([[Multimodal.videoFrames]]); compressed video (H.264/H.265 inside
  * MP4/AVI) stays the documented stub — those genuinely need native
  * codecs ([[Mp4]] covers their container-metadata walk).
  *
  * Format notes honored here (RIFF/AVI spec): chunks are (4-byte ASCII
  * id, uint32-LE size, payload) padded to EVEN length; LIST chunks carry
  * a 4-byte list type then sub-chunks. Required layout: RIFF('AVI ') →
  * LIST('hdrl'){ 'avih' main header, LIST('strl'){ 'strh' stream header,
  * 'strf' format } } → LIST('movi'){ '00db' uncompressed frames } with
  * optional JUNK/idx1 chunks anywhere at their level (real muxers pad
  * with JUNK for CD-sector alignment — skipping them is where parsers
  * desync). Frame payloads are exactly the BMP pixel-array layout:
  * bottom-up rows, B,G,R channel order, rows padded to 4 bytes — decoded
  * here with the same overflow-guard discipline as [[Bmp.decode]].
  */
object Avi extends Codec {

  type Out = Meta

  /** Container metadata from the header walk alone (no frame decode —
    * a 100 TB metadata scan must not touch the movi payload).
    * `vidsStream` is the 0-based strl index of the validated video
    * stream — movi frame chunks carry it in their fourcc ('00db',
    * '01db', …), so an audio-first file stores video as '01db'. */
  final case class Meta(
      width: Int,
      height: Int,
      usPerFrame: Long,
      nFrames: Int,
      nStreams: Int,
      vidsStream: Int)

  private val RIFF = 0x46464952 // "RIFF" LE
  private val AVI_ = 0x20495641 // "AVI " LE
  private val LIST = 0x5453494c // "LIST" LE
  private val HDRL = 0x6c726468 // "hdrl" LE
  private val AVIH = 0x68697661 // "avih" LE
  private val STRL = 0x6c727473 // "strl" LE
  private val STRH = 0x68727473 // "strh" LE
  private val STRF = 0x66727473 // "strf" LE
  private val MOVI = 0x69766f6d // "movi" LE
  private val VIDS = 0x73646976 // "vids" LE
  private val DIB_ = 0x20424944 // "DIB " LE
  private val DB00 = 0x62643030 // "00db" LE (uncompressed video frame)
  private val JUNK = 0x4b4e554a // "JUNK" LE
  private val MaxDim = 1 << 24 // see Bmp.decode: crafted-header guard

  private def rowStride(width: Int): Int = (width * 3 + 3) & ~3

  /** Canonical single-video-stream uncompressed AVI bytes: avih + one
    * 'vids'/'DIB ' strl + movi of '00db' frames (each a bottom-up padded
    * BGR pixel array), with `junkBytes` of JUNK padding between hdrl and
    * movi to exercise the skip path. A real encoder: output parses under
    * any spec-compliant reader (round-trip property-tested in AviSpec). */
  def encode(
      width: Int,
      height: Int,
      usPerFrame: Long,
      frames: Seq[Array[Int]],
      junkBytes: Int = 0,
      audioFirst: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims: ${width}x$height")
    require(usPerFrame > 0 && usPerFrame <= Int.MaxValue, s"bad usPerFrame: $usPerFrame")
    require(frames.nonEmpty, "empty video")
    require(frames.forall(_.length == width * height), "frame pixel count != width*height")
    require(junkBytes >= 0)
    val stride = rowStride(width)
    val frameBytes = stride * height
    val strfSize = 40
    val strhSize = 56
    val avihSize = 56
    val strlSize = 4 + (8 + strhSize) + (8 + strfSize)
    // a leading data-less 'auds' strl (strh + 16-byte WAVEFORMATEX strf)
    // makes video stream 1 → movi frames become '01db'
    val audStrlSize = 4 + (8 + strhSize) + (8 + 16)
    val hdrlSize = 4 + (8 + avihSize) + (8 + strlSize) +
      (if (audioFirst) 8 + audStrlSize else 0)
    val junkPadded = junkBytes + (junkBytes & 1)
    val moviSize = 4 + frames.length * (8 + frameBytes) // frameBytes is even
    val riffSize = 4 + (8 + hdrlSize) +
      (if (junkBytes > 0) 8 + junkPadded else 0) + (8 + moviSize)
    val buf = ByteBuffer.allocate(8 + riffSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(RIFF).putInt(riffSize).putInt(AVI_)
    buf.putInt(LIST).putInt(hdrlSize).putInt(HDRL)
    // avih: dwMicroSecPerFrame, dwMaxBytesPerSec, dwPaddingGranularity,
    // dwFlags, dwTotalFrames, dwInitialFrames, dwStreams,
    // dwSuggestedBufferSize, dwWidth, dwHeight, dwReserved[4]
    buf.putInt(AVIH).putInt(avihSize)
      .putInt(usPerFrame.toInt)
      .putInt((frameBytes.toLong * 1000000L / usPerFrame).toInt)
      .putInt(0).putInt(0)
      .putInt(frames.length).putInt(0)
      .putInt(if (audioFirst) 2 else 1).putInt(frameBytes)
      .putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    if (audioFirst) {
      buf.putInt(LIST).putInt(audStrlSize).putInt(STRL)
      buf.putInt(STRH).putInt(strhSize)
        .putInt(0x73647561).putInt(0).putInt(0) // 'auds', no handler
        .putShort(0).putShort(0).putInt(0)
        .putInt(1).putInt(8000).putInt(0).putInt(0).putInt(0)
        .putInt(-1).putInt(0)
        .putShort(0).putShort(0).putShort(0).putShort(0)
      // minimal WAVEFORMATEX: PCM, mono, 8 kHz, 16-bit
      buf.putInt(STRF).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
    }
    buf.putInt(LIST).putInt(strlSize).putInt(STRL)
    // strh: fccType, fccHandler, dwFlags, wPriority, wLanguage,
    // dwInitialFrames, dwScale, dwRate, dwStart, dwLength,
    // dwSuggestedBufferSize, dwQuality, dwSampleSize, rcFrame[4 shorts]
    buf.putInt(STRH).putInt(strhSize)
      .putInt(VIDS).putInt(DIB_).putInt(0)
      .putShort(0).putShort(0).putInt(0)
      .putInt(usPerFrame.toInt).putInt(1000000) // scale/rate: fps = rate/scale
      .putInt(0).putInt(frames.length).putInt(frameBytes)
      .putInt(-1).putInt(0)
      .putShort(0).putShort(0).putShort(width.toShort).putShort(height.toShort)
    // strf: BITMAPINFOHEADER, same layout Bmp.encode24 writes
    buf.putInt(STRF).putInt(strfSize)
      .putInt(strfSize).putInt(width).putInt(height)
      .putShort(1).putShort(24).putInt(0).putInt(frameBytes)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    if (junkBytes > 0) {
      buf.putInt(JUNK).putInt(junkBytes)
      var i = 0
      while (i < junkPadded) { buf.put(0.toByte); i += 1 }
    }
    buf.putInt(LIST).putInt(moviSize).putInt(MOVI)
    val frameId = DB00 + (if (audioFirst) 1 << 8 else 0) // '00db' / '01db'
    frames.foreach { px =>
      buf.putInt(frameId).putInt(frameBytes)
      var row = height - 1 // bottom-up storage: last image row first
      while (row >= 0) {
        var x = 0
        while (x < width) {
          val p = px(row * width + x)
          buf.put((p & 0xff).toByte)
            .put(((p >> 8) & 0xff).toByte)
            .put(((p >> 16) & 0xff).toByte)
          x += 1
        }
        var pad = stride - width * 3
        while (pad > 0) { buf.put(0.toByte); pad -= 1 }
        row -= 1
      }
    }
    buf.array()
  }

  /** Walk the header lists and return container metadata, validating the
    * video stream is decodable (vids + 24-bit BI_RGB strf matching the
    * avih dims) WITHOUT touching frame payloads. None for anything
    * malformed (the [[Codec]] contract). */
  def decode(bytes: Array[Byte]): Option[Meta] =
    open(bytes).flatMap(header)

  /** [[decode]]'s header walk, then every `stride`-th frame ((0, stride,
    * 2·stride, …) — the keyframe-sampling access pattern) decoded to
    * top-down row-major 0xRRGGBB. Skipped frames are SEEKED over
    * (position arithmetic, no pixel walk, though their declared sizes are
    * still validated — a desynced chunk list must quarantine, not decode
    * garbage). None if the container or any frame chunk is malformed, or
    * the sampled frames' pixels pass [[Codec.MaxPixels]]. */
  def sampleFrames(bytes: Array[Byte], stride: Int): Option[(Meta, Seq[(Int, Bmp.Img)])] = {
    require(stride > 0)
    open(bytes).flatMap { buf =>
      header(buf).flatMap { meta =>
        moviPayload(buf).flatMap { movi =>
          // Long-side: width·height ≤ Int.MaxValue is already enforced but
          // 3·width·height can still wrap Int for crafted near-cap dims
          val frameBytes = rowStride(meta.width).toLong * meta.height
          val out = Vector.newBuilder[(Int, Bmp.Img)]
          // the video stream's frame fourcc: 'NNdb' with NN = strl index
          val dbId = DB00 +
            (meta.vidsStream / 10) + ((meta.vidsStream % 10) << 8)
          var idx = 0
          var left = Codec.MaxPixels
          var bad = false
          while (!bad && movi.remaining() >= 8) {
            val id = movi.getInt()
            val size = movi.getInt()
            if (size < 0 || size > movi.remaining()) bad = true
            else if (id == dbId) {
              if (size.toLong != frameBytes) bad = true // desynced/ragged frame
              else {
                if (idx % stride == 0) {
                  left -= meta.width.toLong * meta.height
                  if (left < 0) bad = true else out += idx -> decodeFrame(movi, meta)
                }
                movi.position(movi.position() + size) // even by construction
                idx += 1
              }
            } else { // idx1, JUNK, audio '01wb', …: skip + even pad
              movi.position(math.min(movi.position() + size + (size & 1), movi.limit()))
            }
          }
          if (bad || idx != meta.nFrames) None else Some((meta, out.result()))
        }
      }
    }
  }

  /** Validate the RIFF('AVI ') envelope; buffer positioned at the first
    * top-level chunk, limited to the declared RIFF payload. */
  private def open(bytes: Array[Byte]): Option[ByteBuffer] = {
    if (bytes == null || bytes.length < 12) return None
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (buf.getInt() != RIFF) return None
    buf.getInt() // declared riff size; tolerated if it disagrees (Wav.decode note)
    if (buf.getInt() != AVI_) return None
    Some(buf)
  }

  /** Walk top-level chunks up to (not into) the movi LIST; returns the
    * validated Meta and leaves `buf` positioned AT the movi LIST header
    * (so a metadata-only caller never reads frame bytes). */
  private def header(buf: ByteBuffer): Option[Meta] = {
    var meta: Option[Meta] = None
    while (buf.remaining() >= 8) {
      val id = buf.getInt()
      val size = buf.getInt()
      if (size < 0 || size > buf.remaining()) return None // truncated chunk
      if (id == LIST) {
        if (size < 4) return None
        val listType = buf.getInt()
        if (listType == HDRL) {
          meta = hdrl(buf, size - 4)
          if (meta.isEmpty) return None
        } else if (listType == MOVI) {
          // rewind to the LIST header so movi callers re-read it
          buf.position(buf.position() - 12)
          return meta
        } else {
          buf.position(math.min(buf.position() + size - 4 + (size & 1), buf.limit()))
        }
      } else {
        buf.position(math.min(buf.position() + size + (size & 1), buf.limit()))
      }
    }
    None // no movi list: not a playable AVI
  }

  /** Parse the hdrl LIST payload: avih dims/timing (which the spec puts
    * FIRST — a strl before avih quarantines), then the first 'vids' strl,
    * validated as 24-bit BI_RGB DIB whose strf dims MATCH the avih dims
    * (a contradiction means one of them lies about the frame layout).
    * The strl's 0-based index becomes [[Meta.vidsStream]]. */
  private def hdrl(buf: ByteBuffer, size: Int): Option[Meta] = {
    val end = buf.position() + size
    if (end > buf.limit()) return None
    var width = -1
    var height = -1
    var usPerFrame = -1L
    var nFrames = -1
    var nStreams = -1
    var strlIdx = -1
    var vidsStream = -1
    while (buf.position() + 8 <= end) {
      val id = buf.getInt()
      val sz = buf.getInt()
      // overflow-safe: position+sz can wrap Int for a crafted near-cap sz
      if (sz < 0 || sz > end - buf.position()) return None
      val next = math.min(buf.position() + sz + (sz & 1), end)
      id match {
        case AVIH =>
          if (sz < 40) return None
          usPerFrame = buf.getInt().toLong & 0xffffffffL
          buf.getInt(); buf.getInt(); buf.getInt() // maxBytesPerSec, padding, flags
          nFrames = buf.getInt()
          buf.getInt() // initial frames
          nStreams = buf.getInt()
          buf.getInt() // suggested buffer size
          width = buf.getInt()
          height = buf.getInt()
          if (usPerFrame <= 0 || nFrames <= 0 || nStreams <= 0 ||
            width <= 0 || width > MaxDim || height <= 0 || height > MaxDim ||
            width.toLong * height > Int.MaxValue) return None
        case LIST =>
          if (sz >= 4 && buf.getInt() == STRL) {
            strlIdx += 1
            if (strlIdx > 99) return None // fourcc digits cap the stream count
            if (vidsStream < 0) {
              if (width < 0) return None // strl before avih: out-of-spec
              if (strl(buf, next, width, height)) vidsStream = strlIdx
              // a non-video stream (audio strl) is fine; keep walking
            }
          }
        case _ => () // JUNK, odml, …
      }
      buf.position(next)
    }
    buf.position(end + (size & 1) min buf.limit())
    if (width > 0 && vidsStream >= 0)
      Some(Meta(width, height, usPerFrame, nFrames, nStreams, vidsStream))
    else None
  }

  /** True iff this strl is a 'vids' stream whose strf is a 24-bit BI_RGB
    * BITMAPINFOHEADER agreeing with the avih dims. */
  private def strl(buf: ByteBuffer, end: Int, avihW: Int, avihH: Int): Boolean = {
    var isVids = false
    var dibOk = false
    while (buf.position() + 8 <= end) {
      val id = buf.getInt()
      val sz = buf.getInt()
      if (sz < 0 || sz > end - buf.position()) return false
      val next = math.min(buf.position() + sz + (sz & 1), end)
      id match {
        case STRH =>
          if (sz < 8) return false
          isVids = buf.getInt() == VIDS
          buf.getInt() // handler fourcc; 'DIB ' conventional, not load-bearing
        case STRF if isVids =>
          // BITMAPINFOHEADER: same fields Bmp.decode validates
          if (sz < 40) return false
          buf.getInt() // biSize
          val w = buf.getInt()
          val h = buf.getInt()
          val planes = buf.getShort()
          val bits = buf.getShort()
          val comp = buf.getInt()
          dibOk = w == avihW && h == avihH && planes == 1 && bits == 24 && comp == 0
        case _ => ()
      }
      buf.position(next)
    }
    isVids && dibOk
  }

  /** Position at the movi LIST (header() leaves buf there) and return a
    * slice over its sub-chunks. */
  private def moviPayload(buf: ByteBuffer): Option[ByteBuffer] = {
    if (buf.remaining() < 12) return None
    if (buf.getInt() != LIST) return None
    val size = buf.getInt()
    if (size < 4 || size > buf.remaining()) return None
    if (buf.getInt() != MOVI) return None
    val slice = buf.slice().order(ByteOrder.LITTLE_ENDIAN)
    slice.limit(size - 4)
    Some(slice)
  }

  /** Decode one '00db' payload at the buffer's position (not consumed —
    * the caller advances) — bottom-up padded BGR, exactly [[Bmp.decode]]'s
    * pixel-array walk. Bounds are pre-validated (size == stride·height). */
  private def decodeFrame(movi: ByteBuffer, meta: Meta): Bmp.Img = {
    val stride = rowStride(meta.width)
    val base = movi.position()
    val px = new Array[Int](meta.width * meta.height)
    var row = 0
    while (row < meta.height) {
      val srcRow = meta.height - 1 - row
      var off = base + srcRow * stride
      var x = 0
      while (x < meta.width) {
        val b = movi.get(off) & 0xff
        val g = movi.get(off + 1) & 0xff
        val r = movi.get(off + 2) & 0xff
        px(row * meta.width + x) = (r << 16) | (g << 8) | b
        off += 3
        x += 1
      }
      row += 1
    }
    Bmp.Img(meta.width, meta.height, px)
  }
}
