package graft.llm

/** FLAC metadata-section walk (the xiph FLAC format spec / RFC 9639) —
  * the lossless-audio container beside WAV chunks, MP3 frames (q131),
  * MP4 boxes (q134) and OGG pages (q239): a media lake meets FLAC
  * wherever archival audio is stored, and ingest needs the stream
  * parameters (rate/channels/bits/length) and tags WITHOUT decoding
  * audio. This walks the METADATA section only: `fLaC` magic, then
  * blocks of [1-byte header: last-flag bit7 + type bits0-6][24-bit
  * big-endian length][payload], ending at the last-flag block (audio
  * frames follow and are deliberately not parsed here — FLAC's actual
  * sample decode is rice-coded bit-level territory; STREAMINFO +
  * VORBIS_COMMENT are byte-structured and exactly checkable).
  *
  * STREAMINFO (type 0, 34 bytes, REQUIRED FIRST by spec — a stream
  * that opens with any other block quarantines): big-endian bit-packed
  * fields at fixed offsets — min/max block size (16+16), min/max frame
  * size (24+24), sample rate (20 bits), channels−1 (3), bits/sample−1
  * (5), total samples (36), MD5 of the unencoded audio (128). A zero
  * sample rate is invalid for audio per spec → quarantine.
  *
  * VORBIS_COMMENT (type 4) is LITTLE-endian inside a big-endian
  * container (the classic FLAC implementation trap, spec-pinned):
  * vendor length u32le + vendor, count u32le, then per comment
  * u32le length + `KEY=value` UTF-8.
  *
  * STRICT bounds (the Zip-CRC/Rle8 discipline): bad magic, a
  * non-STREAMINFO first block, wrong STREAMINFO length, truncated
  * block or comment, zero sample rate, unterminated block list, or
  * any cap breach (blocks ≤ [[MaxBlocks]], block length ≤
  * [[MaxBlockLen]], comments ≤ [[MaxComments]]) quarantines the WHOLE
  * stream — None (the [[Codec]] contract), never half-parsed metadata. */
object Flac extends Codec {

  type Out = Meta

  val MaxBlocks = 64
  val MaxBlockLen: Int = 1 << 20
  val MaxComments = 256

  final case class StreamInfo(minBlock: Int, maxBlock: Int, minFrame: Int,
      maxFrame: Int, sampleRate: Int, channels: Int, bitsPerSample: Int,
      totalSamples: Long, md5: Array[Byte])

  final case class Meta(info: StreamInfo, vendor: String,
      comments: Seq[(String, String)], nBlocks: Int)

  def decode(data: Array[Byte]): Option[Meta] = {
    if (data == null || data.length < 4 + 4 + 34) return None
    if (data(0) != 'f' || data(1) != 'L' || data(2) != 'a' || data(3) != 'C')
      return None
    def u8(o: Int): Int = data(o) & 0xff
    def u24be(o: Int): Int = (u8(o) << 16) | (u8(o + 1) << 8) | u8(o + 2)
    def u32le(o: Int): Long = (u8(o).toLong) | (u8(o + 1).toLong << 8) |
      (u8(o + 2).toLong << 16) | (u8(o + 3).toLong << 24)

    var off = 4
    var info: Option[StreamInfo] = None
    var vendor = ""
    var comments = Seq.empty[(String, String)]
    var seenVc = false
    var last = false
    var n = 0
    while (!last) {
      if (n >= MaxBlocks || off + 4 > data.length) return None
      val hdr = u8(off)
      last = (hdr & 0x80) != 0
      val btype = hdr & 0x7f
      val len = u24be(off + 1)
      if (len > MaxBlockLen || off + 4 + len > data.length) return None
      val p = off + 4
      if (n == 0) {
        // spec: STREAMINFO first, exactly 34 bytes
        if (btype != 0 || len != 34) return None
        val rate = (u8(p + 10) << 12) | (u8(p + 11) << 4) | (u8(p + 12) >> 4)
        if (rate == 0) return None
        val ch = ((u8(p + 12) >> 1) & 0x7) + 1
        val bps = (((u8(p + 12) & 0x1) << 4) | (u8(p + 13) >> 4)) + 1
        val total = ((u8(p + 13) & 0xf).toLong << 32) |
          (u8(p + 14).toLong << 24) | (u8(p + 15).toLong << 16) |
          (u8(p + 16).toLong << 8) | u8(p + 17).toLong
        info = Some(StreamInfo(
          (u8(p) << 8) | u8(p + 1), (u8(p + 2) << 8) | u8(p + 3),
          u24be(p + 4), u24be(p + 7), rate, ch, bps, total,
          java.util.Arrays.copyOfRange(data, p + 18, p + 34)))
      } else if (btype == 0) {
        return None // a second STREAMINFO is malformed
      } else if (btype == 4) {
        // RFC 9639 permits at most ONE vorbis-comment block; last-wins
        // would be the half-parsed acceptance the contract forbids
        if (seenVc) return None
        seenVc = true
        // vorbis comment: LITTLE-endian lengths inside the BE container
        var q = p
        val end = p + len
        if (q + 4 > end) return None
        val vlen = u32le(q); q += 4
        if (vlen > end - q) return None
        vendor = new String(data, q, vlen.toInt, "UTF-8"); q += vlen.toInt
        if (q + 4 > end) return None
        val cnt = u32le(q); q += 4
        if (cnt > MaxComments) return None
        val out = Seq.newBuilder[(String, String)]
        var i = 0L
        while (i < cnt) {
          if (q + 4 > end) return None
          val clen = u32le(q); q += 4
          if (clen > end - q) return None
          val s = new String(data, q, clen.toInt, "UTF-8"); q += clen.toInt
          val eq = s.indexOf('=')
          if (eq < 0) return None
          out += ((s.substring(0, eq), s.substring(eq + 1)))
          i += 1
        }
        comments = out.result()
      } // other types (padding, seektable, picture, ...) skip by length
      off = p + len
      n += 1
    }
    info.map(si => Meta(si, vendor, comments, n))
  }

  // ------------------------------------------------------------ builder
  // (fixtures and the golden-byte spec; the spec also pins the 34
  // STREAMINFO bytes BY HAND for one parameter set, so a consistent
  // builder/walker bug cannot cancel)

  def buildStreamInfo(minBlock: Int, maxBlock: Int, minFrame: Int,
      maxFrame: Int, rate: Int, channels: Int, bps: Int, total: Long,
      md5: Array[Byte]): Array[Byte] = {
    require(md5.length == 16, "md5 is 16 bytes")
    val b = new Array[Byte](34)
    b(0) = (minBlock >> 8).toByte; b(1) = minBlock.toByte
    b(2) = (maxBlock >> 8).toByte; b(3) = maxBlock.toByte
    b(4) = (minFrame >> 16).toByte; b(5) = (minFrame >> 8).toByte
    b(6) = minFrame.toByte
    b(7) = (maxFrame >> 16).toByte; b(8) = (maxFrame >> 8).toByte
    b(9) = maxFrame.toByte
    b(10) = (rate >> 12).toByte
    b(11) = ((rate >> 4) & 0xff).toByte
    b(12) = (((rate & 0xf) << 4) | ((channels - 1) << 1) |
      ((bps - 1) >> 4)).toByte
    b(13) = ((((bps - 1) & 0xf) << 4) | ((total >> 32) & 0xf).toInt).toByte
    b(14) = (total >> 24).toByte; b(15) = (total >> 16).toByte
    b(16) = (total >> 8).toByte; b(17) = total.toByte
    System.arraycopy(md5, 0, b, 18, 16)
    b
  }

  def buildVorbisComment(vendor: String,
      comments: Seq[(String, String)]): Array[Byte] = {
    def le32(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val vb = vendor.getBytes("UTF-8")
    val parts = comments.map { case (k, v) => s"$k=$v".getBytes("UTF-8") }
    (le32(vb.length) ++ vb ++ le32(parts.length) ++
      parts.flatMap(p => le32(p.length) ++ p)).toArray
  }

  /** Assemble a metadata section: (type, payload) blocks, last flagged. */
  def build(blocks: Seq[(Int, Array[Byte])]): Array[Byte] = {
    require(blocks.nonEmpty)
    val out = Array.newBuilder[Byte]
    out ++= "fLaC".getBytes("US-ASCII")
    blocks.zipWithIndex.foreach { case ((t, p), i) =>
      val lastFlag = if (i == blocks.size - 1) 0x80 else 0
      out += (lastFlag | t).toByte
      out += (p.length >> 16).toByte
      out += (p.length >> 8).toByte
      out += p.length.toByte
      out ++= p
    }
    out.result()
  }
}
