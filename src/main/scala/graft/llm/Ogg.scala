package graft.llm

/** OGG container page walk (RFC 3533 — Vorbis/Opus/Theora transport):
  * the audio-container gap beside MP3 frame headers (q131), MP4 boxes
  * (q134), and WAV chunks — a crawled media lake meets .ogg/.opus
  * constantly, and its structure answers duration/stream questions
  * without touching a codec. Pages carry a 27-byte header, a lacing
  * table (packet framing: a packet ends at the first lacing value
  * < 255), and a CRC over the WHOLE page with the checksum field
  * zeroed — computed with OGG's own CRC-32 (poly 0x04C11DB7, direct
  * feed, no reflection, zero init/xorout — NOT zlib's), which is
  * exactly the detail a generic-CRC reuse gets wrong.
  *
  * CRC is VERIFIED page-by-page (the Zip lesson: an unchecked
  * checksum is a lie in the schema); a bad-CRC or version ≠ 0 page
  * quarantines that PAGE (stream damage is per-page by design — that
  * is OGG's whole resync story) and the walk goes on. A [[Codec]]: the
  * blob is None when it does not frame as pages end to end — empty, no
  * capture pattern where a page must start, or a truncated header,
  * lacing table or payload — so `Some(Seq.empty)` means "pages framed,
  * none intact", never "malformed". Continuation flags are SURFACED,
  * not resolved — packet reassembly across pages is the codec layer's
  * job; the container walk reports completed-packet counts per the
  * lacing table.
  *
  * Row-local — one blob in, page rows out; no shuffle. */
object Ogg extends Codec {

  type Out = Seq[Page]

  /** One page: stream serial, sequence, granule position, flags,
    * completed packets (lacing values < 255), payload bytes. */
  final case class Page(serial: Long, seq: Long, granule: Long,
      bos: Boolean, eos: Boolean, continued: Boolean, packets: Int,
      payloadBytes: Int)

  /** OGG CRC-32: direct (non-reflected), init 0, xorout 0. */
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var k = 0
      while (k < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        k += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  private[llm] def crc(data: Array[Byte], from: Int, len: Int,
      zeroAt: Int = -1): Int = {
    var r = 0
    var i = 0
    while (i < len) {
      val b = if (zeroAt >= 0 && i >= zeroAt && i < zeroAt + 4) 0
        else data(from + i) & 0xff
      r = (r << 8) ^ CrcTable(((r >>> 24) ^ b) & 0xff)
      i += 1
    }
    r
  }

  def decode(data: Array[Byte]): Option[Seq[Page]] = {
    if (data == null || data.isEmpty) return None
    val out = Seq.newBuilder[Page]
    var i = 0
    def u32(o: Int): Long =
      (data(o) & 0xffL) | ((data(o + 1) & 0xffL) << 8) |
        ((data(o + 2) & 0xffL) << 16) | ((data(o + 3) & 0xffL) << 24)
    def u64(o: Int): Long = u32(o) | (u32(o + 4) << 32)
    while (i < data.length) {
      if (i + 27 > data.length) return None // truncated header
      if (data(i) != 'O' || data(i + 1) != 'g' || data(i + 2) != 'g' ||
        data(i + 3) != 'S') return None // lost sync
      val version = data(i + 4) & 0xff
      val flags = data(i + 5) & 0xff
      val granule = u64(i + 6)
      val serial = u32(i + 14)
      val seq = u32(i + 18)
      val storedCrc = u32(i + 22).toInt
      val nSegs = data(i + 26) & 0xff
      if (i + 27 + nSegs > data.length) return None // truncated lacing
      var payload = 0
      var packets = 0
      var s = 0
      while (s < nSegs) {
        val lace = data(i + 27 + s) & 0xff
        payload += lace
        if (lace < 255) packets += 1
        s += 1
      }
      val total = 27 + nSegs + payload
      if (i + total > data.length) return None // truncated payload
      val ok = version == 0 && crc(data, i, total, zeroAt = 22) == storedCrc
      if (ok) out += Page(serial, seq, granule,
        bos = (flags & 2) != 0, eos = (flags & 4) != 0,
        continued = (flags & 1) != 0, packets = packets,
        payloadBytes = payload)
      i += total // a bad page quarantines; the walk resumes at the next
    }
    Some(out.result())
  }

  /** Build one page (fixture/spec side): payload split per `lacing`. */
  def buildPage(serial: Long, seq: Long, granule: Long, flags: Int,
      lacing: Seq[Int], payload: Array[Byte]): Array[Byte] = {
    require(lacing.forall(l => l >= 0 && l <= 255), "bad lacing value")
    require(lacing.sum == payload.length, "lacing/payload mismatch")
    require(lacing.size <= 255, "too many segments")
    val total = 27 + lacing.size + payload.length
    val b = new Array[Byte](total)
    b(0) = 'O'; b(1) = 'g'; b(2) = 'g'; b(3) = 'S'
    b(4) = 0; b(5) = flags.toByte
    def w32(o: Int, v: Long): Unit = {
      b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
      b(o + 2) = ((v >> 16) & 0xff).toByte; b(o + 3) = ((v >> 24) & 0xff).toByte
    }
    w32(6, granule & 0xffffffffL); w32(10, granule >>> 32)
    w32(14, serial); w32(18, seq)
    b(26) = lacing.size.toByte
    for ((l, k) <- lacing.zipWithIndex) b(27 + k) = l.toByte
    System.arraycopy(payload, 0, b, 27 + lacing.size, payload.length)
    w32(22, crc(b, 0, total, zeroAt = 22).toLong & 0xffffffffL)
    b
  }
}
