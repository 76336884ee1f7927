package graft.llm

import java.nio.charset.StandardCharsets

/** ID3v2 tag codec — the audio track's metadata sidecar ([[Srt]]'s
  * counterpart for music/podcast corpora): title/artist/album ride in
  * front of the MP3 frame chain ([[Mp3.decode]] skips the tag; this
  * module reads it). Spec-complete for the text-frame subset that
  * carries virtually all crawl-relevant metadata:
  *
  *   - v2.3 AND v2.4 headers ('ID3', major 3/4, syncsafe 28-bit tag
  *     size) — the two versions disagree on FRAME size encoding (v2.3
  *     plain big-endian, v2.4 syncsafe), a classic parser desync source,
  *     handled per-version here
  *   - text frames (TIT2 title, TPE1 artist, TALB album) with encoding
  *     byte 0 (ISO-8859-1) or 3 (UTF-8, v2.4); trailing NUL stripped
  *   - unknown frames skipped by declared size; zero-byte padding ends
  *     the walk (the spec's padding rule)
  *
  * [[Codec]] quarantine (`None`): bad magic/version, any header or
  * frame flag set (unsynchronisation/extended-header/compression are
  * out of scope and silently misparsing them would corrupt text),
  * non-syncsafe size bytes, a frame running past the tag, a malformed
  * frame id, or an unsupported text encoding in a frame we read.
  */
object Id3 extends Codec {

  type Out = Tags

  final case class Tags(version: Int, title: String, artist: String, album: String)

  /** Canonical tag bytes; `version` 3 (plain frame sizes, ISO-8859-1
    * text) or 4 (syncsafe frame sizes, UTF-8 text). */
  def encode(title: String, artist: String, album: String, version: Int = 3): Array[Byte] = {
    require(version == 3 || version == 4, s"bad version $version")
    val enc: Byte = if (version == 4) 3 else 0
    val cs = if (version == 4) StandardCharsets.UTF_8 else StandardCharsets.ISO_8859_1
    def frame(id: String, text: String): Array[Byte] = {
      val payload = enc +: text.getBytes(cs)
      val sz = payload.length
      require(sz < (1 << 21), "frame too large")
      val szBytes =
        if (version == 4) Array[Byte](((sz >> 21) & 0x7f).toByte,
          ((sz >> 14) & 0x7f).toByte, ((sz >> 7) & 0x7f).toByte, (sz & 0x7f).toByte)
        else Array[Byte]((sz >>> 24).toByte, ((sz >> 16) & 0xff).toByte,
          ((sz >> 8) & 0xff).toByte, (sz & 0xff).toByte)
      id.getBytes(StandardCharsets.ISO_8859_1) ++ szBytes ++
        Array[Byte](0, 0) ++ payload
    }
    val frames = frame("TIT2", title) ++ frame("TPE1", artist) ++ frame("TALB", album)
    val n = frames.length
    require(n < (1 << 28), "tag too large")
    Array[Byte]('I', 'D', '3', version.toByte, 0, 0,
      ((n >> 21) & 0x7f).toByte, ((n >> 14) & 0x7f).toByte,
      ((n >> 7) & 0x7f).toByte, (n & 0x7f).toByte) ++ frames
  }

  def decode(bytes: Array[Byte]): Option[Tags] = {
    if (bytes == null || bytes.length < 10) return None
    if (bytes(0) != 'I' || bytes(1) != 'D' || bytes(2) != '3') return None
    val major = bytes(3) & 0xff
    if (major != 3 && major != 4) return None
    if (bytes(5) != 0) return None // unsync/ext-header/experimental: out of scope
    if ((bytes(6) | bytes(7) | bytes(8) | bytes(9)) < 0) return None // non-syncsafe
    val tagSize = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
      ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
    val end = 10L + tagSize
    if (end > bytes.length) return None
    var p = 10
    var title = ""; var artist = ""; var album = ""
    while (p + 10 <= end) {
      if (bytes(p) == 0) return Some(Tags(major, title, artist, album)) // padding
      val id = new String(bytes, p, 4, StandardCharsets.ISO_8859_1)
      if (!id.forall(c => (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')))
        return None
      val sz =
        if (major == 4) {
          if ((bytes(p + 4) | bytes(p + 5) | bytes(p + 6) | bytes(p + 7)) < 0)
            return None
          ((bytes(p + 4) & 0x7f) << 21) | ((bytes(p + 5) & 0x7f) << 14) |
            ((bytes(p + 6) & 0x7f) << 7) | (bytes(p + 7) & 0x7f)
        } else {
          val s = ((bytes(p + 4) & 0xff) << 24) | ((bytes(p + 5) & 0xff) << 16) |
            ((bytes(p + 6) & 0xff) << 8) | (bytes(p + 7) & 0xff)
          if (s < 0) return None
          s
        }
      if (bytes(p + 8) != 0 || bytes(p + 9) != 0) return None // frame flags
      if (sz > end - (p + 10)) return None // frame past tag (overflow-safe)
      if (id == "TIT2" || id == "TPE1" || id == "TALB") {
        if (sz < 1) return None
        val text = bytes(p + 10) match {
          case 0 => new String(bytes, p + 11, sz - 1, StandardCharsets.ISO_8859_1)
          case 3 => new String(bytes, p + 11, sz - 1, StandardCharsets.UTF_8)
          case _ => return None // UTF-16 variants: out of scope, quarantine
        }
        var clean = text
        while (clean.nonEmpty && clean.last == '\u0000') clean = clean.dropRight(1)
        id match {
          case "TIT2" => title = clean
          case "TPE1" => artist = clean
          case _      => album = clean
        }
      }
      p += 10 + sz
    }
    Some(Tags(major, title, artist, album))
  }

  /** Tag rows per blob (audit-not-drop); pairs with [[Mp3.decode]]'s
    * container metadata over the same bytes. */
  final case class TagRow(doc_id: Long, valid: Boolean, version: Int,
      title: String, artist: String, album: String)

  def tagRows(blobs: org.apache.spark.sql.Dataset[Multimodal.Blob]): org.apache.spark.sql.Dataset[TagRow] =
    Multimodal.perBlob(blobs, decode) { (id, r) =>
      Iterator.single(r.fold(TagRow(id, valid = false, 0, "", "", ""))(t =>
        TagRow(id, valid = true, t.version, t.title, t.artist, t.album)))
    }
}
