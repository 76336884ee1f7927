package graft.llm

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import scala.collection.mutable.ArrayBuffer

/** TAR (ustar) archive parsing — the other container crawl-scale data
  * arrives in: dataset dumps, code tarballs, and web-archive exports are
  * `.tar.gz` files ([[Gzip]] peels the outer layer, this walks the
  * inner). Spec-aware in the [[Zip]] sense:
  *
  *   - 512-byte header blocks: name[100] mode[8] uid[8] gid[8]
  *     size[12, octal] mtime[12, octal] chksum[8] typeflag[1]
  *     linkname[100] magic[6] … prefix[155]
  *   - the `ustar` magic is REQUIRED (both the POSIX `ustar\0` and the
  *     historical GNU `ustar  ` spellings), and the header CHECKSUM is
  *     VERIFIED — the sum of header bytes with the chksum field read as
  *     spaces, stored octal; a mismatched checksum quarantines the
  *     archive (it is how tar detects mid-stream corruption)
  *   - octal numeric fields tolerate leading spaces/zeros and NUL/space
  *     terminators; `prefix` joins ahead of `name` with `/` (the POSIX
  *     long-path scheme)
  *   - member data occupies ceil(size/512) blocks; the archive ends at
  *     two consecutive zero blocks (or EOF — truncated end-of-archive
  *     markers are crawl reality and the members already read are good)
  *   - typeflag '0'/NUL = regular file (content surfaced), '5' =
  *     directory (listed, no content); other types listed with empty
  *     content
  */
object Tar extends Codec {

  type Out = Seq[Member]

  final case class Member(name: String, size: Long, typeflag: Char,
      content: Array[Byte])

  private val MaxMembers = 65536
  private val MaxMemberBytes = 1L << 30

  def decode(bytes: Array[Byte]): Option[Seq[Member]] = {
    if (bytes == null || bytes.length < 512) return None
    val out = ArrayBuffer.empty[Member]
    var off = 0
    var sawAny = false
    while (off + 512 <= bytes.length) {
      if (isZeroBlock(bytes, off)) {
        // end-of-archive: two zero blocks (tolerate one + EOF)
        return if (sawAny) Some(out.toSeq) else None
      }
      // magic: "ustar\0" (POSIX) or "ustar " (historical GNU)
      val magicOk = bytes(off + 257) == 'u' && bytes(off + 258) == 's' &&
        bytes(off + 259) == 't' && bytes(off + 260) == 'a' &&
        bytes(off + 261) == 'r' &&
        (bytes(off + 262) == 0 || bytes(off + 262) == ' ')
      if (!magicOk) return None
      // checksum: header bytes with the chksum field as spaces
      val stored = octal(bytes, off + 148, 8)
      var sum = 0L
      var k = 0
      while (k < 512) {
        sum += (if (k >= 148 && k < 156) ' '.toInt else bytes(off + k) & 0xff)
        k += 1
      }
      if (stored < 0 || sum != stored) return None
      val size = octal(bytes, off + 124, 12)
      if (size < 0 || size > MaxMemberBytes) return None
      val name0 = asciiz(bytes, off, 100)
      // the prefix long-path field is POSIX-only: in old-GNU headers
      // ("ustar " magic) that region holds atime/ctime, and joining
      // those octal digits onto the name would corrupt it
      val posix = bytes(off + 262) == 0
      val prefix = if (posix) asciiz(bytes, off + 345, 155) else ""
      val name = if (prefix.isEmpty) name0 else s"$prefix/$name0"
      val tf = {
        val b = bytes(off + 156)
        if (b == 0) '0' else b.toChar
      }
      val dataAt = off + 512
      val dataEnd = dataAt + size
      if (dataEnd > bytes.length) return None // truncated member
      val content =
        if (tf == '0' && size > 0)
          java.util.Arrays.copyOfRange(bytes, dataAt, dataAt + size.toInt)
        else Array.emptyByteArray
      out += Member(name, size, tf, content)
      sawAny = true
      if (out.length > MaxMembers) return None
      off = dataAt + (((size + 511) / 512) * 512).toInt
    }
    if (sawAny) Some(out.toSeq) else None // EOF without zero blocks: lenient
  }

  private def isZeroBlock(b: Array[Byte], off: Int): Boolean = {
    var k = 0
    while (k < 512) { if (b(off + k) != 0) return false; k += 1 }
    true
  }

  /** NUL-terminated fixed field. */
  private def asciiz(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val stop = off + len
    while (end < stop && b(end) != 0) end += 1
    new String(b, off, end - off, UTF_8)
  }

  /** Octal numeric field: leading spaces/zeros, NUL/space terminated;
    * -1 when malformed. */
  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val stop = off + len
    while (i < stop && b(i) == ' ') i += 1
    var v = 0L
    var any = false
    while (i < stop) {
      val c = b(i)
      if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); any = true; i += 1 }
      else if (c == 0 || c == ' ') i = stop
      else return -1
    }
    if (any) v else -1
  }

  // ---------------------------------------------------------------- build

  /** Exact framed length of the archive [[build]] would produce, from
    * ustar arithmetic alone (512-byte header + 512-padded data per
    * member + 1024-byte end marker) — no buffer is allocated, so a size
    * contract can be checked BEFORE materializing anything. */
  def framedLength(entries: Seq[(String, Array[Byte], Char)]): Long =
    entries.foldLeft(1024L) { case (acc, (_, data, tf)) =>
      acc + 512L + (if (tf == '0') ((data.length + 511L) / 512L) * 512L else 0L)
    }

  /** [[build]] with an ENFORCED max-archive-bytes contract (the maxSpan
    * precedent: violations RAISE, never silently degrade). The whole
    * archive materializes as one in-memory Array[Byte] — correct for
    * bounded shards, a heap bomb for unbounded ones — so callers that
    * assemble shards from grouped rows must state their bound here and
    * get an IllegalArgumentException (with the exact framed length)
    * instead of an executor OOM when an upstream sharding bug feeds an
    * oversized member list. */
  def buildBounded(entries: Seq[(String, Array[Byte], Char)],
      maxBytes: Long): Array[Byte] = {
    val len = framedLength(entries)
    require(len <= maxBytes,
      s"tar shard contract violated: framed length $len B exceeds the " +
        s"declared max $maxBytes B (${entries.size} members) — shard " +
        "assignment upstream must bound members-per-shard")
    build(entries)
  }

  /** Deterministic fixture writer (and honest write path): POSIX ustar
    * with verified checksums; typeflag '5' entries carry no data.
    * Unbounded — production shard exports go through [[buildBounded]]. */
  def build(entries: Seq[(String, Array[Byte], Char)]): Array[Byte] = {
    val out = new ByteArrayOutputStream(2048)
    entries.foreach { case (name, data, tf) =>
      val hdr = new Array[Byte](512)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes(US_ASCII)
        System.arraycopy(b, 0, hdr, off, math.min(b.length, 100))
      }
      put(0, name)
      put(100, "0000644")
      put(108, "0000000")
      put(116, "0000000")
      put(124, f"${if (tf == '0') data.length else 0}%011o")
      put(136, "00000000000") // mtime: epoch, deterministic
      hdr(156) = tf.toByte
      put(257, "ustar")
      hdr(263) = '0'; hdr(264) = '0' // version "00"
      put(265, "graft")
      put(297, "graft")
      // checksum over the header with the field as spaces
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
      var sum = 0L
      hdr.foreach(b => sum += (b & 0xff))
      System.arraycopy(f"$sum%06o".getBytes(US_ASCII), 0, hdr, 148, 6)
      hdr(154) = 0; hdr(155) = ' '
      out.write(hdr)
      if (tf == '0' && data.nonEmpty) {
        out.write(data)
        val pad = (512 - data.length % 512) % 512
        out.write(new Array[Byte](pad))
      }
    }
    out.write(new Array[Byte](1024)) // end-of-archive marker
    out.toByteArray
  }
}
