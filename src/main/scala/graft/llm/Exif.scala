package graft.llm

import java.nio.{ByteBuffer, ByteOrder}

/** EXIF metadata extraction — the TIFF IFD walk inside a JPEG APP1
  * segment. Image metadata is the multimodal counterpart of q159's HTML
  * head harvest: capture time, camera model, orientation, and true pixel
  * dimensions are the fields an image-corpus pipeline filters and
  * deduplicates on before it ever decodes a pixel, and reading them
  * must not require the (expensive, lossy) full decode.
  *
  * Spec-aware in the [[Wav]]/[[Bmp]] sense — the structure parsed is the
  * real one, not a fixture-shaped subset:
  *   - JPEG segment walk: SOI, then FF-marker segments with big-endian
  *     lengths (skipping padding FF fill bytes), stop at SOS/EOI; the
  *     FIRST APP1 whose payload starts `Exif\0\0` carries the TIFF block
  *   - TIFF header: `II` (little-endian) or `MM` (big-endian) — BOTH
  *     byte orders are honored everywhere downstream — magic 42, 0th-IFD
  *     offset
  *   - IFD entries (tag, type, count, value): values ≤4 bytes are INLINE
  *     left-justified in the value field, larger ones live at an offset;
  *     ASCII values are NUL-terminated (terminator included in count),
  *     RATIONAL is two u32s at an offset
  *   - the EXIF sub-IFD is reached through the 0x8769 pointer tag — one
  *     level, never followed recursively
  *   - [[Codec]] quarantine: any structural violation (bad magic,
  *     truncated segment, out-of-bounds offset, absurd entry count)
  *     returns None rather than throwing; a well-formed file that simply
  *     LACKS a field yields that field's absent default ("" / -1), which
  *     is data, not corruption
  *
  * Harvested: Make 0x010F, Model 0x0110, Orientation 0x0112,
  * DateTime 0x0132 (IFD0); ExposureTime 0x829A, ISO 0x8827,
  * PixelXDimension 0xA002, PixelYDimension 0xA003 (EXIF sub-IFD).
  * [[buildJpeg]] is the deterministic fixture writer (and honest encode
  * path) exercising inline and offset ASCII, SHORT and LONG dimension
  * types, and both byte orders.
  */
object Exif extends Codec {

  type Out = Data

  final case class Data(byteOrder: String, make: String, model: String,
      orientation: Int, dateTime: String, width: Long, height: Long,
      iso: Int, exposureNum: Long, exposureDen: Long)

  val Absent: Data = Data("", "", "", -1, "", -1L, -1L, -1, -1L, -1L)

  private val MaxIfdEntries = 512 // crafted-count guard

  // ---------------------------------------------------------------- parse

  /** Walk JPEG segments to the first Exif APP1; None when the stream is
    * not a JPEG, is structurally broken, or carries no EXIF block. */
  def decode(bytes: Array[Byte]): Option[Data] = {
    if (bytes == null || bytes.length < 4) return None
    if ((bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    var i = 2
    val n = bytes.length
    while (i + 1 < n) {
      if ((bytes(i) & 0xff) != 0xff) return None // desynced marker stream
      var j = i
      while (j + 1 < n && (bytes(j + 1) & 0xff) == 0xff) j += 1 // fill bytes
      if (j + 1 >= n) return None
      val marker = bytes(j + 1) & 0xff
      i = j + 2
      if (marker == 0xd9) return None // EOI: no EXIF seen
      else if (marker == 0xda) return None // SOS: entropy data, no EXIF seen
      else if (marker >= 0xd0 && marker <= 0xd7) () // RSTn: no length
      else {
        if (i + 2 > n) return None
        val len = ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
        if (len < 2 || i + len > n) return None
        if (marker == 0xe1 && len >= 8 &&
          bytes(i + 2) == 'E' && bytes(i + 3) == 'x' && bytes(i + 4) == 'i' &&
          bytes(i + 5) == 'f' && bytes(i + 6) == 0 && bytes(i + 7) == 0) {
          val tiff = java.util.Arrays.copyOfRange(bytes, i + 8, i + len)
          return parseTiff(tiff)
        }
        i += len
      }
    }
    None
  }

  /** Parse a bare TIFF block (the bytes after `Exif\0\0`). */
  def parseTiff(b: Array[Byte]): Option[Data] = {
    if (b == null || b.length < 8) return None
    val little =
      if (b(0) == 'I' && b(1) == 'I') true
      else if (b(0) == 'M' && b(1) == 'M') false
      else return None
    val buf = ByteBuffer.wrap(b)
      .order(if (little) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    def u16(at: Int): Int =
      if (at < 0 || at + 2 > b.length) -1 else buf.getShort(at) & 0xffff
    def u32(at: Int): Long =
      if (at < 0 || at + 4 > b.length) -1L else buf.getInt(at) & 0xffffffffL
    if (u16(2) != 42) return None
    val ifd0 = u32(4)
    if (ifd0 < 8 || ifd0 + 2 > b.length) return None

    // One IFD → tag → (type, count, value-field position). The value
    // field is always 4 bytes at entry+8; interpretation depends on type
    // and total size (inline iff ≤ 4 bytes).
    def readIfd(off: Int): Option[Map[Int, (Int, Long, Int)]] = {
      val count = u16(off)
      if (count < 0 || count > MaxIfdEntries) return None
      if (off + 2 + count * 12 + 4 > b.length) return None
      var m = Map.empty[Int, (Int, Long, Int)]
      var k = 0
      while (k < count) {
        val e = off + 2 + k * 12
        val tag = u16(e)
        val typ = u16(e + 2)
        val cnt = u32(e + 4)
        if (!m.contains(tag)) m += tag -> ((typ, cnt, e + 8))
        k += 1
      }
      Some(m)
    }

    def typeSize(typ: Int): Int = typ match {
      case 1 | 2 | 7 => 1 // BYTE / ASCII / UNDEFINED
      case 3         => 2 // SHORT
      case 4 | 9     => 4 // LONG / SLONG
      case 5 | 10    => 8 // RATIONAL / SRATIONAL
      case _         => 0
    }

    /** Start position of a value, bounds-checked; -1 when unreadable. */
    def valuePos(typ: Int, cnt: Long, field: Int): Int = {
      val sz = typeSize(typ)
      if (sz == 0 || cnt < 0 || cnt > Int.MaxValue / math.max(sz, 1)) return -1
      val total = sz * cnt
      if (total <= 4) field
      else {
        val off = u32(field)
        if (off < 0 || off + total > b.length) -1 else off.toInt
      }
    }

    def ascii(ifd: Map[Int, (Int, Long, Int)], tag: Int): String =
      ifd.get(tag) match {
        case Some((2, cnt, field)) if cnt > 0 =>
          val pos = valuePos(2, cnt, field)
          if (pos < 0) ""
          else {
            val end = pos + cnt.toInt
            var stop = pos
            while (stop < end && b(stop) != 0) stop += 1
            new String(b, pos, stop - pos, java.nio.charset.StandardCharsets.US_ASCII)
          }
        case _ => ""
      }

    /** SHORT or LONG scalar (EXIF allows either for the pixel dims). */
    def scalar(ifd: Map[Int, (Int, Long, Int)], tag: Int): Long =
      ifd.get(tag) match {
        case Some((3, 1, field)) => u16(field).toLong
        case Some((4, 1, field)) => u32(field)
        case _ => -1L
      }

    def rational(ifd: Map[Int, (Int, Long, Int)], tag: Int): (Long, Long) =
      ifd.get(tag) match {
        case Some((5, 1, field)) =>
          val pos = valuePos(5, 1, field)
          if (pos < 0) (-1L, -1L) else (u32(pos), u32(pos + 4))
        case _ => (-1L, -1L)
      }

    readIfd(ifd0.toInt).map { ifd =>
      val sub = ifd.get(0x8769) match {
        case Some((4, 1, field)) =>
          val off = u32(field)
          if (off >= 8 && off + 2 <= b.length && off != ifd0)
            readIfd(off.toInt).getOrElse(Map.empty[Int, (Int, Long, Int)])
          else Map.empty[Int, (Int, Long, Int)]
        case _ => Map.empty[Int, (Int, Long, Int)]
      }
      val ori = ifd.get(0x0112) match {
        case Some((3, 1, field)) => u16(field)
        case _ => -1
      }
      val iso = sub.get(0x8827) match {
        case Some((3, 1, field)) => u16(field)
        case _ => -1
      }
      val (en, ed) = rational(sub, 0x829a)
      Data(
        byteOrder = if (little) "II" else "MM",
        make = ascii(ifd, 0x010f),
        model = ascii(ifd, 0x0110),
        orientation = ori,
        dateTime = ascii(ifd, 0x0132),
        width = scalar(sub, 0xa002),
        height = scalar(sub, 0xa003),
        iso = iso,
        exposureNum = en,
        exposureDen = ed)
    }
  }

  // ---------------------------------------------------------------- build

  /** Deterministic fixture writer: minimal JPEG (SOI + Exif APP1 + EOI)
    * with IFD0 {Make, Model, Orientation, DateTime, ExifIFD→} and sub-IFD
    * {ExposureTime, ISO, PixelX (SHORT), PixelY (LONG)}. Model strings of
    * ≤3 chars exercise the INLINE-ASCII path, Make/DateTime the offset
    * path. */
  def buildJpeg(littleEndian: Boolean, make: String, model: String,
      orientation: Int, dateTime: String, width: Int, height: Int,
      iso: Int, exposureNum: Int, exposureDen: Int): Array[Byte] = {
    val makeB = (make + " ").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val modelB = (model + " ").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val dtB = (dateTime + " ").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    // layout: header(8) ifd0(2+5*12+4=66) | data: make? dt | exifIfd(2+4*12+4=54) | rational(8)
    val ifd0Off = 8
    var off = ifd0Off + 2 + 5 * 12 + 4
    val makeOff = off
    if (makeB.length > 4) off += makeB.length
    val dtOff = off
    if (dtB.length > 4) off += dtB.length
    val modelOff = off
    if (modelB.length > 4) off += modelB.length
    val exifOff = off
    off += 2 + 4 * 12 + 4
    val ratOff = off
    off += 8
    val tiff = ByteBuffer.allocate(off)
      .order(if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    // header
    tiff.put((if (littleEndian) "II" else "MM").getBytes): Unit
    tiff.putShort(42.toShort): Unit
    tiff.putInt(ifd0Off): Unit
    def entry(tag: Int, typ: Int, cnt: Int)(value: ByteBuffer => Unit): Unit = {
      tiff.putShort(tag.toShort): Unit
      tiff.putShort(typ.toShort): Unit
      tiff.putInt(cnt): Unit
      val before = tiff.position()
      value(tiff)
      while (tiff.position() < before + 4) tiff.put(0.toByte): Unit // pad inline
    }
    def asciiEntry(tag: Int, bytes: Array[Byte], dataOff: Int): Unit =
      entry(tag, 2, bytes.length) { bb =>
        if (bytes.length <= 4) bb.put(bytes): Unit else bb.putInt(dataOff): Unit
      }
    // IFD0 (tags ascending, as the spec requires)
    tiff.putShort(5.toShort): Unit
    asciiEntry(0x010f, makeB, makeOff)
    asciiEntry(0x0110, modelB, modelOff)
    entry(0x0112, 3, 1)(_.putShort(orientation.toShort): Unit)
    asciiEntry(0x0132, dtB, dtOff)
    entry(0x8769, 4, 1)(_.putInt(exifOff): Unit)
    tiff.putInt(0): Unit // next IFD
    // data area in layout order
    if (makeB.length > 4) tiff.put(makeB): Unit
    if (dtB.length > 4) tiff.put(dtB): Unit
    if (modelB.length > 4) tiff.put(modelB): Unit
    // EXIF sub-IFD
    tiff.putShort(4.toShort): Unit
    entry(0x829a, 5, 1)(_.putInt(ratOff): Unit)
    entry(0x8827, 3, 1)(_.putShort(iso.toShort): Unit)
    entry(0xa002, 3, 1)(_.putShort(width.toShort): Unit) // SHORT dim
    entry(0xa003, 4, 1)(_.putInt(height): Unit)          // LONG dim
    tiff.putInt(0): Unit
    tiff.putInt(exposureNum): Unit
    tiff.putInt(exposureDen): Unit
    val tiffBytes = tiff.array()
    // JPEG wrap: SOI + APP1 + EOI
    val payloadLen = 2 + 6 + tiffBytes.length // len field + "Exif\0\0" + tiff
    val out = ByteBuffer.allocate(2 + 2 + payloadLen + 2)
    out.put(0xff.toByte).put(0xd8.toByte): Unit
    out.put(0xff.toByte).put(0xe1.toByte): Unit
    out.putShort(payloadLen.toShort): Unit // segment lengths are big-endian
    out.put("Exif".getBytes): Unit
    out.put(0.toByte).put(0.toByte): Unit
    out.put(tiffBytes): Unit
    out.put(0xff.toByte).put(0xd9.toByte): Unit
    out.array()
  }
}
