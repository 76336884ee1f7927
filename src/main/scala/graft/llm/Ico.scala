package graft.llm

/** ICO icon-container decoder (the favicon / Windows-resource format)
  * — a DIRECTORY of images at multiple sizes, each a header-less DIB:
  * the container walk the BMP decoder cannot do, because ICO's DIB
  * differs from a .bmp everywhere a naive reuse breaks — no
  * BITMAPFILEHEADER, biHeight DOUBLED (XOR color plane + AND mask
  * plane share one header), and a trailing 1-bpp AND mask with rows
  * padded to 32 bits.
  *
  * Supported: type-1 icons, 32-bpp BI_RGB DIB entries (the modern
  * alpha icon shape). PNG-compressed entries (Vista+) are recognized
  * by magic and QUARANTINED BY OMISSION — the PNG decode tier already
  * exists separately (ImageIoCodec); re-wiring it here would hide the
  * container walk this module certifies. Documented boundary.
  *
  * STRICT bounds (the Qoi/Pnm discipline): bad reserved/type fields,
  * an entry whose [offset, offset+size) leaves the file, DIB dims
  * disagreeing with the directory entry (biHeight must be EXACTLY
  * 2×height), non-32 bpp, compressed DIBs, or a payload too short for
  * its planes each quarantine the ENTRY; a malformed directory
  * quarantines the whole file. Entry dims 0 mean 256 (the u8
  * convention). Entries may share one DIB, so decoded pixels count
  * against [[Codec.MaxPixels]] across ALL entries, and a file past it
  * quarantines whole. */
object Ico extends Codec {

  type Out = Seq[Entry]

  /** One decoded entry: row-major TOP-DOWN packed 0xAARRGGBB pixels
    * plus the AND-mask population count. */
  final case class Entry(idx: Int, w: Int, h: Int, px: Array[Int],
      maskSet: Int)

  /** Build a type-1 icon from 32-bpp entries (fixture/spec side —
    * the Tar.build/Pdf.build precedent): each entry is (w, h, ARGB
    * top-down pixels, mask predicate). */
  def build(entries: Seq[(Int, Int, Array[Int], (Int, Int) => Boolean)]): Array[Byte] = {
    require(entries.nonEmpty && entries.size <= 0xffff, "bad entry count")
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt)
      bos.write(((v >> 16) & 0xff).toInt); bos.write(((v >> 24) & 0xff).toInt)
    }
    val images = entries.map { case (w, h, px, mask) =>
      require(w >= 1 && w <= 256 && h >= 1 && h <= 256 && px.length == w * h,
        s"bad entry ${w}x$h")
      val img = new java.io.ByteArrayOutputStream()
      def i32(v: Long): Unit = {
        img.write((v & 0xff).toInt); img.write(((v >> 8) & 0xff).toInt)
        img.write(((v >> 16) & 0xff).toInt); img.write(((v >> 24) & 0xff).toInt)
      }
      i32(40L); i32(w.toLong); i32(2L * h) // doubled height
      img.write(1); img.write(0)           // planes = 1
      img.write(32); img.write(0)          // bpp
      i32(0L); i32(0L); i32(0L); i32(0L); i32(0L); i32(0L)
      for (y <- (h - 1) to 0 by -1; x <- 0 until w) { // bottom-up BGRA
        val v = px(y * w + x)
        img.write(v & 0xff); img.write((v >> 8) & 0xff)
        img.write((v >> 16) & 0xff); img.write((v >>> 24) & 0xff)
      }
      val stride = ((w + 31) / 32) * 4
      for (y <- (h - 1) to 0 by -1) {
        val row = new Array[Byte](stride)
        for (x <- 0 until w if mask(x, y))
          row(x >> 3) = (row(x >> 3) | (1 << (7 - (x & 7)))).toByte
        img.write(row)
      }
      img.toByteArray
    }
    w16(0); w16(1); w16(entries.size)
    var off = 6L + 16L * entries.size
    for (((e, img), _) <- entries.zip(images).zipWithIndex) {
      val (w, h, _, _) = e
      bos.write(if (w == 256) 0 else w); bos.write(if (h == 256) 0 else h)
      bos.write(0); bos.write(0)
      w16(1); w16(32)
      w32(img.length.toLong); w32(off)
      off += img.length
    }
    images.foreach(bos.write)
    bos.toByteArray
  }

  def decode(data: Array[Byte]): Option[Seq[Entry]] = {
    if (data == null || data.length < 6) return None
    def u16(o: Int): Int = (data(o) & 0xff) | ((data(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      (data(o) & 0xffL) | ((data(o + 1) & 0xffL) << 8) |
        ((data(o + 2) & 0xffL) << 16) | ((data(o + 3) & 0xffL) << 24)
    if (u16(0) != 0 || u16(2) != 1) return None // reserved, type=icon
    val count = u16(4)
    if (count < 1 || 6 + 16 * count > data.length) return None
    val out = Seq.newBuilder[Entry]
    var left = Codec.MaxPixels
    var j = 0
    while (j < count) {
      val e = 6 + 16 * j
      val w = { val v = data(e) & 0xff; if (v == 0) 256 else v }
      val h = { val v = data(e + 1) & 0xff; if (v == 0) 256 else v }
      val size = u32(e + 8)
      val off = u32(e + 12)
      decodeDib(data, off, size, w, h).foreach { case (px, maskSet) =>
        left -= px.length
        out += Entry(j, w, h, px, maskSet)
      }
      if (left < 0) return None
      j += 1
    }
    Some(out.result())
  }

  /** 32-bpp BI_RGB DIB at [off, off+size): (top-down ARGB, mask bits). */
  private def decodeDib(data: Array[Byte], off: Long, size: Long,
      w: Int, h: Int): Option[(Array[Int], Int)] = {
    if (off < 0 || size < 40 || off + size > data.length) return None
    val o = off.toInt
    def u32(p: Int): Long =
      (data(p) & 0xffL) | ((data(p + 1) & 0xffL) << 8) |
        ((data(p + 2) & 0xffL) << 16) | ((data(p + 3) & 0xffL) << 24)
    // PNG-compressed entry: recognized, quarantined (documented boundary)
    if ((data(o) & 0xff) == 0x89 && data(o + 1) == 'P') return None
    if (u32(o) != 40L) return None // BITMAPINFOHEADER only
    val biW = u32(o + 4)
    val biH = u32(o + 8)
    val bpp = (data(o + 14) & 0xff) | ((data(o + 15) & 0xff) << 8)
    val compression = u32(o + 16)
    if (biW != w || biH != 2L * h) return None // the DOUBLED-height contract
    if (bpp != 32 || compression != 0L) return None
    val xorBytes = 4L * w * h
    val maskStride = ((w + 31) / 32) * 4 // 1-bpp rows padded to 32 bits
    val maskBytes = maskStride.toLong * h
    if (40L + xorBytes + maskBytes > size) return None
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // XOR plane is bottom-up BGRA
        val p = o + 40 + 4 * ((h - 1 - y) * w + x)
        px(y * w + x) = ((data(p + 3) & 0xff) << 24) |
          ((data(p + 2) & 0xff) << 16) | ((data(p + 1) & 0xff) << 8) |
          (data(p) & 0xff)
        x += 1
      }
      y += 1
    }
    var maskSet = 0
    val maskOff = o + 40 + xorBytes.toInt
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val bit = data(maskOff + (h - 1 - y) * maskStride + (x >> 3))
        if (((bit >> (7 - (x & 7))) & 1) == 1) maskSet += 1
        x += 1
      }
      y += 1
    }
    Some((px, maskSet))
  }
}
