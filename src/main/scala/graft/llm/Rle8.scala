package graft.llm

/** BI_RLE8 — the run-length-encoded 8-bit bitmap wire format (BMP
  * biCompression=1; the same stream AVI carries as the 'mrle' video
  * codec). [[Adpcm]]'s VIDEO sibling on the compressed-sample boundary:
  * a real codec decades of clip-art, screen-capture AVIs, and game
  * assets shipped in, and a pure INTEGER byte machine — so decode is
  * bit-deterministic and oracle-replayable, unlike the perceptual
  * codecs (H.264) that stay stubbed.
  *
  * Stream grammar (byte pairs, rows BOTTOM-UP per the BMP convention):
  *   - (n>0, v)        — run: n pixels of palette index v
  *   - (0, 0)          — end of line (advance one row, x resets)
  *   - (0, 1)          — end of data
  *   - (0, 2, dx, dy)  — delta: skip right dx, UP dy rows (skipped
  *                       pixels keep 0, the format's convention)
  *   - (0, k≥3, k bytes, pad) — absolute mode: k literal indices,
  *                       padded to a 16-bit boundary
  *
  * STRICT bounds: a run/literal crossing the row end, a delta/EOL
  * leaving the image, a truncated escape, or missing EOD quarantines
  * the frame (None) — at corpus scale a half-decoded frame poisons
  * hashes downstream, the [[Zip]] CRC lesson. */
object Rle8 extends Serializable {

  /** Decode to top-down indexed pixels (length w*h), or None. Dims come
    * from an untrusted header, so w*h is overflow- and allocation-guarded
    * against [[Codec.MaxPixels]] BEFORE the buffer exists — a crafted
    * 70000×70000 header otherwise overflows Int
    * (NegativeArraySizeException) or allocates gigabytes. EOD and delta
    * let two bytes stand for any w×h, so no length bound rejects a lying
    * header: the stream is walked once without a buffer, and w×h is
    * allocated only for a stream that ends in EOD inside the image. Not a
    * [[Codec]]: the dimensions live in the BMP/AVI header, outside the
    * stream. */
  def decode(data: Array[Byte], w: Int, h: Int): Option[Array[Int]] = {
    if (data == null || w <= 0 || h <= 0) return None
    if (w.toLong * h > Codec.MaxPixels) return None
    if (!walk(data, w, h, null)) return None
    val px = new Array[Int](w * h)
    walk(data, w, h, px)
    Some(px)
  }

  /** Run the stream into `px` (or nowhere, when null): true iff it ends
    * in EOD with every run, literal, delta and EOL inside the image. */
  private def walk(data: Array[Byte], w: Int, h: Int, px: Array[Int]): Boolean = {
    var x = 0
    var row = 0 // counts from the BOTTOM row
    var p = 0
    def put(v: Int): Boolean = {
      if (x >= w || row >= h) return false
      if (px != null) px((h - 1 - row) * w + x) = v
      x += 1
      true
    }
    while (p + 1 < data.length) {
      val b1 = data(p) & 0xff
      val b2 = data(p + 1) & 0xff
      p += 2
      if (b1 > 0) {
        var i = 0
        while (i < b1) { if (!put(b2)) return false; i += 1 }
      } else b2 match {
        case 0 => // end of line
          x = 0
          row += 1
          if (row > h) return false
        case 1 => // end of data
          return true
        case 2 => // delta
          if (p + 1 >= data.length) return false
          val dx = data(p) & 0xff
          val dy = data(p + 1) & 0xff
          p += 2
          if (x + dx > w || row + dy >= h) return false
          x += dx
          row += dy
        case k => // absolute mode: k literal bytes + word padding
          if (p + k > data.length) return false
          var i = 0
          while (i < k) { if (!put(data(p + i) & 0xff)) return false; i += 1 }
          p += k + (k & 1)
      }
    }
    false // ran off the stream without EOD
  }
}
