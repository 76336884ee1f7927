package graft.llm

import java.nio.{ByteBuffer, ByteOrder}

/** ISO BMFF (MP4) container-metadata parser — the video member of B35's
  * "metadata real, sample decode stubbed" tier ([[Mp3]] is the audio
  * one): decoding H.264/H.265 samples genuinely needs a native codec,
  * but the box structure (ISO/IEC 14496-12) is public byte arithmetic
  * and duration / timescale / track count — what a pipeline filters
  * on — live entirely in the `moov`/`mvhd`/`trak` headers.
  *
  * Parser walk: top-level boxes (32-bit size; `size == 1` → 64-bit
  * largesize; `size == 0` → extends to EOF) with `ftyp` required first
  * (the brand check that makes this an MP4 parser, not a generic box
  * walker), then `moov`'s children for one `mvhd` (version 0 and 1
  * layouts both handled — v1 carries 64-bit times) and the `trak`
  * count. A [[Codec]]: wrong brand, truncated or crafted sizes,
  * missing/duplicated mvhd, reserved versions → None.
  */
object Mp4 extends Codec {

  type Out = Meta

  final case class Meta(
      timescale: Long,
      duration: Long,
      durationUs: Long,
      nTracks: Int)

  private def fourcc(s: String): Int = {
    require(s.length == 4)
    (s(0) << 24) | (s(1) << 16) | (s(2) << 8) | s(3)
  }

  private val FTYP = fourcc("ftyp")
  private val MOOV = fourcc("moov")
  private val MVHD = fourcc("mvhd")
  private val TRAK = fourcc("trak")
  private val TKHD = fourcc("tkhd")
  private val FREE = fourcc("free")
  private val MDAT = fourcc("mdat")

  /** Synthesize a minimal valid MP4: `ftyp` + optional `free` padding +
    * `moov` [`mvhd` (v0 or v1) + `nTracks`×`trak`[`tkhd` v0]] + an empty
    * `mdat`. Spec-shaped enough that any box walker reads it; payloads
    * are empty (this is a METADATA fixture, not media). */
  def encode(timescale: Int, duration: Long, nTracks: Int,
      mvhdVersion: Int = 0, freeBytes: Int = 0): Array[Byte] = {
    require(timescale > 0 && duration >= 0 && nTracks >= 1)
    require(mvhdVersion == 0 || mvhdVersion == 1, s"bad mvhd version $mvhdVersion")
    require(freeBytes >= 0)
    def box(tpe: Int, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + payload.length).order(ByteOrder.BIG_ENDIAN)
      b.putInt(8 + payload.length).putInt(tpe).put(payload)
      b.array()
    }
    val ftyp = box(FTYP, {
      val b = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
      b.putInt(fourcc("isom")).putInt(0) // major brand + minor version
      b.array()
    })
    val free = if (freeBytes == 0) Array.emptyByteArray
      else box(FREE, new Array[Byte](freeBytes))
    val mvhd = box(MVHD, {
      val timesLen = if (mvhdVersion == 0) 4 else 8
      // version+flags, creation, modification, timescale, duration,
      // rate(4) volume(2) reserved(10) matrix(36) predefined(24) next(4)
      val b = ByteBuffer.allocate(4 + 2 * timesLen + 4 + timesLen + 80)
        .order(ByteOrder.BIG_ENDIAN)
      b.putInt(mvhdVersion << 24)
      if (mvhdVersion == 0) {
        b.putInt(0).putInt(0).putInt(timescale).putInt(duration.toInt)
      } else {
        b.putLong(0L).putLong(0L).putInt(timescale).putLong(duration)
      }
      b.putInt(0x00010000).putShort(0x0100.toShort) // rate 1.0, volume 1.0
      b.position(b.position() + 10 + 36 + 24)
      b.putInt(nTracks + 1) // next_track_id
      b.array()
    })
    val traks = (1 to nTracks).map { tid =>
      box(TRAK, box(TKHD, {
        val b = ByteBuffer.allocate(84).order(ByteOrder.BIG_ENDIAN)
        b.putInt(0) // v0 + flags
        b.putInt(0).putInt(0).putInt(tid).putInt(0).putInt(duration.toInt)
        b.array()
      }))
    }
    val mdat = box(MDAT, Array.emptyByteArray)
    val moov = box(MOOV, mvhd ++ traks.flatten)
    ftyp ++ free ++ moov ++ mdat
  }

  /** Walk `bytes`; None for anything malformed. */
  def decode(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 16) return None
    // (start, end) of each box payload at one level, with crafted-size guards
    def children(from: Long, to: Long): Option[Seq[(Int, Long, Long)]] = {
      val out = Seq.newBuilder[(Int, Long, Long)]
      var pos = from
      while (pos < to) {
        if (pos + 8 > to) return None // truncated header
        val size32 = readU32(bytes, pos)
        val tpe = readI32(bytes, pos + 4)
        val (payloadStart, boxEnd) =
          if (size32 == 1L) {
            if (pos + 16 > to) return None
            val large = readI64(bytes, pos + 8)
            if (large < 16) return None
            (pos + 16, pos + large)
          } else if (size32 == 0L) (pos + 8, to) // extends to EOF
          else {
            if (size32 < 8) return None
            (pos + 8, pos + size32)
          }
        if (boxEnd > to || boxEnd <= pos) return None // crafted size
        out += ((tpe, payloadStart, boxEnd))
        pos = boxEnd
      }
      Some(out.result())
    }
    children(0L, bytes.length.toLong).flatMap { top =>
      if (top.isEmpty || top.head._1 != FTYP) None // brand check
      else top.find(_._1 == MOOV).flatMap { case (_, ms, me) =>
        children(ms, me).flatMap { kids =>
          val mvhds = kids.filter(_._1 == MVHD)
          if (mvhds.size != 1) None
          else parseMvhd(bytes, mvhds.head._2, mvhds.head._3)
            // a spec-valid v1 duration can be any uint63; quarantine the
            // range where duration·10⁶ would wrap Long (~292 millennia at
            // timescale 1) rather than silently overflowing — the same
            // exact-or-None contract AudioHash enforces with its cap
            .filter { case (_, dur) => dur <= Long.MaxValue / 1000000L }
            .map { case (ts, dur) =>
              Meta(ts, dur, dur * 1000000L / ts, kids.count(_._1 == TRAK))
            }
        }
      }
    }
  }

  private def parseMvhd(bytes: Array[Byte], from: Long, to: Long): Option[(Long, Long)] = {
    if (from + 4 > to) return None
    val version = bytes(from.toInt) & 0xff
    version match {
      case 0 =>
        if (from + 4 + 8 + 8 > to) None
        else Some((readU32(bytes, from + 12), readU32(bytes, from + 16)))
      case 1 =>
        if (from + 4 + 16 + 12 > to) None
        else {
          val dur = readI64(bytes, from + 24)
          if (dur < 0) None else Some((readU32(bytes, from + 20), dur))
        }
      case _ => None // reserved version
    }
  }.filter { case (ts, _) => ts > 0 }

  private def readU32(b: Array[Byte], pos: Long): Long = {
    val p = pos.toInt
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
  }
  private def readI32(b: Array[Byte], pos: Long): Int = {
    val p = pos.toInt
    ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
      ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
  }
  private def readI64(b: Array[Byte], pos: Long): Long =
    (readU32(b, pos) << 32) | readU32(b, pos + 4)
}
