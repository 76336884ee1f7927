package graft.llm

import org.scalatest.funsuite.AnyFunSuite

class OggSpec extends AnyFunSuite {

  private def page(serial: Long, seq: Long, granule: Long = 0L,
      flags: Int = 0, lacing: Seq[Int] = Seq(10),
      fill: Byte = 7): Array[Byte] =
    Ogg.buildPage(serial, seq, granule, flags, lacing,
      Array.fill(lacing.sum)(fill))

  test("page walk: serial/seq/granule/flags/packets/payload") {
    val data = page(5L, 0L, granule = 100L, flags = 2,
        lacing = Seq(255, 10, 3)) ++
      page(5L, 1L, granule = 200L, flags = 4, lacing = Seq(0))
    val got = Ogg.decode(data).get
    assert(got.size == 2)
    val p0 = got.head
    // 255-lace continues into the next segment: 2 completed packets
    assert(p0.serial == 5L && p0.seq == 0L && p0.granule == 100L)
    assert(p0.bos && !p0.eos && p0.packets == 2 && p0.payloadBytes == 268)
    assert(got(1).eos && got(1).packets == 1 && got(1).payloadBytes == 0)
  }

  test("OGG CRC is the direct 0x04C11DB7 variant, verified per page") {
    val good = page(1L, 0L)
    // flip one payload byte: stored CRC no longer matches
    val bad = good.clone()
    bad(bad.length - 1) = 99.toByte
    assert(Ogg.decode(good).get.size == 1)
    assert(Ogg.decode(bad).contains(Nil), "bad-CRC page must quarantine")
    // ... but the walk resumes at the NEXT page
    assert(Ogg.decode(bad ++ page(1L, 1L)).get.map(_.seq) == Seq(1L))
  }

  test("a 64-bit granule position round-trips") {
    val g = 0x1234567890abcdefL
    assert(Ogg.decode(page(1L, 0L, granule = g)).get.head.granule == g)
  }

  test("lost capture pattern stops the walk; truncations quarantine") {
    val good = page(1L, 0L)
    assert(Ogg.decode("junk".getBytes ++ good).isEmpty, "no resync scan")
    assert(Ogg.decode(good.dropRight(1)).isEmpty, "truncated payload")
    assert(Ogg.decode(good.take(27)).isEmpty, "truncated lacing")
    assert(Ogg.decode(good ++ good.dropRight(1)).isEmpty, "a good page, then a truncated one")
    val badVer = good.clone(); badVer(4) = 1
    assert(Ogg.decode(badVer).contains(Nil), "unknown version quarantines")
  }
}
