package graft.llm

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec

class TarSpec extends SparkSpec {

  test("ustar round-trip: files, dirs, padding, checksum verified") {
    val a = "first member content".getBytes(UTF_8)
    val b = Array.tabulate(600)(i => (i % 251).toByte) // spans 2 data blocks
    val tar = Tar.build(Seq(
      ("dir/", Array.emptyByteArray, '5'),
      ("dir/a.txt", a, '0'),
      ("b.bin", b, '0')))
    val ms = Tar.decode(tar).get
    assert(ms.map(_.name) == Seq("dir/", "dir/a.txt", "b.bin"))
    assert(ms.map(_.typeflag) == Seq('5', '0', '0'))
    assert(ms(0).size == 0 && ms(0).content.isEmpty)
    assert(ms(1).content.toSeq == a.toSeq && ms(1).size == a.length)
    assert(ms(2).content.toSeq == b.toSeq && ms(2).size == b.length)
  }

  test("shard contract: framedLength exact; buildBounded raises on violation") {
    val entries = Seq(
      ("dir/", Array.emptyByteArray, '5'),
      ("a.txt", "x".getBytes(UTF_8), '0'),            // 512 hdr + 512 data
      ("b.bin", new Array[Byte](513), '0'))           // 512 hdr + 1024 data
    // arithmetic length must equal the actual build's byte count
    assert(Tar.framedLength(entries) == Tar.build(entries).length.toLong)
    assert(Tar.framedLength(Nil) == 1024L) // end marker alone
    // at the bound: builds; one byte under: raises with the exact length
    val len = Tar.framedLength(entries)
    assert(Tar.buildBounded(entries, len).length.toLong == len)
    val e = intercept[IllegalArgumentException](Tar.buildBounded(entries, len - 1))
    assert(e.getMessage.contains(len.toString))
  }

  test("quarantine: bad magic, bad checksum, truncated member") {
    assert(Tar.decode(null).isEmpty)
    assert(Tar.decode(new Array[Byte](511)).isEmpty)
    assert(Tar.decode(new Array[Byte](1024)).isEmpty) // all zero: no members
    val good = Tar.build(Seq(("x.txt", "content".getBytes(UTF_8), '0')))
    val badMagic = good.clone(); badMagic(257) = 'X'.toByte
    assert(Tar.decode(badMagic).isEmpty)
    val badSum = good.clone(); badSum(0) = 'y'.toByte // name change breaks chksum
    assert(Tar.decode(badSum).isEmpty)
    assert(Tar.decode(good.take(512 + 3)).isEmpty) // truncated data
    // GNU "ustar  " magic spelling also accepted (re-checksum after edit)
    val gnu = good.clone()
    gnu(262) = ' '.toByte; gnu(263) = ' '.toByte; gnu(264) = 0
    java.util.Arrays.fill(gnu, 148, 156, ' '.toByte)
    var sum = 0L
    (0 until 512).foreach(k => sum += (gnu(k) & 0xff))
    System.arraycopy(f"$sum%06o".getBytes, 0, gnu, 148, 6)
    gnu(154) = 0; gnu(155) = ' '.toByte
    assert(Tar.decode(gnu).get.head.name == "x.txt")
  }

  test("prefix field is POSIX-only: old-GNU atime digits never join the name") {
    // old-GNU headers keep atime/ctime where POSIX puts prefix[155];
    // a GNU-magic archive with that region populated must NOT see the
    // octal digits joined onto the member name
    val gnu = Tar.build(Seq(("x.txt", "content".getBytes(UTF_8), '0'))).clone()
    gnu(262) = ' '.toByte; gnu(263) = ' '.toByte; gnu(264) = 0
    val atime = "13141592653 ".getBytes(UTF_8) // octal digits + terminator
    System.arraycopy(atime, 0, gnu, 345, atime.length)
    java.util.Arrays.fill(gnu, 148, 156, ' '.toByte)
    var sum = 0L
    (0 until 512).foreach(k => sum += (gnu(k) & 0xff))
    System.arraycopy(f"$sum%06o".getBytes, 0, gnu, 148, 6)
    gnu(154) = 0; gnu(155) = ' '.toByte
    assert(Tar.decode(gnu).get.head.name == "x.txt")
  }

  test("prefix field joins long paths; EOF without zero blocks is lenient") {
    val good = Tar.build(Seq(("deep.txt", "zz".getBytes(UTF_8), '0')))
    // plant a prefix and re-checksum
    val withPrefix = good.clone()
    val p = "very/long/prefix".getBytes(UTF_8)
    System.arraycopy(p, 0, withPrefix, 345, p.length)
    java.util.Arrays.fill(withPrefix, 148, 156, ' '.toByte)
    var sum = 0L
    (0 until 512).foreach(k => sum += (withPrefix(k) & 0xff))
    System.arraycopy(f"$sum%06o".getBytes, 0, withPrefix, 148, 6)
    withPrefix(154) = 0; withPrefix(155) = ' '.toByte
    assert(Tar.decode(withPrefix).get.head.name == "very/long/prefix/deep.txt")
    // strip the end-of-archive marker: members already read survive
    val noEnd = good.dropRight(1024)
    assert(Tar.decode(noEnd).get.head.name == "deep.txt")
  }

  test("tar.gz composition: gzip peel then tar walk") {
    val inner = Tar.build(Seq(("doc.txt", "tarred text".getBytes(UTF_8), '0')))
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.GZIPOutputStream(bos)
      z.write(inner); z.close()
      bos.toByteArray
    }
    val peeled = Gzip.decode(gz).getOrElse(Array.emptyByteArray)
    assert(Tar.decode(peeled).get.head.content.toSeq ==
      "tarred text".getBytes(UTF_8).toSeq)
  }
}
