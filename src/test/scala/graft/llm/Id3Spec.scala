package graft.llm

import graft.SparkSpec

class Id3Spec extends SparkSpec {

  test("v2.3 and v2.4 round-trip (plain vs syncsafe frame sizes)") {
    for (v <- Seq(3, 4)) {
      val t = Id3.decode(Id3.encode("My Title", "An Artist", "The Album", v))
        .getOrElse(fail(s"v2.$v parse failed"))
      assert(t == Id3.Tags(v, "My Title", "An Artist", "The Album"))
    }
    // v2.4 carries UTF-8 text
    val uni = Id3.decode(Id3.encode("Tïtle ✓", "Ärtist", "Albüm", 4)).get
    assert(uni.title == "Tïtle ✓" && uni.artist == "Ärtist")
  }

  test("frames longer than 127 bytes: the v2.3/v2.4 size split matters") {
    val long = "x" * 300 // crosses the 7-bit boundary syncsafe encodes differently
    for (v <- Seq(3, 4))
      assert(Id3.decode(Id3.encode(long, "a", "b", v)).get.title == long)
  }

  test("unknown frames skip; padding ends the walk; MP3 audio may follow") {
    val tag = Id3.encode("T", "A", "B", 3)
    // splice an unknown TXXX frame before the known ones
    val txxx = "TXXX".getBytes("ISO-8859-1") ++
      Array[Byte](0, 0, 0, 3, 0, 0, 0, 'x', 'y')
    val n = (tag.length - 10) + txxx.length + 4 // + 4 padding bytes
    val spliced = Array[Byte]('I', 'D', '3', 3, 0, 0,
      ((n >> 21) & 0x7f).toByte, ((n >> 14) & 0x7f).toByte,
      ((n >> 7) & 0x7f).toByte, (n & 0x7f).toByte) ++
      txxx ++ tag.drop(10) ++ Array[Byte](0, 0, 0, 0)
    assert(Id3.decode(spliced).contains(Id3.Tags(3, "T", "A", "B")))
    // audio bytes after the tag are outside the walk
    val withAudio = Id3.encode("T", "A", "B", 3) ++
      Mp3.encodeFrames(0, _ => 1, _ => 0, 2)
    assert(Id3.decode(withAudio).contains(Id3.Tags(3, "T", "A", "B")))
    assert(Mp3.decode(withAudio).nonEmpty, "Mp3 walk must skip the real tag")
  }

  test("malformed tags quarantine, never throw") {
    val good = Id3.encode("T", "A", "B", 3)
    def patch(off: Int, v: Byte): Array[Byte] = { val c = good.clone(); c(off) = v; c }
    val cases: Seq[(String, Array[Byte])] = Seq(
      "null" -> null,
      "empty" -> Array.emptyByteArray,
      "bad magic" -> patch(0, 'X'),
      "version 2.2" -> patch(3, 2),
      "version 2.5" -> patch(3, 5),
      "unsync flag" -> patch(5, 0x80.toByte),
      "non-syncsafe tag size" -> patch(6, 0x80.toByte),
      "truncated tag" -> good.dropRight(3),
      "lowercase frame id" -> patch(10, 't'),
      "frame flags set" -> patch(18, 1),
      "frame past tag" -> patch(17, 0x7f.toByte),
      "utf-16 encoding byte" -> patch(20, 1),
      "empty text frame (no encoding byte)" -> {
        val c = good.clone(); c(14) = 0; c(15) = 0; c(16) = 0; c(17) = 0; c
      })
    cases.foreach { case (label, b) =>
      assert(Id3.decode(b).isEmpty, s"accepted: $label")
    }
  }

  test("tagRows dataset: audit-not-drop") {
    import spark.implicits._
    val rows = Id3.tagRows(Seq(
      Multimodal.Blob(1L, Id3.encode("T1", "A1", "B1", 4)),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8"))).toDS())
      .collect().sortBy(_.doc_id)
    assert(rows(0) == Id3.TagRow(1L, valid = true, 4, "T1", "A1", "B1"))
    assert(rows(1) == Id3.TagRow(2L, valid = false, 0, "", "", ""))
  }
}
