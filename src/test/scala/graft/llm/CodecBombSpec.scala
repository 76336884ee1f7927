package graft.llm

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** The per-blob output bound, [[Codec.MaxDecodedBytes]] (and
  * [[Codec.MaxPixels]] for pixel decoders), holds for whole blobs:
  * archives and PDFs whose members or streams each inflate under any
  * per-member cap but together past the bound, and small blobs that
  * amplify one part many times over (shared ICO DIBs, a repeating EPUB
  * spine, pooled XLSX strings), quarantine (None); the same shapes at
  * the bound still decode. Spark is not started. */
class CodecBombSpec extends AnyFunSuite {

  private val Zeros = new Array[Byte](40 << 20) // 40 MiB; deflates to ~40 KB

  /** One archive that is at once a DOCX, XLSX, PPTX and EPUB, plus
    * `bombs` deflated members of 40 MiB of zeros. */
  private def office(bombs: Int): Array[Byte] = Zip.build(Seq(
    "META-INF/container.xml" ->
      """<container><rootfiles><rootfile full-path="OEBPS/content.opf"/></rootfiles></container>""",
    "OEBPS/content.opf" ->
      """<package><manifest><item id="c" href="c.xhtml"/></manifest><spine><itemref idref="c"/></spine></package>""",
    "OEBPS/c.xhtml" -> "<html><body><p>chapter</p></body></html>",
    "xl/worksheets/sheet1.xml" -> """<worksheet><c r="A1" t="inlineStr"><is><t>cell</t></is></c></worksheet>""",
    "ppt/slides/slide1.xml" -> "<p:sld><a:p><a:r><a:t>slide</a:t></a:r></a:p></p:sld>",
    "word/document.xml" -> "<w:document><w:p><w:r><w:t>docx</w:t></w:r></w:p></w:document>"
  ).map { case (name, xml) => (name, xml.getBytes(UTF_8), false) } ++
    (1 to bombs).map(k => (s"zeros$k.bin", Zeros, false)))

  private lazy val oneBomb = office(1)
  private lazy val twoBombs = office(2)

  private def decoders: Seq[(String, Array[Byte] => Option[Any])] = Seq(
    "Zip.decode" -> Zip.decode, "Xlsx.decode" -> Xlsx.decode, "Epub.decode" -> Epub.decode,
    "Pptx.decode" -> Pptx.decode, "Zip.docxText" -> Zip.docxText)

  test("a ZIP of members each under 64 MiB but past the blob bound together is None for every office codec") {
    assert(twoBombs.length < (1 << 20), s"the bomb should be small on the wire: ${twoBombs.length} B")
    decoders.foreach { case (name, decode) => assert(decode(twoBombs).map(_ => "decoded").isEmpty, name) }
  }

  test("the same archive with one 40 MiB member is in bound and still decodes") {
    decoders.foreach { case (name, decode) => assert(decode(oneBomb).isDefined, s"$name quarantined in-bound bytes") }
    assert(Zip.decode(oneBomb).get.find(_.name == "zeros1.bin").get.content.length == Zeros.length)
    assert(Xlsx.decode(oneBomb).get.map(_.value) == Seq("cell"))
    assert(Epub.decode(oneBomb).get.map(_.text.trim) == Seq("chapter"))
    assert(Pptx.deckText(oneBomb).contains("slide"))
    assert(Zip.docxText(oneBomb).map(_.text).contains("docx"))
  }

  test("a PDF of flate streams each under 16 MiB but past the blob bound together is None; four of them decode") {
    val page = " " * (15 << 20) // 15 MiB of content-stream whitespace per page
    val five = Pdf.build(Seq.fill(5)(page), flate = true)
    assert(five.length < (1 << 20), s"the bomb should be small on the wire: ${five.length} B")
    assert(Pdf.decode(five).map(_.nFlate).isEmpty)
    assert(Pdf.decode(Pdf.build(Seq.fill(4)(page), flate = true)).map(_.nFlate).contains(4))
  }

  test("ICO entries sharing one DIB count once per entry against Codec.MaxPixels") {
    val dib = Ico.build(Seq((256, 256, new Array[Int](256 * 256), (_: Int, _: Int) => false))).drop(6 + 16)
    def icon(n: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(6 + 16 * n + dib.length).order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(0.toShort).putShort(1.toShort).putShort(n.toShort)
      (0 until n).foreach(_ => b.putInt(0).putShort(1.toShort).putShort(32.toShort)
        .putInt(dib.length).putInt(6 + 16 * n)) // 256×256 (stored as 0), all at one offset
      b.put(dib).array()
    }
    assert(Ico.decode(icon(256)).map(_.size).contains(256), "256 × 65,536 px is exactly the bound")
    assert(Ico.decode(icon(257)).map(_.size).isEmpty)
  }

  test("an EPUB spine listing one chapter past the bound is None; at the bound it decodes") {
    val chapter = "<html><body><p>" + "w " * 32000 + "</p></body></html>"
    def book(n: Int): Array[Byte] = Zip.build(Seq(
      "META-INF/container.xml" -> """<container><rootfile full-path="c.opf"/></container>""",
      "c.opf" -> ("""<package><manifest><item id="c" href="c.xhtml"/></manifest><spine>""" +
        """<itemref idref="c"/>""" * n + "</spine></package>"),
      "c.xhtml" -> chapter).map { case (name, xml) => (name, xml.getBytes(UTF_8), false) })
    val fit = Codec.MaxDecodedBytes / chapter.length
    assert(Epub.decode(book(fit)).map(_.size).contains(fit))
    assert(Epub.decode(book(fit + 1)).map(_.size).isEmpty)
  }

  test("XLSX cells naming one pooled string count it once per cell") {
    def sheet(n: Int): Array[Byte] =
      Xlsx.build(Seq("v" * (1 << 20)), (1 to n).map(k => (s"A$k", "s", "<v>0</v>")))
    assert(Xlsx.decode(sheet(64)).map(_.size).contains(64), "64 × 1 MiB is exactly the bound")
    assert(Xlsx.decode(sheet(65)).map(_.size).isEmpty)
  }

  test("BMP and sampled AVI pixels stop at Codec.MaxPixels") {
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = java.util.Arrays.copyOf(Bmp.encode24(1, 1, Array(0)), 54 + ((w * 3 + 3) & ~3) * h)
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putInt(18, w).putInt(22, h)
      b
    }
    assert(Bmp.decode(bmp(4096, 4096)).map(_.pixels.length).contains(4096 * 4096))
    assert(Bmp.decode(bmp(4097, 4096)).map(_.pixels.length).isEmpty)
    val frame = new Array[Int](1 << 20) // 1024 × 1024
    def avi(n: Int) = Avi.encode(1024, 1024, 40000L, Seq.fill(n)(frame))
    assert(Avi.sampleFrames(avi(16), 1).map(_._2.size).contains(16))
    assert(Avi.sampleFrames(avi(17), 1).map(_._2.size).isEmpty)
    assert(Avi.sampleFrames(avi(17), 2).map(_._2.size).contains(9), "a stride samples fewer pixels")
    assert(Avi.decode(avi(17)).map(_.nFrames).contains(17), "the header walk decodes no pixels")
  }

  test("G.711 and IMA ADPCM quarantine payloads whose samples would pass the bound") {
    assert(G711.decode(new Array[Byte](Codec.MaxDecodedBytes / 8)).map(_.mu.length)
      .contains(Codec.MaxDecodedBytes / 8))
    assert(G711.decode(new Array[Byte](Codec.MaxDecodedBytes / 8 + 1)).map(_.mu.length).isEmpty)
    assert(Adpcm.decode(new Array[Byte](Codec.MaxDecodedBytes / 4)).isDefined)
    assert(Adpcm.decode(new Array[Byte](Codec.MaxDecodedBytes / 4 + 1)).map(_.length).isEmpty)
  }
}
