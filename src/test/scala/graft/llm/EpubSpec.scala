package graft.llm

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec

class EpubSpec extends SparkSpec {

  test("spine order drives chapters; titles and text extract") {
    val bytes = Epub.build(Seq(
      ("ch1.xhtml", "<html><head><title>One</title></head><body><p>First chapter text.</p></body></html>"),
      ("ch2.xhtml", "<html><head><title>Two</title></head><body><p>Second &amp; final.</p></body></html>")))
    val cs = Epub.decode(bytes).get
    assert(cs == Seq(
      Epub.Chapter(0, "ch1.xhtml", "One", "First chapter text."),
      Epub.Chapter(1, "ch2.xhtml", "Two", "Second & final.")))
  }

  test("spine order is authoritative, not member or id order") {
    // hand-build: archive stores ch2 before ch1, spine says ch1 then ch2…
    // and the spine REVERSES the manifest's declaration order
    val opf =
      """<package><manifest>
        |<item id="a" href="ch1.xhtml" media-type="application/xhtml+xml"/>
        |<item id="b" href="ch2.xhtml" media-type="application/xhtml+xml"/>
        |</manifest><spine><itemref idref="b"/><itemref idref="a"/></spine></package>""".stripMargin
    val container =
      """<container><rootfiles><rootfile full-path="content.opf"/></rootfiles></container>"""
    val bytes = Zip.build(Seq(
      ("META-INF/container.xml", container.getBytes(UTF_8), false),
      ("ch2.xhtml", "<body>two</body>".getBytes(UTF_8), false),
      ("content.opf", opf.getBytes(UTF_8), false),
      ("ch1.xhtml", "<body>one</body>".getBytes(UTF_8), false)))
    assert(Epub.decode(bytes).get.map(c => (c.pos, c.href, c.text)) ==
      Seq((0, "ch2.xhtml", "two"), (1, "ch1.xhtml", "one")))
  }

  test("href resolution against the OPF directory") {
    assert(Epub.resolve("OEBPS/content.opf", "ch1.xhtml") == "OEBPS/ch1.xhtml")
    assert(Epub.resolve("OEBPS/content.opf", "text/ch1.xhtml") == "OEBPS/text/ch1.xhtml")
    assert(Epub.resolve("OEBPS/content.opf", "../styles/ch.xhtml") == "styles/ch.xhtml")
    assert(Epub.resolve("content.opf", "ch1.xhtml") == "ch1.xhtml")
    assert(Epub.resolve("a/b/pkg.opf", "./c.xhtml") == "a/b/c.xhtml")
  }

  test("quarantine: junk, missing container/opf, dangling refs") {
    assert(Epub.decode("junk".getBytes(UTF_8)).isEmpty)
    assert(Epub.decode(null).isEmpty)
    // zip without container.xml
    assert(Epub.decode(Zip.build(Seq(
      ("mimetype", "application/epub+zip".getBytes(UTF_8), true)))).isEmpty)
    // container pointing at a missing OPF
    val badC = """<container><rootfiles><rootfile full-path="nope.opf"/></rootfiles></container>"""
    assert(Epub.decode(Zip.build(Seq(
      ("META-INF/container.xml", badC.getBytes(UTF_8), false)))).isEmpty)
    // spine idref without a manifest item: skipped; manifest href without
    // a member: chapter with empty text
    val opf =
      """<package><manifest><item id="a" href="gone.xhtml"/></manifest>
        |<spine><itemref idref="ghost"/><itemref idref="a"/></spine></package>""".stripMargin
    val c = """<container><rootfiles><rootfile full-path="content.opf"/></rootfiles></container>"""
    val cs = Epub.decode(Zip.build(Seq(
      ("META-INF/container.xml", c.getBytes(UTF_8), false),
      ("content.opf", opf.getBytes(UTF_8), false)))).get
    assert(cs == Seq(Epub.Chapter(0, "gone.xhtml", "", "")))
  }
}
