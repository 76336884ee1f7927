package graft.llm

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

/** EPUB chapter extraction — the book tier of a document corpus (long-form
  * prose is the highest-value training text, and it ships as EPUB: a ZIP
  * of XHTML chapters bound by real packaging structure). Read the way the
  * spec (EPUB OCF + OPF) says to, not by globbing for .xhtml names:
  *
  *   - `META-INF/container.xml` names the package document: the first
  *     `<rootfile>` element's `full-path` attribute (attributes through
  *     the shared [[Html.attrPairs]] tokenizer; tags matched by LOCAL
  *     name so namespace prefixes ride along)
  *   - the OPF package at that path gives `<manifest>` (`<item>` id →
  *     href) and `<spine>` (`<itemref>` idref order) — READING ORDER IS
  *     THE SPINE'S, not the archive's member order and not alphabetical
  *   - hrefs resolve relative to the OPF's own directory (the spec rule
  *     the naive root-relative read gets wrong the moment the package
  *     lives under `OEBPS/`)
  *   - each chapter's XHTML goes through [[Html.extract]] (same walk as
  *     the crawl chain: tags → separators, entities, script/style drop),
  *     yielding per-chapter title + text
  *   - quarantine: not a readable archive / no container / no rootfile
  *     path / no OPF member → None (not an EPUB); a spine idref missing
  *     from the manifest is skipped; a manifest href missing from the
  *     archive yields that chapter with empty text (accounting stays
  *     visible, deck survives — the [[Pptx]] convention); a [[Codec]]:
  *     chapter XHTML extracted across the spine (which may repeat a
  *     chapter) counts against [[Codec.MaxDecodedBytes]], and a book
  *     past it is None
  *
  * Scale shape: row-local per book, no shuffle; streaming-safe.
  */
object Epub extends Codec {

  type Out = Seq[Chapter]

  final case class Chapter(pos: Int, href: String, title: String, text: String)

  /** Minimal local-name tag scan: (localName, attrText) for each open
    * tag, comments and PIs skipped. Shared shape with the Xlsx walk but
    * attribute-oriented (no text events needed here). */
  private def tags(xml: String): Iterator[(String, String)] = new Iterator[(String, String)] {
    private var i = 0
    private var nextTag: (String, String) = null
    private def advance(): Unit = {
      nextTag = null
      val n = xml.length
      while (nextTag == null && i < n) {
        if (xml.charAt(i) == '<') {
          if (xml.regionMatches(i, "<!--", 0, 4)) {
            val close = xml.indexOf("-->", i + 4)
            i = if (close < 0) n else close + 3
          } else if (xml.regionMatches(i, "<?", 0, 2)) {
            val close = xml.indexOf("?>", i + 2)
            i = if (close < 0) n else close + 2
          } else {
            val gt = xml.indexOf('>', i)
            val end = if (gt < 0) n else gt
            val raw = xml.substring(i + 1, end)
            i = if (gt < 0) n else gt + 1
            if (!raw.startsWith("/")) {
              var e = raw.length
              var j = 0
              var done = false
              while (j < raw.length && !done) {
                val ch = raw.charAt(j)
                if (ch == ' ' || ch == '\t' || ch == '\n' || ch == '\r' || ch == '/') {
                  e = j; done = true
                } else j += 1
              }
              var st = 0
              j = 0
              while (j < e) { if (raw.charAt(j) == ':') st = j + 1; j += 1 }
              nextTag = (raw.substring(st, e).toLowerCase(java.util.Locale.ROOT),
                raw.substring(e))
            }
          }
        } else i += 1
      }
    }
    advance()
    override def hasNext: Boolean = nextTag != null
    override def next(): (String, String) = {
      val t = nextTag; advance(); t
    }
  }

  /** RFC-3986-lite relative resolution against the OPF directory:
    * "OEBPS/content.opf" + "ch1.xhtml" → "OEBPS/ch1.xhtml"; leading "./"
    * and "../" segments resolve against that base. */
  private[llm] def resolve(opfPath: String, href: String): String = {
    val slash = opfPath.lastIndexOf('/')
    val base = if (slash < 0) Nil
      else opfPath.substring(0, slash).split("/").filter(_.nonEmpty).toList
    val segs = ArrayBuffer(base: _*)
    href.split("/").foreach {
      case "" | "." => ()
      case ".." => if (segs.nonEmpty) segs.remove(segs.length - 1): Unit
      case s => segs += s: Unit
    }
    segs.mkString("/")
  }

  def decode(bytes: Array[Byte]): Option[Seq[Chapter]] =
    Zip.decode(bytes).flatMap { ms =>
      val byName = ms.map(m => m.name -> m).toMap
      for {
        container <- byName.get("META-INF/container.xml")
        opfPath <- tags(new String(container.content, UTF_8)).collectFirst {
          case ("rootfile", attrs)
            if Html.attrLookup(attrs, "full-path").exists(_.nonEmpty) =>
            Html.attrLookup(attrs, "full-path").get
        }
        opf <- byName.get(opfPath)
      } yield {
        // a spine may list one chapter many times: every extraction counts
        var left = Codec.MaxDecodedBytes.toLong
        val opfXml = new String(opf.content, UTF_8)
        val manifest = scala.collection.mutable.HashMap.empty[String, String]
        val spine = ArrayBuffer.empty[String]
        tags(opfXml).foreach {
          case ("item", attrs) =>
            for {
              id <- Html.attrLookup(attrs, "id")
              href <- Html.attrLookup(attrs, "href")
            } if (!manifest.contains(id)) manifest(id) = href
          case ("itemref", attrs) =>
            Html.attrLookup(attrs, "idref").foreach(spine += _)
          case _ => ()
        }
        val chapters = spine.iterator.flatMap(manifest.get).zipWithIndex.map {
          case (href, k) =>
            val path = resolve(opfPath, href)
            val e = byName.get(path).map { m =>
              left -= m.content.length
              Html.extract(new String(m.content, UTF_8))
            }.getOrElse(Html.Extracted("", ""))
            Chapter(k, href, e.title, e.text)
        }.takeWhile(_ => left >= 0).toSeq
        if (left < 0) None else Some(chapters)
      }
    }.flatten

  // ---------------------------------------------------------------- build

  /** Deterministic fixture writer: a structurally honest minimal .epub
    * (mimetype stored first per OCF, container.xml, OPF under OEBPS/,
    * chapters as (href, xhtmlBody) resolved against the OPF dir). The
    * spine lists chapters in the given order. */
  def build(chapters: Seq[(String, String)]): Array[Byte] = {
    val manifest = chapters.zipWithIndex.map { case ((href, _), k) =>
      s"""<item id="c$k" href="$href" media-type="application/xhtml+xml"/>"""
    }.mkString
    val spine = chapters.indices.map(k => s"""<itemref idref="c$k"/>""").mkString
    val opf =
      s"""<?xml version="1.0"?><package xmlns="http://www.idpf.org/2007/opf" version="3.0">
         |<manifest>$manifest</manifest><spine>$spine</spine></package>""".stripMargin
    val container =
      """<?xml version="1.0"?><container xmlns="urn:oasis:names:tc:opendocument:xmlns:container" version="1.0">
        |<rootfiles><rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/></rootfiles>
        |</container>""".stripMargin
    Zip.build(Seq(
      ("mimetype", "application/epub+zip".getBytes(UTF_8), true),
      ("META-INF/container.xml", container.getBytes(UTF_8), false),
      ("OEBPS/content.opf", opf.getBytes(UTF_8), false)) ++
      chapters.map { case (href, body) =>
        (s"OEBPS/$href", body.getBytes(UTF_8), false)
      })
  }
}
