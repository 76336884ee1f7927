package graft.llm

import java.nio.charset.StandardCharsets.UTF_8

/** PPTX text extraction — the slide-deck member of the office tier next
  * to DOCX ([[Zip.docxText]]) and XLSX ([[Xlsx.decode]]): presentations
  * are a real share of any crawled document corpus, and their text lives
  * in `ppt/slides/slideN.xml` parts inside the ZIP container.
  *
  * Composition, not re-implementation: DrawingML text bodies use the
  * SAME local names WordprocessingML does — `<a:t>` runs, `<a:p>`
  * paragraphs, `<a:br/>` breaks — so each slide's text falls out of the
  * existing [[Zip.wordText]] local-name walk (which already handles
  * entities via the shared [[Html.reference]] decoder, xml:space runs,
  * and namespace prefixes). This module adds only what is PPTX-shaped:
  *
  *   - slide parts are matched by exact name `ppt/slides/slide<N>.xml`
  *     and ordered by N NUMERICALLY (slide10 comes after slide9, not
  *     after slide1 — the lexicographic trap)
  *   - [[Codec]] quarantine: not a readable archive, or an archive with
  *     no slide parts → None (not a PPTX); a single unreadable slide
  *     (e.g. CRC-quarantined by [[Zip.decode]]) yields that slide with
  *     empty text, not a poisoned deck
  */
object Pptx extends Codec {

  type Out = Seq[Slide]

  final case class Slide(no: Int, nParas: Int, text: String)

  private val SlideName = """ppt/slides/slide([0-9]+)\.xml""".r

  /** Per-slide text in numeric slide order. */
  def decode(bytes: Array[Byte]): Option[Seq[Slide]] =
    Zip.decode(bytes).flatMap { ms =>
      val found = ms.flatMap { m =>
        m.name match {
          case SlideName(n) => Some((n.toInt, m))
          case _ => None
        }
      }
      if (found.isEmpty) None // a zip, but not a presentation
      else Some(found.sortBy(_._1).map { case (no, m) =>
        val d = Zip.wordText(new String(m.content, UTF_8))
        Slide(no, d.nParas, d.text)
      })
    }

  /** Whole-deck text: slides joined by '\n' in slide order. */
  def deckText(bytes: Array[Byte]): Option[String] =
    decode(bytes).map(_.map(_.text).filter(_.nonEmpty).mkString("\n"))

  // ---------------------------------------------------------------- build

  /** Deterministic fixture writer: a structurally honest minimal .pptx
    * ([Content_Types], presentation, one slideN.xml per entry). Each
    * slide is a list of paragraphs; each paragraph a list of runs
    * (entity-escaped on write so decode round-trips). */
  def build(slides: Seq[Seq[Seq[String]]]): Array[Byte] = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val slideParts = slides.zipWithIndex.map { case (paras, k) =>
      val body = paras.map { runs =>
        "<a:p>" + runs.map(r => s"<a:r><a:t>${esc(r)}</a:t></a:r>").mkString +
          "</a:p>"
      }.mkString
      (s"ppt/slides/slide${k + 1}.xml",
        ("<?xml version=\"1.0\"?><p:sld xmlns:a=\"http://schemas.openxmlformats.org/drawingml/2006/main\" " +
          "xmlns:p=\"http://schemas.openxmlformats.org/presentationml/2006/main\">" +
          s"<p:cSld><p:spTree><p:sp><p:txBody>$body</p:txBody></p:sp></p:spTree></p:cSld></p:sld>")
          .getBytes(UTF_8), false)
    }
    Zip.build(Seq(
      ("[Content_Types].xml", "<Types/>".getBytes(UTF_8), false),
      ("ppt/presentation.xml", "<p:presentation/>".getBytes(UTF_8), false)) ++
      slideParts)
  }
}
