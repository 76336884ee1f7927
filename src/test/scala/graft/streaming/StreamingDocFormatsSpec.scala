package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.llm.{Avi, C4Clean, Eml, Epub, Exif, Feed, Gopher, Gzip, Html, LangId, License, Markdown, Multimodal, Pdf, Pptx, SceneCut, Tar, Vad, Wav, Zip}

/** B35/B36 × B37: the r11 document-format operators (feed parse, EXIF
  * walk, PDF extract, DOCX extract) are row-local Dataset
  * transformations, so the SAME function runs unchanged over a batch
  * Dataset and a streaming one — a crawl's fetch results are naturally
  * a stream, and format decode must not need a batch rewrite. Parity
  * pinned including drop/quarantine rows. */
class StreamingDocFormatsSpec extends SparkSpec {
  import spark.implicits._

  private def stage[T <: Product : org.apache.spark.sql.Encoder](rows: Seq[T]): String = {
    val dir = Files.createTempDirectory("graft-docfmt-").toString
    rows.toDS().write.mode("overwrite").parquet(dir)
    dir
  }

  private def ckpt(): String = Files.createTempDirectory("graft-ckpt-").toString

  private def run[T](ds: Dataset[T], name: String): Unit = {
    val q = ds.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt())
      .start()
    q.awaitTermination()
  }

  test("streaming feed parse ≡ batch, junk docs and linkless entries drop") {
    val docs = Seq(
      1L -> "<rss><channel><item><title>T</title><link>https://a/1</link></item><item><title>x</title></item></channel></rss>",
      2L -> "<feed><entry><link href=\"https://b/1\"/><updated>2020-01-02T15:04:05Z</updated></entry></feed>",
      3L -> "junk")
    val dir = stage(docs)
    val stream = spark.readStream.schema(docs.toDS().schema).parquet(dir)
      .as[(Long, String)]
    run(Feed.entries(stream), "feed_stream")
    val streamed = spark.table("feed_stream").as[Feed.FeedRow]
      .collect().sortBy(r => (r.doc_id, r.seq)).toSeq
    val batch = Feed.entries(docs.toDS())
      .collect().sortBy(r => (r.doc_id, r.seq)).toSeq
    assert(streamed == batch)
    assert(streamed.map(_.doc_id) == Seq(1L, 2L))
    assert(streamed.map(_.format) == Seq("rss", "atom"))
  }

  test("streaming EXIF + PDF + DOCX ≡ batch, quarantine rows carried") {
    final case class Out(doc_id: Long, kind: String, a: String, b: Long)
    val exifBytes = Exif.buildJpeg(littleEndian = true, make = "CamCo",
      model = "M1", orientation = 1, dateTime = "2020:01:02 15:04:05",
      width = 640, height = 480, iso = 100, exposureNum = 1, exposureDen = 50)
    val pdfBytes = Pdf.build(Seq("BT (pdf text) Tj ET"), flate = true)
    val docxBytes = Zip.build(Seq(("word/document.xml",
      "<w:document><w:body><w:p><w:r><w:t>docx text</w:t></w:r></w:p></w:body></w:document>"
        .getBytes("UTF-8"), false)))
    val docs = Seq(
      (1L, "exif", exifBytes),
      (2L, "pdf", pdfBytes),
      (3L, "docx", docxBytes),
      (4L, "pdf", "not a pdf".getBytes("UTF-8")))
    def decode(ds: Dataset[(Long, String, Array[Byte])]): Dataset[(Long, String, String, Long)] =
      ds.mapPartitions(_.map { case (id, kind, bytes) =>
        kind match {
          case "exif" =>
            val d = Exif.decode(bytes).getOrElse(Exif.Absent)
            (id, kind, d.make, d.width)
          case "pdf" =>
            val e = Pdf.decode(bytes).getOrElse(Pdf.Extracted(-1, -1, ""))
            (id, kind, e.text, e.nPages.toLong)
          case _ =>
            val d = Zip.docxText(bytes).getOrElse(Zip.Doc(-1, ""))
            (id, kind, d.text, d.nParas.toLong)
        }
      })
    val dir = stage(docs)
    val stream = spark.readStream.schema(docs.toDS().schema).parquet(dir)
      .as[(Long, String, Array[Byte])]
    run(decode(stream), "docfmt_stream")
    val streamed = spark.table("docfmt_stream")
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    val batch = decode(docs.toDS()).collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed(0)._3 == "CamCo" && streamed(0)._4 == 640L)
    assert(streamed(1)._3 == "pdf text" && streamed(1)._4 == 1L)
    assert(streamed(2)._3 == "docx text" && streamed(2)._4 == 1L)
    assert(streamed(3)._4 == -1L) // quarantine row carried, not dropped
  }

  test("streaming markdown + license ≡ batch") {
    val docs = Seq(
      1L -> "# H\n*em* [l](u)\n```\ncode\n```",
      2L -> "// SPDX-License-Identifier: MIT\ncode",
      3L -> "Permission is hereby granted, free of charge, to any person")
    val dir = stage(docs)
    def stream = spark.readStream.schema(docs.toDS().schema).parquet(dir)
      .as[(Long, String)]
    run(Markdown.extractAll(stream), "md_stream")
    assert(spark.table("md_stream").as[Markdown.MdRow]
      .collect().sortBy(_.doc_id).toSeq ==
      Markdown.extractAll(docs.toDS()).collect().sortBy(_.doc_id).toSeq)
    run(License.detectAll(stream), "lic_stream")
    val lic = spark.table("lic_stream").as[License.LicenseRow]
      .collect().sortBy(_.doc_id).toSeq
    assert(lic == License.detectAll(docs.toDS()).collect().sortBy(_.doc_id).toSeq)
    assert(lic.map(_.license) == Seq("NONE", "MIT", "MIT"))
    assert(lic.map(_.source) == Seq("none", "spdx", "phrase"))
  }

  test("streaming eml parse ≡ batch, non-messages drop") {
    val mails = Seq(
      1L -> "Subject: s1\nFrom: a@b\nContent-Transfer-Encoding: quoted-printable\n\nhi=20there",
      2L -> "not a message at all")
    val dir = stage(mails)
    run(Eml.parseAll(spark.readStream.schema(mails.toDS().schema)
      .parquet(dir).as[(Long, String)]), "eml_stream")
    val streamed = spark.table("eml_stream").as[Eml.MailRow]
      .collect().sortBy(_.doc_id).toSeq
    assert(streamed == Eml.parseAll(mails.toDS()).collect().sortBy(_.doc_id).toSeq)
    assert(streamed == Seq(Eml.MailRow(1L, "s1", "a@b", 1, "hi there")))
  }

  test("streaming pptx + langid + jsonld ≡ batch") {
    // the r12 operators: slide decks, trigram language ID, and JSON-LD
    // harvest are row-local too — parity including quarantine/und rows
    val deck = Pptx.build(Seq(Seq(Seq("Slide one")), Seq(Seq("Slide two"))))
    val decks = Seq((1L, deck), (2L, "junk".getBytes("UTF-8")))
    def slides(ds: Dataset[(Long, Array[Byte])]): Dataset[(Long, Int, String)] =
      ds.mapPartitions(_.flatMap { case (id, bytes) =>
        Pptx.decode(bytes) match {
          case Some(ss) => ss.map(sl => (id, sl.no, sl.text))
          case None => Seq((id, -1, ""))
        }
      })
    val deckDir = stage(decks)
    run(slides(spark.readStream.schema(decks.toDS().schema).parquet(deckDir)
      .as[(Long, Array[Byte])]), "pptx_stream")
    val streamedSlides = spark.table("pptx_stream").as[(Long, Int, String)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(streamedSlides == slides(decks.toDS()).collect()
      .sortBy(r => (r._1, r._2)).toSeq)
    assert(streamedSlides ==
      Seq((1L, 1, "Slide one"), (1L, 2, "Slide two"), (2L, -1, "")))

    val profiles = Seq("en" -> Seq("the" -> 5), "de" -> Seq("der" -> 5))
    val texts = Seq(1L -> "the cat", 2L -> "der hund", 3L -> "zzz")
    val textDir = stage(texts)
    def textStream = spark.readStream.schema(texts.toDS().schema)
      .parquet(textDir).as[(Long, String)]
    run(LangId.classifyAll(textStream, profiles), "langid_stream")
    val streamedLang = spark.table("langid_stream").as[LangId.Scored]
      .collect().sortBy(_.doc_id).toSeq
    assert(streamedLang ==
      LangId.classifyAll(texts.toDS(), profiles).collect().sortBy(_.doc_id).toSeq)
    assert(streamedLang.map(_.lang) == Seq("en", "de", "und"))

    val pages = Seq(
      1L -> """<script type="application/ld+json">{"a":1}</script>""",
      2L -> "<p>no structured data</p>")
    val pageDir = stage(pages)
    run(Html.jsonLdAll(spark.readStream.schema(pages.toDS().schema)
      .parquet(pageDir).as[(Long, String)]), "jsonld_stream")
    val streamedLd = spark.table("jsonld_stream").as[Html.JsonLdRow]
      .collect().sortBy(r => (r.doc_id, r.seq)).toSeq
    assert(streamedLd ==
      Html.jsonLdAll(pages.toDS()).collect().sortBy(r => (r.doc_id, r.seq)).toSeq)
    assert(streamedLd == Seq(Html.JsonLdRow(1L, 0, """{"a":1}""")))
  }

  test("streaming gopher + c4 + epub ≡ batch") {
    val texts = Seq(
      1L -> ("the solid value of good text and more " * 16),
      2L -> "the of and tiny text",
      3L -> "")
    val textDir = stage(texts)
    def textStream = spark.readStream.schema(texts.toDS().schema)
      .parquet(textDir).as[(Long, String)]
    run(Gopher.reportAll(textStream), "gopher_stream")
    val gStream = spark.table("gopher_stream").as[Gopher.Report]
      .collect().sortBy(_.doc_id).toSeq
    assert(gStream == Gopher.reportAll(texts.toDS()).collect().sortBy(_.doc_id).toSeq)
    assert(gStream.map(_.pass) == Seq(true, false, false))

    val pages = Seq(
      1L -> "First solid sentence right here.\nSecond solid sentence right here.\nThird solid sentence right here.",
      2L -> "short {")
    val pageDir = stage(pages)
    run(C4Clean.cleanAll(spark.readStream.schema(pages.toDS().schema)
      .parquet(pageDir).as[(Long, String)]), "c4_stream")
    val cStream = spark.table("c4_stream").as[C4Clean.Cleaned]
      .collect().sortBy(_.doc_id).toSeq
    assert(cStream == C4Clean.cleanAll(pages.toDS()).collect().sortBy(_.doc_id).toSeq)
    assert(cStream.map(_.keep) == Seq(true, false))

    val book = Epub.build(Seq(
      ("c1.xhtml", "<html><head><title>T1</title></head><body>one</body></html>")))
    val books = Seq((1L, book), (2L, "junk".getBytes("UTF-8")))
    def chapters(ds: Dataset[(Long, Array[Byte])]): Dataset[(Long, Int, String, String)] =
      ds.mapPartitions(_.flatMap { case (id, bytes) =>
        Epub.decode(bytes) match {
          case Some(cs) => cs.map(c => (id, c.pos, c.title, c.text))
          case None => Seq((id, -1, "", ""))
        }
      })
    val bookDir = stage(books)
    run(chapters(spark.readStream.schema(books.toDS().schema)
      .parquet(bookDir).as[(Long, Array[Byte])]), "epub_stream")
    val eStream = spark.table("epub_stream").as[(Long, Int, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(eStream == chapters(books.toDS()).collect().sortBy(_._1).toSeq)
    assert(eStream == Seq((1L, 0, "T1", "one"), (2L, -1, "", "")))
  }

  test("streaming vad + scene-cut ≡ batch") {
    def tone(a: Int, n: Int): Array[Short] =
      Array.tabulate[Short](n)(i => (if (i % 2 == 0) a else -a).toShort)
    val wav = Wav.encodePcm16(8000, tone(1, 64) ++ tone(1000, 64) ++ tone(1, 64))
    val audio = Seq(
      Multimodal.Blob(1L, wav),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8")))
    val aDir = stage(audio)
    run(Vad.segmentsAll(spark.readStream.schema(audio.toDS().schema)
      .parquet(aDir).as[Multimodal.Blob], 64, 1000000L), "vad_stream")
    val vStream = spark.table("vad_stream").as[Vad.Segment]
      .collect().sortBy(r => (r.doc_id, r.seg)).toSeq
    assert(vStream == Vad.segmentsAll(audio.toDS(), 64, 1000000L)
      .collect().sortBy(r => (r.doc_id, r.seg)).toSeq)
    assert(vStream == Seq(Vad.Segment(1L, 0, 1, 1, 1, 64L * 1000000)))

    val frames = Seq.tabulate(4)(f =>
      Array.fill(8)(if (f < 2) 0x0a0a0a else 0xc8c8c8))
    val video = Seq(
      Multimodal.Blob(1L, Avi.encode(4, 2, 33000, frames)),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8")))
    val vDir = stage(video)
    run(SceneCut.cutsAll(spark.readStream.schema(video.toDS().schema)
      .parquet(vDir).as[Multimodal.Blob], 1000L), "cut_stream")
    val cStream = spark.table("cut_stream").as[SceneCut.Cut]
      .collect().sortBy(r => (r.doc_id, r.cut)).toSeq
    assert(cStream == SceneCut.cutsAll(video.toDS(), 1000L)
      .collect().sortBy(r => (r.doc_id, r.cut)).toSeq)
    assert(cStream == Seq(SceneCut.Cut(1L, 0, 2, 8L * 3 * (0xc8 - 0x0a))))
  }

  test("streaming sentences + csv-sniff + html-tables + quality gate ≡ batch") {
    // the r12/r13 row-local text operators: sentence segmentation, CSV
    // dialect sniffing, table-cell harvest (colspan-aware), and the
    // pinned-weights quality classifier — all Dataset transforms, so
    // the same function must run unchanged over a stream
    import graft.llm.{CsvSniff, QualityClassifier, Sentences}
    val docs = Seq(
      1L -> "First one. Then two! Dr. Smith stays. tail",
      2L -> "name,score\nalpha,1\nbeta,2",
      3L -> "<table><tr><td colspan=\"2\">wide</td><td>end</td></tr></table>",
      4L -> ("the solid value of good text and more " * 8),
      5L -> "")
    val dir = stage(docs)
    def stream = spark.readStream.schema(docs.toDS().schema).parquet(dir)
      .as[(Long, String)]

    run(Sentences.splitAll(stream), "sent_stream")
    val sent = spark.table("sent_stream").as[Sentences.SentRow]
      .collect().sortBy(r => (r.doc_id, r.idx)).toSeq
    assert(sent == Sentences.splitAll(docs.toDS())
      .collect().sortBy(r => (r.doc_id, r.idx)).toSeq)
    assert(sent.filter(_.doc_id == 1L).map(_.sentence) ==
      Seq("First one.", "Then two!", "Dr. Smith stays. tail"))

    run(CsvSniff.sniffAll(stream), "sniff_stream")
    val sniff = spark.table("sniff_stream").as[CsvSniff.DialectRow]
      .collect().sortBy(_.doc_id).toSeq
    assert(sniff == CsvSniff.sniffAll(docs.toDS())
      .collect().sortBy(_.doc_id).toSeq)
    assert(sniff.find(_.doc_id == 2L).exists(d => d.delim == "," && d.header))

    run(Html.tablesAll(stream), "tbl_stream")
    val tbl = spark.table("tbl_stream").as[Html.TableCellRow]
      .collect().sortBy(r => (r.doc_id, r.tbl, r.row, r.col)).toSeq
    assert(tbl == Html.tablesAll(docs.toDS())
      .collect().sortBy(r => (r.doc_id, r.tbl, r.row, r.col)).toSeq)
    assert(tbl.map(c => (c.col, c.text)) == Seq((0, "wide"), (2, "end")))

    run(QualityClassifier.scoreAll(stream), "qc_stream")
    val qc = spark.table("qc_stream").as[QualityClassifier.Scored]
      .collect().sortBy(_.doc_id).toSeq
    assert(qc == QualityClassifier.scoreAll(docs.toDS())
      .collect().sortBy(_.doc_id).toSeq)
    assert(qc.filter(_.keep).map(_.doc_id) == Seq(4L))
  }

  test("streaming adpcm + rle8 ≡ batch (the r13 codec tier)") {
    import graft.llm.{Adpcm, Rle8}
    val blobs = Seq(
      Multimodal.Blob(1L, Array[Byte](0, 0, 0, 0, 0x87.toByte)),
      Multimodal.Blob(2L, Array[Byte](1, 2))) // short → quarantine
    val dir = stage(blobs)
    def stream = spark.readStream.schema(blobs.toDS().schema).parquet(dir)
      .as[Multimodal.Blob]
    run(Adpcm.decodeAll(stream), "adpcm_stream")
    val streamed = spark.table("adpcm_stream").as[Adpcm.SampleRow]
      .collect().sortBy(r => (r.doc_id, r.i)).toSeq
    assert(streamed == Adpcm.decodeAll(blobs.toDS())
      .collect().sortBy(r => (r.doc_id, r.i)).toSeq)
    assert(streamed.map(_.sample) == Seq(0, 11, 9)) // doc 2 quarantined
    // Rle8.decode is a pure function (no Dataset wrapper) — parity holds
    // by construction, but pin that it serializes into a streaming map
    val rleStream = stream.map { b =>
      (b.doc_id, Rle8.decode(b.payload, 2, 1).map(_.sum).getOrElse(-1))
    }
    run(rleStream, "rle8_stream")
    val rle = spark.table("rle8_stream").as[(Long, Int)]
      .collect().sortBy(_._1).toSeq
    assert(rle.map(_._2) == Seq(-1, -1)) // neither blob is a valid stream
  }

  test("streaming vtt + tga ≡ batch (r14 format tier)") {
    import graft.llm.{Tga, Vtt}
    val vttText = "WEBVTT\n\nc0\n00:01.000 --> 00:02.500 align:start\nhi\n"
    val textDocs = Seq((1L, vttText), (2L, "not vtt"))
    val tdir = stage(textDocs)
    def tstream = spark.readStream
      .schema(textDocs.toDS().schema).parquet(tdir)
      .as[(Long, String)]
    run(Vtt.parseAll(tstream), "vtt_stream")
    val vs = spark.table("vtt_stream").as[Vtt.CueRow]
      .collect().sortBy(r => (r.doc_id, r.seq)).toSeq
    assert(vs == Vtt.parseAll(textDocs.toDS())
      .collect().sortBy(r => (r.doc_id, r.seq)).toSeq)
    assert(vs == Seq(Vtt.CueRow(1L, 0, "c0", 1000000L, 2500000L,
      "align:start", "hi")))
    // Tga.decode is a pure function — pin that it serializes into a
    // streaming map (the Rle8 treatment)
    val tiny = Array[Byte](0, 0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      1, 0, 1, 0, 24, 0x20, 3, 2, 1) // 1x1 top-down, pixel rgb(1,2,3)
    val blobs = Seq(Multimodal.Blob(1L, tiny), Multimodal.Blob(2L, tiny.take(5)))
    val bdir = stage(blobs)
    val tgaStream = spark.readStream.schema(blobs.toDS().schema).parquet(bdir)
      .as[Multimodal.Blob]
      .map(b => (b.doc_id, Tga.decode(b.payload).map(_.px.sum).getOrElse(-1)))
    run(tgaStream, "tga_stream")
    assert(spark.table("tga_stream").as[(Long, Int)]
      .collect().sortBy(_._1).toSeq ==
      Seq((1L, (1 << 16) | (2 << 8) | 3), (2L, -1)))
  }

  test("streaming g711 ≡ batch (stateless byte expansion)") {
    import graft.llm.G711
    val blobs = Seq(
      Multimodal.Blob(1L, Array[Byte](0x00, 0x7f, 0xaa.toByte)),
      Multimodal.Blob(2L, Array.emptyByteArray)) // empty → quarantine
    val dir = stage(blobs)
    def stream = spark.readStream.schema(blobs.toDS().schema).parquet(dir)
      .as[Multimodal.Blob]
    run(G711.decodeAll(stream), "g711_stream")
    val streamed = spark.table("g711_stream").as[G711.SampleRow]
      .collect().sortBy(r => (r.doc_id, r.i)).toSeq
    assert(streamed == G711.decodeAll(blobs.toDS())
      .collect().sortBy(r => (r.doc_id, r.i)).toSeq)
    assert(streamed.map(_.mu) == Seq(-32124, 0, G711.mulaw(0xaa)))
    assert(streamed.map(_.al) == Seq(G711.alaw(0x00), G711.alaw(0x7f), 32256))
  }

  test("streaming tar.gz chain ≡ batch") {
    def targz(id: Long): Array[Byte] = {
      val inner = Tar.build(Seq((s"d$id.txt", s"text $id".getBytes("UTF-8"), '0')))
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.GZIPOutputStream(bos)
      z.write(inner); z.close()
      bos.toByteArray
    }
    val docs = Seq((1L, targz(1)), (2L, "not a tarball".getBytes("UTF-8")))
    def decode(ds: Dataset[(Long, Array[Byte])]): Dataset[(Long, String, String)] =
      ds.mapPartitions(_.flatMap { case (id, bytes) =>
        val ms = Gzip.decode(bytes).flatMap(Tar.decode)
        ms match {
          case Some(list) => list.map(m => (id, m.name, new String(m.content, "UTF-8")))
          case None => Seq((id, "<quarantine>", ""))
        }
      })
    val dir = stage(docs)
    val stream = spark.readStream.schema(docs.toDS().schema).parquet(dir)
      .as[(Long, Array[Byte])]
    run(decode(stream), "tar_stream")
    val streamed = spark.table("tar_stream").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(streamed == decode(docs.toDS()).collect().sortBy(_._1).toSeq)
    assert(streamed == Seq((1L, "d1.txt", "text 1"), (2L, "<quarantine>", "")))
  }

  test("streaming access-log + qoi + pnm ≡ batch (r14 continuation tier)") {
    import graft.llm.{AccessLog, Pnm, Qoi}
    val lines = Seq(
      (1L, "10.0.0.1 - u1 [10/Oct/2000:13:55:36 +0000] " +
        "\"GET /a/1 HTTP/1.1\" 200 512 \"-\" \"graft/1.0\""),
      (2L, "10.0.0.2 - u2 [10/Oct/2000:13:55:37 +0000] " +
        "\"POST /b/2 HTTP/1.1\" 404 -"),
      (3L, "malformed line"))
    val ldir = stage(lines)
    def lstream = spark.readStream
      .schema(lines.toDS().schema).parquet(ldir).as[(Long, String)]
    run(AccessLog.parseAll(lstream), "clf_stream")
    val streamed = spark.table("clf_stream").as[AccessLog.LogLine]
      .collect().sortBy(_.doc_id).toSeq
    assert(streamed == AccessLog.parseAll(lines.toDS())
      .collect().sortBy(_.doc_id).toSeq)
    assert(streamed.map(r => (r.doc_id, r.method, r.status, r.bytes)) ==
      Seq((1L, "GET", 200, 512L), (2L, "POST", 404, -1L)))
    // Qoi.decode / Pnm.decode are pure functions — pin that they
    // serialize into a streaming map (the Tga/Rle8 treatment)
    val qoiTiny = "qoif".getBytes ++
      Array[Byte](0, 0, 0, 1, 0, 0, 0, 1, 3, 0,        // 1×1, 3ch
        0xfe.toByte, 5, 6, 7, 0, 0, 0, 0, 0, 0, 0, 1)  // RGB + marker
    val pnmTiny = "P5 1 1 255\n".getBytes ++ Array[Byte](9)
    val blobs = Seq(Multimodal.Blob(1L, qoiTiny),
      Multimodal.Blob(2L, pnmTiny),
      Multimodal.Blob(3L, Array[Byte](1, 2, 3)))
    val bdir = stage(blobs)
    val decStream = spark.readStream.schema(blobs.toDS().schema).parquet(bdir)
      .as[Multimodal.Blob]
      .map { b =>
        val q = Qoi.decode(b.payload).map(_.px.head & 0xffffff).getOrElse(-1)
        val p = Pnm.decode(b.payload).map(_.px.head).getOrElse(-1)
        (b.doc_id, q, p)
      }
    run(decStream, "qoi_pnm_stream")
    assert(spark.table("qoi_pnm_stream").as[(Long, Int, Int)]
      .collect().sortBy(_._1).toSeq ==
      Seq((1L, (5 << 16) | (6 << 8) | 7, -1), (2L, -1, 0x090909),
        (3L, -1, -1)))
  }

  test("streaming fixed-width + ico + ogg ≡ batch (r14 continuation tier 2)") {
    import graft.llm.{FixedWidth, Ico, Ogg}
    import org.apache.spark.sql.functions.col
    // FixedWidth.project is a Column pipeline — identical over a stream
    val lines = Seq((1L, "0001ab 0100"), (2L, "short"))
    val ldir = stage(lines)
    val layout = Seq(FixedWidth.Field("id", 1, 4),
      FixedWidth.Field("tag", 5, 3), FixedWidth.Field("amt", 8, 4))
    def parse(df: org.apache.spark.sql.DataFrame) =
      FixedWidth.project(df, col("_2"), layout)
    run(parse(spark.readStream.schema(lines.toDS().schema).parquet(ldir))
      .as[(String, String, String)], "fw_stream")
    val fwStreamed = spark.table("fw_stream").as[(String, String, String)]
      .collect().toSeq.sorted
    assert(fwStreamed == parse(lines.toDF("_1", "_2"))
      .as[(String, String, String)].collect().toSeq.sorted)
    assert(fwStreamed == Seq(("0001", "ab ", "0100")))
    // Ico.decode / Ogg.decode are pure functions — pin serialization
    // into a streaming map (the Qoi/Pnm treatment)
    val icoBytes = Ico.build(Seq((1, 1, Array(0xff010203), (_, _) => true)))
    val oggBytes = Ogg.buildPage(9L, 0L, 42L, 2, Seq(3), Array[Byte](1, 2, 3))
    val blobs = Seq(Multimodal.Blob(1L, icoBytes), Multimodal.Blob(2L, oggBytes),
      Multimodal.Blob(3L, Array[Byte](1, 2)))
    val bdir = stage(blobs)
    val decStream = spark.readStream.schema(blobs.toDS().schema).parquet(bdir)
      .as[Multimodal.Blob]
      .map { b =>
        val ic = Ico.decode(b.payload).map(_.map(_.maskSet).sum).getOrElse(-1)
        val og = Ogg.decode(b.payload).fold(0L)(_.map(_.granule).sum)
        (b.doc_id, ic, og)
      }
    run(decStream, "ico_ogg_stream")
    assert(spark.table("ico_ogg_stream").as[(Long, Int, Long)]
      .collect().sortBy(_._1).toSeq ==
      Seq((1L, 1, 0L), (2L, -1, 42L), (3L, -1, 0L)))
  }

  test("streaming latex + punycode + magic sniff ≡ batch (r14 text tier)") {
    import graft.llm.{Latex, MagicSniff, Punycode}
    val docs = Seq(
      (1L, "\\title{T}\\begin{document}body $x$\\end{document}"),
      (2L, "plain % c\nrest"))
    val dir = stage(docs)
    def stream = spark.readStream.schema(docs.toDS().schema).parquet(dir)
      .as[(Long, String)]
    run(Latex.stripAll(stream), "latex_stream")
    val streamed = spark.table("latex_stream").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(streamed == Latex.stripAll(docs.toDS())
      .collect().sortBy(_._1).toSeq)
    assert(streamed == Seq((1L, "Tbody "), (2L, "plain rest")))
    // Punycode.decodeHost / MagicSniff.sniff serialize into a map
    val hosts = Seq((1L, "xn--caf-dma.x"), (2L, "bad.xn--999999999999999999"))
    val hdir = stage(hosts)
    val hs = spark.readStream.schema(hosts.toDS().schema).parquet(hdir)
      .as[(Long, String)]
      .map { case (id, h) =>
        (id, Punycode.decodeHost(h).getOrElse("<quarantine>"),
          MagicSniff.sniff(h.getBytes)) }
    run(hs, "puny_stream")
    assert(spark.table("puny_stream").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq ==
      Seq((1L, "café.x", "unknown"), (2L, "<quarantine>", "unknown")))
  }

  test("streaming webp census ≡ batch (r15 image-container tier)") {
    import graft.llm.Webp
    // Webp.decode is a pure function — pin serialization into a
    // streaming map (the Ico/Ogg treatment)
    val blobs = Seq(
      Multimodal.Blob(1L, Webp.buildVp8(64, 32)),
      Multimodal.Blob(2L, Webp.buildVp8l(10, 20)),
      Multimodal.Blob(3L, Webp.buildVp8(64, 32).dropRight(1)))
    val bdir = stage(blobs)
    def decode(b: Multimodal.Blob) = Webp.decode(b.payload)
      .map(f => (b.doc_id, f.format, f.width.toLong * 100000 + f.height))
      .getOrElse((b.doc_id, "quarantine", -1L))
    val decStream = spark.readStream.schema(blobs.toDS().schema)
      .parquet(bdir).as[Multimodal.Blob].map(decode)
    run(decStream, "webp_stream")
    val streamed = spark.table("webp_stream").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(streamed == blobs.map(decode).sortBy(_._1))
    assert(streamed == Seq((1L, "VP8", 6400032L), (2L, "VP8L", 1000020L),
      (3L, "quarantine", -1L)))
  }

  test("streaming flac metadata ≡ batch (r15 audio-container tier)") {
    import graft.llm.Flac
    // Flac.decode is a pure function — pin serialization into a
    // streaming map (the Ico/Ogg treatment)
    val good = Flac.build(Seq(
      0 -> Flac.buildStreamInfo(4096, 4096, 14, 14, 22050, 2, 16, 99L,
        Array.fill[Byte](16)(7)),
      4 -> Flac.buildVorbisComment("v", Seq("TITLE" -> "t"))))
    val blobs = Seq(Multimodal.Blob(1L, good),
      Multimodal.Blob(2L, good.updated(0, 'x'.toByte)))
    val bdir = stage(blobs)
    def decode(b: Multimodal.Blob) = Flac.decode(b.payload)
      .map(m => (b.doc_id, m.info.sampleRate, m.comments.size))
      .getOrElse((b.doc_id, -1, -1))
    val decStream = spark.readStream.schema(blobs.toDS().schema)
      .parquet(bdir).as[Multimodal.Blob].map(decode)
    run(decStream, "flac_stream")
    val streamed = spark.table("flac_stream").as[(Long, Int, Int)]
      .collect().sortBy(_._1).toSeq
    assert(streamed == blobs.map(decode).sortBy(_._1))
    assert(streamed == Seq((1L, 22050, 1), (2L, -1, -1)))
  }

  test("streaming content-defined chunking ≡ batch (r16 codegen kernel)") {
    import graft.llm.Cdc
    // Cdc.withChunks is one codegen'd Column expression — row-local by
    // construction, so the SAME call runs over a streaming frame; the
    // fixtures cover the r16 widened-arithmetic classes (CJK + emoji)
    val docs = Seq(
      1L -> ("the fast query " * 30),
      2L -> ("机器学习的数据管道需要内容分块来去重复" * 3),
      3L -> ("emoji 😀 inside an otherwise ascii window " * 3),
      4L -> "short")
    val dir = stage(docs)
    val sdf = spark.readStream.schema(docs.toDS().schema).parquet(dir)
      .toDF("doc_id", "text")
    run(Cdc.withChunks(sdf, "text").selectExpr("doc_id",
      "size(chunks) AS n", "chunks[0] AS first").as[(Long, Int, String)],
      "cdc_stream")
    val streamed = spark.table("cdc_stream").as[(Long, Int, String)]
      .collect().sortBy(_._1).toSeq
    val batch = Cdc.withChunks(docs.toDF("doc_id", "text"), "text")
      .selectExpr("doc_id", "size(chunks) AS n", "chunks[0] AS first")
      .as[(Long, Int, String)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed.map(_._1) == Seq(1L, 2L, 3L, 4L))
    // the chunker actually cut the long docs (not one whole-doc chunk)
    assert(streamed.head._2 > 1)
  }

  test("streaming unigram segmentation ≡ batch segmentAll (r16)") {
    import graft.llm.Unigram
    // Unigram.segment is the pure row-local kernel; segmentAll's
    // distinct-word dictionary join is a BATCH optimization of the
    // identical semantics — parity pins that a streaming per-row
    // flatMap yields exactly the dictionary-join rows
    val docs = Seq(1L -> "the fast join ab sort", 2L -> "winqdow value",
      3L -> "  ")
    val dir = stage(docs)
    val costs = Unigram.DemoVocab.toMap
    val maxPieceLen = costs.keysIterator.map(_.length).max
    def rowSegment(doc: (Long, String)): Iterator[(Long, Int, Int, String)] =
      doc._2.trim.split("\\s+").iterator.filter(_.nonEmpty).zipWithIndex
        .flatMap { case (w, widx) =>
          Unigram.segment(w, costs, maxPieceLen, 32) match {
            case Some(ps) => ps.iterator.zipWithIndex
              .map { case (t, k) => (doc._1, widx, k, t) }
            case None => Iterator.single((doc._1, widx, 0, Unigram.Unk))
          }
        }
    val sdf = spark.readStream.schema(docs.toDS().schema).parquet(dir)
      .as[(Long, String)].flatMap(rowSegment _)
    run(sdf, "unigram_stream")
    val streamed = spark.table("unigram_stream")
      .as[(Long, Int, Int, String)].collect().sortBy(r => (r._1, r._2, r._3))
      .toSeq
    val batch = Unigram.segmentAll(docs.toDF("doc_id", "text"))
      .as[(Long, Int, Int, String)].collect().sortBy(r => (r._1, r._2, r._3))
      .toSeq
    assert(streamed == batch)
    // the <unk> closure fired (q has no piece) and ties broke longest
    assert(streamed.exists(_._4 == Unigram.Unk))
    assert(streamed.exists(_._4 == "ab"))
  }
}
