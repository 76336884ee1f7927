package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("blob decode: byte statistics match the payload exactly") {
    val docs = Seq((7L, "AbZ")).toDF("doc_id", "text")
    val out = Multimodal.decode(Multimodal.asBlobs(docs)).collect().head
    assert(out.doc_id == 7L)
    assert(out.n_bytes == 3L)
    assert(out.first_byte == 'A'.toLong)
    assert(out.last_byte == 'Z'.toLong)
    assert(out.byte_sum == ('A'.toInt + 'b'.toInt + 'Z'.toInt).toLong)
  }

  test("decode is distributed: partition count preserved through mapPartitions") {
    val docs = graft.Tables(spark, sf0001, "documents").repartition(3)
    val decoded = Multimodal.decode(Multimodal.asBlobs(docs))
    assert(decoded.rdd.getNumPartitions == 3)
    assert(decoded.count() == docs.count())
  }

  test("frame sampling keeps every stride-th frame and drops the ragged tail") {
    // 10 bytes, 3-byte frames -> frames 0..2 (tail byte dropped); stride 2 -> 0, 2
    val docs = Seq((1L, "ABCDEFGHIJ")).toDF("doc_id", "text")
    val frames = Multimodal.frameSample(Multimodal.asBlobs(docs),
      frameBytes = 3, stride = 2).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(frames.forall(_.n_bytes == 3L))
    assert(frames(0).byte_sum == ('A' + 'B' + 'C').toLong)
    assert(frames(1).byte_sum == ('G' + 'H' + 'I').toLong)
    // payload shorter than one frame -> zero rows (the 0..n contract)
    val tiny = Seq((2L, "AB")).toDF("doc_id", "text")
    assert(Multimodal.frameSample(Multimodal.asBlobs(tiny), 3, 1).count() == 0)
  }

  test("resize pools to a fixed number of bins regardless of payload size") {
    val docs = Seq((1L, "AAAABBBB"), (2L, "AB")).toDF("doc_id", "text")
    val out = Multimodal.resize(Multimodal.asBlobs(docs), bins = 4)
      .collect().map(r => r.doc_id -> r.bins).toMap
    assert(out(1L).length == 4 && out(2L).length == 4)
    assert(out(1L).toSeq == Seq('A'.toDouble, 'A'.toDouble, 'B'.toDouble, 'B'.toDouble))
    // 2-byte payload into 4 bins: two empty buckets pool to 0.0
    assert(out(2L).count(_ == 0.0) == 2)
  }

  test("audioFrames: STFT windowing, ragged tail dropped, non-mono quarantined") {
    val tone = Array.tabulate[Short](100)(i => ((i % 20 - 10) * 100).toShort)
    val blobs = Seq(
      Multimodal.Blob(1L, Wav.encodePcm16(8000, tone)),
      Multimodal.Blob(2L, Wav.encodePcm16(8000, tone, channels = 2)), // stereo: skipped
      Multimodal.Blob(3L, "junk".getBytes("UTF-8")),
      Multimodal.Blob(4L, Wav.encodePcm16(8000, tone.take(10)))) // shorter than a frame
      .toDS()
    val frames = Multimodal.audioFrames(blobs, frameSamples = 64, hopSamples = 32)
      .collect()
    // only doc 1 yields frames: (100-64)/32+1 = 2 of them
    assert(frames.forall(_.doc_id == 1L))
    assert(frames.map(_.frame_idx).sorted.toSeq == Seq(0, 1))
    // frame 0 recomputed by hand
    val w = tone.take(64).map(_.toInt)
    val expectRms = math.sqrt(w.map(v => v.toLong * v).sum.toDouble / 64)
    val f0 = frames.find(_.frame_idx == 0).get
    assert(f0.peak == w.map(math.abs).max)
    assert(f0.rms == expectRms)
    val expectZc = w.sliding(2).count(p =>
      p(0) != 0 && p(1) != 0 && (p(0) < 0) != (p(1) < 0))
    assert(f0.zero_crossings == expectZc)
  }

  test("resizeImage: exact area-mapped pooling; undecodable/too-small skipped") {
    // 4x2 image onto a 2x1 grid: left cell = pixels x<2, right = x>=2
    val px = Array(
      0x010203, 0x040506, 0x070809, 0x0a0b0c,
      0x0d0e0f, 0x101112, 0x131415, 0x161718)
    val blobs = Seq(
      Multimodal.Blob(1L, Bmp.encode24(4, 2, px)),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8")),
      Multimodal.Blob(3L, Bmp.encode24(1, 1, Array(0xffffff)))) // smaller than grid
      .toDS()
    val cells = Multimodal.resizeImage(blobs, outW = 2, outH = 1).collect()
    assert(cells.forall(_.doc_id == 1L))
    assert(cells.length == 2)
    val left = cells.find(c => c.cell_x == 0).get
    val leftPx = Seq(px(0), px(1), px(4), px(5))
    assert(left.n_px == 4L)
    assert(left.mean_r == leftPx.map(p => (p >> 16) & 0xff).sum.toDouble / 4)
    assert(left.mean_b == leftPx.map(p => p & 0xff).sum.toDouble / 4)
  }

  test("every Codec wrapper keeps its quarantine convention: one invalid row, or no rows") {
    val tone = Array.tabulate[Short](400)(i => ((i % 40 - 20) * 500).toShort)
    val wav = Wav.encodePcm16(8000, tone)
    val bmp = Bmp.encode24(12, 10, Array.tabulate(120)(i => i * 0x010203))
    val avi = Avi.encode(2, 2, 40000L, Seq(Array.fill(4)(0), Array.fill(4)(0xffffff)))
    val fixture = CodecFuzzSpec.codecs.toMap[Codec, Array[Byte]]
    // (wrapper, a payload it decodes, valid-flag convention?, run)
    val wrappers: Seq[(String, Array[Byte], Boolean, Dataset[Multimodal.Blob] => DataFrame)] = Seq(
      ("decodeWav", wav, true, b => Multimodal.decodeWav(b).toDF()),
      ("decodeBmp", bmp, true, b => Multimodal.decodeBmp(b).toDF()),
      ("decodePng", fixture(Png), true, b => Multimodal.decodePng(b).toDF()),
      ("decodeGif", fixture(Gif), true, b => Multimodal.decodeGif(b).toDF()),
      ("decodeJpeg", fixture(Jpeg), true, b => Multimodal.decodeJpeg(b).toDF()),
      ("decodeMp3Meta", fixture(Mp3), true, b => Multimodal.decodeMp3Meta(b).toDF()),
      ("decodeMp4Meta", fixture(Mp4), true, b => Multimodal.decodeMp4Meta(b).toDF()),
      ("decodeAviMeta", avi, true, b => Multimodal.decodeAviMeta(b).toDF()),
      ("Gzip.decodeAll", fixture(Gzip), true, b => Gzip.decodeAll(b).toDF()),
      ("Id3.tagRows", fixture(Id3), true, b => Id3.tagRows(b).toDF()),
      ("AudioHash.aHash", wav, true, b => AudioHash.aHash(b).toDF()),
      ("ImageHash.dHash", bmp, true, b => ImageHash.dHash(b).toDF()),
      ("audioFrames", wav, false, b => Multimodal.audioFrames(b, 64, 32).toDF()),
      ("resizeImage", bmp, false, b => Multimodal.resizeImage(b, 2, 2).toDF()),
      ("videoFrames", avi, false, b => Multimodal.videoFrames(b, 1).toDF()),
      ("Adpcm.decodeAll", fixture(Adpcm), false, b => Adpcm.decodeAll(b).toDF()),
      ("G711.decodeAll", fixture(G711), false, b => G711.decodeAll(b).toDF()),
      ("AvroIngest.parseAll", fixture(AvroIngest), false, b => AvroIngest.parseAll(b).toDF()),
      ("Warc.ingest", fixture(Warc), false, b => Warc.ingest(b).toDF()),
      ("SceneCut.cutsAll", avi, false, b => SceneCut.cutsAll(b, 0L).toDF()),
      ("Vad.segmentsAll", wav, false, b => Vad.segmentsAll(b, 50, 0L).toDF()))
    wrappers.foreach { case (name, good, flagged, run) =>
      // G.711 and IMA ADPCM are headerless sample streams: junk bytes decode
      val headerless = name.startsWith("G711") || name.startsWith("Adpcm")
      val bad = Seq(1L -> null, 2L -> Array.emptyByteArray) ++
        (if (headerless) Nil else Seq(3L -> "not a media payload".getBytes("UTF-8")))
      val blobs = (bad :+ (9L -> good)).map { case (id, p) => Multimodal.Blob(id, p) }.toDS()
      val rows = run(blobs).collect()
      val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
      bad.foreach { case (id, _) =>
        if (flagged) assert(byDoc.get(id).map(_.map(_.getAs[Boolean]("valid")).toSeq).contains(Seq(false)),
          s"$name: doc $id must give exactly one invalid row")
        else assert(!byDoc.contains(id), s"$name: doc $id must give no rows")
      }
      assert(byDoc.get(9L).exists(_.nonEmpty), s"$name: the valid blob gave no rows")
      if (flagged) assert(byDoc(9L).map(_.getAs[Boolean]("valid")).toSeq == Seq(true), s"$name: valid row")
    }
  }
}
