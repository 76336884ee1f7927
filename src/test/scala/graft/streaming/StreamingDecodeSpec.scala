package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.llm.{Avi, Bmp, Gzip, Multimodal, Png, Url, Warc, Wav}

/** B35 × B37: the real media decoders run unchanged inside Structured
  * Streaming — `decodeWav`/`decodeBmp` are `Dataset` transformations
  * (mapPartitions, no aggregation state), so a streaming blob ingest is
  * the same code path as batch; this spec pins the parity including the
  * quarantine rows, which a streaming pipeline must carry (not drop) so
  * dirty payloads land in an auditable sink. Source = parquet file stream
  * (the repo's streaming-spec convention), Trigger.AvailableNow. */
class StreamingDecodeSpec extends SparkSpec {
  import spark.implicits._

  private val tone: Array[Short] =
    Array.tabulate(300)(i => (((i * 31) % 4096 - 2048) * 8).toShort)

  private def stage(blobs: Seq[Multimodal.Blob]): String = {
    val dir = Files.createTempDirectory("graft-blobs-").toString
    blobs.toDS().write.mode("overwrite").parquet(dir)
    dir
  }

  private def streamOf(dir: String) =
    spark.readStream
      .schema(Seq.empty[Multimodal.Blob].toDS().schema)
      .parquet(dir)
      .as[Multimodal.Blob]

  test("streaming WAV decode ≡ batch decode, quarantine rows included") {
    val blobs = Seq(
      Multimodal.Blob(1L, Wav.encodePcm16(8000, tone)),
      Multimodal.Blob(2L, "not audio at all".getBytes("UTF-8")),
      Multimodal.Blob(3L, Wav.encodePcm16(16000, tone)))
    val q = Multimodal.decodeWav(streamOf(stage(blobs)))
      .writeStream.format("memory").queryName("wav_decoded")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-").toString)
      .start()
    q.awaitTermination()
    val streamed = spark.table("wav_decoded")
      .as[Multimodal.WavFeatures].collect().sortBy(_.doc_id).toSeq
    val batch = Multimodal.decodeWav(blobs.toDS()).collect().sortBy(_.doc_id).toSeq
    assert(streamed == batch)
    assert(streamed.count(!_.valid) == 1, "quarantine row missing from the stream")
  }

  test("streaming BMP decode ≡ batch decode") {
    val px = Array.tabulate(40)(i => (i * 97) % 0x1000000)
    val imgs = Seq(
      Multimodal.Blob(1L, Bmp.encode24(10, 4, px)),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8")))
    val q = Multimodal.decodeBmp(streamOf(stage(imgs)))
      .writeStream.format("memory").queryName("bmp_decoded")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-").toString)
      .start()
    q.awaitTermination()
    val streamed = spark.table("bmp_decoded")
      .as[Multimodal.ImageFeatures].collect().sortBy(_.doc_id).toSeq
    val batch = Multimodal.decodeBmp(imgs.toDS()).collect().sortBy(_.doc_id).toSeq
    assert(streamed == batch)
  }

  test("streaming AVI frame sampling ≡ batch (0..n rows per blob under streaming)") {
    val frame = Array.tabulate(8 * 4)(i => (i * 77) % 0x1000000)
    val blobs = Seq(
      Multimodal.Blob(1L, Avi.encode(8, 4, 40000L, Seq(frame, frame.reverse, frame))),
      Multimodal.Blob(2L, "not video".getBytes("UTF-8")))
    val q = Multimodal.videoFrames(streamOf(stage(blobs)), stride = 2)
      .writeStream.format("memory").queryName("avi_frames")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-").toString)
      .start()
    q.awaitTermination()
    val streamed = spark.table("avi_frames")
      .as[Multimodal.VideoFrame].collect().sortBy(f => (f.doc_id, f.frame_idx)).toSeq
    val batch = Multimodal.videoFrames(blobs.toDS(), stride = 2)
      .collect().sortBy(f => (f.doc_id, f.frame_idx)).toSeq
    assert(streamed == batch)
    assert(streamed.map(_.frame_idx) == Seq(0, 2), "quarantine-by-omission broke")
  }

  test("streaming .warc.gz ingest ≡ batch (gzip → WARC → HTTP under streaming)") {
    val rec = new String(Warc.encodeResponse(
      "https://h.com/p", "2026-01-01T00:00:00Z", 200, "text/html", "body"), "UTF-8")
    val blobs = Seq(
      Multimodal.Blob(1L, Gzip.encodeMembers(Seq(rec, rec))),
      Multimodal.Blob(2L, "garbage".getBytes("UTF-8")))
    def chain(ds: org.apache.spark.sql.Dataset[Multimodal.Blob]) =
      Warc.ingest(ds.map(b => Multimodal.Blob(b.doc_id,
        Gzip.text(b.payload).map(_.getBytes("UTF-8")).getOrElse(Array.emptyByteArray))))
    val q = chain(streamOf(stage(blobs)))
      .writeStream.format("memory").queryName("warc_rows")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-").toString)
      .start()
    q.awaitTermination()
    val streamed = spark.table("warc_rows")
      .as[Warc.IngestRow].collect().sortBy(r => (r.doc_id, r.rec_idx)).toSeq
    val batch = chain(blobs.toDS()).collect().sortBy(r => (r.doc_id, r.rec_idx)).toSeq
    assert(streamed == batch)
    assert(streamed.map(_.rec_idx) == Seq(0, 1))
  }

  test("streaming URL canonicalization ≡ batch, valid flag carried") {
    val urls = Seq(1L -> "HTTP://A.io:80/x/../y?utm_source=s&k=1#f", 2L -> "bad url")
    val dir = Files.createTempDirectory("graft-urls-").toString
    urls.toDF("doc_id", "url").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(urls.toDF("doc_id", "url").schema).parquet(dir)
      .as[(Long, String)]
    val q = Url.canonicalizeAll(stream)
      .writeStream.format("memory").queryName("url_rows")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-").toString)
      .start()
    q.awaitTermination()
    val streamed = spark.table("url_rows")
      .as[Url.UrlRow].collect().sortBy(_.doc_id).toSeq
    val batch = Url.canonicalizeAll(urls.toDS()).collect().sortBy(_.doc_id).toSeq
    assert(streamed == batch)
    assert(streamed.map(_.valid) == Seq(true, false))
  }

  test("streaming PNG decode ≡ batch decode (ImageIO path under streaming)") {
    val px = Array.tabulate(40)(i => (i * 131) % 0x1000000)
    val imgs = Seq(
      Multimodal.Blob(1L, Png.encodeRgb(8, 5, px)),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8")))
    val q = Multimodal.decodePng(streamOf(stage(imgs)))
      .writeStream.format("memory").queryName("png_decoded")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-").toString)
      .start()
    q.awaitTermination()
    val streamed = spark.table("png_decoded")
      .as[Multimodal.ImageFeatures].collect().sortBy(_.doc_id).toSeq
    val batch = Multimodal.decodePng(imgs.toDS()).collect().sortBy(_.doc_id).toSeq
    assert(streamed == batch)
    assert(streamed.count(!_.valid) == 1)
  }
}
