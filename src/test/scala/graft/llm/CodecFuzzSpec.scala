package graft.llm

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Seeded mutation fuzzing of every [[Codec]]: each codec's fixture bytes
  * take [[CodecFuzzSpec.Mutations]] mutations drawn from one ScalaCheck
  * generator at a fixed seed — byte flips, truncations, and extreme
  * 4-byte fields (0, -1, Int.Max/Min, 65536 in either byte order) — and
  * every decode must return without throwing, within
  * [[Codec.MaxDecodedBytes]] of decoded output, in at most 2 s. Spark is
  * not started. [[CodecContractSpec]] checks that [[CodecFuzzSpec.codecs]]
  * names every codec in the sources. */
class CodecFuzzSpec extends AnyFunSuite {
  import CodecFuzzSpec._

  private val MaxDecodeNanos = 2000L * 1000 * 1000

  codecs.foreach { case (codec, fixture) =>
    val name = nameOf(codec)
    test(s"$name: the fixture decodes; $Mutations seeded mutations never throw, stay bounded and fast") {
      assert(codec.decode(fixture).isDefined, s"$name fixture must decode")
      val gen = mutation(fixture)
      var slowest = 0L
      var quarantined = 0
      (0 until Mutations).foreach { i =>
        val bytes = gen.pureApply(Gen.Parameters.default, Seed(SeedBase + i))
        val t0 = System.nanoTime()
        val out = try codec.decode(bytes) catch {
          case t: Throwable => fail(s"$name threw on mutation $i: $t")
        }
        val took = System.nanoTime() - t0
        slowest = math.max(slowest, took)
        if (out.isEmpty) quarantined += 1
        assert(took <= MaxDecodeNanos, s"$name mutation $i took ${took / 1000000} ms")
        val size = out.fold(0L)(sizeOf)
        assert(size <= Codec.MaxDecodedBytes, s"$name mutation $i decoded $size bytes")
      }
      info(f"$name: slowest decode ${slowest / 1e6}%.1f ms, $quarantined of $Mutations quarantined")
    }
  }
}

object CodecFuzzSpec {

  val Mutations = 2000
  val SeedBase = 20261019L

  def nameOf(codec: Codec): String = codec.getClass.getSimpleName.stripSuffix("$")

  /** One mutation of `f`: flip 1–4 bytes, truncate, or overwrite a
    * 4-byte field with an extreme value in either byte order. */
  def mutation(f: Array[Byte]): Gen[Array[Byte]] = {
    val flips = for {
      n <- Gen.choose(1, 4)
      at <- Gen.listOfN(n, Gen.zip(Gen.choose(0, f.length - 1), Gen.choose(1, 255)))
    } yield {
      val c = f.clone()
      at.foreach { case (i, x) => c(i) = (c(i) ^ x).toByte }
      c
    }
    val truncation = Gen.choose(0, f.length - 1).map(n => f.take(n))
    val extreme = for {
      at <- Gen.choose(0, f.length - 4)
      v <- Gen.oneOf(0, -1, Int.MaxValue, Int.MinValue, 1 << 16)
      order <- Gen.oneOf(ByteOrder.LITTLE_ENDIAN, ByteOrder.BIG_ENDIAN)
    } yield {
      val c = f.clone()
      ByteBuffer.wrap(c).order(order).putInt(at, v)
      c
    }
    Gen.frequency(2 -> flips, 1 -> truncation, 2 -> extreme)
  }

  /** Decoded size in bytes: arrays by element width, strings one byte a
    * char, containers and case classes by their parts. */
  def sizeOf(x: Any): Long = x match {
    case a: Array[Byte] => a.length.toLong
    case a: Array[Short] => 2L * a.length
    case a: Array[Int] => 4L * a.length
    case s: String => s.length.toLong
    case o: Option[_] => o.fold(0L)(sizeOf)
    case i: Iterable[_] => i.iterator.map(sizeOf).sum
    case p: Product => p.productIterator.map(sizeOf).sum
    case _ => 8L
  }

  private def px(n: Int): Array[Int] = Array.tabulate(n)(i => (i * 0x1f3d5b) & 0xffffff)

  private def avro: Array[Byte] = {
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"Doc","fields":[{"name":"id","type":"long"},
        |{"name":"title","type":"string"},{"name":"score","type":"int"}]}""".stripMargin)
    val out = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(CodecFactory.deflateCodec(6))
    w.create(schema, out)
    (0 until 3).foreach { i =>
      val r = new GenericData.Record(schema)
      r.put("id", i.toLong); r.put("title", s"title $i"); r.put("score", i)
      w.append(r)
    }
    w.close()
    out.toByteArray
  }

  private def ogg: Array[Byte] =
    Ogg.buildPage(7L, 0L, 0L, 2, Seq(255, 4), Array.fill[Byte](259)(3)) ++
      Ogg.buildPage(7L, 1L, 960L, 4, Seq(10), Array.fill[Byte](10)(5))

  /** Every codec with a small fixture that decodes. */
  val codecs: Seq[(Codec, Array[Byte])] = Seq(
    Wav -> Wav.encodePcm16(8000, Array.tabulate[Short](64)(i => (i * 97 - 3000).toShort), channels = 2),
    Bmp -> Bmp.encode24(5, 3, px(15)),
    Png -> Png.encodeRgb(5, 3, px(15)),
    Gif -> Gif.encodeIndexed(5, 3, Array(0x000000, 0xff8800, 0x00ff00), Array.tabulate[Byte](15)(i => (i % 3).toByte)),
    Jpeg -> Jpeg.encodeRgb(8, 8, px(64)),
    Mp3 -> Mp3.encodeFrames(0, j => 9 + j % 3, j => j % 2, 3, id3Bytes = 12),
    Mp4 -> Mp4.encode(1000, 12345L, 2, mvhdVersion = 1, freeBytes = 8),
    Avi -> Avi.encode(3, 2, 40000L, Seq(px(6), px(6).reverse), junkBytes = 5),
    Id3 -> Id3.encode("title", "artist", "album", version = 4),
    Gzip -> Gzip.encodeMembers(Seq("first member", "second member")),
    Warc -> (Warc.encodeInfo("warcinfo", "software: graft") ++
      Warc.encodeResponse("http://a.example/", "2024-01-01T00:00:00Z", 200, "text/html", "<p>hi</p>")),
    Zip -> Zip.build(Seq(("a.txt", "deflated text".getBytes(UTF_8), false),
      ("b.bin", Array[Byte](1, 2, 3, 4), true))),
    Tar -> Tar.build(Seq(("dir/", Array.emptyByteArray, '5'), ("dir/a.txt", "tar member".getBytes(UTF_8), '0'))),
    Epub -> Epub.build(Seq(("c1.xhtml", "<html><head><title>One</title></head><body><p>Call me.</p></body></html>"))),
    Xlsx -> Xlsx.build(Seq("alpha", "beta"), Seq(("A1", "s", "<v>1</v>"), ("B1", "", "<v>2.5</v>"),
      ("C1", "inlineStr", "<is><t>inline</t></is>"))),
    Pptx -> Pptx.build(Seq(Seq(Seq("Slide", " one")), Seq(Seq("two")))),
    Pdf -> Pdf.build(Seq("BT (Page one) Tj ET", "BT [(kern) 5 (ed)] TJ ET"), flate = true),
    Qoi -> (Array[Byte]('q', 'o', 'i', 'f', 0, 0, 0, 3, 0, 0, 0, 2, 4, 0) ++
      Array(0xfe, 10, 20, 30, 0xc1, 0x55, 0xa1, 0x88, 0xc0)
        .map(_.toByte) ++ Array[Byte](0, 0, 0, 0, 0, 0, 0, 1)),
    Tga -> (Array[Byte](0, 0, 10, 0, 0, 0, 0, 0, 0, 0, 0, 0, 2, 0, 2, 0, 24, 0x20) ++
      Array(0x81, 1, 2, 3, 0x01, 4, 5, 6, 7, 8, 9).map(_.toByte)),
    Pnm -> ("P6 2 2 255\n".getBytes(UTF_8) ++ Array.tabulate[Byte](12)(i => (i * 20).toByte)),
    Ico -> Ico.build(Seq((2, 2, Array(0xff010203, 0x80040506, 0x00070809, 0xff0a0b0c), (x, y) => x == y))),
    Webp -> Webp.buildVp8x(640, 480, alpha = true, anim = false),
    Flac -> Flac.build(Seq(
      (0, Flac.buildStreamInfo(4096, 4096, 14, 9000, 44100, 2, 16, 441000L, Array.fill[Byte](16)(7))),
      (4, Flac.buildVorbisComment("graft", Seq("TITLE" -> "song", "ARTIST" -> "band"))))),
    Ogg -> ogg,
    Exif -> Exif.buildJpeg(littleEndian = true, "Maker", "M1", 1, "2024:01:01 00:00:00", 640, 480, 100, 1, 250),
    Adpcm -> Adpcm.encodeBlock(Array.tabulate[Short](40)(i => (i * 300 - 6000).toShort)),
    G711 -> Array.tabulate[Byte](32)(i => (i * 8).toByte),
    AvroIngest -> avro)
}
