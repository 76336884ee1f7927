package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.Dataset

/** Avro OBJECT CONTAINER FILE ingest — the record format the Hadoop/Beam
  * data-prep era shipped corpora in (and the reference's own lineage:
  * Beam pipelines exchanged Avro between stages), read through the Avro
  * core library Spark already bundles (`/opt/spark/jars/avro-*.jar` —
  * no connector needed when the blobs arrive as a BINARY COLUMN, the
  * multimodal-table shape, rather than as whole files). The JPEG/ImageIO
  * precedent: the canonical library does the wire decode, the engine
  * certifies the INGEST PLUMBING — schema-driven field access, per-blob
  * record iteration (including deflate-compressed blocks), and the
  * [[Codec]] contract (a corrupt container drops by omission, never
  * crashes the scan or poisons other blobs).
  *
  * Field extraction is SCHEMA-DRIVEN and null-tolerant: the three
  * contract fields (id long, title string, score int) read by name;
  * a blob whose schema lacks them quarantines whole (schema mismatch is
  * a partner-export break, not a per-record accident).
  *
  * Scale shape: row-local mapPartitions over blobs, no shuffle,
  * streaming-safe. */
object AvroIngest extends Codec {

  /** Decompression-bomb guard: a deflate-compressed container a few KB on
    * the wire can inflate to arbitrarily many records. A blob with more
    * records, or whose decoded records pass [[Codec.MaxDecodedBytes]],
    * quarantines WHOLE (None) — never partial output or an unbounded
    * executor allocation. */
  val MaxRecordsPerBlob: Int = 1 << 16

  /** One record's contract fields. */
  final case class Rec(id: Long, title: String, score: Int)

  type Out = Seq[Rec]

  final case class RecRow(doc_id: Long, seq: Int, id: Long, title: String,
      score: Int)

  /** Decode one container blob to its records; None on corrupt bytes, a
    * schema missing the contract fields, or a blob over either bound. */
  def decode(bytes: Array[Byte]): Option[Seq[Rec]] = {
    if (bytes == null || bytes.length < 4) return None
    try {
      if (!framed(bytes)) return None
      val reader = DataFileReader.openReader(
        new SeekableByteArrayInput(bytes),
        new GenericDatumReader[GenericRecord]())
      try {
        val schema = reader.getSchema
        if (schema.getField("id") == null || schema.getField("title") == null ||
          schema.getField("score") == null) return None
        val out = Vector.newBuilder[Rec]
        var n = 0
        var decodedBytes = 0L
        val it = reader.iterator().asScala
        while (it.hasNext) {
          val rec = it.next()
          if (n >= MaxRecordsPerBlob) return None
          val title = String.valueOf(rec.get("title"))
          decodedBytes += 16L + title.length // id + score + title chars
          if (decodedBytes > Codec.MaxDecodedBytes) return None
          out += Rec(rec.get("id").asInstanceOf[Long], title, rec.get("score").asInstanceOf[Int])
          n += 1
        }
        Some(out.result())
      } finally reader.close()
    } catch { case _: Exception => None }
  }

  /** Walk the container framing BEFORE the Avro reader allocates from
    * it: the reader sizes each block's buffer from the declared block
    * size and inflates a deflate block whole, so a crafted size (up to
    * 2 GiB) or a deflate bomb must be caught here — every block inside
    * the blob, every inflated block within [[Codec.MaxDecodedBytes]]
    * together. Only the `null` and `deflate` codecs are admitted. Throws
    * on a malformed header (the caller quarantines). */
  private def framed(b: Array[Byte]): Boolean = {
    var p = 4 // "Obj" + version byte; the reader checks them
    def long(): Long = { // zig-zag varint
      var v = 0L
      var shift = 0
      var more = true
      while (more) {
        require(p < b.length && shift < 64, "truncated varint")
        v |= (b(p) & 0x7fL) << shift
        more = (b(p) & 0x80) != 0
        p += 1
        shift += 7
      }
      (v >>> 1) ^ -(v & 1)
    }
    def bytes(): Array[Byte] = {
      val n = long()
      require(n >= 0 && n <= b.length - p, "field past the blob")
      p += n.toInt
      java.util.Arrays.copyOfRange(b, p - n.toInt, p)
    }
    var codec = "null"
    var n = long()
    while (n != 0) { // header metadata: map<string, bytes> in blocks
      if (n < 0) { n = -n; long() } // negative count: a byte size follows
      var k = 0L
      while (k < n) {
        val key = new String(bytes(), java.nio.charset.StandardCharsets.UTF_8)
        val value = bytes()
        if (key == "avro.codec") codec = new String(value, java.nio.charset.StandardCharsets.UTF_8)
        k += 1
      }
      n = long()
    }
    if (codec != "null" && codec != "deflate") return false
    p += 16 // sync marker
    var left = Codec.MaxDecodedBytes.toLong
    while (p < b.length) {
      long() // record count
      val size = long()
      if (size < 0 || size > b.length - p) return false
      val block = java.util.Arrays.copyOfRange(b, p, p + size.toInt)
      left -= (if (codec == "null") size else Codec.inflate(block, nowrap = true, left).fold(0)(_.length))
      if (left < 0) return false
      p += size.toInt + 16 // block + sync marker
    }
    true
  }

  /** Row-local ingest over blobs; corrupt containers quarantine by
    * omission. */
  def parseAll(blobs: Dataset[Multimodal.Blob]): Dataset[RecRow] =
    Multimodal.perBlob(blobs, decode) { (id, r) =>
      r.iterator.flatMap(_.iterator.zipWithIndex.map { case (x, k) => RecRow(id, k, x.id, x.title, x.score) })
    }
}
