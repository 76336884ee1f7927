package graft.llm

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

import graft.SparkSpec

class AvroIngestSpec extends SparkSpec {

  private val docSchema = new Schema.Parser().parse(
    """{"type":"record","name":"Doc","fields":[
      |{"name":"id","type":"long"},
      |{"name":"title","type":"string"},
      |{"name":"score","type":"int"}]}""".stripMargin)

  private def container(schema: Schema, deflate: Boolean)(
      fill: (DataFileWriter[GenericRecord], Schema) => Unit): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    if (deflate) w.setCodec(CodecFactory.deflateCodec(6)): Unit
    w.create(schema, out)
    fill(w, schema)
    w.close()
    out.toByteArray
  }

  private def rec(schema: Schema, id: Long, title: String, score: Int) = {
    val r = new GenericData.Record(schema)
    r.put("id", id); r.put("title", title); r.put("score", score)
    r
  }

  test("plain and deflate containers parse; record order preserved") {
    val plain = container(docSchema, deflate = false) { (w, s) =>
      w.append(rec(s, 10L, "a", 1)); w.append(rec(s, 11L, "b", 2))
    }
    val deflated = container(docSchema, deflate = true) { (w, s) =>
      w.append(rec(s, 20L, "c", 3))
    }
    assert(AvroIngest.decode(plain).get.map(r => (r.id, r.title, r.score)) ==
      Seq((10L, "a", 1), (11L, "b", 2)))
    assert(AvroIngest.decode(deflated).get ==
      Seq(AvroIngest.Rec(20L, "c", 3)))
  }

  test("quarantine: garbage bytes, truncation, and schema mismatch") {
    assert(AvroIngest.decode("not avro".getBytes("UTF-8")).isEmpty)
    assert(AvroIngest.decode(null).isEmpty)
    assert(AvroIngest.decode(Array[Byte](1, 2)).isEmpty)
    // valid container, wrong schema: missing contract fields → whole-blob
    // quarantine (a partner-export break, not a per-record accident)
    val other = new Schema.Parser().parse(
      """{"type":"record","name":"X","fields":[{"name":"z","type":"long"}]}""")
    val bytes = container(other, deflate = false) { (w, s) =>
      val r = new GenericData.Record(s); r.put("z", 5L); w.append(r)
    }
    assert(AvroIngest.decode(bytes).isEmpty)
    // truncated mid-block: NO half-read records surface — the reader
    // either quarantines (None) or stops cleanly before the cut block
    // (the writer put all 50 records in one block, so "before" is zero)
    val plain = container(docSchema, deflate = false) { (w, s) =>
      (0 until 50).foreach(i => w.append(rec(s, i.toLong, "t" + i, i)))
    }
    assert(AvroIngest.decode(plain.take(plain.length / 2))
      .forall(_.isEmpty))
  }

  test("decompression bomb: record and decoded-byte caps quarantine") {
    // byte cap: 80 deflate-friendly 1 MB titles inflate past the 64 MB
    // cap from a tiny wire blob — the whole container must drop (None),
    // not materialize
    val big = "x" * (1 << 20)
    val bomb = container(docSchema, deflate = true) { (w, s) =>
      (0 until 80).foreach(i => w.append(rec(s, i.toLong, big, i)))
    }
    assert(bomb.length < (1 << 20), "wire blob should be tiny")
    assert(AvroIngest.decode(bomb).isEmpty)
    // record cap: MaxRecordsPerBlob+1 empty-title records
    val many = container(docSchema, deflate = true) { (w, s) =>
      (0 to AvroIngest.MaxRecordsPerBlob).foreach(i =>
        w.append(rec(s, i.toLong, "", 0)))
    }
    assert(AvroIngest.decode(many).isEmpty)
    // at the cap exactly: still parses
    val atCap = container(docSchema, deflate = true) { (w, s) =>
      (0 until AvroIngest.MaxRecordsPerBlob).foreach(i =>
        w.append(rec(s, i.toLong, "", 0)))
    }
    assert(AvroIngest.decode(atCap).exists(_.size == AvroIngest.MaxRecordsPerBlob))
  }

  test("a crafted block size quarantines before the reader allocates it") {
    val plain = container(docSchema, deflate = false) { (w, s) => w.append(rec(s, 1L, "a", 1)) }
    // one block: header, sync, then [count varint][size varint][data][sync]
    val sync = plain.takeRight(16)
    val block = plain.indexOfSlice(sync) + 16
    val sizeAt = block + 1 // the count, zig-zag 1, is one byte
    val intMax = Array(0xfe, 0xff, 0xff, 0xff, 0x0f).map(_.toByte) // zig-zag Int.MaxValue
    val crafted = plain.take(sizeAt) ++ intMax ++ plain.drop(sizeAt + 1)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    assert(AvroIngest.decode(crafted).isEmpty)
    val allocated = mx.getCurrentThreadAllocatedBytes - before
    assert(allocated < Codec.MaxDecodedBytes, s"decode allocated $allocated B")
  }

  test("parseAll dataset: per-record rows, corrupt blobs drop") {
    import spark.implicits._
    val good = container(docSchema, deflate = false) { (w, s) =>
      w.append(rec(s, 7L, "x", 9))
    }
    val blobs = Seq(
      Multimodal.Blob(1L, good),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8"))).toDS()
    val rows = AvroIngest.parseAll(blobs).collect().toSeq
    assert(rows == Seq(AvroIngest.RecRow(1L, 0, 7L, "x", 9)))
  }
}
