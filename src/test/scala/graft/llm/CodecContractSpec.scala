package graft.llm

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A ratchet on the one decoder contract. A source scan of
  * `src/main/scala/graft/llm` finds every public `def …(…: Array[Byte]…):
  * Option[…]`: each must be the `decode` of a [[Codec]] implementor, one
  * of the named compositions over a codec's decode, or one of the named
  * exclusions; and [[CodecFuzzSpec.codecs]] must list exactly the Codec
  * objects the scan finds — so a new decoder cannot skip the contract or
  * the fuzzer. Classes are loaded without initialization; Spark is not
  * started. */
class CodecContractSpec extends AnyFunSuite {

  /** Second entries built on a codec's own decode. */
  private val Compositions =
    Set("Gzip.text", "Pptx.deckText", "Zip.docxText", "Avi.sampleFrames", "Exif.parseTiff")

  /** Byte decoders outside the contract by design: Rle8 needs the
    * dimensions from the BMP/AVI header. (CharsetSniff.sniff needs the
    * Content-Type and MagicSniff is a classifier; neither returns an
    * Option, so the scan does not meet them.) */
  private val Exclusions = Set("Rle8.decode")

  private val Decl = """(?m)^(?:private\[llm\] )?(?:abstract |final |sealed )*(object|class|trait) (\w+)""".r
  private val ByteEntry =
    """(?m)^[ \t]*((?:private|protected)(?:\[\w+\])?\s+)?(?:override\s+)?def\s+(\w+)(?:\[[^\]]*\])?\(([^)]*)\)\s*:\s*Option\[""".r

  private lazy val sources: Seq[String] = {
    val walk = Files.list(Paths.get("src/main/scala/graft/llm"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map(Files.readString).toVector
    finally walk.close()
  }

  private def isCodec(kind: String, name: String): Boolean = {
    val cls = Class.forName(s"graft.llm.$name${if (kind == "object") "$" else ""}",
      false, getClass.getClassLoader)
    classOf[Codec].isAssignableFrom(cls)
  }

  /** (top-level declaration kind, name, source span) in declaration order. */
  private lazy val decls: Seq[(String, String, String)] = sources.flatMap { src =>
    val ds = Decl.findAllMatchIn(src).toVector
    ds.indices.map { k =>
      val end = if (k + 1 < ds.length) ds(k + 1).start else src.length
      (ds(k).group(1), ds(k).group(2), src.substring(ds(k).start, end))
    }
  }

  test("every public Array[Byte] => Option entry in graft.llm is a Codec's decode, a named composition or exclusion") {
    assert(decls.size > 50, "scan found too few declarations: wrong working directory?")
    val entries = for {
      (kind, name, body) <- decls
      m <- ByteEntry.findAllMatchIn(body)
      if m.group(1) == null && m.group(3).contains("Array[Byte]")
    } yield (kind, name, m.group(2))
    val offenders = entries.collect {
      case (kind, name, d) if !(d == "decode" && isCodec(kind, name)) &&
        !Compositions(s"$name.$d") && !Exclusions(s"$name.$d") => s"$name.$d"
    }
    assert(offenders.isEmpty, offenders.mkString("outside the Codec contract: ", ", ", ""))
    val named = entries.map { case (_, name, d) => s"$name.$d" }.toSet
    assert((Compositions ++ Exclusions).diff(named).isEmpty, "a named composition or exclusion is gone")
    assert(Seq("Rle8", "CharsetSniff", "MagicSniff").forall(n => !isCodec("object", n)))
  }

  test("CodecFuzzSpec.codecs lists exactly the Codec objects in the sources") {
    val implementors = decls.collect { case ("object", name, _) if isCodec("object", name) => name }.toSet
    val fuzzed = CodecFuzzSpec.codecs.map(c => CodecFuzzSpec.nameOf(c._1))
    assert(fuzzed.distinct.size == fuzzed.size, "a codec is listed twice")
    assert(fuzzed.toSet == implementors,
      s"not fuzzed: ${implementors.diff(fuzzed.toSet)}; not a codec: ${fuzzed.toSet.diff(implementors)}")
  }
}
