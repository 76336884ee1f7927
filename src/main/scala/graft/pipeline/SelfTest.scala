package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.core.{Concept, Network}

/** The reference's self-test roundtrip protocol (A24/A25), asserted instead
  * of merely logged (SURVEY §5.1: the reference only logs values).
  *
  * Per concept: encode the embedded test input → write 32 copies
  * (concept.py:80: num_examples=32) → read back with the declared schema →
  * inference → assert row count and non-null vectors. Per network: same plus
  * feature/target split and a fit/eval cycle when a target exists
  * (network.py:218-275).
  *
  * Discovery is an explicit registry, not reflection (SURVEY A24: JVM
  * reflection over subclasses is brittle; the registry is the Scala idiom).
  */
object SelfTest {

  val NumExamples = 32

  /** Registered concept instances (`Concept.get_children` stand-in). */
  def registry: Seq[Concept] = Seq(graft.core.CandidateConcept())

  def testConcept(spark: SparkSession, c: Concept): Unit = {
    val net = new Network(Seq("origin" -> c))
    testNetwork(spark, net)
  }

  def testNetwork(spark: SparkSession, net: Network): Unit = {
    import spark.implicits._
    val inputs = net.concepts.map(_._2.testInput)
    // every concept encodes the same raw line in the reference roundtrip
    // (minimal_network.py:20-23 uses one xml line for origin and target)
    val raw = Seq.fill(NumExamples)(inputs.head).toDF("value")
    inTempDir("graft-selftest-") { dir =>
      val out = Preprocess.run(net, raw, dir)
      val back = Preprocess.readEncoded(spark, net, out)
      assert(back.count() == NumExamples, s"roundtrip lost rows for ${net.repr}")
      // names+types are the contract; parquet read-back relaxes nullability
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        net.featdef.fields.map(f => (f.name, f.dataType)).toSeq,
        s"schema drift for ${net.repr}")

      val (features, targets) = net.split(back)
      assert(features.columns.sameElements(net.featureNames))
      targets.foreach(t => assert(t.columns.sameElements(net.targetNames)))

      val vecs = net.inferenceVectors(back)
      val vecCols = net.concepts.filterNot(_._2.target).map { case (n, _) => s"${n}_vec" }
      assert(vecs.select(vecCols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        .na.drop().count() == NumExamples, s"null inference vectors for ${net.repr}")

      if (net.targetNames.nonEmpty) {
        val model = Train.fit(net, back)
        val mse = Train.evaluateMse(model, net, back)
        assert(!mse.isNaN, s"loss not computable for ${net.repr}")
      }
    }
  }

  /** A7 roundtrip: multi-record raw lines through the FlatMap-parse stage.
    * Each input line packs two copies of the test record behind a delimiter;
    * the parse stage must fan them out to 2× encoded rows, and an empty
    * line must contribute zero (the 0..n contract). */
  def testParseStage(spark: SparkSession, net: Network): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sep = "\u0001"
    val one = net.concepts.head._2.testInput
    require(!one.contains(sep), "test input collides with the parse delimiter")
    val raw = (Seq.fill(NumExamples / 2)(s"$one$sep$one") :+ "").toDF("value")
    val parse = (df: org.apache.spark.sql.DataFrame) =>
      Preprocess.flatMapParse(df,
        c => filter(split(c, sep), r => length(r) > 0))
    inTempDir("graft-selftest-parse-") { dir =>
      val out = Preprocess.run(net, raw, dir, parse = parse)
      val back = Preprocess.readEncoded(spark, net, out)
      assert(back.count() == NumExamples,
        s"FlatMap parse fan-out wrong for ${net.repr}: expected $NumExamples")
    }
  }

  /** Single-record parse roundtrip — the reference Label's
    * `parse_single_example` variant (label.py:52-76): ONE example through
    * the full write/serialize/read/parse path must come back value-identical
    * to the in-memory encode (batched decode shares none of the single-record
    * path's framing, which is why the reference tests both). */
  def testSingleRecord(spark: SparkSession, net: Network): Unit = {
    import spark.implicits._
    val raw = Seq(net.concepts.head._2.testInput).toDF("value")
    val expected = net.preprocess(raw).collect()
    val got = inTempDir("graft-selftest-single-") { dir =>
      Preprocess.readEncoded(spark, net, Preprocess.run(net, raw, dir)).collect()
    }
    assert(got.length == 1, s"single-record roundtrip lost the record for ${net.repr}")
    assert(got.head == expected.head,
      s"single-record roundtrip drift for ${net.repr}: ${got.head} vs ${expected.head}")
  }

  /** `body` over a fresh temp directory, deleted when it returns or throws
    * (`runAll` runs once per pass of a long-running application). */
  private def inTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString) finally graft.Timing.rmTree(dir)
  }

  /** Gate stage (runner.py:41-47): all registered concepts + the network. */
  def runAll(spark: SparkSession, net: Network): Unit = {
    registry.foreach(testConcept(spark, _))
    testNetwork(spark, net)
    testParseStage(spark, net)
    testSingleRecord(spark, net)
  }
}
