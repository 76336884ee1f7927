package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.{Experiment, Preprocess, SelfTest, Train}

/** Roundtrip + property suite for the Concept/Network framework
  * (SURVEY §5.2.1/§5.2.3). */
class NetworkSpec extends SparkSpec {
  import spark.implicits._

  private def net = MinimalNetwork()

  test("featdef is the prefixed union of concept schemas") {
    assert(net.featdef.fieldNames.toSeq == Seq(
      "origin_candidate_id", "origin_gender",
      "target_candidate_id", "target_gender"))
  }

  test("preprocess encodes csv with gender map and NA default") {
    val raw = Seq("123,m", "77,F", "9,unknown").toDF("value")
    val rows = net.preprocess(raw).collect()
    assert(rows.map(_.getFloat(0)).toSeq == Seq(123f, 77f, 9f))
    assert(rows.map(_.getFloat(1)).toSeq == Seq(0f, 1f, -1f))
    // origin and target encode identically from the same raw line
    assert(rows.forall(r => r.getFloat(0) == r.getFloat(2) && r.getFloat(1) == r.getFloat(3)))
  }

  test("prefix-union then prefix-select is identity (A11 ∘ A12)") {
    val raw = Seq("123,m", "45,f").toDF("value")
    val encoded = net.preprocess(raw)
    val origin = net.selectConcept(encoded, "origin")
    assert(origin.columns.toSeq == Seq("candidate_id", "gender"))
    assert(origin.collect().map(r => (r.getFloat(0), r.getFloat(1))).toSeq ==
      Seq((123f, 0f), (45f, 1f)))
  }

  test("feature/target split partitions by the target flag") {
    val (f, t) = net.split(net.preprocess(Seq("1,m").toDF("value")))
    assert(f.columns.toSeq == Seq("origin_candidate_id", "origin_gender"))
    assert(t.get.columns.toSeq == Seq("target_candidate_id", "target_gender"))
  }

  test("featureEngineering override sees its prefixed columns and runs in the network") {
    val base = CandidateConcept()
    val doubling = new Concept {
      val version = base.version
      val featdef = base.featdef
      def preprocess(raw: org.apache.spark.sql.Column) = base.preprocess(raw)
      val testInput = base.testInput
      override def featureEngineering(
          df: org.apache.spark.sql.DataFrame, inputCols: Seq[String]) =
        df.withColumn(inputCols.head, col(inputCols.head) * 2)
    }
    val n2 = new Network(Seq("o" -> doubling))
    val vecs = n2.inferenceVectors(n2.preprocess(Seq("21,m").toDF("value")))
    val v = vecs.select("o_vec").head().getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v(0) == 42.0 && v(1) == 0.0)
  }

  test("selectConcept is exact when one concept name prefixes another") {
    val n2 = new Network(Seq("a" -> CandidateConcept(), "a_b" -> CandidateConcept()))
    val enc = n2.preprocess(Seq("7,f").toDF("value"))
    val a = n2.selectConcept(enc, "a")
    assert(a.columns.toSeq == Seq("candidate_id", "gender"))
    val ab = n2.selectConcept(enc, "a_b")
    assert(ab.columns.toSeq == Seq("candidate_id", "gender"))
    assert(a.head() == ab.head()) // same raw line; but neither leaked extra cols
    intercept[IllegalArgumentException](n2.selectConcept(enc, "nope"))
  }

  test("target and checkpointPath are mutually exclusive") {
    intercept[IllegalArgumentException] {
      new Network(Seq("bad" ->
        CandidateConcept(target = true, checkpointPath = Some("/tmp/x"))))
    }
  }

  test("self-test roundtrip protocol passes for the registry and network") {
    SelfTest.runAll(spark, net)
  }

  test("SelfTest.runAll leaves java.io.tmpdir's graft-selftest-* set unchanged") {
    def selftestDirs(): Set[String] = {
      val walk = java.nio.file.Files.list(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("graft-selftest-")).toSet
      } finally walk.close()
    }
    val before = selftestDirs()
    SelfTest.runAll(spark, net)
    assert(selftestDirs() == before)
  }

  test("train lifecycle: fit, eval, save, load, infer") {
    val raw = Seq.tabulate(64)(i => s"$i,${if (i % 2 == 0) "m" else "f"}").toDF("value")
    val dir = java.nio.file.Files.createTempDirectory("graft-train-").toString
    val out = Preprocess.run(net, raw, dir)
    val encoded = Preprocess.readEncoded(spark, net, out)
    val model = Train.fit(net, encoded)
    val mse = Train.evaluateMse(model, net, encoded)
    assert(!mse.isNaN && mse >= 0)
    Train.save(model, s"$dir/model")
    val back = Train.load(s"$dir/model")
    assert(Train.infer(back, net, encoded).select("prediction").count() == 64)
  }

  test("experiment driver runs test→preprocess→train end-to-end") {
    val work = java.nio.file.Files.createTempDirectory("graft-exp-").toString
    val input = s"$work/input.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(input),
      (1 to 40).map(i => s"$i,${if (i % 3 == 0) "f" else "m"}").mkString("\n").getBytes)
    val res = Experiment.run(spark, net, input, work)
    assert(res.runId.startsWith("Network1_origin-CandidateConcept1"))
    assert(!res.mse.isNaN)
  }
}
