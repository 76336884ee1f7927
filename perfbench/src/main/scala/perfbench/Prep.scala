package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.MinimalNetwork
import graft.llm.CorpusPrep
import graft.pipeline.{Preprocess, SelfTest, Train}

/** `prep`: the paper's pipeline at volume. One timed operation is one
  * pass: `Experiment.run`'s steps called one by one over the generated raw
  * records (self-test, encode with the FlatMap parse, read back, fit,
  * save/load, MSE, inference through the noop sink), then
  * `CorpusPrep.prepareTraining` over the generated corpus, written
  * partitioned by `lang`. Set-up generates the inputs and runs one untimed
  * pass over smaller ones. */
final class Prep(spark: SparkSession, inputs: Path, work: Path, seed: Long) extends Workload {
  import Prep._
  private val S = Workloads.PrepSizesDefault
  private val net = MinimalNetwork()
  private val full = inputs.resolve(Full)
  private val warmDir = inputs.resolve(Warm)
  private var genders: Map[Int, Long] = Map.empty
  private val encodedRows = ArrayBuffer[Long]()
  private val mses = ArrayBuffer[Double]()
  private val recalls = ArrayBuffer[Double]()
  private val falseDrops = ArrayBuffer[Double]()
  private var lastEncoded: String = _

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val rates = Gen.Sources.map(_ -> 100).toMap

  def generate(): Unit = genders = writeInputs(inputs, seed)

  /** Untimed warm-up: one pass over inputs `PrepWarmDiv` times smaller. */
  def warm(): Unit = pass(warmDir, (_: String, f: () => Any) => f())

  private def ids(p: Path): Seq[Long] =
    Files.readAllLines(p).asScala.toSeq.map(_.toLong)

  /** One pass over the inputs in `dir`; `layer` wraps each public call.
    * Returns (encoded path, MSE, chain seconds, prepare seconds). */
  private def pass(dir: Path, layer: (String, () => Any) => Any): (String, Double, Double, Double) = {
    val wd = work.toString
    layer("pipeline.selftest", () => SelfTest.runAll(spark, net))
    val c0 = System.nanoTime()
    val encodedPath = layer("pipeline.preprocess", () => Preprocess.run(net,
      Preprocess.readText(spark, dir.resolve("raw.txt").toString), s"$wd/preprocess",
      parse = df => Preprocess.flatMapParse(df, c => split(c, ";")))).asInstanceOf[String]
    val encoded = Preprocess.readEncoded(spark, net, encodedPath)
    val fitted = layer("pipeline.fit", () => Train.fit(net, encoded))
      .asInstanceOf[org.apache.spark.ml.PipelineModel]
    val model = layer("pipeline.save_load", () => {
      Train.save(fitted, s"$wd/model")
      Train.load(s"$wd/model")
    }).asInstanceOf[org.apache.spark.ml.PipelineModel]
    val mse = layer("pipeline.eval", () => Train.evaluateMse(model, net, encoded)).asInstanceOf[Double]
    layer("pipeline.infer", () =>
      Train.infer(model, net, encoded).write.format("noop").mode("overwrite").save())
    val c1 = System.nanoTime()
    layer("llm.prepareTraining", () => {
      val docs = spark.read.schema(docSchema).json(dir.resolve("docs.jsonl").toString)
      val benchIds = ids(dir.resolve("docs_bench.txt"))
      val benchDocs = docs.filter(col("doc_id").isin(benchIds: _*))
      CorpusPrep.prepareTraining(docs, benchDocs, rates)
        .write.mode("overwrite").partitionBy("lang").parquet(s"$wd/train")
    })
    val c2 = System.nanoTime()
    (encodedPath, mse, (c1 - c0) / 1e9, (c2 - c1) / 1e9)
  }

  def runOp(i: Int, h: Harness): Unit = {
    var r: (String, Double, Double, Double) = null
    h.op("pass", s"pass-$i", "pipeline") {
      r = pass(full, (name: String, f: () => Any) => h.layer(name)(f()))
      h.count("records", S.records.toDouble)
      h.count("chain_s", r._3)
      h.count("docs", S.docs.toDouble)
      h.count("prepare_s", r._4)
    }
    if (r != null) {
      lastEncoded = r._1
      mses += r._2
    } else lastEncoded = null
  }

  /** Checks of the pass just run, outside the timed window. */
  override def afterOp(i: Int, h: Harness): Unit = if (lastEncoded != null) {
    val enc = Preprocess.readEncoded(spark, net, lastEncoded)
    val byGender = enc.groupBy("origin_gender").count().collect()
      .map(r => r.getFloat(0).toInt -> r.getLong(1)).toMap
    val rows = byGender.values.sum
    encodedRows += rows
    h.check(s"encoded-counts:op$i", byGender == genders.filter(_._2 > 0),
      s"encoded $byGender, generated $genders")
    h.check(s"mse:op$i", mses.last <= MseBound, s"mse ${mses.last}, bound $MseBound")
    val kept = spark.read.parquet(work.resolve("train").toString).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val planted = ids(full.resolve("docs_planted.txt"))
    val bench = ids(full.resolve("docs_bench.txt")).toSet
    val unplanted = S.docs - planted.size
    val recall = planted.count(p => !kept.contains(p)).toDouble / planted.size
    val falseDrop = (0L until unplanted).count(d => !kept.contains(d) && !bench.contains(d))
      .toDouble / unplanted
    recalls += recall
    falseDrops += falseDrop
    h.check(s"dedup-recall:op$i", recall >= RecallBound, s"recall $recall, bound $RecallBound")
    h.check(s"false-drop:op$i", falseDrop <= FalseDropBound,
      s"false drops $falseDrop, bound $FalseDropBound")
  }

  def finish(h: Harness): Unit = ()

  def facts: Seq[(String, String)] = Seq(
    "records" -> S.records.toString, "docs" -> S.docs.toString,
    "planted_pct" -> (S.copyPct + S.nearPct).toString,
    "encoded_rows" -> encodedRows.mkString("[", ",", "]"),
    "mse" -> mses.map(Json.num).mkString("[", ",", "]"),
    "dedup_recall" -> recalls.map(Json.num).mkString("[", ",", "]"),
    "false_drop_frac" -> falseDrops.map(Json.num).mkString("[", ",", "]"),
    "stored_b" -> KnnServe.dirBytes(work).toString)
}

object Prep {
  val Full = "prep"
  val Warm = "prep-warm"

  /** The full inputs and the 1/`PrepWarmDiv` warm-up inputs; returns the
    * full raw records' count per gender code. */
  def writeInputs(inputs: Path, seed: Long): Map[Int, Long] = {
    val s = Workloads.PrepSizesDefault
    val w = s.copy(records = s.records / Workloads.PrepWarmDiv, docs = s.docs / Workloads.PrepWarmDiv)
    Gen.writeRaw(inputs.resolve(Warm), w.records, seed)
    Gen.writeDocs(inputs.resolve(Warm), w, seed)
    Gen.writeDocs(inputs.resolve(Full), s, seed)
    Gen.writeRaw(inputs.resolve(Full), s.records, seed)
  }

  /** The label is the target concept's candidate id, which the origin
    * concept's features carry exactly, so the linear fit is exact up to
    * solver tolerance. */
  val MseBound = 1.0
  val RecallBound = 0.99
  val FalseDropBound = 0.001
}
