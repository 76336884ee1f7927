package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One workload: a set-up that can be repeated (each repetition leaves the
  * same state), a closed-loop timed operation, and output checks that run
  * outside every timed window. */
trait Workload {
  /** Generate and load the inputs; repeated, each repetition identical. */
  def generate(): Unit
  /** One-time preparation after the inputs exist: index build, warm-up. */
  def warm(): Unit
  /** The loop stops only at a multiple of this many operations. */
  def round: Int = 1
  def runOp(i: Int, h: Harness): Unit
  /** Called between operations, outside the timed windows. */
  def afterOp(i: Int, h: Harness): Unit = ()
  def finish(h: Harness): Unit
  /** Workload facts for the result file (sizes, stored bytes, …). */
  def facts: Seq[(String, String)]
}

/** Benchmark JVM: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --bench <perfbench dir> --data <floor tables> --out <dir>`; `--gen-only 1`
  * writes the workload's generated inputs and exits, `--dump-floor 1` dumps
  * every listed floor query's result. Writes `<out>/result.json`; run.py
  * turns it into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val out = Paths.get(a("out")).toAbsolutePath
    val bench = Paths.get(a("bench")).toAbsolutePath
    val data = Paths.get(a.getOrElse("data", "")).toAbsolutePath
    Files.createDirectories(out)
    val inputs = out.resolve("inputs")

    if (a.get("gen-only").contains("1")) {
      Workloads.generate(workload, bench, inputs, seed)
      return
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder("4")
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count() // first job: the session is usable from here
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    if (a.get("dump-floor").contains("1")) {
      // one-time tool mode: every listed floor query's result, for the
      // expected-hash file
      val f = new Floor(spark, bench, data, inputs, seed)
      val failed = f.dump(Workloads.floorList(bench).map(_._1))
      Files.writeString(out.resolve("oracle_sql.json"),
        Json.obj(f.oracleSql.map { case (k, v) => k -> Json.str(v) }))
      Files.writeString(out.resolve("dump_failed.json"),
        Json.obj(failed.map { case (k, v) => k -> Json.str(v) }))
      spark.stop()
      return
    }

    val wl: Workload = workload match {
      case "floor" => new Floor(spark, bench, data, inputs, seed)
      case "knn-serve" => new KnnServe(spark, inputs, out.resolve("warehouse"), seed)
      case "prep" => new Prep(spark, inputs, out.resolve("work"), seed)
      case other => sys.error(s"unknown workload: $other")
    }
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val gens = (0 until Workloads.GenerateReps).map(_ => timed(wl.generate()))
    val warmS = timed(wl.warm())
    System.err.println(f"[perfbench] boot $bootS%.2f s, inputs ${gens.map(s => f"$s%.2f").mkString(" ")} s, warm-up $warmS%.2f s")

    val h = new Harness(spark, traced)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i % wl.round != 0) {
      wl.runOp(i, h)
      wl.afterOp(i, h)
      i += 1
    }
    val loopEnd = System.nanoTime()
    wl.finish(h)
    h.write(out.resolve("result.json"), Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "traced" -> traced.toString,
      "boot_s" -> Json.num(bootS),
      "generate_reps_s" -> gens.map(Json.num).mkString("[", ",", "]"),
      "warm_s" -> Json.num(warmS),
      "loop_start_ns" -> t0.toString,
      "loop_end_ns" -> loopEnd.toString,
      "facts" -> Json.obj(wl.facts)))
    spark.stop()
  }
}

object Workloads {
  /** The frozen floor list: (name, module, local wall that orders the
    * strata). */
  def floorList(bench: Path): IndexedSeq[(String, String, Double)] =
    Files.readAllLines(bench.resolve("floor/queries.tsv")).asScala.toIndexedSeq
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l => val f = l.split("\t"); (f(0), f(1), f(3).toDouble) }

  val KnnSizesDefault = Gen.KnnSizes(n = 2000, dim = 64, clusters = 8, queries = 4 * 256,
    batches = 64, batchSize = 8, noise = 0.5)
  val PrepSizesDefault = Gen.PrepSizes(records = 600000, docs = 5000, copyPct = 5, nearPct = 5,
    benchPct = 1)
  /** The untimed warm-up pass of `prep` runs on inputs this many times smaller. */
  val PrepWarmDiv = 100
  /** Input generation is repeated this many times; set-up counts the median. */
  val GenerateReps = 3

  def generate(workload: String, bench: Path, dir: Path, seed: Long): Unit = workload match {
    case "floor" => Gen.writeFloor(dir, floorList(bench).map(x => (x._1, x._3)), Floor.Iterative, seed)
    case "knn-serve" => Gen.writeKnn(dir, KnnSizesDefault, seed)
    case "prep" => Prep.writeInputs(dir, seed)
    case other => sys.error(s"unknown workload: $other")
  }
}
