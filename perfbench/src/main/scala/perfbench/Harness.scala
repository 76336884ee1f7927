package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Records the timed operations of one run, and — in the traced run only —
  * the spans around each call into the program, the engine counters and
  * the Spark jobs of each operation.
  *
  * Span levels: an operation (one timed request) holds layer spans (one
  * call into a public function of a repository module, named
  * `<layer>.<call>`); Spark jobs, recorded by the listener, become the
  * third level when the report is built. Every record stays in memory and
  * is written once, by [[write]], after the run. */
final class Harness(val spark: SparkSession, val traced: Boolean) {
  private val ops = ArrayBuffer[String]()
  private val spans = ArrayBuffer[String]()
  private val checks = ArrayBuffer[(String, Boolean, String)]()
  private val engine = if (traced) Some(new Engine(spark)) else None
  private var opId = -1
  private var spanId = 0
  private var opSpan = -1
  private var opCounters = Map.empty[String, Double]
  private var pinnedPeak = 0L
  /** (nanoTime, epoch ms) pair taken together, to place listener job
    * times (epoch ms) on the span timeline. */
  val clockBase: (Long, Long) = (System.nanoTime(), System.currentTimeMillis())

  /** One timed operation. The job group ties its Spark jobs to it; a throw
    * marks it failed and the run goes on. Engine counters are drained
    * after the clock stops. */
  def op(kind: String, name: String, module: String)(body: => Unit): Unit = {
    opId += 1
    opSpan = nextSpan()
    opCounters = Map.empty
    engine.foreach(_.drain())
    spark.sparkContext.setJobGroup(s"op-$opId", s"$kind $name")
    var err: String = null
    val t0 = System.nanoTime()
    try body catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val t1 = System.nanoTime()
    spark.sparkContext.clearJobGroup()
    val pinned = Engine.pinnedBytes(spark)
    pinnedPeak = math.max(pinnedPeak, pinned)
    val extra = engine.map { e =>
      val (tot, jobs) = e.drain()
      s""","engine":${Engine.totalsJson(tot)},"jobs":${Engine.jobsJson(jobs)}"""
    }.getOrElse("")
    val counters = Json.obj(opCounters.map { case (k, v) => k -> Json.num(v) })
    ops += s"""{"id":$opId,"span":$opSpan,"kind":${Json.str(kind)},"name":${Json.str(name)},""" +
      s""""module":${Json.str(module)},"start_ns":$t0,"end_ns":$t1,"ok":${err == null},""" +
      s""""error":${if (err == null) "null" else Json.str(err.take(300))},""" +
      s""""pinned_b":$pinned,"counters":$counters$extra}"""
    if (err != null) System.err.println(s"[perfbench] op $opId $name failed: $err")
  }

  /** A layer span: one call into a repository module inside the current
    * operation. A no-op wrapper when tracing is off. */
  def layer[T](name: String)(f: => T): T =
    if (!traced) f
    else {
      val id = nextSpan()
      val t0 = System.nanoTime()
      try f
      finally spans += s"""{"id":$id,"parent":$opSpan,"op":$opId,"name":${Json.str(name)},""" +
        s""""start_ns":$t0,"end_ns":${System.nanoTime()}}"""
    }

  /** Add to a per-operation counter (reported with the operation). */
  def count(key: String, v: Double): Unit =
    opCounters = opCounters.updated(key, opCounters.getOrElse(key, 0.0) + v)

  /** An output check, run outside every timed window. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] check $name FAILED $detail")
  }

  private def nextSpan(): Int = { spanId += 1; spanId }

  def write(path: Path, header: Seq[(String, String)]): Unit = {
    engine.foreach(_.stop())
    val checksJson = checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString("[", ",", "]")
    val body = header ++ Seq(
      "clock_base" -> s"[${clockBase._1},${clockBase._2}]",
      "pinned_peak_b" -> pinnedPeak.toString,
      "checks" -> checksJson,
      "ops" -> ops.mkString("[", ",\n", "]"),
      "spans" -> spans.mkString("[", ",\n", "]"))
    Files.write(path, Json.obj(body).getBytes(StandardCharsets.UTF_8))
  }
}
