package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it: its group (the operation it was
  * attributed to), submit and end times (epoch ms), stage count, and the
  * launch time of its first task. */
final case class JobRec(id: Int, group: String, submitMs: Long, endMs: Long,
    stages: Int, firstTaskMs: Long)

/** Engine counters of one timed operation, summed over the listener events
  * delivered between the two bus flushes that bracket it. */
final case class EngineTotals(
    tasks: Long, cpuNs: Long, runMs: Long, gcMs: Long, shufReadB: Long,
    shufWriteB: Long, fetchWaitMs: Long, spillB: Long, inputB: Long,
    outputB: Long, planNs: Long, codegenNs: Long)

/** Spark-side instrumentation of the traced run only: a SparkListener for
  * jobs, stages and task metrics, a QueryExecutionListener for the planning
  * phases, and the codegen compile-time counter. Events arrive on the
  * listener-bus thread; the driver thread reads them only after
  * [[flush]], so the queues are the only shared state. The untraced run
  * never constructs this class. */
final class Engine(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int)]()
  private val firstTask = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val taskEnds = new ConcurrentLinkedQueue[EngineTotals]()
  private val plans = new ConcurrentLinkedQueue[Long]()
  private var codegenMark = CodeGenerator.compileTime

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStarts.put(e.jobId, (group, e.time, e.stageIds.size))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (group, start, stages) =
      Option(jobStarts.remove(e.jobId)).getOrElse(("", e.time, 0))
    val first = Option(firstTask.remove(e.jobId)).map(_.longValue).getOrElse(-1L)
    jobs.add(JobRec(e.jobId, group, start, e.time, stages, first))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageToJob.get(e.stageId)).foreach { j =>
      firstTask.merge(j, e.taskInfo.launchTime, (a: Long, b: Long) => math.min(a, b))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskEnds.add(EngineTotals(
      1, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, 0, 0))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(planNs(qe.tracker))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plans.add(planNs(qe.tracker))

  private def planNs(t: QueryPlanningTracker): Long =
    Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING)
      .flatMap(t.phases.get).map(_.durationMs * 1000000L).sum

  /** Deliver every queued listener event. */
  def flush(): Unit = org.apache.spark.GraftListenerBus.flush(sc)

  /** Flush, then drain everything delivered since the last call: the
    * engine totals of the window and the jobs that ended inside it. */
  def drain(): (EngineTotals, Seq[JobRec]) = {
    flush()
    def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val b = Seq.newBuilder[T]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    val ts = take(taskEnds)
    val cg = CodeGenerator.compileTime
    val codegen = cg - codegenMark
    codegenMark = cg
    val tot = EngineTotals(
      ts.map(_.tasks).sum, ts.map(_.cpuNs).sum, ts.map(_.runMs).sum,
      ts.map(_.gcMs).sum, ts.map(_.shufReadB).sum, ts.map(_.shufWriteB).sum,
      ts.map(_.fetchWaitMs).sum, ts.map(_.spillB).sum, ts.map(_.inputB).sum,
      ts.map(_.outputB).sum, take(plans).sum, codegen)
    (tot, take(jobs))
  }

  def stop(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Engine {
  /** Storage (memory + disk) held by cached and checkpointed RDD blocks. */
  def pinnedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def jobsJson(js: Seq[JobRec]): String =
    js.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"group":${Json.str(j.group)},"submit_ms":${j.submitMs},""" +
        s""""end_ms":${j.endMs},"stages":${j.stages},"first_task_ms":${j.firstTaskMs}}""")
      .mkString("[", ",", "]")

  def totalsJson(t: EngineTotals): String =
    s"""{"tasks":${t.tasks},"cpu_ns":${t.cpuNs},"run_ms":${t.runMs},"gc_ms":${t.gcMs},""" +
      s""""shuffle_read_b":${t.shufReadB},"shuffle_write_b":${t.shufWriteB},""" +
      s""""fetch_wait_ms":${t.fetchWaitMs},"spill_b":${t.spillB},"input_b":${t.inputB},""" +
      s""""output_b":${t.outputB},"plan_ns":${t.planNs},"codegen_ns":${t.codegenNs}}"""
}
