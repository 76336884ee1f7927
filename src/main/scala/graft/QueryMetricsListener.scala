package graft

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Executor-resource totals for one timed bench query, summed over every
  * task that completed inside the query's window.
  *
  * Why these eight: wall time alone cannot adjudicate "driver machine vs
  * regression" (VERDICT r8 — the q60/q61 bucketed-vs-brute headline missed
  * its bound in three consecutive driver artifacts while the bracketing
  * calib probes read NOMINAL, and the artifact had no way to say whether
  * the bucketed path moved more bytes on the driver or just ran slower).
  * With bytes in the artifact the question becomes arithmetic: same
  * shuffle/input/spill bytes as the local record but a larger wall → the
  * machine's I/O or memory path is the cause; more bytes → a real plan
  * regression to find.
  *
  *  - `shuffleRead`/`shuffleWrite`: total exchange traffic (bytes).
  *  - `spillMem`/`spillDisk`: spill pressure — nonzero disk spill on a
  *    query that spills nothing locally is the classic contended-memory
  *    signature.
  *  - `inputBytes`: scan-side volume (catches pushdown/pruning drift at
  *    bench time, complementing PlanContractSpec's static pins).
  *  - `inputRecords`: rows the scans materialized — the pruning A/Bs'
  *    measure (ScaleStress --layout/--zorder/--pbloom/--dpp): skipped
  *    row groups and partitions show up as a collapse in records read.
  *    Not part of [[json]], whose keys bench_full.json consumers pin.
  *  - `cpuSec`/`runSec`: summed executor CPU vs occupancy; their ratio is
  *    per-query scheduling density (runSec ≫ cpuSec → tasks sat blocked).
  *  - `gcSec`: summed task-attributed JVM GC time (VERDICT r9 — the three
  *    driver-inflated queries were exactly the allocation-heavy ones while
  *    the allocation-free CPU probe read nominal; GC was the leading
  *    hypothesis and was invisible. Note jvmGCTime is wall-clock of GC
  *    pauses overlapping the task, counted once PER RUNNING TASK — 32
  *    concurrent tasks through one 1-s pause sum to 32 gc_sec — so read it
  *    as a share of runSec, not of wall).
  *  - `fetchWaitSec`: summed shuffle-fetch blocked time — separates "the
  *    exchange moved slowly" from "the CPU work was slow" on shuffle-heavy
  *    queries.
  *  - `peakTaskMem`: max per-task peak execution memory — the partition
  *    sizing signal (would this query's tasks fit a 4 GB executor?).
  */
final case class QueryMetrics(
    tasks: Long,
    shuffleRead: Long,
    shuffleWrite: Long,
    spillMem: Long,
    spillDisk: Long,
    inputBytes: Long,
    inputRecords: Long,
    cpuSec: Double,
    runSec: Double,
    gcSec: Double,
    fetchWaitSec: Double,
    peakTaskMem: Long) {

  private def r2(v: Double): Double = math.round(v * 100) / 100.0

  /** Compact JSON object (keys abbreviated — the full-suite map ships in
    * bench_full.json and carries ~115 of these). */
  def json: String =
    s"""{"tasks":$tasks,"shuf_r":$shuffleRead,"shuf_w":$shuffleWrite,""" +
      s""""spill_mem":$spillMem,"spill_disk":$spillDisk,"input":$inputBytes,""" +
      s""""cpu_sec":${r2(cpuSec)},"run_sec":${r2(runSec)},"gc_sec":${r2(gcSec)},""" +
      s""""fetch_wait_sec":${r2(fetchWaitSec)},"peak_task_mem":$peakTaskMem}"""
}

/** SparkListener that accumulates [[QueryMetrics]] between snapshots.
  *
  * Usage protocol ([[Timing.Window]] implements it): flush the listener bus + [[snapshotAndReset]]
  * immediately BEFORE a query's timed window opens (discarding warmup /
  * isolation events), run the query, flush again, snapshot AFTER — the
  * flush is what makes attribution exact, because task-end events are
  * delivered asynchronously ([[org.apache.spark.GraftListenerBus]]).
  *
  * Thread-safety: task-end events arrive on the listener-bus dispatch
  * thread while snapshots happen on the bench main thread — LongAdder /
  * AtomicLong keep both sides lock-free.
  */
final class QueryMetricsListener extends SparkListener {
  private val tasks = new LongAdder
  private val shufRead = new LongAdder
  private val shufWrite = new LongAdder
  private val spillMem = new LongAdder
  private val spillDisk = new LongAdder
  private val input = new LongAdder
  private val inputRecords = new LongAdder
  private val cpuNs = new LongAdder
  private val runMs = new LongAdder
  private val gcMs = new LongAdder
  private val fetchWaitMs = new LongAdder
  private val peak = new AtomicLong(0L)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tm = e.taskMetrics
    if (tm != null) {
      tasks.increment()
      shufRead.add(tm.shuffleReadMetrics.totalBytesRead)
      shufWrite.add(tm.shuffleWriteMetrics.bytesWritten)
      spillMem.add(tm.memoryBytesSpilled)
      spillDisk.add(tm.diskBytesSpilled)
      input.add(tm.inputMetrics.bytesRead)
      inputRecords.add(tm.inputMetrics.recordsRead)
      cpuNs.add(tm.executorCpuTime)
      runMs.add(tm.executorRunTime)
      gcMs.add(tm.jvmGCTime)
      fetchWaitMs.add(tm.shuffleReadMetrics.fetchWaitTime)
      val p = tm.peakExecutionMemory
      var cur = peak.get()
      while (p > cur && !peak.compareAndSet(cur, p)) cur = peak.get()
    }
  }

  /** Current totals, atomically-enough zeroed for the next window (each
    * counter resets independently; callers flush the bus first, so no
    * events are in flight across the reset). */
  def snapshotAndReset(): QueryMetrics =
    QueryMetrics(
      tasks = tasks.sumThenReset(),
      shuffleRead = shufRead.sumThenReset(),
      shuffleWrite = shufWrite.sumThenReset(),
      spillMem = spillMem.sumThenReset(),
      spillDisk = spillDisk.sumThenReset(),
      inputBytes = input.sumThenReset(),
      inputRecords = inputRecords.sumThenReset(),
      cpuSec = cpuNs.sumThenReset() / 1e9,
      runSec = runMs.sumThenReset() / 1e3,
      gcSec = gcMs.sumThenReset() / 1e3,
      fetchWaitSec = fetchWaitMs.sumThenReset() / 1e3,
      peakTaskMem = peak.getAndSet(0L))
}
