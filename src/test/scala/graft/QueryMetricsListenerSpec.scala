package graft

import org.apache.spark.sql.functions._

/** Pins the bench harness's metrics-attribution protocol: flush + reset at
  * the window's open edge, flush + snapshot at the close edge. A defect
  * here silently corrupts every per-query metric in bench_full.json, so
  * the protocol gets its own spec rather than trusting the artifact. */
class QueryMetricsListenerSpec extends SparkSpec {

  private def flush(): Unit =
    org.apache.spark.GraftListenerBus.flush(spark.sparkContext)

  test("snapshot attributes tasks and bytes to the window; reset zeroes it") {
    val listener = new QueryMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      flush(); listener.snapshotAndReset() // open edge
      // a job with a real shuffle so shuffle metrics are nonzero
      spark.range(1L << 16).select(pmod(col("id"), lit(97L)).as("k"))
        .groupBy("k").count().write.format("noop").mode("overwrite").save()
      flush()
      val m = listener.snapshotAndReset()
      assert(m.tasks > 0, "no tasks attributed to the window")
      assert(m.shuffleWrite > 0 && m.shuffleRead > 0, s"no shuffle bytes: $m")
      assert(m.runSec > 0)
      // the reset closed the window: an immediate second snapshot is empty
      flush()
      val empty = listener.snapshotAndReset()
      assert(empty.tasks == 0 && empty.shuffleRead == 0L,
        s"reset leaked state into the next window: $empty")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a parquet scan's window counts its rows as input records; reset zeroes it") {
    val dir = java.nio.file.Files.createTempDirectory("qml_records")
    val path = dir.resolve("t").toString
    spark.range(12345L).write.parquet(path)
    val listener = new QueryMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      flush(); listener.snapshotAndReset() // open edge
      spark.read.parquet(path).write.format("noop").mode("overwrite").save()
      flush()
      assert(listener.snapshotAndReset().inputRecords == 12345L)
      flush()
      assert(listener.snapshotAndReset().inputRecords == 0L)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Timing.rmTree(dir)
    }
  }

  test("work outside the window (before the open-edge reset) is discarded") {
    val listener = new QueryMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      // pollution: a job BEFORE the window opens
      spark.range(1000).select(sum(col("id"))).head()
      flush(); listener.snapshotAndReset() // open edge discards it
      flush()
      val m = listener.snapshotAndReset()
      assert(m.tasks == 0, s"pre-window work leaked in: $m")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
