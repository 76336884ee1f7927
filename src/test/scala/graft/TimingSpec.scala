package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pins the shared timing core ([[Timing]]) that [[Bench]] and
  * [[ScaleStress]] both measure through. */
class TimingSpec extends SparkSpec {

  private def job(): Long =
    spark.range(0L, 4000L, 1L, 4).select(sum(col("id"))).head().getLong(0)

  test("best: the warm run stays outside every window") {
    Timing.withWindow(spark) { window =>
      val single = window(job()).metrics.tasks
      assert(single > 0)
      var runs = 0
      val t = window.best(1) { runs += 1; job() }
      assert(runs == 2, "one warm run plus one timed run")
      assert(t.metrics.tasks == single,
        s"the warm run's tasks leaked into the window: ${t.metrics.tasks} vs $single")
    }
  }

  test("best: returns the fastest of n windows") {
    Timing.withWindow(spark) { window =>
      val sleepsMs = Iterator(0L, 400L, 30L, 250L) // warm, then three trials
      var run = -1
      val t = window.best(3) { run += 1; Thread.sleep(sleepsMs.next()); run }
      assert(t.value == 2, s"picked trial ${t.value}, not the 30 ms one")
      assert(t.wall >= 0.03 && t.wall < 0.25, s"wall ${t.wall}")
    }
  }

  test("isolate leaves no persisted RDD behind") {
    val cached = spark.range(1000L).toDF("x").cache()
    cached.count()
    spark.range(1000L).toDF("y").localCheckpoint(true).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Timing.isolate(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("point: a throw releases exactly what it kept, and a kept frame outlives its blocks") {
    val sc = spark.sparkContext
    val outside = spark.range(500L).toDF("o").cache()
    outside.count()
    val before = sc.getPersistentRDDs.keySet
    def grouped = spark.range(0L, 4000L, 1L, 4)
      .groupBy((col("id") % 97).as("k")).agg(sum("id").as("s"))
    val expected = grouped.collect().toSet
    var kept: Seq[org.apache.spark.sql.DataFrame] = Nil
    val thrown = intercept[IllegalStateException] {
      Timing.point { p =>
        val lost = p.keep(grouped)
        val underLost = sc.getPersistentRDDs -- before
        val held = p.keep(spark.range(300L).toDF("h"))
        assert(p.keep(outside) eq outside)
        kept = Seq(lost, held)
        assert(underLost.size == 1 && (sc.getPersistentRDDs -- before).size == 2)
        // drop the blocks under `lost`: with its lineage kept, the frame
        // recomputes the same rows (a localCheckpoint would fail here)
        underLost.values.foreach(_.unpersist(blocking = true))
        assert(lost.collect().toSet == expected)
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "the scope left a kept RDD persisted")
    assert(kept.forall(_.storageLevel == StorageLevel.NONE))
    assert(before.subsetOf(sc.getPersistentRDDs.keySet),
      "the scope released an RDD persisted outside it")
    assert(outside.storageLevel != StorageLevel.NONE)
    outside.unpersist(blocking = true)
  }

  test("rmTree removes a nested tree, and a missing root is a no-op") {
    val root = Files.createTempDirectory("timing_rmtree")
    val leaf = Files.createDirectories(root.resolve("a/b/c"))
    Files.write(leaf.resolve("f.txt"), Array[Byte](1, 2, 3))
    Files.write(root.resolve("a/g.txt"), Array[Byte](4))
    Timing.rmTree(root)
    assert(!Files.exists(root))
    Timing.rmTree(root)
  }

  test("vsPrev: ratio against the previous point, a dash at the first") {
    assert(Timing.vsPrev(3.0, 1.5) == "2.00x")
    assert(Timing.vsPrev(3.0, -1.0) == "  - ")
  }
}
