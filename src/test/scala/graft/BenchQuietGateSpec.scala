package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's contended-probe decision. The probe nominals were
  * measured on the 32-thread reference host, so they gate only a host
  * with at least that many cores; elsewhere no probe reads contended and
  * the quiet gate never sleeps. Spark is not started. */
class BenchQuietGateSpec extends AnyFunSuite {

  test("on the reference host a probe ≥ 1.5× either nominal is contended") {
    for (cores <- Seq(32, 64)) {
      assert(!Bench.isContended(0.50, 0.90, cores))
      assert(!Bench.isContended(0.74, 1.34, cores))
      assert(Bench.isContended(0.76, 0.90, cores))
      assert(Bench.isContended(0.50, 1.36, cores))
    }
  }

  test("below the reference core count no probe is contended") {
    // the probe pairs a quiet 4-core VM reads: cpu 1.20–1.45 s, shuffle 2.26–2.35 s
    for (cores <- Seq(1, 4, 8, 31)) {
      assert(!Bench.isContended(1.20, 2.26, cores))
      assert(!Bench.isContended(1.45, 2.35, cores))
      assert(!Bench.isContended(100.0, 100.0, cores))
    }
  }
}
