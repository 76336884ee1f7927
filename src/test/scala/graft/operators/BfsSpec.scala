package graft.operators

import graft.SparkSpec

class BfsSpec extends SparkSpec {

  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], sources: Seq[Long],
      hops: Int): Map[Long, Long] =
    Bfs.boundedDistances(edges.toDF("u", "v"), "u", "v",
        sources.toDF("id"), hops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("multi-source min distances on a path graph") {
    // 1-2-3-4-5-6, sources {1, 6}: dists 0,1,2,2,1,0 within 2 hops
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(run(edges, Seq(1L, 6L), 2) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L, 6L -> 0L))
  }

  test("bounded hops: vertices beyond maxHops are absent, not infinite") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val got = run(edges, Seq(1L), 2)
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(!got.contains(4L))
  }

  test("edges are undirected: distance flows both ways") {
    assert(run(Seq((2L, 1L)), Seq(1L), 1) == Map(1L -> 0L, 2L -> 1L))
  }

  test("a cycle does not inflate distances") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(run(edges, Seq(1L), 3) == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("pairs with a null endpoint and null sources are dropped") {
    val edges = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)))
      .toDF("u", "v")
    val got = Bfs.boundedDistances(edges, "u", "v",
        Seq(Some(1L), None).toDF("id"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L))
  }

  test("zero hops returns exactly the source set") {
    assert(run(Seq((1L, 2L)), Seq(1L), 0) == Map(1L -> 0L))
  }
}
