package graft.operators

import graft.SparkSpec

class KCoreSpec extends SparkSpec {

  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Map[Long, Int] =
    KCore.peelRounds(edges.toDF("u", "v"), "u", "v", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("a path peels layer by layer from the ends") {
    // 1-2-3-4-5, k=2: ends go r1, new ends r2, center isolated r3
    val got = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), 2, 3)
    assert(got == Map(1L -> 1, 5L -> 1, 2L -> 2, 4L -> 2, 3L -> 3))
  }

  test("a clique at degree k survives every round") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(run(k4, 3, 3).values.forall(_ == 0))
  }

  test("isolated-by-peeling vertices peel, never linger as survivors") {
    // star: leaves peel round 1, the center's degree drops to 0 → round 2
    val got = run(Seq((0L, 1L), (0L, 2L), (0L, 3L)), 2, 3)
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1, 0L -> 2))
  }

  test("core plus pendant: only the pendant peels") {
    val got = run(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 9L)), 2, 3)
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 0, 9L -> 1))
  }

  test("pairs with a null endpoint are dropped") {
    val edges = Seq((Some(1L), Some(2L)), (Some(2L), Some(3L)), (Some(3L), Some(1L)),
      (Some(3L), None), (None, Some(1L))).toDF("u", "v")
    val got = KCore.peelRounds(edges, "u", "v", 2, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 0))
  }
}
