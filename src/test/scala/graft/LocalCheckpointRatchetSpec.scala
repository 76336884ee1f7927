package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A ratchet on `localCheckpoint`, which cuts lineage: a block lost after
  * the cut cannot be recomputed. The count of calls in the main sources
  * is pinned, so a new call, or a removed one, updates it on purpose.
  * Bounded state belongs in a persisted frame with lineage or a
  * driver-held local relation instead. Spark is not started. */
class LocalCheckpointRatchetSpec extends AnyFunSuite {

  private val Pinned = 50

  test(s"src/main/scala holds exactly $Pinned .localCheckpoint( calls") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val counts = try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => f -> "\\.localCheckpoint\\(".r.findAllIn(Files.readString(f)).size)
      .filter(_._2 > 0).toVector
    finally walk.close()
    assert(counts.nonEmpty, "scan found no call at all: wrong working directory?")
    val total = counts.map(_._2).sum
    assert(total == Pinned, counts.sortBy(-_._2)
      .map { case (f, n) => s"$n $f" }.mkString(s"$total calls, pinned $Pinned:\n", "\n", ""))
  }
}
