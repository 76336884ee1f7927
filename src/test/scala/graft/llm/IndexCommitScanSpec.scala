package graft.llm

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every persisted vector index — k-NN graph, IVF, IVFPQ — has one write
  * path, [[IndexCommit]]. A scan of `src/main/scala` finds every table
  * write (`saveAsTable`, `insertInto`, `writeBucketed`), drop (`DROP
  * TABLE`, `DROP … PARTITION`) and rename (`RENAME TO`): IndexCommit holds
  * each kind, KnnGraph, StreamingKnnIndex, Ivf and Pq hold none, and no
  * such line elsewhere names an index table (`_nodes`, `_entries`,
  * `_cells`, `_centroids`, `_codes`, `_coarse`, `_cb`). The
  * partition-overwrite switch the old in-place write flipped is gone.
  * Spark is not started. */
class IndexCommitScanSpec extends AnyFunSuite {

  private val Statement = """saveAsTable\(|insertInto\(|writeBucketed\(|\bDROP\b|RENAME TO""".r
  private val Kinds = Seq("saveAsTable(", "DROP TABLE", "DROP IF EXISTS", "RENAME TO")

  private lazy val sources: Map[Path, Seq[String]] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => f -> Files.readAllLines(f).asScala.toSeq).toMap
    finally walk.close()
  }

  private def named(f: Path, name: String) = f.getFileName.toString == name

  /** (file, 1-based line, text) of every write, drop or rename. */
  private lazy val hits: Seq[(Path, Int, String)] = for {
    (f, lines) <- sources.toSeq
    (l, i) <- lines.zipWithIndex
    if Statement.findFirstIn(l).nonEmpty
  } yield (f, i + 1, l.trim)

  private def show(hs: Seq[(Path, Int, String)]) =
    hs.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n")

  test("only IndexCommit writes, drops or renames a k-NN index table") {
    assert(sources.size > 100, "scan found too few sources: wrong working directory?")
    val (commit, rest) = hits.partition(h => named(h._1, "IndexCommit.scala"))
    for (k <- Kinds)
      assert(commit.exists(_._3.contains(k)), s"IndexCommit holds no $k: the scan is stale")
    val inIndex = rest.filter(h =>
      named(h._1, "KnnGraph.scala") || named(h._1, "StreamingKnnIndex.scala"))
    assert(inIndex.isEmpty, "write outside IndexCommit:\n" + show(inIndex))
    val onIndexTables = rest.filter(h => "_(nodes|entries)\\b".r.findFirstIn(h._3).nonEmpty)
    assert(onIndexTables.isEmpty, "index table written outside IndexCommit:\n" +
      show(onIndexTables))
  }

  test("only IndexCommit writes, drops or renames an IVF or IVFPQ index table") {
    val rest = hits.filterNot(h => named(h._1, "IndexCommit.scala"))
    val inIndex = rest.filter(h => named(h._1, "Ivf.scala") || named(h._1, "Pq.scala"))
    assert(inIndex.isEmpty, "write outside IndexCommit:\n" + show(inIndex))
    val onIndexTables = rest.filter(h =>
      "_(cells|centroids|codes|coarse|cb)\\b".r.findFirstIn(h._3).nonEmpty)
    assert(onIndexTables.isEmpty, "index table written outside IndexCommit:\n" +
      show(onIndexTables))
  }

  test("no main source switches partitionOverwriteMode or overwrites buckets in place") {
    val left = for {
      (f, lines) <- sources.toSeq
      (l, i) <- lines.zipWithIndex
      if l.contains("partitionOverwriteMode") || l.contains("overwriteBuckets")
    } yield s"$f:${i + 1}"
    assert(left.isEmpty, left.mkString("\n"))
  }
}
