package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The program's runnable surface: the registered `main` objects and the
  * [[ScaleStress]] mode table. Neither check starts Spark. */
class EntryPointsSpec extends AnyFunSuite {

  /** The only objects allowed a `main`. A new one is registered here
    * deliberately, not left behind as a scratch probe. */
  private val allowedMains = Set(
    "graft.Bench", "graft.Verify", "graft.PlanDump", "graft.PlanSnap",
    "graft.ScaleStress", "graft.pipeline.ExperimentMain")

  private def sources(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  test("def main appears only in the allow-listed objects") {
    val Pkg = """\s*package\s+([\w.]+).*""".r
    val Obj = """\s*(?:private(?:\[\w+\])?\s+)?(?:case\s+)?object\s+(\w+)\b.*""".r
    val mains = sources(Paths.get("src/main/scala")).flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toVector
      val pkg = lines.collectFirst { case Pkg(p) => p }.getOrElse("")
      lines.indices.filter(i => lines(i).contains("def main(")).map { i =>
        val obj = lines.take(i).reverse.collectFirst { case Obj(o) => o }
          .getOrElse(sys.error(s"$f:${i + 1}: def main outside an object"))
        s"$pkg.$obj"
      }
    }
    assert(mains.nonEmpty, "scan found no main at all: wrong working directory?")
    val unregistered = mains.filterNot(allowedMains)
    assert(unregistered.isEmpty,
      s"unregistered main entry points: ${unregistered.mkString(", ")}")
  }

  test("every ScaleStress flag the README lists resolves through the mode table") {
    val Flag = """--\w+""".r
    val listed = Files.readAllLines(Paths.get("README.md")).asScala
      .filter(_.contains("runMain graft.ScaleStress"))
      .flatMap(l => Flag.findAllIn(l)).distinct
    assert(listed.nonEmpty)
    for (f <- listed)
      assert(ScaleStress.resolve(Seq("some/sfDir", f)).map(_.flag) == Right(f))
  }

  test("the mode table: distinct flags, first listed wins, no flag runs the sweep") {
    val flags = ScaleStress.modes.map(_.flag)
    assert(flags.distinct == flags)
    assert(ScaleStress.resolve(Seq("--zorder", "--layout")).map(_.flag) == Right("--layout"))
    assert(ScaleStress.resolve(Seq("/some/sf")).map(_.flag) == Right(""))
  }

  test("an unknown ScaleStress flag is rejected with the mode list") {
    val err = ScaleStress.resolve(Seq("--knngrpah")) match {
      case Left(e) => e
      case Right(m) => fail(s"misspelled flag resolved to ${m.flag}")
    }
    assert(err.contains("--knngrpah"))
    for (f <- ScaleStress.modes.map(_.flag)) assert(err.contains(f))
    assert(ScaleStress.resolve(Seq("--layout", "--bogus")).isLeft)
  }
}
