package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Rules over the program's source text. A comment says why the code is
  * the way it is today; a round tag (`r13`, `r18 ADVICE`) narrates history
  * that the version control already holds, so none may appear.
  */
class SourceHygieneSpec extends AnyFunSuite {

  test("src/main/scala carries no round-history tags") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val tag = """\br[0-9]{1,2}\b""".r
    val walk = Files.walk(root)
    val hits =
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        .sortBy(_.toString)
        .flatMap { (f: Path) =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if tag.findFirstIn(line).isDefined => s"$f:${i + 1}"
          }
        }
      finally walk.close()
    assert(hits.isEmpty, hits.mkString("round-history tags at:\n", "\n", ""))
  }
}
