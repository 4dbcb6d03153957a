package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source hygiene over `src/main/scala`. Scaladoc attaches a doc block to the
  * definition that follows it, so a block directly above another block
  * documents nothing: the tool drops it and its definition renders the
  * lower block's text or none. */
class ScaladocSpec extends AnyFunSuite {

  /** `file:line` of every line that ends a comment and is directly followed
    * by a line that opens a doc block. */
  private def orphanedDocs(root: Path): Seq[String] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .flatMap { f =>
        Files.readAllLines(f).asScala.toSeq.zipWithIndex.sliding(2).collect {
          case Seq((a, i), (b, _)) if a.trim.endsWith("*/") && b.trim.startsWith("/**") =>
            s"$f:${i + 1}"
        }
      }
    finally files.close()
  }

  test("no scaladoc block sits directly above another one") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val found = orphanedDocs(root)
    assert(found.isEmpty,
      s"doc blocks that document nothing (move each above its definition):\n${found.mkString("\n")}")
  }
}
