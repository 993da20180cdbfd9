package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every fully qualified `graft.tools` name in the sources and the
  * operator docs must be a tool that exists. The convention it holds:
  * a runnable pointer (a remediation path in an error message, a "run
  * this to re-measure" note) names the tool fully qualified; a
  * historical citation of a deleted tool uses its bare name and round
  * ("LinkAggAudit, round 11"), so deleting a tool never leaves a
  * pointer to nothing.
  */
class ToolReferenceSpec extends AnyFunSuite {

  private val qualified = """graft\.tools\.([A-Z][A-Za-z0-9_]*)""".r

  private def sources(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("every fully qualified graft.tools reference names an existing tool") {
    val files = sources("src/main/scala") ++ sources("src/test/scala") ++
      Seq("README.md", "OPERATIONS.md").map(Paths.get(_))
    val refs = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- qualified.findAllMatchIn(line)
    } yield (s"$f:${i + 1}", m.group(1))
    // the pointers the Ann remediation messages carry, at least
    assert(refs.map(_._2).toSet.contains("QuantTune"), refs)
    val dangling = refs.filterNot { case (_, name) =>
      scala.util.Try(Class.forName(s"graft.tools.$name$$", false,
        getClass.getClassLoader)).isSuccess
    }
    assert(dangling.isEmpty,
      dangling.map { case (at, n) => s"$at: graft.tools.$n" }.mkString("\n"))
  }

  test("every row ScaleProbe sweeps is a SparkEntry row") {
    // a renamed or mistyped row fails here instead of dropping out of
    // the sweep
    val rows = graft.tools.ScaleProbe.rows
    assert(rows.nonEmpty)
    val unknown = rows.filterNot(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, unknown)
  }
}
