package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The standing-table layout is one decision, made in
  * `graft.sources.Layout`: the bucketed write (publishBucketed /
  * appendBucketed) and compaction (compactIfNeeded and its staged swap).
  * Code that spells its own bucketed write can drift from it: the LSH
  * tier once skipped the pre-write repartition and published 8 files per
  * bucket at 8 shuffle partitions. A per-tier compaction verb or swap
  * outside Layout is a second spelling of a layout's rewrite.
  */
class LayoutGuardSpec extends AnyFunSuite {

  private val layout = Paths.get("src/main/scala/graft/sources/Layout.scala")

  /** Every `file:line: text` under src/main/scala, outside Layout.scala,
    * whose line `hit` matches.
    */
  private def sitesOutsideLayout(hit: String => Boolean): List[String] = {
    val root = Paths.get("src/main/scala")
    val s = Files.walk(root)
    val files = try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    assert(files.exists(_.getFileName.toString == "EditDistanceJoin.scala"),
      s"scan found no operator sources under $root")
    assert(files.contains(layout), s"scan did not reach $layout")
    for {
      f <- files if f != layout
      (line, i) <- Files.readAllLines(f).asScala.toList.zipWithIndex
      if hit(line)
    } yield s"$f:${i + 1}: ${line.trim}"
  }

  test("no operator spells its own bucketed write: bucketBy( stays in Layout") {
    val sites = sitesOutsideLayout(_.contains("bucketBy("))
    assert(sites.isEmpty, sites.mkString("\n"))
  }

  test("compaction is spelled once: stagedSwap( and def compact... stay in Layout") {
    val compactDef = """\bdef\s+compact""".r
    val sites = sitesOutsideLayout(line =>
      line.contains("stagedSwap(") || compactDef.findFirstIn(line).isDefined)
    assert(sites.isEmpty, sites.mkString("\n"))
  }
}
