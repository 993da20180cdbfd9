package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The bucketed-table layout is one decision, made in
  * `graft.sources.Layout` (publishBucketed / appendBucketed /
  * compactBucketed). Code that spells its own bucketed write can drift
  * from it: the LSH tier once skipped the pre-write repartition and
  * published 8 files per bucket at 8 shuffle partitions.
  */
class LayoutGuardSpec extends AnyFunSuite {

  test("no operator spells its own bucketed write: bucketBy( stays in Layout") {
    val root = Paths.get("src/main/scala")
    val layout = Paths.get("src/main/scala/graft/sources/Layout.scala")
    val s = Files.walk(root)
    val files = try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    assert(files.exists(_.getFileName.toString == "EditDistanceJoin.scala"),
      s"scan found no operator sources under $root")
    assert(files.contains(layout), s"scan did not reach $layout")
    val sites = for {
      f <- files if f != layout
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("bucketBy(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(sites.isEmpty, sites.mkString("\n"))
  }
}
