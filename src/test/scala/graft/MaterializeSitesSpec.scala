package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The materialization policy lives in one place: no main source but
  * `Materialize.scala` checkpoints a frame itself, so a new site cannot
  * pick executor-local blocks (or a reliable checkpoint) on its own. */
class MaterializeSitesSpec extends AnyFunSuite {

  test("only Materialize.scala calls localCheckpoint or checkpoint") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val call = """\.(localCheckpoint|checkpoint)\(""".r
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Materialize.scala")
      .toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val hits = for {
      p: Path <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "materialize through graft.Materialize instead:\n" + hits.mkString("\n"))
  }
}
