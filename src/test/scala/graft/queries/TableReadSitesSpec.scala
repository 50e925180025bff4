package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every table a query reads goes through `graft.sources.Tables`, which
  * infers each parquet schema once per file version: a query source that
  * opens a reader itself would launch a footer job on every build. */
class TableReadSitesSpec extends AnyFunSuite {

  test("no query source opens a DataFrameReader") {
    val root = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size >= 3, s"scanned only ${files.size} files under $root")
    // `s.read.parquet(`, `spark.read`, and the reader split over lines
    val read = """\.read\s*\.\s*parquet\(|\bspark\s*\.\s*read\b|\.read\s*\.\s*(format|load|schema|option)\b""".r
    val hits = for {
      p: Path <- files
      src = new String(Files.readAllBytes(p), "UTF-8")
      m <- read.findAllMatchIn(src)
    } yield s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched}"
    assert(hits.isEmpty, "read tables through graft.sources.Tables instead:\n" + hits.mkString("\n"))
  }
}
