package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The codec-leg fan-out policy lives in one place: no query source
  * repartitions to `defaultParallelism` outside `LlmQueries.fanOut`, so a
  * later policy change (a conditional fan-out) is one edit, not a hunt. */
class FanOutSitesSpec extends AnyFunSuite {

  test("only fanOut repartitions a query to defaultParallelism") {
    val root = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size >= 3, s"scanned only ${files.size} files under $root")
    // the argument may sit on the next line
    val call = """repartition\(\s*[^)]*defaultParallelism""".r
    val defn = """\bdef\s+(\w+)""".r
    val sites = for {
      p: Path <- files
      src = new String(Files.readAllBytes(p), "UTF-8")
      m <- call.findAllMatchIn(src)
    } yield {
      val before = src.substring(0, m.start)
      val enclosing = defn.findAllMatchIn(before).toSeq.lastOption.map(_.group(1))
      (s"$p:${before.count(_ == '\n') + 1}", enclosing)
    }
    val stray = sites.collect { case (at, enclosing) if !enclosing.contains("fanOut") => at }
    assert(stray.isEmpty, "fan a codec leg out through LlmQueries.fanOut instead:\n" +
      stray.mkString("\n"))
    assert(sites.size == 1, s"expected the one call in fanOut, found ${sites.map(_._1)}")
  }
}
