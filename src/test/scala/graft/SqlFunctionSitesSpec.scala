package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** A SQL function is a Column function first: `GraftExtensions.scala`
  * builds no Catalyst tree of its own, so it names no Catalyst expression
  * beyond the registry's types and the literal `word_shingles` checks. */
class SqlFunctionSitesSpec extends AnyFunSuite {

  test("GraftExtensions.scala uses no Catalyst expression but Expression, ExpressionInfo, Literal") {
    val file = Paths.get("src/main/scala/graft/GraftExtensions.scala")
    assert(Files.isRegularFile(file), s"run from the project root (no $file)")
    val src = new String(Files.readAllBytes(file), "UTF-8")
    // imports (braced, single, wildcard) and fully qualified uses alike
    val ref = """catalyst\.expressions\.(\{[^}]*\}|\w+|_)""".r
    val names = ref.findAllMatchIn(src).toSeq.flatMap { m =>
      m.group(1).stripPrefix("{").stripSuffix("}").split(",").map(_.trim.split("\\s")(0))
    }
    assert(names.nonEmpty, s"found no catalyst.expressions reference in $file")
    val allowed = Set("Expression", "ExpressionInfo", "Literal")
    val stray = names.filterNot(allowed)
    assert(stray.isEmpty, s"$file names ${stray.mkString(", ")}: " +
      "define the function as a Column function and add a GraftFunctions row calling it")
  }
}
