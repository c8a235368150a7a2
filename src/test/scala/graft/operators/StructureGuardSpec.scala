package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source-structure guards over the operator files: derived per-corpus
  * state goes through [[graft.sources.CorpusMemo]], whose staleness
  * rule is the one every layout uses, never a map an operator keeps
  * and invalidates by hand. */
class StructureGuardSpec extends AnyFunSuite with Matchers {

  private val operators = new java.io.File("src/main/scala/graft/operators")

  test("no operator file declares a ConcurrentHashMap") {
    val files = Option(operators.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
    withClue(s"operator sources under ${operators.getAbsolutePath}: ") {
      files should not be empty
    }
    val found = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains("ConcurrentHashMap") => s"${f.getName}:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
    withClue("keep per-corpus state in a graft.sources.CorpusMemo:\n" + found.mkString("\n")) {
      found shouldBe empty
    }
  }
}
