package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class LocalIndexSpec extends AnyFunSuite with Matchers {

  test("layout leaf never starts with '_' or '.', so Spark does not treat it as hidden") {
    Seq("/data/corpus/sf1", "relative/dir", ".dotted", "_under", "/").foreach { d =>
      val leaf = new java.io.File(LocalIndex.path("kind", d, "_s")).getName
      withClue(s"$d -> $leaf: ") {
        leaf.head should not be '_'
        leaf.head should not be '.'
      }
    }
  }

  test("corpora whose paths sanitize alike still get distinct layouts") {
    LocalIndex.path("kind", "/data/a", "") should not be
      LocalIndex.path("kind", "/data_a", "")
  }
}
