package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The staleness rules of [[CorpusMemo]], driven on shard files
  * directly: the memo reads only the table's data-file manifest, so no
  * Spark job is needed. */
class CorpusMemoSpec extends AnyFunSuite with Matchers {

  /** A corpus dir whose `t.parquet` table holds no shard yet. */
  private def corpus(): String = {
    val d = Files.createTempDirectory("corpus-memo").toString
    Files.createDirectory(Paths.get(d, "t.parquet"))
    d
  }

  private def shard(d: String, n: Int, bytes: Int): Unit =
    LocalIndexSpec.put(s"$d/t.parquet", s"shard-$n.parquet", bytes)

  /** A memo whose value counts its derivations. */
  private def counting(growOnly: Boolean) = {
    val derives = new AtomicInteger
    val memo = new CorpusMemo[Int]("t", growOnly)
    (memo, (d: String) => memo(d)(derives.incrementAndGet()), derives)
  }

  test("grow-only: an append serves the cached value and adopts the grown manifest; a rewrite of the new or an old shard re-derives") {
    val d = corpus()
    val (memo, get, derives) = counting(growOnly = true)
    shard(d, 0, 10)
    get(d) shouldBe 1
    shard(d, 1, 10)
    get(d) shouldBe 1
    memo.peek(d) shouldBe Some(1)
    // the appended shard is now part of the served corpus
    shard(d, 1, 20)
    get(d) shouldBe 2
    get(d) shouldBe 2
    shard(d, 0, 30)
    get(d) shouldBe 3
    derives.get shouldBe 3
  }

  test("rebuild-on-change: an append re-derives") {
    val d = corpus()
    val (_, get, _) = counting(growOnly = false)
    shard(d, 0, 10)
    get(d) shouldBe 1
    get(d) shouldBe 1
    shard(d, 1, 10)
    get(d) shouldBe 2
  }

  test("a corpus rewritten while derive runs is stored under the manifest read before it") {
    Seq(true, false).foreach { growOnly =>
      val d = corpus()
      shard(d, 0, 10)
      val memo = new CorpusMemo[String]("t", growOnly)
      memo(d) { shard(d, 0, 20); "derived from the old shard" }
      memo.peek(d) shouldBe Some("derived from the old shard")
      withClue(s"growOnly = $growOnly: ") {
        memo(d)("derived from the new shard") shouldBe "derived from the new shard"
      }
    }
  }

  test("a derive that calls another memo completes") {
    val d = corpus()
    shard(d, 0, 10)
    val coarse = new CorpusMemo[Seq[Int]]("t", growOnly = true)
    val fine = new CorpusMemo[Seq[Int]]("t", growOnly = true)
    def coarseFor(d: String) = coarse(d)(Seq(1, 2))
    // the fine memo's derive reads the coarse memo of the same dir
    fine(d)(coarseFor(d).map(_ * 10)) shouldBe Seq(10, 20)
    fine(d)(Nil) shouldBe Seq(10, 20)
    coarse.peek(d) shouldBe Some(Seq(1, 2))
    // and one that reads the same memo for another dir
    val other = corpus()
    shard(other, 0, 10)
    fine(other)(fine(d)(Nil).map(_ + 1)) shouldBe Seq(11, 21)
  }
}
