package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

class LocalIndexSpec extends graft.SparkSpec {
  import LocalIndexSpec.put


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

  test("two threads ensuring one cold directory run one build and read the same rows") {
    val d = java.nio.file.Files.createTempDirectory("localindex-once").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Seq[Long]]]()
    val threads = Seq.fill(2)(new Thread(() => {
      start.await()
      rows.add(try {
        val dir = LocalIndex.ensure("spec-once", d, "", Seq(d), "fp") { out =>
          builds.incrementAndGet()
          Thread.sleep(300) // hold the build open while the other caller arrives
          spark.range(0, 50).coalesce(1).write.mode("overwrite").parquet(out)
        }
        Right(graft.Tables.loadLayout(spark, dir).collect().map(_.getLong(0)).sorted.toSeq)
      } catch { case e: Throwable => Left(e) })
      ()
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(120000))
    builds.get shouldBe 1
    import scala.jdk.CollectionConverters._
    rows.asScala.toSeq shouldBe Seq.fill(2)(Right(0L until 50L))
  }

  /** An ensure of a layout over the directory source `src` that writes
    * 10 rows per build so far. */
  private def ensureCounting(src: String, builds: AtomicInteger) =
    LocalIndex.ensure("spec-stale", src, "", Seq(src), "v1") { out =>
      val n = builds.incrementAndGet()
      spark.range(0, 10L * n).coalesce(1).write.mode("overwrite").parquet(out)
    }

  test("ensure with no append path serves an unchanged source and rebuilds a grown one") {
    val src = Files.createTempDirectory("localindex-grow").toString
    val builds = new AtomicInteger
    put(src, "shard-0.parquet", 10)
    val dir = ensureCounting(src, builds)
    val gen = LayoutCatalog.generation(dir)
    ensureCounting(src, builds) shouldBe dir
    builds.get shouldBe 1
    LayoutCatalog.generation(dir) shouldBe gen
    put(src, "shard-1.parquet", 10)
    ensureCounting(src, builds)
    builds.get shouldBe 2
    LayoutCatalog.generation(dir) should not be gen
    graft.Tables.loadLayout(spark, dir).count() shouldBe 20L
  }

  test("rewriting only a directory source's _SUCCESS keeps the layout and its generation") {
    val src = Files.createTempDirectory("localindex-success").toString
    val builds = new AtomicInteger
    put(src, "shard-0.parquet", 10)
    put(src, "_SUCCESS", 0)
    val dir = ensureCounting(src, builds)
    val gen = LayoutCatalog.generation(dir)
    gen shouldBe defined
    put(src, "_SUCCESS", 3)
    ensureCounting(src, builds)
    builds.get shouldBe 1
    LayoutCatalog.generation(dir) shouldBe gen
  }
}

object LocalIndexSpec {

  /** Writes `name` under `dir` with `bytes` bytes and an mtime distinct
    * from any earlier write of it, so a rewrite always moves its
    * manifest entry. */
  def put(dir: String, name: String, bytes: Int): Unit = {
    val p = Paths.get(dir, name)
    val mtime = if (Files.exists(p)) Files.getLastModifiedTime(p).toMillis + 2000
      else System.currentTimeMillis
    Files.write(p, Array.fill[Byte](bytes)(1))
    p.toFile.setLastModified(mtime)
    ()
  }
}
