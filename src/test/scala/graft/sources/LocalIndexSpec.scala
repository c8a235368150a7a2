package graft.sources

class LocalIndexSpec extends graft.SparkSpec {

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
        val dir = LocalIndex.ensure("spec-once", d, "", "fp") { out =>
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
}
