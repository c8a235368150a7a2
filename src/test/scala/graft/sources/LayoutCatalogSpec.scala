package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.Tables
import graft.operators.{Ann, InvertedIndex, VectorSearch}

/** Fault injection against [[LayoutCatalog]]: under a failed build, a
  * concurrent append, a widened schema and a compaction, the reader
  * re-resolves, rebuilds or fails loudly; it never answers with torn or
  * stale rows. */
class LayoutCatalogSpec extends graft.SparkSpec {
  import spark.implicits._

  /** A source directory of shard files `shard-<n>.parquet`. */
  private def source(): String = Files.createTempDirectory("catalog-src").toString

  private def land(src: String, n: Int, ids: Range): Unit = {
    val tmp = Files.createTempDirectory("catalog-shard").toString
    ids.map(_.toLong).toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.startsWith("part-")).get
    Files.move(part.toPath, Paths.get(src, s"shard-$n.parquet"), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** A layout of the source's ids partitioned by `id % 3`, kept by
    * [[LocalIndex.ensureIncremental]]; `appended` shapes the rows an
    * append writes. */
  private def ensureLayout(src: String,
      appended: DataFrame => DataFrame = identity): String = {
    def rows(df: DataFrame) = df.withColumn("p", col("id") % 3)
    LocalIndex.ensureIncremental("catalog-spec", src, "", Seq(src), extra = "") { out =>
      rows(spark.read.parquet(src)).write.mode("overwrite").partitionBy("p").parquet(out)
    } { (files, out) =>
      appended(rows(spark.read.parquet(files: _*)))
        .write.mode("append").partitionBy("p").parquet(out)
    }
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq

  test("a build that throws midway retains nothing, and the next ensure rebuilds") {
    val src = source()
    land(src, 0, 0 until 20)
    val dir = ensureLayout(src)
    ids(Tables.loadLayout(spark, dir)) shouldBe (0L until 20L)
    // a rebuild that has overwritten the layout when it throws
    intercept[RuntimeException] {
      LocalIndex.ensure("catalog-spec", src, "", Seq(src), "v2") { out =>
        spark.range(100, 105).toDF("id").write.mode("overwrite").parquet(out)
        throw new RuntimeException("injected build failure")
      }
    }
    LayoutCatalog.generation(dir) shouldBe None
    var builds = 0
    LocalIndex.ensure("catalog-spec", src, "", Seq(src), "v2") { out =>
      builds += 1
      spark.range(200, 210).toDF("id").write.mode("overwrite").parquet(out)
    }
    builds shouldBe 1
    LayoutCatalog.generation(dir) shouldBe defined
    ids(Tables.loadLayout(spark, dir)) shouldBe (200L until 210L)
  }

  test("an append that throws midway is rebuilt, not appended twice") {
    val src = source()
    land(src, 0, 0 until 20)
    val dir = ensureLayout(src)
    ids(Tables.loadLayout(spark, dir)) shouldBe (0L until 20L)
    land(src, 1, 20 until 30)
    // the shard's rows land, then the append fails before its marker
    intercept[RuntimeException] {
      ensureLayout(src, appended = { df =>
        df.write.mode("append").partitionBy("p").parquet(LocalIndex.path("catalog-spec", src, ""))
        throw new RuntimeException("injected append failure")
      })
    }
    LayoutCatalog.generation(dir) shouldBe None
    ids(Tables.loadLayout(spark, ensureLayout(src))) shouldBe (0L until 30L)
  }

  test("an append under a held frame: the frame keeps its snapshot, the next request sees the rows") {
    val src = source()
    land(src, 0, 0 until 20)
    val dir = ensureLayout(src)
    val held = Tables.loadLayout(spark, dir)
    val gen = LayoutCatalog.generation(dir)
    land(src, 1, 20 until 25)
    ensureLayout(src) shouldBe dir
    LayoutCatalog.generation(dir) should not be gen
    ids(held) shouldBe (0L until 20L)
    ids(Tables.loadLayout(spark, dir)) shouldBe (0L until 25L)
  }

  test("a widened-schema append re-resolves the schema: the new column over every row") {
    val src = source()
    land(src, 0, 0 until 20)
    val dir = ensureLayout(src)
    Tables.loadLayout(spark, dir).columns.toSeq shouldBe Seq("id", "p")
    land(src, 1, 20 until 25)
    ensureLayout(src, appended = _.withColumn("w", lit(1.5)))
    val got = Tables.loadLayout(spark, dir)
    got.columns.toSet shouldBe Set("id", "p", "w")
    got.select(col("id"), col("w")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq shouldBe
      ((0L until 20L).map(i => (i, None)) ++ (20L until 25L).map(i => (i, Some(1.5))))
  }

  test("a delete registered after an entry is retained is honoured by the next read") {
    graft.functions.vectors.register(spark)
    val embs = Files.createTempDirectory("catalog-live").toString
    (0 until 400).map { i =>
      val base = VectorSearch.qvec(10 + i % Ann.NumQueries)
      (i.toLong, base.zipWithIndex.map { case (x, j) =>
        (x + (i / Ann.NumQueries) * 0.01 * ((j % 3) - 1)).toFloat })
    }.toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$embs/embeddings.parquet")
    def live(): Seq[Long] = Ann.quantizedIvfKnn(spark, embs, live = true)
      .collect().map(_.getLong(1)).toSeq
    val base = live()
    val i8Dir = Ann.ensureIvfIndexI8(spark, embs)
    val gen = LayoutCatalog.generation(i8Dir)
    Ann.tombstoneVecsAll(spark, embs, base.take(2))
    LayoutCatalog.generation(i8Dir) should not be gen
    val first = live()
    first should contain noneOf (base(0), base(1))
    // warm: the layout entry and the sidecar's id set are both retained
    val files = org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED
    val before = files.getCount
    live() shouldBe first
    files.getCount - before shouldBe 0
    // a second registration under the retained entries is honoured too
    Ann.tombstoneVecsAll(spark, embs, first.take(1))
    val second = live()
    second should contain noneOf (base(0), base(1), first.head)
    Tombstones.read(spark, i8Dir, "vec_id").get.collect().map(_.getLong(0)).toSet shouldBe
      Set(base(0), base(1), first.head)
  }

  test("tombstone compaction under a retained entry: t8c and a3_delete_ann answer as before") {
    // t8c: the posting layout
    val docs = Files.createTempDirectory("catalog-t8c").toString
    (1L to 9L).map(i => i -> s"table hash doc$i").toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.mode("overwrite").parquet(s"$docs/documents.parquet")
    val t8c = InvertedIndex.t8cQuery(spark, docs).collect().toSeq
    val idxDir = InvertedIndex.ensureIndex(spark, docs)
    val held = Tables.loadLayout(spark, idxDir)
    val gen = LayoutCatalog.generation(idxDir)
    gen shouldBe defined
    InvertedIndex.compactTombstones(spark, idxDir)
    LayoutCatalog.generation(idxDir) shouldBe defined
    LayoutCatalog.generation(idxDir) should not be gen
    InvertedIndex.t8cQuery(spark, docs).collect().toSeq shouldBe t8c
    // the held frame's files are gone with the old generation: it fails
    // rather than answer
    intercept[Exception](held.collect())

    // a3_delete_ann: the float IVF layout
    val embs = Files.createTempDirectory("catalog-a3").toString
    (0 until 400).map { i =>
      val base = VectorSearch.qvec(10 + i % Ann.NumQueries)
      (i.toLong, base.zipWithIndex.map { case (x, j) =>
        (x + (i / Ann.NumQueries) * 0.01 * ((j % 3) - 1)).toFloat })
    }.toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$embs/embeddings.parquet")
    val a3 = Ann.a3DeleteQuery(spark, embs).collect().toSeq
    val ivfDir = Ann.ensureIvfIndex(spark, embs)
    val ivfGen = LayoutCatalog.generation(ivfDir)
    Ann.compactVecTombstones(spark, embs)
    LayoutCatalog.generation(ivfDir) should not be ivfGen
    Ann.a3DeleteQuery(spark, embs).collect().toSeq shouldBe a3
  }
}
