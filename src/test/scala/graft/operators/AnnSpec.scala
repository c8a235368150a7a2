package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.vectors

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private val dim = VectorSearch.Dim

  /** Synthetic 64-dim corpus: row i = qvec(10 + i%5) + small id-dependent
    * perturbation, so every query has an obvious nearest neighbor. */
  private def corpus(n: Int) = {
    implicit val s = spark
    (0 until n).map { i =>
      val base = VectorSearch.qvec(10 + i % Ann.NumQueries)
      (i.toLong, base.zipWithIndex.map { case (x, j) =>
        (x + (i / Ann.NumQueries) * 0.01 * ((j % 3) - 1)).toFloat })
    }.toDF("vec_id", "embedding")
  }

  test("bucketOf (driver) matches bucketCol (executor) for the query vectors") {
    vectors.register(spark)
    val vecs = (0 until 8).map(i => (i, VectorSearch.qvec(10 + i).map(_.toFloat)))
    val got = vecs.toDF("i", "v")
      .select(col("i"), Ann.bucketCol(col("v")).as("b"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    vecs.foreach { case (i, v) =>
      got(i) shouldBe Ann.bucketOf(v.map(_.toDouble))
    }
  }

  test("batchKnn: exact corpus copy of each query ranks first with score ~0") {
    vectors.register(spark)
    val embs = corpus(100)
    val out = Ann.batchKnn(embs, Ann.querySet)(spark).collect()
    val byQuery = out.groupBy(_.getAs[Int]("query_id"))
    byQuery should have size Ann.NumQueries.toLong
    byQuery.foreach { case (q, rows) =>
      rows.length shouldBe Ann.K
      // row q IS the query vector (i/5 == 0 → zero perturbation)
      rows.head.getAs[Long]("vec_id") shouldBe q.toLong
      rows.head.getAs[Double]("score") should be < 1e-12
      val scores = rows.map(_.getAs[Double]("score")).toSeq
      scores shouldBe scores.sorted
    }
  }

  test("probeBuckets: exact bucket first, Hamming-1 neighbors, all distinct") {
    val b = 0x2a
    val probes = Ann.probeBuckets(b)
    probes.head shouldBe b
    probes.length shouldBe Ann.NumPlanes + 1
    probes.distinct.length shouldBe probes.length
    probes.tail.foreach { p => Integer.bitCount(p ^ b) shouldBe 1 }
  }

  test("probeBucketsByMargin: home first, same set as probeBuckets, flips in ascending |margin| order") {
    Ann.querySet.foreach { case (_, v) =>
      val ordered = Ann.probeBucketsByMargin(v)
      val b = Ann.bucketOf(v)
      ordered.head shouldBe b
      ordered.toSet shouldBe Ann.probeBuckets(b).toSet // full width = same SET
      // the flip sequence follows the query's plane margins ascending
      val margins = ordered.tail.map { pb =>
        val p = Integer.numberOfTrailingZeros(pb ^ b)
        math.abs(Ann.planes(p).zip(v).map { case (a, x) => a * x }.sum)
      }
      margins shouldBe margins.sorted
    }
  }

  test("twoPhaseCut equals a single global per-query rank under any partitioning, ties included") {
    import org.apache.spark.sql.expressions.Window
    // 3 queries × 40 candidates with scores quantized to 7 levels, so
    // every partitioning splits tied scores across partitions — the
    // case where a non-total ordering would make the cut layout-dependent
    val cand = (for { q <- 0 until 3; v <- 0 until 40 } yield
      (q.toLong, v.toLong, (v % 7).toDouble / 7.0))
      .toDF("query_id", "vec_id", "score")
    val wG = Window.partitionBy(col("query_id"))
      .orderBy(col("score"), col("vec_id"))
    val expect = cand.withColumn("rn", row_number().over(wG))
      .filter(col("rn") <= 5).drop("rn")
      .orderBy("query_id", "score", "vec_id").collect().toSeq
    Seq(1, 3, 32).foreach { p =>
      val got = Ann.twoPhaseCut(cand.repartition(p), "score", 5, 3)
        .orderBy("query_id", "score", "vec_id").collect().toSeq
      withClue(s"partitions=$p: ") { got shouldBe expect }
    }
    // nq = 1 takes the TakeOrderedAndProject cut: one query's tied
    // scores against the same reference rank, and its output is
    // already in the answer's (score, vec_id) order
    val one = cand.filter(col("query_id") === 1L)
    val expectOne = expect.filter(_.getAs[Long]("query_id") == 1L)
    expectOne should have size 5
    Seq(1, 3, 32).foreach { p =>
      val got = Ann.twoPhaseCut(one.repartition(p), "score", 5, 1)
        .collect().toSeq
      withClue(s"nq=1, partitions=$p: ") { got shouldBe expectOne }
    }
  }

  test("lshKnn returns at most k per query, each from the query's bucket") {
    vectors.register(spark)
    val out = Ann.lshKnn(corpus(200))(spark).collect()
    out.groupBy(_.getAs[Int]("query_id")).foreach { case (_, rows) =>
      rows.length should be <= Ann.K
    }
  }

  test("ivfKnn: bounded codebook, k rows per query, self-match first") {
    vectors.register(spark)
    val embs = corpus(400)
    val cents = Ann.trainCodebook(embs, Ann.seedCodebook(embs))
    val out = Ann.ivfKnn(embs, cents, Ann.K)(spark).collect()
    out.groupBy(_.getAs[Int]("query_id")).foreach { case (q, rows) =>
      rows.length should be <= Ann.K
      val scores = rows.map(_.getAs[Double]("score")).toSeq
      scores shouldBe scores.sorted
    }
  }

  test("trainCodebook: k entries survive training, values finite, assignment cost unchanged") {
    vectors.register(spark)
    val embs = corpus(400)
    val seed = Ann.seedCodebook(embs)
    val trained = Ann.trainCodebook(embs, seed)
    trained.map(_._1) shouldBe seed.map(_._1) // same cell ids, same count
    trained.foreach { case (_, cv) =>
      cv.length shouldBe dim
      all(cv.map(_.isFinite)) shouldBe true
    }
    // training moved at least one centroid off its seed value
    trained should not equal seed
  }

  test("indexedLshKnn: matches lshKnn and prunes partitions at planning time") {
    vectors.register(spark)
    implicit val s = spark
    val embs = corpus(200).withColumn("label", (col("vec_id") % 7).cast("int"))
    val dir = java.nio.file.Files.createTempDirectory("graft-annspec-").toString
    embs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val indexed = Ann.indexedLshKnn(spark, dir)
    // the probe-bucket predicate must prune at PLANNING time: the scan
    // over the persisted index carries it as a PartitionFilter, not a
    // row filter after reading everything
    val plan = indexed.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan.split("PartitionFilters").exists(_.contains("bkt")) shouldBe true

    val got = indexed.collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    val want = Ann.lshKnn(embs).collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    got shouldBe want

    // regenerating the corpus must invalidate the persisted index: a
    // shifted-id rewrite changes every vec_id; a stale index would
    // still serve the old ones
    val shifted = embs.withColumn("vec_id", col("vec_id") + lit(100000L))
    shifted.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val after = Ann.indexedLshKnn(spark, dir).collect()
      .map(_.getAs[Long]("vec_id"))
    all(after) should be >= 100000L
  }

  test("indexedIvfKnn: matches ivfKnn and prunes cell partitions at planning time") {
    vectors.register(spark)
    implicit val s = spark
    val embs = corpus(400).withColumn("label", (col("vec_id") % 7).cast("int"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfspec-").toString
    embs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val indexed = Ann.indexedIvfKnn(spark, dir)
    val plan = indexed.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan.split("PartitionFilters").exists(_.contains("cid")) shouldBe true

    val got = indexed.collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    val want = Ann.ivfKnn(graft.Tables.embeddings(spark, dir),
        Ann.codebookFor(spark, dir), Ann.K)(spark).collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    got shouldBe want
  }

  test("quantizedIvfKnn: prunes cells, scans packed bytes only, top-1 matches the float index") {
    vectors.register(spark)
    implicit val s = spark
    val embs = corpus(400)
    val dir = java.nio.file.Files.createTempDirectory("graft-vq3spec-").toString
    embs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val out = Ann.quantizedIvfKnn(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan.split("PartitionFilters").exists(_.contains("cid")) shouldBe true
    // two-stage serving shape: the RANKING scan reads int8 code +
    // scale (never the float corpus); the REFINE scan reads the float
    // vectors of the probed cells only, re-scoring the broadcast
    // candidate cut
    val schemas = plan.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    schemas.exists(l => l.contains("qemb") && !l.contains("embedding")) shouldBe true
    schemas.exists(l => l.contains("embedding") && !l.contains("qemb")) shouldBe true

    val got = out.collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("score")))
    got.groupBy(_._1).values.foreach(_.length shouldBe Ann.K)
    // the refine stage re-scores candidates on the FLOAT vectors, so
    // whenever the true top-k survive the int8 candidate cut (always,
    // at RerankDepth ≫ k on this corpus) the refined answer equals the
    // full-precision index result EXACTLY — ids and scores
    val floatTop = Ann.indexedIvfKnn(spark, dir).collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("score")))
    got.toSeq shouldBe floatTop.toSeq
  }

  test("ivfPqKnn: 8-byte codes, pruned cells, refine matches the float index") {
    vectors.register(spark)
    implicit val s = spark
    val embs = corpus(400)
    val dir = java.nio.file.Files.createTempDirectory("graft-vq4spec-").toString
    embs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val out = Ann.ivfPqKnn(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    plan.split("PartitionFilters").exists(_.contains("cid")) shouldBe true
    // the RANKING scan reads only the code column — never a vector
    val schemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    schemas.exists(l => l.contains("code") && !l.contains("embedding") &&
      !l.contains("qemb")) shouldBe true
    // stored codes are valid LUT positions
    val codes = spark.read.parquet(Ann.ensureIvfPqIndex(spark, dir))
      .select(col("code")).collect().map(_.getSeq[Int](0))
    all(codes.map(_.size)) shouldBe Ann.PqSubspaces
    codes.flatten.foreach { c =>
      c should be >= 0
      c should be < Ann.PqKsub
    }
    // at RerankDepth >> probed rows the refined answer must equal the
    // full-precision index result exactly — ids AND scores
    val got = out.collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("score")))
    got.groupBy(_._1).values.foreach(_.length shouldBe Ann.K)
    val floatTop = Ann.indexedIvfKnn(spark, dir).collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("score")))
    got.toSeq shouldBe floatTop.toSeq
    // rerankDepth below k is a contract violation, loudly
    intercept[IllegalArgumentException] {
      Ann.ivfPqKnn(spark, dir, k = Ann.K, rerankDepth = 2)
    }
  }

  test("a single-query vq3/vq4 request answers exactly its rows of the batched request") {
    // nq = 1 refines over an InSet of collected candidates, nq > 1 over
    // the broadcast join: the two plans must agree row for row
    vectors.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-vq-nq1-").toString
    corpus(400).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("score"))).toSeq
    Seq[(String, Seq[(Int, Seq[Double])] => org.apache.spark.sql.DataFrame)](
      "quantizedIvfKnn" -> (q => Ann.quantizedIvfKnn(spark, dir, queryVecs = q)),
      "ivfPqKnn" -> (q => Ann.ivfPqKnn(spark, dir, queryVecs = q))
    ).foreach { case (surface, request) =>
      val batched = rows(request(Ann.querySet))
      Ann.querySet.foreach { q =>
        withClue(s"$surface query ${q._1}: ") {
          rows(request(Seq(q))) shouldBe batched.filter(_._1 == q._1)
        }
      }
    }
  }

  test("a single-query float IVF, LSH or RP-tree probe answers exactly its rows of the 5-query request") {
    // one query plans the literal probe (pruned scan + literal query_id
    // and vector), five the per-key map literal: same rows either way
    vectors.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-probe-nq1-").toString
    corpus(400).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("score"))).toSeq
    Seq[(String, Seq[(Int, Seq[Double])] => org.apache.spark.sql.DataFrame)](
      "indexedIvfKnn" -> (q => Ann.indexedIvfKnn(spark, dir, queryVecs = q)),
      "indexedLshKnn" -> (q => Ann.indexedLshKnn(spark, dir, queryVecs = q)),
      "RpTree.indexedQuery" -> (q => RpTree.indexedQuery(spark, dir, queryVecs = q))
    ).foreach { case (surface, request) =>
      val batched = rows(request(Ann.querySet))
      batched.map(_._1).distinct.size shouldBe Ann.NumQueries
      Ann.querySet.foreach { q =>
        val one = request(Seq(q))
        withClue(s"$surface query ${q._1}:\n${one.queryExecution.executedPlan}") {
          one.queryExecution.executedPlan.toString should not include "Generate"
          rows(one) shouldBe batched.filter(_._1 == q._1)
        }
      }
    }
  }

  test("IVF layouts hold one data file per cell; an append adds at most one per touched cell") {
    vectors.register(spark)
    implicit val s = spark
    val full = corpus(400)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-cells-").toString
    full.filter(col("vec_id") < 300)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def ensureAll(): Seq[String] = Seq(Ann.ensureIvfIndex(spark, dir),
      Ann.ensureIvfIndexI8(spark, dir), Ann.ensureIvfPqIndex(spark, dir))
    /** cid= dir name → its data file paths. */
    def cellFiles(idx: String): Map[String, Set[String]] =
      new java.io.File(idx).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("cid="))
        .map(c => c.getName -> c.listFiles().toSeq
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
          .map(_.getName).toSet)
        .toMap
    val built = ensureAll().map(cellFiles)
    built.foreach { cells =>
      cells should not be empty
      all(cells.values.map(_.size)) shouldBe 1
    }
    full.filter(col("vec_id") >= 300)
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    ensureAll().map(cellFiles).zip(built).foreach { case (after, before) =>
      after.keySet should contain allElementsOf before.keySet
      after.foreach { case (cell, files) =>
        val old = before.getOrElse(cell, Set.empty[String])
        old.subsetOf(files) shouldBe true
        (files -- old).size should be <= 1
      }
      after.values.map(_.size).sum should be > before.values.map(_.size).sum
    }
  }

  /** Recursive (path → (length, mtime)) snapshot of the DATA files of
    * an index dir (markers/_SUCCESS excluded — they legitimately
    * update on append). */
  private def dataFilesOf(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getAbsolutePath -> (f.length, f.lastModified))
      .toMap
  }

  test("ensureLshIndex appends a new shard without rewriting the old index files") {
    vectors.register(spark)
    implicit val s = spark
    val full = corpus(300).withColumn("label", (col("vec_id") % 7).cast("int"))
    val dir = java.nio.file.Files.createTempDirectory("graft-annappend-").toString
    // shard 1 lands; index built from it
    full.filter(col("vec_id") < 200)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val idxPath = Ann.ensureLshIndex(spark, dir)
    val before = dataFilesOf(idxPath)
    before should not be empty
    // shard 2 lands as NEW files in the corpus dir (append-only growth)
    full.filter(col("vec_id") >= 200)
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    Ann.ensureLshIndex(spark, dir)
    val after = dataFilesOf(idxPath)
    // no full rewrite: every pre-append index file survives untouched
    before.foreach { case (p, meta) => after.get(p) shouldBe Some(meta) }
    after.size should be > before.size
    // and the served result equals the scan-side search over the FULL
    // grown corpus
    val got = Ann.indexedLshKnn(spark, dir).collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    val want = Ann.lshKnn(graft.Tables.embeddings(spark, dir)).collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    got shouldBe want
    // a MUTATED old shard (regenerated corpus) must full-rebuild, not
    // append: the rewritten ids serve correctly afterwards
    full.withColumn("vec_id", col("vec_id") + lit(500000L))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rebuilt = Ann.indexedLshKnn(spark, dir).collect().map(_.getAs[Long]("vec_id"))
    all(rebuilt) should be >= 500000L
  }

  test("ensureIvfIndex appends a shard under the cached codebook; old cells untouched") {
    vectors.register(spark)
    implicit val s = spark
    val full = corpus(400).withColumn("label", (col("vec_id") % 7).cast("int"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfappend-").toString
    full.filter(col("vec_id") < 300)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val idxPath = Ann.ensureIvfIndex(spark, dir) // trains + caches the codebook
    val cb = Ann.codebookFor(spark, dir)
    val before = dataFilesOf(idxPath)
    full.filter(col("vec_id") >= 300)
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    Ann.ensureIvfIndex(spark, dir)
    val after = dataFilesOf(idxPath)
    before.foreach { case (p, meta) => after.get(p) shouldBe Some(meta) }
    after.size should be > before.size
    // served == scan-side IVF over the grown corpus under the SAME
    // codebook (the cached one both paths use)
    val got = Ann.indexedIvfKnn(spark, dir).collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    val want = Ann.ivfKnn(graft.Tables.embeddings(spark, dir), cb, Ann.K)(spark).collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    got shouldBe want
    // growth kept the codebook FIXED (the append contract)...
    Ann.codebookFor(spark, dir) shouldBe cb
    // ...but an in-place MUTATION of old bytes retrains it
    full.withColumn("embedding",
        org.apache.spark.sql.functions.transform(col("embedding"), x => x * lit(3.0f)))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Ann.codebookFor(spark, dir) should not equal cb
  }

  test("vector tombstones: sidecar-only delete, ranks refill, compaction folds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-del-").toString
    corpus(400).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val idxDir = Ann.ensureIvfIndex(spark, dir)
    def cellFiles(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(idxDir))
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getAbsolutePath.contains("_tombstones"))
        .map(f => f.getAbsolutePath -> (f.length, f.lastModified)).toMap
    }
    val base = Ann.indexedIvfKnn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // delete two vectors that HOLD top slots (query 0's best two)
    val del = base.filter(_._1 == 0).sortBy(_._3).take(2).map(_._2).toSeq
    val before = cellFiles()
    Ann.tombstoneVecs(spark, dir, del)
    cellFiles() shouldBe before // sidecar-only: no cell file touched
    val live = Ann.indexedIvfKnnLive(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    live.map(_._2).toSet.intersect(del.toSet) shouldBe empty
    // ranks REFILL: still k rows per query, not k - |deleted|
    live.count(_._1 == 0) shouldBe Ann.K
    live.length shouldBe base.length
    // undeleted ranks are consistent: query 0's live top-1 is base rank 3
    val liveTop = live.filter(_._1 == 0).minBy(_._3)
    val baseSurvivors = base.filter(r => r._1 == 0 && !del.contains(r._2))
    liveTop shouldBe baseSurvivors.minBy(_._3)
    // the plain a3_indexed view is unaffected (tombstones are live-only)
    Ann.indexedIvfKnn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))) shouldBe base
    // compaction drops the rows physically; live serve identical; the
    // lifecycle still reads fresh (no rebuild resurrecting the rows)
    Ann.compactVecTombstones(spark, dir)
    spark.read.parquet(idxDir)
      .filter(col("vec_id").isin(del.map(Long.box): _*)).count() shouldBe 0L
    Ann.indexedIvfKnnLive(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))) shouldBe live
    Ann.ensureIvfIndex(spark, dir) shouldBe idxDir
  }

  test("a3DeleteQuery's pinned forget set is stable across compaction (no oracle drift)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-t8c-").toString
    corpus(400).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val first = Ann.a3DeleteQuery(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val idxDir = Ann.ensureIvfIndex(spark, dir)
    val pinned = graft.sources.Tombstones.read(spark, idxDir, "vec_id").get
      .collect().map(_.getLong(0)).sorted
    pinned.length shouldBe Ann.DeleteN
    // fold the rows physically, rerun the gate: it must reuse the
    // sidecar's pinned set, not derive DeleteN MORE keys from the
    // compacted serve and drift from the oracle's source-replayed set
    Ann.compactVecTombstones(spark, dir)
    val second = Ann.a3DeleteQuery(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    second shouldBe first
    graft.sources.Tombstones.read(spark, idxDir, "vec_id").get
      .collect().map(_.getLong(0)).sorted shouldBe pinned
  }

  test("tombstoneVecsAll propagates the delete to EVERY serving copy (vq3/vq4 live)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-delall-").toString
    corpus(400).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val baseI8 = Ann.quantizedIvfKnn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val basePq = Ann.ivfPqKnn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val del = baseI8.filter(_._1 == 0).take(2).map(_._2).toSeq
    Ann.tombstoneVecsAll(spark, dir, del)
    // both quantized LIVE serves hide the set and refill to k
    Seq(
      Ann.quantizedIvfKnn(spark, dir, live = true),
      Ann.ivfPqKnn(spark, dir, live = true)
    ).foreach { served =>
      val rows = served.collect().map(r => (r.getInt(0), r.getLong(1)))
      rows.map(_._2).toSet.intersect(del.toSet) shouldBe empty
      rows.count(_._1 == 0) shouldBe Ann.K
    }
    // the plain (gate) serves are untouched by the sidecars
    Ann.quantizedIvfKnn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1))) shouldBe baseI8
    Ann.ivfPqKnn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1))) shouldBe basePq
  }

  test("pqCodebookFor keeps its books across a grow-only append") {
    vectors.register(spark)
    val full = corpus(400)
    val dir = java.nio.file.Files.createTempDirectory("graft-pqgrow-").toString
    full.filter(col("vec_id") < 300).write.parquet(s"$dir/embeddings.parquet")
    val books = Ann.pqCodebookFor(spark, dir)
    full.filter(col("vec_id") >= 300)
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    Ann.pqCodebookFor(spark, dir) should be theSameInstanceAs books
  }
}
