package graft.operators

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Distinctive multi-sentence docs: near-dup pair (0, 1), unrelated 2+.
  private val baseText =
    "the quick brown fox jumps over the lazy dog while the storm gathers " +
      "strength beyond the eastern ridge and rain begins to fall"
  private val docs = Seq(
    (0L, baseText),
    (1L, baseText + " slowly"), // near-dup of 0: shares almost all shingles
    (2L, "completely different content about spark catalyst optimizer " +
      "rules rewriting logical plans into physical execution strategies"),
    (3L, "short text"), // < 3 tokens after shingling guard? 2 tokens → no shingles
  ).toDF("doc_id", "text")

  test("exactDedup collapses the simulated recrawl copies") {
    val out = Dedup.exactDedup(docs).collect()
    // recrawl duplicates every 10th doc (here: doc 0) under id+1e6
    out.length shouldBe 1
    out(0).getAs[Long]("n_copies") shouldBe 2L
    out(0).getAs[Long]("keeper") shouldBe 0L
  }

  test("ngramJaccard finds the near-dup pair and only it") {
    val out = Dedup.ngramJaccard(docs, threshold = 0.5).collect()
    out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))) shouldBe
      Array((0L, 1L))
    out(0).getAs[Double]("jaccard") should be > 0.5
  }

  test("ngramJaccard matches driver-side brute force on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // 6-word vocabulary, 8-token docs: dense shingle collisions, so
    // every structural path of the bucketed pair generation (shared
    // buckets, multi-bucket pairs, singleton buckets) gets exercised
    val docGen = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e", "f"))
      .map(_.mkString(" "))
    val corpusGen = Gen.listOfN(15, docGen)
    val cases = (0 until 8).flatMap(i =>
      corpusGen.apply(Gen.Parameters.default, Seed(1234L + i)))
    cases.foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.ngramJaccard(df, threshold = 0.3).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Long]("common"), r.getAs[Double]("jaccard"))).toSet
      // brute force with the same semantics: distinct 3-word shingles,
      // full-set sizes in the denominator, hot cap never hit at n=15
      val sh = texts.map(_.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet)
      val expected = (for {
        a <- texts.indices; b <- texts.indices if a < b
        common = (sh(a) & sh(b)).size if common > 0
        j = common.toDouble / (sh(a).size + sh(b).size - common) if j >= 0.3
      } yield (a.toLong, b.toLong, common.toLong,
        BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      got shouldBe expected
    }
  }

  test("hot shingles above MaxShingleDf are excluded from pair generation") {
    // 120 identical docs: every shingle's df is 120 > MaxShingleDf =
    // 100, so the cap drops them all and NO pairs emerge — the
    // documented recall trade that keeps a boilerplate shingle from
    // emitting df²/2 candidate pairs at corpus scale
    val many = (0L until 120L).map((_, baseText)).toDF("doc_id", "text")
    Dedup.ngramJaccard(many).collect() shouldBe empty
    // the boundary: df = MaxShingleDf keeps every pair, df = cap + 1
    // (the bounded collect's limit) drops the bucket
    def copies(n: Long) = (0L until n).map((_, baseText)).toDF("doc_id", "text")
    Dedup.MaxShingleDf shouldBe 100
    Dedup.ngramJaccard(copies(100L)).count() shouldBe 100L * 99 / 2
    Dedup.ngramJaccard(copies(101L)).collect() shouldBe empty
  }

  test("minhashLsh: identical docs collide in all bands") {
    val twins = Seq((10L, baseText), (11L, baseText), (12L, "unrelated words entirely about something else with many more tokens"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashLsh(twins).collect()
    val pairs = out.map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
      r.getAs[Long]("n_bands"))).toMap
    pairs((10L, 11L)) shouldBe (Dedup.MinHashFns / Dedup.BandRows).toLong
    pairs.keySet shouldBe Set((10L, 11L))
  }

  test("simhash: identical docs get identical hashes; hamming 0 pair found") {
    val twins = Seq((20L, baseText), (21L, baseText)).toDF("doc_id", "text")
    val hashes = Dedup.simhash(twins).collect()
      .map(r => r.getAs[Long]("simhash")).distinct
    hashes.length shouldBe 1
    val pairs = Dedup.simhashPairs(twins).collect()
    pairs.length shouldBe 1
    pairs(0).getAs[Int]("hamming") shouldBe 0
  }

  test("simhash chunk buckets above MaxChunkBucket are dropped") {
    // 210 identical docs: all four (c, ck) buckets hold 210 docs >
    // MaxChunkBucket = 200, so the occupancy cap drops every bucket
    // and NO pairs emerge — the skew guard that keeps a low-entropy
    // SimHash region from emitting df²/2 candidates at corpus scale
    val many = (0L until 210L).map((_, baseText)).toDF("doc_id", "text")
    Dedup.simhashPairs(many).collect() shouldBe empty
    // just under the cap the pairs DO emerge (cap is a bound, not a
    // recall bug at normal occupancy)
    val some = (0L until 5L).map((_, baseText)).toDF("doc_id", "text")
    Dedup.simhashPairs(some).count() shouldBe 10L // C(5,2), hamming 0
  }

  test("containmentPairs finds the excerpt copy that Jaccard misses") {
    import spark.implicits._
    // doc 0 gets a simulated 40% excerpt (id 2000000); its symmetric
    // Jaccard vs the full doc is ~0.4 (< d2's 0.5 cut) but its
    // containment is 1.0
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, words), (1L, (31 to 60).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("containment")))
    pairs.length shouldBe 1
    pairs.head shouldBe ((0L, 2000000L, 1.0))
    val jac = Dedup.ngramJaccard(
      docs.union(Seq((2000000L, (1 to 12).map(i => s"w$i").mkString(" ")))
        .toDF("doc_id", "text"))).collect()
    jac.length shouldBe 0 // symmetric jaccard at 0.5 misses the excerpt
  }

  // the chain assertions of the deleted simple-propagation dupClusters,
  // run on the star and auto paths that replace it
  test("dupClusters: chains collapse to min-id components") {
    def labels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    val chains = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 9L -> 7L)
    labels(Dedup.dupClustersStar(chains)._1) shouldBe want
    labels(Dedup.dupClustersAuto(chains)) shouldBe want
    // past the driver switch: the distributed path labels the same
    labels(Dedup.dupClustersAuto(chains, switchEdges = 0L)) shouldBe want
  }

  test("dupClustersStar: 100-node path graph converges in O(log n) rounds") {
    // the adversarial shape for min-label propagation (needs ~100
    // rounds); large-star/small-star must do it in ≤ ~log2(100)+1
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.dupClustersStar(pairs)
    rounds should be <= 8
    val out = labels.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    out.keySet shouldBe (0L until 100L).toSet
    all(out.values) shouldBe 0L
  }

  test("dupClustersStar: 1000-node path stays logarithmic (O(log n) evidence)") {
    // 10× the nodes must cost ~log2(10) ≈ 3-4 extra rounds, not 10×:
    // the bound that makes the algorithm safe on 100 TB chain graphs
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.dupClustersStar(pairs)
    rounds should be <= 12
    val out = labels.collect()
    out.length shouldBe 1000
    all(out.map(_.getAs[Long]("cluster"))) shouldBe 0L
  }

  test("dupClustersAuto: driver switch matches the star path, incl. self-pairs") {
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L), (9L, 3L), (12L, 12L))
      .toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 5L -> 1L,
      3L -> 3L, 7L -> 3L, 9L -> 3L, 12L -> 12L)
    val auto = Dedup.dupClustersAuto(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    auto shouldBe want
    // forced past the switch: the distributed star path must agree
    val dist = Dedup.dupClustersAuto(pairs, switchEdges = 0L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    dist shouldBe want
  }

  test("dupClustersAuto: limit-gate boundaries pick the right path, same output") {
    // 4 canonical edges, 2 components
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L), (9L, 3L))
      .toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 5L -> 1L,
      3L -> 3L, 7L -> 3L, 9L -> 3L)
    def run(switch: Long) = Dedup.dupClustersAuto(pairs, switchEdges = switch)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    // exactly at the switch: driver path (the limit fetch returns the
    // full edge set); one below: the k+1st row detects the big graph
    // and the star path runs — identical labels either way
    run(4L) shouldBe want
    run(3L) shouldBe want
    // node-gate flood: few canonical edges but self-pair-only nodes
    // past 2k+2 must force the star path, which labels every node
    val flood = pairs.unionByName(
      (100L to 110L).map(i => (i, i)).toDF("doc_a", "doc_b"))
    val out = Dedup.dupClustersAuto(flood, switchEdges = 4L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    out shouldBe want ++ (100L to 110L).map(i => i -> i).toMap
  }

  test("dupClustersAuto refuses a switch whose fetch bounds overflow an Int limit") {
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L), (9L, 3L))
      .toDF("doc_a", "doc_b")
    // a clamped k+1 / 2k+3 bound would accept a truncated fetch as the
    // whole edge set; an overflowed one fetches nothing at all
    Seq(-1L, Int.MaxValue / 2L, Int.MaxValue.toLong, Long.MaxValue).foreach { k =>
      withClue(s"switchEdges=$k: ") {
        an[IllegalArgumentException] should be thrownBy
          Dedup.dupClustersAuto(pairs, switchEdges = k)
      }
    }
    // the largest accepted switch still labels through the driver path
    Dedup.dupClustersAuto(pairs, switchEdges = Int.MaxValue / 2L - 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 3L -> 3L, 7L -> 3L, 9L -> 3L)
  }

  test("dupClustersAuto output is doc_id-ordered (the d6 contract)") {
    val pairs = Seq((9L, 3L), (1L, 7L), (5L, 5L)).toDF("doc_a", "doc_b")
    val ids = Dedup.dupClustersAuto(pairs).collect()
      .map(_.getAs[Long]("doc_id"))
    ids shouldBe ids.sorted
  }

  test("dupClustersStar matches dupClusters on a multi-component graph") {
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L), (9L, 3L), (12L, 12L))
      .toDF("doc_a", "doc_b")
    val star = Dedup.dupClustersStar(pairs)._1.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    star shouldBe Map(1L -> 1L, 2L -> 1L, 5L -> 1L,
      3L -> 3L, 7L -> 3L, 9L -> 3L, 12L -> 12L)
  }

  test("dupClustersStar uses reliable checkpoints when a checkpoint dir is set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pairs = (0L until 31L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val out = Dedup.dupClustersStar(pairs)._1.collect()
        .map(r => r.getAs[Long]("cluster")).distinct
      out shouldBe Array(0L)
      // the reliable path actually wrote checkpoint files
      val wrote = new java.io.File(dir).listFiles()
      wrote should not be empty
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  private def writeCorpus(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("incrementalDedup: shard near-dup matched against the persisted corpus index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-d8-").toString
    writeCorpus(dir, Seq(
      (0L, baseText),
      (2L, "completely different content about spark catalyst optimizer " +
        "rules rewriting logical plans into physical execution strategies")))
    val shard = Seq(
      (100L, baseText + " again"), // near-dup of corpus doc 0
      (101L, "totally novel words about gardens and rivers flowing north " +
        "past the old mill where nothing resembles the corpus at all"),
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(shard, spark, dir).collect()
    out.map(r => (r.getAs[Long]("shard_doc"), r.getAs[Long]("corpus_doc"))) shouldBe
      Array((100L, 0L))
    out(0).getAs[Double]("jaccard") should be > 0.5
  }

  private def indexFiles(table: String): Map[String, Long] = {
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(loc).filter(_.getName.startsWith("part-"))
      .map(f => f.getAbsolutePath -> f.lastModified).toMap
  }

  test("ensurePostingIndex: unchanged corpus reuses the index; a regenerated corpus rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-d8-").toString
    writeCorpus(dir, Seq((0L, baseText)))
    val t1 = Dedup.ensurePostingIndex(spark, dir)
    val f1 = indexFiles(t1)
    f1 should not be empty
    // unchanged corpus: second ensure is a metadata check, no write job
    Dedup.ensurePostingIndex(spark, dir) shouldBe t1
    indexFiles(t1) shouldBe f1
    // regenerated corpus (new parquet files): fingerprint mismatch → rebuild
    writeCorpus(dir, Seq((0L, baseText), (1L, baseText + " slowly")))
    Dedup.ensurePostingIndex(spark, dir) shouldBe t1
    indexFiles(t1).keySet should not equal f1.keySet
  }

  test("incrementalDedup matches driver-side brute force on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // same dense-collision generator as the d2 property test: 6-word
    // vocabulary, 8-token docs — every structural path (multi-match,
    // no-match, repeated shingles within a doc) gets exercised
    val docGen = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e", "f"))
      .map(_.mkString(" "))
    val caseGen = for {
      corpus <- Gen.listOfN(12, docGen)
      shard <- Gen.listOfN(5, docGen)
    } yield (corpus, shard)
    val cases = (0 until 4).flatMap(i =>
      caseGen.apply(Gen.Parameters.default, Seed(9876L + i)))
    cases.foreach { case (corpusTexts, shardTexts) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-d8prop-").toString
      writeCorpus(dir,
        corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      val shard = shardTexts.zipWithIndex
        .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
      val got = Dedup.incrementalDedup(shard, spark, dir, threshold = 0.3)
        .collect()
        .map(r => (r.getAs[Long]("shard_doc"), r.getAs[Long]("corpus_doc"),
          r.getAs[Long]("common"), r.getAs[Double]("jaccard"))).toSet
      // brute force, same semantics: distinct 3-shingles, symmetric
      // Jaccard, hot cap never hit at n=12
      def sh(t: String) =
        t.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet
      val expected = (for {
        (st, si) <- shardTexts.zipWithIndex
        (ct, ci) <- corpusTexts.zipWithIndex
        common = (sh(st) & sh(ct)).size if common > 0
        j = common.toDouble / (sh(st).size + sh(ct).size - common)
        if j >= 0.3
      } yield (100L + si, ci.toLong, common.toLong,
        BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toSet
      got shouldBe expected
    }
  }

  test("ensurePostingIndex: a grow-only corpus appends only the new shard's postings") {
    val other = "completely different content about spark catalyst optimizer " +
      "rules rewriting logical plans into physical execution strategies"
    val dir = java.nio.file.Files.createTempDirectory("graft-d8-").toString
    writeCorpus(dir, Seq((0L, baseText)))
    val t = Dedup.ensurePostingIndex(spark, dir)
    val f1 = indexFiles(t)
    f1 should not be empty
    // a new crawl shard lands beside the old files (append: old parquet
    // parts byte-identical, new parts added) — the ingest pattern
    Seq((50L, other)).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/documents.parquet")
    Dedup.ensurePostingIndex(spark, dir) shouldBe t
    val f2 = indexFiles(t)
    // every original index file untouched — no corpus-sized rewrite
    f1.foreach { case (p, m) => f2(p) shouldBe m }
    f2.size should be > f1.size
    // the appended doc is live in the index: a near-dup of it matches,
    // WHICH also proves appended files landed in the right buckets (a
    // misbucketed posting would be invisible to the bucketed join)
    val shard = Seq((200L, other + " again")).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(shard, spark, dir).collect()
    out.map(r => (r.getAs[Long]("shard_doc"), r.getAs[Long]("corpus_doc"))) shouldBe
      Array((200L, 50L))
  }

  test("ensurePostingIndex: repeated appends keep the table's file count bounded, verdicts unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-d8-").toString
    writeCorpus(dir, Seq((0L, baseText)))
    // tiny budget so the toy corpus actually crosses the tick — the
    // production default (PostingCompactAt) is the same machinery
    val t = Dedup.ensurePostingIndex(spark, dir, compactAt = 4)
    val floorFiles = indexFiles(t).size
    val texts = Seq(
      "gardens and rivers flowing north past the old mill by the shore",
      "catalyst rules rewriting logical plans into physical strategies",
      "the quick brown fox jumps over the lazy dog near the river bank",
      "partition pruning keeps the scan bytes proportional to the probe",
      "bucketed joins read the corpus side pre partitioned from disk",
      "watermarks bound streaming state on an unbounded event stream")
    var maxFiles = 0
    texts.zipWithIndex.foreach { case (text, i) =>
      Seq((50L + i) -> text).toDF("doc_id", "text")
        .write.mode("append").parquet(s"$dir/documents.parquet")
      Dedup.ensurePostingIndex(spark, dir, compactAt = 4) shouldBe t
      maxFiles = math.max(maxFiles, indexFiles(t).size)
    }
    // every append over budget compacts right back: accretion is
    // bounded per cycle (one compacted layout + one append's files),
    // never per corpus age
    val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
    maxFiles should be <= floorFiles + 2 * buckets
    indexFiles(t).size should be <= floorFiles + buckets
    // the compacted table still answers shard dedup exactly: every
    // appended doc's near-dup matches it (proving postings survived
    // the rewrite IN the right buckets), and the freshness marker
    // survived (no spurious rebuild on the next ensure)
    val shard = texts.zipWithIndex
      .map { case (text, i) => (200L + i) -> (text + " again") }
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(shard, spark, dir).collect()
      .map(r => (r.getAs[Long]("shard_doc"), r.getAs[Long]("corpus_doc")))
    texts.indices.foreach { i => out should contain((200L + i, 50L + i)) }
    val before = indexFiles(t)
    Dedup.ensurePostingIndex(spark, dir, compactAt = 4) shouldBe t
    indexFiles(t) shouldBe before
  }

  test("embeddingNearDup finds identical vectors, skips distant ones") {
    val dim = 64
    val v = (0 until dim).map(i => ((i * 13 % 7) - 3).toFloat)
    val w = (0 until dim).map(i => (((i + 3) * 29 % 11) - 5).toFloat) // unrelated
    val embs = Seq((0L, v), (1L, v), (2L, w)).toDF("vec_id", "embedding")
    graft.functions.vectors.register(spark)
    val out = Dedup.embeddingNearDup(embs).collect()
    out.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))) should
      contain((0L, 1L))
    out.foreach(r => r.getAs[Double]("score") should be <= 0.55)
  }

  test("semK: codebook size tracks n/target, clamped at both ends") {
    Dedup.semK(10) shouldBe Dedup.SemMinK
    Dedup.semK(500) shouldBe Dedup.SemMinK
    Dedup.semK(2000) shouldBe 63 // ceil(2000/32)
    Dedup.semK(20000) shouldBe 625
    Dedup.semK(1000000000L) shouldBe Dedup.SemMaxK
  }

  test("semOccupancyOk: holds at every gate scale AND past the old single-level cliff; flips at the two-level ceiling") {
    Seq(500L, 2000L, 20000L, 200000L).foreach { n =>
      withClue(s"n=$n: ") { Dedup.semOccupancyOk(n) shouldBe true }
    }
    // the r18 SINGLE-LEVEL cliff (SemMaxK × cap) is now INSIDE capacity
    val oldCliff = Dedup.SemMaxK.toLong * Dedup.MaxNearDupBucket
    Dedup.semOccupancyOk(oldCliff + Dedup.SemMaxK) shouldBe true
    Dedup.semIndexOccupancyOk(oldCliff + Dedup.SemMaxK) shouldBe true
    // the new cliff = SemMaxK² × cap (coarse × fine, two-level)
    val cliff = Dedup.SemMaxK.toLong * Dedup.SemMaxK * Dedup.MaxNearDupBucket
    Dedup.semOccupancyOk(cliff) shouldBe true
    Dedup.semOccupancyOk(cliff + Dedup.SemMaxK.toLong * Dedup.SemMaxK) shouldBe false
    Dedup.semIndexOccupancyOk(cliff) shouldBe true
    Dedup.semIndexOccupancyOk(
      cliff + Dedup.SemMaxK.toLong * Dedup.SemMaxK) shouldBe false
    // d5's planes scale with n: the old 2^8 cliff is inside capacity,
    // the new cliff sits at the 2^MaxNearDupPlanes plane ceiling
    val d5old = (1L << Dedup.NearDupPlanes) * Dedup.MaxNearDupBucket
    Dedup.nearDupOccupancyOk(d5old + (1L << Dedup.NearDupPlanes)) shouldBe true
    val d5cliff = (1L << Dedup.MaxNearDupPlanes) * Dedup.MaxNearDupBucket
    Dedup.nearDupOccupancyOk(d5cliff) shouldBe true
    Dedup.nearDupOccupancyOk(d5cliff + (1L << Dedup.MaxNearDupPlanes)) shouldBe false
    // ...sf0.001–0.1 stay at the historical 8-plane floor; sf1 (20k)
    // tables at 12 under the r20 occupancy band (top 8), the stress
    // corpus higher still
    Seq(50L, 500L, 2000L).foreach { n =>
      withClue(s"n=$n: ") {
        Dedup.nearDupPlanesFor(n) shouldBe Dedup.NearDupPlanes }
    }
    Dedup.nearDupPlanesFor(8192L) shouldBe 10
    Dedup.nearDupPlanesFor(20000L) shouldBe 12
    Dedup.nearDupPlanesFor(150000L) shouldBe 15
  }

  test("nearDupProbeSlots: fractional multi-probe rate is smooth in n and pins the design volume") {
    // band top (occupancy exactly NearDupTargetOcc): no probes
    Dedup.nearDupProbeSlots(8192L) shouldBe 0
    // sf0.1 sits a hair under the floor-regime band top: 1 slot of 64
    Dedup.nearDupProbeSlots(2000L) shouldBe 1
    // sf1: 12 planes, occupancy 4.88 → k = √(8/4.88)−1 = 0.28 → 18
    Dedup.nearDupProbeSlots(20000L) shouldBe 18
    // stress corpus: 15 planes, occupancy 4.58 → 21
    Dedup.nearDupProbeSlots(150000L) shouldBe 21
    // deep sub-floor: rate caps at 1 probe per vector (64/64 slots)
    Dedup.nearDupProbeSlots(500L) shouldBe 64
    // past the plane ceiling occupancy outgrows the band: home-only,
    // the documented occupancy cliff takes over
    Dedup.nearDupProbeSlots(2000000000L) shouldBe 0
    // smoothness across a plane step: per-vector PAIR VOLUME
    // occ·(1+slots/64)²/2 stays within a few percent of the design
    // point on both sides of the 16384→16385 boundary (13→14 planes)
    def vol(n: Long): Double = {
      val occ = n.toDouble / (1L << Dedup.nearDupPlanesFor(n))
      val k = Dedup.nearDupProbeSlots(n).toDouble / Dedup.ProbeQuant
      occ * (1 + k) * (1 + k) / 2
    }
    val design = Dedup.NearDupTargetOcc / 2.0
    Seq(65536L, 65537L, 90000L, 131072L, 131073L).foreach { n =>
      withClue(s"n=$n: ") { vol(n) shouldBe design +- 0.35 }
    }
  }

  test("embeddingNearDup: no false positives — every emitted pair is a true brute-force near-dup with the exact CosineDistance score") {
    // LSH candidate generation is allowed to MISS pairs (recall is the
    // planted-corpus floor below); it must never INVENT one, and the
    // fused in-bucket verify must score exactly like the join +
    // cosine_distance plan it replaced.
    graft.functions.vectors.register(spark)
    val rnd = new scala.util.Random(23)
    val base = (0L until 120L).map(i =>
      (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    val dups = base.take(30).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)) }
    val embs = (base ++ dups).toDF("vec_id", "embedding")
    val brute = embs.as("a").crossJoin(embs.as("b"))
      .filter($"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id",
        graft.functions.vectors.cosineDistance(
          $"a.embedding", $"b.embedding").as("score"))
      .filter($"score" <= 0.55)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = Dedup.embeddingNearDup(embs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    got should not be empty
    got.foreach { case (pair, score) =>
      withClue(s"pair $pair: ") {
        brute.get(pair) shouldBe Some(score) // member AND bit-identical
      }
    }
  }

  test("embeddingNearDup: planted near-dup recall floor survives the banded planes + fractional probe") {
    // 6k vectors: 10 planes (above the 8-plane floor), 11/64 probe
    // slots — the mid-band regime. Ground truth: vector i+3000 is a
    // jittered copy of vector i, so recall = found planted pairs /
    // planted pairs. The floor guards the probe scheme's purpose:
    // a finer table must not cost the near-identical pairs d5 exists
    // to find.
    val n = 6000L
    val dir = graft.GenSf.ensureNearDupEmbeddings(spark, n)
    graft.functions.vectors.register(spark)
    val found = Dedup.d5Query(spark, dir)
      .filter($"vec_a" < n / 2 && $"vec_b" === $"vec_a" + n / 2)
      .count()
    found.toDouble / (n / 2) should be >= 0.99
  }

  test("semDedup: near pair in one cell drops the higher id; cross-cell near pair is invisible by design") {
    graft.functions.vectors.register(spark)
    val dim = 8
    def unit(axis: Int) = (0 until dim).map(i => if (i == axis) 1f else 0f)
    def tilt(axis: Int, eps: Float) =
      (0 until dim).map(i => if (i == axis) 1f else if (i == (axis + 1) % dim) eps else 0f)
    // 0,1 near (same cell 10); 2 unrelated (cell 20); 3 near axis-0 but
    // assigned to a third centroid placed on its tilt direction — the
    // cluster-scope blindness case
    val cents = Seq(
      (10L, unit(0).map(_.toDouble)),
      (20L, unit(4).map(_.toDouble)),
      (30L, tilt(0, 0.9f).map(_.toDouble)))
    val embs = Seq(
      (0L, unit(0)), (1L, tilt(0, 0.1f)), (2L, unit(4)), (3L, tilt(0, 0.8f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(embs, cents).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("kept_by"))).toSeq
    out shouldBe Seq((1L, 0L)) // 2 is distant; 3 is near 0 but in cell 30
  }

  test("semDedup matches driver-side brute force on random corpora") {
    graft.functions.vectors.register(spark)
    val rnd = new scala.util.Random(421)
    val dim = 12
    for (trial <- 0 until 3) {
      val n = 60 + trial * 30
      // half the corpus are jittered copies of earlier rows → real drops
      val base = Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
      for (i <- n / 2 until n) {
        val src = rnd.nextInt(n / 2)
        base(i) = base(src).map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      }
      val cents = (0 until 7).map(c =>
        (c.toLong * 3, Seq.fill(dim)(rnd.nextGaussian())))
      val tau = 0.4
      // brute force: argmin(dist², tie min cid) assignment, capped cells,
      // in-cell pairs, min-suppressor drop rule
      def d2(v: Array[Float], c: Seq[Double]) =
        v.zip(c).map { case (a, b) => (a.toDouble - b) * (a.toDouble - b) }.sum
      val cell = base.map { v =>
        cents.map { case (cid, cv) => (d2(v, cv), cid) }.min._2 }
      val occ = cell.groupBy(identity).view.mapValues(_.length).toMap
      def cos(a: Array[Float], b: Array[Float]) = {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
        1.0 - dot / (na * nb)
      }
      val expect = (0 until n).flatMap { b =>
        if (occ(cell(b)) > Dedup.MaxNearDupBucket) None
        else (0 until b)
          .filter(a => cell(a) == cell(b) && cos(base(a), base(b)) <= tau)
          .minOption
          .map(a => (b.toLong, a.toLong))
      }.sorted
      val embs = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toSeq.toDF("vec_id", "embedding")
      val got = Dedup.semDedup(embs, cents, tau).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("kept_by"))).toSeq
      withClue(s"trial $trial: ") { got shouldBe expect }
    }
  }

  private def dataFilesOf(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getAbsolutePath -> (f.length, f.lastModified))
      .toMap
  }

  test("ensureSemIndex: grow-only append keeps old cell files and the codebook; d10 verdicts match brute force") {
    graft.functions.vectors.register(spark)
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(1234)
    val dim = 8
    val n = 200
    val base = Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    for (i <- n / 2 until n) {
      val src = rnd.nextInt(n / 2)
      base(i) = base(src).map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    }
    val full = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-semidx-").toString
    full.filter(col("vec_id") < 150)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val idxPath = Dedup.ensureSemIndex(spark, dir)
    val SemCells.Flat(cb) = Dedup.semIndexAssignerFor(spark, dir)
    val before = dataFilesOf(idxPath)
    full.filter(col("vec_id") >= 150)
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    Dedup.ensureSemIndex(spark, dir)
    val after = dataFilesOf(idxPath)
    // every pre-append index file survives byte-identical; only new
    // cell deltas appear; the codebook stayed FIXED (append contract)
    before.foreach { case (p, meta) => after.get(p) shouldBe Some(meta) }
    after.size should be > before.size
    Dedup.semIndexAssignerFor(spark, dir) shouldBe SemCells.Flat(cb)

    val shard = full.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    val got = Dedup.incrementalSemDedup(shard, spark, dir).collect()
      .map(r => (r.getAs[Long]("shard_vec"), r.getAs[Long]("corpus_vec"),
        r.getAs[Double]("score")))
    def d2v(v: Array[Float], c: Seq[Double]) =
      v.zip(c).map { case (a, b) => (a.toDouble - b) * (a.toDouble - b) }.sum
    def cellOf(v: Array[Float]) =
      cb.map { case (cid, cv) => (d2v(v, cv), cid) }.min._2
    def cos(a: Array[Float], b: Array[Float]) = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      1.0 - dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expect = for {
      si <- 0 until n if si % 5 == 0
      ci <- 0 until n
      if cellOf(base(si)) == cellOf(base(ci))
      d = cos(base(si), base(ci)) if d <= Dedup.SemMaxDistance
    } yield (si + 900000L, ci.toLong, d)
    got.map(g => (g._1, g._2)).toSeq shouldBe expect.map(e => (e._1, e._2))
    got.zip(expect).foreach { case (g, e) =>
      g._3 shouldBe e._3 +- 1e-4 // reported score is round(raw, 4)
    }
  }

  test("semAssignerFor re-derives when embeddings.parquet is regenerated in place") {
    graft.functions.vectors.register(spark)
    import org.apache.spark.sql.functions.{col, lit, transform}
    val rnd = new scala.util.Random(4321)
    val embs = (0 until 200).map(i =>
        (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-semregen-").toString
    embs.write.parquet(s"$dir/embeddings.parquet")
    val first = Dedup.semAssignerFor(spark, dir)
    Dedup.semAssignerFor(spark, dir) should be theSameInstanceAs first
    embs.withColumn("embedding", transform(col("embedding"), x => x * lit(2.0f)))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Dedup.semAssignerFor(spark, dir) should not equal first
  }
}
