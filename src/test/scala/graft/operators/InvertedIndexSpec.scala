package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.textops

/** t8 inverted-index search: index↔scan equivalence, planning-time
  * bucket pruning, incremental append on corpus growth, and the
  * minMatch contract. */
class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private val docs = Seq(
    1L -> "the table holds a value and a part",   // table+value+part = 3 terms
    2L -> "hash hash hash of the table",           // hash+table, tf(hash)=3
    3L -> "nothing relevant here at all",          // 0 terms
    4L -> "value",                                 // 1 term — below minMatch
    5L -> "part value part value part",            // 2 terms, tf 3+2
  )

  test("searchIndexed matches searchScan and the driver-side count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-").toString
    writeDocs(dir, docs)
    val got = InvertedIndex.searchIndexed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got shouldBe Array((1L, 3L, 3L), (2L, 2L, 4L), (5L, 2L, 5L))
    val scan = InvertedIndex
      .searchScan(spark.read.parquet(s"$dir/documents.parquet")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    scan shouldBe got
  }

  test("tombstone delete: sidecar-only write, live serve hides docs, compaction folds rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-").toString
    writeDocs(dir, docs)
    val idxDir = InvertedIndex.ensureIndex(spark, dir)
    def postingFiles(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(idxDir))
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getAbsolutePath.contains("_tombstones"))
        .map(f => f.getAbsolutePath -> (f.length, f.lastModified)).toMap
    }
    val before = postingFiles()
    // delete doc 1 (a 3-term hit) and doc 3 (a non-hit — harmless)
    InvertedIndex.tombstoneDocs(spark, idxDir, Seq(1L, 3L))
    // tombstoning is metadata: every posting file byte-identical
    postingFiles() shouldBe before
    val live = InvertedIndex.searchIndexedLive(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    live shouldBe Array((2L, 2L, 4L), (5L, 2L, 5L))
    // the plain t8 view is unaffected (tombstones are the live view's)
    InvertedIndex.searchIndexed(spark, dir).collect().length shouldBe 3
    // re-delete is idempotent (union semantics: same keys, no change)
    InvertedIndex.tombstoneDocs(spark, idxDir, Seq(1L, 3L))
    InvertedIndex.searchIndexedLive(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) shouldBe live
    // compaction drops the rows physically; serve identical; the
    // sidecar (deletion ledger) and lifecycle marker survive the swap
    InvertedIndex.compactTombstones(spark, idxDir)
    spark.read.parquet(idxDir).filter(col("doc_id").isin(1L, 3L))
      .count() shouldBe 0L
    InvertedIndex.searchIndexedLive(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) shouldBe live
    new java.io.File(InvertedIndex.tombstonePath(idxDir), "_SUCCESS")
      .exists() shouldBe true
    // post-compaction the plain view agrees too (rows are gone), and
    // the ensure lifecycle still reads the index as fresh (no rebuild
    // resurrecting the deleted postings)
    InvertedIndex.ensureIndex(spark, dir) shouldBe idxDir
    InvertedIndex.searchIndexed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) shouldBe live
  }

  test("tombstone registrations ACCUMULATE: a later delete never resurrects an earlier one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-acc-").toString
    writeDocs(dir, docs)
    val idxDir = InvertedIndex.ensureIndex(spark, dir)
    InvertedIndex.tombstoneDocs(spark, idxDir, Seq(1L))
    InvertedIndex.tombstoneDocs(spark, idxDir, Seq(2L)) // disjoint keys
    val live = InvertedIndex.searchIndexedLive(spark, dir).collect()
      .map(_.getLong(0))
    // doc 1's delete survived doc 2's registration — the sidecar is a
    // union of every registered set, not the last write
    live shouldBe Array(5L)
    graft.sources.Tombstones.read(spark, idxDir, "doc_id").get
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
  }

  test("t8cQuery's pinned forget set is stable across compaction (no oracle drift)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-t8c-").toString
    // more hits than DeleteN so the pinned set is a strict subset
    writeDocs(dir, (1L to 9L).map(i => i -> s"table hash doc$i"))
    val first = InvertedIndex.t8cQuery(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    first.length shouldBe 9 - InvertedIndex.DeleteN
    val idxDir = InvertedIndex.ensureIndex(spark, dir)
    val pinned = graft.sources.Tombstones.read(spark, idxDir, "doc_id").get
      .collect().map(_.getLong(0)).sorted
    pinned.length shouldBe InvertedIndex.DeleteN
    // physically fold the rows, then rerun the gate: it must reuse the
    // sidecar's pinned set, not pin the next-smallest ids from the
    // already-compacted serve (which would exclude 2×DeleteN docs
    // while the oracle still excludes DeleteN)
    InvertedIndex.compactTombstones(spark, idxDir)
    val second = InvertedIndex.t8cQuery(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    second shouldBe first
    graft.sources.Tombstones.read(spark, idxDir, "doc_id").get
      .collect().map(_.getLong(0)).sorted shouldBe pinned
  }

  test("phraseSearch: adjacency, not bag-of-words; occurrences counted; order matters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-ph-").toString
    writeDocs(dir, Seq(
      1L -> "a stream table hash here",            // 1 occurrence
      2L -> "stream table hash stream table hash", // 2 occurrences
      3L -> "table stream hash",                   // all terms, wrong order
      4L -> "stream table of hash",                // gap breaks the phrase
      5L -> "stream table hash",                   // exact doc
      6L -> "stream table",                        // missing last term
    ))
    val idx = spark.read.parquet(InvertedIndex.ensurePosIndex(spark, dir))
    val got = InvertedIndex.phraseSearch(idx).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(1L -> 1L, 2L -> 2L, 5L -> 1L)
    // the phrase scan stays bucket-pruned like t8 (planning-time
    // PartitionFilters on the phrase tokens' buckets)
    val plan = InvertedIndex.phraseSearch(idx).queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    // a user term carrying a quote (SearchCli --phrase input) follows
    // the documented OOV empty-result path — the adjacency predicate
    // is typed columns, not interpolated SQL, so nothing parses it
    InvertedIndex.phraseSearch(idx, Seq("don't", "stream"))
      .collect() shouldBe empty
  }

  test("needle buckets prune the index partitions at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-").toString
    writeDocs(dir, docs)
    val plan = InvertedIndex.searchIndexed(spark, dir)
      .queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan.split("PartitionFilters").exists(_.contains("tb")) shouldBe true
    // the driver-side bucket hash is the bit-exact twin of the column
    // hash: every needle posting must live in a computed bucket
    val tbs = InvertedIndex.needleBuckets(InvertedIndex.Needle)
    val stored = spark.read.parquet(InvertedIndex.indexPath(dir))
      .filter(col("token").isin(InvertedIndex.Needle: _*))
      .select(col("tb")).distinct().collect().map(_.getInt(0)).toSet
    stored.subsetOf(tbs.toSet) shouldBe true
  }

  test("bm25 matches a driver-side reference on the toy corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-").toString
    writeDocs(dir, docs)
    val got = InvertedIndex.bm25Indexed(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // driver-side reference: same formula from first principles
    val needle = InvertedIndex.Needle.toSet
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq }
    val n = toks.size
    val avgdl = toks.map(_._2.size).sum.toDouble / n
    val dfs = needle.map(t => t -> toks.count(_._2.contains(t))).toMap
    val expected = toks.flatMap { case (id, ts) =>
      val hits = ts.filter(needle).groupBy(identity).view.mapValues(_.size)
      if (hits.isEmpty) None
      else {
        val dl = ts.size.toDouble
        val s = hits.map { case (t, tf) =>
          val idf = math.log(1.0 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
          idf * (tf * (InvertedIndex.K1 + 1.0)) /
            (tf + InvertedIndex.K1 *
              (1.0 - InvertedIndex.B + InvertedIndex.B * dl / avgdl))
        }.sum
        Some(id -> (hits.size.toLong,
          BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }.toMap
    got.keySet shouldBe expected.keySet
    expected.foreach { case (id, (nt, score)) =>
      got(id)._1 shouldBe nt
      got(id)._2 shouldBe score +- 1e-4
    }
    // ranking sanity: doc 2 (hash tf=3 of a rare-ish term) must outscore
    // doc 4 would if present — and every score is positive
    all(got.values.map(_._2)) should be > 0.0
  }

  test("bm25 corpus constants are recomputed when documents are regenerated in place; the t9 oracle replays the plan's") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-").toString
    val needle = Seq("table", "value")
    // driver-side (idf by term, avgdl) of a corpus, the statsFor formula
    def expected(rows: Seq[(Long, String)]): (Map[String, Double], Double) = {
      val toks = rows.map(_._2.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq)
      val n = toks.size
      (needle.map { t =>
        val df = toks.count(_.contains(t))
        t -> math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      }.toMap, toks.map(_.size).sum.toDouble / n)
    }
    def served(): (Map[String, Double], Double) = {
      val plan = InvertedIndex.bm25Indexed(spark, dir, needle)
      plan.collect()
      val (idf, avgdl) = InvertedIndex.statsFor(spark, dir, needle)
      val planLits = plan.queryExecution.analyzed.flatMap(_.expressions
        .flatMap(_.collect {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
        }))
      planLits should contain(avgdl)
      val oracle = InvertedIndex.oracleT9For(dir, needle)
      oracle should include(s"/ $avgdl)")
      idf.values.foreach(v => oracle should include(s"THEN $v "))
      (idf, avgdl)
    }
    writeDocs(dir, docs)
    val before = served()
    before shouldBe expected(docs)
    val grown = docs ++ Seq(
      6L -> "table table value of a much longer document than the others",
      7L -> "short")
    writeDocs(dir, grown) // same dir, new bytes
    val after = served()
    after shouldBe expected(grown)
    after._2 should not be before._2
  }

  /** (idf by term, avgdl) from scratch: a bucket-pruned df aggregate
    * over the posting layout plus a documents aggregate, through the
    * statsFor formula. */
  private def scratchStats(dir: String,
      needle: Seq[String]): (Map[String, Double], Double) = {
    val st = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.size(
        graft.functions.textops.tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)), sum(col("dl"))).head()
    val (n, sumdl) = (st.getLong(0), st.getLong(1))
    val dfs = spark.read.parquet(InvertedIndex.indexPath(dir))
      .filter(col("tb").isin(InvertedIndex.needleBuckets(needle): _*) &&
        col("token").isin(needle: _*))
      .groupBy(col("token")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (needle.map { t =>
      val df = dfs.getOrElse(t, 0L)
      t -> math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }.toMap, sumdl.toDouble / n)
  }

  test("per-corpus term statistics equal a from-scratch df aggregate; a grow-only append refreshes them") {
    val d = SparkSpec.TinySf
    // NeedleB carries an out-of-vocabulary term; the ad-hoc needle is
    // served by no gate
    Seq(InvertedIndex.Needle, InvertedIndex.NeedleB, Seq("stream", "hash", "qzqz"))
      .foreach { needle =>
        InvertedIndex.statsFor(spark, d, needle) shouldBe scratchStats(d, needle)
      }
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-").toString
    writeDocs(dir, docs)
    val needle = Seq("table", "shard")
    InvertedIndex.bm25Indexed(spark, dir, needle).collect()
    val before = InvertedIndex.statsFor(spark, dir, needle)
    before shouldBe scratchStats(dir, needle)
    // a new shard lands beside the old files (grow-only ingest)
    Seq(6L -> "table shard table doc")
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.mode("append").parquet(s"$dir/documents.parquet")
    val next = InvertedIndex.bm25Indexed(spark, dir, needle)
    next.collect().map(_.getLong(0)) should contain(6L)
    // the index took the append path (zone map widened to the shard)
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(InvertedIndex.indexPath(dir) + ".ids")), "UTF-8") shouldBe "1:6"
    val after = InvertedIndex.statsFor(spark, dir, needle)
    after shouldBe scratchStats(dir, needle)
    after._1("shard") should be < before._1("shard") // df 0 -> 1
    after._1("table") should be < before._1("table") // df 2 -> 3 of 6
    // and the request served the new statistics as its plan literals
    val planLits = next.queryExecution.analyzed.flatMap(_.expressions
      .flatMap(_.collect {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
      }))
    planLits should contain(after._2)
    val idfLits = next.queryExecution.analyzed.flatMap(_.expressions
      .flatMap(_.collect {
        case org.apache.spark.sql.catalyst.expressions.Literal(
          m: org.apache.spark.sql.catalyst.util.MapData, _) =>
          m.valueArray().toDoubleArray().toSeq
      })).flatten
    idfLits should contain theSameElementsAs after._1.values
  }

  test("tombstone read under a key column other than the sidecar's fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-").toString
    writeDocs(dir, docs)
    val idxDir = InvertedIndex.ensureIndex(spark, dir)
    InvertedIndex.tombstoneDocs(spark, idxDir, Seq(1L))
    val e = intercept[IllegalArgumentException](
      graft.sources.Tombstones.read(spark, idxDir, "vec_id"))
    e.getMessage should include("doc_id")
    // the live filter must not turn into a silent no-op either
    intercept[IllegalArgumentException](
      graft.sources.Tombstones.filterLive(spark, idxDir, "vec_id")(
        spark.range(3).toDF("vec_id")))
    graft.sources.Tombstones.read(spark, idxDir, "doc_id").get
      .collect().map(_.getLong(0)) shouldBe Array(1L)
  }

  test("grow-only corpus appends just the new shard's postings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-").toString
    writeDocs(dir, docs)
    InvertedIndex.ensureIndex(spark, dir)
    val before = spark.read.parquet(InvertedIndex.indexPath(dir)).count()
    // new shard lands BESIDE the old files (grow-only ingest)
    Seq(6L -> "table value extra shard doc")
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.mode("append").parquet(s"$dir/documents.parquet")
    InvertedIndex.ensureIndex(spark, dir)
    val after = spark.read.parquet(InvertedIndex.indexPath(dir))
    after.count() should be > before
    // the appended doc is searchable and scored like everything else
    val got = InvertedIndex.searchIndexed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got should contain((6L, 2L, 2L))
    // old docs' postings were not recomputed into duplicates
    after.groupBy(col("token"), col("doc_id")).count()
      .filter(col("count") > 1).count() shouldBe 0L
    // the doc_id zone map tracked the append: fresh-id shards with a
    // disjoint range verify the append contract from two driver longs
    // instead of a corpus-sized index column scan
    val ids = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(InvertedIndex.indexPath(dir) + ".ids")), "UTF-8")
    ids shouldBe "1:6"
  }

  test("append shard re-delivering an indexed doc_id forces a clean rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-").toString
    writeDocs(dir, docs)
    InvertedIndex.ensureIndex(spark, dir)
    // the shard RE-CRAWLS doc 2 (same id, same text) — blind append
    // would double its postings (tf/df inflate); the enforced
    // contract detects the overlap and rebuilds instead
    Seq(2L -> "hash hash hash of the table")
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.mode("append").parquet(s"$dir/documents.parquet")
    InvertedIndex.ensureIndex(spark, dir)
    val idx = spark.read.parquet(InvertedIndex.indexPath(dir))
    // a rebuild re-derives postings from the corpus scan, where the
    // re-crawled rows DO aggregate (tf doubles at the source — the
    // honest corpus-level answer); the per-(token, doc) grain stays
    // single-row, which blind posting append would have broken
    idx.groupBy(col("token"), col("doc_id")).count()
      .filter(col("count") > 1).count() shouldBe 0L
    val got = InvertedIndex.searchIndexed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 2: hash tf 3→6, table tf 1→2 (the duplicated crawl rows)
    got should contain((2L, 2L, 8L))
  }

  test("zone-map write-ahead: a sidecar wider than the index stays safe") {
    // Crash-window rehearsal: the append path writes the widened
    // sidecar BEFORE the postings, so the only state a crash can leave
    // is sidecar ⊇ indexed ids. Simulate that state (sidecar already
    // claims doc 6, postings never committed), then deliver the shard:
    // the overlap forces the honest semi-join probe, which finds no
    // indexed copy and appends exactly once — no skipped probe, no
    // double-counted tf/df.
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-").toString
    writeDocs(dir, docs)
    InvertedIndex.ensureIndex(spark, dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(InvertedIndex.indexPath(dir) + ".ids"),
      "1:6".getBytes("UTF-8"))
    Seq(6L -> "table value extra shard doc")
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.mode("append").parquet(s"$dir/documents.parquet")
    InvertedIndex.ensureIndex(spark, dir)
    val idx = spark.read.parquet(InvertedIndex.indexPath(dir))
    idx.groupBy(col("token"), col("doc_id")).count()
      .filter(col("count") > 1).count() shouldBe 0L
    val got = InvertedIndex.searchIndexed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got should contain((6L, 2L, 2L))
  }

  test("repeated appends keep the layout's part-file count bounded, results unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-").toString
    writeDocs(dir, docs)
    // tiny budget so the toy corpus actually crosses the tick; the
    // production default (CompactAt) is the same machinery
    InvertedIndex.ensureIndex(spark, dir, compactAt = 4)
    val floorFiles =
      graft.streaming.Compaction.partFiles(InvertedIndex.indexPath(dir))
    var maxFiles = 0
    (0 until 6).foreach { i =>
      Seq((100L + i) -> s"table value shard$i doc")
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(col("text")))
        .write.mode("append").parquet(s"$dir/documents.parquet")
      InvertedIndex.ensureIndex(spark, dir, compactAt = 4)
      maxFiles = math.max(maxFiles,
        graft.streaming.Compaction.partFiles(InvertedIndex.indexPath(dir)))
    }
    // every append over budget compacts right back: the running count
    // never drifts past one compacted layout plus one append's files —
    // i.e. accretion is bounded per cycle, not per corpus age
    maxFiles should be <= floorFiles + InvertedIndex.Buckets
    // and the post-compaction search equals the scan twin exactly
    val got = InvertedIndex.searchIndexed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val scan = InvertedIndex
      .searchScan(spark.read.parquet(s"$dir/documents.parquet")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got shouldBe scan
    (100L until 106L).foreach { id => got.map(_._1) should contain(id) }
  }

  test("postings equal an explode-then-size reference, edge docs included") {
    val edge = Seq[(Long, String)]((900001L, ""), (900002L, null),
      (900003L, "solo"), (900004L, "echo echo echo"),
      (900005L, "Mixed-CASE, mixed case; MIXED!! 42x 42X"))
    val all = graft.Tables.documents(spark, SparkSpec.TinySf)
      .select(col("doc_id"), col("text"))
      .unionByName(edge.toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("token", "doc_id", "tf", "dl", "tb").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
        .sorted.toSeq
    val t = textops.tokens(col("text"))
    val dl = all.select(col("doc_id"),
      org.apache.spark.sql.functions.size(t).cast("long").as("dl"))
    val ref = all.select(col("doc_id"), explode(t).as("token"))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .withColumn("tb", pmod(textops.hash60(col("token")),
        lit(InvertedIndex.Buckets.toLong)).cast("int"))
    val got = rows(InvertedIndex.postings(all))
    got shouldBe rows(ref)
    got.size should be > 1000
    // the edge docs, by hand: empty and null text post nothing
    got.filter(_._2 > 900000L).map(r => (r._1, r._2, r._3, r._4)) shouldBe Seq(
      ("42x", 900005L, 2L, 7L), ("case", 900005L, 2L, 7L),
      ("echo", 900004L, 3L, 3L), ("mixed", 900005L, 3L, 7L),
      ("solo", 900003L, 1L, 1L))
  }

  test("postings plan: the tokenizer runs once, below the Generate") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, RegExpExtractAll}
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    val plan = InvertedIndex.postings(graft.Tables.documents(spark, SparkSpec.TinySf))
      .queryExecution.optimizedPlan
    def extracts(p: LogicalPlan): Int = p.map(_.expressions
      .map(_.collect { case e: RegExpExtractAll => e }.size).sum).sum
    val gens = plan.collect { case g: Generate => g }
    gens should have size 1
    withClue(plan.treeString) {
      extracts(plan) shouldBe 1
      extracts(gens.head.child) shouldBe 1
      gens.head.generator.children.forall(_.isInstanceOf[Attribute]) shouldBe true
    }
  }
}
