package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.textops

/** Training-data curation operators (SURVEY §2, c1–c8) — the pipeline
  * steps downstream of dedup/quality that a 100 TB corpus build needs:
  * deterministic splits, stratified sampling, canonical selection,
  * PII scrubbing, corpus n-gram statistics, benchmark-contamination
  * screening, and compaction/partitioned-layout maintenance.
  *
  * Everything is content-hash-deterministic (no `rand()`): split and
  * sample membership derive from [[textops.hash60]] of the text, so
  * results are reproducible across runs/engines, stable under corpus
  * re-partitioning, and exactly DuckDB-checkable — which is also how
  * real pipelines pin train/val membership (content-addressed, not
  * row-order-addressed). Every operator is a pure map or a single
  * aggregation: one shuffle at most, map-side combinable.
  */
object Curation {

  // ---------------------------------------------------------------- c1

  /** Split percentages (train/val boundaries in a 0..99 hash space). */
  val TrainPct = 80
  val ValPct = 10

  private def splitCol =
    when(textops.hash60(col("text")) % 100 < TrainPct, "train")
      .when(textops.hash60(col("text")) % 100 < TrainPct + ValPct, "val")
      .otherwise("test")

  /** c1: deterministic train/val/test split by content hash — membership
    * is a property of the DOCUMENT, not of row order or partitioning,
    * so re-runs and re-shards can't leak val docs into train. Output is
    * the per-split profile (count + size), one aggregation. */
  def hashSplit(docs: DataFrame): DataFrame =
    docs
      .withColumn("split", splitCol)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))

  def c1Query(s: SparkSession, d: String): DataFrame =
    hashSplit(Tables.documents(s, d))

  // ---------------------------------------------------------------- c2

  /** Per-mille keep-rate by language: upsample the rarer languages,
    * downsample the dominant one — the usual mixture-rebalancing move. */
  val LangRatePermille: Map[String, Int] = Map("en" -> 300, "zh" -> 250)
  val DefaultRatePermille = 100

  private def rateCol =
    LangRatePermille.foldLeft(lit(DefaultRatePermille)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(acc)
    }

  /** c2: stratified deterministic sampling — keep a doc iff its content
    * hash lands under its stratum's per-mille rate. A pure map over the
    * scan (the filter pushes into it); no shuffle except the
    * presentation sort. Over a [[graft.sources.SampleKeys]] layout the
    * hash is the materialized `smp_text` column (an integer compare in
    * the scan — ClickHouse `SAMPLE BY` physics); raw corpora compute it
    * inline (identical values, identical result). */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val key =
      if (docs.columns.contains("smp_text")) col("smp_text")
      else textops.hash60(col("text"))
    docs
      .filter(key % 1000 < rateCol)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  def c2Query(s: SparkSession, d: String): DataFrame =
    stratifiedSample(graft.sources.SampleKeys.documents(s, d))

  // ---------------------------------------------------------------- c3

  /** c3: canonical selection — one representative per (lang, source)
    * group: the longest doc, ties to the smallest doc_id. `max` over a
    * (n_chars, −doc_id) struct = map-side-combinable argmax, no window,
    * no second pass over the group. */
  def groupCanonical(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang"), col("source"))
      .agg(
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"),
        count(lit(1)).as("n_docs"))
      .select(col("lang"), col("source"),
        (-col("best.neg_id")).as("keeper"),
        col("best.n_chars").as("keeper_chars"),
        col("n_docs"))
      .orderBy(col("lang"), col("source"))

  def c3Query(s: SparkSession, d: String): DataFrame =
    groupCanonical(Tables.documents(s, d))

  // ---------------------------------------------------------------- c4

  /** Conservative cross-engine patterns (identical semantics in Java
    * regex and RE2): emails and long digit runs. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumRe = "[0-9]{6,}"

  /** c4: PII scrubbing — redact emails and long digit runs in one
    * codegen'd map pass; the fingerprint of the scrubbed text makes the
    * result exactly checkable without shipping the text twice. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(col("text"), EmailRe, "<EMAIL>"),
      LongNumRe, "<NUM>")
    docs
      .select(col("doc_id"),
        md5(scrubbed).as("scrubbed_md5"),
        // content compare, not length: a length-preserving redaction
        // (7-char address → 7-char '<EMAIL>') must still flag
        (col("text") =!= scrubbed).as("changed"))
      .orderBy(col("doc_id"))
  }

  def c4Query(s: SparkSession, d: String): DataFrame =
    piiScrub(Tables.documents(s, d))

  // ---------------------------------------------------------------- c5

  val TopNgrams = 20

  /** c5: corpus n-gram statistics — document frequency of distinct
    * 3-word shingles, top [[TopNgrams]]. One explode → one counting
    * aggregation (map-side combinable) → distributed top-k
    * (TakeOrderedAndProject). The same postings that feed d2's
    * candidate join, used as a corpus-profiling operator. */
  def ngramStats(docs: DataFrame): DataFrame = {
    graft.functions.texthash.register(docs.sparkSession)
    graft.Spread.ifNarrow(docs)
      .select(col("doc_id"),
        explode(graft.functions.texthash.wordShingles(
          textops.tokens(col("text")))).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("g"))
      .limit(TopNgrams)
  }

  def c5Query(s: SparkSession, d: String): DataFrame =
    ngramStats(Tables.documents(s, d))

  // ---------------------------------------------------------------- c6

  /** Stand-in eval-set membership: every 20th-ish doc (5%). In a real
    * pipeline the benchmark set is an EXTERNAL table (the evals you
    * must not train on); the stand-in keeps the operator self-contained
    * on the driver's corpus while exercising the identical plan. */
  private def isBench = col("doc_id") % 20 === 7

  /** c6: benchmark-contamination screening — for every candidate
    * training doc, how many of its distinct 3-word shingles also occur
    * in the eval/benchmark set (the decontamination step every serious
    * corpus build runs; n-gram overlap is the standard published
    * method). Distributed shape: the benchmark side collapses to a
    * DISTINCT shingle set — KBs-to-MBs at ANY corpus scale, because
    * benchmarks are small — and is BROADCAST; the corpus side explodes
    * shingles once and equi-joins against it map-side. No shuffle
    * touches corpus×bench pairs; the only exchange is the per-doc
    * count aggregation, map-side combinable. `frac` is a single
    * integer division — bit-identical across engines, no rounding
    * needed. */
  def contamination(docs: DataFrame): DataFrame = {
    graft.functions.texthash.register(docs.sparkSession)
    val np = docs.sparkSession.sparkContext.defaultParallelism
    // materialize the shingle build behind an exchange once (the d2
    // EX1/EX2 rationale: spread a narrow scan; stop CollapseProject
    // from re-inlining the build into every consumer); native
    // single-pass shingles, same set/order as [[textops.shingles]]
    val sh = graft.Spread.ifNarrow(docs)
      .select(col("doc_id"),
        graft.functions.texthash.wordShingles(textops.tokens(col("text"))).as("sh"))
      .repartition(np)
    val bench = sh.filter(isBench)
      .select(explode(col("sh")).as("g")).distinct()
    val candidates = sh.filter(!isBench)
    val hits = candidates
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    candidates
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        when(col("n_shingles") > 0,
          coalesce(col("n_contaminated"), lit(0L)).cast("double") /
            col("n_shingles"))
          .otherwise(lit(0.0)).as("frac"))
      .orderBy(col("doc_id"))
  }

  def c6Query(s: SparkSession, d: String): DataFrame =
    contamination(Tables.documents(s, d))

  // ---------------------------------------------------------------- c7

  /** Rows per written file for [[partitionedLayout]]. */
  val RowsPerBucket = 100L

  /** c7: deterministic partitioned corpus layout — the compaction /
    * small-file maintenance op every long-lived 100 TB corpus needs
    * (streaming ingests and per-shard writes accrete thousands of
    * undersized files; scan cost then goes per-FILE, not per-byte).
    * Each id-bucket of [[RowsPerBucket]] docs lands in exactly one
    * parquet file under its own `bucket=` directory: `repartition` on
    * the bucket key co-locates a bucket in one task, `partitionBy`
    * gives the directory layout downstream readers partition-prune
    * against. The bucket id is exact integer division (`div`) — a
    * double quotient would round near bucket boundaries above 2^53
    * and truncate toward zero for negative ids. The returned
    * single-row contract — total rows, file count, max rows per file,
    * losslessness — is what the DuckDB oracle pins (file count and
    * fill derive exactly from the dense doc_id domain). */
  def partitionedLayout(docs: DataFrame, outDir: String,
      rowsPerBucket: Long = RowsPerBucket): DataFrame = {
    val s = docs.sparkSession
    docs.withColumn("bucket", expr(s"doc_id div $rowsPerBucket"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(outDir)
    layoutStats(docs, s.read.parquet(outDir))
  }

  /** The pinned layout contract, computed from a written layout. */
  def layoutStats(src: DataFrame, layout: DataFrame): DataFrame =
    layout
      .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("rows"))
      .agg(sum(col("rows")).as("n_rows"), count(lit(1)).as("n_files"),
        max(col("rows")).as("max_file_rows"))
      .crossJoin(src.agg(count(lit(1)).as("src_rows")))
      .select(col("n_rows"), col("n_files"), col("max_file_rows"),
        (col("n_rows") === col("src_rows")).as("lossless"))

  /** Gate wrapper: write-once/serve-many like the ANN indexes —
    * [[graft.sources.LocalIndex.ensure]] skips the write when the
    * layout is current for the source corpus, so CONSTRUCTING this
    * query (plan audits, schema tools, repeat bench runs) does not
    * re-run a write job; the returned stats plan reads the published
    * layout. */
  def c7Query(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = graft.sources.LocalIndex.ensure("compact", d, "",
        Seq(s"$d/documents.parquet"), s"b$RowsPerBucket")(
      out => { partitionedLayout(docs, out); () })
    layoutStats(docs, Tables.loadLayout(s, dir))
  }

  // ---------------------------------------------------------------- c8

  /** Quality floor for the pipeline gate (on t2's 0.2–1.0 clipped
    * score; 0.5 keeps docs with some stopword mass or length). */
  val QualityFloor = 0.5

  /** c8: the end-to-end curation gate a training-data build runs per
    * corpus snapshot — the composition that turns raw crawl into a
    * training manifest:
    *
    *  1. language-ID (t1's one-pass stopword vote) → keep English;
    *  2. quality floor (t2's clipped linear score ≥ [[QualityFloor]]);
    *  3. exact dedup among survivors (d1's rule: keep the smallest
    *     doc_id per content hash);
    *  4. deterministic train/val/test assignment (c1's content-hash
    *     split).
    *
    * Scale shape: steps 1, 2, 4 are pure expressions FUSED INTO THE
    * SCAN (one codegen stage, no shuffle); the only exchange in the
    * whole pipeline is step 3's hash partition of the SURVIVORS —
    * strictly less data than the corpus, post-filter. At 100 TB this
    * is one pass over the corpus plus one shuffle of the kept docs;
    * there is nothing to cut without changing semantics. Emits the
    * per-doc manifest (doc_id, quality, split) a trainer consumes. */
  def pipelineGate(docs: DataFrame, qualityFloor: Double = QualityFloor): DataFrame = {
    graft.functions.textstats.register(docs.sparkSession)
    val t = textops.tokens(col("text"))
    val kept = graft.Spread.ifNarrow(docs)
      .select(col("doc_id"), col("text"),
        TextAnalysis.predLangCol(t).as("pred_lang"),
        TextAnalysis.qualityScoreCol(t).as("quality"))
      .filter(col("pred_lang") === lit("en") &&
        col("quality") >= lit(qualityFloor))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    kept
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("split", splitCol)
      .select(col("doc_id"), col("quality"), col("split"))
      .orderBy(col("doc_id"))
  }

  def c8Query(s: SparkSession, d: String): DataFrame =
    pipelineGate(Tables.documents(s, d))

  // ------------------------------------------------------------ oracles

  private val h60text = textops.hash60Sql("text")
  private val toksSql = textops.tokensSql("text")
  private val shSql = textops.shinglesSql("t")

  val oracles: Map[String, String] = Map(
    // c8: the composed gate — t1's vote, t2's score (n_stop IS s_en:
    // both derive from the English stopword list), d1's keep rule,
    // c1's split, all replayed from the same shared SQL fragments
    "c8_pipeline" ->
      s"""WITH counted AS (
         |  SELECT doc_id, text, len(t)::INTEGER AS n_tokens,
         |    ${TextAnalysis.countInSql(TextAnalysis.Stopwords(0)._2)} AS s_en,
         |    ${TextAnalysis.countInSql(TextAnalysis.Stopwords(1)._2)} AS s_de,
         |    ${TextAnalysis.countInSql(TextAnalysis.Stopwords(2)._2)} AS s_fr,
         |    ${TextAnalysis.countInSql(TextAnalysis.Stopwords(3)._2)} AS s_es
         |  FROM (SELECT doc_id, text, $toksSql AS t FROM documents)),
         |scored AS (
         |  SELECT doc_id, text,
         |    CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |         WHEN s_fr >= s_es THEN 'fr'
         |         ELSE 'es' END AS pred_lang,
         |    round(least(1.0,
         |      0.2 + 2.0 * (CASE WHEN n_tokens = 0 THEN 0.0
         |                        ELSE s_en * 1.0 / n_tokens END) +
         |      least(n_tokens * 1.0, 100.0) / 500.0), 4) AS quality
         |  FROM counted),
         |kept AS (
         |  SELECT * FROM scored
         |  WHERE pred_lang = 'en' AND quality >= $QualityFloor),
         |deduped AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text)
         |                               ORDER BY doc_id) AS rn
         |  FROM kept)
         |SELECT doc_id, quality,
         |  CASE WHEN $h60text % 100 < $TrainPct THEN 'train'
         |       WHEN $h60text % 100 < ${TrainPct + ValPct} THEN 'val'
         |       ELSE 'test' END AS split
         |FROM deduped WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // c7: the layout contract derives exactly from the dense doc_id
    // domain: ceil(n/bucket) files, full buckets of RowsPerBucket.
    "c7_partitioned_layout" ->
      s"""SELECT count(*) AS n_rows,
         |  CAST(ceil(count(*)::DOUBLE / $RowsPerBucket) AS BIGINT) AS n_files,
         |  CAST(least(count(*), $RowsPerBucket) AS BIGINT) AS max_file_rows,
         |  TRUE AS lossless
         |FROM documents""".stripMargin,
    "c1_hash_split" ->
      s"""SELECT CASE WHEN $h60text % 100 < $TrainPct THEN 'train'
         |            WHEN $h60text % 100 < ${TrainPct + ValPct} THEN 'val'
         |            ELSE 'test' END AS split,
         |       count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "c2_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE $h60text % 1000 <
         |  (CASE WHEN lang = 'zh' THEN ${LangRatePermille("zh")}
         |        WHEN lang = 'en' THEN ${LangRatePermille("en")}
         |        ELSE $DefaultRatePermille END)
         |ORDER BY doc_id""".stripMargin,
    "c3_group_canonical" ->
      """SELECT lang, source, keeper, keeper_chars, n_docs FROM (
        |  SELECT lang, source, doc_id AS keeper, n_chars AS keeper_chars,
        |         count(*) OVER (PARTITION BY lang, source) AS n_docs,
        |         row_number() OVER (PARTITION BY lang, source
        |                            ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY lang, source""".stripMargin,
    "c4_pii_scrub" ->
      s"""SELECT doc_id,
         |  md5(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '<EMAIL>', 'g'), '$LongNumRe', '<NUM>', 'g')) AS scrubbed_md5,
         |  text <> regexp_replace(regexp_replace(text,
         |    '$EmailRe', '<EMAIL>', 'g'), '$LongNumRe', '<NUM>', 'g') AS changed
         |FROM documents ORDER BY doc_id""".stripMargin,
    "c5_ngram_stats" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, $shSql AS s FROM toks),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE len(s) > 0)
         |SELECT g, count(*) AS df FROM ex GROUP BY g
         |ORDER BY df DESC, g LIMIT $TopNgrams""".stripMargin,
    "c6_contamination" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, $shSql AS s FROM toks),
         |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 7),
         |cand AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 != 7),
         |hits AS (SELECT doc_id, count(*) AS n_contaminated
         |         FROM (SELECT doc_id, unnest(s) AS g FROM cand)
         |         JOIN bench USING (g) GROUP BY 1)
         |SELECT c.doc_id, len(c.s)::BIGINT AS n_shingles,
         |       coalesce(h.n_contaminated, 0) AS n_contaminated,
         |       CASE WHEN len(c.s) > 0
         |            THEN coalesce(h.n_contaminated, 0)::DOUBLE / len(c.s)
         |            ELSE 0.0 END AS frac
         |FROM cand c LEFT JOIN hits h USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin,
  )
}
