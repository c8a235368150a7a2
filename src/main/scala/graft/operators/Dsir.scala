package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.textops

/** c22: data selection via importance resampling — DSIR (Xie et al.,
  * NeurIPS 2023; public method), the model-based selection step of a
  * pretraining-corpus build: score every raw document by how much
  * more likely its hashed n-gram features are under a TARGET
  * distribution (the high-quality reference — Wikipedia in the paper,
  * the `lang = 'en'` slice here) than under the RAW crawl
  * distribution, then keep the importance top-k.
  *
  * Features are the paper's hashed bag of n-grams: every unigram and
  * bigram occurrence hashes into one of [[NumBuckets]] fixed buckets
  * ([[textops.hash60]] mod B — cross-engine exact). Each side fits an
  * add-one-smoothed multinomial over the buckets; a document's
  * importance is Σ over its gram occurrences of
  * log2(p_target(bucket) / p_raw(bucket)).
  *
  * Scale shape: the two bucket models are ONE partial-aggregable
  * groupBy over the exploded gram stream each — output is B-bounded
  * (constant) whatever the corpus, so the log-ratio table BROADCASTS;
  * totals derive from the already-shrunk count tables, never a second
  * corpus pass. Scoring is the exploded stream joined to the
  * broadcast ratio + one groupBy(doc_id); selection is a
  * TakeOrderedAndProject on the rounded score (rank on the ROUNDED
  * value, unique-id tie-break — so cross-engine rank order is exact
  * wherever the 4-dp score is). Nothing corpus-growing is ever
  * broadcast or collected.
  */
object Dsir {

  /** Hashed-feature bucket count (the paper uses 10k at web scale;
    * fixed and SF-independent here — the model stays B-bounded at any
    * corpus size by construction). */
  val NumBuckets = 1024

  /** Selection size: the importance top-k manifest the gate emits. */
  val SelectN = 64

  /** The raw gram-occurrence stream: every unigram and space-joined
    * bigram occurrence with its feature bucket (doc_id, lang, bkt) —
    * the bkt slice of the fused native gram pass
    * ([[graft.functions.GramBuckets]], shared with [[Grams.stream]];
    * bit-equality with the declarative tree is spec-pinned). */
  private def gramBuckets(docs: DataFrame): DataFrame = {
    require(NumBuckets == 1024, // the registered expression's fixed width
      "Dsir.NumBuckets moved off 1024 — re-register gram_buckets first")
    graft.functions.texthash.register(docs.sparkSession)
    graft.Spread.ifNarrow(docs)
      .select(col("doc_id"), col("lang"),
        textops.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.texthash.gramBuckets1024(col("w"))).as("e"))
      .select(col("doc_id"), col("lang"), col("e.bkt").as("bkt"))
  }

  /** The trained model: the B-bounded (bkt, r) log-ratio table.
    * BOTH multinomials come from ONE corpus aggregate (conditional
    * count for the target side) — output is B-bounded whatever the
    * corpus; totals fold from the counts table, never a second corpus
    * pass. localCheckpoint: `counts` feeds BOTH the ratio table and
    * the totals fold — without it each reference re-executes the
    * corpus aggregate (the r14 double-broadcast lesson); checkpointing
    * the ≤B-row result costs one bounded materialization instead. */
  def ratioTable(docs: DataFrame, targetLang: String = "en",
      sharedCounts: Option[DataFrame] = None): DataFrame = {
    // A pipeline that also runs t10 hands in the SHARED substrate
    // ([[Grams.counts]], r20 — built with the SAME targetLang): the
    // per-bucket fold over it equals this gram-stream aggregate
    // integer-for-integer (spec-pinned), and the corpus tokenize+count
    // pass runs once for both models.
    val counts = sharedCounts match {
      // no checkpoint here: the fold reads an already-materialized
      // ≤ 2B²-row table, so re-running it for the totals reference
      // below is microseconds — and model construction stays job-free
      // (the composite's one-corpus-pass contract is spec-pinned on
      // exactly that)
      case Some(sc) => sc.groupBy(col("bkt"))
        .agg(sum(col("c")).as("cr"), sum(col("ct")).as("ct"))
      case None => gramBuckets(docs).groupBy(col("bkt")).agg(
        count(lit(1)).as("cr"),
        count(when(col("lang") === lit(targetLang), lit(1))).as("ct"))
        .transform(Lineage.cut(_))
    }
    // The smoothed multinomials are defined over ALL B buckets (that is
    // what add-one smoothing means), so the model table spans the full
    // constant-size bucket domain — buckets unseen at train time carry
    // the smoothed unseen ratio log2(1/(tt+B)) − log2(1/(tr+B)) instead
    // of being absent. [[scoreAgainst]]'s join is therefore TOTAL: a
    // shard gram hashing to a train-unseen bucket (the s12 frozen-model
    // ingest case) scores the smoothed probability rather than being
    // silently dropped from n_grams and logw.
    val spine = docs.sparkSession.range(NumBuckets).select(col("id").as("bkt"))
    spine.join(counts, Seq("bkt"), "left")
      .na.fill(0L, Seq("cr", "ct"))
      .crossJoin(broadcast(counts.agg(
        coalesce(sum(col("cr")), lit(0L)).as("tr"),
        coalesce(sum(col("ct")), lit(0L)).as("tt"))))
      .select(col("bkt"),
        (log2((col("ct") + lit(1.0)) / (col("tt") + lit(NumBuckets))) -
          log2((col("cr") + lit(1.0)) / (col("tr") + lit(NumBuckets))))
          .as("r"))
  }

  /** Score any docs frame against a (bkt, r) model: the gram stream
    * joined to the BROADCAST model + one groupBy(doc_id) — per-doc
    * cost ∝ the doc's grams, independent of corpus and model history.
    * This is the shape a shard pays at ingest (s12). The join is total
    * because [[ratioTable]] spans the full bucket domain — arbitrary
    * arriving shards score every gram, including train-unseen ones. */
  def scoreAgainst(docs: DataFrame, model: DataFrame): DataFrame =
    gramBuckets(docs)
      .join(broadcast(model), Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        round(sum(col("r")), 4).as("logw"))

  /** The importance top-k: rank on the ROUNDED score, unique-id
    * tie-break (cross-engine-exact order). */
  def selectTop(scored: DataFrame): DataFrame =
    scored
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(SelectN)
      .orderBy(col("logw").desc, col("doc_id"))

  /** Importance scores for every doc, and the top-[[SelectN]]
    * selection. `targetLang` defines the target slice (the reference
    * distribution); `sharedCounts` is the t10+c22 pipeline substrate
    * ([[Grams.counts]]). */
  def importanceSelect(docs: DataFrame, targetLang: String = "en",
      sharedCounts: Option[DataFrame] = None): DataFrame =
    selectTop(scoreAgainst(docs, ratioTable(docs, targetLang, sharedCounts)))

  /** The PERSISTED frozen model — the ingest-scoring lifecycle: train
    * once per corpus state, score every arriving shard against the
    * frozen (bkt, r) table (s12's contract; the paper's own deployment
    * shape — the importance model is fit on reference data, not
    * refit per shard). One B-bounded parquet file; rebuilt when the
    * source data files change, like every persisted layout. */
  def ensureModel(s: SparkSession, d: String, targetLang: String = "en"): String = {
    // v2: the model spans the full bucket domain (train-unseen buckets
    // carry the smoothed ratio) — rebuild models persisted before that.
    graft.sources.LocalIndex.ensure("dsir-model", d, "",
        Seq(s"$d/documents.parquet"), s"b$NumBuckets-$targetLang-v2") { out =>
      ratioTable(Tables.documents(s, d), targetLang)
        .coalesce(1).write.mode("overwrite").parquet(out)
    }
  }

  def c22Query(s: SparkSession, d: String): DataFrame =
    importanceSelect(Tables.documents(s, d))

  private val h60 = textops.hash60Sql("g")

  val oracles: Map[String, String] = Map(
    "c22_dsir" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, ${textops.tokensSql("text")} AS w
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, lang, g FROM toks, unnest(w) AS u(g)
         |  UNION ALL
         |  SELECT doc_id, lang, w[i] || ' ' || w[i + 1] AS g
         |  FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
         |  WHERE len(w) >= 2),
         |b AS (SELECT doc_id, lang, $h60 % ${NumBuckets} AS bkt FROM grams),
         |rc AS (SELECT bkt, count(*) AS cr FROM b GROUP BY 1),
         |tc AS (SELECT bkt, count(*) AS ct FROM b WHERE lang = 'en' GROUP BY 1),
         |tot AS (SELECT
         |  (SELECT CAST(sum(cr) AS BIGINT) FROM rc) AS tr,
         |  (SELECT coalesce(CAST(sum(ct) AS BIGINT), 0) FROM tc) AS tt),
         |ratio AS (
         |  SELECT rc.bkt,
         |    log2((coalesce(ct, 0) + 1.0) / (tt + ${NumBuckets})) -
         |    log2((cr + 1.0) / (tr + ${NumBuckets})) AS r
         |  FROM rc LEFT JOIN tc ON rc.bkt = tc.bkt, tot),
         |score AS (
         |  SELECT doc_id, count(*) AS n_grams, round(sum(r), 4) AS logw
         |  FROM b JOIN ratio USING (bkt) GROUP BY doc_id)
         |SELECT doc_id, n_grams, logw FROM score
         |ORDER BY logw DESC, doc_id LIMIT $SelectN""".stripMargin,
  )
}
