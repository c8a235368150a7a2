package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{concepts, vectors}

/** LAION vector-search surface (SURVEY §2, v1–v9 + vq1/vq2).
  *
  * Re-expresses `search.py:20-33` — `SELECT url, caption,
  * L2Distance(column, features) AS score FROM table [WHERE f]
  * ORDER BY score ASC LIMIT k` — as Spark plans. The distance is a
  * native codegen'd Catalyst expression (graft.functions), and the
  * ORDER BY score LIMIT k becomes TakeOrderedAndProject: every
  * partition keeps a k-heap while scanning at codegen speed, the driver
  * merges P×k candidates. That is the correct distributed brute-force
  * knn at 100 TB — no global sort, no shuffle of the corpus.
  *
  * Query vectors are driver-side literals, exactly like the reference
  * (CLIP runs client-side; the engine sees a constant array). Values
  * are n/64 binary fractions so float/double round-trips are exact.
  */
object VectorSearch {
  val Dim = 64

  /** Deterministic unit-free query vector; components are exact binary
    * fractions (k/64, |k| ≤ 50) so SQL-literal round-trips are lossless. */
  def qvec(seed: Int): Seq[Double] =
    (0 until Dim).map(i => (((i + seed * 7) * 37) % 101 - 50) / 64.0)

  /** SQL literal for a query vector (same text for Spark SQL and DuckDB). */
  def sqlArray(v: Seq[Double]): String =
    v.map(_.toString).mkString("[", ", ", "]")

  private def embeddings(s: SparkSession, d: String): DataFrame = {
    vectors.register(s)
    Tables.embeddings(s, d)
  }

  private def qcol(v: Seq[Double]): Column =
    typedlit(v)

  /** The knn surface carries the EMBEDDING itself alongside id/label/
    * score (`search.py:23` selects `column` — callers re-rank and
    * chain concepts on the returned vectors), so v1–v5 return it.
    * Driver-gated twin: the raw array column can't be sorted/hashed by
    * the cross-engine compare, and a STRING serialization is
    * notation-fragile (Java prints |x| < 1e-3 in scientific notation,
    * DuckDB in plain decimal — same shortest-round-trip digits,
    * different text), so the gated entries EXPLODE the vector into
    * (pos, comp) rows instead: k hits × Dim scalar doubles, compared
    * numerically under the driver's relative tolerance. Lossless —
    * the full payload passes through the gate — and notation-proof. */
  def withEmbeddingComponents(df: DataFrame): DataFrame =
    df.select(df.columns.map(col) :+
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "comp")): _*)
      .drop("embedding")

  /** v1: L2 top-k — the reference's flagship query shape. */
  def knnL2(s: SparkSession, d: String, k: Int = 10): DataFrame =
    embeddings(s, d)
      .withColumn("score", vectors.l2Distance(col("embedding"), qcol(qvec(0))))
      .select(col("vec_id"), col("label"), col("embedding"), col("score"))
      .orderBy(col("score"), col("vec_id"))
      .limit(k)

  /** v2: cosine-distance top-k. */
  def knnCosine(s: SparkSession, d: String, k: Int = 10): DataFrame =
    embeddings(s, d)
      .withColumn("score", vectors.cosineDistance(col("embedding"), qcol(qvec(1))))
      .select(col("vec_id"), col("label"), col("embedding"), col("score"))
      .orderBy(col("score"), col("vec_id"))
      .limit(k)

  /** v3: max-inner-product top-k (descending dot). */
  def knnDot(s: SparkSession, d: String, k: Int = 10): DataFrame =
    embeddings(s, d)
      .withColumn("score", vectors.dotProduct(col("embedding"), qcol(qvec(2))))
      .select(col("vec_id"), col("label"), col("embedding"), col("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  /** v4: metadata-filtered knn (`search.py` `--filter`): the predicate
    * pushes to the parquet scan; distance is only computed on survivors. */
  def filteredKnn(s: SparkSession, d: String, k: Int = 10): DataFrame =
    embeddings(s, d)
      .filter(col("label").isin(1, 3, 5))
      .withColumn("score", vectors.l2Distance(col("embedding"), qcol(qvec(3))))
      .select(col("vec_id"), col("label"), col("embedding"), col("score"))
      .orderBy(col("score"), col("vec_id"))
      .limit(k)

  /** v5: concept environment — named "concepts" resolving to vectors.
    * The reference resolves names through its embedding model
    * (`udfs/embed_concept.py`); here they are the deterministic query
    * literals, which keeps the oracle exact. */
  def conceptEnv: Map[String, Seq[Double]] =
    Map("q0" -> qvec(0), "q1" -> qvec(1), "q2" -> qvec(2))

  /** The flagship concept expression, evaluated by the infix grammar
    * ([[graft.functions.concepts.parse]]) exactly as the reference
    * parses `'cat' + 0.5 * 'fluffy' - 'dog'` — precedence, parens,
    * scalars on either side. Driver-side evaluation (like the
    * reference's client-side tree walk) constant-folds the whole
    * algebra into one literal before the search plan exists. */
  val ConceptExpr = "(q0 + 0.5 * q1) - q2"

  def conceptVector: Seq[Double] = concepts.parse(ConceptExpr, conceptEnv)

  def conceptMathKnn(s: SparkSession, d: String, k: Int = 10): DataFrame =
    embeddings(s, d)
      .withColumn("score", vectors.cosineDistance(col("embedding"), qcol(conceptVector)))
      .select(col("vec_id"), col("label"), col("embedding"), col("score"))
      .orderBy(col("score"), col("vec_id"))
      .limit(k)

  /** v6: process.py equivalent — align metadata with embeddings by id,
    * clean text (curly quotes → space, `process.py:78`), parse exif
    * JSON into a `map<string,string>` column (`process.py:76`), and
    * carry typed metadata + the map + BOTH modality vectors into one
    * wide row, like the reference's row schema (`process.py:46-47`
    * writes `text_embedding` AND `image_embedding` side by side):
    *  - `image_embedding` — the corpus vector (the reference's
    *    image-side CLIP embedding);
    *  - `text_embedding` — embedded from the caption text via
    *    [[embedText]] (the reference's text-side model call; stubbed
    *    deterministic, so it stays oracle-exact).
    * The testdata has no raw exif column, so a deterministic exif JSON
    * string is synthesized from the row first; what's exercised — JSON
    * string in, MapType out via `from_json`, map access downstream —
    * is the reference's ingest contract. The id equijoin shuffles both
    * sides on the id; [[ingestWrite]]'s bucketed variant makes repeat
    * ingests against the same corpus co-located. */
  def ingestCombine(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val embs = embeddings(s, d)
    val exifJson = format_string(
      """{"source":"%s","lang":"%s","n_chars":"%s"}""",
      col("source"), col("lang"), col("n_chars"))
    docs.join(embs, col("doc_id") === col("vec_id"))
      .withColumn("exif", from_json(exifJson,
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)))
      .select(
        col("doc_id"),
        regexp_replace(regexp_replace(col("text"), "’", " "), "‘", " ")
          .as("caption"),
        col("lang"), col("source"), col("n_chars"), col("label"),
        col("exif"),
        col("embedding").as("image_embedding"),
        embedText(col("text")).as("text_embedding"),
        vectors.l2Norm(col("embedding")).as("emb_norm"))
  }

  /** process.py's writer re-expressed: zstd parquet (the reference
    * writes `compression='zstd'`). The map/array columns survive the
    * round-trip. */
  def ingestWrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)

  /** Hive-layout variant: one directory per `lang` — the layout a
    * 100 TB corpus ships with, so per-language reads prune whole
    * partitions at planning time instead of filtering rows (tested: a
    * lang predicate lands in the scan's PartitionFilters). */
  def ingestWritePartitioned(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd")
      .partitionBy("lang").parquet(path)

  /** Bucketed variant: the combined table bucketed + sorted on doc_id,
    * so every later id-equijoin against a same-bucketed table (repeat
    * ingests, incremental shards — the reference re-joins its corpus
    * per shard batch, `process.py:95-120`) is CO-LOCATED: both sides
    * already hash-partitioned on the key, no exchange at 100 TB.
    * `bucketBy` requires a catalog table write (tested: the self-join
    * of the result plans with zero shuffles). */
  def ingestWriteBucketed(df: DataFrame, table: String, buckets: Int = 16): Unit =
    df.write.mode("overwrite")
      .format("parquet").option("compression", "zstd")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(table)

  /** Driver-gated v6 projection: scalar columns only (a raw MapType
    * column has no canonical cross-engine hash form), with the map
    * exercised via element_at round-trips the oracle checks against the
    * original fields. */
  def v6Query(s: SparkSession, d: String): DataFrame =
    ingestCombine(s, d)
      .select(col("doc_id"), col("caption"), col("lang"), col("source"),
        col("n_chars"), col("label"),
        element_at(col("exif"), "source").as("exif_source"),
        element_at(col("exif"), "lang").as("exif_lang"),
        col("emb_norm"),
        vectors.l2Norm(col("text_embedding")).as("text_emb_norm"))
      .orderBy(col("doc_id"))

  /** Generic knn over ANY embedding column — the column is a
    * parameter, exactly like the reference passes the target column
    * per search direction (`search.py:43` text query →
    * `image_embedding`; `search.py:54` image query →
    * `text_embedding`). Distributed shape: codegen'd distance in the
    * scan projection + `orderBy.limit(k)` = TakeOrderedAndProject
    * (per-partition k-heaps, driver merges P×k). */
  def knnOver(df: DataFrame, embCol: Column, q: Seq[Double],
              idCol: Column, keep: Seq[Column], k: Int): DataFrame =
    df.withColumn("score", vectors.cosineDistance(embCol, qcol(q)))
      .select(idCol +: keep :+ col("score"): _*)
      .orderBy(col("score"), idCol)
      .limit(k)

  /** The persisted combined table for a corpus dir — process.py's
    * write-once/serve-many split made explicit: [[ingestCombine]] runs
    * ONCE per (documents, embeddings) corpus state and lands as zstd
    * parquet; every cross-modal query then SCANS the wide row instead
    * of re-running the id join and the 64-hash text embed per query.
    * Staleness: rebuilt when either source's data files change
    * ([[graft.sources.LocalIndex.ensure]]). */
  def ensureCombined(s: SparkSession, d: String): String =
    graft.sources.LocalIndex.ensure("combined", d, "",
      Seq(s"$d/documents.parquet", s"$d/embeddings.parquet"), "") { path =>
      ingestWrite(ingestCombine(s, d), path)
    }

  /** v9: CROSS-MODAL search over the dual-embedding wide row: an
    * image-derived query vector (a driver-side literal, standing for a
    * client-side CLIP image encoding) searched against the TEXT side —
    * the `search.py:54` direction. v1–v5 are the opposite direction
    * (text query → image/corpus embedding). Reads the PERSISTED
    * combine ([[ensureCombined]]): the plan is a plain scan +
    * TakeOrderedAndProject — no join, no embed recompute, no shuffle
    * (asserted in VectorSearchSpec). */
  def crossModalKnn(s: SparkSession, d: String, k: Int = 10): DataFrame =
    knnOver(Tables.loadLayout(s, ensureCombined(s, d)), col("text_embedding"),
      qvec(6), col("doc_id"), Seq(col("lang")), k)

  /** The unpersisted v9 shape (combine rebuilt inline) — kept for
    * equivalence testing and for one-shot exploratory use where
    * materializing the combine isn't worth it. */
  def crossModalKnnInline(s: SparkSession, d: String, k: Int = 10): DataFrame =
    knnOver(ingestCombine(s, d), col("text_embedding"), qvec(6),
      col("doc_id"), Seq(col("lang")), k)

  /** The reduced-precision serving copy of the corpus embeddings —
    * the reference's own cost lever (its bfloat16 experiment,
    * `images/results_ridgeback_bfloat16.png`; the full-fat path stores
    * float64 arrays, `process.py:46`). Symmetric per-vector int8
    * ([[graft.functions.Int8Pack]]): one BINARY cell of Dim bytes + a
    * float scale per row — 4× fewer scan bytes than array<float>, 8×
    * fewer than the reference's float64. At 100 TB the embedding
    * column dominates scan cost, so this is the difference between
    * scanning 25 TB and 100 TB per brute-force query. Write-once via
    * the same ensure as the ANN indexes. The scale
    * column is not read by the cosine serve path (cosine is
    * scale-invariant); it is stored so L2/dot serving and exact
    * reconstruction bounds stay possible without re-reading the
    * full-precision corpus. */
  def ensureQuantized(s: SparkSession, d: String): String = {
    vectors.register(s)
    graft.sources.LocalIndex.ensure("vq-int8", d, "",
      Seq(s"$d/embeddings.parquet"), "") { path =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          (array_max(transform(col("embedding"), x => abs(x))).cast("double")
            / lit(127.0)).as("scale"),
          vectors.int8Pack(col("embedding")).as("qemb"))
        .write.mode("overwrite").option("compression", "zstd").parquet(path)
    }
  }

  /** vq1: int8-quantized brute-force cosine knn — v2's query answered
    * from the quantized serving copy. The plan is the same
    * scan-projection + TakeOrderedAndProject as v2 with a quarter of
    * the scan bytes; [[graft.functions.CosineDistanceI8]] reads the
    * packed bytes directly inside whole-stage codegen (no dequantize
    * column, no scale read). Deterministic end to end, so the DuckDB
    * oracle replays the quantization bit-exactly — an EXACT gate, with
    * the recall-vs-v2 contract pinned separately in the spec. */
  def quantizedKnn(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val path = ensureQuantized(s, d)
    Tables.loadLayout(s, path)
      .withColumn("score", vectors.cosineDistanceI8(col("qemb"), qcol(qvec(1))))
      .select(col("vec_id"), col("label"), col("score"))
      .orderBy(col("score"), col("vec_id"))
      .limit(k)
  }

  /** vq2: L2 brute-force knn from the quantized copy — v1's metric
    * served like vq1 serves v2's. L2 does not enjoy cosine's scale
    * invariance, so [[graft.functions.L2DistanceI8]] dequantizes
    * inside the codegen'd loop via the stored per-vector scale (one
    * extra double per row in the scan — still ~4× fewer bytes than
    * the float32 corpus). Deterministic end to end → exact oracle. */
  def quantizedKnnL2(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val path = ensureQuantized(s, d)
    Tables.loadLayout(s, path)
      .withColumn("score",
        vectors.l2DistanceI8(col("qemb"), col("scale"), qcol(qvec(0))))
      .select(col("vec_id"), col("label"), col("score"))
      .orderBy(col("score"), col("vec_id"))
      .limit(k)
  }

  /** v7: vector norms + normalization as first-class expressions
    * (L1/L2/Linf vs zero; `unit0` reads the first component of the
    * L2-normalized vector so the normalize path is oracle-checked
    * without shipping the whole unit vector through the compare). */
  def norms(s: SparkSession, d: String): DataFrame = {
    val zero = qcol(Seq.fill(Dim)(0.0))
    embeddings(s, d)
      .select(
        col("vec_id"),
        vectors.l2Norm(col("embedding")).as("l2"),
        vectors.l1Distance(col("embedding"), zero).as("l1"),
        vectors.linfDistance(col("embedding"), zero).as("linf"),
        element_at(vectors.l2Normalize(col("embedding")), 1).as("unit0"))
      .orderBy(col("vec_id"))
  }

  /** v8: embed-UDF plumbing (`udfs/embed_text.py` + XML): a String
    * column in, Array(Float32)-shaped vector out. The model call is
    * STUBBED with a deterministic hash-derived vector (no ML libs in
    * this environment); the engine-side contract — columnar in/out,
    * codegen-able expression tree, knn over the result — is real.
    * Components derive from [[graft.functions.textops.hash60]] (md5,
    * not xxhash64) so the stub has an exact DuckDB twin and v8 is
    * hash-checked end to end instead of rows-only. */
  def embedText(c: Column): Column = {
    val comps = (0 until Dim).map { i =>
      (graft.functions.textops.hash60(concat(c, lit(":" + i))) % lit(1000L))
        .cast("double") / lit(500.0) - lit(1.0)
    }
    array(comps: _*)
  }

  /** The batched external-model seam — v8's PRODUCTION shape. The
    * reference feeds a String column to an external embedding process
    * (`udfs/embed_text_function.xml`: one server, batched rows in,
    * vectors out); the Spark-native twin is a partition-batched
    * Dataset map: rows grouped into fixed-size batches, ONE
    * `embed(texts)` round trip per batch (amortizing model forward
    * passes / HTTP overhead), order-aligned vectors zipped back onto
    * ids. A real deployment implements [[BatchEmbedder]] against its
    * inference endpoint (e.g. a CLIP server: POST texts, read float32
    * rows); the gate keeps the deterministic stub, equivalence-tested
    * against [[embedText]]'s expression tree. */
  trait BatchEmbedder extends Serializable {
    def dim: Int
    /** One model-server round trip: a batch of texts in, one vector
      * per text out, order-aligned. */
    def embed(texts: Array[String]): Array[Array[Float]]
  }

  /** Deterministic stub — bit-identical to [[embedText]] (same
    * hash60-derived components, cast to float32). */
  final class StubBatchEmbedder(val dim: Int = Dim) extends BatchEmbedder {
    def embed(texts: Array[String]): Array[Array[Float]] =
      texts.map { t =>
        Array.tabulate(dim) { i =>
          ((graft.functions.textops.hash60Local(t + ":" + i) % 1000L)
            / 500.0 - 1.0).toFloat
        }
      }
  }

  /** REAL-endpoint implementation of the seam (the CLIP server call at
    * search.py:40-42 / udfs/embed_text.py:12-15 re-expressed as the
    * [[BatchEmbedder]] contract): POST `{"texts":[...]}` to
    * `endpoint`, read a JSON array of `dim`-long float rows back,
    * order-aligned. JDK HttpClient — no new dependencies; fails
    * loudly on HTTP status, row-count, or row-width mismatch (the
    * embedBatched alignment guard depends on it). The endpoint's
    * vectors must be at the CORPUS dim or knn against the stored
    * embeddings is meaningless — that's the deployment contract, not
    * a client check it could loosen. Selected by SearchCli when
    * GRAFT_EMBED_ENDPOINT is set; plumbing is covered offline by the
    * in-process fake server test, and end-to-end with a real model by
    * RealEmbedderSmokeSpec when an endpoint is provided. */
  final class HttpBatchEmbedder(endpoint: String, val dim: Int = Dim)
      extends BatchEmbedder {
    @transient private lazy val client = java.net.http.HttpClient.newHttpClient()
    def embed(texts: Array[String]): Array[Array[Float]] = {
      val body = texts.map(jsonString).mkString("{\"texts\":[", ",", "]}")
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(endpoint))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          body, java.nio.charset.StandardCharsets.UTF_8))
        .build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode == 200,
        s"embed endpoint $endpoint: HTTP ${resp.statusCode}: " +
          resp.body.take(200))
      val rows = parseFloatRows(resp.body)
      require(rows.length == texts.length,
        s"embed endpoint returned ${rows.length} rows for ${texts.length} texts")
      rows.foreach(r => require(r.length == dim,
        s"embed endpoint returned a ${r.length}-dim row, expected $dim"))
      rows
    }
  }

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  /** Minimal parser for the endpoint's response shape — a JSON array
    * of arrays of numbers (`[[0.1,-2e-3],[...]]`). Anything else
    * fails loudly. No JSON library rides the classpath; the grammar
    * here is three tokens. */
  private[operators] def parseFloatRows(body: String): Array[Array[Float]] = {
    var i = 0
    def skipWs(): Unit = while (i < body.length && body(i).isWhitespace) i += 1
    def expect(c: Char): Unit = {
      skipWs()
      require(i < body.length && body(i) == c,
        s"embed response: expected '$c' at offset $i in: ${body.take(120)}")
      i += 1
    }
    def number(): Float = {
      skipWs()
      val start = i
      while (i < body.length && "+-.eE0123456789".indexOf(body(i)) >= 0) i += 1
      require(i > start, s"embed response: expected number at offset $start")
      body.substring(start, i).toFloat
    }
    def row(): Array[Float] = {
      expect('[')
      val buf = Array.newBuilder[Float]
      skipWs()
      if (i < body.length && body(i) == ']') { i += 1; return buf.result() }
      buf += number()
      skipWs()
      while (i < body.length && body(i) == ',') { i += 1; buf += number(); skipWs() }
      expect(']')
      buf.result()
    }
    expect('[')
    val rows = Array.newBuilder[Array[Float]]
    skipWs()
    if (i < body.length && body(i) == ']') { i += 1; return rows.result() }
    rows += row()
    skipWs()
    while (i < body.length && body(i) == ',') { i += 1; rows += row(); skipWs() }
    expect(']')
    rows.result()
  }

  /** Partition-batched embedding of `textCol`: the mapInArrow shape in
    * Scala (columnar batches in, one external call per batch). Fails
    * loudly on a misbehaving server (row-count mismatch) rather than
    * silently misaligning vectors with ids. */
  def embedBatched(docs: DataFrame, idCol: String, textCol: String,
      embedder: BatchEmbedder, batchSize: Int = 64): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { chunk =>
          val vecs = embedder.embed(chunk.map(_._2).toArray)
          require(vecs.length == chunk.size,
            s"embedder returned ${vecs.length} vectors for ${chunk.size} texts")
          chunk.map(_._1).zip(vecs)
        }
      }
      .toDF(idCol, "embedding")
  }

  def embedUdfKnn(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    // the embed "model call" is the canonical compute-heavy map (64
    // hashes per doc standing in for a forward pass): spread a narrow
    // scan across cores first (no-op on an already-wide 100 TB input)
    val docs = graft.Spread.ifNarrow(Tables.documents(s, d))
      .withColumn("doc_vec", embedText(col("text")))
    vectors.register(s)
    docs
      .withColumn("score", vectors.cosineDistance(col("doc_vec"), qcol(qvec(4))))
      .select(col("doc_id"), col("score"))
      .orderBy(col("score"), col("doc_id"))
      .limit(k)
  }
}
